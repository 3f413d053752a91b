"""Self-test of the benchmark itself, at sf0.001 with a two-query set.

    python3 perfbench/selftest.py

Runs ``run.py`` once untraced and once traced on ``selftest_sf0.001`` and
checks that every manifest metric prints with its unit, that spans nest
with self time >= 0, that build + write + gap equals each query span, that
the seed fixes the pass order, that ``pass_s`` recomputes exactly from the
raw samples, that every pass issues the whole set, that a run leaves no file
behind (no history between invocations), that the tables carry the
FIXTURES.md section B types, and that the runner refuses a directory
without the package. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402
from datagen import build_tables, write_tables  # noqa: E402
from tracing import self_times  # noqa: E402
from worker import missing_queries, pass_orders, pass_seconds  # noqa: E402
from workloads import PER_LAYER, ROOT, WORKLOADS, load_manifest, manifest_units  # noqa: E402

sys.path.insert(0, ROOT)
SCRATCH = os.path.join(ROOT, ".perfbench_selftest")
WL = "selftest_sf0.001"


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok   {what}")


def tree_files() -> set[str]:
    out = set()
    for root, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in ("__pycache__", ".git", ".perfbench_selftest")]
        out.update(os.path.join(root, f) for f in files)
    return out


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=180)


def check_manifest(manifest: dict) -> None:
    check([(m["name"], m["unit"], m["better"]) for m in manifest["per_layer"]]
          == [row[:3] for row in PER_LAYER], "BENCHMARK.json per_layer matches workloads.PER_LAYER")
    names = [w["name"] for w in manifest["workloads"]]
    check(all(n in WORKLOADS for n in names), "every manifest workload is defined")
    from job_datapipeline_spark.plans.queries import REGISTRY

    check(all(not missing_queries(WORKLOADS[n].queries, REGISTRY) for n in names + [WL]),
          "every set member is in REGISTRY with an oracle")
    check(missing_queries(("no_such_query",), REGISTRY) == ["no_such_query"],
          "a set name missing from REGISTRY is reported")


def check_orders() -> None:
    qs = WORKLOADS["adhoc_sf0.01"].queries
    check(pass_orders(qs, 7, 6) == pass_orders(qs, 7, 6), "same seed gives the same order")
    check(pass_orders(qs, 7, 6) != pass_orders(qs, 8, 6), "another seed gives another order")
    check(all(sorted(o) == sorted(qs) for o in pass_orders(qs, 7, 6)),
          "every pass order is the whole set")


def check_tables() -> None:
    os.makedirs(SCRATCH, exist_ok=True)
    a, b = os.path.join(SCRATCH, "a"), os.path.join(SCRATCH, "b")
    write_tables(a, 0.001, 11)
    write_tables(b, 0.001, 11)
    same = all(open(os.path.join(a, f), "rb").read() == open(os.path.join(b, f), "rb").read()
               for f in os.listdir(a))
    check(same, "the same seed writes byte-identical tables")
    types = {
        ("events", "ts"): "timestamp[ns]",
        ("orders", "o_orderdate"): "timestamp[ms]",
        ("lineitem", "l_shipdate"): "timestamp[ms]",
    }
    got = {k: str(pq.read_schema(os.path.join(a, f"{k[0]}.parquet")).field(k[1]).type)
           for k in types}
    check(got == types, f"stored timestamp types follow FIXTURES.md section B: {got}")
    check(build_tables(0.001, 11)["events"] != build_tables(0.001, 12)["events"],
          "another seed gives other tables")


def check_untraced(manifest: dict, before: set[str]) -> None:
    proc = bench("--workload", WL, "--seed", "5", "--seconds", "2", "--trace", "0",
                 "--keep-record", os.path.join(SCRATCH, "untraced.json"))
    check(proc.returncode == 0, "untraced run exits 0" + (proc.returncode and proc.stderr[-2000:] or ""))
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    units = manifest_units(manifest, "end_to_end")
    check(set(result) == {"correct", "attempted", "failed", "metrics"}, "result keys")
    check({k: v["unit"] for k, v in result["metrics"].items()} == units,
          "every end-to-end metric prints with its unit")
    check(result["correct"] and result["failed"] == 0, "the self-test set matches its oracles")
    row = next(line for line in lines if line.startswith("row "))
    check(all(f in row for f in (" s, pass_s ", "setup_s ", "failed_frac ", "oracle ")),
          f"the row names setup_s, pass_s and failed_frac with units: {row}")
    rec = json.load(open(os.path.join(SCRATCH, "untraced.json")))
    check(pass_seconds(rec["samples_ns"]) == rec["pass_s"] == result["metrics"]["pass_s"]["value"],
          "pass_s recomputes exactly from the raw samples")
    check(rec["issued"] == pass_orders(tuple(rec["set"]), 5, len(rec["issued"])),
          "the issued order is the seed's order")
    check(rec["layers"]["scratch.bytes_left"] >= 0, "scratch.bytes_left is measured")
    check(tree_files() == before, "a run leaves no file in the checkout (no history file)")


def check_traced(manifest: dict) -> None:
    path = os.path.join(SCRATCH, "traced.json")
    proc = bench("--workload", WL, "--seed", "6", "--seconds", "3", "--trace", "1",
                 "--keep-record", path)
    check(proc.returncode == 0, "traced run exits 0" + (proc.returncode and proc.stderr[-2000:] or ""))
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    check({k: v["unit"] for k, v in result["metrics"].items()}
          == manifest_units(manifest, "per_layer"), "every per-layer metric prints with its unit")
    rec = json.load(open(path))
    spans = {s["id"]: s for s in rec["spans"]}
    nested = all(
        s["parent"] is None
        or spans[s["parent"]]["start"] <= s["start"] <= s["end"] <= spans[s["parent"]]["end"]
        for s in spans.values()
    )
    check(nested, "spans nest inside their parents")
    check(all(v >= 0 for v in self_times(rec["spans"]).values()), "self time >= 0 for every span")
    exact = True
    for q in (s for s in spans.values() if s["name"] == "query"):
        kids = {s["name"]: s for s in spans.values() if s["parent"] == q["id"]
                and s["name"] in ("plans.build", "exec.write")}
        b, w = kids["plans.build"], kids["exec.write"]
        gaps = (b["start"] - q["start"], w["start"] - b["end"], q["end"] - w["end"])
        exact &= min(gaps) >= 0 and (
            (b["end"] - b["start"]) + (w["end"] - w["start"]) + sum(gaps) == q["end"] - q["start"])
    check(exact, "build + write + gap = the query span")
    check(any(s["name"] == "spark.job" for s in spans.values()), "Spark jobs import as spans")
    check(pass_seconds(rec["traced_samples_ns"]) - rec["pass_s"]
          == rec["layers"]["trace.overhead_s"], "trace.overhead_s = traced - untraced pass_s")
    issued = rec["issued"][1:]
    check(all(sorted(o) == sorted(rec["set"]) for o in issued),
          "every timed pass issues the whole set (no cost-based packing)")


def check_refuses_bare_dir() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = bench("--workload", "adhoc_sf0.01", "--seed", "1", "--seconds", "8", "--trace", "0",
                 cwd=bare)
    check(proc.returncode != 0 and not proc.stdout.strip(),
          "a directory without the package exits non-zero without a result")


def main() -> int:
    manifest = load_manifest()
    before = tree_files()
    try:
        check_manifest(manifest)
        check_orders()
        check_tables()
        check_untraced(manifest, tree_files())
        check_traced(manifest)
        check_refuses_bare_dir()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    check(tree_files() == before, "the self-test leaves no file behind")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
