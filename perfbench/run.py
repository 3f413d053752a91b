"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload adhoc_sf0.01 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates the workload's tables
from ``--seed`` under ``.perfbench_work/`` in the checkout, starts one fresh
worker process (``worker.py``) with its temp dirs there, waits for it and
every process it started, measures what the worker left behind, removes the
work dir, and prints the record. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from datagen import write_tables  # noqa: E402
from workloads import ROOT, WORKLOADS, load_manifest, manifest_units  # noqa: E402

PROCESS_LIMIT_S = 170
TERM_GRACE_S = 10


def spin_probe() -> float:
    """Seconds for a fixed pure-Python loop: the host's single-core speed."""
    t0 = time.perf_counter()
    x = 0
    for _ in range(5_000_000):
        x += 1
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (the worker, its JVM, Python workers)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                fields = fh.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != b"Z":
            pids.append(int(entry))
    return pids


def reap_session(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started, and wait until all ended."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGTERM)
    try:
        proc.wait(timeout=TERM_GRACE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    deadline = time.monotonic() + TERM_GRACE_S
    while session_pids(proc.pid):
        if time.monotonic() > deadline:
            for pid in session_pids(proc.pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def run_worker(args, work: str) -> tuple[dict, int]:
    """Generate the tables, run one worker; returns (record, bytes it left)."""
    wl = WORKLOADS[args.workload]
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    write_tables(data, wl.sf, args.seed)
    out = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_CPUS=str(min(wl.slots, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", wl.name, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--out", out,
    ]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "wb") as log:
        spawn_ns = time.time_ns()
        proc = subprocess.Popen(
            cmd + ["--spawn-ns", str(spawn_ns)], cwd=tmp, env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=PROCESS_LIMIT_S - (time.time_ns() - args.start_ns) / 1e9)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            reap_session(proc)
    if rc != 0 or not os.path.exists(out):
        with open(log_path, "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        raise RuntimeError(f"worker exited with {rc}:\n{tail}")
    with open(out) as fh:
        record = json.load(fh)
    return record, dir_bytes(tmp)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-record", help="also write the full record (spans included) here")
    args = ap.parse_args()
    args.start_ns = time.time_ns()

    if not os.path.isdir(os.path.join(ROOT, "job_datapipeline_spark")):
        print("run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    manifest = load_manifest()
    known = {w["name"] for w in manifest["workloads"]} | {"selftest_sf0.001"}
    if args.workload not in known or args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    load_start = os.getloadavg()[0]
    steal0, total0 = cpu_times()
    spin = spin_probe()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    try:
        record, left = run_worker(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    steal1, total1 = cpu_times()
    record.update(
        spin_probe_s=spin,
        load1_start=load_start,
        load1_end=os.getloadavg()[0],
        steal_frac=(steal1 - steal0) / max(total1 - total0, 1),
    )
    record["layers"]["scratch.bytes_left"] = left
    n_set = len(record["set"])
    failed = len(record["failures"])
    record["layers"]["oracle.failed_frac"] = failed / n_set
    if args.keep_record:
        with open(args.keep_record, "w") as fh:
            json.dump(record, fh)

    print(f"# workload {record['workload']} seed {record['seed']} sf {record['sf']} "
          f"slots {record['slots']} nproc {record['nproc']}")
    print(f"# host spin_probe {spin:.3f} s, load1 {load_start:.2f} -> "
          f"{record['load1_end']:.2f}, steal {record['steal_frac']:.4f}; "
          f"spark {record['versions']['spark']} python {record['versions']['python']}")
    for i, order in enumerate(record["issued"]):
        print(f"# pass {i}{' (warm-up)' if i == 0 else ''}: {' '.join(order)}")
    for name, verdict in record["oracle"].items():
        print(f"# oracle {name}: {verdict}")
    for name, why in record["failures"].items():
        print(f"# FAILED {name}: {why}")
    lay = record["layers"]
    print(f"# setup: import {lay['session.import_s']:.2f} s, session {lay['session.start_s']:.2f} s, "
          f"warm-up pass {lay['session.cold_pass_s']:.2f} s; timed {record['timed_s']:.2f} s "
          f"over {len(record['issued']) - 1} passes; checks {record['check_s']:.2f} s")
    print(f"# catalog.table {lay['catalog.table_ms']:.1f} ms, "
          f"{lay['catalog.table_jobs']:g} jobs per call (warm probe)")
    matched = sum(v == "ok" for v in record["oracle"].values())
    print(f"row {record['workload']}: setup_s {record['setup_s']:.3f} s, "
          f"pass_s {record['pass_s']:.3f} s, failed_frac {failed / n_set:.3f} "
          f"({failed}/{n_set}), oracle {matched}/{n_set} match")

    key = "per_layer" if args.trace else "end_to_end"
    units = manifest_units(manifest, key)
    values = record["layers"] if args.trace else record
    if args.trace:
        print(f"# client.query_tail_s is p{record['layers']['client.query_tail_pct']:g} "
              f"of {record['layers']['client.samples']} samples")
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": n_set, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
