"""Repeat the benchmark over seeds and summarize, or compare two summaries.

    python3 perfbench/steady.py --seeds 1-10 --out set_a.json [--workloads ...]
    python3 perfbench/steady.py --compare set_a.json set_b.json

The first form runs ``run.py`` once per (workload, seed), untraced, with the
manifest's ``run_seconds``, keeps every run's host record (spin probe, CPU
steal, load1, slots) and prints, per workload and end-to-end metric, the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
quartile spread as a share of the median against the manifest bound. The
second form compares the medians of two such files; sets measured at
different slot counts are refused as a comparison.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import ROOT, load_manifest  # noqa: E402

_HOST = re.compile(r"# host spin_probe ([\d.]+) s, load1 ([\d.]+) -> ([\d.]+), steal ([\d.]+)")
_SLOTS = re.compile(r"# workload \S+ seed \d+ sf \S+ slots (\d+) nproc (\d+)")


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    lines = out.strip().splitlines()
    host = _HOST.search(out)
    slots = _SLOTS.search(out)
    result = json.loads(lines[-1])
    return {
        "seed": seed,
        "slots": int(slots.group(1)),
        "nproc": int(slots.group(2)),
        "spin_probe_s": float(host.group(1)),
        "load1": [float(host.group(2)), float(host.group(3))],
        "steal_frac": float(host.group(4)),
        "correct": result["correct"],
        "failed": result["failed"],
        "attempted": result["attempted"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict[str, dict]:
    out = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {"median": statistics.median(values), "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / statistics.median(values), "bound": bound}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    manifest = load_manifest()
    bounds = {m["name"]: m["bound"] for m in manifest["end_to_end"]}

    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        status = 0
        for wl in sorted(set(a) & set(b)):
            sa, sb = {r["slots"] for r in a[wl]["runs"]}, {r["slots"] for r in b[wl]["runs"]}
            if len(sa | sb) != 1:
                print(f"{wl}: refused, slot counts differ ({sorted(sa)} vs {sorted(sb)})")
                status = 2
                continue
            for name, bound in bounds.items():
                ma, mb = a[wl]["summary"][name]["median"], b[wl]["summary"][name]["median"]
                drift = (mb - ma) / ma
                ok = drift <= bound
                status |= 0 if ok else 1
                print(f"{wl} {name}: median {ma:.4f} -> {mb:.4f} ({drift:+.3f}, bound {bound}) "
                      f"{'ok' if ok else 'WORSE'}")
        return status

    record = {}
    for wl in args.workloads or [w["name"] for w in manifest["workloads"]]:
        runs = []
        for seed in seed_range(args.seeds):
            r = one_run(wl, seed, manifest["run_seconds"])
            runs.append(r)
            vals = " ".join(f"{k} {v:.4f}" for k, v in r["metrics"].items())
            print(f"{wl} seed {seed}: {vals} correct {r['correct']} spin {r['spin_probe_s']:.3f} "
                  f"steal {r['steal_frac']:.4f} load1 {r['load1'][0]:.2f}->{r['load1'][1]:.2f}",
                  flush=True)
        summary = summarize(runs, bounds)
        record[wl] = {"runs": runs, "summary": summary}
        for name, s in summary.items():
            flag = "ok" if s["spread"] <= s["bound"] / 3 else "WIDE"
            print(f"row {wl} {name}: median {s['median']:.4f} q1 {s['q1']:.4f} q3 {s['q3']:.4f} "
                  f"spread {s['spread']:.4f} (bound {s['bound']}, target < {s['bound'] / 3:.4f}) "
                  f"{flag}", flush=True)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
