"""One measured benchmark process (started fresh by run.py for every run).

Set-up, from process start: interpreter and package import (REGISTRY
build included), ``session.get_spark`` and one untimed warm-up pass over the
workload's own set. Then one closed-loop client times warm passes over the
set, in a seed-fixed order per pass, until ``--seconds`` have gone and at
least the workload's ``min_passes`` passes ran. A sample is ``fn(spark, sf_dir)`` plus the
noop-sink write; ``pass_s`` is the sum over the set of each query's fastest
sample. With ``--trace 1`` untraced and traced passes alternate (half the
passes each), the per-layer numbers come from the traced ones, and ``trace.overhead_s`` is the
traced ``pass_s`` minus the untraced one.

Untimed, after the passes: each query's last result is collected and
compared with its DuckDB oracle, and a warm probe times ``catalog.table``.
The record goes to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import statistics
import sys
import time

PROBE_TABLES = ("orders", "lineitem", "events", "documents")
# The JIT compiles hot methods after a tenth of HotSpot's default invocation
# counts, so a run reaches warm code within its time budget; with default
# thresholds warm passes kept getting faster for about five passes, and the
# fastest sample then depended on how far each run had warmed.
JIT_OPTS = "-XX:CompileThresholdScaling=0.1"


def pass_orders(queries: tuple[str, ...], seed: int, n: int) -> list[list[str]]:
    """The order of ``n`` passes (pass 0 is the warm-up)."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def missing_queries(queries, registry) -> list[str]:
    """Set members the registry lacks or cannot check against an oracle."""
    return [q for q in queries if q not in registry or registry[q].oracle is None]


def pass_seconds(samples: dict[str, list[int]]) -> float:
    """Sum over queries of each query's fastest sample (samples in ns)."""
    return sum(min(v) for v in samples.values() if v) / 1e9


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _client_stats(samples: dict[str, list[int]], pass_ns: list[int]) -> dict:
    flat = sorted(x for v in samples.values() for x in v)
    n = len(flat)
    # Highest percentile with at least 10 samples above it (p0 = fastest
    # when there are 10 samples or fewer).
    k = max(n - 11, 0)
    return {
        "client.pass_p50_s": statistics.median(pass_ns) / 1e9,
        "client.query_p50_s": statistics.median(flat) / 1e9,
        "client.query_tail_s": flat[k] / 1e9,
        "client.query_tail_pct": round(100 * k / max(n - 1, 1), 1),
        "client.samples": n,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawn-ns", type=int, required=True)
    args = ap.parse_args()

    from workloads import WORKLOADS

    from job_datapipeline_spark.catalog import table
    from job_datapipeline_spark.plans.queries import REGISTRY
    from job_datapipeline_spark.session import get_spark
    from job_datapipeline_spark.testing import compare, duck_con

    t_import = time.time_ns()
    wl = WORKLOADS[args.workload]
    slots = int(os.environ["SPARK_GRAFT_CPUS"])
    missing = missing_queries(wl.queries, REGISTRY)
    if missing:
        print(f"set {wl.name} names queries missing from REGISTRY or without an "
              f"oracle: {missing}", file=sys.stderr)
        return 3

    import pyspark

    import tracing as tr

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            + JIT_OPTS,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    t_session = time.time_ns()
    spans = tr.Spans()
    run_id = spans.add("run", None, args.spawn_ns, 0)
    wl_id = spans.add("workload", run_id, args.spawn_ns, 0, workload=wl.name)
    spans.add("session.import", wl_id, args.spawn_ns, t_import)
    spans.add("session.start", wl_id, t_import, t_session)

    sf_dir = args.data
    failures: dict[str, str] = {}

    def sample(name: str):
        df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.time_ns()
        df.write.format("noop").mode("overwrite").save()
        return df, t1

    # Orders: enough passes for any run that fits the process time limit.
    orders = pass_orders(wl.queries, args.seed, 1000)
    with spans.span("session.cold_pass", wl_id):
        for name in orders[0]:
            try:
                sample(name)
            except Exception as e:  # noqa: BLE001 - a failing query stays in the set
                failures.setdefault(name, f"warm-up: {type(e).__name__}: {e}"[:300])
    t_ready = time.time_ns()

    probe = tr.SparkProbe(spark) if args.trace else None
    samples: dict[bool, dict[str, list[int]]] = {False: {q: [] for q in wl.queries},
                                                 True: {q: [] for q in wl.queries}}
    pass_ns: dict[bool, list[int]] = {False: [], True: []}
    pass_span_ids: list[int] = []
    last_df = {}
    issued = [orders[0]]
    kinds = (False, True) if args.trace else (False,)
    deadline = t_ready + int(args.seconds * 1e9)
    # A traced run splits the workload's passes between the two kinds, so it
    # takes about as long as an untraced one.
    min_passes = -(-wl.min_passes // len(kinds))
    p = 0
    while time.time_ns() < deadline or min(len(pass_ns[k]) for k in kinds) < min_passes:
        traced = kinds[p % len(kinds)]
        order = orders[1 + p]
        issued.append(order)
        p_start = time.time_ns()
        pass_id = spans.add("pass", wl_id, p_start, 0, traced=traced, index=p) if traced else None
        with probe.listening() if traced else contextlib.nullcontext():
            for name in order:
                t0 = time.time_ns()
                try:
                    df, t1 = sample(name)
                except Exception as e:  # noqa: BLE001 - a failing query stays in the set
                    failures.setdefault(name, f"pass {p}: {type(e).__name__}: {e}"[:300])
                    continue
                t2 = time.time_ns()
                samples[traced][name].append(t2 - t0)
                last_df[name] = df
                if traced:
                    q_id = spans.add("query", pass_id, t0, t2, query=name)
                    spans.add("plans.build", q_id, t0, t1)
                    spans.add("exec.write", q_id, t1, t2)
        pass_ns[traced].append(time.time_ns() - p_start)
        if traced:
            spans.spans[pass_id]["end"] = time.time_ns()
            pass_span_ids.append(pass_id)
        p += 1
    t_timed = time.time_ns()

    # Correctness, untimed: each query's last result against its oracle.
    con = duck_con(sf_dir)
    oracle: dict[str, str] = {}
    for name in wl.queries:
        if name not in last_df:
            oracle[name] = "no result"
            continue
        try:
            problems = compare(last_df[name].toPandas(), con.execute(REGISTRY[name].oracle).df())
        except Exception as e:  # noqa: BLE001 - recorded as a failure
            problems = [f"{type(e).__name__}: {e}"[:300]]
        oracle[name] = "; ".join(problems)[:300] if problems else "ok"
        if problems:
            failures.setdefault(name, "oracle: " + oracle[name])
    con.close()

    # Warm catalog probe: ms and Spark jobs per catalog.table call.
    tracker = spark.sparkContext.statusTracker()

    def job_count() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    table_ns, table_jobs = [], []
    for name in PROBE_TABLES:
        table(spark, sf_dir, name)
        for _ in range(2):
            j0, t0 = job_count(), time.time_ns()
            table(spark, sf_dir, name)
            table_ns.append(time.time_ns() - t0)
            table_jobs.append(job_count() - j0)

    result = {
        "workload": wl.name,
        "seed": args.seed,
        "sf": wl.sf,
        "slots": slots,
        "nproc": os.cpu_count(),
        "set": list(wl.queries),
        "issued": issued,
        "versions": {"spark": pyspark.__version__, "python": platform.python_version()},
        "setup_s": (t_ready - args.spawn_ns) / 1e9,
        "timed_s": (t_timed - t_ready) / 1e9,
        "check_s": (time.time_ns() - t_timed) / 1e9,
        "pass_s": pass_seconds(samples[False]),
        "samples_ns": samples[False],
        "failures": failures,
        "oracle": oracle,
        "layers": {
            "catalog.table_ms": statistics.median(table_ns) / 1e6,
            "catalog.table_jobs": statistics.median(table_jobs),
            "session.import_s": (t_import - args.spawn_ns) / 1e9,
            "session.start_s": (t_session - t_import) / 1e9,
            "session.cold_pass_s": (t_ready - t_session) / 1e9,
            "session.peak_rss_mb": _vm_hwm_mb(os.getpid())
            + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
            **_client_stats(samples[False], pass_ns[False]),
        },
    }
    if args.trace:
        probe.drain()
        spans.spans[wl_id]["end"] = spans.spans[run_id]["end"] = t_timed
        tr.import_spark(spans, probe, t_ready)
        result["traced_samples_ns"] = samples[True]
        result["traced_pass_s"] = pass_seconds(samples[True])
        result["layers"].update(
            tr.median_layers([tr.pass_layers(spans.spans, i, slots) for i in pass_span_ids])
        )
        result["layers"]["trace.overhead_s"] = result["traced_pass_s"] - result["pass_s"]
        result["spans"] = spans.spans
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
