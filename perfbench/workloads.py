"""Workload sets and the metric table of the benchmark.

Each workload is a fixed set of registry query names at one scale factor and
one task-slot count. The seed only generates the tables and orders the set
within each pass; it never changes which queries run. ``BENCHMARK.json`` is
the manifest the runner reads; ``PER_LAYER`` below additionally records, for
every per-layer metric, which end-to-end metric it should move and on which
workload (the manifest's entries may carry only name, unit and better).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(ROOT, "BENCHMARK.json")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    slots: int
    # Timed passes run until --seconds have gone and at least this many ran.
    min_passes: int
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # An analyst's long-lived session re-running short reads: fixed
        # per-query overhead (catalog schema inference, driver-side plan
        # build, Catalyst) dominates, execution is small.
        Workload(
            "adhoc_sf0.01",
            0.01,
            2,
            6,
            (
                "tpch_order_priority_check",
                "orders_aging_buckets",
                "events_hourly_rollup",
                "join_left_customer_orders",
                "window_running_total",
                "agg_percentiles",
                "scalar_json_props",
                "cleaner_full_stage",
                "populator_top_skills_kv",
                "top_skills_by_lang",
            ),
        ),
        # The daily incremental batch: the two stateful streaming paths, the
        # day's documents checked against dedup history, and the KV populate.
        # Streams, state stores, Python workers and durable writes dominate.
        Workload(
            "ingest_sf0.01",
            0.01,
            4,
            1,
            (
                "streaming_sessionize_stateful",
                "streaming_foreachbatch_upsert",
                "dedup_incremental_batch",
                "sink_roundtrip_kv",
            ),
        ),
        # Used only by selftest.py; not in the manifest.
        Workload(
            "selftest_sf0.001",
            0.001,
            2,
            1,
            ("window_running_total", "cleaner_full_stage"),
        ),
    )
}

# (name, unit, better, moves, on) — ``moves`` is the end-to-end metric the
# layer metric should move and ``on`` the workloads where it should.
_ALL = "adhoc_sf0.01,ingest_sf0.01"
_ADHOC = "adhoc_sf0.01"
_INGEST = "ingest_sf0.01"
PER_LAYER = (
    ("session.import_s", "s", "lower", "setup_s", _ALL),
    ("session.start_s", "s", "lower", "setup_s", _ALL),
    ("session.cold_pass_s", "s", "lower", "setup_s", _ALL),
    ("session.peak_rss_mb", "MB", "lower", "setup_s", _ALL),
    ("catalog.table_ms", "ms", "lower", "pass_s", _ADHOC),
    ("catalog.table_jobs", "count", "lower", "pass_s", _ADHOC),
    ("plans.build_s", "s", "lower", "pass_s", _ALL),
    ("plans.build_jobs", "count", "lower", "pass_s", _ALL),
    ("plans.build_sql_executions", "count", "lower", "pass_s", _ALL),
    ("plans.build_job_s", "s", "lower", "pass_s", _INGEST),
    ("plans.build_job_share", "frac", "lower", "pass_s", _INGEST),
    ("plans.no_job_s", "s", "lower", "pass_s", _ADHOC),
    ("plans.no_job_share", "frac", "lower", "pass_s", _ADHOC),
    ("catalyst.analysis_ms", "ms", "lower", "pass_s", _ADHOC),
    ("catalyst.optimization_ms", "ms", "lower", "pass_s", _ADHOC),
    ("catalyst.planning_ms", "ms", "lower", "pass_s", _ADHOC),
    ("exec.jobs", "count", "lower", "pass_s", _ALL),
    ("exec.stages", "count", "lower", "pass_s", _ALL),
    ("exec.tasks", "count", "lower", "pass_s", _ALL),
    ("exec.executor_run_s", "s", "lower", "pass_s", _INGEST),
    ("exec.executor_cpu_s", "s", "lower", "pass_s", _INGEST),
    ("exec.gc_s", "s", "lower", "pass_s", _INGEST),
    ("exec.slot_busy_frac", "frac", "higher", "pass_s", _INGEST),
    ("exec.shuffle_read_bytes", "bytes", "lower", "pass_s", _INGEST),
    ("exec.shuffle_write_bytes", "bytes", "lower", "pass_s", _INGEST),
    ("exec.spill_bytes", "bytes", "lower", "pass_s", _INGEST),
    ("exec.input_bytes", "bytes", "lower", "pass_s", _ALL),
    ("exec.max_stage_skew", "ratio", "lower", "pass_s", _INGEST),
    ("streaming.batches", "count", "lower", "pass_s", _INGEST),
    ("streaming.input_rows", "count", "lower", "pass_s", _INGEST),
    ("streaming.rows_per_s", "1/s", "higher", "pass_s", _INGEST),
    ("streaming.trigger_ms", "ms", "lower", "pass_s", _INGEST),
    ("streaming.add_batch_ms", "ms", "lower", "pass_s", _INGEST),
    ("streaming.query_planning_ms", "ms", "lower", "pass_s", _INGEST),
    ("streaming.wal_commit_ms", "ms", "lower", "pass_s", _INGEST),
    ("streaming.commit_offsets_ms", "ms", "lower", "pass_s", _INGEST),
    ("streaming.state_rows", "count", "lower", "pass_s", _INGEST),
    ("streaming.state_memory_bytes", "bytes", "lower", "pass_s", _INGEST),
    ("sources.bytes_written", "bytes", "lower", "pass_s", _INGEST),
    ("sources.records_written", "count", "lower", "pass_s", _INGEST),
    ("sources.files_written", "count", "lower", "pass_s", _INGEST),
    ("sources.write_stage_s", "s", "lower", "pass_s", _INGEST),
    ("client.pass_p50_s", "s", "lower", "pass_s", _ALL),
    ("client.query_p50_s", "s", "lower", "pass_s", _ALL),
    ("client.query_tail_s", "s", "lower", "pass_s", _ALL),
    ("client.samples", "count", "higher", "pass_s", _ALL),
    ("oracle.failed_frac", "frac", "lower", "pass_s", _ALL),
    ("scratch.bytes_left", "bytes", "lower", "setup_s", _ALL),
    ("trace.overhead_s", "s", "lower", "pass_s", _ALL),
)


def load_manifest() -> dict:
    with open(MANIFEST) as fh:
        return json.load(fh)


def manifest_units(manifest: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in manifest[key]}
