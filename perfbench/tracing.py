"""Spans and Spark-side accounting for the traced run.

Client spans come only from the benchmark's own loop: run -> workload ->
pass -> query -> {plans.build, exec.write}. Spark jobs, stages, SQL
executions, Catalyst phases and streaming micro-batches are imported as
child spans, attributed by time to the innermost client span that holds
their start. With one closed-loop client, client spans never overlap.

Spark data is read after the traced passes from the status stores (one
Jackson serialization per store, no per-object py4j round trips) and from
two listeners that are registered only while a traced pass runs: a
``QueryExecutionListener`` (Catalyst phase times of the plans actually
executed) and a ``StreamingQueryListener`` (micro-batch progress).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MS = 1_000_000  # ns per ms


class Spans:
    """In-memory span list; written out by the caller when the run ends.
    Times are wall-clock ns, the base Spark's epoch-ms stamps share."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, parent: int | None, start: int, end: int, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent,
             "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None, **attrs):
        idx = self.add(name, parent, time.time_ns(), 0, **attrs)
        try:
            yield idx
        finally:
            self.spans[idx]["end"] = time.time_ns()


def self_times(spans: list[dict]) -> dict[int, int]:
    """Span duration minus the part of it its child spans cover (ns)."""
    children: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def _covered(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _PhaseListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        ev = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                p = opt.get()
                ev[name] = (p.startTimeMs(), p.endTimeMs())
        if ev:
            self.events.append(ev)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        self.events.append(
            {
                "query": str(p.id),
                "start_ms": int(start.timestamp() * 1000),
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class SparkProbe:
    """Reads Spark's status stores and hosts the traced-pass listeners."""

    def __init__(self, spark: SparkSession) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self._jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            self._jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phases = _PhaseListener()
        self.progress = _ProgressListener()

    @contextmanager
    def listening(self):
        manager = self.spark._jsparkSession.listenerManager()
        manager.register(self.phases)
        self.spark.streams.addListener(self.progress)
        try:
            yield
        finally:
            self.drain()
            self.spark.streams.removeListener(self.progress)
            manager.unregister(self.phases)

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _json(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def jobs(self) -> list[dict]:
        return self._json(self._sc.statusStore().jobsList(self._jvm.java.util.ArrayList()))

    def stages(self) -> list[dict]:
        quantiles = self.spark.sparkContext._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        empty = self._jvm.java.util.ArrayList
        return self._json(
            self._sc.statusStore().stageList(empty(), False, True, quantiles, empty())
        )

    def sql_executions(self) -> list[dict]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        return self._json(store.executionsList())


def _owner(client: list[dict], start: int) -> dict | None:
    """Innermost client span whose interval holds ``start`` (1 ms slack at
    the front, since Spark stamps are truncated to whole ms)."""
    best = None
    for s in client:
        if s["start"] - MS <= start <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def import_spark(spans: Spans, probe: SparkProbe, lo: int) -> None:
    """Add the Spark jobs, stages, SQL executions, Catalyst phases and
    streaming batches that started inside a traced query span (after ``lo``)
    as child spans, each clipped to its parent."""
    client = [s for s in spans.spans if s["name"] in ("query", "plans.build", "exec.write")]
    jobs = [j for j in probe.jobs() if j.get("submissionTime") and j["submissionTime"] * MS >= lo - MS]
    stages = {s["stageId"]: s for s in probe.stages() if s["status"] == "COMPLETE"}

    def child(name: str, start: int, end: int, **attrs) -> int | None:
        owner = _owner(client, start)
        if owner is None:
            return None
        start = max(start, owner["start"])
        return spans.add(name, owner["id"], start, max(start, min(end, owner["end"])), **attrs)

    for j in sorted(jobs, key=lambda j: j["jobId"]):
        end = (j.get("completionTime") or j["submissionTime"]) * MS
        jid = child("spark.job", j["submissionTime"] * MS, end, job_id=j["jobId"])
        if jid is None:
            continue
        parent = spans.spans[jid]
        for sid in j["stageIds"]:
            st = stages.get(sid)
            if st is None or not st.get("submissionTime"):
                continue
            s0 = max(st["submissionTime"] * MS, parent["start"])
            s1 = min((st.get("completionTime") or st["submissionTime"]) * MS, parent["end"])
            dist = st.get("taskMetricsDistributions") or {}
            run_q = dist.get("executorRunTime") or [0.0, 0.0]
            spans.add(
                "spark.stage", jid, s0, max(s0, s1),
                stage_id=sid,
                tasks=st["numCompleteTasks"],
                run_ms=st["executorRunTime"],
                cpu_ns=st["executorCpuTime"],
                gc_ms=st["jvmGcTime"],
                shuffle_read=st["shuffleReadBytes"],
                shuffle_write=st["shuffleWriteBytes"],
                spill=st["memoryBytesSpilled"] + st["diskBytesSpilled"],
                input_bytes=st["inputBytes"],
                output_bytes=st["outputBytes"],
                output_records=st["outputRecords"],
                wall_ms=(st.get("completionTime") or st["submissionTime"]) - st["submissionTime"],
                skew=(run_q[1] / run_q[0]) if st["numCompleteTasks"] > 1 and run_q[0] > 0 else None,
            )
    for ex in probe.sql_executions():
        if ex["submissionTime"] * MS < lo - MS:
            continue
        names = {str(m["accumulatorId"]): m["name"] for m in ex.get("metrics") or []}
        files = sum(
            int(v.replace(",", ""))
            for k, v in (ex.get("metricValues") or {}).items()
            if names.get(str(k)) == "number of written files" and v.replace(",", "").isdigit()
        )
        end = ex.get("completionTime") or ex["submissionTime"]
        child("spark.sql", ex["submissionTime"] * MS, end * MS,
              execution_id=ex["executionId"], files_written=files)
    for ev in probe.phases.events:
        for phase, (s, e) in ev.items():
            child(f"catalyst.{phase}", s * MS, e * MS)
    for ev in probe.progress.events:
        d = ev["duration_ms"]
        start = ev["start_ms"] * MS
        child("streaming.batch", start, start + d.get("triggerExecution", 0) * MS,
              rows=ev["rows"], duration_ms=d, state_rows=ev["state_rows"],
              state_bytes=ev["state_bytes"], stream=ev["query"])


def pass_layers(spans: list[dict], pass_id: int, slots: int) -> dict[str, float]:
    """Per-layer totals for one traced pass."""
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    queries = by_parent.get(pass_id, [])
    m: dict[str, float] = dict.fromkeys(
        ("plans.build_s", "plans.build_jobs", "plans.build_sql_executions",
         "plans.build_job_s", "plans.no_job_s", "catalyst.analysis_ms",
         "catalyst.optimization_ms", "catalyst.planning_ms", "exec.jobs",
         "exec.stages", "exec.tasks", "exec.executor_run_s", "exec.executor_cpu_s",
         "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
         "exec.spill_bytes", "exec.input_bytes", "exec.max_stage_skew",
         "streaming.batches", "streaming.input_rows", "streaming.trigger_ms",
         "streaming.add_batch_ms", "streaming.query_planning_ms",
         "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
         "streaming.state_rows", "streaming.state_memory_bytes",
         "sources.bytes_written", "sources.records_written",
         "sources.files_written", "sources.write_stage_s"),
        0.0,
    )
    query_ns = 0
    state: dict[str, tuple[int, int]] = {}
    for q in queries:
        query_ns += q["end"] - q["start"]
        below = [q] + by_parent.get(q["id"], [])
        job_iv = []
        for owner in below:
            for c in by_parent.get(owner["id"], []):
                if c["name"] == "spark.job":
                    job_iv.append((c["start"], c["end"]))
                    m["exec.jobs"] += 1
                    if owner["name"] == "plans.build":
                        m["plans.build_jobs"] += 1
                    for st in by_parent.get(c["id"], []):
                        _add_stage(m, st)
                elif c["name"] == "spark.sql":
                    m["sources.files_written"] += c["files_written"]
                    if owner["name"] == "plans.build":
                        m["plans.build_sql_executions"] += 1
                elif c["name"].startswith("catalyst."):
                    m[f"{c['name']}_ms"] += (c["end"] - c["start"]) / MS
                elif c["name"] == "streaming.batch":
                    d = c["duration_ms"]
                    m["streaming.batches"] += 1
                    m["streaming.input_rows"] += c["rows"]
                    m["streaming.trigger_ms"] += d.get("triggerExecution", 0)
                    m["streaming.add_batch_ms"] += d.get("addBatch", 0)
                    m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
                    m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
                    m["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
                    state[c["stream"]] = (c["state_rows"], c["state_bytes"])
        m["plans.no_job_s"] += (q["end"] - q["start"] - _covered(job_iv, q["start"], q["end"])) / 1e9
        for b in by_parent.get(q["id"], []):
            if b["name"] == "plans.build":
                m["plans.build_s"] += (b["end"] - b["start"]) / 1e9
                m["plans.build_job_s"] += _covered(job_iv, b["start"], b["end"]) / 1e9
    # State size is a level, not a flow: the last batch of each stream.
    m["streaming.state_rows"] = float(sum(r for r, _ in state.values()))
    m["streaming.state_memory_bytes"] = float(sum(b for _, b in state.values()))
    query_s = query_ns / 1e9
    trigger_s = m["streaming.trigger_ms"] / 1000
    m["streaming.rows_per_s"] = m["streaming.input_rows"] / trigger_s if trigger_s else 0.0
    m["plans.build_job_share"] = m["plans.build_job_s"] / m["plans.build_s"] if m["plans.build_s"] else 0.0
    m["plans.no_job_share"] = m["plans.no_job_s"] / query_s if query_s else 0.0
    m["exec.slot_busy_frac"] = m["exec.executor_run_s"] / (slots * query_s) if query_s else 0.0
    return m


def _add_stage(m: dict[str, float], st: dict) -> None:
    m["exec.stages"] += 1
    m["exec.tasks"] += st["tasks"]
    m["exec.executor_run_s"] += st["run_ms"] / 1000
    m["exec.executor_cpu_s"] += st["cpu_ns"] / 1e9
    m["exec.gc_s"] += st["gc_ms"] / 1000
    m["exec.shuffle_read_bytes"] += st["shuffle_read"]
    m["exec.shuffle_write_bytes"] += st["shuffle_write"]
    m["exec.spill_bytes"] += st["spill"]
    m["exec.input_bytes"] += st["input_bytes"]
    if st["skew"] is not None:
        m["exec.max_stage_skew"] = max(m["exec.max_stage_skew"], st["skew"])
    if st["output_bytes"] or st["output_records"]:
        m["sources.bytes_written"] += st["output_bytes"]
        m["sources.records_written"] += st["output_records"]
        m["sources.write_stage_s"] += st["wall_ms"] / 1000


def median_layers(per_pass: list[dict[str, float]]) -> dict[str, float]:
    """Median of each per-layer total over the traced passes."""
    return {k: float(statistics.median(p[k] for p in per_pass)) for k in per_pass[0]}
