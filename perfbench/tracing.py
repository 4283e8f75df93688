"""Per-layer tracing for the benchmark's traced run.

Every traced op call records one span per layer boundary, all sharing the
call's id: ``call`` → ``build`` (the op callable returns its DataFrame),
``plan`` (Catalyst optimisation and physical planning, forced before
execution), ``exec`` (until the call's last Spark job ends) and
``collect_tail`` (from there until ``collect()`` returns).

Counts come from Spark's own bookkeeping, read around each call:

* jobs and stages from the status store behind Spark's REST API. Calls are
  serial, so a job belongs to the call whose time window it was submitted
  in; this also catches jobs that streaming queries run on their own
  threads, outside the caller's job group;
* Catalyst phase times from the frame's ``QueryPlanningTracker``;
* Python-boundary bytes and rows from the SQL metrics of every node in the
  final adaptive plan that reports them, including nodes inside query
  stages and inside the plans of cached relations;
* cache size from the block manager's storage info after construction;
* streaming progress from a ``StreamingQueryListener`` this module adds;
* sink output from the files the call left under the scratch and
  warehouse directories, plus the records its stages wrote.

Everything stays in memory; ``records`` and ``spans`` are written out by
the caller once the run ends.
"""

from __future__ import annotations

import os
import time

from pyspark.sql.streaming import StreamingQueryListener

#: per-call fields and their units, aggregated per workload by ``summarize``
_FIELDS = {
    "call.s": "s", "build.s": "s", "plan.s": "s", "exec.s": "s", "collect.tail_s": "s",
    "build.jobs": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s",
    "task.failed": "count", "scan.input_bytes": "bytes", "scan.input_records": "count",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "cache.mem_bytes": "bytes", "cache.blocks": "count", "result.rows": "count",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "stream.batches": "count", "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.state_rows": "count",
    "stream.state_commit_ms": "ms", "stream.state_mem_bytes": "bytes",
    "sink.output_bytes": "bytes", "sink.output_records": "count", "sink.files": "count",
}

#: every per-layer metric a traced run reports, with its unit
UNITS = {
    **_FIELDS,
    "build.share": "ratio", "core_util": "ratio", "span.coverage": "ratio",
    "session.build_s": "s", "registry.load_s": "s", "warmup.s": "s",
    "corpus.prep_s": "s", "trace.overhead": "ratio",
    "rss.peak_mb": "MB", "jit.cpu_s": "s",
}


class _ProgressRecorder(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def _python_metrics(plan, identity, seen: set, out: dict) -> None:
    """Sum the Python-boundary SQL metrics over ``plan`` and every plan it
    wraps (adaptive plans, query stages, cached relations), visiting each
    node once (by JVM identity: stage ids repeat across adaptive plans)."""
    key = identity(plan)
    if key in seen:
        return
    seen.add(key)
    metrics = plan.metrics()
    if metrics.contains("pythonDataSent"):
        out["python.bytes_sent"] += metrics.apply("pythonDataSent").value()
        out["python.bytes_received"] += metrics.apply("pythonDataReceived").value()
        out["python.rows_received"] += metrics.apply("pythonNumRowsReceived").value()
    kind = plan.getClass().getSimpleName()
    inner = []
    if kind == "AdaptiveSparkPlanExec":
        inner.append(plan.executedPlan())
    elif kind.endswith("QueryStageExec"):
        inner.append(plan.plan())
    elif kind == "InMemoryTableScanExec":
        inner.append(plan.relation().cachedPlan())
    for child in _seq(plan.children()) + inner:
        _python_metrics(child, identity, seen, out)


class Tracer:
    def __init__(self, spark, sink_roots: list[str]) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._store = self._jsc.statusStore()
        self._bus = self._jsc.listenerBus()
        self.sink_roots = sink_roots
        self._listener = _ProgressRecorder()
        spark.streams.addListener(self._listener)
        self._bus.waitUntilEmpty(60_000)
        self._last_job = max((j.jobId() for j in _seq(self._store.jobsList(None))), default=-1)
        self.records: list[dict] = []
        self.spans: list[dict] = []

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def _new_jobs(self) -> list:
        jobs = self._store.jobsList(None)
        found = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > self._last_job:
                found.append(j)
        if found:
            self._last_job = max(j.jobId() for j in found)
        return found

    def _stage_totals(self, stage_ids, out: dict, execution: bool) -> None:
        no_quantiles = self._gateway.new_array(self._gateway.jvm.double, 0)
        for sid in stage_ids:
            for st in _seq(self._store.stageData(sid, False, None, False, no_quantiles)):
                if st.status().toString() == "SKIPPED":
                    continue
                out["scan.input_bytes"] += st.inputBytes()
                out["scan.input_records"] += st.inputRecords()
                out["shuffle.read_bytes"] += st.shuffleReadBytes()
                out["shuffle.write_bytes"] += st.shuffleWriteBytes()
                out["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                out["spill.bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["sink.output_records"] += st.outputRecords()
                if execution:
                    out["exec.stages"] += 1
                    out["exec.tasks"] += st.numTasks()
                    out["task.failed"] += st.numFailedTasks()
                    out["task.run_s"] += st.executorRunTime() / 1e3
                    out["task.cpu_s"] += st.executorCpuTime() / 1e9
                    out["task.gc_s"] += st.jvmGcTime() / 1e3

    def _sink_files(self, since: float, out: dict) -> None:
        for root in self.sink_roots:
            for d, _, files in os.walk(root):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    st = os.stat(os.path.join(d, f))
                    if st.st_mtime >= since:
                        out["sink.files"] += 1
                        out["sink.output_bytes"] += st.st_size

    def call(self, call_id: int, op: str, fn, corpus: str, origin: float):
        """Run one op call with tracing; return its collected rows and frame."""
        rec = dict.fromkeys(_FIELDS, 0)
        rec["op"] = op
        self._listener.progress.clear()
        w0 = time.time()
        t0 = time.perf_counter()
        df = fn(self.spark, corpus)
        t1 = time.perf_counter()
        w1 = time.time()
        for info in self._jsc.getRDDStorageInfo():
            rec["cache.mem_bytes"] += info.memSize()
            rec["cache.blocks"] += info.numCachedPartitions()
        t1b = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.perf_counter()
        rows = df.collect()
        t4 = time.perf_counter()
        w4 = time.time()

        self._bus.waitUntilEmpty(60_000)
        # execution-layer counts cover the exec span's jobs; the data-movement
        # counts (scan, shuffle, spill, output) cover every job of the call
        last_end = None
        for j in self._new_jobs():
            sub = _ms(j.submissionTime())
            if sub is None or not w0 * 1e3 - 1 <= sub <= w4 * 1e3 + 1:
                continue
            execution = sub >= w1 * 1e3
            rec["exec.jobs" if execution else "build.jobs"] += 1
            self._stage_totals(_seq(j.stageIds()), rec, execution)
            end = _ms(j.completionTime())
            if execution and end is not None:
                last_end = end if last_end is None else max(last_end, end)

        # exec ends when the call's last job does (clamped into the collect)
        t3 = t2 if last_end is None else min(max(t2, t4 - (w4 - last_end / 1e3)), t4)
        rec["call.s"] = t4 - t0
        rec["build.s"] = t1 - t0
        rec["plan.s"] = t2 - t1b
        rec["exec.s"] = t3 - t2
        rec["collect.tail_s"] = t4 - t3
        rec["result.rows"] = len(rows)

        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                rec[f"plan.{phase}_ms"] = phases.apply(phase).durationMs()
        agg = {"python.bytes_sent": 0, "python.bytes_received": 0, "python.rows_received": 0}
        _python_metrics(qe.executedPlan(), self._gateway.jvm.System.identityHashCode,
                        set(), agg)
        rec.update(agg)

        for p in self._listener.progress:
            rec["stream.batches"] += 1
            dur = p.durationMs
            rec["stream.trigger_ms"] += dur.get("triggerExecution", 0)
            rec["stream.add_batch_ms"] += dur.get("addBatch", 0)
            rec["stream.wal_commit_ms"] += dur.get("walCommit", 0)
            state_rows = state_mem = 0
            for s in p.stateOperators:
                state_rows += s.numRowsTotal
                state_mem += s.memoryUsedBytes
                rec["stream.state_commit_ms"] += s.commitTimeMs
            rec["stream.state_rows"] = max(rec["stream.state_rows"], state_rows)
            rec["stream.state_mem_bytes"] = max(rec["stream.state_mem_bytes"], state_mem)
        self._sink_files(w0, rec)
        self.records.append(rec)

        for name, a, b in (("call", t0, t4), ("build", t0, t1), ("plan", t1b, t2),
                           ("exec", t2, t3), ("collect_tail", t3, t4)):
            self.spans.append({
                "id": call_id, "name": name, "op": op,
                "parent": None if name == "call" else "call",
                "start_s": a - origin, "end_s": b - origin,
            })
        return df, rows


def summarize(records: list[dict], cores: int) -> dict[str, float]:
    """Per-call means per workload, plus the ratios defined over sums."""
    n = len(records)
    out = {k: sum(r[k] for r in records) / n for k in _FIELDS}
    tot = {k: sum(r[k] for r in records) for k in ("call.s", "build.s", "exec.s", "task.run_s")}
    out["build.share"] = tot["build.s"] / tot["call.s"]
    out["core_util"] = tot["task.run_s"] / (tot["exec.s"] * cores) if tot["exec.s"] else 0.0
    out["span.coverage"] = min(
        (r["build.s"] + r["plan.s"] + r["exec.s"] + r["collect.tail_s"]) / r["call.s"]
        for r in records
    )
    return out
