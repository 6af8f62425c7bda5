"""Traced-run instrumentation, all of it outside the program.

* ``Tracer`` records spans (name, start, end, parent, run id) in memory and
  counts at the same boundaries; ``self_times`` subtracts child cover.
* ``install`` wraps public entry points of the program's modules (catalog,
  the task-file loader, ``MapReduceJob``) before the operator registry is
  imported, so the registry binds the wrapped functions.
* ``StageHarvest`` reads Spark's own status store for the executor-side
  counters of the jobs a pass launched.
* ``StreamCounters`` is a ``StreamingQueryListener`` that sums micro-batch
  progress.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.run_id = "setup"
        self.enabled = True
        self.pending_accumulators: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    def take_counts(self) -> dict[str, float]:
        """Counts since the last call, accumulator totals included."""
        out, self.counts = dict(self.counts), defaultdict(float)
        for acc in self.pending_accumulators:
            for key, a in acc.items():
                out[f"mapreduce.{key}"] = out.get(f"mapreduce.{key}", 0) + a.value
        self.pending_accumulators = []
        return out


def self_times(spans: list[dict], run_id: str) -> dict[str, float]:
    """Per span name: total duration minus the union of its children's
    intervals, over the spans of one run."""
    mine = [s for s in spans if s["run"] == run_id and s["end"] is not None]
    children = defaultdict(list)
    for s in mine:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in mine:
        covered, hi = 0.0, s["start"]
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, hi), min(b, s["end"])
            if b > a:
                covered += b - a
                hi = b
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


# -- wrappers around the program's public entry points ----------------------


def _parquet_size(path: str, memo: dict) -> tuple[int, int]:
    if path not in memo:
        import pyarrow.parquet as pq

        memo[path] = (pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path))
    return memo[path]


def install(tracer: Tracer, spark_context_getter) -> None:
    """Wrap catalog, task-file loading and ``MapReduceJob``; call before
    ``lua_mapreduce_spark.operators`` is imported."""
    import lua_mapreduce_spark.__main__ as cli
    from lua_mapreduce_spark import catalog
    from lua_mapreduce_spark.mapreduce import MapReduceJob

    sizes: dict = {}
    load_table, parallelize_scan = catalog.load_table, catalog.parallelize_scan
    load_task_module = cli.load_task_module

    @functools.wraps(load_table)
    def traced_load_table(spark, sf_dir, name):
        with tracer.span("catalog.load_table", table=name):
            df = load_table(spark, sf_dir, name)
        if tracer.enabled:
            rows, size = _parquet_size(os.path.join(sf_dir, f"{name}.parquet"), sizes)
            tracer.add("catalog.input_records", rows)
            tracer.add("catalog.input_bytes", size)
            tracer.add("catalog.load_table_calls", 1)
        return df

    @functools.wraps(parallelize_scan)
    def traced_parallelize_scan(spark, df):
        with tracer.span("catalog.parallelize_scan"):
            return parallelize_scan(spark, df)

    @functools.wraps(load_task_module)
    def traced_load_task_module(path):
        with tracer.span("mapreduce.load_task_module", file=os.path.basename(path)):
            return load_task_module(path)

    catalog.load_table = traced_load_table
    catalog.parallelize_scan = traced_parallelize_scan
    cli.load_task_module = traced_load_task_module

    init, run, to_dataframe = MapReduceJob.__init__, MapReduceJob.run, MapReduceJob.to_dataframe

    @functools.wraps(init)
    def traced_init(self, *args, **kwargs):
        init(self, *args, **kwargs)
        if tracer.enabled:
            _count_closures(self, tracer, spark_context_getter())

    @functools.wraps(run)
    def traced_run(self, spark):
        with tracer.span("mapreduce.run"):
            return run(self, spark)

    @functools.wraps(to_dataframe)
    def traced_to_dataframe(self, spark, *args, **kwargs):
        with tracer.span("mapreduce.to_dataframe"):
            return to_dataframe(self, spark, *args, **kwargs)

    MapReduceJob.__init__ = traced_init
    MapReduceJob.run = traced_run
    MapReduceJob.to_dataframe = traced_to_dataframe


MR_COUNTERS = (
    "map_input_records",
    "map_output_records",
    "reduce_groups",
    "reduce_input_values",
    "reduce_output_records",
    "filter_calls",
    "filter_passed",
)


def _count_closures(job, tracer: Tracer, sc) -> None:
    """Replace the job's closures with counting wrappers. Record counts
    travel back through accumulators; driver-side slots are timed."""
    acc = {k: sc.accumulator(0) for k in MR_COUNTERS}
    tracer.pending_accumulators.append(acc)
    mapfn, reducefn, filterfn = job.mapfn, job.reducefn, job.filterfn
    taskfn, finalfn = job.taskfn, job.finalfn

    def counted_mapfn(key, value):
        acc["map_input_records"].add(1)
        n = 0
        for kv in mapfn(key, value):
            n += 1
            yield kv
        acc["map_output_records"].add(n)

    job.mapfn = counted_mapfn
    if reducefn is not None:

        def counted_reducefn(key, values):
            acc["reduce_groups"].add(1)
            acc["reduce_input_values"].add(len(values))
            n = 0
            for kv in reducefn(key, values):
                n += 1
                yield kv
            acc["reduce_output_records"].add(n)

        job.reducefn = counted_reducefn
    if filterfn is not None:

        def counted_filterfn(key, value):
            keep = filterfn(key, value)
            acc["filter_calls"].add(1)
            acc["filter_passed"].add(1 if keep else 0)
            return keep

        job.filterfn = counted_filterfn
    if taskfn is not None:

        def timed_taskfn(arg):
            with tracer.span("mapreduce.taskfn"):
                tasks = list(taskfn(arg))
            tracer.add("mapreduce.map_tasks", len(tasks))
            return iter(tasks)

        job.taskfn = timed_taskfn
    if finalfn is not None:

        def timed_finalfn(results):
            with tracer.span("mapreduce.finalfn"):
                return finalfn(results)

        job.finalfn = timed_finalfn


# -- Spark's own counters ----------------------------------------------------


class StageHarvest:
    """Executor counters of the Spark jobs launched since the last call,
    read from the application status store (works with the UI disabled)."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._seen: set[int] = set()
        self.take()

    def take(self) -> tuple[list[tuple[int, float]], dict[str, float]]:
        jvm = self._sc._jvm
        store = self._sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        new_jobs, stage_ids = [], set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen:
                continue
            self._seen.add(jid)
            sub = j.submissionTime()
            new_jobs.append((jid, sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0))
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        stages = store.stageList(
            None, False, False, self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        c: dict[str, float] = defaultdict(float)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids or str(s.status()) in ("SKIPPED", "PENDING"):
                continue
            c["run_ms"] += s.executorRunTime()
            c["jvm_cpu_ms"] += s.executorCpuTime() / 1e6
            c["gc_ms"] += s.jvmGcTime()
            c["tasks"] += s.numCompleteTasks()
            c["failed_tasks"] += s.numFailedTasks()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["fetch_wait_ms"] += s.shuffleFetchWaitTime()
            c["spill_bytes"] += s.diskBytesSpilled()
            c["result_bytes"] += s.resultSize()
        return new_jobs, dict(c)


def drain_listener_bus(sc) -> None:
    """Wait until Spark has delivered every queued listener event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def stream_listener(counts: dict, lock: threading.Lock):
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCounters(StreamingQueryListener):
        """Sums micro-batch progress; the last state size per query."""

        def onQueryStarted(self, event):
            with lock:
                counts["query_starts"] += 1

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            with lock:
                counts["microbatches"] += 1
                counts["input_rows"] += p.numInputRows
                counts["trigger_ms"] += d.get("triggerExecution", 0)
                counts["add_batch_ms"] += d.get("addBatch", 0)
                counts["wal_commit_ms"] += d.get("walCommit", 0)
                counts.setdefault("_state", {})[str(p.id)] = sum(
                    op.numRowsTotal for op in p.stateOperators
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamCounters()
