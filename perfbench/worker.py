"""One fresh benchmark process: set up the engine, run the workload's
passes, check every job's output and write a result file.

Started by ``run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict

import expect
import procmem

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The registry's Python DataSource read face and DataSink write face.
SOURCE_FACES = {"source_python_datasource": "read", "sink_python_datasource": "write"}
EXECUTOR_KEYS = (
    "run_ms", "jvm_cpu_ms", "gc_ms", "tasks", "failed_tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "result_bytes",
)
SELF_LAYERS = ("operators", "catalog", "mapreduce", "bench")
STREAM_KEYS = (
    "query_starts", "microbatches", "input_rows", "trigger_ms", "add_batch_ms", "wal_commit_ms",
)


class Worker:
    def __init__(self, args, spec) -> None:
        self.args = args
        self.jobs, self.shuffle = spec["jobs"], spec["shuffle"]
        self.tracer = None
        if args.trace:
            import tracing

            self.tracer = tracing.Tracer()
        self.failures: list[dict] = []
        self.attempted = 0

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    # -- set-up ------------------------------------------------------------
    def setup(self) -> float:
        if self.tracer:
            import tracing
            from pyspark import SparkContext

            tracing.install(self.tracer, lambda: SparkContext._active_spark_context)
        from lua_mapreduce_spark.session import get_spark

        with self.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.args.workload}")
        with self.span("operators.import"):
            from lua_mapreduce_spark.operators import QUERIES
        import lua_mapreduce_spark.__main__ as cli
        from lua_mapreduce_spark.mapreduce import MapReduceJob

        self.queries, self.MapReduceJob = QUERIES, MapReduceJob
        self.tasks = {
            f: cli.load_task_module(os.path.join(ROOT, "examples", f))
            for f in sorted({j["task"] for j in self.jobs if "task" in j})
        }
        return time.monotonic()

    # -- one job -------------------------------------------------------------
    def run_job(self, job: dict, traced: bool):
        """Run one job; return its columns, rows and finalfn output."""
        spark = self.spark
        if "query" in job:
            with self.span("operators.construct"):
                df = self.queries[job["query"]](spark, job["sf_dir"])
            if traced:
                with self.span("operators.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.span("operators.execute"):
                rows = df.collect()
            return df.columns, rows, None
        mod, final = self.tasks[job["task"]], {}
        finalfn = None
        if "finalfn_top_k" in job:
            k = job["finalfn_top_k"]

            def finalfn(results):
                final["top"] = sorted(results.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

        mr = self.MapReduceJob(
            taskfn=mod.taskfn,
            mapfn=mod.mapfn,
            reducefn=getattr(mod, "reducefn", None),
            finalfn=finalfn,
            combinefn=getattr(mod, "combinefn", None),
            filterfn=getattr(mod, "filterfn", None),
            arg=job["arg"],
        )
        results = mr.run(spark)
        return ["key", "value"], list(results.items()), final.get("top")

    def check(self, job, cols, rows, final) -> str | None:
        got = expect.canon_rows(cols, rows)
        if job["name"] == self.args.corrupt:
            got["rows"] = got["rows"][1:] if got["rows"] else [[None] * len(cols)]
        reason = expect.mismatch(got, job["expect"])
        if reason is None and "expect_final" in job:
            if [list(kv) for kv in final or []] != job["expect_final"]:
                reason = "finalfn output differs"
        return reason

    # -- one pass ------------------------------------------------------------
    def run_pass(self, index: int, order: list[dict], traced: bool) -> dict:
        if self.tracer:
            self.tracer.enabled = traced
            self.tracer.run_id = f"pass{index}"
        seconds, windows = 0.0, []
        with self.span("pass"):
            for job in order:
                self.attempted += 1
                w0, t0 = time.time(), time.perf_counter()
                cols = rows = final = None
                error = None
                with self.span("job", job=job["name"]):
                    try:
                        cols, rows, final = self.run_job(job, traced)
                    except Exception as exc:  # a failing job is a measured outcome
                        error = "".join(traceback.format_exception_only(type(exc), exc)).strip()
                t1 = time.perf_counter()
                seconds += t1 - t0
                windows.append((job, w0, time.time(), t1 - t0))
                with self.span("bench.check"):
                    reason = error or self.check(job, cols, rows, final)
                rows = None
                if reason:
                    self.failures.append({"pass": index, "job": job["name"], "reason": reason[:500]})
        return {"seconds": seconds, "traced": traced, "windows": windows,
                "jobs": {job["name"]: secs for job, _, _, secs in windows}}

    # -- per-layer metrics of one traced pass -------------------------------------
    def layer_metrics(self, index: int, p: dict, harvest, stream_counts) -> dict:
        import tracing

        sc = self.spark.sparkContext
        tracing.drain_listener_bus(sc)
        counts = self.tracer.take_counts()
        new_jobs, ex = harvest.take()
        run = f"pass{index}"
        spans = [s for s in self.tracer.spans if s["run"] == run]
        dur = defaultdict(float)
        for s in spans:
            dur[s["name"]] += s["end"] - s["start"]
        m: dict[str, float] = {}
        for key in ("catalog.input_records", "catalog.input_bytes", "catalog.load_table_calls",
                    "mapreduce.map_tasks"):
            m[key] = counts.get(key, 0)
        m["catalog.call_s"] = dur["catalog.load_table"] + dur["catalog.parallelize_scan"]
        for key in ("construct", "plan", "execute"):
            m[f"operators.{key}_s"] = dur[f"operators.{key}"]
        op_windows = [(w0, w1) for job, w0, w1, _ in p["windows"] if "query" in job]
        m["operators.spark_jobs"] = sum(
            1 for _, t in new_jobs if any(w0 - 0.05 <= t <= w1 + 0.05 for w0, w1 in op_windows)
        )
        m["mapreduce.taskfn_s"] = dur["mapreduce.taskfn"]
        m["mapreduce.finalfn_s"] = dur["mapreduce.finalfn"]
        for key in ("map_input_records", "map_output_records", "reduce_groups",
                    "reduce_input_values", "reduce_output_records"):
            m[f"mapreduce.{key}"] = counts.get(f"mapreduce.{key}", 0)
        riv = m["mapreduce.reduce_input_values"]
        m["mapreduce.combine_ratio"] = m["mapreduce.map_output_records"] / riv if riv else 0.0
        fc = counts.get("mapreduce.filter_calls", 0)
        m["mapreduce.filter_pass_ratio"] = counts.get("mapreduce.filter_passed", 0) / fc if fc else 0.0
        for key in EXECUTOR_KEYS:
            m[f"executor.{key}"] = ex.get(key, 0)
        m["executor.offcpu_ms"] = ex.get("run_ms", 0) - ex.get("jvm_cpu_ms", 0) - ex.get("gc_ms", 0)
        cores = sc.defaultParallelism
        m["executor.busy_ratio"] = ex.get("run_ms", 0) / (p["seconds"] * 1000 * cores)
        faces = defaultdict(float)
        for job, _, _, secs in p["windows"]:
            face = SOURCE_FACES.get(job.get("query"))
            if face:
                faces[face] += secs
        m["sources.read_s"], m["sources.write_s"] = faces["read"], faces["write"]
        for key in STREAM_KEYS:
            m[f"streaming.{key}"] = stream_counts.get(key, 0)
        m["streaming.state_rows"] = sum(stream_counts.get("_state", {}).values())
        for layer in SELF_LAYERS:
            m[f"self.{layer}_s"] = 0.0
        for name, secs in tracing.self_times(self.tracer.spans, run).items():
            layer = name.split(".")[0] if "." in name else "bench"
            m[f"self.{layer}_s"] = m.get(f"self.{layer}_s", 0.0) + secs
        m["trace.spans"] = len(spans)
        return m

    # -- the run -------------------------------------------------------------
    def run(self) -> dict:
        t_ready = self.setup()
        out = {"t_ready": t_ready}
        sc = self.spark.sparkContext
        out["host"] = {
            "spark": self.spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
        }
        sc.setLogLevel("ERROR")
        if self.tracer:
            import tracing

            out["setup_layers"] = {
                "session.get_spark_s": sum(
                    s["end"] - s["start"] for s in self.tracer.spans if s["name"] == "session.get_spark"
                ),
                "operators.import_s": sum(
                    s["end"] - s["start"] for s in self.tracer.spans if s["name"] == "operators.import"
                ),
            }
            harvest = tracing.StageHarvest(sc)
            lock = threading.Lock()
        rng = random.Random(self.args.seed)

        def order():
            jobs = list(self.jobs)
            if self.shuffle:
                rng.shuffle(jobs)
            return jobs

        first = self.run_pass(0, order(), traced=False)
        out["first_pass_s"], out["first_pass_jobs"] = first["seconds"], first["jobs"]
        warm, layers = [], []
        deadline = time.perf_counter() + self.args.seconds
        index = 1
        while True:
            # Untraced and traced passes alternate; a traced run needs one
            # of each for trace.overhead_s.
            need = not warm or (self.tracer and len(warm) < 2)
            if not need and time.perf_counter() >= deadline:
                break
            traced = bool(self.tracer) and index % 2 == 0
            stream_counts: dict = defaultdict(float)
            listener = None
            if traced:
                self.tracer.take_counts()
                harvest.take()
                listener = tracing.stream_listener(stream_counts, lock)
                self.spark.streams.addListener(listener)
            p = self.run_pass(index, order(), traced)
            if traced:
                layers.append(self.layer_metrics(index, p, harvest, stream_counts))
                self.spark.streams.removeListener(listener)
            warm.append({"seconds": p["seconds"], "traced": traced, "jobs": p["jobs"]})
            index += 1
        out["warm"] = warm
        # Resident memory retained after the passes: a full GC first, so
        # the JVM's share does not depend on when G1 last grew its heap.
        sc._jvm.java.lang.System.gc()
        time.sleep(0.5)
        out["rss_after_gc_mb"] = procmem.tree_mb(os.getpid(), "VmRSS")
        out["layers"] = layers
        out["attempted"], out["failures"] = self.attempted, self.failures
        if self.tracer:
            out["spans"] = self.tracer.spans
            untraced = [p["seconds"] for p in warm if not p["traced"]]
            traced_s = [p["seconds"] for p in warm if p["traced"]]
            out["trace_overhead_s"] = statistics.median(traced_s) - statistics.median(untraced)
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", default=None)
    args = ap.parse_args()
    with open(args.spec) as fh:
        spec = json.load(fh)
    worker = Worker(args, spec)
    try:
        out = worker.run()
        out["t_done"] = time.monotonic()
    finally:
        spark = getattr(worker, "spark", None)
        if spark is not None:
            spark.stop()
    tmp = args.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
