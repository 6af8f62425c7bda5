"""SparkSession factory and runtime configuration.

The driver hands us an already-built SparkSession for ``entry``/``queries``,
so anything correctness-critical must be settable at *runtime* — we pin those
in :func:`configure_runtime` and call it from every operator entry point.
Build-time knobs (local[N], memory) live in :func:`get_spark` for tests/bench.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session we touch. Rationale:
#  - UTC session TZ: parquet timestamps must render identically to the
#    DuckDB oracle (naive UTC wall-clock).
#  - AQE on: runtime coalescing + skew-join splitting; at 100 TB the static
#    shuffle-partition count is always wrong for some stage.
#  - Arrow on: every Pandas UDF / toPandas crossing is Arrow-batched.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark 4 refuses to read
    # natively; read as int64 nanos — catalog.load_table converts to a µs
    # timestamp column.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Default parallelism for the local harness; AQE coalesces down when
    # partitions are tiny, and on a real cluster this should be ~2-3x cores.
    "spark.sql.shuffle.partitions": "32",
}


# Confs whose absence changes results, not speed: a failure to set one is
# raised, while the other runtime confs may stay at a locked-in value.
_CORRECTNESS_CONFS = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")

# Build-time confs for sessions the engine builds itself: Python workers
# start from pyworker.py, which keeps each task from re-reading the zip
# archives on the worker path (80-200 ms a task otherwise). The workers
# must be able to import this package.
DAEMON_CONFS = {"spark.python.daemon.module": "lua_mapreduce_spark.pyworker"}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs; safe to call repeatedly."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Some confs may be locked by the driver's session; the defaults
            # they locked in only cost speed, unless the conf is one of the
            # correctness confs.
            if key in _CORRECTNESS_CONFS:
                raise
    return spark


def get_spark(app_name: str = "lua-mapreduce-spark") -> SparkSession:
    """Local session for tests and bench. local[N] with N from
    SPARK_GRAFT_CPUS (default all cores), mirroring the driver harness."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .config(map=DAEMON_CONFS)
    )
    return configure_runtime(builder.getOrCreate())
