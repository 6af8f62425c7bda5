"""One memo for the shared relations operators build once per input.

``memo(spark, sf_dir, name, build)`` keys a value on
``(applicationId, abspath(sf_dir))``: a restarted session never gets a
DataFrame bound to a stopped context, and ``sf`` and ``./sf`` share one
entry. Each name keeps one live entry; a call with a new key releases the
old value (every DataFrame in it is unpersisted) before building the new
one. Whether a value is ``persist``ed or ``localCheckpoint``ed stays with
its builder. A build may memo other names for the same key.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_LIVE: dict[str, tuple[tuple[str, str], object]] = {}


def memo(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]) -> T:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    live = _LIVE.get(name)
    if live is not None and live[0] == key:
        return live[1]
    forget(name)
    value = build()
    _LIVE[name] = (key, value)
    return value


def forget(*names: str) -> None:
    """Release and drop the named entries (cold builds in the bench, tests).
    A value from a stopped context is only dropped: its storage went with
    the context, and unpersist would fail."""
    for name in names:
        live = _LIVE.pop(name, None)
        value = live[1] if live is not None else ()
        for df in value if isinstance(value, tuple) else (value,):
            if (
                isinstance(df, DataFrame)
                and df.sparkSession.sparkContext is SparkContext._active_spark_context
            ):
                df.unpersist()
