"""The one memo helper: key, one-live-entry-per-name lifetime, release."""

from __future__ import annotations

import ast
import re
from pathlib import Path
from types import SimpleNamespace

from tests.conftest import SF_SMALL

_PKG = Path(__file__).resolve().parents[1] / "lua_mapreduce_spark"


class _OtherApp:
    """The real session seen under another applicationId, as after a
    session restart in the same process."""

    def __init__(self, spark, app_id):
        self._spark = spark
        self.sparkContext = SimpleNamespace(applicationId=app_id)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def _counting(value_of):
    calls = []

    def build():
        calls.append(1)
        return value_of()

    return build, calls


def test_same_key_returns_same_object_without_rebuilding(spark):
    from lua_mapreduce_spark.memo import forget, memo

    build, calls = _counting(lambda: spark.range(3))
    first = memo(spark, SF_SMALL, "t_same", build)
    assert memo(spark, SF_SMALL, "t_same", build) is first
    assert len(calls) == 1
    forget("t_same")


def test_new_application_id_rebuilds():
    from lua_mapreduce_spark.memo import forget, memo

    a = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-a"))
    b = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-b"))
    build, calls = _counting(object)
    first = memo(a, "sf", "t_app", build)
    assert memo(b, "sf", "t_app", build) is not first
    assert len(calls) == 2
    forget("t_app")


def test_relative_and_absolute_sf_dir_share_one_entry(tmp_path, monkeypatch):
    from lua_mapreduce_spark.memo import forget, memo

    monkeypatch.chdir(tmp_path)
    s = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    build, calls = _counting(object)
    first = memo(s, "sf", "t_path", build)
    assert memo(s, "./sf", "t_path", build) is first
    assert memo(s, str(tmp_path / "sf"), "t_path", build) is first
    assert len(calls) == 1
    forget("t_path")


def test_new_sf_dir_unpersists_the_old_value(spark):
    from lua_mapreduce_spark.memo import forget, memo

    df = spark.range(5).persist()
    pair = (spark.range(7).persist(), 1)
    df.count()
    pair[0].count()
    memo(spark, "sf_a", "t_df", lambda: df)
    memo(spark, "sf_a", "t_tuple", lambda: pair)
    assert df.is_cached and pair[0].is_cached
    memo(spark, "sf_b", "t_df", lambda: spark.range(1))
    memo(spark, "sf_b", "t_tuple", lambda: (spark.range(1), 1))
    assert not df.is_cached, "stale value still persisted"
    assert not pair[0].is_cached, "DataFrame inside a tuple still persisted"
    forget("t_df", "t_tuple")


def test_value_from_a_stopped_context_is_dropped_not_unpersisted():
    from pyspark.sql import DataFrame

    from lua_mapreduce_spark.memo import forget, memo

    class _Stale(DataFrame):
        """A DataFrame whose context has stopped: unpersist would fail."""

        sparkSession = SimpleNamespace(sparkContext=object())

        def unpersist(self, blocking=False):
            raise AssertionError("unpersist on a stopped context")

    s = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    memo(s, "sf", "t_stale", lambda: object.__new__(_Stale))
    forget("t_stale")


def test_forget_drops_only_the_named_entry():
    from lua_mapreduce_spark.memo import forget, memo

    s = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    keep, drop = object(), object()
    memo(s, "sf", "t_keep", lambda: keep)
    memo(s, "sf", "t_drop", lambda: drop)
    forget("t_drop", "t_never_built")
    assert memo(s, "sf", "t_keep", object) is keep
    assert memo(s, "sf", "t_drop", object) is not drop
    forget("t_keep", "t_drop")


def test_nested_build_memoizes_both_names(spark):
    from lua_mapreduce_spark.memo import forget, memo

    inner_build, inner_calls = _counting(lambda: spark.range(4))

    def inner():
        return memo(spark, SF_SMALL, "t_inner", inner_build)

    outer = memo(
        spark, SF_SMALL, "t_outer", lambda: inner().selectExpr("id * 2 AS x")
    )
    assert memo(spark, SF_SMALL, "t_outer", object) is outer
    assert inner() is inner()
    assert len(inner_calls) == 1
    assert sorted(r.x for r in outer.collect()) == [0, 2, 4, 6]
    forget("t_outer", "t_inner")


def test_km_centroids_rebuild_under_another_application(spark):
    """A session restart in the same process must not be served the first
    session's checkpointed centroids."""
    from lua_mapreduce_spark.operators.similarity import _km_centroids

    first = _km_centroids(spark, SF_SMALL)
    assert _km_centroids(spark, SF_SMALL) is first
    other = _km_centroids(_OtherApp(spark, "restarted-app"), SF_SMALL)
    assert other is not first
    assert sorted(map(tuple, other.collect())) == sorted(map(tuple, first.collect()))


def _is_dict(node) -> bool:
    value = node.value
    if isinstance(value, ast.Dict):
        return True
    if isinstance(value, ast.Call) and isinstance(value.func, ast.Name):
        return value.func.id in {"dict", "defaultdict", "OrderedDict"}
    ann = getattr(node, "annotation", None)
    return ann is not None and "dict" in ast.unparse(ann).lower()


def test_no_hand_rolled_caches_in_the_package():
    """Every memoized substrate goes through memo.py: no module defines a
    module-level ``*_CACHE`` / ``*_DERIVED`` dict or a ``clear_*_cache``."""
    bad = []
    for path in sorted(_PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if re.fullmatch(r"clear_\w*cache", node.name):
                    bad.append(f"{path.name}: def {node.name}")
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and _is_dict(node):
                targets = getattr(node, "targets", None) or [node.target]
                for t in targets:
                    if isinstance(t, ast.Name) and re.search(r"_(CACHE|DERIVED)$", t.id):
                        bad.append(f"{path.name}: {t.id}")
    assert not bad, bad
