"""The engine's Python daemon (lua_mapreduce_spark/pyworker.py): a
zipimporter re-reads its archive only when the archive changed, and the
sessions the engine builds run their Python tasks under that daemon."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from lua_mapreduce_spark import pyworker
from lua_mapreduce_spark.session import configure_runtime


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pyworker_probe_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    pyworker.invalidate_caches(importer)
    files = importer._files
    pyworker.invalidate_caches(importer)
    assert importer._files is files
    # A second importer over the same archive shares the directory read.
    other = zipimport.zipimporter(str(archive))
    pyworker.invalidate_caches(other)
    assert other._files is files


def test_archive_rewritten_in_place_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pyworker_probe_b": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pyworker_probe_b", "pyworker_probe_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_probe_b").X == 1
    importlib.invalidate_caches()  # the guarded read records the archive's stamp

    _write_zip(archive, {"pyworker_probe_b": "X = 1\n", "pyworker_probe_c": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pyworker_probe_c").Y == 2


def test_missing_archive_falls_back_to_stock(tmp_path):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, {"pyworker_probe_d": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    archive.unlink()
    pyworker.invalidate_caches(importer)
    assert importer._files == {}


class _LockedConf:
    """A session conf that refuses to set the given keys."""

    def __init__(self, locked):
        self.locked, self.values = locked, {}

    def set(self, key, value):
        if key in self.locked:
            raise RuntimeError(f"cannot modify {key}")
        self.values[key] = value


class _Session:
    def __init__(self, locked):
        self.conf = _LockedConf(locked)


def test_configure_runtime_tolerates_locked_performance_confs():
    session = _Session({"spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"})
    assert configure_runtime(session) is session
    assert session.conf.values["spark.sql.session.timeZone"] == "UTC"


@pytest.mark.parametrize(
    "key", ["spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"]
)
def test_configure_runtime_raises_on_locked_correctness_conf(key):
    with pytest.raises(RuntimeError, match=key):
        configure_runtime(_Session({key}))


def test_get_spark_python_tasks_run_under_engine_daemon(tmp_path):
    """From a cwd outside the repository, with PYTHONPATH as conftest.py
    sets it, a get_spark session's Python tasks use the engine daemon."""
    script = textwrap.dedent(
        """
        import zipimport
        from lua_mapreduce_spark.session import get_spark

        spark = get_spark("pyworker-test")
        probe = lambda _: [zipimport.zipimporter.invalidate_caches.__module__]
        rdd = spark.sparkContext.parallelize(range(4), 2)
        print(sorted(set(rdd.mapPartitions(probe).collect())))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "['lua_mapreduce_spark.pyworker']"
