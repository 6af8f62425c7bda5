"""Layer A fidelity tests: MapReduceJob reproduces the reference's job
semantics (SURVEY.md §2.1, §2.5), including the golden word-count output
(FIXTURES.md §1) over the exact reference fixture texts."""

from __future__ import annotations

import re

from lua_mapreduce_spark.mapreduce import MapReduceJob

# Verbatim contents of /root/reference/example/test{1,2,3}.txt (FIXTURES.md §1)
FIXTURES = {
    "test1.txt": "This is a test.",
    "test2.txt": "This is still yet the same test.",
    "test3.txt": "Nothing at all",
}

GOLDEN = {
    "a": 1, "all": 1, "at": 1, "is": 2, "nothing": 1, "same": 1,
    "still": 1, "test": 2, "the": 1, "this": 2, "yet": 1,
}


def taskfn(arg):
    """Reference taskfn: yield (filename, content) per source file
    (word-count-taskfile.lua:82-88)."""
    yield from FIXTURES.items()


def mapfn(key, value):
    """Reference mapfn: whitespace split, alphabetic-run extract, lowercase,
    emit (word, 1) (word-count-taskfile.lua:105-144)."""
    for token in value.split():
        for word in re.findall(r"[A-Za-z]+", token):
            yield word.lower(), 1


def reducefn(key, values):
    """Reference reducefn: emits (key, len(values)) — COUNT, not SUM
    (word-count-taskfile.lua:150-153)."""
    yield key, len(values)


def test_wordcount_golden(spark):
    job = MapReduceJob(taskfn=taskfn, mapfn=mapfn, reducefn=reducefn)
    assert job.run(spark) == GOLDEN


def test_finalfn_called_on_driver(spark):
    """finalfn receives the complete results dict once
    (lua-mapreduce-server.lua:323-327)."""
    seen = []
    job = MapReduceJob(taskfn=taskfn, mapfn=mapfn, reducefn=reducefn, finalfn=seen.append)
    job.run(spark)
    assert seen == [GOLDEN]


def test_combiner_path_matches_holistic(spark):
    """reduceByKey combiner path returns identical results for an
    associative reduce (sum-style word count)."""
    job = MapReduceJob(
        taskfn=taskfn,
        mapfn=mapfn,
        reducefn=lambda k, vs: [(k, sum(vs))],
        combinefn=lambda a, b: a + b,
    )
    assert job.run(spark) == GOLDEN


def test_reduce_may_emit_different_keys(spark):
    """Reduce output key may differ from input key
    (lua-mapreduce-client.lua:197) and may emit multiple pairs."""
    job = MapReduceJob(
        taskfn=lambda arg: iter([("t", "a a b")]),
        mapfn=lambda k, v: [(w, 1) for w in v.split()],
        reducefn=lambda k, vs: [(f"{k}!", len(vs)), (f"{k}?", -len(vs))],
    )
    assert job.run(spark) == {"a!": 2, "a?": -2, "b!": 1, "b?": -1}


def test_holistic_reducefn_sees_full_list(spark):
    """reducefn gets the COMPLETE value list at once — a holistic aggregate
    like median is expressible (impossible with pairwise combining)."""
    job = MapReduceJob(
        taskfn=lambda arg: iter([("t", None)]),
        mapfn=lambda k, v: [("x", i) for i in (5, 1, 9, 3, 7)],
        reducefn=lambda k, vs: [(k, sorted(vs)[len(vs) // 2])],
    )
    assert job.run(spark) == {"x": 5}


def test_to_dataframe_distributed_sink(spark):
    """The scale path: reduce output as a DataFrame without driver collect."""
    job = MapReduceJob(taskfn=taskfn, mapfn=mapfn, reducefn=reducefn)
    df = job.to_dataframe(spark)
    assert {(r.key, r.value) for r in df.collect()} == set(GOLDEN.items())


def test_source_df_replaces_taskfn(spark):
    """source_df: a 2-column DataFrame as the task source — sources scale
    beyond a driver-side generator."""
    src = spark.createDataFrame(list(FIXTURES.items()), "key string, value string")
    job = MapReduceJob(source_df=src, mapfn=mapfn, reducefn=reducefn)
    assert job.run(spark) == GOLDEN


def test_one_split_source_df_maps_and_reduces_on_every_core(spark):
    """A one-partition source_df is spread over defaultParallelism map
    partitions and shuffles into as many reduce partitions (PySpark's own
    default would keep both at one), with the same results."""
    cores = spark.sparkContext.defaultParallelism
    src = spark.createDataFrame(list(FIXTURES.items()), "key string, value string").coalesce(1)
    sum_reducefn = lambda k, vs: [(k, sum(vs))]  # noqa: E731
    for reduce_fn, combinefn in ((reducefn, None), (sum_reducefn, lambda a, b: a + b)):
        job = MapReduceJob(source_df=src, mapfn=mapfn, reducefn=reduce_fn, combinefn=combinefn)
        assert job._source_rdd(spark).getNumPartitions() == cores
        reduced = job._reduced_rdd(spark)
        assert reduced.getNumPartitions() == cores
        assert dict(reduced.collect()) == GOLDEN


def test_filterfn_runs_after_reduce(spark):
    """filterfn (reference README TODO #5) sees REDUCE output — keys whose
    count fails the predicate vanish from run() and to_dataframe() alike,
    and the combiner path applies the same filter."""
    from lua_mapreduce_spark.mapreduce import MapReduceJob

    def filterfn(key, value):
        return value >= 2

    expected = {w: c for w, c in GOLDEN.items() if c >= 2}
    holistic = MapReduceJob(
        taskfn=taskfn, mapfn=mapfn, reducefn=reducefn, filterfn=filterfn
    )
    assert holistic.run(spark) == expected
    combined = MapReduceJob(
        taskfn=taskfn,
        mapfn=mapfn,
        reducefn=lambda k, vs: [(k, sum(vs))],  # sum-style: combiner-safe
        combinefn=lambda a, b: a + b,
        filterfn=filterfn,
    )
    rows = combined.to_dataframe(spark).collect()
    assert {r.key: r.value for r in rows} == expected
