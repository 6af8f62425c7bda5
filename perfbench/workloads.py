"""The benchmark's workloads: which jobs a pass runs and what each must
return. Preparation runs in the orchestrator, before any timing.

Input records per pass are fixed per workload: tokens for ``mr_corpus``;
elsewhere the rows of every table a job scans (parquet metadata) plus the
rows the Python DataSource produces.
"""

from __future__ import annotations

import os

import corpus
import expect

# Tables each fixed-testdata job reads through ``catalog.load_table`` (or,
# for the streams, through the event-file split); the traced run reports
# ``catalog.input_records`` so a drift from this list shows.
TABLES_READ = {
    "sink_python_datasource": ["orders"],
    "streaming_user_totals": ["events"],
    "streaming_session_windows": ["events"],
    "streaming_upsert_merge": ["events"],
    "streaming_dedup_count": ["events"],
}
# Rows generated by the registry's Python DataSources (their oracles replay
# range(10000) and range(2000)).
PYTHON_SOURCE_ROWS = {"source_python_datasource": 10_000, "streaming_sink_python_datasource": 2_000}

WORKLOADS = {
    "mr_corpus": {
        "why": "Layer A MapReduceJob on a seeded Zipf corpus (1M tokens, ~137k distinct words, 8 "
        "shards): task files, a one-split source_df job, run()+finalfn",
    },
    "stream_sinks": {
        "queries": [
            "source_python_datasource",
            "sink_python_datasource",
            "streaming_sink_python_datasource",
            "streaming_user_totals",
            "streaming_session_windows",
            "streaming_upsert_merge",
            "streaming_dedup_count",
        ],
        "why": "sf0.1 Python DataSource read, DataSink write, a Python source-to-sink stream and "
        "four drains of 100k events (stateful, session, MERGE, dedup): the only workload in "
        "sources/ and streaming/",
    },
}


def fixed_sf_dir() -> str:
    """The sf0.1 testdata directory: ``SPARK_GRAFT_SF_DIR`` if set, else
    the sibling of the catalog's default directory."""
    from lua_mapreduce_spark.catalog import DEFAULT_SF_DIR

    return os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
    )


def _table_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


def prepare(workload: str, seed: int, work_dir: str) -> dict:
    """Build the inputs for one run and the expected output of every job.
    Returns the spec the worker runs from."""
    if workload == "mr_corpus":
        gen = corpus.generate(seed, work_dir)
        lay, exp = gen["layout"], gen["expected"]
        shards, docs = lay["shard_dir"], lay["documents"]["dir"]

        def pairs(rows, columns=("key", "value")):
            return expect.canon_rows(list(columns), rows)

        jobs = [
            {"name": "wordcount_task", "task": "wordcount_task.py", "arg": shards,
             "records": lay["tokens"], "expect": pairs(exp["wordcount"])},
            {"name": "inverted_index_task", "task": "inverted_index_task.py", "arg": shards,
             "records": lay["tokens"], "expect": pairs(exp["inverted_index"])},
            {"name": "bigram_count_task", "task": "bigram_count_task.py",
             "arg": f"{shards}:{corpus.MIN_BIGRAM}", "records": lay["tokens"],
             "expect": pairs(exp["bigram_count"])},
            {"name": "frequent_words_finalfn", "task": "frequent_words_task.py",
             "arg": f"{shards}:{corpus.MIN_WORD}", "finalfn_top_k": corpus.TOP_K,
             "records": lay["tokens"], "expect": pairs(exp["frequent_words"]),
             "expect_final": exp["frequent_words_top"]},
        ]
        for q in ("mr_wordcount", "text_wordcount"):
            jobs.append({"name": q, "query": q, "sf_dir": docs, "records": lay["documents"]["tokens"],
                         "expect": pairs(exp["docs_wordcount"], ("word", "cnt"))})
        # The seed already picks the corpus; the job order stays fixed.
        return {"jobs": jobs, "shuffle": False, "inputs": {"corpus": lay}}

    sf_dir = fixed_sf_dir()
    names = WORKLOADS[workload]["queries"]
    oracle = expect.oracle_results(names, sf_dir)
    jobs = []
    for q in names:
        records = sum(_table_rows(sf_dir, t) for t in TABLES_READ.get(q, []))
        records += PYTHON_SOURCE_ROWS.get(q, 0)
        jobs.append({"name": q, "query": q, "sf_dir": sf_dir, "records": records,
                     "expect": oracle[q]})
    # Fixed testdata: the seed sets the job order of every pass.
    return {"jobs": jobs, "shuffle": True, "inputs": {"sf_dir": sf_dir}}
