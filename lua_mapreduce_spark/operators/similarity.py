"""Similarity search over the `embeddings` table (north star).

* sim_cosine_topk — exact brute-force top-k per query vector: the
  correctness baseline. Query set broadcasts against the corpus; the top-k
  is a per-group window, so the plan is one broadcast join + one shuffle on
  query id. At 1000 executors this scales linearly in corpus size.
* sim_ann_lsh_buckets — the scale path: random-hyperplane (SimHash-style)
  LSH. Each vector gets a B-bit signature from deterministic hyperplanes;
  candidates share a signature bucket, ranked by exact cosine inside the
  bucket. Sub-linear candidate generation; recall controlled by B and the
  number of hyperplane tables. Deterministic hyperplanes (seeded) keep it
  oracle-checkable — the oracle replays the same construction in SQL.

Vector math is built-in `aggregate`/`zip_with` over array<float> cast to
double — sequential folds, bitwise-identical across engines (verified), no
Python in the row path. For very wide vectors a Pandas-UDF BLAS path wins;
at dim=64 the JVM codegen path is faster than the Arrow round-trip.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.memo import memo

_DIM = 64
_N_QUERIES = 10  # query set: vec_id < 10
_TOP_K = 5
_N_PLANES = 8

# Deterministic hyperplanes: seeded, quantized to 6 decimals so the SQL
# literal text (shared with the oracle) is the exact double used everywhere.
_rng = random.Random(7)
_PLANES = [
    [round(_rng.gauss(0.0, 1.0), 6) for _ in range(_DIM)] for _ in range(_N_PLANES)
]

_DOT = (
    "aggregate(zip_with(a.embedding, b.embedding,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate({side}.embedding, CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
)
_COS = f"{_DOT} / ({_NORM.format(side='a')} * {_NORM.format(side='b')})"

_ORACLE_DOT = (
    "list_sum(list_transform(list_zip(a.embedding, b.embedding),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_ORACLE_NORM = (
    "sqrt(list_sum(list_transform({side}.embedding,"
    " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
)
_ORACLE_COS = f"{_ORACLE_DOT} / ({_ORACLE_NORM.format(side='a')} * {_ORACLE_NORM.format(side='b')})"


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    emb = parallelize_scan(spark, emb)
    # Broadcast the QUERY SET and stream the corpus: the N*q cosine
    # evaluations parallelize across corpus partitions. (Broadcasting the
    # corpus instead would funnel all scoring through the handful of
    # query-row partitions — single-threaded at any cluster size.)
    a, b = queries.alias("a"), emb.alias("b")
    scored = b.join(F.broadcast(a), F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.expr(_COS).alias("cosine"),
    )
    # Two-phase exact top-k: per-(query, input-partition) prune bounds the
    # final per-query window to nPartitions*k rows — no q-task bottleneck
    # on a 1000-executor cluster.
    w1 = Window.partitionBy("query_id", "pid").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    pruned = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _TOP_K)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


SIM_TOPK_ORACLE = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_ORACLE_COS} AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
  WHERE a.vec_id < {_N_QUERIES})
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {_TOP_K}
"""


def _signature_expr(side: str, plane_dot_fmt: str, planes: list | None = None) -> str:
    """Bit-OR of sign bits across the hyperplanes (engine-agnostic text
    built by the caller via plane_dot_fmt)."""
    terms = []
    for p_idx, plane in enumerate(planes if planes is not None else _PLANES):
        arr = ", ".join(f"CAST({w} AS DOUBLE)" for w in plane)
        dot = plane_dot_fmt.format(side=side, arr=arr)
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p_idx} ELSE 0 END)")
    return " + ".join(terms)


_SPARK_PLANE_DOT = (
    "aggregate(zip_with({side}.embedding, array({arr}),"
    " (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_ORACLE_PLANE_DOT = (
    "list_sum(list_transform(list_zip({side}.embedding, [{arr}]),"
    " p -> CAST(p[1] AS DOUBLE) * p[2]))"
)


def sim_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH buckets: exact cosine only within buckets.
    Returns each query's best same-bucket neighbors — the recall/cost
    trade-off of real ANN, fully deterministic."""
    emb = parallelize_scan(spark, load_table(spark, sf_dir, "embeddings"))
    sig = emb.alias("a").select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.embedding").alias("embedding"),
        F.expr(_signature_expr("a", _SPARK_PLANE_DOT)).cast("int").alias("sig"),
    )
    a = sig.filter(F.col("vec_id") < _N_QUERIES).alias("a")
    b = sig.alias("b")
    scored = a.join(
        b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.vec_id") != F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.col("a.sig").alias("bucket"),
        F.expr(_COS).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cosine", "rank")
    )


def _ann_oracle() -> str:
    sig_a = _signature_expr("a", _ORACLE_PLANE_DOT)
    return f"""
WITH sig AS (
  SELECT a.vec_id AS vec_id, a.embedding AS embedding,
         CAST({sig_a} AS INT) AS sig
  FROM embeddings a),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.sig AS bucket,
         {_ORACLE_COS} AS cosine
  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id != b.vec_id
  WHERE a.vec_id < {_N_QUERIES})
SELECT query_id, neighbor_id, bucket, cosine, rank FROM (
  SELECT query_id, neighbor_id, bucket, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {_TOP_K}
"""


# --------------------------------------------------------------------------
# Multi-table hyperplane LSH: the standard L-tables x B-bits banding. A
# single B-bit table's recall collapses as the corpus grows (a true
# neighbor must agree on ALL B sign bits); with L independent tables a pair
# is a candidate if it collides in ANY table, so recall ~ 1-(1-p^B)^L while
# per-table buckets stay small. Same trick as MinHash banding (dedup.py),
# applied to the cosine/hyperplane family.
# --------------------------------------------------------------------------

_MT_TABLES = 6
_MT_BITS = 5

# Independent deterministic plane sets per table (seeded, quantized so the
# SQL literal text is the exact double in both engines).
_mt_rng = random.Random(11)
_MT_PLANES = [
    [[round(_mt_rng.gauss(0.0, 1.0), 6) for _ in range(_DIM)] for _ in range(_MT_BITS)]
    for _ in range(_MT_TABLES)
]


def sim_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via L-table hyperplane LSH. One scan computes all L signatures
    per vector in a single projection; stack() unpivots to (table, sig)
    rows, candidates join on (table, sig), and per-pair dedup is a groupBy
    that also counts collision multiplicity (n_tables — a free confidence
    signal). Cosine is evaluated in the join projection (at most L times
    per pair, L=_MT_TABLES) rather than re-joining embeddings after dedup: two
    extra shuffle joins would cost more than the redundant folds."""
    emb = parallelize_scan(spark, load_table(spark, sf_dir, "embeddings"))
    sigs = emb.alias("a").select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.embedding").alias("embedding"),
        *[
            F.expr(_signature_expr("a", _SPARK_PLANE_DOT, _MT_PLANES[t]))
            .cast("int")
            .alias(f"sig{t}")
            for t in range(_MT_TABLES)
        ],
    )
    stack_args = ", ".join(f"{t}, sig{t}" for t in range(_MT_TABLES))
    long = sigs.selectExpr(
        "vec_id", "embedding", f"stack({_MT_TABLES}, {stack_args}) AS (t, sig)"
    )
    a = long.filter(F.col("vec_id") < _N_QUERIES).alias("a")
    b = long.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(_COS).alias("cosine"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("n_tables"), F.min("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "n_tables", "rank")
    )


def _multitable_oracle() -> str:
    sig_cols = ",\n         ".join(
        f"CAST({_signature_expr('a', _ORACLE_PLANE_DOT, _MT_PLANES[t])} AS INT) AS sig{t}"
        for t in range(_MT_TABLES)
    )
    unions = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, embedding, {t} AS t, sig{t} AS sig FROM sig"
        for t in range(_MT_TABLES)
    )
    return f"""
WITH sig AS (
  SELECT a.vec_id AS vec_id, a.embedding AS embedding,
         {sig_cols}
  FROM embeddings a),
long AS (
{unions}),
cand AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         COUNT(*) AS n_tables,
         MIN({_ORACLE_COS}) AS cosine
  FROM long a JOIN long b ON a.t = b.t AND a.sig = b.sig AND a.vec_id != b.vec_id
  WHERE a.vec_id < {_N_QUERIES}
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, cosine, n_tables, rank FROM (
  SELECT query_id, neighbor_id, cosine, n_tables,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand)
WHERE rank <= {_TOP_K}
"""


# Embedding near-dup threshold — mirrors dedup.dedup_embedding_cosine's
# exact all-pairs baseline (dedup.py), for which this is the scale path.
_DUP_COSINE_THRESHOLD = 0.40


def lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cosine, n_tables): embedding near-dup pairs at scale.
    Candidate pairs must collide in >= 1 of the L hyperplane tables, then
    exact cosine + threshold inside the buckets. Near-identical vectors
    agree on almost every sign bit, so true duplicates collide with high
    probability while the candidate count stays ~sum of squared bucket
    sizes instead of n^2/2. Shared pipeline behind dedup_embedding_lsh
    (confidence-annotated) and dedup.dedup_embedding_cosine (canonical
    pair list)."""
    emb = parallelize_scan(spark, load_table(spark, sf_dir, "embeddings"))
    sigs = emb.alias("a").select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.embedding").alias("embedding"),
        *[
            F.expr(_signature_expr("a", _SPARK_PLANE_DOT, _MT_PLANES[t]))
            .cast("int")
            .alias(f"sig{t}")
            for t in range(_MT_TABLES)
        ],
    )
    stack_args = ", ".join(f"{t}, sig{t}" for t in range(_MT_TABLES))
    long = sigs.selectExpr(
        "vec_id", "embedding", f"stack({_MT_TABLES}, {stack_args}) AS (t, sig)"
    )
    a, b = long.alias("a"), long.alias("b")
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(_COS).alias("cosine"),
        )
        .groupBy("vec_a", "vec_b")
        .agg(F.count(F.lit(1)).alias("n_tables"), F.min("cosine").alias("cosine"))
        .filter(F.col("cosine") >= _DUP_COSINE_THRESHOLD)
        .select("vec_a", "vec_b", "cosine", "n_tables")
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_dup_pairs with the collision multiplicity (n_tables) kept as a
    confidence signal."""
    return lsh_dup_pairs(spark, sf_dir)


def _dedup_lsh_oracle(with_tables: bool = True) -> str:
    sig_cols = ",\n         ".join(
        f"CAST({_signature_expr('a', _ORACLE_PLANE_DOT, _MT_PLANES[t])} AS INT) AS sig{t}"
        for t in range(_MT_TABLES)
    )
    unions = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, embedding, {t} AS t, sig{t} AS sig FROM sig"
        for t in range(_MT_TABLES)
    )
    return f"""
WITH sig AS (
  SELECT a.vec_id AS vec_id, a.embedding AS embedding,
         {sig_cols}
  FROM embeddings a),
long AS (
{unions}),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         COUNT(*) AS n_tables,
         MIN({_ORACLE_COS}) AS cosine
  FROM long a JOIN long b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
  GROUP BY 1, 2)
SELECT vec_a, vec_b, cosine{", n_tables" if with_tables else ""}
FROM cand WHERE cosine >= {_DUP_COSINE_THRESHOLD}
"""


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse-quantize the corpus into cells around
# centroid vectors; probe only the query's nearest cells. The other classic
# ANN scale path next to LSH: candidate cost drops from O(N) to
# O(N * nprobe / n_cells) per query.
#
# Centroid training is a fixed-iteration seeded Lloyd's k-means over a
# deterministic hash sample, made oracle-exact by doing the only
# order-sensitive arithmetic (the per-cluster mean) in INTEGER space:
# each embedding element is quantized to round(x * 1e6) as BIGINT, so the
# cluster sums are exact integers (order-independent in both engines) and
# the centroid element is the bitwise-identical double sum/count. Cosine
# folds are sequential over identical doubles, so assignments — including
# tie-breaks — replay exactly in DuckDB.
# --------------------------------------------------------------------------

# Demo-scale constants: the testdata embeddings are near-random (top-5
# exact neighbors share the generator's `label` at chance rate), which is
# ANN's worst case — recall can only come from coverage, so k=8 cells with
# nprobe=5 (~62% coverage) is what holds recall@5 at 0.86/0.80 (sf0.001/
# sf0.01), matching the pre-k-means numbers, which were inflated by the old
# "centroids = first 8 corpus vectors" coinciding with the query set. At
# real corpus scale k grows to ~sqrt(N) (4096+) and nprobe/k drops to a few
# percent; the plan shape (broadcast centroids, cell join) is unchanged.
_N_CENTROIDS = 8
_N_PROBE = 5
_KM_ITERS = 5
_KM_SAMPLE_MOD = 4  # train on the vec_id % 4 == 0 quarter-sample ...
_KM_SAMPLE_CAP = 2048  # ... capped: training cost is O(1) in corpus size

# Quantized-integer view of a vector (scale cancels in cosine, so training
# stays in the 1e6-scaled domain end to end; the scaled values are exact in
# both BIGINT and double).
_KM_QV = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"


def _km_train_pandas(pdf):
    """All _KM_ITERS Lloyd rounds over the bounded sample, inside one task.

    Bit-compatibility with the SQL replay (the DuckDB oracle's CTE chain,
    which r01/r02 proved hash-equal to Spark's own fold): every float is
    IEEE-754 double and every accumulation runs in the SAME order as the
    SQL ``aggregate()`` left fold — the numpy loops below accumulate
    dimension-by-dimension (`acc += x_k * y_k`, k ascending), each `+=` one
    correctly-rounded add per element, so dot products, norms, sqrt,
    divide, and the int-sum/count centroid means all reproduce the SQL
    values bit-for-bit. Ties in the assignment pick the lowest cent_id
    (argmax returns the first max; centroids are kept cent_id-ascending),
    matching the oracle's (ccos DESC, cent_id ASC) ranking."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    qi = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])  # (n, 64)
    D = qi.astype(np.float64)  # exact: |q| <= ~1e6 << 2^53
    n = D.shape[0]
    # Row norms, dimension-sequential fold (invariant across rounds).
    nd = np.zeros(n)
    for k in range(D.shape[1]):
        nd += D[:, k] * D[:, k]
    nd = np.sqrt(nd)
    seed_mask = pdf["vec_id"].to_numpy() < _KM_SAMPLE_MOD * _N_CENTROIDS
    cent_ids = pdf["vec_id"].to_numpy()[seed_mask]
    C = D[seed_mask].copy()  # (k, 64), cent_id-ascending (sorted input)
    for _ in range(_KM_ITERS):
        nc = np.zeros(C.shape[0])
        for k in range(C.shape[1]):
            nc += C[:, k] * C[:, k]
        nc = np.sqrt(nc)
        dots = np.zeros((n, C.shape[0]))
        for k in range(D.shape[1]):
            dots += np.outer(D[:, k], C[:, k])
        cos = dots / (nd[:, None] * nc[None, :])
        best = np.argmax(cos, axis=1)  # first max = lowest cent_id on ties
        for c in range(C.shape[0]):
            members = qi[best == c]
            if len(members):  # empty clusters keep the previous centroid
                sums = members.sum(axis=0)  # int64, exact, order-free
                C[c] = sums.astype(np.float64) / np.float64(len(members))
    return pd.DataFrame({"cent_id": cent_ids, "cemb": [list(row) for row in C]})


def _km_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cent_id, cemb) after _KM_ITERS Lloyd rounds; cemb is in the
    1e6-scaled double domain. Seeds are the first _N_CENTROIDS sample
    vectors by vec_id (testdata vec_ids are dense from 0). Empty clusters
    keep their previous centroid. The training set is BOUNDED
    (<= _KM_SAMPLE_CAP/_KM_SAMPLE_MOD rows — k-means trains on a sample by
    standard practice), so training cost is O(1) in corpus size — which is
    exactly why the iterative loop runs INSIDE one `applyInPandas` task
    (single group) instead of as _KM_ITERS driver-sequenced Spark jobs:
    the declarative version spent ~7 s/sf0.1 on pure job-launch overhead
    (crossJoin + window + 64-sum agg + checkpoint per round) to transform
    <=512 rows. One executor task does all rounds in milliseconds, no row
    ever reaches the driver, and the arithmetic is bit-identical to the
    SQL replay (see _km_train_pandas). At 100 TB nothing changes: the
    sample stays bounded, training is one task, and only the 8-row
    centroid table flows on.

    Memoized: every consumer needs only the final 8 rows, so the
    checkpointed result is shared and the bench times the build as its
    own line (sim_ivf_centroid_train)."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        sample = emb.filter(
            (F.col("vec_id") % _KM_SAMPLE_MOD == 0)
            & (F.col("vec_id") < _KM_SAMPLE_CAP)
        ).select("vec_id", F.expr(_KM_QV).alias("qv"))
        cent = sample.groupBy(F.lit(0).alias("g")).applyInPandas(
            _km_train_pandas, "cent_id bigint, cemb array<double>"
        )
        # 8 tiny rows referenced several times downstream: materialize once
        # so consumers don't re-run the training task per reference.
        return cent.localCheckpoint(eager=True).select("cent_id", "cemb")

    return memo(spark, sf_dir, "km_centroids", build)


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = _km_centroids(spark, sf_dir)
    corpus = parallelize_scan(spark, emb)

    cos_to_cent = (
        "aggregate(zip_with(embedding, cemb,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        " / (sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        " * sqrt(aggregate(cemb, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
    )
    # Assignment: N x C cosines, centroids broadcast, one window on vec_id.
    rank_w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    assign = (
        corpus.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "cent_id", F.expr(cos_to_cent).alias("ccos"))
        .withColumn("crank", F.row_number().over(rank_w))
    )
    cells = assign.filter(F.col("crank") == 1).select("vec_id", "embedding", "cent_id")
    probes = (
        assign.filter((F.col("vec_id") < _N_QUERIES) & (F.col("crank") <= _N_PROBE))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "cent_id")
    )
    scored = (
        probes.alias("a")
        .join(cells.alias("b"), "cent_id")
        .filter(F.col("a.q_id") != F.col("b.vec_id"))
        .select(
            F.col("a.q_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(a.q_emb, b.embedding,"
                " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                " / (sqrt(aggregate(a.q_emb, CAST(0.0 AS DOUBLE),"
                " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
                " * sqrt(aggregate(b.embedding, CAST(0.0 AS DOUBLE),"
                " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
            ).alias("cosine"),
        )
        .distinct()  # a vector in 2 probed cells would otherwise pair twice
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _km_oracle_ctes() -> str:
    """DuckDB replay of _km_centroids: same quantization, same seeds, same
    _KM_ITERS Lloyd rounds; ends in a `cent(cent_id, cemb)` CTE."""
    qv_sql = (
        "list_transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
    )
    km_cos = (
        "list_sum(list_transform(list_zip(s.dv, c.cdv), p -> p[1] * p[2]))"
        " / (sqrt(list_sum(list_transform(s.dv, v -> v * v)))"
        " * sqrt(list_sum(list_transform(c.cdv, v -> v * v))))"
    )
    sums = ", ".join(f"SUM(qv[{i + 1}])" for i in range(_DIM))
    ctes = [
        f"""km_s AS (
  SELECT vec_id, qv, list_transform(qv, s -> CAST(s AS DOUBLE)) AS dv
  FROM (SELECT vec_id, {qv_sql} AS qv FROM embeddings
        WHERE vec_id % {_KM_SAMPLE_MOD} = 0 AND vec_id < {_KM_SAMPLE_CAP}))""",
        f"""km_c0 AS (
  SELECT vec_id AS cent_id, dv AS cdv FROM km_s
  WHERE vec_id < {_KM_SAMPLE_MOD * _N_CENTROIDS})""",
    ]
    for t in range(1, _KM_ITERS + 1):
        ctes.append(f"""km_a{t} AS (
  SELECT s.vec_id, s.qv, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id
                            ORDER BY {km_cos} DESC, c.cent_id ASC) AS rnk
  FROM km_s s CROSS JOIN km_c{t - 1} c)""")
        ctes.append(f"""km_u{t} AS (
  SELECT cent_id, COUNT(*) AS cnt, list_value({sums}) AS csum
  FROM km_a{t} WHERE rnk = 1 GROUP BY cent_id)""")
        ctes.append(f"""km_c{t} AS (
  SELECT c.cent_id,
         CASE WHEN u.cnt IS NULL THEN c.cdv
              ELSE list_transform(u.csum,
                                  s -> CAST(s AS DOUBLE) / CAST(u.cnt AS DOUBLE))
         END AS cdv
  FROM km_c{t - 1} c LEFT JOIN km_u{t} u USING (cent_id))""")
    ctes.append(f"cent AS (SELECT cent_id, cdv AS cemb FROM km_c{_KM_ITERS})")
    return ",\n".join(ctes)


def _ivf_oracle() -> str:
    cos_ab = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform({a},"
        " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({b},"
        " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    )
    return f"""
WITH {_km_oracle_ctes()},
assign AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos_ab.format(a="e.embedding", b="c.cemb")} DESC,
                                     c.cent_id ASC) AS crank
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, embedding, cent_id FROM assign WHERE crank = 1),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, cent_id
  FROM assign WHERE vec_id < {_N_QUERIES} AND crank <= {_N_PROBE}),
scored AS (
  SELECT DISTINCT a.q_id AS query_id, b.vec_id AS neighbor_id,
         {cos_ab.format(a="a.q_emb", b="b.embedding")} AS cosine
  FROM probes a JOIN cells b ON a.cent_id = b.cent_id AND a.q_id != b.vec_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {_TOP_K}
"""


# --------------------------------------------------------------------------
# Int8-quantized cosine top-k: the memory-bandwidth scale path.
#
# At 100 TB the exact float path is bandwidth-bound: float32 vectors cost
# 4 bytes/dim through every scan, shuffle, and broadcast. Symmetric
# per-vector int8 quantization (q_i = round(v_i / max|v| * 127)) cuts
# that 4x, turns the inner loop into integer multiply-adds (SIMD-friendly
# on any executor), and loses almost nothing on ranking — the recall@k
# floor vs the exact float path is asserted in tests/test_similarity.
#
# Everything is deterministic: the quantizer uses floor(x + 0.5) (both
# engines' floor is exact IEEE; round() would differ — Spark HALF_UP vs
# DuckDB's away-from-zero at representational edge cases), dot products
# and squared norms are exact BIGINT sums, and the final score divides
# the integer dot by the product of sqrt'd integer norms — the same IEEE
# double expression text on both sides. Full value oracle.
# --------------------------------------------------------------------------

_Q_LEVELS = 127.0
_Q_EPS = "CAST(1e-30 AS DOUBLE)"  # all-zero-vector guard


def _q_scale(emb: str, engine: str) -> str:
    if engine == "spark":
        m = (
            f"aggregate({emb}, CAST(0.0 AS DOUBLE),"
            " (acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE))))"
        )
    else:
        m = f"list_max(list_transform({emb}, v -> abs(CAST(v AS DOUBLE))))"
    return f"greatest({m}, {_Q_EPS})"


def _q_vec(emb: str, qs: str, engine: str) -> str:
    lam = f"CAST(floor(CAST(v AS DOUBLE) * {_Q_LEVELS} / {qs} + 0.5) AS BIGINT)"
    fn = "transform" if engine == "spark" else "list_transform"
    return f"{fn}({emb}, v -> {lam})"


def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.selectExpr(
        "vec_id", f"{_q_scale('embedding', 'spark')} AS qs", "embedding"
    ).selectExpr("vec_id", f"{_q_vec('embedding', 'qs', 'spark')} AS qv")
    q = q.selectExpr(
        "vec_id",
        "qv",
        "aggregate(qv, CAST(0 AS BIGINT), (acc, v) -> acc + v * v) AS qn",
    )
    queries = q.filter(F.col("vec_id") < _N_QUERIES)
    corpus = parallelize_scan(spark, q)
    a, b = queries.alias("a"), corpus.alias("b")
    dotq = (
        "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = b.join(F.broadcast(a), F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.expr(dotq).alias("dotq"),
        F.col("a.qn").alias("qna"),
        F.col("b.qn").alias("qnb"),
    )
    scored = scored.selectExpr(
        "query_id",
        "neighbor_id",
        "dotq",
        "CAST(dotq AS DOUBLE) / (sqrt(CAST(qna AS DOUBLE))"
        " * sqrt(CAST(qnb AS DOUBLE))) AS qcos",
    )
    # Same two-phase exact top-k as sim_cosine_topk: partition-local prune
    # bounds the per-query window input to nPartitions*k rows.
    w1 = Window.partitionBy("query_id", "pid").orderBy(
        F.desc("qcos"), F.asc("neighbor_id")
    )
    pruned = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _TOP_K)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "dotq", "qcos", "rank")
    )


def _quantized_oracle() -> str:
    return f"""
WITH s AS (
  SELECT vec_id, embedding, {_q_scale("embedding", "duck")} AS qs
  FROM embeddings),
q AS (
  SELECT vec_id, {_q_vec("embedding", "qs", "duck")} AS qv FROM s),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS qn
  FROM q),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                                      p -> p[1] * p[2])) AS BIGINT) AS dotq,
         a.qn AS qna, b.qn AS qnb
  FROM n a JOIN n b ON a.vec_id != b.vec_id
  WHERE a.vec_id < {_N_QUERIES})
SELECT query_id, neighbor_id, dotq, qcos, rank FROM (
  SELECT query_id, neighbor_id, dotq,
         CAST(dotq AS DOUBLE) / (sqrt(CAST(qna AS DOUBLE))
           * sqrt(CAST(qnb AS DOUBLE))) AS qcos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dotq AS DOUBLE) / (sqrt(CAST(qna AS DOUBLE))
                      * sqrt(CAST(qnb AS DOUBLE))) DESC,
                    neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {_TOP_K}
"""


QUERIES = {
    "sim_cosine_topk": sim_cosine_topk,
    "sim_quantized_topk": sim_quantized_topk,
    "sim_ann_lsh_buckets": sim_ann_lsh_buckets,
    "sim_ann_multitable": sim_ann_multitable,
    "sim_ivf_topk": sim_ivf_topk,
    "dedup_embedding_lsh": dedup_embedding_lsh,
}

ORACLES = {
    "sim_cosine_topk": SIM_TOPK_ORACLE,
    "sim_quantized_topk": _quantized_oracle(),
    "sim_ann_lsh_buckets": _ann_oracle(),
    "sim_ann_multitable": _multitable_oracle(),
    "sim_ivf_topk": _ivf_oracle(),
    "dedup_embedding_lsh": _dedup_lsh_oracle(),
}
