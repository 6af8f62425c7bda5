"""Round-12 operator wave: strongly connected components (Kosaraju's
forward∩backward reachability), the AMS/tug-of-war second-moment sketch,
rank-sum evaluation metrics (Mann-Whitney AUC, Cohen's kappa), a
per-file Bloom-filter skipping index, CUSUM change-point detection,
Pareto-skyline selection, maximum-spanning-tree membership via the
bottleneck-semiring closure, and NSW-style graph ANN with gated recall.

The wave extends SURVEY §2.4 families the earlier rounds opened:

* graph — `graph_trade_closure_recursive_cte` (analytics5.py) handles the
  cyclic reachability closure; SCC is its quotient structure, the thing a
  dependency analyzer or a crawl-loop detector actually wants. Kosaraju's
  insight (forward pass + reverse-graph pass) maps onto two bounded
  recursive CTEs over a pre-squared step relation.
* sketches — HLL/GK/Count-Min/Misra-Gries/KMV are all here; AMS
  (Alon-Matias-Szegedy 1996, the tug-of-war sketch) adds the SECOND
  frequency moment F2 = sum(f_i^2), which none of them estimate — and F2
  is the self-join SIZE, the cardinality statistic a join planner needs
  before committing to a strategy for a skewed self-join.
* evaluation — a curation pipeline that emits quality scores owes its
  consumers the evaluator loop: AUC says whether the score RANKS good
  documents above bad ones, kappa says whether two labeling passes agree
  beyond chance. Both are exact integer rank/count arithmetic here, not
  approximations.
* layout — `layout_zonemap_skipping` (analytics6.py) quantifies min/max
  pruning, which dies on scattered secondary keys; the per-file Bloom
  index is the standard answer (Parquet bloom_filter_enabled, Iceberg
  puffin blobs), quantified here the same way.

Reference context: the reference engine (lua-mapreduce, 2012) has a
single workload (word count, example/word-count-taskfile.lua:73-159) and
none of these surfaces; they extend SURVEY.md §2.4's graph, sketch,
curation and layout rows per the north-star brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import (
    md5_bigint_expr,
    oracle_md5_bigint_expr,
    oracle_words_expr,
    words_expr,
)

# --------------------------------------------------------------------------
# Strongly connected components (Kosaraju — SURVEY §7.4 r12 candidate 4)
# --------------------------------------------------------------------------

_SCC_FANOUT = 2  # top trade partners kept per nation (sparser than the
#                  closure's 3: more interesting SCC structure)
_SCC_STEPS = 7  # recursion depth over the <=4-hop step relation:
#                 levels 1..7 cover path lengths 1..28 > 24 = the longest
#                 possible shortest path on 25 nodes — structurally EXACT


def _trade_line_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cn, sn): one row per lineitem with the customer and supplier
    nation names (cn != sn) — the Q7-shaped 5-way join shared by this
    module's SCC and MST edge builds. (analytics5's
    graph_trade_closure_recursive_cte keeps its own inline copy: it is a
    registered, driver-verified query deliberately left untouched by the
    r12 refactor; the oracle twins are necessarily inline SQL.)"""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cn")
    )
    nation_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cn") != F.col("sn"))
        .select("cn", "sn")
    )


def _scc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation trade graph: for each customer nation its top
    _SCC_FANOUT supplier nations by lineitem count (count DESC, name ASC
    — exact-integer deterministic). Same Q7-shaped 5-way join +
    WindowGroupLimit sparsifier as the r10 closure
    (graph_trade_closure_recursive_cte), with a tighter fanout."""
    trade = (
        _trade_line_pairs(spark, sf_dir)
        .groupBy(F.col("cn").alias("src"), F.col("sn").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    wr = Window.partitionBy("src").orderBy(
        F.col("n_lines").desc(), F.col("dst")
    )
    return (
        trade.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _SCC_FANOUT)
        .select("src", "dst")
    )


# --------------------------------------------------------------------------
# Memoized trade-graph substrate (r16 optimization round, guide §2.4:
# "remove shuffles outright"). Fourteen registered graph queries consume
# the SAME <=50-row capped edge relation, and three of them additionally
# walk the SAME <=_CC_HOPS-hop shortest-distance relation over it; before
# r16 every one of them re-ran the Q7-shaped 5-way fact join (~1-2 s at
# sf0.1) and closeness/eccentricity each re-ran the identical depth-12
# recursion (~3-5 s) — per-query substrate rebuild, not per-query work.
# The _nsw_base convention: localCheckpoint materializes eagerly, only
# the current (applicationId, sf_dir) entry is kept, a clear function
# lets the bench time the cold build explicitly. Results are identical
# by construction — consumers receive the same relation they used to
# build inline.
# --------------------------------------------------------------------------

_TRADE_CACHE: dict = {}


def clear_trade_cache() -> None:
    _TRADE_CACHE.clear()


def _trade_face(spark: SparkSession, sf_dir: str, face: str, build):
    key = (spark.sparkContext.applicationId, sf_dir)
    ent = _TRADE_CACHE.get(key)
    if ent is None:
        _TRADE_CACHE.clear()
        ent = _TRADE_CACHE[key] = {}
    if face not in ent:
        ent[face] = build()
    return ent[face]


def _trade_edges_ck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized localCheckpoint'd _scc_edges — the shared capped directed
    trade graph every graph_* query on the nation substrate consumes."""
    return _trade_face(
        spark,
        sf_dir,
        "edges",
        lambda: _scc_edges(spark, sf_dir).localCheckpoint(eager=True),
    )


def _trade_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, hops): MIN shortest-path hops within _CC_HOPS over the
    shared edge relation — the bounded ``WITH RECURSIVE`` walk + MIN(d)
    grain that graph_closeness_centrality, graph_eccentricity_diameter
    and the Brandes base (analytics9._bc_base) all define identically
    (same edges, same depth bound, same per-level DISTINCT), memoized so
    one process executes it once."""

    def build() -> DataFrame:
        edges = _trade_edges_ck(spark, sf_dir)
        edges.createOrReplaceTempView("lmrs_trade_edges_v")
        return spark.sql(
            f"""
            WITH RECURSIVE r(src, dst, d) AS (
              SELECT src, dst, 1 FROM lmrs_trade_edges_v
              UNION ALL
              SELECT DISTINCT r.src, e.dst, r.d + 1
              FROM r JOIN lmrs_trade_edges_v e ON r.dst = e.src
              WHERE r.d < {_CC_HOPS} AND r.src <> e.dst
            )
            SELECT src, dst, CAST(MIN(d) AS BIGINT) AS hops
            FROM r GROUP BY src, dst
            """
        ).localCheckpoint(eager=True)

    return _trade_face(spark, sf_dir, "dists", build)


def _square_steps(steps: DataFrame) -> DataFrame:
    """paths(<=2L) from paths(<=L): steps ∪ (steps ∘ steps), self-pairs
    dropped (any walk through a (u,u) loop has a shorter loop-free walk,
    so dropping them never loses a reachable pair)."""
    j = (
        steps.alias("a")
        .join(steps.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return steps.unionByName(j).distinct()


def graph_scc_kosaraju(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed nation trade graph —
    Kosaraju's characterization: u and v share an SCC iff u reaches v in
    the graph AND u reaches v in the REVERSED graph (i.e. v also reaches
    u). Forward and backward reachability are two bounded ``WITH
    RECURSIVE`` closures (the cyclic-graph complement of
    graph_trade_closure_recursive_cte, SURVEY §7.4 r12 candidate 4); the
    component id is the canonical MIN member name and every node carries
    its component's size.

    Depth bound, structurally exact: the recursion walks a PRE-SQUARED
    step relation (edges doubled twice -> all <=4-hop pairs, itself a
    bounded <=625-row relation), so _SCC_STEPS=7 levels cover shortest
    paths up to length 28 > 24 = n_nodes - 1 — no reachable pair can
    need more. Squaring first matters operationally: a depth-25 walk on
    raw edges costs 25 per-level recursion rounds (measured 14.7 s at
    sf0.1 — per-level fixed cost, not data), while 2 tiny self-joins +
    7 levels run in ~3 s with IDENTICAL pair coverage.

    Scale shape: the edge build aggregates the fact join down to <=625
    pairs BEFORE the window rank (dims broadcast, fact joins shuffle on
    keys exactly like q7); everything after — squaring, both recursions,
    the mutual intersection, the min-label rollup — runs on
    schema-bounded <=625-row relations (25 nations), localCheckpoint'd
    so no level recomputes the fact join. On a bigger graph the same
    plan holds with the step relation bucketed by src; the recursion
    depth grows with log(diameter), not node count."""
    edges = _trade_edges_ck(spark, sf_dir)
    steps4 = _square_steps(_square_steps(edges)).localCheckpoint(eager=True)
    steps4.createOrReplaceTempView("lmrs_scc_steps_v")
    closure_sql = """
        WITH RECURSIVE r(src, dst, d) AS (
          SELECT src, dst, 1 FROM {view}
          UNION ALL
          SELECT DISTINCT r.src, e.dst, r.d + 1
          FROM r JOIN {view} e ON r.dst = e.src
          WHERE r.d < {steps} AND r.src <> e.dst
        )
        SELECT DISTINCT src, dst FROM r
    """
    fwd = spark.sql(
        closure_sql.format(view="lmrs_scc_steps_v", steps=_SCC_STEPS)
    ).localCheckpoint(eager=True)
    # bwd(u, v): u reaches v in the REVERSED graph == v reaches u in the
    # original — so the backward closure is exactly the forward closure
    # TRANSPOSED, and since the depth bound is structurally exact (28 >
    # the longest possible shortest path on 25 nodes, see the docstring)
    # both closures are FULL reachability and the transpose identity is
    # exact. One recursion instead of two (r16 optimization round); the
    # checkpoint stops the surviving recursion from executing twice under
    # its two consumers. fwd ∩ bwd on (src, dst) is mutual reachability.
    bwd = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = fwd.join(bwd, ["src", "dst"])
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    members = mutual.select(
        F.col("src").alias("node"), F.col("dst").alias("peer")
    ).unionByName(nodes.select("node", F.col("node").alias("peer")))
    scc = members.groupBy("node").agg(F.min("peer").alias("scc_id"))
    sizes = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).alias("scc_size")
    )
    return scc.join(sizes, "scc_id").select("node", "scc_id", "scc_size")


SCC_ORACLE = f"""
WITH RECURSIVE trade AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS n_lines
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
  GROUP BY 1, 2),
edges AS (
  SELECT src, dst FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                 ORDER BY n_lines DESC, dst) AS rn
    FROM trade)
  WHERE rn <= {_SCC_FANOUT}),
s2 AS (
  SELECT src, dst FROM edges
  UNION
  SELECT a.src, b.dst FROM edges a JOIN edges b ON a.dst = b.src
  WHERE a.src <> b.dst),
s4 AS (
  SELECT src, dst FROM s2
  UNION
  SELECT a.src, b.dst FROM s2 a JOIN s2 b ON a.dst = b.src
  WHERE a.src <> b.dst),
fwd(src, dst, d) AS (
  SELECT src, dst, 1 FROM s4
  UNION ALL
  SELECT DISTINCT r.src, e.dst, r.d + 1
  FROM fwd r JOIN s4 e ON r.dst = e.src
  WHERE r.d < {_SCC_STEPS} AND r.src <> e.dst),
bwd(src, dst, d) AS (
  SELECT dst, src, 1 FROM s4
  UNION ALL
  SELECT DISTINCT r.src, e.src, r.d + 1
  FROM bwd r JOIN s4 e ON r.dst = e.dst
  WHERE r.d < {_SCC_STEPS} AND r.src <> e.src),
mutual AS (
  SELECT DISTINCT f.src, f.dst
  FROM (SELECT DISTINCT src, dst FROM fwd) f
  JOIN (SELECT DISTINCT src, dst FROM bwd) b
    ON f.src = b.src AND f.dst = b.dst),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
members AS (
  SELECT src AS node, dst AS peer FROM mutual
  UNION
  SELECT node, node FROM nodes),
scc AS (
  SELECT node, MIN(peer) AS scc_id FROM members GROUP BY node),
sizes AS (
  SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY scc_id)
SELECT node, scc.scc_id AS scc_id, scc_size
FROM scc JOIN sizes ON scc.scc_id = sizes.scc_id
"""


# --------------------------------------------------------------------------
# Harmonic closeness centrality (bounded-hop, over the SCC trade graph)
# --------------------------------------------------------------------------

_CC_HOPS = 12  # hop bound: h-bounded harmonic centrality (Boldi & Vigna
#                2014 treat truncated variants as first-class; the bound
#                is part of the SEMANTICS here, identical in the oracle)


def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality of the directed nation trade graph
    (the top-2-partner edges shared with graph_scc_kosaraju) — the
    reachability-weighted complement of the family's pagerank
    (influence) and k-core (cohesion) members: H(u) = sum over v
    reached within _CC_HOPS hops of 1000 DIV d(u, v), in integer
    permille, plus the reach count. Harmonic (not classic 1/sum-d)
    because it handles unreachable pairs gracefully — they contribute
    zero instead of poisoning the sum — and the hop bound is explicit
    TRUNCATED-centrality semantics (both engines apply the same bound,
    so the gate checks the truncated definition exactly). Distances are
    shortest-path hops from a bounded ``WITH RECURSIVE`` walk with
    per-level DISTINCT over the cyclic graph (the trade-closure
    convention; depth 12 on raw edges measured ~3 s at sf0.1 — the
    recursion's per-level fixed cost, not data volume).

    Scale shape: the edge build collapses the fact join to <=50 rows
    before the recursion (the shared _scc_edges path); the walk, the
    MIN(d) grain and the per-node rollup all run on schema-bounded
    <=625-row relations."""
    edges = _trade_edges_ck(spark, sf_dir)
    dists = _trade_dists(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    per_node = dists.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.expr("CAST(SUM(1000 DIV hops) AS BIGINT)").alias(
            "harmonic_permille"
        ),
    )
    return (
        nodes.join(per_node, "node", "left")
        .select(
            "node",
            F.expr("COALESCE(n_reached, 0)").alias("n_reached"),
            F.expr("COALESCE(harmonic_permille, 0)").alias(
                "harmonic_permille"
            ),
        )
    )


CLOSENESS_ORACLE = f"""
WITH RECURSIVE trade AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS n_lines
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
  GROUP BY 1, 2),
edges AS (
  SELECT src, dst FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                 ORDER BY n_lines DESC, dst) AS rn
    FROM trade)
  WHERE rn <= {_SCC_FANOUT}),
r(src, dst, d) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT DISTINCT r.src, e.dst, r.d + 1
  FROM r JOIN edges e ON r.dst = e.src
  WHERE r.d < {_CC_HOPS} AND r.src <> e.dst),
dists AS (
  SELECT src, dst, CAST(MIN(d) AS BIGINT) AS hops FROM r GROUP BY 1, 2),
nodes AS (
  -- explicit DISTINCT over UNION ALL: inside a WITH RECURSIVE clause
  -- DuckDB gives a two-branch UNION recursive-union semantics and does
  -- NOT apply the final dedup (observed 100 rows / 25 distinct; the
  -- SCC oracle survives the same quirk only because a GROUP BY absorbs
  -- its duplicates downstream)
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
per_node AS (
  SELECT src AS node, COUNT(*) AS n_reached,
         CAST(SUM(1000 // hops) AS BIGINT) AS harmonic_permille
  FROM dists GROUP BY src)
SELECT node, COALESCE(n_reached, 0) AS n_reached,
       COALESCE(harmonic_permille, 0) AS harmonic_permille
FROM nodes LEFT JOIN per_node USING (node)
"""


# --------------------------------------------------------------------------
# AMS / tug-of-war F2 sketch (self-join size estimation)
# --------------------------------------------------------------------------

_AMS_R = 40  # independent sign-hash estimators
_AMS_G = 8  # estimators per mean group -> 5 groups, odd-count median


def agg_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS/tug-of-war sketch (Alon, Matias & Szegedy 1996) for the SECOND
    frequency moment of the events-per-user distribution: F2 = sum over
    users of f_u^2 = the size of the events⋈events self-join on user_id
    — the cardinality statistic a planner needs before it commits a
    strategy to a skewed self-join (sessionization, co-visit mining).
    X_r = sum_u f_u * s_r(u) with s_r a deterministic md5 sign hash;
    E[X_r^2] = F2. The estimate is the classic median-of-means:
    _AMS_R=40 estimators in _AMS_G=8-wide mean groups, lower median of
    the 5 group means (odd count — exact integer selection, no halves).
    Exact F2 rides along so the gate value-checks estimator arithmetic
    AND accuracy; every quantity md5-deterministic, the oracle replays
    construction and estimation bit-for-bit.

    int64 headroom: X_r^2 <= N_events^2 keeps every term under 2^62 to
    ~3e9 events; past that the squares move to DECIMAL(38,0) (the
    functions/exact.py convention) without changing the plan.

    Scale shape: ONE groupBy(user) collapses the raw scan to the
    frequency vector (map-side combinable); the 40-way estimator fan-out
    happens on the COLLAPSED vector via a broadcast 40-row sequence
    (|users| x 40 intermediate rows), and the per-r aggregation partial-
    aggregates each map task down to <=40 rows before the exchange.
    Everything after runs on 40 rows. The sketch itself is 40 integers —
    mergeable across partitions/streams by addition."""
    freq = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        # Materialize the collapsed frequency vector ONCE (r16
        # optimization round, the word-TYPE-table convention): freq
        # feeds the 40-way estimator fan-out AND the exact-F2 rollup,
        # so without truncation the events scan + groupBy replicated
        # under every reference (6 scans in the executed plan). The
        # vector is |users| rows — the docstring's stated collapse
        # point — and everything downstream is bounded by it. Eager
        # kept after a 2-round quiet-host lazy A/B read flat (0.91 /
        # 0.93 s medians — the barrier cost is below this query's
        # noise floor).
        .localCheckpoint(eager=True)
    )
    rs = spark.range(_AMS_R).select(F.col("id").alias("r"))
    sign = (
        "CASE WHEN "
        + md5_bigint_expr(
            "concat('ams-', CAST(r AS STRING), '|', CAST(user_id AS STRING))"
        )
        + " % 2 = 0 THEN 1 ELSE -1 END"
    )
    xr = (
        freq.crossJoin(F.broadcast(rs))
        .select("r", F.expr(f"f * ({sign})").alias("contrib"))
        .groupBy("r")
        .agg(F.expr("CAST(SUM(contrib) AS BIGINT)").alias("x_r"))
    )
    grp = (
        xr.groupBy(F.expr(f"r DIV {_AMS_G}").alias("grp"))
        .agg(F.expr(f"SUM(x_r * x_r) DIV {_AMS_G}").alias("mean_x2"))
    )
    wmed = Window.orderBy("mean_x2", "grp")  # <=5 rows: bounded sort
    n_groups = _AMS_R // _AMS_G
    med = (
        grp.withColumn("rn", F.row_number().over(wmed))
        .filter(F.col("rn") == (n_groups + 1) // 2)
        .select(F.col("mean_x2").alias("f2_est"))
    )
    exact = freq.agg(
        F.expr("CAST(SUM(f * f) AS BIGINT)").alias("f2_exact"),
        F.count(F.lit(1)).alias("n_users"),
        F.expr("CAST(SUM(f) AS BIGINT)").alias("n_events"),
    )
    return (
        grp.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(exact))
        .select(
            "grp",
            "mean_x2",
            "n_users",
            "n_events",
            "f2_exact",
            "f2_est",
            F.expr(
                "CASE WHEN f2_exact = 0 THEN NULL"
                " ELSE abs(f2_est - f2_exact) * 1000 DIV f2_exact END"
            ).alias("err_permille"),
        )
    )


_AMS_SIGN_DUCK = (
    "CASE WHEN "
    + oracle_md5_bigint_expr(
        "concat('ams-', CAST(r AS VARCHAR), '|', CAST(user_id AS VARCHAR))"
    )
    + " % 2 = 0 THEN 1 ELSE -1 END"
)

AMS_ORACLE = f"""
WITH freq AS (
  SELECT user_id, COUNT(*) AS f FROM events GROUP BY user_id),
rs AS (SELECT CAST(range AS BIGINT) AS r FROM range({_AMS_R})),
xr AS (
  SELECT r, CAST(SUM(f * ({_AMS_SIGN_DUCK})) AS BIGINT) AS x_r
  FROM freq CROSS JOIN rs GROUP BY r),
grp AS (
  SELECT r // {_AMS_G} AS grp,
         CAST(SUM(x_r * x_r) // {_AMS_G} AS BIGINT) AS mean_x2
  FROM xr GROUP BY 1),
med AS (
  SELECT mean_x2 AS f2_est FROM (
    SELECT mean_x2, ROW_NUMBER() OVER (ORDER BY mean_x2, grp) AS rn
    FROM grp)
  WHERE rn = ({_AMS_R // _AMS_G} + 1) // 2),
exact AS (
  SELECT CAST(SUM(f * f) AS BIGINT) AS f2_exact,
         COUNT(*) AS n_users,
         CAST(SUM(f) AS BIGINT) AS n_events
  FROM freq)
SELECT grp, mean_x2, n_users, n_events, f2_exact, f2_est,
       CASE WHEN f2_exact = 0 THEN NULL
            ELSE abs(f2_est - f2_exact) * 1000 // f2_exact END
         AS err_permille
FROM grp CROSS JOIN med CROSS JOIN exact
"""


# --------------------------------------------------------------------------
# Rank-sum evaluators: Mann-Whitney AUC and Cohen's kappa
# --------------------------------------------------------------------------

_EVAL_NOISE = 200  # md5 noise span added to the length signal


def _label_expr(tag: str, spark_side: bool) -> str:
    """Deterministic noisy quality gate: positive iff the document's
    length plus centered md5 noise clears the per-lang mean —
    (n_chars + h%SPAN - SPAN/2) * n_l > total_l, the integer
    cross-multiplication mean test (the curation_filter_drift
    convention). The noise makes the label correlate with, but not be a
    function of, the score — exactly the regime an AUC evaluator is
    for."""
    h = (md5_bigint_expr if spark_side else oracle_md5_bigint_expr)(
        f"concat('{tag}', CAST(doc_id AS "
        + ("STRING" if spark_side else "VARCHAR")
        + "))"
    )
    return (
        f"(CAST(n_chars AS BIGINT) + {h} % {_EVAL_NOISE}"
        f" - {_EVAL_NOISE // 2}) * n_l > total_l"
    )


def _docs_with_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_chars, n_l, total_l): documents joined to the
    broadcast per-lang count/total-chars row — the shared scaffolding
    under both rank-sum evaluators, so the label convention can only
    ever change in ONE place (its oracle twin is _EVAL_ORACLE_PREFIX)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr("CAST(n_chars AS BIGINT)").alias("n_chars")
    )
    stats = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_l"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("total_l"),
    )
    return docs.join(F.broadcast(stats), "lang")


# DuckDB twin of _docs_with_lang_stats: the docs/stats CTE prefix shared
# verbatim by AUC_ORACLE and KAPPA_ORACLE.
_EVAL_ORACLE_PREFIX = """docs AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
stats AS (
  SELECT lang, COUNT(*) AS n_l, CAST(SUM(n_chars) AS BIGINT) AS total_l
  FROM docs GROUP BY lang)"""


def curation_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney AUC of a quality score, per language — the evaluator
    loop a curation pipeline owes its consumers: does the score RANK
    positive documents above negative ones? Score = n_chars; label = a
    deterministic noisy per-lang quality gate (md5 noise keeps the label
    correlated with but not determined by the score). Exact rank-sum
    arithmetic in 2x integer units: no float ranks, no halves —
    U2 = sum over distinct scores of n_pos(s) * (2*cum_neg_below(s) +
    n_neg(s)) counts each (pos, neg) pair twice and each tie once, so
    auc_permille = 1000 * U2 DIV (2 * N_pos * N_neg), with the
    zero-class guard CASEd to NULL (the r11 ADVICE lesson). int64
    headroom: U2 <= 2 * N_pos * N_neg keeps terms under 2^62 to ~1.5e9
    docs per class per lang.

    Scale shape: ONE scan builds the (lang, score) histogram — a groupBy
    whose partial aggregates collapse each map task to the distinct-
    score count before the exchange; the rank-sum window then runs per
    lang over the HISTOGRAM (bounded by distinct score values, not
    docs), which is what makes exact AUC feasible at 100 TB where a
    per-row global rank would be a total sort."""
    labeled = _docs_with_lang_stats(spark, sf_dir).select(
        "lang",
        F.col("n_chars").alias("score"),
        F.expr(_label_expr("auc-", True)).alias("pos"),
    )
    hist = labeled.groupBy("lang", "score").agg(
        F.expr("CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_pos"
        ),
        F.expr(
            "CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT)"
        ).alias("n_neg"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        hist.withColumn(
            "cum_neg_below", F.coalesce(F.sum("n_neg").over(w), F.lit(0))
        )
        .groupBy("lang")
        .agg(
            F.expr("CAST(SUM(n_pos) AS BIGINT)").alias("n_pos"),
            F.expr("CAST(SUM(n_neg) AS BIGINT)").alias("n_neg"),
            F.expr(
                "CAST(SUM(n_pos * (2 * cum_neg_below + n_neg)) AS BIGINT)"
            ).alias("u2"),
        )
        .select(
            "lang",
            "n_pos",
            "n_neg",
            "u2",
            F.expr(
                "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL"
                " ELSE 1000 * u2 DIV (2 * n_pos * n_neg) END"
            ).alias("auc_permille"),
        )
    )


AUC_ORACLE = f"""
WITH {_EVAL_ORACLE_PREFIX},
labeled AS (
  SELECT docs.lang AS lang, n_chars AS score,
         {_label_expr("auc-", False)} AS pos
  FROM docs JOIN stats ON docs.lang = stats.lang),
hist AS (
  SELECT lang, score,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM labeled GROUP BY lang, score),
ranked AS (
  SELECT *, CAST(COALESCE(SUM(n_neg) OVER (
      PARTITION BY lang ORDER BY score
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS cum_neg_below
  FROM hist),
agg AS (
  SELECT lang, CAST(SUM(n_pos) AS BIGINT) AS n_pos,
         CAST(SUM(n_neg) AS BIGINT) AS n_neg,
         CAST(SUM(n_pos * (2 * cum_neg_below + n_neg)) AS BIGINT) AS u2
  FROM ranked GROUP BY lang)
SELECT lang, n_pos, n_neg, u2,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE 1000 * u2 // (2 * n_pos * n_neg) END AS auc_permille
FROM agg
"""


def curation_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two labeling passes, per language — the
    inter-annotator-agreement evaluator: two deterministic noisy quality
    gates (independent md5 noise over the same length signal, the
    curation_quality_auc label family) play the two annotators, and
    kappa measures agreement BEYOND the chance level their marginals
    imply. Exact integer cross-multiplication: with A = agreements and
    E = a_pos*b_pos + a_neg*b_neg (chance-expected agreement x N),
    kappa = (N*A - E) / (N*N - E), emitted in permille via DIV — both
    engines truncate integer division toward zero (verified, so the
    formula stays exact even for the negative-kappa case). int64
    headroom: N*N terms keep under 2^62 to ~2e9 docs per lang.

    Scale shape: ONE scan, labels are map-side expressions against the
    broadcast per-lang stats row, and a single |langs|-key groupBy whose
    partial aggregates collapse each map task to one row per lang."""
    labeled = _docs_with_lang_stats(spark, sf_dir).select(
        "lang",
        F.expr(_label_expr("kap-a-", True)).alias("a"),
        F.expr(_label_expr("kap-b-", True)).alias("b"),
    )
    return (
        labeled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)").alias(
                "a_pos"
            ),
            F.expr("CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)").alias(
                "b_pos"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_agree"),
        )
        .select(
            "lang",
            "n_docs",
            "a_pos",
            "b_pos",
            "n_agree",
            F.expr(
                "CASE WHEN n_docs * n_docs ="
                " a_pos * b_pos + (n_docs - a_pos) * (n_docs - b_pos)"
                " THEN NULL ELSE 1000 * (n_docs * n_agree"
                " - a_pos * b_pos - (n_docs - a_pos) * (n_docs - b_pos))"
                " DIV (n_docs * n_docs - a_pos * b_pos"
                " - (n_docs - a_pos) * (n_docs - b_pos)) END"
            ).alias("kappa_permille"),
        )
    )


KAPPA_ORACLE = f"""
WITH {_EVAL_ORACLE_PREFIX},
labeled AS (
  SELECT docs.lang AS lang,
         {_label_expr("kap-a-", False)} AS a,
         {_label_expr("kap-b-", False)} AS b
  FROM docs JOIN stats ON docs.lang = stats.lang),
agg AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a_pos,
         CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b_pos,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM labeled GROUP BY lang)
SELECT lang, n_docs, a_pos, b_pos, n_agree,
       CASE WHEN n_docs * n_docs =
                 a_pos * b_pos + (n_docs - a_pos) * (n_docs - b_pos)
            THEN NULL
            ELSE 1000 * (n_docs * n_agree
                 - a_pos * b_pos - (n_docs - a_pos) * (n_docs - b_pos))
                 // (n_docs * n_docs - a_pos * b_pos
                 - (n_docs - a_pos) * (n_docs - b_pos)) END
         AS kappa_permille
FROM agg
"""


# --------------------------------------------------------------------------
# Per-file Bloom-filter skipping index (layout family)
# --------------------------------------------------------------------------

_BLM_FILES = 16  # files in the simulated layout (doc_id ranges)
_BLM_BITS = 1024  # bloom bits per file
_BLM_K = 3  # hash functions per key
_BLM_DOM = 1 << 20  # content-key domain; absent probes live in [DOM, 2*DOM)
_BLM_PROBE_MOD = 13  # md5 % MOD == 0 selects ~1/13 of docs as probe seeds


def layout_bloom_file_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom-filter skipping index — the layout-family
    complement of layout_zonemap_skipping (analytics6.py): min/max zone
    maps prune RANGE predicates on the layout's sort key, but a point
    lookup on a SCATTERED secondary key (here a content hash, which no
    layout can cluster) defeats them, and the standard answer is a small
    Bloom filter per file (Parquet's bloom_filter_enabled, Iceberg's
    puffin blobs). This builds one _BLM_BITS-bit / _BLM_K-hash bloom per
    doc_id-range file over an md5 content key, probes it with a
    deterministic workload of present keys and guaranteed-absent twins
    (same count, shifted into [DOM, 2*DOM)), and reports per probe the
    files the index would scan vs the files that truly contain the key
    — n_false_pos = the index's wasted reads, n_files_skipped = its
    winnings; the Bloom no-false-negative guarantee is structural
    (n_files_hit >= n_files_true) and gate-checked. Every bit position
    is md5 integer arithmetic, so the oracle replays build AND probes
    bit-for-bit.

    Scale shape: the bloom build is ONE scan -> distinct (file, bit)
    groupBy, bounded at _BLM_FILES * _BLM_BITS rows by CONFIG regardless
    of data volume (the fixed-size-index property IN the plan) — small
    enough to broadcast to the probe join, which therefore never
    shuffles the probe side; the truth pass is a broadcast semi-join of
    the bounded probe set against the (file, key) scan. At 100 TB the
    bloom relation grows only with file count, and the per-file build is
    the same map-side distinct."""
    docs = parallelize_scan(
        spark, load_table(spark, sf_dir, "documents")
    ).select("doc_id", "text")
    maxid = docs.agg(
        F.expr("CAST(MAX(doc_id) AS BIGINT)").alias("max_id")
    ).localCheckpoint(eager=True)
    key = md5_bigint_expr("concat('blm-', text)") + f" % {_BLM_DOM}"
    keyed = (
        docs.crossJoin(F.broadcast(maxid))
        .select(
            "doc_id",
            F.expr(f"doc_id * {_BLM_FILES} DIV (max_id + 1)").alias("file_id"),
            F.expr(key).alias("k"),
        )
        # Materialize the keyed relation ONCE (r16 optimization round):
        # keyed is 3 int64s per doc but derives from an md5 over the
        # FULL text, and it feeds the bloom build, the probe workload
        # and the truth pass — without truncation the text scan + md5
        # re-ran under every reference. After this point every relation
        # is (doc_id, file_id, k)-narrow.
        .localCheckpoint(eager=True)
    )
    ks = ", ".join(str(i) for i in range(_BLM_K))
    bit_of = (
        lambda kcol: "transform(array(" + ks + "), i -> "
        + md5_bigint_expr(
            f"concat('blm-b-', CAST(i AS STRING), '|', CAST({kcol} AS STRING))"
        )
        + f" % {_BLM_BITS})"
    )
    bloom = (
        keyed.select("file_id", F.explode(F.expr(bit_of("k"))).alias("bit"))
        .distinct()
    )
    probes = keyed.filter(
        F.expr(
            md5_bigint_expr("concat('blm-p-', CAST(doc_id AS STRING))")
            + f" % {_BLM_PROBE_MOD} = 0"
        )
    ).select("doc_id", "k")
    workload = probes.select(
        F.col("doc_id").alias("probe_id"), "k", F.lit(True).alias("present")
    ).unionByName(
        probes.select(
            F.col("doc_id").alias("probe_id"),
            F.expr(
                md5_bigint_expr("concat('blm-a-', CAST(doc_id AS STRING))")
                + f" % {_BLM_DOM} + {_BLM_DOM}"
            ).alias("k"),
            F.lit(False).alias("present"),
        )
    )
    probe_bits = workload.select(
        "probe_id",
        "present",
        "k",
        F.posexplode(F.expr(bit_of("k"))).alias("i", "bit"),
    )
    hits = (
        probe_bits.join(F.broadcast(bloom), "bit")
        .groupBy("probe_id", "present", "k", "file_id")
        .agg(F.countDistinct("i").alias("n_bits"))
        .filter(F.col("n_bits") == _BLM_K)
        .groupBy("probe_id", "present", "k")
        .agg(F.count(F.lit(1)).alias("n_files_hit"))
    )
    truth = (
        workload.join(
            keyed.select("file_id", F.col("k").alias("tk")).distinct(),
            F.col("k") == F.col("tk"),
        )
        .groupBy("probe_id", "present", "k")
        .agg(F.countDistinct("file_id").alias("n_files_true"))
    )
    return (
        workload.join(hits, ["probe_id", "present", "k"], "left")
        .join(truth, ["probe_id", "present", "k"], "left")
        .select(
            "probe_id",
            "present",
            F.expr("COALESCE(n_files_hit, 0)").alias("n_files_hit"),
            F.expr("COALESCE(n_files_true, 0)").alias("n_files_true"),
            F.expr(
                "COALESCE(n_files_hit, 0) - COALESCE(n_files_true, 0)"
            ).alias("n_false_pos"),
            F.expr(f"{_BLM_FILES} - COALESCE(n_files_hit, 0)").alias(
                "n_files_skipped"
            ),
        )
    )


def _blm_oracle() -> str:
    key = oracle_md5_bigint_expr("concat('blm-', text)") + f" % {_BLM_DOM}"
    bit = (
        oracle_md5_bigint_expr(
            "concat('blm-b-', CAST(i AS VARCHAR), '|', CAST(k AS VARCHAR))"
        )
        + f" % {_BLM_BITS}"
    )
    return f"""
WITH maxid AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS max_id FROM documents),
keyed AS (
  SELECT doc_id, doc_id * {_BLM_FILES} // (max_id + 1) AS file_id,
         {key} AS k
  FROM documents, maxid),
is_ AS (SELECT CAST(range AS BIGINT) AS i FROM range({_BLM_K})),
bloom AS (
  SELECT DISTINCT file_id, {bit} AS bit FROM keyed CROSS JOIN is_),
probes AS (
  SELECT doc_id, k FROM keyed
  WHERE {oracle_md5_bigint_expr("concat('blm-p-', CAST(doc_id AS VARCHAR))")}
        % {_BLM_PROBE_MOD} = 0),
workload AS (
  SELECT doc_id AS probe_id, k, TRUE AS present FROM probes
  UNION ALL
  SELECT doc_id AS probe_id,
         {oracle_md5_bigint_expr("concat('blm-a-', CAST(doc_id AS VARCHAR))")}
           % {_BLM_DOM} + {_BLM_DOM} AS k,
         FALSE AS present
  FROM probes),
probe_bits AS (
  SELECT probe_id, present, k, i, {bit} AS bit
  FROM workload CROSS JOIN is_),
hits AS (
  SELECT probe_id, present, k, COUNT(*) AS n_files_hit FROM (
    SELECT probe_id, present, k, file_id, COUNT(DISTINCT i) AS n_bits
    FROM probe_bits JOIN bloom USING (bit)
    GROUP BY probe_id, present, k, file_id)
  WHERE n_bits = {_BLM_K}
  GROUP BY probe_id, present, k),
truth AS (
  SELECT probe_id, present, w.k AS k,
         COUNT(DISTINCT file_id) AS n_files_true
  FROM workload w JOIN (SELECT DISTINCT file_id, k FROM keyed) t
    ON w.k = t.k
  GROUP BY probe_id, present, w.k)
SELECT probe_id, present,
       COALESCE(n_files_hit, 0) AS n_files_hit,
       COALESCE(n_files_true, 0) AS n_files_true,
       COALESCE(n_files_hit, 0) - COALESCE(n_files_true, 0) AS n_false_pos,
       {_BLM_FILES} - COALESCE(n_files_hit, 0) AS n_files_skipped
FROM workload w
LEFT JOIN hits USING (probe_id, present, k)
LEFT JOIN truth USING (probe_id, present, k)
"""


BLOOM_INDEX_ORACLE = _blm_oracle()


# --------------------------------------------------------------------------
# Graph-based ANN: NSW-style beam search over an LSH-built k-NN graph
# --------------------------------------------------------------------------

_NSW_G = 12  # out-degree of the k-NN graph (before symmetrization)
_NSW_BEAM = 24  # beam width per query
_NSW_ROUNDS = 5  # expansion rounds (unrolled; oracle replays each)
_NSW_ENTRIES = 32  # deterministic spread entry points
_NSW_Q = 5  # query vectors (vec_id < Q, the sim-family convention)
_NSW_K = 5  # report size; recall measured against exact top-K

_NSW_DIST_SPARK = (
    "aggregate(zip_with(qqv, qv, (x, y) -> (x - y) * (x - y)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_NSW_DIST_DUCK = (
    "list_sum(list_transform(list_zip(qqv, qv),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


# (sigs, layer-0 graph), materialized once per (applicationId, sf_dir) —
# the flat NSW query and the layered HNSW query build IDENTICAL layer-0
# k-NN graphs from the same signature scan (the _MB_ITEMS_CACHE /
# graph-family shared-relation convention), so one build serves both.
_NSW_BASE_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def clear_nsw_cache() -> None:
    """Drop the memoized NSW substrate (localCheckpoint blocks are freed
    by the ContextCleaner once unreferenced)."""
    _NSW_BASE_CACHE.clear()


def _nsw_base(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(sigs, g0): the shared signature scan and the symmetrized
    degree-_NSW_G layer-0 k-NN graph, built once per (session, sf_dir)
    and reused by both graph-ANN queries — results are bit-identical to
    per-query builds because the computation is deterministic."""
    import os as _os

    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    cached = _NSW_BASE_CACHE.get(key)
    if cached is None:
        # _MB_ITEMS_CACHE eviction convention: only the current
        # (session, sf_dir) entry stays live across SF switches.
        clear_nsw_cache()
        q = _nsw_sigs(spark, sf_dir)
        g0 = _nsw_knn_graph(_nsw_stack(q), _NSW_G).localCheckpoint(
            eager=True
        )
        cached = (q, g0)
        _NSW_BASE_CACHE[key] = cached
    return cached


def _nsw_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv, sig0..sigL): quantized vectors + the L multitable
    LSH signatures, one scan, localCheckpoint'd — the shared substrate
    of the flat NSW query and the layered HNSW query."""
    from lua_mapreduce_spark.operators.analytics6 import _QGRID_SPARK
    from lua_mapreduce_spark.operators.similarity import (
        _MT_PLANES,
        _MT_TABLES,
        _SPARK_PLANE_DOT,
        _signature_expr,
    )

    emb = parallelize_scan(spark, load_table(spark, sf_dir, "embeddings"))
    return (
        emb.alias("a")
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.expr(_QGRID_SPARK).alias("qv"),
            *[
                F.expr(_signature_expr("a", _SPARK_PLANE_DOT, _MT_PLANES[t]))
                .cast("int")
                .alias(f"sig{t}")
                for t in range(_MT_TABLES)
            ],
        )
        .localCheckpoint(eager=True)
    )


def _nsw_stack(q: DataFrame) -> DataFrame:
    """Unpivot the signature columns to (vec_id, qv, t, sig) rows."""
    from lua_mapreduce_spark.operators.similarity import _MT_TABLES

    stack_args = ", ".join(f"{t}, sig{t}" for t in range(_MT_TABLES))
    return q.selectExpr(
        "vec_id", "qv", f"stack({_MT_TABLES}, {stack_args}) AS (t, sig)"
    )


def _nsw_knn_graph(long: DataFrame, degree: int) -> DataFrame:
    """Symmetrized k-NN graph over the stacked signature relation:
    candidates collide in >= 1 LSH table (bounded buckets, never all
    pairs), each node keeps its `degree` nearest by exact integer
    squared-L2, then edges are mirrored. Restricting `long` to a node
    subset before the call builds a LAYER graph (the HNSW use)."""
    a, b = long.alias("a"), long.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            F.expr(
                "aggregate(zip_with(a.qv, b.qv, (x, y) -> (x - y) * (x - y)),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d"),
        )
        .groupBy("src", "dst")
        .agg(F.min("d").alias("d"))
    )
    wg = Window.partitionBy("src").orderBy("d", "dst")
    knn = (
        cand.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= degree)
        .select("src", "dst")
    )
    return knn.unionByName(
        knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _beam_score(
    pairs: DataFrame, queries: DataFrame, nodes: DataFrame, keep_self: bool
) -> DataFrame:
    """(query_id, v) -> + exact integer grid distance. keep_self=False
    drops the query's own vector BEFORE scoring (the flat query's
    convention); the HNSW search keeps it (excluding it can strand a
    beam when the entry equals a query id) and drops it only in the
    final report."""
    p = pairs if keep_self else pairs.filter(F.col("v") != F.col("query_id"))
    return (
        p.join(nodes, F.col("v") == F.col("vec_id"))
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "v", F.expr(_NSW_DIST_SPARK).alias("d"))
    )


def _beam_truncate(scored: DataFrame, width: int) -> DataFrame:
    """Keep the best `width` rows per query by (d, v), checkpointed —
    the per-round lineage cut of the graph-loop convention."""
    w = Window.partitionBy("query_id").orderBy("d", "v")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= width)
        .select("query_id", "v", "d")
        .localCheckpoint(eager=True)
    )


def _beam_rounds(
    beam: DataFrame,
    graph: DataFrame,
    queries: DataFrame,
    nodes: DataFrame,
    rounds: int,
    width: int,
    keep_self: bool,
) -> DataFrame:
    """The expand -> score -> merge -> truncate loop shared by the flat
    NSW layer-0 search, the HNSW greedy descent (width=1 — pure greedy,
    monotone because the current node stays in its own candidate set),
    and the HNSW layer-0 beam. One implementation, so a tiebreak or
    distance change can never desynchronize the two queries (its oracle
    twin is _nsw_oracle_round_ctes)."""
    for _ in range(rounds):
        expanded = (
            beam.join(graph, F.col("v") == F.col("src"))
            .select("query_id", F.col("dst").alias("v"))
            .distinct()
        )
        merged = (
            _beam_score(expanded, queries, nodes, keep_self)
            .unionByName(beam)
            .groupBy("query_id", "v")
            .agg(F.min("d").alias("d"))
        )
        beam = _beam_truncate(merged, width)
    return beam


def _beam_truth(queries: DataFrame, nodes: DataFrame) -> DataFrame:
    """Exact brute-force top-K per query — exists only for the recall
    audit, never on the search path."""
    w = Window.partitionBy("query_id").orderBy("d", "v")
    return (
        nodes.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("v"),
            F.expr(_NSW_DIST_SPARK).alias("d"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NSW_K)
        .select(F.col("query_id").alias("tq"), F.col("v").alias("tv"))
    )


def _beam_report(
    beam: DataFrame, truth: DataFrame, drop_self: bool
) -> DataFrame:
    """Rank the final beam, join the truth set, emit the gated
    (query_id, rank, found_id, found_dist, in_true) rows."""
    w = Window.partitionBy("query_id").orderBy("d", "v")
    b = beam.filter(F.col("v") != F.col("query_id")) if drop_self else beam
    return (
        b.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NSW_K)
        .join(
            truth,
            (F.col("query_id") == F.col("tq")) & (F.col("v") == F.col("tv")),
            "left",
        )
        .select(
            "query_id",
            "rank",
            F.col("v").alias("found_id"),
            F.col("d").alias("found_dist"),
            F.expr("tv IS NOT NULL").alias("in_true"),
        )
    )


def sim_knn_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based approximate nearest neighbor — the NSW family
    (Malkov et al. 2014, the single-layer ancestor of HNSW), the modern
    ANN paradigm the similarity row still lacked next to its IVF, LSH
    and PQ entries. Build: each vector links to its _NSW_G nearest
    among hyperplane-LSH candidates (the sim_ann_multitable tables —
    candidates only, never all pairs), then the graph is symmetrized.
    Search: per query, a beam of _NSW_BEAM nodes seeded at _NSW_ENTRIES
    deterministically spread vec_ids (multi-entry restarts, the NSW
    practice) expands _NSW_ROUNDS times through the graph, keeping the
    best beam by exact integer squared-L2 on the global quantization
    grid (the sim_kmeans_lloyd convention — every distance an int64, so
    the oracle replays build AND search bit-for-bit). The exact
    brute-force top-K rides along and each reported neighbor carries
    its in_true verdict — recall@K is IN the gated output, making the
    approximation quality a verified number instead of a claim.

    Scale shape: the graph build is the bounded-bucket LSH join + one
    WindowGroupLimit (top-G per node truncates map-side); each search
    round touches beam x degree rows per query — the whole point of
    graph ANN is that search cost is independent of corpus size, and
    this plan preserves that: the only corpus-wide passes are the scan
    that builds signatures and the truth pass (which exists for the
    recall audit, not the search)."""
    q, graph = _nsw_base(spark, sf_dir)
    queries = q.filter(F.col("vec_id") < _NSW_Q).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    n = q.agg(F.count(F.lit(1)).alias("n_vecs"))
    entries = (
        spark.range(_NSW_ENTRIES)
        .crossJoin(F.broadcast(n))
        .select(F.expr(f"id * n_vecs DIV {_NSW_ENTRIES}").alias("v"))
    )
    nodes = q.select("vec_id", "qv")

    beam = _beam_truncate(
        _beam_score(
            queries.select("query_id").crossJoin(F.broadcast(entries)),
            queries,
            nodes,
            keep_self=False,
        ),
        _NSW_BEAM,
    )
    beam = _beam_rounds(
        beam, graph, queries, nodes, _NSW_ROUNDS, _NSW_BEAM, keep_self=False
    )
    return _beam_report(beam, _beam_truth(queries, nodes), drop_self=False)


# --------------------------------------------------------------------------
# Hierarchical graph ANN: HNSW layer descent + layer-0 beam search
# --------------------------------------------------------------------------

_HNSW_L1_MOD = 4  # level >= 1 iff md5 % 4 == 0 (~25% of nodes)
_HNSW_L2_MOD = 16  # level >= 2 iff md5 % 16 == 0 (~6%; nested: 16 | 4)
_HNSW_GU = 4  # upper-layer out-degree
_HNSW_T2 = 2  # greedy steps at layer 2
_HNSW_T1 = 3  # greedy steps at layer 1
_HNSW_B0 = 24  # layer-0 beam width (matches the flat query, so the
#               flat-vs-hierarchical comparison is parameter-fair)
_HNSW_R0 = 5  # layer-0 beam rounds

_HNSW_LVL = "concat('hnsw-l-', CAST(vec_id AS STRING))"


def sim_hnsw_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical navigable-small-world ANN (HNSW, Malkov & Yashunin
    2016) — the layered completion of sim_knn_graph_search: nodes are
    assigned geometric levels by md5 (level >= 1 for ~1/4 of nodes,
    level >= 2 for ~1/16 — nested by construction since 16 | 4), each
    upper layer carries its own sparse k-NN graph over its node subset
    (the shared _nsw_knn_graph build, LSH candidates only), and search
    DESCENDS: pure greedy steps from the single global layer-2 entry
    (the HNSW upper-layer rule — beam width 1, monotone because the
    current node stays in its own candidate set), hand off to layer 1,
    then a layer-0 beam search seeded by the ONE node the descent chose
    — where the flat NSW query needs 32 spread entry points, the
    hierarchy replaces them with routing. The query vector itself is
    kept DURING search (excluding it can strand a beam when the entry
    equals a query id) and excluded only in the final ranking; the
    exact top-K rides along, so recall@5 is gated output directly
    comparable with the flat query's.

    Scale shape: three bounded-bucket graph builds over one shared
    signature scan — the layer-0 build is MEMOIZED with the flat NSW
    query's (identical inputs, _nsw_base), so a process running both
    pays for it once; upper layers shrink geometrically (the HNSW size
    argument), descent touches degree+1 rows per query per step, the
    layer-0 beam is beam x degree x rounds — all independent of corpus
    size; the truth pass exists only for the recall audit."""
    q, g0 = _nsw_base(spark, sf_dir)
    long = _nsw_stack(q)
    lvl = md5_bigint_expr(_HNSW_LVL)
    g1 = _nsw_knn_graph(
        long.filter(F.expr(f"{lvl} % {_HNSW_L1_MOD} = 0")), _HNSW_GU
    ).localCheckpoint(eager=True)
    g2 = _nsw_knn_graph(
        long.filter(F.expr(f"{lvl} % {_HNSW_L2_MOD} = 0")), _HNSW_GU
    ).localCheckpoint(eager=True)
    queries = q.filter(F.col("vec_id") < _NSW_Q).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    nodes = q.select("vec_id", "qv")
    # Entry fallback: if no vector hashes to level 2 (possible on a
    # small corpus — MIN over an empty filter is NULL, which would
    # empty the seed join and silently return 0 rows), enter at the
    # layer-1 minimum, then the global minimum. The greedy steps over
    # a layer graph that lacks the entry are no-ops (the expand join
    # finds no edges, the merge keeps the beam), so both engines
    # degenerate identically; the oracle mirrors this COALESCE.
    entry2 = q.agg(
        F.expr(
            f"CAST(COALESCE("
            f"MIN(CASE WHEN {lvl} % {_HNSW_L2_MOD} = 0 THEN vec_id END),"
            f" MIN(CASE WHEN {lvl} % {_HNSW_L1_MOD} = 0 THEN vec_id END),"
            f" MIN(vec_id)) AS BIGINT)"
        ).alias("v")
    )

    cur = _beam_truncate(
        _beam_score(
            queries.select("query_id").crossJoin(F.broadcast(entry2)),
            queries,
            nodes,
            keep_self=True,
        ),
        1,
    )
    for g, steps in ((g2, _HNSW_T2), (g1, _HNSW_T1)):
        cur = _beam_rounds(
            cur, g, queries, nodes, steps, 1, keep_self=True
        )
    beam = _beam_rounds(
        cur, g0, queries, nodes, _HNSW_R0, _HNSW_B0, keep_self=True
    )
    return _beam_report(beam, _beam_truth(queries, nodes), drop_self=True)


def _nsw_oracle_dist(qexpr: str, nexpr: str) -> str:
    """DuckDB exact integer squared-L2 between two quantized vectors."""
    return (
        f"list_sum(list_transform(list_zip({qexpr}, {nexpr}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def _nsw_oracle_prelude() -> tuple[str, str]:
    """(sig_cols, unions): the sigs-CTE column list and the stacked
    long-CTE union text shared by the NSW and HNSW oracles."""
    from lua_mapreduce_spark.operators.similarity import (
        _MT_PLANES,
        _MT_TABLES,
        _ORACLE_PLANE_DOT,
        _signature_expr,
    )

    sig_cols = ",\n         ".join(
        f"CAST({_signature_expr('a', _ORACLE_PLANE_DOT, _MT_PLANES[t])}"
        f" AS INT) AS sig{t}"
        for t in range(_MT_TABLES)
    )
    unions = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, qv, {t} AS t, sig{t} AS sig FROM sigs"
        for t in range(_MT_TABLES)
    )
    return sig_cols, unions


def _nsw_oracle_graph_ctes(
    long_cte: str, suffix: str, degree: int, materialized: bool = False
) -> str:
    """CTE text building the symmetrized degree-bounded k-NN graph
    ``graph{suffix}`` from the stacked relation ``{long_cte}`` — the
    oracle twin of _nsw_knn_graph. ``materialized`` pins DuckDB's CTE
    materialization (the analytics2 LPA-oracle convention) for oracles
    whose chained CTEs would otherwise re-inline exponentially."""
    d = _nsw_oracle_dist("a.qv", "b.qv")
    m = "MATERIALIZED " if materialized else ""
    return f"""cand{suffix} AS {m}(
  SELECT a.vec_id AS src, b.vec_id AS dst,
         CAST(MIN({d}) AS BIGINT) AS d
  FROM {long_cte} a JOIN {long_cte} b
    ON a.t = b.t AND a.sig = b.sig AND a.vec_id <> b.vec_id
  GROUP BY 1, 2),
knn{suffix} AS {m}(
  SELECT src, dst FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d, dst) AS rn
    FROM cand{suffix})
  WHERE rn <= {degree}),
graph{suffix} AS {m}(
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM knn{suffix}
    UNION ALL
    SELECT dst AS src, src AS dst FROM knn{suffix}))"""


def _nsw_oracle_round_ctes(
    tag: str,
    seed: str,
    graph_name: str,
    rounds: int,
    width: int,
    keep_self: bool,
) -> tuple[str, str]:
    """(ctes_text, last_name): the expand -> score -> merge -> truncate
    CTE chain — the oracle twin of _beam_rounds, shared by the NSW and
    HNSW oracles. Every round's expand and truncate CTEs are
    MATERIALIZED: DuckDB re-inlines chained double-reference CTEs
    exponentially otherwise (measured >240 s inlined vs 0.63 s
    materialized on the 10-round HNSW chain — the analytics2 LPA-oracle
    lesson)."""
    dist = _nsw_oracle_dist
    self_filter = "" if keep_self else "\n    WHERE e.v <> e.query_id"
    out, prev = [], seed
    for r in range(1, rounds + 1):
        out.append(
            f"""{tag}e{r} AS MATERIALIZED (
  SELECT DISTINCT b.query_id, g.dst AS v
  FROM {prev} b JOIN {graph_name} g ON b.v = g.src),
{tag}s{r} AS (
  SELECT query_id, v, MIN(d) AS d FROM (
    SELECT e.query_id AS query_id, e.v AS v,
           {dist("q.qqv", "nd.qv")} AS d
    FROM {tag}e{r} e
    JOIN qs q ON q.query_id = e.query_id
    JOIN nodes nd ON nd.vec_id = e.v{self_filter}
    UNION ALL
    SELECT query_id, v, d FROM {prev})
  GROUP BY 1, 2),
{tag}b{r} AS MATERIALIZED (
  SELECT query_id, v, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, v)
           AS rn
    FROM {tag}s{r})
  WHERE rn <= {width})"""
        )
        prev = f"{tag}b{r}"
    return ",\n".join(out), prev


def _nsw_oracle_tail(last: str, drop_self: bool) -> str:
    """The truth CTE + final report SELECT shared by both oracles — the
    twin of _beam_truth/_beam_report."""
    dist = _nsw_oracle_dist
    self_where = f" WHERE v <> query_id" if drop_self else ""
    return f"""truth AS (
  SELECT query_id AS tq, v AS tv FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, v)
           AS rn
    FROM (
      SELECT q.query_id AS query_id, nd.vec_id AS v,
             {dist("q.qqv", "nd.qv")} AS d
      FROM qs q JOIN nodes nd ON nd.vec_id <> q.query_id))
  WHERE rn <= {_NSW_K})
SELECT b.query_id AS query_id, rn AS rank, v AS found_id,
       CAST(d AS BIGINT) AS found_dist, tv IS NOT NULL AS in_true
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, v) AS rn
  FROM {last}{self_where}) b
LEFT JOIN truth ON b.query_id = truth.tq AND b.v = truth.tv
WHERE rn <= {_NSW_K}"""


def _nsw_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics6 import _QGRID_DUCK

    dist = _nsw_oracle_dist
    sig_cols, unions = _nsw_oracle_prelude()
    chain, last = _nsw_oracle_round_ctes(
        "f", "b0", "graph", _NSW_ROUNDS, _NSW_BEAM, keep_self=False
    )
    return f"""
WITH sigs AS MATERIALIZED (
  SELECT a.vec_id AS vec_id, {_QGRID_DUCK} AS qv,
         {sig_cols}
  FROM embeddings a),
long AS MATERIALIZED (
{unions}),
{_nsw_oracle_graph_ctes("long", "", _NSW_G, materialized=True)},
qs AS (
  SELECT vec_id AS query_id, qv AS qqv FROM sigs WHERE vec_id < {_NSW_Q}),
n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
entries AS (
  SELECT CAST(range AS BIGINT) * n_vecs // {_NSW_ENTRIES} AS v
  FROM range({_NSW_ENTRIES}), n),
nodes AS (SELECT vec_id, qv FROM sigs),
b0 AS MATERIALIZED (
  SELECT query_id, v, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, v)
           AS rn
    FROM (
      SELECT q.query_id AS query_id, e.v AS v,
             {dist("q.qqv", "nd.qv")} AS d
      FROM qs q CROSS JOIN entries e
      JOIN nodes nd ON nd.vec_id = e.v
      WHERE e.v <> q.query_id))
  WHERE rn <= {_NSW_BEAM}),
{chain},
{_nsw_oracle_tail(last, drop_self=False)}
"""


NSW_ORACLE = _nsw_oracle()


def _hnsw_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics6 import _QGRID_DUCK

    dist = _nsw_oracle_dist
    sig_cols, unions = _nsw_oracle_prelude()
    lvl = oracle_md5_bigint_expr(
        "concat('hnsw-l-', CAST(vec_id AS VARCHAR))"
    )
    # greedy descent (_beam_rounds width=1 twins), then the layer-0 beam
    d2, last = _nsw_oracle_round_ctes(
        "d2", "c0", "graph2", _HNSW_T2, 1, keep_self=True
    )
    d1, last = _nsw_oracle_round_ctes(
        "d1", last, "graph1", _HNSW_T1, 1, keep_self=True
    )
    h0, last = _nsw_oracle_round_ctes(
        "h", last, "graph0", _HNSW_R0, _HNSW_B0, keep_self=True
    )
    return f"""
WITH sigs AS MATERIALIZED (
  SELECT a.vec_id AS vec_id, {_QGRID_DUCK} AS qv,
         {sig_cols}
  FROM embeddings a),
long AS MATERIALIZED (
{unions}),
long1 AS MATERIALIZED (SELECT * FROM long WHERE {lvl} % {_HNSW_L1_MOD} = 0),
long2 AS MATERIALIZED (SELECT * FROM long WHERE {lvl} % {_HNSW_L2_MOD} = 0),
{_nsw_oracle_graph_ctes("long", "0", _NSW_G, materialized=True)},
{_nsw_oracle_graph_ctes("long1", "1", _HNSW_GU, materialized=True)},
{_nsw_oracle_graph_ctes("long2", "2", _HNSW_GU, materialized=True)},
qs AS (
  SELECT vec_id AS query_id, qv AS qqv FROM sigs WHERE vec_id < {_NSW_Q}),
nodes AS (SELECT vec_id, qv FROM sigs),
entry2 AS (
  SELECT CAST(COALESCE(
    MIN(CASE WHEN {lvl} % {_HNSW_L2_MOD} = 0 THEN vec_id END),
    MIN(CASE WHEN {lvl} % {_HNSW_L1_MOD} = 0 THEN vec_id END),
    MIN(vec_id)) AS BIGINT) AS v
  FROM sigs),
c0 AS MATERIALIZED (
  SELECT q.query_id AS query_id, e.v AS v,
         {dist("q.qqv", "nd.qv")} AS d
  FROM qs q CROSS JOIN entry2 e
  JOIN nodes nd ON nd.vec_id = e.v),
{d2},
{d1},
{h0},
{_nsw_oracle_tail(last, drop_self=True)}
"""


HNSW_ORACLE = _hnsw_oracle()


# --------------------------------------------------------------------------
# Maximum spanning tree via the min-max (bottleneck) semiring closure
# --------------------------------------------------------------------------

_MST_DOUBLINGS = 5  # minimax closure doublings: paths <= 2^5 = 32 > 24 hops


def _mst_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected weighted nation trade graph: per unordered nation pair
    the total lineitem count in either direction, ranked 1 = heaviest
    (ROW_NUMBER over (n_lines DESC, src, dst) — DISTINCT ranks, so the
    spanning forest below is unique). Shares _trade_line_pairs with the
    SCC edge build, un-sparsified: the pair space is bounded by SCHEMA
    at C(25,2)."""
    trade = (
        _trade_line_pairs(spark, sf_dir)
        .groupBy(
            F.expr("least(cn, sn)").alias("src"),
            F.expr("greatest(cn, sn)").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    wr = Window.orderBy(F.col("n_lines").desc(), F.col("src"), F.col("dst"))
    # unpartitioned rank over the schema-bounded <=C(25,2)-row pair table
    return trade.withColumn("rank", F.row_number().over(wr))


def graph_mst_maximum_spanning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum spanning tree of the weighted nation trade graph — the
    trade BACKBONE (heaviest acyclic subgraph touching every nation),
    computed WITHOUT union-find or any sequential Kruskal scan: with
    DISTINCT edge ranks (1 = heaviest), edge e=(u,v) is in the unique
    maximum spanning forest iff NO path between u and v uses only
    strictly heavier edges — equivalently iff the MINIMAX path value
    between u and v (min over paths of the max rank on the path, the
    min-max/bottleneck SEMIRING closure) equals e's own rank. The
    closure is computed by _MST_DOUBLINGS relation doublings
    (M ∪ minmax-compose(M, M), keeping MIN bottleneck per pair), so 5
    rounds cover every <=32-hop path on 25 nodes — the same
    squaring-beats-stepping discipline as graph_scc_kosaraju, carried
    from the boolean to the bottleneck semiring. Every edge is emitted
    with its rank, its pair's closure bottleneck, and the membership
    verdict, so the gate value-checks the closure itself, not just the
    chosen tree; an independent pure-Python KRUSKAL replay (union-find,
    the textbook algorithm this plan refuses to serialize) pins the
    same tree in tests.

    Scale shape: the fact join collapses to a schema-bounded <=C(25,2)
    pair table before the rank; each doubling is a self-join + groupBy
    MIN on a <=2*C(25,2)-row localCheckpoint'd relation. On a larger
    graph the same doubling runs bucketed by src with log(diameter)
    rounds — never a driver-side union-find."""
    edges = _mst_edges(spark, sf_dir).localCheckpoint(eager=True)
    m = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("rank").alias("b"),
    ).unionByName(
        edges.select(
            F.col("dst").alias("u"), F.col("src").alias("v"),
            F.col("rank").alias("b"),
        )
    )
    for _ in range(_MST_DOUBLINGS):
        composed = (
            m.alias("a")
            .join(m.alias("c"), F.col("a.v") == F.col("c.u"))
            .filter(F.col("a.u") != F.col("c.v"))
            .select(
                F.col("a.u").alias("u"),
                F.col("c.v").alias("v"),
                F.expr("greatest(a.b, c.b)").alias("b"),
            )
        )
        m = (
            m.unionByName(composed)
            .groupBy("u", "v")
            .agg(F.min("b").alias("b"))
            .localCheckpoint(eager=True)
        )
    return (
        edges.join(
            m,
            (F.col("src") == F.col("u")) & (F.col("dst") == F.col("v")),
        )
        .select(
            "src",
            "dst",
            "n_lines",
            "rank",
            F.col("b").alias("bottleneck"),
            F.expr("b = rank").alias("in_mst"),
        )
    )


def _mst_oracle() -> str:
    # unrolled doublings of the minimax closure (the kmeans-oracle
    # convention: a fixed-depth iterative operator replayed as a CTE
    # chain), over the same deterministic ranked edge table. Every CTE is
    # MATERIALIZED: each m_i is read twice by m_{i+1}, and DuckDB inlining
    # the chain multiplies the work per doubling until it runs out of memory.
    squarings = []
    prev = "m0"
    for i in range(1, _MST_DOUBLINGS + 1):
        cur = f"m{i}"
        squarings.append(
            f"""{cur} AS MATERIALIZED (
  SELECT u, v, MIN(b) AS b FROM (
    SELECT u, v, b FROM {prev}
    UNION ALL
    SELECT a.u, c.v, greatest(a.b, c.b) AS b
    FROM {prev} a JOIN {prev} c ON a.v = c.u
    WHERE a.u <> c.v)
  GROUP BY u, v)"""
        )
        prev = cur
    chain = ",\n".join(squarings)
    return f"""
WITH trade AS MATERIALIZED (
  SELECT least(cn.n_name, sn.n_name) AS src,
         greatest(cn.n_name, sn.n_name) AS dst,
         COUNT(*) AS n_lines
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
  GROUP BY 1, 2),
edges AS MATERIALIZED (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_lines DESC, src, dst)
                 AS BIGINT) AS rank
  FROM trade),
m0 AS MATERIALIZED (
  SELECT src AS u, dst AS v, rank AS b FROM edges
  UNION ALL
  SELECT dst AS u, src AS v, rank AS b FROM edges),
{chain}
SELECT src, dst, n_lines, rank, b AS bottleneck, b = rank AS in_mst
FROM edges JOIN {prev} ON src = u AND dst = v
"""


MST_ORACLE = _mst_oracle()


# --------------------------------------------------------------------------
# Offline change-point detection (CUSUM argmax)
# --------------------------------------------------------------------------


def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline change-point detection over each event type's hourly
    series — the CUSUM statistic (Page 1954, the retrospective form):
    with x_1..x_n the hourly counts in time order, the cumulative
    deviation from the series mean peaks AT the change point, and
    scaling by n keeps it integer-exact: C'_k = n*(x_1+..+x_k) - k*S
    (= n² * classic CUSUM). The detected change is argmax |C'_k| with
    the earliest-k tiebreak, and the report carries the level estimate
    on both sides (x1000 truncated means) — the time-series primitive
    the family still lacked (events_anomaly_hours flags POINT outliers
    against a trailing window; events_seasonal_decompose models the
    cycle; this finds the STEP).

    int64 headroom: |C'_k| <= n*S keeps terms under 2^62 while
    n_hours * total_events < 2^62 — beyond 10^9 hour-count products the
    statistic moves to DECIMAL(38,0) unchanged.

    Scale shape: ONE map-side-combined groupBy collapses the raw scan
    to (event_type, hr) rows; the cumulative window and the max(struct)
    argmax then run per type over thousands of hourly rows regardless
    of input volume — and both engines agree exactly because every
    quantity is an integer."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return cusum_argmax(hourly)


def cusum_argmax(hourly: DataFrame) -> DataFrame:
    """The n-scaled CUSUM argmax over an (event_type, hr, x) hourly
    table. Shared by the batch query above and its streaming twin
    (streaming_ops.streaming_cusum_monitor), the anomaly_flags
    convention — one implementation, so the two faces can never
    drift."""
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    cum = hourly.select(
        "event_type",
        "hr",
        "x",
        F.expr("SUM(x)").over(wcum).alias("cum_x"),
        F.expr("COUNT(*)").over(wcum).alias("k"),
        F.expr("SUM(x)").over(wall).alias("s"),
        F.expr("COUNT(*)").over(wall).alias("n"),
    ).withColumn("c_abs", F.expr("abs(n * cum_x - k * s)"))
    return (
        cum.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    "c_abs", F.expr("-k").alias("neg_k"), "hr", "cum_x",
                    "k", "s", "n",
                )
            ).alias("m")
        )
        .select(
            "event_type",
            F.col("m.n").alias("n_hours"),
            F.col("m.hr").alias("change_hr"),
            F.col("m.k").alias("k"),
            F.col("m.c_abs").alias("cusum_abs"),
            F.expr("1000 * m.cum_x DIV m.k").alias("mean_before_x1000"),
            F.expr(
                "CASE WHEN m.n = m.k THEN NULL"
                " ELSE 1000 * (m.s - m.cum_x) DIV (m.n - m.k) END"
            ).alias("mean_after_x1000"),
        )
    )


CUSUM_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         COUNT(*) AS x
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, hr, x,
         CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY hr
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_x,
         CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY hr
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS k,
         CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM hourly),
scored AS (
  SELECT *, CAST(abs(n * cum_x - k * s) AS BIGINT) AS c_abs FROM cum),
best AS (
  SELECT event_type, n AS n_hours, hr AS change_hr, k, c_abs AS cusum_abs,
         cum_x, s, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY c_abs DESC, k) AS rn
  FROM scored)
SELECT event_type, n_hours, change_hr, k, cusum_abs,
       1000 * cum_x // k AS mean_before_x1000,
       CASE WHEN n = k THEN NULL
            ELSE 1000 * (s - cum_x) // (n - k) END AS mean_after_x1000
FROM best WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Pareto skyline (multi-objective document selection)
# --------------------------------------------------------------------------


def curation_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-skyline document selection — the multi-objective frontier
    a curation pass reports when no single quality score exists: a doc
    is ON the skyline iff no other doc dominates it (>= in BOTH
    objectives, > in at least one). Objectives here: length (n_chars,
    maximize) and lexical diversity (1000*distinct_words DIV words in
    permille, maximize) — both exact integers from one tokenize pass.
    A token-free document is DEFINED to have diversity 0 (not NULL) in
    both engines and the test replay alike: NULL would silently drop
    the row engine-side while the oracle's NOT EXISTS dominance test
    keeps it (no b satisfies a NULL predicate), a latent divergence.

    The ENGINE never tests dominance pairwise: for the 2-D case the
    skyline has a sweep-line form — per distinct length, U(c) =
    max diversity; M(c) = max U over STRICTLY larger lengths (a window
    over the distinct-length histogram); a doc survives iff its
    diversity equals U(c) and strictly exceeds M(c). The ORACLE
    deliberately runs the O(n²) definitional NOT EXISTS dominance
    instead — an INDEPENDENT formulation, so the gate proves the sweep
    algebra equals the definition on real data (ties in both
    coordinates included: equal points do not dominate each other and
    co-survive).

    Scale shape: one tokenize scan -> per-doc metrics (map-side); the
    window runs over the DISTINCT-length histogram (bounded by the
    length domain, not the corpus — the curation_quality_auc
    convention), and the per-doc survival test is a broadcast join
    against that bounded histogram. The O(n²) form exists only oracle-
    side."""
    docs = parallelize_scan(
        spark, load_table(spark, sf_dir, "documents")
    ).select("doc_id", "text", F.expr("CAST(n_chars AS BIGINT)").alias("c"))
    metrics = docs.select(
        "doc_id",
        "c",
        F.expr(
            f"CAST(COALESCE(1000 * size(array_distinct({words_expr('text')}))"
            f" DIV NULLIF(size({words_expr('text')}), 0), 0) AS BIGINT)"
        ).alias("u"),
    )
    hist = metrics.groupBy("c").agg(F.expr("MAX(u)").alias("u_max"))
    wab = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the histogram is bounded by the distinct-length domain; the
    # unpartitioned window and the broadcast are both over that bounded
    # relation, never the corpus
    frontier = hist.select(
        "c",
        "u_max",
        F.coalesce(F.max("u_max").over(wab), F.lit(-1)).alias("m_above"),
    )
    return (
        metrics.join(F.broadcast(frontier), "c")
        .filter("u = u_max AND u > m_above")
        .select(
            "doc_id",
            F.col("c").alias("n_chars"),
            F.col("u").alias("uniq_permille"),
        )
    )


SKYLINE_ORACLE = f"""
WITH metrics AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS c,
         CAST(COALESCE(1000 * len(list_distinct({oracle_words_expr("text")}))
              // NULLIF(len({oracle_words_expr("text")}), 0), 0) AS BIGINT) AS u
  FROM documents)
SELECT doc_id, c AS n_chars, u AS uniq_permille
FROM metrics a
WHERE NOT EXISTS (
  SELECT 1 FROM metrics b
  WHERE b.c >= a.c AND b.u >= a.u AND (b.c > a.c OR b.u > a.u))
"""


QUERIES = {
    "graph_scc_kosaraju": graph_scc_kosaraju,
    "agg_ams_f2_sketch": agg_ams_f2_sketch,
    "curation_quality_auc": curation_quality_auc,
    "curation_label_agreement": curation_label_agreement,
    "layout_bloom_file_index": layout_bloom_file_index,
    "events_changepoint_cusum": events_changepoint_cusum,
    "curation_pareto_skyline": curation_pareto_skyline,
    "graph_mst_maximum_spanning": graph_mst_maximum_spanning,
    "sim_knn_graph_search": sim_knn_graph_search,
    "sim_hnsw_layers": sim_hnsw_layers,
    "graph_closeness_centrality": graph_closeness_centrality,
}

ORACLES = {
    "graph_scc_kosaraju": SCC_ORACLE,
    "agg_ams_f2_sketch": AMS_ORACLE,
    "curation_quality_auc": AUC_ORACLE,
    "curation_label_agreement": KAPPA_ORACLE,
    "layout_bloom_file_index": BLOOM_INDEX_ORACLE,
    "events_changepoint_cusum": CUSUM_ORACLE,
    "curation_pareto_skyline": SKYLINE_ORACLE,
    "graph_mst_maximum_spanning": MST_ORACLE,
    "sim_knn_graph_search": NSW_ORACLE,
    "sim_hnsw_layers": HNSW_ORACLE,
    "graph_closeness_centrality": CLOSENESS_ORACLE,
}
