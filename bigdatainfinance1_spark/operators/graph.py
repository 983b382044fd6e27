"""Graph analytics over the co-purchase / supplier graphs: iterative propagation (PageRank, BFS), motif counting, WITH RECURSIVE reachability.

Carved out of operators/analytics.py (round-2 wave 1-3) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 5 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.functions.iterate import UNSETTLED, fixpoint
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


def _pagerank_oracle(iters: int = 5, d: float = 0.85) -> str:
    """DuckDB oracle for q_pagerank_copurchase: the same fixed-iteration
    PageRank unrolled as chained CTEs (r0..r{iters}) — feasible because the
    iteration count is a constant of the operator, not data-dependent."""
    head = """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (SELECT p1 AS u, p2 AS v FROM pairs UNION ALL SELECT p2, p1 FROM pairs),
    deg AS (SELECT u, count(*) AS c FROM edges GROUP BY u),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg)
    """
    steps = "".join(
        f""",
    r{i + 1} AS (
      SELECT e.v AS node,
             (1 - {d}) / (SELECT n FROM nn) + {d} * sum(r{i}.r / dg.c) AS r
      FROM edges e
      JOIN r{i} ON r{i}.node = e.u
      JOIN deg dg ON dg.u = e.u
      GROUP BY e.v
    )"""
        for i in range(iters)
    )
    return f"""
    {head}{steps}
    SELECT node AS part_id,
           round(r * (SELECT n FROM nn), 6) AS rel_rank,
           CAST((SELECT c FROM deg WHERE deg.u = node) AS BIGINT) AS degree
    FROM r{iters}
    ORDER BY rel_rank DESC, part_id
    LIMIT 20
    """


@query("q_pagerank_copurchase", oracle=_pagerank_oracle(), tags=("analytics", "iterative", "join"))
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 fixed iterations, d=0.85) over the undirected co-purchase
    graph — parts linked when they appear on the same order. Each iteration
    is one edges⋈ranks join + per-node sum (the dup_clusters/k-means job
    shape: the driver holds only the loop counter and the node count, data
    never leaves the cluster). The symmetric edge set means no dangling
    nodes, so no global redistribution term. Output is the top-20 by
    N-normalized rank (O(1) values, round 6 — summation-order ulps across
    5 iterations stay ~1e-11, orders under the rounding grain). The oracle
    unrolls the same 5 iterations as chained CTEs."""
    d, iters = 0.85, 5
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    # pairs is the expensive corpus pass and feeds both persists below
    # (deg and edges_deg) through the un-materialized flip union — without
    # this checkpoint the lineitem pair join executes twice (round-5
    # double-execution audit).
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionByName(
        pairs.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("c")).persist()
    n = deg.count()  # bounded driver scalar: node count
    ranks = deg.select(F.col("u").alias("node"), (F.lit(1.0) / n).alias("r"))
    edges_deg = edges.join(deg, "u").persist()
    for _ in range(iters):
        contrib = (
            edges_deg.join(ranks, edges_deg.u == ranks.node)
            .select("v", (F.col("r") / F.col("c")).alias("w"))
            .groupBy("v")
            .agg(F.sum("w").alias("s"))
        )
        ranks = contrib.select(
            F.col("v").alias("node"), ((1 - d) / n + d * F.col("s")).alias("r")
        )
    out = (
        ranks.join(deg, ranks.node == deg.u)
        .select(
            F.col("node").alias("part_id"),
            F.round(F.col("r") * n, 6).alias("rel_rank"),
            F.col("c").cast("long").alias("degree"),
        )
        .orderBy(F.col("rel_rank").desc(), "part_id")
        .limit(20)
    )
    out = out.localCheckpoint(eager=True)  # materialize before unpersisting lineage
    edges_deg.unpersist()
    deg.unpersist()
    return out


def _degree_orient(edges: DataFrame) -> DataFrame:
    """Re-orient an undirected edge list (distinct, u < v) so ``src`` is the
    endpoint with the lexicographically smaller (degree, id) key. Each
    undirected edge appears exactly once; every node's orientation
    out-degree is O(sqrt(m)), which bounds the wedge join's per-key fan-out
    for triangle enumeration on power-law graphs (the exact, lossless hub
    mitigation — triangle counts are orientation-invariant). One extra
    groupBy over the endpoints plus two equi-joins against the O(nodes)
    degree relation (broadcastable under AQE)."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    keyed = edges.join(du, "u").join(dv, "v")
    fwd = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    return keyed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )


@query(
    "q_triangle_count",
    oracle="""
    WITH e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT
      (SELECT count(*) FROM e) AS n_edges,
      count(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.v = e2.u
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
    tags=("analytics", "graph"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics: triangle count on the co-purchase graph (parts
    co-ordered at least twice). Edges are ORIENTED by (degree, id) —
    src = the endpoint with the smaller (deg, id) key — so each triangle
    is enumerated exactly once AND the wedge fan-out at a hub is bounded
    by its small orientation OUT-degree (O(sqrt(m)) per node), the
    standard exact O(m^1.5) triangle algorithm: wedge join e1(a,b) ⋈
    e2(b,c), closed by e3(a,c) — two equi-shuffle joins, never a
    cartesian. The triangle COUNT is orientation-invariant, so the
    id-oriented DuckDB oracle verifies the same number while the Spark
    plan survives power-law hubs at 100x (round-4 verdict task 2: the
    degree orientation was documented, now implemented). The >= 2
    co-support threshold is the standard sparsifier."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    # edges feeds the degree census (twice, via the endpoint union), the
    # orientation join, and n_edges — four consumers; oriented feeds the
    # wedge join twice plus the closing join. Both checkpoints run the
    # pair join / orientation exactly once (round-5 double-execution
    # audit: un-materialized, the lineitem pair join executed 4x).
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    oriented = _degree_orient(edges).localCheckpoint(eager=True)
    e1 = oriented.select(F.col("src").alias("t_u"), F.col("dst").alias("t_v"))
    e2 = oriented.select(F.col("src").alias("w_u"), F.col("dst").alias("w_v"))
    wedges = e1.join(e2, F.col("t_v") == F.col("w_u"))
    closed = wedges.join(
        oriented, (F.col("src") == F.col("t_u")) & (F.col("dst") == F.col("w_v"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_edges.crossJoin(n_tri)


@query(
    "q_bfs_hops",
    oracle="""
    WITH und AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    e AS (
      SELECT u, v FROM und UNION ALL SELECT v, u FROM und
    ),
    d0 AS (SELECT min(u) AS node, 0 AS dist FROM e),
    d1 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT e.v, d0.dist + 1 FROM d0 JOIN e ON e.u = d0.node
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL
        SELECT e.v, d1.dist + 1 FROM d1 JOIN e ON e.u = d1.node
      ) GROUP BY node
    ),
    d3 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL
        SELECT e.v, d2.dist + 1 FROM d2 JOIN e ON e.u = d2.node
      ) GROUP BY node
    ),
    d4 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d3
        UNION ALL
        SELECT e.v, d3.dist + 1 FROM d3 JOIN e ON e.u = d3.node
      ) GROUP BY node
    )
    SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes
    FROM d4 GROUP BY dist
    """,
    tags=("analytics", "graph", "iterative"),
)
def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph traversal: 4-hop BFS from the minimum-id vertex of the
    sparsified co-purchase graph (undirected; co-support >= 2), reporting
    how many vertices sit at each shortest-path distance. Spark runs the
    standard distributed BFS relaxation — 4 deterministic join+groupBy-min
    rounds over a reused edge relation (the Pregel shape: frontier joins
    edges, union, min per node); the driver holds only the loop counter.
    The oracle is the same recurrence unrolled as a fixed CTE chain
    (pagerank pattern). Unreachable vertices are absent, not infinite."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    und = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
    )
    # lazy: the start-node shuffle fills it (see q_kcore)
    edges = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    dist = edges.agg(F.min("u").alias("node")).select("node", F.lit(0).alias("dist"))
    # A fixed 4 rounds with no convergence test, so not functions/iterate.py.
    # dist feeds both the join and the union: materialize it once per round,
    # or its subtree doubles every round (2^4 copies by round 4). It is one
    # row per reached node; broadcast it for the reason iterate.py gives.
    for _ in range(4):
        relaxed = (
            F.broadcast(dist)
            .join(edges, dist.node == edges.u)
            .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.groupBy(F.col("dist").cast("long").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@query(
    "q_clustering_coefficient",
    oracle="""
    WITH und AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY node
    ),
    tri AS (
      SELECT count(*) AS n_tri
      FROM und e1 JOIN und e2 ON e1.v = e2.u
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT
      CAST(count(*) AS BIGINT)                     AS n_nodes,
      CAST(sum(d) / 2 AS BIGINT)                   AS n_edges,
      CAST(sum(d * (d - 1) / 2) AS BIGINT)         AS n_wedges,
      CAST(min(t.n_tri) AS BIGINT)                 AS n_triangles,
      round(3e0 * min(t.n_tri) / sum(d * (d - 1) / 2), 6) AS global_cc
    FROM deg CROSS JOIN tri t
    """,
    tags=("analytics", "graph"),
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph transitivity: the global clustering coefficient 3·triangles /
    wedges of the sparsified co-purchase graph — what fraction of open
    wedges close. Degrees come from one groupBy over both edge endpoints
    (integer arithmetic throughout — d(d−1)/2 is exact), triangles from
    the same (degree, id)-oriented wedge join as q_triangle_count — the
    exact O(m^1.5) enumeration whose count the id-oriented oracle verifies
    unchanged; one scalar ratio at the end. Counts are exact BIGINTs on
    both engines."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    und = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
        .cache()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # oriented feeds the wedge join twice plus the closing join; the
    # checkpoint runs the orientation once over the cached edge set.
    oriented = _degree_orient(und).localCheckpoint(eager=True)
    e1 = oriented.select(F.col("src").alias("t_u"), F.col("dst").alias("t_v"))
    e2 = oriented.select(F.col("src").alias("w_u"), F.col("dst").alias("w_v"))
    tri = (
        e1.join(e2, F.col("t_v") == F.col("w_u"))
        .join(oriented, (F.col("src") == F.col("t_u")) & (F.col("dst") == F.col("w_v")))
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = (
        deg.crossJoin(F.broadcast(tri))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            (F.sum("d") / 2).cast("long").alias("n_edges"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
            F.min("n_tri").cast("long").alias("n_triangles"),
            F.round(
                F.lit(3.0) * F.min("n_tri") / F.sum(F.col("d") * (F.col("d") - 1) / 2), 6
            ).alias("global_cc"),
        )
    )
    # materialize the 1-row result, then release the edge cache
    out = out.localCheckpoint(eager=True)
    und.unpersist()
    return out


# Declarative multi-hop reachability via WITH RECURSIVE (Spark 4 finally
# supports it; DuckDB always has) on the same support-≥2 co-purchase part
# graph as q_bfs_hops / q_triangle_count. The dist < 3 cap bounds the
# DEPTH; the DISTINCT in the recursive term bounds the WIDTH: a bare
# UNION ALL step walks paths, not nodes, and the path count from one seed
# is edge-degree^depth — on the 10× stage the denser co-purchase graph
# (10× more orders over the SAME part domain) blew Spark's 1,000,000-row
# recursion limit (RECURSION_ROW_LIMIT_EXCEEDED, caught by the round-8
# scale tier). With per-step DISTINCT each level holds ≤ |nodes| rows
# (the part domain does not grow under fact replication — nor under
# corpus growth at fixed catalog size), so total recursion output is
# ≤ (cap+1)·|nodes| at ANY corpus scale. min(dist) per node afterwards is
# unchanged: deduping (node, dist) within a level cannot change the min.
_REACH_SQL = """
    WITH RECURSIVE und AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    e AS (
      SELECT u, v FROM und UNION ALL SELECT v, u FROM und
    ),
    seed AS (SELECT min(u) AS node FROM e),
    walk(node, dist) AS (
      SELECT node, 0 AS dist FROM seed
      UNION ALL
      SELECT DISTINCT e.v, w.dist + 1
      FROM walk w JOIN e ON e.u = w.node WHERE w.dist < 3
    ),
    reach AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node)
    SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes FROM reach GROUP BY dist
"""


sql_query(
    "q_recursive_reachability", _REACH_SQL, tags=("analytics", "graph", "recursive"),
    doc="""3-hop reachability profile from the smallest part key, written as a
    RECURSIVE CTE — the declarative twin of q_bfs_hops' hand-unrolled
    frontier loop, possible since Spark 4 added WITH RECURSIVE. The
    recursion emits per-level DISTINCT (node, dist) rows with the
    frontier join re-planned by Catalyst each iteration; min(dist) per
    node collapses cross-level multiplicity after the cap. Scale:
    iteration count is the fixed hop cap, each step an equi-join
    frontier×edges followed by a level-local dedup, so each level is
    bounded by the part-catalog size regardless of fact-table volume —
    without the DISTINCT the step walks paths and the row count is
    degree^depth, which tripped Spark's recursion row limit on the 10×
    stage (see _REACH_SQL comment). One SQL text runs verbatim on both
    engines.""",
)


AA_TOP = 20  # predicted links reported
# Hub cap on the COMMON-NEIGHBOR degree, enforced identically on both
# engines (round-4 verdict defect 1: the cap was documented but not
# implemented — 21x at 10x). Standard Adamic-Adar practice: a hub common
# neighbor contributes ~1/ln(deg) ~ 0 to the score but fans the wedge join
# out as deg^2, so production drops z with deg > cap BEFORE the wedge join.
# 64 sits above the max co-purchase degree at every oracle tier (52 at
# sf0.001, 15 at sf0.01, 10 at sf0.1 — measured 2026-08-15), so oracle-tier
# results equal the uncapped scores while the hash oracle verifies the
# capped semantics exactly.
AA_DEG_CAP = 64


@query(
    "q_adamic_adar",
    oracle=f"""
    WITH und AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    deg AS (SELECT u AS node, count(*) AS d FROM e GROUP BY u),
    zok AS (SELECT node, d FROM deg WHERE d <= {AA_DEG_CAP}),
    cand AS (
      SELECT x.u AS u, y.v AS w, x.v AS z
      FROM e x
      JOIN zok cz ON cz.node = x.v
      JOIN e y ON x.v = y.u
      WHERE x.u < y.v
    ),
    scored AS (
      SELECT c.u, c.w,
             CAST(count(*) AS BIGINT) AS n_common,
             round(sum(1.0 / ln(d.d)), 6) AS aa_score
      FROM cand c
      JOIN zok d ON d.node = c.z
      LEFT JOIN und ex ON ex.u = c.u AND ex.v = c.w
      WHERE ex.u IS NULL
      GROUP BY c.u, c.w
    )
    SELECT u, w, n_common, aa_score, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY aa_score DESC, u, w) AS rnk
      FROM scored
    ) WHERE rnk <= {AA_TOP}
    """,
    tags=("analytics", "graph", "ml"),
)
def adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the support-≥2 co-purchase part graph (the same
    graph as q_bfs_hops / q_triangle_count / q_pagerank_copurchase):
    Adamic-Adar scores for non-adjacent pairs at distance 2 —
    Σ_z 1/ln(deg z) over common neighbors z, weighting rare mutual
    neighbors above promiscuous hubs — reporting the top {AA_TOP}
    predicted links. The classic "products likely to be co-bought next"
    relation a recommender seeds from pure graph structure.

    Scale shape: candidates come from the wedge join e⋈e on the shared
    endpoint (exactly the triangle-count shuffle). The fan-out at a hub
    common neighbor z is deg(z)², so BOTH engines drop z with
    deg > AA_DEG_CAP *before* the wedge join (semi-join on the O(nodes)
    capped-degree relation), bounding the shuffle by cap·|E| — standard
    AA practice, since a hub contributes only 1/ln(deg) ≈ 0 anyway. The
    cap (64) exceeds the max degree at every oracle tier, so oracle-tier
    scores equal the uncapped ones and the hash oracle verifies the capped
    semantics exactly. Existing edges are removed by an anti-join, and
    degrees arrive by an equi-join on the common neighbor before the pair
    aggregation. Every deg ≥ 2 by construction (z carries both wedge
    edges), so ln(deg) never hits 0. Determinism: scores round to 6
    before the rank and ties break on (u, w); degree integers are exact,
    so both engines sum identical 1/ln(d) doubles."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    # und feeds the flip union (→ deg, x, y) and the existing-edge
    # anti-join — five pair-join executions without this checkpoint
    # (round-5 double-execution audit).
    und = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    e = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    zok = deg.filter(F.col("d") <= AA_DEG_CAP)
    x = e.select(F.col("u").alias("cu"), F.col("v").alias("z"))
    # semi-join y's wedge endpoint against the capped-degree nodes BEFORE
    # the wedge join: per-key fan-out at an uncapped hub z becomes zero,
    # so the join output is bounded by cap * |E| instead of sum(deg^2).
    y = e.select(F.col("u").alias("z"), F.col("v").alias("cw")).join(
        zok.select(F.col("node").alias("z")), "z", "semi"
    )
    cand = x.join(y, "z").filter(F.col("cu") < F.col("cw"))
    scored = (
        cand.join(zok, cand["z"] == zok["node"])
        .join(
            und.select(F.col("u").alias("cu"), F.col("v").alias("cw")),
            ["cu", "cw"],
            "left_anti",
        )
        .groupBy("cu", "cw")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(F.sum(1.0 / F.log(F.col("d"))), 6).alias("aa_score"),
        )
        .select(F.col("cu").alias("u"), F.col("cw").alias("w"), "n_common", "aa_score")
    )
    ranked = global_row_number(
        scored, [F.col("aa_score").desc(), F.col("u"), F.col("w")], rn_col="rnk"
    )
    return ranked.filter(F.col("rnk") <= AA_TOP).select(
        "u", "w", "n_common", "aa_score", F.col("rnk").cast("long").alias("rnk")
    )


# ---------------------------------------------------------------------------
# q_kcore — 2-core decomposition by iterative peeling
# ---------------------------------------------------------------------------

KCORE_K = 2  # the core order
KCORE_MAX_PEELS = 10  # loud-failure bound (oracle unrolls 8 rounds)
KCORE_ORACLE_ROUNDS = 8


def _kcore_oracle() -> str:
    """Peeling unrolled as chained CTEs n0..n{R} (the q_pagerank_copurchase
    pattern): n_i = nodes whose degree within the subgraph induced by
    n_(i-1) is >= K. Converges when two successive rounds are equal; the
    co-purchase graph's peeling depth is far under {R} at every sf, and a
    deeper-than-{R} graph would hash-mismatch loudly rather than silently
    truncate."""
    head = f"""
    WITH e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    ee AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM ee)
    """
    steps = "".join(
        f""",
    n{i + 1} AS MATERIALIZED (
      SELECT ee.u AS node
      FROM ee
      JOIN n{i} a ON a.node = ee.u
      JOIN n{i} b ON b.node = ee.v
      GROUP BY ee.u
      HAVING count(*) >= {KCORE_K}
    )"""
        for i in range(KCORE_ORACLE_ROUNDS)
    )
    last = f"n{KCORE_ORACLE_ROUNDS}"
    return f"""
    {head}{steps}
    SELECT ee.u AS part_id,
           CAST(count(*) AS BIGINT) AS core_degree
    FROM ee
    JOIN {last} a ON a.node = ee.u
    JOIN {last} b ON b.node = ee.v
    GROUP BY ee.u
    """


@query("q_kcore", oracle=_kcore_oracle(), tags=("analytics", "graph", "iterative"))
def kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core decomposition of the support->=2 co-purchase graph by
    iterative peeling: repeatedly delete nodes of degree < {k} until the
    remaining subgraph (the {k}-core) is stable, then report each core
    member with its within-core degree — the standard dense-substructure
    / influence primitive (cores survive cascade failure; k-core is the
    usual preprocessing cut before community detection and the cheapest
    "is this node in the dense part" signal).

    Scale: the edge list is materialized once; each peel round is two
    broadcast semi-join filters on it plus one degree aggregate, run by
    functions/iterate.fixpoint — one materialization and one emptiness
    probe per round, rounds bounded by the peeling depth (loud
    RuntimeError past {maxp}). The round whose degrees are all >= {k} is
    the answer. The oracle re-derives the core independently with {r}
    unrolled rounds of chained CTEs, so a propagation bug cannot
    hash-match."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    # lazy: the first round's degree shuffle fills it, one job fewer than an
    # eager checkpoint, and every later round reads it instead of lineitem
    ee = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).localCheckpoint(
        eager=False
    )

    def degrees(edges: DataFrame) -> DataFrame:
        return edges.groupBy(F.col("u").alias("part_id")).agg(
            F.count(F.lit(1)).cast("long").alias("core_degree")
        )

    def peel(deg: DataFrame) -> DataFrame:
        # drop the nodes below K and recount degrees within what remains (a
        # node left with no edge drops out); the round is the core once no
        # degree is below K. keep is one row per node: broadcast it, see
        # functions/iterate.py
        keep = F.broadcast(deg.filter(F.col("core_degree") >= KCORE_K).select("part_id"))
        kept = ee.join(keep.withColumnRenamed("part_id", "u"), "u", "semi").join(
            keep.withColumnRenamed("part_id", "v"), "v", "semi"
        )
        return degrees(kept).withColumn(UNSETTLED, F.col("core_degree") < KCORE_K)

    return fixpoint(peel, degrees(ee), max_rounds=KCORE_MAX_PEELS, name="q_kcore")


# ---------------------------------------------------------------------------
# q_modularity_brands / q_degree_assortativity — graph quality metrics
# ---------------------------------------------------------------------------

_COPURCHASE_E_SQL = """
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
"""


sql_query(
    "q_modularity_brands",
    f"""
    WITH {_COPURCHASE_E_SQL},
    lab AS (SELECT p_partkey, p_brand FROM part),
    el AS (
      SELECT la.p_brand AS ba, lb.p_brand AS bb
      FROM e
      JOIN lab la ON la.p_partkey = e.u
      JOIN lab lb ON lb.p_partkey = e.v
    ),
    m AS (SELECT count(*) AS m FROM el),
    within AS (
      SELECT ba AS brand, sum(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS w
      FROM el GROUP BY ba
    ),
    degsum AS (
      SELECT brand, sum(cnt) AS d FROM (
        SELECT ba AS brand, count(*) AS cnt FROM el GROUP BY ba
        UNION ALL
        SELECT bb AS brand, count(*) AS cnt FROM el GROUP BY bb
      ) GROUP BY brand
    )
    SELECT d.brand,
           CAST(coalesce(w.w, 0) AS BIGINT) AS within_edges,
           CAST(d.d AS BIGINT) AS degree_sum,
           round(coalesce(w.w, 0) * 1e0 / m.m
                 - (d.d * 1e0 / (2 * m.m)) * (d.d * 1e0 / (2 * m.m)), 6)
             AS modularity_term,
           round(sum(coalesce(w.w, 0) * 1e0 / m.m
                 - (d.d * 1e0 / (2 * m.m)) * (d.d * 1e0 / (2 * m.m))) OVER (), 6)
             AS modularity_q
    FROM degsum d LEFT JOIN within w ON w.brand = d.brand CROSS JOIN m
    """,
    tags=("analytics", "graph"),
    doc="""Newman modularity of the brand partition of the co-purchase graph:
    Q = sum_c (e_cc/m - (d_c/2m)^2) — do parts of the same brand
    co-purchase more than a degree-preserving random graph predicts? Per
    brand the within-community edge share, degree mass, and modularity
    term; the total Q rides every row. This is the objective
    community-detection algorithms (Louvain/Leiden) maximize — evaluating
    it against a KNOWN partition is both the quality metric and the
    building block of one Louvain level.

    Scale: the edge list is the bounded support->=2 relation; labels join
    via the broadcast part dim; everything else is O(brands) closed-form
    integer arithmetic.""",
)


@query(
    "q_degree_assortativity",
    oracle=f"""
    WITH {_COPURCHASE_E_SQL},
    ee AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM ee GROUP BY u),
    pairs AS (
      SELECT CAST(da.d AS DOUBLE) AS x, CAST(db.d AS DOUBLE) AS y
      FROM ee
      JOIN deg da ON da.node = ee.u
      JOIN deg db ON db.node = ee.v
    ),
    mo AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM pairs
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS assortativity_r
    FROM mo
    """,
    tags=("analytics", "graph"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation of endpoint degrees over all directed edge instances
    (Newman's r): positive = hubs link to hubs (social-network-like),
    negative = hub-and-spoke (technological/catalog-like). One number
    that says which robustness and epidemic regime the graph lives in,
    and the standard companion to q_clustering_coefficient.

    Scale: degrees are one aggregate over the bounded edge list; the
    moment sums run over edge instances with the same closed-form Pearson
    algebra as q_regr_beta — integer degrees, so the sums are exact until
    the final ratio, rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    ee = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = ee.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        ee.join(deg.select(F.col("node").alias("u"), F.col("d").alias("x")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("y")), "v")
        .select(F.col("x").cast("double").alias("x"), F.col("y").cast("double").alias("y"))
    )
    mo = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    return mo.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity_r"),
    )


# ---------------------------------------------------------------------------
# q_hits_authority — HITS on the bipartite customer→part purchase graph
# ---------------------------------------------------------------------------


sql_query(
    "q_hits_authority",
    """
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY p),
    hub AS (
      SELECT e.u, CAST(sum(deg.d) AS BIGINT) AS s
      FROM e JOIN deg ON deg.p = e.p GROUP BY e.u
    ),
    auth AS (
      SELECT e.p, CAST(sum(hub.s) AS BIGINT) AS a
      FROM e JOIN hub ON hub.u = e.u GROUP BY e.p
    ),
    tot AS (SELECT sum(a) AS ta FROM auth)
    SELECT CAST(auth.p AS BIGINT) AS part_id,
           CAST(deg.d AS BIGINT) AS in_degree,
           CAST(auth.a AS BIGINT) AS auth_raw,
           CAST(round(auth.a * 1.0 / tot.ta, 8) AS DOUBLE) AS authority
    FROM auth JOIN deg ON deg.p = auth.p CROSS JOIN tot
    ORDER BY auth_raw DESC, part_id
    LIMIT 15
    """,
    tags=("analytics", "graph", "iterative"),
    doc="""HITS (Kleinberg) on the bipartite customer→part purchase graph,
    two iterations with normalization DEFERRED so every score stays an
    exact integer: authority⁰ = in-degree, hub = Σ authority⁰ over the
    customer's parts, authority = Σ hub over the part's buyers — the
    mutual-reinforcement ranking ("important parts are bought by
    well-connected customers") that PageRank's single-score random walk
    (q_pagerank_copurchase) cannot express on a bipartite graph.
    Top-15 authorities with the final L1-normalized score.

    Scale: the edge list is one distinct over the fact join (equi-join
    on orderkey); each iteration is one edges⋈scores equi-join + sum —
    the q_pagerank_copurchase job shape, but with BIGINT scores so the
    ranking has zero float ambiguity; the only division is the final
    display normalization, rounded at 8.""",
)


# ---------------------------------------------------------------------------
# q_label_propagation — semi-supervised label spread with clamped seeds
# ---------------------------------------------------------------------------

LP_ROUNDS = 3
LP_SEED_MOD = 4  # parts with p_partkey % 4 == 0 are labeled seeds (~25%)


def _lp_oracle() -> str:
    """The same {LP_ROUNDS} synchronous rounds unrolled as chained CTEs
    (the q_pagerank_copurchase pattern): each round, every NON-SEED node
    takes the majority label of its labeled neighbors (count desc, label
    asc tiebreak); seeds stay clamped; an unreached node stays unlabeled."""
    head = f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (SELECT p1 AS u, p2 AS v FROM pairs UNION ALL SELECT p2, p1 FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    seeds AS (
      SELECT n.node, p.p_brand AS label
      FROM nodes n JOIN part p ON n.node = p.p_partkey
      WHERE n.node % {LP_SEED_MOD} = 0
    ),
    l0 AS (SELECT node, label FROM seeds)
    """
    steps = []
    for r in range(1, LP_ROUNDS + 1):
        steps.append(f""",
    cand{r} AS (
      SELECT e.v AS node, l.label, count(*) AS cnt
      FROM edges e JOIN l{r - 1} l ON l.node = e.u
      WHERE e.v % {LP_SEED_MOD} <> 0
      GROUP BY e.v, l.label
    ),
    pick{r} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rk
        FROM cand{r}
      ) WHERE rk = 1
    ),
    l{r} AS (SELECT node, label FROM seeds UNION ALL SELECT node, label FROM pick{r})""")
    rounds = "".join(steps)
    metrics = " UNION ALL ".join(
        f"""
    SELECT CAST({r} AS BIGINT) AS round,
           CAST(count(*) AS BIGINT) AS n_labeled_nonseed,
           CAST(sum(CASE WHEN pk.label = p.p_brand THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(sum(CASE WHEN pk.label = p.p_brand THEN 1 ELSE 0 END) * 1e0
                 / count(*), 6) AS accuracy
    FROM pick{r} pk JOIN part p ON pk.node = p.p_partkey"""
        for r in range(1, LP_ROUNDS + 1)
    )
    return head + rounds + "\n" + metrics + "\n    ORDER BY round"


@query("q_label_propagation", oracle=_lp_oracle(), tags=("analytics", "iterative", "graph", "ml"))
def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the co-purchase part graph:
    a quarter of the parts (p_partkey % 4 == 0) keep their true brand as
    a clamped seed label; for 3 synchronous rounds every other node takes
    the majority label among its labeled neighbors (count desc, label asc
    tiebreak). Because the TRUE brand of every part is known, the output
    is a real evaluation: per round, how many non-seed nodes are reached
    and what fraction of propagated labels match the actual brand — the
    graph-homophily probe behind weak supervision ("can neighbors label
    the unlabeled 75%?"), the transductive counterpart of
    q_knn_label_eval's feature-space test.

    Determinism: majority picks rank on exact integer counts with the
    label string as total-order tiebreak; seed choice is a pure key
    predicate. The oracle unrolls the identical 3 rounds as chained CTEs.
    Scale: each round is one edges-to-labels equi-join + per-node count
    (key-partitioned, linear in edges) — the q_pagerank_copurchase job
    shape with labels instead of ranks; round count is a constant of the
    operator."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "l_orderkey").filter(F.col("p1") < F.col("p2")).select("p1", "p2").distinct()
    )
    edges = pairs.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionByName(
        pairs.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    ).persist()
    nodes = edges.select(F.col("u").alias("node")).distinct()
    seeds = (
        nodes.filter(F.col("node") % LP_SEED_MOD == 0)
        .join(F.broadcast(part), F.col("node") == F.col("p_partkey"))
        .select("node", F.col("p_brand").alias("label"))
    )
    truth = part.select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("brand"))
    labels = seeds
    summaries = []
    for r in range(1, LP_ROUNDS + 1):
        cand = (
            edges.join(labels.withColumnRenamed("node", "u"), "u")
            .filter(F.col("v") % LP_SEED_MOD != 0)
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), "label")
        # pick feeds TWO consumers with differing projections (this round's
        # accuracy summary and next round's labels union) and the lineage
        # compounds round over round — without materialization round r's
        # plan re-executes every earlier round's propagation (the
        # multi-consumer rule, SURVEY §5; measured 36.0 -> 10.0 s at sf0.1).
        pick = (
            cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        summaries.append(
            pick.join(F.broadcast(truth), "node").agg(
                F.lit(r).cast("long").alias("round"),
                F.count(F.lit(1)).cast("long").alias("n_labeled_nonseed"),
                F.sum(F.when(F.col("label") == F.col("brand"), 1).otherwise(0))
                .cast("long")
                .alias("n_correct"),
                F.round(
                    F.sum(F.when(F.col("label") == F.col("brand"), 1).otherwise(0))
                    * F.lit(1.0)
                    / F.count(F.lit(1)),
                    6,
                ).alias("accuracy"),
            )
        )
        labels = seeds.unionByName(pick)
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    out = out.orderBy("round").localCheckpoint(eager=True)
    edges.unpersist()
    return out
