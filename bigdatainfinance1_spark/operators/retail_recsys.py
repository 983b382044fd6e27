"""Retail and recommender analytics: co-purchase mining, association rules, skyline/geo lookups, RFM, collaborative filtering.

Carved out of operators/analytics.py (round-2 wave 1-3) and operators/analytics2.py (round-2 wave 4-5) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 9 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


sql_query(
    "q_copurchase_pairs",
    """
    SELECT
      a.l_partkey AS part_1,
      b.l_partkey AS part_2,
      count(*)    AS n_orders
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_1, part_2
    ORDER BY n_orders DESC, part_1, part_2
    LIMIT 20
    """,
    tags=("analytics", "join"),
    doc="""Market-basket co-occurrence: part pairs appearing on the same order,
    top-20 by frequency (full tiebreak for a deterministic LIMIT). The
    self-join is keyed on l_orderkey, whose group size is bounded (≤7 lines
    per TPC-H order), so pair fan-out is ≤21 per order — linear in orders,
    not quadratic in parts; the final top-k is a TakeOrdered, not a sort.""",
)


_SKYLINE_SQL = """
    WITH pts AS (
      SELECT p_brand, p_retailprice, p_size, count(*) AS n_parts
      FROM part GROUP BY p_brand, p_retailprice, p_size
    ),
    ordered AS (
      SELECT p_brand, p_retailprice, p_size, n_parts,
        max(p_size) OVER (
          PARTITION BY p_brand ORDER BY p_retailprice, p_size DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS best_size_before
      FROM pts
    )
    SELECT p_brand, p_retailprice, p_size, n_parts
    FROM ordered
    WHERE best_size_before IS NULL OR p_size > best_size_before
"""


sql_query(
    "q_skyline_parts", _SKYLINE_SQL, tags=("analytics",),
    doc="""2D skyline (Pareto frontier) per brand: parts not dominated on
    (minimize retail price, maximize size). The naive formulation is an
    O(n^2) NOT-EXISTS self-join; this is the O(n log n) sweep — sort by
    (price asc, size desc) and keep rows whose size strictly exceeds the
    running max over all strictly-preceding rows. Dominance follows: any
    earlier row has price <= yours, so a preceding size >= yours means
    you're dominated (ties collapse first via the distinct-points CTE).
    One shuffle on p_brand, per-brand ordered window — no cartesian
    anywhere. One SQL text runs verbatim on Spark and DuckDB.""",
)


_GEO_SQL = """
    WITH cust AS (
      SELECT c_custkey,
        ((c_custkey * 2654435761) % 4294967296) % 1800 / 10e0 - 90e0  AS lat,
        ((c_custkey * 2246822519) % 4294967296) % 3600 / 10e0 - 180e0 AS lon
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey,
        ((s_suppkey * 2654435761 + 97) % 4294967296) % 1800 / 10e0 - 90e0  AS lat,
        ((s_suppkey * 2246822519 + 31) % 4294967296) % 3600 / 10e0 - 180e0 AS lon
      FROM supplier
    ),
    probes(dx, dy) AS (
      VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
    ),
    cand AS (
      SELECT c.c_custkey, s.s_suppkey,
        (c.lat - s.lat) * (c.lat - s.lat) + (c.lon - s.lon) * (c.lon - s.lon) AS d2,
        row_number() OVER (
          PARTITION BY c.c_custkey
          ORDER BY (c.lat - s.lat) * (c.lat - s.lat)
                 + (c.lon - s.lon) * (c.lon - s.lon),
                s.s_suppkey
        ) AS rn
      FROM cust c
      CROSS JOIN probes p
      JOIN supp s
        ON CAST(floor(s.lat / 5) AS BIGINT) = CAST(floor(c.lat / 5) AS BIGINT) + p.dy
       AND CAST(floor(s.lon / 5) AS BIGINT) = CAST(floor(c.lon / 5) AS BIGINT) + p.dx
    )
    SELECT c_custkey, s_suppkey AS nearest_suppkey, round(d2, 6) AS d2
    FROM cand WHERE rn = 1
"""


sql_query(
    "q_geo_grid_knn", _GEO_SQL, tags=("analytics", "spatial"),
    doc="""Spatial nearest-neighbor via GRID BUCKETING: each entity gets
    deterministic synthetic coordinates (Knuth multiplicative hash mod a
    0.1-degree lattice — pure 64-bit integer arithmetic, so both engines
    derive bit-identical doubles), then each customer probes its own
    5-degree grid cell plus the 8 neighbors (a 9-way equi-join on cell
    ids, the scalable spatial-join shape — candidate pairs are linear in
    density, never all-pairs) and keeps the closest supplier by squared
    equirectangular distance with a deterministic id tiebreak. Customers
    with no supplier within the ring drop out (documented inner-join
    semantics). One SQL text runs verbatim on Spark and DuckDB.""",
)


@query(
    "q_assoc_rules",
    oracle="""
    WITH part_orders AS (
      SELECT l_partkey, count(DISTINCT l_orderkey) AS n_ord
      FROM lineitem GROUP BY l_partkey
    ),
    pair_orders AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             count(DISTINCT a.l_orderkey) AS n_ab
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(DISTINCT a.l_orderkey) >= 3
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem)
    SELECT pa, pb, n_ab,
      round(n_ab * 1e0 / oa.n_ord, 6)                        AS confidence_ab,
      round(n_ab * 1e0 * t.n / (oa.n_ord * ob.n_ord), 6)     AS lift
    FROM pair_orders
    JOIN part_orders oa ON pa = oa.l_partkey
    JOIN part_orders ob ON pb = ob.l_partkey
    CROSS JOIN tot t
    ORDER BY lift DESC, pa, pb
    LIMIT 10
    """,
    tags=("analytics",),
)
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over market baskets: top-10 part pairs by LIFT
    (support ≥ 3 orders), with the a→b confidence. Order-bounded pair
    fan-out (≤ 21 pairs per order) keeps the candidate relation linear in
    orders; the part-support relation is vocabulary-sized and broadcast
    back twice. Ordering is on the ROUNDED lift with a full (pa, pb)
    tiebreak so the top-10 cut is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part_orders = li.groupBy("l_partkey").agg(
        F.count_distinct("l_orderkey").alias("n_ord")
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count_distinct("l_orderkey").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    tot = li.agg(F.count_distinct("l_orderkey").alias("n"))
    oa = part_orders.select(F.col("l_partkey").alias("pa"), F.col("n_ord").alias("n_a"))
    ob = part_orders.select(F.col("l_partkey").alias("pb"), F.col("n_ord").alias("n_b"))
    return (
        pairs.join(F.broadcast(oa), "pa")
        .join(F.broadcast(ob), "pb")
        .crossJoin(F.broadcast(tot))
        .select(
            "pa",
            "pb",
            "n_ab",
            F.round(F.col("n_ab") * F.lit(1.0) / F.col("n_a"), 6).alias("confidence_ab"),
            F.round(
                F.col("n_ab") * F.lit(1.0) * F.col("n") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(10)
    )


@query(
    "q_supplier_scorecard",
    oracle="""
    WITH perf AS (
      SELECT l.l_suppkey,
             count(*) AS n_lines,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             CAST(sum(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 30
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_suppkey
    ),
    ranked AS (
      SELECT s.s_name, n.n_name, p.n_lines, p.cents, p.n_on_time,
             row_number() OVER (PARTITION BY n.n_name
                                ORDER BY p.cents DESC, s.s_suppkey) AS rnk
      FROM perf p
      JOIN supplier s ON p.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT
      n_name,
      CAST(rnk AS BIGINT)                     AS rnk,
      s_name,
      CAST(n_lines AS BIGINT)                 AS n_lines,
      round(cents / 100e0, 2)                 AS revenue,
      round(n_on_time * 1e0 / n_lines, 4)     AS on_time_share
    FROM ranked WHERE rnk <= 3
    """,
    tags=("analytics", "finance", "join"),
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier performance scorecard: top-3 suppliers per nation by
    revenue, with volume and on-time shipping share (shipped ≤30 days
    after order) — the procurement review composite that exercises the
    supplier dimension end-to-end (fact⋈fact on orderkey for dates, then
    two broadcast dims, then a per-nation ranked window with full
    tiebreak). Revenue is exact integer cents; on-time share divides
    exact counts; ranks order on (cents, suppkey) — a total order.
    Scale: the supplier-grain aggregate collapses the fact before any
    window; per-nation top-3 is a WindowGroupLimit, not a sort."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    perf = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents"),
            F.sum(
                F.when(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) <= 30, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_on_time"),
        )
    )
    w = Window.partitionBy("n_name").orderBy(F.col("cents").desc(), "s_suppkey")
    ranked = (
        perf.join(F.broadcast(sup), perf.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )
    return ranked.select(
        "n_name",
        F.col("rnk").cast("long").alias("rnk"),
        "s_name",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("n_on_time") * F.lit(1.0) / F.col("n_lines"), 4).alias("on_time_share"),
    )


# Year-scoped RFM (same quartile + segment rules as q_rfm_segmentation,
# but PARTITIONED by year so each year is scored against its own cohort)
# shared by Spark and DuckDB verbatim.
_RFM_YEAR_SQL = """
    base AS (
      SELECT
        CAST(year(o_orderdate) AS BIGINT) AS yr,
        o_custkey                   AS custkey,
        max(o_orderdate)            AS last_order,
        count(*)                    AS freq,
        round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS monetary
      FROM orders
      WHERE year(o_orderdate) IN (1999, 2000)
      GROUP BY yr, custkey
    ),
    scored AS (
      SELECT yr, custkey,
        CAST(ntile(4) OVER (PARTITION BY yr ORDER BY last_order, custkey) AS BIGINT) AS r_score,
        CAST(ntile(4) OVER (PARTITION BY yr ORDER BY freq, custkey) AS BIGINT)       AS f_score,
        CAST(ntile(4) OVER (PARTITION BY yr ORDER BY monetary, custkey) AS BIGINT)   AS m_score
      FROM base
    ),
    seg AS (
      SELECT yr, custkey,
        CASE
          WHEN r_score = 4 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
          WHEN r_score >= 3 AND f_score >= 3               THEN 'loyal'
          WHEN r_score = 1                                 THEN 'at_risk'
          ELSE 'regular'
        END AS segment
      FROM scored
    )
"""


_RFM_MIGRATION_SQL = f"""
    WITH {_RFM_YEAR_SQL}
    SELECT
      a.segment AS seg_1999,
      b.segment AS seg_2000,
      CAST(count(*) AS BIGINT) AS n_customers
    FROM (SELECT * FROM seg WHERE yr = 1999) a
    JOIN (SELECT * FROM seg WHERE yr = 2000) b ON a.custkey = b.custkey
    GROUP BY seg_1999, seg_2000
    """


sql_query(
    "q_rfm_migration", _RFM_MIGRATION_SQL, tags=("analytics", "crm", "finance"),
    doc="""RFM segment migration matrix, 1999→2000 — the CRM artifact built ON
    q_rfm_segmentation: score each year's customers against their own
    cohort (quartile windows PARTITIONED by year — scoring 2000 against
    1999's distribution would bake in drift), apply the same segment
    rules, and count customers per (from, to) cell. Champions that slide
    to at_risk are the churn-save call list. Determinism: every ntile
    orders by (metric, custkey) — total order. Scale: one year-partitioned
    scoring pass and a customer-keyed self-join of two year slices; at
    100 TB years are separate partitions and the join is co-partitioned
    on the customer key. One SQL text runs verbatim on both engines.""",
)


@query(
    "q_abc_xyz",
    oracle="""
    WITH pm AS (
      SELECT l.l_partkey AS part,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS m,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY part, m
    ),
    per_part AS (
      SELECT part,
             CAST(count(*) AS BIGINT)      AS n_m,
             CAST(sum(q) AS BIGINT)        AS sq,
             CAST(sum(q * q) AS BIGINT)    AS sqq
      FROM pm GROUP BY part
    ),
    rev AS (
      SELECT l_partkey AS part,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY part
    ),
    ranked AS (
      SELECT part, cents,
             CAST(sum(cents) OVER (
               PARTITION BY 1 ORDER BY cents DESC, part
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM rev
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
    classed AS (
      SELECT r.part, r.cents,
             CASE WHEN r.cum * 100 <= 80 * t.t THEN 'A'
                  WHEN r.cum * 100 <= 95 * t.t THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN 4 * p.n_m * p.sqq <= 5 * p.sq * p.sq THEN 'X'
                  WHEN p.n_m * p.sqq <= 2 * p.sq * p.sq THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM ranked r
      CROSS JOIN tot t
      JOIN per_part p ON r.part = p.part
    )
    SELECT abc, xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM classed GROUP BY abc, xyz
    """,
    tags=("analytics", "inventory", "classification"),
)
def abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory classification — the supply-chain segmentation
    grid: ABC from the cumulative revenue share in descending-revenue
    order (A ≤ 80%, B ≤ 95%, C beyond), XYZ from monthly-demand
    variability (cv² ≤ 0.25 → X, ≤ 1 → Y, else Z over observed months).
    EVERY class boundary is a pure integer comparison — cum·100 ≤ 80·total
    and 4·n·Σq² ≤ 5·(Σq)² — so no float ever decides a class. The global
    descending cumulative sum uses the range-bucketed prefix machinery
    (functions/ranks.py; the oracle's single-partition window is fine for
    DuckDB, banned in operators/). Scale: two fact aggregates + the
    two-shuffle global prefix + a 9-cell rollup."""
    from bigdatainfinance1_spark.functions.ranks import global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pm = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy(
            F.col("l_partkey").alias("part"),
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("m"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    )
    per_part = pm.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_m"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
    )
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents")
    )
    ranked = global_running_sum(
        rev, [F.col("cents").desc(), F.col("part")], "cents", "cum"
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    classed = (
        ranked.crossJoin(F.broadcast(tot))
        .join(per_part, "part")
        .select(
            "cents",
            F.when(F.col("cum") * 100 <= 80 * F.col("t"), "A")
            .when(F.col("cum") * 100 <= 95 * F.col("t"), "B")
            .otherwise("C")
            .alias("abc"),
            F.when(4 * F.col("n_m") * F.col("sqq") <= 5 * F.col("sq") * F.col("sq"), "X")
            .when(F.col("n_m") * F.col("sqq") <= 2 * F.col("sq") * F.col("sq"), "Y")
            .otherwise("Z")
            .alias("xyz"),
        )
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


@query(
    "q_topk_turnover",
    oracle="""
    WITH yearly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS y, o_custkey AS cust,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY y, cust
    ),
    ranked AS (
      SELECT y, cust,
             row_number() OVER (PARTITION BY y ORDER BY cents DESC, cust) AS rn
      FROM yearly
    ),
    topk AS (SELECT y, cust FROM ranked WHERE rn <= 20),
    pairs AS (
      SELECT a.y + 1 AS y, CAST(count(*) AS BIGINT) AS n_common
      FROM topk a JOIN topk b ON b.y = a.y + 1 AND a.cust = b.cust
      GROUP BY a.y + 1
    ),
    years AS (SELECT DISTINCT y FROM topk)
    SELECT
      yr.y,
      coalesce(p.n_common, 0) AS n_retained,
      20 - coalesce(p.n_common, 0) AS n_new,
      round(coalesce(p.n_common, 0) / (40e0 - coalesce(p.n_common, 0)), 6) AS jaccard
    FROM years yr
    JOIN years prev ON prev.y = yr.y - 1
    LEFT JOIN pairs p ON p.y = yr.y
    """,
    tags=("analytics", "ranking", "stability"),
)
def topk_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard turnover: how much of each year's top-20 customer set
    (by exact-cents revenue) carries over from the previous year —
    retained count, new entrants, and the set Jaccard (|∩| / (40 − |∩|)
    since both sets have exactly 20). The metric behind 'is our whale
    cohort stable' dashboards and rank-stability monitoring for feature
    drift. Ranking orders by (cents DESC, custkey) — total, so both
    engines cut the same top-20 even through ties. Scale: one
    (year, customer) aggregate, a year-partitioned ranking window over
    bounded groups, and a self-join of two 20-row-per-year relations."""
    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.col("o_custkey").alias("cust"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"))
    w = Window.partitionBy("y").orderBy(F.col("cents").desc(), "cust")
    topk = yearly.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    a = topk.select(F.col("y").alias("ya"), "cust")
    b = topk.select(F.col("y").alias("yb"), "cust")
    pairs = (
        a.join(b, (b["yb"] == a["ya"] + 1) & (a["cust"] == b["cust"]))
        .groupBy((F.col("ya") + 1).alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    years = topk.select("y").distinct()
    prev = years.select((F.col("y") + 1).alias("y"))
    spine = years.join(prev, "y")
    out = spine.join(pairs, "y", "left").select(
        "y",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_retained"),
        (F.lit(20) - F.coalesce("n_common", F.lit(0))).cast("long").alias("n_new"),
        F.round(
            F.coalesce("n_common", F.lit(0)) / (F.lit(40.0) - F.coalesce("n_common", F.lit(0))),
            6,
        ).alias("jaccard"),
    )
    return out


# Row bound for force-broadcasting the O(customers) `sizes` lookup in
# q_user_cf_neighbors (round-5 ADVICE: unconditional broadcast of a
# corpus-proportional relation risks OOM). ~16 B/row -> ~32 MB at the
# bound, comfortably inside a production driver/executor; above it AQE
# picks the join strategy.
SIZES_BROADCAST_MAX_ROWS = 2_000_000


@query(
    "q_user_cf_neighbors",
    oracle="""
    WITH purchased AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pop AS (
      SELECT part, count(*) AS n_buyers FROM purchased GROUP BY part
    ),
    informative AS (
      SELECT p.cust, p.part
      FROM purchased p JOIN pop ON p.part = pop.part
      WHERE pop.n_buyers <= 50
    ),
    sizes AS (
      SELECT cust, CAST(count(*) AS BIGINT) AS sz FROM informative GROUP BY cust
    ),
    common AS (
      SELECT a.cust AS c1, b.cust AS c2, CAST(count(*) AS BIGINT) AS n_common
      FROM informative a JOIN informative b
        ON a.part = b.part AND a.cust < b.cust
      GROUP BY c1, c2
    ),
    both_dirs AS (
      SELECT c1, c2, n_common FROM common
      UNION ALL
      SELECT c2, c1, n_common FROM common
    ),
    scored AS (
      SELECT bd.c1, bd.c2, bd.n_common,
             round(bd.n_common * 1e0 / (s1.sz + s2.sz - bd.n_common), 6) AS jaccard
      FROM both_dirs bd
      JOIN sizes s1 ON bd.c1 = s1.cust
      JOIN sizes s2 ON bd.c2 = s2.cust
    ),
    ranked AS (
      SELECT c1, c2, n_common, jaccard,
             row_number() OVER (
               PARTITION BY c1 ORDER BY jaccard DESC, c2
             ) AS rn
      FROM scored
    )
    SELECT c1 AS cust, CAST(rn AS BIGINT) AS rn, c2 AS neighbor, n_common, jaccard
    FROM ranked WHERE rn <= 3
    """,
    tags=("analytics", "recsys", "similarity"),
)
def user_cf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-user collaborative-filtering neighbors: top-3 most similar
    customers by Jaccard over purchased part sets — the classic
    neighborhood model, built scale-honestly with the FREQUENCY CAP: parts
    bought by more than 50 customers are dropped before the pair join
    (a part bought by B customers emits B² pairs; popular items carry no
    similarity signal and all of the quadratic cost — the standard
    inverse-frequency trick, so pair fan-out is bounded by Σ min(B,50)²).
    Jaccard is exact-integer counts divided once, rounded BEFORE ranking;
    row_number breaks ties by neighbor id so top-3 is engine-stable.
    Scale: pair generation shuffles on the part key (bounded groups), the
    ranking window on the customer key — no cross join anywhere."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    purchased = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    pop = purchased.groupBy("part").agg(F.count(F.lit(1)).alias("n_buyers"))
    # informative feeds THREE consumers (sizes + both sides of the pair
    # join); an eager localCheckpoint materializes it once on the executors
    # and truncates the join+distinct lineage, instead of recomputing the
    # orders⋈lineitem distinct three times (round-3 measurement: 10.4 s →
    # 8.3 s end-to-end at sf0.1). Same pattern a cluster job uses to reuse
    # a filtered interaction matrix across CF stages.
    informative = purchased.join(
        pop.filter(F.col("n_buyers") <= 50).select("part"), "part"
    ).localCheckpoint(eager=True)
    # sizes is read three times (the broadcast-row-bound count + both
    # endpoint lookups); one eager checkpoint of the O(customers) relation
    # runs the 550 k-row aggregation once instead of once per broadcast
    # build (round-9: the before-plan showed TWO full HashAggregate
    # subtrees over `informative` feeding the two BroadcastExchanges).
    sizes = (
        informative.groupBy("cust")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .localCheckpoint(eager=True)
    )
    a = informative.select(F.col("cust").alias("c1"), "part")
    b = informative.select(F.col("cust").alias("c2"), "part")
    # Round 9 (verdict task 3): score the UNORDERED pair relation, then fan
    # out both directions. The old shape checkpointed `common` to feed two
    # union branches and joined sizes onto the 2x directed stream; jaccard
    # is symmetric, so joining sizes and computing it ONCE on the c1<c2
    # half and emitting both orientations with one `inline` on the
    # aggregated stream halves the lookup-join/jaccard volume, removes the
    # checkpoint barrier, and keeps the Σ min(B,50)² pair join
    # single-consumer (no duplicated subtree).
    common = (
        a.join(b, "part")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .localCheckpoint(eager=True)
    )
    # sizes is O(customers) — broadcasting both aliases keeps the pair rows
    # from being exchange-sorted for these lookups, but an unconditional
    # hint risks executor OOM at large SF (round-5 ADVICE: the relation is
    # corpus-proportional). Gate on a measured row bound (one cheap job
    # over the checkpointed relation); above it, let AQE choose the join.
    n_cust = sizes.count()
    bc = F.broadcast if n_cust <= SIZES_BROADCAST_MAX_ROWS else (lambda df: df)
    s1 = sizes.select(F.col("cust").alias("c1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("cust").alias("c2"), F.col("sz").alias("sz2"))
    scored = (
        common.join(bc(s1), "c1")
        .join(bc(s2), "c2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") * F.lit(1.0) / (F.col("sz1") + F.col("sz2") - F.col("n_common")),
                6,
            ),
        )
        .select(
            F.expr(
                "inline(array("
                "named_struct('c1', c1, 'c2', c2, 'n_common', n_common, 'jaccard', jaccard),"
                "named_struct('c1', c2, 'c2', c1, 'n_common', n_common, 'jaccard', jaccard)))"
            )
        )
    )
    w = Window.partitionBy("c1").orderBy(F.col("jaccard").desc(), "c2")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("c1").alias("cust"),
            F.col("rn").cast("long").alias("rn"),
            F.col("c2").alias("neighbor"),
            "n_common",
            "jaccard",
        )
    )


sql_query(
    "q_new_vs_returning",
    """
    WITH firsts AS (
      SELECT o_custkey, min(o_orderdate) AS first_dt FROM orders GROUP BY o_custkey
    ),
    labeled AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS m,
             CASE WHEN o.o_orderdate = f.first_dt THEN 'new' ELSE 'returning' END AS cohort,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT m, cohort,
           CAST(count(*) AS BIGINT)  AS n_orders,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM labeled GROUP BY m, cohort
    """,
    tags=("analytics", "retail", "product"),
    doc="""New-vs-returning revenue split per month — the commerce health
    decomposition (acquisition revenue vs retention revenue) that
    q_growth_accounting computes for USERS, here at the revenue grain: an
    order is 'new' iff its date equals its customer's first-order date
    (ties on the same day count as new — the standard convention), and
    monthly order counts and exact-cents revenue split by that label.
    Scale shape: one customer-grain min (broadcastable — customer
    cardinality), one equi-join back to orders, one (month, cohort)
    aggregation.""",
)


# ---------------------------------------------------------------------------
# q_newsvendor — critical-fractile stocking targets per brand
# ---------------------------------------------------------------------------

NV_CU = 3.0  # unit underage cost (lost margin)
NV_CO = 1.0  # unit overage cost (holding/salvage loss)
NV_CR = NV_CU / (NV_CU + NV_CO)  # critical ratio = 0.75


@query(
    "q_newsvendor",
    oracle=f"""
    WITH dem AS (
      SELECT p.p_brand AS brand,
             CAST(year(l.l_shipdate) AS BIGINT) * 12 + month(l.l_shipdate) AS mi,
             CAST(sum(l.l_quantity) AS BIGINT) AS d
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, mi
    ),
    ranked AS (
      SELECT brand, mi, d,
             row_number() OVER (PARTITION BY brand ORDER BY d, mi) AS rn,
             count(*) OVER (PARTITION BY brand) AS n
      FROM dem
    ),
    qstar AS (
      SELECT brand, max(n) AS n,
             min(CASE WHEN rn = CAST(ceil({NV_CR} * n) AS BIGINT) THEN d END) AS q
      FROM ranked GROUP BY brand
    ),
    cost AS (
      SELECT dem.brand, max(qstar.n) AS n, max(qstar.q) AS q,
             sum(CASE WHEN qstar.q > dem.d THEN qstar.q - dem.d ELSE 0 END)
               * 1.0 / max(qstar.n) AS e_over,
             sum(CASE WHEN dem.d > qstar.q THEN dem.d - qstar.q ELSE 0 END)
               * 1.0 / max(qstar.n) AS e_under
      FROM dem JOIN qstar ON qstar.brand = dem.brand
      GROUP BY dem.brand
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_months,
           CAST(q AS BIGINT) AS q_star,
           round(e_over, 6) AS e_overstock,
           round(e_under, 6) AS e_understock,
           round({NV_CO} * e_over + {NV_CU} * e_under, 6) AS e_cost
    FROM cost ORDER BY brand
    """,
    tags=("analytics", "finance", "agg"),
)
def newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking targets per brand: the critical-fractile
    order quantity Q* = F⁻¹(cu/(cu+co)) = the 0.75-quantile of the
    brand's empirical monthly demand (discrete quantile at rank
    ⌈0.75·n⌉, the q_percentile_disc rank formulation so both engines
    pick the identical month), with the expected overstock/understock
    units and expected cost at Q* evaluated against the same empirical
    distribution — the foundational stochastic-inventory operator that
    turns the demand history (q_abc_xyz classifies it) into an order
    policy.

    Scale: one fact-dim aggregate to the O(brands × calendar) demand
    panel (part broadcast); per-brand window ranks over ≤80-row
    partitions; one closed-form cost pass. Demands are exact BIGINT
    month sums (l_quantity is integer-valued), so quantiles and cost
    sums are exact integers until the final averages, rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dem = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.year("l_shipdate").cast("long") * 12 + F.month("l_shipdate")).alias("mi"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("d"))
    )
    w = Window.partitionBy("brand").orderBy("d", "mi")
    wb = Window.partitionBy("brand")
    ranked = dem.select(
        "brand",
        "d",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wb).alias("n"),
    )
    qstar = ranked.groupBy("brand").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.lit(NV_CR) * F.col("n")).cast("long"),
                F.col("d"),
            )
        ).alias("q"),
    )
    cost = (
        dem.join(F.broadcast(qstar), "brand")
        .groupBy("brand")
        .agg(
            F.max("n").alias("n"),
            F.max("q").alias("q"),
            (
                F.sum(
                    F.when(F.col("q") > F.col("d"), F.col("q") - F.col("d")).otherwise(0)
                )
                * 1.0
                / F.max("n")
            ).alias("e_over"),
            (
                F.sum(
                    F.when(F.col("d") > F.col("q"), F.col("d") - F.col("q")).otherwise(0)
                )
                * 1.0
                / F.max("n")
            ).alias("e_under"),
        )
    )
    return cost.select(
        "brand",
        F.col("n").cast("long").alias("n_months"),
        F.col("q").cast("long").alias("q_star"),
        F.round(F.col("e_over"), 6).alias("e_overstock"),
        F.round(F.col("e_under"), 6).alias("e_understock"),
        F.round(NV_CO * F.col("e_over") + NV_CU * F.col("e_under"), 6).alias("e_cost"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# q_bass_diffusion — innovation/imitation adoption-curve fit
# ---------------------------------------------------------------------------


@query(
    "q_bass_diffusion",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate)) AS mi
      FROM orders GROUP BY o_custkey
    ),
    adopt AS (SELECT mi, count(*) AS a FROM firsts GROUP BY mi),
    cum AS (
      SELECT x.mi, x.a,
             CAST(coalesce(sum(y.a), 0) AS BIGINT) AS n_prev
      FROM adopt x LEFT JOIN adopt y ON y.mi < x.mi
      GROUP BY x.mi, x.a
    ),
    obs AS (
      SELECT a * 1.0 AS y, n_prev * 1.0 AS x1, n_prev * 1.0 * n_prev AS x2
      FROM cum WHERE n_prev > 0
    ),
    mm AS (
      SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             CAST(sum(CAST(round(x1 * x1) AS HUGEINT)) AS DOUBLE) AS s11,
             CAST(sum(CAST(round(x2 * x2) AS HUGEINT)) AS DOUBLE) AS s22,
             CAST(sum(CAST(round(x1 * x2) AS HUGEINT)) AS DOUBLE) AS s12,
             CAST(sum(CAST(round(x1 * y) AS HUGEINT)) AS DOUBLE) AS s1y,
             CAST(sum(CAST(round(x2 * y) AS HUGEINT)) AS DOUBLE) AS s2y
      FROM obs
    ),
    c AS (
      SELECT n,
             n * s11 - s1 * s1 AS a11, n * s12 - s1 * s2 AS a12,
             n * s22 - s2 * s2 AS a22,
             n * s1y - s1 * sy AS b1, n * s2y - s2 * sy AS b2,
             s1, s2, sy
      FROM mm
    ),
    fit AS (
      SELECT n,
             (sy - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * s1
                 - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * s2) / n AS ca,
             (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS cb,
             (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS cc
      FROM c
    ),
    bass AS (
      SELECT n, ca, cb, cc,
             CASE WHEN cb * cb - 4 * ca * cc >= 0 AND cc < 0
                  THEN (-cb - sqrt(cb * cb - 4 * ca * cc)) / (2 * cc) END AS m
      FROM fit
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(ca, 6) AS coef_a,
           round(cb, 6) AS coef_b,
           round(cc, 9) AS coef_c,
           round(m, 2) AS m_hat,
           round(ca / m, 6) AS p_hat,
           round(-cc * m, 6) AS q_hat,
           round(ln((-cc * m) / (ca / m)) / (ca / m + (-cc * m)), 2) AS peak_month
    FROM bass
    """,
    tags=("analytics", "timeseries", "model"),
)
def bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion fit on customer adoption (first-order month):
    the discrete Bass regression nₜ = a + b·Nₜ₋₁ + c·Nₜ₋₁² solved by the
    closed-form two-factor normal equations (the q_ols_two_factor
    Cramer shape), then the structural parameters — market potential m
    as the economically meaningful root of c·m² + b·m + a = 0,
    innovation p = a/m, imitation q = −c·m, and the implied adoption
    peak t* = ln(q/p)/(p+q) — the canonical growth-curve operator over
    exactly the new-customer series q_growth_accounting reports
    descriptively.

    Scale: one first-touch aggregate (map-side combinable min per
    customer), one O(calendar) adopters relation; the cumulative-prior
    join is triangular over ≤80 broadcast rows; one 9-moment aggregate
    and closed forms. The m root is guarded (discriminant ≥ 0 and
    c < 0), so a non-S-shaped panel yields NULL structural parameters
    identically on both engines rather than a NaN."""
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(
            F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")
        ).alias("mi")
    )
    adopt = firsts.groupBy("mi").agg(F.count(F.lit(1)).alias("a"))
    prior = adopt.select(F.col("mi").alias("mj"), F.col("a").alias("aj"))
    cum = (
        adopt.join(F.broadcast(prior), F.col("mj") < F.col("mi"), "left")
        .groupBy("mi", "a")
        .agg(F.coalesce(F.sum("aj"), F.lit(0)).cast("long").alias("n_prev"))
    )
    obs = cum.filter(F.col("n_prev") > 0).select(
        (F.col("a") * 1.0).alias("y"),
        (F.col("n_prev") * 1.0).alias("x1"),
        (F.col("n_prev") * 1.0 * F.col("n_prev")).alias("x2"),
    )
    # integer-moments rule: x1/x2/y are integer-valued — the high-order
    # product sums run in decimal so they stay exact past 2^53
    mm = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.round(F.col("x1") * F.col("x1")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s11"),
        F.sum(F.round(F.col("x2") * F.col("x2")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s22"),
        F.sum(F.round(F.col("x1") * F.col("x2")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s12"),
        F.sum(F.round(F.col("x1") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s1y"),
        F.sum(F.round(F.col("x2") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2y"),
    )
    c = mm.select(
        "n",
        (F.col("n") * F.col("s11") - F.col("s1") * F.col("s1")).alias("a11"),
        (F.col("n") * F.col("s12") - F.col("s1") * F.col("s2")).alias("a12"),
        (F.col("n") * F.col("s22") - F.col("s2") * F.col("s2")).alias("a22"),
        (F.col("n") * F.col("s1y") - F.col("s1") * F.col("sy")).alias("b1"),
        (F.col("n") * F.col("s2y") - F.col("s2") * F.col("sy")).alias("b2"),
        "s1",
        "s2",
        "sy",
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    cb = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    cc_ = (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
    fit = c.select(
        "n",
        ((F.col("sy") - cb * F.col("s1") - cc_ * F.col("s2")) / F.col("n")).alias("ca"),
        cb.alias("cb"),
        cc_.alias("cc"),
    )
    disc = F.col("cb") * F.col("cb") - 4 * F.col("ca") * F.col("cc")
    m = F.when(
        (disc >= 0) & (F.col("cc") < 0),
        (-F.col("cb") - F.sqrt(disc)) / (2 * F.col("cc")),
    )
    bass = fit.select("n", "ca", "cb", "cc", m.alias("m"))
    p = F.col("ca") / F.col("m")
    q = -F.col("cc") * F.col("m")
    return bass.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(F.col("ca"), 6).alias("coef_a"),
        F.round(F.col("cb"), 6).alias("coef_b"),
        F.round(F.col("cc"), 9).alias("coef_c"),
        F.round(F.col("m"), 2).alias("m_hat"),
        F.round(p, 6).alias("p_hat"),
        F.round(q, 6).alias("q_hat"),
        F.round(F.log(q / p) / (p + q), 2).alias("peak_month"),
    )


# ---------------------------------------------------------------------------
# q_gibrat_law — is customer growth independent of size?
# ---------------------------------------------------------------------------

GIBRAT_Y1 = 1999
GIBRAT_Y2 = 2000
GIBRAT_Z95 = 1.959964


@query(
    "q_gibrat_law",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             sum(CASE WHEN year(o_orderdate) = {GIBRAT_Y1}
                      THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS s1,
             sum(CASE WHEN year(o_orderdate) = {GIBRAT_Y2}
                      THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS s2
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '{GIBRAT_Y1}-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '{GIBRAT_Y2 + 1}-01-01 00:00:00'
      GROUP BY o_custkey
    ),
    obs AS (
      SELECT round(ln(s1 / 100e0), 8) AS x,
             round(ln(s2 * 1e0 / s1), 8) AS y
      FROM spend WHERE s1 IS NOT NULL AND s2 IS NOT NULL
    ),
    mm AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(x * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sx,
             CAST(sum(CAST(round(y * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sy,
             CAST(sum(CAST(round(x * 1e8) AS HUGEINT)
                      * CAST(round(x * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS sxx,
             CAST(sum(CAST(round(x * 1e8) AS HUGEINT)
                      * CAST(round(y * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS sxy,
             CAST(sum(CAST(round(y * 1e8) AS HUGEINT)
                      * CAST(round(y * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS syy
      FROM obs
    ),
    fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
             ((n * syy - sy * sy)
              - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (n * sxy - sx * sy)) / n
               AS ssr,
             (n * sxx - sx * sx) / n AS sxx_dev
      FROM mm
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(beta, 6) AS beta_size,
           round(beta / sqrt((ssr / (n - 2)) / sxx_dev), 6) AS t_stat,
           CASE WHEN abs(beta / sqrt((ssr / (n - 2)) / sxx_dev)) > {GIBRAT_Z95}
                THEN 'size_dependent_growth' ELSE 'gibrat_holds' END AS verdict
    FROM fit
    """,
    tags=("analytics", "stats", "finance"),
)
def gibrat_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gibrat's law test on customer spend: regress log growth
    ln(s₂/s₁) on log size ln(s₁) across customers active in both years —
    β = 0 means growth is independent of size (Gibrat holds and the
    size distribution drifts lognormal, the q_heaps_law/q_zipf_terms
    cousin for firm dynamics); β < 0 is the mean-reversion-of-size
    signature. Customers present in only one year drop out (entry/exit
    is the regression's documented censoring).

    Scale: one two-year pushed-down aggregate at customer grain, one
    6-moment closed-form OLS with t — fact-scan bounded. Logs round at
    8; rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{GIBRAT_Y1}-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{GIBRAT_Y2 + 1}-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(
                    F.year("o_orderdate") == GIBRAT_Y1,
                    F.round(F.col("o_totalprice") * 100).cast("long"),
                )
            ).alias("s1"),
            F.sum(
                F.when(
                    F.year("o_orderdate") == GIBRAT_Y2,
                    F.round(F.col("o_totalprice") * 100).cast("long"),
                )
            ).alias("s2"),
        )
    )
    obs = spend.filter(F.col("s1").isNotNull() & F.col("s2").isNotNull()).select(
        F.round(F.log(F.col("s1") / F.lit(100.0)), 8).alias("x"),
        F.round(F.log(F.col("s2") * F.lit(1.0) / F.col("s1")), 8).alias("y"),
    )
    # integer-moments rule: x, y are 8-dp — exact grain moment sums
    x8 = F.round(F.col("x") * 1e8).cast("long")
    y8 = F.round(F.col("y") * 1e8).cast("long")
    mm = obs.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(x8).cast("double") / 1e8).alias("sx"),
        (F.sum(y8).cast("double") / 1e8).alias("sy"),
        (F.sum(x8.cast("decimal(19,0)") * x8).cast("double") / 1e16).alias("sxx"),
        (F.sum(x8.cast("decimal(19,0)") * y8).cast("double") / 1e16).alias("sxy"),
        (F.sum(y8.cast("decimal(19,0)") * y8).cast("double") / 1e16).alias("syy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mm.select(
        "n",
        beta.alias("beta"),
        (
            (
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                - beta * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / F.col("n")
        ).alias("ssr"),
        ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) / F.col("n")).alias(
            "sxx_dev"
        ),
    )
    t = F.col("beta") / F.sqrt((F.col("ssr") / (F.col("n") - 2)) / F.col("sxx_dev"))
    return fit.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("beta"), 6).alias("beta_size"),
        F.round(t, 6).alias("t_stat"),
        F.when(F.abs(t) > GIBRAT_Z95, F.lit("size_dependent_growth"))
        .otherwise(F.lit("gibrat_holds"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_taylor_power_law — demand variance-vs-mean scaling across brands
# ---------------------------------------------------------------------------


@query(
    "q_taylor_power_law",
    oracle="""
    WITH dem AS (
      SELECT p.p_brand AS brand,
             CAST(year(l.l_shipdate) AS BIGINT) * 12 + month(l.l_shipdate) AS mi,
             CAST(sum(l.l_quantity) AS BIGINT) AS d
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, mi
    ),
    g AS (
      SELECT brand, count(*) AS n, avg(d) AS m,
             (sum(d * 1.0 * d) - count(*) * avg(d) * avg(d)) / (count(*) - 1) AS v
      FROM dem GROUP BY brand
    ),
    obs AS (
      SELECT round(ln(m), 8) AS x, round(ln(v), 8) AS y FROM g
    ),
    mm AS (
      SELECT count(*) AS k,
             CAST(sum(CAST(round(x * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sx,
             CAST(sum(CAST(round(y * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sy,
             CAST(sum(CAST(round(x * 1e8) AS HUGEINT)
                      * CAST(round(x * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS sxx,
             CAST(sum(CAST(round(x * 1e8) AS HUGEINT)
                      * CAST(round(y * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS sxy,
             CAST(sum(CAST(round(y * 1e8) AS HUGEINT)
                      * CAST(round(y * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS syy
      FROM obs
    ),
    fit AS (
      SELECT k,
             (k * sxy - sx * sy) / (k * sxx - sx * sx) AS b,
             (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k AS a,
             (k * sxy - sx * sy) * (k * sxy - sx * sy)
               / ((k * sxx - sx * sx) * (k * syy - sy * sy)) AS r2
      FROM mm
    )
    SELECT CAST(k AS BIGINT) AS n_brands,
           round(b, 6) AS taylor_exponent,
           round(exp(a), 6) AS taylor_coef,
           round(r2, 6) AS r_squared,
           CASE WHEN b < 1.0 THEN 'sub_poisson'
                WHEN b <= 2.0 THEN 'poisson_to_clustered'
                ELSE 'super_clustered' END AS regime
    FROM fit
    """,
    tags=("analytics", "stats", "timeseries"),
)
def taylor_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law across brands: fit Var(demand) = a·Mean(demand)^b
    on the log-log scatter of per-brand monthly demand moments — the
    variance-scaling exponent b is THE demand-aggregation planning
    number (b≈1 Poisson-like, 1<b≤2 clustered — safety stock scales as
    mean^(b/2), so q_newsvendor's fractiles tighten or widen with it);
    the classic empirical law across ecology, trading volume, and
    retail demand.

    Scale: one fact-dim broadcast aggregate to the brand-month panel,
    per-brand moments, then a 25-point log-log closed-form OLS. Demands
    are exact BIGINTs; logs round at 8; rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dem = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.year("l_shipdate").cast("long") * 12 + F.month("l_shipdate")).alias("mi"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("d"))
    )
    g = dem.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("d").alias("m"),
        (
            (F.sum(F.col("d") * 1.0 * F.col("d")) - F.count(F.lit(1)) * F.avg("d") * F.avg("d"))
            / (F.count(F.lit(1)) - 1)
        ).alias("v"),
    )
    obs = g.select(
        F.round(F.log("m"), 8).alias("x"), F.round(F.log("v"), 8).alias("y")
    )
    # integer-moments rule: x, y are 8-dp — exact grain moment sums
    tx8 = F.round(F.col("x") * 1e8).cast("long")
    ty8 = F.round(F.col("y") * 1e8).cast("long")
    mm = obs.agg(
        F.count(F.lit(1)).alias("k"),
        (F.sum(tx8).cast("double") / 1e8).alias("sx"),
        (F.sum(ty8).cast("double") / 1e8).alias("sy"),
        (F.sum(tx8.cast("decimal(19,0)") * tx8).cast("double") / 1e16).alias("sxx"),
        (F.sum(tx8.cast("decimal(19,0)") * ty8).cast("double") / 1e16).alias("sxy"),
        (F.sum(ty8.cast("decimal(19,0)") * ty8).cast("double") / 1e16).alias("syy"),
    )
    b = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mm.select(
        "k",
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("k")).alias("a"),
        (
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("r2"),
    )
    return fit.select(
        F.col("k").cast("long").alias("n_brands"),
        F.round(F.col("b"), 6).alias("taylor_exponent"),
        F.round(F.exp(F.col("a")), 6).alias("taylor_coef"),
        F.round(F.col("r2"), 6).alias("r_squared"),
        F.when(F.col("b") < 1.0, F.lit("sub_poisson"))
        .when(F.col("b") <= 2.0, F.lit("poisson_to_clustered"))
        .otherwise(F.lit("super_clustered"))
        .alias("regime"),
    )


# ---------------------------------------------------------------------------
# q_cross_price_elasticity — does brand A's price move brand B's demand?
# ---------------------------------------------------------------------------

XPE_BRAND_A = "Brand#11"  # price side
XPE_BRAND_B = "Brand#12"  # quantity side
XPE_Z95 = 1.959964


@query(
    "q_cross_price_elasticity",
    oracle=f"""
    WITH pa AS (
      SELECT CAST(year(l.l_shipdate) AS BIGINT) * 12 + month(l.l_shipdate) AS mi,
             round(sum(l.l_extendedprice * (1 - l.l_discount)) / sum(l.l_quantity), 6)
               AS price_a
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = '{XPE_BRAND_A}'
      GROUP BY mi
    ),
    qb AS (
      SELECT CAST(year(l.l_shipdate) AS BIGINT) * 12 + month(l.l_shipdate) AS mi,
             CAST(sum(l.l_quantity) AS BIGINT) AS qty_b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = '{XPE_BRAND_B}'
      GROUP BY mi
    ),
    obs AS (
      SELECT round(ln(pa.price_a), 8) AS x, round(ln(qb.qty_b), 8) AS y
      FROM pa JOIN qb ON qb.mi = pa.mi
    ),
    mm AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM obs
    ),
    fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS el,
             ((n * syy - sy * sy)
              - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (n * sxy - sx * sy)) / n
               AS ssr,
             (n * sxx - sx * sx) / n AS sxx_dev
      FROM mm
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(el, 6) AS cross_elasticity,
           round(el / sqrt((ssr / (n - 2)) / sxx_dev), 6) AS t_stat,
           CASE WHEN el / sqrt((ssr / (n - 2)) / sxx_dev) > {XPE_Z95}
                THEN 'substitutes'
                WHEN el / sqrt((ssr / (n - 2)) / sxx_dev) < -{XPE_Z95}
                THEN 'complements'
                ELSE 'independent' END AS relationship
    FROM fit
    """,
    tags=("analytics", "finance", "timeseries"),
)
def cross_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-price elasticity: regress ln(monthly quantity of Brand#12)
    on ln(monthly effective price of Brand#11) — positive and
    significant means substitutes (A's price rise pushes demand to B),
    negative means complements — the pricing-strategy quantity
    q_price_elasticity's OWN-price slope cannot see. Effective price is
    revenue-after-discount over quantity, the realized transaction
    price.

    Scale: two brand-filtered monthly aggregates (predicate reaches the
    part dim, the join prunes the fact side), month equi-join, one
    6-moment closed-form OLS + t — calendar-bounded past the scans.
    Logs round at 8; rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def monthly(brand: str, price_side: bool) -> DataFrame:
        j = li.join(
            F.broadcast(part.filter(F.col("p_brand") == brand).select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        ).groupBy(
            (F.year("l_shipdate").cast("long") * 12 + F.month("l_shipdate")).alias("mi")
        )
        if price_side:
            return j.agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    / F.sum("l_quantity"),
                    6,
                ).alias("price_a")
            )
        return j.agg(F.sum("l_quantity").cast("long").alias("qty_b"))

    pa = monthly(XPE_BRAND_A, True)
    qb = monthly(XPE_BRAND_B, False)
    obs = pa.join(qb, "mi").select(
        F.round(F.log("price_a"), 8).alias("x"),
        F.round(F.log(F.col("qty_b").cast("double")), 8).alias("y"),
    )
    mm = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    el = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mm.select(
        "n",
        el.alias("el"),
        (
            (
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                - el * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / F.col("n")
        ).alias("ssr"),
        ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) / F.col("n")).alias(
            "sxx_dev"
        ),
    )
    t = F.col("el") / F.sqrt((F.col("ssr") / (F.col("n") - 2)) / F.col("sxx_dev"))
    return fit.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("el"), 6).alias("cross_elasticity"),
        F.round(t, 6).alias("t_stat"),
        F.when(t > XPE_Z95, F.lit("substitutes"))
        .when(t < -XPE_Z95, F.lit("complements"))
        .otherwise(F.lit("independent"))
        .alias("relationship"),
    )


# ---------------------------------------------------------------------------
# q_price_dispersion — law-of-one-price violations per part
# ---------------------------------------------------------------------------


@query(
    "q_price_dispersion",
    oracle="""
    WITH unit AS (
      SELECT l_partkey AS pk,
             round(l_extendedprice / l_quantity, 4) AS up
      FROM lineitem WHERE l_quantity > 0
    ),
    g AS (
      SELECT pk, count(*) AS n, avg(up) AS mu,
             sqrt((sum(up * up) - count(*) * avg(up) * avg(up))
                  / nullif(count(*) - 1, 0)) AS sd
      FROM unit GROUP BY pk HAVING count(*) >= 5
    ),
    cv AS (
      SELECT pk, n, round(sd / mu, 8) AS cv FROM g
    ),
    ranked AS (
      SELECT pk, n, cv,
             row_number() OVER (ORDER BY cv DESC, pk) AS rnk,
             count(*) OVER () AS k,
             avg(cv) OVER () AS mean_cv
    FROM cv
    )
    SELECT CAST(pk AS BIGINT) AS part_id,
           CAST(n AS BIGINT) AS n_sales,
           round(cv, 6) AS price_cv,
           round(mean_cv, 6) AS corpus_mean_cv
    FROM ranked WHERE rnk <= 15
    ORDER BY price_cv DESC, part_id
    """,
    tags=("analytics", "finance"),
)
def price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price dispersion per part: the coefficient of variation of
    realized unit prices (extendedprice/quantity) across that part's
    sales — the law-of-one-price audit: identical goods transacting at
    CV > 0 quantifies search frictions or discriminatory pricing; the
    top-15 most-dispersed parts are the repricing/leakage worklist,
    with the corpus mean CV as context. (q_duplicate_payments hunts
    exact anomalies; this measures the systematic spread.)

    Scale: one linear unit-price projection, a per-part moment
    aggregate (map-side combinable, parts ≥ 5 sales), a top-15
    TakeOrdered on the 8-dp-rounded CV with part tie-break. Rounded at
    6."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    unit = li.select(
        F.col("l_partkey").alias("pk"),
        F.round(F.col("l_extendedprice") / F.col("l_quantity"), 4).alias("up"),
    )
    g = (
        unit.groupBy("pk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("up").alias("mu"),
            F.sqrt(
                (
                    F.sum(F.col("up") * F.col("up"))
                    - F.count(F.lit(1)) * F.avg("up") * F.avg("up")
                )
                / F.nullif(F.count(F.lit(1)) - 1, F.lit(0))
            ).alias("sd"),
        )
        .filter(F.col("n") >= 5)
    )
    cv = g.select("pk", "n", F.round(F.col("sd") / F.col("mu"), 8).alias("cv"))
    mean_cv = cv.agg(F.avg("cv").alias("mean_cv"))
    return (
        cv.crossJoin(F.broadcast(mean_cv))
        .orderBy(F.col("cv").desc(), F.col("pk"))
        .limit(15)
        .select(
            F.col("pk").cast("long").alias("part_id"),
            F.col("n").cast("long").alias("n_sales"),
            F.round(F.col("cv"), 6).alias("price_cv"),
            F.round(F.col("mean_cv"), 6).alias("corpus_mean_cv"),
        )
    )
