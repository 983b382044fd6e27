"""Join surface: equi / broadcast / outer / semi / anti / cross / range /
as-of / self joins (SURVEY.md §2.3).

Scale notes: the star schema's dimensions (region 5 … customer 15k rows at
sf0.1) stay broadcastable at any scale factor — dimensions grow with the
catalog, facts grow with time — so every fact⋈dim below pins `F.broadcast`
and never shuffles the fact table. The only shuffling joins are fact⋈fact
(orders⋈lineitem) and the events self-join, both hash-partitioned on their
join key; AQE handles skew splitting at runtime.

The as-of join is the union+window idiom: O(n log n) within each user
partition, one shuffle, no range-join blowup — this is the formulation that
survives 100 TB, unlike a naive non-equi join (O(n·m) per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_star_join",
    oracle="""
    SELECT
      r.r_name,
      n.n_name,
      round(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)) / 100e0, 2) AS revenue,
      count(*)                                              AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("join", "flagship"),
)
def star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2: five-table star join with aggregation pushed below the join:
    lineitem is partially aggregated per l_orderkey BEFORE joining orders
    (revenue/line-count need nothing from the other tables), so the fact
    shuffle carries one row per order instead of ~4 lines — legal because
    orders⋈lineitem is a key-FK 1:N join. Catalyst doesn't do this rewrite
    itself; at 100 TB it cuts the dominant shuffle ~4×. Dims broadcast;
    measured ~1.7× faster than the flat join at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # exact integer cents through the partial aggregate (round-6 emission
    # rule): the per-order partial and the final per-nation sum are then
    # order-insensitive, and the two-level shape equals the oracle's flat
    # sum exactly
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100).cast(
                "long"
            )
        ).alias("rev_c"),
        F.count(F.lit(1)).alias("nl"),
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("rev_c") / 100.0, 2).alias("revenue"),
            F.sum("nl").alias("n_lines"),
        )
    )


@query(
    "q_broadcast_dim_join",
    oracle="""
    SELECT
      p.p_brand,
      round(CAST(sum(CAST(round(l.l_extendedprice * 1e9 / p.p_retailprice)
                          AS HUGEINT)) AS DOUBLE) / count(*) / 1e9, 6)
        AS avg_markup,
      count(*)                                           AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    tags=("join",),
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: explicit broadcast of the part dimension — zero shuffle on the
    fact side (map-side hash join + partial aggregation)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * F.lit(1e9) / F.col("p_retailprice")
                    ).cast("decimal(38,0)")
                ).cast("double")
                / F.count(F.lit(1))
                / 1e9,
                6,
            ).alias("avg_markup"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_outer_join",
    oracle="""
    SELECT
      c.c_custkey,
      count(o.o_orderkey)                          AS n_orders,
      round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey
    """,
    tags=("join",),
)
def outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left outer join keeping customers with no finished orders
    (null-aware count + coalesced sum)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


sql_query(
    "q_full_outer_join",
    """
    SELECT
      count(*)                                        AS n_rows,
      count(a.custkey)                                AS n_with_95,
      count(b.custkey)                                AS n_with_96,
      count(*) - count(a.custkey)                     AS only_96,
      count(*) - count(b.custkey)                     AS only_95
    FROM (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995) a
    FULL OUTER JOIN
         (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996) b
      ON a.custkey = b.custkey
    """,
    tags=("join",),
    doc="""J3: full outer join — customer cohorts of 1995 vs 1996 with nulls on
    both sides counted.""",
)


sql_query(
    "q_semi_join",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    """,
    tags=("join",),
    doc="""J4: left semi join (existence) — never duplicates the left side and
    only ships the join key of the right side.""",
)


@query(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    """,
    tags=("join",),
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left anti join (absence) — customers with no pending orders."""
    cust = load_table(spark, sf_dir, "customer")
    pend = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(pend, cust.c_custkey == pend.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


sql_query(
    "q_cross_join",
    """
    SELECT r.r_name, s.o_orderstatus
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    tags=("join",),
    doc="""J5: guarded cartesian of two tiny relations (5 × 3 rows). Only ever
    cross-join provably tiny sides.""",
)


@query(
    "q_range_join_events",
    oracle="""
    SELECT
      a.user_id,
      count(*) AS n_pairs_5min
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
    tags=("join", "events"),
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: theta/range self-join — event pairs within 5 minutes per user,
    executed as a time-BANDED equi-join (the q_interval_overlap_bucketed
    posture): ts_b in (ts_a, ts_a+5min] forces floor(epoch(ts_b)/300s)
    into {bucket_a, bucket_a+1}, so the left side explodes into exactly
    those two band keys and the join key becomes (user_id, band). Each
    pair matches through exactly ONE exploded key (b has one band), so
    counts are exact with no dedup pass. Candidates are bounded by
    near-diagonal density (events within adjacent 5-min bands) instead
    of the per-user n² a bare user_id hash join evaluates — the shape
    that ran unboundedly at 100× replication (round-8 tier catch #10:
    replicated users put 100× events on the SAME timeline, so per-user
    fan-out grew 10^4× across the whole history; banding prunes any
    candidate farther than one band from the diagonal)."""
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.select(
            F.col("user_id"),
            F.col("ts").alias("ts_a"),
            F.expr("unix_seconds(ts) div 300").alias("bk0"),
        )
        .withColumn("bk", F.explode(F.array(F.col("bk0"), F.col("bk0") + 1)))
        .drop("bk0")
    )
    b = ev.select(
        F.col("user_id").alias("user_id_b"),
        F.col("ts").alias("ts_b"),
        F.expr("unix_seconds(ts) div 300").alias("bk_b"),
    )
    return (
        a.join(
            b,
            (a.user_id == b.user_id_b)
            & (F.col("bk") == F.col("bk_b"))
            & (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTE")),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs_5min"))
    )


@query(
    "q_asof_join",
    oracle="""
    SELECT
      p.event_id,
      p.user_id,
      p.value            AS purchase_value,
      b.value            AS last_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
      ON p.user_id = b.user_id AND p.ts >= b.ts
    """,
    tags=("join", "events", "asof"),
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: as-of join — for each purchase, the most recent click at-or-before
    it per user. Implemented with the union+ordered-window idiom (tag rows,
    sort by (ts, is_probe) so a click at the exact probe ts wins, then
    last(value, ignorenulls) over the running frame). One shuffle on user_id,
    O(n log n) per partition — the formulation that scales, unlike a
    non-equi range join. Oracle: DuckDB's native ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(1).alias("is_probe"),
    )
    base = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("purchase_value"),
        F.col("value").alias("click_value"),
        F.lit(0).alias("is_probe"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        probes.unionByName(base)
        .withColumn("last_click_value", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select("event_id", "user_id", "purchase_value", "last_click_value")
    )


@query(
    "q_asof_tolerance",
    oracle="""
    SELECT
      p.event_id,
      p.user_id,
      p.value AS purchase_value,
      CASE WHEN b.ts IS NOT NULL AND p.ts <= b.ts + INTERVAL 10 MINUTE
           THEN b.value END AS click_value_10m,
      CASE WHEN b.ts IS NOT NULL AND p.ts <= b.ts + INTERVAL 10 MINUTE
           THEN (epoch_us(p.ts) - epoch_us(b.ts)) // 1000000 END AS gap_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
      ON p.user_id = b.user_id AND p.ts >= b.ts
    """,
    tags=("join", "events", "asof"),
)
def asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 variant: as-of join WITH TOLERANCE — the most recent click at-or-
    before each purchase, kept only if it happened within 10 minutes
    (pandas `merge_asof(tolerance=...)` / kdb `wj` semantics). Same
    union+ordered-window shape as q_asof_join — one shuffle on user_id,
    O(n log n) per partition — plus a carried last-click timestamp so the
    tolerance is a post-window null-out, not a second join. Gap seconds are
    integer-division on epoch micros (exact on both engines). Oracle:
    DuckDB ASOF LEFT JOIN with the tolerance applied as a post-filter on
    the matched row — identical semantics (nearest match first, then
    tolerance), NOT "nearest within tolerance"."""
    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(1).alias("is_probe"),
    )
    base = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("purchase_value"),
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
        F.lit(0).alias("is_probe"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_tol = F.col("last_click_ts").isNotNull() & (
        F.col("ts") <= F.col("last_click_ts") + F.expr("INTERVAL 10 MINUTE")
    )
    return (
        probes.unionByName(base)
        .withColumn("last_click_value", F.last("click_value", ignorenulls=True).over(w))
        .withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select(
            "event_id",
            "user_id",
            "purchase_value",
            F.when(in_tol, F.col("last_click_value")).alias("click_value_10m"),
            F.when(
                in_tol,
                F.expr("(unix_micros(ts) - unix_micros(last_click_ts)) DIV 1000000"),
            ).alias("gap_s"),
        )
    )


@query(
    "q_funnel_join",
    oracle="""
    SELECT
      count(DISTINCT s.event_id) AS n_converted_signups,
      count(*)                   AS n_signup_purchase_pairs
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON s.user_id = p.user_id
     AND p.ts > s.ts
     AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
    tags=("join", "events"),
)
def funnel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: self-join funnel — signup→purchase conversion within 1 hour,
    banded on 1-hour time buckets like q_range_join_events (round-8
    tier catch #10's class): p_ts in (s_ts, s_ts+1h] forces
    floor(epoch(p_ts)/3600) into {signup_bucket, signup_bucket+1}, so
    the signup side explodes into those two band keys and the join key
    is (user_id, band). Each true pair matches through exactly one band
    — counts exact, no dedup — and candidates are bounded by
    adjacent-band density instead of per-user signups × purchases over
    the whole history. The surviving pair count (the answer) is still
    output-bound under mass replication; the banding removes the
    non-output-bound candidate overhang."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("s_event_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            F.expr("unix_seconds(ts) div 3600").alias("bk0"),
        )
        .withColumn("bk", F.explode(F.array(F.col("bk0"), F.col("bk0") + 1)))
        .drop("bk0")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.expr("unix_seconds(ts) div 3600").alias("bk_p"),
    )
    pairs = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("bk") == F.col("bk_p"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return pairs.agg(
        F.countDistinct("s_event_id").alias("n_converted_signups"),
        F.count(F.lit(1)).alias("n_signup_purchase_pairs"),
    )


sql_query(
    "q_galaxy_join",
    """
    SELECT
      r.r_name,
      p.p_brand,
      count(*)                                                        AS n_lines,
      round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 1e4, 2) AS revenue,
      count(DISTINCT s.s_nationkey)                                   AS n_supp_nations
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY r.r_name, p.p_brand
    """,
    tags=("join",),
    doc="""The widest join in the repo: a 7-table galaxy — both fact tables
    (lineitem ⋈ orders, the only shuffling join, keyed on orderkey) plus
    FIVE dimension hops (customer, nation, region, part, supplier), every
    one broadcast-pinned so the fact flow is shuffled exactly once. This
    is the plan-shape stress test for join ordering: Catalyst folds the
    five broadcasts into the single fact pipeline, and AQE handles the
    one exchange. Region × brand × supplier-nation rollup on top.
    Revenue is summed in EXACT integer cents×basis-points (price and
    discount are 2-decimal quantities, so cents·(100−bp) is an exact
    BIGINT): at these group sizes (~5k lines/group) a floating sum lands
    on half-cent boundaries often enough that round-2 flips between
    engines — integer arithmetic removes the boundary entirely.""",
)


@query(
    "q_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg FROM customer
    ),
    b AS (
      SELECT o_custkey, o_totalprice,
             nullif(o_orderpriority, '1-URGENT') AS pri
      FROM orders
    ),
    segs AS (SELECT DISTINCT seg FROM a),
    pris AS (SELECT DISTINCT pri FROM b)
    SELECT
      s.seg,
      p.pri,
      CAST(s.seg IS NULL AS BOOLEAN) AS seg_is_null,
      CAST(p.pri IS NULL AS BOOLEAN) AS pri_is_null
    FROM segs s
    JOIN pris p ON (s.seg IS NULL) IS NOT DISTINCT FROM (p.pri IS NULL)
    """,
    tags=("join",),
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family completeness: NULL-SAFE equality join (Spark `<=>` /
    eqNullSafe ↔ SQL IS NOT DISTINCT FROM) — null keys MATCH each other
    instead of vanishing, the semantics every SQL engine must special-case
    because ordinary `=` drops null rows silently. Demonstrated on
    synthesized nullable keys (nullif over the two enum columns), pairing
    the null-ness of the two domains; the flags make the null=null
    matches visible in the output."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    segs = cust.select(
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    ).distinct()
    pris = orders.select(
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pri")
    ).distinct()
    return (
        segs.join(pris, segs.seg.isNull().eqNullSafe(pris.pri.isNull()))
        .select(
            "seg",
            "pri",
            F.col("seg").isNull().alias("seg_is_null"),
            F.col("pri").isNull().alias("pri_is_null"),
        )
    )


@query(
    "q_first_touch_attribution",
    oracle="""
    WITH pairs AS (
      SELECT p.event_id, p.user_id, p.value AS purchase_value,
        c.ts AS c_ts, c.event_id AS c_id, c.value AS c_value,
        row_number() OVER (
          PARTITION BY p.event_id ORDER BY c.ts, c.event_id
        ) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts < p.ts
       AND c.ts >= p.ts - INTERVAL 24 HOUR
    )
    SELECT event_id, user_id, purchase_value,
      c_value AS first_click_value,
      (epoch_us(c_ts)) // 1000000 AS first_click_epoch_s
    FROM pairs WHERE rn = 1
    """,
    tags=("join", "events", "asof"),
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution, FIRST-touch: each purchase credits the
    EARLIEST click in its trailing 24-hour window (the mirror of as-of's
    last-touch; purchases with no click in window drop out). The range
    pairing stays an equi-join on user_id with the time bounds as post-
    filters (hash join, never a nested loop — asserted plan style), and
    the earliest-click pick is a per-purchase row_number over a total
    (ts, event_id) order. Epoch seconds via integer division keep the
    timestamp comparison exact across engines."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("purchase_value")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
        F.col("value").alias("c_value"),
    )
    pairs = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOUR")),
    )
    w = Window.partitionBy("event_id").orderBy("c_ts", "c_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "purchase_value",
            F.col("c_value").alias("first_click_value"),
            F.expr("unix_micros(c_ts) DIV 1000000").alias("first_click_epoch_s"),
        )
    )


_NOT_IN_NULLS_SQL = """
    WITH probe AS (
      -- a NULL is manufactured into the probe set (source tables carry no
      -- nulls): the smallest pending-order custkey becomes NULL
      SELECT nullif(o_custkey,
                    (SELECT min(o_custkey) FROM orders WHERE o_orderstatus = 'P'))
               AS k
      FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT 'not_in' AS variant, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer WHERE c_custkey NOT IN (SELECT k FROM probe)
    UNION ALL
    SELECT 'not_in_null_filtered', CAST(count(*) AS BIGINT)
    FROM customer WHERE c_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL)
    UNION ALL
    SELECT 'not_exists', CAST(count(*) AS BIGINT)
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey)
"""


sql_query(
    "q_not_in_nulls", _NOT_IN_NULLS_SQL, tags=("join", "semantics"),
    doc="""J4+ (three-valued-logic semantics): NOT IN against a subquery that
    contains a NULL returns ZERO rows (x <> NULL is UNKNOWN, so no row can
    prove membership-absence), while NOT EXISTS — and NOT IN over the
    null-filtered probe — return the intended complement. One shared SQL
    text runs verbatim on both engines, so the hash match pins Spark's
    null-aware anti-join rewrite to the ANSI behavior DuckDB implements —
    the classic silent-empty-result trap, made into a regression test.
    Plan note: Spark compiles the NOT IN branch to a null-aware
    BroadcastNestedLoopJoin by necessity (the semantics cannot be a hash
    anti join when the probe may hold NULL); the null-filtered and
    NOT EXISTS branches stay hash anti joins — exactly the rewrite a user
    should apply at 100 TB, which this relation demonstrates by contrast.""",
)
