"""Aggregation surface: global / grouped / distinct / approx / percentile /
statistical / rollup / cube / pivot / collect (SURVEY.md §2.4).

Scale notes: every groupBy here relies on Catalyst's partial (map-side)
aggregation, so the shuffle carries one row per (partition × group), not per
input row. Distinct aggregates rewrite to a two-phase expand+agg plan;
`approx_count_distinct` (HLL) is the 100 TB-posture variant that carries a
constant-size sketch instead. Percentiles: exact `percentile` needs a sort
per group — fine for bounded groups; `percentile_approx` (KLL-ish sketch) is
the unbounded-cardinality alternative (rows-only checked, since sketches are
engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_global_agg",
    oracle="""
    SELECT
      count(*)                       AS n_rows,
      count(DISTINCT l_orderkey)     AS n_orders,
      round(sum(l_quantity), 2)      AS total_qty,
      round(min(l_extendedprice), 2) AS min_price,
      round(max(l_extendedprice), 2) AS max_price,
      min(l_shipdate)                AS first_ship,
      max(l_shipdate)                AS last_ship
    FROM lineitem
    """,
    tags=("agg",),
)
def global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3: global (no-group) aggregation with a distinct count."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


sql_query(
    "q_distinct_agg_monthly",
    """
    SELECT
      date_trunc('month', o_orderdate) AS order_month,
      count(DISTINCT o_custkey)        AS n_custs,
      count(*)                         AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2)      AS total
    FROM orders
    GROUP BY order_month
    """,
    tags=("agg",),
    doc="""A3: per-month distinct-customer counts (expand+two-phase agg plan).""",
)


@query("q_approx_distinct", oracle=None, tags=("agg", "approx"))
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: HyperLogLog distinct counts — the constant-memory sketch used
    instead of exact distinct at 100 TB. Rows-only (sketch estimates are
    engine-specific)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("approx_supps"),
    )


@query("q_approx_percentile", oracle=None, tags=("agg", "approx"))
def approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (approx tier): sketch-based percentiles for unbounded groups."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("o_totalprice", 0.95, 10000).alias("p95_approx"),
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT
      o_orderpriority,
      round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
      round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
      round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
      round(median(o_totalprice), 4)              AS med
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (exact tier): linear-interpolated percentiles per priority
    (Spark `percentile` ≡ DuckDB `quantile_cont`)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
        F.round(F.median("o_totalprice"), 4).alias("med"),
    )


sql_query(
    "q_stats_volatility",
    """
    SELECT
      l_returnflag,
      round(stddev_samp(l_extendedprice), 2)       AS price_std,
      round(avg(l_extendedprice), 4)               AS price_mean,
      round(corr(l_quantity, l_extendedprice), 6)  AS qty_price_corr,
      round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
    doc="""A6: volatility & correlation statistics per return flag.""",
)


sql_query(
    "q_rollup_revenue",
    """
    SELECT
      coalesce(r.r_name, 'ALL')                             AS region_name,
      coalesce(n.n_name, 'ALL')                             AS nation_name,
      CAST(grouping(r.r_name) * 2 + grouping(n.n_name) AS BIGINT) AS gid,
      round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2)                         AS revenue,
      count(*)                                              AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=("agg", "olap"),
    doc="""A7: ROLLUP subtotal lattice (region → nation → grand total) with a
    grouping id; null group keys coalesced to 'ALL' for a dialect-stable
    representation.""",
)


sql_query(
    "q_cube_orders",
    """
    SELECT
      coalesce(o_orderstatus, 'ALL')   AS status,
      coalesce(o_orderpriority, 'ALL') AS priority,
      count(*)                         AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2)      AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "olap"),
    doc="""A7: CUBE over status × priority (all 4 subtotal combinations).""",
)


sql_query(
    "q_pivot_status",
    """
    SELECT
      o_orderpriority,
      CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
      CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
      CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "olap"),
    doc="""A8: pivot priority × status into a count matrix. Explicit pivot values
    keep the plan single-pass (no extra distinct-values job).""",
)


@query(
    "q_collect_set_events",
    oracle="""
    SELECT
      user_id,
      string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
      count(DISTINCT event_type)                               AS n_types
    FROM events
    GROUP BY user_id
    """,
    tags=("agg", "events"),
)
def collect_set_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: per-user collected set, sorted then serialized so the value is
    deterministic and dialect-portable."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias("event_types"),
        F.countDistinct("event_type").alias("n_types"),
    )


sql_query(
    "q_conditional_agg",
    """
    SELECT
      o_orderstatus,
      count(*)                                                              AS n_orders,
      CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
      round(sum(CAST(round((CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END) * 100) AS BIGINT)) / 100e0, 2)
                                                                            AS urgent_total,
      CAST(round(sum(CAST(round((CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END) * 100) AS BIGINT)) * 1.0
            / sum(CAST(round(o_totalprice * 100) AS BIGINT)), 6) AS DOUBLE) AS urgent_share
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg",),
    doc="""A10: sum(CASE WHEN …) share-of-segment metrics.""",
)


_GROUPING_SETS_SQL = """
    SELECT
      coalesce(o_orderpriority, 'ALL') AS priority,
      coalesce(o_orderstatus, 'ALL')   AS status,
      count(*)                         AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2)      AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


sql_query(
    "q_grouping_sets", _GROUPING_SETS_SQL, tags=("aggregate", "olap"),
    doc="""A7 (explicit form): GROUPING SETS — one SQL text shared verbatim with
    the oracle (rollup/cube above use the DataFrame API; this exercises the
    SQL surface for arbitrary subtotal lattices). Group keys are never null
    in the data, so coalesce('ALL') tags aggregated-out rows unambiguously
    in both dialects.""",
)


@query(
    "q_histogram",
    oracle="""
    SELECT
      CAST(least(floor(o_totalprice / 25000), 19) AS BIGINT) AS bucket,
      count(*)                                               AS n_orders,
      round(min(o_totalprice), 2)                            AS lo,
      round(max(o_totalprice), 2)                            AS hi
    FROM orders
    GROUP BY bucket
    """,
    tags=("aggregate", "profiling"),
)
def histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling: fixed-width histogram of order values (20 × 25k buckets,
    top bucket open-ended). Binning is plain arithmetic — floor + least —
    because DuckDB 1.0 lacks width_bucket; identical expressions on both
    engines give identical bucket membership. One map-side-combined
    groupBy; this is the data-profiling primitive behind range-partition
    sizing decisions at scale."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 25000), F.lit(19)).cast("long")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


sql_query(
    "q_regr_beta",
    """
    WITH per_type AS (
      SELECT event_type, date_trunc('day', ts) AS day, sum(value) AS y
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    market AS (
      SELECT date_trunc('day', ts) AS day, sum(value) AS x
      FROM events GROUP BY date_trunc('day', ts)
    )
    SELECT
      p.event_type,
      count(*)                               AS n_days,
      round(regr_slope(p.y, m.x), 6)         AS beta,
      round(regr_intercept(p.y, m.x), 6)     AS alpha,
      round(regr_r2(p.y, m.x), 6)            AS r2
    FROM per_type p
    JOIN market m ON p.day = m.day
    GROUP BY p.event_type
    """,
    tags=("agg", "finance", "stats"),
    doc="""Finance beta: per-event-type OLS regression of the type's daily value
    against the whole-market daily value (regr_slope/intercept/r2 — the
    linear-regression aggregate family). Two keyed pre-aggregations, a
    day-keyed join (both sides already day-partitioned, AQE-broadcast), and
    one tiny group-by: every stage shuffles at most one row per (type, day).
    Same aggregate names and double arithmetic on both engines; round(…,6)
    absorbs summation-order ulps.""",
)


_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")


@query(
    "q_table_profile",
    oracle="""
    SELECT 'o_orderstatus' AS column_name, count(*) AS n_rows,
           count(*) - count(o_orderstatus) AS n_null,
           count(DISTINCT o_orderstatus) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority) FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice) FROM orders
    """,
    tags=("agg", "profiling"),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column row/null/distinct counts for orders — the
    schema-quality primitive behind ingestion monitoring. Spark computes ALL
    columns' metrics in ONE scan (a single multi-aggregate pass; distinct
    counts expand to one expand-node, not one scan per column) and unpivots
    to a (column_name, metrics) row per column; the oracle spells the same
    thing as a UNION ALL of per-column scans (DuckDB dedups scans itself).
    At 100 TB the one-scan formulation is the point."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__distinct" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (column_name, n_rows, n_null, n_distinct)"
    )


@query(
    "q_string_agg_ordered",
    oracle="""
    WITH top AS (
      SELECT n.n_name, c.c_name, c.c_acctbal,
        row_number() OVER (
          PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey
        ) AS rnk
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT
      n_name,
      string_agg(c_name, ',' ORDER BY rnk) AS top_names,
      count(*) AS n_listed
    FROM top WHERE rnk <= 5
    GROUP BY n_name
    """,
    tags=("agg",),
)
def string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9+: ORDERED string aggregation — each nation's top-5 customers by
    balance, comma-joined in rank order. Spark has no ordered string_agg,
    so the deterministic form is collect_list of (rank, name) structs →
    array_sort → transform → array_join, which sorts INSIDE each group
    after the shuffle (no ordered shuffle needed); the rank filter bounds
    the per-group state at 5. DuckDB's native ORDER BY clause in
    string_agg is the oracle."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    top = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
    )
    return (
        top.groupBy("n_name")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rnk", "c_name"))),
                    lambda s: s["c_name"],
                ),
                ",",
            ).alias("top_names"),
            F.count(F.lit(1)).alias("n_listed"),
        )
    )


@query(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
      SELECT l.l_returnflag, l.l_quantity, m.med,
             abs(l.l_quantity - m.med) AS absdev
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    ),
    mad AS (
      SELECT l_returnflag, quantile_cont(absdev, 0.5) AS mad
      FROM dev GROUP BY l_returnflag
    )
    SELECT
      d.l_returnflag,
      round(min(d.med), 4) AS median_qty,
      round(min(m.mad), 4) AS mad_qty,
      count(CASE WHEN d.absdev > 3 * m.mad THEN 1 END) AS n_outliers,
      count(*) AS n
    FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
    GROUP BY d.l_returnflag
    """,
    tags=("agg", "stats"),
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen via MEDIAN ABSOLUTE DEVIATION: per return
    flag, the median quantity, the MAD, and how many rows sit beyond
    3×MAD — the breakdown-resistant alternative to z-scores. Quantities
    are integers, so both medians land on the exact .0/.5 grid and the
    3×MAD threshold comparison has no ulp boundary. Two grouped
    percentile passes with the tiny cut relations broadcast back."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "absdev", F.abs(F.col("l_quantity") - F.col("med"))
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("med"), 4).alias("median_qty"),
            F.round(F.min("mad"), 4).alias("mad_qty"),
            F.count(F.when(F.col("absdev") > 3 * F.col("mad"), 1)).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_MOMENTS_SQL = """
    WITH m AS (
      SELECT l_returnflag,
        count(*)               AS n,
        avg(l_quantity)        AS m1,
        avg(l_quantity * l_quantity) AS m2r,
        avg(l_quantity * l_quantity * l_quantity) AS m3r,
        avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4r
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT
      l_returnflag,
      n,
      round(m1, 4) AS mean_qty,
      round(sqrt(m2r - m1 * m1), 6) AS pop_std,
      round((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
            / pow(m2r - m1 * m1, 1.5e0), 6) AS skewness_g1,
      round((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1)
            / ((m2r - m1 * m1) * (m2r - m1 * m1)) - 3, 6) AS excess_kurtosis
    FROM m
"""


sql_query(
    "q_moments_skew_kurt", _MOMENTS_SQL, tags=("agg", "stats"),
    doc="""Higher moments per group — population std, skewness g1, excess
    kurtosis g2 — computed from RAW POWER-SUM moments with the central-
    moment algebra spelled out, NOT the engines' native skewness()/
    kurtosis(), whose small-sample corrections differ between engines.
    Same algebra both sides → same doubles in, round-6 absorbs the
    power-sum ordering ulps. One hash aggregate, five accumulators per
    group — the single-pass sketchable shape. One SQL text runs verbatim
    on Spark and DuckDB.""",
)


@query(
    "q_equidepth_histogram",
    oracle="""
    WITH ranked AS (
      SELECT l_extendedprice,
        row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        count(*) OVER () AS n
      FROM lineitem
    )
    SELECT
      ((rn - 1) * 8) // n + 1                    AS bucket,
      count(*)                                    AS n_rows,
      round(min(l_extendedprice), 2)              AS lo,
      round(max(l_extendedprice), 2)              AS hi
    FROM ranked
    GROUP BY ((rn - 1) * 8) // n
    """,
    tags=("agg", "profiling"),
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (8 buckets of equal row count) over extended
    price — the histogram an optimizer keeps, complementing q_histogram's
    fixed-width bins. Bucket = ((rn−1)·8) div n over a TOTAL order with
    (orderkey, linenumber) tiebreak; the rank comes from the range-
    bucketed distributed global row_number (functions/ranks.py), never a
    single-partition window. Bucket bounds (lo/hi) are the depth
    boundaries an optimizer would store."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    ranked = global_row_number(
        li.select("l_extendedprice", "l_orderkey", "l_linenumber"),
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        rn_col="rn",
    )
    bucket = F.expr(f"((rn - 1) * 8) DIV {n}")
    return (
        ranked.groupBy(bucket.alias("_b"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .select((F.col("_b") + 1).alias("bucket"), "n_rows", "lo", "hi")
    )


@query(
    "q_percentile_disc",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
        row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        count(*) OVER () AS n
      FROM orders
    )
    SELECT
      round(min(CASE WHEN rn = CAST(ceil(0.25e0 * n) AS BIGINT) THEN o_totalprice END), 2) AS p25_disc,
      round(min(CASE WHEN rn = CAST(ceil(0.50e0 * n) AS BIGINT) THEN o_totalprice END), 2) AS p50_disc,
      round(min(CASE WHEN rn = CAST(ceil(0.75e0 * n) AS BIGINT) THEN o_totalprice END), 2) AS p75_disc,
      round(min(CASE WHEN rn = CAST(ceil(0.99e0 * n) AS BIGINT) THEN o_totalprice END), 2) AS p99_disc
    FROM ranked
    """,
    tags=("agg", "stats"),
)
def percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 variant: DISCRETE percentiles — the actual data value at rank
    ⌈p·n⌉, never an interpolated midpoint (what percentile_disc /
    quantile_disc mean in the standard; the repo's other percentile
    queries are the continuous kind). Both engines are given the SAME
    rank-selection formulation over a total order, sidestepping any
    engine-specific tie convention; ranks come from the distributed
    global row_number."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    ranked = global_row_number(
        orders.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        rn_col="rn",
    )
    import math

    aggs = []
    for p, name in ((0.25, "p25_disc"), (0.50, "p50_disc"), (0.75, "p75_disc"), (0.99, "p99_disc")):
        target = math.ceil(p * n)
        aggs.append(
            F.round(
                F.min(F.when(F.col("rn") == target, F.col("o_totalprice"))), 2
            ).alias(name)
        )
    return ranked.agg(*aggs)


_TIME_ROLLUP_SQL = """
    SELECT
      CAST(year(o_orderdate) AS BIGINT)    AS yr,
      CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      CAST(month(o_orderdate) AS BIGINT)   AS mon,
      CAST(grouping(year(o_orderdate)) * 4 + grouping(quarter(o_orderdate)) * 2
           + grouping(month(o_orderdate)) AS BIGINT) AS gid,
      count(*)                             AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2)          AS revenue
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate), month(o_orderdate))
"""


sql_query(
    "q_time_rollup", _TIME_ROLLUP_SQL, tags=("agg", "timeseries"),
    doc="""A7 over the TIME hierarchy: year ⊃ quarter ⊃ month ROLLUP in one
    pass — month rows, quarter subtotals, year subtotals, grand total,
    disambiguated by the grouping-flag id (null months exist as real data
    only if a month had no orders, so gid, not null-ness, labels subtotal
    levels). Spark expands rollups into a single expand+hash-aggregate —
    one shuffle for all four levels. One SQL text runs verbatim on Spark
    and DuckDB.""",
)
