"""Window-function surface: ranking, lag/lead, running totals, moving
averages, range frames, first/last, distribution ranks, sessionization
(SURVEY.md §2.5).

Scale notes: every window here partitions by a high-cardinality key
(customer, user, day) so state per partition is bounded; there is exactly one
shuffle per window spec (hash on the partition key), and Spark sorts within
partitions — no global sort. Determinism rule: every orderBy used under a
ranking/row-frame function is a TOTAL order (unique tiebreak key appended),
otherwise "first"/rank results are engine-dependent (SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

MICROS_7D = 7 * 86400 * 1_000_000


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
    )


_DAILY_REVENUE_SQL = """
    SELECT date_trunc('day', o_orderdate) AS day, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
    FROM orders GROUP BY day
"""


@query(
    "q_rank_top_customers",
    oracle="""
    SELECT n_name, c_custkey, c_acctbal, rnk
    FROM (
      SELECT
        n.n_name, c.c_custkey, c.c_acctbal,
        CAST(row_number() OVER (
          PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey ASC
        ) AS BIGINT) AS rnk
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    WHERE rnk <= 3
    """,
    tags=("window",),
)
def rank_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2: top-3 customers per nation by balance (row_number over a total
    order). row_number ≤ k pushes a per-partition top-k — no global sort."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", "c_acctbal", "rnk")
    )


@query(
    "q_ntile_quartiles",
    oracle="""
    SELECT
      quartile,
      count(*)                 AS n_custs,
      round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
            / count(*) / 100, 4) AS avg_bal,
      round(min(c_acctbal), 2) AS min_bal,
      round(max(c_acctbal), 2) AS max_bal
    FROM (
      SELECT c_acctbal,
             CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
      FROM customer
    )
    GROUP BY quartile
    """,
    tags=("window",),
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: quartile bucketing via ntile over a total order — computed from a
    range-bucketed global row number (functions/ranks.py) instead of a
    single-partition ntile window, so the sort distributes; the tile formula
    reproduces SQL NTILE exactly (first n%4 tiles get the extra row)."""
    from bigdatainfinance1_spark.functions.ranks import exact_ntile, global_row_number

    cust = load_table(spark, sf_dir, "customer")
    n = cust.count()
    ranked = global_row_number(cust, ["c_acctbal", "c_custkey"], rn_col="_rn")
    return (
        ranked.withColumn("quartile", exact_ntile("_rn", n, 4))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            # integer-moments rule: acctbal is exact 2-dp — mean in cents
            F.round(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 100,
                4,
            ).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@query(
    "q_lag_dod",
    oracle=f"""
    SELECT
      day,
      rev,
      rev - lag(rev) OVER (ORDER BY day)                      AS dod_delta,
      round((rev - lag(rev) OVER (ORDER BY day))
            / nullif(lag(rev) OVER (ORDER BY day), 0.0), 6)   AS dod_pct
    FROM ({_DAILY_REVENUE_SQL})
    """,
    tags=("window", "finance"),
)
def lag_dod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: day-over-day revenue delta and percent change (lag). Partitioned
    by year with a boundary carry: the lag runs within each year, and the
    first day of a year takes the previous year's last value from a tiny
    per-year carry relation (broadcast) — identical output to a global lag,
    no single-partition window (VERDICT round-1 task 8)."""
    daily = _daily_revenue(spark, sf_dir).withColumn("_yr", F.year("day"))
    w = Window.partitionBy("_yr").orderBy("day")
    carry = (
        daily.groupBy("_yr")
        .agg(F.max_by("rev", "day").alias("_carry_rev"))
        .select((F.col("_yr") + 1).alias("_yr"), "_carry_rev")
    )
    prev = F.coalesce(F.lag("rev").over(w), F.col("_carry_rev"))
    return (
        daily.join(F.broadcast(carry), "_yr", "left")
        .select(
            "day",
            "rev",
            (F.col("rev") - prev).alias("dod_delta"),
            F.round((F.col("rev") - prev) / F.nullif(prev, F.lit(0.0)), 6).alias("dod_pct"),
        )
    )


@query(
    "q_running_total",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      round(sum(o_totalprice) OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ), 2) AS cum_spend
    FROM orders
    """,
    tags=("window", "finance"),
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: cumulative spend per customer over order date (total order via
    orderkey tiebreak; prefix sums are order-deterministic in both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_spend"),
    )


@query(
    "q_moving_avg",
    oracle=f"""
    SELECT
      day,
      rev,
      round(avg(rev) OVER (
        ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
      ), 4) AS ma7
    FROM ({_DAILY_REVENUE_SQL})
    """,
    tags=("window", "finance"),
)
def moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: 7-row moving average of daily revenue. Partitioned by year with
    frame overlap: the last 6 rows of each year are replicated into the next
    year's partition as context rows (excluded from output), so every row's
    7-row frame is complete inside its partition — identical values to the
    global window, no single-partition sort. Assumes ≥6 rows per year (the
    daily spine is dense; a sparse key would carry context further back)."""
    return _overlapped_daily_window(
        _daily_revenue(spark, sf_dir),
        n_context=6,
        agg_cols=lambda w: [F.round(F.avg("rev").over(w), 4).alias("ma7")],
        out_cols=["day", "rev", "ma7"],
    )


def _overlapped_daily_window(daily: DataFrame, n_context: int, agg_cols, out_cols):
    """Shared year-partition + overlap machinery for trailing row-frame
    windows over a daily series: replicate each year's last `n_context` rows
    into the following year, window within (year) over rows
    [-n_context, 0], drop the replicas."""
    d = daily.withColumn("_yr", F.year("day")).withColumn("_ctx", F.lit(False))
    w_desc = Window.partitionBy("_yr").orderBy(F.col("day").desc())
    ctx = (
        d.withColumn("_rd", F.row_number().over(w_desc))
        .filter(F.col("_rd") <= n_context)
        .drop("_rd")
        .withColumn("_yr", F.col("_yr") + 1)
        .withColumn("_ctx", F.lit(True))
    )
    u = d.unionByName(ctx)
    w = (
        Window.partitionBy("_yr")
        .orderBy("day")
        .rowsBetween(-n_context, Window.currentRow)
    )
    return (
        u.select("*", *agg_cols(w))
        .filter(~F.col("_ctx"))
        .select(*out_cols)
    )


@query(
    "q_range_window_events",
    oracle="""
    SELECT
      event_id,
      user_id,
      round(sum(value) OVER (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
      ), 4) AS value_7d,
      CAST(count(*) OVER (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS n_7d
    FROM events
    """,
    tags=("window", "events"),
)
def range_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: true event-time RANGE frame — trailing 7-day sum per user. Spark's
    rangeBetween needs a numeric ordering key, so we order by epoch
    microseconds; the frame [ts-7d, ts] is then identical to DuckDB's
    INTERVAL range frame."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-MICROS_7D, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("value_7d"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_7d"),
    )


@query(
    "q_first_last_order",
    oracle="""
    SELECT DISTINCT
      o_custkey,
      first_value(o_totalprice) OVER w AS first_order_price,
      last_value(o_totalprice) OVER w  AS last_order_price,
      first_value(o_orderdate) OVER w  AS first_order_date,
      last_value(o_orderdate) OVER w   AS last_order_date
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    tags=("window",),
)
def first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: first/last value per key over an unbounded frame with a total
    order (the snapshot/as-of substrate)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_order_price"),
        F.last("o_totalprice").over(w).alias("last_order_price"),
        F.first("o_orderdate").over(w).alias("first_order_date"),
        F.last("o_orderdate").over(w).alias("last_order_date"),
    ).distinct()


@query(
    "q_percent_rank_suppliers",
    oracle="""
    SELECT
      s_suppkey,
      s_acctbal,
      round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 6) AS pct_rank,
      round(cume_dist() OVER (ORDER BY s_acctbal, s_suppkey), 6)    AS cume
    FROM supplier
    """,
    tags=("window",),
)
def percent_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: distributional position of each supplier's balance. The order is
    TOTAL (suppkey tiebreak), so rank == row_number and percent_rank/
    cume_dist reduce to (rn-1)/(n-1) and rn/n over a range-bucketed global
    row number (functions/ranks.py) — identical doubles to the engines'
    window functions, no single-partition sort."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    supp = load_table(spark, sf_dir, "supplier")
    n = supp.count()
    ranked = global_row_number(supp, ["s_acctbal", "s_suppkey"], rn_col="_rn")
    return ranked.select(
        "s_suppkey",
        "s_acctbal",
        F.round((F.col("_rn") - 1) / F.lit(float(n - 1)), 6).alias("pct_rank"),
        F.round(F.col("_rn") / F.lit(float(n)), 6).alias("cume"),
    )


@query(
    "q_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT
        user_id, ts, event_id,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                  > 30 * 60 * 1000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT
        user_id, ts, event_id,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT
        user_id, session_id,
        count(*) AS n_events,
        (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_s
      FROM sessions
      GROUP BY user_id, session_id
    )
    SELECT
      user_id,
      count(*)                     AS n_sessions,
      round(avg(n_events), 4)      AS avg_session_events,
      round(max(duration_s), 3)    AS max_session_duration_s
    FROM per_session
    GROUP BY user_id
    """,
    tags=("window", "events", "flagship"),
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: batch sessionization — gap > 30 min starts a new session
    (lag → gap flag → running sum as session id → two-level aggregation).
    One shuffle on user_id; per-user state only. Cross-checked against the
    declarative F.session_window variant in streaming tests."""
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order_w))
    new_session = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sessions = (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run_w))
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000.0).alias(
            "duration_s"
        ),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_session_events"),
        F.round(F.max("duration_s"), 3).alias("max_session_duration_s"),
    )


@query(
    "q_vwap",
    oracle="""
    SELECT
      l_partkey,
      CAST(sum(l_quantity) AS DOUBLE)                              AS total_qty,
      round(sum(CAST(round((l_extendedprice * l_quantity) * 100) AS BIGINT))
            / 100e0 / sum(l_quantity), 4)                           AS vwap,
      count(*)                                                      AS n_trades
    FROM lineitem
    WHERE l_partkey < 200
    GROUP BY l_partkey
    """,
    tags=("finance", "aggregate"),
)
def vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finance: volume-weighted average price per part (lineitem rows as
    trades: extendedprice × quantity / total quantity). The quantity sum is
    integer-exact in any order; the price×qty sum snaps to exact integer
    cents first (round-6 emission rule — the 2-dp product sum was
    summation-order-sensitive); only the final ratio is rounded. One
    map-side-combined groupBy."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    return li.groupBy("l_partkey").agg(
        F.sum("l_quantity").cast("double").alias("total_qty"),
        F.round(
            F.sum(
                F.round((F.col("l_extendedprice") * F.col("l_quantity")) * 100).cast(
                    "long"
                )
            )
            / 100.0
            / F.sum("l_quantity"),
            4,
        ).alias("vwap"),
        F.count(F.lit(1)).alias("n_trades"),
    )


@query(
    "q_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders
      GROUP BY d
    ),
    runs AS (
      SELECT d, rev,
        max(rev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM daily
    )
    SELECT d, rev, peak, round((peak - rev) / peak, 6) AS drawdown
    FROM runs
    ORDER BY drawdown DESC, d
    LIMIT 10
    """,
    tags=("finance", "window"),
)
def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finance: drawdown of the daily-revenue series — running peak,
    drawdown = (peak − rev)/peak, worst 10 days (date tiebreak for a
    deterministic LIMIT). The daily series is rounded BEFORE the windows so
    both engines window identical doubles.

    The running peak is a TWO-PHASE cumulative max (VERDICT round-1 task 8):
    within-year cummax under a year-partitioned window, plus the max of all
    prior years' peaks from a tiny per-year relation prefixed by triangular
    self-join and broadcast back. max is associative/order-free, so this is
    exactly the global running peak with no single-partition window — the
    same recomposition a 100 TB per-instrument series would use."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev")
    ).withColumn("_yr", F.year("d"))
    w = (
        Window.partitionBy("_yr")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    yr_max = daily.groupBy("_yr").agg(F.max("rev").alias("_yr_peak"))
    a, b = yr_max.alias("a"), yr_max.alias("b")
    prior = (
        a.join(b, F.col("b._yr") < F.col("a._yr"), "left")
        .groupBy(F.col("a._yr").alias("_yr"))
        .agg(F.max("b._yr_peak").alias("_prior_peak"))
    )
    runs = (
        daily.join(F.broadcast(prior), "_yr", "left")
        .withColumn("peak", F.greatest(F.max("rev").over(w), F.col("_prior_peak")))
    )
    return (
        runs.withColumn("drawdown", F.round((F.col("peak") - F.col("rev")) / F.col("peak"), 6))
        .orderBy(F.col("drawdown").desc(), "d")
        .select("d", "rev", "peak", "drawdown")
        .limit(10)
    )


GAPFILL_START, GAPFILL_END = "1995-01-01 00:00:00", "1995-03-31 00:00:00"


@query(
    "q_gapfill_ffill",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(unnest(generate_series(
        TIMESTAMP '{GAPFILL_START}', TIMESTAMP '{GAPFILL_END}', INTERVAL 1 DAY
      )) AS TIMESTAMP) AS day
    ),
    pri AS (SELECT DISTINCT o_orderpriority FROM orders),
    daily AS (
      SELECT o_orderpriority, date_trunc('day', o_orderdate) AS day,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '{GAPFILL_START}'
        AND o_orderdate <  TIMESTAMP '{GAPFILL_END}' + INTERVAL 1 DAY
      GROUP BY o_orderpriority, date_trunc('day', o_orderdate)
    )
    SELECT
      p.o_orderpriority,
      c.day,
      d.revenue,
      last_value(d.revenue IGNORE NULLS) OVER (
        PARTITION BY p.o_orderpriority ORDER BY c.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS revenue_ffill
    FROM pri p
    CROSS JOIN cal c
    LEFT JOIN daily d ON d.o_orderpriority = p.o_orderpriority AND d.day = c.day
    """,
    tags=("window", "timeseries", "finance"),
)
def gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series calendar gap-fill + forward-fill: per-priority daily
    revenue over Q1-1995, densified to every calendar day (missing days get
    NULL raw revenue) and forward-filled with the last observed value —
    the canonical resample/ffill finance operator.

    Scale shape: the calendar spine is sequence()-generated per key (keys ×
    days rows — never a driver loop); the fill is one window per key, so
    state is bounded by the densest single key and keys parallelize. The
    only shuffles are the daily pre-aggregation and the window hash on the
    key — both on the same key, so AQE coalesces them."""
    start = F.lit(GAPFILL_START).cast("timestamp")
    end = F.lit(GAPFILL_END).cast("timestamp")
    orders = load_table(spark, sf_dir, "orders")
    cal = spark.range(1).select(
        F.explode(F.sequence(start, end, F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    pri = orders.select("o_orderpriority").distinct()
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= start)
            & (F.col("o_orderdate") < end + F.expr("INTERVAL 1 DAY"))
        )
        .groupBy("o_orderpriority", F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("revenue"))
    )
    spine = pri.crossJoin(cal)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["o_orderpriority", "day"], "left")
        .withColumn("revenue_ffill", F.last("revenue", ignorenulls=True).over(w))
        .select("o_orderpriority", "day", "revenue", "revenue_ffill")
    )


_OHLC_SQL = """
    WITH ordered AS (
      SELECT
        date_trunc('hour', ts) AS bar,
        value, ts, event_id,
        row_number() OVER (
          PARTITION BY date_trunc('hour', ts) ORDER BY ts, event_id
        ) AS rn_a,
        row_number() OVER (
          PARTITION BY date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC
        ) AS rn_d
      FROM events
      WHERE event_type = 'purchase'
    )
    SELECT
      bar,
      round(min(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
      round(max(value), 4)                             AS high,
      round(min(value), 4)                             AS low,
      round(min(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
      count(*)                                         AS n_trades,
      round(sum(value), 4)                             AS volume
    FROM ordered
    GROUP BY bar
"""


sql_query(
    "q_ohlc_bars", _OHLC_SQL, tags=("window", "finance", "timeseries"),
    doc="""Finance: hourly OHLC bars (open/high/low/close + count + volume) over
    the purchase-event stream — the canonical candlestick resample. One SQL
    text runs verbatim on Spark AND DuckDB: open/close are picked by
    row_number over a TOTAL order (ts, event_id tiebreak — SURVEY.md §5),
    never nondeterministic first()/last(). Scale shape: two window passes +
    one group-by, all hash-partitioned on the bar hour; per-bar state is
    bounded, bars parallelize. In production the partition key would be
    (symbol, bar) — same plan, wider key.""",
)


@query(
    "q_ohlc_multigrain",
    oracle="""
    WITH grains(grain) AS (VALUES ('hour'), ('day'), ('week')),
    ordered AS (
      SELECT
        g.grain,
        date_trunc(g.grain, e.ts) AS bar,
        e.value, e.ts, e.event_id,
        row_number() OVER (
          PARTITION BY g.grain, date_trunc(g.grain, e.ts) ORDER BY e.ts, e.event_id
        ) AS rn_a,
        row_number() OVER (
          PARTITION BY g.grain, date_trunc(g.grain, e.ts) ORDER BY e.ts DESC, e.event_id DESC
        ) AS rn_d
      FROM events e CROSS JOIN grains g
      WHERE e.event_type = 'purchase'
    )
    SELECT
      grain, bar,
      round(min(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
      round(max(value), 4)                             AS high,
      round(min(value), 4)                             AS low,
      round(min(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
      count(*)                                         AS n_trades,
      round(sum(CAST(round(value * 1e6) AS BIGINT)) / 1e6, 4) AS volume
    FROM ordered GROUP BY grain, bar
    """,
    tags=("window", "finance", "timeseries"),
)
def ohlc_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finance: OHLC bars at THREE granularities (hour/day/week) in one job —
    the multi-resolution candlestick resample. Spark side is the
    HIERARCHICAL rollup: the ordered windows (the expensive part — two
    row_number passes over every event) run only at the finest grain; day
    bars are an 8-column aggregate OVER HOUR BARS (min_by/max_by on the bar
    timestamp picks open/close — bars are disjoint, so the earliest hour's
    open IS the day's open), and week bars roll up from day bars. At 100 TB
    the event-level pass dominates and coarser grains are ~free (24× and
    168× smaller inputs), vs the flat approach's 3× full-scan inflation —
    which is exactly what the DuckDB oracle does (CROSS JOIN a grains
    VALUES-relation, window per grain), proving the two shapes agree.
    Open/high/low/close round once at the output on identical raw
    doubles (min/max, no summation); volume sums 1e-6-grain BIGINTs so
    the hierarchical and flat shapes are exactly equal (round-6 window
    rule — an engine-ordered double sum could flip at a round(.,4)
    boundary)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    bar_h = F.date_trunc("hour", "ts")
    wa = Window.partitionBy(bar_h).orderBy("ts", "event_id")
    wd = Window.partitionBy(bar_h).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    hourly = (
        ev.select(
            bar_h.alias("bar"),
            "value",
            F.row_number().over(wa).alias("rn_a"),
            F.row_number().over(wd).alias("rn_d"),
        )
        .groupBy("bar")
        .agg(
            F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.min(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
            # 1e-6-grain BIGINT snap (round-6 window rule): the volume sum
            # must be order-insensitive or the hierarchical rollup (hour ->
            # day -> week) and the oracle's flat per-grain sum could differ
            # by an ulp right at a round(.,4) boundary.
            F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("vol6"),
        )
    )

    def rollup(bars: DataFrame, grain: str) -> DataFrame:
        return (
            bars.groupBy(F.date_trunc(grain, "bar").alias("bar"))
            .agg(
                F.min_by("open", "bar").alias("open"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.max_by("close", "bar").alias("close"),
                F.sum("n_trades").alias("n_trades"),
                F.sum("vol6").alias("vol6"),
            )
        )

    # hourly feeds its own output row AND the day rollup (and day feeds
    # week) — without materialization the two event-level window passes
    # re-execute once per grain (round-5 double-execution audit); the
    # checkpoints make the hierarchy genuinely hierarchical.
    hourly = hourly.localCheckpoint(eager=True)
    daily = rollup(hourly, "day").localCheckpoint(eager=True)
    weekly = rollup(daily, "week")
    out = None
    for grain, bars in (("hour", hourly), ("day", daily), ("week", weekly)):
        tagged = bars.select(
            F.lit(grain).alias("grain"),
            "bar",
            F.round("open", 4).alias("open"),
            F.round("high", 4).alias("high"),
            F.round("low", 4).alias("low"),
            F.round("close", 4).alias("close"),
            F.col("n_trades").cast("long").alias("n_trades"),
            F.round(F.col("vol6") / 1e6, 4).alias("volume"),
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


@query(
    "q_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT
        date_trunc('day', o_orderdate) AS day,
        sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
        count(*)                       AS n_orders
      FROM orders
      GROUP BY date_trunc('day', o_orderdate)
    ),
    win AS (
      SELECT day, n_orders,
        CAST(count(*) OVER w AS DOUBLE) AS n,
        CAST(sum(cents) OVER w AS DOUBLE) / 100 AS sx,
        CAST(sum(n_orders) OVER w AS DOUBLE) AS sy,
        CAST(sum(CAST(cents AS HUGEINT) * cents) OVER w AS DOUBLE) / 1e4 AS sxx,
        CAST(sum(n_orders * n_orders) OVER w AS DOUBLE) AS syy,
        CAST(sum(CAST(cents AS HUGEINT) * n_orders) OVER w AS DOUBLE) / 100 AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT
      day,
      CAST(n_orders AS BIGINT) AS n_orders,
      round((n * sxy - sx * sy)
            / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0),
            4) AS corr_30d
    FROM win
    """,
    tags=("window", "finance", "timeseries"),
)
def rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finance: 30-day rolling correlation between daily revenue and daily
    order count, computed from windowed moment sums
    ((nΣxy−ΣxΣy)/√((nΣxx−Σx²)(nΣyy−Σy²))) with a nullif guard — the same
    algebra on both engines, and NULL (not an ANSI divide-by-zero error)
    on degenerate frames such as the first 1-row window. Single global
    series ⇒ single-partition window here; in production the window
    partitions by instrument, which bounds state and parallelizes."""
    orders = load_table(spark, sf_dir, "orders")
    # integer-moments rule: the windowed moment sums run over exact
    # integers (cents / counts), so they are exact under any summation
    # tree; doubles appear only in the closed form
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )

    def corr_cols(w):
        n = F.count(F.lit(1)).over(w).cast("double")
        sx = F.sum("cents").over(w).cast("double") / 100
        sy = F.sum("n_orders").over(w).cast("double")
        sxx = (
            F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents"))
            .over(w)
            .cast("double")
            / 1e4
        )
        syy = F.sum(F.col("n_orders") * F.col("n_orders")).over(w).cast("double")
        sxy = (
            F.sum(F.col("cents").cast("decimal(19,0)") * F.col("n_orders"))
            .over(w)
            .cast("double")
            / 100
        )
        denom = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        return [
            F.round((n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0)), 4).alias("corr_30d")
        ]

    # year-partitioned with 29 rows of overlap context — identical frames to
    # the global 30-row window (see _overlapped_daily_window)
    res = _overlapped_daily_window(daily, n_context=29, agg_cols=corr_cols, out_cols=["day", "n_orders", "corr_30d"])
    return res.select("day", F.col("n_orders").cast("long").alias("n_orders"), "corr_30d")


_RFM_SQL = """
    WITH base AS (
      SELECT
        o_custkey                   AS custkey,
        max(o_orderdate)            AS last_order,
        count(*)                    AS freq,
        round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS monetary
      FROM orders
      GROUP BY o_custkey
    ),
    scored AS (
      SELECT
        custkey,
        CAST(ntile(4) OVER (ORDER BY last_order, custkey) AS BIGINT) AS r_score,
        CAST(ntile(4) OVER (ORDER BY freq, custkey) AS BIGINT)       AS f_score,
        CAST(ntile(4) OVER (ORDER BY monetary, custkey) AS BIGINT)   AS m_score
      FROM base
    )
    SELECT
      custkey, r_score, f_score, m_score,
      CASE
        WHEN r_score = 4 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
        WHEN r_score >= 3 AND f_score >= 3               THEN 'loyal'
        WHEN r_score = 1                                 THEN 'at_risk'
        ELSE 'regular'
      END AS segment
    FROM scored
"""


@query("q_rfm_segmentation", oracle=_RFM_SQL, tags=("window", "finance"))
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finance/customer analytics composite: RFM segmentation — per-customer
    recency/frequency/monetary quartiles (ntile over TOTAL orders: metric +
    custkey tiebreak, SURVEY.md §5 determinism rule) mapped to segment
    labels. Each quartile is an exact NTILE computed from a range-bucketed
    global row number (functions/ranks.py) — three distributed rank passes
    joined back on custkey, no single-partition ntile window (VERDICT
    round-1 task 8); the DuckDB oracle keeps the windowed formulation."""
    from bigdatainfinance1_spark.functions.ranks import exact_ntile, global_row_number

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("monetary"),
    )
    n = base.count()
    scored = base.select("custkey", "last_order", "freq", "monetary")
    for metric, score in (("last_order", "r_score"), ("freq", "f_score"), ("monetary", "m_score")):
        ranked = global_row_number(
            scored.select("custkey", metric), [metric, "custkey"], rn_col="_rn"
        ).select("custkey", exact_ntile("_rn", n, 4).alias(score))
        scored = scored.join(ranked, "custkey")
    segment = (
        F.when((F.col("r_score") == 4) & (F.col("f_score") >= 3) & (F.col("m_score") >= 3), "champion")
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "loyal")
        .when(F.col("r_score") == 1, "at_risk")
        .otherwise("regular")
    )
    return scored.select("custkey", "r_score", "f_score", "m_score", segment.alias("segment"))


@query(
    "q_gapfill_interp",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(unnest(generate_series(
        TIMESTAMP '{GAPFILL_START}', TIMESTAMP '{GAPFILL_END}', INTERVAL 1 DAY
      )) AS TIMESTAMP) AS day
    ),
    pri AS (SELECT DISTINCT o_orderpriority FROM orders),
    daily AS (
      SELECT o_orderpriority, date_trunc('day', o_orderdate) AS day,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '{GAPFILL_START}'
        AND o_orderdate <  TIMESTAMP '{GAPFILL_END}' + INTERVAL 1 DAY
      GROUP BY o_orderpriority, date_trunc('day', o_orderdate)
    ),
    spine AS (
      SELECT p.o_orderpriority, c.day, d.revenue,
        last_value(CASE WHEN d.revenue IS NOT NULL THEN c.day END IGNORE NULLS) OVER (
          PARTITION BY p.o_orderpriority ORDER BY c.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
        last_value(d.revenue IGNORE NULLS) OVER (
          PARTITION BY p.o_orderpriority ORDER BY c.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
        first_value(CASE WHEN d.revenue IS NOT NULL THEN c.day END IGNORE NULLS) OVER (
          PARTITION BY p.o_orderpriority ORDER BY c.day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day,
        first_value(d.revenue IGNORE NULLS) OVER (
          PARTITION BY p.o_orderpriority ORDER BY c.day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val
      FROM pri p
      CROSS JOIN cal c
      LEFT JOIN daily d ON d.o_orderpriority = p.o_orderpriority AND d.day = c.day
    )
    SELECT o_orderpriority, day, revenue,
      round(CASE
        WHEN revenue IS NOT NULL THEN revenue
        WHEN prev_val IS NULL THEN next_val
        WHEN next_val IS NULL THEN prev_val
        ELSE prev_val + (next_val - prev_val)
             * (datediff('day', prev_day, day) / datediff('day', prev_day, next_day))
      END, 4) AS revenue_interp
    FROM spine
    """,
    tags=("window", "timeseries", "finance"),
)
def gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill with LINEAR INTERPOLATION: missing calendar days
    get the straight line between the nearest observed values on either
    side (leading/trailing gaps fall back to bfill/ffill). Prev/next
    anchors are carried by IGNORE-NULLS window endpoints — the day and the
    value ride in separate columns that go null together, so the frames
    stay aligned; no self-join, no UDF. Interp arithmetic runs on the
    per-day rounded revenues, so both engines interpolate identical
    doubles. Same bounded per-key spine as q_gapfill_ffill (keys
    parallelize; window state is one key's days)."""
    start = F.lit(GAPFILL_START).cast("timestamp")
    end = F.lit(GAPFILL_END).cast("timestamp")
    orders = load_table(spark, sf_dir, "orders")
    cal = spark.range(1).select(
        F.explode(F.sequence(start, end, F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    pri = orders.select("o_orderpriority").distinct()
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= start)
            & (F.col("o_orderdate") < end + F.expr("INTERVAL 1 DAY"))
        )
        .groupBy("o_orderpriority", F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("revenue"))
    )
    spine = pri.crossJoin(cal)
    w_run = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fut = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("revenue").isNotNull(), F.col("day"))
    joined = (
        spine.join(daily, ["o_orderpriority", "day"], "left")
        .withColumn("prev_day", F.last(known_day, ignorenulls=True).over(w_run))
        .withColumn("prev_val", F.last("revenue", ignorenulls=True).over(w_run))
        .withColumn("next_day", F.first(known_day, ignorenulls=True).over(w_fut))
        .withColumn("next_val", F.first("revenue", ignorenulls=True).over(w_fut))
    )
    interp = (
        F.when(F.col("revenue").isNotNull(), F.col("revenue"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val"))
            * (
                F.datediff("day", "prev_day")
                / F.datediff("next_day", "prev_day")
            )
        )
    )
    return joined.select(
        "o_orderpriority", "day", "revenue", F.round(interp, 4).alias("revenue_interp")
    )


@query(
    "q_bollinger_bands",
    oracle=f"""
    WITH win AS (
      SELECT
        day,
        rev,
        count(*) OVER w AS n,
        CAST(sum(CAST(round(rev * 100) AS BIGINT)) OVER w AS DOUBLE)
          / count(*) OVER w / 100 AS ma,
        CAST(sum(CAST(round(rev * 100) AS HUGEINT)
                 * CAST(round(rev * 100) AS BIGINT)) OVER w AS DOUBLE) / 1e4 AS ss
      FROM ({_DAILY_REVENUE_SQL})
      WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    bands AS (
      SELECT day, rev, ma,
             CASE WHEN n < 2 THEN NULL
                  ELSE sqrt((ss - n * ma * ma) / (n - 1)) END AS sd
      FROM win
    )
    SELECT
      day,
      rev,
      round(ma, 4)              AS ma20,
      round(sd, 4)              AS sd20,
      round(ma + 2 * sd, 4)     AS upper_band,
      round(ma - 2 * sd, 4)     AS lower_band
    FROM bands
    """,
    tags=("window", "finance", "timeseries"),
)
def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finance: 20-day Bollinger bands (moving mean ± 2 moving sample
    stddevs) over daily revenue. Same year-partition + 19-row-overlap
    machinery as q_moving_avg — frames never cross a partition short, so
    values equal the global window with no single-partition sort. Bands
    derive from the UNROUNDED moments and round once at the output; the
    series head (< 2 rows) yields NULL sd on both engines."""
    # integer-moments rule: the frame moments run over exact integer cents
    # (exact under any frame-evaluation order); sd is the closed form
    def raw_ma(w):
        c = F.round(F.col("rev") * 100).cast("long")
        n = F.count(F.lit(1)).over(w)
        m = F.sum(c).over(w).cast("double") / n / 100
        ss = F.sum(c.cast("decimal(19,0)") * c).over(w).cast("double") / 1e4
        sd = F.when(n < 2, F.lit(None).cast("double")).otherwise(
            F.sqrt((ss - n * m * m) / (n - 1))
        )
        return [m.alias("_ma"), sd.alias("_sd")]
    out = _overlapped_daily_window(
        _daily_revenue(spark, sf_dir),
        n_context=19,
        agg_cols=raw_ma,
        out_cols=["day", "rev", "_ma", "_sd"],
    )
    return out.select(
        "day",
        "rev",
        F.round("_ma", 4).alias("ma20"),
        F.round("_sd", 4).alias("sd20"),
        F.round(F.col("_ma") + 2 * F.col("_sd"), 4).alias("upper_band"),
        F.round(F.col("_ma") - 2 * F.col("_sd"), 4).alias("lower_band"),
    )
