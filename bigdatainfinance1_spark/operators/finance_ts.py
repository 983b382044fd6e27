"""Financial time-series operators: returns, smoothing, seasonality, changepoints, forecasting backtests, rolling shapes.

Carved out of operators/analytics.py (round-2 wave 1-3) and operators/analytics2.py (round-2 wave 4-5) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 16 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_cum_return",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders GROUP BY day
    ),
    rets AS (
      SELECT day, rev,
        ln(rev / lag(rev) OVER (ORDER BY day)) AS log_ret
      FROM daily
    )
    SELECT day, rev,
      round(sum(log_ret) OVER (
        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ), 6) AS cum_log_return
    FROM rets
    """,
    tags=("analytics", "finance", "timeseries"),
)
def cum_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compounded cumulative return of the daily-revenue series on the log
    scale: cum_log_return(t) = Σ ln(rev_t / rev_{t-1}) — the additive form
    of the running product Π(1+r). The day-over-day lag uses the
    year-partition + boundary-carry shape (as q_lag_dod); the running sum is
    the range-bucketed two-phase prefix sum (functions/ranks.py). Both
    engines sum ulp-level-identical logs; round(·,6) absorbs summation-order
    differences (values are O(1)–O(10); margins verified on the fixed
    testdata). No single-partition window anywhere."""
    from bigdatainfinance1_spark.functions.ranks import global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev")
    ).withColumn("_yr", F.year("day"))
    w = Window.partitionBy("_yr").orderBy("day")
    carry = (
        daily.groupBy("_yr")
        .agg(F.max_by("rev", "day").alias("_carry_rev"))
        .select((F.col("_yr") + 1).alias("_yr"), "_carry_rev")
    )
    prev = F.coalesce(F.lag("rev").over(w), F.col("_carry_rev"))
    rets = (
        daily.join(F.broadcast(carry), "_yr", "left")
        .select("day", "rev", F.log(F.col("rev") / prev).alias("log_ret"))
    )
    summed = global_running_sum(rets, ["day"], "log_ret", "_cum")
    return summed.select("day", "rev", F.round("_cum", 6).alias("cum_log_return"))


@query(
    "q_twap",
    oracle="""
    WITH iv AS (
      SELECT user_id, value,
        epoch_us(coalesce(
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts
        )) - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT
      user_id,
      round(CAST(sum(CAST(round(value * 100) AS HUGEINT) * dur_us) AS DOUBLE)
            / 100 / nullif(sum(dur_us), 0), 4) AS twap,
      CAST(sum(dur_us) AS BIGINT)                            AS total_us
    FROM iv
    WHERE dur_us > 0
    GROUP BY user_id
    """,
    tags=("analytics", "finance", "events"),
)
def twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per user: each observation holds until
    the next one (lead over the per-user event-time order), weight = holding
    duration in integer microseconds — exact on both engines; the final
    ratio is the only float division. The last observation (zero duration)
    drops out, the standard TWAP convention. One per-key window + one
    groupBy, both on user_id — a single shuffle at scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur = F.unix_micros(F.coalesce(F.lead("ts").over(w), F.col("ts"))) - F.unix_micros("ts")
    iv = ev.select("user_id", "value", dur.alias("dur_us")).filter(F.col("dur_us") > 0)
    return iv.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.round(F.col("value") * 100).cast("decimal(19,0)") * F.col("dur_us")
            ).cast("double")
            / 100
            / F.nullif(F.sum("dur_us"), F.lit(0)),
            4,
        ).alias("twap"),
        F.sum("dur_us").cast("long").alias("total_us"),
    )


_EWMA_SQL = """
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ) AS idx
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice,
      round(
        sum(o_totalprice * pow(2.0, idx)) OVER w / sum(pow(2.0, idx)) OVER w,
        4) AS ewma
    FROM seq
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
"""


sql_query(
    "q_ewma_orders", _EWMA_SQL, tags=("analytics", "finance", "timeseries"),
    doc="""Exponentially weighted moving average (decay 0.5) of each customer's
    order values — the recursive smoother expressed as a CLOSED-FORM pair of
    running sums: ewma_i = Σ x_j·2^j / Σ 2^j over j ≤ i (weights 2^j are
    exact IEEE powers of two, so no cross-engine pow() drift; the common
    2^-i cancels in the ratio). Two windowed sums per row, one shuffle on
    custkey — no recursion, no UDF, no driver loop; per-key history depth
    only grows the exponent, which double carries to 2^1000+. One SQL text
    runs verbatim on Spark and DuckDB.""",
)


@query(
    "q_dow_seasonality",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    tot AS (SELECT CAST(sum(CAST(round(rev * 100) AS BIGINT)) AS DOUBLE)
                   / count(*) / 100 AS mu FROM daily)
    SELECT
      CAST((datediff('day', DATE '1995-01-02', day) % 7 + 7) % 7 AS BIGINT) AS dow_idx,
      count(*) AS n_days,
      round(CAST(sum(CAST(round(rev * 100) AS BIGINT)) AS DOUBLE)
            / count(*) / 100, 4) AS avg_rev,
      round(CAST(sum(CAST(round(rev * 100) AS BIGINT)) AS DOUBLE)
            / count(*) / 100 / min(tot.mu), 6) AS seasonal_idx
    FROM daily CROSS JOIN tot
    GROUP BY (datediff('day', DATE '1995-01-02', day) % 7 + 7) % 7
    """,
    tags=("analytics", "finance", "timeseries"),
)
def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: day-of-week revenue index (per-DOW mean over
    the global mean). The weekday is derived ARITHMETICALLY — days since a
    known Monday, mod 7 — because the engines disagree on dayofweek()
    numbering (Spark 1=Sunday, DuckDB 0=Sunday); integer date arithmetic
    is convention-free. Two tiny aggregates over the daily relation, the
    global mean rides in as a broadcast 1-row cross join."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev")
    )
    # integer-moments rule: rev is exact 2-dp — means sum exact cents
    revc = F.round(F.col("rev") * 100).cast("long")
    mean_rev = F.sum(revc).cast("double") / F.count(F.lit(1)) / 100
    tot = daily.agg(mean_rev.alias("mu"))
    dow = ((F.datediff(F.col("day"), F.lit("1995-01-02").cast("date")) % 7 + 7) % 7).cast("long")
    return (
        daily.crossJoin(F.broadcast(tot))
        .groupBy(dow.alias("dow_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(mean_rev, 4).alias("avg_rev"),
            F.round(mean_rev / F.min("mu"), 6).alias("seasonal_idx"),
        )
    )


@query(
    "q_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    stats AS (SELECT CAST(sum(CAST(round(rev * 100) AS BIGINT)) AS DOUBLE)
                     / count(*) / 100 AS mu FROM daily),
    denom AS (
      SELECT CAST(sum(CAST(round((rev - mu) * (rev - mu) * 1e4) AS HUGEINT))
                  AS DOUBLE) / 1e4 AS ss
      FROM daily CROSS JOIN stats
    ),
    lags(k) AS (VALUES (1), (7), (30)),
    pairs AS (
      SELECT l.k, (a.rev - s.mu) * (b.rev - s.mu) AS prod
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + l.k
      CROSS JOIN stats s
    )
    SELECT
      CAST(p.k AS BIGINT) AS lag_k,
      count(*) AS n_pairs,
      round(CAST(sum(CAST(round(p.prod * 1e4) AS HUGEINT)) AS DOUBLE) / 1e4
            / min(d.ss), 6) AS acf
    FROM pairs p CROSS JOIN denom d
    GROUP BY p.k
    """,
    tags=("analytics", "finance", "timeseries"),
)
def autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue at lags 1/7/30 — the ACF
    values a seasonality analysis starts from. Formulated WITHOUT ordered
    windows: the lag pairing is an equi-join on (day + k) against a lags
    VALUES relation, so it shuffles on the date key and parallelizes —
    no single-partition sort, no carry machinery. Global mean and the
    centered sum of squares ride in as broadcast 1-row relations; the
    classic ACF denominator (full-series variance) normalizes every lag.
    Products of identically-rounded doubles agree bitwise; the final
    sums are order-ulp-absorbed by round 6 on a [-1, 1] statistic."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
    # integer-moments rule: rev is exact 2-dp; the mean sums exact cents
    # and the centered sums snap each term at a 1e-4 grain
    stats = daily.agg(
        (
            F.sum(F.round(F.col("rev") * 100).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 100
        ).alias("mu")
    )
    denom = daily.crossJoin(F.broadcast(stats)).agg(
        (
            F.sum(
                F.round(
                    (F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu")) * 1e4
                ).cast("decimal(38,0)")
            ).cast("double")
            / 1e4
        ).alias("ss")
    )
    lags = spark.createDataFrame([(1,), (7,), (30,)], "k int")
    a = daily.select(F.col("day").alias("day_a"), F.col("rev").alias("rev_a"))
    b = daily.select(F.col("day").alias("day_b"), F.col("rev").alias("rev_b"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("date_add(day_a, k) = day_b"))
        .crossJoin(F.broadcast(stats))
        .select(
            "k",
            ((F.col("rev_a") - F.col("mu")) * (F.col("rev_b") - F.col("mu"))).alias("prod"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(denom))
        .groupBy(F.col("k").cast("long").alias("lag_k"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.round(F.col("prod") * 1e4).cast("decimal(38,0)")).cast(
                    "double"
                )
                / 1e4
                / F.min("ss"),
                6,
            ).alias("acf"),
        )
    )


@query(
    "q_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    mu AS (SELECT CAST(sum(CAST(round(rev * 100) AS BIGINT)) AS DOUBLE)
                  / count(*) / 100 AS mu FROM daily),
    cusum AS (
      SELECT day,
        round(sum(rev - mu) OVER (
          ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ), 2) AS s
      FROM daily CROSS JOIN mu
    ),
    peak AS (SELECT max(abs(s)) AS smax, count(*) AS n_days FROM cusum)
    SELECT
      min(c.day)        AS changepoint_day,
      round(min(p.smax), 2) AS max_cusum,
      CAST(min(p.n_days) AS BIGINT) AS n_days
    FROM cusum c CROSS JOIN peak p
    WHERE abs(c.s) = p.smax
    """,
    tags=("analytics", "finance", "timeseries"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection via CUSUM: the day where the cumulative sum of
    mean-deviations of daily revenue peaks in magnitude — the classic
    single-changepoint estimator (argmax |S_t|). The cumulative sum runs
    through the distributed range-bucketed prefix machinery
    (functions/ranks.py; the oracle's plain global window is DuckDB's
    prerogative) and is ROUNDED to cents before the argmax, so the
    engines' different summation trees cannot flip the peak choice; ties
    resolve to the earliest day on both engines."""
    from bigdatainfinance1_spark.functions.ranks import global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev")
    )
    mu = daily.agg(
        (
            F.sum(F.round(F.col("rev") * 100).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 100
        ).alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("rev") - F.col("mu")).alias("dev")
    )
    cs = global_running_sum(dev, ["day"], "dev", "_s").select(
        "day", F.round("_s", 2).alias("s")
    )
    peak = cs.agg(F.max(F.abs(F.col("s"))).alias("smax"), F.count(F.lit(1)).alias("n_days"))
    return (
        cs.crossJoin(F.broadcast(peak))
        .filter(F.abs(F.col("s")) == F.col("smax"))
        .agg(
            F.min("day").alias("changepoint_day"),
            F.round(F.min("smax"), 2).alias("max_cusum"),
            F.min("n_days").cast("long").alias("n_days"),
        )
    )


@query(
    "q_business_day_lag",
    oracle="""
    WITH lag AS (
      SELECT
        o.o_orderpriority,
        (5 * CAST(floor(datediff('day', DATE '1970-01-05', l.l_shipdate) / 7e0) AS BIGINT)
           + least(datediff('day', DATE '1970-01-05', l.l_shipdate) % 7, 5))
        -
        (5 * CAST(floor(datediff('day', DATE '1970-01-05', o.o_orderdate) / 7e0) AS BIGINT)
           + least(datediff('day', DATE '1970-01-05', o.o_orderdate) % 7, 5))
          AS bdays
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT
      o_orderpriority,
      count(*) AS n_lines,
      round(avg(bdays), 4) AS avg_bdays,
      round(quantile_cont(bdays, 0.5), 4) AS median_bdays,
      CAST(max(bdays) AS BIGINT) AS max_bdays
    FROM lag GROUP BY o_orderpriority
    """,
    tags=("analytics", "finance", "timeseries"),
)
def business_day_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Settlement-style lag: order→ship time in BUSINESS DAYS (weekends
    excluded), per priority. Weekday counting is the closed-form prefix
    function f(d) = 5·⌊n/7⌋ + min(n mod 7, 5) with n = days since a
    Monday epoch (1970-01-05) — pure integer arithmetic on both engines,
    no calendar table, no per-day iteration (the f(ship) − f(order)
    difference counts weekdays in the interval exactly). Integer lags
    make the median interpolation engine-exact."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    anchor = F.lit("1970-01-05").cast("date")

    def weekday_prefix(col):
        n = F.datediff(col, anchor)
        return 5 * F.floor(n / F.lit(7.0)).cast("long") + F.least(n % 7, F.lit(5))

    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        (weekday_prefix(F.col("l_shipdate")) - weekday_prefix(F.col("o_orderdate"))).alias(
            "bdays"
        ),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.avg("bdays"), 4).alias("avg_bdays"),
        F.round(F.expr("percentile(bdays, 0.5)"), 4).alias("median_bdays"),
        F.max("bdays").cast("long").alias("max_bdays"),
    )


@query(
    "q_rsi_daily",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag,
             datediff('day', DATE '1970-01-01', l_shipdate) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_returnflag, d
    ),
    deltas AS (
      SELECT l_returnflag, d,
             cents - lag(cents) OVER w AS delta,
             row_number() OVER w AS rn
      FROM daily
      WINDOW w AS (PARTITION BY l_returnflag ORDER BY d)
    ),
    gl AS (
      SELECT l_returnflag, d, rn,
             avg(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w14 AS avg_gain,
             avg(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w14 AS avg_loss
      FROM deltas
      WINDOW w14 AS (PARTITION BY l_returnflag ORDER BY d
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT l_returnflag, d,
           round(CASE WHEN avg_gain + avg_loss = 0 THEN 50e0
                      ELSE 100e0 * avg_gain / (avg_gain + avg_loss) END, 4) AS rsi
    FROM gl WHERE rn >= 15
    """,
    tags=("analytics", "finance", "windows"),
)
def rsi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI(14) technical indicator (Cutler's SMA variant) over the daily
    revenue series of each return-flag 'instrument' — completes the
    technical-analysis set next to q_bollinger_bands and q_ewma_orders.
    Daily revenue is exact integer cents, so deltas and the 14-row
    gain/loss averages are exact rationals both engines compute
    identically (sum of ints / 14); RSI = 100·AG/(AG+AL) — algebraically
    100 − 100/(1+RS) — is one double division, rounded 4 dp, with the
    flat-window (AG+AL=0) case pinned to 50. Rows-based frames over the
    day-keyed series are deterministic (one row per day by construction).
    Scale: windows are partitioned per instrument — no global window; at
    100 TB the instrument key fans out and each series stays a bounded
    partition."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents"))
    w = Window.partitionBy("l_returnflag").orderBy("d")
    w14 = w.rowsBetween(-13, 0)
    deltas = daily.select(
        "l_returnflag",
        "d",
        (F.col("cents") - F.lag("cents").over(w)).alias("delta"),
        F.row_number().over(w).alias("rn"),
    )
    gl = deltas.select(
        "l_returnflag",
        "d",
        "rn",
        F.avg(F.when(F.col("delta") > 0, F.col("delta")).otherwise(0)).over(w14).alias("avg_gain"),
        F.avg(F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0)).over(w14).alias("avg_loss"),
    )
    return gl.filter(F.col("rn") >= 15).select(
        "l_returnflag",
        "d",
        F.round(
            F.when(F.col("avg_gain") + F.col("avg_loss") == 0, F.lit(50.0)).otherwise(
                F.lit(100.0) * F.col("avg_gain") / (F.col("avg_gain") + F.col("avg_loss"))
            ),
            4,
        ).alias("rsi"),
    )


@query(
    "q_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag AS flag,
             datediff('day', DATE '1970-01-01', l_shipdate) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY flag, d
    ),
    trended AS (
      SELECT flag, d, cents,
             CAST(sum(cents) OVER w7 AS BIGINT) AS sum7,
             row_number() OVER wa AS rn,
             count(*) OVER (PARTITION BY flag) AS n_days
      FROM daily
      WINDOW w7 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
             wa AS (PARTITION BY flag ORDER BY d)
    ),
    detrended AS (
      SELECT flag, d % 7 AS dow, 7 * cents - sum7 AS resid7
      FROM trended WHERE rn >= 4 AND rn <= n_days - 3
    ),
    seasonal AS (
      SELECT flag, dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(resid7) AS BIGINT) AS s7sum
      FROM detrended GROUP BY flag, dow
    )
    SELECT
      se.flag,
      CAST(se.dow AS BIGINT)                          AS dow,
      se.n_days,
      round(se.s7sum * 1e0 / se.n_days / 700, 4)      AS seasonal,
      round(sum(abs(se.n_days * de.resid7 - se.s7sum)) * 1e0
            / se.n_days / se.n_days / 700, 4)         AS mean_abs_resid
    FROM detrended de
    JOIN seasonal se ON de.flag = se.flag AND de.dow = se.dow
    GROUP BY se.flag, se.dow, se.n_days, se.s7sum
    """,
    tags=("analytics", "finance", "windows"),
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of each return-flag's
    daily revenue series: trend = centered 7-day moving average (full
    windows only — the first/last 3 days are trimmed identically on both
    engines), weekly seasonal component = mean detrended residual per
    arithmetic weekday (d mod 7 — engines disagree on dayofweek()
    numbering, round-2 finding), plus the mean absolute remainder as the
    fit diagnostic. EXACTNESS: residuals are kept as scaled integers
    (resid7 = 7·cents − Σ₇cents — the trend average never materializes as
    a double), and the per-group deviations |n·resid7 − Σresid7| are
    integer too, so every sum is an exact BIGINT and the ONLY doubles are
    the final divisions (the first draft averaged doubles and flipped a
    4-dp half-boundary between engines). Scale: all windows partitioned
    per instrument; two keyed aggregations end the plan."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents"))
    wa = Window.partitionBy("flag").orderBy("d")
    w7 = wa.rowsBetween(-3, 3)
    wn = Window.partitionBy("flag")
    trended = daily.select(
        "flag",
        "d",
        "cents",
        F.sum("cents").over(w7).cast("long").alias("sum7"),
        F.row_number().over(wa).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_all"),
    )
    detrended = trended.filter(
        (F.col("rn") >= 4) & (F.col("rn") <= F.col("n_all") - 3)
    ).select(
        "flag", (F.col("d") % 7).alias("dow"), (7 * F.col("cents") - F.col("sum7")).alias("resid7")
    )
    seasonal = detrended.groupBy("flag", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("resid7").cast("long").alias("s7sum"),
    )
    return (
        detrended.join(seasonal, ["flag", "dow"])
        .groupBy("flag", "dow", "n_days", "s7sum")
        .agg(
            F.round(
                F.sum(F.abs(F.col("n_days") * F.col("resid7") - F.col("s7sum")))
                * F.lit(1.0)
                / F.col("n_days")
                / F.col("n_days")
                / 700,
                4,
            ).alias("mean_abs_resid")
        )
        .select(
            "flag",
            F.col("dow").cast("long").alias("dow"),
            "n_days",
            F.round(F.col("s7sum") * F.lit(1.0) / F.col("n_days") / 700, 4).alias("seasonal"),
            "mean_abs_resid",
        )
    )


@query(
    "q_yoy_growth",
    oracle="""
    WITH monthly AS (
      SELECT n.n_name,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS m,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, m
    ),
    shifted AS (
      SELECT n_name, m, cents,
             lag(cents, 12) OVER (PARTITION BY n_name ORDER BY m) AS cents_prev,
             lag(m, 12) OVER (PARTITION BY n_name ORDER BY m)     AS m_prev
      FROM monthly
    )
    SELECT
      n_name, m,
      round(cents / 100e0, 2)      AS revenue,
      round(cents_prev / 100e0, 2) AS revenue_prev,
      round((cents - cents_prev) * 1e0 / cents_prev, 6) AS yoy
    FROM shifted
    WHERE m_prev = m - 12
    """,
    tags=("analytics", "finance", "windows"),
)
def yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth per nation — the BI staple.
    The lag-12 rows-based shift is only meaningful if the series has no
    month gaps, so the oracle-checked guard m_prev = m − 12 drops rows
    whose 12-back neighbour is NOT the same calendar month last year
    (identical filter both engines — correctness does not silently depend
    on series density). Revenue is exact integer cents; the growth ratio
    divides two exact integers. Scale: one (nation × month) aggregation
    (tiny grid), windows partitioned per nation."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents")
        )
    )
    w = Window.partitionBy("n_name").orderBy("m")
    shifted = monthly.select(
        "n_name",
        "m",
        "cents",
        F.lag("cents", 12).over(w).alias("cents_prev"),
        F.lag("m", 12).over(w).alias("m_prev"),
    )
    return shifted.filter(F.col("m_prev") == F.col("m") - 12).select(
        "n_name",
        "m",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("cents_prev") / 100.0, 2).alias("revenue_prev"),
        F.round((F.col("cents") - F.col("cents_prev")) * F.lit(1.0) / F.col("cents_prev"), 6).alias(
            "yoy"
        ),
    )


@query(
    "q_pattern_vshape",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag AS flag,
             datediff('day', DATE '1970-01-01', l_shipdate) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY flag, d
    ),
    signed AS (
      SELECT flag, d,
             CASE WHEN cents > lag(cents) OVER w THEN 1
                  WHEN cents < lag(cents) OVER w THEN -1 ELSE 0 END AS sgn
      FROM daily WINDOW w AS (PARTITION BY flag ORDER BY d)
    ),
    flagged AS (
      SELECT flag, d, sgn,
             CASE WHEN sgn = lag(sgn) OVER w2 THEN 0 ELSE 1 END AS chg
      FROM signed WHERE sgn <> 0
      WINDOW w2 AS (PARTITION BY flag ORDER BY d)
    ),
    runs AS (
      SELECT flag, d, sgn,
             sum(chg) OVER (PARTITION BY flag ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM flagged
    ),
    rle AS (
      SELECT flag, run_id,
             min(sgn)  AS sgn,
             count(*)  AS run_len
      FROM runs GROUP BY flag, run_id
    ),
    paired AS (
      SELECT flag, sgn, run_len,
             lead(sgn) OVER w3     AS next_sgn,
             lead(run_len) OVER w3 AS next_len
      FROM rle WINDOW w3 AS (PARTITION BY flag ORDER BY run_id)
    )
    SELECT
      flag,
      CAST(count(*) AS BIGINT)                   AS n_vshapes,
      CAST(max(run_len + next_len) AS BIGINT)    AS max_width,
      round(avg(run_len + next_len), 4)          AS avg_width
    FROM paired
    WHERE sgn = -1 AND next_sgn = 1 AND run_len >= 2 AND next_len >= 2
    GROUP BY flag
    """,
    tags=("analytics", "finance", "windows"),
)
def pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern detection (the MATCH_RECOGNIZE capability class,
    composed from windows): find V-shapes in each instrument's daily
    revenue — a down-run of ≥2 days immediately followed by an up-run of
    ≥2 days. Pipeline: sign of day-over-day delta → run-length encoding
    via change-flag cumulative sum (flat days break runs, dropped before
    RLE identically on both engines) → adjacent-run pairing with lead().
    Every stage is integer arithmetic on exact cents; windows are all
    instrument-partitioned; the RLE relation is runs-sized (≪ days).
    This is the batch shape of streaming CEP — the state the stream
    version would keep per key is exactly one open run."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents"))
    w = Window.partitionBy("flag").orderBy("d")
    signed = daily.select(
        "flag",
        "d",
        F.when(F.col("cents") > F.lag("cents").over(w), 1)
        .when(F.col("cents") < F.lag("cents").over(w), -1)
        .otherwise(0)
        .alias("sgn"),
    ).filter(F.col("sgn") != 0)
    w_cum = Window.partitionBy("flag").orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    runs = signed.select(
        "flag",
        "d",
        "sgn",
        F.sum(
            F.when(F.col("sgn") == F.lag("sgn").over(w), 0).otherwise(1)
        )
        .over(w_cum)
        .alias("run_id"),
    )
    rle = runs.groupBy("flag", "run_id").agg(
        F.min("sgn").alias("sgn"), F.count(F.lit(1)).alias("run_len")
    )
    w_runs = Window.partitionBy("flag").orderBy("run_id")
    paired = rle.select(
        "flag",
        "sgn",
        "run_len",
        F.lead("sgn").over(w_runs).alias("next_sgn"),
        F.lead("run_len").over(w_runs).alias("next_len"),
    )
    return (
        paired.filter(
            (F.col("sgn") == -1)
            & (F.col("next_sgn") == 1)
            & (F.col("run_len") >= 2)
            & (F.col("next_len") >= 2)
        )
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vshapes"),
            F.max(F.col("run_len") + F.col("next_len")).cast("long").alias("max_width"),
            F.round(F.avg(F.col("run_len") + F.col("next_len")), 4).alias("avg_width"),
        )
    )


@query(
    "q_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag AS flag,
             datediff('day', DATE '1970-01-01', l_shipdate) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY flag, d
    ),
    paired AS (
      SELECT flag, d, cents,
             lag(cents, 7) OVER w AS forecast,
             lag(d, 7) OVER w     AS d_prev
      FROM daily WINDOW w AS (PARTITION BY flag ORDER BY d)
    ),
    scored AS (
      SELECT flag, cents, forecast, cents - forecast AS err
      FROM paired WHERE d_prev = d - 7
    )
    SELECT
      flag,
      CAST(count(*) AS BIGINT)                             AS n_days,
      round(avg(abs(err)) / 100e0, 2)                      AS mae,
      round(sqrt(CAST(sum(CAST(err AS HUGEINT) * err) AS DOUBLE)
                 / 1e4 / count(*)), 2)                     AS rmse,
      round(CAST(sum(CAST(round(abs(err) * 1e12 / cents) AS HUGEINT)) AS DOUBLE)
            / 1e12 / count(*), 6)                          AS mape
    FROM scored GROUP BY flag
    """,
    tags=("analytics", "finance", "windows"),
)
def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting harness: the seasonal-naive baseline (value =
    same weekday last week) scored with MAE/RMSE/MAPE per instrument —
    the evaluation loop every production forecast runs, with seasonal-
    naive as the score-to-beat. The lag-7 pairing carries a calendar
    guard (d_prev = d − 7) so gaps never fake a forecast, same idiom as
    q_yoy_growth. Errors are exact integer cents; MAE's integer-avg is
    exact, RMSE squares identical doubles (cents fit double exactly —
    squares round identically), MAPE divides exact integers — per-group
    summation noise sits at ulp scale under every 2/6-dp round. Scale:
    one instrument-partitioned window over the bounded daily grid."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents"))
    w = Window.partitionBy("flag").orderBy("d")
    paired = daily.select(
        "flag",
        "d",
        "cents",
        F.lag("cents", 7).over(w).alias("forecast"),
        F.lag("d", 7).over(w).alias("d_prev"),
    )
    scored = paired.filter(F.col("d_prev") == F.col("d") - 7).select(
        "flag", "cents", (F.col("cents") - F.col("forecast")).alias("err")
    )
    return scored.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.avg(F.abs("err")) / 100.0, 2).alias("mae"),
        F.round(
            F.sqrt(
                F.sum(F.col("err").cast("decimal(19,0)") * F.col("err")).cast("double")
                / 1e4
                / F.count(F.lit(1))
            ),
            2,
        ).alias("rmse"),
        F.round(
            F.sum(
                F.round(F.abs("err") * F.lit(1e12) / F.col("cents")).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / 1e12
            / F.count(F.lit(1)),
            6,
        ).alias("mape"),
    )


# Hurst exponent by rescaled-range analysis. Exactness trick: the cumulative
# deviation at prefix k of an n-day segment is (n·cum_k − k·T)/n with T the
# segment total — keep the NUMERATOR as an exact integer, so the range
# R·n = max−min over prefixes is exact; only the std dev and the final
# log-log slope run in doubles with identical shapes on both engines.
_HURST_SQL = """
    WITH daily AS (
      SELECT c.c_nationkey AS nk,
             CAST(o.o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nk, d
    ),
    idx AS (
      SELECT nk, cents,
             row_number() OVER (PARTITION BY nk ORDER BY d) - 1 AS i
      FROM daily
    ),
    sizes AS (SELECT * FROM (VALUES (8), (16), (32)) AS t(n)),
    seg AS (
      SELECT s.n, x.nk, CAST(floor(x.i * 1e0 / s.n) AS BIGINT) AS sid,
             (x.i % s.n) + 1 AS pos, x.cents,
             CAST(sum(x.cents) OVER (
               PARTITION BY s.n, x.nk, CAST(floor(x.i * 1e0 / s.n) AS BIGINT) ORDER BY x.i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM idx x CROSS JOIN sizes s
    ),
    segtot AS (
      SELECT n, nk, sid,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(cents) AS BIGINT) AS t,
             sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS sxx
      FROM seg GROUP BY n, nk, sid
    ),
    devs AS (
      SELECT g.n, g.nk, g.sid, g.t, g.sxx,
             CAST(max(g.n * s.cum - s.pos * g.t) AS BIGINT) AS dmax,
             CAST(min(g.n * s.cum - s.pos * g.t) AS BIGINT) AS dmin
      FROM segtot g
      JOIN seg s ON s.n = g.n AND s.nk = g.nk AND s.sid = g.sid
      WHERE g.cnt = g.n
      GROUP BY g.n, g.nk, g.sid, g.t, g.sxx
    ),
    rs AS (
      SELECT n, nk,
             ((dmax - dmin) * 1e0 / n)
             / sqrt(CAST(sxx AS DOUBLE) / n - (t * 1e0 / n) * (t * 1e0 / n)) AS ratio
      FROM devs
      WHERE CAST(sxx AS DOUBLE) / n - (t * 1e0 / n) * (t * 1e0 / n) > 0e0
    ),
    points AS (
      SELECT nk, n, ln(CAST(n AS DOUBLE)) AS lx,
             ln(CAST(sum(CAST(round(ratio * 1e9) AS BIGINT)) AS DOUBLE)
                / count(*) / 1e9) AS ly
      FROM rs GROUP BY nk, n
    ),
    fit AS (
      SELECT nk,
             CAST(count(*) AS BIGINT) AS n_points,
             (CAST(sum(CAST(round(lx * ly * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
              - (CAST(sum(CAST(round(lx * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
                * (CAST(sum(CAST(round(ly * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
                / count(*))
             / (CAST(sum(CAST(round(lx * lx * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
                - (CAST(sum(CAST(round(lx * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
                  * (CAST(sum(CAST(round(lx * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
                  / count(*)) AS slope
      FROM points GROUP BY nk
    )
    SELECT nk AS nationkey, n_points, round(slope, 4) AS hurst
    FROM fit WHERE n_points = 3
"""


sql_query(
    "q_hurst_exponent", _HURST_SQL, tags=("analytics", "finance", "timeseries"),
    doc="""Hurst exponent per nation's daily-revenue series by classical
    rescaled-range analysis: split the day-indexed series into segments of
    8/16/32 days, compute R/S per segment (range of cumulative deviations
    over the std dev), average per size, and fit the log-log slope —
    H ≈ 0.5 marks a memoryless series. Observed here: H ≈ 0.53–0.70 (mean
    0.61) across nations — the classical estimator's well-documented
    upward small-sample bias at short windows (n ≤ 32, no Anis–Lloyd
    correction), not persistence; a production reading subtracts the
    E[R/S] baseline. The cumulative-deviation range is computed on
    the exact integer n·cum − pos·T (no double drift inside the max/min);
    Σx² is exact HUGEINT/decimal; only the std, the ratio, and the 3-point
    regression run in doubles with identical shapes, rounded at 4 dp.
    Scale: everything is keyed by (nation, segment) — two shuffles and a
    3-row-per-nation fit; per-instrument parallelism at 100 TB. One SQL
    text runs verbatim on both engines.""",
)


_CROSTON_SQL = """
    WITH pm AS (
      SELECT l.l_partkey AS part,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS m,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY part, m
    ),
    seq AS (
      SELECT part, m, q,
             row_number() OVER (PARTITION BY part ORDER BY m) AS idx,
             m - lag(m) OVER (PARTITION BY part ORDER BY m) AS gap
      FROM pm
    ),
    sm AS (
      SELECT part, idx, q, gap,
             sum(q * pow(2e0, idx)) OVER w / sum(pow(2e0, idx)) OVER w AS z_hat,
             sum(coalesce(gap, 0) * pow(2e0, idx)) OVER w
               / nullif(sum(CASE WHEN gap IS NULL THEN 0e0 ELSE pow(2e0, idx) END) OVER w, 0e0)
               AS i_hat
      FROM seq
      WINDOW w AS (PARTITION BY part ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    latest AS (
      SELECT part, idx AS n_periods, z_hat, i_hat,
             row_number() OVER (PARTITION BY part ORDER BY idx DESC) AS rn
      FROM sm
    )
    SELECT part,
           CAST(n_periods AS BIGINT)  AS n_periods,
           round(z_hat, 4)            AS ewma_size,
           round(i_hat, 4)            AS ewma_interval,
           round(z_hat / i_hat, 4)    AS croston_rate
    FROM latest
    WHERE rn = 1 AND i_hat IS NOT NULL AND i_hat > 0
    """


sql_query(
    "q_croston_forecast", _CROSTON_SQL, tags=("analytics", "forecast", "supply-chain"),
    doc="""Croston's method for intermittent demand — THE sparse-series
    forecaster (spare parts, long-tail SKUs): smooth the nonzero demand
    SIZES and the INTERVALS between demand months separately, forecast
    rate = size/interval. Both smoothers are the closed-form EWMA ratio
    of q_ewma_orders (decay ½ → exact 2^idx weights); the windowed sums
    accumulate in frame order — identical sequential order on both
    engines — so the >53-bit weight span never meets a reordered sum.
    The first observation has no interval (gap NULL → weight dropped on
    both sides identically). Output = per-part latest state, rounded at
    4 dp. Scale: part-partitioned windows over bounded monthly series —
    the per-SKU parallelism a demand planner runs nightly. One SQL text
    runs verbatim on both engines.""",
)


@query(
    "q_rolling_median",
    oracle="""
    WITH daily AS (
      SELECT c.c_nationkey AS nk,
             datediff('day', DATE '1970-01-01', o.o_orderdate) AS d,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nk, d
    ),
    win AS (
      SELECT nk, d,
             list_sort(list(cents) OVER (
               PARTITION BY nk ORDER BY d
               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
             )) AS arr
      FROM daily
    )
    SELECT nk AS nationkey, d,
           CAST(len(arr) AS BIGINT) AS n_days_window,
           CAST(arr[CAST((len(arr) + 1) // 2 AS BIGINT)] AS BIGINT) AS median_cents
    FROM win
    """,
    tags=("window", "finance", "timeseries"),
)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day rolling MEDIAN of daily revenue per nation — the
    robust moving statistic (q_moving_avg's outlier-resistant sibling)
    that no engine's window aggregates express natively: an order
    statistic needs the window's contents, so both engines build the
    frame's value list (collect_list / list over a RANGE 29 PRECEDING
    frame on the integer day key), sort it, and pick the LOWER median at
    1-based index (n+1)÷2 — identical discrete element, exact integer
    cents, zero interpolation ambiguity. Scale: the frame holds ≤30
    bounded integers per row and the window is nation-partitioned; at
    100 TB per-instrument keys make this embarrassingly parallel (the
    same plan the VWAP/Bollinger family uses)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    daily = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    orders["o_custkey"] == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"))
    )
    w = Window.partitionBy("nk").orderBy("d").rangeBetween(-29, 0)
    win = daily.select(
        F.col("nk").alias("nationkey"),
        "d",
        F.array_sort(F.collect_list("cents").over(w)).alias("arr"),
    )
    return win.select(
        "nationkey",
        "d",
        F.size("arr").cast("long").alias("n_days_window"),
        F.element_at("arr", ((F.size("arr") + 1) / 2).cast("int")).cast("long").alias("median_cents"),
    )


HOLT_ALPHA, HOLT_BETA = 0.3, 0.1


@query(
    "q_holt_smoothing",
    oracle=f"""
    WITH RECURSIVE m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY mi
    ),
    idx AS (SELECT mi, cents, row_number() OVER (ORDER BY mi) AS i FROM m),
    hw AS (
      SELECT i, mi, cents, CAST(cents / 100.0 AS DOUBLE) AS lvl,
             CAST(0.0 AS DOUBLE) AS trd
      FROM idx WHERE i = 1
      UNION ALL
      SELECT x.i, x.mi, x.cents,
             round({HOLT_ALPHA} * (x.cents / 100.0)
                   + {1 - HOLT_ALPHA} * (hw.lvl + hw.trd), 12),
             round({HOLT_BETA} * (round({HOLT_ALPHA} * (x.cents / 100.0)
                   + {1 - HOLT_ALPHA} * (hw.lvl + hw.trd), 12) - hw.lvl)
                   + {1 - HOLT_BETA} * hw.trd, 12)
      FROM idx x JOIN hw ON x.i = hw.i + 1
    )
    SELECT mi, CAST(cents AS BIGINT) AS revenue_cents,
           round(lvl, 4) AS level, round(trd, 4) AS trend,
           round(lvl + trd, 4) AS next_month_forecast
    FROM hw
    """,
    tags=("finance", "timeseries", "iterative"),
)
def holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double) exponential smoothing over monthly revenue —
    the trend-aware upgrade of q_ewma_orders and the workhorse short-range
    forecaster: level ← α·y + (1−α)(level+trend), trend ← β·Δlevel +
    (1−β)·trend, α=0.3, β=0.1, emitting per month the smoothed state and
    the one-step-ahead forecast. The recursion is inherently sequential in
    time, so it follows the bounded-model precedent (PCA covariance,
    Markov absorption): the corpus pass reduces to ~80 exact-integer-cents
    monthly rows — O(calendar), never O(orders) — which the driver walks
    with 12-dp-rounded state; the oracle runs the IDENTICAL recursion as a
    DuckDB recursive CTE, so both engines visit bit-identical (level,
    trend) pairs. At 100 TB the monthly aggregation is the only scan."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .orderBy("mi")
        .collect()  # O(calendar months) — bounded model state, never O(rows)
    )
    # SQL-style HALF-AWAY rounding matching DuckDB bit-for-bit at all
    # magnitudes (functions/rounding.py — the floor(abs*1e12+0.5) fold it
    # replaces loses its rounding effect past 2**53 and could drift an ulp
    # that compounds through the recursion at larger scale factors)
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    rows = []
    lvl = trd = None
    for r in monthly:
        y = r["cents"] / 100.0
        if lvl is None:
            lvl, trd = y, 0.0
        else:
            new_lvl = rnd(HOLT_ALPHA * y + (1 - HOLT_ALPHA) * (lvl + trd), 12)
            trd = rnd(HOLT_BETA * (new_lvl - lvl) + (1 - HOLT_BETA) * trd, 12)
            lvl = new_lvl
        rows.append((r["mi"], r["cents"], rnd(lvl, 4), rnd(trd, 4), rnd(lvl + trd, 4)))
    return spark.createDataFrame(
        rows,
        "mi long, revenue_cents long, level double, trend double, next_month_forecast double",
    )


HW_ALPHA, HW_BETA, HW_GAMMA = 0.3, 0.1, 0.2  # level / trend / seasonal gains
HW_M = 12  # seasonal period (months)


def _hw_oracle() -> str:
    """Holt-Winters recursive CTE with the 12-slot rotating seasonal
    buffer carried as columns s1..s12 (s1 is always the t-12 seasonal the
    next step consumes). Generated once; every state transition is
    round(..., 12) so the driver-side mirror visits identical doubles."""
    a, b, g, m = HW_ALPHA, HW_BETA, HW_GAMMA, HW_M
    lvl0 = f"round(sum(CASE WHEN i BETWEEN 1 AND {m} THEN cents END) / {m * 100}.0, 12)"
    trd0 = (
        f"round((sum(CASE WHEN i BETWEEN {m + 1} AND {2 * m} THEN cents END)"
        f" - sum(CASE WHEN i BETWEEN 1 AND {m} THEN cents END)) / {m * m * 100}.0, 12)"
    )
    s_init = ", ".join(
        f"round(max(CASE WHEN i = {j} THEN cents END) / 100.0 - {lvl0}, 12) AS s{j}"
        for j in range(1, m + 1)
    )
    s_cols = ", ".join(f"s{j}" for j in range(1, m + 1))
    lvl_new = (
        f"round({a} * (x.cents / 100.0 - hw.s1)"
        f" + {1 - a} * (hw.lvl + hw.trd), 12)"
    )
    trd_new = f"round({b} * ({lvl_new} - hw.lvl) + {1 - b} * hw.trd, 12)"
    s_new = f"round({g} * (x.cents / 100.0 - {lvl_new}) + {1 - g} * hw.s1, 12)"
    rotate = ", ".join(f"hw.s{j + 1}" for j in range(1, m))  # s1..s11 <- s2..s12
    return f"""
    WITH RECURSIVE m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY mi
    ),
    idx AS (SELECT mi, cents, row_number() OVER (ORDER BY mi) AS i FROM m),
    init AS (
      SELECT {lvl0} AS lvl0, {trd0} AS trd0, {s_init} FROM idx
    ),
    hw(i, mi, cents, fitted, lvl, trd, {s_cols}) AS (
      SELECT CAST({m} AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(NULL AS DOUBLE), lvl0, trd0, {s_cols}
      FROM init
      UNION ALL
      SELECT x.i, x.mi, x.cents,
             round(hw.lvl + hw.trd + hw.s1, 12),
             {lvl_new},
             {trd_new},
             {rotate},
             {s_new}
      FROM idx x JOIN hw ON x.i = hw.i + 1
    )
    SELECT mi, CAST(cents AS BIGINT) AS revenue_cents,
           round(fitted, 4) AS one_step_forecast,
           round(lvl, 4) AS level,
           round(trd, 4) AS trend,
           round(s{m}, 4) AS seasonal
    FROM hw WHERE i > {m}
    """


@query("q_holt_winters", oracle=_hw_oracle(), tags=("finance", "timeseries", "iterative"))
def holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) over monthly
    revenue — the seasonal upgrade of q_holt_smoothing: level <-
    alpha(y - s_(t-12)) + (1-alpha)(level+trend), trend <- beta dLevel +
    (1-beta) trend, seasonal <- gamma(y - level) + (1-gamma) s_(t-12),
    classical initialization (level = first-year mean, trend =
    year-over-year mean step, seasonals = first-year deviations), and the
    one-step-ahead fitted value level + trend + s_(t-12) per month.

    Determinism: the bounded-model precedent (q_holt_smoothing) — the
    corpus pass reduces to O(calendar) exact-integer-cents monthly rows;
    the driver walks the recursion with rnd_half_away(x, 12) while the
    oracle runs the IDENTICAL transitions as a recursive CTE whose
    12-slot seasonal buffer rotates through columns s1..s12, so both
    engines visit bit-identical (level, trend, seasonal) state. At 100 TB
    the monthly aggregation is the only scan."""
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .orderBy("mi")
        .collect()  # O(calendar months) — bounded model state, never O(rows)
    )
    m = HW_M
    if len(monthly) < 2 * m + 1:
        raise RuntimeError(f"holt_winters needs >= {2 * m + 1} months, got {len(monthly)}")
    y = [r["cents"] / 100.0 for r in monthly]
    sum1 = sum(r["cents"] for r in monthly[:m])
    sum2 = sum(r["cents"] for r in monthly[m : 2 * m])
    lvl = rnd(sum1 / (m * 100.0), 12)
    trd = rnd((sum2 - sum1) / (m * m * 100.0), 12)
    buf = [rnd(monthly[j]["cents"] / 100.0 - lvl, 12) for j in range(m)]
    rows = []
    for t in range(m, len(monthly)):
        s_old = buf[0]
        fitted = rnd(lvl + trd + s_old, 12)
        yt = monthly[t]["cents"] / 100.0
        lvl_new = rnd(HW_ALPHA * (yt - s_old) + (1 - HW_ALPHA) * (lvl + trd), 12)
        trd = rnd(HW_BETA * (lvl_new - lvl) + (1 - HW_BETA) * trd, 12)
        s_new = rnd(HW_GAMMA * (yt - lvl_new) + (1 - HW_GAMMA) * s_old, 12)
        lvl = lvl_new
        buf = buf[1:] + [s_new]
        rows.append(
            (
                monthly[t]["mi"],
                monthly[t]["cents"],
                rnd(fitted, 4),
                rnd(lvl, 4),
                rnd(trd, 4),
                rnd(s_new, 4),
            )
        )
    return spark.createDataFrame(
        rows,
        "mi long, revenue_cents long, one_step_forecast double, "
        "level double, trend double, seasonal double",
    )


PH_DELTA = 0.05  # Page-Hinkley drift tolerance (M$)
PH_LAMBDA = 2.0  # alarm threshold (M$)


@query(
    "q_page_hinkley",
    oracle=f"""
    WITH RECURSIVE m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS x
      FROM orders GROUP BY mi
    ),
    idx AS (SELECT mi, x, row_number() OVER (ORDER BY mi) AS i FROM m),
    ph(i, mi, x, mean, u, mn) AS (
      SELECT i, mi, x, x, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
      FROM idx WHERE i = 1
      UNION ALL
      SELECT n.i, n.mi, n.x,
             round(ph.mean + (n.x - ph.mean) / n.i, 12),
             round(ph.u + n.x - round(ph.mean + (n.x - ph.mean) / n.i, 12)
                   - {PH_DELTA}, 12),
             least(ph.mn,
                   round(ph.u + n.x - round(ph.mean + (n.x - ph.mean) / n.i, 12)
                         - {PH_DELTA}, 12))
      FROM idx n JOIN ph ON n.i = ph.i + 1
    )
    SELECT mi, x AS revenue_musd,
           round(mean, 6) AS running_mean,
           round(u - mn, 6) AS ph_stat,
           u - mn > {PH_LAMBDA} AS drift_alarm
    FROM ph
    """,
    tags=("finance", "timeseries", "iterative", "monitoring"),
)
def page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift detector on monthly revenue
    (millions): cumulative deviation from the running mean U_t =
    U_(t-1) + x_t - mean_t - delta, PH_t = U_t - min_(s<=t) U_s, alarm
    when PH > lambda — the one-pass upward-drift monitor (the sequential
    sibling of q_cusum_changepoint's batch scan, and the detector stream
    monitors deploy because its state is three numbers). Emits the full
    trajectory so the alarm onset is auditable.

    Determinism: the bounded-model precedent — O(calendar) monthly rows,
    driver recursion with rnd_half_away(x, 12), IDENTICAL transitions in
    the oracle's recursive CTE (the running mean update is written once
    and repeated textually, the q_holt_smoothing trick). The alarm
    compares the 12-dp state against an exact constant."""
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
        )
        .agg((F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000000.0, 6)).alias("x"))
        .orderBy("mi")
        .collect()  # O(calendar months) — bounded model state, never O(rows)
    )
    rows = []
    mean = u = mn = None
    for i, r in enumerate(monthly, start=1):
        x = r["x"]
        if i == 1:
            mean, u, mn = x, 0.0, 0.0
        else:
            mean = rnd(mean + (x - mean) / i, 12)
            u = rnd(u + x - mean - PH_DELTA, 12)
            mn = min(mn, u)
        rows.append((r["mi"], x, rnd(mean, 6), rnd(u - mn, 6), (u - mn) > PH_LAMBDA))
    return spark.createDataFrame(
        rows,
        "mi long, revenue_musd double, running_mean double, ph_stat double, "
        "drift_alarm boolean",
    )


# ---------------------------------------------------------------------------
# q_theta_method — the M3-winning theta forecaster (trend + SES combination)
# ---------------------------------------------------------------------------

THETA_CUTOFF_MI = 2000 * 12 + 12  # train through 2000-12, forecast 2001
THETA_H = 6
THETA_SES_DEPTH = 30  # truncated alpha=0.5 SES: exact 2^-j dyadic weights


@query(
    "q_theta_method",
    oracle=f"""
    WITH mm AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             CAST(round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 1e8 * 10000)
                  AS BIGINT) AS v4
      FROM orders GROUP BY mi
    ),
    tr AS (
      SELECT m.mi - x.mn + 1 AS t, m.v4
      FROM mm m CROSS JOIN (SELECT min(mi) AS mn FROM mm) x
      WHERE m.mi <= {THETA_CUTOFF_MI}
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(t) AS BIGINT) AS tmax,
             CAST(sum(t) AS BIGINT) AS st, CAST(sum(v4) AS BIGINT) AS sy,
             CAST(sum(t * t) AS BIGINT) AS stt, CAST(sum(t * v4) AS BIGINT) AS sty
      FROM tr
    ),
    fit AS (
      SELECT n, tmax,
             (n * 1e0 * sty - st * 1e0 * sy) / (n * 1e0 * stt - st * 1e0 * st) AS b,
             (sy * 1e0 / n)
             - (n * 1e0 * sty - st * 1e0 * sy) / (n * 1e0 * stt - st * 1e0 * st)
               * (st * 1e0 / n) AS a
      FROM mom
    ),
    ses AS (
      SELECT CAST(sum(CAST(round(2e0 * tr.v4 - (f.a + f.b * tr.t)) AS BIGINT)
                      * CAST(power(2, {THETA_SES_DEPTH - 1} - (f.tmax - tr.t))
                             AS BIGINT)) AS BIGINT) AS szw,
             CAST(sum(CAST(power(2, {THETA_SES_DEPTH - 1} - (f.tmax - tr.t))
                           AS BIGINT)) AS BIGINT) AS sw
      FROM tr CROSS JOIN fit f
      WHERE f.tmax - tr.t < {THETA_SES_DEPTH}
    ),
    fc AS (
      SELECT m.mi - {THETA_CUTOFF_MI} AS h, m.v4 AS actual4,
             0.5e0 * (f.a + f.b * (f.tmax + (m.mi - {THETA_CUTOFF_MI})))
             + 0.5e0 * (s.szw * 1e0 / s.sw) AS fhat
      FROM mm m CROSS JOIN fit f CROSS JOIN ses s
      WHERE m.mi > {THETA_CUTOFF_MI} AND m.mi <= {THETA_CUTOFF_MI} + {THETA_H}
    ),
    scored AS (
      SELECT h, round(fhat / 1e4, 4) AS forecast_musd,
             round(actual4 / 1e4, 4) AS actual_musd,
             CAST(abs(CAST(round(fhat) AS BIGINT) - actual4) AS BIGINT) AS ae4
      FROM fc
    ),
    mae AS (SELECT round(sum(ae4) * 1e0 / count(*) / 1e4, 4) AS mae_musd FROM scored)
    SELECT s.h, s.forecast_musd, s.actual_musd,
           round(s.ae4 / 1e4, 4) AS abs_err_musd, m.mae_musd
    FROM scored s CROSS JOIN mae m
    ORDER BY s.h
    """,
    tags=("finance", "timeseries", "forecast"),
)
def theta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The theta method (Assimakopoulos-Nikolopoulos, the M3-competition
    winner) on monthly revenue: decompose into the theta-0 line (the OLS
    linear trend, doubled curvature removed) and the theta-2 line
    (2y - trend, doubled curvature), forecast the first by extrapolation
    and the second by alpha=0.5 simple exponential smoothing, and
    combine with equal weights — six months held out past 2000-12 score
    the forecast. The alpha=0.5 choice makes the SES an EXACT dyadic
    weighted sum (2^-j weights over the last 30 observations — weights
    below 1e-9 truncated identically on both engines, normalized by the
    realized weight total), so the entire forecaster is closed-form.

    Determinism: the series is exact 1e-4-M$-grain BIGINTs, trend
    moments are exact integers, the theta-2 line snaps back to the
    integer grid, and the SES numerator/denominator are exact integer
    sums (value x 2^(29-j)); errors accumulate on the integer grid.
    Scale: one monthly aggregate; everything after is O(calendar) with
    a broadcast 1-row model."""
    orders = load_table(spark, sf_dir, "orders")
    mm = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 1e8 * 10000)
        .cast("long")
        .alias("v4")
    )
    # O(calendar) relation branched 5 ways below (tr/mom/ses/fc/mae) — without
    # materialization every branch re-runs the corpus aggregate (measured
    # 14.1 s at sf0.1; checkpointed: one scan)
    mm = mm.localCheckpoint(eager=True)
    mn = mm.agg(F.min("mi").alias("mn"))
    tr = (
        mm.filter(F.col("mi") <= THETA_CUTOFF_MI)
        .crossJoin(F.broadcast(mn))
        .select((F.col("mi") - F.col("mn") + 1).alias("t"), "v4")
    )
    mom = tr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("t").cast("long").alias("tmax"),
        F.sum("t").cast("long").alias("st"),
        F.sum("v4").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("v4")).cast("long").alias("sty"),
    )
    n, st, sy, stt, sty = (F.col(x) for x in ("n", "st", "sy", "stt", "sty"))
    b = (n * F.lit(1.0) * sty - st * F.lit(1.0) * sy) / (
        n * F.lit(1.0) * stt - st * F.lit(1.0) * st
    )
    fit = mom.select("n", "tmax", b.alias("b"), (sy * F.lit(1.0) / n - b * (st * F.lit(1.0) / n)).alias("a"))
    ses = (
        tr.crossJoin(F.broadcast(fit))
        .filter(F.col("tmax") - F.col("t") < THETA_SES_DEPTH)
        .select(
            F.round(F.lit(2.0) * F.col("v4") - (F.col("a") + F.col("b") * F.col("t")))
            .cast("long")
            .alias("z4"),
            F.pow(F.lit(2.0), F.lit(THETA_SES_DEPTH - 1) - (F.col("tmax") - F.col("t")))
            .cast("long")
            .alias("w"),
        )
        .agg(
            F.sum(F.col("z4") * F.col("w")).cast("long").alias("szw"),
            F.sum("w").cast("long").alias("sw"),
        )
    )
    fc = (
        mm.filter(
            (F.col("mi") > THETA_CUTOFF_MI) & (F.col("mi") <= THETA_CUTOFF_MI + THETA_H)
        )
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(ses))
        .select(
            (F.col("mi") - THETA_CUTOFF_MI).alias("h"),
            F.col("v4").alias("actual4"),
            (
                F.lit(0.5) * (F.col("a") + F.col("b") * (F.col("tmax") + (F.col("mi") - THETA_CUTOFF_MI)))
                + F.lit(0.5) * (F.col("szw") * F.lit(1.0) / F.col("sw"))
            ).alias("fhat"),
        )
    )
    scored = fc.select(
        "h",
        F.round(F.col("fhat") / 1e4, 4).alias("forecast_musd"),
        F.round(F.col("actual4") / F.lit(1e4), 4).alias("actual_musd"),
        F.abs(F.round("fhat").cast("long") - F.col("actual4")).cast("long").alias("ae4"),
    )
    mae = scored.agg(
        F.round(F.sum("ae4") * F.lit(1.0) / F.count(F.lit(1)) / 1e4, 4).alias("mae_musd")
    )
    return (
        scored.crossJoin(F.broadcast(mae))
        .select(
            "h", "forecast_musd", "actual_musd",
            F.round(F.col("ae4") / F.lit(1e4), 4).alias("abs_err_musd"),
            "mae_musd",
        )
        .orderBy("h")
    )
