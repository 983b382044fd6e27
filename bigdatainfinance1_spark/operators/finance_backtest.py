"""Risk backtesting and performance-attribution operators (round 4): VaR
exceedance backtest (Kupiec POF), Sharpe/Sortino ratios per nation,
drawdown-spell duration, and rolling market beta per region — the
model-validation layer a risk desk runs on top of the measurement queries
(q_var_cvar, q_max_drawdown, q_rolling_corr).

Scale notes: every query reduces the fact scan to a daily (or
nation/region-daily) relation first — O(calendar) or O(calendar x dims)
rows — so the corpus pass is one groupBy and all window state is bounded
by the calendar, never by row count. Day-over-day lags follow the house
year-partition + broadcast-carry shape (repo rule: no unpartitioned
ordered windows over unbounded series); per-key series partition their
windows by the key. Determinism contract: returns are ratios of
2-dp-rounded daily revenue, themselves rounded to 6 dp BEFORE any
aggregate, and every statistic is computed from moment sums with the same
algebra on both engines (the q_rolling_corr recipe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

KUPIEC_P = 0.05  # VaR confidence tail
KUPIEC_SPLIT = "1999-01-01"  # in-sample / out-of-sample split
KUPIEC_CHI2_95 = 3.841459  # chi2(1) 95% critical value


def _daily_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global daily revenue + 6-dp day-over-day simple returns, lag carried
    across year partitions (the q_var_cvar machinery)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
        .withColumn("_yr", F.year("day"))
    )
    w = Window.partitionBy("_yr").orderBy("day")
    carry = (
        daily.groupBy("_yr")
        .agg(F.max_by("rev", "day").alias("_carry_rev"))
        .select((F.col("_yr") + 1).alias("_yr"), "_carry_rev")
    )
    prev = F.coalesce(F.lag("rev").over(w), F.col("_carry_rev"))
    return daily.join(F.broadcast(carry), "_yr", "left").select(
        "day", "rev", F.round(F.col("rev") / prev - 1, 6).alias("r")
    )


_DAILY_RET_SQL = """
    daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    rets AS (
      SELECT day, rev, round(rev / lag(rev) OVER (ORDER BY day) - 1, 6) AS r
      FROM daily
    )
"""


@query(
    "q_kupiec_var_backtest",
    oracle=f"""
    WITH {_DAILY_RET_SQL},
    insample AS (
      SELECT r FROM rets WHERE r IS NOT NULL AND day < TIMESTAMP '{KUPIEC_SPLIT}'
    ),
    v AS (SELECT round(quantile_cont(r, {KUPIEC_P}), 6) AS var05 FROM insample),
    test AS (
      SELECT t.r, v.var05 FROM rets t CROSS JOIN v
      WHERE t.r IS NOT NULL AND t.day >= TIMESTAMP '{KUPIEC_SPLIT}'
    ),
    c AS (
      SELECT min(var05) AS var05,
             count(*) AS n, sum(CASE WHEN r < var05 THEN 1 ELSE 0 END) AS x
      FROM test
    )
    SELECT
      CAST(n AS BIGINT) AS n_test_days,
      CAST(x AS BIGINT) AS n_breaches,
      round(x * 1.0 / n, 6) AS breach_rate,
      var05,
      round(-2 * (
          (n - x) * ln(1 - {KUPIEC_P}) + x * ln({KUPIEC_P})
          - (n - x) * (CASE WHEN x = n THEN 0 ELSE ln(1 - x * 1.0 / n) END)
          - x * (CASE WHEN x = 0 THEN 0 ELSE ln(x * 1.0 / n) END)
      ), 6) AS lr_pof,
      round(-2 * (
          (n - x) * ln(1 - {KUPIEC_P}) + x * ln({KUPIEC_P})
          - (n - x) * (CASE WHEN x = n THEN 0 ELSE ln(1 - x * 1.0 / n) END)
          - x * (CASE WHEN x = 0 THEN 0 ELSE ln(x * 1.0 / n) END)
      ), 6) > {KUPIEC_CHI2_95} AS reject_95
    FROM c
    """,
    tags=("finance", "risk", "backtest"),
)
def kupiec_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR model validation — Kupiec's proportion-of-failures test: fit the
    95% historical VaR on the in-sample window (days before
    {KUPIEC_SPLIT}), count strict exceedances out-of-sample, and report
    the likelihood-ratio statistic
    LR = -2 ln[ (1-p)^(n-x) p^x / ((1-x/n)^(n-x) (x/n)^x) ] with the
    chi2(1) 95% reject flag — the Basel-style green/red-zone check that a
    VaR model's breach frequency matches its confidence level.

    Determinism: returns and the interpolated quantile are rounded to 6 dp
    before the comparison, so the breach predicate compares identical
    doubles in both engines and (n, x) are exact integers; the LR is one
    closed-form expression of those integers, rounded at 6. The x=0 / x=n
    degenerate terms are CASE-guarded identically (x·ln(x/n) -> 0).
    Scale: the corpus scan reduces to O(calendar) daily rows; the quantile
    and the breach count are one aggregate each over that bounded
    relation; the 1-row VaR rides a broadcast cross join."""
    rets = _daily_returns(spark, sf_dir).filter(F.col("r").isNotNull())
    split = F.lit(KUPIEC_SPLIT).cast("timestamp")
    v = (
        rets.filter(F.col("day") < split)
        .agg(F.round(F.expr(f"percentile(r, {KUPIEC_P})"), 6).alias("var05"))
    )
    c = (
        rets.filter(F.col("day") >= split)
        .crossJoin(F.broadcast(v))
        .agg(
            F.min("var05").alias("var05"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("r") < F.col("var05"), 1).otherwise(0)).alias("x"),
        )
    )
    n, x = F.col("n"), F.col("x")
    rate = x * 1.0 / n
    # ln(p)/ln(1-p) evaluated as runtime log on BOTH engines (the bm25/tfidf
    # precedent: JVM log and DuckDB ln agree on these inputs)
    lr = F.round(
        -2.0
        * (
            (n - x) * F.log(F.lit(1 - KUPIEC_P))
            + x * F.log(F.lit(KUPIEC_P))
            - (n - x) * F.when(x == n, F.lit(0.0)).otherwise(F.log(1 - rate))
            - x * F.when(x == 0, F.lit(0.0)).otherwise(F.log(rate))
        ),
        6,
    )
    return c.select(
        n.cast("long").alias("n_test_days"),
        x.cast("long").alias("n_breaches"),
        F.round(rate, 6).alias("breach_rate"),
        "var05",
        lr.alias("lr_pof"),
        (lr > KUPIEC_CHI2_95).alias("reject_95"),
    )


@query(
    "q_sharpe_by_nation",
    oracle="""
    WITH daily AS (
      SELECT n.n_name, date_trunc('day', o.o_orderdate) AS day,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, date_trunc('day', o.o_orderdate)
    ),
    rets AS (
      SELECT n_name,
             round(rev / lag(rev) OVER (PARTITION BY n_name ORDER BY day) - 1, 6) AS r
      FROM daily
    ),
    m AS (
      SELECT n_name,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(round(r * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
             CAST(sum(CAST(round(r * 1e6) AS HUGEINT)
                      * CAST(round(r * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxx,
             CAST(sum(CASE WHEN r < 0 THEN CAST(round(r * 1e6) AS HUGEINT)
                                           * CAST(round(r * 1e6) AS BIGINT)
                      ELSE 0 END) AS DOUBLE) / 1e12 AS sdd
      FROM rets WHERE r IS NOT NULL GROUP BY n_name
    )
    SELECT
      n_name,
      CAST(n AS BIGINT) AS n_days,
      round(sx / n, 6) AS mean_ret,
      round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS std_ret,
      round((sx / n) / sqrt((n * sxx - sx * sx) / (n * (n - 1))) * sqrt(252), 4)
        AS sharpe_annual,
      round((sx / n) / nullif(sqrt(sdd / (n - 1)), 0.0) * sqrt(252), 4)
        AS sortino_annual
    FROM m
    """,
    tags=("finance", "risk", "backtest"),
)
def sharpe_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk-adjusted performance per nation: annualized Sharpe and Sortino
    ratios of the nation's daily-revenue return series (sqrt(252)
    annualization, zero risk-free rate; Sortino's denominator is the
    downside semideviation sqrt(Σ_{{r<0}} r² / (n-1))). Statistics come
    from moment sums with identical algebra on both engines (the
    q_rolling_corr recipe) — never engine-native stddev, whose streaming
    implementations can differ in the last ulp.

    Scale: one fact scan reduces to O(nations x calendar) rows; the lag
    window partitions by nation (bounded state per partition, calendar
    rows each); nation series are contiguous so no cross-year carry is
    needed — the lag's first row per nation is NULL and excluded in both
    engines."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("day")
    rets = daily.select(
        "n_name", F.round(F.col("rev") / F.lag("rev").over(w) - 1, 6).alias("r")
    ).filter(F.col("r").isNotNull())
    # integer-moments rule: r is 6-dp — exact grain sums for the ratios
    r6 = F.round(F.col("r") * 1e6).cast("long")
    m = rets.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum(r6).cast("double") / 1e6).alias("sx"),
        (F.sum(r6.cast("decimal(19,0)") * r6).cast("double") / 1e12).alias("sxx"),
        (
            F.sum(
                F.when(
                    F.col("r") < 0, r6.cast("decimal(19,0)") * r6
                ).otherwise(F.lit(0).cast("decimal(19,0)"))
            ).cast("double")
            / 1e12
        ).alias("sdd"),
    )
    n, sx, sxx, sdd = F.col("n"), F.col("sx"), F.col("sxx"), F.col("sdd")
    std = F.sqrt((n * sxx - sx * sx) / (n * (n - 1)))
    dd = F.sqrt(sdd / (n - 1))
    ann = F.sqrt(F.lit(252.0))
    return m.select(
        "n_name",
        n.cast("long").alias("n_days"),
        F.round(sx / n, 6).alias("mean_ret"),
        F.round(std, 6).alias("std_ret"),
        F.round((sx / n) / std * ann, 4).alias("sharpe_annual"),
        F.round((sx / n) / F.nullif(dd, F.lit(0.0)) * ann, 4).alias("sortino_annual"),
    )


@query(
    "q_drawdown_duration",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    pk AS (
      SELECT day, rev,
             max(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak,
             row_number() OVER (ORDER BY day) AS rn
      FROM daily
    ),
    uw AS (
      SELECT day, rev, peak, rn,
             row_number() OVER (ORDER BY day) AS rn_uw
      FROM pk WHERE rev < peak
    ),
    spells AS (
      SELECT rn - rn_uw AS island,
             min(day) AS start_day, max(day) AS end_day,
             CAST(count(*) AS BIGINT) AS n_days,
             round(max(1 - rev / peak), 6) AS max_depth
      FROM uw GROUP BY rn - rn_uw
    )
    SELECT start_day, end_day, n_days, max_depth,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY n_days DESC, start_day) AS rnk
      FROM spells
    )
    WHERE rnk <= 5
    """,
    tags=("finance", "risk", "timeseries"),
)
def drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Underwater-spell analysis: the 5 longest consecutive runs of days
    where daily revenue sits below its running all-time peak, with each
    spell's bounds and maximum relative depth — q_max_drawdown answers
    "how deep", this answers "how long" (the time-to-recover number a
    drawdown report leads with). Spells are gaps-and-islands: island id =
    global rn - rn-within-underwater, exact integer arithmetic.

    Scale: the running peak is the two-phase recomposition — cummax within
    year partitions plus each year's carry-in peak from a years-sized
    (O(10) rows, broadcast) prefix relation — and both row numbers come
    from functions/ranks.global_row_number (range-bucketed two-phase, no
    single-partition window); depth ratios of 2-dp revenue round at 6."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
        .withColumn("_yr", F.year("day"))
    )
    wy = Window.partitionBy("_yr").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    yearly = daily.groupBy("_yr").agg(F.max("rev").alias("_ymax"))
    prior = (
        yearly.alias("a")
        .join(yearly.alias("b"), F.col("b._yr") < F.col("a._yr"))
        .groupBy(F.col("a._yr").alias("_yr"))
        .agg(F.max("b._ymax").alias("_carry_peak"))
    )
    pk = (
        daily.join(F.broadcast(prior), "_yr", "left")
        .withColumn(
            "peak",
            F.greatest(F.max("rev").over(wy), F.coalesce("_carry_peak", F.lit(float("-inf")))),
        )
        .select("day", "rev", "peak")
    )
    rn = global_row_number(pk, [F.col("day")], rn_col="rn")
    uw = rn.filter(F.col("rev") < F.col("peak"))
    uw2 = global_row_number(uw, [F.col("day")], rn_col="rn_uw")
    spells = (
        uw2.groupBy((F.col("rn") - F.col("rn_uw")).alias("island"))
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.max(1 - F.col("rev") / F.col("peak")), 6).alias("max_depth"),
        )
    )
    ranked = global_row_number(
        spells, [F.col("n_days").desc(), F.col("start_day")], rn_col="rnk"
    )
    return ranked.filter(F.col("rnk") <= 5).select(
        "start_day", "end_day", "n_days", "max_depth", F.col("rnk").cast("long").alias("rnk")
    )


ROLLING_BETA_WIN = 30  # trading-day beta window


@query(
    "q_rolling_beta",
    oracle=f"""
    WITH rdaily AS (
      SELECT r.r_name, date_trunc('day', o.o_orderdate) AS day,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, date_trunc('day', o.o_orderdate)
    ),
    mdaily AS (
      SELECT day,
             round(CAST(sum(CAST(round(rev * 100) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS mrev
      FROM rdaily GROUP BY day
    ),
    rr AS (
      SELECT r_name, day,
             round(rev / lag(rev) OVER (PARTITION BY r_name ORDER BY day) - 1, 6) AS y
      FROM rdaily
    ),
    mr AS (
      SELECT day, round(mrev / lag(mrev) OVER (ORDER BY day) - 1, 6) AS x
      FROM mdaily
    ),
    j AS (
      SELECT rr.r_name, rr.day, rr.y, mr.x
      FROM rr JOIN mr ON rr.day = mr.day
      WHERE rr.y IS NOT NULL AND mr.x IS NOT NULL
    ),
    win AS (
      SELECT r_name, day,
        CAST(count(*) OVER w AS DOUBLE) AS n,
        CAST(sum(CAST(round(x * 1e6) AS BIGINT)) OVER w AS DOUBLE) / 1e6 AS sx,
        CAST(sum(CAST(round(y * 1e6) AS BIGINT)) OVER w AS DOUBLE) / 1e6 AS sy,
        CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                 * CAST(round(x * 1e6) AS BIGINT)) OVER w AS DOUBLE) / 1e12 AS sxx,
        CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                 * CAST(round(y * 1e6) AS BIGINT)) OVER w AS DOUBLE) / 1e12 AS sxy
      FROM j
      WINDOW w AS (PARTITION BY r_name ORDER BY day
                   ROWS BETWEEN {ROLLING_BETA_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT r_name, day,
      round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0), 4) AS beta_30d
    FROM win WHERE n = {ROLLING_BETA_WIN}
    """,
    tags=("finance", "risk", "window"),
)
def rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {ROLLING_BETA_WIN}-day market beta per region: regress each
    region's daily revenue return on the total-market return over a
    trailing row frame, beta = (nΣxy - ΣxΣy)/(nΣxx - Σx²) from windowed
    moment sums (the q_rolling_corr algebra), emitted only for full
    frames. The 'market' is the sum of the regional series — the classic
    index-vs-constituent attribution shape.

    Scale: fact scan reduces to O(regions x calendar); beta windows
    partition by region (bounded calendar-length state each); the market
    series joins back by day — a calendar-sized equi-join. At 100 TB only
    the first groupBy touches the corpus."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rdaily = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
    )
    mdaily = rdaily.groupBy("day").agg(
        F.round(
            F.sum(F.round(F.col("rev") * 100).cast("long")).cast("double") / 100, 2
        ).alias("mrev")
    )
    wr = Window.partitionBy("r_name").orderBy("day")
    rr = rdaily.select(
        "r_name", "day", F.round(F.col("rev") / F.lag("rev").over(wr) - 1, 6).alias("y")
    )
    # market series: single bounded calendar relation; lag via the
    # year-partition + carry shape (no unpartitioned window)
    md = mdaily.withColumn("_yr", F.year("day"))
    wm = Window.partitionBy("_yr").orderBy("day")
    mcarry = (
        md.groupBy("_yr")
        .agg(F.max_by("mrev", "day").alias("_carry"))
        .select((F.col("_yr") + 1).alias("_yr"), "_carry")
    )
    mprev = F.coalesce(F.lag("mrev").over(wm), F.col("_carry"))
    mr = md.join(F.broadcast(mcarry), "_yr", "left").select(
        "day", F.round(F.col("mrev") / mprev - 1, 6).alias("x")
    )
    j = (
        rr.join(mr, "day")
        .filter(F.col("y").isNotNull() & F.col("x").isNotNull())
    )
    wb = Window.partitionBy("r_name").orderBy("day").rowsBetween(1 - ROLLING_BETA_WIN, 0)
    # integer-moments rule: x, y are 6-dp — the frame moments sum exact
    # integer grains (exact under any frame-evaluation order)
    x6 = F.round(F.col("x") * 1e6).cast("long")
    y6 = F.round(F.col("y") * 1e6).cast("long")
    n = F.count(F.lit(1)).over(wb).cast("double")
    sx = F.sum(x6).over(wb).cast("double") / 1e6
    sy = F.sum(y6).over(wb).cast("double") / 1e6
    sxx = F.sum(x6.cast("decimal(19,0)") * x6).over(wb).cast("double") / 1e12
    sxy = F.sum(x6.cast("decimal(19,0)") * y6).over(wb).cast("double") / 1e12
    return (
        j.select(
            "r_name",
            "day",
            n.alias("_n"),
            F.round((n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0)), 4).alias(
                "beta_30d"
            ),
        )
        .filter(F.col("_n") == ROLLING_BETA_WIN)
        .select("r_name", "day", "beta_30d")
    )


AMORT_PERIODS = 12  # equal-principal schedule length
AMORT_RATE_DIV = 200  # monthly rate 0.5% = balance / 200, exact in integers

# Every quantity is integer-valued cents: the per-nation principal is a
# floor-average of exact cents, monthly interest is half-up division of the
# balance by 200, the equal-principal installment is floor(P / 12) with the
# remainder absorbed by the final period. The only division is of integers
# far below 2**53 (a decimal quotient on Spark, a correctly rounded double
# on DuckDB), so floor() is engine-exact and the two engines agree EXACTLY
# at every scale factor — the strongest form of the repo's
# exact-integer-cents money rule. Both SQL texts below share this `loans`
# CTE text, so the loan sizing cannot drift between them.
_AMORT_LOANS = """loans AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(floor(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  * 1.0 / count(*)) AS BIGINT) AS principal_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    )"""

# Oracle: the schedule as the textbook recursion, one period per step.
_AMORT_SQL = f"""
    WITH RECURSIVE {_AMORT_LOANS},
    sched(nationkey, period, interest_cents, principal_cents, balance_cents) AS (
      SELECT nationkey, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             principal_cents
      FROM loans
      UNION ALL
      SELECT s.nationkey,
             s.period + 1,
             CAST(floor((s.balance_cents + {AMORT_RATE_DIV // 2}) * 1.0
                        / {AMORT_RATE_DIV}) AS BIGINT),
             CASE WHEN s.period + 1 = {AMORT_PERIODS} THEN s.balance_cents
                  ELSE CAST(floor(l.principal_cents * 1.0 / {AMORT_PERIODS}) AS BIGINT) END,
             CASE WHEN s.period + 1 = {AMORT_PERIODS} THEN CAST(0 AS BIGINT)
                  ELSE s.balance_cents
                       - CAST(floor(l.principal_cents * 1.0 / {AMORT_PERIODS}) AS BIGINT) END
      FROM sched s JOIN loans l ON l.nationkey = s.nationkey
      WHERE s.period < {AMORT_PERIODS}
    )
    SELECT CAST(nationkey AS BIGINT) AS nationkey,
           period,
           interest_cents,
           principal_cents AS principal_paid_cents,
           balance_cents
    FROM sched WHERE period > 0
"""

# Spark: the same schedule in closed form. With inst = floor(P / 12), the
# balance before period t is P - (t-1)*inst for every t <= 12, so each row
# is a function of (P, t) alone — one projection over explode(sequence()).
# The recursion's step join never matches a NULL nationkey, so the oracle
# emits no rows for one; the filter keeps that.
_AMORT_CLOSED_SQL = f"""
    WITH {_AMORT_LOANS},
    sched AS (
      SELECT nationkey,
             principal_cents AS p,
             CAST(floor(principal_cents * 1.0 / {AMORT_PERIODS}) AS BIGINT) AS inst,
             explode(sequence(CAST(1 AS BIGINT), CAST({AMORT_PERIODS} AS BIGINT))) AS period
      FROM loans WHERE nationkey IS NOT NULL
    )
    SELECT CAST(nationkey AS BIGINT) AS nationkey,
           period,
           CAST(floor((p - (period - 1) * inst + {AMORT_RATE_DIV // 2}) * 1.0
                      / {AMORT_RATE_DIV}) AS BIGINT) AS interest_cents,
           CASE WHEN period = {AMORT_PERIODS} THEN p - {AMORT_PERIODS - 1} * inst
                ELSE inst END AS principal_paid_cents,
           CASE WHEN period = {AMORT_PERIODS} THEN CAST(0 AS BIGINT)
                ELSE p - period * inst END AS balance_cents
    FROM sched
"""


# Not sql_query: Spark runs the closed form, the oracle the recursive CTE.
@query("q_amortization_schedule", oracle=_AMORT_SQL, tags=("finance",))
def amortization_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation {AMORT_PERIODS}-period equal-principal amortization
    schedule over a loan sized at the nation's floor-average order value.
    Every number is integer cents: interest is half-up integer division of
    the outstanding balance by {AMORT_RATE_DIV} (0.5%/month), the
    installment is principal // {AMORT_PERIODS} with the final period
    absorbing the remainder, so the engines agree EXACTLY by construction.
    The oracle runs the schedule as a recursive CTE; Spark runs its closed
    form (_AMORT_CLOSED_SQL), and the exact oracle compare proves the two
    equal. Scale: the corpus pass is the one orders/customer aggregation;
    the schedule is a per-nation projection of {AMORT_PERIODS} rows, with
    no per-period job."""
    from bigdatainfinance1_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_AMORT_CLOSED_SQL)


# ---------------------------------------------------------------------------
# q_deflated_sharpe — Sharpe ratio deflated for non-normality and trials
# ---------------------------------------------------------------------------

DSR_EULER = 0.5772156649015329  # Euler-Mascheroni, for the E[max] approximation


def _dsr_norm_cdf(x: str) -> str:
    from bigdatainfinance1_spark.operators.quant_pricing import _norm_cdf_sql

    return _norm_cdf_sql(x)


def _dsr_oracle() -> str:
    cdf_arg = (
        "((sharpe - sr_benchmark) * sqrt(n - 1.0)"
        " / sqrt(1.0 - skew * sharpe + (kurt - 1.0) / 4.0 * sharpe * sharpe))"
    )
    return f"""
    WITH {_DAILY_RET_SQL},
    mo AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(r * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS s1,
             CAST(sum(CAST(round(r * 1e6) AS HUGEINT)
                      * CAST(round(r * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS s2,
             CAST(sum(CAST(round(r * 1e6) AS HUGEINT)
                      * CAST(round(r * 1e6) AS BIGINT)
                      * CAST(round(r * 1e6) AS BIGINT)) AS DOUBLE) / 1e18 AS s3,
             CAST(sum(CAST(round(r * 1e6) AS HUGEINT)
                      * CAST(round(r * 1e6) AS BIGINT)
                      * CAST(round(r * 1e6) AS BIGINT)
                      * CAST(round(r * 1e6) AS BIGINT)) AS DOUBLE) / 1e24 AS s4
      FROM rets WHERE r IS NOT NULL
    ),
    st AS (
      SELECT n,
             s1 / n AS mu,
             sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd,
             (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
               / pow(sqrt(s2 / n - (s1 / n) * (s1 / n)), 3) AS skew,
             (s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * pow(s1 / n, 4))
               / pow(s2 / n - (s1 / n) * (s1 / n), 2) AS kurt
      FROM mo
    ),
    sr AS (
      SELECT n, skew, kurt, mu / sd AS sharpe,
             sqrt(1.0 / n) * ((1.0 - {DSR_EULER}) * 1.2815515655446004
                              + {DSR_EULER} * 1.7506860712521692) AS sr_benchmark
      FROM st
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(sharpe, 6) AS sharpe_daily,
           round(skew, 6) AS skewness,
           round(kurt, 6) AS kurtosis,
           round(sr_benchmark, 6) AS expected_max_sr_null,
           round({_dsr_norm_cdf(cdf_arg)}, 6) AS deflated_sharpe_prob
    FROM sr
    """


@query(
    "q_deflated_sharpe",
    oracle=_dsr_oracle(),
    tags=("finance", "risk", "backtest"),
)
def deflated_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflated Sharpe ratio (Bailey & Lopez de Prado): the probability
    that the observed daily Sharpe is genuine skill rather than (a)
    non-normal returns — the PSR denominator corrects the Sharpe's
    standard error for skewness and kurtosis — and (b) selection from
    {T} tried strategy variants — the benchmark is the expected maximum
    Sharpe of {T} zero-skill trials (Gumbel approximation with the
    standard-normal quantiles z_(1-1/T), z_(1-1/(Te)) baked in as exact
    literals). DSR < ~0.95 says the backtest's Sharpe doesn't clear its
    own selection bar — the overfitting gate q_sharpe_by_nation and
    q_kupiec_var_backtest leave open.

    Scale: ONE moment aggregate (n, sum r^1..r^4) over the O(calendar)
    daily-return relation; everything else is a closed form of those five
    sums, pushed through the shared A&S normal CDF and rounded at 6."""
    rets = _daily_returns(spark, sf_dir).filter(F.col("r").isNotNull())
    # integer-moments rule: r is 6-dp — the four power sums run in exact
    # integer grains (decimal(38,0) keeps r6^4 sums under the cap)
    r6 = F.round(F.col("r") * 1e6).cast("long")
    r6d = r6.cast("decimal(19,0)")
    mo = rets.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(r6).cast("double") / 1e6).alias("s1"),
        (F.sum(r6d * r6).cast("double") / 1e12).alias("s2"),
        (F.sum(r6d * r6 * r6).cast("double") / 1e18).alias("s3"),
        (F.sum(r6d * r6 * r6 * r6).cast("double") / 1e24).alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    var = F.col("s2") / n - mu * mu
    sd = F.sqrt(var)
    skew = (F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * F.pow(mu, F.lit(3))) / F.pow(sd, F.lit(3))
    kurt = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * F.pow(mu, F.lit(4))
    ) / F.pow(var, F.lit(2))
    st = mo.select(
        F.col("n"),
        (mu / sd).alias("sharpe"),
        skew.alias("skew"),
        kurt.alias("kurt"),
        (
            F.sqrt(1.0 / n)
            * (
                (1.0 - DSR_EULER) * 1.2815515655446004
                + DSR_EULER * 1.7506860712521692
            )
        ).alias("sr_benchmark"),
    )
    from bigdatainfinance1_spark.operators.stats_advanced import _norm_cdf_col

    z = (
        (F.col("sharpe") - F.col("sr_benchmark"))
        * F.sqrt(F.col("n").cast("double") - 1.0)
        / F.sqrt(
            1.0
            - F.col("skew") * F.col("sharpe")
            + (F.col("kurt") - 1.0) / 4.0 * F.col("sharpe") * F.col("sharpe")
        )
    )
    return st.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("sharpe"), 6).alias("sharpe_daily"),
        F.round(F.col("skew"), 6).alias("skewness"),
        F.round(F.col("kurt"), 6).alias("kurtosis"),
        F.round(F.col("sr_benchmark"), 6).alias("expected_max_sr_null"),
        F.round(_norm_cdf_col(z), 6).alias("deflated_sharpe_prob"),
    )


# ---------------------------------------------------------------------------
# q_qini_curve — uplift-model evaluation by cumulative incremental gains
# ---------------------------------------------------------------------------

QINI_DISC = 0.06  # an order is "treated" if any line carries >= 6% discount
QINI_BUCKET = 1000.0  # acctbal score bucket width
QINI_MAX_BUCKET = 10


@query(
    "q_qini_curve",
    oracle=f"""
    WITH treated AS (
      SELECT DISTINCT l_orderkey FROM lineitem WHERE l_discount >= {QINI_DISC}
    ),
    obs AS (
      SELECT least(greatest(floor(c.c_acctbal / {QINI_BUCKET}), 0),
                   {QINI_MAX_BUCKET}) AS bkt,
             CASE WHEN t.l_orderkey IS NOT NULL THEN 1 ELSE 0 END AS treat,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN treated t ON t.l_orderkey = o.o_orderkey
    ),
    b AS (
      SELECT bkt,
             CAST(sum(treat) AS BIGINT) AS nt,
             CAST(sum(1 - treat) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN treat = 1 THEN y_cents ELSE 0 END) AS BIGINT) AS yt,
             CAST(sum(CASE WHEN treat = 0 THEN y_cents ELSE 0 END) AS BIGINT) AS yc
      FROM obs GROUP BY bkt
    ),
    cum AS (
      SELECT a.bkt,
             sum(b.nt) AS cnt, sum(b.nc) AS cnc,
             sum(b.yt) AS cyt, sum(b.yc) AS cyc
      FROM b a JOIN b ON b.bkt >= a.bkt
      GROUP BY a.bkt
    )
    SELECT CAST(bkt AS BIGINT) AS score_bucket,
           CAST(cnt AS BIGINT) AS cum_treated,
           CAST(cnc AS BIGINT) AS cum_control,
           round(cyt / 100.0, 2) AS cum_y_treated,
           round(cyc / 100.0, 2) AS cum_y_control,
           round((cyt - cyc * 1.0 * cnt / nullif(cnc, 0)) / 100.0, 2) AS qini
    FROM cum ORDER BY score_bucket DESC
    """,
    tags=("ml", "eval", "experimentation", "analytics"),
)
def qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift evaluation: orders ranked by the customer
    account-balance score (descending buckets), treatment = any line
    discounted ≥ 6%, and at each cutoff the cumulative incremental gain
    Qini(k) = Yₜ(k) − Y_c(k)·Nₜ(k)/N_c(k) — THE metric for promotion
    targeting models, because accuracy-style metrics (q_roc_curve) are
    blind to the counterfactual: a model can rank responders perfectly
    and still target people who'd have bought anyway. All counts and
    revenue stay exact integers (cents) until the final scaling.

    Scale: one semi-annotating LEFT join on orderkey (equi-shuffle),
    one bucket aggregate (map-side combinable), an 11-row triangular
    cumulative join. Corpus cost = the one fact join; everything after
    is O(buckets)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    treated = li.filter(F.col("l_discount") >= QINI_DISC).select("l_orderkey").distinct()
    obs = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_acctbal")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            treated.withColumn("is_t", F.lit(1)),
            orders.o_orderkey == treated.l_orderkey,
            "left",
        )
        .select(
            F.least(
                F.greatest(F.floor(F.col("c_acctbal") / QINI_BUCKET), F.lit(0)),
                F.lit(QINI_MAX_BUCKET),
            ).alias("bkt"),
            F.coalesce(F.col("is_t"), F.lit(0)).alias("treat"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("y_cents"),
        )
    )
    b = obs.groupBy("bkt").agg(
        F.sum("treat").cast("long").alias("nt"),
        F.sum(1 - F.col("treat")).cast("long").alias("nc"),
        F.sum(F.when(F.col("treat") == 1, F.col("y_cents")).otherwise(0))
        .cast("long")
        .alias("yt"),
        F.sum(F.when(F.col("treat") == 0, F.col("y_cents")).otherwise(0))
        .cast("long")
        .alias("yc"),
    )
    hi = b.select(
        F.col("bkt").alias("hb"),
        F.col("nt").alias("hnt"),
        F.col("nc").alias("hnc"),
        F.col("yt").alias("hyt"),
        F.col("yc").alias("hyc"),
    )
    cum = (
        b.select("bkt")
        .join(F.broadcast(hi), F.col("hb") >= F.col("bkt"))
        .groupBy("bkt")
        .agg(
            F.sum("hnt").alias("cnt"),
            F.sum("hnc").alias("cnc"),
            F.sum("hyt").alias("cyt"),
            F.sum("hyc").alias("cyc"),
        )
    )
    return cum.select(
        F.col("bkt").cast("long").alias("score_bucket"),
        F.col("cnt").cast("long").alias("cum_treated"),
        F.col("cnc").cast("long").alias("cum_control"),
        F.round(F.col("cyt") / 100.0, 2).alias("cum_y_treated"),
        F.round(F.col("cyc") / 100.0, 2).alias("cum_y_control"),
        F.round(
            (
                F.col("cyt")
                - F.col("cyc") * 1.0 * F.col("cnt") / F.nullif(F.col("cnc"), F.lit(0))
            )
            / 100.0,
            2,
        ).alias("qini"),
    ).orderBy(F.col("score_bucket").desc())


# ---------------------------------------------------------------------------
# q_pinball_loss — quantile-forecast evaluation (the M5 metric)
# ---------------------------------------------------------------------------

PINBALL_TEST_MONTHS = 12


@query(
    "q_pinball_loss",
    oracle=f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS z
      FROM orders GROUP BY mi
    ),
    anchor AS (SELECT max(mi) - {PINBALL_TEST_MONTHS} AS cut FROM m),
    hist AS (SELECT m.mi, m.mi % 12 AS moy, m.z FROM m CROSS JOIN anchor
             WHERE m.mi <= anchor.cut),
    test AS (SELECT m.mi, m.mi % 12 AS moy, m.z FROM m CROSS JOIN anchor
             WHERE m.mi > anchor.cut),
    ranked AS (
      SELECT moy, z,
             row_number() OVER (PARTITION BY moy ORDER BY z, mi) AS rn,
             count(*) OVER (PARTITION BY moy) AS n
      FROM hist
    ),
    taus AS (SELECT unnest([0.1, 0.5, 0.9]) AS tau),
    qf AS (
      SELECT ranked.moy, taus.tau,
             min(CASE WHEN ranked.rn = CAST(ceil(taus.tau * ranked.n) AS BIGINT)
                      THEN ranked.z END) AS q
      FROM ranked CROSS JOIN taus
      GROUP BY ranked.moy, taus.tau
    ),
    loss AS (
      SELECT qf.tau,
             CAST(sum(CAST(round((CASE WHEN test.z >= qf.q
                                       THEN qf.tau * (test.z - qf.q)
                                       ELSE (1.0 - qf.tau) * (qf.q - test.z) END)
                                 * 1e12) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e12 AS pinball,
             avg(CASE WHEN test.z <= qf.q THEN 1.0 ELSE 0.0 END) AS coverage,
             count(*) AS n_test
      FROM test JOIN qf ON qf.moy = test.moy
      GROUP BY qf.tau
    )
    SELECT round(tau, 1) AS tau,
           CAST(n_test AS BIGINT) AS n_test,
           round(pinball, 6) AS pinball,
           round(coverage, 6) AS coverage
    FROM loss ORDER BY tau
    """,
    tags=("timeseries", "ml", "eval", "finance"),
)
def pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of a seasonal-quantile forecaster: hold
    out the last 12 months, forecast each month's revenue quantiles
    (τ = 0.1/0.5/0.9) as the DISCRETE same-month-of-year historical
    quantile (rank ⌈τ·n⌉ — the q_percentile_disc formulation), and score
    with Lτ = τ(y−q)⁺ + (1−τ)(q−y)⁺ plus empirical coverage — the M5
    forecasting-competition metric that q_forecast_backtest's point
    metrics (MAPE-family) cannot express: it prices UNDER- vs
    OVER-prediction asymmetrically per quantile.

    Scale: monthly aggregate, month-of-year-partitioned rank windows
    over ≤7-row partitions, a 3-row τ grid, one evaluation join —
    calendar-bounded. Quantiles are exact element picks of 6-dp values;
    losses are closed forms, rounded at 6."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000.0, 6).alias("z"))
    anchor = m.agg((F.max("mi") - PINBALL_TEST_MONTHS).alias("cut"))
    mm = m.crossJoin(F.broadcast(anchor))
    hist = mm.filter(F.col("mi") <= F.col("cut")).select(
        "mi", (F.col("mi") % 12).alias("moy"), "z"
    )
    test = mm.filter(F.col("mi") > F.col("cut")).select(
        "mi", (F.col("mi") % 12).alias("moy"), "z"
    )
    w = Window.partitionBy("moy").orderBy("z", "mi")
    wn = Window.partitionBy("moy")
    ranked = hist.select(
        "moy",
        "z",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    taus = spark.createDataFrame([(0.1,), (0.5,), (0.9,)], ["tau"])
    qf = (
        ranked.crossJoin(F.broadcast(taus))
        .groupBy("moy", "tau")
        .agg(
            F.min(
                F.when(
                    F.col("rn") == F.ceil(F.col("tau") * F.col("n")).cast("long"),
                    F.col("z"),
                )
            ).alias("q")
        )
    )
    loss = (
        test.join(F.broadcast(qf), "moy")
        .groupBy("tau")
        .agg(
            # integer-moments rule: the per-month loss terms snap at 1e-12
            (
                F.sum(
                    F.round(
                        F.when(
                            F.col("z") >= F.col("q"),
                            F.col("tau") * (F.col("z") - F.col("q")),
                        ).otherwise((1.0 - F.col("tau")) * (F.col("q") - F.col("z")))
                        * 1e12
                    ).cast("long")
                ).cast("double")
                / F.count(F.lit(1))
                / 1e12
            ).alias("pinball"),
            F.avg(F.when(F.col("z") <= F.col("q"), 1.0).otherwise(0.0)).alias(
                "coverage"
            ),
            F.count(F.lit(1)).alias("n_test"),
        )
    )
    return loss.select(
        F.round(F.col("tau"), 1).alias("tau"),
        F.col("n_test").cast("long").alias("n_test"),
        F.round(F.col("pinball"), 6).alias("pinball"),
        F.round(F.col("coverage"), 6).alias("coverage"),
    ).orderBy("tau")


# ---------------------------------------------------------------------------
# q_forecast_skill_dm — Theil's U and the Diebold-Mariano comparison
# ---------------------------------------------------------------------------

DM_TEST_MONTHS = 12
DM_Z95 = 1.959964


@query(
    "q_forecast_skill_dm",
    oracle=f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS z
      FROM orders GROUP BY mi
    ),
    anchor AS (SELECT max(mi) - {DM_TEST_MONTHS} AS cut FROM m),
    hist AS (SELECT m.mi, m.mi % 12 AS moy, m.z FROM m CROSS JOIN anchor
             WHERE m.mi <= anchor.cut),
    test AS (SELECT m.mi, m.mi % 12 AS moy, m.z AS y FROM m CROSS JOIN anchor
             WHERE m.mi > anchor.cut),
    ranked AS (
      SELECT moy, z, row_number() OVER (PARTITION BY moy ORDER BY z, mi) AS rn,
             count(*) OVER (PARTITION BY moy) AS n
      FROM hist
    ),
    seasonal AS (
      SELECT moy,
             min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN z END) AS f
      FROM ranked GROUP BY moy
    ),
    lastv AS (
      SELECT z AS f_naive FROM hist CROSS JOIN anchor WHERE hist.mi = anchor.cut
    ),
    losses AS (
      SELECT test.mi,
             (test.y - seasonal.f) * (test.y - seasonal.f) AS l_model,
             (test.y - lastv.f_naive) * (test.y - lastv.f_naive) AS l_naive
      FROM test
      JOIN seasonal ON seasonal.moy = test.moy
      CROSS JOIN lastv
    ),
    dstat AS (
      SELECT count(*) AS n,
             sqrt(CAST(sum(CAST(round(l_model * 1e12) AS HUGEINT)) AS DOUBLE)
                  / 1e12 / count(*)) AS rmse_model,
             sqrt(CAST(sum(CAST(round(l_naive * 1e12) AS HUGEINT)) AS DOUBLE)
                  / 1e12 / count(*)) AS rmse_naive,
             CAST(sum(CAST(round((l_model - l_naive) * 1e12) AS HUGEINT)) AS DOUBLE)
               / 1e12 / count(*) AS dbar,
             sqrt((CAST(sum(CAST(round((l_model - l_naive) * (l_model - l_naive)
                                       * 1e6) AS HUGEINT)) AS DOUBLE) / 1e6
                   - count(*)
                     * (CAST(sum(CAST(round((l_model - l_naive) * 1e12) AS HUGEINT))
                             AS DOUBLE) / 1e12 / count(*))
                     * (CAST(sum(CAST(round((l_model - l_naive) * 1e12) AS HUGEINT))
                             AS DOUBLE) / 1e12 / count(*)))
                  / nullif(count(*) - 1, 0)) AS sd
      FROM losses
    )
    SELECT CAST(n AS BIGINT) AS n_test,
           round(rmse_model, 6) AS rmse_model,
           round(rmse_naive, 6) AS rmse_naive,
           round(rmse_model / rmse_naive, 6) AS theils_u2,
           round(dbar / nullif(sd / sqrt(n), 0.0), 6) AS dm_t,
           CASE WHEN dbar / nullif(sd / sqrt(n), 0.0) < -{DM_Z95}
                THEN 'model_better'
                WHEN dbar / nullif(sd / sqrt(n), 0.0) > {DM_Z95}
                THEN 'naive_better'
                ELSE 'indistinguishable' END AS verdict
    FROM dstat
    """,
    tags=("timeseries", "ml", "eval", "finance"),
)
def forecast_skill_dm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast skill on the 12-month holdout: Theil's U₂ = RMSE(seasonal
    -median model)/RMSE(naive last-value) — below 1 means the model earns
    its keep — plus the Diebold-Mariano test on the squared-loss
    differentials (mean/SE of per-month loss gaps), the standard answer
    to "is this forecaster SIGNIFICANTLY better or just luckier on this
    sample?". Completes the forecast-eval stack: q_pinball_loss prices
    quantiles, q_mincer_zarnowitz tests bias, this compares models.

    Scale: the pinball machinery + one broadcast naive scalar + a
    12-row loss pass with closed forms — calendar-bounded, rounded at
    6 (series in millions so squared losses stay O(1))."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000000.0, 6).alias("z"))
    anchor = m.agg((F.max("mi") - DM_TEST_MONTHS).alias("cut"))
    mm_ = m.crossJoin(F.broadcast(anchor))
    hist = mm_.filter(F.col("mi") <= F.col("cut")).select(
        "mi", (F.col("mi") % 12).alias("moy"), "z"
    )
    test = mm_.filter(F.col("mi") > F.col("cut")).select(
        "mi", (F.col("mi") % 12).alias("moy"), F.col("z").alias("y")
    )
    w = Window.partitionBy("moy").orderBy("z", "mi")
    wn = Window.partitionBy("moy")
    ranked = hist.select(
        "moy",
        "z",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    seasonal = ranked.groupBy("moy").agg(
        F.min(
            F.when(F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"), F.col("z"))
        ).alias("f")
    )
    lastv = (
        hist.join(F.broadcast(anchor), hist.mi == F.col("cut"))
        .select(F.col("z").alias("f_naive"))
    )
    losses = (
        test.join(F.broadcast(seasonal), "moy")
        .crossJoin(F.broadcast(lastv))
        .select(
            ((F.col("y") - F.col("f")) * (F.col("y") - F.col("f"))).alias("l_model"),
            (
                (F.col("y") - F.col("f_naive")) * (F.col("y") - F.col("f_naive"))
            ).alias("l_naive"),
        )
    )
    d = F.col("l_model") - F.col("l_naive")
    # integer-moments rule: losses are exact 1e-12 multiples of 6-dp
    # diffs — snap the reductions (d^2 at a 1e-6 grain, far under the
    # 6-dp emission)
    dbar_d = (
        F.sum(F.round(d * 1e12).cast("decimal(38,0)")).cast("double")
        / 1e12
        / F.count(F.lit(1))
    )
    dstat = losses.agg(
        F.count(F.lit(1)).alias("n"),
        F.sqrt(
            F.sum(F.round(F.col("l_model") * 1e12).cast("decimal(38,0)")).cast(
                "double"
            )
            / 1e12
            / F.count(F.lit(1))
        ).alias("rmse_model"),
        F.sqrt(
            F.sum(F.round(F.col("l_naive") * 1e12).cast("decimal(38,0)")).cast(
                "double"
            )
            / 1e12
            / F.count(F.lit(1))
        ).alias("rmse_naive"),
        dbar_d.alias("dbar"),
        F.sqrt(
            (
                F.sum(F.round(d * d * 1e6).cast("decimal(38,0)")).cast("double")
                / 1e6
                - F.count(F.lit(1)) * dbar_d * dbar_d
            )
            / F.nullif(F.count(F.lit(1)) - 1, F.lit(0))
        ).alias("sd"),
    )
    t = F.col("dbar") / F.nullif(
        F.col("sd") / F.sqrt(F.col("n").cast("double")), F.lit(0.0)
    )
    return dstat.select(
        F.col("n").cast("long").alias("n_test"),
        F.round(F.col("rmse_model"), 6).alias("rmse_model"),
        F.round(F.col("rmse_naive"), 6).alias("rmse_naive"),
        F.round(F.col("rmse_model") / F.col("rmse_naive"), 6).alias("theils_u2"),
        F.round(t, 6).alias("dm_t"),
        F.when(t < -DM_Z95, F.lit("model_better"))
        .when(t > DM_Z95, F.lit("naive_better"))
        .otherwise(F.lit("indistinguishable"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_christoffersen_test — VaR breach independence + conditional coverage
# ---------------------------------------------------------------------------

CHI2_2_95 = 5.991465  # chi2(2) 95% critical value (conditional coverage)


@query(
    "q_christoffersen_test",
    oracle=f"""
    WITH {_DAILY_RET_SQL},
    insample AS (
      SELECT r FROM rets WHERE r IS NOT NULL AND day < TIMESTAMP '{KUPIEC_SPLIT}'
    ),
    v AS (SELECT round(quantile_cont(r, {KUPIEC_P}), 6) AS var05 FROM insample),
    test AS (
      SELECT t.day, CASE WHEN t.r < v.var05 THEN 1 ELSE 0 END AS br
      FROM rets t CROSS JOIN v
      WHERE t.r IS NOT NULL AND t.day >= TIMESTAMP '{KUPIEC_SPLIT}'
    ),
    tr AS (
      SELECT p.br AS i, t.br AS j
      FROM test t JOIN test p ON p.day + INTERVAL 1 DAY = t.day
    ),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum((1 - i) * (1 - j)) AS BIGINT) AS n00,
             CAST(sum((1 - i) * j) AS BIGINT)       AS n01,
             CAST(sum(i * (1 - j)) AS BIGINT)       AS n10,
             CAST(sum(i * j) AS BIGINT)             AS n11
      FROM tr
    ),
    p AS (
      SELECT n, n00, n01, n10, n11,
             (n01 + n11) * 1.0 / n AS pi,
             CASE WHEN n00 + n01 = 0 THEN 0.0 ELSE n01 * 1.0 / (n00 + n01) END AS pi01,
             CASE WHEN n10 + n11 = 0 THEN 0.0 ELSE n11 * 1.0 / (n10 + n11) END AS pi11
      FROM c
    ),
    ll AS (
      SELECT n, n00, n01, n10, n11, pi, pi01, pi11,
             (CASE WHEN n00 + n10 = 0 OR pi = 1.0 THEN 0.0
                   ELSE (n00 + n10) * ln(1 - pi) END)
             + (CASE WHEN n01 + n11 = 0 THEN 0.0
                     ELSE (n01 + n11) * ln(pi) END) AS ll_null,
             (CASE WHEN n00 = 0 THEN 0.0 ELSE n00 * ln(1 - pi01) END)
             + (CASE WHEN n01 = 0 THEN 0.0 ELSE n01 * ln(pi01) END)
             + (CASE WHEN n10 = 0 THEN 0.0 ELSE n10 * ln(1 - pi11) END)
             + (CASE WHEN n11 = 0 THEN 0.0 ELSE n11 * ln(pi11) END) AS ll_markov,
             (n - n01 - n11) * ln(1 - {KUPIEC_P}) + (n01 + n11) * ln({KUPIEC_P})
             - (CASE WHEN n01 + n11 = n THEN 0.0
                     ELSE (n - n01 - n11) * ln(1 - (n01 + n11) * 1.0 / n) END)
             - (CASE WHEN n01 + n11 = 0 THEN 0.0
                     ELSE (n01 + n11) * ln((n01 + n11) * 1.0 / n) END) AS ll_pof
      FROM p
    )
    SELECT n AS n_pairs, n00, n01, n10, n11,
           round(pi01, 6) AS pi01,
           round(pi11, 6) AS pi11,
           round(-2 * (ll_null - ll_markov), 6) AS lr_ind,
           round(-2 * (ll_null - ll_markov), 6) > {KUPIEC_CHI2_95} AS reject_ind_95,
           round(-2 * ll_pof - 2 * (ll_null - ll_markov), 6) AS lr_cc,
           round(-2 * ll_pof - 2 * (ll_null - ll_markov), 6) > {CHI2_2_95} AS reject_cc_95
    FROM ll
    """,
    tags=("finance", "risk", "backtest"),
)
def christoffersen_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Christoffersen's VaR backtest: breach-clustering (independence) and
    conditional-coverage LR tests on the out-of-sample 95%-VaR exceedance
    indicator series. Transitions are counted over strictly consecutive
    calendar days (a gap breaks the chain — the standard treatment);
    LR_ind compares the first-order Markov likelihood (pi01, pi11) against
    the i.i.d. null (one pooled pi) with chi2(1); LR_cc = LR_pof + LR_ind
    with chi2(2) answers "right breach COUNT and no clustering" in one
    statistic — the half of VaR validation q_kupiec_var_backtest cannot
    see (a model can breach exactly 5% of days yet breach five days in a
    row).

    Determinism: the breach indicator compares 6-dp-rounded returns to the
    6-dp-rounded in-sample quantile, so (n00, n01, n10, n11) are exact
    integers on both engines; every likelihood term is a closed-form
    expression of those integers with identical zero-count CASE guards,
    rounded at 6 dp. Scale: the corpus scan reduces to O(calendar) daily
    rows; the transition pairing is a self equi-join on day+1 over that
    bounded relation; all state past the scan is calendar-bounded."""
    rets = _daily_returns(spark, sf_dir).filter(F.col("r").isNotNull())
    split = F.lit(KUPIEC_SPLIT).cast("timestamp")
    v = rets.filter(F.col("day") < split).agg(
        F.round(F.expr(f"percentile(r, {KUPIEC_P})"), 6).alias("var05")
    )
    test = (
        rets.filter(F.col("day") >= split)
        .crossJoin(F.broadcast(v))
        .select(
            "day", F.when(F.col("r") < F.col("var05"), 1).otherwise(0).alias("br")
        )
    )
    prev = test.select(
        (F.col("day") + F.expr("INTERVAL 1 DAY")).alias("day"),
        F.col("br").alias("i"),
    )
    tr = test.withColumnRenamed("br", "j").join(prev, "day")
    i, j = F.col("i"), F.col("j")
    c = tr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((1 - i) * (1 - j)).cast("long").alias("n00"),
        F.sum((1 - i) * j).cast("long").alias("n01"),
        F.sum(i * (1 - j)).cast("long").alias("n10"),
        F.sum(i * j).cast("long").alias("n11"),
    )
    n, n00, n01, n10, n11 = (F.col(x) for x in ("n", "n00", "n01", "n10", "n11"))
    pi = (n01 + n11) * 1.0 / n
    pi01 = F.when(n00 + n01 == 0, F.lit(0.0)).otherwise(n01 * 1.0 / (n00 + n01))
    pi11 = F.when(n10 + n11 == 0, F.lit(0.0)).otherwise(n11 * 1.0 / (n10 + n11))
    p = c.select(
        n, n00, n01, n10, n11, pi.alias("pi"), pi01.alias("pi01"), pi11.alias("pi11")
    )
    cpi, cpi01, cpi11 = F.col("pi"), F.col("pi01"), F.col("pi11")
    ll_null = F.when((n00 + n10 == 0) | (cpi == 1.0), F.lit(0.0)).otherwise(
        (n00 + n10) * F.log(1 - cpi)
    ) + F.when(n01 + n11 == 0, F.lit(0.0)).otherwise((n01 + n11) * F.log(cpi))
    ll_markov = (
        F.when(n00 == 0, F.lit(0.0)).otherwise(n00 * F.log(1 - cpi01))
        + F.when(n01 == 0, F.lit(0.0)).otherwise(n01 * F.log(cpi01))
        + F.when(n10 == 0, F.lit(0.0)).otherwise(n10 * F.log(1 - cpi11))
        + F.when(n11 == 0, F.lit(0.0)).otherwise(n11 * F.log(cpi11))
    )
    x = n01 + n11
    ll_pof = (
        (n - x) * F.log(F.lit(1 - KUPIEC_P))
        + x * F.log(F.lit(KUPIEC_P))
        - F.when(x == n, F.lit(0.0)).otherwise((n - x) * F.log(1 - x * 1.0 / n))
        - F.when(x == 0, F.lit(0.0)).otherwise(x * F.log(x * 1.0 / n))
    )
    lr_ind = F.round(-2 * (ll_null - ll_markov), 6)
    lr_cc = F.round(-2 * ll_pof - 2 * (ll_null - ll_markov), 6)
    return p.select(
        n.alias("n_pairs"), n00, n01, n10, n11,
        F.round(cpi01, 6).alias("pi01"),
        F.round(cpi11, 6).alias("pi11"),
        lr_ind.alias("lr_ind"),
        (lr_ind > KUPIEC_CHI2_95).alias("reject_ind_95"),
        lr_cc.alias("lr_cc"),
        (lr_cc > CHI2_2_95).alias("reject_cc_95"),
    )


# ---------------------------------------------------------------------------
# q_pairs_trading — distance-method pair selection + spread z-score
# ---------------------------------------------------------------------------


sql_query(
    "q_pairs_trading",
    """
    WITH bm AS (
      SELECT p.p_brand AS b,
             CAST(year(l.l_shipdate) AS BIGINT) * 12 + month(l.l_shipdate) AS mi,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / CAST(sum(CAST(round(l.l_quantity * 1000) AS BIGINT)) AS DOUBLE) AS px
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY b, mi
    ),
    f AS (SELECT b, min_by(px, mi) AS px0 FROM bm GROUP BY b),
    ix AS (
      SELECT bm.b, bm.mi,
             CAST(round(bm.px / f.px0 * 1000000) AS BIGINT) AS i6
      FROM bm JOIN f ON bm.b = f.b
    ),
    pm AS (
      SELECT a.b AS brand_a, c.b AS brand_b, a.mi, a.i6 - c.i6 AS d
      FROM ix a JOIN ix c ON a.mi = c.mi AND a.b < c.b
    ),
    agg AS (
      SELECT brand_a, brand_b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(d * d) AS BIGINT) AS sd2,
             CAST(max_by(d, mi) AS BIGINT) AS dl
      FROM pm GROUP BY brand_a, brand_b
    ),
    sel AS (
      SELECT * FROM agg ORDER BY sd2, brand_a, brand_b LIMIT 5
    )
    SELECT brand_a, brand_b, n AS n_months,
           round(sd2 / 1e12, 6) AS ssd,
           round(sd * 1.0 / n / 1e6, 6) AS spread_mean,
           round(sqrt((n * sd2 - sd * sd) * 1.0 / (n * (n - 1))) / 1e6, 6)
             AS spread_std,
           round((dl - sd * 1.0 / n)
                 / nullif(sqrt((n * sd2 - sd * sd) * 1.0 / (n * (n - 1))), 0.0), 4)
             AS z_last
    FROM sel
    """,
    tags=("finance", "backtest", "pairs"),
    doc="""Distance-method pairs-trading screen (Gatev-Goetzmann-Rouwenhorst):
    normalize each brand's monthly unit price to its first-month level,
    rank brand pairs by sum of squared differences of the normalized
    index over shared months, and report the 5 closest pairs with their
    spread mean/std and the latest-month spread z-score — the classic
    "find two series that historically track, trade the divergence"
    selection relation.

    Determinism: unit price is a ratio of exact integer cent/milli-unit
    sums; the normalized index is scaled to an exact BIGINT at 1e-6
    resolution BEFORE pairing, so SSD and all spread moments are exact
    integer arithmetic on both engines (summation-order-proof) — doubles
    appear only in final closed forms, rounded at 6/4 dp. Top-5 is fully
    ordered by (ssd, brand_a, brand_b). Scale: the fact scan reduces to
    O(brands x months); the pair join is O(brands^2 x months) over that
    dimension/calendar-bounded broadcast relation — invariant to fact-row
    growth, so the plan is replication-proof by construction.""",
)
