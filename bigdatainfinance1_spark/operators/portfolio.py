"""Portfolio / performance analytics (round 4 wave): the risk-adjusted
metric suite a fund or treasury desk computes per book — CAPM Jensen
alpha + Treynor (q_jensen_alpha), downside-risk Sortino
(q_sortino_ratio), drawdown-based Calmar + Ulcer/Martin
(q_calmar_ulcer), Omega + Kelly (q_omega_ratio), benchmark-relative
information ratio (q_information_ratio), and market-microstructure
Amihud illiquidity (q_amihud_illiquidity). The "books" are the 25
customer nations, their "NAV" the monthly nation revenue, the "market"
the total monthly revenue — a deterministic panel the DuckDB oracle
reproduces exactly.

Scale notes: every query reduces the corpus to the O(nations × calendar)
nation-month panel (~2k rows) in ONE orders⋈customer aggregate (the join
is fact-to-dimension; customer is broadcast-sized per nation at test SF
and hash-joins at scale), or the O(days) daily series for Amihud; all
downstream work — return lag joins, per-nation moments, drawdown
windows — is panel-bounded and corpus-size-independent.

Determinism: panel values round at 6 before returns; returns round at 8
before any product; per-nation moments divide by fixed per-group n;
drawdowns round at 8 before squaring. Output rounds at 6 — orders above
the ulp noise of ≤80-term sums. Degenerate groups (zero losses, zero
drawdown, zero beta) go through nullif so both engines emit NULL, never
a division error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

MIN_MONTHS = 12  # drop nations with too-short return history for moments

_PANEL_SQL = """
    nrm AS (
      SELECT c_nationkey AS nk,
             CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY nk, mi
    ),
    nret AS (
      SELECT a.nk, a.mi, round((a.v - b.v) / b.v, 8) AS r
      FROM nrm a JOIN nrm b ON b.nk = a.nk AND b.mi = a.mi - 1
    ),
    mrm AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS v
      FROM orders GROUP BY mi
    ),
    mret AS (
      SELECT a.mi, round((a.v - b.v) / b.v, 8) AS m
      FROM mrm a JOIN mrm b ON b.mi = a.mi - 1
    )
"""


def _capm_moment_aggs() -> list:
    """Integer-moments rule (round-6): the per-nation CAPM moment block
    over 8-dp returns (r, m) — snap each to its 1e-8 grain and sum exact
    integers (decimal(38) for the products) so no emission depends on
    double summation order. Twin of the hardened `mom` CTE shared by
    q_jensen_alpha and q_fama_macbeth."""
    r8 = F.round(F.col("r") * 1e8).cast("long")
    m8 = F.round(F.col("m") * 1e8).cast("long")
    return [
        (F.sum(r8).cast("double") / 1e8).alias("sr"),
        (F.sum(m8).cast("double") / 1e8).alias("sm"),
        (F.sum(r8.cast("decimal(19,0)") * m8).cast("double") / 1e16).alias("srm"),
        (F.sum(m8.cast("decimal(19,0)") * m8).cast("double") / 1e16).alias("smm"),
    ]


def _nation_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-month return panel: (nk, mi, r) with r the consecutive-month
    pct change of 6-dp monthly nation revenue, rounded at 8."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nrm = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias(
                "mi"
            ),
        )
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000.0, 6).alias("v"))
    )
    prev = nrm.select("nk", (F.col("mi") + 1).alias("mi"), F.col("v").alias("pv"))
    return (
        nrm.join(prev, ["nk", "mi"])
        .select("nk", "mi", F.round((F.col("v") - F.col("pv")) / F.col("pv"), 8).alias("r"))
    )


def _market_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    mrm = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000000.0, 6).alias("v"))
    prev = mrm.select((F.col("mi") + 1).alias("mi"), F.col("v").alias("pv"))
    return mrm.join(F.broadcast(prev), "mi").select(
        "mi", F.round((F.col("v") - F.col("pv")) / F.col("pv"), 8).alias("m")
    )


def _nation_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )


# ---------------------------------------------------------------------------
# q_jensen_alpha — per-nation CAPM alpha, beta, Treynor vs the market
# ---------------------------------------------------------------------------


@query(
    "q_jensen_alpha",
    oracle=f"""
    WITH {_PANEL_SQL},
    j AS (
      SELECT nret.nk, nret.r, mret.m FROM nret JOIN mret ON nret.mi = mret.mi
    ),
    mom AS (
      SELECT nk, count(*) AS n,
             CAST(sum(CAST(round(r * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sr,
             CAST(sum(CAST(round(m * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sm,
             CAST(sum(CAST(round(r * 1e8) AS HUGEINT)
                      * CAST(round(m * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS srm,
             CAST(sum(CAST(round(m * 1e8) AS HUGEINT)
                      * CAST(round(m * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS smm
      FROM j GROUP BY nk
    ),
    fit AS (
      SELECT nk, n,
             (n * srm - sr * sm) / (n * smm - sm * sm) AS beta,
             sr / n AS mean_r, sm / n AS mean_m
      FROM mom WHERE n >= {MIN_MONTHS}
    )
    SELECT nation.n_name AS n_name,
           CAST(fit.n AS BIGINT) AS n_obs,
           round(fit.beta, 6) AS beta,
           round(fit.mean_r - fit.beta * fit.mean_m, 6) AS jensen_alpha,
           round(fit.mean_r / nullif(fit.beta, 0.0), 6) AS treynor
    FROM fit JOIN nation ON nation.n_nationkey = fit.nk
    ORDER BY n_name
    """,
    tags=("finance", "analytics", "timeseries"),
)
def jensen_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation CAPM regression against the total-revenue market
    return: β from the single-factor OLS closed form, Jensen's α =
    mean(r) − β·mean(m) (the above/below-market monthly excess), and
    the Treynor ratio mean(r)/β — the classic performance attribution
    triple, computed for all 25 books in one pass (q_rolling_beta gives
    the time-varying β; this gives the full-sample inference panel).

    Scale: one fact-dim aggregate to the O(nations × calendar) panel,
    one broadcast market join, one per-nation 5-moment aggregate,
    closed forms. Per-group moments share the group's fixed n; both
    engines evaluate identical 8-dp inputs, rounded at 6."""
    nret = _nation_returns(spark, sf_dir)
    mret = _market_returns(spark, sf_dir)
    j = nret.join(F.broadcast(mret), "mi").select("nk", "r", "m")
    mom = j.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"), *_capm_moment_aggs()
    )
    beta = (F.col("n") * F.col("srm") - F.col("sr") * F.col("sm")) / (
        F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")
    )
    fit = mom.filter(F.col("n") >= MIN_MONTHS).select(
        "nk",
        "n",
        beta.alias("beta"),
        (F.col("sr") / F.col("n")).alias("mean_r"),
        (F.col("sm") / F.col("n")).alias("mean_m"),
    )
    return (
        fit.join(F.broadcast(_nation_names(spark, sf_dir)), "nk")
        .select(
            "n_name",
            F.col("n").cast("long").alias("n_obs"),
            F.round(F.col("beta"), 6).alias("beta"),
            F.round(F.col("mean_r") - F.col("beta") * F.col("mean_m"), 6).alias(
                "jensen_alpha"
            ),
            F.round(
                F.col("mean_r") / F.nullif(F.col("beta"), F.lit(0.0)), 6
            ).alias("treynor"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_sortino_ratio — per-nation downside deviation and Sortino
# ---------------------------------------------------------------------------


@query(
    "q_sortino_ratio",
    oracle=f"""
    WITH {_PANEL_SQL},
    s AS (
      SELECT nk, count(*) AS n,
             CAST(sum(CAST(round(r * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 / count(*)
               AS mean_r,
             sqrt(CAST(sum(CASE WHEN r < 0 THEN
                             CAST(round(r * 1e8) AS HUGEINT)
                             * CAST(round(r * 1e8) AS BIGINT)
                           ELSE 0 END) AS DOUBLE) / 1e16 / count(*)) AS dd
      FROM nret GROUP BY nk HAVING count(*) >= {MIN_MONTHS}
    )
    SELECT nation.n_name AS n_name,
           CAST(s.n AS BIGINT) AS n_obs,
           round(s.mean_r, 6) AS mean_monthly,
           round(s.dd, 6) AS downside_dev,
           round(s.mean_r / nullif(s.dd, 0.0), 6) AS sortino
    FROM s JOIN nation ON nation.n_nationkey = s.nk
    ORDER BY n_name
    """,
    tags=("finance", "analytics"),
)
def sortino_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Sortino ratio: mean monthly return over the downside
    deviation sqrt(Σ min(r,0)²/n) — the Sharpe variant that only charges
    for harmful volatility (q_sharpe_by_nation is the symmetric twin;
    books with skewed return profiles reorder between the two, which is
    the point of reporting both).

    Scale: the panel aggregate plus ONE per-nation moment pass — no
    windows, no joins past the panel build. Monthly values at 6 dp,
    returns at 8 dp, one expression shape both engines, rounded at 6."""
    nret = _nation_returns(spark, sf_dir)
    r8 = F.round(F.col("r") * 1e8).cast("long")
    s = (
        nret.groupBy("nk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(r8).cast("double") / 1e8 / F.count(F.lit(1))).alias("mean_r"),
            F.sqrt(
                F.sum(
                    F.when(
                        F.col("r") < 0, r8.cast("decimal(19,0)") * r8
                    ).otherwise(F.lit(0).cast("decimal(19,0)"))
                ).cast("double")
                / 1e16
                / F.count(F.lit(1))
            ).alias("dd"),
        )
        .filter(F.col("n") >= MIN_MONTHS)
    )
    return (
        s.join(F.broadcast(_nation_names(spark, sf_dir)), "nk")
        .select(
            "n_name",
            F.col("n").cast("long").alias("n_obs"),
            F.round(F.col("mean_r"), 6).alias("mean_monthly"),
            F.round(F.col("dd"), 6).alias("downside_dev"),
            F.round(F.col("mean_r") / F.nullif(F.col("dd"), F.lit(0.0)), 6).alias(
                "sortino"
            ),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_calmar_ulcer — drawdown-based performance per nation
# ---------------------------------------------------------------------------


@query(
    "q_calmar_ulcer",
    oracle=f"""
    WITH {_PANEL_SQL},
    cum AS (
      SELECT nk, mi,
             sum(ln(1.0 + r)) OVER (PARTITION BY nk ORDER BY mi) AS li,
             count(*) OVER (PARTITION BY nk) AS n,
             sum(CAST(round(r * 1e8) AS BIGINT)) OVER (PARTITION BY nk) AS sr8
      FROM nret
    ),
    ddown AS (
      SELECT nk, n, sr8,
             round(1.0 - exp(li - max(li) OVER (PARTITION BY nk ORDER BY mi)), 8)
               AS d
      FROM cum
    ),
    agg AS (
      SELECT nk, max(n) AS n,
             CAST(max(sr8) AS DOUBLE) / 1e8 / max(n) * 12.0 AS ann_ret,
             max(d) AS mdd,
             sqrt(CAST(sum(CAST(round(d * 1e8) AS HUGEINT)
                           * CAST(round(d * 1e8) AS BIGINT)) AS DOUBLE)
                  / 1e16 / max(n)) AS ulcer
      FROM ddown GROUP BY nk HAVING max(n) >= {MIN_MONTHS}
    )
    SELECT nation.n_name AS n_name,
           CAST(agg.n AS BIGINT) AS n_obs,
           round(agg.ann_ret, 6) AS ann_return,
           round(agg.mdd, 6) AS max_drawdown,
           round(agg.ulcer, 6) AS ulcer_index,
           round(agg.ann_ret / nullif(agg.mdd, 0.0), 6) AS calmar,
           round(agg.ann_ret / nullif(agg.ulcer, 0.0), 6) AS martin
    FROM agg JOIN nation ON nation.n_nationkey = agg.nk
    ORDER BY n_name
    """,
    tags=("finance", "analytics", "window"),
)
def calmar_ulcer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation drawdown metrics off the compounded return index:
    running-peak drawdowns via cumulative log-return windows, maximum
    drawdown, the Ulcer index sqrt(mean d²) (which charges for drawdown
    DURATION, not just depth), and the Calmar (ann. return / MDD) and
    Martin (ann. return / Ulcer) ratios — the q_max_drawdown machinery
    generalized to a per-book panel with depth-AND-duration pricing.

    Scale: panel aggregate, then per-nation ordered windows over ≤80
    rows per partition (cumsum of ln(1+r), running max) and one
    per-nation aggregate — panel-bounded. ln(1+r) is exact on 8-dp r >
    −1; drawdowns round at 8 before squaring; annualization is the
    arithmetic mean × 12 (documented; CAGR would change semantics, not
    machinery), rounded at 6."""
    nret = _nation_returns(spark, sf_dir)
    wcum = Window.partitionBy("nk").orderBy("mi")
    wall = Window.partitionBy("nk")
    cum = nret.select(
        "nk",
        "mi",
        F.sum(F.log(1.0 + F.col("r"))).over(wcum).alias("li"),
        F.count(F.lit(1)).over(wall).alias("n"),
        # integer-moments rule: the unordered partition sum of 8-dp r
        # snaps to its exact 1e-8 grain (the ordered cumsum li is
        # sequential on both engines and stays double)
        F.sum(F.round(F.col("r") * 1e8).cast("long")).over(wall).alias("sr8"),
    )
    ddown = cum.select(
        "nk",
        "n",
        "sr8",
        F.round(1.0 - F.exp(F.col("li") - F.max("li").over(wcum)), 8).alias("d"),
    )
    d8 = F.round(F.col("d") * 1e8).cast("long")
    agg = (
        ddown.groupBy("nk")
        .agg(
            F.max("n").alias("n"),
            (F.max("sr8").cast("double") / 1e8 / F.max("n") * 12.0).alias("ann_ret"),
            F.max("d").alias("mdd"),
            F.sqrt(
                F.sum(d8.cast("decimal(19,0)") * d8).cast("double") / 1e16 / F.max("n")
            ).alias("ulcer"),
        )
        .filter(F.col("n") >= MIN_MONTHS)
    )
    return (
        agg.join(F.broadcast(_nation_names(spark, sf_dir)), "nk")
        .select(
            "n_name",
            F.col("n").cast("long").alias("n_obs"),
            F.round(F.col("ann_ret"), 6).alias("ann_return"),
            F.round(F.col("mdd"), 6).alias("max_drawdown"),
            F.round(F.col("ulcer"), 6).alias("ulcer_index"),
            F.round(F.col("ann_ret") / F.nullif(F.col("mdd"), F.lit(0.0)), 6).alias(
                "calmar"
            ),
            F.round(F.col("ann_ret") / F.nullif(F.col("ulcer"), F.lit(0.0)), 6).alias(
                "martin"
            ),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_omega_ratio — gains-over-losses and the Kelly fraction per nation
# ---------------------------------------------------------------------------


@query(
    "q_omega_ratio",
    oracle=f"""
    WITH {_PANEL_SQL},
    base AS (
      SELECT nk, count(*) AS n,
             round(CAST(sum(CAST(round(r * 1e8) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e8, 8) AS mu FROM nret GROUP BY nk
    ),
    s AS (
      SELECT nret.nk, max(base.n) AS n,
             CAST(sum(CASE WHEN nret.r > 0 THEN
                        CAST(round(nret.r * 1e8) AS BIGINT) ELSE 0 END) AS DOUBLE)
               / 1e8 AS gains,
             CAST(sum(CASE WHEN nret.r < 0 THEN
                        -CAST(round(nret.r * 1e8) AS BIGINT) ELSE 0 END) AS DOUBLE)
               / 1e8 AS losses,
             max(base.mu) AS mu,
             CAST(sum(CAST(round((nret.r - base.mu) * 1e8) AS HUGEINT)
                      * CAST(round((nret.r - base.mu) * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / max(base.n) AS var_r
      FROM nret JOIN base ON base.nk = nret.nk
      GROUP BY nret.nk HAVING max(base.n) >= {MIN_MONTHS}
    )
    SELECT nation.n_name AS n_name,
           CAST(s.n AS BIGINT) AS n_obs,
           round(s.gains / nullif(s.losses, 0.0), 6) AS omega,
           round(s.mu / nullif(s.var_r, 0.0), 6) AS kelly
    FROM s JOIN nation ON nation.n_nationkey = s.nk
    ORDER BY n_name
    """,
    tags=("finance", "analytics"),
)
def omega_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Omega ratio at threshold zero (Σ gains / Σ losses —
    the full-distribution performance measure that needs no moment
    assumptions) beside the Kelly fraction μ/σ² (the log-optimal
    leverage under the quadratic approximation) — the sizing companion:
    Omega ranks the books, Kelly says how much of each to hold.

    Scale: panel aggregate + one per-nation mean pass + one per-nation
    moment pass (the mean is computed first and rounded at 8 so the
    variance pass demeans identical values on both engines) — no work
    past the panel. Rounded at 6."""
    nret = _nation_returns(spark, sf_dir)
    r8 = F.round(F.col("r") * 1e8).cast("long")
    base = nret.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(r8).cast("double") / F.count(F.lit(1)) / 1e8, 8).alias("mu"),
    )
    d8 = F.round((F.col("r") - F.col("mu")) * 1e8).cast("long")
    s = (
        nret.join(base, "nk")
        .groupBy("nk")
        .agg(
            F.max("n").alias("n"),
            (
                F.sum(F.when(F.col("r") > 0, r8).otherwise(F.lit(0))).cast("double")
                / 1e8
            ).alias("gains"),
            (
                F.sum(F.when(F.col("r") < 0, -r8).otherwise(F.lit(0))).cast("double")
                / 1e8
            ).alias("losses"),
            F.max("mu").alias("mu"),
            (
                F.sum(d8.cast("decimal(19,0)") * d8).cast("double") / 1e16 / F.max("n")
            ).alias("var_r"),
        )
        .filter(F.col("n") >= MIN_MONTHS)
    )
    return (
        s.join(F.broadcast(_nation_names(spark, sf_dir)), "nk")
        .select(
            "n_name",
            F.col("n").cast("long").alias("n_obs"),
            F.round(F.col("gains") / F.nullif(F.col("losses"), F.lit(0.0)), 6).alias(
                "omega"
            ),
            F.round(F.col("mu") / F.nullif(F.col("var_r"), F.lit(0.0)), 6).alias(
                "kelly"
            ),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_information_ratio — benchmark-relative active performance
# ---------------------------------------------------------------------------


@query(
    "q_information_ratio",
    oracle=f"""
    WITH {_PANEL_SQL},
    act AS (
      SELECT nret.nk, round(nret.r - mret.m, 8) AS a
      FROM nret JOIN mret ON nret.mi = mret.mi
    ),
    base AS (
      SELECT nk, count(*) AS n,
             round(CAST(sum(CAST(round(a * 1e8) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e8, 8) AS mean_a FROM act GROUP BY nk
    ),
    s AS (
      SELECT act.nk, max(base.n) AS n, max(base.mean_a) AS mean_a,
             sqrt(CAST(sum(CAST(round((act.a - base.mean_a) * 1e8) AS HUGEINT)
                           * CAST(round((act.a - base.mean_a) * 1e8) AS BIGINT))
                       AS DOUBLE)
                  / 1e16 / (max(base.n) - 1)) AS te
      FROM act JOIN base ON base.nk = act.nk
      GROUP BY act.nk HAVING max(base.n) >= {MIN_MONTHS}
    )
    SELECT nation.n_name AS n_name,
           CAST(s.n AS BIGINT) AS n_obs,
           round(s.mean_a, 6) AS active_mean,
           round(s.te, 6) AS tracking_error,
           round(s.mean_a / nullif(s.te, 0.0), 6) AS info_ratio
    FROM s JOIN nation ON nation.n_nationkey = s.nk
    ORDER BY n_name
    """,
    tags=("finance", "analytics"),
)
def information_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation information ratio: mean active return (nation minus
    market, month-matched) over its tracking error (sample stddev,
    n−1) — the benchmark-relative skill measure that complements the
    absolute-risk family (q_sharpe_by_nation, q_sortino_ratio): a book
    can look strong standalone and still show zero active skill.

    Scale: panel + broadcast market join + two per-nation moment passes
    (mean first, rounded at 8, so the deviations demean identical
    values) — panel-bounded. Rounded at 6."""
    nret = _nation_returns(spark, sf_dir)
    mret = _market_returns(spark, sf_dir)
    act = nret.join(F.broadcast(mret), "mi").select(
        "nk", F.round(F.col("r") - F.col("m"), 8).alias("a")
    )
    a8 = F.round(F.col("a") * 1e8).cast("long")
    base = act.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(a8).cast("double") / F.count(F.lit(1)) / 1e8, 8).alias(
            "mean_a"
        ),
    )
    d8 = F.round((F.col("a") - F.col("mean_a")) * 1e8).cast("long")
    s = (
        act.join(base, "nk")
        .groupBy("nk")
        .agg(
            F.max("n").alias("n"),
            F.max("mean_a").alias("mean_a"),
            F.sqrt(
                F.sum(d8.cast("decimal(19,0)") * d8).cast("double")
                / 1e16
                / (F.max("n") - 1)
            ).alias("te"),
        )
        .filter(F.col("n") >= MIN_MONTHS)
    )
    return (
        s.join(F.broadcast(_nation_names(spark, sf_dir)), "nk")
        .select(
            "n_name",
            F.col("n").cast("long").alias("n_obs"),
            F.round(F.col("mean_a"), 6).alias("active_mean"),
            F.round(F.col("te"), 6).alias("tracking_error"),
            F.round(F.col("mean_a") / F.nullif(F.col("te"), F.lit(0.0)), 6).alias(
                "info_ratio"
            ),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_amihud_illiquidity — monthly price-impact proxy from the daily tape
# ---------------------------------------------------------------------------


sql_query(
    "q_amihud_illiquidity",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS rev
      FROM orders GROUP BY d
    ),
    dret AS (
      SELECT a.d,
             CAST(year(a.d) AS BIGINT) * 12 + month(a.d) AS mi,
             round(abs(a.rev - b.rev) / b.rev, 8) / a.rev AS impact
      FROM daily a JOIN daily b ON b.d = a.d - INTERVAL 1 DAY
    ),
    m AS (
      SELECT mi, count(*) AS n_days,
             round(CAST(sum(CAST(round(impact * 1e12) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e12 * 1000.0, 6) AS amihud
      FROM dret GROUP BY mi HAVING count(*) >= 5
    )
    SELECT CAST(mi AS BIGINT) AS mi,
           CAST(n_days AS BIGINT) AS n_days,
           amihud
    FROM m ORDER BY mi
    """,
    tags=("finance", "timeseries", "analytics"),
    doc="""Monthly Amihud illiquidity: the month's average of |daily
    return| / daily dollar volume (revenue standing in for both the
    price path and the volume, as in the classic ILLIQ = avg |r_d| /
    DVOL_d), ×1000 for readability — the standard price-impact proxy;
    months with a thin tape (<5 consecutive-day pairs) are dropped
    rather than reported on noise.

    Scale: one map-side-combinable daily aggregate (O(days) ≈ 2.4k
    rows), one consecutive-calendar-day self equi-join, one monthly
    aggregate — day-bounded past the scan. |Δrev|/rev rounds at 8
    before the volume division; the monthly mean divides identical
    doubles, rounded at 6.""",
)


# ---------------------------------------------------------------------------
# Region return panel (complete months only) — shared by the covariance wave
# ---------------------------------------------------------------------------

# Hardened (round-6 window rule): monthly revenue sums exact integer
# cents; the return mean sums 1e-8-grain BIGINTs; the covariance moments
# sum exact integer products of 1e-8-grain deviations (HUGEINT here,
# decimal(38,0) on the Spark side — x8^4 <= 1e36 and T <= ~80 keep the
# m22 sum under 1e38) — no engine-ordered double summation anywhere in
# the shared prefix.
_RRET_SQL = """
    rrm AS (
      SELECT r.r_name AS rg,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS mi,
             round(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY rg, mi
    ),
    cm AS (SELECT mi FROM rrm GROUP BY mi HAVING count(*) = 5),
    rret AS (
      SELECT a.rg, a.mi, round((a.v - b.v) / b.v, 8) AS r
      FROM rrm a
      JOIN rrm b ON b.rg = a.rg AND b.mi = a.mi - 1
      JOIN cm x ON x.mi = a.mi
      JOIN cm y ON y.mi = a.mi - 1
    ),
    rmu AS (SELECT rg, count(*) AS t,
                   round(sum(CAST(round(r * 1e8) AS BIGINT)) * 1.0
                         / count(*) / 1e8, 8) AS mu
            FROM rret GROUP BY rg),
    xdev AS (
      SELECT rret.rg, rret.mi, round(rret.r - rmu.mu, 8) AS x,
             CAST(round(round(rret.r - rmu.mu, 8) * 1e8) AS BIGINT) AS x8,
             CAST(round(round(rret.r - rmu.mu, 8) * 1e6) AS BIGINT) AS x6,
             rmu.t
      FROM rret JOIN rmu ON rmu.rg = rret.rg
    ),
    cpair AS (
      SELECT a.rg AS ri, b.rg AS rj, max(a.t) AS t,
             CAST(sum(CAST(a.x8 AS HUGEINT) * b.x8) AS DOUBLE)
               / 1e16 / max(a.t) AS s,
             CAST(sum(CAST(a.x6 AS HUGEINT) * a.x6 * b.x6 * b.x6) AS DOUBLE)
               / 1e24 / max(a.t) AS m22
      FROM xdev a JOIN xdev b ON b.mi = a.mi AND b.rg >= a.rg
      GROUP BY a.rg, b.rg
    )
"""


def _region_cov_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ri <= rj) covariance pairs of the 5 region return series over the
    balanced complete-month panel: s = MLE covariance (divisor T) and
    m22 = (1/T)Σ x_i²x_j² (the Ledoit-Wolf variance-of-estimate moment)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    rrm = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("rg"),
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias(
                "mi"
            ),
        )
        .agg(
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
                / 1000.0,
                6,
            ).alias("v")
        )
    )
    cm = rrm.groupBy("mi").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") == 5)
    prev = rrm.select("rg", (F.col("mi") + 1).alias("mi"), F.col("v").alias("pv"))
    rret = (
        rrm.join(prev, ["rg", "mi"])
        .join(F.broadcast(cm.select("mi")), "mi")
        .join(F.broadcast(cm.select((F.col("mi") + 1).alias("mi"))), "mi")
        .select("rg", "mi", F.round((F.col("v") - F.col("pv")) / F.col("pv"), 8).alias("r"))
    )
    # Hardened like the oracle's _RRET_SQL (see its comment): exact-integer
    # sums everywhere a reduction feeds a rounded emission.
    rmu = rret.groupBy("rg").agg(
        F.count(F.lit(1)).alias("t"),
        F.round(
            F.sum(F.round(F.col("r") * 1e8).cast("long")) * F.lit(1.0)
            / F.count(F.lit(1))
            / 1e8,
            8,
        ).alias("mu"),
    )
    x_expr = F.round(F.col("r") - F.col("mu"), 8)
    xdev = rret.join(F.broadcast(rmu), "rg").select(
        "rg",
        "mi",
        x_expr.alias("x"),
        F.round(x_expr * 1e8).cast("long").alias("x8"),
        # coarser grain for the 4th-power moment: x8^4 overflows
        # decimal(38,0)/HUGEINT when sparse months make |x| large
        F.round(x_expr * 1e6).cast("long").alias("x6"),
        "t",
    )
    b = xdev.select(
        F.col("rg").alias("rj"),
        F.col("mi").alias("mi"),
        F.col("x8").alias("xj8"),
        F.col("x6").alias("xj6"),
    )
    x8d = F.col("x8").cast("decimal(19,0)")
    x6d = F.col("x6").cast("decimal(19,0)")
    xj6d = F.col("xj6").cast("decimal(19,0)")
    cp = (
        xdev.join(F.broadcast(b), "mi")
        .filter(F.col("rj") >= F.col("rg"))
        .groupBy(F.col("rg").alias("ri"), "rj")
        .agg(
            F.max("t").alias("t"),
            (F.sum(x8d * F.col("xj8")).cast("double") / 1e16 / F.max("t")).alias("s"),
            (
                F.sum((x6d * F.col("x6")) * (xj6d * F.col("xj6")))
                .cast("double")
                / 1e24
                / F.max("t")
            ).alias("m22"),
        )
    )
    # The consumers branch this 15-row relation 3-5 ways (diagonal, full
    # matrix, LW moments); without collapsing the lineage each branch
    # re-runs the fact aggregate (measured 10.1 s -> 2.8 s for
    # q_risk_parity at sf0.1). Eager localCheckpoint = one computation.
    return cp.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# q_cov_shrinkage — Ledoit-Wolf shrinkage toward the scaled identity
# ---------------------------------------------------------------------------


@query(
    "q_cov_shrinkage",
    oracle=f"""
    WITH {_RRET_SQL},
    mu AS (
      SELECT sum(CAST(round(s * 1e14) AS BIGINT)) * 1.0 / count(*) / 1e14
               AS mu_diag
      FROM cpair WHERE ri = rj
    ),
    consts AS (
      SELECT max(cp.t) AS t,
             sum(CAST(round((CASE WHEN cp.ri = cp.rj
                      THEN (cp.s - mu.mu_diag) * (cp.s - mu.mu_diag)
                      ELSE 2 * cp.s * cp.s END) * 1e12) AS BIGINT)) * 1.0 / 1e12
               AS d2,
             sum(CAST(round((CASE WHEN cp.ri = cp.rj THEN (cp.m22 - cp.s * cp.s)
                      ELSE 2 * (cp.m22 - cp.s * cp.s) END) * 1e12) AS BIGINT)) * 1.0
               / 1e12 / max(cp.t) AS b2raw,
             max(mu.mu_diag) AS mu_diag
      FROM cpair cp CROSS JOIN mu
    ),
    alpha AS (
      SELECT t, mu_diag, d2,
             least(b2raw, d2) / d2 AS a
      FROM consts
    )
    SELECT cp.ri AS region_i, cp.rj AS region_j,
           CAST(al.t AS BIGINT) AS n_months,
           round(cp.s, 8) AS sample_cov,
           round(al.a * (CASE WHEN cp.ri = cp.rj THEN al.mu_diag ELSE 0.0 END)
                 + (1.0 - al.a) * cp.s, 8) AS shrunk_cov,
           round(al.a, 6) AS shrinkage
    FROM cpair cp CROSS JOIN alpha al
    ORDER BY region_i, region_j
    """,
    tags=("finance", "stats", "analytics"),
)
def cov_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledoit-Wolf shrinkage of the 5×5 region return covariance toward
    the scaled identity μI: intensity α = min(b̄², d²)/d² with d² =
    ‖S − μI‖²_F and b̄² = (1/T²)Σₜ‖xₜxₜ' − S‖²_F — the estimator that
    makes sample covariances invertible and well-conditioned when the
    history is short relative to the book count (here 5 assets × ~70
    months; at a production 5,000-asset book the same closed forms run
    on the same pair relation). Reports each of the 15 upper-triangle
    entries before/after shrinkage.

    Scale: fact-to-dim-chain aggregate to the balanced region-month
    panel; the pair join is 5×5 over ~70 broadcast rows per month; LW
    moments are one aggregate over 15 pair rows. Deviations round at 8;
    all moments share the fixed divisor T; rounded at 8/6."""
    cp = _region_cov_pairs(spark, sf_dir)
    # Hardened (round-6 window rule): the LW moments are sums over the
    # 15-pair relation — snap each term to an exact integer grain (1e-14
    # for the diagonal mean, 1e-12 for d2/b2raw (sparse-tier terms reach ~1e3; 1e-16 overflowed BIGINT)) so the reductions are
    # order-insensitive; mirrors the oracle's mu/consts CTEs exactly.
    mu = cp.filter(F.col("ri") == F.col("rj")).agg(
        (
            F.sum(F.round(F.col("s") * 1e14).cast("long")) * F.lit(1.0)
            / F.count(F.lit(1))
            / 1e14
        ).alias("mu_diag")
    )
    consts = cp.crossJoin(F.broadcast(mu)).agg(
        F.max("t").alias("t"),
        (
            F.sum(
                F.round(
                    F.when(
                        F.col("ri") == F.col("rj"),
                        (F.col("s") - F.col("mu_diag"))
                        * (F.col("s") - F.col("mu_diag")),
                    ).otherwise(2 * F.col("s") * F.col("s"))
                    * 1e12
                ).cast("long")
            )
            * F.lit(1.0)
            / 1e12
        ).alias("d2"),
        (
            F.sum(
                F.round(
                    F.when(
                        F.col("ri") == F.col("rj"),
                        F.col("m22") - F.col("s") * F.col("s"),
                    ).otherwise(2 * (F.col("m22") - F.col("s") * F.col("s")))
                    * 1e12
                ).cast("long")
            )
            * F.lit(1.0)
            / 1e12
            / F.max("t")
        ).alias("b2raw"),
        F.max("mu_diag").alias("mu_diag"),
    )
    alpha = consts.select(
        "mu_diag",
        (F.least(F.col("b2raw"), F.col("d2")) / F.col("d2")).alias("a"),
    )
    return (
        cp.crossJoin(F.broadcast(alpha))
        .select(
            F.col("ri").alias("region_i"),
            F.col("rj").alias("region_j"),
            F.col("t").cast("long").alias("n_months"),
            F.round(F.col("s"), 8).alias("sample_cov"),
            F.round(
                F.col("a")
                * F.when(F.col("ri") == F.col("rj"), F.col("mu_diag")).otherwise(0.0)
                + (1.0 - F.col("a")) * F.col("s"),
                8,
            ).alias("shrunk_cov"),
            F.round(F.col("a"), 6).alias("shrinkage"),
        )
        .orderBy("region_i", "region_j")
    )


# ---------------------------------------------------------------------------
# q_risk_parity — inverse-vol weights and risk contributions
# ---------------------------------------------------------------------------


@query(
    "q_risk_parity",
    oracle=f"""
    WITH {_RRET_SQL},
    full_mat AS (
      SELECT ri, rj, s FROM cpair
      UNION ALL
      SELECT rj, ri, s FROM cpair WHERE ri < rj
    ),
    vols AS (
      SELECT ri AS rg, sqrt(s) AS vol FROM cpair WHERE ri = rj
    ),
    wts AS (
      SELECT rg, vol, (1.0 / vol) / (SELECT sum(1.0 / vol) FROM vols) AS w
      FROM vols
    ),
    sw AS (
      SELECT fm.ri AS rg, sum(fm.s * wj.w) AS swi
      FROM full_mat fm JOIN wts wj ON wj.rg = fm.rj
      GROUP BY fm.ri
    ),
    pv AS (
      SELECT sum(wts.w * sw.swi) AS port_var
      FROM wts JOIN sw ON sw.rg = wts.rg
    )
    SELECT wts.rg AS region,
           round(wts.vol, 8) AS vol,
           round(wts.w, 6) AS weight,
           round(wts.w * sw.swi / pv.port_var, 6) AS rc_share
    FROM wts JOIN sw ON sw.rg = wts.rg CROSS JOIN pv
    ORDER BY region
    """,
    tags=("finance", "analytics"),
)
def risk_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-volatility ("naive risk parity") weights over the 5
    region books with their exact risk contributions: wᵢ ∝ 1/σᵢ,
    RCᵢ = wᵢ·(Σw)ᵢ/(w'Σw) — the sizing rule that equalizes standalone
    vol and the decomposition showing how far correlation pushes the
    CONTRIBUTIONS from equal (true equal-risk-contribution weights need
    the iterative solver; the inverse-vol step is the standard
    closed-form first approximation, and the RC column quantifies the
    gap). Complements q_component_var's per-position VaR split.

    Scale: the q_cov_shrinkage pair machinery (panel aggregate + 5×5
    pair join over broadcast months); the matrix-vector products are
    joins over ≤25-row model relations. Rounded at 8/6."""
    cp = _region_cov_pairs(spark, sf_dir)
    full_mat = cp.select("ri", "rj", "s").unionByName(
        cp.filter(F.col("ri") < F.col("rj")).select(
            F.col("rj").alias("ri"), F.col("ri").alias("rj"), "s"
        )
    )
    vols = cp.filter(F.col("ri") == F.col("rj")).select(
        F.col("ri").alias("rg"), F.sqrt(F.col("s")).alias("vol")
    )
    inv_sum = vols.agg(F.sum(1.0 / F.col("vol")).alias("isum"))
    wts = vols.crossJoin(F.broadcast(inv_sum)).select(
        "rg", "vol", ((1.0 / F.col("vol")) / F.col("isum")).alias("w")
    )
    sw = (
        full_mat.join(
            F.broadcast(wts.select(F.col("rg").alias("rj"), F.col("w").alias("wj"))),
            "rj",
        )
        .groupBy(F.col("ri").alias("rg"))
        .agg(F.sum(F.col("s") * F.col("wj")).alias("swi"))
    )
    pv = (
        wts.join(sw, "rg")
        .agg(F.sum(F.col("w") * F.col("swi")).alias("port_var"))
    )
    return (
        wts.join(sw, "rg")
        .crossJoin(F.broadcast(pv))
        .select(
            F.col("rg").alias("region"),
            F.round(F.col("vol"), 8).alias("vol"),
            F.round(F.col("w"), 6).alias("weight"),
            F.round(F.col("w") * F.col("swi") / F.col("port_var"), 6).alias("rc_share"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q_brinson_attribution — allocation / selection / interaction effects
# ---------------------------------------------------------------------------

BRINSON_PRIOR_YEAR = 1999
BRINSON_CURR_YEAR = 2000
BRINSON_PORT_REGION = "EUROPE"


@query(
    "q_brinson_attribution",
    oracle=f"""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment,
             CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CASE WHEN r.r_name = '{BRINSON_PORT_REGION}' THEN 1 ELSE 0 END AS in_port,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE year(o.o_orderdate) IN ({BRINSON_PRIOR_YEAR}, {BRINSON_CURR_YEAR})
      GROUP BY segment, yr, in_port
    ),
    b AS (
      SELECT segment,
             CAST(sum(CASE WHEN yr = {BRINSON_PRIOR_YEAR}
                      THEN CAST(round(rev * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
               / 100 AS prior,
             CAST(sum(CASE WHEN yr = {BRINSON_CURR_YEAR}
                      THEN CAST(round(rev * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
               / 100 AS curr
      FROM seg GROUP BY segment
    ),
    p AS (
      SELECT segment,
             CAST(sum(CASE WHEN yr = {BRINSON_PRIOR_YEAR}
                      THEN CAST(round(rev * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
               / 100 AS prior,
             CAST(sum(CASE WHEN yr = {BRINSON_CURR_YEAR}
                      THEN CAST(round(rev * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
               / 100 AS curr
      FROM seg WHERE in_port = 1 GROUP BY segment
    ),
    tots AS (
      SELECT (SELECT CAST(sum(CAST(round(prior * 100) AS BIGINT)) AS DOUBLE) / 100
              FROM b) AS bt,
             (SELECT CAST(sum(CAST(round(prior * 100) AS BIGINT)) AS DOUBLE) / 100
              FROM p) AS pt
    ),
    eff AS (
      SELECT b.segment,
             p.prior / tots.pt AS wp, b.prior / tots.bt AS wb,
             p.curr / p.prior - 1.0 AS rp, b.curr / b.prior - 1.0 AS rb
      FROM b JOIN p ON p.segment = b.segment CROSS JOIN tots
    )
    SELECT segment,
           round(wp, 6) AS w_port,
           round(wb, 6) AS w_bench,
           round(rp, 6) AS r_port,
           round(rb, 6) AS r_bench,
           round((wp - wb) * rb, 6) AS allocation,
           round(wb * (rp - rb), 6) AS selection,
           round((wp - wb) * (rp - rb), 6) AS interaction
    FROM eff ORDER BY segment
    """,
    tags=("finance", "analytics"),
)
def brinson_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brinson-Fachler performance attribution of the EUROPE book
    against the global benchmark across the five market segments:
    prior-year revenue shares as weights, year-over-year revenue growth
    as returns, decomposed into allocation (wₚ−w_b)·r_b, selection
    w_b·(rₚ−r_b), and interaction — the standard answer to "did the
    book win by BEING in the right segments or by PICKING better within
    them". Sums of the three columns reconcile to active return by
    construction.

    Scale: one dim-chain aggregate with the two-year predicate pushed
    to the orders scan, then closed forms over the 5-segment relation.
    Revenue cents round at 2 before the share/growth ratios; one
    expression shape both engines, rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    seg = (
        orders.filter(
            F.year("o_orderdate").isin(BRINSON_PRIOR_YEAR, BRINSON_CURR_YEAR)
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.when(F.col("r_name") == BRINSON_PORT_REGION, 1).otherwise(0).alias(
                "in_port"
            ),
        )
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
    )
    revc = F.round(F.col("rev") * 100).cast("long")
    b = seg.groupBy("segment").agg(
        (
            F.sum(
                F.when(F.col("yr") == BRINSON_PRIOR_YEAR, revc).otherwise(F.lit(0))
            ).cast("double")
            / 100
        ).alias("prior"),
        (
            F.sum(
                F.when(F.col("yr") == BRINSON_CURR_YEAR, revc).otherwise(F.lit(0))
            ).cast("double")
            / 100
        ).alias("curr"),
    )
    p = (
        seg.filter(F.col("in_port") == 1)
        .groupBy("segment")
        .agg(
            (
                F.sum(
                    F.when(F.col("yr") == BRINSON_PRIOR_YEAR, revc).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / 100
            ).alias("pprior"),
            (
                F.sum(
                    F.when(F.col("yr") == BRINSON_CURR_YEAR, revc).otherwise(F.lit(0))
                ).cast("double")
                / 100
            ).alias("pcurr"),
        )
    )
    bt = b.agg(
        (
            F.sum(F.round(F.col("prior") * 100).cast("long")).cast("double") / 100
        ).alias("bt")
    )
    pt = p.agg(
        (
            F.sum(F.round(F.col("pprior") * 100).cast("long")).cast("double") / 100
        ).alias("pt")
    )
    eff = (
        b.join(p, "segment")
        .crossJoin(F.broadcast(bt))
        .crossJoin(F.broadcast(pt))
        .select(
            "segment",
            (F.col("pprior") / F.col("pt")).alias("wp"),
            (F.col("prior") / F.col("bt")).alias("wb"),
            (F.col("pcurr") / F.col("pprior") - 1.0).alias("rp"),
            (F.col("curr") / F.col("prior") - 1.0).alias("rb"),
        )
    )
    return eff.select(
        "segment",
        F.round(F.col("wp"), 6).alias("w_port"),
        F.round(F.col("wb"), 6).alias("w_bench"),
        F.round(F.col("rp"), 6).alias("r_port"),
        F.round(F.col("rb"), 6).alias("r_bench"),
        F.round((F.col("wp") - F.col("wb")) * F.col("rb"), 6).alias("allocation"),
        F.round(F.col("wb") * (F.col("rp") - F.col("rb")), 6).alias("selection"),
        F.round(
            (F.col("wp") - F.col("wb")) * (F.col("rp") - F.col("rb")), 6
        ).alias("interaction"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# q_fama_macbeth — the cross-sectional test of the CAPM's second pass
# ---------------------------------------------------------------------------

FM_Z95 = 1.959964


@query(
    "q_fama_macbeth",
    oracle=f"""
    WITH {_PANEL_SQL},
    j AS (
      SELECT nret.nk, nret.r, mret.m FROM nret JOIN mret ON nret.mi = mret.mi
    ),
    mom AS (
      SELECT nk, count(*) AS n,
             CAST(sum(CAST(round(r * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sr,
             CAST(sum(CAST(round(m * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sm,
             CAST(sum(CAST(round(r * 1e8) AS HUGEINT)
                      * CAST(round(m * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS srm,
             CAST(sum(CAST(round(m * 1e8) AS HUGEINT)
                      * CAST(round(m * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS smm
      FROM j GROUP BY nk
    ),
    firstpass AS (
      SELECT nk,
             (n * srm - sr * sm) / (n * smm - sm * sm) AS beta,
             sr / n AS mean_r
      FROM mom WHERE n >= {MIN_MONTHS}
    ),
    xs AS (
      SELECT count(*) AS k,
             CAST(sum(CAST(round(beta * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS sb,
             CAST(sum(CAST(round(mean_r * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS sy,
             CAST(sum(CAST(round(beta * 1e12) AS HUGEINT)
                      * CAST(round(beta * 1e12) AS BIGINT)) AS DOUBLE) / 1e24 AS sbb,
             CAST(sum(CAST(round(beta * 1e12) AS HUGEINT)
                      * CAST(round(mean_r * 1e12) AS BIGINT)) AS DOUBLE) / 1e24
               AS sby,
             CAST(sum(CAST(round(mean_r * 1e12) AS HUGEINT)
                      * CAST(round(mean_r * 1e12) AS BIGINT)) AS DOUBLE) / 1e24
               AS syy
      FROM firstpass
    ),
    fit AS (
      SELECT k,
             (k * sby - sb * sy) / (k * sbb - sb * sb) AS g1,
             (sy - (k * sby - sb * sy) / (k * sbb - sb * sb) * sb) / k AS g0,
             ((k * syy - sy * sy)
              - ((k * sby - sb * sy) / (k * sbb - sb * sb)) * (k * sby - sb * sy)) / k
               AS ssr,
             (k * sbb - sb * sb) / k AS sbb_dev
      FROM xs
    ),
    mkt AS (SELECT round(CAST(sum(CAST(round(m * 1e8) AS BIGINT)) AS DOUBLE)
                         / count(*) / 1e8, 8) AS mean_m FROM mret)
    SELECT CAST(fit.k AS BIGINT) AS n_nations,
           round(fit.g0, 6) AS gamma0_zero_beta,
           round(fit.g1, 6) AS gamma1_risk_premium,
           round(fit.g1 / sqrt((fit.ssr / (fit.k - 2)) / fit.sbb_dev), 6) AS t_gamma1,
           round(mkt.mean_m, 6) AS mean_market,
           abs(fit.g1 / sqrt((fit.ssr / (fit.k - 2)) / fit.sbb_dev)) > {FM_Z95}
             AS beta_priced
    FROM fit CROSS JOIN mkt
    """,
    tags=("finance", "stats", "analytics"),
)
def fama_macbeth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fama-MacBeth second pass: regress each nation's mean return on
    its first-pass CAPM beta ACROSS the cross-section — γ₁ estimates
    the market price of beta risk (the CAPM says γ₁ ≈ mean market
    excess return and γ₀ ≈ the zero-beta rate; `beta_priced` reports
    whether beta is significantly priced at all) — the methodology
    behind every factor-model test, run here on the 25-book panel whose
    first pass is exactly q_jensen_alpha's regression.

    Scale: the panel machinery plus one per-nation 5-moment aggregate
    (first pass) and one 6-moment closed form over ≤25 rows (second
    pass) — panel-bounded, rounded at 6."""
    nret = _nation_returns(spark, sf_dir)
    mret = _market_returns(spark, sf_dir)
    j = nret.join(F.broadcast(mret), "mi").select("nk", "r", "m")
    mom = j.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"), *_capm_moment_aggs()
    )
    beta = (F.col("n") * F.col("srm") - F.col("sr") * F.col("sm")) / (
        F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")
    )
    firstpass = mom.filter(F.col("n") >= MIN_MONTHS).select(
        beta.alias("beta"), (F.col("sr") / F.col("n")).alias("mean_r")
    )
    # second-pass cross-section moments: beta/mean_r are raw doubles —
    # snap at a 1e-12 grain (identical on both engines once the first
    # pass is exact) so the k<=25-term sums are order-exact
    b12 = F.round(F.col("beta") * 1e12).cast("long")
    y12 = F.round(F.col("mean_r") * 1e12).cast("long")
    xs = firstpass.agg(
        F.count(F.lit(1)).alias("k"),
        (F.sum(b12).cast("double") / 1e12).alias("sb"),
        (F.sum(y12).cast("double") / 1e12).alias("sy"),
        (F.sum(b12.cast("decimal(19,0)") * b12).cast("double") / 1e24).alias("sbb"),
        (F.sum(b12.cast("decimal(19,0)") * y12).cast("double") / 1e24).alias("sby"),
        (F.sum(y12.cast("decimal(19,0)") * y12).cast("double") / 1e24).alias("syy"),
    )
    g1 = (F.col("k") * F.col("sby") - F.col("sb") * F.col("sy")) / (
        F.col("k") * F.col("sbb") - F.col("sb") * F.col("sb")
    )
    fit = xs.select(
        "k",
        g1.alias("g1"),
        ((F.col("sy") - g1 * F.col("sb")) / F.col("k")).alias("g0"),
        (
            (
                (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
                - g1 * (F.col("k") * F.col("sby") - F.col("sb") * F.col("sy"))
            )
            / F.col("k")
        ).alias("ssr"),
        ((F.col("k") * F.col("sbb") - F.col("sb") * F.col("sb")) / F.col("k")).alias(
            "sbb_dev"
        ),
    )
    mkt = mret.agg(
        F.round(
            F.sum(F.round(F.col("m") * 1e8).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e8,
            8,
        ).alias("mean_m")
    )
    t = F.col("g1") / F.sqrt((F.col("ssr") / (F.col("k") - 2)) / F.col("sbb_dev"))
    return fit.crossJoin(F.broadcast(mkt)).select(
        F.col("k").cast("long").alias("n_nations"),
        F.round(F.col("g0"), 6).alias("gamma0_zero_beta"),
        F.round(F.col("g1"), 6).alias("gamma1_risk_premium"),
        F.round(t, 6).alias("t_gamma1"),
        F.round(F.col("mean_m"), 6).alias("mean_market"),
        (F.abs(t) > FM_Z95).alias("beta_priced"),
    )


# ---------------------------------------------------------------------------
# q_momentum_spread — cross-sectional momentum long-short backtest
# ---------------------------------------------------------------------------

MOM_LOOKBACK = 3  # formation window (months)
MOM_MIN_BOOKS = 8  # require at least this many books with signal AND next-month return
# leg size = max(2, cm // 4): quartile legs that adapt to the tradable universe


@query(
    "q_momentum_spread",
    oracle=f"""
    WITH {_PANEL_SQL},
    sig AS (
      SELECT nk, mi,
             round(sum(r) OVER (PARTITION BY nk ORDER BY mi
                                ROWS BETWEEN {MOM_LOOKBACK - 1} PRECEDING
                                         AND CURRENT ROW), 8) AS s,
             count(*) OVER (PARTITION BY nk ORDER BY mi
                            ROWS BETWEEN {MOM_LOOKBACK - 1} PRECEDING
                                     AND CURRENT ROW) AS w
      FROM nret
    ),
    tradable AS (
      SELECT sig.nk, sig.mi, sig.s, nxt.r AS rn
      FROM sig JOIN nret nxt ON nxt.nk = sig.nk AND nxt.mi = sig.mi + 1
      WHERE sig.w = {MOM_LOOKBACK}
    ),
    full_months AS (
      SELECT mi, count(*) AS cm FROM tradable
      GROUP BY mi HAVING count(*) >= {MOM_MIN_BOOKS}
    ),
    ranked AS (
      SELECT t.mi, t.rn, fm.cm,
             row_number() OVER (PARTITION BY t.mi ORDER BY t.s DESC, t.nk) AS rnk
      FROM tradable t JOIN full_months fm ON fm.mi = t.mi
    ),
    legs AS (
      SELECT mi,
             CAST(sum(CASE WHEN rnk <= greatest(2, cm // 4)
                      THEN CAST(round(rn * 1e8) AS BIGINT) END) AS DOUBLE) / 1e8
               / count(CASE WHEN rnk <= greatest(2, cm // 4) THEN 1 END) AS long_r,
             CAST(sum(CASE WHEN rnk > cm - greatest(2, cm // 4)
                      THEN CAST(round(rn * 1e8) AS BIGINT) END) AS DOUBLE) / 1e8
               / count(CASE WHEN rnk > cm - greatest(2, cm // 4) THEN 1 END)
               AS short_r
      FROM ranked
      GROUP BY mi
    ),
    spread AS (
      SELECT mi, round(long_r - short_r, 8) AS sp FROM legs
    ),
    aggm AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(sp * 1e8) AS BIGINT)) AS DOUBLE) / count(*) / 1e8
               AS mu,
             CAST(sum(CAST(round(sp * 1e8) AS HUGEINT)
                      * CAST(round(sp * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS spp,
             avg(CASE WHEN sp > 0 THEN 1.0 ELSE 0.0 END) AS hit
      FROM spread
    ),
    agg AS (
      SELECT n, mu,
             sqrt((spp - n * mu * mu) / nullif(n - 1, 0)) AS sd,
             hit
      FROM aggm
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(mu, 6) AS mean_spread,
           round(mu / nullif(sd / sqrt(n), 0.0), 6) AS t_stat,
           round(hit, 6) AS hit_rate,
           CASE WHEN mu / nullif(sd / sqrt(n), 0.0) > {FM_Z95} THEN 'momentum'
                WHEN mu / nullif(sd / sqrt(n), 0.0) < -{FM_Z95} THEN 'reversal'
                ELSE 'no_effect' END AS verdict
    FROM agg
    """,
    tags=("finance", "timeseries", "analytics", "window"),
)
def momentum_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum backtest on the nation panel: each
    month, rank books by trailing 3-month return over the TRADABLE
    universe (books with a full formation window AND a next-month
    return; months with ≥8 such books), go long the top quartile and
    short the bottom quartile (leg size max(2, ⌊cm/4⌋), adapting to
    the universe), hold one month — mean spread, t-statistic, hit rate, and the momentum /
    reversal / no-effect verdict. The portfolio-formation backtest
    pattern (formation window → cross-sectional rank → forward return)
    that none of the single-series diagnostics express; q_variance
    _ratio's mean-reversion read gets its cross-sectional counterpart.

    Scale: panel build, per-book rolling windows (partitioned by nk),
    per-month rank windows (partitioned by mi), one forward-month
    equi-join, closed-form t — panel-bounded. Signals round at 8 before
    ranking with nk tie-breaks; spreads at 8; rounded at 6."""
    nret = _nation_returns(spark, sf_dir)
    wroll = (
        Window.partitionBy("nk").orderBy("mi").rowsBetween(-(MOM_LOOKBACK - 1), 0)
    )
    sig = nret.select(
        "nk",
        "mi",
        F.round(F.sum("r").over(wroll), 8).alias("s"),
        F.count(F.lit(1)).over(wroll).alias("w"),
    ).filter(F.col("w") == MOM_LOOKBACK)
    nxt = nret.select("nk", (F.col("mi") - 1).alias("mi"), F.col("r").alias("rn"))
    tradable = sig.join(nxt, ["nk", "mi"])
    full_months = tradable.groupBy("mi").agg(F.count(F.lit(1)).alias("cm")).filter(
        F.col("cm") >= MOM_MIN_BOOKS
    )
    wr = Window.partitionBy("mi").orderBy(F.col("s").desc(), F.col("nk"))
    ranked = tradable.join(F.broadcast(full_months), "mi").select(
        "mi", "rn", "cm", F.row_number().over(wr).alias("rnk")
    )
    rn8 = F.round(F.col("rn") * 1e8).cast("long")
    long_cond = F.col("rnk") <= F.greatest(F.lit(2), (F.col("cm") / 4).cast("long"))
    short_cond = F.col("rnk") > F.col("cm") - F.greatest(
        F.lit(2), (F.col("cm") / 4).cast("long")
    )
    legs = ranked.groupBy("mi").agg(
        (
            F.sum(F.when(long_cond, rn8)).cast("double")
            / 1e8
            / F.count(F.when(long_cond, F.lit(1)))
        ).alias("long_r"),
        (
            F.sum(F.when(short_cond, rn8)).cast("double")
            / 1e8
            / F.count(F.when(short_cond, F.lit(1)))
        ).alias("short_r"),
    )
    spread = legs.select(F.round(F.col("long_r") - F.col("short_r"), 8).alias("sp"))
    sp8 = F.round(F.col("sp") * 1e8).cast("long")
    aggm = spread.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(sp8).cast("double") / F.count(F.lit(1)) / 1e8).alias("mu"),
        (F.sum(sp8.cast("decimal(19,0)") * sp8).cast("double") / 1e16).alias("spp"),
        F.avg(F.when(F.col("sp") > 0, 1.0).otherwise(0.0)).alias("hit"),
    )
    agg = aggm.select(
        "n",
        "mu",
        F.sqrt(
            (F.col("spp") - F.col("n") * F.col("mu") * F.col("mu"))
            / F.nullif(F.col("n") - 1, F.lit(0))
        ).alias("sd"),
        "hit",
    )
    t = F.col("mu") / F.nullif(
        F.col("sd") / F.sqrt(F.col("n").cast("double")), F.lit(0.0)
    )
    return agg.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("mu"), 6).alias("mean_spread"),
        F.round(t, 6).alias("t_stat"),
        F.round(F.col("hit"), 6).alias("hit_rate"),
        F.when(t > FM_Z95, F.lit("momentum"))
        .when(t < -FM_Z95, F.lit("reversal"))
        .otherwise(F.lit("no_effect"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_information_coefficient — signal-level factor evaluation (rank IC)
# ---------------------------------------------------------------------------


@query(
    "q_information_coefficient",
    oracle=f"""
    WITH {_PANEL_SQL},
    sig AS (
      SELECT nk, mi,
             round(sum(r) OVER (PARTITION BY nk ORDER BY mi
                                ROWS BETWEEN {MOM_LOOKBACK - 1} PRECEDING
                                         AND CURRENT ROW), 8) AS s,
             count(*) OVER (PARTITION BY nk ORDER BY mi
                            ROWS BETWEEN {MOM_LOOKBACK - 1} PRECEDING
                                     AND CURRENT ROW) AS w
      FROM nret
    ),
    tradable AS (
      SELECT sig.nk, sig.mi, sig.s, nxt.r AS rn
      FROM sig JOIN nret nxt ON nxt.nk = sig.nk AND nxt.mi = sig.mi + 1
      WHERE sig.w = {MOM_LOOKBACK}
    ),
    full_months AS (
      SELECT mi, count(*) AS cm FROM tradable
      GROUP BY mi HAVING count(*) >= {MOM_MIN_BOOKS}
    ),
    ranked AS (
      SELECT t.mi, fm.cm,
             row_number() OVER (PARTITION BY t.mi ORDER BY t.s, t.nk) AS rs,
             row_number() OVER (PARTITION BY t.mi ORDER BY t.rn, t.nk) AS rr
      FROM tradable t JOIN full_months fm ON fm.mi = t.mi
    ),
    ic AS (
      SELECT mi,
             round(1.0 - 6.0 * sum((rs - rr) * 1.0 * (rs - rr))
                   / (max(cm) * (max(cm) * 1.0 * max(cm) - 1.0)), 8) AS ic
      FROM ranked GROUP BY mi
    ),
    aggm AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(ic * 1e8) AS BIGINT)) AS DOUBLE) / count(*) / 1e8
               AS mu,
             CAST(sum(CAST(round(ic * 1e8) AS HUGEINT)
                      * CAST(round(ic * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS icc,
             avg(CASE WHEN ic > 0 THEN 1.0 ELSE 0.0 END) AS pos
      FROM ic
    ),
    agg AS (
      SELECT n, mu,
             sqrt((icc - n * mu * mu) / nullif(n - 1, 0)) AS sd,
             pos
      FROM aggm
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(mu, 6) AS mean_ic,
           round(mu / nullif(sd / sqrt(n), 0.0), 6) AS ic_t_stat,
           round(pos, 6) AS pct_positive,
           round(mu / nullif(sd, 0.0), 6) AS ic_ir
    FROM agg
    """,
    tags=("finance", "ml", "eval", "analytics"),
)
def information_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank information coefficient of the trailing-3-month momentum
    signal: per month, the Spearman correlation between signal ranks
    and NEXT-month return ranks over the tradable universe; reported as
    mean IC, its t-statistic, the hit rate, and the IC information
    ratio (mean/σ — the signal's "IR" in factor-research convention).
    This is SIGNAL-level evaluation — q_momentum_spread tests a
    portfolio construction; IC tests the raw ranking power that every
    construction inherits, which is why factor research leads with it.

    Scale: the q_momentum_spread tradable machinery + two per-month
    rank windows (partitioned, nk tie-breaks) + the per-month Spearman
    closed form on exact integer ranks — panel-bounded, rounded at 6."""
    nret = _nation_returns(spark, sf_dir)
    wroll = Window.partitionBy("nk").orderBy("mi").rowsBetween(-(MOM_LOOKBACK - 1), 0)
    sig = nret.select(
        "nk",
        "mi",
        F.round(F.sum("r").over(wroll), 8).alias("s"),
        F.count(F.lit(1)).over(wroll).alias("w"),
    ).filter(F.col("w") == MOM_LOOKBACK)
    nxt = nret.select("nk", (F.col("mi") - 1).alias("mi"), F.col("r").alias("rn"))
    tradable = sig.join(nxt, ["nk", "mi"])
    full_months = tradable.groupBy("mi").agg(F.count(F.lit(1)).alias("cm")).filter(
        F.col("cm") >= MOM_MIN_BOOKS
    )
    ws = Window.partitionBy("mi").orderBy("s", "nk")
    wr = Window.partitionBy("mi").orderBy("rn", "nk")
    ranked = tradable.join(F.broadcast(full_months), "mi").select(
        "mi",
        "cm",
        F.row_number().over(ws).alias("rs"),
        F.row_number().over(wr).alias("rr"),
    )
    ic = ranked.groupBy("mi").agg(
        F.round(
            1.0
            - 6.0
            * F.sum((F.col("rs") - F.col("rr")) * 1.0 * (F.col("rs") - F.col("rr")))
            / (F.max("cm") * (F.max("cm") * 1.0 * F.max("cm") - 1.0)),
            8,
        ).alias("ic")
    )
    ic8 = F.round(F.col("ic") * 1e8).cast("long")
    aggm = ic.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(ic8).cast("double") / F.count(F.lit(1)) / 1e8).alias("mu"),
        (F.sum(ic8.cast("decimal(19,0)") * ic8).cast("double") / 1e16).alias("icc"),
        F.avg(F.when(F.col("ic") > 0, 1.0).otherwise(0.0)).alias("pos"),
    )
    agg = aggm.select(
        "n",
        "mu",
        F.sqrt(
            (F.col("icc") - F.col("n") * F.col("mu") * F.col("mu"))
            / F.nullif(F.col("n") - 1, F.lit(0))
        ).alias("sd"),
        "pos",
    )
    t = F.col("mu") / F.nullif(F.col("sd") / F.sqrt(F.col("n").cast("double")), F.lit(0.0))
    return agg.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("mu"), 6).alias("mean_ic"),
        F.round(t, 6).alias("ic_t_stat"),
        F.round(F.col("pos"), 6).alias("pct_positive"),
        F.round(F.col("mu") / F.nullif(F.col("sd"), F.lit(0.0)), 6).alias("ic_ir"),
    )
