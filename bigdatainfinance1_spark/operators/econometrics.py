"""Econometric diagnostics (round 4, wave: regression/time-series tests):
the battery a quant or forecasting pipeline runs BEFORE trusting a model —
normality (Jarque-Bera), residual autocorrelation (Durbin-Watson,
Ljung-Box), stationarity (Dickey-Fuller), random-walk behavior
(Lo-MacKinlay variance ratio, Wald-Wolfowitz runs), heteroskedasticity
(Breusch-Pagan), HAC-robust inference (Newey-West), and the two-series
layer: Granger causality and Engle-Granger cointegration between monthly
revenue and monthly shipped quantity.

Scale notes: every query reduces the corpus to the O(calendar) monthly
series (~80 rows) in ONE aggregate scan (two scans for the two-series
queries — orders and lineitem); all subsequent work is calendar-bounded
and corpus-size-independent: lag equi-joins on the dense month index
(broadcast, no windows), one moment aggregate, closed forms. At 100 TB
the only cost that grows is the initial map-side-combinable monthly
aggregate.

Determinism: the monthly observations are rounded at 6 before anything
else (exact on both engines); demeaned/residual state is rounded at 8
before any product; moments divide by a fixed n so ratios are
engine-identical to ulp; outputs round at 6, orders of magnitude above
the ~1e-13 summation-order noise of an 80-term double sum. Critical
values are fixed literals (normal/chi-square/DF percentiles), so verdict
strings are pure CASE over already-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.operators.ts_mining import _MONTHLY_SQL, _monthly
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

Z95 = 1.959964  # two-sided 5% normal
CHI2_1_95 = 3.841459  # chi-square 1 df, 5%
CHI2_2_95 = 5.991465  # chi-square 2 df, 5%
CHI2_6_95 = 12.591587  # chi-square 6 df, 5%
ADF_CRIT_5 = -2.89  # Dickey-Fuller tau-mu 5% (constant, n ~ 75-100)
EG_CRIT_5 = -3.37  # Engle-Granger 5% (2 variables, constant)
F_1_CRIT_5 = 3.974  # F(1, ~72) 5% — conservative for the ~80-month panel


def _with_lags(idx: DataFrame, lags: int, col: str = "z") -> DataFrame:
    """Broadcast lag equi-joins on the dense month index (the relation is
    O(calendar); no window, no sort) — the Spark twin of the oracles'
    ``LEFT JOIN idx bK ON bK.i = a.i - K`` chains."""
    out = idx.select("i", F.col(col).alias("z0"))
    for k in range(1, lags + 1):
        out = out.join(
            F.broadcast(
                idx.select((F.col("i") + k).alias("i"), F.col(col).alias(f"zl{k}"))
            ),
            "i",
            "left",
        )
    return out


# ---------------------------------------------------------------------------
# q_jarque_bera — normality of monthly revenue via skewness/kurtosis
# ---------------------------------------------------------------------------


@query(
    "q_jarque_bera",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    gmom AS (SELECT count(*) AS n,
                    round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                          / count(*) / 1e6, 8) AS mu
             FROM idx),
    xc AS (
      SELECT CAST(round(round(idx.z - gmom.mu, 8) * 1e6) AS BIGINT) AS x6, gmom.n
      FROM idx CROSS JOIN gmom
    ),
    sig AS (
      SELECT max(n) AS n,
             round(sqrt(CAST(sum(CAST(x6 AS HUGEINT) * x6) AS DOUBLE)
                        / 1e12 / max(n)), 8) AS sigma
      FROM xc
    ),
    uc AS (
      SELECT CAST(round(round(idx.z - gmom.mu, 8) / sig.sigma * 1e6) AS BIGINT)
               AS u6, sig.n
      FROM idx CROSS JOIN gmom CROSS JOIN sig
    ),
    mom AS (
      SELECT max(n) AS n,
             CAST(sum(CAST(u6 AS HUGEINT) * u6) AS DOUBLE) / 1e12 / max(n) AS m2,
             CAST(sum(CAST(u6 AS HUGEINT) * u6 * u6) AS DOUBLE) / 1e18 / max(n) AS m3,
             CAST(sum(CAST(u6 AS HUGEINT) * u6 * u6 * u6) AS DOUBLE) / 1e24 / max(n)
               AS m4
      FROM uc
    ),
    sk AS (
      SELECT n, m3 / (m2 * sqrt(m2)) AS s, m4 / (m2 * m2) - 3.0 AS k FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(s, 6) AS skewness,
           round(k, 6) AS excess_kurtosis,
           round(n / 6.0 * (s * s + k * k / 4.0), 6) AS jb_stat,
           CASE WHEN n / 6.0 * (s * s + k * k / 4.0) > {CHI2_2_95}
                THEN 'non_normal' ELSE 'normal' END AS verdict
    FROM sk
    """,
    tags=("stats", "timeseries", "finance"),
)
def jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on monthly revenue: JB = n/6·(S² +
    K²/4) from the sample skewness S = m₃/m₂^1.5 and excess kurtosis
    K = m₄/m₂² − 3, against the chi-square(2) 5% critical value — the
    gate every Gaussian-assuming downstream (q_welch_ttest's intervals,
    q_black_scholes' lognormal returns, q_var_cvar's parametric twin)
    should run first.

    Scale: one map-side-combinable monthly aggregate reduces the corpus
    to O(calendar) rows; moments and the statistic are closed forms on a
    1-row relation. Deviations round at 8 before powers; all four
    moments share the fixed divisor n, so S and K are engine-identical
    to ulp, rounded at 6.

    Round-7 overflow fix (caught by the 10x tier, the ALS-precedent):
    the original 3rd/4th power sums ran on raw revenue deviations, whose
    1e-6-grain integers GROW with corpus revenue — at 10x the quartic
    sum exceeded Decimal(38,0) and ANSI Spark raised where DuckDB's
    HUGEINT still fit. Skewness and kurtosis are scale-invariant, so the
    power sums now run on STANDARDIZED deviations u = (z - mu)/sigma
    (sigma from a quadratic-only first pass, rounded at 8; sqrt and the
    division are correctly-rounded IEEE, so u's 1e-6-grain integer is
    engine-identical): |u| <= sqrt(n) with n calendar-bounded, so
    sum(u6^4) <= n * (sqrt(n)*1e6)^4 ~ 1e29 at any corpus size."""
    # Integer-moments recipe (round-6 emission rule): deviations snap to
    # 1e-6-grain BIGINTs; the power sums are exact decimal(38,0)/HUGEINT
    # integers, then divide by the grain power FIRST, then n — identical
    # doubles on both engines in any summation order.
    idx = _monthly(spark, sf_dir)
    gmom = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round(F.col("z") * 1e6).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e6,
            8,
        ).alias("mu"),
    )
    xc = idx.crossJoin(F.broadcast(gmom)).select(
        F.round(F.round(F.col("z") - F.col("mu"), 8) * 1e6).cast("long").alias("x6"),
        "n",
    )
    x6d = F.col("x6").cast("decimal(38,0)")
    sig = xc.agg(
        F.max("n").alias("n"),
        F.round(
            F.sqrt(F.sum(x6d * F.col("x6")).cast("double") / 1e12 / F.max("n")), 8
        ).alias("sigma"),
    )
    uc = idx.crossJoin(F.broadcast(gmom)).crossJoin(F.broadcast(sig.select("sigma"))).select(
        F.round(F.round(F.col("z") - F.col("mu"), 8) / F.col("sigma") * 1e6)
        .cast("long")
        .alias("u6"),
        "n",
    )
    u6d = F.col("u6").cast("decimal(38,0)")
    mom = uc.agg(
        F.max("n").alias("n"),
        (F.sum(u6d * F.col("u6")).cast("double") / 1e12 / F.max("n")).alias("m2"),
        (F.sum(u6d * F.col("u6") * F.col("u6")).cast("double") / 1e18 / F.max("n")).alias(
            "m3"
        ),
        (
            F.sum(u6d * F.col("u6") * F.col("u6") * F.col("u6")).cast("double")
            / 1e24
            / F.max("n")
        ).alias("m4"),
    )
    sk = mom.select(
        "n",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("s"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0).alias("k"),
    )
    jb = F.col("n") / 6.0 * (F.col("s") * F.col("s") + F.col("k") * F.col("k") / 4.0)
    return sk.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("s"), 6).alias("skewness"),
        F.round(F.col("k"), 6).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        F.when(jb > CHI2_2_95, F.lit("non_normal")).otherwise(F.lit("normal")).alias(
            "verdict"
        ),
    )


# ---------------------------------------------------------------------------
# q_durbin_watson — serial correlation of trend-regression residuals
# ---------------------------------------------------------------------------

def _trend_moments(idx: DataFrame) -> DataFrame:
    """Spark twin of _DW_RESID_SQL's hardened `mom` CTE (see its comment):
    i-only sums are exact integer-valued doubles; the z-bearing sums snap
    z to 1e-6-grain BIGINTs (exact in any order), then divide by the
    grain. Shared by durbin_watson / breusch_pagan / influence."""
    z6 = F.round(F.col("z") * 1e6).cast("long")
    return idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i") * 1.0).alias("si"),
        (F.sum(z6).cast("double") / 1e6).alias("sz"),
        F.sum(F.col("i") * 1.0 * F.col("i")).alias("sii"),
        (F.sum(F.col("i") * z6).cast("double") / 1e6).alias("siz"),
    )


# Integer-moments hardening (round-6 emission rule): i-only sums are
# exact integers in double; the z-bearing sums (sz, siz) snap z to a
# 1e-6-grain BIGINT first so they are exact in any order, then divide by
# the grain — identical doubles on both engines. Shared by durbin_watson,
# breusch_pagan and influence_diagnostics (their Spark twins mirror it
# via _trend_moments).
_DW_RESID_SQL = f"""
    {_MONTHLY_SQL},
    mom AS (
      SELECT count(*) AS n, sum(i * 1.0) AS si,
             CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sz,
             sum(i * 1.0 * i) AS sii,
             CAST(sum(i * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS siz
      FROM idx
    ),
    fit AS (
      SELECT n,
             (n * siz - si * sz) / (n * sii - si * si) AS beta,
             (sz - (n * siz - si * sz) / (n * sii - si * si) * si) / n AS alpha
      FROM mom
    ),
    resid AS (
      SELECT idx.i, round(idx.z - fit.alpha - fit.beta * idx.i, 8) AS e, fit.n,
             round(fit.beta, 6) AS beta6
      FROM idx CROSS JOIN fit
    )"""


@query(
    "q_durbin_watson",
    oracle=f"""
    WITH {_DW_RESID_SQL},
    dw AS (
      SELECT max(a.n) AS n, max(a.beta6) AS beta6,
             CAST(sum(CASE WHEN b.e IS NOT NULL THEN
                    CAST(round((a.e - b.e) * 1e8) AS HUGEINT)
                    * CAST(round((a.e - b.e) * 1e8) AS BIGINT) END) AS DOUBLE)
               / CAST(sum(CAST(round(a.e * 1e8) AS HUGEINT)
                          * CAST(round(a.e * 1e8) AS BIGINT)) AS DOUBLE) AS d
      FROM resid a LEFT JOIN resid b ON b.i = a.i - 1
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           beta6 AS beta_trend,
           round(d, 6) AS dw_stat,
           CASE WHEN d < 1.5 THEN 'positive_autocorr'
                WHEN d > 2.5 THEN 'negative_autocorr'
                ELSE 'none_detected' END AS verdict
    FROM dw
    """,
    tags=("stats", "timeseries"),
)
def durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation test on the residuals of the
    monthly-revenue-on-time OLS trend: d = Σ(eᵢ−eᵢ₋₁)²/Σeᵢ² ≈ 2(1−ρ̂₁)
    — the classic first regression diagnostic (d → 2 under independence;
    the 1.5/2.5 read is the standard quick-reference band for n ≈ 80,
    documented in place of the tabulated dL/dU bounds).

    Scale: monthly aggregate, one 5-moment fit, one residual pass, one
    broadcast lag equi-join — all calendar-bounded past the first scan.
    Residuals round at 8 before the squared-difference products; the
    ratio divides identical doubles, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    mom = _trend_moments(idx)
    beta = (F.col("n") * F.col("siz") - F.col("si") * F.col("sz")) / (
        F.col("n") * F.col("sii") - F.col("si") * F.col("si")
    )
    fit = mom.select(
        "n",
        beta.alias("beta"),
        ((F.col("sz") - beta * F.col("si")) / F.col("n")).alias("alpha"),
    )
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "i",
        F.round(F.col("z") - F.col("alpha") - F.col("beta") * F.col("i"), 8).alias("e"),
        "n",
        F.round(F.col("beta"), 6).alias("beta6"),
    )
    lagged = resid.select("i", F.col("e").alias("ea"), "n", "beta6").join(
        F.broadcast(resid.select((F.col("i") + 1).alias("i"), F.col("e").alias("eb"))),
        "i",
        "left",
    )
    # exact integer squared sums (1e-8-grain residuals, decimal/HUGEINT
    # products) — the ratio's grains cancel, both engines divide the same
    # exact-int-derived doubles
    de8 = F.round((F.col("ea") - F.col("eb")) * 1e8).cast("long")
    e8 = F.round(F.col("ea") * 1e8).cast("long")
    dw = lagged.agg(
        F.max("n").alias("n"),
        F.max("beta6").alias("beta6"),
        (
            F.sum(F.when(F.col("eb").isNotNull(), de8.cast("decimal(19,0)") * de8))
            .cast("double")
            / F.sum(e8.cast("decimal(19,0)") * e8).cast("double")
        ).alias("d"),
    )
    return dw.select(
        F.col("n").cast("long").alias("n_months"),
        F.col("beta6").alias("beta_trend"),
        F.round(F.col("d"), 6).alias("dw_stat"),
        F.when(F.col("d") < 1.5, F.lit("positive_autocorr"))
        .when(F.col("d") > 2.5, F.lit("negative_autocorr"))
        .otherwise(F.lit("none_detected"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_breusch_pagan — heteroskedasticity of the same trend regression
# ---------------------------------------------------------------------------


@query(
    "q_breusch_pagan",
    oracle=f"""
    WITH {_DW_RESID_SQL},
    sig AS (
      SELECT max(n) AS n,
             round(sqrt(CAST(sum(CAST(round(e * 1e6) AS HUGEINT)
                                 * CAST(round(e * 1e6) AS BIGINT)) AS DOUBLE)
                        / 1e12 / max(n)), 8) AS s
      FROM resid
    ),
    u AS (
      SELECT resid.i,
             CAST(round(resid.e / sig.s * 1e6) AS BIGINT) AS u6,
             sig.n
      FROM resid CROSS JOIN sig
    ),
    aux AS (
      SELECT max(n) AS n,
             count(*) * sum(i * 1.0 * i) - sum(i * 1.0) * sum(i * 1.0) AS sii_c,
             count(*) * (CAST(sum(i * (CAST(u6 AS HUGEINT) * u6)) AS DOUBLE) / 1e12)
               - sum(i * 1.0)
                 * (CAST(sum(CAST(u6 AS HUGEINT) * u6) AS DOUBLE) / 1e12)
               AS siy_c,
             count(*) * (CAST(sum(CAST(u6 AS HUGEINT) * u6 * u6 * u6) AS DOUBLE)
                         / 1e24)
               - (CAST(sum(CAST(u6 AS HUGEINT) * u6) AS DOUBLE) / 1e12)
                 * (CAST(sum(CAST(u6 AS HUGEINT) * u6) AS DOUBLE) / 1e12)
               AS syy_c
      FROM u
    ),
    bp AS (
      SELECT n, (siy_c * siy_c) / (sii_c * syy_c) AS r2 FROM aux
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(r2, 6) AS aux_r2,
           round(n * r2, 6) AS bp_stat,
           CASE WHEN n * r2 > {CHI2_1_95} THEN 'heteroskedastic'
                ELSE 'homoskedastic' END AS verdict
    FROM bp
    """,
    tags=("stats", "timeseries"),
)
def breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan (Koenker studentized form) heteroskedasticity test:
    regress the squared trend residuals e² on time and report LM =
    n·R²_aux against chi-square(1) — whether revenue volatility itself
    trends, which decides between the OLS and the weighted/HAC variants
    (q_newey_west) for any inference on the trend slope.

    Scale: shares q_durbin_watson's residual machinery (monthly
    aggregate → 5-moment fit → residual pass); the auxiliary R² is one
    centered-moment closed form on a 1-row relation. Residuals round at
    8 before squaring, so e² is engine-identical; the R² ratio divides
    identical doubles, rounded at 6.

    Round-7 overflow fix (the q_jarque_bera precedent, caught by the 10x
    tier): the quartic sum ran on raw residual grains that grow with
    corpus revenue and blew Decimal(38,0) at 10x on ANSI Spark. R² — and
    hence LM = n·R² — is invariant under scaling the residuals, so the
    aux moments now run on STANDARDIZED residuals u = e/s (s = RMS of e
    from a quadratic-only pass, rounded at 8; sqrt/division are
    correctly-rounded IEEE so u's 1e-6-grain integer is engine-
    identical): |u| <= sqrt(n), n calendar-bounded, quartic sum ~1e29 at
    any corpus size."""
    idx = _monthly(spark, sf_dir)
    mom = _trend_moments(idx)
    beta = (F.col("n") * F.col("siz") - F.col("si") * F.col("sz")) / (
        F.col("n") * F.col("sii") - F.col("si") * F.col("si")
    )
    fit = mom.select(
        "n",
        beta.alias("beta"),
        ((F.col("sz") - beta * F.col("si")) / F.col("n")).alias("alpha"),
    )
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "i",
        F.round(F.col("z") - F.col("alpha") - F.col("beta") * F.col("i"), 8).alias("e"),
        "n",
    )
    # integer aux moments (1e-6-grain STANDARDIZED residuals; decimal/
    # HUGEINT powers; divide by the grain power BEFORE the centering
    # combination) — exact in any order, mirrors the oracle term for term
    e6 = F.round(F.col("e") * 1e6).cast("long")
    e6d = e6.cast("decimal(38,0)")
    sig = resid.agg(
        F.round(
            F.sqrt(
                F.sum(e6d * e6).cast("double") / 1e12 / F.max("n")
            ),
            8,
        ).alias("s")
    )
    resid = resid.crossJoin(F.broadcast(sig)).select(
        "i",
        F.round(F.col("e") / F.col("s") * 1e6).cast("long").alias("u6"),
        "n",
    )
    u6 = F.col("u6")
    u6d = u6.cast("decimal(38,0)")
    s_e2 = F.sum(u6d * u6).cast("double") / 1e12
    s_ie2 = F.sum(F.col("i") * (u6d * u6)).cast("double") / 1e12
    s_e4 = F.sum(u6d * u6 * u6 * u6).cast("double") / 1e24
    aux = resid.agg(
        F.max("n").alias("n"),
        (
            F.count(F.lit(1)) * F.sum(F.col("i") * 1.0 * F.col("i"))
            - F.sum(F.col("i") * 1.0) * F.sum(F.col("i") * 1.0)
        ).alias("sii_c"),
        (F.count(F.lit(1)) * s_ie2 - F.sum(F.col("i") * 1.0) * s_e2).alias("siy_c"),
        (F.count(F.lit(1)) * s_e4 - s_e2 * s_e2).alias("syy_c"),
    )
    bp = aux.select(
        "n",
        ((F.col("siy_c") * F.col("siy_c")) / (F.col("sii_c") * F.col("syy_c"))).alias(
            "r2"
        ),
    )
    return bp.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("r2"), 6).alias("aux_r2"),
        F.round(F.col("n") * F.col("r2"), 6).alias("bp_stat"),
        F.when(F.col("n") * F.col("r2") > CHI2_1_95, F.lit("heteroskedastic"))
        .otherwise(F.lit("homoskedastic"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_ljung_box — portmanteau whiteness test at lags 1..6
# ---------------------------------------------------------------------------

LB_LAGS = 6


@query(
    "q_ljung_box",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    gmom AS (SELECT count(*) AS n,
                    round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                          / count(*) / 1e6, 8) AS mu
             FROM idx),
    xc AS (
      SELECT idx.i,
             CAST(round(round(idx.z - gmom.mu, 8) * 1e8) AS BIGINT) AS x8,
             gmom.n
      FROM idx CROSS JOIN gmom
    ),
    g AS (
      SELECT max(a.n) AS n,
             CAST(sum(CAST(a.x8 AS HUGEINT) * a.x8) AS DOUBLE) / 1e16 / max(a.n)
               AS g0,
             {", ".join(
                 f"CAST(sum(CASE WHEN b{k}.x8 IS NOT NULL THEN"
                 f" CAST(a.x8 AS HUGEINT) * b{k}.x8 END) AS DOUBLE)"
                 f" / 1e16 / max(a.n) AS g{k}" for k in range(1, LB_LAGS + 1)
             )}
      FROM xc a
      {" ".join(f"LEFT JOIN xc b{k} ON b{k}.i = a.i - {k}" for k in range(1, LB_LAGS + 1))}
    ),
    q AS (
      SELECT n,
             n * (n + 2.0) * (
               {" + ".join(f"(g{k} / g0) * (g{k} / g0) / (n - {k})" for k in range(1, LB_LAGS + 1))}
             ) AS q_stat,
             g1 / g0 AS r1
      FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(r1, 6) AS acf_1,
           round(q_stat, 6) AS q_stat,
           CAST({LB_LAGS} AS BIGINT) AS df,
           CASE WHEN q_stat > {CHI2_6_95} THEN 'autocorrelated'
                ELSE 'white_noise' END AS verdict
    FROM q
    """,
    tags=("stats", "timeseries"),
)
def ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on monthly revenue: Q = n(n+2)·
    Σₖ r²ₖ/(n−k) over lags 1..6 against chi-square(6) — the joint
    whiteness test that complements the per-lag reads (q_autocorrelation
    gives the r_k; q_pacf separates direct effects; this answers "is
    there ANY linear structure at all" with one number.

    Scale: monthly aggregate, six broadcast lag equi-joins on the dense
    month index, one moment aggregate, closed form — calendar-bounded.
    Deviations round at 8; autocovariances share the fixed divisor n so
    each r_k is engine-identical to ulp, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    gmom = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round(F.col("z") * 1e6).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e6,
            8,
        ).alias("mu"),
    )
    # 1e-8-grain integer deviations; autocovariance products are exact
    # decimal/HUGEINT sums divided by grain^2 then n — order-free,
    # mirroring the oracle's xc/g CTEs (round-6 emission rule)
    xc = idx.crossJoin(F.broadcast(gmom)).select(
        "i",
        F.round(F.round(F.col("z") - F.col("mu"), 8) * 1e8).cast("long").alias("x8"),
        "n",
    )
    a = _with_lags(xc, LB_LAGS, col="x8")
    a = a.join(F.broadcast(xc.select("i", "n")), "i")
    z0d = F.col("z0").cast("decimal(19,0)")
    aggs = [
        F.max("n").alias("n"),
        (F.sum(z0d * F.col("z0")).cast("double") / 1e16 / F.max("n")).alias("g0"),
    ]
    for k in range(1, LB_LAGS + 1):
        aggs.append(
            (F.sum(z0d * F.col(f"zl{k}")).cast("double") / 1e16 / F.max("n")).alias(
                f"g{k}"
            )
        )
    g = a.agg(*aggs)
    qsum = None
    for k in range(1, LB_LAGS + 1):
        rk2 = (F.col(f"g{k}") / F.col("g0")) * (F.col(f"g{k}") / F.col("g0"))
        term = rk2 / (F.col("n") - k)
        qsum = term if qsum is None else qsum + term
    q = g.select(
        "n",
        (F.col("n") * (F.col("n") + 2.0) * qsum).alias("q_stat"),
        (F.col("g1") / F.col("g0")).alias("r1"),
    )
    return q.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("r1"), 6).alias("acf_1"),
        F.round(F.col("q_stat"), 6).alias("q_stat"),
        F.lit(LB_LAGS).cast("long").alias("df"),
        F.when(F.col("q_stat") > CHI2_6_95, F.lit("autocorrelated"))
        .otherwise(F.lit("white_noise"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_adf_test — Dickey-Fuller unit-root test (constant, no augmentation)
# ---------------------------------------------------------------------------


@query(
    "q_adf_test",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    d AS (
      SELECT a.i, CAST(round(b.z * 1e6) AS BIGINT) AS x6,
             CAST(round(round(a.z - b.z, 6) * 1e6) AS BIGINT) AS dy6
      FROM idx a JOIN idx b ON b.i = a.i - 1
    ),
    mm AS (
      SELECT count(*) AS nd,
             CAST(sum(x6) AS DOUBLE) / 1e6 AS sx,
             CAST(sum(dy6) AS DOUBLE) / 1e6 AS sy,
             CAST(sum(CAST(x6 AS HUGEINT) * x6) AS DOUBLE) / 1e12 AS sxx,
             CAST(sum(CAST(x6 AS HUGEINT) * dy6) AS DOUBLE) / 1e12 AS sxy,
             CAST(sum(CAST(dy6 AS HUGEINT) * dy6) AS DOUBLE) / 1e12 AS syy
      FROM d
    ),
    c AS (
      SELECT nd,
             nd * sxx - sx * sx AS sxx_c,
             nd * sxy - sx * sy AS sxy_c,
             nd * syy - sy * sy AS syy_c,
             sx, sy
      FROM mm
    ),
    fit AS (
      SELECT nd, sxy_c / sxx_c AS gamma,
             (syy_c - (sxy_c / sxx_c) * sxy_c) / nd AS ssr,
             sxx_c / nd AS sxx_dev
      FROM c
    )
    SELECT CAST(nd AS BIGINT) AS n_obs,
           round(gamma, 6) AS gamma,
           round(gamma / sqrt((ssr / (nd - 2)) / sxx_dev), 6) AS t_stat,
           CASE WHEN gamma / sqrt((ssr / (nd - 2)) / sxx_dev) < {ADF_CRIT_5}
                THEN 'stationary' ELSE 'unit_root' END AS verdict
    FROM fit
    """,
    tags=("stats", "timeseries", "finance"),
)
def adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test on monthly revenue (constant, zero
    augmentation lags — the DF special case of the ADF family): regress
    Δzᵢ on zᵢ₋₁, report γ̂ and its t-statistic against the tau-mu 5%
    critical value −2.89 — the stationarity gate every ARMA-style
    modeling step (q_pacf's order selection, q_holt_smoothing's level
    assumption) implicitly depends on.

    Scale: monthly aggregate, one broadcast lag equi-join, one 6-moment
    aggregate, closed-form OLS slope + standard error — all
    calendar-bounded. Δz is a difference of 6-dp values (exact); the
    centered moments, SSR and t are one expression shape of identical
    doubles on both engines, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    # 1e-6-grain integer moments (round-6 emission rule), mirroring the
    # oracle's d/mm CTEs: exact sums in any order, divide by the grain
    # power, then the closed forms see identical doubles on both engines
    d = (
        idx.select("i", F.col("z").alias("za"))
        .join(
            F.broadcast(idx.select((F.col("i") + 1).alias("i"), F.col("z").alias("x"))),
            "i",
        )
        .select(
            "i",
            F.round(F.col("x") * 1e6).cast("long").alias("x6"),
            F.round(F.round(F.col("za") - F.col("x"), 6) * 1e6)
            .cast("long")
            .alias("dy6"),
        )
    )
    x6d = F.col("x6").cast("decimal(19,0)")
    dy6d = F.col("dy6").cast("decimal(19,0)")
    m = d.agg(
        F.count(F.lit(1)).alias("nd"),
        (F.sum("x6").cast("double") / 1e6).alias("sx"),
        (F.sum("dy6").cast("double") / 1e6).alias("sy"),
        (F.sum(x6d * F.col("x6")).cast("double") / 1e12).alias("sxx"),
        (F.sum(x6d * F.col("dy6")).cast("double") / 1e12).alias("sxy"),
        (F.sum(dy6d * F.col("dy6")).cast("double") / 1e12).alias("syy"),
    )
    c = m.select(
        "nd",
        (F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("sxx_c"),
        (F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("sxy_c"),
        (F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")).alias("syy_c"),
    )
    gamma = F.col("sxy_c") / F.col("sxx_c")
    fit = c.select(
        "nd",
        gamma.alias("gamma"),
        ((F.col("syy_c") - gamma * F.col("sxy_c")) / F.col("nd")).alias("ssr"),
        (F.col("sxx_c") / F.col("nd")).alias("sxx_dev"),
    )
    t = F.col("gamma") / F.sqrt(
        (F.col("ssr") / (F.col("nd") - 2)) / F.col("sxx_dev")
    )
    return fit.select(
        F.col("nd").cast("long").alias("n_obs"),
        F.round(F.col("gamma"), 6).alias("gamma"),
        F.round(t, 6).alias("t_stat"),
        F.when(t < ADF_CRIT_5, F.lit("stationary"))
        .otherwise(F.lit("unit_root"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_variance_ratio — Lo-MacKinlay random-walk test at horizon q=4
# ---------------------------------------------------------------------------

VR_Q = 4

def _ret_moments(r) -> DataFrame:
    """Spark twin of _RET_SQL's hardened rmom: the return mean sums exact
    1e-6-grain BIGINTs (round-6 emission rule)."""
    return r.agg(
        F.count(F.lit(1)).alias("nr"),
        F.round(
            F.sum(F.round(F.col("r") * 1e6).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e6,
            8,
        ).alias("mu"),
    )


# mu hardened to an exact integer sum (round-6 emission rule); Spark
# twins mirror via _ret_moments
_RET_SQL = """
    r AS (
      SELECT a.i, round(a.z - b.z, 6) AS r
      FROM idx a JOIN idx b ON b.i = a.i - 1
    ),
    rmom AS (SELECT count(*) AS nr,
                    round(CAST(sum(CAST(round(r * 1e6) AS BIGINT)) AS DOUBLE)
                          / count(*) / 1e6, 8) AS mu
             FROM r)
"""


@query(
    "q_variance_ratio",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    {_RET_SQL},
    v1 AS (
      SELECT CAST(sum(CAST(round((r.r - rmom.mu) * 1e8) AS HUGEINT)
                      * CAST(round((r.r - rmom.mu) * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / (max(rmom.nr) - 1) AS var1,
             max(rmom.nr) AS nr, max(rmom.mu) AS mu
      FROM r CROSS JOIN rmom
    ),
    s4 AS (
      SELECT a.i, a.r + b1.r + b2.r + b3.r AS s
      FROM r a
      JOIN r b1 ON b1.i = a.i + 1
      JOIN r b2 ON b2.i = a.i + 2
      JOIN r b3 ON b3.i = a.i + 3
    ),
    v4 AS (
      SELECT CAST(sum(CAST(round((s4.s - {VR_Q} * v1.mu) * 1e8) AS HUGEINT)
                      * CAST(round((s4.s - {VR_Q} * v1.mu) * 1e8) AS BIGINT))
                  AS DOUBLE)
               / 1e16 / (count(*) - 1) AS var4,
             max(v1.var1) AS var1, max(v1.nr) AS nr
      FROM s4 CROSS JOIN v1
    ),
    vr AS (
      SELECT nr, var4 / ({VR_Q} * var1) AS vr FROM v4
    )
    SELECT CAST(nr AS BIGINT) AS n_obs,
           round(vr, 6) AS vr_4,
           round(sqrt(nr) * (vr - 1.0)
                 / sqrt(2.0 * (2 * {VR_Q} - 1) * ({VR_Q} - 1) / (3.0 * {VR_Q})), 6)
             AS z_stat,
           CASE WHEN sqrt(nr) * (vr - 1.0)
                     / sqrt(2.0 * (2 * {VR_Q} - 1) * ({VR_Q} - 1) / (3.0 * {VR_Q}))
                     < -{Z95} THEN 'mean_reverting'
                WHEN sqrt(nr) * (vr - 1.0)
                     / sqrt(2.0 * (2 * {VR_Q} - 1) * ({VR_Q} - 1) / (3.0 * {VR_Q}))
                     > {Z95} THEN 'trending'
                ELSE 'random_walk' END AS verdict
    FROM vr
    """,
    tags=("stats", "timeseries", "finance"),
)
def variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test at horizon q=4 on monthly revenue
    changes: VR(4) = Var(4-month overlapping sums)/(4·Var(1-month)) with
    the homoskedastic asymptotic z = sqrt(n)(VR−1)/sqrt(2(2q−1)(q−1)/3q)
    — VR < 1 flags mean reversion, VR > 1 momentum; the finance-native
    complement to q_adf_test (which tests the unit root itself, not the
    horizon-scaling of variance).

    Scale: monthly aggregate → O(calendar) return series; the 4-sums are
    three broadcast lag equi-joins on the dense index; two variance
    aggregates, closed forms. Returns are differences of 6-dp values
    (exact); sums of four such are exact; both variance estimators share
    expression shape, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    r = (
        idx.select("i", F.col("z").alias("za"))
        .join(
            F.broadcast(
                idx.select((F.col("i") + 1).alias("i"), F.col("z").alias("zb"))
            ),
            "i",
        )
        .select("i", F.round(F.col("za") - F.col("zb"), 6).alias("r"))
    )
    rmom = _ret_moments(r)
    d8 = F.round((F.col("r") - F.col("mu")) * 1e8).cast("long")
    v1 = r.crossJoin(F.broadcast(rmom)).agg(
        (
            F.sum(d8.cast("decimal(19,0)") * d8).cast("double")
            / 1e16
            / (F.max("nr") - 1)
        ).alias("var1"),
        F.max("nr").alias("nr"),
        F.max("mu").alias("mu"),
    )
    s4 = r.select("i", F.col("r").alias("r0"))
    for k in (1, 2, 3):
        s4 = s4.join(
            F.broadcast(r.select((F.col("i") - k).alias("i"), F.col("r").alias(f"r{k}"))),
            "i",
        )
    s4 = s4.select(
        "i", (F.col("r0") + F.col("r1") + F.col("r2") + F.col("r3")).alias("s")
    )
    s8 = F.round((F.col("s") - VR_Q * F.col("mu")) * 1e8).cast("long")
    v4 = s4.crossJoin(F.broadcast(v1)).agg(
        (
            F.sum(s8.cast("decimal(19,0)") * s8).cast("double")
            / 1e16
            / (F.count(F.lit(1)) - 1)
        ).alias("var4"),
        F.max("var1").alias("var1"),
        F.max("nr").alias("nr"),
    )
    vr = v4.select("nr", (F.col("var4") / (VR_Q * F.col("var1"))).alias("vr"))
    denom = (2.0 * (2 * VR_Q - 1) * (VR_Q - 1) / (3.0 * VR_Q)) ** 0.5
    z = F.sqrt(F.col("nr").cast("double")) * (F.col("vr") - 1.0) / denom
    return vr.select(
        F.col("nr").cast("long").alias("n_obs"),
        F.round(F.col("vr"), 6).alias("vr_4"),
        F.round(z, 6).alias("z_stat"),
        F.when(z < -Z95, F.lit("mean_reverting"))
        .when(z > Z95, F.lit("trending"))
        .otherwise(F.lit("random_walk"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_newey_west — HAC-robust t on the mean monthly revenue change
# ---------------------------------------------------------------------------

NW_LAGS = 3


@query(
    "q_newey_west",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    {_RET_SQL},
    xc AS (
      SELECT r.i, CAST(round(round(r.r - rmom.mu, 8) * 1e8) AS BIGINT) AS x8,
             rmom.nr, rmom.mu
      FROM r CROSS JOIN rmom
    ),
    g AS (
      SELECT max(a.nr) AS nr, max(a.mu) AS mu,
             CAST(sum(CAST(a.x8 AS HUGEINT) * a.x8) AS DOUBLE)
               / 1e16 / max(a.nr) AS g0,
             CAST(sum(CASE WHEN b1.x8 IS NOT NULL THEN
                  CAST(a.x8 AS HUGEINT) * b1.x8 END) AS DOUBLE)
               / 1e16 / max(a.nr) AS g1,
             CAST(sum(CASE WHEN b2.x8 IS NOT NULL THEN
                  CAST(a.x8 AS HUGEINT) * b2.x8 END) AS DOUBLE)
               / 1e16 / max(a.nr) AS g2,
             CAST(sum(CASE WHEN b3.x8 IS NOT NULL THEN
                  CAST(a.x8 AS HUGEINT) * b3.x8 END) AS DOUBLE)
               / 1e16 / max(a.nr) AS g3
      FROM xc a
      LEFT JOIN xc b1 ON b1.i = a.i - 1
      LEFT JOIN xc b2 ON b2.i = a.i - 2
      LEFT JOIN xc b3 ON b3.i = a.i - 3
    ),
    lrv AS (
      SELECT nr, mu, g0,
             g0 + 2 * (0.75 * g1 + 0.5 * g2 + 0.25 * g3) AS s2_hac
      FROM g
    )
    SELECT CAST(nr AS BIGINT) AS n_obs,
           round(mu, 6) AS mean_change,
           round(sqrt(g0 / nr), 6) AS se_iid,
           round(sqrt(s2_hac / nr), 6) AS se_hac,
           round(mu / sqrt(s2_hac / nr), 6) AS t_hac,
           CASE WHEN abs(mu / sqrt(s2_hac / nr)) > {Z95}
                THEN 'nonzero_drift' ELSE 'no_drift' END AS verdict
    FROM lrv
    """,
    tags=("stats", "timeseries", "finance"),
)
def newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West HAC standard error for the mean monthly revenue change:
    long-run variance = γ₀ + 2·Σₖ(1−k/(L+1))·γₖ with Bartlett weights at
    L=3, reported beside the iid standard error — the autocorrelation-
    and heteroskedasticity-robust inference that q_durbin_watson /
    q_breusch_pagan motivate when they reject (both diagnose; this
    corrects).

    Scale: monthly aggregate → return series; three broadcast lag
    equi-joins, one moment aggregate, closed forms — calendar-bounded.
    Demeaned returns round at 8; autocovariances share the fixed divisor
    n so the Bartlett sum is engine-identical to ulp, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    r = (
        idx.select("i", F.col("z").alias("za"))
        .join(
            F.broadcast(
                idx.select((F.col("i") + 1).alias("i"), F.col("z").alias("zb"))
            ),
            "i",
        )
        .select("i", F.round(F.col("za") - F.col("zb"), 6).alias("r"))
    )
    rmom = _ret_moments(r)
    # 1e-8-grain integer autocovariances (round-6 emission rule),
    # mirroring the oracle's xc/g CTEs
    xc = r.crossJoin(F.broadcast(rmom)).select(
        "i",
        F.round(F.round(F.col("r") - F.col("mu"), 8) * 1e8).cast("long").alias("x8"),
        "nr",
        "mu",
    )
    a = _with_lags(xc, NW_LAGS, col="x8").join(
        F.broadcast(xc.select("i", "nr", "mu")), "i"
    )
    z0d = F.col("z0").cast("decimal(19,0)")
    g = a.agg(
        F.max("nr").alias("nr"),
        F.max("mu").alias("mu"),
        (F.sum(z0d * F.col("z0")).cast("double") / 1e16 / F.max("nr")).alias("g0"),
        (F.sum(z0d * F.col("zl1")).cast("double") / 1e16 / F.max("nr")).alias("g1"),
        (F.sum(z0d * F.col("zl2")).cast("double") / 1e16 / F.max("nr")).alias("g2"),
        (F.sum(z0d * F.col("zl3")).cast("double") / 1e16 / F.max("nr")).alias("g3"),
    )
    lrv = g.select(
        "nr",
        "mu",
        "g0",
        (
            F.col("g0")
            + 2 * (0.75 * F.col("g1") + 0.5 * F.col("g2") + 0.25 * F.col("g3"))
        ).alias("s2_hac"),
    )
    t = F.col("mu") / F.sqrt(F.col("s2_hac") / F.col("nr"))
    return lrv.select(
        F.col("nr").cast("long").alias("n_obs"),
        F.round(F.col("mu"), 6).alias("mean_change"),
        F.round(F.sqrt(F.col("g0") / F.col("nr")), 6).alias("se_iid"),
        F.round(F.sqrt(F.col("s2_hac") / F.col("nr")), 6).alias("se_hac"),
        F.round(t, 6).alias("t_hac"),
        F.when(F.abs(t) > Z95, F.lit("nonzero_drift"))
        .otherwise(F.lit("no_drift"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_runs_test — Wald-Wolfowitz randomness of revenue-change signs
# ---------------------------------------------------------------------------


@query(
    "q_runs_test",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    {_RET_SQL},
    s AS (
      SELECT r.i, CASE WHEN r.r > rmom.mu THEN 1 ELSE 0 END AS pos, rmom.nr
      FROM r CROSS JOIN rmom
    ),
    counts AS (
      SELECT max(nr) AS n, sum(pos) AS n1, max(nr) - sum(pos) AS n2 FROM s
    ),
    runs AS (
      SELECT 1 + sum(CASE WHEN b.pos IS NOT NULL AND a.pos <> b.pos THEN 1 ELSE 0 END)
               AS rn
      FROM s a LEFT JOIN s b ON b.i = a.i - 1
    ),
    stat AS (
      SELECT c.n, c.n1, c.n2, runs.rn,
             1.0 + 2.0 * c.n1 * c.n2 / c.n AS er,
             2.0 * c.n1 * c.n2 * (2.0 * c.n1 * c.n2 - c.n)
               / (c.n * 1.0 * c.n * (c.n - 1)) AS vr
      FROM counts c CROSS JOIN runs
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(rn AS BIGINT) AS runs,
           round(er, 6) AS expected_runs,
           round((rn - er) / sqrt(vr), 6) AS z_stat,
           CASE WHEN (rn - er) / sqrt(vr) < -{Z95} THEN 'clustered'
                WHEN (rn - er) / sqrt(vr) > {Z95} THEN 'alternating'
                ELSE 'random' END AS verdict
    FROM stat
    """,
    tags=("stats", "timeseries"),
)
def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the signs of monthly revenue changes
    (above/below their mean): observed runs R vs E[R] = 1 + 2n₁n₂/n and
    the normal approximation — the distribution-free randomness check
    that catches sign clustering (momentum) or strict alternation
    (overdifferencing) that variance-based tests can miss.

    Scale: monthly aggregate → return series → one broadcast
    consecutive-index equi-join + two tiny aggregates — calendar-bounded.
    Signs are exact integer comparisons of 6-dp values against the 8-dp
    mean; everything downstream is integer arithmetic and one closed
    form, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    r = (
        idx.select("i", F.col("z").alias("za"))
        .join(
            F.broadcast(
                idx.select((F.col("i") + 1).alias("i"), F.col("z").alias("zb"))
            ),
            "i",
        )
        .select("i", F.round(F.col("za") - F.col("zb"), 6).alias("r"))
    )
    rmom = _ret_moments(r)
    s = r.crossJoin(F.broadcast(rmom)).select(
        "i", F.when(F.col("r") > F.col("mu"), 1).otherwise(0).alias("pos"), "nr"
    )
    counts = s.agg(
        F.max("nr").alias("n"),
        F.sum("pos").alias("n1"),
        (F.max("nr") - F.sum("pos")).alias("n2"),
    )
    runs = (
        s.select("i", F.col("pos").alias("pa"))
        .join(
            F.broadcast(s.select((F.col("i") + 1).alias("i"), F.col("pos").alias("pb"))),
            "i",
            "left",
        )
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        F.col("pb").isNotNull() & (F.col("pa") != F.col("pb")), 1
                    ).otherwise(0)
                )
            ).alias("rn")
        )
    )
    stat = counts.crossJoin(F.broadcast(runs)).select(
        "n",
        "n1",
        "n2",
        "rn",
        (1.0 + 2.0 * F.col("n1") * F.col("n2") / F.col("n")).alias("er"),
        (
            2.0
            * F.col("n1")
            * F.col("n2")
            * (2.0 * F.col("n1") * F.col("n2") - F.col("n"))
            / (F.col("n") * 1.0 * F.col("n") * (F.col("n") - 1))
        ).alias("vr"),
    )
    z = (F.col("rn") - F.col("er")) / F.sqrt(F.col("vr"))
    return stat.select(
        F.col("n").cast("long").alias("n_obs"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        F.col("rn").cast("long").alias("runs"),
        F.round(F.col("er"), 6).alias("expected_runs"),
        F.round(z, 6).alias("z_stat"),
        F.when(z < -Z95, F.lit("clustered"))
        .when(z > Z95, F.lit("alternating"))
        .otherwise(F.lit("random"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_chow_test — structural break in the revenue trend at the sample midpoint
# ---------------------------------------------------------------------------

F_2_CRIT_5 = 3.117  # F(2, ~76) 5% — the fixed 80-month calendar's df


@query(
    "q_chow_test",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    half AS (
      SELECT idx.i, idx.z,
             CASE WHEN idx.i <= (SELECT count(*) / 2 FROM idx) THEN 1 ELSE 2 END AS h
      FROM idx
    ),
    gm AS (
      SELECT h, count(*) AS n, sum(i * 1.0) AS si,
             CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sz,
             sum(i * 1.0 * i) AS sii,
             CAST(sum(i * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS siz,
             CAST(sum(CAST(round(z * 1e6) AS HUGEINT)
                      * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS szz
      FROM half GROUP BY h
    ),
    gssr AS (
      SELECT h, n,
             ((n * szz - sz * sz)
              - ((n * siz - si * sz) / (n * sii - si * si)) * (n * siz - si * sz)) / n
               AS ssr
      FROM gm
    ),
    pooled AS (
      SELECT count(*) AS n, sum(i * 1.0) AS si,
             CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sz,
             sum(i * 1.0 * i) AS sii,
             CAST(sum(i * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS siz,
             CAST(sum(CAST(round(z * 1e6) AS HUGEINT)
                      * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS szz
      FROM half
    ),
    pssr AS (
      SELECT n,
             ((n * szz - sz * sz)
              - ((n * siz - si * sz) / (n * sii - si * si)) * (n * siz - si * sz)) / n
               AS ssr
      FROM pooled
    ),
    stat AS (
      SELECT pssr.n,
             pssr.ssr AS ssr_pooled,
             (SELECT sum(ssr) FROM gssr) AS ssr_split,
             ((pssr.ssr - (SELECT sum(ssr) FROM gssr)) / 2.0)
               / (((SELECT sum(ssr) FROM gssr)) / (pssr.n - 4)) AS f
      FROM pssr
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(ssr_pooled, 6) AS ssr_pooled,
           round(ssr_split, 6) AS ssr_split,
           round(f, 6) AS f_stat,
           CASE WHEN f > {F_2_CRIT_5} THEN 'structural_break'
                ELSE 'stable' END AS verdict
    FROM stat
    """,
    tags=("stats", "timeseries"),
)
def chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the monthly-revenue trend at
    the sample midpoint: F = [(SSR_pooled − ΣSSR_half)/k] /
    [ΣSSR_half/(n−2k)] with k = 2 (intercept + slope) against F(2,
    n−4) — the TEST companion to the monitoring detectors
    (q_cusum_changepoint and q_page_hinkley flag when a break happens;
    this says whether the two regimes' trend lines differ significantly
    at a known split).

    Scale: monthly aggregate, then per-half and pooled 6-moment
    aggregates with the same closed-form SSR shape as q_adf_test —
    calendar-bounded. One expression shape both engines, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    nn = idx.agg((F.count(F.lit(1)) / 2).alias("half_n"))
    half = idx.crossJoin(F.broadcast(nn)).select(
        "i", "z", F.when(F.col("i") <= F.col("half_n"), 1).otherwise(2).alias("h")
    )

    def ssr_of(df: DataFrame, keys: list[str]) -> DataFrame:
        # 1e-6-grain integer z-moments (round-6 emission rule), mirroring
        # the oracle's gm/pooled CTEs
        z6 = F.round(F.col("z") * 1e6).cast("long")
        z6d = z6.cast("decimal(19,0)")
        g = (df.groupBy(*keys) if keys else df).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("i") * 1.0).alias("si"),
            (F.sum(z6).cast("double") / 1e6).alias("sz"),
            F.sum(F.col("i") * 1.0 * F.col("i")).alias("sii"),
            (F.sum(F.col("i") * z6).cast("double") / 1e6).alias("siz"),
            (F.sum(z6d * z6).cast("double") / 1e12).alias("szz"),
        )
        siz_c = F.col("n") * F.col("siz") - F.col("si") * F.col("sz")
        szz_c = F.col("n") * F.col("szz") - F.col("sz") * F.col("sz")
        sii_c = F.col("n") * F.col("sii") - F.col("si") * F.col("si")
        return g.select(
            *keys,
            "n",
            ((szz_c - (siz_c / sii_c) * siz_c) / F.col("n")).alias("ssr"),
        )

    gssr = ssr_of(half, ["h"]).agg(F.sum("ssr").alias("ssr_split"))
    pssr = ssr_of(half, [])
    stat = pssr.crossJoin(F.broadcast(gssr)).select(
        "n",
        F.col("ssr").alias("ssr_pooled"),
        "ssr_split",
        (
            ((F.col("ssr") - F.col("ssr_split")) / 2.0)
            / (F.col("ssr_split") / (F.col("n") - 4))
        ).alias("f"),
    )
    return stat.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("ssr_pooled"), 6).alias("ssr_pooled"),
        F.round(F.col("ssr_split"), 6).alias("ssr_split"),
        F.round(F.col("f"), 6).alias("f_stat"),
        F.when(F.col("f") > F_2_CRIT_5, F.lit("structural_break"))
        .otherwise(F.lit("stable"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_arch_lm — ARCH effects (volatility clustering) in revenue changes
# ---------------------------------------------------------------------------


@query(
    "q_arch_lm",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    {_RET_SQL},
    e2 AS (
      SELECT r.i, round((r.r - rmom.mu) * (r.r - rmom.mu), 8) AS e2
      FROM r CROSS JOIN rmom
    ),
    d AS (
      SELECT a.i, CAST(round(a.e2 * 1e8) AS BIGINT) AS y8,
             CAST(round(b.e2 * 1e8) AS BIGINT) AS x8
      FROM e2 a JOIN e2 b ON b.i = a.i - 1
    ),
    mm AS (
      SELECT count(*) AS n,
             CAST(sum(x8) AS DOUBLE) / 1e8 AS sx,
             CAST(sum(y8) AS DOUBLE) / 1e8 AS sy,
             CAST(sum(CAST(x8 AS HUGEINT) * x8) AS DOUBLE) / 1e16 AS sxx,
             CAST(sum(CAST(x8 AS HUGEINT) * y8) AS DOUBLE) / 1e16 AS sxy,
             CAST(sum(CAST(y8 AS HUGEINT) * y8) AS DOUBLE) / 1e16 AS syy
      FROM d
    ),
    r2 AS (
      SELECT n,
             ((n * sxy - sx * sy) * (n * sxy - sx * sy))
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
      FROM mm
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(r2, 6) AS aux_r2,
           round(n * r2, 6) AS lm_stat,
           CASE WHEN n * r2 > {CHI2_1_95} THEN 'arch_effects'
                ELSE 'no_arch' END AS verdict
    FROM r2
    """,
    tags=("stats", "timeseries", "finance"),
)
def arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH-LM test at lag 1 on monthly revenue changes: regress
    the squared demeaned change e²ₜ on e²ₜ₋₁ and report LM = n·R²
    against chi-square(1) — the volatility-CLUSTERING test that
    q_breusch_pagan (trend heteroskedasticity) and q_ljung_box (mean
    autocorrelation) don't cover, and the standard gate before fitting
    any GARCH-family volatility model.

    Scale: monthly aggregate → return series → one squared-deviation
    pass, one broadcast lag equi-join, one 6-moment aggregate, closed
    forms — calendar-bounded. e² rounds at 8 before the regression so
    both engines see identical inputs, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    r = (
        idx.select("i", F.col("z").alias("za"))
        .join(
            F.broadcast(
                idx.select((F.col("i") + 1).alias("i"), F.col("z").alias("zb"))
            ),
            "i",
        )
        .select("i", F.round(F.col("za") - F.col("zb"), 6).alias("r"))
    )
    rmom = _ret_moments(r)
    e2 = r.crossJoin(F.broadcast(rmom)).select(
        "i",
        F.round((F.col("r") - F.col("mu")) * (F.col("r") - F.col("mu")), 8).alias("e2"),
    )
    # 1e-8-grain integer moments of the squared-residual series (round-6
    # emission rule), mirroring the oracle's d/mm CTEs
    d = e2.select(
        "i", F.round(F.col("e2") * 1e8).cast("long").alias("y8")
    ).join(
        F.broadcast(
            e2.select(
                (F.col("i") + 1).alias("i"),
                F.round(F.col("e2") * 1e8).cast("long").alias("x8"),
            )
        ),
        "i",
    )
    x8d = F.col("x8").cast("decimal(19,0)")
    y8d = F.col("y8").cast("decimal(19,0)")
    mm = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("x8").cast("double") / 1e8).alias("sx"),
        (F.sum("y8").cast("double") / 1e8).alias("sy"),
        (F.sum(x8d * F.col("x8")).cast("double") / 1e16).alias("sxx"),
        (F.sum(x8d * F.col("y8")).cast("double") / 1e16).alias("sxy"),
        (F.sum(y8d * F.col("y8")).cast("double") / 1e16).alias("syy"),
    )
    sxy_c = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r2 = mm.select(
        "n",
        (
            (sxy_c * sxy_c)
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("r2"),
    )
    return r2.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(F.col("r2"), 6).alias("aux_r2"),
        F.round(F.col("n") * F.col("r2"), 6).alias("lm_stat"),
        F.when(F.col("n") * F.col("r2") > CHI2_1_95, F.lit("arch_effects"))
        .otherwise(F.lit("no_arch"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_panel_within_estimator — two-way fixed effects by double demeaning
# ---------------------------------------------------------------------------


@query(
    "q_panel_within_estimator",
    oracle="""
    WITH panel AS (
      SELECT c.c_nationkey AS nk,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS mi,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS y,
             CAST(count(*) AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nk, mi
    ),
    nmean AS (SELECT nk,
                     CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE)
                       / count(*) / 1e6 AS ybar_n,
                     avg(x) AS xbar_n FROM panel GROUP BY nk),
    mmean AS (SELECT mi,
                     CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE)
                       / count(*) / 1e6 AS ybar_m,
                     avg(x) AS xbar_m FROM panel GROUP BY mi),
    gmean AS (SELECT CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE)
                       / count(*) / 1e6 AS ybar,
                     avg(x) AS xbar FROM panel),
    within AS (
      SELECT round(p.y - n.ybar_n - m.ybar_m + g.ybar, 8) AS yt,
             round(p.x - n.xbar_n - m.xbar_m + g.xbar, 8) AS xt,
             p.y, p.x
      FROM panel p
      JOIN nmean n ON n.nk = p.nk
      JOIN mmean m ON m.mi = p.mi
      CROSS JOIN gmean g
    ),
    fit AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(xt * 1e8) AS HUGEINT)
                      * CAST(round(yt * 1e8) AS BIGINT)) AS DOUBLE)
               / CAST(sum(CAST(round(xt * 1e8) AS HUGEINT)
                          * CAST(round(xt * 1e8) AS BIGINT)) AS DOUBLE) AS beta_fe,
             (count(*) * (CAST(sum(x * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE)
                          / 1e6)
              - sum(x) * (CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6))
               / (count(*) * sum(x * x) - sum(x) * sum(x)) AS beta_pooled
      FROM within
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(beta_pooled, 6) AS beta_pooled,
           round(beta_fe, 6) AS beta_fixed_effects,
           round(beta_pooled - beta_fe, 6) AS confound_gap
    FROM fit
    """,
    tags=("stats", "analytics", "timeseries"),
)
def panel_within_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects (within) estimator on the nation × month
    revenue panel: double-demean y (monthly revenue) and x (order
    count) by nation means, month means, plus the grand mean, then
    β_FE = Σx̃ỹ/Σx̃² — the panel-econometrics workhorse that sweeps out
    every time-invariant nation effect and every nation-invariant month
    shock, reported against the pooled OLS slope; the confound gap IS
    the bias those fixed effects were absorbing. (q_diff_in_diff is the
    2×2 special case; this is the full-panel generalization.)

    Scale: one fact-dim aggregate to the O(nations × calendar) panel,
    two group-mean joins + a broadcast grand mean, one moment pass —
    panel-bounded. Demeaned values round at 8; the within slope is a
    ratio of identical sums, rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    panel = (
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
        .agg(
            F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000.0, 6).alias("y"),
            F.count(F.lit(1)).cast("long").alias("x"),
        )
    )
    # y-means from exact 1e-6-grain integer sums (round-6 emission rule,
    # mirrors the oracle); x is integer-valued so avg(x) is already exact
    y6 = F.round(F.col("y") * 1e6).cast("long")
    ybar = lambda: (F.sum(y6).cast("double") / F.count(F.lit(1)) / 1e6)  # noqa: E731
    nmean = panel.groupBy("nk").agg(
        ybar().alias("ybar_n"), F.avg("x").alias("xbar_n")
    )
    mmean = panel.groupBy("mi").agg(
        ybar().alias("ybar_m"), F.avg("x").alias("xbar_m")
    )
    gmean = panel.agg(ybar().alias("ybar"), F.avg("x").alias("xbar"))
    within = (
        panel.join(F.broadcast(nmean), "nk")
        .join(F.broadcast(mmean), "mi")
        .crossJoin(F.broadcast(gmean))
        .select(
            F.round(
                F.col("y") - F.col("ybar_n") - F.col("ybar_m") + F.col("ybar"), 8
            ).alias("yt"),
            F.round(
                F.col("x") - F.col("xbar_n") - F.col("xbar_m") + F.col("xbar"), 8
            ).alias("xt"),
            "y",
            "x",
        )
    )
    xt8 = F.round(F.col("xt") * 1e8).cast("long")
    yt8 = F.round(F.col("yt") * 1e8).cast("long")
    fit = within.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(xt8.cast("decimal(19,0)") * yt8).cast("double")
            / F.sum(xt8.cast("decimal(19,0)") * xt8).cast("double")
        ).alias("beta_fe"),
        (
            (
                # x*y6 widens to decimal(19,0) per row before summing: the
                # long sum overflows int64 at ~100x corpus (ANSI raises;
                # DuckDB's sum(BIGINT) silently widens to HUGEINT) — the
                # jarque_bera/breusch_pagan overflow class. Consumed as
                # double, so the decimal(38,0) sum lands on double.
                F.count(F.lit(1))
                * (F.sum(F.col("x").cast("decimal(19,0)") * y6).cast("double") / 1e6)
                - F.sum("x") * (F.sum(y6).cast("double") / 1e6)
            )
            / (
                # same widening for the denominator moments: exact decimal
                # sums landed on double at consumption, unbounded by corpus
                F.count(F.lit(1))
                * F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).cast("double")
                - F.sum("x").cast("double") * F.sum("x").cast("double")
            )
        ).alias("beta_pooled"),
    )
    return fit.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(F.col("beta_pooled"), 6).alias("beta_pooled"),
        F.round(F.col("beta_fe"), 6).alias("beta_fixed_effects"),
        F.round(F.col("beta_pooled") - F.col("beta_fe"), 6).alias("confound_gap"),
    )


# ---------------------------------------------------------------------------
# q_vif — multicollinearity check for the two-factor price regression
# ---------------------------------------------------------------------------


sql_query(
    "q_vif",
    """
    WITH obs AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 10000) AS BIGINT) AS x2
      FROM lineitem
    ),
    mm AS (
      SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2,
             sum(x1 * x1) AS s11, sum(x2 * x2) AS s22, sum(x1 * x2) AS s12
      FROM obs
    ),
    r AS (
      SELECT n,
             (n * 1e0 * s12 - s1 * 1e0 * s2) * (n * 1e0 * s12 - s1 * 1e0 * s2)
               / ((n * 1e0 * s11 - s1 * 1e0 * s1)
                  * (n * 1e0 * s22 - s2 * 1e0 * s2)) AS r2
      FROM mm
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(r2, 6) AS r2_between_regressors,
           round(1.0 / (1.0 - r2), 6) AS vif,
           1.0 / (1.0 - r2) > 5.0 AS collinearity_concern
    FROM r
    """,
    tags=("stats", "ml"),
    doc="""Variance inflation factor for q_ols_two_factor's regressors
    (quantity, discount basis points): VIF = 1/(1−R²) of one regressor
    on the other — the multicollinearity diagnostic that says how much
    the betas' variance is inflated by regressor overlap (VIF > 5 is
    the standard concern flag; with two regressors the auxiliary R² is
    just their squared correlation, so the whole check is one moment
    pass over exact integers).

    Scale: one map-side-combinable 6-moment aggregate; centered
    products in double with identical expression shape (the
    q_ols_two_factor int64-overflow posture). Rounded at 6.""",
)


# ---------------------------------------------------------------------------
# q_influence_diagnostics — leverage and Cook's D on the trend regression
# ---------------------------------------------------------------------------


@query(
    "q_influence_diagnostics",
    oracle=f"""
    WITH {_DW_RESID_SQL},
    sxx AS (
      SELECT count(*) AS n, avg(i * 1.0) AS ibar,
             sum(i * 1.0 * i) - count(*) * avg(i * 1.0) * avg(i * 1.0) AS sxx_c,
             CAST(sum(CAST(round(e * 1e8) AS HUGEINT)
                      * CAST(round(e * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS sse
      FROM resid
    ),
    diag AS (
      SELECT resid.i, resid.e,
             1.0 / sxx.n + (resid.i - sxx.ibar) * (resid.i - sxx.ibar) / sxx.sxx_c
               AS h,
             sxx.sse / (sxx.n - 2) AS mse, sxx.n
      FROM resid CROSS JOIN sxx
    ),
    cooks AS (
      SELECT idx.mi, diag.e, diag.h,
             round(diag.e * diag.e / (2.0 * diag.mse) * diag.h
                   / ((1.0 - diag.h) * (1.0 - diag.h)), 8) AS d,
             diag.n
      FROM diag JOIN idx ON idx.i = diag.i
    )
    SELECT CAST(mi AS BIGINT) AS mi,
           round(e, 6) AS residual,
           round(h, 6) AS leverage,
           round(d, 6) AS cooks_d,
           d > 4.0 / n AS influential
    FROM cooks
    ORDER BY d DESC, mi LIMIT 10
    """,
    tags=("stats", "timeseries", "quality"),
)
def influence_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence diagnostics on the monthly-revenue trend regression:
    leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx and Cook's distance Dᵢ =
    eᵢ²hᵢ/(p·MSE·(1−hᵢ)²) per month, top-10 by D with the 4/n flag —
    WHICH observations the fitted trend actually hinges on (endpoint
    months carry the leverage; spike months carry the residual;
    Cook's D is their product, and q_grubbs_test's outlier is only
    influential if it also has leverage).

    Scale: shares q_durbin_watson's residual machinery + one closed
    form per month + top-10 TakeOrdered on 8-dp-rounded D with month
    tie-break — calendar-bounded. Rounded at 6."""
    idx = _monthly(spark, sf_dir)
    mom = _trend_moments(idx)
    beta = (F.col("n") * F.col("siz") - F.col("si") * F.col("sz")) / (
        F.col("n") * F.col("sii") - F.col("si") * F.col("si")
    )
    fit = mom.select(
        "n",
        beta.alias("beta"),
        ((F.col("sz") - beta * F.col("si")) / F.col("n")).alias("alpha"),
    )
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "mi",
        "i",
        F.round(F.col("z") - F.col("alpha") - F.col("beta") * F.col("i"), 8).alias("e"),
    )
    # 80-row relation branched 3 ways (count, moments, per-row diag) — one
    # materialization instead of three re-runs of the orders scan
    resid = resid.localCheckpoint(eager=True)
    sxx = resid.crossJoin(
        F.broadcast(resid.agg(F.count(F.lit(1)).alias("n")))
    ).agg(
        F.max("n").alias("n"),
        F.avg(F.col("i") * 1.0).alias("ibar"),
        (
            F.sum(F.col("i") * 1.0 * F.col("i"))
            - F.count(F.lit(1)) * F.avg(F.col("i") * 1.0) * F.avg(F.col("i") * 1.0)
        ).alias("sxx_c"),
        (
            F.sum(
                F.round(F.col("e") * 1e8).cast("long").cast("decimal(19,0)")
                * F.round(F.col("e") * 1e8).cast("long")
            ).cast("double")
            / 1e16
        ).alias("sse"),
    )
    diag = resid.crossJoin(F.broadcast(sxx)).select(
        "mi",
        "e",
        (
            1.0 / F.col("n")
            + (F.col("i") - F.col("ibar")) * (F.col("i") - F.col("ibar")) / F.col("sxx_c")
        ).alias("h"),
        (F.col("sse") / (F.col("n") - 2)).alias("mse"),
        "n",
    )
    d = F.round(
        F.col("e")
        * F.col("e")
        / (2.0 * F.col("mse"))
        * F.col("h")
        / ((1.0 - F.col("h")) * (1.0 - F.col("h"))),
        8,
    )
    cooks = diag.select("mi", "e", "h", d.alias("d"), "n")
    return (
        cooks.orderBy(F.col("d").desc(), F.col("mi"))
        .limit(10)
        .select(
            F.col("mi").cast("long").alias("mi"),
            F.round(F.col("e"), 6).alias("residual"),
            F.round(F.col("h"), 6).alias("leverage"),
            F.round(F.col("d"), 6).alias("cooks_d"),
            (F.col("d") > 4.0 / F.col("n")).alias("influential"),
        )
    )


# ---------------------------------------------------------------------------
# q_boxcox_lambda — transformation selection by profile likelihood
# ---------------------------------------------------------------------------

BOXCOX_GRID = (-1.0, -0.5, 0.0, 0.5, 1.0)

_BOXCOX_SQL = f"""
    WITH {_MONTHLY_SQL},
    lams(lam) AS (VALUES {", ".join(f"({v})" for v in BOXCOX_GRID)}),
    tx AS (
      SELECT l.lam, m.mi,
             round(CASE WHEN l.lam = 0 THEN ln(m.z)
                        ELSE (power(m.z, l.lam) - 1) / l.lam END, 8) AS t,
             round(ln(m.z), 8) AS lz
      FROM m CROSS JOIN lams l
    ),
    ll AS (
      SELECT lam, count(*) AS n,
             round(-count(*) / 2e0
                     * ln(CAST(sum(CAST(round(t * 1e8) AS HUGEINT)
                                   * CAST(round(t * 1e8) AS BIGINT)) AS DOUBLE)
                            / 1e16 / count(*)
                          - (CAST(sum(CAST(round(t * 1e8) AS BIGINT)) AS DOUBLE)
                             / count(*) / 1e8)
                            * (CAST(sum(CAST(round(t * 1e8) AS BIGINT)) AS DOUBLE)
                               / count(*) / 1e8))
                   + (lam - 1)
                     * (CAST(sum(CAST(round(lz * 1e8) AS BIGINT)) AS DOUBLE) / 1e8),
                   6) AS loglik
      FROM tx GROUP BY lam
    )
    SELECT lam, CAST(n AS BIGINT) AS n_months, loglik,
           loglik = max(loglik) OVER () AS is_best
    FROM ll ORDER BY lam
"""


@query("q_boxcox_lambda", oracle=_BOXCOX_SQL, tags=("stats", "timeseries"))
def boxcox_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Cox transformation selection over the monthly revenue series:
    profile log-likelihood ll(lam) = -(n/2) ln sigma^2(y_lam) +
    (lam-1) sum(ln y) on the grid {BOXCOX_GRID} (lam = 0 is the log
    transform) — the pre-modeling step that decides whether
    q_dickey_fuller / q_holt_winters should see levels, square roots,
    or logs. The winner is flagged per row so the relation IS the
    decision.

    Determinism: the monthly z is the shared 6-dp series; transformed
    values and ln y round at 8 before the 80-term moment sums (reorder
    noise orders below the 6-dp loglik rounding); is_best compares
    ROUNDED logliks over the bounded grid. Scale: one monthly aggregate
    scan, then O(grid x months) — corpus-size-independent past the
    scan (the econometrics.py posture)."""
    m = _monthly(spark, sf_dir).select("mi", "z")
    lams = spark.createDataFrame([(v,) for v in BOXCOX_GRID], "lam double")
    tx = m.crossJoin(F.broadcast(lams)).select(
        "lam",
        F.round(
            F.when(F.col("lam") == 0, F.log("z")).otherwise(
                (F.pow("z", F.col("lam")) - 1) / F.col("lam")
            ),
            8,
        ).alias("t"),
        F.round(F.log("z"), 8).alias("lz"),
    )
    # 1e-8-grain integer moments (round-6 emission rule), mirroring the
    # oracle's ll CTE term for term
    t8 = F.round(F.col("t") * 1e8).cast("long")
    lz8 = F.round(F.col("lz") * 1e8).cast("long")
    avg_t = F.sum(t8).cast("double") / F.count(F.lit(1)) / 1e8
    ll = tx.groupBy("lam").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.round(
            -F.count(F.lit(1))
            / F.lit(2.0)
            * F.log(
                F.sum(t8.cast("decimal(19,0)") * t8).cast("double")
                / 1e16
                / F.count(F.lit(1))
                - avg_t * avg_t
            )
            + (F.col("lam") - 1) * (F.sum(lz8).cast("double") / 1e8),
            6,
        ).alias("loglik"),
    )
    w = Window.partitionBy()
    return ll.select(
        "lam",
        "n_months",
        "loglik",
        (F.col("loglik") == F.max("loglik").over(w)).alias("is_best"),
    ).orderBy("lam")
