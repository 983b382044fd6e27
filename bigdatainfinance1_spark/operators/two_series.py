"""Two-series dependence and lead-lag analysis (carved out of
econometrics.py at the 1.5k-LoC module rule): Granger causality,
Engle-Granger cointegration, the cross-correlation function, and
distance correlation — every query reads the SAME two monthly series
(orders revenue, lineitem shipped quantity) so the module is the
one-stop shop for "do these two series move together, which leads, and
is the dependence linear, cointegrated, or merely nonlinear?".

Scale: two map-side-combinable monthly aggregates per query; everything
downstream is calendar-bounded (lag joins, moment passes, the O(months²)
distance matrix over a broadcast 80-row relation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.operators.econometrics import EG_CRIT_5, F_1_CRIT_5
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_granger_causality — does shipped quantity lead revenue?
# ---------------------------------------------------------------------------

_TWO_SERIES_SQL = """
    ym AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS y
      FROM orders GROUP BY mi
    ),
    xm AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) * 12 + month(l_shipdate) AS mi,
             round(sum(l_quantity) / 1000.0, 6) AS x
      FROM lineitem GROUP BY mi
    )
"""


def _two_series(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ym = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000000.0, 6).alias("y"))
    xm = li.groupBy(
        (F.year("l_shipdate").cast("long") * 12 + F.month("l_shipdate")).alias("mi")
    ).agg(F.round(F.sum("l_quantity") / 1000.0, 6).alias("x"))
    return ym, xm


@query(
    "q_granger_causality",
    oracle=f"""
    WITH {_TWO_SERIES_SQL},
    obs AS (
      SELECT a.mi, a.y, b.y AS ylag, c.x AS xlag
      FROM ym a JOIN ym b ON b.mi = a.mi - 1 JOIN xm c ON c.mi = a.mi - 1
    ),
    mm AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(ylag * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS s1,
             CAST(sum(CAST(round(xlag * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS s2,
             CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
             CAST(sum(CAST(round(ylag * 1e6) AS HUGEINT)
                      * CAST(round(ylag * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS s11,
             CAST(sum(CAST(round(xlag * 1e6) AS HUGEINT)
                      * CAST(round(xlag * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS s22,
             CAST(sum(CAST(round(ylag * 1e6) AS HUGEINT)
                      * CAST(round(xlag * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS s12,
             CAST(sum(CAST(round(ylag * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS s1y,
             CAST(sum(CAST(round(xlag * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS s2y,
             CAST(sum(CAST(round(y * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS syy
      FROM obs
    ),
    c AS (
      SELECT n,
             n * s11 - s1 * s1 AS a11, n * s12 - s1 * s2 AS a12,
             n * s22 - s2 * s2 AS a22,
             n * s1y - s1 * sy AS b1, n * s2y - s2 * sy AS b2,
             n * syy - sy * sy AS syy_c
      FROM mm
    ),
    fit AS (
      SELECT n,
             (syy_c - (b1 / a11) * b1) / n AS ssr_r,
             (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta_ylag,
             (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS beta_xlag,
             (syy_c
              - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * b1
              - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * b2) / n AS ssr_u
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(beta_ylag, 6) AS beta_ylag,
           round(beta_xlag, 6) AS beta_xlag,
           round(ssr_r, 6) AS ssr_restricted,
           round(ssr_u, 6) AS ssr_unrestricted,
           round((ssr_r - ssr_u) * (n - 3) / ssr_u, 6) AS f_stat,
           CASE WHEN (ssr_r - ssr_u) * (n - 3) / ssr_u > {F_1_CRIT_5}
                THEN 'x_granger_causes_y' ELSE 'no_causality' END AS verdict
    FROM fit
    """,
    tags=("stats", "timeseries", "finance"),
)
def granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (1 lag) from monthly shipped quantity to monthly
    revenue: F-test of the xₜ₋₁ term by comparing SSR of the restricted
    AR(1) (y on yₜ₋₁) against the unrestricted bivariate model (y on
    yₜ₋₁, xₜ₋₁) over the SAME observations — the standard lead-lag
    screen before using one series to forecast another. Both models come
    from ONE moment aggregate (the restricted fit is a sub-expression of
    the unrestricted normal equations).

    Scale: two map-side-combinable monthly aggregates (orders, lineitem),
    two broadcast lag equi-joins on the dense month index, one 10-moment
    aggregate, Cramer's-rule closed forms — calendar-bounded past the
    scans. Both engines evaluate the identical expression shape over
    identical 6-dp inputs, rounded at 6."""
    ym, xm = _two_series(spark, sf_dir)
    obs = (
        ym.select("mi", "y")
        .join(
            F.broadcast(ym.select((F.col("mi") + 1).alias("mi"), F.col("y").alias("ylag"))),
            "mi",
        )
        .join(
            F.broadcast(xm.select((F.col("mi") + 1).alias("mi"), F.col("x").alias("xlag"))),
            "mi",
        )
    )
    # integer moments (round-6 emission rule), mirroring the oracle's mm
    yl6 = F.round(F.col("ylag") * 1e6).cast("long")
    xl6 = F.round(F.col("xlag") * 1e6).cast("long")
    yy6 = F.round(F.col("y") * 1e6).cast("long")
    yl6d = yl6.cast("decimal(19,0)")
    xl6d = xl6.cast("decimal(19,0)")
    yy6d = yy6.cast("decimal(19,0)")
    mm = obs.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(yl6).cast("double") / 1e6).alias("s1"),
        (F.sum(xl6).cast("double") / 1e6).alias("s2"),
        (F.sum(yy6).cast("double") / 1e6).alias("sy"),
        (F.sum(yl6d * yl6).cast("double") / 1e12).alias("s11"),
        (F.sum(xl6d * xl6).cast("double") / 1e12).alias("s22"),
        (F.sum(yl6d * xl6).cast("double") / 1e12).alias("s12"),
        (F.sum(yl6d * yy6).cast("double") / 1e12).alias("s1y"),
        (F.sum(xl6d * yy6).cast("double") / 1e12).alias("s2y"),
        (F.sum(yy6d * yy6).cast("double") / 1e12).alias("syy"),
    )
    c = mm.select(
        "n",
        (F.col("n") * F.col("s11") - F.col("s1") * F.col("s1")).alias("a11"),
        (F.col("n") * F.col("s12") - F.col("s1") * F.col("s2")).alias("a12"),
        (F.col("n") * F.col("s22") - F.col("s2") * F.col("s2")).alias("a22"),
        (F.col("n") * F.col("s1y") - F.col("s1") * F.col("sy")).alias("b1"),
        (F.col("n") * F.col("s2y") - F.col("s2") * F.col("sy")).alias("b2"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("syy_c"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    b1u = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    b2u = (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
    fit = c.select(
        "n",
        ((F.col("syy_c") - (F.col("b1") / F.col("a11")) * F.col("b1")) / F.col("n")).alias(
            "ssr_r"
        ),
        b1u.alias("beta_ylag"),
        b2u.alias("beta_xlag"),
        (
            (F.col("syy_c") - b1u * F.col("b1") - b2u * F.col("b2")) / F.col("n")
        ).alias("ssr_u"),
    )
    fstat = (F.col("ssr_r") - F.col("ssr_u")) * (F.col("n") - 3) / F.col("ssr_u")
    return fit.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(F.col("beta_ylag"), 6).alias("beta_ylag"),
        F.round(F.col("beta_xlag"), 6).alias("beta_xlag"),
        F.round(F.col("ssr_r"), 6).alias("ssr_restricted"),
        F.round(F.col("ssr_u"), 6).alias("ssr_unrestricted"),
        F.round(fstat, 6).alias("f_stat"),
        F.when(fstat > F_1_CRIT_5, F.lit("x_granger_causes_y"))
        .otherwise(F.lit("no_causality"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_engle_granger — cointegration of revenue and shipped quantity
# ---------------------------------------------------------------------------


@query(
    "q_engle_granger",
    oracle=f"""
    WITH {_TWO_SERIES_SQL},
    lv AS (
      SELECT a.mi, a.y, b.x FROM ym a JOIN xm b ON b.mi = a.mi
    ),
    mm AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
             CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
             CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                      * CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxx,
             CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxy
      FROM lv
    ),
    fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS alpha
      FROM mm
    ),
    resid AS (
      SELECT lv.mi, round(lv.y - fit.alpha - fit.beta * lv.x, 8) AS e, fit.n,
             round(fit.beta, 6) AS beta6
      FROM lv CROSS JOIN fit
    ),
    d AS (
      SELECT a.mi, b.e AS el, a.e - b.e AS de, a.n, a.beta6
      FROM resid a JOIN resid b ON b.mi = a.mi - 1
    ),
    dm AS (
      SELECT max(n) AS n_months, max(beta6) AS beta6, count(*) AS nd,
             CAST(sum(CAST(round(el * 1e8) AS HUGEINT)
                      * CAST(round(de * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS sed,
             CAST(sum(CAST(round(el * 1e8) AS HUGEINT)
                      * CAST(round(el * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS see,
             CAST(sum(CAST(round(de * 1e8) AS HUGEINT)
                      * CAST(round(de * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS sdd
      FROM d
    ),
    tt AS (
      SELECT n_months, beta6, nd, sed / see AS gamma,
             (sdd - (sed / see) * sed) / (nd - 1) AS s2, see
      FROM dm
    )
    SELECT CAST(n_months AS BIGINT) AS n_months,
           beta6 AS beta_coint,
           round(gamma, 6) AS gamma,
           round(gamma / sqrt(s2 / see), 6) AS t_stat,
           CASE WHEN gamma / sqrt(s2 / see) < {EG_CRIT_5}
                THEN 'cointegrated' ELSE 'no_cointegration' END AS verdict
    FROM tt
    """,
    tags=("stats", "timeseries", "finance"),
)
def engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test between monthly revenue
    and monthly shipped quantity: OLS of y on x in LEVELS, then a
    Dickey-Fuller regression (no constant) on the residuals — t(γ̂)
    below the −3.37 Engle-Granger 5% critical value means the two
    trending series share a common stochastic trend (the foundation of
    pairs trading and error-correction forecasting; q_adf_test supplies
    the single-series prerequisite).

    Scale: two monthly aggregates, one equi-join on month, one 5-moment
    fit, one residual pass, one broadcast lag equi-join, closed forms —
    calendar-bounded past the scans. Residuals round at 8; Δe is a
    difference of 8-dp values (exact); one expression shape both
    engines, rounded at 6."""
    ym, xm = _two_series(spark, sf_dir)
    lv = ym.join(xm, "mi")
    # integer moments (round-6 emission rule), mirroring the oracle's mm
    x6 = F.round(F.col("x") * 1e6).cast("long")
    y6 = F.round(F.col("y") * 1e6).cast("long")
    x6d = x6.cast("decimal(19,0)")
    mm = lv.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(x6).cast("double") / 1e6).alias("sx"),
        (F.sum(y6).cast("double") / 1e6).alias("sy"),
        (F.sum(x6d * x6).cast("double") / 1e12).alias("sxx"),
        (F.sum(x6d * y6).cast("double") / 1e12).alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mm.select(
        "n",
        beta.alias("beta"),
        ((F.col("sy") - beta * F.col("sx")) / F.col("n")).alias("alpha"),
    )
    resid = lv.crossJoin(F.broadcast(fit)).select(
        "mi",
        F.round(F.col("y") - F.col("alpha") - F.col("beta") * F.col("x"), 8).alias("e"),
        "n",
        F.round(F.col("beta"), 6).alias("beta6"),
    )
    d = resid.select("mi", F.col("e").alias("ea"), "n", "beta6").join(
        F.broadcast(
            resid.select((F.col("mi") + 1).alias("mi"), F.col("e").alias("el"))
        ),
        "mi",
    )
    d = d.select("mi", "el", (F.col("ea") - F.col("el")).alias("de"), "n", "beta6")
    el8 = F.round(F.col("el") * 1e8).cast("long")
    de8 = F.round(F.col("de") * 1e8).cast("long")
    el8d = el8.cast("decimal(19,0)")
    de8d = de8.cast("decimal(19,0)")
    dm = d.agg(
        F.max("n").alias("n_months"),
        F.max("beta6").alias("beta6"),
        F.count(F.lit(1)).alias("nd"),
        (F.sum(el8d * de8).cast("double") / 1e16).alias("sed"),
        (F.sum(el8d * el8).cast("double") / 1e16).alias("see"),
        (F.sum(de8d * de8).cast("double") / 1e16).alias("sdd"),
    )
    gamma = F.col("sed") / F.col("see")
    tt = dm.select(
        "n_months",
        "beta6",
        "nd",
        gamma.alias("gamma"),
        ((F.col("sdd") - gamma * F.col("sed")) / (F.col("nd") - 1)).alias("s2"),
        "see",
    )
    t = F.col("gamma") / F.sqrt(F.col("s2") / F.col("see"))
    return tt.select(
        F.col("n_months").cast("long").alias("n_months"),
        F.col("beta6").alias("beta_coint"),
        F.round(F.col("gamma"), 6).alias("gamma"),
        F.round(t, 6).alias("t_stat"),
        F.when(t < EG_CRIT_5, F.lit("cointegrated"))
        .otherwise(F.lit("no_cointegration"))
        .alias("verdict"),
    )




# ---------------------------------------------------------------------------
# q_cross_correlation — the full lead-lag CCF between revenue and quantity
# ---------------------------------------------------------------------------

CCF_MAX_LAG = 3


@query(
    "q_cross_correlation",
    oracle=f"""
    WITH {_TWO_SERIES_SQL},
    ymu AS (SELECT count(*) AS n,
                   round(CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE)
                         / count(*) / 1e6, 8) AS muy FROM ym),
    xmu AS (SELECT round(CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE)
                         / count(*) / 1e6, 8) AS mux FROM xm),
    yd AS (
      SELECT ym.mi, round(ym.y - ymu.muy, 8) AS dy, ymu.n
      FROM ym CROSS JOIN ymu
    ),
    xd AS (
      SELECT xm.mi, round(xm.x - xmu.mux, 8) AS dx
      FROM xm CROSS JOIN xmu
    ),
    denom AS (
      SELECT sqrt((SELECT CAST(sum(CAST(round(dy * 1e8) AS HUGEINT)
                                 * CAST(round(dy * 1e8) AS BIGINT)) AS DOUBLE) / 1e16
                   FROM yd)
                  * (SELECT CAST(sum(CAST(round(dx * 1e8) AS HUGEINT)
                                     * CAST(round(dx * 1e8) AS BIGINT)) AS DOUBLE)
                       / 1e16
                     FROM xd))
        AS den
    ),
    lags AS (SELECT unnest(range(-{CCF_MAX_LAG}, {CCF_MAX_LAG} + 1)) AS lag),
    ccf AS (
      SELECT lags.lag,
             CAST(sum(CAST(round(yd.dy * 1e8) AS HUGEINT)
                      * CAST(round(xd.dx * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS num,
             count(*) AS n_pairs
      FROM lags
      JOIN yd ON true
      JOIN xd ON xd.mi = yd.mi + lags.lag
      GROUP BY lags.lag
    )
    SELECT CAST(ccf.lag AS BIGINT) AS lag,
           CAST(ccf.n_pairs AS BIGINT) AS n_pairs,
           round(ccf.num / denom.den, 6) AS ccf
    FROM ccf CROSS JOIN denom
    ORDER BY lag
    """,
    tags=("timeseries", "stats", "finance"),
)
def cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-correlation function between monthly revenue and
    shipped quantity at lags −3..+3 (positive lag = quantity LEADS
    revenue): the full lead-lag profile whose single best lag
    q_granger_causality then tests formally — CCF is the scouting view
    (which direction, which delay), Granger the inference. Normalized
    by the full-sample √(Σdy²·Σdx²) so all seven values share one
    denominator and are comparable.

    Scale: two monthly aggregates, demeaning passes, a 7-row lag grid
    joined on the shifted month index — calendar-bounded. Deviations
    round at 8; one shared denominator; rounded at 6."""
    ym, xm = _two_series(spark, sf_dir)
    # integer means/products (round-6 emission rule), mirroring the oracle
    ymu = ym.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round(F.col("y") * 1e6).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e6,
            8,
        ).alias("muy"),
    )
    xmu = xm.agg(
        F.round(
            F.sum(F.round(F.col("x") * 1e6).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e6,
            8,
        ).alias("mux")
    )
    yd = ym.crossJoin(F.broadcast(ymu)).select(
        "mi", F.round(F.col("y") - F.col("muy"), 8).alias("dy")
    )
    xd = xm.crossJoin(F.broadcast(xmu)).select(
        "mi", F.round(F.col("x") - F.col("mux"), 8).alias("dx")
    )
    dy8 = F.round(F.col("dy") * 1e8).cast("long")
    dx8 = F.round(F.col("dx") * 1e8).cast("long")
    den = (
        yd.agg((F.sum(dy8.cast("decimal(19,0)") * dy8).cast("double") / 1e16).alias("sdy"))
        .crossJoin(
            F.broadcast(
                xd.agg(
                    (F.sum(dx8.cast("decimal(19,0)") * dx8).cast("double") / 1e16).alias(
                        "sdx"
                    )
                )
            )
        )
        .select(F.sqrt(F.col("sdy") * F.col("sdx")).alias("den"))
    )
    lags = spark.range(-CCF_MAX_LAG, CCF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    pairs = (
        lags.crossJoin(yd)
        .join(
            F.broadcast(xd.select(F.col("mi").alias("xmi"), "dx")),
            F.col("xmi") == F.col("mi") + F.col("lag"),
        )
        .groupBy("lag")
        .agg(
            (F.sum(dy8.cast("decimal(19,0)") * dx8).cast("double") / 1e16).alias("num"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("num") / F.col("den"), 6).alias("ccf"),
        )
        .orderBy("lag")
    )




# ---------------------------------------------------------------------------
# q_distance_correlation — nonlinear dependence via double-centered distances
# ---------------------------------------------------------------------------


@query(
    "q_distance_correlation",
    oracle=f"""
    WITH {_TWO_SERIES_SQL},
    p AS (
      SELECT ym.mi, ym.y, xm.x FROM ym JOIN xm ON xm.mi = ym.mi
    ),
    pairs AS (
      SELECT a.mi AS j, b.mi AS k,
             round(abs(a.y - b.y), 6) AS ad,
             round(abs(a.x - b.x), 6) AS bd
      FROM p a CROSS JOIN p b
    ),
    rowm AS (
      SELECT j,
             CAST(sum(CAST(round(ad * 1e6) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e6 AS am,
             CAST(sum(CAST(round(bd * 1e6) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e6 AS bm
      FROM pairs GROUP BY j
    ),
    grand AS (
      SELECT CAST(sum(CAST(round(ad * 1e6) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e6 AS ag,
             CAST(sum(CAST(round(bd * 1e6) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e6 AS bg,
             count(*) AS n2 FROM pairs
    ),
    centered AS (
      SELECT round(pairs.ad - rj.am - rk.am + grand.ag, 8) AS ac,
             round(pairs.bd - rj.bm - rk.bm + grand.bg, 8) AS bc,
             grand.n2
      FROM pairs
      JOIN rowm rj ON rj.j = pairs.j
      JOIN rowm rk ON rk.j = pairs.k
      CROSS JOIN grand
    ),
    mom AS (
      SELECT max(n2) AS n2,
             CAST(sum(CAST(round(ac * 1e8) AS HUGEINT)
                      * CAST(round(bc * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / max(n2) AS dcov2,
             CAST(sum(CAST(round(ac * 1e8) AS HUGEINT)
                      * CAST(round(ac * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / max(n2) AS dvary2,
             CAST(sum(CAST(round(bc * 1e8) AS HUGEINT)
                      * CAST(round(bc * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / max(n2) AS dvarx2
      FROM centered
    )
    SELECT CAST(CAST(sqrt(n2) AS BIGINT) AS BIGINT) AS n_months,
           round(dcov2, 6) AS dcov_sq,
           round(sqrt(dcov2 / sqrt(dvary2 * dvarx2)), 6) AS dcor
    FROM mom
    """,
    tags=("stats", "timeseries"),
)
def distance_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance correlation (Székely-Rizzo) between monthly revenue and
    shipped quantity: double-center the pairwise |Δ| matrices of each
    series and correlate them — dCor = 0 characterizes INDEPENDENCE
    (not just uncorrelatedness), so it detects the nonlinear and
    non-monotone dependence that Pearson (q_partial_correlation's raw
    r) and even rank measures (q_spearman_corr, q_gaussian_copula) can
    miss entirely.

    Scale: the pair matrix is O(months²) ≈ 6.4k rows over the broadcast
    80-row joined series — calendar-bounded, corpus-independent past
    the two monthly aggregates. Distances are exact at 6 dp; centered
    values round at 8 before the products; dCor is one closed form,
    rounded at 6."""
    ym, xm = _two_series(spark, sf_dir)
    p = ym.join(xm, "mi")
    b = p.select(
        F.col("mi").alias("k"), F.col("y").alias("yk"), F.col("x").alias("xk")
    )
    pairs = p.crossJoin(F.broadcast(b)).select(
        F.col("mi").alias("j"),
        "k",
        F.round(F.abs(F.col("y") - F.col("yk")), 6).alias("ad"),
        F.round(F.abs(F.col("x") - F.col("xk")), 6).alias("bd"),
    )
    # integer means/products (round-6 emission rule), mirroring the oracle
    ad6 = F.round(F.col("ad") * 1e6).cast("long")
    bd6 = F.round(F.col("bd") * 1e6).cast("long")
    mean6 = lambda c: F.sum(c).cast("double") / F.count(F.lit(1)) / 1e6  # noqa: E731
    rowm = pairs.groupBy("j").agg(mean6(ad6).alias("am"), mean6(bd6).alias("bm"))
    grand = pairs.agg(
        mean6(ad6).alias("ag"), mean6(bd6).alias("bg"), F.count(F.lit(1)).alias("n2")
    )
    rk = rowm.select(F.col("j").alias("k"), F.col("am").alias("amk"), F.col("bm").alias("bmk"))
    centered = (
        pairs.join(F.broadcast(rowm), "j")
        .join(F.broadcast(rk), "k")
        .crossJoin(F.broadcast(grand))
        .select(
            F.round(
                F.col("ad") - F.col("am") - F.col("amk") + F.col("ag"), 8
            ).alias("ac"),
            F.round(
                F.col("bd") - F.col("bm") - F.col("bmk") + F.col("bg"), 8
            ).alias("bc"),
            "n2",
        )
    )
    ac8 = F.round(F.col("ac") * 1e8).cast("long")
    bc8 = F.round(F.col("bc") * 1e8).cast("long")
    ac8d = ac8.cast("decimal(19,0)")
    bc8d = bc8.cast("decimal(19,0)")
    mom = centered.agg(
        F.max("n2").alias("n2"),
        (F.sum(ac8d * bc8).cast("double") / 1e16 / F.max("n2")).alias("dcov2"),
        (F.sum(ac8d * ac8).cast("double") / 1e16 / F.max("n2")).alias("dvary2"),
        (F.sum(bc8d * bc8).cast("double") / 1e16 / F.max("n2")).alias("dvarx2"),
    )
    return mom.select(
        F.sqrt(F.col("n2")).cast("long").alias("n_months"),
        F.round(F.col("dcov2"), 6).alias("dcov_sq"),
        F.round(
            F.sqrt(F.col("dcov2") / F.sqrt(F.col("dvary2") * F.col("dvarx2"))), 6
        ).alias("dcor"),
    )


# ---------------------------------------------------------------------------
# q_synthetic_control — two-donor synthetic control with closed-form weight
# ---------------------------------------------------------------------------

SC_TREATED = "EUROPE"
SC_DONOR_1 = "ASIA"
SC_DONOR_2 = "AMERICA"
SC_SPLIT = "1999-01-01"  # pre-period fit / post-period effect window
SC_GRAIN = 10000  # monthly revenue at 1e-4 M$ integer grain


sql_query(
    "q_synthetic_control",
    f"""
    WITH rm AS (
      SELECT r.r_name AS region,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS mi,
             o.o_orderdate,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('{SC_TREATED}', '{SC_DONOR_1}', '{SC_DONOR_2}')
    ),
    mm AS (
      SELECT region, mi,
             CAST(round(sum(cents) / 1e8 * {SC_GRAIN}) AS BIGINT) AS v,
             min(o_orderdate) < TIMESTAMP '{SC_SPLIT}' AS pre
      FROM rm GROUP BY region, mi
    ),
    piv AS (
      SELECT mi, min(pre) AS pre,
             max(CASE WHEN region = '{SC_TREATED}' THEN v END) AS y,
             max(CASE WHEN region = '{SC_DONOR_1}' THEN v END) AS d1,
             max(CASE WHEN region = '{SC_DONOR_2}' THEN v END) AS d2
      FROM mm GROUP BY mi
      HAVING max(CASE WHEN region = '{SC_TREATED}' THEN v END) IS NOT NULL
         AND max(CASE WHEN region = '{SC_DONOR_1}' THEN v END) IS NOT NULL
         AND max(CASE WHEN region = '{SC_DONOR_2}' THEN v END) IS NOT NULL
    ),
    fit AS (
      SELECT CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
             CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n_post,
             CAST(sum(CASE WHEN pre THEN (y - d2) * (d1 - d2) ELSE 0 END) AS BIGINT)
               AS szx,
             CAST(sum(CASE WHEN pre THEN (d1 - d2) * (d1 - d2) ELSE 0 END) AS BIGINT)
               AS sxx,
             CAST(sum(CASE WHEN pre THEN (y - d2) * (y - d2) ELSE 0 END) AS BIGINT)
               AS szz,
             CAST(sum(CASE WHEN pre THEN 0 ELSE y END) AS BIGINT) AS py,
             CAST(sum(CASE WHEN pre THEN 0 ELSE d1 END) AS BIGINT) AS pd1,
             CAST(sum(CASE WHEN pre THEN 0 ELSE d2 END) AS BIGINT) AS pd2
      FROM piv
    ),
    w AS (
      SELECT n_pre, n_post, szz, szx, sxx, py, pd1, pd2,
             least(greatest(szx * 1e0 / sxx, 0e0), 1e0) AS w1
      FROM fit
    )
    SELECT n_pre, n_post,
           round(w1, 6) AS w_{SC_DONOR_1.lower()},
           round(1e0 - w1, 6) AS w_{SC_DONOR_2.lower()},
           round(sqrt((szz - 2e0 * w1 * szx + w1 * w1 * sxx) / n_pre)
                 / {SC_GRAIN}, 6) AS pre_rmse,
           round((py - w1 * pd1 - (1e0 - w1) * pd2) / n_post / {SC_GRAIN}, 6)
             AS att_monthly,
           round((py - w1 * pd1 - (1e0 - w1) * pd2)
                 / (w1 * pd1 + (1e0 - w1) * pd2), 6) AS att_pct
    FROM w
    """,
    tags=("stats", "causal", "timeseries"),
    doc="""Synthetic control with a two-donor pool: fit the convex weight w on
    pre-{SC_SPLIT} months so w*ASIA + (1-w)*AMERICA tracks EUROPE's
    monthly revenue, then read the post-period gap between EUROPE and its
    synthetic twin as the average monthly treatment effect — the
    comparative-case-study design (Abadie et al.) completing the causal
    toolbox beside q_diff_in_diff (which forces parallel trends instead
    of learning the counterfactual). With two donors and the simplex
    constraint the argmin is CLOSED FORM: w = clamp(S_zx/S_xx, 0, 1) for
    z = y - d2, x = d1 - d2.

    Determinism: monthly series are exact 1e-4-M$-grain BIGINTs, so all
    fit moments are exact integers; w, RMSE (expanded as
    S_zz - 2w S_zx + w^2 S_xx — no residual pass, no ordered double
    sums), and the ATT are closed-form doubles of those integers, rounded
    at 6. Scale: one dim-chain aggregate to O(3 x months) cells pivoted
    per month; O(1) after.""",
)


# ---------------------------------------------------------------------------
# q_dtw_distance — dynamic time warping between the two quarterly series
# ---------------------------------------------------------------------------

DTW_BAND = 4  # Sakoe-Chiba band half-width (quarters)
DTW_MAXQ = 30  # diagonals generated for up to this many quarters per series
DTW_INF = 1e18

# Emission/state hardening (round-6 window rule): the revenue series sums
# exact integer CENTS (the old round(sum(double), 2) was engine-order-
# sensitive), and the z-scores derive from exact 1e-6-grain integer moments
# (v6, s1 = sum v6, s2 = sum v6^2 as HUGEINT) so mu/sd see identical
# inputs on both engines — the float ops (x*1.0/n, sqrt, divisions) are
# then correctly-rounded IEEE on identical operands. The Python walk in
# dtw_distance mirrors this arithmetic step for step.
_DTW_QSER = """
    qa1 AS (
      SELECT qi, v, row_number() OVER (ORDER BY qi) AS i FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) * 4 + quarter(o_orderdate) AS qi,
               round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     / 100e0 / 1000000.0, 6) AS v
        FROM orders GROUP BY qi
      )
    ),
    qb1 AS (
      SELECT qi, v, row_number() OVER (ORDER BY qi) AS i FROM (
        SELECT CAST(year(l_shipdate) AS BIGINT) * 4 + quarter(l_shipdate) AS qi,
               round(sum(l_quantity) / 1000.0, 6) AS v
        FROM lineitem GROUP BY qi
      )
    ),
    qa6 AS (SELECT i, CAST(round(v * 1e6) AS BIGINT) AS v6 FROM qa1),
    qb6 AS (SELECT i, CAST(round(v * 1e6) AS BIGINT) AS v6 FROM qb1),
    sa AS (SELECT count(*) AS n, sum(v6) AS s1,
                  sum(CAST(v6 AS HUGEINT) * v6) AS s2 FROM qa6),
    sb AS (SELECT count(*) AS n, sum(v6) AS s1,
                  sum(CAST(v6 AS HUGEINT) * v6) AS s2 FROM qb6),
    qa AS (SELECT i, round((v6 - s1 * 1.0 / n)
                           / sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)),
                           8) AS z
           FROM qa6 CROSS JOIN sa),
    qb AS (SELECT i, round((v6 - s1 * 1.0 / n)
                           / sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)),
                           8) AS z
           FROM qb6 CROSS JOIN sb)
"""


def _dtw_oracle() -> str:
    layers = ""
    for k in range(3, 2 * DTW_MAXQ + 1):
        d_join = (
            f"""
      LEFT JOIN f{k - 2} d ON d.i = cost.i - 1"""
            if k >= 4
            else ""
        )
        d_term = f"coalesce(d.v, {DTW_INF})" if k >= 4 else f"{DTW_INF}"
        layers += f""",
    f{k} AS MATERIALIZED (
      SELECT cost.i,
             round(cost.c + least(coalesce(a.v, {DTW_INF}),
                                  coalesce(b.v, {DTW_INF}),
                                  {d_term}), 8) AS v
      FROM cost
      LEFT JOIN f{k - 1} a ON a.i = cost.i - 1
      LEFT JOIN f{k - 1} b ON b.i = cost.i{d_join}
      WHERE cost.i + cost.j = {k} AND cost.i + cost.j > 2
    )"""
    union = " UNION ALL ".join(
        f"SELECT {k} AS k, i, v FROM f{k}" for k in range(2, 2 * DTW_MAXQ + 1)
    )
    return f"""
    WITH {_DTW_QSER},
    cost AS MATERIALIZED (
      SELECT a.i, b.i AS j, round(abs(a.z - b.z), 8) AS c
      FROM qa a JOIN qb b ON abs(a.i - b.i) <= {DTW_BAND}
    ),
    f2 AS MATERIALIZED (
      SELECT i, c AS v FROM cost WHERE i = 1 AND j = 1
    ){layers},
    frontier AS ({union}),
    dims AS (SELECT (SELECT count(*) FROM qa1) AS na,
                    (SELECT count(*) FROM qb1) AS nb),
    euc AS (
      SELECT round(sqrt(CAST(sum(CAST(round(c * 1e8) AS HUGEINT)
                                 * CAST(round(c * 1e8) AS BIGINT)) AS DOUBLE))
                   / 1e8, 6) AS euclid
      FROM cost WHERE i = j
    )
    SELECT d.na, d.nb,
           round(f.v, 6) AS dtw_distance,
           round(f.v / (d.na + d.nb), 6) AS dtw_per_step,
           e.euclid AS euclid_diag,
           round(f.v / e.euclid, 4) AS dtw_vs_euclid
    FROM dims d
    JOIN frontier f ON f.k = d.na + d.nb AND f.i = d.na
    CROSS JOIN euc e
    """


@query("q_dtw_distance", oracle=_dtw_oracle(), tags=("timeseries", "iterative"))
def dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping between the z-normalized quarterly revenue
    and shipped-quantity series (Sakoe-Chiba band r = {DTW_BAND}): the
    alignment-invariant distance that q_cross_correlation's fixed-lag
    scan cannot provide when the lead-lag relationship DRIFTS — DTW
    finds the optimal monotone warp and its per-step cost, with the
    banded diagonal Euclid as the no-warp reference (dtw_vs_euclid < 1
    = warping explains real phase drift). The classic dynamic-program
    expressed two ways: the DuckDB oracle unrolls the banded DP as one
    MATERIALIZED CTE per anti-diagonal (each frontier is referenced
    three times — twice by the next diagonal, once by the one after —
    so materialization is what keeps the plan linear instead of 2^56),
    while Spark collects the two O(calendar) z-series (<= {DTW_MAXQ}
    points, the q_markov_absorption bounded-model posture) and walks
    the identical 8-dp-rounded recurrence in Python.

    Determinism (hardened, round-6 window rule): quarterly values round
    at 6 from exact integer cents/counts; z-scores derive from exact
    1e-6-grain integer moments (no engine-ordered double summation —
    see zser), cell costs round at 8 on identical z inputs; every DP
    cell re-rounds at 8, so both engines walk bit-identical frontiers;
    the diagonal Euclid sums exact (1e8-grain cost)^2 integers; outputs
    round 6/4 on identical inputs. Scale:
    two map-side quarterly aggregates; the DP is O(n x band) on
    calendar-bounded state — corpus-size-independent past the scans."""
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qa1 = (
        orders.groupBy(
            (F.year("o_orderdate").cast("long") * 4 + F.quarter("o_orderdate")).alias(
                "qi"
            )
        )
        .agg(
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
                / 1000000.0,
                6,
            ).alias("v")
        )
        .orderBy("qi")
    )
    qb1 = (
        li.groupBy(
            (F.year("l_shipdate").cast("long") * 4 + F.quarter("l_shipdate")).alias(
                "qi"
            )
        )
        .agg(F.round(F.sum("l_quantity") / 1000.0, 6).alias("v"))
        .orderBy("qi")
    )

    def zser(df) -> list[float]:
        """z-scores from exact 1e-6-grain integer moments, mirroring the
        oracle's qa6/sa CTEs arithmetic step for step: v6 snaps the 6-dp
        values to BIGINT, s1/s2 are exact integer sums (Python ints —
        the oracle uses HUGEINT), and each float op (float(s)/n, sqrt,
        the final division) is correctly-rounded IEEE on identical
        operands — no engine-ordered double summation anywhere."""
        import math

        rows = df.collect()  # O(calendar) quarters — bounded model state
        v6 = [int(round(r["v"] * 1e6)) for r in rows]
        n = len(v6)
        s1, s2 = sum(v6), sum(x * x for x in v6)
        mu = float(s1) / n  # matches SQL s1 * 1.0 / n (convert, then divide)
        sd = math.sqrt(float(s2) / n - mu * mu)
        return [rnd((x - mu) / sd, 8) for x in v6]

    za, zb = zser(qa1), zser(qb1)
    import math

    na, nb = len(za), len(zb)
    INF = DTW_INF
    dp: dict[tuple[int, int], float] = {}
    euc_sq8 = 0  # exact integer sum of (1e8-grain cost)^2 — order-free
    for i in range(1, na + 1):
        for j in range(max(1, i - DTW_BAND), min(nb, i + DTW_BAND) + 1):
            c = rnd(abs(za[i - 1] - zb[j - 1]), 8)
            if i == j:
                euc_sq8 += int(round(c * 1e8)) ** 2
            if i == 1 and j == 1:
                dp[(1, 1)] = c
            else:
                best = min(
                    dp.get((i - 1, j), INF),
                    dp.get((i, j - 1), INF),
                    dp.get((i - 1, j - 1), INF),
                )
                dp[(i, j)] = rnd(c + best, 8)
    dtw = dp[(na, nb)]
    euclid = rnd(math.sqrt(float(euc_sq8)) / 1e8, 6)
    out = [
        (
            na,
            nb,
            rnd(dtw, 6),
            rnd(dtw / (na + nb), 6),
            euclid,
            rnd(dtw / euclid, 4),
        )
    ]
    return spark.createDataFrame(
        out,
        "na bigint, nb bigint, dtw_distance double, dtw_per_step double,"
        " euclid_diag double, dtw_vs_euclid double",
    )
