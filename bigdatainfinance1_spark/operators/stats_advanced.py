"""Advanced inference operators (round 4 continuation): the Nelson-Aalen
cumulative-hazard estimator (completing the survival pair with
q_kaplan_meier) and Benjamini-Hochberg FDR control over the per-nation
mean tests (completing the multiple-testing story the per-test queries
q_welch_ttest / q_two_proportion_ztest leave open — at 25+ simultaneous
hypotheses, uncorrected 5% tests produce false discoveries by design).

Scale notes: Nelson-Aalen reuses the Kaplan-Meier shape — a per-customer
window pass, then everything on the per-segment event-time grid (bounded
by distinct day durations), with all windows partitioned by segment.
Benjamini-Hochberg reduces the fact scan to one per-nation moment
aggregate; the p-value ranking runs on the O(nations) relation through
functions/ranks.py's two-phase global rank (no single-partition window).

Determinism: hazard prefix sums are window-ordered folds (identical
fold order on both engines, ulp-exact), rounded at 6; p-values come from
the shared Abramowitz-Stegun CDF polynomial (quant_pricing's helper — the
SAME SQL text in the oracle, the same algebra via DataFrame expressions
Spark-side) and every BH decision compares round(p, 9) against an exact
rational threshold with the nation key as tie-break.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.ranks import global_row_number
from bigdatainfinance1_spark.operators.quant_pricing import _norm_cdf_sql
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_nelson_aalen
# ---------------------------------------------------------------------------


@query(
    "q_nelson_aalen",
    oracle="""
    WITH ranked AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             o.o_orderdate,
             row_number() OVER (PARTITION BY o.o_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    maxd AS (SELECT max(o_orderdate) AS maxdate FROM orders),
    durations AS (
      SELECT f.seg,
             CASE WHEN s.o_custkey IS NOT NULL
                  THEN datediff('day', f.o_orderdate, s.o_orderdate)
                  ELSE datediff('day', f.o_orderdate, m.maxdate) END AS t,
             CASE WHEN s.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM ranked f
      LEFT JOIN ranked s ON f.o_custkey = s.o_custkey AND s.rn = 2
      CROSS JOIN maxd m
      WHERE f.rn = 1
    ),
    grid AS (
      SELECT seg, t, CAST(sum(ev) AS BIGINT) AS d_events, count(*) AS at_t
      FROM durations GROUP BY seg, t
    ),
    risk AS (
      SELECT seg, t, d_events,
             CAST(sum(at_t) OVER (PARTITION BY seg ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT seg, CAST(t AS BIGINT) AS t, d_events, n_risk,
           round(sum(d_events * 1e0 / n_risk) OVER (
             PARTITION BY seg ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_hazard,
           round(sum(d_events * 1e0 / (n_risk * 1e0 * n_risk)) OVER (
             PARTITION BY seg ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS hazard_var,
           round(exp(-sum(d_events * 1e0 / n_risk) OVER (
             PARTITION BY seg ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
             AS survival_fh
    FROM risk
    WHERE d_events > 0
    """,
    tags=("analytics", "stats", "finance"),
)
def nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard per market segment for 'days until
    the second order', on exactly q_kaplan_meier's censored durations:
    H(t) = sum_{t_i <= t} d_i/n_i with its variance estimator
    sum d_i/n_i^2 and the Fleming-Harrington survival exp(-H) — the
    estimator of choice when hazard (instantaneous churn intensity), not
    survival, is the quantity being modeled, and the standard cross-check
    on the KM curve (exp(-H) >= KM pointwise).

    Scale: identical posture to q_kaplan_meier — per-customer window for
    first/second order, then per-segment event-time grid (bounded by
    distinct day durations); at-risk counts via a DESCENDING cumulative
    sum, hazard via ASCENDING prefix sums — all windows partitioned by
    segment. Prefix sums are order-defined folds, so both engines visit
    identical doubles; rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        "o_custkey",
        "o_orderdate",
        F.row_number().over(wc).alias("rn"),
    )
    first = ranked.filter(F.col("rn") == 1).select(
        "seg", F.col("o_custkey").alias("ck"), F.col("o_orderdate").alias("d1")
    )
    second = ranked.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck"), F.col("o_orderdate").alias("d2")
    )
    maxd = orders.agg(F.max("o_orderdate").alias("maxdate"))
    durations = (
        first.join(second, "ck", "left")
        .crossJoin(F.broadcast(maxd))
        .select(
            "seg",
            F.when(
                F.col("d2").isNotNull(), F.datediff("d2", "d1")
            ).otherwise(F.datediff("maxdate", "d1")).alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    grid = durations.groupBy("seg", "t").agg(
        F.sum("ev").cast("long").alias("d_events"), F.count(F.lit(1)).alias("at_t")
    )
    wdesc = Window.partitionBy("seg").orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.select(
        "seg", "t", "d_events", F.sum("at_t").over(wdesc).cast("long").alias("n_risk")
    )
    wasc = Window.partitionBy("seg").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    h = F.sum(F.col("d_events") * 1e0 / F.col("n_risk")).over(wasc)
    v = F.sum(
        F.col("d_events") * 1e0 / (F.col("n_risk") * 1e0 * F.col("n_risk"))
    ).over(wasc)
    return (
        risk.select(
            "seg",
            F.col("t").cast("long").alias("t"),
            "d_events",
            "n_risk",
            F.round(h, 6).alias("cum_hazard"),
            F.round(v, 6).alias("hazard_var"),
            F.round(F.exp(-h), 6).alias("survival_fh"),
        )
        .filter(F.col("d_events") > 0)
    )


# ---------------------------------------------------------------------------
# q_benjamini_hochberg
# ---------------------------------------------------------------------------

BH_Q = 0.10  # target false-discovery rate


def _norm_cdf_col(x: Column) -> Column:
    """Abramowitz-Stegun 26.2.17 as a Spark Column — the same Horner chain
    as quant_pricing._norm_cdf_sql (which the oracle embeds), so both
    engines evaluate the identical polynomial."""
    t = 1.0 / (1.0 + 0.2316419 * F.abs(x))
    poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))))
    upper = 1.0 - F.exp(-F.abs(x) * F.abs(x) / 2.0) / F.sqrt(F.lit(2.0) * F.lit(3.141592653589793)) * poly
    return F.when(x >= 0.0, upper).otherwise(1.0 - upper)


@query(
    "q_benjamini_hochberg",
    oracle=f"""
    WITH g AS (
      SELECT c.c_nationkey AS nationkey,
             count(*) AS n,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
               AS s,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS HUGEINT)
                      * CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 1e4 AS ss
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    ),
    gm AS (SELECT CAST(sum(CAST(round(s * 100) AS BIGINT)) AS DOUBLE) / 100 / sum(n)
                  AS mu FROM g),
    z AS (
      SELECT nationkey, n,
             (s / n - gm.mu) / sqrt((ss / n - (s / n) * (s / n)) / n) AS z
      FROM g CROSS JOIN gm
    ),
    p AS (
      SELECT nationkey, n, round(z, 6) AS z,
             round(2.0 * (1.0 - {_norm_cdf_sql('abs(z)')}), 9) AS p
      FROM z
    ),
    ranked AS (
      SELECT p.*, rnk.k, rnk.m FROM p
      JOIN (
        SELECT nationkey,
               row_number() OVER (ORDER BY round(2.0 * (1.0 - {_norm_cdf_sql('abs(z)')}), 9), nationkey) AS k,
               count(*) OVER () AS m
        FROM z
      ) rnk USING (nationkey)
    ),
    kmax AS (
      SELECT coalesce(max(k), 0) AS kmax
      FROM ranked WHERE p <= k * {BH_Q} / m
    )
    SELECT CAST(nationkey AS BIGINT) AS nationkey,
           CAST(n AS BIGINT) AS n_orders,
           z AS z_stat,
           p AS p_value,
           CAST(k AS BIGINT) AS p_rank,
           round(k * {BH_Q} / m, 9) AS bh_threshold,
           k <= kmax.kmax AS rejected
    FROM ranked CROSS JOIN kmax
    """,
    tags=("stats", "inference"),
)
def benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the 25 simultaneous per-nation
    mean tests (is this nation's average order value different from the
    global mean?): per-nation z statistics from one moment aggregate,
    two-sided p-values through the shared A&S normal CDF, p-values ranked
    ascending, and the BH step-up rule — reject ranks 1..k_max where
    k_max is the largest k with p_(k) <= k/m x q at q = {q}. This is the
    discipline that keeps a 25-test (or 25,000-segment) screening from
    manufacturing discoveries — the missing piece above the individual
    test queries.

    Scale: ONE map-side-combinable moment aggregate over the fact join;
    ranking and the step-up scan run on the O(nations) relation via
    functions/ranks.py's two-phase global rank (no single-partition
    window even when m grows to millions of segments). Determinism: the
    rank orders on round(p, 9) with the nation key as tie-break, and the
    BH comparison is against an exact rational threshold."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    g = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast(
                    "double"
                )
                / 100
            ).alias("s"),
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("decimal(19,0)")
                    * F.round(F.col("o_totalprice") * 100).cast("long")
                ).cast("double")
                / 1e4
            ).alias("ss"),
        )
    )
    glob = g.agg(
        (
            F.sum(F.round(F.col("s") * 100).cast("long")).cast("double")
            / 100
            / F.sum("n")
        ).alias("mu")
    )
    n = F.col("n").cast("double")
    zc = (F.col("s") / n - F.col("mu")) / F.sqrt(
        (F.col("ss") / n - (F.col("s") / n) * (F.col("s") / n)) / n
    )
    z = g.crossJoin(F.broadcast(glob)).select("nationkey", "n", zc.alias("z"))
    p = z.select(
        "nationkey",
        "n",
        F.round(F.col("z"), 6).alias("z"),
        F.round(2.0 * (1.0 - _norm_cdf_col(F.abs(F.col("z")))), 9).alias("p"),
    )
    ranked = global_row_number(p, [F.col("p").asc(), F.col("nationkey").asc()], rn_col="k")
    m = ranked.agg(F.count(F.lit(1)).alias("m"))
    ranked = ranked.crossJoin(F.broadcast(m))
    kmax = (
        ranked.filter(F.col("p") <= F.col("k") * BH_Q / F.col("m"))
        .agg(F.coalesce(F.max("k"), F.lit(0)).alias("kmax"))
    )
    return ranked.crossJoin(F.broadcast(kmax)).select(
        F.col("nationkey").cast("long").alias("nationkey"),
        F.col("n").cast("long").alias("n_orders"),
        F.col("z").alias("z_stat"),
        F.col("p").alias("p_value"),
        F.col("k").cast("long").alias("p_rank"),
        F.round(F.col("k") * BH_Q / F.col("m"), 9).alias("bh_threshold"),
        (F.col("k") <= F.col("kmax")).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# q_aipw_ate — doubly-robust (augmented IPW) treatment effect
# ---------------------------------------------------------------------------

AIPW_TREAT_SEG = "BUILDING"  # must match q_ipw_ate's treatment definition


@query(
    "q_aipw_ate",
    oracle=f"""
    WITH base AS (
      SELECT c.c_nationkey AS nationkey,
             CASE WHEN c.c_mktsegment = '{AIPW_TREAT_SEG}' THEN 1 ELSE 0 END AS tr,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cell AS (
      SELECT nationkey, tr, count(*) AS n,
             CAST(sum(CAST(round(y * 100) AS BIGINT)) AS DOUBLE) / 100 AS sy
      FROM base GROUP BY nationkey, tr
    ),
    nat AS (
      SELECT nationkey,
             sum(CASE WHEN tr = 1 THEN n ELSE 0 END) AS n1,
             sum(CASE WHEN tr = 0 THEN n ELSE 0 END) AS n0,
             sum(CASE WHEN tr = 1 THEN sy ELSE 0.0 END) AS sy1,
             sum(CASE WHEN tr = 0 THEN sy ELSE 0.0 END) AS sy0
      FROM cell GROUP BY nationkey
    ),
    -- with cell-mean outcome models and cell propensities, the AIPW
    -- correction terms vanish cell-by-cell ONLY in expectation; the exact
    -- per-nation contribution is n_k * (mu1_k - mu0_k) because the
    -- residual sums are identically zero within each (nation, arm) cell.
    terms AS (
      SELECT nationkey, n1 + n0 AS nk,
             (sy1 / n1 - sy0 / n0) AS contrast
      FROM nat WHERE n1 > 0 AND n0 > 0
    ),
    tot AS (SELECT sum(nk) AS n FROM terms)
    SELECT CAST(tot.n AS BIGINT) AS n_matched,
           round(CAST(sum(CAST(round(terms.nk * terms.contrast * 1e6) AS HUGEINT))
                      AS DOUBLE) / 1e6 / tot.n, 4) AS ate_aipw,
           CAST(count(*) AS BIGINT) AS n_nations_used
    FROM terms CROSS JOIN tot
    GROUP BY tot.n
    """,
    tags=("experimentation", "causal", "stats"),
)
def aipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) average treatment effect for the same design
    as q_ipw_ate (treatment = {seg} segment, confounder = nation). With
    saturated cell-mean outcome models and cell propensities, the AIPW
    influence-function terms collapse EXACTLY: within each (nation, arm)
    cell the weighted residual sum is identically zero, so the estimator
    reduces to the n_k-weighted mean of per-nation treated-vs-control
    contrasts (the stratified/regression-adjustment estimator) — the
    classic result that AIPW with a saturated model equals stratification.
    The query computes that exact collapsed form; comparing its value to
    q_ipw_ate's Hajek estimate is the standard double-robustness audit.

    Scale: ONE map-side-combinable (nation, arm) aggregate; everything
    downstream is closed-form arithmetic on O(nations) rows. Determinism:
    per-nation contrasts are ratios of exact sums; the final weighted
    mean spans 25 summands, rounded at 4."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.col("c_nationkey").alias("nationkey"),
        F.when(F.col("c_mktsegment") == AIPW_TREAT_SEG, 1).otherwise(0).alias("tr"),
        F.col("o_totalprice").alias("y"),
    )
    cell = base.groupBy("nationkey", "tr").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("y") * 100).cast("long")).cast("double") / 100
        ).alias("sy"),
    )
    nat = cell.groupBy("nationkey").agg(
        F.sum(F.when(F.col("tr") == 1, F.col("n")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("tr") == 0, F.col("n")).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("tr") == 1, F.col("sy")).otherwise(0.0)).alias("sy1"),
        F.sum(F.when(F.col("tr") == 0, F.col("sy")).otherwise(0.0)).alias("sy0"),
    )
    terms = nat.filter((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        (F.col("n1") + F.col("n0")).alias("nk"),
        (F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0")).alias("contrast"),
    )
    tot = terms.agg(F.sum("nk").alias("n"))
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("nk") * F.col("contrast") * 1e6).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / 1e6
                / F.first("n"),
                4,
            ).alias("ate_aipw"),
            F.count(F.lit(1)).alias("n_nations_used"),
        )
        .select(
            F.col("n").cast("long").alias("n_matched"),
            "ate_aipw",
            F.col("n_nations_used").cast("long").alias("n_nations_used"),
        )
    )


# ---------------------------------------------------------------------------
# q_dkw_band — ECDF with Dvoretzky-Kiefer-Wolfowitz confidence band
# ---------------------------------------------------------------------------

DKW_STEP = 25000.0
DKW_MAX_T = 20
DKW_LN_2_OVER_ALPHA = 3.6888794541139363  # ln(2/0.05)


sql_query(
    "q_dkw_band",
    f"""
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / {DKW_STEP}), {DKW_MAX_T}) AS BIGINT) AS bkt,
             count(*) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS nt FROM b),
    grid AS (SELECT t FROM range(0, {DKW_MAX_T} + 1) AS r(t)),
    ecdf AS (
      SELECT g.t, coalesce(sum(CASE WHEN b.bkt <= g.t THEN b.n END), 0) AS cum
      FROM grid g LEFT JOIN b ON true
      GROUP BY g.t
    )
    SELECT CAST((ecdf.t + 1) * {DKW_STEP} AS DOUBLE) AS value_cutoff,
           CAST(ecdf.cum AS BIGINT) AS n_below,
           CAST(round(ecdf.cum * 1.0 / tot.nt, 6) AS DOUBLE) AS ecdf,
           round(sqrt({DKW_LN_2_OVER_ALPHA} / (2.0 * tot.nt)), 6) AS epsilon,
           round(greatest(ecdf.cum * 1.0 / tot.nt
                          - sqrt({DKW_LN_2_OVER_ALPHA} / (2.0 * tot.nt)), 0.0), 6)
             AS band_lo,
           round(least(ecdf.cum * 1.0 / tot.nt
                       + sqrt({DKW_LN_2_OVER_ALPHA} / (2.0 * tot.nt)), 1.0), 6)
             AS band_hi
    FROM ecdf CROSS JOIN tot
    """,
    tags=("stats", "nonparametric"),
    doc="""Empirical CDF of order value at a fixed 25k grid with the
    Dvoretzky-Kiefer-Wolfowitz 95% simultaneous confidence band:
    P(sup_t |F_hat(t) - F(t)| > eps) <= 2 exp(-2 n eps^2), so eps =
    sqrt(ln(2/alpha) / 2n) bounds the WHOLE curve at once — the
    uncertainty statement a distribution plot should carry, and the
    nonparametric companion of the pointwise tests (its sup-norm form is
    exactly what q_ks_test thresholds).

    Scale: the q_roc_curve posture — one map-side-combinable bucket
    aggregate, prefix sums on the bounded grid; ECDF values are ratios of
    exact integers and eps is one closed form of n, rounded at 6.""",
)


# ---------------------------------------------------------------------------
# q_wilson_interval
# ---------------------------------------------------------------------------

WILSON_Z = 1.959964  # 95%


sql_query(
    "q_wilson_interval",
    f"""
    WITH seg AS (
      SELECT c.c_mktsegment AS seg,
             count(*) AS n,
             sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    )
    SELECT seg,
           CAST(n AS BIGINT) AS n,
           CAST(x AS BIGINT) AS x,
           round(x * 1e0 / n, 6) AS p_hat,
           round((x * 1e0 / n + CAST({WILSON_Z} * {WILSON_Z} AS DOUBLE) / (2.0 * n)
                  - {WILSON_Z} * sqrt((x * 1e0 / n) * (1.0 - x * 1e0 / n) / n
                                      + CAST({WILSON_Z} * {WILSON_Z} AS DOUBLE) / (4.0 * n * n)))
                 / (1.0 + CAST({WILSON_Z} * {WILSON_Z} AS DOUBLE) / n), 6) AS wilson_lo,
           round((x * 1e0 / n + CAST({WILSON_Z} * {WILSON_Z} AS DOUBLE) / (2.0 * n)
                  + {WILSON_Z} * sqrt((x * 1e0 / n) * (1.0 - x * 1e0 / n) / n
                                      + CAST({WILSON_Z} * {WILSON_Z} AS DOUBLE) / (4.0 * n * n)))
                 / (1.0 + CAST({WILSON_Z} * {WILSON_Z} AS DOUBLE) / n), 6) AS wilson_hi,
           round(x * 1e0 / n - {WILSON_Z} * sqrt((x * 1e0 / n) * (1.0 - x * 1e0 / n) / n), 6)
             AS wald_lo
    FROM seg
    """,
    tags=("stats", "inference"),
    doc="""Wilson score 95% confidence interval for the urgent-order rate per
    market segment — the proportion CI that stays inside [0, 1] and keeps
    coverage at small n / extreme p where the Wald interval (reported
    alongside for the contrast) collapses; the interval every
    conversion-rate dashboard should use. One closed form of the exact
    integer (n, x) per segment, rounded at 6 — scale is one
    map-side-combinable aggregate.""",
)


# ---------------------------------------------------------------------------
# q_capture_recapture
# ---------------------------------------------------------------------------

CR_M1, CR_M2 = "1996-03-01", "1996-09-01"  # the two one-month "captures"


sql_query(
    "q_capture_recapture",
    f"""
    WITH s1 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '{CR_M1}'
        AND o_orderdate < TIMESTAMP '{CR_M1}' + INTERVAL 1 MONTH
    ),
    s2 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '{CR_M2}'
        AND o_orderdate < TIMESTAMP '{CR_M2}' + INTERVAL 1 MONTH
    ),
    c AS (
      SELECT (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s1 JOIN s2 USING (o_custkey)) AS m,
             (SELECT count(DISTINCT o_custkey) FROM orders) AS true_n
    )
    SELECT CAST(n1 AS BIGINT) AS n_first_capture,
           CAST(n2 AS BIGINT) AS n_second_capture,
           CAST(m AS BIGINT) AS n_recaptured,
           CAST(round((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0, 2) AS DOUBLE) AS chapman_estimate,
           CAST(true_n AS BIGINT) AS true_active_customers,
           CAST(round(((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0) / true_n, 4) AS DOUBLE) AS coverage_ratio
    FROM c
    """,
    tags=("stats", "estimation"),
    doc="""Capture-recapture (Chapman-corrected Lincoln-Petersen) estimate of
    the active customer population from two one-month purchase snapshots:
    N_hat = (n1+1)(n2+1)/(m+1) - 1, reported against the true distinct
    count — the mark-recapture machinery used to size populations you
    can't enumerate (active wallets, fraud rings, deduplicated entities
    across silos) from overlap alone. The bias the estimate shows here is
    itself informative: TPC-H customers don't purchase independently
    month to month, exactly the heterogeneity caveat of the method.

    Scale: two pushed-down one-month scans reduced to distinct-key sets,
    one semi-join for the overlap, integer closed form — all
    map-side-combinable aggregates.""",
)


# ---------------------------------------------------------------------------
# q_wasserstein_drift — 1-D earth-mover distance between two distributions
# ---------------------------------------------------------------------------

WD_STEP = 25000.0
WD_MAX_T = 20
WD_REGIONS = ("EUROPE", "ASIA")


@query(
    "q_wasserstein_drift",
    oracle=f"""
    WITH base AS (
      SELECT r.r_name, CAST(least(floor(o.o_totalprice / {WD_STEP}), {WD_MAX_T}) AS BIGINT) AS bkt,
             count(*) AS n
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation na ON c.c_nationkey = na.n_nationkey
      JOIN region r ON na.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('{WD_REGIONS[0]}', '{WD_REGIONS[1]}')
      GROUP BY r.r_name, 2
    ),
    tot AS (
      SELECT r_name, sum(n) AS nt FROM base GROUP BY r_name
    ),
    grid AS (SELECT t FROM range(0, {WD_MAX_T} + 1) AS r(t)),
    cdf AS (
      SELECT g.t,
             coalesce(sum(CASE WHEN b.r_name = '{WD_REGIONS[0]}' AND b.bkt <= g.t THEN b.n END), 0)
               * 1.0 / (SELECT nt FROM tot WHERE r_name = '{WD_REGIONS[0]}') AS f1,
             coalesce(sum(CASE WHEN b.r_name = '{WD_REGIONS[1]}' AND b.bkt <= g.t THEN b.n END), 0)
               * 1.0 / (SELECT nt FROM tot WHERE r_name = '{WD_REGIONS[1]}') AS f2
      FROM grid g LEFT JOIN base b ON true
      GROUP BY g.t
    )
    SELECT round(CAST(sum(CAST(round(abs(f1 - f2) * 1e12) AS HUGEINT)) AS DOUBLE)
                 / 1e12 * {WD_STEP}, 2) AS wasserstein_1,
           round(max(abs(f1 - f2)), 6) AS ks_sup,
           CAST(count(*) AS BIGINT) AS n_grid_points
    FROM cdf
    """,
    tags=("stats", "drift"),
)
def wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the EUROPE and ASIA
    order-value distributions on a 25k bucket grid: W1 = integral
    |F1 - F2| = sum over buckets of |CDF difference| x width, with the
    Kolmogorov-Smirnov sup-difference alongside. W1 is the drift metric
    that sees HOW FAR mass moved, not just that it moved — the reason
    monitoring stacks report it next to PSI (q_psi_drift) and KS
    (q_ks_test): a small shift of all mass and a large shift of a little
    mass can share a KS value but never a W1.

    Scale: ONE map-side-combinable (region, bucket) integer-count
    aggregate; CDFs and the integral are prefix sums on the bounded grid
    (the q_roc_curve posture). Ratios of exact integers throughout,
    rounded at 2/6."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name").isin(*WD_REGIONS))
        .groupBy(
            "r_name",
            F.least(F.floor(F.col("o_totalprice") / WD_STEP), F.lit(WD_MAX_T))
            .cast("long")
            .alias("bkt"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = base.groupBy("r_name").agg(F.sum("n").alias("nt"))
    t1 = tot.filter(F.col("r_name") == WD_REGIONS[0]).select(F.col("nt").alias("n1"))
    t2 = tot.filter(F.col("r_name") == WD_REGIONS[1]).select(F.col("nt").alias("n2"))
    grid = spark.range(0, WD_MAX_T + 1).select(F.col("id").alias("t"))
    cdf = (
        grid.join(F.broadcast(base), F.lit(True), "left")
        .groupBy("t")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("r_name") == WD_REGIONS[0]) & (F.col("bkt") <= F.col("t")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            ).alias("c1"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("r_name") == WD_REGIONS[1]) & (F.col("bkt") <= F.col("t")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            ).alias("c2"),
        )
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "t",
            (F.col("c1") * 1.0 / F.col("n1")).alias("f1"),
            (F.col("c2") * 1.0 / F.col("n2")).alias("f2"),
        )
    )
    return cdf.agg(
        F.round(
            F.sum(
                F.round(F.abs(F.col("f1") - F.col("f2")) * 1e12).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / 1e12
            * WD_STEP,
            2,
        ).alias("wasserstein_1"),
        F.round(F.max(F.abs(F.col("f1") - F.col("f2"))), 6).alias("ks_sup"),
        F.count(F.lit(1)).cast("long").alias("n_grid_points"),
    )


# ---------------------------------------------------------------------------
# q_logrank_test — two-group survival comparison
# ---------------------------------------------------------------------------

LOGRANK_SEG = "BUILDING"  # group 1; all other segments are group 0
LOGRANK_CHI2_95 = 3.841459


@query(
    "q_logrank_test",
    oracle=f"""
    WITH ranked AS (
      SELECT CASE WHEN c.c_mktsegment = '{LOGRANK_SEG}' THEN 1 ELSE 0 END AS grp,
             o.o_custkey, o.o_orderdate,
             row_number() OVER (PARTITION BY o.o_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    maxd AS (SELECT max(o_orderdate) AS maxdate FROM orders),
    durations AS (
      SELECT f.grp,
             CASE WHEN s.o_custkey IS NOT NULL
                  THEN datediff('day', f.o_orderdate, s.o_orderdate)
                  ELSE datediff('day', f.o_orderdate, m.maxdate) END AS t,
             CASE WHEN s.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM ranked f
      LEFT JOIN ranked s ON f.o_custkey = s.o_custkey AND s.rn = 2
      CROSS JOIN maxd m
      WHERE f.rn = 1
    ),
    cell AS (
      SELECT grp, t, sum(ev) AS d, count(*) AS at_t
      FROM durations GROUP BY grp, t
    ),
    times AS (SELECT DISTINCT t FROM cell),
    ggrid AS (
      SELECT g.grp, ti.t, coalesce(c.d, 0) AS d, coalesce(c.at_t, 0) AS at_t
      FROM (SELECT DISTINCT grp FROM cell) g
      CROSS JOIN times ti
      LEFT JOIN cell c ON c.grp = g.grp AND c.t = ti.t
    ),
    risk AS (
      SELECT grp, t, d,
             sum(at_t) OVER (PARTITION BY grp ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      FROM ggrid
    ),
    pooled AS (
      SELECT r1.t,
             r1.d AS d1, r1.n_risk AS n1,
             r0.d AS d0, r0.n_risk AS n0
      FROM (SELECT * FROM risk WHERE grp = 1) r1
      JOIN (SELECT * FROM risk WHERE grp = 0) r0 USING (t)
      WHERE r1.d + r0.d > 0 AND r1.n_risk + r0.n_risk > 1
    ),
    s AS (
      SELECT sum(d1) AS o1,
             CAST(sum(CAST(round((d1 + d0) * 1.0 * n1 / (n1 + n0) * 1e9)
                           AS HUGEINT)) AS DOUBLE) / 1e9 AS e1,
             CAST(sum(CAST(round((d1 + d0) * 1.0 * n1 / (n1 + n0)
                                 * (1.0 - n1 * 1.0 / (n1 + n0))
                                 * (n1 + n0 - d1 - d0) / (n1 + n0 - 1.0) * 1e9)
                           AS HUGEINT)) AS DOUBLE) / 1e9 AS v
      FROM pooled
    )
    SELECT CAST(o1 AS BIGINT) AS observed_events_g1,
           round(e1, 6) AS expected_events_g1,
           round(v, 6) AS variance,
           round((o1 - e1) * (o1 - e1) / nullif(v, 0), 6) AS chi2,
           (o1 - e1) * (o1 - e1) / nullif(v, 0) > {LOGRANK_CHI2_95} AS reject_95
    FROM s
    """,
    tags=("stats", "survival"),
)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test for 'does the {seg} segment repeat-purchase at a
    different hazard than everyone else' on the q_kaplan_meier censored
    durations: at each pooled event time, observed group-1 events vs the
    expectation d_t x n1_t/n_t under the pooled-hazard null, with the
    hypergeometric variance — the standard two-group survival comparison
    (and exactly the Cox score test for a binary covariate), closing the
    estimate -> compare arc over q_kaplan_meier / q_nelson_aalen.

    Scale: the KM posture — per-customer window, then all work on the
    pooled event-time grid (bounded by distinct day durations); per-group
    at-risk counts are descending prefix sums over a zero-filled
    group x time grid, all windows partitioned by group. All counts exact
    integers; the statistic is one closed-form sum over the grid,
    rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.when(F.col("c_mktsegment") == LOGRANK_SEG, 1).otherwise(0).alias("grp"),
        "o_custkey",
        "o_orderdate",
        F.row_number().over(wc).alias("rn"),
    )
    first = ranked.filter(F.col("rn") == 1).select(
        "grp", F.col("o_custkey").alias("ck"), F.col("o_orderdate").alias("d1")
    )
    second = ranked.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck"), F.col("o_orderdate").alias("d2")
    )
    maxd = orders.agg(F.max("o_orderdate").alias("maxdate"))
    durations = (
        first.join(second, "ck", "left")
        .crossJoin(F.broadcast(maxd))
        .select(
            "grp",
            F.when(F.col("d2").isNotNull(), F.datediff("d2", "d1"))
            .otherwise(F.datediff("maxdate", "d1"))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    cell = durations.groupBy("grp", "t").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("at_t")
    )
    times = cell.select("t").distinct()
    groups = cell.select("grp").distinct()
    gg = (
        F.broadcast(groups)
        .crossJoin(times)
        .join(cell, ["grp", "t"], "left")
        .select(
            "grp", "t", F.coalesce("d", F.lit(0)).alias("d"), F.coalesce("at_t", F.lit(0)).alias("at_t")
        )
    )
    wdesc = Window.partitionBy("grp").orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = gg.select("grp", "t", "d", F.sum("at_t").over(wdesc).alias("n_risk"))
    r1 = risk.filter(F.col("grp") == 1).select("t", F.col("d").alias("d1"), F.col("n_risk").alias("n1"))
    r0 = risk.filter(F.col("grp") == 0).select("t", F.col("d").alias("d0"), F.col("n_risk").alias("n0"))
    pooled = r1.join(r0, "t").filter(
        (F.col("d1") + F.col("d0") > 0) & (F.col("n1") + F.col("n0") > 1)
    )
    nt = F.col("n1") + F.col("n0")
    dt = F.col("d1") + F.col("d0")
    s = pooled.agg(
        F.sum("d1").alias("o1"),
        (
            F.sum(
                F.round(dt * 1.0 * F.col("n1") / nt * 1e9).cast("decimal(38,0)")
            ).cast("double")
            / 1e9
        ).alias("e1"),
        (
            F.sum(
                F.round(
                    dt * 1.0 * F.col("n1") / nt * (1.0 - F.col("n1") * 1.0 / nt)
                    * (nt - dt) / (nt - 1.0) * 1e9
                ).cast("decimal(38,0)")
            ).cast("double")
            / 1e9
        ).alias("v"),
    )
    # nullif guard: a fully-degenerate duration set (every subject events at
    # one time, as the 10x replication stage constructs) makes v = 0; the
    # statistic is then undefined, and both engines must agree on NULL
    # rather than one erroring (Spark ANSI) and one emitting inf (DuckDB)
    chi2 = (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.nullif(
        F.col("v"), F.lit(0.0)
    )
    return s.select(
        F.col("o1").cast("long").alias("observed_events_g1"),
        F.round(F.col("e1"), 6).alias("expected_events_g1"),
        F.round(F.col("v"), 6).alias("variance"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > LOGRANK_CHI2_95).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# q_kendalls_w — concordance of multiple rankings
# ---------------------------------------------------------------------------


@query(
    "q_kendalls_w",
    oracle="""
    WITH met AS (
      SELECT c.c_nationkey AS nationkey,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS revenue,
             count(*) * 1.0 AS n_orders,
             count(DISTINCT o.o_custkey) * 1.0 AS n_customers
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    ),
    ranks AS (
      SELECT a.nationkey,
             (SELECT count(*) FROM met b WHERE b.revenue > a.revenue
                 OR (b.revenue = a.revenue AND b.nationkey < a.nationkey)) + 1 AS r1,
             (SELECT count(*) FROM met b WHERE b.n_orders > a.n_orders
                 OR (b.n_orders = a.n_orders AND b.nationkey < a.nationkey)) + 1 AS r2,
             (SELECT count(*) FROM met b WHERE b.n_customers > a.n_customers
                 OR (b.n_customers = a.n_customers AND b.nationkey < a.nationkey)) + 1 AS r3
      FROM met a
    ),
    nn AS (SELECT count(*) AS n FROM ranks),
    s AS (
      SELECT nn.n,
             sum(pow(r1 + r2 + r3 - 3.0 * (nn.n + 1) / 2.0, 2)) AS ssd
      FROM ranks CROSS JOIN nn GROUP BY nn.n
    )
    SELECT CAST(n AS BIGINT) AS n_nations,
           3 AS n_rankings,
           round(ssd, 2) AS sum_sq_dev,
           round(12.0 * ssd / (9.0 * (n * n * n - n)), 6) AS kendalls_w
    FROM s
    """,
    tags=("stats", "rank"),
)
def kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across three rankings of
    nations — by revenue, order count, and customer count: W =
    12 sum(D^2) / (m^2 (n^3 - n)) where D is each nation's rank-sum
    deviation from the mean rank-sum. W ~ 1 means the three league tables
    agree (one latent "size" factor); W ~ 0 means they measure different
    things — the multi-judge agreement statistic (same family as the
    pairwise q_kendall_tau, but for m simultaneous rankings).

    Scale: one fact aggregate to O(nations) metric rows; ranks come from
    count-of-greater comparisons on that bounded relation (25^2 pairs —
    no global window), with the nation key as total-order tie-break so
    ranks are exact integers; W is one closed form, rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    met = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("revenue"),
            (F.count(F.lit(1)) * 1.0).alias("n_orders"),
            (F.countDistinct("o_custkey") * 1.0).alias("n_customers"),
        )
    )

    def rank_of(col: str) -> DataFrame:
        a = met.select(F.col("nationkey").alias("nk"), F.col(col).alias("va"))
        b = met.select(F.col("nationkey").alias("nk_b"), F.col(col).alias("vb"))
        return (
            a.join(
                F.broadcast(b),
                (F.col("vb") > F.col("va"))
                | ((F.col("vb") == F.col("va")) & (F.col("nk_b") < F.col("nk"))),
                "left",
            )
            .groupBy("nk")
            .agg((F.count(F.col("nk_b")) + 1).alias(f"r_{col}"))
        )
    ranks = (
        rank_of("revenue")
        .join(rank_of("n_orders"), "nk")
        .join(rank_of("n_customers"), "nk")
    )
    n_df = ranks.agg(F.count(F.lit(1)).alias("n"))
    j = ranks.crossJoin(F.broadcast(n_df))
    dev = F.col("r_revenue") + F.col("r_n_orders") + F.col("r_n_customers") - 3.0 * (
        F.col("n") + 1
    ) / 2.0
    s = j.groupBy("n").agg(F.sum(F.pow(dev, F.lit(2))).alias("ssd"))
    n = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_nations"),
        F.lit(3).alias("n_rankings"),
        F.round(F.col("ssd"), 2).alias("sum_sq_dev"),
        F.round(12.0 * F.col("ssd") / (9.0 * (n * n * n - n)), 6).alias("kendalls_w"),
    )


# ---------------------------------------------------------------------------
# q_theil_decomposition — between/within inequality decomposition
# ---------------------------------------------------------------------------


@query(
    "q_theil_decomposition",
    oracle="""
    WITH base AS (
      SELECT c.c_nationkey AS nationkey, o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (SELECT count(*) AS n,
                 CAST(sum(CAST(round(y * 100) AS BIGINT)) AS DOUBLE) / 100 AS sy
          FROM base),
    nat AS (
      SELECT nationkey, count(*) AS nk,
             CAST(sum(CAST(round(y * 100) AS BIGINT)) AS DOUBLE) / 100 AS syk,
             CAST(sum(CAST(round(y * ln(y) * 1e6) AS HUGEINT)) AS DOUBLE) / 1e6
               AS sylny
      FROM base GROUP BY nationkey
    ),
    terms AS (
      SELECT nat.nationkey, nat.nk, nat.syk,
             -- within-nation Theil T_k = sum (y/Sk) ln(y Nk / Sk) over the nation
             (nat.sylny / nat.syk - ln(nat.syk / nat.nk)) AS t_within_k,
             g.n, g.sy
      FROM nat CROSS JOIN g
    ),
    s AS (
      SELECT max(n) AS n,
             CAST(sum(CAST(round(syk / sy * t_within_k * 1e12) AS BIGINT))
                  AS DOUBLE) / 1e12 AS within_part,
             CAST(sum(CAST(round(syk / sy * ln((syk / sy) / (nk * 1.0 / n)) * 1e12)
                           AS BIGINT)) AS DOUBLE) / 1e12 AS between_part
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           round(within_part, 6) AS theil_within,
           round(between_part, 6) AS theil_between,
           round(within_part + between_part, 6) AS theil_total,
           round(between_part / (within_part + between_part), 6) AS between_share
    FROM s
    """,
    tags=("stats", "inequality"),
)
def theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of order values, exactly decomposed into
    between-nation and within-nation components: T = sum_k s_k T_k +
    sum_k s_k ln(s_k / p_k) with s_k the nation's revenue share and p_k
    its order-count share — the additive decomposition Gini famously
    lacks, and the reason Theil is the index used to say "X% of the
    inequality is BETWEEN groups" (q_gini_revenue and q_lorenz_curve
    report the level; this locates it).

    Scale: ONE map-side-combinable per-nation aggregate carrying
    (n, sum y, sum y ln y); the decomposition is closed-form arithmetic
    on O(nations) rows. The y ln y sums follow the house moment-sum
    posture (magnitude ~1e6 x 12; ulp noise far under the 6-dp
    rounding)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.col("c_nationkey").alias("nationkey"), F.col("o_totalprice").alias("y")
    )
    yc = F.round(F.col("y") * 100).cast("long")
    g = base.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(yc).cast("double") / 100).alias("sy"),
    )
    nat = base.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("nk"),
        (F.sum(yc).cast("double") / 100).alias("syk"),
        (
            F.sum(
                F.round(F.col("y") * F.log("y") * 1e6).cast("decimal(38,0)")
            ).cast("double")
            / 1e6
        ).alias("sylny"),
    )
    terms = nat.crossJoin(F.broadcast(g)).select(
        "nationkey",
        "nk",
        "syk",
        (F.col("sylny") / F.col("syk") - F.log(F.col("syk") / F.col("nk"))).alias(
            "t_within_k"
        ),
        "n",
        "sy",
    )
    s = terms.agg(
        F.max("n").alias("n"),
        (
            F.sum(
                F.round(
                    F.col("syk") / F.col("sy") * F.col("t_within_k") * 1e12
                ).cast("long")
            ).cast("double")
            / 1e12
        ).alias("within_part"),
        (
            F.sum(
                F.round(
                    F.col("syk")
                    / F.col("sy")
                    * F.log(
                        (F.col("syk") / F.col("sy"))
                        / (F.col("nk") * 1.0 / F.col("n"))
                    )
                    * 1e12
                ).cast("long")
            ).cast("double")
            / 1e12
        ).alias("between_part"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("within_part"), 6).alias("theil_within"),
        F.round(F.col("between_part"), 6).alias("theil_between"),
        F.round(F.col("within_part") + F.col("between_part"), 6).alias("theil_total"),
        F.round(
            F.col("between_part") / (F.col("within_part") + F.col("between_part")), 6
        ).alias("between_share"),
    )


# ---------------------------------------------------------------------------
# q_nb_overdispersion — negative-binomial fit for overdispersed counts
# ---------------------------------------------------------------------------


sql_query(
    "q_nb_overdispersion",
    """
    WITH per_user AS (
      SELECT user_id, event_type, count(*) AS k
      FROM events GROUP BY user_id, event_type
    ),
    mo AS (
      SELECT event_type, count(*) AS n,
             sum(k) AS s1, sum(k * 1e0 * k) AS s2
      FROM per_user GROUP BY event_type
    ),
    st AS (
      SELECT event_type, n,
             s1 * 1e0 / n AS mu,
             s2 / n - (s1 * 1e0 / n) * (s1 * 1e0 / n) AS v
      FROM mo
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_users,
           round(mu, 6) AS mean_events,
           round(v, 6) AS var_events,
           round(v / mu, 6) AS dispersion_index,
           v > mu AS overdispersed,
           round(CASE WHEN v > mu THEN mu * mu / (v - mu) END, 6) AS nb_r,
           round(CASE WHEN v > mu THEN mu / v END, 6) AS nb_p
    FROM st
    """,
    tags=("stats", "model"),
    doc="""Overdispersion diagnosis + method-of-moments negative-binomial fit
    for per-user event counts by type: dispersion index Var/Mean (Poisson
    predicts exactly 1), and where Var > Mean the NB(r, p) parameters
    r = mu^2/(v - mu), p = mu/v — the decision every count model faces
    (Poisson vs NB) made from one pass of moments, with NULL parameters
    where NB is not identified (underdispersed types). The capacity-
    planning companion to q_power_user_curve's empirical tail.

    Scale: two map-side-combinable aggregates (per-user counts, then
    per-type moments); all closed forms of exact integer sums, rounded
    at 6.""",
)


# ---------------------------------------------------------------------------
# q_survival_rmst — restricted mean survival time from the KM curve
# ---------------------------------------------------------------------------

RMST_TAU = 365  # restriction horizon (days)


@query(
    "q_survival_rmst",
    oracle=f"""
    WITH ranked AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey, o.o_orderdate,
             row_number() OVER (PARTITION BY o.o_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    maxd AS (SELECT max(o_orderdate) AS maxdate FROM orders),
    durations AS (
      SELECT f.seg,
             CASE WHEN s.o_custkey IS NOT NULL
                  THEN datediff('day', f.o_orderdate, s.o_orderdate)
                  ELSE datediff('day', f.o_orderdate, m.maxdate) END AS t,
             CASE WHEN s.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM ranked f
      LEFT JOIN ranked s ON f.o_custkey = s.o_custkey AND s.rn = 2
      CROSS JOIN maxd m
      WHERE f.rn = 1
    ),
    grid AS (
      SELECT seg, t, CAST(sum(ev) AS BIGINT) AS d, count(*) AS at_t
      FROM durations GROUP BY seg, t
    ),
    risk AS (
      SELECT seg, t, d,
             CAST(sum(at_t) OVER (PARTITION BY seg ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM grid
    ),
    km AS (
      SELECT seg, t,
             round(exp(sum(ln(1e0 - d * 1e0 / n_risk)) OVER (
               PARTITION BY seg ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 8) AS s
      FROM risk WHERE d > 0 AND d < n_risk AND t <= {RMST_TAU}
    ),
    steps AS (
      SELECT seg, t, s,
             lead(t, 1, {RMST_TAU}) OVER (PARTITION BY seg ORDER BY t) AS t_next,
             lag(s) OVER (PARTITION BY seg ORDER BY t) AS s_prev,
             min(t) OVER (PARTITION BY seg) AS t_first
      FROM km
    )
    SELECT seg,
           CAST(count(*) AS BIGINT) AS n_event_times,
           round(max(t_first) * 1.0
                 + sum(s * (least(t_next, {RMST_TAU}) - t)), 4) AS rmst_days,
           round(max(t_first) * 1.0
                 + sum(s * (least(t_next, {RMST_TAU}) - t)), 4) / {RMST_TAU} AS rmst_frac
    FROM steps GROUP BY seg
    """,
    tags=("stats", "survival"),
)
def survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time to tau = {tau} days per market
    segment — the area under the Kaplan-Meier curve up to the horizon:
    "expected repeat-purchase-free days in the first year". RMST is the
    estimand regulators increasingly prefer over hazard ratios (it needs
    no proportional-hazards assumption and reads in DAYS), and it
    completes the survival arc: estimate (q_kaplan_meier /
    q_nelson_aalen) -> compare (q_logrank_test) -> summarize (this).
    Computed as the exact step integral: S = 1 before the first event
    time (contributing t_first days), then each KM step S(t_i) holds for
    (t_(i+1) - t_i) days, truncated at tau.

    Scale: the KM posture end to end — per-customer window, then every
    computation on the bounded per-segment event-time grid with
    partitioned windows; the integral is one ordered prefix-product and
    one sum over that grid, with S rounded at 8 before the area sum
    (O(grid) summands against the 4-dp output rounding)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        "o_custkey",
        "o_orderdate",
        F.row_number().over(wc).alias("rn"),
    )
    first = ranked.filter(F.col("rn") == 1).select(
        "seg", F.col("o_custkey").alias("ck"), F.col("o_orderdate").alias("d1")
    )
    second = ranked.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck"), F.col("o_orderdate").alias("d2")
    )
    maxd = orders.agg(F.max("o_orderdate").alias("maxdate"))
    durations = (
        first.join(second, "ck", "left")
        .crossJoin(F.broadcast(maxd))
        .select(
            "seg",
            F.when(F.col("d2").isNotNull(), F.datediff("d2", "d1"))
            .otherwise(F.datediff("maxdate", "d1"))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    grid = durations.groupBy("seg", "t").agg(
        F.sum("ev").cast("long").alias("d"), F.count(F.lit(1)).alias("at_t")
    )
    wdesc = Window.partitionBy("seg").orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.select(
        "seg", "t", "d", F.sum("at_t").over(wdesc).cast("long").alias("n_risk")
    )
    wasc = Window.partitionBy("seg").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = (
        risk.filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk")) & (F.col("t") <= RMST_TAU))
        .select(
            "seg",
            "t",
            F.round(
                F.exp(F.sum(F.log(1e0 - F.col("d") * 1e0 / F.col("n_risk"))).over(wasc)), 8
            ).alias("s"),
        )
    )
    wseg = Window.partitionBy("seg").orderBy("t")
    steps = km.select(
        "seg",
        "t",
        "s",
        F.lead("t", 1, RMST_TAU).over(wseg).alias("t_next"),
        F.min("t").over(Window.partitionBy("seg")).alias("t_first"),
    )
    rmst = F.max("t_first") * 1.0 + F.sum(
        F.col("s") * (F.least(F.col("t_next"), F.lit(RMST_TAU)) - F.col("t"))
    )
    return steps.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_event_times"),
        F.round(rmst, 4).alias("rmst_days"),
        (F.round(rmst, 4) / RMST_TAU).alias("rmst_frac"),
    )


# ---------------------------------------------------------------------------
# q_weibull_fit — parametric time-to-repurchase via median-rank regression
# ---------------------------------------------------------------------------


@query(
    "q_weibull_fit",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(CAST(o_orderdate AS DATE)) AS d1
      FROM orders GROUP BY o_custkey
    ),
    seconds AS (
      SELECT o.o_custkey,
             min(CAST(o.o_orderdate AS DATE)) AS d2
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      WHERE CAST(o.o_orderdate AS DATE) > f.d1
      GROUP BY o.o_custkey
    ),
    gaps AS (
      SELECT f.o_custkey, datediff('day', f.d1, s.d2) AS t
      FROM firsts f JOIN seconds s ON s.o_custkey = f.o_custkey
      WHERE datediff('day', f.d1, s.d2) > 0
    ),
    ranked AS (
      SELECT t, row_number() OVER (ORDER BY t, o_custkey) AS i,
             count(*) OVER () AS n
      FROM gaps
    ),
    obs AS (
      SELECT round(ln(t), 8) AS x,
             round(ln(-ln(1.0 - (i - 0.3) / (n + 0.4))), 8) AS y
      FROM ranked
    ),
    mm AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM obs
    ),
    fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS k,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS c,
             (n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
      FROM mm
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(k, 6) AS shape_k,
           round(exp(-c / k), 4) AS scale_days,
           round(r2, 6) AS r_squared,
           CASE WHEN k < 1.0 THEN 'decreasing_hazard'
                WHEN k > 1.0 THEN 'increasing_hazard'
                ELSE 'exponential' END AS hazard_regime
    FROM fit
    """,
    tags=("stats", "analytics", "timeseries"),
)
def weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of time-to-second-purchase by median-rank regression:
    plot ln(−ln(1−F̂ᵢ)) against ln tᵢ with Bernard's median ranks
    (i−0.3)/(n+0.4) — on Weibull data this is a straight line whose
    slope IS the shape k and whose intercept gives the scale λ =
    exp(−c/k); k < 1 means decreasing hazard (the longer a customer
    waits, the less likely they repurchase — churn-risk reading), k > 1
    increasing. The closed-form parametric tier above the
    nonparametric survival stack (q_kaplan_meier, q_nelson_aalen,
    q_survival_rmst), with R² as the straightness check.

    Scale: two first/second-order aggregates, the distributed global
    rank for the plotting positions, one 6-moment log-log OLS —
    fact-scan bounded. Gaps are exact integer days (> 0); logs round at
    8; rounded at 6/4."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(F.min(F.to_date("o_orderdate")).alias("d1"))
    seconds = (
        orders.join(firsts, "o_custkey")
        .filter(F.to_date("o_orderdate") > F.col("d1"))
        .groupBy("o_custkey")
        .agg(F.min(F.to_date("o_orderdate")).alias("d2"))
    )
    gaps = (
        firsts.join(seconds, "o_custkey")
        .select("o_custkey", F.datediff("d2", "d1").alias("t"))
        .filter(F.col("t") > 0)
    )
    n = gaps.count()  # bounded driver scalar: customers with a repurchase
    ranked = global_row_number(gaps, ["t", "o_custkey"], rn_col="i")
    obs = ranked.select(
        F.round(F.log(F.col("t").cast("double")), 8).alias("x"),
        F.round(
            F.log(-F.log(1.0 - (F.col("i") - 0.3) / (n + 0.4))), 8
        ).alias("y"),
    )
    mm = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    k = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mm.select(
        "n",
        k.alias("k"),
        ((F.col("sy") - k * F.col("sx")) / F.col("n")).alias("c"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("r2"),
    )
    return fit.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("k"), 6).alias("shape_k"),
        F.round(F.exp(-F.col("c") / F.col("k")), 4).alias("scale_days"),
        F.round(F.col("r2"), 6).alias("r_squared"),
        F.when(F.col("k") < 1.0, F.lit("decreasing_hazard"))
        .when(F.col("k") > 1.0, F.lit("increasing_hazard"))
        .otherwise(F.lit("exponential"))
        .alias("hazard_regime"),
    )
