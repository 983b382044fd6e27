"""Inter-rater agreement and distribution-shape closers (round 4):
Fleiss' kappa over three deterministic document-quality raters
(q_fleiss_kappa — the multi-rater generalization of q_cohens_kappa),
Cochran's Q over the month×region binary success panel (q_cochran_q —
the k-treatment generalization of q_mcnemar_test), the Grubbs maximum
outlier test (q_grubbs_test), and the Anderson-Darling normality test
(q_anderson_darling — the tail-weighted EDF complement to
q_jarque_bera's moment test and q_ks_test's sup-distance).

Scale notes: Fleiss reduces the corpus to integer per-document category
counts in one linear pass + one global aggregate; Cochran/Grubbs/AD
reduce to the O(calendar) or O(calendar × regions) panel first; AD's
rank self-join is O(months²) ≈ 6.4k pairs — calendar-bounded. Nothing
past the first aggregate grows with the corpus.

Determinism: raters are integer character/token predicates (identical
text semantics both engines); panel values round at 6, standardized
values at 8; the normal CDF is the shared A&S 26.2.17 Horner chain
(quant_pricing._norm_cdf_sql / stats_advanced._norm_cdf_col) so both
engines evaluate the identical polynomial; ranks break ties on the
month index. Critical values are fixed literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.operators.quant_pricing import _norm_cdf_sql
from bigdatainfinance1_spark.operators.stats_advanced import _norm_cdf_col
from bigdatainfinance1_spark.operators.ts_mining import _MONTHLY_SQL, _monthly
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

CHI2_4_95 = 9.487729  # chi-square 4 df, 5%
GRUBBS_CRIT_80 = 3.305  # two-sided 5% Grubbs critical value for n = 80
AD_CRIT_5 = 0.787  # Anderson-Darling 5% (case 3: mean and variance estimated)

# The three deterministic "raters": integer predicates on the document text
# (identical character/token semantics in Spark and DuckDB).
_RATER_SQL = """
    rated AS (
      SELECT doc_id,
             CASE WHEN length(text) > 200 THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(string_split(text, ' ')) > 40 THEN 1 ELSE 0 END AS rb,
             CASE WHEN position('.' IN text) > 0 THEN 1 ELSE 0 END AS rc
      FROM documents
    )
"""


# ---------------------------------------------------------------------------
# q_fleiss_kappa — multi-rater agreement on document quality
# ---------------------------------------------------------------------------


@query(
    "q_fleiss_kappa",
    oracle=f"""
    WITH {_RATER_SQL},
    cnt AS (
      SELECT doc_id, ra + rb + rc AS np, 3 - (ra + rb + rc) AS nf FROM rated
    ),
    agg AS (
      SELECT count(*) AS n_docs,
             sum(np) AS total_pass,
             sum(np * (np - 1) + nf * (nf - 1)) AS agree_pairs
      FROM cnt
    ),
    k AS (
      SELECT n_docs,
             total_pass / (3.0 * n_docs) AS p_pass,
             agree_pairs / (6.0 * n_docs) AS p_bar
      FROM agg
    ),
    kk AS (
      SELECT n_docs, p_pass, p_bar,
             p_pass * p_pass + (1.0 - p_pass) * (1.0 - p_pass) AS p_e
      FROM k
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           round(p_pass, 6) AS p_pass,
           round(p_bar, 6) AS p_bar,
           round(p_e, 6) AS p_e,
           round((p_bar - p_e) / (1.0 - p_e), 6) AS fleiss_kappa,
           CASE WHEN (p_bar - p_e) / (1.0 - p_e) > 0.6 THEN 'substantial'
                WHEN (p_bar - p_e) / (1.0 - p_e) > 0.2 THEN 'fair_to_moderate'
                ELSE 'slight' END AS agreement
    FROM kk
    """,
    tags=("stats", "text", "quality", "llm"),
)
def fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over three deterministic document-quality raters
    (length > 200 chars, > 40 whitespace tokens, contains a period):
    per-item agreement P̄ = E[Σⱼ nᵢⱼ(nᵢⱼ−1)]/(n(n−1)) against the
    chance agreement P̄ₑ = Σⱼ pⱼ² — the multi-rater generalization of
    q_cohens_kappa, and the standard way to audit whether an ensemble
    of quality heuristics (the q_gopher_rules / q_text_quality family)
    actually measures one construct before their votes are combined.

    Scale: one linear corpus pass to integer per-document counts, one
    global 3-sum aggregate, closed forms on a 1-row relation. Every
    intermediate is an exact integer until the final ratios, rounded
    at 6."""
    docs = load_table(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.length("text") > 200, 1).otherwise(0).alias("ra"),
        F.when(F.size(F.split("text", " ")) > 40, 1).otherwise(0).alias("rb"),
        F.when(F.instr("text", ".") > 0, 1).otherwise(0).alias("rc"),
    )
    cnt = rated.select(
        (F.col("ra") + F.col("rb") + F.col("rc")).alias("np"),
    ).select("np", (3 - F.col("np")).alias("nf"))
    agg = cnt.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("np").alias("total_pass"),
        F.sum(
            F.col("np") * (F.col("np") - 1) + F.col("nf") * (F.col("nf") - 1)
        ).alias("agree_pairs"),
    )
    k = agg.select(
        "n_docs",
        (F.col("total_pass") / (3.0 * F.col("n_docs"))).alias("p_pass"),
        (F.col("agree_pairs") / (6.0 * F.col("n_docs"))).alias("p_bar"),
    )
    kk = k.select(
        "n_docs",
        "p_pass",
        "p_bar",
        (
            F.col("p_pass") * F.col("p_pass")
            + (1.0 - F.col("p_pass")) * (1.0 - F.col("p_pass"))
        ).alias("p_e"),
    )
    kappa = (F.col("p_bar") - F.col("p_e")) / (1.0 - F.col("p_e"))
    return kk.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("p_pass"), 6).alias("p_pass"),
        F.round(F.col("p_bar"), 6).alias("p_bar"),
        F.round(F.col("p_e"), 6).alias("p_e"),
        F.round(kappa, 6).alias("fleiss_kappa"),
        F.when(kappa > 0.6, F.lit("substantial"))
        .when(kappa > 0.2, F.lit("fair_to_moderate"))
        .otherwise(F.lit("slight"))
        .alias("agreement"),
    )


# ---------------------------------------------------------------------------
# q_cochran_q — k-treatment binary panel test (month × region)
# ---------------------------------------------------------------------------

_REGION_PANEL_SQL = """
    rp AS (
      SELECT r.r_regionkey AS rk,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS mi,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY rk, mi
    ),
    full_months AS (
      SELECT mi FROM rp GROUP BY mi HAVING count(*) = 5
    ),
    x AS (
      SELECT rp.rk, rp.mi,
             CASE WHEN rp.v > blockmean.bm THEN 1 ELSE 0 END AS s
      FROM rp
      JOIN full_months USING (mi)
      JOIN (SELECT mi, avg(v) AS bm FROM rp GROUP BY mi) blockmean USING (mi)
    )
"""


@query(
    "q_cochran_q",
    oracle=f"""
    WITH {_REGION_PANEL_SQL},
    cols AS (SELECT rk, sum(s) AS cj FROM x GROUP BY rk),
    rows_ AS (SELECT mi, sum(s) AS rt FROM x GROUP BY mi),
    tot AS (
      SELECT (SELECT count(*) FROM rows_) AS n_blocks,
             (SELECT sum(cj) FROM cols) AS big_n,
             (SELECT sum(cj * cj) FROM cols) AS sum_cj2,
             (SELECT sum(rt * rt) FROM rows_) AS sum_rt2
    ),
    q AS (
      SELECT n_blocks,
             (5 - 1) * (5 * sum_cj2 - big_n * big_n) * 1.0
               / nullif(5 * big_n - sum_rt2, 0) AS q_stat
      FROM tot
    )
    SELECT CAST(n_blocks AS BIGINT) AS n_blocks,
           CAST(4 AS BIGINT) AS df,
           round(q_stat, 6) AS q_stat,
           CASE WHEN q_stat > {CHI2_4_95} THEN 'regions_differ'
                ELSE 'no_difference' END AS verdict
    FROM q
    """,
    tags=("stats", "analytics"),
)
def cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q on the month × region binary success panel (success =
    the region's monthly revenue beat that month's cross-region mean):
    Q = (k−1)(kΣCⱼ² − N²)/(kN − ΣRₜ²) against chi-square(k−1) — the
    k-treatment generalization of q_mcnemar_test, asking whether the
    five regions have equal probability of an above-average month once
    block (month) effects are removed.

    Scale: one fact-to-dimension-chain aggregate to the O(months × 5)
    panel (all three dims broadcast), then integer row/column totals
    and one closed form. Only complete blocks (all 5 regions present)
    enter, so k is the fixed literal 5. Exact integers until the final
    ratio, rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    rp = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_regionkey").alias("rk"),
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias(
                "mi"
            ),
        )
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000.0, 6).alias("v"))
    )
    full_months = rp.groupBy("mi").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") == 5
    )
    blockmean = rp.groupBy("mi").agg(F.avg("v").alias("bm"))
    x = (
        rp.join(F.broadcast(full_months.select("mi")), "mi")
        .join(F.broadcast(blockmean), "mi")
        .select(
            "rk", "mi", F.when(F.col("v") > F.col("bm"), 1).otherwise(0).alias("s")
        )
    )
    cols = x.groupBy("rk").agg(F.sum("s").alias("cj"))
    rows_ = x.groupBy("mi").agg(F.sum("s").alias("rt"))
    tot = (
        cols.agg(
            F.sum("cj").alias("big_n"), F.sum(F.col("cj") * F.col("cj")).alias("sum_cj2")
        )
        .crossJoin(
            F.broadcast(
                rows_.agg(
                    F.count(F.lit(1)).alias("n_blocks"),
                    F.sum(F.col("rt") * F.col("rt")).alias("sum_rt2"),
                )
            )
        )
    )
    qstat = (
        (5 - 1)
        * (5 * F.col("sum_cj2") - F.col("big_n") * F.col("big_n"))
        * 1.0
        / F.nullif(5 * F.col("big_n") - F.col("sum_rt2"), F.lit(0))
    )
    return tot.select(
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.lit(4).cast("long").alias("df"),
        F.round(qstat, 6).alias("q_stat"),
        F.when(qstat > CHI2_4_95, F.lit("regions_differ"))
        .otherwise(F.lit("no_difference"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_grubbs_test — maximum-deviation outlier on the monthly series
# ---------------------------------------------------------------------------


@query(
    "q_grubbs_test",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    gmom AS (
      SELECT count(*) AS n,
             round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e6, 8) AS mu FROM idx
    ),
    sd AS (
      SELECT max(gmom.n) AS n, max(gmom.mu) AS mu,
             sqrt(CAST(sum(CAST(round((idx.z - gmom.mu) * 1e8) AS HUGEINT)
                           * CAST(round((idx.z - gmom.mu) * 1e8) AS BIGINT))
                       AS DOUBLE) / 1e16 / (max(gmom.n) - 1))
               AS s
      FROM idx CROSS JOIN gmom
    ),
    dev AS (
      SELECT idx.mi, idx.z, round(abs(idx.z - sd.mu), 8) AS d, sd.n, sd.s
      FROM idx CROSS JOIN sd
    ),
    top AS (
      SELECT * FROM dev ORDER BY d DESC, mi LIMIT 1
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST(mi AS BIGINT) AS outlier_mi,
           z AS outlier_value,
           round(d / s, 6) AS g_stat,
           CASE WHEN d / s > {GRUBBS_CRIT_80} THEN 'outlier'
                ELSE 'no_outlier' END AS verdict
    FROM top
    """,
    tags=("stats", "timeseries", "quality"),
)
def grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-deviation outlier test on monthly revenue: G =
    max|zᵢ−μ̂|/s against the two-sided 5% critical value for n = 80
    (3.305, the tabulated value for the fixed 80-month calendar) — the
    formal single-outlier complement to the robust screens
    (q_iqr_outliers, q_mad_outliers), which flag but don't test.

    Scale: monthly aggregate, one moment pass, one deviation pass, one
    top-1 TakeOrdered with an explicit (deviation DESC, month) tie-break
    — calendar-bounded. Deviations round at 8 before the argmax so both
    engines pick the identical month; rounded at 6."""
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
    d8 = F.round((F.col("z") - F.col("mu")) * 1e8).cast("long")
    sd = idx.crossJoin(F.broadcast(gmom)).agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu"),
        F.sqrt(
            F.sum(d8.cast("decimal(19,0)") * d8).cast("double")
            / 1e16
            / (F.max("n") - 1)
        ).alias("s"),
    )
    dev = idx.crossJoin(F.broadcast(sd)).select(
        "mi", "z", F.round(F.abs(F.col("z") - F.col("mu")), 8).alias("d"), "n", "s"
    )
    top = dev.orderBy(F.col("d").desc(), F.col("mi")).limit(1)
    g = F.col("d") / F.col("s")
    return top.select(
        F.col("n").cast("long").alias("n_months"),
        F.col("mi").cast("long").alias("outlier_mi"),
        F.col("z").alias("outlier_value"),
        F.round(g, 6).alias("g_stat"),
        F.when(g > GRUBBS_CRIT_80, F.lit("outlier"))
        .otherwise(F.lit("no_outlier"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_anderson_darling — tail-weighted EDF normality test
# ---------------------------------------------------------------------------


@query(
    "q_anderson_darling",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    gmom AS (
      SELECT count(*) AS n,
             round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e6, 8) AS mu FROM idx
    ),
    sd AS (
      SELECT max(gmom.n) AS n, max(gmom.mu) AS mu,
             round(sqrt(CAST(sum(CAST(round((idx.z - gmom.mu) * 1e8) AS HUGEINT)
                                 * CAST(round((idx.z - gmom.mu) * 1e8) AS BIGINT))
                             AS DOUBLE) / 1e16
                        / (max(gmom.n) - 1)), 8) AS s
      FROM idx CROSS JOIN gmom
    ),
    std AS (
      SELECT idx.mi, round((idx.z - sd.mu) / sd.s, 8) AS zs, sd.n
      FROM idx CROSS JOIN sd
    ),
    ranked AS (
      SELECT a.mi, a.zs, a.n,
             1 + sum(CASE WHEN b.zs < a.zs OR (b.zs = a.zs AND b.mi < a.mi)
                          THEN 1 ELSE 0 END) AS r
      FROM std a CROSS JOIN std b
      GROUP BY a.mi, a.zs, a.n
    ),
    terms AS (
      SELECT n,
             (2 * r - 1) * ln({_norm_cdf_sql('zs')})
             + (2 * (n - r) + 1) * ln(1.0 - {_norm_cdf_sql('zs')}) AS t
      FROM ranked
    ),
    a2 AS (
      SELECT max(n) AS n,
             -max(n) - CAST(sum(CAST(round(t * 1e9) AS BIGINT)) AS DOUBLE)
                       / 1e9 / max(n) AS a2
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(a2, 6) AS a2,
           round(a2 * (1.0 + 0.75 / n + 2.25 / (n * n)), 6) AS a2_star,
           CASE WHEN a2 * (1.0 + 0.75 / n + 2.25 / (n * n)) > {AD_CRIT_5}
                THEN 'non_normal' ELSE 'normal' END AS verdict
    FROM a2
    """,
    tags=("stats", "timeseries"),
)
def anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality test on standardized monthly revenue:
    A² = −n − (1/n)Σᵢ[(2rᵢ−1)ln Φ(zᵢ) + (2(n−rᵢ)+1)ln(1−Φ(zᵢ))] with the
    case-3 small-sample correction A*² = A²(1 + 0.75/n + 2.25/n²) and
    its 0.787 critical value — the tail-weighted EDF test that catches
    departures q_jarque_bera's two moments and q_ks_test's central
    sup-distance both miss.

    Scale: monthly aggregate, moment pass, an O(months²) ≈ 6.4k-pair
    rank self-join (calendar-bounded; ties broken on month index), one
    per-row closed form through the shared A&S normal CDF, one sum.
    Standardized values round at 8 before ranking and the CDF, so both
    engines rank identically and evaluate the identical Horner chain,
    rounded at 6."""
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
    d8 = F.round((F.col("z") - F.col("mu")) * 1e8).cast("long")
    sd = idx.crossJoin(F.broadcast(gmom)).agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu"),
        F.round(
            F.sqrt(
                F.sum(d8.cast("decimal(19,0)") * d8).cast("double")
                / 1e16
                / (F.max("n") - 1)
            ),
            8,
        ).alias("s"),
    )
    std = idx.crossJoin(F.broadcast(sd)).select(
        "mi", F.round((F.col("z") - F.col("mu")) / F.col("s"), 8).alias("zs"), "n"
    )
    b = std.select(F.col("mi").alias("mj"), F.col("zs").alias("zj"))
    ranked = (
        std.crossJoin(F.broadcast(b))
        .groupBy("mi", "zs", "n")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.col("zj") < F.col("zs"))
                        | ((F.col("zj") == F.col("zs")) & (F.col("mj") < F.col("mi"))),
                        1,
                    ).otherwise(0)
                )
            ).alias("r")
        )
    )
    phi = _norm_cdf_col(F.col("zs"))
    terms = ranked.select(
        "n",
        (
            (2 * F.col("r") - 1) * F.log(phi)
            + (2 * (F.col("n") - F.col("r")) + 1) * F.log(1.0 - phi)
        ).alias("t"),
    )
    a2 = terms.agg(
        F.max("n").alias("n"),
        (
            -F.max("n")
            - F.sum(F.round(F.col("t") * 1e9).cast("long")).cast("double")
            / 1e9
            / F.max("n")
        ).alias("a2"),
    )
    astar = F.col("a2") * (
        1.0 + 0.75 / F.col("n") + 2.25 / (F.col("n") * F.col("n"))
    )
    return a2.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("a2"), 6).alias("a2"),
        F.round(astar, 6).alias("a2_star"),
        F.when(astar > AD_CRIT_5, F.lit("non_normal"))
        .otherwise(F.lit("normal"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_bland_altman — method agreement between two revenue pipelines
# ---------------------------------------------------------------------------

BA_Z95 = 1.959964

_BA_SQL = f"""
    WITH ym AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS y
      FROM orders GROUP BY mi
    ),
    xm AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) * 12 + month(l_shipdate) AS mi,
             round(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS x
      FROM lineitem GROUP BY mi
    ),
    p AS (SELECT ym.mi, xm.x, ym.y, xm.x - ym.y AS d
          FROM ym JOIN xm ON ym.mi = xm.mi),
    mom AS (
      SELECT count(*) AS n,
             avg(d) AS bias, sqrt(avg(d * d) - avg(d) * avg(d)) AS sd,
             avg(x) AS mx, avg(y) AS my,
             avg(x * x) - avg(x) * avg(x) AS vx,
             avg(y * y) - avg(y) * avg(y) AS vy,
             avg(x * y) - avg(x) * avg(y) AS cxy
      FROM p
    ),
    lim AS (
      SELECT n, bias, sd,
             bias - {BA_Z95} * sd AS lo, bias + {BA_Z95} * sd AS hi,
             2 * cxy / (vx + vy + (mx - my) * (mx - my)) AS ccc,
             cxy / sqrt(vx * vy) AS r
      FROM mom
    )
    SELECT CAST(l.n AS BIGINT) AS n_months,
           round(l.bias, 6) AS bias,
           round(l.lo, 6) AS loa_lo,
           round(l.hi, 6) AS loa_hi,
           CAST((SELECT count(*) FROM p CROSS JOIN lim
                 WHERE p.d < lim.lo OR p.d > lim.hi) AS BIGINT) AS n_outside_loa,
           round(l.r, 6) AS pearson_r,
           round(l.ccc, 6) AS lin_ccc
    FROM lim l
"""


sql_query(
    "q_bland_altman", _BA_SQL, tags=("stats", "quality"),
    doc="""Bland-Altman agreement + Lin's concordance between two pipelines
    measuring 'monthly revenue': the order-book path (o_totalprice by
    order date) vs the shipment path (discounted extendedprice by ship
    date). Bias, 95% limits of agreement (bias +/- {BA_Z95} sd of the
    differences), months outside the limits, and Lin's CCC =
    2*cov/(vx+vy+(mx-my)^2) — which penalizes both scatter AND the
    systematic offset Pearson's r is blind to. The method-comparison
    readout for any two ETL paths that should agree: r ~ 1 with CCC
    well below says the pipelines track but are biased.

    Determinism: both monthly series are 6-dp rounds of exact sums;
    moments are ~80-term double sums (reorder ~1e-14, outputs round at
    6); the outside-LoA count compares each 6-dp difference against
    limits derived from identical doubles. Scale: two map-side monthly
    aggregates; O(months) after.""",
)


# ---------------------------------------------------------------------------
# q_threshold_metrics — F1 / MCC / Youden's J across the score grid
# ---------------------------------------------------------------------------

TM_POS = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
TM_BUCKET = 25000.0
TM_MAX = 20

_TM_SQL = f"""
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / {TM_BUCKET}), {TM_MAX}) AS BIGINT)
               AS bkt,
             CAST(sum(CASE WHEN {TM_POS} THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN {TM_POS} THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM orders GROUP BY 1
    ),
    thr AS (SELECT unnest(range(0, {TM_MAX} + 1)) AS t),
    cm AS (
      SELECT thr.t,
             CAST(coalesce(sum(CASE WHEN b.bkt >= thr.t THEN b.pos END), 0)
                  AS BIGINT) AS tp,
             CAST(coalesce(sum(CASE WHEN b.bkt >= thr.t THEN b.neg END), 0)
                  AS BIGINT) AS fp,
             CAST(coalesce(sum(CASE WHEN b.bkt < thr.t THEN b.pos END), 0)
                  AS BIGINT) AS fn,
             CAST(coalesce(sum(CASE WHEN b.bkt < thr.t THEN b.neg END), 0)
                  AS BIGINT) AS tn
      FROM thr CROSS JOIN b GROUP BY thr.t
    ),
    m AS (
      SELECT CAST(t AS BIGINT) AS threshold_bucket, tp, fp, fn, tn,
             round(tp * 1e0 / nullif(tp + fp, 0), 6) AS precision,
             round(tp * 1e0 / nullif(tp + fn, 0), 6) AS recall,
             round(2.0 * tp / nullif(2 * tp + fp + fn, 0), 6) AS f1,
             round((tp * 1e0 * tn - fp * 1e0 * fn)
                   / nullif(sqrt((tp + fp) * 1e0 * (tp + fn))
                            * sqrt((tn + fp) * 1e0 * (tn + fn)), 0), 6) AS mcc,
             round(tp * 1e0 / nullif(tp + fn, 0)
                   + tn * 1e0 / nullif(tn + fp, 0) - 1, 6) AS youden_j
      FROM cm
    )
    SELECT m.*, m.f1 = (SELECT max(f1) FROM m) AS is_best_f1
    FROM m ORDER BY threshold_bucket
"""


@query("q_threshold_metrics", oracle=_TM_SQL, tags=("ml", "eval"))
def threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification operating-point metrics across the whole score
    grid: precision/recall, F1, Matthews correlation, and Youden's J
    at every threshold of q_roc_curve's bucketed score — the relation
    an operating-point review reads next to the threshold-free curves
    (q_roc_curve ranks, q_pr_auc integrates; this table says where to
    CUT, with is_best_f1 flagging the F1-optimal bucket). MCC is the
    one metric here that survives the 2:1 class imbalance unchanged —
    the reason it is reported beside F1 rather than instead of it.

    Determinism: confusion counts are exact BIGINT cumulative bucket
    sums (one bucketed aggregate, thresholds swept over the 21-row
    bucket relation, never re-scanning orders); every metric composes
    exact integers in identical double expressions rounded at 6; the
    flag compares ROUNDED F1. Scale: one fact scan to 21 buckets,
    O(thresholds x buckets) after."""
    orders = load_table(spark, sf_dir, "orders")
    pos = F.expr(TM_POS)
    b = orders.groupBy(
        F.least(F.floor(F.col("o_totalprice") / TM_BUCKET), F.lit(TM_MAX))
        .cast("long")
        .alias("bkt")
    ).agg(
        F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("pos"),
        F.sum(F.when(pos, 0).otherwise(1)).cast("long").alias("neg"),
    )
    thr = spark.range(0, TM_MAX + 1).select(F.col("id").alias("t"))
    cm = (
        thr.crossJoin(F.broadcast(b))
        .groupBy("t")
        .agg(
            F.coalesce(F.sum(F.when(F.col("bkt") >= F.col("t"), F.col("pos"))), F.lit(0))
            .cast("long")
            .alias("tp"),
            F.coalesce(F.sum(F.when(F.col("bkt") >= F.col("t"), F.col("neg"))), F.lit(0))
            .cast("long")
            .alias("fp"),
            F.coalesce(F.sum(F.when(F.col("bkt") < F.col("t"), F.col("pos"))), F.lit(0))
            .cast("long")
            .alias("fn"),
            F.coalesce(F.sum(F.when(F.col("bkt") < F.col("t"), F.col("neg"))), F.lit(0))
            .cast("long")
            .alias("tn"),
        )
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    m = cm.select(
        F.col("t").cast("long").alias("threshold_bucket"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(tp * F.lit(1.0) / F.nullif(tp + fp, F.lit(0)), 6).alias("precision"),
        F.round(tp * F.lit(1.0) / F.nullif(tp + fn, F.lit(0)), 6).alias("recall"),
        F.round(F.lit(2.0) * tp / F.nullif(2 * tp + fp + fn, F.lit(0)), 6).alias("f1"),
        F.round(
            (tp * F.lit(1.0) * tn - fp * F.lit(1.0) * fn)
            / F.nullif(
                F.sqrt((tp + fp) * F.lit(1.0) * (tp + fn))
                * F.sqrt((tn + fp) * F.lit(1.0) * (tn + fn)),
                F.lit(0.0),
            ),
            6,
        ).alias("mcc"),
        F.round(
            tp * F.lit(1.0) / F.nullif(tp + fn, F.lit(0))
            + tn * F.lit(1.0) / F.nullif(tn + fp, F.lit(0))
            - 1,
            6,
        ).alias("youden_j"),
    )
    w = Window.partitionBy(F.lit(1))
    return m.withColumn("is_best_f1", F.col("f1") == F.max("f1").over(w)).orderBy(
        "threshold_bucket"
    )


# ---------------------------------------------------------------------------
# q_icc — intraclass correlation ICC(1,1) of quantity within brands
# ---------------------------------------------------------------------------

_ICC_SQL = """
    WITH obs AS (
      SELECT p.p_brand AS g, CAST(l.l_quantity AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS q
      FROM obs GROUP BY g
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s) AS BIGINT) AS ss,
             sum(CAST(q AS DOUBLE)) AS qq,
             sum(CAST(s AS DOUBLE) * s / n) AS sb,
             sum(CAST(n AS DOUBLE) * n) AS n2
      FROM grp
    ),
    ms AS (
      SELECT k, nn,
             (sb - CAST(ss AS DOUBLE) * ss / nn) / (k - 1) AS msb,
             (qq - sb) / (nn - k) AS msw,
             (nn - n2 / nn) / (k - 1) AS k0
      FROM tot
    )
    SELECT k AS n_groups, nn AS n_obs,
           round(msb, 6) AS msb, round(msw, 6) AS msw,
           round(k0, 4) AS k0,
           round((msb - msw) / (msb + (k0 - 1) * msw), 6) AS icc1
    FROM ms
"""


sql_query(
    "q_icc", _ICC_SQL, tags=("stats", "reliability"),
    doc="""Intraclass correlation ICC(1,1) — the share of quantity variance
    attributable to the brand grouping, from the one-way ANOVA
    decomposition with the unequal-group correction k0 = (N - sum n^2/N)
    / (k-1): ICC = (MSB - MSW)/(MSB + (k0-1) MSW). The RELIABILITY
    counterpart of q_anova_f's significance test (F answers 'is there
    any group effect'; ICC answers 'how much does knowing the group
    tell you about a single observation') and the continuous-data
    sibling of q_cohens_kappa / q_cronbach_alpha. Near-zero here means
    brand is a useless blocking factor for quantity — a negative result
    the relation states exactly.

    Determinism: quantities are small exact integers, so every group
    moment is an exact BIGINT (sums of squares widened through DOUBLE
    from exact values); MSB/MSW/k0/ICC compose them through identical
    double expressions over the bounded group relation, rounded 4/6.
    Scale: one fact-dim broadcast join reduced map-side to O(brands)
    moments; O(1) after.""",
)
