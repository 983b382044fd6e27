"""K-group inference (carved out of stats_advanced.py when it crossed the
1.5k-LoC module rule): Kruskal-Wallis (the nonparametric ANOVA over
month-partitioned midranks), Tukey's HSD post-hoc pairwise comparisons,
and the DerSimonian-Laird meta-analysis of per-region effects — the
"compare many groups" layer above the two-sample tests.

Scale/determinism notes live on each query; all three reduce the corpus
to bounded group-moment relations before any inference arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# q_kruskal_wallis — nonparametric k-group ANOVA per month across regions
# ---------------------------------------------------------------------------

KW_CHI2_4_95 = 9.487729  # chi-square 4 df, 5%


@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH obs AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS mi,
             r.r_name AS rg, round(o.o_totalprice, 2) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    ranked AS (
      SELECT mi, rg,
             rank() OVER (PARTITION BY mi ORDER BY v)
               + (count(*) OVER (PARTITION BY mi, v) - 1) / 2e0 AS midrank,
             CAST(count(*) OVER (PARTITION BY mi, v) AS BIGINT) AS tie_c
      FROM obs
    ),
    grp AS (
      SELECT mi, rg, count(*) AS nj, sum(midrank) AS rj
      FROM ranked GROUP BY mi, rg
    ),
    ties AS (
      SELECT mi, sum(t * t * t - t) AS tie_term FROM (
        SELECT mi, v, CAST(count(*) AS BIGINT) AS t FROM obs GROUP BY mi, v
      ) GROUP BY mi
    ),
    hstat AS (
      SELECT grp.mi, CAST(sum(grp.nj) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             12.0 / (sum(grp.nj) * (sum(grp.nj) + 1.0))
               * (CAST(sum(CAST(round(grp.rj * grp.rj / grp.nj * 1e6) AS HUGEINT))
                       AS DOUBLE) / 1e6)
               - 3.0 * (sum(grp.nj) + 1.0) AS h
      FROM grp GROUP BY grp.mi HAVING count(*) = 5
    )
    SELECT hstat.mi, hstat.n,
           round(hstat.h, 6) AS h,
           round(hstat.h / (1.0 - ties.tie_term
                 / (hstat.n * 1.0 * hstat.n * hstat.n - hstat.n)), 6) AS h_corrected,
           hstat.h / (1.0 - ties.tie_term
                 / (hstat.n * 1.0 * hstat.n * hstat.n - hstat.n)) > {KW_CHI2_4_95}
             AS reject_95
    FROM hstat JOIN ties ON ties.mi = hstat.mi
    ORDER BY hstat.mi
    """,
    tags=("stats", "analytics"),
)
def kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H per month across the five customer regions on
    order values: H = 12/(N(N+1))·ΣR²ⱼ/nⱼ − 3(N+1) from partitioned
    midranks, with the tie correction 1 − Σ(t³−t)/(N³−N) — the
    nonparametric ANOVA that q_anova_f's normal-theory F cannot replace
    when order values are heavy-tailed (they are: q_jarque_bera). The
    q_mann_whitney midrank identity generalized from 2 groups to k=5;
    months missing any region are excluded so df is the fixed 4.

    Scale: dim-chain broadcast joins, ONE partitioned rank window (by
    month — never a global sort), integer/‌.5-granular midranks summed
    per group, closed forms. Midranks are exact; H divides identical
    doubles on both engines, rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    obs = (
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
        .select(
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias(
                "mi"
            ),
            F.col("r_name").alias("rg"),
            F.round("o_totalprice", 2).alias("v"),
        )
    )
    w_rank = Window.partitionBy("mi").orderBy("v")
    w_tie = Window.partitionBy("mi", "v")
    ranked = obs.select(
        "mi",
        "rg",
        (
            F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_tie) - 1) / F.lit(2.0)
        ).alias("midrank"),
    )
    grp = ranked.groupBy("mi", "rg").agg(
        F.count(F.lit(1)).alias("nj"), F.sum("midrank").alias("rj")
    )
    ties = (
        obs.groupBy("mi", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("mi")
        .agg(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_term"))
    )
    hstat = (
        grp.groupBy("mi")
        .agg(
            F.sum("nj").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("k"),
            (
                12.0
                / (F.sum("nj") * (F.sum("nj") + 1.0))
                # integer-moments rule: the 5-term R_j^2/n_j sum snaps to a
                # 1e-6 grain (midranks are exact halves, so the per-group
                # term is an identical double on both engines)
                * (
                    F.sum(
                        F.round(
                            F.col("rj") * F.col("rj") / F.col("nj") * 1e6
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / 1e6
                )
                - 3.0 * (F.sum("nj") + 1.0)
            ).alias("h"),
        )
        .filter(F.col("k") == 5)
    )
    corr = 1.0 - F.col("tie_term") / (
        F.col("n") * 1.0 * F.col("n") * F.col("n") - F.col("n")
    )
    return (
        hstat.join(ties, "mi")
        .select(
            "mi",
            "n",
            F.round(F.col("h"), 6).alias("h"),
            F.round(F.col("h") / corr, 6).alias("h_corrected"),
            (F.col("h") / corr > KW_CHI2_4_95).alias("reject_95"),
        )
        .orderBy("mi")
    )


# ---------------------------------------------------------------------------
# q_tukey_hsd — post-hoc pairwise comparisons after the ANOVA
# ---------------------------------------------------------------------------

TUKEY_Q_5_INF = 3.858  # studentized range q(0.05; k=5, df -> inf)


@query(
    "q_tukey_hsd",
    oracle=f"""
    WITH obs AS (
      SELECT r.r_name AS rg, o.o_totalprice AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    g AS (
      SELECT rg, count(*) AS n,
             CAST(sum(CAST(round(y * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100
               AS m,
             (CAST(sum(CAST(round(y * 100) AS HUGEINT)
                       * CAST(round(y * 100) AS BIGINT)) AS DOUBLE) / 1e4
              - count(*) * (CAST(sum(CAST(round(y * 100) AS BIGINT)) AS DOUBLE)
                            / count(*) / 100)
                         * (CAST(sum(CAST(round(y * 100) AS BIGINT)) AS DOUBLE)
                            / count(*) / 100))
               / (count(*) - 1) AS s2
      FROM obs GROUP BY rg
    ),
    mse AS (
      SELECT CAST(sum(CAST(round((n - 1) * s2) AS HUGEINT)) AS DOUBLE)
               / (sum(n) - count(*)) AS mse FROM g
    )
    SELECT a.rg AS region_i, b.rg AS region_j,
           CAST(a.n AS BIGINT) AS n_i, CAST(b.n AS BIGINT) AS n_j,
           round(a.m - b.m, 4) AS mean_diff,
           round(abs(a.m - b.m)
                 / sqrt(mse.mse / 2.0 * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat,
           abs(a.m - b.m) / sqrt(mse.mse / 2.0 * (1.0 / a.n + 1.0 / b.n))
             > {TUKEY_Q_5_INF} AS significant
    FROM g a JOIN g b ON a.rg < b.rg CROSS JOIN mse
    ORDER BY region_i, region_j
    """,
    tags=("stats", "analytics"),
)
def tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's honest significant difference: all 10 pairwise region
    mean comparisons with the studentized-range statistic q =
    |mᵢ−mⱼ|/√(MSE/2·(1/nᵢ+1/nⱼ)) against q₀.₀₅(5, ∞) = 3.858 — the
    post-hoc layer q_anova_f needs (an omnibus rejection says SOME
    means differ; HSD says WHICH, with family-wise error control that
    10 naive t-tests would blow).

    Scale: one dim-chain aggregate to 5 group-moment rows, a 10-pair
    self-join on that bounded relation, closed forms. Group variances
    use the n·mean² identity on exact sums; rounded at 4/6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    obs = (
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
        .select(F.col("r_name").alias("rg"), F.col("o_totalprice").alias("y"))
    )
    # integer-moments rule: y is exact 2-dp money — group moments in cents,
    # and the 5-term MSE sum snaps to its integer part (relative error
    # ~1e-18 of the term scale, far under the 6-dp emission)
    yc = F.round(F.col("y") * 100).cast("long")
    mean_y = F.sum(yc).cast("double") / F.count(F.lit(1)) / 100
    g = obs.groupBy("rg").agg(
        F.count(F.lit(1)).alias("n"),
        mean_y.alias("m"),
        (
            (
                F.sum(yc.cast("decimal(19,0)") * yc).cast("double") / 1e4
                - F.count(F.lit(1)) * mean_y * mean_y
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("s2"),
    )
    mse = g.agg(
        (
            F.sum(F.round((F.col("n") - 1) * F.col("s2")).cast("decimal(38,0)"))
            .cast("double")
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("mse")
    )
    b = g.select(
        F.col("rg").alias("rgb"),
        F.col("n").alias("nb"),
        F.col("m").alias("mb"),
    )
    se = F.sqrt(
        F.col("mse") / 2.0 * (1.0 / F.col("n") + 1.0 / F.col("nb"))
    )
    q = F.abs(F.col("m") - F.col("mb")) / se
    return (
        g.join(F.broadcast(b), F.col("rg") < F.col("rgb"))
        .crossJoin(F.broadcast(mse))
        .select(
            F.col("rg").alias("region_i"),
            F.col("rgb").alias("region_j"),
            F.col("n").cast("long").alias("n_i"),
            F.col("nb").cast("long").alias("n_j"),
            F.round(F.col("m") - F.col("mb"), 4).alias("mean_diff"),
            F.round(q, 6).alias("q_stat"),
            (q > TUKEY_Q_5_INF).alias("significant"),
        )
        .orderBy("region_i", "region_j")
    )


# ---------------------------------------------------------------------------
# q_meta_analysis — inverse-variance pooling across region "studies"
# ---------------------------------------------------------------------------

META_DISC = 0.06  # treatment: any line discounted >= 6% (the q_qini_curve arm)


@query(
    "q_meta_analysis",
    oracle=f"""
    WITH treated AS (
      SELECT DISTINCT l_orderkey FROM lineitem WHERE l_discount >= {META_DISC}
    ),
    obs AS (
      SELECT r.r_name AS rg,
             CASE WHEN t.l_orderkey IS NOT NULL THEN 1 ELSE 0 END AS tr,
             o.o_totalprice / 1000.0 AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      LEFT JOIN treated t ON t.l_orderkey = o.o_orderkey
    ),
    arm AS (
      SELECT rg, tr, count(*) AS n,
             CAST(sum(CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE) / count(*) / 1e5
               AS m,
             (CAST(sum(CAST(round(y * 1e5) AS HUGEINT)
                       * CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE) / 1e10
              - count(*) * (CAST(sum(CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE)
                            / count(*) / 1e5)
                         * (CAST(sum(CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE)
                            / count(*) / 1e5))
               / (count(*) - 1) AS s2
      FROM obs GROUP BY rg, tr
    ),
    study AS (
      SELECT a.rg,
             round(a.m - b.m, 8) AS d,
             round(a.s2 / a.n + b.s2 / b.n, 8) AS v
      FROM arm a JOIN arm b ON b.rg = a.rg AND a.tr = 1 AND b.tr = 0
    ),
    fe AS (
      SELECT count(*) AS k,
             (CAST(sum(CAST(round(d / v * 1e12) AS HUGEINT)) AS DOUBLE) / 1e12)
               / (CAST(sum(CAST(round(1e12 / v) AS HUGEINT)) AS DOUBLE) / 1e12)
               AS theta_fe,
             CAST(sum(CAST(round(1e12 / v) AS HUGEINT)) AS DOUBLE) / 1e12 AS sw,
             CAST(sum(CAST(round(1e12 / (v * v)) AS HUGEINT)) AS DOUBLE) / 1e12
               AS sw2
      FROM study
    ),
    het AS (
      SELECT fe.k, fe.theta_fe, fe.sw, fe.sw2,
             (SELECT CAST(sum(CAST(round((study.d - fe.theta_fe)
                                         * (study.d - fe.theta_fe)
                                         / study.v * 1e12) AS HUGEINT)) AS DOUBLE)
                / 1e12
              FROM study) AS q_het
      FROM fe
    ),
    re AS (
      SELECT k, theta_fe, q_het,
             greatest(0.0, (q_het - (k - 1)) / (sw - sw2 / sw)) AS tau2,
             greatest(0.0, (q_het - (k - 1)) / nullif(q_het, 0.0)) AS i2
      FROM het
    )
    SELECT study.rg AS region,
           round(study.d, 6) AS effect,
           round(sqrt(study.v), 6) AS se,
           round((1.0 / study.v) / re_sw.sw_fe, 6) AS fe_weight,
           round(re.theta_fe, 6) AS pooled_fe,
           round((SELECT (CAST(sum(CAST(round(s.d / (s.v + re.tau2) * 1e12)
                                        AS HUGEINT)) AS DOUBLE) / 1e12)
                         / (CAST(sum(CAST(round(1e12 / (s.v + re.tau2))
                                          AS HUGEINT)) AS DOUBLE) / 1e12)
                  FROM study s), 6) AS pooled_re,
           round(re.q_het, 6) AS q_het,
           round(re.i2, 6) AS i_squared
    FROM study
    CROSS JOIN re
    CROSS JOIN (SELECT CAST(sum(CAST(round(1e12 / v) AS HUGEINT)) AS DOUBLE) / 1e12
                AS sw_fe FROM study) re_sw
    ORDER BY region
    """,
    tags=("stats", "experimentation", "analytics"),
)
def meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-analysis of the discount effect across the five region
    "studies": per-region treated-minus-control mean difference with its
    variance, inverse-variance fixed-effect pooling, Cochran's Q
    heterogeneity, I², the DerSimonian-Laird τ², and the random-effects
    pooled estimate — the multi-site experiment readout (was the promo
    effect consistent across regions, and what is the honest pooled
    number if it wasn't?) that single-population tools (q_welch_ttest,
    q_ipw_ate) cannot answer.

    Scale: one annotated fact join + a (region, arm) moment aggregate;
    everything downstream runs on the 5-row study relation. Effects and
    variances round at 8 before pooling; closed forms, rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    treated = li.filter(F.col("l_discount") >= META_DISC).select("l_orderkey").distinct()
    obs = (
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
        .join(
            treated.withColumn("is_t", F.lit(1)),
            orders.o_orderkey == treated.l_orderkey,
            "left",
        )
        .select(
            F.col("r_name").alias("rg"),
            F.coalesce(F.col("is_t"), F.lit(0)).alias("tr"),
            (F.col("o_totalprice") / 1000.0).alias("y"),
        )
    )
    # integer-moments rule: y = totalprice/1000 is an exact multiple of
    # 1e-5 — arm moments sum exact 1e-5-grain integers
    y5 = F.round(F.col("y") * 1e5).cast("long")
    mean_y = F.sum(y5).cast("double") / F.count(F.lit(1)) / 1e5
    arm = obs.groupBy("rg", "tr").agg(
        F.count(F.lit(1)).alias("n"),
        mean_y.alias("m"),
        (
            (
                F.sum(y5.cast("decimal(19,0)") * y5).cast("double") / 1e10
                - F.count(F.lit(1)) * mean_y * mean_y
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("s2"),
    )
    t_arm = arm.filter(F.col("tr") == 1).select(
        "rg", F.col("n").alias("nt"), F.col("m").alias("mt"), F.col("s2").alias("st")
    )
    c_arm = arm.filter(F.col("tr") == 0).select(
        "rg", F.col("n").alias("nc"), F.col("m").alias("mc"), F.col("s2").alias("sc")
    )
    study = t_arm.join(c_arm, "rg").select(
        "rg",
        F.round(F.col("mt") - F.col("mc"), 8).alias("d"),
        F.round(F.col("st") / F.col("nt") + F.col("sc") / F.col("nc"), 8).alias("v"),
    )
    study = study.localCheckpoint(eager=True)  # 5-row model branched 4 ways
    # 5-study pooling sums snap each term at a 1e-12 grain (d, v are 8-dp
    # by construction, so every per-study term is an identical double)
    def _snap12(term):
        return F.sum(F.round(term * 1e12).cast("decimal(38,0)")).cast("double") / 1e12

    fe = study.agg(
        F.count(F.lit(1)).alias("k"),
        (_snap12(F.col("d") / F.col("v")) / _snap12(1.0 / F.col("v"))).alias(
            "theta_fe"
        ),
        _snap12(1.0 / F.col("v")).alias("sw"),
        _snap12(1.0 / (F.col("v") * F.col("v"))).alias("sw2"),
    )
    het = study.crossJoin(F.broadcast(fe)).agg(
        F.max("k").alias("k"),
        F.max("theta_fe").alias("theta_fe"),
        F.max("sw").alias("sw"),
        F.max("sw2").alias("sw2"),
        _snap12(
            (F.col("d") - F.col("theta_fe"))
            * (F.col("d") - F.col("theta_fe"))
            / F.col("v")
        ).alias("q_het"),
    )
    re = het.select(
        "k",
        "theta_fe",
        "sw",
        "q_het",
        F.greatest(
            F.lit(0.0),
            (F.col("q_het") - (F.col("k") - 1))
            / (F.col("sw") - F.col("sw2") / F.col("sw")),
        ).alias("tau2"),
        F.greatest(
            F.lit(0.0),
            (F.col("q_het") - (F.col("k") - 1)) / F.nullif(F.col("q_het"), F.lit(0.0)),
        ).alias("i2"),
    )
    pooled_re = study.crossJoin(F.broadcast(re)).agg(
        (
            _snap12(F.col("d") / (F.col("v") + F.col("tau2")))
            / _snap12(1.0 / (F.col("v") + F.col("tau2")))
        ).alias("theta_re")
    )
    return (
        study.crossJoin(F.broadcast(re))
        .crossJoin(F.broadcast(pooled_re))
        .select(
            F.col("rg").alias("region"),
            F.round(F.col("d"), 6).alias("effect"),
            F.round(F.sqrt(F.col("v")), 6).alias("se"),
            F.round((1.0 / F.col("v")) / F.col("sw"), 6).alias("fe_weight"),
            F.round(F.col("theta_fe"), 6).alias("pooled_fe"),
            F.round(F.col("theta_re"), 6).alias("pooled_re"),
            F.round(F.col("q_het"), 6).alias("q_het"),
            F.round(F.col("i2"), 6).alias("i_squared"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q_wilcoxon_signed_rank — paired nonparametric year-over-year test
# ---------------------------------------------------------------------------

WSR_Y1 = 1999
WSR_Y2 = 2000
WSR_Z95 = 1.959964


@query(
    "q_wilcoxon_signed_rank",
    oracle=f"""
    WITH pairs AS (
      SELECT c.c_nationkey AS nk,
             CAST(round(sum(CASE WHEN year(o.o_orderdate) = {WSR_Y1}
                                 THEN o.o_totalprice END) * 100) AS BIGINT) AS s1,
             CAST(round(sum(CASE WHEN year(o.o_orderdate) = {WSR_Y2}
                                 THEN o.o_totalprice END) * 100) AS BIGINT) AS s2
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate >= TIMESTAMP '{WSR_Y1}-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '{WSR_Y2 + 1}-01-01 00:00:00'
      GROUP BY nk
      HAVING s1 IS NOT NULL AND s2 IS NOT NULL AND s2 <> s1
    ),
    d AS (
      SELECT nk, s2 - s1 AS d, abs(s2 - s1) AS ad FROM pairs
    ),
    ranked AS (
      SELECT nk, d, row_number() OVER (ORDER BY ad, nk) AS rnk,
             count(*) OVER () AS n
      FROM d
    ),
    stat AS (
      SELECT max(n) AS n,
             sum(CASE WHEN d > 0 THEN rnk ELSE 0 END) AS w_plus,
             sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS n_pos
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(w_plus AS BIGINT) AS w_plus,
           CAST(n_pos AS BIGINT) AS n_positive,
           round((w_plus - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0), 6) AS z_wilcoxon,
           round((n_pos - n / 2.0) / sqrt(n / 4.0), 6) AS z_sign,
           abs((w_plus - n * (n + 1) / 4.0)
               / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0)) > {WSR_Z95}
             AS reject_95
    FROM stat
    """,
    tags=("stats", "analytics"),
)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired nation revenues ({WSR_Y1} vs
    the next year): W⁺ = sum of |difference| ranks where the later year
    won, against E[W] = n(n+1)/4 — the PAIRED nonparametric test
    (q_mann_whitney is the unpaired twin; q_welch_ttest the parametric
    one), with the cruder sign test riding along to show what ranking
    the magnitudes buys. Differences are exact integer cents; zero
    differences drop per the standard procedure.

    Scale: one two-year pushed-down aggregate to ≤25 pairs, one
    global rank over that broadcast-sized relation (nk tie-break),
    closed forms — dimension-bounded past the scan. Rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pairs = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{WSR_Y1}-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{WSR_Y2 + 1}-01-01 00:00:00").cast("timestamp"))
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.year("o_orderdate") == WSR_Y1, F.col("o_totalprice"))
                )
                * 100
            )
            .cast("long")
            .alias("s1"),
            F.round(
                F.sum(
                    F.when(F.year("o_orderdate") == WSR_Y2, F.col("o_totalprice"))
                )
                * 100
            )
            .cast("long")
            .alias("s2"),
        )
        .filter(
            F.col("s1").isNotNull()
            & F.col("s2").isNotNull()
            & (F.col("s2") != F.col("s1"))
        )
    )
    d = pairs.select(
        "nk", (F.col("s2") - F.col("s1")).alias("d"), F.abs(F.col("s2") - F.col("s1")).alias("ad")
    )
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    ranked = global_row_number(d, ["ad", "nk"], rn_col="rnk")
    nn = ranked.agg(F.count(F.lit(1)).alias("n"))
    stat = ranked.crossJoin(F.broadcast(nn)).agg(
        F.max("n").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("rnk")).otherwise(0)).alias("w_plus"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("n_pos"),
    )
    zw = (F.col("w_plus") - F.col("n") * (F.col("n") + 1) / 4.0) / F.sqrt(
        F.col("n") * (F.col("n") + 1.0) * (2 * F.col("n") + 1) / 24.0
    )
    zs = (F.col("n_pos") - F.col("n") / 2.0) / F.sqrt(F.col("n") / 4.0)
    return stat.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("w_plus").cast("long").alias("w_plus"),
        F.col("n_pos").cast("long").alias("n_positive"),
        F.round(zw, 6).alias("z_wilcoxon"),
        F.round(zs, 6).alias("z_sign"),
        (F.abs(zw) > WSR_Z95).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# q_cronbach_alpha — internal consistency of the quality-rater battery
# ---------------------------------------------------------------------------


@query(
    "q_cronbach_alpha",
    oracle="""
    WITH rated AS (
      SELECT CASE WHEN length(text) > 200 THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(string_split(text, ' ')) > 40 THEN 1 ELSE 0 END AS rb,
             CASE WHEN position('.' IN text) > 0 THEN 1 ELSE 0 END AS rc
      FROM documents
    ),
    v AS (
      SELECT count(*) AS n,
             avg(ra * 1.0) * (1.0 - avg(ra * 1.0)) AS va,
             avg(rb * 1.0) * (1.0 - avg(rb * 1.0)) AS vb,
             avg(rc * 1.0) * (1.0 - avg(rc * 1.0)) AS vc,
             avg((ra + rb + rc) * (ra + rb + rc) * 1.0)
               - avg((ra + rb + rc) * 1.0) * avg((ra + rb + rc) * 1.0) AS vt
      FROM rated
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           round(va + vb + vc, 6) AS sum_item_var,
           round(vt, 6) AS total_var,
           round(1.5 * (1.0 - (va + vb + vc) / vt), 6) AS cronbach_alpha,
           1.5 * (1.0 - (va + vb + vc) / vt) >= 0.7 AS acceptable
    FROM v
    """,
    tags=("stats", "text", "quality", "llm"),
)
def cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's α (equivalently KR-20 for these binary items) of the
    three document-quality raters: α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total) with
    k = 3 — the internal-consistency reliability of the battery:
    q_fleiss_kappa asks whether raters AGREE per item; α asks whether
    the raters form ONE scale whose sum is a reliable quality score
    (the precondition for using the vote total as a filter threshold).
    Binary item variances are the exact p(1−p) closed form.

    Scale: one linear pass to integer predicates, one moment aggregate,
    closed forms on a 1-row relation — all map-side combinable.
    Rounded at 6."""
    docs = load_table(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.length("text") > 200, 1).otherwise(0).alias("ra"),
        F.when(F.size(F.split("text", " ")) > 40, 1).otherwise(0).alias("rb"),
        F.when(F.instr("text", ".") > 0, 1).otherwise(0).alias("rc"),
    )
    tot = (F.col("ra") + F.col("rb") + F.col("rc")) * 1.0
    v = rated.agg(
        F.count(F.lit(1)).alias("n"),
        (F.avg(F.col("ra") * 1.0) * (1.0 - F.avg(F.col("ra") * 1.0))).alias("va"),
        (F.avg(F.col("rb") * 1.0) * (1.0 - F.avg(F.col("rb") * 1.0))).alias("vb"),
        (F.avg(F.col("rc") * 1.0) * (1.0 - F.avg(F.col("rc") * 1.0))).alias("vc"),
        (F.avg(tot * tot) - F.avg(tot) * F.avg(tot)).alias("vt"),
    )
    alpha = 1.5 * (
        1.0 - (F.col("va") + F.col("vb") + F.col("vc")) / F.col("vt")
    )
    return v.select(
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.col("va") + F.col("vb") + F.col("vc"), 6).alias("sum_item_var"),
        F.round(F.col("vt"), 6).alias("total_var"),
        F.round(alpha, 6).alias("cronbach_alpha"),
        (alpha >= 0.7).alias("acceptable"),
    )


# ---------------------------------------------------------------------------
# q_indirect_standardization — mix-adjusted performance (SMR per region)
# ---------------------------------------------------------------------------


@query(
    "q_indirect_standardization",
    oracle="""
    WITH obs AS (
      SELECT r.r_name AS region, c.c_mktsegment AS seg,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS conv
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    std AS (
      SELECT seg, sum(conv) * 1.0 / count(*) AS rate FROM obs GROUP BY seg
    ),
    cells AS (
      SELECT region, seg, count(*) AS n, sum(conv) AS o FROM obs GROUP BY region, seg
    ),
    smr AS (
      SELECT cells.region,
             CAST(sum(cells.o) AS BIGINT) AS observed,
             CAST(sum(CAST(round(cells.n * std.rate * 1e6) AS HUGEINT)) AS DOUBLE)
               / 1e6 AS expected
      FROM cells JOIN std ON std.seg = cells.seg
      GROUP BY cells.region
    )
    SELECT region, observed,
           round(expected, 4) AS expected,
           round(observed / expected, 6) AS smr,
           round((observed - expected) / sqrt(expected), 6) AS z_byar,
           abs((observed - expected) / sqrt(expected)) > 1.959964 AS significant
    FROM smr ORDER BY region
    """,
    tags=("stats", "analytics", "experimentation"),
)
def indirect_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indirect standardization of region conversion (urgent-order
    rate): expected conversions = Σ (corpus-wide segment rate × the
    region's segment exposure), SMR = observed/expected with the
    Poisson z ≈ (O−E)/√E — the epidemiology machinery answering the
    business question "does this region over/under-perform AFTER
    adjusting for its customer mix?", which raw rate comparisons
    (q_beta_binomial_ab) conflate with composition.

    Scale: one dim-chain aggregate to (region × segment) integer cells
    + broadcast segment rates; closed forms on 25 cells. Rounded at
    4/6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    obs = (
        orders.join(
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
        .select(
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)
            .alias("conv"),
        )
    )
    std = obs.groupBy("seg").agg(
        (F.sum("conv") * 1.0 / F.count(F.lit(1))).alias("rate")
    )
    cells = obs.groupBy("region", "seg").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("o")
    )
    smr = (
        cells.join(F.broadcast(std), "seg")
        .groupBy("region")
        .agg(
            F.sum("o").cast("long").alias("observed"),
            (
                F.sum(
                    F.round(F.col("n") * F.col("rate") * 1e6).cast("decimal(38,0)")
                ).cast("double")
                / 1e6
            ).alias("expected"),
        )
    )
    z = (F.col("observed") - F.col("expected")) / F.sqrt(F.col("expected"))
    return smr.select(
        "region",
        "observed",
        F.round(F.col("expected"), 4).alias("expected"),
        F.round(F.col("observed") / F.col("expected"), 6).alias("smr"),
        F.round(z, 6).alias("z_byar"),
        (F.abs(z) > 1.959964).alias("significant"),
    ).orderBy("region")


# ---------------------------------------------------------------------------
# q_oaxaca_kitagawa — mix-effect vs rate-effect decomposition
# ---------------------------------------------------------------------------

OK_REGION_A = "EUROPE"
OK_REGION_B = "ASIA"


@query(
    "q_oaxaca_kitagawa",
    oracle=f"""
    WITH obs AS (
      SELECT r.r_name AS region, c.c_mktsegment AS seg,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS conv
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('{OK_REGION_A}', '{OK_REGION_B}')
    ),
    cells AS (
      SELECT region, seg, count(*) AS n, sum(conv) * 1.0 / count(*) AS rate
      FROM obs GROUP BY region, seg
    ),
    tot AS (
      SELECT region, sum(n) AS nt FROM cells GROUP BY region
    ),
    wr AS (
      SELECT cells.region, cells.seg,
             cells.n * 1.0 / tot.nt AS w, cells.rate
      FROM cells JOIN tot ON tot.region = cells.region
    ),
    sides AS (
      SELECT a.seg, a.w AS wa, a.rate AS ra, b.w AS wb, b.rate AS rb
      FROM (SELECT * FROM wr WHERE region = '{OK_REGION_A}') a
      JOIN (SELECT * FROM wr WHERE region = '{OK_REGION_B}') b ON b.seg = a.seg
    ),
    dec AS (
      SELECT CAST(sum(CAST(round(wa * ra * 1e15) AS BIGINT)) AS DOUBLE) / 1e15
             - CAST(sum(CAST(round(wb * rb * 1e15) AS BIGINT)) AS DOUBLE) / 1e15
               AS gap,
             CAST(sum(CAST(round((wa - wb) * (ra + rb) / 2.0 * 1e15) AS BIGINT))
                  AS DOUBLE) / 1e15 AS mix_effect,
             CAST(sum(CAST(round(((wa + wb) / 2.0) * (ra - rb) * 1e15) AS BIGINT))
                  AS DOUBLE) / 1e15 AS rate_effect
      FROM sides
    )
    SELECT round(gap, 6) AS total_gap,
           round(mix_effect, 6) AS mix_effect,
           round(rate_effect, 6) AS rate_effect,
           round(mix_effect + rate_effect - gap, 9) AS residual_check
    FROM dec
    """,
    tags=("stats", "analytics", "experimentation"),
)
def oaxaca_kitagawa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kitagawa/Oaxaca-Blinder decomposition of the EUROPE-vs-ASIA
    conversion gap: split the total rate difference into the MIX effect
    Σ(wₐ−w_b)·r̄ (different segment composition) and the RATE effect
    Σw̄·(rₐ−r_b) (different within-segment performance), using the
    symmetric midpoint weighting so the two components sum EXACTLY to
    the gap (residual_check ≈ 0 by construction, emitted as proof) —
    the standard answer to "is the difference who they sell to, or how
    well they sell?".

    Scale: one two-region pushed aggregate to 10 (region, segment)
    cells; closed forms. Rounded at 6/9."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    obs = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                reg.filter(F.col("r_name").isin(OK_REGION_A, OK_REGION_B)).select(
                    "r_regionkey", "r_name"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)
            .alias("conv"),
        )
    )
    cells = obs.groupBy("region", "seg").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("conv") * 1.0 / F.count(F.lit(1))).alias("rate"),
    )
    tot = cells.groupBy("region").agg(F.sum("n").alias("nt"))
    wr = cells.join(F.broadcast(tot), "region").select(
        "region", "seg", (F.col("n") * 1.0 / F.col("nt")).alias("w"), "rate"
    )
    a = wr.filter(F.col("region") == OK_REGION_A).select(
        "seg", F.col("w").alias("wa"), F.col("rate").alias("ra")
    )
    b = wr.filter(F.col("region") == OK_REGION_B).select(
        "seg", F.col("w").alias("wb"), F.col("rate").alias("rb")
    )
    sides = a.join(b, "seg")
    # integer-moments rule: the 5-segment product sums snap at a 1e-15
    # grain (weights/rates are <= 1, so the terms stay far under 2^63)
    def _snap15(term):
        return F.sum(F.round(term * 1e15).cast("long")).cast("double") / 1e15

    dec = sides.agg(
        (
            _snap15(F.col("wa") * F.col("ra")) - _snap15(F.col("wb") * F.col("rb"))
        ).alias("gap"),
        _snap15((F.col("wa") - F.col("wb")) * (F.col("ra") + F.col("rb")) / 2.0).alias(
            "mix_effect"
        ),
        _snap15(
            ((F.col("wa") + F.col("wb")) / 2.0) * (F.col("ra") - F.col("rb"))
        ).alias("rate_effect"),
    )
    return dec.select(
        F.round(F.col("gap"), 6).alias("total_gap"),
        F.round(F.col("mix_effect"), 6).alias("mix_effect"),
        F.round(F.col("rate_effect"), 6).alias("rate_effect"),
        F.round(
            F.col("mix_effect") + F.col("rate_effect") - F.col("gap"), 9
        ).alias("residual_check"),
    )


# ---------------------------------------------------------------------------
# q_friedman_test — randomized-block nonparametric k-treatment test
# ---------------------------------------------------------------------------

FRIEDMAN_K = 5  # treatments = the five event types; blocks = January days


@query(
    "q_friedman_test",
    oracle=f"""
    WITH cell AS (
      SELECT date_trunc('day', ts) AS blk, event_type AS trt,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY blk, trt
    ),
    complete AS (
      SELECT blk FROM cell GROUP BY blk HAVING count(*) = {FRIEDMAN_K}
    ),
    ranked AS (
      SELECT c.blk, c.trt,
             2 * rank() OVER (PARTITION BY c.blk ORDER BY c.cents)
             + count(*) OVER (PARTITION BY c.blk, c.cents) - 1 AS mr2
      FROM cell c JOIN complete b ON c.blk = b.blk
    ),
    rj AS (
      SELECT trt, CAST(sum(mr2) AS BIGINT) AS r2 FROM ranked GROUP BY trt
    ),
    s AS (
      SELECT CAST(sum(r2 * r2) AS BIGINT) AS s2,
             (SELECT CAST(count(*) AS BIGINT) FROM complete) AS n
      FROM rj
    )
    SELECT n AS n_blocks, CAST({FRIEDMAN_K} AS BIGINT) AS k_treatments,
           round(3.0 * s2 / (n * {FRIEDMAN_K} * ({FRIEDMAN_K} + 1))
                 - 3.0 * n * ({FRIEDMAN_K} + 1), 6) AS chi2_f,
           round(3.0 * s2 / (n * {FRIEDMAN_K} * ({FRIEDMAN_K} + 1))
                 - 3.0 * n * ({FRIEDMAN_K} + 1), 6) > {KW_CHI2_4_95} AS reject_95
    FROM s
    """,
    tags=("stats", "inference"),
)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's randomized-block test: do the five event types differ in
    daily revenue once the DAY is controlled for? Each January day is a
    block; within a block the five event-type cent totals are midranked
    (1..5) and chi2_F = 12/(nk(k+1)) SUM R_j^2 - 3n(k+1) tests equal mean
    rank — the repeated-measures counterpart of q_kruskal_wallis (which
    ranks across independent groups, not within matched blocks). Only
    complete blocks (all k treatments present) enter, per the textbook
    design.

    Determinism: cell totals are exact integer cents, midranks are exact
    half-integers carried as 2x-integers (2*rank + ties - 1), so R_j and
    SUM R_j^2 are exact BIGINTs; the statistic is one closed form of
    those integers. Scale: one map-side-combinable aggregate to
    O(days x types) cells; ranking windows partition per block over k=5
    rows each — bounded state, no global window anywhere."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.date_trunc("day", "ts").alias("blk"), F.col("event_type").alias("trt")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    wcnt = Window.partitionBy("blk")
    wrank = Window.partitionBy("blk").orderBy("cents")
    wtie = Window.partitionBy("blk", "cents")
    ranked = (
        cell.withColumn("_k", F.count(F.lit(1)).over(wcnt))
        .filter(F.col("_k") == FRIEDMAN_K)
        .select(
            "trt",
            (2 * F.rank().over(wrank) + F.count(F.lit(1)).over(wtie) - 1).alias("mr2"),
        )
    )
    rj = ranked.groupBy("trt").agg(F.sum("mr2").cast("long").alias("r2"))
    s = rj.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("s2"),
        (F.sum("r2") / F.lit(FRIEDMAN_K * (FRIEDMAN_K + 1))).cast("long").alias("n"),
    )
    n, s2 = F.col("n"), F.col("s2")
    chi2 = F.round(
        3.0 * s2 / (n * FRIEDMAN_K * (FRIEDMAN_K + 1)) - 3.0 * n * (FRIEDMAN_K + 1), 6
    )
    return s.select(
        n.alias("n_blocks"),
        F.lit(FRIEDMAN_K).cast("long").alias("k_treatments"),
        chi2.alias("chi2_f"),
        (chi2 > KW_CHI2_4_95).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# q_bartlett_test — k-group variance homogeneity (the ANOVA precondition)
# ---------------------------------------------------------------------------

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _bartlett_sql() -> str:
    """Pivot the five priority groups to ONE row so every cross-group sum
    is an explicitly ordered a+b+c+d+e expression — no engine-ordered
    double summation anywhere (the q_hotelling_t2 pivot posture)."""
    cols = []
    for idx, pr in enumerate(_PRIORITIES):
        cols.append(
            f"max(CASE WHEN g = '{pr}' THEN n END) AS n{idx},\n"
            f"        max(CASE WHEN g = '{pr}' THEN sy END) AS sy{idx},\n"
            f"        max(CASE WHEN g = '{pr}' THEN syy END) AS syy{idx}"
        )
    piv = ",\n        ".join(cols)
    s2 = {
        i: f"((n{i} * 1e0 * syy{i} - sy{i} * 1e0 * sy{i}) / (n{i} * 1e0 * (n{i} - 1)))"
        for i in range(5)
    }
    nsum = " + ".join(f"n{i}" for i in range(5))
    pooled_num = " + ".join(f"(n{i} - 1) * {s2[i]}" for i in range(5))
    lnsum = " + ".join(f"(n{i} - 1) * ln({s2[i]})" for i in range(5))
    invsum = " + ".join(f"1e0 / (n{i} - 1)" for i in range(5))
    return f"""
    WITH g AS (
      SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)
                      * CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS syy
      FROM orders GROUP BY 1
    ),
    piv AS (
      SELECT {piv}
      FROM g
    ),
    calc AS (
      SELECT ({nsum}) AS nn,
             ({pooled_num}) / (({nsum}) - 5) AS sp2,
             ({lnsum}) AS lns,
             ({invsum}) AS invs
      FROM piv
    )
    SELECT CAST(5 AS BIGINT) AS k_groups, nn AS n_obs,
           round(sp2, 2) AS pooled_var,
           round(1e0 + (invs - 1e0 / (nn - 5)) / (3e0 * 4), 6) AS correction_c,
           round(((nn - 5) * ln(sp2) - lns)
                 / (1e0 + (invs - 1e0 / (nn - 5)) / (3e0 * 4)), 6) AS bartlett_t,
           round(((nn - 5) * ln(sp2) - lns)
                 / (1e0 + (invs - 1e0 / (nn - 5)) / (3e0 * 4)), 6) > {KW_CHI2_4_95}
             AS reject_95
    FROM calc
    """


sql_query(
    "q_bartlett_test", _bartlett_sql(), tags=("stats", "inference"),
    doc="""Bartlett's test of variance homogeneity across the five order
    priorities — the precondition check for pooled-variance ANOVA
    (q_anova_f assumes it; q_brown_forsythe is the robust alternative):
    T = [(N-k) ln Sp^2 - SUM (n_g-1) ln s_g^2] / C with the standard
    small-sample correction C, against chi2(k-1).

    ONE SQL text runs verbatim on both engines. Determinism: per-group
    moments are exact integer dollars (sum y^2 stays under 2^63 even at
    100x replication at that granularity); the five groups pivot to a
    single row so every cross-group combination is an explicitly ordered
    expression, never an engine-ordered double sum; ln/closed forms run
    on identical doubles, rounded at 6. Scale: one map-side-combinable
    5-group aggregate; everything after is O(1).""",
)


# ---------------------------------------------------------------------------
# q_cochran_armitage — trend in proportions over ordered exposure tiers
# ---------------------------------------------------------------------------

CA_TIER_STEP = 100000.0  # order-value tier width; 5 ordered tiers 0..4
CA_Z95_SQ = 3.841459  # chi2(1) = z^2 at 5%


sql_query(
    "q_cochran_armitage",
    f"""
    WITH t AS (
      SELECT CAST(least(floor(o_totalprice / {CA_TIER_STEP}), 4) AS BIGINT) AS s,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
               AS pos
      FROM orders
    ),
    g AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS r
      FROM t GROUP BY s
    ),
    m AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr,
             CAST(sum(s * r) AS BIGINT) AS sr, CAST(sum(s * n) AS BIGINT) AS sn,
             CAST(sum(s * s * n) AS BIGINT) AS ssn
      FROM g
    )
    SELECT nn AS n_total, rr AS n_pos,
           round((nn * 1e0 * sr - rr * 1e0 * sn)
                 / sqrt(rr * 1e0 * (nn - rr) * (nn * 1e0 * ssn - sn * 1e0 * sn) / nn),
                 6) AS ca_z,
           round(pow((nn * 1e0 * sr - rr * 1e0 * sn), 2)
                 / (rr * 1e0 * (nn - rr) * (nn * 1e0 * ssn - sn * 1e0 * sn) / nn),
                 6) AS ca_chi2,
           round(pow((nn * 1e0 * sr - rr * 1e0 * sn), 2)
                 / (rr * 1e0 * (nn - rr) * (nn * 1e0 * ssn - sn * 1e0 * sn) / nn),
                 6) > {CA_Z95_SQ} AS reject_95,
           CASE WHEN nn * 1e0 * sr - rr * 1e0 * sn > 0 THEN 'increasing'
                WHEN nn * 1e0 * sr - rr * 1e0 * sn < 0 THEN 'decreasing'
                ELSE 'flat' END AS trend
    FROM m
    """,
    tags=("stats", "inference"),
    doc="""Cochran-Armitage trend test: does the urgent-priority share rise or
    fall MONOTONICALLY across ordered order-value tiers? The 2xk
    chi-square (q_chi2_independence) only asks "any difference"; this
    spends its single degree of freedom on the ordered alternative with
    integer scores s = 0..4, so a steady drift that chi2 dilutes across
    k-1 df shows up at full power.

    Determinism: tier counts (n_i, r_i) and the score moments are exact
    BIGINTs; numerator and variance are the standard closed forms
    evaluated in double with the identical expression shape on both
    engines (products of exact ints — the q_ols_two_factor posture),
    rounded at 6. Scale: one map-side 5-group aggregate; O(1) after.""",
)


# ---------------------------------------------------------------------------
# q_cvm_test — two-sample Cramer-von Mises distribution test
# ---------------------------------------------------------------------------

CVM_CRIT_5 = 0.461  # asymptotic 5% critical value of the two-sample omega^2


@query(
    "q_cvm_test",
    oracle=f"""
    WITH assigned AS (
      SELECT value,
        (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
          AS grp
      FROM events WHERE event_type = 'purchase'
    ),
    byval AS (
      SELECT value,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      FROM assigned GROUP BY value
    ),
    cum AS (
      SELECT cnt_a, cnt_b,
             sum(cnt_a) OVER w AS ca, sum(cnt_b) OVER w AS cb,
             sum(cnt_a) OVER () AS na, sum(cnt_b) OVER () AS nb
      FROM byval
      WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT CAST(min(na) AS BIGINT) AS na, CAST(min(nb) AS BIGINT) AS nb,
             CAST(sum((cnt_a + cnt_b) * ca * ca) AS BIGINT) AS aa,
             CAST(sum((cnt_a + cnt_b) * ca * cb) AS BIGINT) AS ab,
             CAST(sum((cnt_a + cnt_b) * cb * cb) AS BIGINT) AS bb
      FROM cum
    )
    SELECT na AS n_a, nb AS n_b,
           round(na * 1e0 * nb / ((na + nb) * 1e0 * (na + nb))
                 * (nb * 1e0 * nb * aa - 2e0 * na * nb * ab + na * 1e0 * na * bb)
                 / (na * 1e0 * na * nb * nb), 6) AS cvm_t,
           round(na * 1e0 * nb / ((na + nb) * 1e0 * (na + nb))
                 * (nb * 1e0 * nb * aa - 2e0 * na * nb * ab + na * 1e0 * na * bb)
                 / (na * 1e0 * na * nb * nb), 6) > {CVM_CRIT_5} AS reject_95
    FROM s
    """,
    tags=("stats", "inference"),
)
def cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises test between the md5-assigned A/B arms
    of purchase values: T = nm/(n+m)^2 * SUM over all observations of
    (F_A(x) - F_B(x))^2 — the whole-ECDF-area companion to q_ks_test
    (KS sees only the single worst gap; CvM integrates every gap, so many
    small consistent deviations register). Evaluated exactly at distinct
    values weighted by multiplicity — the standard tied-data form.

    Determinism: the ECDF gap numerator ca*nb - cb*na is expanded so the
    three accumulated terms SUM cnt*ca^2, SUM cnt*ca*cb, SUM cnt*cb^2 are
    EXACT BIGINTs (under 2^63 through 10x replication); the statistic is
    one closed-form double of those integers, rounded at 6. Scale: one
    value-histogram aggregate, then the repo's range-bucketed distributed
    running sum (functions/ranks.py — no single-partition window); the
    final fold is one aggregate."""
    from bigdatainfinance1_spark.functions.ranks import global_running_sum

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    grp = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("long") % 2
    )
    byval = (
        ev.select("value", F.when(grp == 0, 1).otherwise(0).alias("ia"))
        .groupBy("value")
        .agg(
            F.sum("ia").cast("long").alias("cnt_a"),
            F.sum(1 - F.col("ia")).cast("long").alias("cnt_b"),
        )
    )
    c1 = global_running_sum(byval, ["value"], "cnt_a", "ca")
    c2 = global_running_sum(c1, ["value"], "cnt_b", "cb")
    s = c2.agg(
        F.sum("cnt_a").cast("long").alias("na"),
        F.sum("cnt_b").cast("long").alias("nb"),
        F.sum((F.col("cnt_a") + F.col("cnt_b")) * F.col("ca") * F.col("ca"))
        .cast("long")
        .alias("aa"),
        F.sum((F.col("cnt_a") + F.col("cnt_b")) * F.col("ca") * F.col("cb"))
        .cast("long")
        .alias("ab"),
        F.sum((F.col("cnt_a") + F.col("cnt_b")) * F.col("cb") * F.col("cb"))
        .cast("long")
        .alias("bb"),
    )
    na, nb, aa, ab, bb = (F.col(x) for x in ("na", "nb", "aa", "ab", "bb"))
    t = F.round(
        na * F.lit(1.0) * nb / ((na + nb) * F.lit(1.0) * (na + nb))
        * (nb * F.lit(1.0) * nb * aa - F.lit(2.0) * na * nb * ab + na * F.lit(1.0) * na * bb)
        / (na * F.lit(1.0) * na * nb * nb),
        6,
    )
    return s.select(
        na.alias("n_a"), nb.alias("n_b"), t.alias("cvm_t"), (t > CVM_CRIT_5).alias("reject_95")
    )


# ---------------------------------------------------------------------------
# q_effect_sizes — standardized mean-difference family for two segments
# ---------------------------------------------------------------------------

ES_SEG_A = "BUILDING"
ES_SEG_B = "AUTOMOBILE"


sql_query(
    "q_effect_sizes",
    f"""
    WITH obs AS (
      SELECT c.c_mktsegment AS g, CAST(round(o.o_totalprice) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('{ES_SEG_A}', '{ES_SEG_B}')
    ),
    gm AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM obs GROUP BY g
    ),
    piv AS (
      SELECT max(CASE WHEN g = '{ES_SEG_A}' THEN n END) AS n1,
             max(CASE WHEN g = '{ES_SEG_A}' THEN sy END) AS sy1,
             max(CASE WHEN g = '{ES_SEG_A}' THEN syy END) AS syy1,
             max(CASE WHEN g = '{ES_SEG_B}' THEN n END) AS n2,
             max(CASE WHEN g = '{ES_SEG_B}' THEN sy END) AS sy2,
             max(CASE WHEN g = '{ES_SEG_B}' THEN syy END) AS syy2
      FROM gm
    ),
    c AS (
      SELECT n1, n2,
             sy1 * 1e0 / n1 - sy2 * 1e0 / n2 AS diff,
             (n1 * 1e0 * syy1 - sy1 * 1e0 * sy1) / (n1 * 1e0 * (n1 - 1)) AS v1,
             (n2 * 1e0 * syy2 - sy2 * 1e0 * sy2) / (n2 * 1e0 * (n2 - 1)) AS v2
      FROM piv
    ),
    d AS (
      SELECT n1, n2, diff, v1, v2,
             sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)) AS sp,
             diff / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)) AS cohen_d
      FROM c
    )
    SELECT n1 AS n_{ES_SEG_A.lower()}, n2 AS n_{ES_SEG_B.lower()},
           round(diff, 4) AS mean_diff,
           round(sp, 4) AS pooled_sd,
           round(cohen_d, 6) AS cohens_d,
           round(cohen_d * (1 - 3.0 / (4 * (n1 + n2 - 2) - 1)), 6) AS hedges_g,
           round(diff / sqrt(v2), 6) AS glass_delta,
           round(cohen_d - 1.959964 * sqrt((n1 + n2) * 1e0 / (n1 * 1e0 * n2)
                 + cohen_d * cohen_d / (2.0 * (n1 + n2))), 6) AS d_ci_lo,
           round(cohen_d + 1.959964 * sqrt((n1 + n2) * 1e0 / (n1 * 1e0 * n2)
                 + cohen_d * cohen_d / (2.0 * (n1 + n2))), 6) AS d_ci_hi
    FROM d
    """,
    tags=("stats", "inference", "experimentation"),
    doc="""The standardized effect-size family for the BUILDING-vs-AUTOMOBILE
    order-value gap: Cohen's d (pooled SD), Hedges' g (the small-sample
    J-corrected d), Glass's delta (control-group SD — right when the
    treatment changes the variance too), and the 95% CI of d — the
    magnitude layer that q_welch_ttest's p-value deliberately does not
    report (with n in the thousands, trivial differences are
    "significant"; d says whether anyone should care).

    Determinism: group moments are exact integer dollars pivoted to one
    row (explicitly ordered combinations, no engine-ordered double sums);
    every estimator is one closed-form double of those integers, rounded
    at 4/6. Scale: one broadcast dim join + one 2-group aggregate; O(1)
    after.""",
)


# ---------------------------------------------------------------------------
# q_levene_test — Brown-Forsythe variance-homogeneity test per month
# ---------------------------------------------------------------------------

LEV_F4_INF_95 = 2.371945  # F(4, inf) upper 5% — asymptotic critical value,
# the same declared-approximation posture as q_kruskal_wallis's chi-square.

_LEVENE_SQL = f"""
    WITH obs AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS mi,
             r.r_name AS rg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    med AS (
      SELECT mi, rg, CAST(round(2 * median(v)) AS BIGINT) AS m2
      FROM obs GROUP BY mi, rg
    ),
    dev AS (
      SELECT obs.mi, obs.rg, abs(2 * obs.v - med.m2) AS t
      FROM obs JOIN med ON obs.mi = med.mi AND obs.rg = med.rg
    ),
    grp AS (
      SELECT mi, rg, CAST(count(*) AS BIGINT) AS nj,
             CAST(sum(t) AS BIGINT) AS sj,
             CAST(sum(t * t) AS DOUBLE) AS qj
      FROM dev GROUP BY mi, rg
    ),
    terms AS (
      SELECT mi, rg, nj, sj, qj,
             CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj AS bj
      FROM grp
    ),
    month AS (
      SELECT mi, CAST(sum(nj) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(round(bj) AS HUGEINT)) AS DOUBLE) AS sum_b,
             CAST(sum(CAST(round(qj - bj) AS HUGEINT)) AS DOUBLE) AS ssw4,
             CAST(sum(sj) AS DOUBLE) AS s_all
      FROM terms GROUP BY mi HAVING count(*) = 5
    ),
    wstat AS (
      SELECT mi, n,
             round((n - 5) / 4e0 * (sum_b - s_all * s_all / n) / ssw4, 6) AS w
      FROM month WHERE ssw4 > 0
    )
    SELECT mi, n, w, w > {LEV_F4_INF_95} AS reject_95
    FROM wstat ORDER BY mi
"""


@query("q_levene_test", oracle=_LEVENE_SQL, tags=("stats", "analytics"))
def levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test per month across the
    five customer regions on order values: z_ij = |y_ij - median_j|, then
    the one-way ANOVA F on the z's — W = ((N-k)/(k-1)) * SSB(z)/SSW(z).
    THE pre-check for q_anova_f / q_tukey_hsd, whose pooled-variance
    arithmetic assumes homogeneity; the median centering (Brown-Forsythe
    1974) keeps the test level under the heavy tails q_jarque_bera
    demonstrates, where mean-centered Levene over-rejects. Rejection at
    the asymptotic F(4, inf) 5% point, q_kruskal_wallis's declared
    approximation posture (per-month df2 ~ N-5 >> 120).

    Determinism: v is exact integer cents; both engines interpolate
    even-count medians to .5 granularity, so m2 = 2*median and the
    deviations t = |2v - m2| are EXACT integers, as are sj and
    qj = sum(t^2) (DuckDB HUGEINT / Spark decimal(38,0), to double once
    at the end); W composes them through identical double expressions
    rounded at 6, and reject_95 compares the ROUNDED w so the flag
    cannot straddle an ulp. The 4x scale of 2v cancels in SSB/SSW.
    Scale: dim-chain broadcast joins; medians are per-(month, region)
    partial aggregates (no global sort); O(months) after grp."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    obs = (
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
        .select(
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias(
                "mi"
            ),
            F.col("r_name").alias("rg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    med = obs.groupBy("mi", "rg").agg(
        F.round(2 * F.median("v")).cast("long").alias("m2")
    )
    dev = obs.join(F.broadcast(med), ["mi", "rg"]).select(
        "mi", "rg", F.abs(2 * F.col("v") - F.col("m2")).alias("t")
    )
    grp = dev.groupBy("mi", "rg").agg(
        F.count(F.lit(1)).cast("long").alias("nj"),
        F.sum("t").cast("long").alias("sj"),
        F.sum((F.col("t") * F.col("t")).cast("decimal(38,0)"))
        .cast("double")
        .alias("qj"),
    )
    bj = (F.col("sj").cast("double") * F.col("sj").cast("double") / F.col("nj")).alias(
        "bj"
    )
    terms = grp.select("mi", "rg", "nj", "sj", "qj", bj)
    month = (
        terms.groupBy("mi")
        .agg(
            F.sum("nj").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("k"),
            # integer-moments rule: bj/ssw4 terms are ~1e18-scale doubles —
            # snapping to their integer part makes the 5-term sums exact
            # (relative error ~1e-18, far below the 6-dp emission of w)
            F.sum(F.round(F.col("bj")).cast("decimal(38,0)"))
            .cast("double")
            .alias("sum_b"),
            F.sum(F.round(F.col("qj") - F.col("bj")).cast("decimal(38,0)"))
            .cast("double")
            .alias("ssw4"),
            F.sum("sj").cast("double").alias("s_all"),
        )
        .filter(F.col("k") == 5)
    )
    w = F.round(
        (F.col("n") - 5)
        / F.lit(4.0)
        * (F.col("sum_b") - F.col("s_all") * F.col("s_all") / F.col("n"))
        / F.col("ssw4"),
        6,
    ).alias("w")
    return (
        month.filter(F.col("ssw4") > 0)
        .select("mi", "n", w)
        .select("mi", "n", "w", (F.col("w") > LEV_F4_INF_95).alias("reject_95"))
        .orderBy("mi")
    )
