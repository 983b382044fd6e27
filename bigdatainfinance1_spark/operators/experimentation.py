"""Experimentation statistics: CUPED variance reduction, difference-in-differences, delta-method ratio inference.

Carved out of operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 3 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.operators.quant_pricing import _norm_cdf_sql
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


sql_query(
    "q_ratio_delta_method",
    """
    WITH cf AS (
      SELECT o_custkey AS cust,
             CAST(count(*) AS BIGINT) AS yv,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS xv
      FROM orders GROUP BY cust
    ),
    frame AS (
      SELECT CASE WHEN substring(md5(CAST(cust AS STRING)), 1, 1) < '8'
                  THEN 'treat' ELSE 'control' END AS arm,
             xv, yv
      FROM cf
    ),
    m AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xv) AS BIGINT)  AS sx,
             CAST(sum(yv) AS BIGINT)  AS sy,
             CAST(sum(CAST(xv AS DECIMAL(19,0)) * CAST(xv AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(xv AS DECIMAL(19,0)) * yv) AS DOUBLE) AS sxy,
             CAST(sum(yv * yv) AS BIGINT) AS syy
      FROM frame GROUP BY arm
    ),
    stats AS (
      SELECT arm, n,
             sx * 1e0 / n AS mx,
             sy * 1e0 / n AS my,
             sxx / n - (sx * 1e0 / n) * (sx * 1e0 / n)            AS vx,
             syy * 1e0 / n - (sy * 1e0 / n) * (sy * 1e0 / n)      AS vy,
             sxy * 1e0 / n - (sx * 1e0 / n) * (sy * 1e0 / n)      AS cxy
      FROM m
    )
    SELECT
      arm, n,
      round(mx / my / 100, 4) AS revenue_per_order,
      round(
        sqrt(
          (mx / my) * (mx / my)
          * (vx / (mx * mx) - 2e0 * cxy / (mx * my) + vy / (my * my))
          / n) / 100, 4) AS se_delta
    FROM stats
    """,
    tags=("analytics", "experimentation", "stats"),
    doc="""Delta-method standard error for a RATIO metric (revenue per order
    at the customer grain) — the correction every experimentation platform
    needs because the unit of randomization (customer) differs from the
    metric denominator (orders), so naive per-order variance is wrong:
    Var(X̄/Ȳ) ≈ (mx/my)²(vx/mx² − 2cov/mxmy + vy/my²)/n. All second
    moments are exact integers (Σx² in decimal — cents² passes int64),
    every double expression has identical shape on both engines, one
    sqrt at the end, rounded at 4 dp in dollars. Pairs with
    q_cuped_adjustment (variance reduction) and q_two_proportion_ztest
    (binary metrics) to complete the experiment-readout kit. Scale: one
    customer-grain aggregate + a 2-row arm aggregate.""",
)


# Shared experiment frame: customer-level pre/post revenue (exact cents)
# with a deterministic md5 50/50 arm. Pre = orders before 1996-01-01, post =
# at-or-after; customers missing a period contribute 0 (every customer with
# ANY order is in the universe — a LEFT join from the order-holder set).
_EXPERIMENT_SQL = """
    universe AS (
      SELECT DISTINCT o_custkey AS cust FROM orders
    ),
    arms AS (
      SELECT cust,
             CASE WHEN substring(md5(CAST(cust AS STRING)), 1, 1) < '8'
                  THEN 'treat' ELSE 'control' END AS arm
      FROM universe
    ),
    pre AS (
      SELECT o_custkey AS cust,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      GROUP BY cust
    ),
    post AS (
      SELECT o_custkey AS cust,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      GROUP BY cust
    ),
    frame AS (
      SELECT a.arm, a.cust,
             coalesce(pre.x, 0)  AS x,
             coalesce(post.y, 0) AS y
      FROM arms a
      LEFT JOIN pre  ON a.cust = pre.cust
      LEFT JOIN post ON a.cust = post.cust
    )
"""


@query(
    "q_cuped_adjustment",
    oracle="""
    WITH cf AS (
      SELECT o_custkey AS cust,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY cust
    ),
    frame AS (
      SELECT CASE WHEN substring(md5(CAST(cust AS STRING)), 1, 1) < '8'
                  THEN 'treat' ELSE 'control' END AS arm,
             x, y
      FROM cf
    ),
    by_arm AS (
      SELECT arm,
             CAST(count(*) AS BIGINT)            AS n,
             CAST(sum(x) AS BIGINT)              AS sx,
             CAST(sum(y) AS BIGINT)              AS sy,
             CAST(sum(x * x) AS BIGINT)          AS sxx,
             CAST(sum(x * y) AS BIGINT)          AS sxy,
             sum(CAST(y AS HUGEINT) * y)         AS syy
      FROM frame GROUP BY arm
    ),
    pooled AS (
      SELECT
        CAST(sum(n) AS BIGINT)  AS tn,
        CAST(sum(sx) AS BIGINT) AS tsx,
        CAST(sum(sy) AS BIGINT) AS tsy,
        CAST(sum(sxx) AS DOUBLE) AS tsxx,
        CAST(sum(sxy) AS DOUBLE) AS tsxy
      FROM by_arm
    ),
    theta AS (
      SELECT tn, tsx,
             (tsxy - tsx * 1e0 * tsy / tn) / (tsxx - tsx * 1e0 * tsx / tn) AS th
      FROM pooled
    )
    SELECT
      b.arm,
      b.n,
      round(b.sy * 1e0 / b.n / 100, 4) AS mean_y,
      round((b.sy * 1e0 / b.n - t.th * (b.sx * 1e0 / b.n - t.tsx * 1e0 / t.tn)) / 100, 4)
        AS mean_y_cuped,
      round(
        (CAST(b.syy AS DOUBLE) / b.n - (b.sy * 1e0 / b.n) * (b.sy * 1e0 / b.n)
         - 2e0 * t.th * (CAST(b.sxy AS DOUBLE) / b.n - (b.sx * 1e0 / b.n) * (b.sy * 1e0 / b.n))
         + t.th * t.th * (CAST(b.sxx AS DOUBLE) / b.n - (b.sx * 1e0 / b.n) * (b.sx * 1e0 / b.n)))
        / (CAST(b.syy AS DOUBLE) / b.n - (b.sy * 1e0 / b.n) * (b.sy * 1e0 / b.n)),
        6) AS var_ratio
    FROM by_arm b CROSS JOIN theta t
    """,
    tags=("analytics", "experimentation", "stats"),
)
def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the per-customer revenue metric:
    adjusted metric Y − θ(X − E[X]) with θ = cov(X,Y)/var(X) — the
    standard trick that shrinks experiment confidence intervals without
    touching the treatment effect. The covariate here is the customer\'s
    order COUNT (corr 0.87 with revenue → var_ratio ≈ 0.24, a real
    reduction); the canonical pre-period-revenue covariate is useless on
    THIS synthetic data because customers have zero persistence (pre/post
    corr ≈ −0.02, measured) — the algebra is covariate-agnostic, so the
    demo uses the one that exercises it, and q_diff_in_diff keeps the
    temporal frame. Everything is computed from per-arm EXACT moment sums
    (cents² in HUGEINT/decimal): adjusted mean = mean_y − θ(mean_x −
    pooled mean_x), adjusted variance = var_y − 2θcov + θ²var_x, so no
    per-row adjusted column and no order-dependent double summation ever
    exists. Scale: one customer-grain aggregation + a 2-row arm
    aggregate; θ broadcast as a 1-row cross join."""
    orders = load_table(spark, sf_dir, "orders")
    cf = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("y"),
    )
    frame = cf.select(
        F.when(F.substring(F.md5(F.col("cust").cast("string")), 1, 1) < "8", "treat")
        .otherwise("control")
        .alias("arm"),
        "x",
        "y",
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    by_arm = frame.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    pooled = by_arm.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("sx").cast("long").alias("tsx"),
        F.sum("sy").cast("long").alias("tsy"),
        F.sum("sxx").cast("double").alias("tsxx"),
        F.sum("sxy").cast("double").alias("tsxy"),
    )
    theta = pooled.select(
        "tn",
        "tsx",
        (
            (F.col("tsxy") - F.col("tsx") * F.lit(1.0) * F.col("tsy") / F.col("tn"))
            / (F.col("tsxx") - F.col("tsx") * F.lit(1.0) * F.col("tsx") / F.col("tn"))
        ).alias("th"),
    )
    j = by_arm.crossJoin(F.broadcast(theta))
    mean = lambda s: F.col(s) * F.lit(1.0) / F.col("n")  # noqa: E731
    var_y = F.col("syy").cast("double") / F.col("n") - mean("sy") * mean("sy")
    cov_xy = F.col("sxy").cast("double") / F.col("n") - mean("sx") * mean("sy")
    var_x = F.col("sxx").cast("double") / F.col("n") - mean("sx") * mean("sx")
    var_adj = var_y - F.lit(2.0) * F.col("th") * cov_xy + F.col("th") * F.col("th") * var_x
    return j.select(
        "arm",
        "n",
        F.round(mean("sy") / 100, 4).alias("mean_y"),
        F.round(
            (mean("sy") - F.col("th") * (mean("sx") - F.col("tsx") * F.lit(1.0) / F.col("tn")))
            / 100,
            4,
        ).alias("mean_y_cuped"),
        F.round(var_adj / var_y, 6).alias("var_ratio"),
    )


sql_query(
    "q_diff_in_diff",
    f"""
    WITH {_EXPERIMENT_SQL},
    cells AS (
      SELECT arm,
             round(sum(x) * 1e0 / count(*) / 100, 4) AS pre_mean,
             round(sum(y) * 1e0 / count(*) / 100, 4) AS post_mean,
             CAST(count(*) AS BIGINT)                AS n
      FROM frame GROUP BY arm
    )
    SELECT
      t.n  AS n_treat,
      c.n  AS n_control,
      t.pre_mean   AS treat_pre,
      t.post_mean  AS treat_post,
      c.pre_mean   AS control_pre,
      c.post_mean  AS control_post,
      round((t.post_mean - t.pre_mean) - (c.post_mean - c.pre_mean), 4) AS did
    FROM (SELECT * FROM cells WHERE arm = 'treat') t
    CROSS JOIN (SELECT * FROM cells WHERE arm = 'control') c
    """,
    tags=("analytics", "experimentation", "stats"),
    doc="""Difference-in-differences on the same experiment frame as
    q_cuped_adjustment: per-customer pre/post revenue means in the 2×2
    (arm × period) grid, DiD = (treat_post − treat_pre) − (control_post −
    control_pre) — the parallel-trends estimator every quasi-experiment
    reports. The md5 arm split is a null experiment, so the estimate is an
    A/A reading: ~66 k dollars against ~2.1 M cell means (≈3%, sampling
    noise at n≈750 per arm), the sanity check a real DiD pipeline runs
    first. Cell means are exact-cents sums
    divided once and rounded BEFORE differencing (the DiD combines
    already-rounded cells, so the 4-dp result is engine-stable by
    construction). Scale: one customer-grain aggregation, a 2-row grid,
    a scalar cross join.""",
)


sql_query(
    "q_srm_check",
    """
    WITH assigns AS (
      SELECT c_custkey,
             CASE WHEN substring(md5(CAST(c_custkey AS STRING)), 1, 1) < '8'
                  THEN 'treat' ELSE 'control' END AS arm_balanced,
             CASE WHEN substring(md5(CAST(c_custkey AS STRING)), 1, 1) < '7'
                  THEN 'treat' ELSE 'control' END AS arm_broken
      FROM customer
    ),
    per_exp AS (
      SELECT 'balanced' AS experiment,
             CAST(sum(CASE WHEN arm_balanced = 'treat' THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
             CAST(sum(CASE WHEN arm_balanced = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_control
      FROM assigns
      UNION ALL
      SELECT 'broken',
             CAST(sum(CASE WHEN arm_broken = 'treat' THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN arm_broken = 'control' THEN 1 ELSE 0 END) AS BIGINT)
      FROM assigns
    )
    SELECT
      experiment, n_treat, n_control,
      CAST(round(
        (n_treat - (n_treat + n_control) / 2.0) * (n_treat - (n_treat + n_control) / 2.0)
          / ((n_treat + n_control) / 2.0)
        + (n_control - (n_treat + n_control) / 2.0) * (n_control - (n_treat + n_control) / 2.0)
          / ((n_treat + n_control) / 2.0), 4) AS DOUBLE) AS chi2,
      CAST(
        (n_treat - (n_treat + n_control) / 2.0) * (n_treat - (n_treat + n_control) / 2.0)
          / ((n_treat + n_control) / 2.0)
        + (n_control - (n_treat + n_control) / 2.0) * (n_control - (n_treat + n_control) / 2.0)
          / ((n_treat + n_control) / 2.0) > 3.841 AS BOOLEAN) AS srm_detected
    FROM per_exp
    """,
    tags=("experimentation", "stats", "quality"),
    doc="""Sample-ratio-mismatch check — the first gate every experimentation
    platform runs before reading any metric: χ² of observed arm counts
    against the declared 50/50 split (1 dof; flag at 3.841 = p<0.05). Two
    deterministic md5 hash-splits are screened side by side: the healthy
    '< 8' threshold (8/16 of the hex space → passes) and a deliberately
    mis-configured '< 7' (7/16 → a 12.5% shortfall the χ² flags loudly) —
    the relation demonstrates both the pass and the catch on the same
    population. Exact integer counts into one double expression; a single
    aggregation over the assignment scan, free at any scale.""",
)


@query(
    "q_sprt_monitor",
    oracle="""
    WITH obs AS (
      SELECT event_type, ts, event_id,
             CASE WHEN value > 35 THEN 1 ELSE 0 END AS y
      FROM events
    ),
    walk AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS n,
             sum(y) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
      FROM obs
    ),
    llr AS (
      SELECT event_type, n, k,
             k * ln(0.6 / 0.5) + (n - k) * ln(0.4 / 0.5) AS llr
      FROM walk
    ),
    crossing AS (
      SELECT event_type, min(n) AS n_cross
      FROM llr WHERE llr >= ln(19.0) OR llr <= -ln(19.0)
      GROUP BY event_type
    ),
    final AS (
      SELECT event_type, max(n) AS n_final FROM llr GROUP BY event_type
    )
    SELECT
      f.event_type,
      CASE WHEN c.n_cross IS NULL THEN 'continue'
           WHEN l.llr >= ln(19.0) THEN 'accept_h1'
           ELSE 'accept_h0' END                    AS decision,
      CAST(coalesce(c.n_cross, f.n_final) AS BIGINT) AS n_obs,
      CAST(l.k AS BIGINT)                           AS n_successes,
      round(l.llr, 6)                               AS llr
    FROM final f
    LEFT JOIN crossing c ON f.event_type = c.event_type
    JOIN llr l ON l.event_type = f.event_type AND l.n = coalesce(c.n_cross, f.n_final)
    """,
    tags=("experimentation", "stats", "streaming-adjacent"),
)
def sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test as a relation — the
    always-valid monitor behind modern sequential experimentation: per
    event type, walk events in (ts, event_id) order as Bernoulli
    observations (value > 35), accumulate the log-likelihood ratio of
    H1: p=0.6 vs H0: p=0.5, and stop at the first crossing of ±ln 19
    (α = β = 0.05); report the decision, the sample size the sequential
    test needed, and the LLR at stopping (types that never cross report
    'continue' at their final state). The per-observation LLR never
    materializes: the walk carries exact INTEGER (n, k) via windowed
    prefix sums — partitioned by event_type, so never a single-partition
    window — and the LLR is reconstructed as k·ln(p1/p0) + (n−k)·ln(q1/q0),
    a two-term combination of identical doubles on both engines, so even
    the boundary comparisons agree bit-for-bit. Scale: one shuffle on the
    monitor key; state per type is the prefix-sum window."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        "event_type", "ts", "event_id", F.when(F.col("value") > 35, 1).otherwise(0).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    walk = obs.select(
        "event_type",
        F.row_number().over(w).alias("n"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("k"),
    )
    import math  # noqa: F401  (constants computed in-plan, not in Python)

    a = F.log(F.lit(0.6) / F.lit(0.5))
    b = F.log(F.lit(0.4) / F.lit(0.5))
    up = F.log(F.lit(19.0))
    llr = walk.withColumn("llr", F.col("k") * a + (F.col("n") - F.col("k")) * b)
    crossing = (
        llr.filter((F.col("llr") >= up) | (F.col("llr") <= -up))
        .groupBy("event_type")
        .agg(F.min("n").alias("n_cross"))
    )
    final = llr.groupBy("event_type").agg(F.max("n").alias("n_final"))
    stop = (
        final.join(crossing, "event_type", "left")
        .withColumn("n_stop", F.coalesce("n_cross", "n_final"))
        .select("event_type", "n_stop", "n_cross")
    )
    at_stop = llr.select(
        F.col("event_type").alias("s_type"), F.col("n").alias("n_stop"), "k", "llr"
    )
    return stop.join(
        at_stop, (stop["event_type"] == at_stop["s_type"]) & (stop["n_stop"] == at_stop["n_stop"])
    ).select(
        stop["event_type"],
        F.when(F.col("n_cross").isNull(), "continue")
        .when(F.col("llr") >= up, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
        stop["n_stop"].cast("long").alias("n_obs"),
        F.col("k").cast("long").alias("n_successes"),
        F.round("llr", 6).alias("llr"),
    )


@query(
    "q_quantile_treatment_effect",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN substring(md5(CAST(o_custkey AS STRING)), 1, 1) < '8'
                  THEN 'treat' ELSE 'control' END AS arm,
             o_totalprice AS y
      FROM orders
    ),
    q AS (
      SELECT
        quantile_cont(y, [0.1, 0.25, 0.5, 0.75, 0.9]) FILTER (arm = 'treat')   AS qt,
        quantile_cont(y, [0.1, 0.25, 0.5, 0.75, 0.9]) FILTER (arm = 'control') AS qc
      FROM assigned
    )
    SELECT round([0.1, 0.25, 0.5, 0.75, 0.9][s.i], 2) AS quantile,
           round(qt[s.i], 4)          AS treat_q,
           round(qc[s.i], 4)          AS control_q,
           round(qt[s.i] - qc[s.i], 4) AS qte
    FROM q, generate_series(1, 5) s(i)
    """,
    tags=("experimentation", "stats"),
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the distributional A/B readout that
    catches what a mean difference hides (a treatment can lift the median
    while crushing the tail): per-arm linear-interpolated quantiles of
    order value at p ∈ {{.1, .25, .5, .75, .9}} under the deterministic
    md5 hash split, and their differences. Spark `percentile` ≡ DuckDB
    `quantile_cont` (the q_percentiles equivalence) — both arms' quantiles
    come from ONE aggregation over one scan via the array-percentile form
    (the percentage must be foldable), exploded to the 5-row grid after. Exact inputs, rounds only on display."""
    orders = load_table(spark, sf_dir, "orders")
    hexc = F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
    assigned = orders.select(
        F.when(hexc < "8", "treat").otherwise("control").alias("arm"),
        F.col("o_totalprice").alias("y"),
    )
    ps = (0.1, 0.25, 0.5, 0.75, 0.9)
    p_arr = F.array(*[F.lit(p) for p in ps])
    q = assigned.agg(
        F.percentile(F.when(F.col("arm") == "treat", F.col("y")), p_arr).alias("qt"),
        F.percentile(F.when(F.col("arm") == "control", F.col("y")), p_arr).alias("qc"),
    )
    exploded = q.select(
        F.posexplode(F.arrays_zip(F.col("qt"), F.col("qc"))).alias("i", "z")
    ).select("i", "z.qt", "z.qc")
    p_of = F.element_at(F.array(*[F.lit(p) for p in ps]), F.col("i") + 1)
    return exploded.select(
        F.round(p_of, 2).alias("quantile"),
        F.round("qt", 4).alias("treat_q"),
        F.round("qc", 4).alias("control_q"),
        F.round(F.col("qt") - F.col("qc"), 4).alias("qte"),
    )


SHAPLEY_CHANNELS = ("click", "error", "signup", "view")  # bit i = channel i
_SHAP_N = len(SHAPLEY_CHANNELS)
_SHAP_W = {  # s!(n-1-s)!/n! for n=4, exact dyadic rationals
    0: 6 / 24, 1: 2 / 24, 2: 2 / 24, 3: 6 / 24,
}


def _shapley_oracle() -> str:
    mask_expr = " + ".join(
        f"max(CASE WHEN e.event_type = '{ch}' AND (fp.fpt IS NULL OR e.ts < fp.fpt)"
        f" THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(SHAPLEY_CHANNELS)
    )
    chan_rows = " UNION ALL ".join(
        f"SELECT {1 << i} AS bit, '{ch}' AS channel" for i, ch in enumerate(SHAPLEY_CHANNELS)
    )
    w_case = " ".join(
        f"WHEN {s} THEN {_SHAP_W[s]!r}" for s in range(_SHAP_N)
    )
    return f"""
    WITH fp AS (
      SELECT user_id, min(CASE WHEN event_type = 'purchase' THEN ts END) AS fpt
      FROM events GROUP BY user_id
    ),
    um AS (
      SELECT e.user_id,
             {mask_expr} AS m,
             sum(CASE WHEN e.event_type = 'purchase'
                      THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS rev_cents
      FROM events e JOIN fp ON fp.user_id = e.user_id
      GROUP BY e.user_id
    ),
    co AS (SELECT unnest(range(0, {1 << _SHAP_N})) AS cmask),
    stats AS MATERIALIZED (
      SELECT co.cmask,
             count(um.user_id)             AS members,
             coalesce(sum(um.rev_cents), 0) AS rev_cents,
             CASE WHEN count(um.user_id) = 0 THEN 0.0
                  ELSE coalesce(sum(um.rev_cents), 0) * 1.0 / count(um.user_id) END AS v
      FROM co LEFT JOIN um ON (um.m & co.cmask) = um.m
      GROUP BY co.cmask
    ),
    chans AS ({chan_rows}),
    contrib AS (
      SELECT c.channel,
             (CASE bit_count(CAST(s0.cmask AS BIGINT)) {w_case} END)
               * (s1.v - s0.v) AS term
      FROM chans c
      JOIN stats s0 ON (s0.cmask & c.bit) = 0
      JOIN stats s1 ON s1.cmask = s0.cmask + c.bit
    )
    SELECT channel,
           round(CAST(sum(CAST(round(term * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / 100,
                 4) AS shapley_revenue
    FROM contrib GROUP BY channel
    """


@query("q_shapley_attribution", oracle=_shapley_oracle(), tags=("analytics", "ml", "attribution"))
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution — the game-theoretic gold
    standard the heuristic models (q_first_touch_attribution,
    q_linear_attribution, q_time_decay_attribution) approximate: each
    channel's credit is its average marginal contribution over all
    2^4 = 16 coalitions of the channels a user touched BEFORE their first
    purchase, with coalition value v(S) = average purchase revenue (exact
    integer cents) among users whose pre-purchase channel set lies within
    S. With a small fixed channel alphabet the computation is EXACT, not
    sampled: per-user bitmask + revenue (one corpus groupBy against the
    first-purchase timestamps), a 16-row coalition relation joined by the
    subset test (m & S) = m, and the closed-form Shapley kernel
    s!(n-1-s)!/n! over the 8 with/without coalition pairs per channel.

    Determinism: members and revenue are exact integers, v is the
    identical ratio double on both engines, the kernel weights are exact
    dyadic rationals, and each channel sums 8 such terms before one
    round. Scale: O(users) corpus pass, then O(2^n) bounded relations —
    the 16-coalition join touches users x 16 rows, linear."""
    ev = load_table(spark, sf_dir, "events")
    fp = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fpt")
    )
    pre = F.col("fpt").isNull() | (F.col("ts") < F.col("fpt"))
    mask = None
    for i, ch in enumerate(SHAPLEY_CHANNELS):
        term = F.max(F.when((F.col("event_type") == ch) & pre, 1 << i).otherwise(0))
        mask = term if mask is None else mask + term
    um = ev.join(fp, "user_id").groupBy("user_id").agg(
        mask.alias("m"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("rev_cents"),
    )
    co = spark.range(0, 1 << _SHAP_N).select(F.col("id").cast("int").alias("cmask"))
    stats = (
        F.broadcast(co)
        .join(um, F.expr("(m & cmask) = m"), "left")
        .groupBy("cmask")
        .agg(
            F.count("user_id").alias("members"),
            F.coalesce(F.sum("rev_cents"), F.lit(0)).alias("rev_cents"),
        )
        .withColumn(
            "v",
            F.when(F.col("members") == 0, F.lit(0.0)).otherwise(
                F.col("rev_cents") * 1.0 / F.col("members")
            ),
        )
    )
    chans = spark.createDataFrame(
        [(1 << i, ch) for i, ch in enumerate(SHAPLEY_CHANNELS)], "bit int, channel string"
    )
    w = F.when(F.lit(False), F.lit(0.0))
    for s, wt in _SHAP_W.items():
        w = w.when(F.expr("bit_count(CAST(s0_mask AS BIGINT))") == s, F.lit(wt))
    s0 = stats.select(F.col("cmask").alias("s0_mask"), F.col("v").alias("v0"))
    s1 = stats.select(F.col("cmask").alias("s1_mask"), F.col("v").alias("v1"))
    contrib = (
        F.broadcast(chans)
        .join(s0, F.expr("(s0_mask & bit) = 0"))
        .join(s1, F.expr("s1_mask = s0_mask + bit"))
        .select("channel", (w * (F.col("v1") - F.col("v0"))).alias("term"))
    )
    return contrib.groupBy("channel").agg(
        F.round(
            F.sum(F.round(F.col("term") * 1e6).cast("long")).cast("double")
            / 1e6
            / 100,
            4,
        ).alias("shapley_revenue")
    )


RE_ABSORB = ("purchase", "error")  # conversion / hard-fail absorbing states
RE_ITERS = 16  # truncated fundamental-matrix iterations (q_markov_absorption)
RE_CHANNELS = ("click", "signup", "view")  # removable transient states


def _removal_oracle() -> str:
    head = """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    tp AS MATERIALIZED (
      SELECT event_type AS f, next_type AS t,
             round(count(*) * 1e0 / sum(count(*)) OVER (PARTITION BY event_type), 12) AS p
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    fe AS MATERIALIZED (
      SELECT event_type AS s,
             round(count(*) * 1e0 / (SELECT count(DISTINCT user_id) FROM events), 12) AS pi0
      FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn = 1 GROUP BY event_type
    ),
    tr AS MATERIALIZED (
      SELECT DISTINCT f FROM tp WHERE f NOT IN ('purchase', 'error')
    )
    """
    chains, finals = "", []
    for tag, removed in [("full", None)] + [(c, c) for c in RE_CHANNELS]:
        rm = f"'{removed}'" if removed else "''"
        chains += f""",
    b_{tag} AS MATERIALIZED (
      SELECT tr.f,
             coalesce((SELECT p FROM tp WHERE tp.f = tr.f AND tp.t = 'purchase'), 0) AS bp
      FROM tr WHERE tr.f <> {rm}
    ),
    q_{tag} AS MATERIALIZED (
      SELECT f, t, p FROM tp
      WHERE t NOT IN ('purchase', 'error') AND t <> {rm} AND f <> {rm}
    ),
    v0_{tag} AS (SELECT f, 0.0 AS vp FROM b_{tag})"""
        for k in range(1, RE_ITERS + 1):
            chains += f""",
    v{k}_{tag} AS (
      SELECT b.f, round(b.bp + coalesce(sum(q.p * v.vp), 0), 12) AS vp
      FROM b_{tag} b LEFT JOIN q_{tag} q ON q.f = b.f
      LEFT JOIN v{k - 1}_{tag} v ON q.t = v.f
      GROUP BY b.f, b.bp
    )"""
        chains += f""",
    conv_{tag} AS MATERIALIZED (
      SELECT round(
        coalesce((SELECT pi0 FROM fe WHERE s = 'purchase'), 0)
        + coalesce((SELECT sum(fe.pi0 * v.vp) FROM fe JOIN v{RE_ITERS}_{tag} v ON v.f = fe.s), 0)
      , 12) AS p
    )"""
    total_re = " + ".join(
        f"(((SELECT p FROM conv_full) - (SELECT p FROM conv_{c})) / (SELECT p FROM conv_full))"
        for c in RE_CHANNELS
    )
    finals = " UNION ALL ".join(
        f"""
    SELECT '{c}' AS channel,
      round((SELECT p FROM conv_full), 6) AS p_convert_full,
      round((SELECT p FROM conv_{c}), 6) AS p_convert_removed,
      round(((SELECT p FROM conv_full) - (SELECT p FROM conv_{c}))
            / (SELECT p FROM conv_full), 6) AS removal_effect,
      round((((SELECT p FROM conv_full) - (SELECT p FROM conv_{c}))
             / (SELECT p FROM conv_full)) / ({total_re}), 6) AS attribution_share"""
        for c in RE_CHANNELS
    )
    return f"""{head}{chains}
    {finals}
    """


@query(
    "q_removal_effect_attribution",
    oracle=_removal_oracle(),
    tags=("analytics", "events", "attribution", "iterative"),
)
def removal_effect_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.) — the chain-based
    principled attribution model beside q_shapley_attribution's coalition
    one: conversion probability is computed from the q_markov_absorption
    machinery (16 truncated fixed-point iterations, purchase/error
    absorbing) seeded with the first-event distribution pi0, then
    recomputed with each channel REMOVED (the removed state converts
    nothing: its inbound transition mass is lost), and each channel is
    credited its relative conversion drop, normalized across channels.

    Execution: one corpus pass yields the <= states^2 transition matrix
    and the <= states first-event distribution — both O(model) driver
    collects; four 16-iteration solves (full + one per removable channel)
    run on the driver, and the oracle unrolls the IDENTICAL four chains
    as MATERIALIZED CTEs (12-dp state, <= 3-term sums per step, the
    q_markov_absorption determinism recipe; plain CTEs would inline
    exponentially — the q_bradley_terry lesson)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    wn = Window.partitionBy("event_type")
    tp_rows = (
        seq.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("p", F.round(F.col("n") * 1.0 / F.sum("n").over(wn), 12))
        .collect()  # <= states^2 — O(model)
    )
    n_users = ev.select("user_id").distinct().count()
    fe_rows = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # <= states — O(model)
    )
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    P = {(r["event_type"], r["next_type"]): r["p"] for r in tp_rows}
    pi0 = {r["event_type"]: rnd(r["n"] / n_users, 12) for r in fe_rows}
    transients = sorted({f for f, _ in P} - set(RE_ABSORB))

    def conv_prob(removed: str | None) -> float:
        states = [s for s in transients if s != removed]
        vp = {s: 0.0 for s in states}
        for _ in range(RE_ITERS):
            vp = {
                s: rnd(
                    P.get((s, "purchase"), 0.0)
                    + sum(P.get((s, t), 0.0) * vp[t] for t in states),
                    12,
                )
                for s in states
            }
        return rnd(
            pi0.get("purchase", 0.0) + sum(pi0.get(s, 0.0) * vp[s] for s in states), 12
        )

    p_full = conv_prob(None)
    effects = {c: (p_full - conv_prob(c)) / p_full for c in RE_CHANNELS}
    total = sum(effects[c] for c in RE_CHANNELS)
    rows = [
        (c, rnd(p_full, 6), rnd(p_full * (1 - effects[c]), 6), rnd(effects[c], 6),
         rnd(effects[c] / total, 6))
        for c in RE_CHANNELS
    ]
    return spark.createDataFrame(
        rows,
        "channel string, p_convert_full double, p_convert_removed double,"
        " removal_effect double, attribution_share double",
    )


# ---------------------------------------------------------------------------
# q_ipw_ate — inverse-propensity-weighted treatment effect
# ---------------------------------------------------------------------------

IPW_TREAT_SEG = "BUILDING"  # the "treated" market segment


@query(
    "q_ipw_ate",
    oracle=f"""
    WITH base AS (
      SELECT c.c_nationkey AS nationkey,
             CASE WHEN c.c_mktsegment = '{IPW_TREAT_SEG}' THEN 1 ELSE 0 END AS tr,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    prop AS (
      SELECT nationkey,
             sum(tr) * 1.0 / count(*) AS e,
             count(*) AS n_cell
      FROM base GROUP BY nationkey
    ),
    w AS (
      SELECT b.tr, b.y,
             CASE WHEN b.tr = 1 THEN 1.0 / p.e ELSE 1.0 / (1.0 - p.e) END AS wt
      FROM base b JOIN prop p USING (nationkey)
    ),
    arms AS (
      SELECT tr, count(*) AS n,
             CAST(sum(CAST(round(wt * 1e9) AS HUGEINT)) AS DOUBLE) / 1e9 AS sw,
             CAST(sum(CAST(round(wt * y * 1e6) AS HUGEINT)) AS DOUBLE) / 1e6 AS swy,
             CAST(sum(CAST(round(y * 100) AS BIGINT)) AS DOUBLE) / 100 AS sy
      FROM w GROUP BY tr
    )
    SELECT CAST(t.n AS BIGINT) AS n_treated,
           CAST(c.n AS BIGINT) AS n_control,
           round(t.swy / t.sw - c.swy / c.sw, 4) AS ate_ipw,
           round(t.sy / t.n - c.sy / c.n, 4) AS naive_diff,
           round(t.sw / (t.n + c.n), 6) AS treated_ess_ratio
    FROM (SELECT * FROM arms WHERE tr = 1) t
    CROSS JOIN (SELECT * FROM arms WHERE tr = 0) c
    """,
    tags=("experimentation", "causal"),
)
def ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect of "customer
    is in the {seg} segment" on order value, with nation as the observed
    confounder: propensity e(nation) = treated share per nation (exact
    counts), stabilized Hajek weights 1/e and 1/(1-e), and the weighted
    arm-mean contrast next to the naive difference — the
    observational-causal counterpart of the randomized-experiment queries
    (q_cuped_adjustment, q_diff_in_diff). Segments are assigned
    independently of nation in this corpus, so IPW ~ naive here; the
    machinery (confounder-cell propensities, weight normalization,
    effective-sample-size diagnostic) is what is being verified.

    Scale: two map-side-combinable aggregates (propensity cells, weighted
    arms) around one equi-join on the confounder key; the propensity
    relation is O(|confounder|) and broadcasts. Weighted sums follow the
    house moment-sum posture, rounded at 4/6."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.col("c_nationkey").alias("nationkey"),
        F.when(F.col("c_mktsegment") == IPW_TREAT_SEG, 1).otherwise(0).alias("tr"),
        F.col("o_totalprice").alias("y"),
    )
    prop = base.groupBy("nationkey").agg(
        (F.sum("tr") * 1.0 / F.count(F.lit(1))).alias("e")
    )
    w = base.join(F.broadcast(prop), "nationkey").select(
        "tr",
        "y",
        F.when(F.col("tr") == 1, 1.0 / F.col("e")).otherwise(
            1.0 / (1.0 - F.col("e"))
        ).alias("wt"),
    )
    # integer-moments rule: the arm reductions snap each term to an exact
    # integer grain (wt at 1e-9, wt*y at 1e-6, y at cents) so the fact-
    # table-sized sums are order-exact on both engines
    arms = w.groupBy("tr").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("wt") * 1e9).cast("decimal(38,0)")).cast("double")
            / 1e9
        ).alias("sw"),
        (
            F.sum(
                F.round(F.col("wt") * F.col("y") * 1e6).cast("decimal(38,0)")
            ).cast("double")
            / 1e6
        ).alias("swy"),
        (
            F.sum(F.round(F.col("y") * 100).cast("long")).cast("double") / 100
        ).alias("sy"),
    )
    t = arms.filter(F.col("tr") == 1).select(
        F.col("n").alias("tn"), F.col("sw").alias("tsw"), F.col("swy").alias("tswy"), F.col("sy").alias("tsy")
    )
    c = arms.filter(F.col("tr") == 0).select(
        F.col("n").alias("cn"), F.col("sw").alias("csw"), F.col("swy").alias("cswy"), F.col("sy").alias("csy")
    )
    return t.crossJoin(F.broadcast(c)).select(
        F.col("tn").cast("long").alias("n_treated"),
        F.col("cn").cast("long").alias("n_control"),
        F.round(F.col("tswy") / F.col("tsw") - F.col("cswy") / F.col("csw"), 4).alias("ate_ipw"),
        F.round(F.col("tsy") / F.col("tn") - F.col("csy") / F.col("cn"), 4).alias("naive_diff"),
        F.round(F.col("tsw") / (F.col("tn") + F.col("cn")), 6).alias("treated_ess_ratio"),
    )


# ---------------------------------------------------------------------------
# q_iv_regression — two-stage least squares with weak-instrument diagnostic
# ---------------------------------------------------------------------------


@query(
    "q_iv_regression",
    oracle="""
    WITH f AS (
      SELECT l.l_extendedprice / 1000.0 AS y,
             l.l_quantity * 1.0 AS x,
             p.p_size * 1.0 AS z
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    mo AS (
      SELECT count(*) AS n, sum(x) AS sx,
             CAST(sum(CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE) / 1e5 AS sy,
             sum(z) AS sz,
             sum(z * x) AS szx,
             CAST(sum(CAST(z AS HUGEINT) * CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE)
               / 1e5 AS szy,
             sum(z * z) AS szz,
             sum(x * x) AS sxx
      FROM f
    ),
    c AS (
      SELECT n,
             szx / n - (sz / n) * (sx / n) AS c_zx,
             szy / n - (sz / n) * (sy / n) AS c_zy,
             szz / n - (sz / n) * (sz / n) AS c_zz,
             sxx / n - (sx / n) * (sx / n) AS c_xx
      FROM mo
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(c_zy / c_zx, 6) AS beta_iv,
           round(c_zx / c_zz, 6) AS first_stage_slope,
           round((n - 2.0) * (c_zx * c_zx / (c_zz * c_xx))
                 / (1.0 - c_zx * c_zx / (c_zz * c_xx)), 4) AS first_stage_f,
           (n - 2.0) * (c_zx * c_zx / (c_zz * c_xx))
             / (1.0 - c_zx * c_zx / (c_zz * c_xx)) < 10.0 AS weak_instrument
    FROM c
    """,
    tags=("experimentation", "causal", "econ"),
)
def iv_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables (2SLS, just-identified) estimate of the
    effect of line quantity on line revenue, instrumented by part size:
    beta_IV = cov(z, y)/cov(z, x), with the FIRST-STAGE F statistic and
    the F < 10 weak-instrument flag that decides whether beta_IV is
    usable at all — the Stock-Yogo discipline. (Part size and quantity
    are independent in this corpus, so the flag FIRES and the query's
    honest output is "this instrument is too weak to identify anything" —
    exactly what an IV pipeline must detect before reporting a number.)
    Completes the causal toolkit next to q_ipw_ate / q_aipw_ate /
    q_diff_in_diff: IV is the tool for UNOBSERVED confounding, where
    propensity methods cannot help.

    Scale: one fact-dim join + ONE map-side-combinable moment aggregate;
    beta and F are closed forms of the centered moments, rounded at
    6/4."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    f = li.join(F.broadcast(part.select("p_partkey", "p_size")), li.l_partkey == F.col("p_partkey")).select(
        (F.col("l_extendedprice") / 1000.0).alias("y"),
        (F.col("l_quantity") * 1.0).alias("x"),
        (F.col("p_size") * 1.0).alias("z"),
    )
    # integer-moments rule: x, z are integer-valued (exact double sums);
    # y = extendedprice/1000 is an exact 1e-5 multiple — snap its sums
    y5 = F.round(F.col("y") * 1e5).cast("long")
    mo = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        (F.sum(y5).cast("double") / 1e5).alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("x")).alias("szx"),
        (
            F.sum(F.col("z").cast("decimal(19,0)") * y5).cast("double") / 1e5
        ).alias("szy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    c_zx = F.col("szx") / n - (F.col("sz") / n) * (F.col("sx") / n)
    c_zy = F.col("szy") / n - (F.col("sz") / n) * (F.col("sy") / n)
    c_zz = F.col("szz") / n - (F.col("sz") / n) * (F.col("sz") / n)
    c_xx = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    r2 = c_zx * c_zx / (c_zz * c_xx)
    fstat = (n - 2.0) * r2 / (1.0 - r2)
    return mo.select(
        F.col("n").cast("long").alias("n"),
        F.round(c_zy / c_zx, 6).alias("beta_iv"),
        F.round(c_zx / c_zz, 6).alias("first_stage_slope"),
        F.round(fstat, 4).alias("first_stage_f"),
        (fstat < 10.0).alias("weak_instrument"),
    )


# ---------------------------------------------------------------------------
# q_regression_discontinuity — sharp RD at a value cutoff
# ---------------------------------------------------------------------------

RD_CUTOFF = 225000.0
RD_BANDWIDTH = 50000.0


sql_query(
    "q_regression_discontinuity",
    f"""
    WITH w AS (
      SELECT CASE WHEN o_totalprice >= {RD_CUTOFF} THEN 1 ELSE 0 END AS above,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_totalprice >= {RD_CUTOFF} - {RD_BANDWIDTH}
        AND o_totalprice < {RD_CUTOFF} + {RD_BANDWIDTH}
    ),
    s AS (
      SELECT sum(CASE WHEN above = 1 THEN y ELSE 0 END) AS y1,
             sum(CASE WHEN above = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN above = 0 THEN y ELSE 0 END) AS y0,
             sum(CASE WHEN above = 0 THEN 1 ELSE 0 END) AS n0
      FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_above,
           CAST(n0 AS BIGINT) AS n_below,
           round(y1 * 1e0 / n1, 6) AS rate_above,
           round(y0 * 1e0 / n0, 6) AS rate_below,
           round(y1 * 1e0 / n1 - y0 * 1e0 / n0, 6) AS rd_jump,
           round((y1 * 1e0 / n1 - y0 * 1e0 / n0)
                 / sqrt((y1 * 1e0 / n1) * (1 - y1 * 1e0 / n1) / n1
                        + (y0 * 1e0 / n0) * (1 - y0 * 1e0 / n0) / n0), 4) AS z_stat
    FROM s
    """,
    tags=("experimentation", "causal"),
    doc="""Sharp regression discontinuity at the {cut} order-value cutoff:
    compare the finished-order rate just above vs just below within a
    +-{bw} bandwidth — the local jump is the causal effect of crossing
    the threshold IF units can't precisely sort around it, the design
    behind every "discount kicks in at X" / "credit limit at Y" analysis.
    Reports the two local rates, the jump, and its two-proportion z.
    (No policy lives at this cutoff in TPC-H, so jump ~ 0 — the
    machinery, bandwidth discipline included, is the artifact.) With IV
    and IPW/AIPW/DiD this completes the applied-causal toolbox: RD is
    the tool when assignment is a known deterministic threshold.

    Scale: the bandwidth predicate pushes down to the scan; one integer
    contingency aggregate; closed forms rounded at 6/4.""",
)


# ---------------------------------------------------------------------------
# q_jackknife_ratio — delete-1 jackknife SE for the same ratio metric
# ---------------------------------------------------------------------------


@query(
    "q_jackknife_ratio",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS y_cents,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y_cents) AS BIGINT) AS ty,
             CAST(sum(x) AS BIGINT) AS tx
      FROM cust
    ),
    loo AS (
      SELECT (tot.ty - cust.y_cents) * 1.0 / ((tot.tx - cust.x) * 100.0) AS ri,
             tot.n, tot.ty, tot.tx
      FROM cust CROSS JOIN tot
    ),
    jk AS (
      SELECT max(n) AS n,
             max(ty) * 1.0 / (max(tx) * 100.0) AS r_full,
             round(CAST(sum(CAST(round(ri * 1e9) AS HUGEINT)) AS DOUBLE)
                   / count(*) / 1e9, 8) AS r_bar
      FROM loo
    ),
    se AS (
      SELECT jk.n, jk.r_full, jk.r_bar,
             sqrt((jk.n - 1.0) / jk.n
                  * (CAST(sum(CAST(round((loo.ri - jk.r_bar) * 1e9) AS HUGEINT)
                              * CAST(round((loo.ri - jk.r_bar) * 1e9) AS BIGINT))
                          AS DOUBLE) / 1e18)) AS se_jack
      FROM loo CROSS JOIN jk
      GROUP BY jk.n, jk.r_full, jk.r_bar
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(r_full, 6) AS revenue_per_order,
           round(n * r_full - (n - 1) * r_bar, 6) AS jackknife_estimate,
           round(se_jack, 6) AS se_jack
    FROM se
    """,
    tags=("stats", "experimentation", "analytics"),
)
def jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-1 jackknife for the revenue-per-order ratio at the
    customer grain: every leave-one-customer-out replicate Rᵢ =
    (Y−yᵢ)/(X−xᵢ) is a CLOSED FORM of the broadcast totals — so the
    "n refits" collapse into one distributed pass — giving the
    bias-corrected estimate n·R − (n−1)·R̄ and the jackknife standard
    error. The empirical companion to q_ratio_delta_method's analytic
    SE (they should approximately agree; divergence flags influential
    units) and to q_poisson_bootstrap's resampling (jackknife is
    deterministic — no seed in sight).

    Scale: one customer-grain aggregate, a broadcast 1-row totals
    relation, one replicate pass, one moment pass. Totals are exact
    integer cents/counts, so every replicate is a division of exact
    integers; R̄ rounds at 8 before the deviation pass; rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("y_cents"),
        F.count(F.lit(1)).cast("long").alias("x"),
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y_cents").cast("long").alias("ty"),
        F.sum("x").cast("long").alias("tx"),
    )
    loo = cust.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("ty") - F.col("y_cents"))
            * 1.0
            / ((F.col("tx") - F.col("x")) * 100.0)
        ).alias("ri"),
        "n",
        "ty",
        "tx",
    )
    # integer-moments rule: the replicate mean / deviation sums snap at a
    # 1e-9 grain (every ri is an identical exact-integer ratio)
    jk = loo.agg(
        F.max("n").alias("n"),
        (F.max("ty") * 1.0 / (F.max("tx") * 100.0)).alias("r_full"),
        F.round(
            F.sum(F.round(F.col("ri") * 1e9).cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / 1e9,
            8,
        ).alias("r_bar"),
    )
    loo = loo.select("ri")
    d9 = F.round((F.col("ri") - F.col("r_bar")) * 1e9).cast("long")
    se = (
        loo.crossJoin(F.broadcast(jk))
        .groupBy("n", "r_full", "r_bar")
        .agg(
            F.sqrt(
                (F.col("n") - 1.0)
                / F.col("n")
                * (F.sum(d9.cast("decimal(19,0)") * d9).cast("double") / 1e18)
            ).alias("se_jack")
        )
    )
    return se.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("r_full"), 6).alias("revenue_per_order"),
        F.round(
            F.col("n") * F.col("r_full") - (F.col("n") - 1) * F.col("r_bar"), 6
        ).alias("jackknife_estimate"),
        F.round(F.col("se_jack"), 6).alias("se_jack"),
    )


# ---------------------------------------------------------------------------
# q_tost_equivalence — two one-sided tests: prove SAMENESS, not difference
# ---------------------------------------------------------------------------

TOST_SEG_A = "BUILDING"
TOST_SEG_B = "MACHINERY"
TOST_MARGIN_FRAC = 0.05  # equivalence margin: ±5% of the pooled mean
TOST_Z_90 = 1.644854  # one-sided 5% normal


@query(
    "q_tost_equivalence",
    oracle=f"""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_totalprice / 1000.0 AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('{TOST_SEG_A}', '{TOST_SEG_B}')
    ),
    g AS (
      SELECT seg, count(*) AS n,
             CAST(sum(CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE) / count(*) / 1e5
               AS m,
             (CAST(sum(CAST(round(y * 1e5) AS HUGEINT)
                       * CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE) / 1e10
              - count(*) * (CAST(sum(CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE)
                            / count(*) / 1e5)
                         * (CAST(sum(CAST(round(y * 1e5) AS BIGINT)) AS DOUBLE)
                            / count(*) / 1e5))
               / (count(*) - 1) AS s2
      FROM obs GROUP BY seg
    ),
    w AS (
      SELECT
        max(CASE WHEN seg = '{TOST_SEG_A}' THEN n END) AS n1,
        max(CASE WHEN seg = '{TOST_SEG_A}' THEN m END) AS m1,
        max(CASE WHEN seg = '{TOST_SEG_A}' THEN s2 END) AS s21,
        max(CASE WHEN seg = '{TOST_SEG_B}' THEN n END) AS n2,
        max(CASE WHEN seg = '{TOST_SEG_B}' THEN m END) AS m2,
        max(CASE WHEN seg = '{TOST_SEG_B}' THEN s2 END) AS s22
      FROM g
    ),
    t AS (
      SELECT n1, n2, m1 - m2 AS d,
             sqrt(s21 / n1 + s22 / n2) AS se,
             {TOST_MARGIN_FRAC} * (n1 * m1 + n2 * m2) / (n1 + n2) AS delta
      FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           round(d, 6) AS mean_diff,
           round(delta, 6) AS margin,
           round((d + delta) / se, 6) AS t_lower,
           round((delta - d) / se, 6) AS t_upper,
           least((d + delta) / se, (delta - d) / se) > {TOST_Z_90} AS equivalent
    FROM t
    """,
    tags=("stats", "experimentation"),
)
def tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test between the BUILDING and MACHINERY
    segments' mean order values: two one-sided z-tests against the ±5%-
    of-pooled-mean margin — `equivalent` is TRUE only when BOTH
    one-sided statistics clear 1.645, i.e. the data actively RULES OUT
    a difference larger than the margin. The inference mode every A/A
    test, parity migration, and "no regression" claim actually needs:
    q_welch_ttest failing to reject proves nothing; TOST proves
    sameness.

    Scale: one pushed-down two-segment scan, per-group moments, closed
    forms — the q_welch_ttest shape with the margin arithmetic on top.
    Rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    obs = (
        orders.join(
            F.broadcast(
                cust.select("c_custkey", "c_mktsegment").filter(
                    F.col("c_mktsegment").isin(TOST_SEG_A, TOST_SEG_B)
                )
            ),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(F.col("c_mktsegment").alias("seg"), (F.col("o_totalprice") / 1000.0).alias("y"))
    )
    # integer-moments rule: y = totalprice/1000 is an exact 1e-5 multiple
    y5 = F.round(F.col("y") * 1e5).cast("long")
    mean_y = F.sum(y5).cast("double") / F.count(F.lit(1)) / 1e5
    g = obs.groupBy("seg").agg(
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
    w = g.agg(
        F.max(F.when(F.col("seg") == TOST_SEG_A, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("seg") == TOST_SEG_A, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("seg") == TOST_SEG_A, F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("seg") == TOST_SEG_B, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("seg") == TOST_SEG_B, F.col("m"))).alias("m2"),
        F.max(F.when(F.col("seg") == TOST_SEG_B, F.col("s2"))).alias("s22"),
    )
    t = w.select(
        "n1",
        "n2",
        (F.col("m1") - F.col("m2")).alias("d"),
        F.sqrt(F.col("s21") / F.col("n1") + F.col("s22") / F.col("n2")).alias("se"),
        (
            TOST_MARGIN_FRAC
            * (F.col("n1") * F.col("m1") + F.col("n2") * F.col("m2"))
            / (F.col("n1") + F.col("n2"))
        ).alias("delta"),
    )
    tl = (F.col("d") + F.col("delta")) / F.col("se")
    tu = (F.col("delta") - F.col("d")) / F.col("se")
    return t.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.round(F.col("d"), 6).alias("mean_diff"),
        F.round(F.col("delta"), 6).alias("margin"),
        F.round(tl, 6).alias("t_lower"),
        F.round(tu, 6).alias("t_upper"),
        (F.least(tl, tu) > TOST_Z_90).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# q_beta_binomial_ab — Bayesian conversion posteriors per region
# ---------------------------------------------------------------------------


sql_query(
    "q_beta_binomial_ab",
    f"""
    WITH obs AS (
      SELECT r.r_name AS region,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS conv
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    g AS (
      SELECT region, count(*) AS n, sum(conv) AS s FROM obs GROUP BY region
    ),
    pool AS (
      SELECT sum(n) AS n, sum(s) AS s FROM g
    ),
    post AS (
      SELECT g.region, g.n, g.s,
             (1e0 + g.s) / (2e0 + g.n) AS mu,
             (1e0 + g.s) * (1e0 + g.n - g.s)
               / ((2e0 + g.n) * (2e0 + g.n) * (3e0 + g.n)) AS var_r,
             (1e0 + pool.s) / (2e0 + pool.n) AS mu_p,
             (1e0 + pool.s) * (1e0 + pool.n - pool.s)
               / ((2e0 + pool.n) * (2e0 + pool.n) * (3e0 + pool.n)) AS var_p
      FROM g CROSS JOIN pool
    ),
    z AS (
      SELECT region, n, s, mu, var_r, mu_p,
             (mu - mu_p) / sqrt(var_r + var_p) AS zst
      FROM post
    )
    SELECT region,
           CAST(n AS BIGINT) AS n_orders,
           CAST(s AS BIGINT) AS n_conv,
           round(mu, 6) AS post_mean,
           round(sqrt(var_r), 6) AS post_sd,
           round({_norm_cdf_sql('zst')}, 6) AS p_beats_pooled
    FROM z ORDER BY region
    """,
    tags=("stats", "experimentation", "analytics"),
    doc="""Bayesian conversion analysis per region under a Beta(1,1) prior:
    exact posterior mean (1+s)/(2+n) and variance for each region's
    urgent-order rate, and the probability the region beats the pooled
    rate via the normal approximation to the difference of Beta
    posteriors through the shared A&S CDF — the decision-ready Bayesian
    reading (P(better) is directly actionable) beside the frequentist
    battery (q_two_proportion_ztest answers a different question with a
    p-value).

    Scale: one dim-chain aggregate to 5 (n, s) integer pairs + a
    broadcast pooled row; posterior moments are closed forms of exact
    integers, rounded at 6.""",
)
