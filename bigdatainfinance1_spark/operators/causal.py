"""Causal-effect estimation beyond randomized experiments (round 4):
instrumental variables (Wald / two-stage least squares with the
Staiger-Stock weak-instrument diagnostic) and the Simpson's-paradox
aggregation-reversal audit. Sits beside
experimentation.py's design-based estimators (CUPED, diff-in-diff,
IPW/AIPW, regression discontinuity): those need an assignment mechanism;
the IV layer is what's left when treatment is endogenous and all you
have is an upstream shifter.

Determinism: every estimator reduces the fact scan to exact-integer
moment sums (cents / binary indicators; decimal(38,0) where squares can
pass 2^63), then composes them through identical double expressions on
both engines, rounding outputs at 6 — the econometrics.py posture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_iv_wald_2sls — instrumental-variable estimate with a binary instrument
# ---------------------------------------------------------------------------

IV_WEAK_F = 10.0  # Staiger-Stock rule of thumb: first-stage F < 10 => weak

_IV_SQL = f"""
    WITH pmed AS (
      SELECT CAST(round(2 * median(CAST(round(p_retailprice * 100) AS BIGINT)))
                  AS BIGINT) AS m2
      FROM part
    ),
    obs AS (
      SELECT r.r_name AS rg,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS x,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS y,
             CASE WHEN 2 * CAST(round(p.p_retailprice * 100) AS BIGINT)
                       > pmed.m2 THEN 1 ELSE 0 END AS z
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      JOIN part p ON l.l_partkey = p.p_partkey
      CROSS JOIN pmed
    ),
    mom AS (
      SELECT rg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(z) AS BIGINT) AS sz,
             CAST(CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(sum(y) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0))
                  AS DOUBLE) AS sxx,
             CAST(CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))
                  AS DOUBLE) AS sxy,
             CAST(CAST(sum(CASE WHEN z = 1 THEN x ELSE 0 END) AS DECIMAL(38,0))
                  AS DOUBLE) AS szx,
             CAST(CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS DECIMAL(38,0))
                  AS DOUBLE) AS szy
      FROM obs GROUP BY rg
    ),
    est AS (
      SELECT rg, n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta_ols,
             (n * szy - sz * sy) / (n * szx - sz * sx) AS beta_iv,
             (n * szx - sz * sx) * (n * szx - sz * sx)
               / ((sz * 1e0 * (n - sz)) * (n * sxx - sx * sx)) AS r2_fs
      FROM mom
    )
    SELECT rg, n,
           round(beta_ols, 6) AS beta_ols,
           round(beta_iv, 6) AS beta_iv,
           round((n - 2) * r2_fs / (1 - r2_fs), 2) AS first_stage_f,
           round((n - 2) * r2_fs / (1 - r2_fs), 2) < {IV_WEAK_F}
             AS weak_instrument
    FROM est ORDER BY rg
"""


sql_query(
    "q_iv_wald_2sls", _IV_SQL, tags=("stats", "analytics", "finance"),
    doc="""Instrumental-variable estimate of net-revenue response to list
    value per customer region, instrumented by a binary cost shifter.
    OLS of y (discounted revenue) on x (list value) is confounded
    wherever the discount decision responds to x; the part's base retail
    price is set upstream of any per-order discounting, so z = (part
    retail price above the corpus median) shifts x without entering y
    except through x. With one binary instrument, 2SLS collapses to the
    Wald estimator beta_iv = cov(z,y)/cov(z,x) = (E[y|z=1]-E[y|z=0]) /
    (E[x|z=1]-E[x|z=0]); the first-stage F = (n-2) r^2/(1-r^2) on
    corr(z,x), with the Staiger-Stock rule flagging F < {IV_WEAK_F} as a
    weak instrument (the regime where IV bias exceeds OLS bias).

    Determinism: x, y are exact integer cents; z is exact (2*retail
    cents vs 2*median — both engines interpolate even medians to .5
    granularity, so m2 is an exact integer); all moments are exact
    integer sums (decimal(38,0) where x*x can pass 2^63 at larger SFs —
    DuckDB's BIGINT sums widen to HUGEINT on their own, Spark is told
    to), converted ONCE to double and composed through the identical
    expression, rounded at 6/2. The weak flag compares the ROUNDED F.

    Scale: one fact-fact shuffle (lineitem x orders on orderkey); every
    dimension including part rides broadcast; the median is one
    O(|part|) aggregate reduced to a 1-row broadcast scalar; everything
    after mom is O(regions).""",
)


# ---------------------------------------------------------------------------
# q_simpsons_paradox — aggregation-reversal audit (confounder decomposition)
# ---------------------------------------------------------------------------

SIMPSON_EPS = 0.0001  # slope magnitude floor: |slope| below this is "flat",
# and flat-vs-flat sign flips are noise, not a reversal


def _simpson_sql() -> str:
    return f"""
    WITH obs AS (
      SELECT p.p_brand AS market, r.r_name AS rg,
             CAST(round(l.l_discount * 100) AS BIGINT) AS x,
             CAST(l.l_quantity AS BIGINT) AS y
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    g AS (
      SELECT market, rg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM obs GROUP BY market, rg
    ),
    brand AS (
      SELECT market,
             CAST(sum(n) AS BIGINT) AS n,
             (CAST(sum(n) AS DOUBLE) * sum(sxy) - CAST(sum(sx) AS DOUBLE) * sum(sy))
               / (CAST(sum(n) AS DOUBLE) * sum(sxx)
                  - CAST(sum(sx) AS DOUBLE) * sum(sx)) AS so,
             sum(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
               / sum(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS sw
      FROM g GROUP BY market
    ),
    rounded AS (
      SELECT market, n, round(so, 6) AS slope_overall, round(sw, 6) AS slope_within
      FROM brand
    )
    SELECT market, n, slope_overall, slope_within,
           round(slope_overall - slope_within, 6) AS confounding_gap,
           abs(slope_overall) > {SIMPSON_EPS} AND abs(slope_within) > {SIMPSON_EPS}
             AND sign(slope_overall) <> sign(slope_within) AS reversal
    FROM rounded ORDER BY market
    """


sql_query(
    "q_simpsons_paradox", _simpson_sql(), tags=("stats", "analytics"),
    doc="""Aggregation-reversal (Simpson's paradox) audit per brand market:
    the discount->quantity slope computed on POOLED data vs the
    stratum-pooled within-region slope (sum of within-region
    cross-moments over sum of within-region x-variation — the
    fixed-effects estimator q_panel_within_estimator uses at panel
    grain). A sign flip between the two means the region mix, not the
    discount, drives the pooled association — the audit every
    observational readout should pass before q_iv_wald_2sls-grade
    machinery is even considered. Flat slopes (|b| <= {SIMPSON_EPS})
    are excluded from flagging: sign(noise) vs sign(noise) is not a
    reversal.

    Determinism: x (discount points) and y (quantity) are small exact
    integers, so every group moment is an exact BIGINT; the two slopes
    combine them in identical double expressions (the within sum runs
    over 5 region terms — reorder noise ~1e-13, rounded at 6, the
    q_kruskal_wallis posture), and the reversal flag reads only ROUNDED
    slopes. Scale: one lineitem-orders shuffle (part/customer/nation/
    region broadcast); everything after g is O(markets x regions).""",
)


# ---------------------------------------------------------------------------
# q_placebo_did — randomization inference for a unit-level DiD
# ---------------------------------------------------------------------------

PLACEBO_TREATED = "NATION_7"  # the designated pseudo-treated unit
PLACEBO_POST_YEAR = 1998  # post-period starts here

_PLACEBO_SQL = f"""
    WITH cells AS (
      SELECT n.n_name AS unit,
             CASE WHEN year(o.o_orderdate) >= {PLACEBO_POST_YEAR}
                  THEN 'post' ELSE 'pre' END AS period,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY unit, period
    ),
    tot AS (
      SELECT period, CAST(sum(cents) AS BIGINT) AS cents,
             CAST(sum(n) AS BIGINT) AS n
      FROM cells GROUP BY period
    ),
    unit_did AS (
      SELECT u.unit,
             round(
               ((up.cents * 1e0 / up.n) - (ur.cents * 1e0 / ur.n))
               - (((tp.cents - up.cents) * 1e0 / (tp.n - up.n))
                  - ((tr.cents - ur.cents) * 1e0 / (tr.n - ur.n))), 4) / 100 AS did
      FROM (SELECT DISTINCT unit FROM cells) u
      JOIN cells up ON up.unit = u.unit AND up.period = 'post'
      JOIN cells ur ON ur.unit = u.unit AND ur.period = 'pre'
      CROSS JOIN (SELECT * FROM tot WHERE period = 'post') tp
      CROSS JOIN (SELECT * FROM tot WHERE period = 'pre') tr
    ),
    ranked AS (
      SELECT unit, round(did, 6) AS did,
             row_number() OVER (ORDER BY abs(did) DESC, unit) AS extremeness_rank,
             CAST(count(*) OVER () AS BIGINT) AS n_units
      FROM unit_did
    )
    SELECT unit, did, CAST(extremeness_rank AS BIGINT) AS extremeness_rank,
           unit = '{PLACEBO_TREATED}' AS is_designated,
           round((SELECT extremeness_rank FROM ranked
                  WHERE unit = '{PLACEBO_TREATED}') * 1e0 / n_units, 6)
             AS placebo_p_value
    FROM ranked ORDER BY extremeness_rank, unit
"""


@query("q_placebo_did", oracle=_PLACEBO_SQL, tags=("stats", "analytics"))
def placebo_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization inference for a unit-level DiD (Abadie et al.'s
    placebo test, the standard companion to q_synthetic_control and
    q_diff_in_diff): compute the leave-one-out DiD — (unit post - pre)
    minus (all-other-units post - pre) — for EVERY nation as if IT were
    treated, then judge the designated unit ({PLACEBO_TREATED},
    post >= {PLACEBO_POST_YEAR}) by where its |effect| ranks among the
    25 placebo effects. placebo_p = rank/N is the exact randomization
    p-value — the inference that survives when parallel-trends standard
    errors cannot be trusted. On this null corpus the designated unit
    should rank unremarkably: the A/A posture q_diff_in_diff documents.

    Determinism: all cell means are ratios of exact BIGINT cents/counts
    (leave-one-out via subtraction from pooled totals — one pass, no
    per-unit re-scan); effects round at 4 cents-digits then 6; the rank
    orders by (|did| DESC, unit). Scale: one fact shuffle to O(units x
    2) cells; O(units) after."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cells = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("unit"),
            F.when(F.year("o_orderdate") >= PLACEBO_POST_YEAR, "post")
            .otherwise("pre")
            .alias("period"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .localCheckpoint()  # O(units x 2)
    )
    tot = cells.groupBy("period").agg(
        F.sum("cents").cast("long").alias("tc"), F.sum("n").cast("long").alias("tn")
    )
    post = cells.filter(F.col("period") == "post").selectExpr(
        "unit", "cents AS pc", "n AS pn"
    )
    pre = cells.filter(F.col("period") == "pre").selectExpr(
        "unit", "cents AS rc", "n AS rn"
    )
    tp = tot.filter(F.col("period") == "post").selectExpr("tc AS tpc", "tn AS tpn")
    tr = tot.filter(F.col("period") == "pre").selectExpr("tc AS trc", "tn AS trn")
    did = (
        post.join(pre, "unit")
        .crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(tr))
        .select(
            "unit",
            (
                F.round(
                    (F.col("pc") * F.lit(1.0) / F.col("pn")
                     - F.col("rc") * F.lit(1.0) / F.col("rn"))
                    - (
                        (F.col("tpc") - F.col("pc"))
                        * F.lit(1.0)
                        / (F.col("tpn") - F.col("pn"))
                        - (F.col("trc") - F.col("rc"))
                        * F.lit(1.0)
                        / (F.col("trn") - F.col("rn"))
                    ),
                    4,
                )
                / 100
            ).alias("did0"),
        )
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.abs(F.col("did0")).desc(), "unit")
    wall = Window.partitionBy(F.lit(1))
    ranked = did.select(
        "unit",
        F.round("did0", 6).alias("did"),
        F.row_number().over(w).cast("long").alias("extremeness_rank"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_units"),
    )
    des = ranked.filter(F.col("unit") == PLACEBO_TREATED).select(
        (F.col("extremeness_rank") * F.lit(1.0) / F.col("n_units")).alias("p0")
    )
    return (
        ranked.crossJoin(F.broadcast(des))
        .select(
            "unit",
            "did",
            "extremeness_rank",
            (F.col("unit") == PLACEBO_TREATED).alias("is_designated"),
            F.round("p0", 6).alias("placebo_p_value"),
        )
        .orderBy("extremeness_rank", "unit")
    )
