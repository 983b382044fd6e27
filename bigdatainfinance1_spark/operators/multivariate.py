"""Multivariate statistics and classical model fitting over the
per-customer feature plane (spend, order count): closed-form 2-D PCA,
Mahalanobis outlier distances, the two-sample Hotelling T-squared test,
Fisher linear discriminant classification, and a 4-step IRLS logistic
regression over the bucketed order-value histogram — the "fit a small
model exactly, distributed" layer that complements the per-feature
univariate batteries (q_ols_two_factor, q_moments_skew_kurt).

Scale posture shared by every query here: ONE map-side-combinable
aggregate reduces the fact scan to per-customer (or per-bucket) integer
features — spend is exact kilodollars (sum of exact cents, re-rounded),
count is exact — and all raw moments are exact BIGINTs (kilodollar
granularity keeps sum(x^2) < 2^63 even at 10x replication, the
q_vif overflow lesson); centering, eigen/inverse closed forms, and the
IRLS steps are O(1) or O(buckets) double arithmetic with the identical
expression shape on both engines (the q_ols_two_factor posture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

CHI2_2_95 = 5.991465  # chi2(2) 95% critical value
CHI2_2_975 = 7.377759  # chi2(2) 97.5% critical value (outlier flag)

# Shared feature relation: per-customer (spend kilodollars, order count),
# both exact integers. Cents sum first (exact), then one deterministic
# re-round to k$ — positive values, so DuckDB half-away and Spark half-up
# agree on the .5 boundary.
_CUST_SQL = """
    cust AS (
      SELECT o_custkey,
             CAST(round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100000.0)
                  AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    )
"""

_MOM_SQL = """
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,  CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM cust
    ),
    cv AS (
      SELECT n,
             sx * 1e0 / n AS mx, sy * 1e0 / n AS my,
             (n * 1e0 * sxx - sx * 1e0 * sx) / (n * 1e0 * (n - 1)) AS cxx,
             (n * 1e0 * syy - sy * 1e0 * sy) / (n * 1e0 * (n - 1)) AS cyy,
             (n * 1e0 * sxy - sx * 1e0 * sy) / (n * 1e0 * (n - 1)) AS cxy
      FROM m
    )
"""


def _cust_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100000.0
        )
        .cast("long")
        .alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    )


# ---------------------------------------------------------------------------
# q_pca_2d — closed-form principal components of (spend, order count)
# ---------------------------------------------------------------------------


sql_query(
    "q_pca_2d",
    f"""
    WITH {_CUST_SQL}, {_MOM_SQL},
    eig AS (
      SELECT n, cxx, cyy, cxy,
             (cxx + cyy) / 2 + sqrt((cxx - cyy) * (cxx - cyy) / 4 + cxy * cxy)
               AS l1,
             (cxx + cyy) / 2 - sqrt((cxx - cyy) * (cxx - cyy) / 4 + cxy * cxy)
               AS l2
      FROM cv
    )
    SELECT n AS n_customers,
           round(cxx, 6) AS var_spend, round(cyy, 6) AS var_orders,
           round(cxy, 6) AS cov_xy,
           round(l1, 6) AS lambda1, round(l2, 6) AS lambda2,
           round(l1 / (l1 + l2), 6) AS explained_ratio_1,
           round((l1 - cyy) / sqrt((l1 - cyy) * (l1 - cyy) + cxy * cxy), 6)
             AS loading_spend,
           round(cxy / sqrt((l1 - cyy) * (l1 - cyy) + cxy * cxy), 6)
             AS loading_orders
    FROM eig
    """,
    tags=("ml", "stats", "multivariate"),
    doc="""Principal component analysis of the 2-D customer feature plane
    (total spend in k$, order count) by the closed-form eigendecomposition
    of the 2x2 sample covariance: lambda = tr/2 +- sqrt((d/2)^2 + c^2),
    first-axis loadings from the (l1 - cyy, cxy) eigenvector — the exact
    answer the iterative SVD would converge to, with zero iterations and
    zero collects.

    Determinism: all raw moments are exact BIGINTs; the covariance,
    eigenvalues, and loadings are one closed-form double expression of
    those integers on both engines, rounded at 6. Scale: one map-side
    aggregate to customers, one to the 6 moments — nothing else moves.""",
)


# ---------------------------------------------------------------------------
# q_mahalanobis_outliers — covariance-aware distance screen
# ---------------------------------------------------------------------------


sql_query(
    "q_mahalanobis_outliers",
    f"""
    WITH {_CUST_SQL}, {_MOM_SQL},
    d AS (
      SELECT c.o_custkey, c.x, c.y,
             ((c.x - v.mx) * (v.cyy * (c.x - v.mx) - v.cxy * (c.y - v.my))
              + (c.y - v.my) * (v.cxx * (c.y - v.my) - v.cxy * (c.x - v.mx)))
             / (v.cxx * v.cyy - v.cxy * v.cxy) AS d2
      FROM cust c CROSS JOIN cv v
    )
    SELECT o_custkey, x AS spend_k, y AS n_orders,
           round(d2, 4) AS mahalanobis_d2,
           round(d2, 4) > {CHI2_2_975} AS beyond_975
    FROM d
    ORDER BY round(d2, 6) DESC, o_custkey LIMIT 10
    """,
    tags=("ml", "stats", "multivariate", "quality"),
    doc="""Top-10 multivariate outliers by Mahalanobis distance on the
    (spend, order count) plane — the covariance-aware upgrade of the
    per-feature z-score screens (q_iqr_outliers, q_mad_outliers): a
    customer can be unremarkable on each axis yet far off the joint
    ellipse (many tiny orders, or one giant one). d^2 uses the closed-form
    2x2 inverse; the chi2(2) 97.5% flag marks the conventional cut.

    Determinism: features and moments are exact integers; d^2 is one
    closed-form double per customer (identical expression both engines),
    ranked on round(d2, 6) with custkey as total-order tiebreak. Scale:
    one aggregate to customers, the 1-row moment relation broadcast back
    over them (O(n) map work), TakeOrdered top-10 — no shuffle beyond the
    customer aggregate.""",
)


# ---------------------------------------------------------------------------
# q_hotelling_t2 — two-sample multivariate mean test
# ---------------------------------------------------------------------------

_SEG_A = "BUILDING"
_SEG_B = "AUTOMOBILE"

_SEG_MOM_SQL = f"""
    seg AS (
      SELECT cu.c_mktsegment AS g, c.x, c.y
      FROM cust c JOIN customer cu ON c.o_custkey = cu.c_custkey
      WHERE cu.c_mktsegment IN ('{_SEG_A}', '{_SEG_B}')
    ),
    gm AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,  CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM seg GROUP BY g
    ),
    ab AS (
      SELECT
        max(CASE WHEN g = '{_SEG_A}' THEN n END) AS n1,
        max(CASE WHEN g = '{_SEG_A}' THEN sx END) AS sx1,
        max(CASE WHEN g = '{_SEG_A}' THEN sy END) AS sy1,
        max(CASE WHEN g = '{_SEG_A}' THEN sxx END) AS sxx1,
        max(CASE WHEN g = '{_SEG_A}' THEN syy END) AS syy1,
        max(CASE WHEN g = '{_SEG_A}' THEN sxy END) AS sxy1,
        max(CASE WHEN g = '{_SEG_B}' THEN n END) AS n2,
        max(CASE WHEN g = '{_SEG_B}' THEN sx END) AS sx2,
        max(CASE WHEN g = '{_SEG_B}' THEN sy END) AS sy2,
        max(CASE WHEN g = '{_SEG_B}' THEN sxx END) AS sxx2,
        max(CASE WHEN g = '{_SEG_B}' THEN syy END) AS syy2,
        max(CASE WHEN g = '{_SEG_B}' THEN sxy END) AS sxy2
      FROM gm
    ),
    pool AS (
      SELECT n1, n2,
             sx1 * 1e0 / n1 - sx2 * 1e0 / n2 AS dx,
             sy1 * 1e0 / n1 - sy2 * 1e0 / n2 AS dy,
             ((sxx1 - sx1 * 1e0 * sx1 / n1) + (sxx2 - sx2 * 1e0 * sx2 / n2))
               / (n1 + n2 - 2) AS pxx,
             ((syy1 - sy1 * 1e0 * sy1 / n1) + (syy2 - sy2 * 1e0 * sy2 / n2))
               / (n1 + n2 - 2) AS pyy,
             ((sxy1 - sx1 * 1e0 * sy1 / n1) + (sxy2 - sx2 * 1e0 * sy2 / n2))
               / (n1 + n2 - 2) AS pxy
      FROM ab
    )
"""


sql_query(
    "q_hotelling_t2",
    f"""
    WITH {_CUST_SQL}, {_SEG_MOM_SQL},
    t AS (
      SELECT n1, n2, dx, dy, pxx, pyy, pxy,
             (n1 * 1e0 * n2 / (n1 + n2))
             * (dx * (pyy * dx - pxy * dy) + dy * (pxx * dy - pxy * dx))
             / (pxx * pyy - pxy * pxy) AS t2
      FROM pool
    )
    SELECT n1 AS n_{_SEG_A.lower()}, n2 AS n_{_SEG_B.lower()},
           round(dx, 6) AS diff_spend_k, round(dy, 6) AS diff_orders,
           round(pxx, 6) AS pooled_var_spend, round(pyy, 6) AS pooled_var_orders,
           round(pxy, 6) AS pooled_cov,
           round(t2, 6) AS t2_stat,
           round(t2, 6) > {CHI2_2_95} AS reject_95
    FROM t
    """,
    tags=("ml", "stats", "multivariate", "experimentation"),
    doc="""Two-sample Hotelling T-squared: do BUILDING and AUTOMOBILE
    customers differ in JOINT (spend, order count) mean? The multivariate
    extension of q_welch_ttest — two features tested at once with their
    correlation accounted for, so two individually-insignificant shifts
    in a correlated direction still register. Pooled within-group
    covariance, closed-form 2x2 inverse, chi2(2) large-sample cut.

    Determinism: per-group raw moments are exact BIGINTs; the pooled
    entries, mean gap, and T^2 are one closed-form double expression both
    engines share, rounded at 6. Scale: customer aggregate -> broadcast
    dim join -> one 2-group aggregate pivoted to a single row; everything
    past the scans is O(1).""",
)


# ---------------------------------------------------------------------------
# q_fisher_lda — linear discriminant on the same two groups
# ---------------------------------------------------------------------------


@query(
    "q_fisher_lda",
    oracle=f"""
    WITH {_CUST_SQL}, {_SEG_MOM_SQL},
    w AS (
      SELECT pool.n1, pool.n2,
             (pyy * dx - pxy * dy) / (pxx * pyy - pxy * pxy) AS wx,
             (pxx * dy - pxy * dx) / (pxx * pyy - pxy * pxy) AS wy,
             ab.sx1 * 1e0 / pool.n1 AS mx1, ab.sy1 * 1e0 / pool.n1 AS my1,
             ab.sx2 * 1e0 / pool.n2 AS mx2, ab.sy2 * 1e0 / pool.n2 AS my2
      FROM pool JOIN ab ON true
    ),
    sc AS (
      SELECT s.g, s.x, s.y, w.wx, w.wy, w.n1, w.n2,
             w.wx * s.x + w.wy * s.y AS score,
             w.wx * (w.mx1 + w.mx2) / 2 + w.wy * (w.my1 + w.my2) / 2 AS cut
      FROM seg s CROSS JOIN w
    ),
    acc AS (
      SELECT min(n1) AS n1, min(n2) AS n2, min(wx) AS wx, min(wy) AS wy,
             min(cut) AS cut,
             CAST(sum(CASE WHEN g = '{_SEG_A}' AND score > cut THEN 1 ELSE 0 END)
                  AS BIGINT) AS a_right,
             CAST(sum(CASE WHEN g = '{_SEG_B}' AND score <= cut THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_right
      FROM sc
    )
    SELECT n1 AS n_{_SEG_A.lower()}, n2 AS n_{_SEG_B.lower()},
           round(wx, 8) AS w_spend, round(wy, 8) AS w_orders,
           round(cut, 6) AS cutoff,
           a_right AS n_correct_{_SEG_A.lower()},
           b_right AS n_correct_{_SEG_B.lower()},
           round((a_right + b_right) * 1e0 / (n1 + n2), 6) AS train_accuracy
    FROM acc
    """,
    tags=("ml", "model", "multivariate"),
)
def fisher_lda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's linear discriminant between BUILDING and AUTOMOBILE on the
    (spend, order count) plane: w = S_w^-1 (mu1 - mu2) via the closed-form
    2x2 inverse of the pooled within-class covariance (the q_hotelling_t2
    machinery — the T^2 test and the LDA direction share their sufficient
    statistics), scored back over every customer against the midpoint
    cutoff w'(mu1+mu2)/2 — a real train-and-evaluate classification pass
    with no iteration and no per-row model state.

    Determinism: w, the cutoff, and every score are closed-form doubles
    of exact integer moments (identical expression both engines); the
    decision compares identical doubles, so the confusion counts are
    exact integers. Scale: the broadcast 1-row model relation rides over
    the customer features map-side; one final count aggregate."""
    feat = _cust_features(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = feat.join(
        F.broadcast(cust), feat["o_custkey"] == cust["c_custkey"]
    ).filter(F.col("c_mktsegment").isin(_SEG_A, _SEG_B)).select(
        F.col("c_mktsegment").alias("g"), "x", "y"
    )
    gm = seg.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )

    def pick(col: str, seg_name: str):
        return F.max(F.when(F.col("g") == seg_name, F.col(col)))

    ab = gm.agg(
        *[pick(c, _SEG_A).alias(c + "1") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")],
        *[pick(c, _SEG_B).alias(c + "2") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")],
    )
    n1, n2 = F.col("n1"), F.col("n2")
    dx = F.col("sx1") * 1.0 / n1 - F.col("sx2") * 1.0 / n2
    dy = F.col("sy1") * 1.0 / n1 - F.col("sy2") * 1.0 / n2
    denom = n1 + n2 - 2
    pxx = (
        (F.col("sxx1") - F.col("sx1") * 1.0 * F.col("sx1") / n1)
        + (F.col("sxx2") - F.col("sx2") * 1.0 * F.col("sx2") / n2)
    ) / denom
    pyy = (
        (F.col("syy1") - F.col("sy1") * 1.0 * F.col("sy1") / n1)
        + (F.col("syy2") - F.col("sy2") * 1.0 * F.col("sy2") / n2)
    ) / denom
    pxy = (
        (F.col("sxy1") - F.col("sx1") * 1.0 * F.col("sy1") / n1)
        + (F.col("sxy2") - F.col("sx2") * 1.0 * F.col("sy2") / n2)
    ) / denom
    det = pxx * pyy - pxy * pxy
    w = ab.select(
        n1, n2,
        ((pyy * dx - pxy * dy) / det).alias("wx"),
        ((pxx * dy - pxy * dx) / det).alias("wy"),
        (F.col("sx1") * 1.0 / n1).alias("mx1"),
        (F.col("sy1") * 1.0 / n1).alias("my1"),
        (F.col("sx2") * 1.0 / n2).alias("mx2"),
        (F.col("sy2") * 1.0 / n2).alias("my2"),
    )
    sc = seg.crossJoin(F.broadcast(w)).select(
        "g", "n1", "n2", "wx", "wy",
        (F.col("wx") * F.col("x") + F.col("wy") * F.col("y")).alias("score"),
        (
            F.col("wx") * (F.col("mx1") + F.col("mx2")) / 2
            + F.col("wy") * (F.col("my1") + F.col("my2")) / 2
        ).alias("cut"),
    )
    acc = sc.agg(
        F.min("n1").alias("n1"),
        F.min("n2").alias("n2"),
        F.min("wx").alias("wx"),
        F.min("wy").alias("wy"),
        F.min("cut").alias("cut"),
        F.sum(
            F.when((F.col("g") == _SEG_A) & (F.col("score") > F.col("cut")), 1).otherwise(0)
        ).cast("long").alias("a_right"),
        F.sum(
            F.when((F.col("g") == _SEG_B) & (F.col("score") <= F.col("cut")), 1).otherwise(0)
        ).cast("long").alias("b_right"),
    )
    return acc.select(
        F.col("n1").alias(f"n_{_SEG_A.lower()}"),
        F.col("n2").alias(f"n_{_SEG_B.lower()}"),
        F.round(F.col("wx"), 8).alias("w_spend"),
        F.round(F.col("wy"), 8).alias("w_orders"),
        F.round(F.col("cut"), 6).alias("cutoff"),
        F.col("a_right").alias(f"n_correct_{_SEG_A.lower()}"),
        F.col("b_right").alias(f"n_correct_{_SEG_B.lower()}"),
        F.round(
            (F.col("a_right") + F.col("b_right")) * F.lit(1.0) / (F.col("n1") + F.col("n2")),
            6,
        ).alias("train_accuracy"),
    )


# ---------------------------------------------------------------------------
# q_logistic_irls — 4-step Newton/IRLS logistic over the bucketed histogram
# ---------------------------------------------------------------------------

LOGIT_STEP = 25000.0  # bucket width (the q_roc_curve grid)
LOGIT_MAX_BKT = 19
LOGIT_ITERS = 4
_POS_SQL = "o_orderpriority IN ('1-URGENT', '2-HIGH')"


def _logit_sql() -> str:
    """4 unrolled IRLS iterations over the O(buckets) histogram, ONE SQL
    text both engines run verbatim. Each step: mu = sigmoid(b0 + b1 x)
    per bucket, gradient and Fisher information as closed forms of the
    integer (pos, neg) counts, 2x2 Newton solve, parameters re-rounded at
    12 dp so the fixed point is identical on both engines."""
    steps = ["p0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)"]
    for it in range(1, LOGIT_ITERS + 1):
        prev = f"p{it - 1}"
        steps.append(f"""
    s{it} AS (
      SELECT p.b0, p.b1,
             sum(b.pos - (b.pos + b.neg) / (1 + exp(-(p.b0 + p.b1 * b.x)))) AS g0,
             sum(b.x * (b.pos - (b.pos + b.neg) / (1 + exp(-(p.b0 + p.b1 * b.x)))))
               AS g1,
             sum((b.pos + b.neg) / (1 + exp(-(p.b0 + p.b1 * b.x)))
                 * (1 - 1 / (1 + exp(-(p.b0 + p.b1 * b.x))))) AS h00,
             sum(b.x * (b.pos + b.neg) / (1 + exp(-(p.b0 + p.b1 * b.x)))
                 * (1 - 1 / (1 + exp(-(p.b0 + p.b1 * b.x))))) AS h01,
             sum(b.x * b.x * (b.pos + b.neg) / (1 + exp(-(p.b0 + p.b1 * b.x)))
                 * (1 - 1 / (1 + exp(-(p.b0 + p.b1 * b.x))))) AS h11
      FROM bx b CROSS JOIN {prev} p GROUP BY p.b0, p.b1
    ),
    p{it} AS (
      SELECT round(b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01), 12) AS b0,
             round(b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01), 12) AS b1
      FROM s{it}
    )""")
    chain = ",".join(steps)
    return f"""
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / {LOGIT_STEP}), {LOGIT_MAX_BKT}) AS BIGINT)
               AS bkt,
             sum(CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END) AS pos,
             sum(CASE WHEN {_POS_SQL} THEN 0 ELSE 1 END) AS neg
      FROM orders GROUP BY 1
    ),
    bx AS (SELECT bkt, (bkt + 0.5) / 20.0 AS x, pos, neg FROM b),
    {chain},
    fit AS (
      SELECT p.b0, p.b1,
             sum(b.pos * ln(1 / (1 + exp(-(p.b0 + p.b1 * b.x))))
                 + b.neg * ln(1 - 1 / (1 + exp(-(p.b0 + p.b1 * b.x))))) AS ll,
             sum(CASE WHEN 1 / (1 + exp(-(p.b0 + p.b1 * b.x))) > 0.5
                      THEN b.pos ELSE b.neg END) AS n_correct,
             sum(b.pos + b.neg) AS n,
             sum(b.pos) AS n_pos
      FROM bx b CROSS JOIN p{LOGIT_ITERS} p GROUP BY p.b0, p.b1
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
           round(b0, 6) AS beta0, round(b1, 6) AS beta1,
           round(ll, 6) AS log_lik,
           round(n_correct * 1e0 / n, 6) AS train_accuracy,
           CAST({LOGIT_ITERS} AS BIGINT) AS n_iterations
    FROM fit
    """


sql_query(
    "q_logistic_irls", _logit_sql(), tags=("ml", "model", "iterative"),
    doc="""Logistic regression P(urgent-priority | order value) fit by 4
    unrolled Newton/IRLS iterations over the bucketed value histogram —
    the actual GLM inner loop made distributable the same way
    q_adaboost_round distributes boosting: per-example weights collapse
    to ONE closed-form weight per (bucket, label) cell, so each iteration
    is O(buckets) arithmetic over a single map-side-combinable aggregate,
    never a second corpus scan. Reports the fitted (beta0, beta1) on the
    [0,1]-scaled bucket midpoint, final log-likelihood, and train
    accuracy at the 0.5 cut.

    ONE SQL text runs verbatim on both engines (register_views +
    spark.sql); parameters re-round at 12 dp between iterations so the
    4-step fixed point is bit-identical. Scale: the corpus pass is one
    histogram aggregate; iterations touch O(buckets) rows each.""",
)
