"""Calibration operators: isotonic (PAV) rate calibration via the
min-max closed form — the "fix the model's probabilities" layer beside
the diagnostics (q_calibration_bins reports miscalibration; this FIXES
it; ml_eval's q_brier_decomposition says how much of the loss was
fixable and q_conformal_interval does the interval counterpart).

Scale posture: the corpus reduces to 10 rate buckets with exact integer
counts, then closed forms / triangular joins run over that bounded
relation only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_isotonic_calibration — PAV via the max-min closed form over rate buckets
# ---------------------------------------------------------------------------

ISO_STEP = 50000.0  # price bucket width; 10 ordered buckets
ISO_MAX_B = 9
_POS_SQL = "o_orderpriority IN ('1-URGENT', '2-HIGH')"


sql_query(
    "q_isotonic_calibration",
    f"""
    WITH g AS (
      SELECT CAST(least(floor(o_totalprice / {ISO_STEP}), {ISO_MAX_B}) AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM orders GROUP BY 1
    ),
    seg AS (
      SELECT a.b AS i, c.b AS j,
             CAST(sum(m.r) AS BIGINT) AS r, CAST(sum(m.n) AS BIGINT) AS n
      FROM g a JOIN g c ON a.b <= c.b JOIN g m ON m.b BETWEEN a.b AND c.b
      GROUP BY a.b, c.b
    ),
    mm AS (
      SELECT s.i, k.b AS k, min(s.r * 1e0 / s.n) AS mn
      FROM seg s JOIN g k ON s.j >= k.b
      GROUP BY s.i, k.b
    ),
    iso AS (
      SELECT k AS b, max(mn) AS iso_rate FROM mm WHERE i <= k GROUP BY k
    ),
    viol AS (
      SELECT CAST(count(*) AS BIGINT) AS n_violations
      FROM g a JOIN g c ON c.b = a.b + 1
      WHERE c.r * 1e0 / c.n < a.r * 1e0 / a.n
    )
    SELECT g.b AS bucket, g.n AS n_orders,
           round(g.r * 1e0 / g.n, 6) AS raw_rate,
           round(i.iso_rate, 6) AS iso_rate,
           round(abs(g.r * 1e0 / g.n - i.iso_rate), 6) AS adjustment,
           v.n_violations
    FROM g JOIN iso i ON g.b = i.b CROSS JOIN viol v
    ORDER BY bucket
    """,
    tags=("ml", "eval", "calibration"),
    doc="""Isotonic calibration of the urgent-priority rate over ordered
    order-value buckets — the pool-adjacent-violators fit computed by its
    MIN-MAX closed form iso(k) = max_{{i<=k}} min_{{j>=k}} rate(i..j),
    which needs no sequential merging and therefore no stateful pass:
    with B=10 buckets the whole fit is two triangular joins over a
    10-row relation. Reports each bucket's raw rate, the monotone
    calibrated rate, the adjustment PAV applied, and how many adjacent
    monotonicity violations the raw rates had — the distribution-free
    calibrator used on model scores before thresholding (Platt's
    parametric cousin is the q_logistic_irls machinery).

    Determinism: bucket counts and segment sums are exact BIGINTs;
    every rate is a ratio of integers, and min/max over identical
    doubles are order-free. Scale: ONE map-side histogram aggregate
    touches the corpus; everything after is O(B^3) arithmetic on 10
    rows.""",
)



# ---------------------------------------------------------------------------
# q_fairness_metrics — group fairness audit of the priority classifier
# ---------------------------------------------------------------------------

FAIR_THRESHOLD = 200000.0  # score cut: predict urgent when totalprice >= this
FAIR_POS = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
FAIR_DI_FLOOR = 0.8  # the four-fifths (80%) disparate-impact rule

_FAIR_SQL = f"""
    WITH scored AS (
      SELECT r.r_name AS grp,
             CASE WHEN o.o_totalprice >= {FAIR_THRESHOLD} THEN 1 ELSE 0 END AS yhat,
             CASE WHEN {FAIR_POS} THEN 1 ELSE 0 END AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(yhat) AS BIGINT) AS npred,
             CAST(sum(y) AS BIGINT) AS npos,
             CAST(sum(yhat * y) AS BIGINT) AS tp,
             CAST(sum(yhat * (1 - y)) AS BIGINT) AS fp
      FROM scored GROUP BY grp
    ),
    rates AS (
      SELECT grp, n,
             round(npred * 1e0 / n, 6) AS positive_rate,
             round(tp * 1e0 / npos, 6) AS tpr,
             round(fp * 1e0 / (n - npos), 6) AS fpr
      FROM g
    ),
    ref AS (
      SELECT max(positive_rate) AS max_pr,
             max(tpr) AS max_tpr, min(tpr) AS min_tpr,
             max(fpr) AS max_fpr, min(fpr) AS min_fpr
      FROM rates
    )
    SELECT r.grp, r.n, r.positive_rate, r.tpr, r.fpr,
           round(r.positive_rate / f.max_pr, 6) AS disparate_impact,
           round(r.positive_rate / f.max_pr, 6) < {FAIR_DI_FLOOR}
             AS fails_four_fifths,
           round(f.max_tpr - f.min_tpr, 6) AS equal_opportunity_gap,
           round(greatest(f.max_tpr - f.min_tpr, f.max_fpr - f.min_fpr), 6)
             AS equalized_odds_gap
    FROM rates r CROSS JOIN ref f
    ORDER BY r.grp
"""


sql_query(
    "q_fairness_metrics", _FAIR_SQL, tags=("ml", "eval", "governance"),
    doc="""Group-fairness audit of the threshold classifier (predict urgent
    when order value >= {FAIR_THRESHOLD}) across customer regions as the
    protected attribute: per-group positive rate (demographic parity),
    TPR/FPR, disparate impact vs the most-favored group with the EEOC
    four-fifths flag, and the corpus-level equal-opportunity (max TPR
    spread) and equalized-odds gaps — the standard audit battery
    (Hardt et al. 2016; Feldman et al. 2015) a model-governance review
    runs before q_threshold_metrics' accuracy numbers mean anything.
    Complements the privacy layer (q_k_anonymity, q_dp_histogram): DP
    protects individuals, this measures group-level treatment.

    Determinism: confusion cells are exact integer counts; every rate
    divides exact BIGINTs, rounded 6, and the four-fifths flag compares
    ROUNDED ratios. Scale: one fact shuffle (dims broadcast) to
    O(groups) confusion moments; O(1) after.""",
)


# ---------------------------------------------------------------------------
# q_profit_curve — cost-sensitive operating point over the score grid
# ---------------------------------------------------------------------------

PC_B_TP = 100  # benefit of a caught urgent order (expedite margin), dollars
PC_C_FP = 20  # cost of needlessly expediting
PC_C_FN = 60  # cost of a missed urgent order
PC_BUCKET = 25000.0
PC_MAX = 20
PC_POS = "o_orderpriority IN ('1-URGENT', '2-HIGH')"

_PC_SQL = f"""
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / {PC_BUCKET}), {PC_MAX}) AS BIGINT)
               AS bkt,
             CAST(sum(CASE WHEN {PC_POS} THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN {PC_POS} THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM orders GROUP BY 1
    ),
    thr AS (SELECT unnest(range(0, {PC_MAX} + 1)) AS t),
    cm AS (
      SELECT thr.t,
             CAST(coalesce(sum(CASE WHEN b.bkt >= thr.t THEN b.pos END), 0)
                  AS BIGINT) AS tp,
             CAST(coalesce(sum(CASE WHEN b.bkt >= thr.t THEN b.neg END), 0)
                  AS BIGINT) AS fp,
             CAST(coalesce(sum(CASE WHEN b.bkt < thr.t THEN b.pos END), 0)
                  AS BIGINT) AS fn
      FROM thr CROSS JOIN b GROUP BY thr.t
    ),
    p AS (
      SELECT CAST(t AS BIGINT) AS threshold_bucket, tp, fp, fn,
             CAST({PC_B_TP} * tp - {PC_C_FP} * fp - {PC_C_FN} * fn AS BIGINT)
               AS expected_profit
      FROM cm
    )
    SELECT p.*,
           p.expected_profit = (SELECT max(expected_profit) FROM p)
             AS is_profit_optimal
    FROM p ORDER BY threshold_bucket
"""


@query("q_profit_curve", oracle=_PC_SQL, tags=("ml", "eval", "finance"))
def profit_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive operating-point selection: expected profit
    {PC_B_TP}*TP - {PC_C_FP}*FP - {PC_C_FN}*FN at every threshold of
    the bucketed score — the DECISION layer q_threshold_metrics'
    statistical metrics feed into (the profit-optimal cut moves with
    the cost matrix while F1 stays put, which is exactly why ops teams
    tune on money, not F1; with a 3:1 FN:FP cost ratio the optimum
    sits well below the F1 cut). The curve is the deployment artifact:
    re-derive it whenever the cost matrix changes, without rescoring.

    Determinism: confusion counts are exact BIGINT cumulative bucket
    sums and profit is pure integer arithmetic — nothing floats
    anywhere; the flag compares exact integers. Scale: one fact scan
    to 21 buckets; O(thresholds x buckets) after."""
    orders = load_table(spark, sf_dir, "orders")
    pos = F.expr(PC_POS)
    b = orders.groupBy(
        F.least(F.floor(F.col("o_totalprice") / PC_BUCKET), F.lit(PC_MAX))
        .cast("long")
        .alias("bkt")
    ).agg(
        F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("pos"),
        F.sum(F.when(pos, 0).otherwise(1)).cast("long").alias("neg"),
    )
    thr = spark.range(0, PC_MAX + 1).select(F.col("id").alias("t"))
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
        )
    )
    p = cm.select(
        F.col("t").cast("long").alias("threshold_bucket"),
        "tp",
        "fp",
        "fn",
        (PC_B_TP * F.col("tp") - PC_C_FP * F.col("fp") - PC_C_FN * F.col("fn"))
        .cast("long")
        .alias("expected_profit"),
    )
    w = Window.partitionBy(F.lit(1))
    return p.withColumn(
        "is_profit_optimal",
        F.col("expected_profit") == F.max("expected_profit").over(w),
    ).orderBy("threshold_bucket")
