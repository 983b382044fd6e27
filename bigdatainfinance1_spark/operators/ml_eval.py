"""ML evaluation and feature-engineering operators: AUC, calibration, confusion matrices, OLS/k-fold, encodings, sampling.

Carved out of operators/analytics2.py (round-2 wave 4-5) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 12 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


sql_query(
    "q_psi_drift",
    """
    WITH binned AS (
      SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a' ELSE 'b' END AS period
      FROM orders
    ),
    grid AS (
      SELECT bin,
             CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b FROM grid
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_bins,
      CAST(sum(CASE WHEN g.n_a > 0 AND g.n_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_bins_used,
      round(sum(CASE WHEN g.n_a > 0 AND g.n_b > 0
                THEN (g.n_a * 1e0 / t.t_a - g.n_b * 1e0 / t.t_b)
                     * ln((g.n_a * 1e0 / t.t_a) / (g.n_b * 1e0 / t.t_b))
                ELSE 0e0 END), 6) AS psi
    FROM grid g CROSS JOIN tot t
    """,
    tags=("analytics", "finance", "quality"),
    doc="""Population Stability Index between the pre-1998 and post-1998 order
    price distributions — the model-monitoring drift metric every deployed
    credit/pricing model is watched with (PSI < 0.1 stable, > 0.25 act).
    Prices are binned on a fixed arithmetic grid (50k-wide bins — no
    engine-specific width_bucket, which DuckDB 1.0 lacks); shares are
    ratios of exact integer counts, and bins empty on either side are
    excluded from the sum identically on both engines (reported via
    n_bins_used). One groupBy over ≤10 bins plus a broadcast scalar of
    the two totals — trivially linear at any scale.""",
)


@query(
    "q_woe_iv",
    oracle="""
    WITH flags AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders
    ),
    grid AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bad) AS BIGINT) AS n_bad,
             CAST(count(*) - sum(bad) AS BIGINT) AS n_good
      FROM flags GROUP BY o_orderpriority
    ),
    tot AS (
      SELECT CAST(sum(n_bad) AS BIGINT) AS t_bad, CAST(sum(n_good) AS BIGINT) AS t_good
      FROM grid
    )
    SELECT
      g.o_orderpriority,
      g.n, g.n_bad,
      round(ln((g.n_good * 1e0 / t.t_good) / (g.n_bad * 1e0 / t.t_bad)), 6) AS woe,
      round((g.n_good * 1e0 / t.t_good - g.n_bad * 1e0 / t.t_bad)
            * ln((g.n_good * 1e0 / t.t_good) / (g.n_bad * 1e0 / t.t_bad)), 6) AS iv_contrib
    FROM grid g CROSS JOIN tot t
    """,
    tags=("analytics", "finance"),
)
def woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence and information-value per order-priority bucket
    against the binary target 'order finalized' (status F) — the credit-
    scorecard feature-screening classic: WoE = ln(good share / bad share),
    IV contribution = (share gap)·WoE. Every share is a ratio of exact
    integer counts so both engines take ln of identical doubles; buckets
    here are never empty on either side (every priority has both
    outcomes), and the 6-dp round absorbs ln's ≤1-ulp spread. Scale: one
    groupBy over the bucket key, one broadcast scalar of the two totals."""
    orders = load_table(spark, sf_dir, "orders")
    grid = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("long").alias("n_bad"),
        (F.count(F.lit(1)) - F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)))
        .cast("long")
        .alias("n_good"),
    )
    tot = grid.agg(
        F.sum("n_bad").cast("long").alias("t_bad"), F.sum("n_good").cast("long").alias("t_good")
    )
    g_share = F.col("n_good") * F.lit(1.0) / F.col("t_good")
    b_share = F.col("n_bad") * F.lit(1.0) / F.col("t_bad")
    return grid.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "n",
        "n_bad",
        F.round(F.log(g_share / b_share), 6).alias("woe"),
        F.round((g_share - b_share) * F.log(g_share / b_share), 6).alias("iv_contrib"),
    )


@query(
    "q_target_encoding",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    stats AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT)   AS s
      FROM cents GROUP BY o_orderpriority
    )
    SELECT
      c.o_orderpriority,
      s.n,
      round(CAST(sum(CAST(round((s.s - c.c) * 1e0 / (s.n - 1) / 100e0 * 1e6)
                          AS HUGEINT)) AS DOUBLE) / count(*) / 1e6, 4) AS avg_enc,
      round(min((s.s - c.c) * 1e0 / (s.n - 1) / 100e0), 4)  AS min_enc,
      round(max((s.s - c.c) * 1e0 / (s.n - 1) / 100e0), 4)  AS max_enc
    FROM cents c JOIN stats s ON c.o_orderpriority = s.o_orderpriority
    GROUP BY c.o_orderpriority, s.n
    """,
    tags=("analytics", "llm-pipeline"),
)
def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the order-priority categorical
    against order value — the leakage-safe mean encoding used in gradient-
    boosting feature pipelines: each row's encoding excludes its own
    target, enc_r = (Σ_c − y_r)/(n_c − 1). Per-category sum and count ride
    in as a broadcast category-sized relation; every encoding is built
    from exact integer cents with identical division order, so min/max are
    exact and only the row-order-sensitive avg needs its 4-dp round.
    Scale: one groupBy for category stats, one broadcast join back — the
    encode pass is a narrow map over the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    stats = cents.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("c").cast("long").alias("s")
    )
    enc = (F.col("s") - F.col("c")) * F.lit(1.0) / (F.col("n") - 1) / F.lit(100.0)
    return (
        cents.join(F.broadcast(stats), "o_orderpriority")
        .groupBy("o_orderpriority", "n")
        .agg(
            # integer-moments rule: encodings are identical exact-integer
            # ratios — the only order-sensitive reduction snaps at 1e-6
            F.round(
                F.sum(F.round(enc * 1e6).cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1))
                / 1e6,
                4,
            ).alias("avg_enc"),
            F.round(F.min(enc), 4).alias("min_enc"),
            F.round(F.max(enc), 4).alias("max_enc"),
        )
        .select("o_orderpriority", "n", "avg_enc", "min_enc", "max_enc")
    )


@query(
    "q_feature_hashing",
    oracle="""
    WITH feats AS (
      SELECT event_type || ':' || CAST(CAST(props ->> 'k' AS INT) AS VARCHAR) AS feat
      FROM events
    ),
    hashed AS (
      SELECT feat,
             ((instr('0123456789abcdef', substr(md5(feat), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(feat), 2, 1)) - 1)) % 64 AS bucket
      FROM feats
    )
    SELECT
      CAST(bucket AS BIGINT)          AS bucket,
      CAST(count(*) AS BIGINT)        AS n_events,
      CAST(count(DISTINCT feat) AS BIGINT) AS n_features
    FROM hashed GROUP BY bucket
    """,
    tags=("analytics", "llm-pipeline"),
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical features (event_type × the numeric
    prop extracted from the JSON payload) hashed into 64 fixed buckets —
    the unbounded-vocabulary featurizer for streaming/online models, with
    the bucket histogram and collision census (distinct features per
    bucket) as output. The hash is the first byte of md5 taken mod 64 via
    the cross-engine instr-nibble idiom (md5 hex is the only hash both
    engines share; xxhash64 is Spark-only). Scale: a narrow map plus one
    64-key groupBy — the whole point of feature hashing is that state
    stays O(buckets) forever."""
    ev = load_table(spark, sf_dir, "events")
    feat = F.concat_ws(
        ":", F.col("event_type"), F.get_json_object("props", "$.k").cast("int").cast("string")
    )
    feats = ev.select(feat.alias("feat"), F.md5(feat).alias("h"))
    nib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring("h", p, 1)) - 1  # noqa: E731
    return (
        feats.select("feat", ((nib(1) * 16 + nib(2)) % 64).alias("bucket"))
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("feat").cast("long").alias("n_features"),
        )
    )


@query(
    "q_confusion_matrix",
    oracle="""
    WITH thr AS (
      SELECT round(quantile_cont(value, 0.5), 6) AS t FROM events
    ),
    scored AS (
      SELECT CASE WHEN e.value > t.t THEN 1 ELSE 0 END AS pred,
             CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS label
      FROM events e CROSS JOIN thr t
    ),
    cm AS (
      SELECT
        CAST(sum(pred * label) AS BIGINT)             AS tp,
        CAST(sum(pred * (1 - label)) AS BIGINT)       AS fp,
        CAST(sum((1 - pred) * label) AS BIGINT)       AS fn,
        CAST(sum((1 - pred) * (1 - label)) AS BIGINT) AS tn
      FROM scored
    )
    SELECT
      tp, fp, fn, tn,
      round(tp * 1e0 / (tp + fp), 6) AS precision,
      round(tp * 1e0 / (tp + fn), 6) AS recall,
      round(2e0 * tp / (2 * tp + fp + fn), 6) AS f1,
      round((tp + tn) * 1e0 / (tp + fp + fn + tn), 6) AS accuracy
    FROM cm
    """,
    tags=("analytics", "stats", "llm-pipeline"),
)
def confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classification evaluation scaffold: confusion matrix plus
    precision/recall/F1/accuracy for the rule 'value above the corpus
    median predicts a purchase event' — the eval-harness pattern (scores
    + labels → thresholded metrics) that pairs with q_ndcg's ranking
    metrics. The threshold is the global median ROUNDED TO 6 DP before
    comparison, so both engines classify against the identical double
    (values ≥2.5e-3 from the rounded quantile — no boundary flakiness,
    same guard as q_iqr_outliers); every metric is then a ratio of exact
    integer counts. Scale: one percentile reduce broadcast as a scalar,
    one narrow classification map, one 4-counter reduce."""
    ev = load_table(spark, sf_dir, "events")
    thr = ev.agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("t"))
    scored = ev.crossJoin(F.broadcast(thr)).select(
        F.when(F.col("value") > F.col("t"), 1).otherwise(0).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    cm = scored.agg(
        F.sum(F.col("pred") * F.col("label")).cast("long").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("label"))).cast("long").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("label")).cast("long").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("label"))).cast("long").alias("tn"),
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        F.round(
            F.lit(2.0) * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        ).alias("f1"),
        F.round(
            (F.col("tp") + F.col("tn"))
            * F.lit(1.0)
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            6,
        ).alias("accuracy"),
    )


sql_query(
    "q_ols_two_factor",
    """
    WITH obs AS (
      SELECT CAST(l_quantity AS BIGINT)                       AS x1,
             CAST(round(l_discount * 10000) AS BIGINT)        AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT)     AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT)   AS n,
             CAST(sum(x1) AS BIGINT)    AS s1,
             CAST(sum(x2) AS BIGINT)    AS s2,
             CAST(sum(y)  AS BIGINT)    AS sy,
             CAST(sum(x1 * x1) AS BIGINT) AS s11,
             CAST(sum(x2 * x2) AS BIGINT) AS s22,
             CAST(sum(x1 * x2) AS BIGINT) AS s12,
             CAST(sum(x1 * y) AS BIGINT)  AS s1y,
             CAST(sum(x2 * y) AS BIGINT)  AS s2y
      FROM obs
    ),
    c AS (
      SELECT n,
             n * 1e0 * s11 - s1 * 1e0 * s1 AS a11,
             n * 1e0 * s12 - s1 * 1e0 * s2 AS a12,
             n * 1e0 * s22 - s2 * 1e0 * s2 AS a22,
             n * 1e0 * s1y - s1 * 1e0 * sy AS b1,
             n * 1e0 * s2y - s2 * 1e0 * sy AS b2,
             s1, s2, sy
      FROM m
    )
    SELECT
      n,
      round((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) / 100, 6)   AS beta_qty,
      round((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) / 1000000, 6) AS beta_disc,
      round((sy * 1e0 / n
             - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * (s1 * 1e0 / n)
             - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * (s2 * 1e0 / n)) / 100, 4)
        AS intercept
    FROM c
    """,
    tags=("analytics", "stats", "finance"),
    doc="""Two-factor OLS by closed-form normal equations: extended price
    regressed on quantity and discount simultaneously — the multivariate
    step past the built-in bivariate regr_* family (q_regr_by_brand).
    Every moment (Σx, Σx², Σxy, cross-moments) is an EXACT BIGINT: x₁ is
    integer quantity, x₂ integer basis points, y integer cents. The
    CENTERED terms (n·Σxy − Σx·Σy) exceed int64 from sf0.01 up (n·Σx₂y ≈
    9.5e18 — found by the driver-grain verify, not the sf0.001 unit gate),
    so centering and Cramer's rule run in DOUBLE with the identical
    expression shape on both engines: products of exact integers round
    identically, divisions divide identical doubles, and the 6/4-dp
    rounds absorb nothing beyond ulp. Unit rescaling (/100, /1e6) maps
    betas back to dollars. One single-pass aggregation; nothing but the
    9 moments ever shuffles.""",
)


@query(
    "q_embedding_outliers",
    oracle="""
    WITH cent AS (
      SELECT label, i,
             round(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e9)
                                 AS BIGINT)) AS DOUBLE) / count(*) / 1e9, 6) AS c
      FROM embeddings, generate_series(1, 64) s(i)
      GROUP BY label, i
    ),
    dists AS (
      SELECT e.vec_id, e.label,
             sqrt(CAST(sum(CAST(round((CAST(e.embedding[s.i] AS DOUBLE) - c.c)
                    * (CAST(e.embedding[s.i] AS DOUBLE) - c.c) * 1e12) AS BIGINT))
                  AS DOUBLE) / 1e12) AS dist
      FROM embeddings e, generate_series(1, 64) s(i)
      JOIN cent c ON c.label = e.label AND c.i = s.i
      GROUP BY e.vec_id, e.label
    ),
    thr AS (
      SELECT label, round(quantile_cont(dist, 0.95), 6) AS p95
      FROM dists GROUP BY label
    )
    SELECT
      d.label,
      CAST(count(*) AS BIGINT)                                  AS n_vecs,
      min(t.p95)                                                AS p95_dist,
      CAST(sum(CASE WHEN d.dist > t.p95 THEN 1 ELSE 0 END) AS BIGINT)
                                                                AS n_outliers,
      round(max(d.dist), 6)                                     AS max_dist
    FROM dists d JOIN thr t ON d.label = t.label
    GROUP BY d.label
    """,
    tags=("similarity", "llm-pipeline"),
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen per label: Euclidean distance to the
    label centroid, flagging vectors beyond the label's p95 — the vector-
    hygiene check (mislabeled points, encoder failures, adversarial junk)
    an embedding pipeline runs before training or ANN indexing; completes
    the L7 family next to q_embedding_centroids/q_embedding_dispersion.
    Centroids are ROUNDED TO 6 DP before any distance (both engines
    subtract identical doubles — same pre-rounding guard as
    q_iqr_outliers' quartiles), the p95 threshold is rounded before
    comparison, and per-vector 64-term sums sit ≥1e-10 from every
    decision boundary. Scale: fully distributed — explode → centroid
    groupBy, centroid relation (|labels|×64) broadcast back, one more
    keyed aggregation; no vector ever reaches the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "val"),
    ).select("vec_id", "label", (F.col("pos") + 1).alias("i"), F.col("val").cast("double").alias("val"))
    # integer-moments rule: centroid means sum 1e-9-grain integers; the
    # 64-term per-vector distance sums snap each squared term at 1e-12
    cent = exploded.groupBy("label", "i").agg(
        F.round(
            F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e9,
            6,
        ).alias("c")
    )
    dists = (
        exploded.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum(
                    F.round(
                        (F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))
                        * 1e12
                    ).cast("long")
                ).cast("double")
                / 1e12
            ).alias("dist")
        )
    )
    thr = dists.groupBy("label").agg(
        F.round(F.expr("percentile(dist, 0.95)"), 6).alias("p95")
    )
    return (
        dists.join(F.broadcast(thr), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("p95").alias("p95_dist"),
            F.sum(F.when(F.col("dist") > F.col("p95"), 1).otherwise(0)).cast("long").alias(
                "n_outliers"
            ),
            F.round(F.max("dist"), 6).alias("max_dist"),
        )
    )


sql_query(
    "q_auc_by_month",
    """
    WITH scored AS (
      SELECT
        CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS m,
        CAST(round(o_totalprice * 100) AS BIGINT)                   AS cents,
        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END             AS pos
      FROM orders
    ),
    per_score AS (
      SELECT m, cents,
             CAST(sum(pos) AS BIGINT)     AS np,
             CAST(sum(1 - pos) AS BIGINT) AS nn
      FROM scored GROUP BY m, cents
    ),
    cum AS (
      SELECT m, np, nn,
             coalesce(sum(nn) OVER (
               PARTITION BY m ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_nn
      FROM per_score
    )
    SELECT
      m,
      CAST(sum(np) AS BIGINT) AS n_pos,
      CAST(sum(nn) AS BIGINT) AS n_neg,
      round(
        CASE WHEN sum(np) = 0 OR sum(nn) = 0 THEN NULL
             ELSE CAST(sum(2 * np * cum_nn + np * nn) AS DOUBLE)
                  / (2e0 * sum(np) * sum(nn))
        END, 6) AS auc
    FROM cum
    GROUP BY m
    """,
    tags=("analytics", "ml-eval", "stats"),
    doc="""Rank-based ROC-AUC per order month: how well o_totalprice separates
    finalized ('F') orders from the rest — the Mann-Whitney formulation
    (q_mann_whitney is the hypothesis-test twin; this is the ML-eval
    reading of the same statistic). Ties get the standard half credit:
    AUC = [Σ_s np(s)·cumneg(<s) + ½·np(s)·nn(s)] / (NP·NN), computed over
    per-score counts so the window walks distinct scores, not rows. The
    numerator is kept ×2 in BIGINT (2·np·cumneg + np·nn — all integers) so
    both engines sum exactly, with ONE double division at the end, rounded
    to 6 dp. Scale: one groupBy on (month, score) absorbs the row count;
    the cumulative window is partitioned by month (bounded group ≈ distinct
    scores per month) — linear, no global ordering anywhere.""",
)


@query(
    "q_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT
        CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS m,
        CAST(round(o_totalprice * 100) AS BIGINT)                   AS cents,
        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END             AS pos,
        o_orderkey
      FROM orders
    ),
    binned AS (
      SELECT m, cents, pos,
             ntile(10) OVER (PARTITION BY m ORDER BY cents, o_orderkey) AS decile
      FROM scored
    )
    SELECT
      m,
      decile,
      CAST(count(*) AS BIGINT)                        AS n,
      ((2 * sum(cents) * 100 + count(*)) // (2 * count(*))) / 1e4
                                                      AS avg_price,
      round(sum(pos) * 1e0 / count(*), 6)             AS event_rate
    FROM binned
    GROUP BY m, decile
    """,
    tags=("analytics", "ml-eval", "stats"),
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability bins for the q_auc_by_month score: split
    each month's orders into price deciles and report the observed
    finalized-rate per decile — AUC says the score RANKS well, this says
    where its probability mapping is honest (the reliability-diagram
    input every model monitor plots). ntile orders by (cents, o_orderkey)
    — a total order, so both engines assign identical deciles even across
    tied prices. avg_price is rounded to 4 dp IN EXACT INTEGER ARITHMETIC
    ((2·S·100 + n) div 2n — half-up on the true rational) before the one
    float division, because float round() at a half boundary differs by
    an ulp across engines: the round-3 sf0.01 pre-driver sweep caught
    exactly one decile where round(S/100/n, 4) flipped .3162 vs .3163.
    Scale: the
    decile window is partitioned by month (the parallelism axis); one
    groupBy on (month, decile) ends the plan — same two-shuffle budget as
    any partitioned ranking."""
    orders = load_table(spark, sf_dir, "orders")
    scored = orders.select(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        "o_orderkey",
    )
    w = Window.partitionBy("m").orderBy("cents", "o_orderkey")
    binned = scored.withColumn("decile", F.ntile(10).over(w))
    return binned.groupBy("m", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.expr("(2 * sum(cents) * 100 + count(1)) div (2 * count(1))") / F.lit(1e4)
        ).alias("avg_price"),
        F.round(F.sum("pos") * F.lit(1.0) / F.count(F.lit(1)), 6).alias("event_rate"),
    )


@query(
    "q_negative_sampling",
    oracle="""
    WITH purchased AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    custs AS (SELECT DISTINCT cust FROM purchased),
    cand AS (
      SELECT c.cust, p.p_partkey AS part,
             md5(CAST(c.cust AS STRING) || '-' || CAST(p.p_partkey AS STRING)) AS hx
      FROM custs c JOIN part p ON p.p_partkey % 64 = c.cust % 64
    ),
    negatives AS (
      SELECT cand.cust, cand.part, cand.hx
      FROM cand
      LEFT JOIN purchased pu ON cand.cust = pu.cust AND cand.part = pu.part
      WHERE pu.cust IS NULL
    ),
    ranked AS (
      SELECT cust, part,
             row_number() OVER (PARTITION BY cust ORDER BY hx, part) AS rn
      FROM negatives
    )
    SELECT cust, CAST(rn AS BIGINT) AS rn, part AS neg_partkey
    FROM ranked WHERE rn <= 3
    """,
    tags=("llm", "pipeline", "sampling"),
)
def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender/contrastive
    training: for every purchasing customer, 3 parts they never bought,
    drawn by md5 order from the customer's congruence slice of the catalog
    (parts with p_partkey ≡ cust mod 64 → ~1/64 of parts per customer) and
    anti-joined against the positives. The slice is an EQUI-join on the
    bucket, so candidate generation emits only |C|·|P|/64 rows — the first
    version bucketed on md5(cust,part), which forced the hash onto the
    full |C|×|P| cross product and measured 290 s at sf0.1; this shape
    measures ~3 s with identical sampling semantics (measured, BASELINE.md
    fourth-wave table). md5 keys only the ORDER within the slice (top-3
    draw), so it touches candidates, not pairs. Scale: broadcast part dim,
    per-customer windows, every draw md5-stable — resampling a partition
    reproduces identical negatives, the property that makes training runs
    diffable."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    purchased = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    custs = purchased.select("cust").distinct().withColumn("cb", F.col("cust") % 64)
    hx = F.md5(F.concat(F.col("cust").cast("string"), F.lit("-"), F.col("p_partkey").cast("string")))
    pb = part.select("p_partkey", (F.col("p_partkey") % 64).alias("pb"))
    cand = (
        custs.join(F.broadcast(pb), custs["cb"] == pb["pb"])
        .select("cust", F.col("p_partkey").alias("part"), hx.alias("hx"))
    )
    negatives = cand.join(purchased, ["cust", "part"], "left_anti")
    w = Window.partitionBy("cust").orderBy("hx", "part")
    return (
        negatives.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("cust", F.col("rn").cast("long").alias("rn"), F.col("part").alias("neg_partkey"))
    )


@query(
    "q_kfold_ols",
    oracle="""
    WITH obs AS (
      SELECT
        (instr('0123456789abcdef',
               substring(md5(CAST(l_orderkey AS VARCHAR) || '-'
                             || CAST(l_linenumber AS VARCHAR)), 1, 1)) - 1) % 5
          AS fold,
        CAST(l_quantity AS BIGINT)                   AS x,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    per_fold AS (
      SELECT fold,
             CAST(count(*) AS BIGINT)     AS nf,
             CAST(sum(x)  AS BIGINT)      AS sx,
             CAST(sum(y)  AS BIGINT)      AS sy,
             CAST(sum(x * x) AS BIGINT)   AS sxx,
             CAST(sum(x * y) AS BIGINT)   AS sxy,
             sum(CAST(y AS HUGEINT) * y)  AS syy
      FROM obs GROUP BY fold
    ),
    tot AS (
      SELECT CAST(sum(nf) AS BIGINT) AS tn, CAST(sum(sx) AS BIGINT) AS tsx,
             CAST(sum(sy) AS BIGINT) AS tsy, CAST(sum(sxx) AS BIGINT) AS tsxx,
             CAST(sum(sxy) AS BIGINT) AS tsxy
      FROM per_fold
    ),
    fit AS (
      SELECT f.fold, f.nf, f.sx, f.sy, f.sxy, f.sxx, CAST(f.syy AS DOUBLE) AS syy,
             t.tn - f.nf AS n_train,
             ((t.tn - f.nf) * 1e0 * (t.tsxy - f.sxy)
              - (t.tsx - f.sx) * 1e0 * (t.tsy - f.sy))
             / ((t.tn - f.nf) * 1e0 * (t.tsxx - f.sxx)
                - (t.tsx - f.sx) * 1e0 * (t.tsx - f.sx)) AS b,
             t.tsx - f.sx AS trx, t.tsy - f.sy AS try_, t.tn - f.nf AS trn
      FROM per_fold f CROSS JOIN tot t
    ),
    pred AS (
      SELECT fold, nf, n_train, b,
             (try_ * 1e0 - b * trx) / trn AS a,
             sx, sy, sxy, sxx, syy
      FROM fit
    )
    SELECT
      CAST(fold AS BIGINT) AS fold,
      CAST(n_train AS BIGINT) AS n_train,
      CAST(nf AS BIGINT)      AS n_holdout,
      round(b / 100, 6)       AS slope_dollars,
      round(a / 100, 4)       AS intercept_dollars,
      round((syy - 2e0 * a * sy - 2e0 * b * sxy + nf * 1e0 * a * a
             + 2e0 * a * b * sx + b * b * sxx) / nf / 10000, 4) AS holdout_mse
    FROM pred
    """,
    tags=("analytics", "ml-eval", "stats"),
)
def kfold_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated simple OLS (extended price on quantity) in
    ONE data scan: per-fold exact sufficient statistics (n, Σx, Σy, Σx²,
    Σxy, Σy²), then each fold's TRAIN stats are the totals minus its own —
    the fold-complement trick that makes k-fold CV a tiny post-aggregation
    instead of k re-scans. Holdout MSE comes from the same stats
    (SSE = Σy² − 2aΣy − 2bΣxy + na² + 2abΣx + b²Σxx), so no residual pass
    and no order-dependent double summation anywhere. Fold assignment is
    the repo's md5-hex convention (cross-engine stable); Σy² exceeds int64
    at sf0.1 so it is summed exactly as decimal/HUGEINT and cast to double
    once, and the centered slope runs in DOUBLE with the identical
    expression shape on both engines (q_ols_two_factor house pattern).
    Scale: one groupBy to 5 rows + a broadcast of the 1-row totals —
    nothing else moves."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat(F.col("l_orderkey").cast("string"), F.lit("-"), F.col("l_linenumber").cast("string"))
    obs = li.select(
        ((F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(key), 1, 1)) - 1) % 5).alias("fold"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    per_fold = obs.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("nf"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")).alias("syy_d"),
    )
    tot = per_fold.agg(
        F.sum("nf").cast("long").alias("tn"),
        F.sum("sx").cast("long").alias("tsx"),
        F.sum("sy").cast("long").alias("tsy"),
        F.sum("sxx").cast("long").alias("tsxx"),
        F.sum("sxy").cast("long").alias("tsxy"),
    )
    f = per_fold.crossJoin(F.broadcast(tot))
    trn = F.col("tn") - F.col("nf")
    trx = F.col("tsx") - F.col("sx")
    try_ = F.col("tsy") - F.col("sy")
    b = (
        trn * F.lit(1.0) * (F.col("tsxy") - F.col("sxy")) - trx * F.lit(1.0) * try_
    ) / (trn * F.lit(1.0) * (F.col("tsxx") - F.col("sxx")) - trx * F.lit(1.0) * trx)
    fit = f.select(
        "fold", "nf", "sx", "sy", "sxy", "sxx",
        F.col("syy_d").cast("double").alias("syy"),
        trn.alias("n_train"),
        b.alias("b"),
        trx.alias("trx"),
        try_.alias("try_"),
        trn.alias("trn"),
    )
    a = (F.col("try_") * F.lit(1.0) - F.col("b") * F.col("trx")) / F.col("trn")
    pred = fit.select("fold", "nf", "n_train", "b", a.alias("a"), "sx", "sy", "sxy", "sxx", "syy")
    sse = (
        F.col("syy")
        - F.lit(2.0) * F.col("a") * F.col("sy")
        - F.lit(2.0) * F.col("b") * F.col("sxy")
        + F.col("nf") * F.lit(1.0) * F.col("a") * F.col("a")
        + F.lit(2.0) * F.col("a") * F.col("b") * F.col("sx")
        + F.col("b") * F.col("b") * F.col("sxx")
    )
    return pred.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("n_train").cast("long").alias("n_train"),
        F.col("nf").cast("long").alias("n_holdout"),
        F.round(F.col("b") / 100, 6).alias("slope_dollars"),
        F.round(F.col("a") / 100, 4).alias("intercept_dollars"),
        F.round(sse / F.col("nf") / 10000, 4).alias("holdout_mse"),
    )


PASS_AT_K = (1, 5, 10)


def _pass_at_k_oracle() -> str:
    selects = []
    for k in PASS_AT_K:
        selects.append(f"""
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_tasks,
           round(CAST(sum(CAST(round((CASE WHEN n - c < {k} THEN 1.0
                          ELSE 1 - list_product(list_transform(range({k}),
                               i -> (n - c - i) * 1.0 / (n - i))) END) * 1e12)
                          AS BIGINT)) AS DOUBLE) / count(*) / 1e12, 6)
             AS pass_at_k
    FROM base WHERE n >= {k}""")
    return f"""
    WITH base AS (
      SELECT user_id, count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
      FROM events GROUP BY user_id
    )
    {" UNION ALL ".join(selects)}
    """


@query("q_pass_at_k", oracle=_pass_at_k_oracle(), tags=("ml", "eval", "llm"))
def pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k — the standard unbiased estimator for "at least one success
    in k sampled attempts" (Chen et al. 2021, the HumanEval metric):
    per task 1 - C(n-c, k)/C(n, k), computed as the overflow-free product
    Π_{{i<k}} (n-c-i)/(n-i) so no factorial ever materializes, averaged
    over tasks with n >= k, for k in {PASS_AT_K}. Tasks stand in as users,
    attempts as their events, success as a purchase — the estimator is
    the graded artifact; in an LLM eval harness the same query runs over
    (problem_id, sample_id, passed) rows unchanged.

    Determinism: n and c are exact integers; the <= 10-term product folds
    sequentially on both engines (Spark aggregate() vs DuckDB
    list_product over the same ordered range) and rounds at 6 after the
    task average. Scale: one groupBy of the fact table, then three
    aggregations over the task relation — O(tasks) rows, no join at all."""
    ev = load_table(spark, sf_dir, "events")
    # base (O(tasks) rows) is aggregated once per k below; the checkpoint
    # runs the event scan once instead of len(PASS_AT_K) times.
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c"),
    ).localCheckpoint(eager=True)
    out = None
    for k in PASS_AT_K:
        prod = F.expr(
            f"aggregate(sequence(0, {k - 1}), CAST(1.0 AS DOUBLE),"
            " (acc, i) -> acc * (n - c - i) / (n - i))"
        )
        per_task = F.when(F.col("n") - F.col("c") < k, F.lit(1.0)).otherwise(1 - prod)
        row = (
            base.filter(F.col("n") >= k)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_tasks"),
                F.round(
                    F.sum(F.round(per_task * 1e12).cast("long")).cast("double")
                    / F.count(F.lit(1))
                    / 1e12,
                    6,
                ).alias("pass_at_k"),
            )
            .select(F.lit(k).cast("long").alias("k"), "n_tasks", "pass_at_k")
        )
        out = row if out is None else out.unionByName(row)
    return out


BT_ITERS = 10  # Bradley-Terry MM iterations (bounded model: <= sources^2)
BT_BUCKET_TOKENS = 20  # docs compared only within (lang, length-bucket)


def _bradley_terry_oracle() -> str:
    steps = ""
    for t in range(1, BT_ITERS + 1):
        steps += f""",
    r{t} AS MATERIALIZED (
      SELECT c.si AS source, min(tt.w_total) AS w_total,
             round(min(tt.w_total) / list_sum(list(c.n / (pi.p + pj.p) ORDER BY c.sj)), 12)
               AS p_raw
      FROM comps c
      JOIN p{t - 1} pi ON pi.source = c.si
      JOIN p{t - 1} pj ON pj.source = c.sj
      JOIN totals tt ON tt.source = c.si
      GROUP BY c.si
    ),
    p{t} AS MATERIALIZED (
      SELECT source,
             round(p_raw / (SELECT list_sum(list(p_raw ORDER BY source)) FROM r{t}), 12) AS p
      FROM r{t}
    )"""
    return f"""
    WITH ds AS (
      SELECT source, lang,
             len(string_split(text, ' ')) // {BT_BUCKET_TOKENS} AS bkt,
             len(list_distinct(string_split(text, ' '))) AS score
      FROM documents
    ),
    sources AS (SELECT DISTINCT source FROM documents),
    wins AS (
      SELECT a.source AS si, b.source AS sj, count(*) AS w
      FROM ds a JOIN ds b
        ON a.lang = b.lang AND a.bkt = b.bkt
       AND a.source <> b.source AND a.score > b.score
      GROUP BY 1, 2
    ),
    dw AS MATERIALIZED (
      SELECT a.source AS si, b.source AS sj,
             coalesce(w.w, 0) + 0.5 AS w
      FROM sources a JOIN sources b ON a.source <> b.source
      LEFT JOIN wins w ON w.si = a.source AND w.sj = b.source
    ),
    comps AS MATERIALIZED (
      SELECT d1.si, d1.sj, d1.w + d2.w AS n
      FROM dw d1 JOIN dw d2 ON d1.si = d2.sj AND d1.sj = d2.si
    ),
    totals AS (SELECT si AS source, sum(w) AS w_total FROM dw GROUP BY si),
    p0 AS (
      SELECT source,
             CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM sources) AS p
      FROM sources
    ){steps}
    SELECT
      p.source,
      round(p.p, 6) AS bt_rating,
      CAST(coalesce(rw.w, 0) AS BIGINT) AS n_wins,
      CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT source, p, row_number() OVER (ORDER BY p DESC, source) AS rnk
      FROM p{BT_ITERS}
    ) p
    LEFT JOIN (SELECT si, sum(w) AS w FROM wins GROUP BY si) rw ON rw.si = p.source
    """


@query("q_bradley_terry", oracle=_bradley_terry_oracle(), tags=("ml", "eval", "llm", "iterative"))
def bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise wins — the arena-
    leaderboard model (Chatbot-Arena-style): sources play the models,
    and within each (lang, {BT_BUCKET_TOKENS}-token length bucket) block a
    source beats another when its document has strictly higher lexical
    diversity (distinct-token count — an exact integer, so win counts are
    unambiguous and ties contribute nothing). Ratings come from
    {BT_ITERS} minorization-maximization iterations
    p_i <- w_i / sum_j n_ij/(p_i+p_j), renormalized each step, with +0.5
    Laplace smoothing per ordered pair so the win graph is dense and
    every rating stays positive.

    Execution follows the bounded-model precedent (Markov absorption,
    PCA): the corpus pass reduces to the <= sources^2 win matrix (block-
    local pair join — never cross-block), which collects to the driver
    for the MM loop; the DuckDB oracle unrolls the IDENTICAL iterations
    as chained CTEs. Determinism: the two order-sensitive sums per
    iteration (the 19-term pivot sum and the normalizer) fold over
    EXPLICITLY ORDERED lists on both engines (sorted by opponent /
    source name — DuckDB list(x ORDER BY y) + list_sum, Python sorted()),
    so every intermediate double is bit-identical; state rounds at 12 dp
    each step, output at 6. Scale: the block pair join is sum of block^2
    — blocks are (lang x length) bounded; in production the block join
    samples, exactly like SemDeDup's clusters."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ds = docs.select(
        "source",
        "lang",
        (F.size(toks) / BT_BUCKET_TOKENS).cast("long").alias("bkt"),
        F.size(F.array_distinct(toks)).alias("score"),
    )
    a = ds.select("lang", "bkt", F.col("source").alias("si"), F.col("score").alias("sa"))
    b = ds.select("lang", "bkt", F.col("source").alias("sj"), F.col("score").alias("sb"))
    wins_rows = (
        a.join(b, ["lang", "bkt"])
        .filter((F.col("si") != F.col("sj")) & (F.col("sa") > F.col("sb")))
        .groupBy("si", "sj")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()  # <= sources^2 rows — O(model), never O(docs)
    )
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    srcs = sorted(r["source"] for r in docs.select("source").distinct().collect())
    wins = {(r["si"], r["sj"]): r["w"] for r in wins_rows}
    dw = {(i, j): wins.get((i, j), 0) + 0.5 for i in srcs for j in srcs if i != j}
    n = {(i, j): dw[(i, j)] + dw[(j, i)] for i in srcs for j in srcs if i != j}
    w_total = {i: sum(dw[(i, j)] for j in srcs if j != i) for i in srcs}
    p = {i: 1.0 / len(srcs) for i in srcs}
    for _ in range(BT_ITERS):
        raw = {}
        for i in srcs:
            denom = 0.0
            for j in srcs:  # srcs is sorted — same fold order as the oracle
                if j != i:
                    denom += n[(i, j)] / (p[i] + p[j])
            raw[i] = rnd(w_total[i] / denom, 12)
        z = 0.0
        for i in srcs:
            z += raw[i]
        p = {i: rnd(raw[i] / z, 12) for i in srcs}
    ranked = sorted(srcs, key=lambda s: (-p[s], s))
    raw_wins = {i: sum(w for (si, _), w in wins.items() if si == i) for i in srcs}
    rows = [
        (s, rnd(p[s], 6), int(raw_wins[s]), rk + 1) for rk, s in enumerate(ranked)
    ]
    return spark.createDataFrame(rows, "source string, bt_rating double, n_wins long, rnk long")


# ---------------------------------------------------------------------------
# q_lift_gains — cumulative gains / lift at score-bucket cutoffs
# ---------------------------------------------------------------------------

LIFT_BUCKET = 25000.0
LIFT_MAX_BUCKET = 20


@query(
    "q_lift_gains",
    oracle=f"""
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / {LIFT_BUCKET}), {LIFT_MAX_BUCKET}) AS BIGINT) AS bkt,
             sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS pos,
             count(*) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(pos) AS p, sum(n) AS nt FROM b),
    cum AS (
      SELECT a.bkt,
             sum(c.pos) AS cum_pos,
             sum(c.n) AS cum_n
      FROM b a JOIN b c ON c.bkt >= a.bkt
      GROUP BY a.bkt
    )
    SELECT CAST(cum.bkt * {LIFT_BUCKET} AS DOUBLE) AS score_cutoff,
           CAST(cum.cum_n AS BIGINT) AS n_targeted,
           CAST(cum.cum_pos AS BIGINT) AS pos_captured,
           round(cum.cum_n * 1.0 / tot.nt, 6) AS frac_targeted,
           round(cum.cum_pos * 1.0 / tot.p, 6) AS gains,
           round((cum.cum_pos * 1.0 / tot.p) / (cum.cum_n * 1.0 / tot.nt), 6) AS lift
    FROM cum CROSS JOIN tot
    """,
    tags=("ml", "eval"),
)
def lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift at descending score cutoffs (target
    everyone with order value >= cutoff): fraction of the population
    targeted, fraction of positives captured (the gains curve), and lift
    = gains / frac_targeted — the campaign-targeting companion of
    q_roc_curve (same bucketed machinery, marketing-facing coordinates:
    "the top 20% by score captures X% of responders at Y x random").

    Scale: the q_roc_curve posture — ONE map-side-combinable groupBy to
    O(buckets) integer counts, then suffix sums via a tiny bucket-pair
    join; ratios of exact integers rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    b = orders.groupBy(
        F.least(F.floor(F.col("o_totalprice") / LIFT_BUCKET), F.lit(LIFT_MAX_BUCKET))
        .cast("long")
        .alias("bkt")
    ).agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).alias("pos"),
        F.count(F.lit(1)).alias("n"),
    )
    tot = b.agg(F.sum("pos").alias("p"), F.sum("n").alias("nt"))
    a = b.select(F.col("bkt").alias("cut"))
    cum = (
        a.join(F.broadcast(b), F.col("bkt") >= F.col("cut"))
        .groupBy("cut")
        .agg(F.sum("pos").alias("cum_pos"), F.sum("n").alias("cum_n"))
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        (F.col("cut") * LIFT_BUCKET).cast("double").alias("score_cutoff"),
        F.col("cum_n").cast("long").alias("n_targeted"),
        F.col("cum_pos").cast("long").alias("pos_captured"),
        F.round(F.col("cum_n") * 1.0 / F.col("nt"), 6).alias("frac_targeted"),
        F.round(F.col("cum_pos") * 1.0 / F.col("p"), 6).alias("gains"),
        F.round(
            (F.col("cum_pos") * 1.0 / F.col("p")) / (F.col("cum_n") * 1.0 / F.col("nt")), 6
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# q_brier_decomposition — Murphy decomposition of the Brier score
# ---------------------------------------------------------------------------

_BRIER_F_SQL = """CASE substr(o_orderpriority, 1, 1)
             WHEN '1' THEN 0.9 WHEN '2' THEN 0.7 WHEN '3' THEN 0.5
             WHEN '4' THEN 0.3 ELSE 0.1 END"""


sql_query(
    "q_brier_decomposition",
    f"""
    WITH r AS (
      SELECT CAST({_BRIER_F_SQL} AS DOUBLE) AS f,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    b AS (
      SELECT f, count(*) AS nk, sum(y) AS yk FROM r GROUP BY f
    ),
    tot AS (SELECT sum(nk) AS n, sum(yk) AS ny FROM b),
    parts AS (
      SELECT tot.n, tot.ny * 1e0 / tot.n AS obar,
             sum(b.nk * (b.f - b.yk * 1e0 / b.nk) * (b.f - b.yk * 1e0 / b.nk)) / tot.n
               AS reliability,
             sum(b.nk * (b.yk * 1e0 / b.nk - tot.ny * 1e0 / tot.n)
                       * (b.yk * 1e0 / b.nk - tot.ny * 1e0 / tot.n)) / tot.n
               AS resolution
      FROM b CROSS JOIN tot GROUP BY tot.n, tot.ny
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(obar, 6) AS base_rate,
           round(reliability, 6) AS reliability,
           round(resolution, 6) AS resolution,
           round(obar * (1.0 - obar), 6) AS uncertainty,
           round(reliability - resolution + obar * (1.0 - obar), 6) AS brier_score
    FROM parts
    """,
    tags=("ml", "eval", "calibration"),
    doc="""Murphy decomposition of the Brier score for a 5-level probability
    forecaster (priority digit mapped to P(order finished)):
    Brier = reliability - resolution + uncertainty, where reliability
    punishes miscalibration (forecast vs realized rate per bin),
    resolution rewards bins that separate outcomes, and uncertainty is
    the irreducible base-rate variance — the decomposition that says WHY
    a probabilistic score is bad, where q_calibration_bins only shows the
    reliability diagram and q_brier-less accuracy metrics can't
    distinguish sharp-but-wrong from vague-but-calibrated.

    Scale: one (forecast-bin) integer aggregate; the identity
    brier = rel - res + unc is exact in this binned form (verified by
    construction — the output computes the right side). All closed forms
    of integer counts, rounded at 6.""",
)


# ---------------------------------------------------------------------------
# q_conformal_interval — split-conformal prediction interval + coverage
# ---------------------------------------------------------------------------

CONF_ALPHA = 0.1  # target 90% coverage


@query(
    "q_conformal_interval",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey, o_orderkey % 3 AS fold,
             (year(o_orderdate) - 1998) * 12.0 / 42.0
               + (month(o_orderdate) - 1) / 42.0 AS x1,
             (CAST(substr(o_orderpriority, 1, 1) AS INT) - 3.0) / 2.0 AS x2,
             o_totalprice / 500000.0 AS y
      FROM orders
    ),
    mo AS (
      SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
             sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
      FROM f WHERE fold = 0
    ),
    c AS (
      SELECT s11 - s1 * s1 / n AS c11, s12 - s1 * s2 / n AS c12,
             s22 - s2 * s2 / n AS c22, s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y,
             s1 / n AS m1, s2 / n AS m2, sy / n AS my
      FROM mo
    ),
    beta AS (
      SELECT m1, m2, my,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      FROM c
    ),
    resid AS (
      SELECT f.o_orderkey, f.fold,
             round(abs(f.y - (beta.my + beta.b1 * (f.x1 - beta.m1)
                              + beta.b2 * (f.x2 - beta.m2))), 8) AS ar
      FROM f CROSS JOIN beta WHERE f.fold IN (1, 2)
    ),
    cal AS (
      SELECT ar, row_number() OVER (ORDER BY ar, o_orderkey) AS rn,
             count(*) OVER () AS n_cal
      FROM resid WHERE fold = 1
    ),
    qhat AS (
      SELECT n_cal,
             min(CASE WHEN rn = least(CAST(ceil((n_cal + 1) * {1 - CONF_ALPHA}) AS BIGINT), n_cal)
                      THEN ar END) AS q
      FROM cal GROUP BY n_cal
    )
    SELECT CAST(qhat.n_cal AS BIGINT) AS n_calibration,
           round(qhat.q, 8) AS qhat_halfwidth,
           CAST(count(*) AS BIGINT) AS n_test,
           round(sum(CASE WHEN r.ar <= qhat.q THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS test_coverage,
           {1 - CONF_ALPHA} AS target_coverage
    FROM resid r CROSS JOIN qhat
    WHERE r.fold = 2
    GROUP BY qhat.n_cal, qhat.q
    """,
    tags=("ml", "eval", "uncertainty"),
)
def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the order-value regression
    (the q_ridge_path feature set at lambda = 0): fit on fold 0,
    calibrate the half-width as the ceil((n+1)(1-alpha))-th smallest
    absolute residual on fold 1 — the finite-sample-valid quantile, NOT
    the naive empirical one — and report realized coverage on held-out
    fold 2. Conformal's guarantee (coverage >= 1 - alpha for ANY model,
    any distribution, under exchangeability) is the distribution-free
    uncertainty statement q_dkw_band makes for CDFs, here for
    per-prediction intervals — the modern UQ layer over the point models.

    Scale: one moment aggregate (fit) + one residual pass with the 1-row
    beta relation broadcast; the order statistic comes from the
    two-phase global rank (no single-partition window Spark-side), with
    residuals rounded at 8 before ranking and the order key as tie-break
    so the selected value is engine-exact; coverage is an integer
    count."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    f = orders.select(
        "o_orderkey",
        (F.col("o_orderkey") % 3).alias("fold"),
        (
            (F.year("o_orderdate") - 1998) * 12.0 / 42.0
            + (F.month("o_orderdate") - 1) / 42.0
        ).alias("x1"),
        ((F.substring("o_orderpriority", 1, 1).cast("int") - 3.0) / 2.0).alias("x2"),
        (F.col("o_totalprice") / 500000.0).alias("y"),
    )
    mo = f.filter(F.col("fold") == 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n").cast("double")
    c = mo.select(
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("c11"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("c12"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("c22"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("c2y"),
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
        (F.col("sy") / n).alias("my"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    beta = c.select(
        "m1",
        "m2",
        "my",
        ((F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det).alias("b1"),
        ((F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det).alias("b2"),
    )
    resid = (
        f.filter(F.col("fold").isin(1, 2))
        .crossJoin(F.broadcast(beta))
        .select(
            "o_orderkey",
            "fold",
            F.round(
                F.abs(
                    F.col("y")
                    - (
                        F.col("my")
                        + F.col("b1") * (F.col("x1") - F.col("m1"))
                        + F.col("b2") * (F.col("x2") - F.col("m2"))
                    )
                ),
                8,
            ).alias("ar"),
        )
    )
    cal = resid.filter(F.col("fold") == 1)
    n_cal = cal.count()  # O(1) driver scalar — sizes the conformal rank
    import math

    k = min(int(math.ceil((n_cal + 1) * (1 - CONF_ALPHA))), n_cal)
    ranked = global_row_number(cal, [F.col("ar").asc(), F.col("o_orderkey").asc()], rn_col="rn")
    qhat = ranked.filter(F.col("rn") == k).select(F.col("ar").alias("q"))
    test = resid.filter(F.col("fold") == 2).crossJoin(F.broadcast(qhat))
    return test.groupBy("q").agg(
        F.lit(n_cal).cast("long").alias("n_calibration"),
        F.round(F.first("q"), 8).alias("qhat_halfwidth"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(
            F.sum(F.when(F.col("ar") <= F.col("q"), 1).otherwise(0)) * 1.0 / F.count(F.lit(1)),
            6,
        ).alias("test_coverage"),
        F.lit(1 - CONF_ALPHA).alias("target_coverage"),
    ).drop("q")


# ---------------------------------------------------------------------------
# q_mutual_information — MI / NMI between two categorical columns
# ---------------------------------------------------------------------------

_MI_SQL = """
    WITH obs AS (
      SELECT r.r_name AS a, o.o_orderpriority AS b
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    jt AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nij FROM obs GROUP BY a, b),
    ma AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ni FROM jt GROUP BY a),
    mb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS nj FROM jt GROUP BY b),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM jt),
    mi AS (
      SELECT round(sum(CAST(round((jt.nij * 1e0 / tot.n)
                       * ln(jt.nij * 1e0 * tot.n / (ma.ni * 1e0 * mb.nj))
                       * 1e12) AS BIGINT)) * 1.0 / 1e12, 6)
               AS mi_nats,
             max(tot.n) AS n
      FROM jt JOIN ma ON jt.a = ma.a JOIN mb ON jt.b = mb.b CROSS JOIN tot
    ),
    ha AS (SELECT round(sum(CAST(round(-((ni * 1e0 / tot.n) * ln(ni * 1e0 / tot.n))
                                 * 1e12) AS BIGINT)) * 1.0 / 1e12, 6) AS h
           FROM ma CROSS JOIN tot),
    hb AS (SELECT round(sum(CAST(round(-((nj * 1e0 / tot.n) * ln(nj * 1e0 / tot.n))
                                 * 1e12) AS BIGINT)) * 1.0 / 1e12, 6) AS h
           FROM mb CROSS JOIN tot)
    SELECT CAST(mi.n AS BIGINT) AS n,
           mi.mi_nats,
           ha.h AS h_region,
           hb.h AS h_priority,
           round(mi.mi_nats / sqrt(ha.h * hb.h), 6) AS nmi,
           round(2 * mi.n * mi.mi_nats, 4) AS g_statistic
    FROM mi CROSS JOIN ha CROSS JOIN hb
"""


@query("q_mutual_information", oracle=_MI_SQL, tags=("stats", "ml"))
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between customer region and order priority:
    I = sum p_ij ln(p_ij / (p_i p_j)) with marginal entropies and the
    normalized MI I/sqrt(H_a H_b) — the model-free dependence measure
    feature selection ranks by (q_woe_iv is the binary-target special
    case; q_chi2_independence tests the same table, and G = 2N*I IS its
    likelihood-ratio twin, reported for the cross-check). Zero cells
    contribute zero by construction (the join enumerates observed cells
    only), matching the MLE plug-in estimator.

    Determinism: every probability is a ratio of exact BIGINT counts;
    the MI sum spans the <= 25-cell contingency relation and rounds at
    6 (the q_kruskal_wallis small-sum posture); NMI divides already-
    rounded entropies. Scale: one fact shuffle to the contingency
    table; everything after is O(cells)."""
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
        .select(F.col("r_name").alias("a"), F.col("o_orderpriority").alias("b"))
    )
    jt = obs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("nij"))
    jt = jt.localCheckpoint()  # O(cells); feeds marginals + MI + entropies
    ma = jt.groupBy("a").agg(F.sum("nij").cast("long").alias("ni"))
    mb = jt.groupBy("b").agg(F.sum("nij").cast("long").alias("nj"))
    tot = jt.agg(F.sum("nij").cast("long").alias("n"))
    # 1e-12-grain BIGINT snap per contingency term (round-6 window rule):
    # each term is identical on both engines (ratios of exact counts, one
    # ln), so the snapped sums are exact in any order — the old raw double
    # sums could flip at the 6-dp round boundary.
    mi = (
        jt.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("nij") * F.lit(1.0) / F.col("n"))
                        * F.log(
                            F.col("nij")
                            * F.lit(1.0)
                            * F.col("n")
                            / (F.col("ni") * F.lit(1.0) * F.col("nj"))
                        )
                        * 1e12
                    ).cast("long")
                )
                * F.lit(1.0)
                / 1e12,
                6,
            ).alias("mi_nats"),
            F.max("n").alias("n"),
        )
    )
    ha = ma.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(
                F.round(
                    -(
                        (F.col("ni") * F.lit(1.0) / F.col("n"))
                        * F.log(F.col("ni") * F.lit(1.0) / F.col("n"))
                    )
                    * 1e12
                ).cast("long")
            )
            * F.lit(1.0)
            / 1e12,
            6,
        ).alias("h_region")
    )
    hb = mb.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(
                F.round(
                    -(
                        (F.col("nj") * F.lit(1.0) / F.col("n"))
                        * F.log(F.col("nj") * F.lit(1.0) / F.col("n"))
                    )
                    * 1e12
                ).cast("long")
            )
            * F.lit(1.0)
            / 1e12,
            6,
        ).alias("h_priority")
    )
    return (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("n").cast("long").alias("n"),
            "mi_nats",
            "h_region",
            "h_priority",
            F.round(
                F.col("mi_nats") / F.sqrt(F.col("h_region") * F.col("h_priority")), 6
            ).alias("nmi"),
            F.round(2 * F.col("n") * F.col("mi_nats"), 4).alias("g_statistic"),
        )
    )
