"""Portable mergeable sketches and scale diagnostics: HLL, KMV, histogram quantiles, Bloom semi-join, cardinality/skew reports.

Carved out of operators/analytics2.py (round-2 wave 4-5) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 6 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_join_cardinality_estimate",
    oracle="""
    WITH li AS (
      SELECT count(*) AS n, count(DISTINCT l_orderkey) AS ndv FROM lineitem
    ),
    o AS (
      SELECT count(*) AS n, count(DISTINCT o_orderkey) AS ndv FROM orders
    ),
    c AS (
      SELECT count(*) AS n, count(DISTINCT c_custkey) AS ndv FROM customer
    ),
    oc AS (
      SELECT count(*) AS n, count(DISTINCT o_custkey) AS ndv FROM orders
    ),
    actuals AS (
      SELECT 'orders_lineitem' AS join_name,
             (SELECT count(*) FROM orders o2 JOIN lineitem l2
               ON o2.o_orderkey = l2.l_orderkey) AS actual,
             li.n * o.n / greatest(li.ndv, o.ndv) AS est
      FROM li CROSS JOIN o
      UNION ALL
      SELECT 'customer_orders' AS join_name,
             (SELECT count(*) FROM customer c2 JOIN orders o3
               ON c2.c_custkey = o3.o_custkey) AS actual,
             c.n * oc.n / greatest(c.ndv, oc.ndv) AS est
      FROM c CROSS JOIN oc
    )
    SELECT join_name,
           CAST(actual AS BIGINT) AS actual_rows,
           CAST(est AS BIGINT)    AS estimated_rows,
           round((est - actual) * 1e0 / actual, 4) AS rel_error
    FROM actuals
    """,
    tags=("analytics", "scale", "optimizer"),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-model machinery surfaced as a query: the textbook equi-join
    cardinality estimate |A⋈B| ≈ |A|·|B| / max(ndv_A, ndv_B) (the
    containment/uniformity assumption every CBO — Catalyst's stats
    included — starts from) computed next to the TRUE join cardinality,
    with the relative error a planner would have eaten. PK-FK joins
    estimate exactly (error 0 — both here); skewed or filtered keys are
    where it breaks, which is what this harness exists to measure before
    trusting a broadcast decision at 100 TB. Integer division order is
    pinned: n·n/ndv as BIGINT math truncated identically via CAST.
    Scale: counts and NDVs are single-pass aggregates; the actual-count
    joins are the very joins being estimated."""
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def stats(df, col):
        r = df.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct(col).alias("ndv")
        ).collect()[0]
        return int(r["n"]), int(r["ndv"])

    n_li, ndv_li = stats(li, "l_orderkey")
    n_o, ndv_o = stats(orders, "o_orderkey")
    n_c, ndv_c = stats(cust, "c_custkey")
    _, ndv_oc = stats(orders, "o_custkey")
    actual_ol = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    actual_co = cust.join(orders, cust.c_custkey == orders.o_custkey).count()
    est_ol = n_li * n_o // max(ndv_li, ndv_o)
    est_co = n_c * n_o // max(ndv_c, ndv_oc)
    rows = [
        ("orders_lineitem", actual_ol, est_ol, rnd((est_ol - actual_ol) / actual_ol, 4)),
        ("customer_orders", actual_co, est_co, rnd((est_co - actual_co) / actual_co, 4)),
    ]
    return spark.createDataFrame(
        rows, "join_name string, actual_rows long, estimated_rows long, rel_error double"
    )


@query(
    "q_data_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT 'lineitem.l_orderkey' AS key_name, l_orderkey AS k FROM lineitem
      UNION ALL SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
      UNION ALL SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
      UNION ALL SELECT 'orders.o_custkey', o_custkey FROM orders
      UNION ALL SELECT 'events.user_id', user_id FROM events
    ),
    groups AS (
      SELECT key_name, k, count(*) AS cnt FROM per_key GROUP BY key_name, k
    )
    SELECT
      key_name,
      CAST(sum(cnt) AS BIGINT)             AS n_rows,
      CAST(count(*) AS BIGINT)             AS ndv,
      CAST(max(cnt) AS BIGINT)             AS max_group,
      round(sum(cnt) * 1e0 / count(*), 4)  AS avg_group,
      round(max(cnt) * count(*) * 1e0 / sum(cnt), 4) AS skew_ratio
    FROM groups GROUP BY key_name
    """,
    tags=("analytics", "scale", "quality"),
)
def data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the report you run BEFORE choosing
    between a plain shuffle join, AQE skew splitting, and explicit
    salting (q_salted_join): for each join-key candidate, the row count,
    distinct keys, the largest single key's group, and the skew ratio
    max/avg (1.0 = uniform; an executor-breaking hot key shows up as a
    large multiple). Everything is exact integer counts with two exact-
    integer ratios at the end. Scale: one groupBy per key column — the
    same shuffles the real joins would do, so the report costs one pass
    of what it protects; group relations are ndv-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    sources = [
        ("lineitem.l_orderkey", li.select(F.col("l_orderkey").alias("k"))),
        ("lineitem.l_partkey", li.select(F.col("l_partkey").alias("k"))),
        ("lineitem.l_suppkey", li.select(F.col("l_suppkey").alias("k"))),
        ("orders.o_custkey", orders.select(F.col("o_custkey").alias("k"))),
        ("events.user_id", ev.select(F.col("user_id").alias("k"))),
    ]
    per_key = None
    for name, df in sources:
        tagged = df.select(F.lit(name).alias("key_name"), "k")
        per_key = tagged if per_key is None else per_key.unionByName(tagged)
    groups = per_key.groupBy("key_name", "k").agg(F.count(F.lit(1)).alias("cnt"))
    return groups.groupBy("key_name").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
        F.max("cnt").cast("long").alias("max_group"),
        F.round(F.sum("cnt") * F.lit(1.0) / F.count(F.lit(1)), 4).alias("avg_group"),
        F.round(F.max("cnt") * F.count(F.lit(1)) * F.lit(1.0) / F.sum("cnt"), 4).alias(
            "skew_ratio"
        ),
    )


# Portable HyperLogLog over md5 bits: m = 256 buckets (b = 8), register =
# max leading-zero run of the remaining 120 bits (+1), capped at 40 so the
# harmonic sum scales to an EXACT BIGINT (Σ 2^(40−M) ≤ 256·2^40 ≈ 2.8e14).
# The nibble→leading-zeros map and the md5 of the key's decimal string are
# engine-independent, so Spark and DuckDB build bit-identical registers —
# unlike the engines' native HLLs (q_approx_distinct stays rows-only for
# exactly that reason). One SQL text runs verbatim on both engines.
_HLL_SQL = """
    WITH h AS (
      SELECT md5(CAST(user_id AS STRING)) AS hx FROM events
    ),
    nib AS (
      SELECT
        (instr('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
          + instr('0123456789abcdef', substring(hx, 2, 1)) - 1 AS bucket,
        length(regexp_extract(substring(hx, 3, 30), '^(0*)', 1))  AS zn,
        substring(hx, 3 + length(regexp_extract(substring(hx, 3, 30), '^(0*)', 1)), 1) AS fc
      FROM h
    ),
    rho AS (
      SELECT bucket,
             LEAST(4 * zn
                   + CASE WHEN fc = '' THEN 4
                          WHEN fc = '1' THEN 3
                          WHEN fc IN ('2', '3') THEN 2
                          WHEN fc IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END
                   + 1,
                   40) AS r
      FROM nib
    ),
    regs AS (SELECT bucket, max(r) AS m FROM rho GROUP BY bucket),
    s AS (
      SELECT
        CAST(count(*) AS BIGINT) AS hit,
        CAST(sum(CAST(pow(2e0, 40 - m) AS BIGINT)) AS BIGINT) AS hit_sum
      FROM regs
    ),
    est AS (
      SELECT
        hit,
        256 - hit AS v,
        hit_sum + (256 - hit) * CAST(pow(2e0, 40) AS BIGINT) AS s_total
      FROM s
    ),
    raw AS (
      SELECT hit, v,
             (0.7213e0 / (1e0 + 1.079e0 / 256e0)) * 65536e0 * pow(2e0, 40)
               / s_total AS e_raw
      FROM est
    ),
    final AS (
      SELECT hit, v,
             CASE WHEN e_raw <= 640e0 AND v > 0
                  THEN 256e0 * ln(256e0 / v)
                  ELSE e_raw END AS e
      FROM raw
    ),
    truth AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct FROM events)
    SELECT
      f.hit                                   AS n_buckets_hit,
      round(f.e, 4)                           AS hll_estimate,
      t.exact_distinct,
      round(abs(f.e - t.exact_distinct) / t.exact_distinct, 6) AS rel_error
    FROM final f CROSS JOIN truth t
"""


sql_query(
    "q_hll_distinct", _HLL_SQL, tags=("aggregate", "sketch", "approx"),
    doc="""A4 upgraded to a full value-hash oracle: HyperLogLog distinct-count
    of event users built from PORTABLE md5-derived registers (b = 8 →
    m = 256 buckets; register = leading-zero run of the next 120 bits + 1,
    capped at 40). The harmonic mean is computed as an exact integer —
    Σ 2^(40−M_j) in BIGINT — so no order-dependent double summation exists
    and both engines produce the bit-identical estimate, including the
    standard linear-counting correction below 5m/2 with empty buckets.
    The exact distinct count rides along for the relative-error report —
    the events table has only ~150 distinct users, so it is the
    linear-counting branch that actually fires (4.2%% error at sf0.01;
    theory says ~1.04/√256 ≈ 6.5%% for the raw estimator). Scale: the
    sketch is 256 registers regardless of input size — map + groupBy(256)
    + two scalar rows; this is the mergeable-sketch shape that replaces
    exact COUNT DISTINCT at 100 TB.""",
)


# KMV (k-minimum-values) sketch with set algebra: keep the k = 64 smallest
# md5 values per cohort; the k-th smallest value estimates cardinality
# ((k−1)/u_k), and — unlike HLL — two sketches compose to an INTERSECTION
# estimate via the Jaccard of their merged top-k. Hash values are the first
# 12 md5 nibbles assembled into an exact 48-bit BIGINT (nibble lookup ×
# exact powers of 16), so ordering and ratios are engine-identical. When
# the merged sketch holds fewer than k values it has seen the whole set and
# degrades to exact counting (k_eff guard) — which is what the sf0.001
# smoke grain exercises (15 users/cohort).
_KMV_SQL = """
    WITH pos AS (
      SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12)) AS t(p)
    ),
    cohorts AS (
      SELECT DISTINCT 'click' AS cohort, user_id FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT DISTINCT 'purchase' AS cohort, user_id FROM events WHERE event_type = 'purchase'
    ),
    hashed AS (
      SELECT cohort, user_id, md5(CAST(user_id AS STRING)) AS hx FROM cohorts
    ),
    vals AS (
      SELECT cohort, user_id,
             CAST(sum((instr('0123456789abcdef', substring(hx, p, 1)) - 1)
                      * CAST(pow(16e0, 12 - p) AS BIGINT)) AS BIGINT) AS val
      FROM hashed CROSS JOIN pos
      GROUP BY cohort, user_id, hx
    ),
    topk AS (
      SELECT cohort, val,
             row_number() OVER (PARTITION BY cohort ORDER BY val) AS rn
      FROM vals
    ),
    ak AS (SELECT val FROM topk WHERE cohort = 'click' AND rn <= 64),
    bk AS (SELECT val FROM topk WHERE cohort = 'purchase' AND rn <= 64),
    merged AS (
      SELECT DISTINCT val FROM (SELECT val FROM ak UNION ALL SELECT val FROM bk) u
    ),
    mk AS (
      SELECT val, row_number() OVER (PARTITION BY 1 ORDER BY val) AS rn FROM merged
    ),
    m64 AS (SELECT val FROM mk WHERE rn <= 64),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_m, max(val) AS kth FROM m64
    ),
    rho AS (
      SELECT CAST(count(*) AS BIGINT) AS inter_k
      FROM m64
      WHERE val IN (SELECT val FROM ak) AND val IN (SELECT val FROM bk)
    ),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_overlap
      FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') a
      JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') b
        USING (user_id)
    ),
    est AS (
      SELECT
        r.inter_k,
        s.n_m,
        CASE WHEN s.n_m < 64 THEN s.n_m * 1e0
             ELSE 63e0 * pow(2e0, 48) / s.kth END AS est_union
      FROM rho r CROSS JOIN stats s
    )
    SELECT
      inter_k,
      n_m                                                        AS n_sketch,
      round(est_union, 4)                                        AS est_union,
      round(inter_k * est_union / LEAST(64, n_m), 4)             AS est_overlap,
      e.exact_overlap,
      round(abs(inter_k * est_union / LEAST(64, n_m) - e.exact_overlap)
            / e.exact_overlap, 6)                                AS rel_error
    FROM est CROSS JOIN exact e
"""


sql_query(
    "q_kmv_overlap", _KMV_SQL, tags=("aggregate", "sketch", "approx"),
    doc="""KMV sketch set-algebra: estimate |clickers ∩ purchasers| from two
    64-minimum-value sketches — the intersection estimate HLL structurally
    cannot give (q_hll_distinct is the cardinality twin). ρ = share of the
    merged top-k present in both cohort sketches, est = ρ · est_union with
    (k−1)/u_k as the union estimator; all hash material is an exact 48-bit
    integer from md5 nibbles so both engines order and divide identically,
    and a sketch smaller than k degrades to exact counting (k_eff guard —
    the sf0.001 grain has 15 users/cohort and exercises it). Scale: the
    only unbounded work is one distinct per cohort; every window beyond it
    runs on ≤64-row relations (the constant-partition window is bounded by
    construction). Sketches of this shape merge associatively across
    partitions/days — the production path for overlap dashboards at
    100 TB. One SQL text runs verbatim on both engines.""",
)


# Mergeable equi-width histogram quantile sketch: 256 buckets of $2,000
# over [0, 512k) cover the o_totalprice domain; per-bucket counts are exact
# BIGINTs (trivially mergeable across partitions/days — the production
# percentile path at 100 TB), and the p-quantile is linearly interpolated
# inside the bucket where the cumulative count crosses p·n. Identical
# integer counts + identical interpolation expression → engine-identical
# estimates. Completes the portable-sketch trio: q_hll_distinct
# (cardinality), q_kmv_overlap (set algebra), this (quantiles).
_HISTQ_SQL = """
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / 2000e0), 255e0) AS BIGINT) AS bucket
      FROM orders
    ),
    counts AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, cnt,
             CAST(coalesce(sum(cnt) OVER (
               PARTITION BY 1 ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_below
      FROM counts
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
    ps AS (SELECT * FROM (VALUES (50), (95), (99)) AS t(p)),
    crossing AS (
      SELECT ps.p, min(cum.bucket) AS bucket
      FROM ps CROSS JOIN n JOIN cum
        ON cum.cum_below + cum.cnt >= ps.p * n.n / 100e0
      GROUP BY ps.p
    )
    SELECT CAST(cr.p AS BIGINT) AS p,
           round(cum2.bucket * 2000e0
                 + 2000e0 * (cr.p * n.n / 100e0 - cum2.cum_below) / cum2.cnt,
                 4) AS est_value
    FROM crossing cr
    JOIN cum cum2 ON cr.bucket = cum2.bucket
    CROSS JOIN n
"""


sql_query(
    "q_hist_quantile_sketch", _HISTQ_SQL, tags=("aggregate", "sketch", "approx"),
    doc="""Approximate p50/p95/p99 of order value from a 256-bucket equi-width
    histogram sketch — the mergeable alternative to an exact distributed
    percentile (q_percentiles) and the portable alternative to the
    engine-native t-digest (q_approx_percentile, rows-only for exactly
    that reason). Per-bucket counts are exact and mergeable; the estimate
    interpolates linearly inside the crossing bucket, so worst-case error
    is the $2,000 bucket width (~0.4%% of the domain). The cumulative
    window runs on ≤256 rows (constant-partition window, bounded by
    construction). One SQL text runs verbatim on both engines.""",
)


@query(
    "q_bloom_semi_join",
    oracle="""
    SELECT
      l.l_returnflag,
      CAST(count(*) AS BIGINT) AS n_items,
      CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        AS revenue_cents
    FROM lineitem l
    WHERE l.l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l.l_returnflag
    """,
    tags=("join", "scale-pattern"),
)
def bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filtered semi-join: revenue of lineitems belonging
    to urgent orders, where the probe side is first thinned by a
    DataFrame-native Bloom filter — m = 2^16 bits as a 1024-row
    (word, bits) relation built with bit_or aggregation over k = 3
    xxhash64 positions per build key, broadcast to the probe, which keeps
    only rows whose 3 bits are all set before the EXACT semi-join. The
    oracle is the plain semi-join: Bloom filters have no false negatives
    and the exact join removes false positives, so the answer is
    identical by construction — which is also why the sketch internals
    are free to use engine-native xxhash64. Scale: this is the runtime-
    filter pattern AQE applies to shuffle joins — at 100 TB you broadcast
    an 8 KB bitset and drop most of the fact scan map-side instead of
    shuffling it; here the filter drops ~80%% of probe keys (urgent ≈ 1/5
    of orders). Locally the extra two narrow joins cost more than they
    save — the plan shape, not the sf0.1 wall-clock, is the deliverable
    (docstring-noted, bench excludes it)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    build = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")

    def positions(key_col):
        return [
            F.pmod(F.xxhash64(key_col, F.lit(i)), F.lit(65536)).cast("long") for i in range(3)
        ]

    bloom = (
        build.select(
            F.explode(F.array(*positions(F.col("o_orderkey")))).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    probe_keys = li.select("l_orderkey").distinct()
    probed = probe_keys
    for i in range(3):
        pos = F.pmod(F.xxhash64(F.col("l_orderkey"), F.lit(i)), F.lit(65536)).cast("long")
        probed = (
            probed.withColumn("pos", pos)
            .withColumn(f"w{i}", (F.col("pos") / 64).cast("long"))
            .withColumn(f"b{i}", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"))
            .drop("pos")
            .join(F.broadcast(bloom.withColumnRenamed("word", f"w{i}").withColumnRenamed("bits", f"bits{i}")), f"w{i}")
            .filter((F.col(f"b{i}").bitwiseAND(F.col(f"bits{i}"))) != 0)
            .drop(f"w{i}", f"b{i}", f"bits{i}")
        )
    candidates = probed  # ≥ true urgent keys; false positives removed below
    return (
        li.join(candidates, "l_orderkey")
        .join(build, li["l_orderkey"] == build["o_orderkey"], "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("revenue_cents"),
        )
    )


CMS_WIDTH, CMS_DEPTH = 16, 4  # width sized BELOW the ~60-token vocab so
# hash collisions actually occur and the overcount column is non-vacuous
# (at 256 columns every top-10 estimate was exact — proving nothing)


@query(
    "q_countmin_sketch",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cells AS (
      SELECT d.d AS row_id,
             ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || tok), 1, 4))::INT
               % {CMS_WIDTH} AS col_id,
             count(*) AS cnt
      FROM toks CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS d) d
      GROUP BY row_id, col_id
    ),
    truth AS (
      SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok
    ),
    top AS (
      SELECT tok, true_cnt FROM (
        SELECT tok, true_cnt,
               row_number() OVER (ORDER BY true_cnt DESC, tok) AS rn
        FROM truth
      ) WHERE rn <= 10
    ),
    est AS (
      SELECT t.tok, t.true_cnt, min(c.cnt) AS est_cnt
      FROM top t
      CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS d) d
      JOIN cells c
        ON c.row_id = d.d
       AND c.col_id = ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || t.tok), 1, 4))::INT
                      % {CMS_WIDTH}
      GROUP BY t.tok, t.true_cnt
    )
    SELECT tok,
           CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(est_cnt AS BIGINT)  AS est_cnt,
           CAST(est_cnt - true_cnt AS BIGINT) AS overcount
    FROM est
    """,
    tags=("sketch", "approx", "scale"),
)
def countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) with a FULL
    value-hash oracle — the portable-sketch posture of q_hll_distinct
    applied to frequency estimation: a {CMS_DEPTH}×{CMS_WIDTH} counter grid
    over md5-derived row hashes (deterministic, engine-reproducible), point
    queries answered by the row-wise minimum. Reported for the 10 most
    frequent tokens: true count, estimate, and the (always ≥0) overcount —
    the sketch's one-sided error made visible next to its ε=e/w bound.
    The grid is {CMS_DEPTH * CMS_WIDTH} counters REGARDLESS of corpus size
    and merges by cell-wise addition — the mergeable-state property that
    makes it the standard streaming/distributed heavy-hitter primitive.
    Scale: one token pass fans out ×{CMS_DEPTH} into a bounded-key groupBy;
    the probe side touches 10×{CMS_DEPTH} cells."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    fan = toks.select("tok", F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("row_id"))
    col = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("row_id"), F.col("tok"))), 1, 4), 16, 10
        ).cast("int")
        % CMS_WIDTH
    )
    cells = fan.withColumn("col_id", col).groupBy("row_id", "col_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    truth = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    top = (
        global_row_number(truth, [F.col("true_cnt").desc(), F.col("tok")], rn_col="rn")
        .filter(F.col("rn") <= 10)
        .select("tok", "true_cnt")
    )
    probe = top.select(
        "tok", "true_cnt", F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("row_id")
    ).withColumn("col_id", col)
    est = (
        probe.join(F.broadcast(cells), ["row_id", "col_id"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.select(
        "tok",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("overcount"),
    )
