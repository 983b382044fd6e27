"""Statistical tests and robust estimators: hypothesis tests, rank correlations, robust slopes/medians, survival, shrinkage.

Carved out of operators/analytics.py (round-2 wave 1-3) and operators/analytics2.py (round-2 wave 4-5) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 20 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_iqr_outliers",
    oracle="""
    WITH q AS (
      SELECT event_type,
             round(quantile_cont(value, 0.25), 6) AS q1,
             round(quantile_cont(value, 0.75), 6) AS q3
      FROM events GROUP BY event_type
    )
    SELECT
      e.event_type,
      count(*)                         AS n_outliers,
      round(min(e.value), 2)           AS min_outlier,
      round(max(e.value), 2)           AS max_outlier
    FROM events e
    JOIN q ON e.event_type = q.event_type
    WHERE e.value > q.q3 + 1.5 * (q.q3 - q.q1)
    GROUP BY e.event_type
    """,
    tags=("analytics", "stats", "events"),
)
def iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (Tukey IQR) outlier detection per event type: values above
    q3 + 1.5·IQR (the heavy-tailed events.value distribution — order prices
    have no Tukey outliers, checked). Quartiles use linear interpolation on
    both engines; each quartile is rounded to 6 dp BEFORE the threshold
    arithmetic so both engines compare against identical doubles
    (interpolation fractions are ∈ {0,.25,.5,.75} over 2-decimal values, so
    the rounded quartile is either exactly a value or ≥2.5e-3 away — no
    boundary flakiness). Scale: quartiles are one agg on the group key; the
    threshold relation is group-cardinality-sized and broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .filter(F.col("value") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.round(F.min("value"), 2).alias("min_outlier"),
            F.round(F.max("value"), 2).alias("max_outlier"),
        )
    )


@query(
    "q_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
               AS digit
      FROM orders
    ),
    obs AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY digit),
    n AS (SELECT count(*) AS total FROM digits)
    SELECT
      CAST(digit AS BIGINT)                                   AS digit,
      CAST(n_obs AS BIGINT)                                   AS n_obs,
      round(n_obs * 1.0 / (SELECT total FROM n), 6)           AS obs_freq,
      round(ln(1 + 1.0 / digit) / ln(10), 6)                  AS benford_freq
    FROM obs
    """,
    tags=("analytics", "finance", "stats"),
)
def benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraud analytics: leading-digit distribution of order totals vs
    Benford's law. The leading digit is taken from the INTEGER cents
    (round(x*100) → BIGINT → first character) — integer-to-string is
    byte-identical on both engines, avoiding the classic floor(log10(x))
    power-of-ten boundary hazard. One narrow map + a 9-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.expr(
        "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)"
    )
    digits = orders.select(digit.alias("digit"))
    totals = digits.agg(F.count(F.lit(1)).alias("total"))
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("digit").cast("long").alias("digit"),
            F.col("n_obs").cast("long").alias("n_obs"),
            F.round(F.col("n_obs") * 1.0 / F.col("total"), 6).alias("obs_freq"),
            F.round(F.log(1 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 6).alias(
                "benford_freq"
            ),
        )
    )


@query(
    "q_welch_ttest",
    oracle="""
    WITH assigned AS (
      SELECT
        (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
          AS grp,
        value
      FROM events WHERE event_type = 'purchase'
    ),
    m0 AS (
      SELECT
        count(CASE WHEN grp = 0 THEN 1 END)    AS n_a,
        count(CASE WHEN grp = 1 THEN 1 END)    AS n_b,
        sum(CASE WHEN grp = 0 THEN CAST(round(value * 100) AS BIGINT) END) AS sa,
        sum(CASE WHEN grp = 1 THEN CAST(round(value * 100) AS BIGINT) END) AS sb,
        sum(CASE WHEN grp = 0 THEN CAST(round(value * 100) AS HUGEINT)
                 * CAST(round(value * 100) AS BIGINT) END) AS saa,
        sum(CASE WHEN grp = 1 THEN CAST(round(value * 100) AS HUGEINT)
                 * CAST(round(value * 100) AS BIGINT) END) AS sbb
      FROM assigned
    ),
    m AS (
      SELECT n_a, n_b,
        CAST(sa AS DOUBLE) / n_a / 100 AS mean_a_raw,
        CAST(sb AS DOUBLE) / n_b / 100 AS mean_b_raw,
        (CAST(saa AS DOUBLE) / 1e4
         - n_a * (CAST(sa AS DOUBLE) / n_a / 100) * (CAST(sa AS DOUBLE) / n_a / 100))
          / (n_a - 1) AS var_a,
        (CAST(sbb AS DOUBLE) / 1e4
         - n_b * (CAST(sb AS DOUBLE) / n_b / 100) * (CAST(sb AS DOUBLE) / n_b / 100))
          / (n_b - 1) AS var_b
      FROM m0
    )
    SELECT
      n_a, n_b,
      round(mean_a_raw, 4) AS mean_a,
      round(mean_b_raw, 4) AS mean_b,
      round((mean_a_raw - mean_b_raw) / sqrt(var_a / n_a + var_b / n_b), 4) AS t_stat,
      round(
        pow(var_a / n_a + var_b / n_b, 2)
        / (pow(var_a / n_a, 2) / (n_a - 1) + pow(var_b / n_b, 2) / (n_b - 1)),
        2) AS df_welch
    FROM m
    """,
    tags=("analytics", "stats"),
)
def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's unequal-variance t-test on purchase
    values between two deterministic md5-assigned arms (first md5 nibble of
    user_id, parity — the salting-free hash assignment both engines can
    reproduce; Spark renders the nibble via conv(hex)%2, DuckDB via
    instr-nibble). Single-pass conditional aggregation — one scan, one
    1-row reduce, no shuffle beyond the global agg; t and Welch df are
    closed-form arithmetic over the moment sums."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    grp = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("long") % 2
    )
    # integer-moments rule: value is exact 2-dp — per-arm moments in cents
    vc = F.round(F.col("value") * 100).cast("long")
    m0 = ev.select(grp.alias("grp"), "value").agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, vc)).alias("sa"),
        F.sum(F.when(F.col("grp") == 1, vc)).alias("sb"),
        F.sum(F.when(F.col("grp") == 0, vc.cast("decimal(19,0)") * vc)).alias("saa"),
        F.sum(F.when(F.col("grp") == 1, vc.cast("decimal(19,0)") * vc)).alias("sbb"),
    )
    mean_a = F.col("sa").cast("double") / F.col("n_a") / 100
    mean_b = F.col("sb").cast("double") / F.col("n_b") / 100
    m = m0.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a_raw"),
        mean_b.alias("mean_b_raw"),
        (
            (F.col("saa").cast("double") / 1e4 - F.col("n_a") * mean_a * mean_a)
            / (F.col("n_a") - 1)
        ).alias("var_a"),
        (
            (F.col("sbb").cast("double") / 1e4 - F.col("n_b") * mean_b * mean_b)
            / (F.col("n_b") - 1)
        ).alias("var_b"),
    )
    se2_a = F.col("var_a") / F.col("n_a")
    se2_b = F.col("var_b") / F.col("n_b")
    return m.select(
        "n_a",
        "n_b",
        F.round("mean_a_raw", 4).alias("mean_a"),
        F.round("mean_b_raw", 4).alias("mean_b"),
        F.round((F.col("mean_a_raw") - F.col("mean_b_raw")) / F.sqrt(se2_a + se2_b), 4).alias(
            "t_stat"
        ),
        F.round(
            F.pow(se2_a + se2_b, 2)
            / (F.pow(se2_a, 2) / (F.col("n_a") - 1) + F.pow(se2_b, 2) / (F.col("n_b") - 1)),
            2,
        ).alias("df_welch"),
    )


@query(
    "q_winsorized_mean",
    oracle="""
    WITH cuts AS (
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.05) AS p05,
        quantile_cont(l_quantity, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT
      l.l_returnflag,
      count(*) AS n,
      count(CASE WHEN l.l_quantity < c.p05 THEN 1 END) AS n_clipped_low,
      count(CASE WHEN l.l_quantity > c.p95 THEN 1 END) AS n_clipped_high,
      round(avg(l.l_quantity), 4) AS raw_mean,
      round(CAST(sum(CAST(round(greatest(c.p05, least(c.p95, l.l_quantity)) * 1e6)
                          AS BIGINT)) AS DOUBLE) / count(*) / 1e6, 4)
        AS winsorized_mean
    FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
    GROUP BY l.l_returnflag
    """,
    tags=("analytics", "stats"),
)
def winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics: the 5/95 winsorized mean of order quantities per
    return flag — outliers clipped to the group percentiles, the standard
    heavy-tail-resistant location estimate. Quantities are integer-valued,
    so the interpolated percentiles agree bit-for-bit across engines
    (round-1 verified property). Percentile cuts are a 3-row relation
    broadcast back onto the fact scan — two passes, one shuffle each,
    group state bounded."""
    li = load_table(spark, sf_dir, "lineitem")
    cuts = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.05)").alias("p05"),
        F.expr("percentile(l_quantity, 0.95)").alias("p95"),
    )
    clipped = F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("l_quantity")))
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("l_quantity") < F.col("p05"), 1)).alias("n_clipped_low"),
            F.count(F.when(F.col("l_quantity") > F.col("p95"), 1)).alias("n_clipped_high"),
            F.round(F.avg("l_quantity"), 4).alias("raw_mean"),
            # integer-moments rule: clipped values are interpolated
            # percentile doubles — snap the mean's terms at a 1e-6 grain
            F.round(
                F.sum(F.round(clipped * 1e6).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 1e6,
                4,
            ).alias("winsorized_mean"),
        )
    )


_CHI2_SQL = """
    WITH joined AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    obs AS (SELECT seg, pri, count(*) AS n FROM joined GROUP BY seg, pri),
    rt AS (SELECT seg, count(*) AS nr FROM joined GROUP BY seg),
    ct AS (SELECT pri, count(*) AS nc FROM joined GROUP BY pri),
    tot AS (SELECT count(*) AS n FROM joined),
    cells AS (
      SELECT rt.seg, ct.pri,
        coalesce(obs.n, 0)               AS o_ij,
        rt.nr * ct.nc * 1e0 / tot.n      AS e_ij
      FROM rt CROSS JOIN ct CROSS JOIN tot
      LEFT JOIN obs ON obs.seg = rt.seg AND obs.pri = ct.pri
    )
    SELECT
      round(CAST(sum(CAST(round((o_ij - e_ij) * (o_ij - e_ij) / e_ij * 1e8)
                          AS DECIMAL(38,0))) AS DOUBLE) / 1e8, 4) AS chi2,
      CAST((count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1) AS BIGINT) AS dof,
      CAST(sum(o_ij) AS BIGINT)                            AS n_obs
    FROM cells
"""


sql_query(
    "q_chi2_independence", _CHI2_SQL, tags=("analytics", "stats"),
    doc="""Pearson chi-square independence test: market segment × order priority
    contingency table. The cell grid is COMPLETED by crossing the two
    margin relations (5×5) before left-joining observed counts — zero-
    observation cells still contribute their expected mass, the mistake a
    naive groupBy makes. All counts are exact integers; the statistic is
    one 25-row reduce. One SQL text runs verbatim on Spark and DuckDB.""",
)


_REGR_SQL = """
    SELECT
      p_brand,
      count(*)                                        AS n,
      round(regr_slope(p_retailprice, p_size), 6)     AS slope,
      round(regr_intercept(p_retailprice, p_size), 6) AS intercept,
      round(regr_r2(p_retailprice, p_size), 6)        AS r2
    FROM part
    GROUP BY p_brand
"""


sql_query(
    "q_regr_by_brand", _REGR_SQL, tags=("analytics", "stats"),
    doc="""Grouped OLS: per-brand price-on-size regression via the native
    regr_slope / regr_intercept / regr_r2 aggregates (both engines expose
    the SQL:2003 regr_* family; both accumulate co-moments in double, and
    the 6-decimal round absorbs summation-order ulps). One hash aggregate,
    bounded per-group state — the sketchable regression shape. One SQL
    text runs verbatim on Spark and DuckDB.""",
)


@query(
    "q_spearman_corr",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev,
             count(*) AS n_orders
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    ranked AS (
      SELECT
        CAST(row_number() OVER (ORDER BY rev, day) AS BIGINT)      AS rx,
        CAST(row_number() OVER (ORDER BY n_orders, day) AS BIGINT) AS ry
      FROM daily
    ),
    s AS (
      SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy, sum(rx * ry) AS sxy
      FROM ranked
    )
    SELECT
      CAST(n AS BIGINT) AS n_days,
      round(
        (n * sxy - sx * sy) * 1e0
        / sqrt((n * sxx - sx * sx) * 1e0 * (n * syy - sy * sy)), 6) AS spearman
    FROM s
    """,
    tags=("analytics", "stats"),
)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dependence: Spearman rank correlation between daily revenue
    and daily order count. Ranks are assigned by the range-bucketed
    distributed global row_number (functions/ranks.py — no single-
    partition window), with the calendar day as a deterministic tiebreak
    (documented convention: ties take distinct consecutive ranks, not
    averaged — both engines apply the identical rule so the oracle
    agrees). The correlation itself is computed from EXACT integer moment
    sums — n·Σxy − ΣxΣy over BIGINTs — so both engines divide identical
    integers; only the final division is floating."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    rx = global_row_number(daily, ["rev", "day"], rn_col="rx")
    ranked = global_row_number(rx, ["n_orders", "day"], rn_col="ry").select("rx", "ry")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(num.cast("double") / den, 6).alias("spearman"),
    )


_WMEDIAN_SQL = """
    WITH ordered AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
        sum(CAST(l_quantity AS BIGINT)) OVER (
          PARTITION BY l_returnflag
          ORDER BY l_extendedprice, l_orderkey, l_linenumber
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS cumw,
        sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS totw
      FROM lineitem
    )
    SELECT
      l_returnflag,
      CAST(min(totw) AS BIGINT) AS total_weight,
      round(min(CASE WHEN cumw * 2 >= totw THEN l_extendedprice END), 2)
        AS weighted_median_price
    FROM ordered
    GROUP BY l_returnflag
"""


sql_query(
    "q_weighted_median", _WMEDIAN_SQL, tags=("analytics", "stats"),
    doc="""Weighted median: the price at which half the total QUANTITY sits on
    either side, per return flag — the inventory-weighted location
    estimate. Cumulative integer weights over a per-group total order;
    the half-total crossing test is `cumw·2 ≥ totw` in exact BIGINT
    arithmetic, so no floating boundary exists for engines to disagree on.

    Scale: the naive form — one window PARTITION BY l_returnflag — keys
    the running sum on a THREE-value column, so each flag's entire fact
    slice sorts and scans on a single task (measured 45.0× at 100×
    replication, round-8 scale tier: the sixth real defect the tier
    caught). The Spark side instead uses the range-bucketed grouped
    running sum (functions/ranks.py:grouped_running_sum): the composite
    (flag, price, orderkey, linenumber) range partitioning spreads each
    flag across all buckets, local prefix sums run per (bucket, flag) in
    parallel, and the n_buckets×3-row offset relation broadcasts back —
    re-measured 10.4× at 100× (sub-linear; bucket count is not the
    remaining cost — 32 buckets measured the same, the floor is the
    one-pass materialize + offset join over the fact). DuckDB keeps the plain-window SQL (its
    vectorized single-node window is fine at oracle tiers); values are
    identical integer cumsums either way.""",
)


@query(
    "q_ks_test",
    oracle="""
    WITH assigned AS (
      SELECT event_id, value,
        (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
          AS grp
      FROM events WHERE event_type = 'purchase'
    ),
    marked AS (
      SELECT event_id, value,
        CASE WHEN grp = 0 THEN 1 ELSE 0 END AS ia,
        CASE WHEN grp = 1 THEN 1 ELSE 0 END AS ib
      FROM assigned
    ),
    cum AS (
      SELECT
        sum(CAST(ia AS BIGINT)) OVER w AS ca,
        sum(CAST(ib AS BIGINT)) OVER w AS cb,
        sum(CAST(ia AS BIGINT)) OVER () AS na,
        sum(CAST(ib AS BIGINT)) OVER () AS nb
      FROM marked
      WINDOW w AS (ORDER BY value, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT
      CAST(min(na) AS BIGINT) AS n_a,
      CAST(min(nb) AS BIGINT) AS n_b,
      round(max(abs(ca * 1e0 / na - cb * 1e0 / nb)), 6) AS ks_d
    FROM cum
    """,
    tags=("analytics", "stats"),
)
def ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the md5-assigned A/B
    arms of purchase values: D = max |F̂_A − F̂_B| over the merged sample.
    The ECDFs are cumulative INTEGER indicator sums over a total (value,
    event_id) order — computed with the range-bucketed distributed running
    sum (functions/ranks.py; the oracle uses a plain global window, which
    DuckDB may), so the division is the only floating step and every
    engine sees identical integers. Complements q_welch_ttest: Welch
    compares means, KS compares whole distributions."""
    from bigdatainfinance1_spark.functions.ranks import global_running_sum

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    grp = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("long") % 2
    )
    marked = ev.select(
        "event_id",
        "value",
        F.when(grp == 0, 1).otherwise(0).alias("ia"),
        F.when(grp == 1, 1).otherwise(0).alias("ib"),
    )
    c1 = global_running_sum(marked, ["value", "event_id"], "ia", "ca")
    c2 = global_running_sum(c1, ["value", "event_id"], "ib", "cb")
    tot = marked.agg(
        F.sum("ia").cast("long").alias("na"), F.sum("ib").cast("long").alias("nb")
    )
    return (
        c2.crossJoin(F.broadcast(tot))
        .agg(
            F.min("na").cast("long").alias("n_a"),
            F.min("nb").cast("long").alias("n_b"),
            F.round(
                F.max(
                    F.abs(
                        F.col("ca") * F.lit(1.0) / F.col("na")
                        - F.col("cb") * F.lit(1.0) / F.col("nb")
                    )
                ),
                6,
            ).alias("ks_d"),
        )
    )


_ANOVA_SQL = """
    WITH g AS (
      SELECT c.c_mktsegment AS seg,
        count(*)            AS n_g,
        sum(CAST(round(o.o_totalprice * 100) AS DECIMAL(19,0))) AS sc_g,
        sum(CAST(round(o.o_totalprice * 100) AS DECIMAL(19,0))
            * CAST(round(o.o_totalprice * 100) AS DECIMAL(19,0))) AS ssc_g
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    ),
    gd AS (
      SELECT seg, n_g,
             CAST(sc_g AS DOUBLE) / 100 AS s_g,
             CAST(ssc_g AS DOUBLE) / 1e4 AS ss_g
      FROM g
    ),
    tot AS (
      SELECT sum(n_g) AS n,
             CAST(sum(sc_g) AS DOUBLE) / 100 AS s,
             CAST(sum(ssc_g) AS DOUBLE) / 1e4 AS ss,
             count(*) AS k
      FROM g
    ),
    bsum AS (
      SELECT CAST(sum(CAST(round(s_g * s_g / n_g) AS DECIMAL(38,0))) AS DOUBLE) AS sb
      FROM gd
    )
    SELECT
      CAST(min(t.k) AS BIGINT) AS k_groups,
      CAST(min(t.n) AS BIGINT) AS n_obs,
      round((min(b.sb) - min(t.s * t.s / t.n)) / 1e6, 2) AS ss_between_m,
      round((min(t.ss) - min(b.sb)) / 1e6, 2)            AS ss_within_m,
      round(
        ((min(b.sb) - min(t.s * t.s / t.n)) / (min(t.k) - 1))
        / ((min(t.ss) - min(b.sb)) / (min(t.n) - min(t.k))),
        6) AS f_stat
    FROM tot t CROSS JOIN bsum b
"""


sql_query(
    "q_anova_f", _ANOVA_SQL, tags=("analytics", "stats"),
    doc="""One-way ANOVA: does mean order value differ across market segments?
    F = (SS_between/(k−1)) / (SS_within/(N−k)), assembled entirely from
    per-group power sums (n, Σx, Σx²) — one grouped aggregate over the
    fact join, one 5-row reduce; the textbook identity SS_w = Σx² −
    Σ(S_g²/n_g) avoids a second data pass. The SS terms cancel ~4 orders
    of magnitude off Σx² ≈ 1e18, leaving ~1e3 of float noise — they are
    reported in millions (round 2) where that noise vanishes, and the
    F ratio divides it out entirely. Completes the inference
    toolkit alongside q_welch_ttest (2 groups), q_chi2_independence
    (categorical), q_ks_test (distributional). One SQL text runs verbatim
    on Spark and DuckDB.""",
)

# Shared spine for the pairwise-trend queries: daily revenue per month,
# in exact integer cents, day index = days since 1970-01-01 (both engines).
_DAILY_SQL = """
    SELECT
      CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate)     AS m,
      datediff('day', DATE '1970-01-01', o_orderdate)                 AS d,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)  AS cents
    FROM orders
    GROUP BY m, d
"""


def _daily_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("m"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )


@query(
    "q_theil_sen",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    slopes AS (
      SELECT a.m AS m,
             (b.cents - a.cents) / 100e0 / (b.d - a.d) AS slope
      FROM daily a JOIN daily b ON a.m = b.m AND a.d < b.d
    )
    SELECT
      m,
      CAST(count(*) AS BIGINT)                    AS n_pairs,
      round(quantile_cont(slope, 0.5), 6)         AS ts_slope
    FROM slopes
    GROUP BY m
    """,
    tags=("analytics", "stats", "finance"),
)
def theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per month: the median of all
    pairwise slopes of the daily-revenue series — the standard
    outlier-resistant alternative to OLS (q_regr_beta is the OLS twin).
    Slopes are computed from exact integer inputs (cents BIGINT, day INT)
    with an identical division order on both engines, so every slope is
    bit-identical; the median interpolates between two such doubles and is
    rounded to 6 dp. Scale shape: the pairwise self-join is keyed on the
    month, whose group is bounded (≤31 days → ≤465 pairs) regardless of
    row count — linear in months, the classic bounded-group trick; one
    percentile aggregation per month ends the plan."""
    daily = _daily_by_month(spark, sf_dir)
    a = daily.select(F.col("m"), F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("m"), F.col("d").alias("db"), F.col("cents").alias("cb"))
    slopes = (
        a.join(b, "m")
        .filter(F.col("da") < F.col("db"))
        .select(
            "m",
            ((F.col("cb") - F.col("ca")) / F.lit(100.0) / (F.col("db") - F.col("da"))).alias(
                "slope"
            ),
        )
    )
    return slopes.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("ts_slope"),
    )


@query(
    "q_kendall_tau",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    pairs AS (
      SELECT a.m AS m,
             CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END AS conc,
             CASE WHEN b.cents < a.cents THEN 1 ELSE 0 END AS disc
      FROM daily a JOIN daily b ON a.m = b.m AND a.d < b.d
    )
    SELECT
      m,
      CAST(sum(conc) AS BIGINT)  AS n_conc,
      CAST(sum(disc) AS BIGINT)  AS n_disc,
      round((sum(conc) - sum(disc)) * 1e0 / count(*), 6) AS tau
    FROM pairs
    GROUP BY m
    """,
    tags=("analytics", "stats"),
)
def kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a rank correlation between day-of-series and daily
    revenue, per month — the rank-based monotonic-trend test that
    complements q_spearman_corr (which ranks both variables) and
    q_theil_sen (which estimates the magnitude). Concordant/discordant
    counts are exact integers over the same bounded month-keyed pair join
    as q_theil_sen (≤465 pairs per group); revenue ties contribute zero to
    both counts but stay in the tau-a denominator n(n-1)/2 = count(*) of
    the a<b pair relation. One integer division at the end, rounded 6 dp."""
    daily = _daily_by_month(spark, sf_dir)
    a = daily.select(F.col("m"), F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("m"), F.col("d").alias("db"), F.col("cents").alias("cb"))
    pairs = (
        a.join(b, "m")
        .filter(F.col("da") < F.col("db"))
        .select(
            "m",
            F.when(F.col("cb") > F.col("ca"), 1).otherwise(0).alias("conc"),
            F.when(F.col("cb") < F.col("ca"), 1).otherwise(0).alias("disc"),
        )
    )
    return pairs.groupBy("m").agg(
        F.sum("conc").cast("long").alias("n_conc"),
        F.sum("disc").cast("long").alias("n_disc"),
        F.round(
            (F.sum("conc") - F.sum("disc")) * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("tau"),
    )


sql_query(
    "q_two_proportion_ztest",
    """
    WITH users AS (
      SELECT user_id,
             CAST(ts AS DATE) AS day,
             user_id % 2 AS cohort,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id, day, cohort
    ),
    g AS (
      SELECT
        CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN cohort = 0 THEN converted ELSE 0 END) AS BIGINT) AS x_a,
        CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN cohort = 1 THEN converted ELSE 0 END) AS BIGINT) AS x_b
      FROM users
    )
    SELECT
      n_a, x_a, n_b, x_b,
      round(x_a * 1e0 / n_a, 6) AS p_a,
      round(x_b * 1e0 / n_b, 6) AS p_b,
      round(
        (x_a * 1e0 / n_a - x_b * 1e0 / n_b)
        / sqrt(((x_a + x_b) * 1e0 / (n_a + n_b))
               * (1e0 - (x_a + x_b) * 1e0 / (n_a + n_b))
               * (1e0 / n_a + 1e0 / n_b)), 4) AS z
    FROM g
    """,
    tags=("analytics", "stats", "events"),
    doc="""Two-proportion z-test on purchase conversion between user cohorts
    (split by user_id parity — the deterministic stand-in for an A/B
    assignment): pooled-variance z statistic, the experiment-readout
    companion to q_welch_ttest (means) and q_chi2_independence (full
    contingency). The unit of analysis is the active USER-DAY (did this
    user purchase on this day) — per-user lifetime conversion is
    degenerate on this corpus (every user eventually purchases → pooled
    variance 0 → ANSI DIVIDE_BY_ZERO; hit in round 2 and pinned here).
    Everything up to the final expression is exact integer counts, so both
    engines evaluate identical doubles; sqrt is correctly rounded IEEE on
    both. Scale: one user-day-grain aggregation, one 4-counter reduce.""",
)


@query(
    "q_kaplan_meier",
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
      SELECT seg, t,
             CAST(sum(ev) AS BIGINT) AS d_events,
             count(*) AS at_t
      FROM durations GROUP BY seg, t
    ),
    risk AS (
      SELECT seg, t, d_events,
             CAST(sum(at_t) OVER (PARTITION BY seg ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM grid
    ),
    km AS (
      SELECT seg, t, d_events, n_risk,
             exp(sum(ln(1e0 - d_events * 1e0 / n_risk)) OVER (
               PARTITION BY seg ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
      FROM risk
      WHERE d_events > 0 AND d_events < n_risk
    )
    SELECT seg, CAST(t AS BIGINT) AS t, d_events, n_risk,
           round(s, 6) AS survival
    FROM km
    """,
    tags=("analytics", "stats", "finance"),
)
def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve per market segment for 'days until the
    second order' — the churn/repeat-purchase analysis with censoring done
    right: single-order customers are censored at the end of the
    observation window instead of dropped. S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)
    is computed as exp of a cumulative ln-sum (both engines' log/exp are
    ≤1-ulp; the 6-dp round absorbs the accumulated difference). At-risk
    counts come from a DESCENDING cumulative sum over the per-segment
    event-time grid — linear, never a durations×times join. Rows where
    d = n (survival would hit exactly 0 and ln(0) = −inf) are excluded
    identically on both engines before the cumulative product. Scale: the
    customer-grain pass uses a per-customer window (rn ≤ 2); the KM pass
    runs on the per-segment time grid, whose size is bounded by distinct
    durations in days — windows are all partitioned by segment."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            "o_custkey",
            "o_orderdate",
            F.row_number().over(wc).alias("rn"),
        )
    )
    maxd = orders.agg(F.max("o_orderdate").alias("maxdate"))
    f = ranked.filter(F.col("rn") == 1).select("seg", "o_custkey", F.col("o_orderdate").alias("fd"))
    s = ranked.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("s_custkey"), F.col("o_orderdate").alias("sd")
    )
    durations = (
        f.join(s, f.o_custkey == s.s_custkey, "left")
        .crossJoin(F.broadcast(maxd))
        .select(
            "seg",
            F.when(
                F.col("s_custkey").isNotNull(), F.datediff(F.col("sd"), F.col("fd"))
            )
            .otherwise(F.datediff(F.col("maxdate"), F.col("fd")))
            .alias("t"),
            F.when(F.col("s_custkey").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    grid = durations.groupBy("seg", "t").agg(
        F.sum("ev").cast("long").alias("d_events"), F.count(F.lit(1)).alias("at_t")
    )
    w_desc = (
        Window.partitionBy("seg").orderBy(F.col("t").desc()).rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = grid.select(
        "seg", "t", "d_events", F.sum("at_t").over(w_desc).cast("long").alias("n_risk")
    )
    w_asc = Window.partitionBy("seg").orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = (
        risk.filter((F.col("d_events") > 0) & (F.col("d_events") < F.col("n_risk")))
        .withColumn(
            "s",
            F.exp(
                F.sum(F.log(F.lit(1.0) - F.col("d_events") * F.lit(1.0) / F.col("n_risk"))).over(
                    w_asc
                )
            ),
        )
    )
    return km.select(
        "seg", F.col("t").cast("long").alias("t"), "d_events", "n_risk",
        F.round("s", 6).alias("survival"),
    )


sql_query(
    "q_quantile_normalize",
    """
    WITH bucketed AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
      FROM events
    ),
    bucket_means AS (
      SELECT decile,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / count(*) / 100 AS norm_value
      FROM bucketed GROUP BY decile
    )
    SELECT
      b.event_type,
      CAST(b.decile AS BIGINT)     AS decile,
      CAST(count(*) AS BIGINT)     AS n,
      round(CAST(sum(CAST(round(b.value * 100) AS BIGINT)) AS DOUBLE)
            / count(*) / 100, 4)   AS orig_avg,
      round(min(m.norm_value), 4)  AS norm_avg
    FROM bucketed b JOIN bucket_means m ON b.decile = m.decile
    GROUP BY b.event_type, b.decile
    """,
    tags=("analytics", "stats", "llm-pipeline"),
    doc="""Quantile normalization across event-type distributions (the
    microarray/feature-alignment preprocessing step): each type's values
    are decile-bucketed (ntile over a TOTAL order — event_id tiebreak, so
    both engines assign identical buckets), then every bucket is mapped to
    the cross-type mean of that bucket — after which each type's
    distribution is identical by construction. Output compares the
    original per-(type, decile) mean with the normalized target value.
    Averages of identical value sets are order-sensitive at ulp level →
    rounded 4 dp per convention. Scale: the ntile window is partitioned by
    type; bucket means are a 10-row relation joined back broadcast.""",
)


@query(
    "q_mann_whitney",
    oracle="""
    WITH ev AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             event_type, value
      FROM events WHERE event_type IN ('click', 'view')
    ),
    ranked AS (
      SELECT d, event_type,
             rank() OVER (PARTITION BY d ORDER BY value)
               + (count(*) OVER (PARTITION BY d, value) - 1) / 2e0 AS midrank
      FROM ev
    ),
    g AS (
      SELECT d,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)  AS n2,
             sum(CASE WHEN event_type = 'click' THEN midrank ELSE 0 END)           AS r1
      FROM ranked GROUP BY d
    )
    SELECT
      d, n1, n2,
      round(r1 - n1 * (n1 + 1) / 2e0, 1) AS u_stat,
      round((r1 - n1 * (n1 + 1) / 2e0 - n1 * n2 / 2e0)
            / sqrt(n1 * n2 * (n1 + n2 + 1) / 12e0), 4) AS z
    FROM g
    WHERE n1 > 0 AND n2 > 0
    """,
    tags=("analytics", "stats", "events"),
)
def mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test per day: are click event
    values stochastically larger than view values? — the nonparametric
    companion to q_welch_ttest. Computed from the RANK-SUM identity
    U₁ = R₁ − n₁(n₁+1)/2 with midranks for ties (rank() gives the tie
    group's first position; adding (tie_count−1)/2 yields the average
    position), which keeps the plan LINEAR per group — no pairwise join,
    no global sort; the ranking window is partitioned by day. Midranks are
    exact .5-granular doubles and every count is integer, so U and the
    normal-approximation z divide identical doubles on both engines.
    (First written as a month-keyed pair join — the events table spans one
    month, so that collapsed to a single quadratic group; the rank form is
    the right 100 TB shape.)"""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
            "event_type",
            "value",
        )
    )
    w_rank = Window.partitionBy("d").orderBy("value")
    w_tie = Window.partitionBy("d", "value")
    ranked = ev.select(
        "d",
        "event_type",
        (F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_tie) - 1) / F.lit(2.0)).alias(
            "midrank"
        ),
    )
    g = ranked.groupBy("d").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("event_type") == "click", F.col("midrank")).otherwise(0)).alias("r1"),
    )
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / F.lit(2.0)
    mu = F.col("n1") * F.col("n2") / F.lit(2.0)
    sigma = F.sqrt(F.col("n1") * F.col("n2") * (F.col("n1") + F.col("n2") + 1) / F.lit(12.0))
    return (
        g.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            "d",
            "n1",
            "n2",
            F.round(u, 1).alias("u_stat"),
            F.round((u - mu) / sigma, 4).alias("z"),
        )
    )


@query(
    "q_halfsample_se",
    oracle="""
    WITH assigned AS (
      SELECT event_type, value,
             unnest(range(0, 16)) AS b
      FROM events
    ),
    kept AS (
      SELECT event_type, b, value
      FROM assigned
      WHERE (instr('0123456789abcdef',
               substr(md5(CAST(event_type AS VARCHAR) || ':' ||
                          CAST(value AS VARCHAR) || ':' ||
                          CAST(b AS VARCHAR)), 1, 1)) - 1) % 2 = 0
    ),
    reps AS (
      SELECT event_type, b,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / count(*) / 100 AS rep_mean,
             count(*) AS n_b
      FROM kept GROUP BY event_type, b
    ),
    full_mean AS (
      SELECT event_type,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / count(*) / 100 AS mu,
             count(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT
      f.event_type,
      CAST(f.n AS BIGINT)                       AS n,
      round(f.mu, 4)                            AS mean_value,
      CAST(count(*) AS BIGINT)                  AS n_replicates,
      round(sqrt(CAST(sum(CAST(round((r.rep_mean - f.mu) * (r.rep_mean - f.mu)
                                     * 1e12) AS HUGEINT)) AS DOUBLE)
                 / 1e12 / count(*)), 4) AS half_sample_se
    FROM reps r JOIN full_mean f ON r.event_type = f.event_type
    GROUP BY f.event_type, f.n, f.mu
    """,
    tags=("analytics", "stats", "events"),
)
def halfsample_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication-based standard error of the per-type mean via 16
    DETERMINISTIC half-sample replicates — the resampling-uncertainty
    pattern (bootstrap family) made engine-reproducible: replicate b keeps
    a row iff the first md5 nibble of (type:value:b) is even, a 50%
    pseudo-random Bernoulli both engines compute identically (no RNG, no
    seed drift — the same md5-quota idiom as q_stratified_sample). SE is
    the root-mean-square deviation of replicate means around the full
    mean. At 100 TB the replicate axis is a 16× explode of a narrow
    projection — embarrassingly parallel, no state; a production run would
    fold the 16 partial sums in ONE pass with conditional aggregates."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    assigned = ev.select(
        "event_type", "value", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b")
    )
    key = F.concat_ws(
        ":",
        F.col("event_type"),
        F.col("value").cast("string"),
        F.col("b").cast("string"),
    )
    nib = F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(key), 1, 1)) - 1
    kept = assigned.filter(nib % 2 == 0)
    # integer-moments rule: value is exact 2-dp — means sum exact cents;
    # the 16-replicate deviation sum snaps at a 1e-12 grain
    vc = F.round(F.col("value") * 100).cast("long")
    cmean = F.sum(vc).cast("double") / F.count(F.lit(1)) / 100
    reps = kept.groupBy("event_type", "b").agg(cmean.alias("rep_mean"))
    full = ev.groupBy("event_type").agg(
        cmean.alias("mu"), F.count(F.lit(1)).cast("long").alias("n")
    )
    dsq = (F.col("rep_mean") - F.col("mu")) * (F.col("rep_mean") - F.col("mu"))
    return (
        reps.join(full, "event_type")
        .groupBy("event_type", "n", "mu")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_replicates"),
            F.round(
                F.sqrt(
                    F.sum(F.round(dsq * 1e12).cast("decimal(38,0)")).cast("double")
                    / 1e12
                    / F.count(F.lit(1))
                ),
                4,
            ).alias("half_sample_se"),
        )
        .select(
            "event_type",
            "n",
            F.round("mu", 4).alias("mean_value"),
            "n_replicates",
            "half_sample_se",
        )
    )


@query(
    "q_brown_forsythe",
    oracle="""
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS z
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    g AS (
      SELECT event_type, count(*) AS n_g,
             CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6
               AS zbar_g,
             sum(CAST(round(z * 1e6) AS BIGINT)) AS zsum6_g
      FROM dev GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(zsum6_g) AS DOUBLE) / sum(n_g) / 1e6 AS zbar,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    ),
    between_ss AS (
      SELECT CAST(sum(CAST(round(n_g * (zbar_g - t.zbar) * (zbar_g - t.zbar) * 1e6)
                           AS HUGEINT)) AS DOUBLE) / 1e6 AS ssb
      FROM g CROSS JOIN tot t
    ),
    within_ss AS (
      SELECT CAST(sum(CAST(round((d.z - g.zbar_g) * (d.z - g.zbar_g) * 1e6)
                           AS HUGEINT)) AS DOUBLE) / 1e6 AS ssw
      FROM dev d JOIN g ON d.event_type = g.event_type
    )
    SELECT
      t.k, t.n,
      round(b.ssb / (t.k - 1), 4)        AS ms_between,
      round(w.ssw / (t.n - t.k), 4)      AS ms_within,
      round((b.ssb / (t.k - 1)) / (w.ssw / (t.n - t.k)), 4) AS f_stat
    FROM tot t CROSS JOIN between_ss b CROSS JOIN within_ss w
    """,
    tags=("analytics", "stats", "events"),
)
def brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for equality of variances across event types:
    a one-way ANOVA (q_anova_f's machinery) on absolute deviations from
    each group's MEDIAN — the robust Levene variant that gates whether
    pooled-variance tests like q_two_proportion_ztest's assumptions hold.
    Group medians are rounded to 6 dp before the deviation step so both
    engines subtract the identical double (same guard as q_iqr_outliers);
    sums of squares aggregate identical doubles and carry 4-dp rounds.
    Scale: two passes over the fact (deviations, then SS) plus
    group-cardinality-sized relations broadcast — same shape as q_anova_f."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    # integer-moments rule: z = |value - 6-dp median| is an exact 1e-6
    # multiple — group means sum exact grains; SS terms snap at 1e-6
    z6 = F.round(F.col("z") * 1e6).cast("long")
    g = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        (F.sum(z6).cast("double") / F.count(F.lit(1)) / 1e6).alias("zbar_g"),
        F.sum(z6).alias("zsum6_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        (F.sum("zsum6_g").cast("double") / F.sum("n_g") / 1e6).alias("zbar"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ssb = (
        g.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("n_g")
                        * (F.col("zbar_g") - F.col("zbar"))
                        * (F.col("zbar_g") - F.col("zbar"))
                        * 1e6
                    ).cast("decimal(38,0)")
                ).cast("double")
                / 1e6
            ).alias("ssb")
        )
    )
    ssw = (
        dev.join(F.broadcast(g.select("event_type", "zbar_g")), "event_type")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("z") - F.col("zbar_g"))
                        * (F.col("z") - F.col("zbar_g"))
                        * 1e6
                    ).cast("decimal(38,0)")
                ).cast("double")
                / 1e6
            ).alias("ssw")
        )
    )
    return (
        tot.crossJoin(F.broadcast(ssb))
        .crossJoin(F.broadcast(ssw))
        .select(
            "k",
            "n",
            F.round(F.col("ssb") / (F.col("k") - 1), 4).alias("ms_between"),
            F.round(F.col("ssw") / (F.col("n") - F.col("k")), 4).alias("ms_within"),
            F.round(
                (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k"))), 4
            ).alias("f_stat"),
        )
    )


sql_query(
    "q_power_analysis",
    """
    WITH base AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id, day
    ),
    p0 AS (SELECT avg(converted) AS p, count(*) AS n FROM base),
    effects(mde_rel) AS (VALUES (0.01e0), (0.02e0), (0.05e0), (0.1e0))
    SELECT
      e.mde_rel,
      round(p.p, 6) AS baseline_rate,
      CAST(ceil(
        2e0 * (1.959964e0 + 0.841621e0) * (1.959964e0 + 0.841621e0)
        * p.p * (1e0 - p.p) / (p.p * e.mde_rel * p.p * e.mde_rel)
      ) AS BIGINT) AS n_per_variant,
      CAST(p.n AS BIGINT) AS n_observed
    FROM effects e CROSS JOIN p0 p
    """,
    tags=("analytics", "stats", "events"),
    doc="""Experiment sample-size (power) analysis from observed data: for
    each candidate relative minimum-detectable-effect, the per-variant n
    required at α=0.05 (two-sided) and 80% power — n = 2(z_α+z_β)²p(1−p)/
    (p·mde)² — against the observed user-day conversion baseline (same
    unit as q_two_proportion_ztest, which this query tells you whether you
    had the power to run). z constants are fixed literals on both engines;
    p is an avg of exact 0/1 integers, so the ceil argument is an
    identical double (ceil is exact — margins to integers are ≥1e-6 times
    n ≫ ulp). Scale: one user-day aggregation, one scalar, a 4-row
    effect grid.""",
)


sql_query(
    "q_eb_shrinkage",
    """
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, c.c_nationkey AS nk,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY seg, nk
    ),
    g AS (
      SELECT
        CAST(sum(x) AS BIGINT) AS tx,
        CAST(sum(n) AS BIGINT) AS tn,
        CAST(count(*) AS BIGINT) AS k,
        CAST(sum(CAST(round((x * 1e0 / n) * (x * 1e0 / n) * 1e12) AS BIGINT))
             AS DOUBLE) / 1e12 AS srr,
        CAST(sum(CAST(round(x * 1e12 / n) AS BIGINT)) AS DOUBLE) / 1e12 AS sr,
        CAST(sum(CAST(round(1e12 / n) AS BIGINT)) AS DOUBLE) / 1e12 AS sinv
      FROM cells
    ),
    prior AS (
      SELECT
        tx * 1e0 / tn AS m,
        greatest(
          (srr / k - (sr / k) * (sr / k))
          - (tx * 1e0 / tn) * (1e0 - tx * 1e0 / tn) * (sinv / k),
          1e-6) AS var_b,
        tx, tn, k
      FROM g
    ),
    kappa AS (
      SELECT m,
             greatest(m * (1e0 - m) / var_b - 1e0, 1e0) AS kap
      FROM prior
    )
    SELECT
      c.seg, c.nk, c.n,
      round(c.x * 1e0 / c.n, 6) AS raw_rate,
      round((c.x + k.m * k.kap) / (c.n + k.kap), 6) AS shrunk_rate
    FROM cells c CROSS JOIN kappa k
    """,
    tags=("analytics", "stats", "bayes"),
    doc="""Empirical-Bayes shrinkage of per-cell finalized-order rates
    (mktsegment × nation): small cells get pulled toward the global rate
    by a beta-binomial prior fitted by method of moments — the standard
    cure for leaderboards dominated by tiny-sample extremes (James-Stein
    for proportions). κ = m(1−m)/var_between − 1 with the between-cell
    variance de-noised by the average binomial term and floored (both
    guards are part of the estimator, not fudges); shrunk rate =
    (x + mκ)/(n + κ). On THIS synthetic data every cell shares the true
    rate (≈1/3), so the de-noised between-cell variance hits its floor and
    κ ≈ 2×10⁵ shrinks even 200-order cells essentially to the global rate
    — exactly what the estimator should conclude from null data (measured,
    smallest cell 0.3556→0.3289). Counts are exact integers; every double
    expression has identical shape on both engines, rounded at 6 dp.
    Scale: one
    aggregate to ~125 cells, a 1-row prior, a broadcast cross join back —
    the per-cell pass never re-scans the facts.""",
)


BOOT_REPLICATES = 100
# Poisson(1) inverse-CDF thresholds on cumulative probability: P(K<=k) for
# k = 0..5; a uniform above the last takes weight 6. Literal doubles —
# identical constants on both engines.
_POISSON_CDF = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
                0.9810118431238462, 0.9963401531726563, 0.9994058151824183)


def _poisson_bootstrap_sql() -> str:
    cases = " ".join(
        f"WHEN u < {p!r} THEN {k}" for k, p in enumerate(_POISSON_CDF)
    )
    return f"""
    WITH base AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    weighted AS (
      SELECT b.r, base.cents,
             CASE {cases} ELSE 6 END AS w
      FROM base
      CROSS JOIN (SELECT unnest(range(0, {BOOT_REPLICATES})) AS r) b,
      LATERAL (
        SELECT ('0x' || substr(md5(CAST(base.o_orderkey AS VARCHAR) || ':' || CAST(b.r AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      ) h
    ),
    rep_means AS (
      SELECT r, sum(CAST(w AS HUGEINT) * cents) * 1.0 / sum(w) / 100 AS m
      FROM weighted GROUP BY r HAVING sum(w) > 0
    )
    SELECT
      CAST(count(*) AS BIGINT)         AS n_replicates,
      round(CAST(sum(CAST(round(m * 1e9) AS HUGEINT)) AS DOUBLE)
            / count(*) / 1e9, 4)       AS boot_mean,
      round(quantile_cont(m, 0.025), 4) AS ci_lo,
      round(quantile_cont(m, 0.975), 4) AS ci_hi
    FROM rep_means
    """


@query("q_poisson_bootstrap", oracle=_poisson_bootstrap_sql(), tags=("stats", "scale", "sampling"))
def poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson bootstrap — the ONE-PASS bootstrap that works at 100 TB
    (Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    Streams"): instead of drawing n-out-of-n resamples (which needs a
    global index), every row gets an independent Poisson(1) weight per
    replicate, so all 100 replicates stream through one scan as a
    (row × replicate) weight fan-out and a per-replicate weighted mean;
    the 2.5/97.5 percentiles of the replicate means form the CI for mean
    order value. Determinism: the Poisson draw inverts a fixed CDF table
    on a uniform derived from md5(orderkey:replicate) — bit-identical on
    both engines (exact integer hash prefix / 2³²; threshold literals) —
    so even the 'random' weights hash-match. Replicate means divide exact
    integer cents by exact integer weights; the percentile is Spark
    `percentile` ≡ DuckDB `quantile_cont` over 100 identical doubles.
    Scale: fan-out ×100 on the scan, two aggregations (replicate, then
    summary), zero shuffles of the base data beyond the replicate key."""
    from bigdatainfinance1_spark.functions.partitioning import parallelize_scan

    orders = load_table(spark, sf_dir, "orders")
    base = parallelize_scan(
        orders.select(
            "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
        )
    )
    fan = base.select(
        "o_orderkey", "cents",
        F.explode(F.expr(f"sequence(0, {BOOT_REPLICATES - 1})")).alias("r"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("o_orderkey"), F.col("r"))), 1, 8), 16, 10
        ).cast("long")
        / F.lit(4294967296.0)
    )
    # u lands in its OWN projection: referenced from all 6 CASE branch
    # predicates below, an inlined u is re-hashed per branch (conditional
    # subexpression elimination does not cover it — measured 26.4 -> 14.8 s
    # at sf0.1), while CollapseProject keeps a multiply-referenced non-cheap
    # alias in its own Project, so the md5 runs once per row.
    fan = fan.select("cents", "r", u.alias("u"))
    w = F.lit(6)
    for k in range(len(_POISSON_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(_POISSON_CDF[k]), F.lit(k)).otherwise(w)
    rep = (
        fan.withColumn("w", w)
        .groupBy("r")
        # decimal widening: w*cents is ~3.6e8/row; a LongType sum wraps
        # silently past 2^63 at extreme row counts while DuckDB's BIGINT
        # sum auto-widens to HUGEINT (the rolling_corr/stream_vwap class)
        .agg(
            (
                F.sum(F.col("w").cast("decimal(19,0)") * F.col("cents"))
                * 1.0
                / F.sum("w")
                / 100
            ).alias("m")
        )
        .filter(F.col("m").isNotNull())
    )
    return rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.round(
            F.sum(F.round(F.col("m") * 1e9).cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / 1e9,
            4,
        ).alias("boot_mean"),
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
    )
