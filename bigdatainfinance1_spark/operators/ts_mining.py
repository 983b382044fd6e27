"""Time-series data-mining operators (round 4 continuation): the matrix
profile (per-subsequence nearest-neighbor distance — the modern motif /
anomaly primitive), the classical periodogram (dominant-cycle detection),
and SAX symbolization with motif counting — the pattern-mining layer
above the forecasting stack (q_holt_winters, q_seasonal_decompose) and
the monitoring layer (q_cusum_changepoint, q_page_hinkley).

Scale notes: every query reduces the corpus to the O(calendar) monthly
series first; all subsequent work is calendar-bounded — the matrix
profile's pair join is O(windows^2) ~ 5.6k pairs x 6 offsets, the
periodogram is O(frequencies x months), SAX is O(segments). At 100 TB
the only scan is the monthly aggregate; everything else is
corpus-size-independent.

Determinism: window moments and z-scores are rounded (8 dp) BEFORE any
comparison or pairing; distances/powers are closed forms of those
rounded values summed over <= 6 / 80 bounded terms (ulp noise orders
below the 6-dp output rounding); argmins rank with explicit index
tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table

# Hardened (round-6 emission rule, SURVEY §5): the monthly series sums
# exact integer CENTS — the old round(sum(double), 2) was summation-order
# sensitive across engines, and this prefix feeds ~15 downstream series
# queries (econometrics, ts_mining, two_series) including driver-window
# names. Shared-prefix emissions count as emissions.
_MONTHLY_SQL = """
    m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS z
      FROM orders GROUP BY mi
    ),
    idx AS (SELECT mi, z, row_number() OVER (ORDER BY mi) AS i FROM m)
"""


def _monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            / 100.0
            / 1000000.0,
            6,
        ).alias("z")
    )
    return global_row_number(m, ["mi"], rn_col="i")


# ---------------------------------------------------------------------------
# q_matrix_profile
# ---------------------------------------------------------------------------

MP_M = 6  # subsequence length (months)
MP_EXCL = 3  # exclusion zone (m/2): skip trivial self-matches


@query(
    "q_matrix_profile",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    n AS (SELECT count(*) AS n FROM idx),
    win AS (
      SELECT w.i AS w, x.i - w.i AS k, x.z
      FROM idx w JOIN idx x ON x.i BETWEEN w.i AND w.i + {MP_M - 1}
      CROSS JOIN n WHERE w.i <= n.n - {MP_M - 1}
    ),
    mom AS (
      SELECT w,
             round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e6, 8) AS mu,
             round(sqrt(CAST(sum(CAST(round(z * 1e6) AS HUGEINT)
                                 * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                          / 1e12 / count(*)
                        - (CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                           / count(*) / 1e6)
                          * (CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                             / count(*) / 1e6)), 8) AS sd
      FROM win GROUP BY w
    ),
    nz AS (
      SELECT win.w, win.k, round((win.z - mom.mu) / mom.sd, 8) AS v
      FROM win JOIN mom USING (w) WHERE mom.sd > 0
    ),
    d AS (
      SELECT a.w AS i, b.w AS j,
             round(sqrt(CAST(sum(CAST(round((a.v - b.v) * 1e8) AS HUGEINT)
                                 * CAST(round((a.v - b.v) * 1e8) AS BIGINT))
                             AS DOUBLE) / 1e16), 6) AS dist
      FROM nz a JOIN nz b ON a.k = b.k AND abs(a.w - b.w) >= {MP_EXCL}
      GROUP BY a.w, b.w
    )
    SELECT i AS window_start_idx,
           min_by(j, CAST(round(dist * 1000000) AS BIGINT) * 1000000 + j)
             AS nn_window_idx,
           min(dist) AS nn_dist
    FROM d GROUP BY i
    """,
    tags=("timeseries", "mining"),
)
def matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The matrix profile of monthly revenue (Yeh et al.'s UCR primitive):
    for every {m}-month subsequence, the z-normalized Euclidean distance
    to its nearest non-trivial neighbor (exclusion zone m/2) and that
    neighbor's index. Low values = motifs (repeated regimes), high values
    = discords (anomalous months) — one structure answering both queries,
    which is why it displaced ad-hoc motif scans.

    Scale: the corpus reduces to O(calendar) monthly rows; subsequence
    extraction is a bounded band join (offset 0..{m}-1), moments are
    per-window aggregates, and the all-pairs stage is O(windows^2 x m) ~
    33k rows — calendar-bounded, corpus-independent (the brute-force
    exact tier; the production path at long series is the STOMP dot-
    product recurrence over the same normalized vectors). Determinism:
    window z-scores round at 8 before pairing; distances are 6-term sums
    rounded at 6; the neighbor argmin ties break on the index."""
    idx = _monthly(spark, sf_dir)
    n = idx.count()  # O(1) driver scalar — bounds the window range
    # offsets exploded per window start, then an EQUI-join on i = w + k —
    # never a range join (a range condition degrades to BNLJ/cartesian
    # when broadcast is disabled, and an equi-shuffle is the shape that
    # scales anyway)
    w = (
        idx.select(F.col("i").alias("w"))
        .filter(F.col("w") <= n - (MP_M - 1))
        .select("w", F.explode(F.sequence(F.lit(0), F.lit(MP_M - 1))).alias("k"))
        .withColumn("i", F.col("w") + F.col("k"))
    )
    win = w.join(idx.select("i", "z"), "i").select("w", "k", "z")
    # integer-moments rule: z is 6-dp — window moments sum exact grains
    z6 = F.round(F.col("z") * 1e6).cast("long")
    mu_d = F.sum(z6).cast("double") / F.count(F.lit(1)) / 1e6
    mom = win.groupBy("w").agg(
        F.round(mu_d, 8).alias("mu"),
        F.round(
            F.sqrt(
                F.sum(z6.cast("decimal(19,0)") * z6).cast("double")
                / 1e12
                / F.count(F.lit(1))
                - mu_d * mu_d
            ),
            8,
        ).alias("sd"),
    )
    nz = (
        win.join(mom, "w")
        .filter(F.col("sd") > 0)
        .select("w", "k", F.round((F.col("z") - F.col("mu")) / F.col("sd"), 8).alias("v"))
    )
    a = nz.select(F.col("w").alias("i"), "k", F.col("v").alias("va"))
    b = nz.select(F.col("w").alias("j"), F.col("k").alias("kb"), F.col("v").alias("vb"))
    d = (
        a.join(b, (F.col("k") == F.col("kb")) & (F.abs(F.col("i") - F.col("j")) >= MP_EXCL))
        .groupBy("i", "j")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round((F.col("va") - F.col("vb")) * 1e8)
                        .cast("decimal(19,0)")
                        * F.round((F.col("va") - F.col("vb")) * 1e8).cast("long")
                    ).cast("double")
                    / 1e16
                ),
                6,
            ).alias("dist")
        )
    )
    # (dist, j) tie-break encoded as one BIGINT key — DuckDB 1.0's min_by
    # has no struct-key overload; dist is already a multiple of 1e-6
    key = F.round(F.col("dist") * 1000000).cast("long") * 1000000 + F.col("j")
    return d.groupBy(F.col("i").alias("window_start_idx")).agg(
        F.min_by("j", key).alias("nn_window_idx"),
        F.min("dist").alias("nn_dist"),
    )


# ---------------------------------------------------------------------------
# q_periodogram
# ---------------------------------------------------------------------------

PGRAM_MAX_K = 12  # frequencies 1..12 cycles over the series


@query(
    "q_periodogram",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    gmom AS (
      SELECT count(*) AS n,
             round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e6, 8) AS mu,
             round(sqrt(CAST(sum(CAST(round(z * 1e6) AS HUGEINT)
                                 * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                          / 1e12 / count(*)
                        - (CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                           / count(*) / 1e6)
                          * (CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                             / count(*) / 1e6)), 8) AS sd
      FROM idx
    ),
    xn AS (
      SELECT idx.i, round((idx.z - gmom.mu) / gmom.sd, 8) AS x, gmom.n
      FROM idx CROSS JOIN gmom
    ),
    freq AS (SELECT k FROM range(1, {PGRAM_MAX_K} + 1) AS r(k)),
    spec AS (
      SELECT f.k, max(xn.n) AS n,
             CAST(sum(CAST(round(xn.x * cos(2.0 * pi() * f.k * xn.i / xn.n)
                                 * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS c,
             CAST(sum(CAST(round(xn.x * sin(2.0 * pi() * f.k * xn.i / xn.n)
                                 * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS s
      FROM freq f CROSS JOIN xn
      GROUP BY f.k
    ),
    p AS (
      SELECT k, round(n * 1.0 / k, 2) AS period_months,
             round((c * c + s * s) * 2.0 / n, 6) AS power
      FROM spec
    )
    SELECT CAST(k AS BIGINT) AS k, period_months, power,
           power = max(power) OVER () AS is_peak
    FROM p
    """,
    tags=("timeseries", "mining", "spectral"),
)
def periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical periodogram of monthly revenue at harmonics k = 1..{K}:
    P(k) = 2/N [ (sum x_t cos(2 pi k t / N))^2 + (sum x_t sin(...))^2 ]
    on the z-normalized series, with the dominant-cycle flag — the
    spectral answer to "what seasonality does this series actually have"
    that q_seasonal_decompose ASSUMES (period = 12) and this MEASURES.

    Scale: one monthly aggregate, then O(frequencies x months) trig
    products — calendar-bounded. Determinism: the series z-normalizes on
    8-dp global moments; each (C, S) is an 80-term sum of O(1) products
    (ulp noise ~1e-13 against the 6-dp rounding), and the peak flag
    compares already-rounded powers."""
    idx = _monthly(spark, sf_dir)
    # integer z-moments (round-6 emission rule), mirroring the oracle
    z6 = F.round(F.col("z") * 1e6).cast("long")
    mu_d = F.sum(z6).cast("double") / F.count(F.lit(1)) / 1e6
    gmom = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(mu_d, 8).alias("mu"),
        F.round(
            F.sqrt(
                F.sum(z6.cast("decimal(19,0)") * z6).cast("double")
                / 1e12
                / F.count(F.lit(1))
                - mu_d * mu_d
            ),
            8,
        ).alias("sd"),
    )
    xn = idx.crossJoin(F.broadcast(gmom)).select(
        "i", "n", F.round((F.col("z") - F.col("mu")) / F.col("sd"), 8).alias("x")
    )
    freq = spark.range(1, PGRAM_MAX_K + 1).select(F.col("id").alias("k"))
    ang = 2.0 * F.lit(3.141592653589793) * F.col("k") * F.col("i") / F.col("n")
    spec = (
        F.broadcast(freq)
        .crossJoin(xn)
        .groupBy("k")
        .agg(
            F.max("n").alias("n"),
            (
                F.sum(F.round(F.col("x") * F.cos(ang) * 1e12).cast("long"))
                .cast("double")
                / 1e12
            ).alias("c"),
            (
                F.sum(F.round(F.col("x") * F.sin(ang) * 1e12).cast("long"))
                .cast("double")
                / 1e12
            ).alias("s"),
        )
    )
    p = spec.select(
        "k",
        F.round(F.col("n") * 1.0 / F.col("k"), 2).alias("period_months"),
        F.round((F.col("c") * F.col("c") + F.col("s") * F.col("s")) * 2.0 / F.col("n"), 6).alias("power"),
    )
    from pyspark.sql import Window

    return p.select(
        F.col("k").cast("long").alias("k"),
        "period_months",
        "power",
        (F.col("power") == F.max("power").over(Window.partitionBy())).alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# q_sax_motifs
# ---------------------------------------------------------------------------

SAX_SEG = 4  # PAA segment length (months)
# N(0,1) quartile breakpoints for a 4-symbol alphabet
SAX_BP = (-0.6745, 0.0, 0.6745)


@query(
    "q_sax_motifs",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    gmom AS (
      SELECT round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e6, 8) AS mu,
             round(sqrt(CAST(sum(CAST(round(z * 1e6) AS HUGEINT)
                                 * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                          / 1e12 / count(*)
                        - (CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                           / count(*) / 1e6)
                          * (CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                             / count(*) / 1e6)), 8) AS sd
      FROM idx
    ),
    paa AS (
      SELECT ((idx.i - 1) // {SAX_SEG}) AS seg,
             round(CAST(sum(CAST(round(round((idx.z - gmom.mu) / gmom.sd, 8)
                                       * 1e8) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e8, 8) AS v,
             count(*) AS n_in_seg
      FROM idx CROSS JOIN gmom
      GROUP BY ((idx.i - 1) // {SAX_SEG})
      HAVING count(*) = {SAX_SEG}
    ),
    sym AS (
      SELECT seg,
             CASE WHEN v < {SAX_BP[0]} THEN 'a'
                  WHEN v < {SAX_BP[1]} THEN 'b'
                  WHEN v < {SAX_BP[2]} THEN 'c'
                  ELSE 'd' END AS s
      FROM paa
    ),
    words AS (
      SELECT a.seg AS start_seg, a.s || b.s || c.s AS word
      FROM sym a JOIN sym b ON b.seg = a.seg + 1 JOIN sym c ON c.seg = a.seg + 2
    )
    SELECT word,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(start_seg) AS BIGINT) AS first_start_seg,
           count(*) >= 2 AS is_motif
    FROM words GROUP BY word
    """,
    tags=("timeseries", "mining", "symbolic"),
)
def sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of monthly revenue:
    z-normalize, Piecewise Aggregate Approximation over {seg}-month
    segments, map segment means to a 4-symbol alphabet at the N(0,1)
    quartile breakpoints, then count {w}-symbol words — words occurring
    >= 2 times are motifs (recurring revenue regimes). SAX is the
    discretization that lets suffix/hash machinery (the corpus's own
    n-gram operators!) run on numeric series; this query is exactly that
    bridge.

    Scale: monthly aggregate -> O(segments) PAA -> O(words) counts, all
    calendar-bounded. Determinism: z-scores and PAA means round at 8
    before the breakpoint comparisons (symbols are then exact), and word
    assembly/counting is pure string/integer work."""
    idx = _monthly(spark, sf_dir)
    # integer z-moments + per-segment integer means (round-6 emission
    # rule), mirroring the oracle's gmom/paa CTEs
    z6 = F.round(F.col("z") * 1e6).cast("long")
    mu_d = F.sum(z6).cast("double") / F.count(F.lit(1)) / 1e6
    gmom = idx.agg(
        F.round(mu_d, 8).alias("mu"),
        F.round(
            F.sqrt(
                F.sum(z6.cast("decimal(19,0)") * z6).cast("double")
                / 1e12
                / F.count(F.lit(1))
                - mu_d * mu_d
            ),
            8,
        ).alias("sd"),
    )
    paa = (
        idx.crossJoin(F.broadcast(gmom))
        .select(
            ((F.col("i") - 1) / SAX_SEG).cast("long").alias("seg"),
            F.round(F.round((F.col("z") - F.col("mu")) / F.col("sd"), 8) * 1e8)
            .cast("long")
            .alias("x8"),
        )
        .groupBy("seg")
        .agg(
            F.round(
                F.sum("x8").cast("double") / F.count(F.lit(1)) / 1e8, 8
            ).alias("v"),
            F.count(F.lit(1)).alias("n_in_seg"),
        )
        .filter(F.col("n_in_seg") == SAX_SEG)
    )
    sym = paa.select(
        "seg",
        F.when(F.col("v") < SAX_BP[0], "a")
        .when(F.col("v") < SAX_BP[1], "b")
        .when(F.col("v") < SAX_BP[2], "c")
        .otherwise("d")
        .alias("s"),
    )
    a = sym.select(F.col("seg").alias("start_seg"), F.col("s").alias("sa"))
    b = sym.select(F.col("seg").alias("sb_seg"), F.col("s").alias("sb"))
    c = sym.select(F.col("seg").alias("sc_seg"), F.col("s").alias("sc"))
    words = (
        a.join(b, F.col("sb_seg") == F.col("start_seg") + 1)
        .join(c, F.col("sc_seg") == F.col("start_seg") + 2)
        .select("start_seg", F.concat("sa", "sb", "sc").alias("word"))
    )
    return words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("start_seg").cast("long").alias("first_start_seg"),
        (F.count(F.lit(1)) >= 2).alias("is_motif"),
    )


# ---------------------------------------------------------------------------
# q_forecast_combination — Bates-Granger inverse-MSE pooling
# ---------------------------------------------------------------------------

FC_START = 13  # evaluate from the first month with all three forecasts


@query(
    "q_forecast_combination",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    f AS (
      SELECT a.i, a.z,
             n1.z AS f_naive,
             n12.z AS f_snaive,
             (SELECT round(CAST(sum(CAST(round(b.z * 1e6) AS BIGINT)) AS DOUBLE)
                           / count(*) / 1e6, 8)
              FROM idx b WHERE b.i < a.i) AS f_mean
      FROM idx a
      JOIN idx n1 ON n1.i = a.i - 1
      JOIN idx n12 ON n12.i = a.i - 12
      WHERE a.i >= {FC_START}
    ),
    mse AS (
      SELECT round(CAST(sum(CAST(round((z - f_naive) * 1e8) AS HUGEINT)
                            * CAST(round((z - f_naive) * 1e8) AS BIGINT)) AS DOUBLE)
                   / 1e16 / count(*), 8) AS m1,
             round(CAST(sum(CAST(round((z - f_snaive) * 1e8) AS HUGEINT)
                            * CAST(round((z - f_snaive) * 1e8) AS BIGINT)) AS DOUBLE)
                   / 1e16 / count(*), 8) AS m2,
             round(CAST(sum(CAST(round((z - f_mean) * 1e8) AS HUGEINT)
                            * CAST(round((z - f_mean) * 1e8) AS BIGINT)) AS DOUBLE)
                   / 1e16 / count(*), 8) AS m3,
             count(*) AS n
      FROM f
    ),
    w AS (
      SELECT n, m1, m2, m3,
             (1.0 / m1) / (1.0 / m1 + 1.0 / m2 + 1.0 / m3) AS w1,
             (1.0 / m2) / (1.0 / m1 + 1.0 / m2 + 1.0 / m3) AS w2,
             (1.0 / m3) / (1.0 / m1 + 1.0 / m2 + 1.0 / m3) AS w3
      FROM mse
    ),
    comb AS (
      SELECT round(CAST(sum(CAST(round((f.z - (w.w1 * f.f_naive
                                               + w.w2 * f.f_snaive
                                               + w.w3 * f.f_mean)) * 1e8)
                                 AS HUGEINT)
                            * CAST(round((f.z - (w.w1 * f.f_naive
                                                 + w.w2 * f.f_snaive
                                                 + w.w3 * f.f_mean)) * 1e8)
                                   AS BIGINT)) AS DOUBLE)
                   / 1e16 / count(*), 8)
               AS mc, max(w.w1) AS w1, max(w.w2) AS w2, max(w.w3) AS w3,
             max(w.m1) AS m1, max(w.m2) AS m2, max(w.m3) AS m3, max(w.n) AS n
      FROM f CROSS JOIN w
    )
    SELECT model, round(mse, 6) AS mse, round(weight, 6) AS weight
    FROM (
      SELECT 'naive' AS model, m1 AS mse, w1 AS weight FROM comb
      UNION ALL SELECT 'seasonal_naive', m2, w2 FROM comb
      UNION ALL SELECT 'expanding_mean', m3, w3 FROM comb
      UNION ALL SELECT 'combined', mc, 1.0 FROM comb
    )
    """,
    tags=("timeseries", "forecast"),
)
def forecast_combination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bates-Granger forecast combination over three model-free monthly
    forecasters — naive (last month), seasonal naive (same month last
    year), expanding mean — pooled with inverse-MSE weights, reporting
    each model's one-step in-sample MSE, its weight, and the combined
    forecast's MSE. The empirical point the combination literature
    hammers: the pool is routinely better than every member, and the
    weights double as an interpretable model ranking (q_forecast_backtest
    evaluates ONE model out-of-sample; this is the pooling step above
    it).

    Scale: the corpus reduces to the O(calendar) monthly series; lags are
    equi-joins on the month index (from the two-phase global rank, no
    single-partition window), the expanding mean is an O(months^2) ~ 3k
    bounded correlated prefix, and MSEs/weights are closed forms of
    8-dp-rounded errors, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    a = idx.select(F.col("i").alias("i"), F.col("z").alias("z"))
    n1 = idx.select((F.col("i") + 1).alias("i"), F.col("z").alias("f_naive"))
    n12 = idx.select((F.col("i") + 12).alias("i"), F.col("z").alias("f_snaive"))
    prior = idx.select(F.col("i").alias("j"), F.col("z").alias("zj"))
    fmean = (
        # explicit broadcast: the prior-months side is calendar-bounded, and
        # without the hint this non-equi join degrades to a cartesian when
        # session state has auto-broadcast disabled (the plan-suite catch)
        a.join(F.broadcast(prior), F.col("j") < F.col("i"))
        .groupBy("i")
        .agg(
            F.round(
                F.sum(F.round(F.col("zj") * 1e6).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 1e6,
                8,
            ).alias("f_mean")
        )
    )
    f = (
        a.join(n1, "i")
        .join(n12, "i")
        .join(fmean, "i")
        .filter(F.col("i") >= FC_START)
    )
    def _mse_of(err):
        e8 = F.round(err * 1e8).cast("long")
        return F.round(
            F.sum(e8.cast("decimal(19,0)") * e8).cast("double")
            / 1e16
            / F.count(F.lit(1)),
            8,
        )

    mse = f.agg(
        _mse_of(F.col("z") - F.col("f_naive")).alias("m1"),
        _mse_of(F.col("z") - F.col("f_snaive")).alias("m2"),
        _mse_of(F.col("z") - F.col("f_mean")).alias("m3"),
    )
    inv = 1.0 / F.col("m1") + 1.0 / F.col("m2") + 1.0 / F.col("m3")
    w = mse.select(
        "m1",
        "m2",
        "m3",
        ((1.0 / F.col("m1")) / inv).alias("w1"),
        ((1.0 / F.col("m2")) / inv).alias("w2"),
        ((1.0 / F.col("m3")) / inv).alias("w3"),
    )
    comb_err = F.col("z") - (
        F.col("w1") * F.col("f_naive")
        + F.col("w2") * F.col("f_snaive")
        + F.col("w3") * F.col("f_mean")
    )
    comb = f.crossJoin(F.broadcast(w)).agg(
        _mse_of(comb_err).alias("mc"),
        F.max("w1").alias("w1"),
        F.max("w2").alias("w2"),
        F.max("w3").alias("w3"),
        F.max("m1").alias("m1"),
        F.max("m2").alias("m2"),
        F.max("m3").alias("m3"),
    ).localCheckpoint(eager=True)
    # ^ comb is ONE row consumed by the four model rows below; without the
    # checkpoint the whole backtest pipeline re-executes per row (round-5
    # double-execution audit).
    rows = []
    for model, m_col, w_col in (
        ("naive", "m1", "w1"),
        ("seasonal_naive", "m2", "w2"),
        ("expanding_mean", "m3", "w3"),
    ):
        rows.append(
            comb.select(
                F.lit(model).alias("model"),
                F.round(F.col(m_col), 6).alias("mse"),
                F.round(F.col(w_col), 6).alias("weight"),
            )
        )
    rows.append(
        comb.select(
            F.lit("combined").alias("model"),
            F.round(F.col("mc"), 6).alias("mse"),
            F.lit(1.0).alias("weight"),
        )
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# q_pacf — partial autocorrelation at lags 1..3 (Durbin-Levinson closed forms)
# ---------------------------------------------------------------------------


@query(
    "q_pacf",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    gmom AS (
      SELECT count(*) AS n,
             round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e6, 8) AS mu FROM idx
    ),
    xc AS (
      SELECT idx.i, CAST(round(round(idx.z - gmom.mu, 8) * 1e8) AS BIGINT) AS x8,
             gmom.n
      FROM idx CROSS JOIN gmom
    ),
    g AS (
      SELECT max(a.n) AS n,
             CAST(sum(CAST(a.x8 AS HUGEINT) * a.x8) AS DOUBLE)
               / 1e16 / max(a.n) AS g0,
             CAST(sum(CASE WHEN b1.x8 IS NOT NULL THEN
                  CAST(a.x8 AS HUGEINT) * b1.x8 END) AS DOUBLE)
               / 1e16 / max(a.n) AS g1,
             CAST(sum(CASE WHEN b2.x8 IS NOT NULL THEN
                  CAST(a.x8 AS HUGEINT) * b2.x8 END) AS DOUBLE)
               / 1e16 / max(a.n) AS g2,
             CAST(sum(CASE WHEN b3.x8 IS NOT NULL THEN
                  CAST(a.x8 AS HUGEINT) * b3.x8 END) AS DOUBLE)
               / 1e16 / max(a.n) AS g3
      FROM xc a
      LEFT JOIN xc b1 ON b1.i = a.i + 1
      LEFT JOIN xc b2 ON b2.i = a.i + 2
      LEFT JOIN xc b3 ON b3.i = a.i + 3
    ),
    rho AS (
      SELECT n, g1 / g0 AS r1, g2 / g0 AS r2, g3 / g0 AS r3 FROM g
    ),
    dl AS (
      SELECT n, r1, r2, r3,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
      FROM rho
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(r1, 6) AS pacf_1,
           round(phi22, 6) AS pacf_2,
           round((r3 - (r1 * (1.0 - phi22)) * r2 - phi22 * r1)
                 / (1.0 - (r1 * (1.0 - phi22)) * r1 - phi22 * r2), 6) AS pacf_3,
           round(1.959964 / sqrt(n), 6) AS white_noise_band
    FROM dl
    """,
    tags=("timeseries", "stats"),
)
def pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of monthly revenue at lags 1-3 via the
    Durbin-Levinson closed forms (phi11 = rho1, phi22 =
    (rho2 - rho1^2)/(1 - rho1^2), phi33 from the level-2 coefficients) —
    THE AR-order diagnostic: PACF cuts off after lag p for an AR(p),
    where the raw ACF (q_autocorrelation) decays and cannot separate
    direct from inherited correlation. The +-1.96/sqrt(n) white-noise
    band rides along so the cutoff read is immediate.

    Scale: the monthly aggregate, three lag equi-joins on the month
    index (no windows), one moment aggregate, closed forms — all
    calendar-bounded. Deviations round at 8 before the products; the
    autocovariances share one fixed divisor n so the rho ratios are
    engine-identical to ulp, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    # integer moments (round-6 emission rule), mirroring the oracle
    z6 = F.round(F.col("z") * 1e6).cast("long")
    gmom = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(z6).cast("double") / F.count(F.lit(1)) / 1e6, 8
        ).alias("mu"),
    )
    xc = idx.crossJoin(F.broadcast(gmom)).select(
        "i",
        F.round(F.round(F.col("z") - F.col("mu"), 8) * 1e8).cast("long").alias("x"),
        "n",
    )
    a = xc.select("i", F.col("x").alias("xa"), "n")
    for k in (1, 2, 3):
        a = a.join(
            F.broadcast(xc.select((F.col("i") - k).alias("i"), F.col("x").alias(f"xl{k}"))),
            "i",
            "left",
        )
    xad = F.col("xa").cast("decimal(19,0)")
    g = a.agg(
        F.max("n").alias("n"),
        (F.sum(xad * F.col("xa")).cast("double") / 1e16 / F.max("n")).alias("g0"),
        (F.sum(xad * F.col("xl1")).cast("double") / 1e16 / F.max("n")).alias("g1"),
        (F.sum(xad * F.col("xl2")).cast("double") / 1e16 / F.max("n")).alias("g2"),
        (F.sum(xad * F.col("xl3")).cast("double") / 1e16 / F.max("n")).alias("g3"),
    )
    rho = g.select(
        "n",
        (F.col("g1") / F.col("g0")).alias("r1"),
        (F.col("g2") / F.col("g0")).alias("r2"),
        (F.col("g3") / F.col("g0")).alias("r3"),
    )
    phi22 = (F.col("r2") - F.col("r1") * F.col("r1")) / (1.0 - F.col("r1") * F.col("r1"))
    dl = rho.select("n", "r1", "r2", "r3", phi22.alias("phi22"))
    phi21 = F.col("r1") * (1.0 - F.col("phi22"))
    return dl.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("r1"), 6).alias("pacf_1"),
        F.round(F.col("phi22"), 6).alias("pacf_2"),
        F.round(
            (F.col("r3") - phi21 * F.col("r2") - F.col("phi22") * F.col("r1"))
            / (1.0 - phi21 * F.col("r1") - F.col("phi22") * F.col("r2")),
            6,
        ).alias("pacf_3"),
        F.round(1.959964 / F.sqrt(F.col("n").cast("double")), 6).alias("white_noise_band"),
    )


# ---------------------------------------------------------------------------
# q_gpd_pot — peaks-over-threshold GPD tail fit (method of moments)
# ---------------------------------------------------------------------------

POT_Q = 0.95  # threshold quantile
POT_VAR_P = 0.999  # reported tail VaR level


@query(
    "q_gpd_pot",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS x
      FROM orders GROUP BY d
    ),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, d) AS rn, count(*) OVER () AS n
      FROM daily
    ),
    thr AS (
      SELECT min(CASE WHEN rn = CAST(ceil({POT_Q} * n) AS BIGINT) THEN x END) AS u,
             max(n) AS n
      FROM ranked
    ),
    exc AS (
      SELECT round(daily.x - thr.u, 8) AS e, thr.u, thr.n
      FROM daily CROSS JOIN thr WHERE daily.x > thr.u
    ),
    mom AS (
      SELECT max(u) AS u, max(n) AS n, count(*) AS ne,
             CAST(sum(CAST(round(e * 1e8) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e8 AS m,
             CAST(sum(CAST(round(e * 1e8) AS HUGEINT)
                      * CAST(round(e * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / count(*)
               - (CAST(sum(CAST(round(e * 1e8) AS BIGINT)) AS DOUBLE)
                  / count(*) / 1e8)
                 * (CAST(sum(CAST(round(e * 1e8) AS BIGINT)) AS DOUBLE)
                    / count(*) / 1e8) AS s2
      FROM exc
    ),
    fit AS (
      SELECT u, n, ne, m, s2,
             0.5 * (1.0 - m * m / s2) AS xi,
             0.5 * m * (m * m / s2 + 1.0) AS beta
      FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(ne AS BIGINT) AS n_exceed,
           round(u, 6) AS threshold,
           round(xi, 6) AS xi,
           round(beta, 6) AS beta,
           round(u + beta / xi
                 * (pow(n * (1.0 - {POT_VAR_P}) / ne, -xi) - 1.0), 6) AS var_999
    FROM fit
    """,
    tags=("finance", "stats", "timeseries", "risk"),
)
def gpd_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold extreme-value fit on daily revenue: excesses
    over the exact 95th-percentile threshold (rank ⌈0.95·n⌉, the
    q_percentile_disc formulation) fitted to a generalized Pareto by
    method of moments — ξ = ½(1 − m²/s²), β = ½m(m²/s² + 1) — with the
    implied 99.9% VaR u + β/ξ·((n·p/nᵤ)^−ξ − 1). The OTHER standard EVT
    estimator next to q_evt_block_maxima's quarterly-maxima Gumbel fit:
    POT uses every tail observation instead of one per block, which is
    what makes it the production choice for capital models.

    Scale: one daily aggregate (O(days)), the distributed two-phase
    global rank for the threshold, one excess pass, one moment pass,
    closed forms. Excesses round at 8; rounded at 6."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000.0, 6).alias("x")
    )
    n = daily.count()  # bounded driver scalar: number of days
    import math

    target = math.ceil(POT_Q * n)
    ranked = global_row_number(daily, ["x", "d"], rn_col="rn")
    thr = ranked.agg(
        F.min(F.when(F.col("rn") == target, F.col("x"))).alias("u"),
    )
    exc = (
        daily.crossJoin(F.broadcast(thr))
        .filter(F.col("x") > F.col("u"))
        .select(F.round(F.col("x") - F.col("u"), 8).alias("e"), "u")
    )
    mom = exc.agg(
        F.max("u").alias("u"),
        F.count(F.lit(1)).alias("ne"),
        (
            F.sum(F.round(F.col("e") * 1e8).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e8
        ).alias("m"),
        (
            F.sum(
                F.round(F.col("e") * 1e8).cast("long").cast("decimal(19,0)")
                * F.round(F.col("e") * 1e8).cast("long")
            ).cast("double")
            / 1e16
            / F.count(F.lit(1))
            - (
                F.sum(F.round(F.col("e") * 1e8).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 1e8
            )
            * (
                F.sum(F.round(F.col("e") * 1e8).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 1e8
            )
        ).alias("s2"),
    )
    xi = 0.5 * (1.0 - F.col("m") * F.col("m") / F.col("s2"))
    beta = 0.5 * F.col("m") * (F.col("m") * F.col("m") / F.col("s2") + 1.0)
    fit = mom.select(
        "u", "ne", xi.alias("xi"), beta.alias("beta")
    )
    return fit.select(
        F.lit(n).cast("long").alias("n_days"),
        F.col("ne").cast("long").alias("n_exceed"),
        F.round(F.col("u"), 6).alias("threshold"),
        F.round(F.col("xi"), 6).alias("xi"),
        F.round(F.col("beta"), 6).alias("beta"),
        F.round(
            F.col("u")
            + F.col("beta")
            / F.col("xi")
            * (
                F.pow(F.lit(n) * (1.0 - POT_VAR_P) / F.col("ne"), -F.col("xi"))
                - 1.0
            ),
            6,
        ).alias("var_999"),
    )


# ---------------------------------------------------------------------------
# q_ts_feature_vector — STL-style strength-of-trend/seasonality features
# ---------------------------------------------------------------------------


@query(
    "q_ts_feature_vector",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    mom AS (
      SELECT count(*) AS n, sum(i * 1.0) AS si,
             CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sz,
             sum(i * 1.0 * i) AS sii,
             CAST(sum(i * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS siz
      FROM idx
    ),
    fit AS (
      SELECT n, (n * siz - si * sz) / (n * sii - si * si) AS beta,
             (sz - (n * siz - si * sz) / (n * sii - si * si) * si) / n AS alpha
      FROM mom
    ),
    detr AS (
      SELECT idx.mi, idx.i, idx.z,
             round(idx.z - fit.alpha - fit.beta * idx.i, 8) AS dt
      FROM idx CROSS JOIN fit
    ),
    seas AS (
      SELECT mi % 12 AS moy,
             round(CAST(sum(CAST(round(dt * 1e8) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e8, 8) AS s
      FROM detr GROUP BY mi % 12
    ),
    parts AS (
      SELECT detr.i, detr.z, detr.dt, seas.s,
             round(detr.dt - seas.s, 8) AS r
      FROM detr JOIN seas ON seas.moy = detr.mi % 12
    ),
    vars_ AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(z * 1e6) AS HUGEINT)
                      * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
               / 1e12 / count(*)
             - (CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                / count(*) / 1e6)
               * (CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                  / count(*) / 1e6) AS vz,
             CAST(sum(CAST(round(dt * 1e8) AS HUGEINT)
                      * CAST(round(dt * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / count(*)
             - (CAST(sum(CAST(round(dt * 1e8) AS BIGINT)) AS DOUBLE)
                / count(*) / 1e8)
               * (CAST(sum(CAST(round(dt * 1e8) AS BIGINT)) AS DOUBLE)
                  / count(*) / 1e8) AS vdt,
             CAST(sum(CAST(round(r * 1e8) AS HUGEINT)
                      * CAST(round(r * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / count(*)
             - (CAST(sum(CAST(round(r * 1e8) AS BIGINT)) AS DOUBLE)
                / count(*) / 1e8)
               * (CAST(sum(CAST(round(r * 1e8) AS BIGINT)) AS DOUBLE)
                  / count(*) / 1e8) AS vr,
             CAST(sum(CAST(round((z - dt) * 1e8) AS HUGEINT)
                      * CAST(round((z - dt) * 1e8) AS BIGINT)) AS DOUBLE)
               / 1e16 / count(*)
             - (CAST(sum(CAST(round((z - dt) * 1e8) AS BIGINT)) AS DOUBLE)
                / count(*) / 1e8)
               * (CAST(sum(CAST(round((z - dt) * 1e8) AS BIGINT)) AS DOUBLE)
                  / count(*) / 1e8) AS vtrendpart
      FROM parts
    ),
    acf AS (
      SELECT CAST(sum(CAST(round(a.r * 1e8) AS HUGEINT)
                     * CAST(round(b.r * 1e8) AS BIGINT)) AS DOUBLE)
               / CAST(sum(CAST(round(a.r * 1e8) AS HUGEINT)
                          * CAST(round(a.r * 1e8) AS BIGINT)) AS DOUBLE) AS acf1
      FROM parts a JOIN parts b ON b.i = a.i - 1
    )
    SELECT CAST(vars_.n AS BIGINT) AS n_months,
           round(greatest(0.0, 1.0 - vars_.vr / vars_.vdt), 6) AS f_seasonal,
           round(greatest(0.0, 1.0 - vars_.vr / (vars_.vr + vars_.vtrendpart)), 6)
             AS f_trend_proxy,
           round(acf.acf1, 6) AS resid_acf1,
           round(sqrt(vars_.vr) / sqrt(vars_.vz), 6) AS noise_share
    FROM vars_ CROSS JOIN acf
    """,
    tags=("timeseries", "stats", "ml"),
)
def ts_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-based forecasting descriptors of monthly revenue (the
    tsfeatures/M4 screening layer): strength of seasonality F_seas =
    max(0, 1 − Var(R)/Var(S+R)) from the OLS-detrended series and its
    month-of-year means, a trend-strength proxy from the fitted trend
    component, the residual lag-1 autocorrelation, and the noise share —
    the one-row fingerprint a pipeline computes for THOUSANDS of series
    to route each to the right model family (seasonal-naive vs ETS vs
    flat) before fitting anything (q_holt_winters and friends are the
    downstream consumers).

    Scale: monthly aggregate, one trend fit, a 12-row seasonal model
    join, two moment passes and one lag join — calendar-bounded.
    Components round at 8 at each subtraction; variances share
    expression shape; rounded at 6."""
    idx = _monthly(spark, sf_dir)
    # integer moments everywhere (round-6 emission rule), mirroring the
    # oracle CTE for CTE
    z6g = F.round(F.col("z") * 1e6).cast("long")
    mom = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i") * 1.0).alias("si"),
        (F.sum(z6g).cast("double") / 1e6).alias("sz"),
        F.sum(F.col("i") * 1.0 * F.col("i")).alias("sii"),
        (F.sum(F.col("i") * z6g).cast("double") / 1e6).alias("siz"),
    )
    beta = (F.col("n") * F.col("siz") - F.col("si") * F.col("sz")) / (
        F.col("n") * F.col("sii") - F.col("si") * F.col("si")
    )
    fit = mom.select(
        beta.alias("beta"),
        ((F.col("sz") - beta * F.col("si")) / F.col("n")).alias("alpha"),
    )
    detr = idx.crossJoin(F.broadcast(fit)).select(
        "mi",
        "i",
        "z",
        F.round(F.col("z") - F.col("alpha") - F.col("beta") * F.col("i"), 8).alias("dt"),
    )
    seas = detr.groupBy((F.col("mi") % 12).alias("moy")).agg(
        F.round(
            F.sum(F.round(F.col("dt") * 1e8).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e8,
            8,
        ).alias("s")
    )
    parts = detr.join(F.broadcast(seas), detr.mi % 12 == F.col("moy")).select(
        "i", "z", "dt", F.round(F.col("dt") - F.col("s"), 8).alias("r")
    )
    def _var_of(col, grain, g2):
        gi = F.round(col * grain).cast("long")
        a = F.sum(gi.cast("decimal(19,0)") * gi).cast("double") / g2 / F.count(F.lit(1))
        b_ = F.sum(gi).cast("double") / F.count(F.lit(1)) / grain
        return a - b_ * b_

    vars_ = parts.agg(
        F.count(F.lit(1)).alias("n"),
        _var_of(F.col("z"), 1e6, 1e12).alias("vz"),
        _var_of(F.col("dt"), 1e8, 1e16).alias("vdt"),
        _var_of(F.col("r"), 1e8, 1e16).alias("vr"),
        _var_of(F.col("z") - F.col("dt"), 1e8, 1e16).alias("vtrendpart"),
    )
    b = parts.select((F.col("i") + 1).alias("i"), F.col("r").alias("rb"))
    r8 = F.round(F.col("r") * 1e8).cast("long")
    rb8 = F.round(F.col("rb") * 1e8).cast("long")
    acf = (
        parts.join(F.broadcast(b), "i")
        .agg(
            (
                F.sum(r8.cast("decimal(19,0)") * rb8).cast("double")
                / F.sum(r8.cast("decimal(19,0)") * r8).cast("double")
            ).alias("acf1")
        )
    )
    return vars_.crossJoin(F.broadcast(acf)).select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vdt")), 6).alias(
            "f_seasonal"
        ),
        F.round(
            F.greatest(
                F.lit(0.0), 1.0 - F.col("vr") / (F.col("vr") + F.col("vtrendpart"))
            ),
            6,
        ).alias("f_trend_proxy"),
        F.round(F.col("acf1"), 6).alias("resid_acf1"),
        F.round(F.sqrt(F.col("vr")) / F.sqrt(F.col("vz")), 6).alias("noise_share"),
    )


# ---------------------------------------------------------------------------
# q_ou_halflife — mean-reversion half-life from the AR(1) fit
# ---------------------------------------------------------------------------


@query(
    "q_ou_halflife",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    d AS (
      SELECT a.i, b.z AS x, a.z AS y
      FROM idx a JOIN idx b ON b.i = a.i - 1
    ),
    mm AS (
      SELECT count(*) AS nd,
             CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
             CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
             CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                      * CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxx,
             CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxy
      FROM d
    ),
    fit AS (
      SELECT nd, (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS phi
      FROM mm
    )
    SELECT CAST(nd AS BIGINT) AS n_obs,
           round(phi, 6) AS ar1_phi,
           round(CASE WHEN phi > 0.0 AND phi < 1.0
                      THEN -ln(2.0) / ln(phi) END, 6) AS halflife_months,
           CASE WHEN phi <= 0.0 THEN 'overshooting'
                WHEN phi >= 1.0 THEN 'non_reverting'
                WHEN -ln(2.0) / ln(phi) <= 3.0 THEN 'fast_reversion'
                ELSE 'slow_reversion' END AS regime
    FROM fit
    """,
    tags=("timeseries", "finance", "stats"),
)
def ou_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ornstein-Uhlenbeck mean-reversion half-life of monthly revenue
    from the AR(1) fit zₜ = α + φzₜ₋₁: HL = −ln2/lnφ months — the
    number a stat-arb desk actually trades on (q_adf_test says WHETHER
    the series reverts; this says HOW FAST, which sets the holding
    period), with guarded regimes for φ ≤ 0 (overshooting — reversion
    within one period) and φ ≥ 1 (no reversion, HL undefined → NULL on
    both engines).

    Scale: monthly aggregate, one lag equi-join, one 5-moment
    closed-form slope — calendar-bounded, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    d = idx.select("i", F.col("z").alias("y")).join(
        F.broadcast(idx.select((F.col("i") + 1).alias("i"), F.col("z").alias("x"))),
        "i",
    )
    # integer moments (round-6 emission rule), mirroring the oracle's mm
    x6 = F.round(F.col("x") * 1e6).cast("long")
    y6 = F.round(F.col("y") * 1e6).cast("long")
    x6d = x6.cast("decimal(19,0)")
    mm = d.agg(
        F.count(F.lit(1)).alias("nd"),
        (F.sum(x6).cast("double") / 1e6).alias("sx"),
        (F.sum(y6).cast("double") / 1e6).alias("sy"),
        (F.sum(x6d * x6).cast("double") / 1e12).alias("sxx"),
        (F.sum(x6d * y6).cast("double") / 1e12).alias("sxy"),
    )
    phi = (F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mm.select("nd", phi.alias("phi"))
    hl = -F.log(F.lit(2.0)) / F.log(F.col("phi"))
    return fit.select(
        F.col("nd").cast("long").alias("n_obs"),
        F.round(F.col("phi"), 6).alias("ar1_phi"),
        F.round(
            F.when((F.col("phi") > 0.0) & (F.col("phi") < 1.0), hl), 6
        ).alias("halflife_months"),
        F.when(F.col("phi") <= 0.0, F.lit("overshooting"))
        .when(F.col("phi") >= 1.0, F.lit("non_reverting"))
        .when(hl <= 3.0, F.lit("fast_reversion"))
        .otherwise(F.lit("slow_reversion"))
        .alias("regime"),
    )


# ---------------------------------------------------------------------------
# q_gaussian_copula — rank-based dependence fit of revenue vs quantity
# ---------------------------------------------------------------------------


@query(
    "q_gaussian_copula",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    xm AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) * 12 + month(l_shipdate) AS mi,
             round(sum(l_quantity) / 1000.0, 6) AS x
      FROM lineitem GROUP BY mi
    ),
    pairs AS (
      SELECT m.mi, m.z AS y, xm.x FROM m JOIN xm ON xm.mi = m.mi
    ),
    ranked AS (
      SELECT a.mi, a.y, a.x,
             (SELECT count(*) FROM pairs b
              WHERE b.y < a.y OR (b.y = a.y AND b.mi < a.mi)) + 1 AS ry,
             (SELECT count(*) FROM pairs b
              WHERE b.x < a.x OR (b.x = a.x AND b.mi < a.mi)) + 1 AS rx
      FROM pairs a
    ),
    rho AS (
      SELECT count(*) AS n,
             1.0 - 6.0 * sum((ry - rx) * 1.0 * (ry - rx))
               / (count(*) * (count(*) * 1.0 * count(*) - 1.0)) AS rho_s
      FROM ranked
    ),
    cop AS (
      SELECT n, rho_s,
             2.0 * sin(pi() * rho_s / 6.0) AS rho_gauss
      FROM rho
    ),
    tails AS (
      SELECT max(cop.n) AS n, max(cop.rho_s) AS rho_s,
             max(cop.rho_gauss) AS rho_gauss,
             sum(CASE WHEN ranked.ry > 0.9 * cop.n AND ranked.rx > 0.9 * cop.n
                      THEN 1 ELSE 0 END) * 1.0 / max(cop.n) AS joint_upper_emp
      FROM ranked CROSS JOIN cop
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(rho_s, 6) AS spearman_rho,
           round(rho_gauss, 6) AS copula_rho,
           round(joint_upper_emp, 6) AS joint_upper_emp,
           round(0.01, 6) AS indep_upper_expect
    FROM tails
    """,
    tags=("finance", "stats", "timeseries"),
)
def gaussian_copula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian-copula dependence fit between monthly revenue and
    shipped quantity: Spearman's ρ from exact tie-broken ranks, mapped
    to the copula parameter by the CLOSED FORM ρ_gauss = 2·sin(πρ_s/6)
    (the exact Spearman↔Pearson relation under the Gaussian copula — no
    optimizer needed), beside the EMPIRICAL joint-upper-decile
    probability P(both above their 90th percentile) against the 1%
    independence benchmark — the dependence-modeling layer above
    q_spearman_corr (marginal-free correlation) and q_tail_dependence
    (asymptotic tails): the copula parameter is what a risk engine
    simulates from.

    Scale: two monthly aggregates, month equi-join, rank-by-count over
    the ~80-row broadcast relation, closed forms — calendar-bounded.
    Ranks are exact integers with (value, month) tie-breaks; rounded at
    6."""
    idx_y = _monthly(spark, sf_dir).select("mi", F.col("z").alias("y"))
    li = load_table(spark, sf_dir, "lineitem")
    xm = li.groupBy(
        (F.year("l_shipdate").cast("long") * 12 + F.month("l_shipdate")).alias("mi")
    ).agg(F.round(F.sum("l_quantity") / 1000.0, 6).alias("x"))
    pairs = idx_y.join(xm, "mi")
    b = pairs.select(
        F.col("mi").alias("mj"), F.col("y").alias("yj"), F.col("x").alias("xj")
    )
    ranked = (
        pairs.crossJoin(F.broadcast(b))
        .groupBy("mi", "y", "x")
        .agg(
            (
                F.sum(
                    F.when(
                        (F.col("yj") < F.col("y"))
                        | ((F.col("yj") == F.col("y")) & (F.col("mj") < F.col("mi"))),
                        1,
                    ).otherwise(0)
                )
                + 1
            ).alias("ry"),
            (
                F.sum(
                    F.when(
                        (F.col("xj") < F.col("x"))
                        | ((F.col("xj") == F.col("x")) & (F.col("mj") < F.col("mi"))),
                        1,
                    ).otherwise(0)
                )
                + 1
            ).alias("rx"),
        )
    )
    rho = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        (
            1.0
            - 6.0
            * F.sum((F.col("ry") - F.col("rx")) * 1.0 * (F.col("ry") - F.col("rx")))
            / (
                F.count(F.lit(1))
                * (F.count(F.lit(1)) * 1.0 * F.count(F.lit(1)) - 1.0)
            )
        ).alias("rho_s"),
    )
    import math

    cop = rho.select(
        "n",
        "rho_s",
        (2.0 * F.sin(F.lit(math.pi) * F.col("rho_s") / 6.0)).alias("rho_gauss"),
    )
    tails = ranked.crossJoin(F.broadcast(cop)).agg(
        F.max("n").alias("n"),
        F.max("rho_s").alias("rho_s"),
        F.max("rho_gauss").alias("rho_gauss"),
        (
            F.sum(
                F.when(
                    (F.col("ry") > 0.9 * F.col("n")) & (F.col("rx") > 0.9 * F.col("n")),
                    1,
                ).otherwise(0)
            )
            * 1.0
            / F.max("n")
        ).alias("joint_upper_emp"),
    )
    return tails.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("rho_s"), 6).alias("spearman_rho"),
        F.round(F.col("rho_gauss"), 6).alias("copula_rho"),
        F.round(F.col("joint_upper_emp"), 6).alias("joint_upper_emp"),
        F.round(F.lit(0.01), 6).alias("indep_upper_expect"),
    )


# ---------------------------------------------------------------------------
# q_sequential_patterns — eventually-follows association rules over sessions
# ---------------------------------------------------------------------------

SEQPAT_GAP_US = 30 * 60 * 1000000  # the repo's 30-minute session cut

_SEQPAT_SQL = f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SEQPAT_GAP_US}
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sid
      FROM flagged
    ),
    rowed AS (
      SELECT user_id, sid, event_type,
        row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
      FROM sessions
    ),
    spans AS (
      SELECT user_id, sid, event_type,
             CAST(min(rn) AS BIGINT) AS first_rn,
             CAST(max(rn) AS BIGINT) AS last_rn
      FROM rowed GROUP BY user_id, sid, event_type
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM (
        SELECT DISTINCT user_id, sid FROM rowed
      )
    ),
    present AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_with
      FROM spans GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             CAST(count(*) AS BIGINT) AS n_pattern
      FROM spans a
      JOIN spans b ON a.user_id = b.user_id AND a.sid = b.sid
                  AND a.event_type <> b.event_type
                  AND a.first_rn < b.last_rn
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.antecedent, p.consequent, p.n_pattern,
           round(p.n_pattern * 1e0 / tot.n_sessions, 6) AS support,
           round(p.n_pattern * 1e0 / pa.n_with, 6) AS confidence,
           round((p.n_pattern * 1e0 / pa.n_with)
                 / (pb.n_with * 1e0 / tot.n_sessions), 6) AS lift
    FROM pairs p
    JOIN present pa ON p.antecedent = pa.event_type
    JOIN present pb ON p.consequent = pb.event_type
    CROSS JOIN tot
    ORDER BY p.n_pattern DESC, p.antecedent, p.consequent
"""


@query(
    "q_sequential_patterns",
    oracle=_SEQPAT_SQL,
    tags=("analytics", "events"),
)
def sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential association rules with EVENTUALLY-FOLLOWS semantics: a
    session supports a -> b when some occurrence of b comes after some
    occurrence of a (first(a) < last(b)) — any gap allowed, unlike
    q_markov_transitions' adjacent-step matrix and q_session_paths'
    exact contiguous paths. Support / confidence / lift follow
    q_assoc_rules (the unordered basket twin): confidence conditions on
    sessions containing a, lift divides by the consequent's base rate.
    The PrefixSpan-style length-2 layer — at 100 TB you mine pairs
    first and extend only the survivors (anti-monotone support).

    Determinism: counting, not floating — per-session (type, first_rn,
    last_rn) spans make 'eventually follows' a pure integer comparison;
    the three ratios divide exact BIGINTs and round at 6; output
    totally ordered (n DESC, pair). Scale: one user-keyed session
    shuffle; spans is <=|alphabet| rows per session; the pair join is
    session-keyed (never cross-session) and emits <=k^2 combos per
    session before the global rollup."""
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w_user).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_user))
                > SEQPAT_GAP_US
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    run = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.withColumn("sid", F.sum("new_session").over(run))
    w_sess = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    rowed = sessions.select(
        "user_id", "sid", "event_type", F.row_number().over(w_sess).alias("rn")
    )
    spans = rowed.groupBy("user_id", "sid", "event_type").agg(
        F.min("rn").cast("long").alias("first_rn"),
        F.max("rn").cast("long").alias("last_rn"),
    )
    tot = rowed.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    present = spans.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_with")
    )
    a = spans.select(
        "user_id",
        "sid",
        F.col("event_type").alias("antecedent"),
        F.col("first_rn").alias("a_first"),
    )
    b = spans.select(
        "user_id",
        "sid",
        F.col("event_type").alias("consequent"),
        F.col("last_rn").alias("b_last"),
    )
    pairs = (
        a.join(b, ["user_id", "sid"])
        .filter(
            (F.col("antecedent") != F.col("consequent"))
            & (F.col("a_first") < F.col("b_last"))
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pattern"))
    )
    pa = present.select(
        F.col("event_type").alias("antecedent"), F.col("n_with").alias("na")
    )
    pb = present.select(
        F.col("event_type").alias("consequent"), F.col("n_with").alias("nb")
    )
    conf = F.col("n_pattern") * F.lit(1.0) / F.col("na")
    return (
        pairs.join(F.broadcast(pa), "antecedent")
        .join(F.broadcast(pb), "consequent")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            "n_pattern",
            F.round(F.col("n_pattern") * F.lit(1.0) / F.col("n_sessions"), 6).alias(
                "support"
            ),
            F.round(conf, 6).alias("confidence"),
            F.round(
                conf / (F.col("nb") * F.lit(1.0) / F.col("n_sessions")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("n_pattern").desc(), "antecedent", "consequent")
    )


# ---------------------------------------------------------------------------
# q_haar_wavelet — multi-resolution energy decomposition of monthly revenue
# ---------------------------------------------------------------------------

HAAR_N = 64  # dyadic window: first 64 months
HAAR_LEVELS = 6  # log2(HAAR_N)


def _haar_oracle() -> str:
    levels = ""
    for lv in range(1, HAAR_LEVELS + 1):
        levels += f""",
    l{lv} AS (
      SELECT CAST((o.k + 1) / 2 AS BIGINT) AS k,
             (o.a + e.a) / 2 AS a, (o.a - e.a) / 2 AS d
      FROM l{lv - 1} o JOIN l{lv - 1} e ON e.k = o.k + 1
      WHERE o.k % 2 = 1
    )"""
    bands = " UNION ALL ".join(
        f"""SELECT 'detail_{lv}' AS band, CAST(count(*) AS BIGINT) AS n_coeffs,
               round({2 ** lv} * (CAST(sum(CAST(round(d * 1e8) AS HUGEINT)
                                             * CAST(round(d * 1e8) AS BIGINT))
                                         AS DOUBLE) / 1e16), 6)
                 AS energy FROM l{lv}"""
        for lv in range(1, HAAR_LEVELS + 1)
    )
    return f"""
    WITH {_MONTHLY_SQL},
    l0 AS (SELECT i AS k, z AS a FROM idx WHERE i <= {HAAR_N}){levels},
    bands AS (
      {bands}
      UNION ALL
      SELECT 'approx', CAST(count(*) AS BIGINT),
             round({2 ** HAAR_LEVELS}
                   * (CAST(sum(CAST(round(a * 1e8) AS HUGEINT)
                               * CAST(round(a * 1e8) AS BIGINT)) AS DOUBLE)
                      / 1e16), 6) FROM l{HAAR_LEVELS}
    )
    SELECT band, n_coeffs, energy,
           round(energy * 1e0
                 / (sum(CAST(round(energy * 1e6) AS BIGINT)) OVER () / 1e6), 6)
             AS energy_share
    FROM bands ORDER BY band
"""


@query("q_haar_wavelet", oracle=_haar_oracle(), tags=("timeseries", "spectral"))
def haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of the first {HAAR_N} months of
    revenue: {HAAR_LEVELS} levels of pairwise average/difference
    (a = (x+y)/2, d = (x-y)/2), reporting each detail band's energy
    2^l * sum(d^2) and the coarse approximation — an EXACT Parseval
    split (x^2 + y^2 = 2a^2 + 2d^2 at every level) of total variance
    into time scales: detail_1 is month-to-month noise, detail_4-6 are
    the annual-and-slower movements q_periodogram sees as low
    frequencies, but localized in TIME (a wavelet band can place a
    regime break; a Fourier bin cannot). The where-q_periodogram-is-the
    -what companion.

    Determinism: the 6-dp monthly z feeds pure halving arithmetic —
    identical doubles on both engines at every level (each value is a
    fixed dyadic combination of the same inputs); band energies sum
    <= 32 terms and round at 6. Scale: one monthly aggregate scan, then
    O(n) total work across levels — corpus-independent past the scan."""
    idx = _monthly(spark, sf_dir)
    # each level reads the previous TWICE (odd and even sides) — without a
    # materialization barrier the monthly-scan subplan doubles per level
    # (2^6 copies; observed 74 s at sf0.001). The frame is <= 64 rows.
    lv = (
        idx.filter(F.col("i") <= HAAR_N)
        .select(F.col("i").alias("k"), F.col("z").alias("a"))
        .localCheckpoint()
    )
    bands = []
    for level in range(1, HAAR_LEVELS + 1):
        o = lv.filter(F.col("k") % 2 == 1).selectExpr("k AS ko", "a AS ao")
        e = lv.selectExpr("k AS ke", "a AS ae")
        paired = o.join(e, F.col("ke") == F.col("ko") + 1).select(
            ((F.col("ko") + 1) / 2).cast("long").alias("k"),
            ((F.col("ao") + F.col("ae")) / 2).alias("a"),
            ((F.col("ao") - F.col("ae")) / 2).alias("d"),
        )
        bands.append(
            paired.agg(
                F.lit(f"detail_{level}").alias("band"),
                F.count(F.lit(1)).cast("long").alias("n_coeffs"),
                F.round(
                    F.lit(float(2 ** level))
                    * (
                        F.sum(
                            F.round(F.col("d") * 1e8)
                            .cast("long")
                            .cast("decimal(19,0)")
                            * F.round(F.col("d") * 1e8).cast("long")
                        ).cast("double")
                        / 1e16
                    ),
                    6,
                ).alias("energy"),
            )
        )
        lv = paired.select("k", "a").localCheckpoint()
    bands.append(
        lv.agg(
            F.lit("approx").alias("band"),
            F.count(F.lit(1)).cast("long").alias("n_coeffs"),
            F.round(
                F.lit(float(2 ** HAAR_LEVELS))
                * (
                    F.sum(
                        F.round(F.col("a") * 1e8).cast("long").cast("decimal(19,0)")
                        * F.round(F.col("a") * 1e8).cast("long")
                    ).cast("double")
                    / 1e16
                ),
                6,
            ).alias("energy"),
        )
    )
    out = bands[0]
    for b in bands[1:]:
        out = out.unionByName(b)
    w = Window.partitionBy(F.lit(1))
    return out.select(
        "band",
        "n_coeffs",
        "energy",
        F.round(
            F.col("energy") * F.lit(1.0)
            / (F.sum(F.round(F.col("energy") * 1e6).cast("long")).over(w) / 1e6),
            6,
        ).alias("energy_share"),
    ).orderBy("band")
