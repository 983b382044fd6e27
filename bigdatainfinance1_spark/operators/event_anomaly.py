"""Event alignment and seasonal anomaly composites (round 4):
q_seasonal_esd (deseasonalize then iterated Grubbs/ESD — the
S-H-ESD-style anomaly pipeline), q_event_study (align nation panels on
each book's own event month and average abnormal returns across books —
the classic event-study CAR), and q_forecast_reconciliation (bottom-up
vs proportional top-down reconciliation of naive seasonal forecasts over
the nation → region → total hierarchy).

Scale notes: all three reduce to the O(nations × calendar) panel or the
O(calendar) monthly series in one fact(-dim) aggregate; event alignment
is a per-nation argmax plus a ±3-month relative join; the ESD rounds
are a FIXED 2-iteration unroll (each round one moment pass + one
argmax); reconciliation is three aggregates over the same panel.
Nothing downstream of the first aggregate grows with the corpus.

Determinism: panel values round at 6; residuals/deviations at 8 before
any argmax or product; argmaxes order by (rounded value, month index);
the ESD removal set is decided on rounded deviations so both engines
drop the identical point between rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.operators.ts_mining import _MONTHLY_SQL, _monthly
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

ESD_CRIT = 3.2  # approximate two-sided 5% Grubbs critical value, n ~ 78-80
EVENT_WIN = 3  # event window: tau in [-3, +3]


# ---------------------------------------------------------------------------
# q_seasonal_esd — deseasonalized two-round ESD outlier hunt
# ---------------------------------------------------------------------------


def _esd_round_sql(src: str, rnd: int) -> str:
    """One unrolled ESD round over relation ``src`` (mi, e): moment pass,
    argmax by (|e − mu| rounded 8 DESC, mi), Grubbs statistic."""
    return f"""
    mom{rnd} AS (
      SELECT count(*) AS n,
             round(CAST(sum(CAST(round(e * 1e8) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e8, 8) AS mu FROM {src}
    ),
    sd{rnd} AS (
      SELECT max(mom{rnd}.n) AS n, max(mom{rnd}.mu) AS mu,
             sqrt(CAST(sum(CAST(round(({src}.e - mom{rnd}.mu) * 1e8) AS HUGEINT)
                           * CAST(round(({src}.e - mom{rnd}.mu) * 1e8) AS BIGINT))
                       AS DOUBLE)
                  / 1e16 / (max(mom{rnd}.n) - 1)) AS s
      FROM {src} CROSS JOIN mom{rnd}
    ),
    top{rnd} AS (
      SELECT {src}.mi, {src}.e,
             round(abs({src}.e - sd{rnd}.mu), 8) AS d,
             sd{rnd}.n, sd{rnd}.s
      FROM {src} CROSS JOIN sd{rnd}
      ORDER BY d DESC, {src}.mi LIMIT 1
    )"""


@query(
    "q_seasonal_esd",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    seas AS (
      SELECT mi % 12 AS moy,
             round(CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e6, 8) AS sz
      FROM idx GROUP BY mi % 12
    ),
    resid AS (
      SELECT idx.mi, round(idx.z - seas.sz, 8) AS e
      FROM idx JOIN seas ON seas.moy = idx.mi % 12
    ),
    {_esd_round_sql('resid', 1)},
    resid2 AS (
      SELECT resid.mi, resid.e FROM resid CROSS JOIN top1
      WHERE resid.mi <> top1.mi
    ),
    {_esd_round_sql('resid2', 2)}
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS esd_round, CAST(mi AS BIGINT) AS mi,
             e AS residual, round(d / s, 6) AS g_stat,
             CASE WHEN d / s > {ESD_CRIT} THEN 'outlier' ELSE 'not_significant' END
               AS verdict
      FROM top1
      UNION ALL
      SELECT CAST(2 AS BIGINT), CAST(mi AS BIGINT), e, round(d / s, 6),
             CASE WHEN d / s > {ESD_CRIT} THEN 'outlier' ELSE 'not_significant' END
      FROM top2
    ) ORDER BY esd_round
    """,
    tags=("stats", "timeseries", "quality"),
)
def seasonal_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-hybrid ESD (two unrolled rounds): remove the
    month-of-year seasonal means from monthly revenue, then run the
    generalized ESD — each round computes the Grubbs statistic of the
    most extreme residual and REMOVES that point before the next round,
    which is exactly what lets ESD find a second outlier that the first
    one's inflated variance would mask (the q_grubbs_test single-shot
    can't). The S-H-ESD shape used in production anomaly detection,
    expressed as a fixed 2-round unroll.

    Scale: monthly aggregate, a 12-row seasonal model join, then two
    rounds of (moment pass + top-1 TakeOrdered) over ≤80 rows —
    calendar-bounded. Residuals and deviations round at 8 so both
    engines drop the identical point between rounds; rounded at 6."""
    idx = _monthly(spark, sf_dir)
    # integer-moments rule: snap z to its 1e-6 grain so the seasonal mean
    # is an exact integer sum on both engines
    z6 = F.round(F.col("z") * 1e6).cast("long")
    seas = idx.groupBy((F.col("mi") % 12).alias("moy")).agg(
        F.round(F.sum(z6).cast("double") / F.count(F.lit(1)) / 1e6, 8).alias("sz")
    )
    resid = idx.join(F.broadcast(seas), idx.mi % 12 == F.col("moy")).select(
        "mi", F.round(F.col("z") - F.col("sz"), 8).alias("e")
    )

    def esd_round(src: DataFrame, rnd: int) -> DataFrame:
        e8 = F.round(F.col("e") * 1e8).cast("long")
        mom = src.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(e8).cast("double") / F.count(F.lit(1)) / 1e8, 8).alias("mu"),
        )
        d8 = F.round((F.col("e") - F.col("mu")) * 1e8).cast("long")
        sd = src.crossJoin(F.broadcast(mom)).agg(
            F.max("n").alias("n"),
            F.max("mu").alias("mu"),
            F.sqrt(
                F.sum(d8.cast("decimal(19,0)") * d8).cast("double")
                / 1e16
                / (F.max("n") - 1)
            ).alias("s"),
        )
        top = (
            src.crossJoin(F.broadcast(sd))
            .select(
                "mi",
                "e",
                F.round(F.abs(F.col("e") - F.col("mu")), 8).alias("d"),
                "n",
                "s",
            )
            .orderBy(F.col("d").desc(), F.col("mi"))
            .limit(1)
        )
        g = F.col("d") / F.col("s")
        return top.select(
            F.lit(rnd).cast("long").alias("esd_round"),
            F.col("mi").cast("long").alias("mi"),
            F.col("e").alias("residual"),
            F.round(g, 6).alias("g_stat"),
            F.when(g > ESD_CRIT, F.lit("outlier"))
            .otherwise(F.lit("not_significant"))
            .alias("verdict"),
        )

    r1 = esd_round(resid, 1)
    resid2 = resid.join(
        F.broadcast(r1.select(F.col("mi").alias("drop_mi"))),
        resid.mi == F.col("drop_mi"),
        "left_anti",
    )
    r2 = esd_round(resid2, 2)
    return r1.unionByName(r2).orderBy("esd_round")


# ---------------------------------------------------------------------------
# q_event_study — abnormal returns aligned on each nation's peak month
# ---------------------------------------------------------------------------


@query(
    "q_event_study",
    oracle=f"""
    WITH nrm AS (
      SELECT c_nationkey AS nk,
             CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY nk, mi
    ),
    nret AS (
      SELECT a.nk, a.mi, round((a.v - b.v) / b.v, 8) AS r
      FROM nrm a JOIN nrm b ON b.nk = a.nk AND b.mi = a.mi - 1
    ),
    mrm AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS v
      FROM orders GROUP BY mi
    ),
    mret AS (
      SELECT a.mi, round((a.v - b.v) / b.v, 8) AS m
      FROM mrm a JOIN mrm b ON b.mi = a.mi - 1
    ),
    ev AS (
      SELECT nk, mi AS emi FROM (
        SELECT nk, mi, row_number() OVER (PARTITION BY nk ORDER BY v DESC, mi) AS rn
        FROM nrm
      ) WHERE rn = 1
    ),
    ar AS (
      SELECT nret.nk, nret.mi - ev.emi AS tau,
             round(nret.r - mret.m, 8) AS a
      FROM nret
      JOIN ev ON ev.nk = nret.nk
      JOIN mret ON mret.mi = nret.mi
      WHERE nret.mi - ev.emi BETWEEN -{EVENT_WIN} AND {EVENT_WIN}
    ),
    mar AS (
      SELECT tau, count(*) AS n_nations,
             round(CAST(sum(CAST(round(a * 1e8) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e8, 8) AS mean_ar
      FROM ar GROUP BY tau
    )
    SELECT CAST(a.tau AS BIGINT) AS tau,
           CAST(a.n_nations AS BIGINT) AS n_nations,
           round(a.mean_ar, 6) AS mean_ar,
           round(CAST(sum(CAST(round(b.mean_ar * 1e8) AS BIGINT)) AS DOUBLE)
                 / 1e8, 6) AS car
    FROM mar a JOIN mar b ON b.tau <= a.tau
    GROUP BY a.tau, a.n_nations, a.mean_ar
    ORDER BY tau
    """,
    tags=("finance", "timeseries", "analytics"),
)
def event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event study around each nation's peak-revenue month: abnormal
    return = nation return − market return, aligned on relative month
    τ ∈ [−3, +3] from each book's OWN event date, averaged across books,
    with the cumulative abnormal return — the standard event-alignment
    operator (earnings dates, incidents, launches) whose point is that
    calendar joins can't see effects that only line up in EVENT time.
    (Aligned on the peak itself, the τ=0 spike and the mean-reverting
    post-window are the expected signature — visible in the CAR.)

    Scale: the nation panel build, a per-nation argmax (partitioned
    window, tie-break on month), one relative-time join (the ±3 window
    predicate on the month delta), one per-τ aggregate, and a 7-row
    triangular join for the CAR prefix sum (no unpartitioned window).
    Panel-bounded; rounded at 6."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nrm = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias(
                "mi"
            ),
        )
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000.0, 6).alias("v"))
    )
    prev = nrm.select("nk", (F.col("mi") + 1).alias("mi"), F.col("v").alias("pv"))
    nret = nrm.join(prev, ["nk", "mi"]).select(
        "nk", "mi", F.round((F.col("v") - F.col("pv")) / F.col("pv"), 8).alias("r")
    )
    mrm = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000000.0, 6).alias("v"))
    mprev = mrm.select((F.col("mi") + 1).alias("mi"), F.col("v").alias("pv"))
    mret = mrm.join(F.broadcast(mprev), "mi").select(
        "mi", F.round((F.col("v") - F.col("pv")) / F.col("pv"), 8).alias("m")
    )
    w = Window.partitionBy("nk").orderBy(F.col("v").desc(), F.col("mi"))
    ev = (
        nrm.select("nk", "mi", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("nk", F.col("mi").alias("emi"))
    )
    ar = (
        nret.join(F.broadcast(ev), "nk")
        .join(F.broadcast(mret), "mi")
        .select("nk", (F.col("mi") - F.col("emi")).alias("tau"), F.round(F.col("r") - F.col("m"), 8).alias("a"))
        .filter(F.col("tau").between(-EVENT_WIN, EVENT_WIN))
    )
    a8 = F.round(F.col("a") * 1e8).cast("long")
    mar = ar.groupBy("tau").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.round(F.sum(a8).cast("double") / F.count(F.lit(1)) / 1e8, 8).alias("mean_ar"),
    )
    b = mar.select(F.col("tau").alias("tb"), F.col("mean_ar").alias("mb"))
    return (
        mar.join(F.broadcast(b), F.col("tb") <= F.col("tau"))
        .groupBy("tau", "n_nations", "mean_ar")
        .agg(
            F.round(
                F.sum(F.round(F.col("mb") * 1e8).cast("long")).cast("double") / 1e8, 6
            ).alias("car")
        )
        .select(
            F.col("tau").cast("long").alias("tau"),
            F.col("n_nations").cast("long").alias("n_nations"),
            F.round(F.col("mean_ar"), 6).alias("mean_ar"),
            "car",
        )
        .orderBy("tau")
    )


# ---------------------------------------------------------------------------
# q_forecast_reconciliation — bottom-up vs top-down over the geo hierarchy
# ---------------------------------------------------------------------------


@query(
    "q_forecast_reconciliation",
    oracle="""
    WITH base AS (
      SELECT n.n_regionkey AS rk, c.c_nationkey AS nk,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS mi,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY rk, nk, mi
    ),
    lastm AS (SELECT max(mi) AS lm FROM base),
    hist AS (SELECT base.* FROM base CROSS JOIN lastm WHERE base.mi < lastm.lm),
    nf AS (
      SELECT rk, nk,
             round(CAST(sum(CAST(round(v * 100) AS BIGINT)) AS DOUBLE)
                   / count(*) / 100, 6) AS f
      FROM hist CROSS JOIN lastm
      WHERE hist.mi % 12 = lastm.lm % 12
      GROUP BY rk, nk
    ),
    rf AS (
      SELECT h.rk,
             round(CAST(sum(h.s) AS DOUBLE) / count(*) / 100, 6) AS f FROM (
        SELECT rk, mi, sum(CAST(round(v * 100) AS BIGINT)) AS s
        FROM hist GROUP BY rk, mi
      ) h CROSS JOIN lastm
      WHERE h.mi % 12 = lastm.lm % 12
      GROUP BY h.rk
    ),
    tf AS (
      SELECT round(CAST(sum(h.s) AS DOUBLE) / count(*) / 100, 6) AS f FROM (
        SELECT mi, sum(CAST(round(v * 100) AS BIGINT)) AS s
        FROM hist GROUP BY mi
      ) h CROSS JOIN lastm
      WHERE h.mi % 12 = lastm.lm % 12
    ),
    bu AS (
      SELECT rk,
             round(CAST(sum(CAST(round(f * 1e6) AS BIGINT)) AS DOUBLE) / 1e6, 6)
               AS bottom_up
      FROM nf GROUP BY rk
    ),
    shares AS (
      SELECT rk, sum(CAST(round(v * 100) AS BIGINT)) AS rv,
             sum(sum(CAST(round(v * 100) AS BIGINT))) OVER () AS tv
      FROM hist GROUP BY rk
    )
    SELECT r.r_name AS region,
           round(rf.f, 2) AS base_forecast,
           round(bu.bottom_up, 2) AS bottom_up,
           round(tf.f * shares.rv / shares.tv, 2) AS top_down,
           round(bu.bottom_up - rf.f, 2) AS coherence_gap
    FROM rf
    JOIN bu ON bu.rk = rf.rk
    JOIN shares ON shares.rk = rf.rk
    JOIN region r ON r.r_regionkey = rf.rk
    CROSS JOIN tf
    ORDER BY region
    """,
    tags=("finance", "timeseries", "analytics"),
)
def forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation over nation → region →
    total: the naive seasonal forecast (mean of the same calendar month
    over history) computed INDEPENDENTLY at each level, then reconciled
    two ways — bottom-up (sum the 25 nation forecasts into regions) and
    proportional top-down (split the total forecast by historical
    revenue shares). The coherence gap (bottom-up − base) is the
    incoherence that independent per-level forecasting always produces
    and that reconciliation exists to remove — the forecasting-at-scale
    operator for any rollup hierarchy (org, product, geo).

    Scale: one fact-dim-chain aggregate to the O(nations × calendar)
    panel; every forecast level is an aggregate of that panel filtered
    to the target calendar month; shares are one more panel aggregate.
    Revenue stays exact cents until the final 6/2-dp rounds."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    base = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_regionkey").alias("rk"),
            F.col("c_nationkey").alias("nk"),
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias(
                "mi"
            ),
        )
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("v"))
    )
    lastm = base.agg(F.max("mi").alias("lm"))
    hist = base.crossJoin(F.broadcast(lastm)).filter(F.col("mi") < F.col("lm"))
    target_moy = F.col("mi") % 12 == F.col("lm") % 12
    # integer-moments rule: v is exact 2-dp money — sum its cents exactly
    vc = F.round(F.col("v") * 100).cast("long")
    nf = (
        hist.filter(target_moy)
        .groupBy("rk", "nk")
        .agg(
            F.round(F.sum(vc).cast("double") / F.count(F.lit(1)) / 100, 6).alias("f")
        )
    )
    rsum = hist.groupBy("rk", "mi", "lm").agg(F.sum(vc).alias("s"))
    rf = (
        rsum.filter(F.col("mi") % 12 == F.col("lm") % 12)
        .groupBy("rk")
        .agg(
            F.round(F.sum("s").cast("double") / F.count(F.lit(1)) / 100, 6).alias("f")
        )
    )
    tsum = hist.groupBy("mi", "lm").agg(F.sum(vc).alias("s"))
    tf = tsum.filter(F.col("mi") % 12 == F.col("lm") % 12).agg(
        F.round(F.sum("s").cast("double") / F.count(F.lit(1)) / 100, 6).alias("tfv")
    )
    bu = nf.groupBy("rk").agg(
        F.round(
            F.sum(F.round(F.col("f") * 1e6).cast("long")).cast("double") / 1e6, 6
        ).alias("bottom_up")
    )
    rv = hist.groupBy("rk").agg(F.sum(vc).alias("rv"))
    tv = rv.agg(F.sum("rv").alias("tv"))
    return (
        rf.join(bu, "rk")
        .join(rv, "rk")
        .crossJoin(F.broadcast(tv))
        .crossJoin(F.broadcast(tf))
        .join(
            F.broadcast(reg.select(F.col("r_regionkey").alias("rk"), "r_name")), "rk"
        )
        .select(
            F.col("r_name").alias("region"),
            F.round(F.col("f"), 2).alias("base_forecast"),
            F.round(F.col("bottom_up"), 2).alias("bottom_up"),
            F.round(F.col("tfv") * F.col("rv") / F.col("tv"), 2).alias("top_down"),
            F.round(F.col("bottom_up") - F.col("f"), 2).alias("coherence_gap"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q_median_polish — Tukey two-way robust decomposition (2 unrolled sweeps)
# ---------------------------------------------------------------------------


sql_query(
    "q_median_polish",
    """
    WITH cells AS (
      SELECT t.moy, t.region,
             round(CAST(sum(CAST(round(t.v * 1e5) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e5, 6) AS v FROM (
        SELECT (CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate)) % 12
                 AS moy,
               r.r_name AS region,
               round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) / 1000.0 AS v
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2, CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate)
      ) t GROUP BY t.moy, t.region
    ),
    rm1 AS (
      SELECT moy, min(CASE WHEN rn = 3 THEN v END) AS m FROM (
        SELECT moy, v, row_number() OVER (PARTITION BY moy ORDER BY v, region) AS rn
        FROM cells
      ) GROUP BY moy
    ),
    res1 AS (
      SELECT cells.moy, cells.region, cells.v, cells.v - rm1.m AS e, rm1.m AS re1
      FROM cells JOIN rm1 ON rm1.moy = cells.moy
    ),
    cm1 AS (
      SELECT region, min(CASE WHEN rn = 6 THEN e END) AS m FROM (
        SELECT region, e, row_number() OVER (PARTITION BY region ORDER BY e, moy) AS rn
        FROM res1
      ) GROUP BY region
    ),
    res2 AS (
      SELECT res1.moy, res1.region, res1.v, res1.re1, res1.e - cm1.m AS e,
             cm1.m AS ce1
      FROM res1 JOIN cm1 ON cm1.region = res1.region
    ),
    rm2 AS (
      SELECT moy, min(CASE WHEN rn = 3 THEN e END) AS m FROM (
        SELECT moy, e, row_number() OVER (PARTITION BY moy ORDER BY e, region) AS rn
        FROM res2
      ) GROUP BY moy
    ),
    res3 AS (
      SELECT res2.moy, res2.region, res2.v, res2.re1 + rm2.m AS row_eff,
             res2.ce1, res2.e - rm2.m AS e
      FROM res2 JOIN rm2 ON rm2.moy = res2.moy
    ),
    cm2 AS (
      SELECT region, min(CASE WHEN rn = 6 THEN e END) AS m FROM (
        SELECT region, e, row_number() OVER (PARTITION BY region ORDER BY e, moy) AS rn
        FROM res3
      ) GROUP BY region
    )
    SELECT CAST(res3.moy AS BIGINT) AS moy,
           res3.region AS region,
           round(res3.v, 6) AS cell,
           round(res3.row_eff, 6) AS row_eff,
           round(res3.ce1 + cm2.m, 6) AS col_eff,
           round(res3.e - cm2.m, 6) AS residual
    FROM res3 JOIN cm2 ON cm2.region = res3.region
    ORDER BY moy, res3.region
    """,
    tags=("stats", "analytics", "quality"),
    doc="""Tukey median polish (two unrolled sweeps) of the month-of-year ×
    region average-revenue table: alternately subtract row and column
    LOWER MEDIANS (the rank-⌊(n+1)/2⌋ element with an explicit tie-break,
    so the pick is exact on both engines) to decompose each cell into
    row effect + column effect + residual — the robust alternative to
    the two-way-ANOVA means decomposition: one anomalous region-month
    cannot drag its whole row and column effect the way a mean would,
    so the residual table is where outliers stand isolated (feeding
    q_seasonal_esd-style hunts on two-way data).

    Scale: one dim-chain aggregate to the 12×5 cell table, then four
    partitioned window ranks + equi-joins over that 60-row relation.
    Every median is an exact element pick of 6-dp values and every
    residual a difference of them — zero float ambiguity anywhere.""",
)


# ---------------------------------------------------------------------------
# q_l28_engagement — the L28 active-days histogram
# ---------------------------------------------------------------------------


@query(
    "q_l28_engagement",
    oracle="""
    WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS d28 FROM events),
    act AS (
      SELECT e.user_id, count(DISTINCT CAST(e.ts AS DATE)) AS active_days
      FROM events e CROSS JOIN anchor
      WHERE CAST(e.ts AS DATE) > anchor.d28 - INTERVAL 28 DAY
      GROUP BY e.user_id
    ),
    tot AS (SELECT count(*) AS n_users FROM act)
    SELECT CAST(act.active_days AS BIGINT) AS active_days,
           CAST(count(*) AS BIGINT) AS n_users,
           round(count(*) * 1.0 / tot.n_users, 6) AS share,
           CASE WHEN act.active_days >= 15 THEN 'core'
                WHEN act.active_days >= 5 THEN 'regular'
                ELSE 'casual' END AS tier
    FROM act CROSS JOIN tot
    GROUP BY act.active_days, tot.n_users
    ORDER BY active_days
    """,
    tags=("events", "analytics", "product"),
)
def l28_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The L28 engagement histogram: for each user, the count of
    distinct active days in the trailing 28-day window anchored at the
    corpus's last event date, bucketed into the classic
    casual (1-4) / regular (5-14) / core (15-28) tiers — THE
    engagement-quality distribution (how users spread across it, not the
    single DAU/MAU ratio q_stickiness reports, is what distinguishes a
    habit product from a spiky one; q_power_user_curve is its cumulative
    cousin).

    Scale: the window predicate (vs a broadcast 1-row anchor) prunes the
    scan; one per-user distinct-date aggregate, one histogram groupBy —
    both map-side combinable. Exact integers until the share division,
    rounded at 6. (The synthetic corpus is dense — every user lands in
    the core tier with 25-28 active days; the thresholds keep their
    standard industry semantics rather than being tuned to split this
    particular corpus.)"""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("d28"))
    act = (
        ev.crossJoin(F.broadcast(anchor))
        .filter(F.to_date("ts") > F.date_sub(F.col("d28"), 28))
        .groupBy("user_id")
        .agg(F.countDistinct(F.to_date("ts")).alias("active_days"))
    )
    tot = act.agg(F.count(F.lit(1)).alias("n_users"))
    return (
        act.crossJoin(F.broadcast(tot))
        .groupBy("active_days", "n_users")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.col("active_days").cast("long").alias("active_days"),
            F.col("cnt").alias("n_users"),
            F.round(F.col("cnt") * 1.0 / F.col("n_users"), 6).alias("share"),
            F.when(F.col("active_days") >= 15, F.lit("core"))
            .when(F.col("active_days") >= 5, F.lit("regular"))
            .otherwise(F.lit("casual"))
            .alias("tier"),
        )
        .orderBy("active_days")
    )


# ---------------------------------------------------------------------------
# q_systematic_sample — every-k-th selection in deterministic hash space
# ---------------------------------------------------------------------------

SYS_K = 20  # sampling interval in hash space
SYS_OFFSET = 7  # fixed residue class


def _hexfold(h: str, digits: int = 5) -> str:
    """SQL folding the first ``digits`` hex chars of ``h`` into an integer
    — identical text for both engines (instr/substr agree)."""
    terms = [
        f"(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) * {16 ** (digits - 1 - i)}"
        for i in range(digits)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "q_systematic_sample",
    oracle=f"""
    WITH hashed AS (
      SELECT o_totalprice,
             {_hexfold("md5(CAST(o_orderkey AS VARCHAR))")} AS hv
      FROM orders
    ),
    samp AS (
      SELECT * FROM hashed WHERE hv % {SYS_K} = {SYS_OFFSET}
    ),
    pop AS (
      SELECT count(*) AS n_pop,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                   / count(*) / 100, 4) AS pop_mean
      FROM orders
    ),
    sm AS (
      SELECT pop.n_pop, count(*) AS n_sample,
             round(CAST(sum(CAST(round(samp.o_totalprice * 100) AS BIGINT))
                        AS DOUBLE) / count(*) / 100, 4) AS sample_mean,
             pop.pop_mean
      FROM samp CROSS JOIN pop
      GROUP BY pop.n_pop, pop.pop_mean
    )
    SELECT CAST(n_pop AS BIGINT) AS n_pop,
           CAST(n_sample AS BIGINT) AS n_sample,
           sample_mean,
           pop_mean,
           round(abs(sample_mean - pop_mean) / pop_mean, 6) AS rel_error
    FROM sm
    """,
    tags=("sample", "sampling", "analytics"),
)
def systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic sampling in deterministic hash space: fold the first 5
    hex digits of md5(orderkey) into an integer and keep one fixed
    residue class mod 20 — an equal-probability design (up to the
    documented 16^5 % 20 = 16/1048576 residue nonuniformity) that is
    PURELY ROW-LOCAL: any worker decides membership from the key alone,
    no rank, no shuffle, no coordination — the only systematic-sampling
    shape that survives 100 TB. The sample-vs-population mean and
    relative error ride along as the built-in unbiasedness check.
    (First cut ranked by hash via the global-row-number machinery and
    took every 20th rank — correct semantics, but the rank exchange's
    sampled range boundaries made the two plan branches disagree under
    AQE, observed as a 751-row "1-in-20" sample; the hazard is now also
    hardened in functions/ranks.py, and this operator uses the stronger
    coordination-free design.)

    Scale: one scan with a row-local predicate + two map-side
    aggregates. The hex fold is exact integer arithmetic on both
    engines; rounded at 4/6."""
    orders = load_table(spark, sf_dir, "orders")
    hv = F.expr(_hexfold("md5(CAST(o_orderkey AS STRING))"))
    samp = orders.filter(hv % SYS_K == SYS_OFFSET)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    pop = orders.agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.round(F.sum(cents).cast("double") / F.count(F.lit(1)) / 100, 4).alias(
            "pop_mean"
        ),
    )
    return (
        samp.crossJoin(F.broadcast(pop))
        .groupBy("n_pop", "pop_mean")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sample"),
            F.round(F.sum(cents).cast("double") / F.count(F.lit(1)) / 100, 4).alias(
                "sample_mean"
            ),
        )
        .select(
            F.col("n_pop").cast("long").alias("n_pop"),
            "n_sample",
            "sample_mean",
            "pop_mean",
            F.round(
                F.abs(F.col("sample_mean") - F.col("pop_mean")) / F.col("pop_mean"), 6
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# q_neyman_allocation — optimal stratified sample allocation
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000


@query(
    "q_neyman_allocation",
    oracle=f"""
    WITH strata AS (
      SELECT c_mktsegment AS segment,
             count(*) AS nh,
             round(sqrt(CAST(sum(CAST(round(c_acctbal * 100) AS HUGEINT)
                                 * CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                          / 1e4 / count(*)
                        - (CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                           / count(*) / 100)
                          * (CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                             / count(*) / 100)), 8)
               AS sh
      FROM customer GROUP BY c_mktsegment
    ),
    tot AS (
      SELECT sum(nh) AS n_pop,
             CAST(sum(nh * CAST(round(sh * 1e8) AS HUGEINT)) AS DOUBLE) / 1e8
               AS sum_ns
      FROM strata
    )
    SELECT strata.segment,
           CAST(strata.nh AS BIGINT) AS n_pop_stratum,
           round(strata.sh, 4) AS stratum_std,
           CAST(round({NEYMAN_BUDGET} * strata.nh * strata.sh / tot.sum_ns)
                AS BIGINT) AS neyman_n,
           CAST(round({NEYMAN_BUDGET} * strata.nh * 1.0 / tot.n_pop) AS BIGINT)
             AS proportional_n
    FROM strata CROSS JOIN tot
    ORDER BY segment
    """,
    tags=("sample", "sampling", "stats"),
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified allocation of a 1000-unit sample budget
    across market segments: nₕ ∝ Nₕ·Sₕ (stratum size × stratum standard
    deviation of account balance) beside the naive proportional
    allocation — the survey-sampling design theorem that says volatile
    strata deserve MORE than their population share; the gap between the
    two columns is exactly the variance the proportional design wastes.
    Feeds q_stratified_sample, which executes whatever allocation it is
    given.

    Scale: one map-side-combinable per-stratum moment aggregate over the
    customer scan + a broadcast 1-row total; closed forms. Stds round at
    8 before the allocation products; counts exact, rounded to integer
    allocations identically on both engines (half-away on positive
    values)."""
    cust = load_table(spark, sf_dir, "customer")
    # integer-moments rule: acctbal is exact 2-dp money — moments in cents
    c100 = F.round(F.col("c_acctbal") * 100).cast("long")
    mean_b = F.sum(c100).cast("double") / F.count(F.lit(1)) / 100
    strata = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("nh"),
        F.round(
            F.sqrt(
                F.sum(c100.cast("decimal(19,0)") * c100).cast("double")
                / 1e4
                / F.count(F.lit(1))
                - mean_b * mean_b
            ),
            8,
        ).alias("sh"),
    )
    tot = strata.agg(
        F.sum("nh").alias("n_pop"),
        (
            F.sum(
                F.col("nh").cast("decimal(18,0)")
                * F.round(F.col("sh") * 1e8).cast("decimal(20,0)")
            ).cast("double")
            / 1e8
        ).alias("sum_ns"),
    )
    return (
        strata.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.col("nh").cast("long").alias("n_pop_stratum"),
            F.round(F.col("sh"), 4).alias("stratum_std"),
            F.round(
                NEYMAN_BUDGET * F.col("nh") * F.col("sh") / F.col("sum_ns")
            )
            .cast("long")
            .alias("neyman_n"),
            F.round(NEYMAN_BUDGET * F.col("nh") * 1.0 / F.col("n_pop"))
            .cast("long")
            .alias("proportional_n"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q_seasonal_mann_kendall — trend test robust to the seasonal cycle
# ---------------------------------------------------------------------------

SMK_Z95 = 1.959964


sql_query(
    "q_seasonal_mann_kendall",
    f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS z
      FROM orders GROUP BY mi
    ),
    s AS (
      SELECT a.mi % 12 AS moy,
             sum(CASE WHEN b.z > a.z THEN 1 WHEN b.z < a.z THEN -1 ELSE 0 END) AS sm,
             count(DISTINCT a.mi) AS nm_pairs
      FROM m a JOIN m b ON b.mi > a.mi AND b.mi % 12 = a.mi % 12
      GROUP BY a.mi % 12
    ),
    nm AS (
      SELECT mi % 12 AS moy, count(*) AS n FROM m GROUP BY mi % 12
    ),
    stat AS (
      SELECT sum(s.sm) AS s_total,
             CAST(sum(nm.n * (nm.n - 1) * (2 * nm.n + 5)) AS DOUBLE) / 18.0
               AS var_total,
             count(*) AS k_seasons
      FROM s JOIN nm ON nm.moy = s.moy
    )
    SELECT CAST(k_seasons AS BIGINT) AS k_seasons,
           CAST(s_total AS BIGINT) AS s,
           round(var_total, 6) AS var_s,
           round(CASE WHEN s_total > 0 THEN (s_total - 1) / sqrt(var_total)
                      WHEN s_total < 0 THEN (s_total + 1) / sqrt(var_total)
                      ELSE 0.0 END, 6) AS z_stat,
           CASE WHEN s_total > 0 AND (s_total - 1) / sqrt(var_total) > {SMK_Z95}
                THEN 'increasing'
                WHEN s_total < 0 AND (s_total + 1) / sqrt(var_total) < -{SMK_Z95}
                THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM stat
    """,
    tags=("stats", "timeseries"),
    doc="""Seasonal Mann-Kendall trend test: the sign statistic S computed
    WITHIN each month-of-year season (January vs later Januaries only,
    never January vs July) and summed with the per-season variances —
    the Hirsch-Slack test that keeps q_mann_kendall's distribution-free
    trend call from being confounded by the seasonal cycle itself (a
    pure seasonal pattern scores S ≈ 0 here while inflating the plain
    MK pair count).

    Scale: monthly aggregate, a season-restricted pair join (12 groups
    of ≤7 observations → ~250 pairs, calendar-bounded), per-season
    closed-form variances, one sum. S is an exact integer; ties are
    impossible at 6-dp revenue, and the tie term is retained as zero by
    construction. Rounded at 6.""",
)


# ---------------------------------------------------------------------------
# q_binary_segmentation — locate the best single changepoint
# ---------------------------------------------------------------------------

BSEG_MIN_SEG = 6  # minimum months on each side of a candidate split


@query(
    "q_binary_segmentation",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    tot AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sz,
             CAST(sum(CAST(round(z * 1e6) AS HUGEINT)
                      * CAST(round(z * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS szz
      FROM idx
    ),
    pre AS (
      SELECT a.i AS t,
             CAST(sum(CAST(round(b.z * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS psz,
             CAST(sum(CAST(round(b.z * 1e6) AS HUGEINT)
                      * CAST(round(b.z * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS pszz,
             count(*) AS pn
      FROM idx a JOIN idx b ON b.i <= a.i
      GROUP BY a.i
    ),
    cand AS (
      SELECT pre.t, tot.n,
             (tot.szz - tot.sz * tot.sz / tot.n)
             - ((pre.pszz - pre.psz * pre.psz / pre.pn)
                + ((tot.szz - pre.pszz)
                   - (tot.sz - pre.psz) * (tot.sz - pre.psz) / (tot.n - pre.pn)))
               AS gain
      FROM pre CROSS JOIN tot
      WHERE pre.t >= {BSEG_MIN_SEG} AND pre.t <= tot.n - {BSEG_MIN_SEG}
    ),
    best AS (
      SELECT t, n, round(gain, 8) AS gain FROM cand
      ORDER BY round(gain, 8) DESC, t LIMIT 1
    ),
    named AS (
      SELECT best.t, best.n, best.gain, idx.mi AS break_mi
      FROM best JOIN idx ON idx.i = best.t
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST(t AS BIGINT) AS break_index,
           CAST(break_mi AS BIGINT) AS break_mi,
           round(gain, 6) AS ssr_gain
    FROM named
    """,
    tags=("timeseries", "stats", "quality"),
)
def binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation, one level: scan every admissible split t of
    the monthly series and pick the one maximizing the SSR decrease
    SSR_total − (SSR_left + SSR_right) under a mean-shift model — the
    changepoint LOCATOR that complements the detectors (q_cusum
    _changepoint flags drift online, q_chow_test tests a KNOWN split;
    this finds the split). Each candidate's left/right SSRs are closed
    forms of the prefix sums, so the whole scan is O(months) closed
    forms, not O(months) regressions.

    Scale: monthly aggregate, a triangular prefix join over the ~80-row
    broadcast relation, per-candidate closed forms, one top-1
    TakeOrdered with (rounded gain DESC, index) tie-break —
    calendar-bounded. The gain rounds at 8 before the argmax so both
    engines pick the identical split; rounded at 6."""
    idx = _monthly(spark, sf_dir)
    # integer-moments rule: z is 6-dp — exact grain sums for the prefix SSRs
    z6 = F.round(F.col("z") * 1e6).cast("long")
    tot = idx.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(z6).cast("double") / 1e6).alias("sz"),
        (F.sum(z6.cast("decimal(19,0)") * z6).cast("double") / 1e12).alias("szz"),
    )
    b = idx.select(F.col("i").alias("j"), F.col("z").alias("zj"))
    zj6 = F.round(F.col("zj") * 1e6).cast("long")
    pre = (
        idx.select("i")
        .join(F.broadcast(b), F.col("j") <= F.col("i"))
        .groupBy(F.col("i").alias("t"))
        .agg(
            (F.sum(zj6).cast("double") / 1e6).alias("psz"),
            (F.sum(zj6.cast("decimal(19,0)") * zj6).cast("double") / 1e12).alias(
                "pszz"
            ),
            F.count(F.lit(1)).alias("pn"),
        )
    )
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("t") >= BSEG_MIN_SEG) & (F.col("t") <= F.col("n") - BSEG_MIN_SEG)
        )
        .select(
            "t",
            "n",
            (
                (F.col("szz") - F.col("sz") * F.col("sz") / F.col("n"))
                - (
                    (F.col("pszz") - F.col("psz") * F.col("psz") / F.col("pn"))
                    + (
                        (F.col("szz") - F.col("pszz"))
                        - (F.col("sz") - F.col("psz"))
                        * (F.col("sz") - F.col("psz"))
                        / (F.col("n") - F.col("pn"))
                    )
                )
            ).alias("gain"),
        )
    )
    best = (
        cand.select("t", "n", F.round(F.col("gain"), 8).alias("gain"))
        .orderBy(F.col("gain").desc(), F.col("t"))
        .limit(1)
    )
    named = best.join(
        F.broadcast(idx.select(F.col("i").alias("t"), F.col("mi").alias("break_mi"))),
        "t",
    )
    return named.select(
        F.col("n").cast("long").alias("n_months"),
        F.col("t").cast("long").alias("break_index"),
        F.col("break_mi").cast("long").alias("break_mi"),
        F.round(F.col("gain"), 6).alias("ssr_gain"),
    )


# ---------------------------------------------------------------------------
# q_atkinson_index — welfare-weighted inequality per market segment
# ---------------------------------------------------------------------------


@query(
    "q_atkinson_index",
    oracle="""
    WITH cust AS (
      SELECT c.c_mktsegment AS segment,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS yc
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY o.o_custkey, c.c_mktsegment
    ),
    g AS (
      SELECT segment, count(*) AS n,
             CAST(sum(yc) AS DOUBLE) / count(*) / 100 AS mean_y,
             exp(CAST(sum(CAST(round(ln(yc / 100e0) * 1e12) AS HUGEINT)) AS DOUBLE)
                 / count(*) / 1e12) AS geo_y,
             count(*) / (CAST(sum(CAST(round(1e15 / (yc / 100e0)) AS HUGEINT))
                              AS DOUBLE) / 1e15) AS harm_y
      FROM cust GROUP BY segment
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n_customers,
           round(mean_y, 2) AS mean_spend,
           round(1.0 - geo_y / mean_y, 6) AS atkinson_e1,
           round(1.0 - harm_y / mean_y, 6) AS atkinson_e2
    FROM g ORDER BY segment
    """,
    tags=("analytics", "stats", "finance"),
)
def atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality of customer spend per market segment at two
    aversion levels: A(ε=1) = 1 − geometric/arithmetic mean and A(ε=2) =
    1 − harmonic/arithmetic mean — the welfare-founded inequality family
    (each index answers "what fraction of total spend could be discarded
    if it were distributed equally, at this inequality aversion"), the
    normative complement to the descriptive q_gini_revenue /
    q_theil_decomposition / q_lorenz_curve stack. ε=2 weights the poor
    tail harder, so A(ε=2) ≥ A(ε=1) everywhere — a built-in sanity
    ordering.

    Scale: one customer-grain aggregate, one per-segment moment pass
    (ln/reciprocal sums are map-side combinable), closed forms on 5
    rows. Spend > 0 by construction. Rounded at 2/6."""
    orders = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    cust = (
        orders.join(
            F.broadcast(cu.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("o_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("yc"))
    )
    # integer-moments rule: spend is exact cents; ln / reciprocal terms snap
    # to 1e-12 / 1e-15 grains so the per-segment sums are order-exact
    y = F.col("yc") / F.lit(100.0)
    g = cust.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("yc").cast("double") / F.count(F.lit(1)) / 100).alias("mean_y"),
        F.exp(
            F.sum(F.round(F.log(y) * 1e12).cast("decimal(20,0)")).cast("double")
            / F.count(F.lit(1))
            / 1e12
        ).alias("geo_y"),
        (
            F.count(F.lit(1))
            / (
                F.sum(F.round(F.lit(1e15) / y).cast("decimal(20,0)")).cast("double")
                / 1e15
            )
        ).alias("harm_y"),
    )
    return g.select(
        "segment",
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("mean_y"), 2).alias("mean_spend"),
        F.round(1.0 - F.col("geo_y") / F.col("mean_y"), 6).alias("atkinson_e1"),
        F.round(1.0 - F.col("harm_y") / F.col("mean_y"), 6).alias("atkinson_e2"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# q_partial_correlation — revenue vs quantity with the trend partialled out
# ---------------------------------------------------------------------------


@query(
    "q_partial_correlation",
    oracle=f"""
    WITH {_MONTHLY_SQL},
    xm AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) * 12 + month(l_shipdate) AS mi,
             round(sum(l_quantity) / 1000.0, 6) AS x
      FROM lineitem GROUP BY mi
    ),
    p AS (
      SELECT idx.i * 1.0 AS t, idx.z AS y, xm.x
      FROM idx JOIN xm ON xm.mi = idx.mi
    ),
    mom AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
             CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
             sum(t) AS st,
             CAST(sum(CAST(round(y * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS syy,
             CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                      * CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxx,
             sum(t * t) AS stt,
             CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxy,
             CAST(sum(CAST(t AS BIGINT) * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE)
               / 1e6 AS sty,
             CAST(sum(CAST(t AS BIGINT) * CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE)
               / 1e6 AS stx
      FROM p
    ),
    r AS (
      SELECT n,
             (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
             (n * sty - st * sy) / sqrt((n * stt - st * st) * (n * syy - sy * sy)) AS rty,
             (n * stx - st * sx) / sqrt((n * stt - st * st) * (n * sxx - sx * sx)) AS rtx
      FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           round(rxy, 6) AS r_raw,
           round(rty, 6) AS r_trend_y,
           round(rtx, 6) AS r_trend_x,
           round((rxy - rtx * rty) / sqrt((1.0 - rtx * rtx) * (1.0 - rty * rty)), 6)
             AS r_partial
    FROM r
    """,
    tags=("stats", "timeseries"),
)
def partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation between monthly revenue and
    shipped quantity CONTROLLING for the time index: r_xy·t =
    (r_xy − r_xt·r_yt)/√((1−r_xt²)(1−r_yt²)) — the one-line answer to
    "do these two series actually co-move, or do they merely share a
    trend?", which the raw correlation (and q_rolling_corr) cannot
    distinguish and spurious-regression folklore exists to warn about
    (q_engle_granger is the unit-root-rigorous version of the same
    question).

    Scale: two monthly aggregates, one month equi-join, one 10-moment
    pass, closed forms — calendar-bounded, rounded at 6."""
    idx = _monthly(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    xm = li.groupBy(
        (F.year("l_shipdate").cast("long") * 12 + F.month("l_shipdate")).alias("mi")
    ).agg(F.round(F.sum("l_quantity") / 1000.0, 6).alias("x"))
    p = idx.join(xm, "mi").select(
        (F.col("i") * 1.0).alias("t"), F.col("z").alias("y"), "x"
    )
    # integer-moments rule: y, x are 6-dp; t integer-valued — exact grain sums
    y6 = F.round(F.col("y") * 1e6).cast("long")
    x6 = F.round(F.col("x") * 1e6).cast("long")
    tl = F.col("t").cast("long")
    mom = p.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(y6).cast("double") / 1e6).alias("sy"),
        (F.sum(x6).cast("double") / 1e6).alias("sx"),
        F.sum("t").alias("st"),
        (F.sum(y6.cast("decimal(19,0)") * y6).cast("double") / 1e12).alias("syy"),
        (F.sum(x6.cast("decimal(19,0)") * x6).cast("double") / 1e12).alias("sxx"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        (F.sum(x6.cast("decimal(19,0)") * y6).cast("double") / 1e12).alias("sxy"),
        (F.sum(tl * y6).cast("double") / 1e6).alias("sty"),
        (F.sum(tl * x6).cast("double") / 1e6).alias("stx"),
    )

    def corr(sab, sa, sb, saa, sbb):
        return (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)) / F.sqrt(
            (F.col("n") * F.col(saa) - F.col(sa) * F.col(sa))
            * (F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb))
        )

    r = mom.select(
        "n",
        corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr("sty", "st", "sy", "stt", "syy").alias("rty"),
        corr("stx", "st", "sx", "stt", "sxx").alias("rtx"),
    )
    return r.select(
        F.col("n").cast("long").alias("n_months"),
        F.round(F.col("rxy"), 6).alias("r_raw"),
        F.round(F.col("rty"), 6).alias("r_trend_y"),
        F.round(F.col("rtx"), 6).alias("r_trend_x"),
        F.round(
            (F.col("rxy") - F.col("rtx") * F.col("rty"))
            / F.sqrt(
                (1.0 - F.col("rtx") * F.col("rtx"))
                * (1.0 - F.col("rty") * F.col("rty"))
            ),
            6,
        ).alias("r_partial"),
    )


# ---------------------------------------------------------------------------
# q_mincer_zarnowitz — forecast rationality (unbiasedness) regression
# ---------------------------------------------------------------------------

MZ_TEST_MONTHS = 12
MZ_F_2_10_95 = 4.102821  # F(2, 10) 5%


@query(
    "q_mincer_zarnowitz",
    oracle=f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS z
      FROM orders GROUP BY mi
    ),
    anchor AS (SELECT max(mi) - {MZ_TEST_MONTHS} AS cut FROM m),
    hist AS (SELECT m.mi, m.mi % 12 AS moy, m.z FROM m CROSS JOIN anchor
             WHERE m.mi <= anchor.cut),
    test AS (SELECT m.mi, m.mi % 12 AS moy, m.z AS y FROM m CROSS JOIN anchor
             WHERE m.mi > anchor.cut),
    ranked AS (
      SELECT moy, z, row_number() OVER (PARTITION BY moy ORDER BY z, mi) AS rn,
             count(*) OVER (PARTITION BY moy) AS n
      FROM hist
    ),
    fc AS (
      SELECT moy,
             min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN z END) AS f
      FROM ranked GROUP BY moy
    ),
    obs AS (
      SELECT test.y, fc.f FROM test JOIN fc ON fc.moy = test.moy
    ),
    mm AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(f * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sf,
             CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
             CAST(sum(CAST(round(f * 1e6) AS HUGEINT)
                      * CAST(round(f * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sff,
             CAST(sum(CAST(round(f * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sfy,
             CAST(sum(CAST(round(y * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS syy,
             CAST(sum(CAST(round((y - f) * 1e6) AS HUGEINT)
                      * CAST(round((y - f) * 1e6) AS BIGINT)) AS DOUBLE) / 1e12
               AS ssr_r
      FROM obs
    ),
    fit AS (
      SELECT n, ssr_r,
             (n * sfy - sf * sy) / (n * sff - sf * sf) AS beta,
             (sy - (n * sfy - sf * sy) / (n * sff - sf * sf) * sf) / n AS alpha,
             ((n * syy - sy * sy)
              - ((n * sfy - sf * sy) / (n * sff - sf * sf)) * (n * sfy - sf * sy)) / n
               AS ssr_u
      FROM mm
    )
    SELECT CAST(n AS BIGINT) AS n_test,
           round(alpha, 6) AS alpha,
           round(beta, 6) AS beta,
           round(ssr_r, 6) AS ssr_restricted,
           round(ssr_u, 6) AS ssr_unrestricted,
           round(((ssr_r - ssr_u) / 2.0) / (ssr_u / (n - 2)), 6) AS f_stat,
           CASE WHEN ((ssr_r - ssr_u) / 2.0) / (ssr_u / (n - 2)) > {MZ_F_2_10_95}
                THEN 'biased' ELSE 'rational' END AS verdict
    FROM fit
    """,
    tags=("timeseries", "ml", "eval", "stats"),
)
def mincer_zarnowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mincer-Zarnowitz forecast-rationality regression on the
    seasonal-median forecaster's 12-month holdout: regress actuals on
    forecasts and jointly test (α, β) = (0, 1) with F = [(SSR₀ −
    SSR)/2]/[SSR/(n−2)], SSR₀ = Σ(y−f)² — the inference layer of
    forecast evaluation: q_pinball_loss prices the errors, this asks
    whether the forecaster is systematically BIASED (α≠0) or
    mis-scaled (β≠1) and therefore fixable by a linear recalibration.

    Scale: shares q_pinball_loss's machinery (monthly aggregate,
    moy-partitioned median ranks, holdout join) + one 7-moment closed
    form — calendar-bounded, rounded at 6."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000000.0, 6).alias("z"))
    anchor = m.agg((F.max("mi") - MZ_TEST_MONTHS).alias("cut"))
    mm_ = m.crossJoin(F.broadcast(anchor))
    hist = mm_.filter(F.col("mi") <= F.col("cut")).select(
        "mi", (F.col("mi") % 12).alias("moy"), "z"
    )
    test = mm_.filter(F.col("mi") > F.col("cut")).select(
        (F.col("mi") % 12).alias("moy"), F.col("z").alias("y")
    )
    w = Window.partitionBy("moy").orderBy("z", "mi")
    wn = Window.partitionBy("moy")
    ranked = hist.select(
        "moy",
        "z",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    fc = ranked.groupBy("moy").agg(
        F.min(
            F.when(F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"), F.col("z"))
        ).alias("f")
    )
    obs = test.join(F.broadcast(fc), "moy").select("y", "f")
    # integer-moments rule: f, y are 6-dp — exact grain sums for the fit
    f6 = F.round(F.col("f") * 1e6).cast("long")
    yy6 = F.round(F.col("y") * 1e6).cast("long")
    d6 = F.round((F.col("y") - F.col("f")) * 1e6).cast("long")
    mm = obs.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(f6).cast("double") / 1e6).alias("sf"),
        (F.sum(yy6).cast("double") / 1e6).alias("sy"),
        (F.sum(f6.cast("decimal(19,0)") * f6).cast("double") / 1e12).alias("sff"),
        (F.sum(f6.cast("decimal(19,0)") * yy6).cast("double") / 1e12).alias("sfy"),
        (F.sum(yy6.cast("decimal(19,0)") * yy6).cast("double") / 1e12).alias("syy"),
        (F.sum(d6.cast("decimal(19,0)") * d6).cast("double") / 1e12).alias("ssr_r"),
    )
    beta = (F.col("n") * F.col("sfy") - F.col("sf") * F.col("sy")) / (
        F.col("n") * F.col("sff") - F.col("sf") * F.col("sf")
    )
    fit = mm.select(
        "n",
        "ssr_r",
        beta.alias("beta"),
        ((F.col("sy") - beta * F.col("sf")) / F.col("n")).alias("alpha"),
        (
            (
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                - beta * (F.col("n") * F.col("sfy") - F.col("sf") * F.col("sy"))
            )
            / F.col("n")
        ).alias("ssr_u"),
    )
    fstat = ((F.col("ssr_r") - F.col("ssr_u")) / 2.0) / (
        F.col("ssr_u") / (F.col("n") - 2)
    )
    return fit.select(
        F.col("n").cast("long").alias("n_test"),
        F.round(F.col("alpha"), 6).alias("alpha"),
        F.round(F.col("beta"), 6).alias("beta"),
        F.round(F.col("ssr_r"), 6).alias("ssr_restricted"),
        F.round(F.col("ssr_u"), 6).alias("ssr_unrestricted"),
        F.round(fstat, 6).alias("f_stat"),
        F.when(fstat > MZ_F_2_10_95, F.lit("biased"))
        .otherwise(F.lit("rational"))
        .alias("verdict"),
    )
