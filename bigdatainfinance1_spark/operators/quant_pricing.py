"""Derivatives / fixed-income quant-pricing operators (round 4 continuation):
Black-Scholes option pricing over the part catalog, bond price /
Macaulay-duration / convexity per nation, IRR via engine-portable
bisection, and the Euler variance decomposition (component VaR) of daily
revenue by nation.

These fill the pricing-side gap of the finance surface: the existing
waves measure realized risk (q_var_cvar, q_kupiec_var_backtest,
q_max_drawdown); this wave prices instruments and decomposes portfolio
risk ex ante, which is the other half of what a finance analytics stack
computes.

Scale notes: q_black_scholes is a pushed-down filter + per-row closed
form (no shuffle at all beyond the scan); q_bond_duration explodes a
20-period grid per nation — O(nations x periods) rows regardless of
corpus size; q_irr_bisection recurses 48 bisection steps over an
O(nations) relation; q_component_var reduces the fact scan to one
nation-day aggregate (O(calendar x nations)) and all moments are
map-side-combinable sums. Nothing in this module grows with row count
after the first aggregate.

Determinism contract: q_black_scholes and q_irr_bisection run ONE SQL
text verbatim on both engines (the q_recursive_reachability pattern), so
operation order is identical by construction; the only cross-engine
exposure is libm-vs-JVM ulp differences in exp/ln/pow, absorbed by
rounding at 4-6 dp. q_bond_duration and q_component_var follow the house
moment-sum recipe: bounded-cardinality double sums (20 periods / 365
days) with the same closed-form algebra on both engines, rounded at 6 dp
where the summand magnitude keeps ulp noise below 1e-9 of the rounding
step (revenue is rescaled to millions first for exactly this reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_black_scholes
# ---------------------------------------------------------------------------

BS_RATE = 0.05  # risk-free rate
BS_TENOR = 0.5  # option tenor in years
BS_PART_CAP = 200  # price the first 200 parts (full part table at sf0.001)


def _norm_cdf_sql(x: str) -> str:
    """Abramowitz-Stegun 26.2.17 rational approximation of the standard
    normal CDF (|error| < 7.5e-8), emitted as one SQL text so Spark and
    DuckDB evaluate the identical Horner chain. ``x`` must be a plain
    column reference (it is repeated; no side effects allowed)."""
    t = f"(1.0 / (1.0 + 0.2316419 * abs({x})))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * "
        f"(1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    upper = f"(1.0 - exp(-abs({x}) * abs({x}) / 2.0) / sqrt(2.0 * pi()) * {poly})"
    return f"(CASE WHEN {x} >= 0.0 THEN {upper} ELSE 1.0 - {upper} END)"


_BS_SQL = f"""
    WITH opt AS (
      SELECT p_partkey,
             p_retailprice AS s,
             CAST(CAST(round(p_retailprice * 100) AS BIGINT)
                  * (90 + (p_partkey % 21)) AS DOUBLE) / 10000.0 AS k,
             CAST(0.15 + 0.01 * (p_size % 20) AS DOUBLE) AS sigma
      FROM part
      WHERE p_partkey <= {BS_PART_CAP}
    ),
    d AS (
      SELECT p_partkey, s, k, sigma,
             (ln(s / k) + ({BS_RATE} + sigma * sigma / 2.0) * {BS_TENOR})
               / (sigma * sqrt({BS_TENOR})) AS d1,
             (ln(s / k) + ({BS_RATE} + sigma * sigma / 2.0) * {BS_TENOR})
               / (sigma * sqrt({BS_TENOR})) - sigma * sqrt({BS_TENOR}) AS d2
      FROM opt
    ),
    n AS (
      SELECT p_partkey, s, k, sigma,
             {_norm_cdf_sql('d1')} AS nd1,
             {_norm_cdf_sql('d2')} AS nd2
      FROM d
    )
    SELECT p_partkey,
           s AS spot,
           round(k, 4) AS strike,
           round(sigma, 2) AS sigma,
           round(s * nd1 - k * exp(-{BS_RATE} * {BS_TENOR}) * nd2, 4) AS call_price,
           round((s * nd1 - k * exp(-{BS_RATE} * {BS_TENOR}) * nd2)
                 - s + k * exp(-{BS_RATE} * {BS_TENOR}), 4) AS put_price,
           s > k AS itm_call
    FROM n
"""


sql_query(
    "q_black_scholes", _BS_SQL, tags=("finance", "pricing"),
    doc="""European call/put prices for a deterministic option ladder over the
    part catalog: spot = p_retailprice, strike = spot x (90 + p_partkey %
    21)% — a +-10% moneyness ladder computed in EXACT integer
    basis-point-cents (spot_cents x pct / 10000, one correctly-rounded
    division, so the strike is bit-identical across engines with no
    round()-boundary exposure) — vol = 0.15 + 0.01 x (p_size % 20)
    (exact decimal arithmetic cast to double), r = 5%, T = 0.5y. The normal CDF is the
    Abramowitz-Stegun 26.2.17 rational polynomial (|err| < 7.5e-8), and
    the put comes from put-call parity so the two prices are consistent
    by construction.

    Determinism: ONE SQL text runs verbatim on both engines (the
    q_recursive_reachability pattern) — identical Horner evaluation order;
    the only exposure is exp/ln/sqrt libm-vs-JVM ulps, absorbed by the
    4-dp rounding. Scale: the p_partkey <= {cap} predicate pushes down to
    the parquet scan and the pricing itself is a per-row closed form —
    zero shuffles, embarrassingly parallel at any corpus size.
    """,
)


# ---------------------------------------------------------------------------
# q_bond_duration
# ---------------------------------------------------------------------------

BOND_PERIODS = 20  # semiannual periods (10y bond)
BOND_YIELD_SEMI = 0.02  # flat 4% annual yield, compounded semiannually
BOND_FACE = 100.0


@query(
    "q_bond_duration",
    oracle=f"""
    WITH grid AS (
      SELECT n.n_nationkey, g.t,
             1.0 + 0.25 * (n.n_nationkey % 8) AS cpn
      FROM nation n, (SELECT unnest(range(1, {BOND_PERIODS} + 1)) AS t) g
    ),
    pv AS (
      SELECT n_nationkey, t,
             (cpn + CASE WHEN t = {BOND_PERIODS} THEN {BOND_FACE} ELSE 0.0 END)
               / power(1.0 + {BOND_YIELD_SEMI}, t) AS pv_t
      FROM grid
    ),
    s AS (
      SELECT n_nationkey,
             CAST(sum(CAST(round(pv_t * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS price,
             CAST(sum(CAST(round(t / 2.0 * pv_t * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
               AS dur_num,
             CAST(sum(CAST(round(t * (t + 1.0) * pv_t * 1e9) AS BIGINT)) AS DOUBLE)
               / 1e9 AS conv_num
      FROM pv GROUP BY n_nationkey
    )
    SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
           round(1.0 + 0.25 * (n_nationkey % 8), 2) AS semi_coupon,
           round(price, 6) AS price,
           round(dur_num / price, 6) AS macaulay_years,
           round(dur_num / price / (1.0 + {BOND_YIELD_SEMI}), 6) AS modified_years,
           round(conv_num / (price * power(1.0 + {BOND_YIELD_SEMI}, 2) * 4.0), 6)
             AS convexity
    FROM s
    """,
    tags=("finance", "pricing"),
)
def bond_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-income analytics per nation: a 10-year semiannual bond whose
    coupon steps with the nation key (semi coupon = 1.0 + 0.25 x
    (key % 8) dollars per 100 face, exact doubles) priced at a flat 4%
    yield — dirty price, Macaulay duration in years (PV-weighted mean
    time), modified duration, and convexity in year^2 — the standard
    DV01-side risk measures.

    Cashflows are an exploded ``sequence(1, 20)`` grid per nation (Spark)
    / ``unnest(range(...))`` (DuckDB); both engines then apply the same
    closed-form per-period term and the same three aggregate sums. The
    20-term double sums are order-ambiguous but magnitude ~1e2, so the
    1e-14 ulp noise sits 8 orders below the 6-dp rounding step. Scale:
    O(nations x periods) rows total — corpus-size-independent.
    """
    nation = load_table(spark, sf_dir, "nation")
    grid = nation.select(
        "n_nationkey",
        F.explode(F.sequence(F.lit(1), F.lit(BOND_PERIODS))).alias("t"),
        (F.lit(1.0) + 0.25 * (F.col("n_nationkey") % 8)).alias("cpn"),
    )
    pv_t = (
        F.col("cpn")
        + F.when(F.col("t") == BOND_PERIODS, F.lit(BOND_FACE)).otherwise(F.lit(0.0))
    ) / F.pow(F.lit(1.0 + BOND_YIELD_SEMI), F.col("t"))
    s = grid.select("n_nationkey", "t", "cpn", pv_t.alias("pv_t")).groupBy(
        "n_nationkey"
    ).agg(
        # integer-moments rule: snap each PV term at a 1e-9 grain
        (
            F.sum(F.round(F.col("pv_t") * 1e9).cast("long")).cast("double") / 1e9
        ).alias("price_raw"),
        (
            F.sum(
                F.round(F.col("t") / 2.0 * F.col("pv_t") * 1e9).cast("long")
            ).cast("double")
            / 1e9
        ).alias("dur_num"),
        (
            F.sum(
                F.round(
                    F.col("t") * (F.col("t") + F.lit(1.0)) * F.col("pv_t") * 1e9
                ).cast("long")
            ).cast("double")
            / 1e9
        ).alias("conv_num"),
    )
    y1 = F.lit(1.0 + BOND_YIELD_SEMI)
    return s.select(
        F.col("n_nationkey").cast("long").alias("nationkey"),
        F.round(F.lit(1.0) + 0.25 * (F.col("n_nationkey") % 8), 2).alias("semi_coupon"),
        F.round(F.col("price_raw"), 6).alias("price"),
        F.round(F.col("dur_num") / F.col("price_raw"), 6).alias("macaulay_years"),
        F.round(F.col("dur_num") / F.col("price_raw") / y1, 6).alias("modified_years"),
        F.round(
            F.col("conv_num") / (F.col("price_raw") * F.pow(y1, F.lit(2)) * 4.0), 6
        ).alias("convexity"),
    )


# ---------------------------------------------------------------------------
# q_irr_bisection
# ---------------------------------------------------------------------------

IRR_OUTLAY = 1000.0  # t=0 investment
IRR_YEARS = 8
IRR_STEPS = 48  # bisection steps: final bracket width 2^-48 ~ 3.6e-15


def _npv_terms_sql(mid: str) -> str:
    """The unrolled 8-term NPV at rate ``mid`` — identical literal text on
    both engines so the summation order is fixed left-to-right."""
    terms = " + ".join(
        f"(150.0 + 25.0 * ((nationkey + {t}) % 5)) / power(1.0 + {mid}, {t})"
        for t in range(1, IRR_YEARS + 1)
    )
    return f"(-{IRR_OUTLAY} + {terms})"


_IRR_SQL = f"""
    WITH RECURSIVE nations AS (
      SELECT CAST(n_nationkey AS BIGINT) AS nationkey FROM nation
    ),
    bis(nationkey, step, lo, hi) AS (
      SELECT nationkey, 0, CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM nations
      UNION ALL
      SELECT nationkey, step + 1,
             CASE WHEN {_npv_terms_sql('((lo + hi) / 2.0)')} > 0.0
                  THEN (lo + hi) / 2.0 ELSE lo END,
             CASE WHEN {_npv_terms_sql('((lo + hi) / 2.0)')} > 0.0
                  THEN hi ELSE (lo + hi) / 2.0 END
      FROM bis WHERE step < {IRR_STEPS}
    )
    SELECT nationkey,
           CAST(round({IRR_YEARS * 150.0} + 25.0 *
                (((nationkey + 1) % 5) + ((nationkey + 2) % 5) + ((nationkey + 3) % 5)
                 + ((nationkey + 4) % 5) + ((nationkey + 5) % 5) + ((nationkey + 6) % 5)
                 + ((nationkey + 7) % 5) + ((nationkey + 8) % 5))) AS BIGINT)
             AS cashflow_total,
           round((lo + hi) / 2.0, 6) AS irr
    FROM bis WHERE step = {IRR_STEPS}
"""


sql_query(
    "q_irr_bisection", _IRR_SQL, tags=("finance", "pricing", "recursive"),
    doc="""Internal rate of return per nation for a deterministic project
    (outlay 1000 at t=0, then 8 annual cashflows 150 + 25 x
    ((key + t) % 5)), solved by 48 bisection steps on [0, 1] — the
    root-finding pattern that generalizes to yield-to-maturity and
    option-implied-vol solves.

    ONE recursive-CTE text runs verbatim on both engines (the
    q_recursive_reachability pattern). Bisection only ever branches on the
    SIGN of the unrolled fixed-order 8-term NPV, so engines can diverge
    only if a midpoint NPV lands within libm-ulp of zero — which needs
    the midpoint within ~1e-13 of the root, vanishingly unlikely for the
    coarse dyadic midpoints that decide the 6-dp-visible digits. The
    bracket [0, 1] is valid by construction: NPV(0) = total cashflows
    - 1000 >= 200 > 0 and NPV(1) <= -750 < 0. Scale: the recursion is
    {IRR_STEPS} steps over an O(nations) relation — corpus-independent.
    """,
)


# ---------------------------------------------------------------------------
# q_component_var
# ---------------------------------------------------------------------------

CVAR_YEAR = 1999  # dense mid-corpus calendar year
CVAR_Z95 = 1.644854  # one-sided 95% normal quantile


@query(
    "q_component_var",
    oracle=f"""
    WITH nd AS (
      SELECT c.c_nationkey AS nationkey,
             date_trunc('day', o.o_orderdate) AS day,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) / 1000000.0 AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE year(o.o_orderdate) = {CVAR_YEAR}
      GROUP BY c.c_nationkey, date_trunc('day', o.o_orderdate)
    ),
    days AS (SELECT DISTINCT day FROM nd),
    grid AS (
      SELECT n.n_nationkey AS nationkey, d.day, coalesce(nd.x, 0.0) AS x
      FROM nation n CROSS JOIN days d
      LEFT JOIN nd ON nd.nationkey = n.n_nationkey AND nd.day = d.day
    ),
    port AS (SELECT day,
                    CAST(sum(CAST(round(x * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS p
             FROM grid GROUP BY day),
    m AS (
      SELECT g.nationkey,
             count(*) AS n,
             CAST(sum(CAST(round(g.x * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sx,
             CAST(sum(CAST(round(p.p * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sp,
             CAST(sum(CAST(round(g.x * 1e8) AS HUGEINT)
                      * CAST(round(p.p * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS sxp,
             CAST(sum(CAST(round(p.p * 1e8) AS HUGEINT)
                      * CAST(round(p.p * 1e8) AS BIGINT)) AS DOUBLE) / 1e16 AS spp
      FROM grid g JOIN port p ON g.day = p.day
      GROUP BY g.nationkey
    )
    SELECT CAST(nationkey AS BIGINT) AS nationkey,
           round(sx / sp, 6) AS weight,
           round(sxp / n - (sx / n) * (sp / n), 6) AS cov_musd2,
           round((sxp / n - (sx / n) * (sp / n))
                 / (spp / n - (sp / n) * (sp / n)), 6) AS pct_of_var,
           round({CVAR_Z95} * (sxp / n - (sx / n) * (sp / n))
                 / sqrt(spp / n - (sp / n) * (sp / n)), 6) AS component_var_musd
    FROM m
    """,
    tags=("finance", "risk"),
)
def component_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euler decomposition of {year} daily-revenue variance by nation —
    the parametric component-VaR allocation: for each nation i with daily
    revenue x_i (millions, zero-filled on a dense nation x day grid) and
    portfolio p = sum_i x_i, report weight_i = sum(x_i)/sum(p),
    cov(x_i, p), the variance share cov(x_i, p)/var(p) (Euler: shares sum
    to 1), and component VaR_i = z95 x cov(x_i, p)/sd(p). This is the
    ex-ante risk-attribution counterpart of the realized-risk queries
    (q_var_cvar, q_kupiec_var_backtest).

    Determinism: the house moment-sum recipe — daily revenue is rounded
    to 2 dp then rescaled to millions so every summand is O(1), keeping
    ulp noise ~1e-12 under the 6-dp rounding; both engines apply the same
    population-moment algebra (sxp/n - (sx/n)(sp/n)). Scale: the corpus
    pass is one groupBy to O(calendar x nations) rows; the grid, the
    portfolio join (on day), and the moment sums all stay calendar-
    bounded. The nation dim rides a broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    nd = (
        orders.filter(F.year("o_orderdate") == CVAR_YEAR)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.date_trunc("day", "o_orderdate").alias("day"),
        )
        .agg((F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2) / 1000000.0).alias("x"))
    )
    days = nd.select("day").distinct()
    grid = (
        F.broadcast(nation.select(F.col("n_nationkey").alias("nationkey")))
        .crossJoin(days)
        .join(nd, ["nationkey", "day"], "left")
        .select("nationkey", "day", F.coalesce("x", F.lit(0.0)).alias("x"))
    )
    # integer-moments rule: x is an exact 1e-8 multiple (2-dp / 1e6) —
    # the portfolio and moment sums run in exact integer grains
    port = grid.groupBy("day").agg(
        (
            F.sum(F.round(F.col("x") * 1e8).cast("long")).cast("double") / 1e8
        ).alias("p")
    )
    x8 = F.round(F.col("x") * 1e8).cast("long")
    p8 = F.round(F.col("p") * 1e8).cast("long")
    m = (
        grid.join(port, "day")
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(x8).cast("double") / 1e8).alias("sx"),
            (F.sum(p8).cast("double") / 1e8).alias("sp"),
            (F.sum(x8.cast("decimal(19,0)") * p8).cast("double") / 1e16).alias(
                "sxp"
            ),
            (F.sum(p8.cast("decimal(19,0)") * p8).cast("double") / 1e16).alias(
                "spp"
            ),
        )
    )
    n = F.col("n").cast("double")
    cov = F.col("sxp") / n - (F.col("sx") / n) * (F.col("sp") / n)
    var_p = F.col("spp") / n - (F.col("sp") / n) * (F.col("sp") / n)
    return m.select(
        F.col("nationkey").cast("long").alias("nationkey"),
        F.round(F.col("sx") / F.col("sp"), 6).alias("weight"),
        F.round(cov, 6).alias("cov_musd2"),
        F.round(cov / var_p, 6).alias("pct_of_var"),
        F.round(F.lit(CVAR_Z95) * cov / F.sqrt(var_p), 6).alias("component_var_musd"),
    )


# ---------------------------------------------------------------------------
# q_kalman_level
# ---------------------------------------------------------------------------

KALMAN_FROM, KALMAN_TO = "1995-01-01", "2001-01-01"  # 72 months < the 100-level CTE limit
KALMAN_Q = 0.01  # process noise
KALMAN_R = 0.25  # observation noise
KALMAN_P0 = 1.0  # prior variance

_KALMAN_SQL = f"""
    WITH RECURSIVE m AS (
      SELECT CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS rn, month, z
      FROM (
        SELECT date_trunc('month', o_orderdate) AS month,
               round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS z
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{KALMAN_FROM}'
          AND o_orderdate < TIMESTAMP '{KALMAN_TO}'
        GROUP BY date_trunc('month', o_orderdate)
      )
    ),
    kf(rn, month, z, gain, x, p) AS (
      SELECT rn, month, z, CAST(0.0 AS DOUBLE), z, CAST({KALMAN_P0} AS DOUBLE)
      FROM m WHERE rn = 1
      UNION ALL
      SELECT m.rn, m.month, m.z,
             round((kf.p + {KALMAN_Q}) / (kf.p + {KALMAN_Q} + {KALMAN_R}), 12),
             round(kf.x + round((kf.p + {KALMAN_Q}) / (kf.p + {KALMAN_Q} + {KALMAN_R}), 12)
                          * (m.z - kf.x), 12),
             round((1.0 - round((kf.p + {KALMAN_Q}) / (kf.p + {KALMAN_Q} + {KALMAN_R}), 12))
                   * (kf.p + {KALMAN_Q}), 12)
      FROM kf JOIN m ON m.rn = kf.rn + 1
    )
    SELECT month, z AS observed_musd,
           round(x, 6) AS level_musd,
           round(gain, 6) AS kalman_gain,
           round(p, 6) AS posterior_var
    FROM kf
"""


@query("q_kalman_level", oracle=_KALMAN_SQL, tags=("finance", "timeseries", "iterative"))
def kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D local-level Kalman filter over monthly revenue (millions):
    predict p' = p + q, gain k = p'/(p' + r), update x += k(z - x),
    p = (1-k)p' — the optimal recursive smoother the Holt/Croston family
    approximates, with the gain column showing the filter converging to
    its steady state. Window pinned to 1995-2000 (72 steps,
    corpus-growth-independent since the calendar doesn't grow with scale
    factor).

    Spark side follows the q_holt_smoothing driver-bounded-model pattern:
    ONE corpus pass reduces to the O(calendar) monthly series, which is
    collected (72 rows — bounded model state, never O(rows)) and the
    recursion runs on the driver with rnd_half_away(x, 12) so every state
    transition visits doubles bit-identical to the oracle's recursive-CTE
    round(x, 12). (A first cut ran the recursion as a Spark recursive CTE
    too — correct, but Spark re-evaluated the joined monthly aggregate
    every iteration, 72 corpus scans ~ 30 s at sf0.1; the driver-bounded
    model is one scan, and at 100 TB the difference is fatal. The DuckDB
    oracle keeps the CTE form, which materializes the anchor there.)"""
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(KALMAN_FROM).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(KALMAN_TO).cast("timestamp"))
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000000.0, 6).alias("z"))
        .orderBy("month")
        .collect()  # O(calendar months) — bounded model state, never O(rows)
    )
    rows = []
    x = p = None
    for r in monthly:
        if x is None:
            x, p, g = r["z"], KALMAN_P0, 0.0
        else:
            g = rnd((p + KALMAN_Q) / (p + KALMAN_Q + KALMAN_R), 12)
            x = rnd(x + g * (r["z"] - x), 12)
            p = rnd((1.0 - g) * (p + KALMAN_Q), 12)
        rows.append((r["month"], r["z"], rnd(x, 6), rnd(g, 6), rnd(p, 6)))
    return spark.createDataFrame(
        rows,
        "month timestamp, observed_musd double, level_musd double, "
        "kalman_gain double, posterior_var double",
    )


# ---------------------------------------------------------------------------
# q_efficient_frontier
# ---------------------------------------------------------------------------

EF_REGIONS = ("EUROPE", "ASIA")  # the two assets


@query(
    "q_efficient_frontier",
    oracle=f"""
    WITH rr AS (
      SELECT r.r_name, date_trunc('month', o.o_orderdate) AS month,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('{EF_REGIONS[0]}', '{EF_REGIONS[1]}')
      GROUP BY r.r_name, date_trunc('month', o.o_orderdate)
    ),
    ret AS (
      SELECT r_name, month,
             round(rev / lag(rev) OVER (PARTITION BY r_name ORDER BY month) - 1, 6) AS r
      FROM rr
    ),
    j AS (
      SELECT a.month, a.r AS x, b.r AS y
      FROM ret a JOIN ret b ON a.month = b.month
      WHERE a.r_name = '{EF_REGIONS[0]}' AND b.r_name = '{EF_REGIONS[1]}'
        AND a.r IS NOT NULL AND b.r IS NOT NULL
    ),
    mo AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
             CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
             CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                      * CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxx,
             CAST(sum(CAST(round(y * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS syy,
             CAST(sum(CAST(round(x * 1e6) AS HUGEINT)
                      * CAST(round(y * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS sxy
      FROM j
    ),
    st AS (
      SELECT n,
             sx / n AS mu1, sy / n AS mu2,
             sxx / n - (sx / n) * (sx / n) AS v1,
             syy / n - (sy / n) * (sy / n) AS v2,
             sxy / n - (sx / n) * (sy / n) AS c12
      FROM mo
    ),
    grid AS (SELECT unnest(range(0, 11)) * 0.1 AS w)
    SELECT round(g.w, 1) AS w_{EF_REGIONS[0].lower()},
           round(g.w * st.mu1 + (1 - g.w) * st.mu2, 6) AS exp_return,
           round(sqrt(g.w * g.w * st.v1 + (1 - g.w) * (1 - g.w) * st.v2
                      + 2 * g.w * (1 - g.w) * st.c12), 6) AS sd_return,
           round((st.v2 - st.c12) / (st.v1 + st.v2 - 2 * st.c12), 6) AS min_var_w,
           CAST(st.n AS BIGINT) AS n_months
    FROM grid g CROSS JOIN st
    """,
    tags=("finance", "portfolio"),
)
def efficient_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-asset Markowitz frontier over EUROPE vs ASIA monthly revenue
    returns: per-region monthly returns (the house 2-dp-then-6-dp
    recipe), sample moments on the aligned-month inner join, then the
    frontier's expected return and volatility at an 11-point weight grid
    plus the closed-form minimum-variance weight w* = (v2 - c12) /
    (v1 + v2 - 2 c12) — the textbook portfolio-construction counterpart
    of the risk-decomposition query (q_component_var).

    Scale: one fact-dims join reduced to O(calendar x 2) monthly rows;
    moments, the grid, and the closed forms all run on bounded relations
    (the 11-row grid crosses a 1-row stats relation via broadcast).
    Determinism: returns rounded at 6 before the moment sums
    (O(calendar) summands), all outputs rounded at 6.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rr = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name").isin(*EF_REGIONS))
        .groupBy("r_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
    )
    w = Window.partitionBy("r_name").orderBy("month")
    ret = rr.select(
        "r_name", "month", F.round(F.col("rev") / F.lag("rev").over(w) - 1, 6).alias("r")
    )
    a = ret.filter(F.col("r_name") == EF_REGIONS[0]).select(
        "month", F.col("r").alias("x")
    )
    b = ret.filter(F.col("r_name") == EF_REGIONS[1]).select(
        "month", F.col("r").alias("y")
    )
    j = a.join(b, "month").filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    # integer-moments rule: x, y are 6-dp — exact grain moment sums
    x6 = F.round(F.col("x") * 1e6).cast("long")
    y6 = F.round(F.col("y") * 1e6).cast("long")
    mo = j.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(x6).cast("double") / 1e6).alias("sx"),
        (F.sum(y6).cast("double") / 1e6).alias("sy"),
        (F.sum(x6.cast("decimal(19,0)") * x6).cast("double") / 1e12).alias("sxx"),
        (F.sum(y6.cast("decimal(19,0)") * y6).cast("double") / 1e12).alias("syy"),
        (F.sum(x6.cast("decimal(19,0)") * y6).cast("double") / 1e12).alias("sxy"),
    )
    n = F.col("n").cast("double")
    st = mo.select(
        F.col("n"),
        (F.col("sx") / n).alias("mu1"),
        (F.col("sy") / n).alias("mu2"),
        (F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)).alias("v1"),
        (F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)).alias("v2"),
        (F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)).alias("c12"),
    )
    grid = spark.range(0, 11).select((F.col("id") * 0.1).alias("w"))
    gw = F.col("w")
    return grid.crossJoin(F.broadcast(st)).select(
        F.round(gw, 1).alias(f"w_{EF_REGIONS[0].lower()}"),
        F.round(gw * F.col("mu1") + (1 - gw) * F.col("mu2"), 6).alias("exp_return"),
        F.round(
            F.sqrt(
                gw * gw * F.col("v1")
                + (1 - gw) * (1 - gw) * F.col("v2")
                + 2 * gw * (1 - gw) * F.col("c12")
            ),
            6,
        ).alias("sd_return"),
        F.round(
            (F.col("v2") - F.col("c12")) / (F.col("v1") + F.col("v2") - 2 * F.col("c12")),
            6,
        ).alias("min_var_w"),
        F.col("n").cast("long").alias("n_months"),
    )


# ---------------------------------------------------------------------------
# q_price_elasticity — log-log demand elasticity per brand
# ---------------------------------------------------------------------------


@query(
    "q_price_elasticity",
    oracle="""
    WITH f AS (
      SELECT p.p_brand AS brand,
             ln(l.l_extendedprice / l.l_quantity) AS lx,
             ln(l.l_quantity) AS ly
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_quantity > 0
    ),
    mo AS (
      SELECT brand, count(*) AS n,
             CAST(sum(CAST(round(lx * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS sx,
             CAST(sum(CAST(round(ly * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS sy,
             CAST(sum(CAST(round(lx * 1e9) AS HUGEINT)
                      * CAST(round(lx * 1e9) AS BIGINT)) AS DOUBLE) / 1e18 AS sxx,
             CAST(sum(CAST(round(lx * 1e9) AS HUGEINT)
                      * CAST(round(ly * 1e9) AS BIGINT)) AS DOUBLE) / 1e18 AS sxy,
             CAST(sum(CAST(round(ly * 1e9) AS HUGEINT)
                      * CAST(round(ly * 1e9) AS BIGINT)) AS DOUBLE) / 1e18 AS syy
      FROM f GROUP BY brand
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_lines,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) < -1.0 AS is_elastic
    FROM mo
    """,
    tags=("finance", "econ"),
)
def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price demand elasticity per brand by the log-log regression
    ln(quantity) on ln(unit price): the slope IS the elasticity
    (percent quantity change per percent price change), with R^2 and the
    |e| > 1 elastic flag — the pricing-power read every revenue-management
    stack starts from, and the economically-interpretable sibling of the
    level-space q_regr_by_brand. (TPC-H quantity is independent of price,
    so elasticity ~ 0 with R^2 ~ 0 — the machinery, as everywhere, is the
    verified artifact.)

    Scale: one fact-dim join + one map-side-combinable per-brand moment
    aggregate; the slope is the same closed-form Pearson algebra as
    q_regr_beta on log-transformed columns, rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    f = (
        li.filter(F.col("l_quantity") > 0)
        .join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lx"),
            F.log("l_quantity").alias("ly"),
        )
    )
    # integer-moments rule: snap the log terms at a 1e-9 grain so the
    # per-brand moment sums are order-exact
    lx9 = F.round(F.col("lx") * 1e9).cast("long")
    ly9 = F.round(F.col("ly") * 1e9).cast("long")
    mo = f.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(lx9).cast("double") / 1e9).alias("sx"),
        (F.sum(ly9).cast("double") / 1e9).alias("sy"),
        (F.sum(lx9.cast("decimal(19,0)") * lx9).cast("double") / 1e18).alias("sxx"),
        (F.sum(lx9.cast("decimal(19,0)") * ly9).cast("double") / 1e18).alias("sxy"),
        (F.sum(ly9.cast("decimal(19,0)") * ly9).cast("double") / 1e18).alias("syy"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mo.select(
        "brand",
        F.col("n").cast("long").alias("n_lines"),
        F.round(slope, 6).alias("elasticity"),
        F.round(
            F.pow(n * F.col("sxy") - F.col("sx") * F.col("sy"), F.lit(2))
            / (
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
        (slope < -1.0).alias("is_elastic"),
    )


# ---------------------------------------------------------------------------
# q_tail_dependence — empirical upper/lower tail dependence of two series
# ---------------------------------------------------------------------------

TAIL_Q = 0.8  # tail threshold quantile (empirical, via rank counts)


@query(
    "q_tail_dependence",
    oracle=f"""
    WITH rr AS (
      SELECT r.r_name, date_trunc('month', o.o_orderdate) AS month,
             round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('EUROPE', 'ASIA')
      GROUP BY r.r_name, date_trunc('month', o.o_orderdate)
    ),
    ret AS (
      SELECT r_name, month,
             round(rev / lag(rev) OVER (PARTITION BY r_name ORDER BY month) - 1, 6) AS r
      FROM rr
    ),
    j AS (
      SELECT a.month, a.r AS x, b.r AS y
      FROM ret a JOIN ret b ON a.month = b.month
      WHERE a.r_name = 'EUROPE' AND b.r_name = 'ASIA'
        AND a.r IS NOT NULL AND b.r IS NOT NULL
    ),
    ranked AS (
      SELECT month, x, y,
             (SELECT count(*) FROM j b WHERE b.x < a.x
                 OR (b.x = a.x AND b.month < a.month)) + 1 AS rx,
             (SELECT count(*) FROM j b WHERE b.y < a.y
                 OR (b.y = a.y AND b.month < a.month)) + 1 AS ry,
             (SELECT count(*) FROM j) AS n
      FROM j a
    ),
    s AS (
      SELECT max(n) AS n,
             sum(CASE WHEN rx > {TAIL_Q} * n AND ry > {TAIL_Q} * n THEN 1 ELSE 0 END) AS both_up,
             sum(CASE WHEN rx > {TAIL_Q} * n THEN 1 ELSE 0 END) AS x_up,
             sum(CASE WHEN rx <= (1 - {TAIL_Q}) * n AND ry <= (1 - {TAIL_Q}) * n THEN 1 ELSE 0 END) AS both_dn,
             sum(CASE WHEN rx <= (1 - {TAIL_Q}) * n THEN 1 ELSE 0 END) AS x_dn
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST(both_up AS BIGINT) AS joint_upper_exceed,
           round(both_up * 1.0 / nullif(x_up, 0), 6) AS upper_tail_dep,
           CAST(both_dn AS BIGINT) AS joint_lower_exceed,
           round(both_dn * 1.0 / nullif(x_dn, 0), 6) AS lower_tail_dep
    FROM s
    """,
    tags=("finance", "risk", "dependence"),
)
def tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail dependence between EUROPE and ASIA monthly returns:
    lambda_U ~ P(Y in its top {q} tail | X in its top tail) and the lower
    analog, from exact integer rank counts — the co-crash measure
    correlation misses entirely (a Gaussian copula has lambda = 0 at ANY
    correlation; portfolios discover this in drawdowns). Complements
    q_rolling_corr / q_portfolio_cov with the dependence-structure view
    that drives joint-stress assumptions (q_stress_scenarios).

    Scale: the calendar-bounded return join (~80 months); ranks via
    count-of-smaller comparisons with the month as total-order tie-break
    (exact integers, no window); tail flags and the conditional ratios
    are closed forms, nullif-guarded for empty tails."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rr = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name").isin("EUROPE", "ASIA"))
        .groupBy("r_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
    )
    w = Window.partitionBy("r_name").orderBy("month")
    ret = rr.select(
        "r_name", "month", F.round(F.col("rev") / F.lag("rev").over(w) - 1, 6).alias("r")
    )
    a = ret.filter(F.col("r_name") == "EUROPE").select("month", F.col("r").alias("x"))
    b = ret.filter(F.col("r_name") == "ASIA").select("month", F.col("r").alias("y"))
    j = a.join(b, "month").filter(F.col("x").isNotNull() & F.col("y").isNotNull())

    def rank_on(col: str, out: str) -> DataFrame:
        lhs = j.select(F.col("month").alias("m"), F.col(col).alias("va"))
        rhs = j.select(F.col("month").alias("m_b"), F.col(col).alias("vb"))
        return (
            lhs.join(
                F.broadcast(rhs),
                (F.col("vb") < F.col("va"))
                | ((F.col("vb") == F.col("va")) & (F.col("m_b") < F.col("m"))),
                "left",
            )
            .groupBy("m")
            .agg((F.count(F.col("m_b")) + 1).alias(out))
        )
    nn = j.count()
    ranked = rank_on("x", "rx").join(rank_on("y", "ry"), "m")
    s = ranked.agg(
        F.sum(
            F.when((F.col("rx") > TAIL_Q * nn) & (F.col("ry") > TAIL_Q * nn), 1).otherwise(0)
        ).alias("both_up"),
        F.sum(F.when(F.col("rx") > TAIL_Q * nn, 1).otherwise(0)).alias("x_up"),
        F.sum(
            F.when(
                (F.col("rx") <= (1 - TAIL_Q) * nn) & (F.col("ry") <= (1 - TAIL_Q) * nn), 1
            ).otherwise(0)
        ).alias("both_dn"),
        F.sum(F.when(F.col("rx") <= (1 - TAIL_Q) * nn, 1).otherwise(0)).alias("x_dn"),
    )
    return s.select(
        F.lit(nn).cast("long").alias("n_months"),
        F.col("both_up").cast("long").alias("joint_upper_exceed"),
        F.round(F.col("both_up") * 1.0 / F.nullif(F.col("x_up"), F.lit(0)), 6).alias(
            "upper_tail_dep"
        ),
        F.col("both_dn").cast("long").alias("joint_lower_exceed"),
        F.round(F.col("both_dn") * 1.0 / F.nullif(F.col("x_dn"), F.lit(0)), 6).alias(
            "lower_tail_dep"
        ),
    )


# ---------------------------------------------------------------------------
# q_implied_vol — Newton inversion of Black-Scholes (5 unrolled iterations)
# ---------------------------------------------------------------------------

IV_ITERS = 5
IV_SIGMA0 = 0.2  # Newton starting point


def _iv_sql() -> str:
    """One SQL text (runs verbatim on both engines): market call prices
    from the q_black_scholes ladder, then 5 unrolled Newton steps
    sig <- sig - (BS(sig) - P)/vega(sig) as chained CTEs."""
    sqT = f"sqrt({BS_TENOR})"
    disc = f"exp(-{BS_RATE} * {BS_TENOR})"

    def d1(sig: str) -> str:
        return (
            f"((ln(s / k) + ({BS_RATE} + {sig} * {sig} / 2.0) * {BS_TENOR})"
            f" / ({sig} * {sqT}))"
        )

    def step(i: int) -> str:
        sig = f"sig{i}"
        d1e, d2e = f"d1_{i}", f"d2_{i}"
        return f""",
    it{i} AS (
      SELECT p_partkey, s, k, p_mkt, sig0_true, {sig},
             {d1(sig)} AS {d1e},
             {d1(sig)} - {sig} * {sqT} AS {d2e}
      FROM v{i}
    ),
    v{i + 1} AS (
      SELECT p_partkey, s, k, p_mkt, sig0_true,
             greatest(0.01, least(2.0,
               {sig} - (s * {_norm_cdf_sql(d1e)} - k * {disc} * {_norm_cdf_sql(d2e)}
                        - p_mkt)
                 / greatest(1e-8,
                     s * exp(-{d1e} * {d1e} / 2.0) / sqrt(2.0 * pi()) * {sqT})
             )) AS sig{i + 1}
      FROM it{i}
    )"""

    steps = "".join(step(i) for i in range(IV_ITERS))
    return f"""
    WITH opt AS (
      SELECT p_partkey,
             p_retailprice AS s,
             CAST(CAST(round(p_retailprice * 100) AS BIGINT)
                  * (90 + (p_partkey % 21)) AS DOUBLE) / 10000.0 AS k,
             CAST(0.15 + 0.01 * (p_size % 20) AS DOUBLE) AS sig0_true
      FROM part
      WHERE p_partkey <= {BS_PART_CAP}
    ),
    mkt AS (
      SELECT p_partkey, s, k, sig0_true,
             {d1("sig0_true")} AS d1m,
             {d1("sig0_true")} - sig0_true * {sqT} AS d2m
      FROM opt
    ),
    v0 AS (
      SELECT p_partkey, s, k, sig0_true,
             s * {_norm_cdf_sql("d1m")} - k * {disc} * {_norm_cdf_sql("d2m")} AS p_mkt,
             CAST({IV_SIGMA0} AS DOUBLE) AS sig0
      FROM mkt
    ){steps}
    SELECT p_partkey,
           round(p_mkt, 4) AS market_price,
           round(sig0_true, 2) AS true_sigma,
           round(sig{IV_ITERS}, 6) AS implied_vol,
           abs(sig{IV_ITERS} - sig0_true) < 1e-4 AS converged
    FROM v{IV_ITERS}
    """


sql_query(
    "q_implied_vol", _iv_sql(), tags=("finance", "pricing", "iterative"),
    doc="""Implied volatility by Newton-Raphson, 5 iterations UNROLLED as
    chained CTEs: market prices are the q_black_scholes ladder evaluated
    at each option's true σ, then σₖ₊₁ = σₖ − (BS(σₖ) − P)/vega(σₖ)
    starting from 0.2 with a [0.01, 2.0] clamp and a vega floor — the
    root-find every options desk runs millions of times a day, expressed
    as a fixed-depth dataflow instead of a per-row loop (same posture as
    the unrolled Lloyd iterations backing q_kmeans_embeddings). The
    `converged` column asserts the solver actually recovers the known σ
    to 1e-4 — a built-in end-to-end proof, not just a hash match.

    Determinism: ONE SQL text runs verbatim on both engines; per-row
    closed forms, zero shuffles, embarrassingly parallel at any corpus
    size; libm ulps absorbed by the 6-dp round (Newton converges to
    ~1e-10 by iteration 5, far inside it).""",
)


# ---------------------------------------------------------------------------
# q_almgren_chriss — optimal execution schedule from corpus-estimated vol
# ---------------------------------------------------------------------------

AC_SLICES = 20
AC_SHARES = 1_000_000.0
AC_URGENCY = 5.0  # kappa = urgency x relative daily vol (stylized units)

_AC_SQL = f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS x
      FROM orders GROUP BY d
    ),
    ret AS (
      SELECT round(a.x - b.x, 6) AS r
      FROM daily a JOIN daily b ON b.d = a.d - INTERVAL 1 DAY
    ),
    sig AS (
      SELECT round(sqrt(CAST(sum(CAST(round(ret.r * 1e6) AS HUGEINT)
                                 * CAST(round(ret.r * 1e6) AS BIGINT)) AS DOUBLE)
                          / 1e12 / count(*)
                        - (CAST(sum(CAST(round(ret.r * 1e6) AS BIGINT)) AS DOUBLE)
                           / count(*) / 1e6)
                          * (CAST(sum(CAST(round(ret.r * 1e6) AS BIGINT)) AS DOUBLE)
                             / count(*) / 1e6))
                   / (SELECT CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE)
                             / count(*) / 1e6 FROM daily), 8) AS sigma
      FROM ret
    ),
    kap AS (
      SELECT sigma, {AC_URGENCY} * sigma AS kappa FROM sig
    ),
    grid AS (
      SELECT g.j, kap.sigma, kap.kappa,
             CAST(g.j AS DOUBLE) / {AC_SLICES} AS t
      FROM kap, (SELECT unnest(range(0, {AC_SLICES} + 1)) AS j) g
    ),
    sched AS (
      SELECT j, sigma, kappa, t,
             {AC_SHARES}
               * ((exp(kappa * (1.0 - t)) - exp(-kappa * (1.0 - t))) / 2.0)
               / ((exp(kappa) - exp(-kappa)) / 2.0) AS holdings
      FROM grid
    )
    SELECT CAST(a.j AS BIGINT) AS slice,
           round(a.sigma, 6) AS sigma_daily,
           round(a.kappa, 6) AS kappa,
           round(a.holdings, 2) AS holdings,
           round(b.holdings - a.holdings, 2) AS trade,
           round((b.holdings - a.holdings) / {AC_SHARES}, 6) AS trade_frac
    FROM sched a JOIN sched b ON b.j = a.j - 1
    ORDER BY slice
"""


@query("q_almgren_chriss", oracle=_AC_SQL, tags=("finance", "pricing", "timeseries"))
def almgren_chriss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Almgren-Chriss optimal liquidation schedule: holdings x(t) =
    X·sinh(κ(T−t))/sinh(κT) over a 20-slice day, with the urgency
    κ = 5·σ_rel fed by the CORPUS-estimated RELATIVE daily volatility
    (std/mean of the same daily series q_gpd_pot and
    q_amihud_illiquidity read; the stylized urgency constant stands in
    for √(λ/η) whose $-units the revenue proxy can't supply) — risk-averse
    front-loading falls out of the closed form: early slices trade more
    than 1/N, late slices less, and the whole curve steepens with σ.
    sinh is spelled (eˣ−e⁻ˣ)/2 so both engines evaluate the identical
    expression shape (the grid itself is engine-native: spark.range vs
    unnest(range), the q_bond_duration pattern).

    Scale: one daily aggregate + consecutive-day join for σ, then an
    O(slices) grid of per-row closed forms — corpus cost is the single
    scan; the schedule itself is corpus-size-independent."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000.0, 6).alias("x")
    )
    prev = daily.select(F.date_add(F.col("d"), 1).alias("d"), F.col("x").alias("px"))
    ret = daily.join(F.broadcast(prev), "d").select(
        F.round(F.col("x") - F.col("px"), 6).alias("r")
    )
    # integer-moments rule: x, r are 6-dp — exact grain sums for sigma
    mean_rev = daily.agg(
        (
            F.sum(F.round(F.col("x") * 1e6).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e6
        ).alias("mx")
    )
    rr6 = F.round(F.col("r") * 1e6).cast("long")
    mu_r = F.sum(rr6).cast("double") / F.count(F.lit(1)) / 1e6
    sig = ret.crossJoin(F.broadcast(mean_rev)).agg(
        F.round(
            F.sqrt(
                F.sum(rr6.cast("decimal(19,0)") * rr6).cast("double")
                / 1e12
                / F.count(F.lit(1))
                - mu_r * mu_r
            )
            / F.max("mx"),
            8,
        ).alias("sigma")
    )
    kap = sig.select("sigma", (AC_URGENCY * F.col("sigma")).alias("kappa"))
    grid = (
        spark.range(0, AC_SLICES + 1)
        .select(F.col("id").alias("j"))
        .crossJoin(F.broadcast(kap))
        .select("j", "sigma", "kappa", (F.col("j") * 1.0 / AC_SLICES).alias("t"))
    )

    def sinh(x):
        return (F.exp(x) - F.exp(-x)) / 2.0

    sched = grid.select(
        "j",
        "sigma",
        "kappa",
        (
            AC_SHARES
            * sinh(F.col("kappa") * (1.0 - F.col("t")))
            / sinh(F.col("kappa"))
        ).alias("holdings"),
    )
    b = sched.select((F.col("j") + 1).alias("j"), F.col("holdings").alias("ph"))
    return (
        sched.join(F.broadcast(b), "j")
        .select(
            F.col("j").cast("long").alias("slice"),
            F.round(F.col("sigma"), 6).alias("sigma_daily"),
            F.round(F.col("kappa"), 6).alias("kappa"),
            F.round(F.col("holdings"), 2).alias("holdings"),
            F.round(F.col("ph") - F.col("holdings"), 2).alias("trade"),
            F.round((F.col("ph") - F.col("holdings")) / AC_SHARES, 6).alias(
                "trade_frac"
            ),
        )
        .orderBy("slice")
    )


# ---------------------------------------------------------------------------
# q_binomial_option — CRR binomial pricing, converging to Black-Scholes
# ---------------------------------------------------------------------------

CRR_STEPS = 16


def _binomial_sql() -> str:
    """European CRR price as the closed-form terminal sum
    disc * SUM_k C(n,k) p^k q^(n-k) max(S u^k d^(n-k) - K, 0), unrolled
    over the 17 terminal nodes with explicit multiplication chains (no
    libm pow), so both engines evaluate the identical expression
    left-to-right. Shares q_black_scholes' option grid and reports the
    convergence gap to the closed-form BS price."""
    n = CRR_STEPS
    from math import comb

    def chain(sym: str, k: int) -> str:
        return "1e0" if k == 0 else "(" + " * ".join([sym] * k) + ")"

    terms = []
    for k in range(n + 1):
        terms.append(
            f"({comb(n, k)} * {chain('p', k)} * {chain('q', n - k)}"
            f" * greatest(s * {chain('u', k)} * {chain('dn', n - k)} - k_, 0e0))"
        )
    tree_sum = "\n             + ".join(terms)
    return f"""
    WITH opt AS (
      SELECT p_partkey,
             p_retailprice AS s,
             CAST(CAST(round(p_retailprice * 100) AS BIGINT)
                  * (90 + (p_partkey % 21)) AS DOUBLE) / 10000.0 AS k_,
             CAST(0.15 + 0.01 * (p_size % 20) AS DOUBLE) AS sigma
      FROM part
      WHERE p_partkey <= {BS_PART_CAP}
    ),
    ud AS (
      SELECT p_partkey, s, k_, sigma,
             exp(sigma * sqrt({BS_TENOR} / {n}.0)) AS u,
             1e0 / exp(sigma * sqrt({BS_TENOR} / {n}.0)) AS dn
      FROM opt
    ),
    pq AS (
      SELECT p_partkey, s, k_, sigma, u, dn,
             (exp({BS_RATE} * {BS_TENOR} / {n}.0) - dn) / (u - dn) AS p,
             1e0 - (exp({BS_RATE} * {BS_TENOR} / {n}.0) - dn) / (u - dn) AS q
      FROM ud
    ),
    crr AS (
      SELECT p_partkey, s, k_, sigma,
             exp(-{BS_RATE} * {BS_TENOR}) * (
               {tree_sum}
             ) AS price
      FROM pq
    ),
    bs AS (
      SELECT p_partkey,
             (ln(s / k_) + ({BS_RATE} + sigma * sigma / 2.0) * {BS_TENOR})
               / (sigma * sqrt({BS_TENOR})) AS d1,
             (ln(s / k_) + ({BS_RATE} + sigma * sigma / 2.0) * {BS_TENOR})
               / (sigma * sqrt({BS_TENOR})) - sigma * sqrt({BS_TENOR}) AS d2,
             s, k_, sigma
      FROM opt
    ),
    bsp AS (
      SELECT p_partkey,
             s * {_norm_cdf_sql('d1')}
             - k_ * exp(-{BS_RATE} * {BS_TENOR}) * {_norm_cdf_sql('d2')} AS bs_price
      FROM bs
    )
    SELECT c.p_partkey, c.s AS spot, round(c.k_, 4) AS strike,
           round(c.sigma, 2) AS sigma,
           round(c.price, 4) AS crr_price,
           round(b.bs_price, 4) AS bs_price,
           round(abs(c.price - b.bs_price), 4) AS abs_gap
    FROM crr c JOIN bsp b ON c.p_partkey = b.p_partkey
    """


sql_query(
    "q_binomial_option", _binomial_sql(), tags=("finance", "pricing"),
    doc="""Cox-Ross-Rubinstein binomial option pricing ({CRR_STEPS} steps) on
    the q_black_scholes option grid, priced as the closed-form terminal
    sum disc * SUM C(n,k) p^k q^(n-k) payoff(S u^k d^(n-k)) — for a
    European call the backward induction collapses to this single
    expectation, so the whole 17-node tree is ONE expression per option.
    The output reports the CRR price beside the closed-form Black-Scholes
    price and their gap — the discrete-to-continuous convergence check
    (O(1/n) for CRR) every pricing library validates.

    ONE SQL text runs verbatim on both engines; binomial coefficients
    are exact integer literals, and every power is an explicit
    multiplication chain (never libm pow), so both engines walk the
    identical double arithmetic; rounded at 4. Scale: pure map-side
    arithmetic over the part grid — no joins, no shuffles past the
    scan.""",
)


# ---------------------------------------------------------------------------
# q_riskmetrics_vol — EWMA volatility recursion + parametric VaR
# ---------------------------------------------------------------------------

RM_LAMBDA = 0.94
RM_Z95 = 1.644854
RM_TAIL_MONTHS = 12

_RM_SQL = f"""
    WITH RECURSIVE mm AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY mi
    ),
    rr AS (
      SELECT a.mi,
             CAST(round((a.cents * 1e0 / b.cents - 1e0) * 1000000) AS BIGINT) AS r6
      FROM mm a JOIN mm b ON b.mi = a.mi - 1
    ),
    idx AS (
      SELECT r.mi - x.mn + 1 AS t, r.mi, r.r6
      FROM rr r CROSS JOIN (SELECT min(mi) AS mn FROM rr) x
    ),
    seed AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             round(sum(r6 * r6) / 12e0 / 1e12, 12) AS s2
      FROM idx WHERE t <= 12
    ),
    nn AS (SELECT CAST(max(t) AS BIGINT) AS n FROM idx),
    rec(t, n, sig2) AS (
      SELECT CAST(12 AS BIGINT), nn.n, seed.s2 FROM seed CROSS JOIN nn
      UNION ALL
      SELECT rec.t + 1, rec.n,
             round({RM_LAMBDA} * rec.sig2
                   + (1e0 - {RM_LAMBDA}) * (i.r6 * 1e0 * i.r6 / 1e12), 12)
      FROM rec JOIN idx i ON i.t = rec.t
      WHERE rec.t < rec.n
    )
    SELECT i.mi AS month_index,
           round(i.r6 / 1e6, 6) AS ret,
           round(sqrt(rec.sig2), 6) AS ewma_vol,
           round(-{RM_Z95} * sqrt(rec.sig2), 6) AS var95,
           i.r6 / 1e6 < -{RM_Z95} * sqrt(rec.sig2) AS breach
    FROM rec JOIN idx i ON i.t = rec.t
    WHERE rec.t > rec.n - {RM_TAIL_MONTHS}
    ORDER BY month_index
"""


@query("q_riskmetrics_vol", oracle=_RM_SQL, tags=("finance", "risk", "recursive"))
def riskmetrics_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility (lambda = 0.94) over the monthly
    revenue return series: sig2_t = lambda sig2_{{t-1}} +
    (1-lambda) r^2_{{t-1}}, seeded with the first year's mean square —
    the decay-weighted vol every parametric VaR desk runs because it
    reacts to regime shifts the equal-weight q_stats_volatility window
    cannot. The last 12 months report the one-step-ahead vol, the
    parametric 95% VaR (-1.645 sigma), and whether the realized return
    breached it (the input q_kupiec_var_backtest consumes).

    Spark side follows the q_kalman_level driver-bounded-model pattern:
    ONE corpus pass reduces to the O(calendar) monthly cents, collected
    (bounded model state, never O(rows)), and the recursion runs on the
    driver with rnd_half_away so every state transition visits doubles
    bit-identical to the oracle's recursive-CTE round(x, 12). (A first
    cut ran the recursion as a Spark recursive CTE — correct, but Spark
    re-evaluated the monthly aggregate every iteration, ~70 corpus scans
    = 39 s at sf0.01; the driver-bounded model is one scan.) Returns are
    exact 1e-6-grain BIGINTs from exact cents; the seed is an exact
    integer ratio. The DuckDB oracle keeps the CTE form."""
    import math

    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .orderBy("mi")
        .collect()  # O(calendar months) — bounded model state, never O(rows)
    )
    r6s = []  # (t, mi, r6) with t = 1.. over the contiguous return months
    for prev, cur in zip(monthly, monthly[1:]):
        ratio = (cur["cents"] * 1.0 / prev["cents"] - 1.0) * 1000000
        r6s.append((len(r6s) + 1, cur["mi"], int(rnd(ratio, 0))))
    n = len(r6s)
    seed = rnd(sum(r6 * r6 for _, _, r6 in r6s[:12]) / 12.0 / 1e12, 12)
    sig2 = {12: seed}
    for t in range(12, n):
        _, _, r6 = r6s[t - 1]  # r6 at index t (1-based) = r6s[t-1]
        sig2[t + 1] = rnd(RM_LAMBDA * sig2[t] + (1.0 - RM_LAMBDA) * (r6 * 1.0 * r6 / 1e12), 12)
    rows = []
    for t, mi, r6 in r6s:
        if t <= n - RM_TAIL_MONTHS or t not in sig2:
            continue
        vol = math.sqrt(sig2[t])
        rows.append(
            (mi, rnd(r6 / 1e6, 6), rnd(vol, 6), rnd(-RM_Z95 * vol, 6), r6 / 1e6 < -RM_Z95 * vol)
        )
    return spark.createDataFrame(
        rows,
        "month_index bigint, ret double, ewma_vol double, var95 double, breach boolean",
    )


# ---------------------------------------------------------------------------
# q_rebalance_drift — calendar rebalancing vs buy-and-hold
# ---------------------------------------------------------------------------

REB_W_A = 0.6  # target weight, asset A (EUROPE revenue index)
REB_EVERY = 3  # rebalance every 3rd month (quarterly)

_REB_SQL = f"""
    WITH RECURSIVE rm AS (
      SELECT r.r_name AS region,
             CAST(year(o.o_orderdate) AS BIGINT) * 12 + month(o.o_orderdate) AS mi,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('EUROPE', 'ASIA')
      GROUP BY region, mi
    ),
    rr AS (
      SELECT a.mi,
             CAST(round((a.cents * 1e0 / b.cents - 1e0) * 1000000) AS BIGINT) AS ra6
      FROM rm a JOIN rm b ON b.mi = a.mi - 1 AND a.region = 'EUROPE'
            AND b.region = 'EUROPE'
    ),
    rr2 AS (
      SELECT a.mi,
             CAST(round((a.cents * 1e0 / b.cents - 1e0) * 1000000) AS BIGINT) AS rb6
      FROM rm a JOIN rm b ON b.mi = a.mi - 1 AND a.region = 'ASIA'
            AND b.region = 'ASIA'
    ),
    rj AS (SELECT rr.mi, rr.ra6, rr2.rb6 FROM rr JOIN rr2 ON rr.mi = rr2.mi),
    idx AS (
      -- dense month index via a bounded triangular join (region series can
      -- skip months; a raw mi offset would break the recursion chain)
      SELECT CAST(count(*) AS BIGINT) AS t, a.mi, min(a.ra6) AS ra6,
             min(a.rb6) AS rb6
      FROM rj a JOIN rj b ON b.mi <= a.mi
      GROUP BY a.mi
    ),
    nn AS (SELECT CAST(max(t) AS BIGINT) AS n FROM idx),
    rec(t, n, wa, wb, bha, bhb, turn, nreb) AS (
      SELECT CAST(0 AS BIGINT), nn.n,
             CAST({REB_W_A} AS DOUBLE), CAST({1 - REB_W_A} AS DOUBLE),
             CAST({REB_W_A} AS DOUBLE), CAST({1 - REB_W_A} AS DOUBLE),
             CAST(0e0 AS DOUBLE), CAST(0 AS BIGINT)
      FROM nn
      UNION ALL
      SELECT rec.t + 1, rec.n,
             CASE WHEN (rec.t + 1) % {REB_EVERY} = 0
                  THEN round({REB_W_A} * (round(rec.wa * (1e0 + i.ra6 / 1e6), 12)
                                          + round(rec.wb * (1e0 + i.rb6 / 1e6), 12)), 12)
                  ELSE round(rec.wa * (1e0 + i.ra6 / 1e6), 12) END,
             CASE WHEN (rec.t + 1) % {REB_EVERY} = 0
                  THEN round({1 - REB_W_A} * (round(rec.wa * (1e0 + i.ra6 / 1e6), 12)
                                              + round(rec.wb * (1e0 + i.rb6 / 1e6), 12)), 12)
                  ELSE round(rec.wb * (1e0 + i.rb6 / 1e6), 12) END,
             round(rec.bha * (1e0 + i.ra6 / 1e6), 12),
             round(rec.bhb * (1e0 + i.rb6 / 1e6), 12),
             CASE WHEN (rec.t + 1) % {REB_EVERY} = 0
                  THEN round(rec.turn
                             + abs({REB_W_A} * (round(rec.wa * (1e0 + i.ra6 / 1e6), 12)
                                                + round(rec.wb * (1e0 + i.rb6 / 1e6), 12))
                                   - round(rec.wa * (1e0 + i.ra6 / 1e6), 12)), 12)
                  ELSE rec.turn END,
             rec.nreb + CASE WHEN (rec.t + 1) % {REB_EVERY} = 0 THEN 1 ELSE 0 END
      FROM rec JOIN idx i ON i.t = rec.t + 1
      WHERE rec.t < rec.n
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST(nreb AS BIGINT) AS n_rebalances,
           round(wa + wb, 6) AS wealth_rebalanced,
           round(bha + bhb, 6) AS wealth_buyhold,
           round((wa + wb) - (bha + bhb), 6) AS rebalancing_gain,
           round(turn, 6) AS one_way_turnover,
           round(bha / (bha + bhb), 6) AS drifted_weight_a
    FROM rec WHERE t = n
"""


@query("q_rebalance_drift", oracle=_REB_SQL, tags=("finance", "portfolio", "recursive"))
def rebalance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarterly-rebalanced 60/40 two-asset portfolio (EUROPE / ASIA
    monthly revenue indices) walked against buy-and-hold in ONE
    recursion: wealth drifts with each month's returns, snaps back to
    target every third month (one-way turnover accumulated, the real
    trading-cost driver), while the buy-and-hold legs compound untouched
    — the rebalancing-premium / weight-drift relation behind every
    policy-portfolio governance review. Reports final wealth both ways,
    the rebalancing gain, turnover, rebalance count, and how far
    buy-and-hold drifted from the 60% target.

    Spark side follows the q_kalman_level driver-bounded-model pattern:
    one dim-chain corpus pass reduces to the O(calendar) per-region
    monthly cents, collected (bounded model state), and the walk runs on
    the driver with rnd_half_away(x, 12) at every state transition —
    bit-identical to the oracle's recursive-CTE round(x, 12), which the
    DuckDB side keeps. (The recursive-CTE form on Spark re-scanned the
    monthly aggregate per iteration — 63 s at sf0.01; the driver-bounded
    model is one scan.) Returns are exact 1e-6-grain BIGINTs from exact
    cents; the dense month index tolerates calendar gaps in either
    region's series."""
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rm = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("EUROPE", "ASIA"))
        .groupBy(
            F.col("r_name").alias("region"),
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("mi"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .orderBy("region", "mi")
        .collect()  # O(2 x calendar months) — bounded model state
    )
    series = {"EUROPE": {}, "ASIA": {}}
    for r in rm:
        series[r["region"]][r["mi"]] = r["cents"]

    def rets(cents_by_mi):
        out = {}
        for mi, c in cents_by_mi.items():
            if mi - 1 in cents_by_mi:
                out[mi] = int(rnd((c * 1.0 / cents_by_mi[mi - 1] - 1.0) * 1000000, 0))
        return out

    ra, rb = rets(series["EUROPE"]), rets(series["ASIA"])
    months = sorted(set(ra) & set(rb))
    n = len(months)
    wa, wb = REB_W_A, 1 - REB_W_A
    bha, bhb = REB_W_A, 1 - REB_W_A
    turn, nreb = 0.0, 0
    for t, mi in enumerate(months, start=1):
        ga = rnd(wa * (1.0 + ra[mi] / 1e6), 12)
        gb = rnd(wb * (1.0 + rb[mi] / 1e6), 12)
        if t % REB_EVERY == 0:
            wa = rnd(REB_W_A * (ga + gb), 12)
            wb = rnd((1 - REB_W_A) * (ga + gb), 12)
            turn = rnd(turn + abs(REB_W_A * (ga + gb) - ga), 12)
            nreb += 1
        else:
            wa, wb = ga, gb
        bha = rnd(bha * (1.0 + ra[mi] / 1e6), 12)
        bhb = rnd(bhb * (1.0 + rb[mi] / 1e6), 12)
    row = (
        n,
        nreb,
        rnd(wa + wb, 6),
        rnd(bha + bhb, 6),
        rnd((wa + wb) - (bha + bhb), 6),
        rnd(turn, 6),
        rnd(bha / (bha + bhb), 6),
    )
    return spark.createDataFrame(
        [row],
        "n_months bigint, n_rebalances bigint, wealth_rebalanced double, "
        "wealth_buyhold double, rebalancing_gain double, one_way_turnover double, "
        "drifted_weight_a double",
    )
