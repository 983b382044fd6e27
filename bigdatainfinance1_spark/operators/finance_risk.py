"""Financial risk / concentration / money-decomposition operators: VaR, stress, covariance, concentration indices, bridges, FIFO lot matching, exact-cents determinism.

Carved out of operators/analytics.py (round-2 wave 1-3) and operators/analytics2.py (round-2 wave 4-5) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 14 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_gini_revenue",
    oracle="""
    WITH m AS (
      SELECT o_custkey, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT monetary,
             row_number() OVER (ORDER BY monetary, o_custkey) AS i,
             count(*) OVER ()                                 AS n,
             sum(CAST(round(monetary * 100) AS BIGINT)) OVER () AS totc
      FROM m
    )
    SELECT
      CAST(max(n) AS BIGINT)                       AS n_customers,
      round(CAST(max(totc) AS DOUBLE) / 100, 2)    AS total_rev,
      round(2.0 * CAST(sum(i * CAST(round(monetary * 100) AS HUGEINT)) AS DOUBLE)
            / (max(n) * CAST(max(totc) AS DOUBLE))
            - (max(n) + 1.0) / max(n), 6)          AS gini
    FROM ranked
    """,
    tags=("analytics", "finance", "stats"),
)
def gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient over per-customer spend:
    G = 2·Σ(i·m_i)/(n·Σm) − (n+1)/n with i the ascending spend rank —
    the standard inequality measure for customer-concentration risk. The
    rank is the range-bucketed distributed row number (functions/ranks.py);
    n and Σm come from the same aggregate, so the whole query is two
    shuffles. The oracle uses window formulations of the identical algebra;
    round(·,6) absorbs summation-order ulps."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy("o_custkey").agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("monetary"))
    ranked = global_row_number(m, ["monetary", "o_custkey"], rn_col="i")
    # integer-moments rule: monetary is exact 2-dp — the rank-weighted and
    # total sums run in exact integer cents (the /100 cancels in G)
    mc = F.round(F.col("monetary") * 100).cast("long")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum(mc).cast("double") / 100, 2).alias("total_rev"),
        F.round(
            2.0
            * F.sum(F.col("i").cast("decimal(19,0)") * mc).cast("double")
            / (F.count(F.lit(1)) * F.sum(mc).cast("double"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


@query(
    "q_pareto_revenue",
    oracle="""
    WITH m AS (
      SELECT o_custkey, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT monetary,
             row_number() OVER (ORDER BY monetary DESC, o_custkey) AS i,
             sum(monetary) OVER (
               ORDER BY monetary DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             count(*) OVER ()      AS n,
             sum(monetary) OVER () AS tot
      FROM m
    )
    SELECT
      CAST(min(x.i) AS BIGINT)                 AS n_top_customers,
      round(min(x.i) * 1.0 / max(y.nn), 4)     AS customer_share,
      round(min(x.cum_at) / max(y.tt), 4)      AS revenue_share
    FROM (SELECT i, cum AS cum_at FROM ranked WHERE cum >= 0.8 * tot) x,
         (SELECT max(n) AS nn, max(tot) AS tt FROM ranked) y
    """,
    tags=("analytics", "finance"),
)
def pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the smallest top-spender prefix covering ≥80%
    of revenue, as a count and as shares of customers/revenue. Descending
    spend rank and running revenue via the range-bucketed primitives
    (functions/ranks.py) — no single-partition window; the 0.8·total
    crossing is far from any ulp boundary (neighboring cumulative sums
    differ by a full customer's spend)."""
    from bigdatainfinance1_spark.functions.ranks import (
        global_row_number,
        global_running_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy("o_custkey").agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("monetary"))
    order_cols = [F.col("monetary").desc(), F.col("o_custkey")]
    ranked = global_row_number(m, order_cols, rn_col="i")
    with_cum = global_running_sum(ranked, order_cols, "monetary", "cum")
    totals = m.agg(
        F.count(F.lit(1)).alias("n"), F.sum("monetary").alias("tot")
    )
    crossed = (
        with_cum.crossJoin(F.broadcast(totals))
        .filter(F.col("cum") >= 0.8 * F.col("tot"))
        .agg(
            F.min("i").cast("long").alias("n_top_customers"),
            F.round(F.min("i") * 1.0 / F.first("n"), 4).alias("customer_share"),
            F.round(F.min_by("cum", "i") / F.first("tot"), 4).alias("revenue_share"),
        )
    )
    return crossed


@query(
    "q_interpurchase_gaps",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
        date_diff('day',
          lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          o_orderdate) AS gap_days
      FROM orders
    )
    SELECT
      count(*)                                   AS n_gaps,
      round(avg(gap_days), 4)                    AS avg_gap,
      round(quantile_cont(gap_days, 0.5), 4)     AS median_gap,
      round(quantile_cont(gap_days, 0.95), 4)    AS p95_gap,
      CAST(max(gap_days) AS BIGINT)              AS max_gap
    FROM gaps WHERE gap_days IS NOT NULL
    """,
    tags=("analytics", "finance"),
)
def interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention feature: the corpus-wide inter-purchase time distribution —
    per-customer order-date lags (integer days, exact on both engines)
    profiled with mean/median/p95/max. One per-key window + one global
    aggregate of integer gaps; quantiles interpolate identically on both
    engines over integers."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_days"), 4).alias("avg_gap"),
        F.round(F.expr("percentile(gap_days, 0.5)"), 4).alias("median_gap"),
        F.round(F.expr("percentile(gap_days, 0.95)"), 4).alias("p95_gap"),
        F.max("gap_days").cast("long").alias("max_gap"),
    )


@query(
    "q_var_cvar",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    ret AS (
      SELECT round(rev / lag(rev) OVER (ORDER BY day) - 1, 6) AS r FROM daily
    ),
    r2 AS (SELECT r FROM ret WHERE r IS NOT NULL),
    q AS (
      SELECT quantile_cont(r, 0.05) AS v05, quantile_cont(r, 0.01) AS v01,
             count(*) AS n_days
      FROM r2
    )
    SELECT
      q.n_days,
      round(q.v05, 6) AS var05,
      round(q.v01, 6) AS var01,
      round(CAST(sum(CASE WHEN r2.r <= q.v05
                          THEN CAST(round(r2.r * 1e6) AS BIGINT) END) AS DOUBLE)
            / count(CASE WHEN r2.r <= q.v05 THEN 1 END) / 1e6, 6) AS cvar05
    FROM r2 CROSS JOIN q
    GROUP BY q.n_days, q.v05, q.v01
    """,
    tags=("analytics", "finance", "stats"),
)
def var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical value-at-risk and expected shortfall on daily-revenue
    returns: VaR(5%)/VaR(1%) as interpolated quantiles of the return
    distribution, CVaR(5%) as the mean of the tail at-or-below VaR(5%).
    Returns are day-over-day ratios of the per-day rounded revenue and are
    themselves rounded to 6 before the quantile, so both engines
    interpolate the exact same grid. The day-over-day lag is partitioned
    by year with a broadcast carry row (repo rule: no unpartitioned
    ordered window); the tail mean is a conditional aggregate against the
    broadcast 1-row quantile relation — two scans of a tiny daily
    relation, no driver collect."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("rev"))
        .withColumn("_yr", F.year("day"))
    )
    w = Window.partitionBy("_yr").orderBy("day")
    carry = (
        daily.groupBy("_yr")
        .agg(F.max_by("rev", "day").alias("_carry_rev"))
        .select((F.col("_yr") + 1).alias("_yr"), "_carry_rev")
    )
    prev = F.coalesce(F.lag("rev").over(w), F.col("_carry_rev"))
    rets = (
        daily.join(F.broadcast(carry), "_yr", "left")
        .select(F.round(F.col("rev") / prev - 1, 6).alias("r"))
        .filter(F.col("r").isNotNull())
    )
    q = rets.agg(
        F.expr("percentile(r, 0.05)").alias("v05"),
        F.expr("percentile(r, 0.01)").alias("v01"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return (
        rets.crossJoin(F.broadcast(q))
        .groupBy("n_days", "v05", "v01")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("r") <= F.col("v05"),
                        F.round(F.col("r") * 1e6).cast("long"),
                    )
                ).cast("double")
                / F.count(F.when(F.col("r") <= F.col("v05"), F.lit(1)))
                / 1e6,
                6,
            ).alias("cvar05")
        )
        .select(
            "n_days",
            F.round("v05", 6).alias("var05"),
            F.round("v01", 6).alias("var01"),
            "cvar05",
        )
    )


_SHARE_SQL = """
    WITH nat AS (
      SELECT r.r_name, n.n_name, round(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT
      r_name, n_name, rev,
      round(rev / sum(rev) OVER (PARTITION BY r_name), 6) AS share_of_region,
      round(rev / sum(rev) OVER (), 6)                    AS share_of_total
    FROM nat
"""


sql_query(
    "q_share_of_total", _SHARE_SQL, tags=("analytics", "finance"),
    doc="""Contribution analysis: each nation's revenue share of its region and
    of the world — the windowed percent-of-total every BI layer computes.
    The windows run over the 25-row aggregate, not the fact table (the
    aggregate-then-window order matters at scale: windowing facts first
    would shuffle everything twice); shares divide identical per-day-
    rounded sums, so round-6 is ulp-safe. One SQL text runs verbatim on
    Spark and DuckDB; the global-share window runs over the bounded
    25-row aggregate (the repo's no-unpartitioned-window rule targets
    fact-sized DataFrame Window specs — SQL windows over catalog-bounded
    aggregates are the sanctioned exception, cf. q_ohlc_bars).""",
)


@query(
    "q_hhi_concentration",
    oracle="""
    WITH cust_rev AS (
      SELECT c.c_nationkey,
             o.o_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    tot AS (
      SELECT c_nationkey, CAST(sum(cents) AS BIGINT) AS tot_cents
      FROM cust_rev GROUP BY c_nationkey
    )
    SELECT
      n.n_name                                             AS n_name,
      CAST(count(*) AS BIGINT)                             AS n_custs,
      round(max(r.cents * 1e0 / t.tot_cents), 6)           AS top_share,
      round(CAST(sum(CAST(round((r.cents * 1e0 / t.tot_cents)
              * (r.cents * 1e0 / t.tot_cents) * 1e12) AS HUGEINT)) AS DOUBLE)
            / 1e12, 6)                                     AS hhi
    FROM cust_rev r
    JOIN tot t ON r.c_nationkey = t.c_nationkey
    JOIN nation n ON r.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("analytics", "finance"),
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue-concentration index per nation: the
    sum of squared customer revenue shares (1/n = perfectly fragmented,
    1.0 = monopoly) plus the single largest share — the antitrust/market-
    structure screen. Shares are ratios of exact integer cents, so both
    engines square identical doubles; the sum over a nation's customers is
    order-sensitive at the ulp level and rounded to 6 dp per convention.
    Scale: two keyed aggregations (customer-grain then nation-grain); the
    nation-total relation is |nations|-sized and broadcast back; the
    25-row nation dim is broadcast for the name join."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"))
    )
    tot = cust_rev.groupBy("c_nationkey").agg(F.sum("cents").cast("long").alias("tot_cents"))
    share = F.col("cents") * F.lit(1.0) / F.col("tot_cents")
    return (
        cust_rev.join(F.broadcast(tot), "c_nationkey")
        .join(F.broadcast(nation), cust_rev.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_custs"),
            F.round(F.max(share), 6).alias("top_share"),
            F.round(
                F.sum(F.round(share * share * 1e12).cast("decimal(38,0)")).cast(
                    "double"
                )
                / 1e12,
                6,
            ).alias("hhi"),
        )
    )


sql_query(
    "q_revenue_bridge",
    """
    WITH cm AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS m,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey, m
    ),
    bridge AS (
      SELECT
        coalesce(cur.m, prev.m + 1) AS m,
        CASE WHEN prev.o_custkey IS NULL THEN cur.cents ELSE 0 END AS new_c,
        CASE WHEN cur.o_custkey IS NULL THEN -prev.cents ELSE 0 END AS churn_c,
        CASE WHEN cur.o_custkey IS NOT NULL AND prev.o_custkey IS NOT NULL
              AND cur.cents > prev.cents THEN cur.cents - prev.cents ELSE 0 END AS expand_c,
        CASE WHEN cur.o_custkey IS NOT NULL AND prev.o_custkey IS NOT NULL
              AND cur.cents < prev.cents THEN cur.cents - prev.cents ELSE 0 END AS contract_c
      FROM cm cur
      FULL JOIN cm prev
        ON cur.o_custkey = prev.o_custkey AND cur.m = prev.m + 1
    )
    SELECT
      m,
      round(sum(new_c) / 100e0, 2)      AS new_rev,
      round(sum(expand_c) / 100e0, 2)   AS expansion,
      round(sum(contract_c) / 100e0, 2) AS contraction,
      round(sum(churn_c) / 100e0, 2)    AS churned,
      round(sum(new_c + expand_c + contract_c + churn_c) / 100e0, 2) AS net_change
    FROM bridge
    GROUP BY m
    """,
    tags=("analytics", "finance"),
    doc="""Month-over-month revenue bridge (SaaS-style waterfall): each
    month's revenue change decomposed into new, expansion, contraction,
    and churned customer revenue — the FP&A decomposition behind every
    'why did revenue move' review. A customer-month revenue relation is
    full-outer-joined with itself shifted one month (cur.m = prev.m + 1);
    customers present only on the cur side are new, only on the prev side
    churned (attributed to the month AFTER their last activity — including
    one trailing month past the data's end, where everyone churns by
    construction). All classification and summation is exact integer
    cents; the single divide-by-100 happens at the end, so round(x, 2) is
    exact on both engines. Scale: one shuffle to customer-month grain,
    then a self-join keyed (custkey, month) — both sides share the
    partitioning, AQE reuses it; no windows, no driver state.""",
)


sql_query(
    "q_stress_scenarios",
    """
    WITH scenarios(scenario, shock) AS (
      VALUES ('base', 0e0), ('mild_down', -0.05e0), ('severe_down', -0.2e0),
             ('boom', 0.1e0), ('crisis', -0.35e0)
    ),
    regional AS (
      SELECT r.r_name,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
    )
    SELECT
      s.scenario,
      g.r_name,
      round(g.cents / 100e0, 2)                       AS base_revenue,
      round(g.cents / 100e0 * (1e0 + s.shock), 2)     AS shocked_revenue,
      round(g.cents / 100e0 * s.shock, 2)             AS delta
    FROM regional g CROSS JOIN scenarios s
    """,
    tags=("analytics", "finance"),
    doc="""Scenario-grid stress test: regional revenue re-priced under a
    5-scenario shock table (the regulatory stress-testing shape — a small
    scenario dim cross-joined against portfolio aggregates, here revenue
    as the exposure proxy). Base aggregates are exact integer cents; each
    shocked value is one multiply of identical doubles, rounded 2 dp
    (shock factors are exact binary-representable-enough literals written
    identically on both engines; margins to the cent boundary are ≥1e-10).
    Scale: the aggregate is region-grain (tiny) before the cross join —
    the scenario fan-out multiplies a 5-row dim against a 5-row relation,
    never against facts.""",
)


@query(
    "q_price_index",
    oracle="""
    WITH py AS (
      SELECT l_partkey,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey, yr
    ),
    base AS (
      SELECT l_partkey, qty AS qty_b, cents * 1e0 / qty AS price_b
      FROM py WHERE yr = 1995
    ),
    cur AS (
      SELECT l_partkey, yr, qty AS qty_y, cents * 1e0 / qty AS price_y
      FROM py WHERE yr > 1995
    )
    SELECT
      c.yr,
      CAST(count(*) AS BIGINT) AS n_parts,
      round((CAST(sum(CAST(round(c.price_y * b.qty_b * 1e4) AS HUGEINT)) AS DOUBLE))
            / (CAST(sum(CAST(round(b.price_b * b.qty_b * 1e4) AS HUGEINT))
                    AS DOUBLE)), 6) AS laspeyres,
      round((CAST(sum(CAST(round(c.price_y * c.qty_y * 1e4) AS HUGEINT)) AS DOUBLE))
            / (CAST(sum(CAST(round(b.price_b * c.qty_y * 1e4) AS HUGEINT))
                    AS DOUBLE)), 6) AS paasche,
      round(sqrt(((CAST(sum(CAST(round(c.price_y * b.qty_b * 1e4) AS HUGEINT))
                        AS DOUBLE))
                  / (CAST(sum(CAST(round(b.price_b * b.qty_b * 1e4) AS HUGEINT))
                          AS DOUBLE)))
               * ((CAST(sum(CAST(round(c.price_y * c.qty_y * 1e4) AS HUGEINT))
                        AS DOUBLE))
                  / (CAST(sum(CAST(round(b.price_b * c.qty_y * 1e4) AS HUGEINT))
                          AS DOUBLE)))), 6) AS fisher
    FROM cur c JOIN base b ON c.l_partkey = b.l_partkey
    GROUP BY c.yr
    """,
    tags=("analytics", "finance"),
)
def price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher price indices per year against the
    1995 base basket — the economics/FP&A deflator machinery, computed
    over the parts present in both periods. Unit prices are exact-integer
    ratios (cents/quantity — identical doubles on both engines); the
    basket sums multiply those by exact integer quantities, so per-year
    sums differ only in summation order under the 6-dp round; Fisher is
    the geometric mean of two identical ratios. Scale: one (part, year)
    aggregation, then a year-keyed join against the |parts|-sized base
    relation — broadcastable; nothing beyond the first groupBy touches
    the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        "l_partkey", F.year("l_shipdate").cast("long").alias("yr")
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents"),
    )
    price = F.col("cents") * F.lit(1.0) / F.col("qty")
    base = py.filter(F.col("yr") == 1995).select(
        "l_partkey", F.col("qty").alias("qty_b"), price.alias("price_b")
    )
    cur = py.filter(F.col("yr") > 1995).select(
        "l_partkey", "yr", F.col("qty").alias("qty_y"), price.alias("price_y")
    )
    # integer-moments rule: basket terms (exact-ratio price x integer qty)
    # snap at a 1e-4 grain so the per-year sums are order-exact
    def _b4(a, b):
        return F.sum(
            F.round(F.col(a) * F.col(b) * 1e4).cast("decimal(38,0)")
        ).cast("double")

    lasp = _b4("price_y", "qty_b") / _b4("price_b", "qty_b")
    paas = _b4("price_y", "qty_y") / _b4("price_b", "qty_y")
    return (
        cur.join(F.broadcast(base), "l_partkey")
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(lasp, 6).alias("laspeyres"),
            F.round(paas, 6).alias("paasche"),
            F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        )
    )


sql_query(
    "q_margin_waterfall",
    """
    SELECT
      l_returnflag,
      round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100e0, 2)
        AS gross,
      round(-sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100e0, 2)
        AS discount_amt,
      round(sum(CAST(round(l_extendedprice * (1 - l_discount) * l_tax * 100) AS BIGINT)) / 100e0, 2)
        AS tax_amt,
      round((sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             - sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
             + sum(CAST(round(l_extendedprice * (1 - l_discount) * l_tax * 100) AS BIGINT)))
            / 100e0, 2) AS net_charge
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("analytics", "finance"),
    doc="""Revenue waterfall per return flag: gross price → discount given →
    tax collected → net charge (the TPC-H charge algebra laid out as the
    FP&A bridge q_pricing_summary aggregates in one column). Each
    component is per-line rounded to cents BEFORE summation with the
    identical expression on both engines (the per-line products are
    2-decimal×2-decimal — exact at the half-cent grain after round — so
    both engines produce the same BIGINT per line; sums are then exact).
    One scan, one 3-group aggregation.""",
)


sql_query(
    "q_decimal_money",
    """
    SELECT
      CAST(year(o_orderdate) AS BIGINT) AS y,
      CAST(count(*) AS BIGINT)          AS n_orders,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total_exact
    FROM orders
    GROUP BY y
    """,
    tags=("aggregate", "finance", "determinism"),
    doc="""Decimal-native money arithmetic — the OTHER canonical exact-money
    pattern beside this repo's integer-cents convention: cast prices to
    DECIMAL(18,2) at the scan (the doubles are 2-dp-quantized, so the
    nearest decimal is unambiguous on both engines), sum in exact decimal,
    and emit the total as its exact STRING — no round() anywhere, the
    comparison is digit-for-digit. This is what a real ledger schema
    declares at ingest so no operator downstream ever touches a float.
    Scale: a plain year aggregate; decimal sums carry through partial
    aggregation (map-side combine) unchanged.""",
)


sql_query(
    "q_pvm_bridge",
    """
    WITH y AS (
      SELECT p.p_brand AS brand,
             CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p   ON l.l_partkey = p.p_partkey
      WHERE year(o.o_orderdate) IN (1997, 1998)
      GROUP BY brand, yr
    ),
    wide AS (
      SELECT a.brand,
             a.qty AS q0, a.cents AS r0,
             b.qty AS q1, b.cents AS r1
      FROM (SELECT * FROM y WHERE yr = 1997) a
      JOIN (SELECT * FROM y WHERE yr = 1998) b ON a.brand = b.brand
    )
    SELECT
      brand,
      round((r1 - r0) / 100e0, 2)                                        AS delta_rev,
      round((r1 * 1e0 / q1 - r0 * 1e0 / q0) * q0 / 100, 4)               AS price_effect,
      round((r0 * 1e0 / q0) * (q1 - q0) / 100, 4)                        AS volume_effect,
      round((r1 * 1e0 / q1 - r0 * 1e0 / q0) * (q1 - q0) / 100, 4)        AS cross_effect
    FROM wide
    """,
    tags=("analytics", "finance", "decomposition"),
    doc="""Price-volume-mix bridge per brand, 1997→1998 — the FP&A
    decomposition ΔRev = Δp·q₀ + p₀·Δq + Δp·Δq (price, volume, cross
    effects; the identity is exact, property of the algebra, and
    q_revenue_bridge is the customer-cohort sibling). Average unit prices
    come from exact integer (cents, qty) sums with one division each; the
    effect products are doubles with identical expression shape on both
    engines, rounded to 4 dp. Scale: one (brand, year) aggregate — the
    fact table is scanned once with the year predicate pushed down, part's
    brand broadcast; the bridge itself is a 25-brand-row self-join.""",
)


# FIFO allocation as interval algebra: per part, order both sides by ship
# date and give every line its cumulative-quantity interval [cum−qty, cum);
# a return is matched FIFO against exactly the sale lines whose intervals
# overlap its own, and the matched quantity IS the interval intersection —
# no loop, no state machine, pure prefix sums + a per-part pair join.
_FIFO_SQL = """
    WITH sales AS (
      SELECT l_partkey AS part,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_end
      FROM lineitem WHERE l_returnflag <> 'R'
    ),
    returns AS (
      SELECT l_partkey AS part,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_end
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    pairs AS (
      SELECT s.part,
             least(s.cum_end, r.cum_end)
               - greatest(s.cum_end - s.qty, r.cum_end - r.qty) AS matched
      FROM sales s JOIN returns r
        ON s.part = r.part
       AND least(s.cum_end, r.cum_end)
           > greatest(s.cum_end - s.qty, r.cum_end - r.qty)
    ),
    totals AS (
      SELECT
        CAST(sum(qty) AS BIGINT) AS total_returned,
        CAST(count(*) AS BIGINT) AS n_return_lines
      FROM returns
    )
    SELECT
      CAST(count(*) AS BIGINT)            AS n_allocations,
      CAST(count(DISTINCT p.part) AS BIGINT) AS n_parts,
      CAST(sum(p.matched) AS BIGINT)      AS matched_qty,
      t.total_returned,
      CAST(t.total_returned - sum(p.matched) AS BIGINT) AS unmatched_qty
    FROM pairs p CROSS JOIN totals t
    GROUP BY t.total_returned, t.n_return_lines
"""


sql_query(
    "q_fifo_allocation", _FIFO_SQL, tags=("analytics", "finance", "matching"),
    doc="""FIFO lot matching — the cost-basis allocation every inventory /
    tax-lot system runs — expressed as pure interval algebra: each side's
    lines get cumulative-quantity intervals via a per-part prefix sum, and
    a return consumes sale lots FIFO exactly where the intervals
    intersect, with matched qty = intersection length (min(ends) −
    max(starts)). No iteration, no stateful matcher — two partitioned
    windows and one per-part pair join whose fan-out is bounded by lines
    per part (at 100 TB the part key is the parallelism axis; a hot part
    would grid-bucket like q_interval_overlap_bucketed). Quantities are
    integers end-to-end, and the (shipdate, orderkey, linenumber) order is
    total, so the allocation is engine-identical. Unmatched = returns
    beyond cumulative sales (an oversold signal). One SQL text runs
    verbatim on both engines.""",
)


@query(
    "q_portfolio_cov",
    oracle="""
    WITH daily AS (
      SELECT
        c.c_nationkey AS nk,
        datediff('day', DATE '1970-01-01', o.o_orderdate) AS d,
        CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nk, d
    ),
    pairs AS (
      SELECT a.nk AS nk1, b.nk AS nk2,
             CAST(count(*) AS BIGINT)                      AS n_days,
             CAST(sum(a.cents) AS BIGINT)                  AS sx,
             CAST(sum(b.cents) AS BIGINT)                  AS sy,
             sum(CAST(a.cents AS HUGEINT) * b.cents)       AS sxy
      FROM daily a JOIN daily b ON a.d = b.d AND a.nk <= b.nk
      GROUP BY nk1, nk2
    )
    SELECT
      n1.n_name AS nation1,
      n2.n_name AS nation2,
      p.n_days,
      round((CAST(p.sxy AS DOUBLE) - p.sx * 1e0 * p.sy / p.n_days)
            / p.n_days / 1e4 / 1e6, 4) AS cov_mm_dollars2
    FROM pairs p
    JOIN nation n1 ON p.nk1 = n1.n_nationkey
    JOIN nation n2 ON p.nk2 = n2.n_nationkey
    """,
    tags=("analytics", "finance", "stats"),
)
def portfolio_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of daily revenue across nations —
    the Σ every parametric portfolio-risk number (w'Σw) is built from
    (q_var_cvar is the historical-quantile twin). Daily series in exact
    integer cents; the pair join is keyed on the DAY with nk1 ≤ nk2, so
    the fan-out is bounded by nations²/2 per day no matter the row count
    — the bounded-group trick again. Σxy is summed exactly (decimal /
    HUGEINT — daily-cents products pass int64 from sf0.1 up), and the
    population covariance (Σxy − ΣxΣy/n)/n divides identical doubles on
    both engines, reported in dollars². Days are paired by inner join:
    a pair's covariance uses days where BOTH nations traded (conditional
    covariance — documented semantics). Scale: groupBy (nation, day) is
    one linear shuffle; everything after runs on the bounded daily
    relation; nation names broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    daily = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    orders["o_custkey"] == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"))
    )
    a = daily.select(F.col("nk").alias("nk1"), "d", F.col("cents").alias("ca"))
    b = daily.select(F.col("nk").alias("nk2"), F.col("d").alias("d2"), F.col("cents").alias("cb"))
    pairs = (
        a.join(b, (F.col("d") == F.col("d2")) & (F.col("nk1") <= F.col("nk2")))
        .groupBy("nk1", "nk2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("ca").cast("long").alias("sx"),
            F.sum("cb").cast("long").alias("sy"),
            F.sum(F.col("ca").cast("decimal(19,0)") * F.col("cb").cast("decimal(19,0)")).alias("sxy"),
        )
    )
    n1 = nation.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("nation1"))
    n2 = nation.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("nation2"))
    return (
        pairs.join(F.broadcast(n1), "nk1")
        .join(F.broadcast(n2), "nk2")
        .select(
            "nation1",
            "nation2",
            "n_days",
            F.round(
                (F.col("sxy").cast("double") - F.col("sx") * F.lit(1.0) * F.col("sy") / F.col("n_days"))
                / F.col("n_days")
                / F.lit(1e4)
                / F.lit(1e6),
                4,
            ).alias("cov_mm_dollars2"),
        )
    )


@query(
    "q_lorenz_curve",
    oracle="""
    WITH cust_rev AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM cust_rev
    ),
    per_decile AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM ranked GROUP BY decile
    ),
    tot AS (SELECT sum(cents) AS tc, sum(n_customers) AS tn FROM per_decile)
    SELECT
      CAST(d.decile AS BIGINT) AS decile,
      d.n_customers,
      d.cents                  AS decile_cents,
      round(sum(d.cents) OVER (ORDER BY d.decile) * 1.0 / t.tc, 6)       AS cum_revenue_share,
      round(sum(d.n_customers) OVER (ORDER BY d.decile) * 1.0 / t.tn, 6) AS cum_customer_share
    FROM per_decile d, tot t
    """,
    tags=("finance", "analytics", "stats"),
)
def lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve behind q_gini_revenue's scalar: customers sorted by
    revenue ascending, cut into deciles (total order: cents then custkey),
    each decile's exact-cents revenue and the CUMULATIVE revenue-vs-
    customer shares — the 10-point concentration curve ('the bottom 50% of
    customers hold 9% of revenue') that the Gini coefficient integrates
    away. Exact integer counts and cents; shares divide once at 6 dp.

    Scale shape: one customer-grain aggregation, then the decile cut —
    ntile over the customer relation partitioned... is a total order, so
    it runs through the range-bucketed exact_ntile of functions/ranks.py
    (never a single-partition window); the cumulative windows then act on
    the 10-row decile relation, where a plain ordered window is bounded
    and safe (partitionBy a literal grouping of one tiny relation)."""
    from bigdatainfinance1_spark.functions.ranks import exact_ntile, global_row_number

    orders = load_table(spark, sf_dir, "orders")
    cust_rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    n_rows = cust_rev.count()
    ranked = global_row_number(cust_rev, [F.col("cents"), F.col("o_custkey")], rn_col="_rn")
    with_decile = ranked.withColumn("decile", exact_ntile("_rn", n_rows, 10))
    per_decile = with_decile.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("decile_cents"),
    )
    tot = per_decile.agg(
        F.sum("decile_cents").alias("tc"), F.sum("n_customers").alias("tn")
    )
    w = Window.partitionBy(F.lit(1)).orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .withColumn("cum_revenue_share", F.round(F.sum("decile_cents").over(w) * 1.0 / F.col("tc"), 6))
        .withColumn(
            "cum_customer_share", F.round(F.sum("n_customers").over(w) * 1.0 / F.col("tn"), 6)
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            "decile_cents",
            "cum_revenue_share",
            "cum_customer_share",
        )
    )


# ---------------------------------------------------------------------------
# q_evt_block_maxima — Gumbel fit to quarterly revenue maxima
# ---------------------------------------------------------------------------

EVT_EULER = 0.5772156649015329
EVT_PI = 3.141592653589793
EVT_RETURN_PERIOD = 100  # quarters


@query(
    "q_evt_block_maxima",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000000.0, 6) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    blocks AS (
      SELECT date_trunc('quarter', day) AS qtr, max(rev) AS mx
      FROM daily GROUP BY date_trunc('quarter', day)
    ),
    mo AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(mx * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS s1,
             CAST(sum(CAST(round(mx * 1e6) AS HUGEINT)
                      * CAST(round(mx * 1e6) AS BIGINT)) AS DOUBLE) / 1e12 AS s2
      FROM blocks
    ),
    fit AS (
      SELECT n,
             sqrt((s2 / n - (s1 / n) * (s1 / n)) * n / (n - 1.0))
               * sqrt(6.0) / {EVT_PI} AS beta,
             s1 / n - {EVT_EULER} * (sqrt((s2 / n - (s1 / n) * (s1 / n)) * n / (n - 1.0))
               * sqrt(6.0) / {EVT_PI}) AS mu
      FROM mo
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           round(mu, 6) AS gumbel_mu,
           round(beta, 6) AS gumbel_beta,
           round(mu - beta * ln(-ln(1.0 - 1.0 / {EVT_RETURN_PERIOD})), 6)
             AS return_level_{EVT_RETURN_PERIOD}q,
           round(exp(-exp(-((mu + 2 * beta) - mu) / beta)), 6)
             AS p_below_mu_plus_2beta
    FROM fit
    """,
    tags=("finance", "risk", "evt"),
)
def evt_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value theory by block maxima: quarterly maxima of daily
    revenue (millions) fitted to a Gumbel distribution by the method of
    moments (beta = s sqrt(6)/pi, mu = mean - gamma beta), reporting the
    {T}-quarter return level mu - beta ln(-ln(1 - 1/T)) — "the daily
    revenue spike exceeded once per {T} quarters" — the tail statement
    historical VaR (q_var_cvar) cannot make because it never extrapolates
    beyond observed quantiles. Fisher-Tippett says block maxima converge
    to the GEV family; the Gumbel member is the light-tailed case and the
    standard first fit.

    Scale: the corpus reduces to O(calendar) daily rows, then O(quarters)
    block maxima, then one two-moment aggregate — closed forms
    throughout, rounded at 6 (sample sd uses the n/(n-1) correction
    written identically on both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100e0 / 1000000.0, 6).alias("rev")
    )
    blocks = daily.groupBy(F.date_trunc("quarter", "day").alias("qtr")).agg(
        F.max("rev").alias("mx")
    )
    # integer-moments rule: mx is 6-dp — exact grain sums for the MoM fit
    mx6 = F.round(F.col("mx") * 1e6).cast("long")
    mo = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(mx6).cast("double") / 1e6).alias("s1"),
        (F.sum(mx6.cast("decimal(19,0)") * mx6).cast("double") / 1e12).alias("s2"),
    )
    n = F.col("n").cast("double")
    sd = F.sqrt((F.col("s2") / n - (F.col("s1") / n) * (F.col("s1") / n)) * n / (n - 1.0))
    beta = sd * F.sqrt(F.lit(6.0)) / EVT_PI
    mu = F.col("s1") / n - EVT_EULER * beta
    import math

    rl = mu - beta * math.log(-math.log(1.0 - 1.0 / EVT_RETURN_PERIOD))
    return mo.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(rl, 6).alias(f"return_level_{EVT_RETURN_PERIOD}q"),
        F.round(F.exp(-F.exp(-(mu + 2 * beta - mu) / beta)), 6).alias(
            "p_below_mu_plus_2beta"
        ),
    )


# ---------------------------------------------------------------------------
# q_roll_measure — implied bid-ask spread from serial covariance
# ---------------------------------------------------------------------------


sql_query(
    "q_roll_measure",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                   / 100e0 / 1000.0, 6) AS p
      FROM orders GROUP BY d
    ),
    dp AS (
      SELECT a.d, round(a.p - b.p, 6) AS dp
      FROM daily a JOIN daily b ON b.d = a.d - INTERVAL 1 DAY
    ),
    pairs AS (
      SELECT a.dp AS x, b.dp AS y
      FROM dp a JOIN dp b ON b.d = a.d - INTERVAL 1 DAY
    ),
    mom AS (
      SELECT count(*) AS n,
             sum(x * y) / count(*) - (sum(x) / count(*)) * (sum(y) / count(*))
               AS cov1
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(cov1, 6) AS serial_cov,
           round(CASE WHEN cov1 < 0 THEN 2.0 * sqrt(-cov1) END, 6)
             AS roll_spread,
           cov1 < 0 AS estimable
    FROM mom
    """,
    tags=("finance", "timeseries", "risk"),
    doc="""Roll's implied bid-ask spread: s = 2√(−cov(Δpₜ, Δpₜ₋₁)) — the
    1984 estimator that reads the effective spread off nothing but the
    negative serial covariance bid-ask bounce induces in transaction
    price changes (no quote data needed), on the daily revenue proxy
    series. A POSITIVE serial covariance makes the spread inestimable
    (the model's documented failure mode) and yields NULL identically
    on both engines — `estimable` reports which regime the series is
    in. Completes the microstructure corner with q_amihud_illiquidity
    (price impact) and q_kyle-style depth proxies.

    Scale: one daily aggregate, two consecutive-day equi-joins, one
    moment pass, closed form — day-bounded past the scan. Δp is a
    difference of 6-dp values; rounded at 6.""",
)


# ---------------------------------------------------------------------------
# q_garman_klass — range-based volatility from hourly OHLC bars
# ---------------------------------------------------------------------------


@query(
    "q_garman_klass",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS bar,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key,
             round(value, 4) AS v
      FROM events WHERE value > 0
    ),
    bars AS (
      SELECT bar,
             min_by(v, ord_key) AS o,
             max(v) AS h,
             min(v) AS l,
             max_by(v, ord_key) AS c,
             count(*) AS n_ticks
      FROM e GROUP BY bar HAVING count(*) >= 5
    ),
    est AS (
      SELECT bar, n_ticks,
             0.5 * ln(h / l) * ln(h / l)
               - (2.0 * ln(2.0) - 1.0) * ln(c / o) * ln(c / o) AS gk,
             ln(h / l) * ln(h / l) / (4.0 * ln(2.0)) AS park
      FROM bars
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bars,
           round(sqrt(avg(gk)), 6) AS garman_klass_vol,
           round(sqrt(avg(park)), 6) AS parkinson_vol,
           round(avg(n_ticks), 2) AS avg_ticks_per_bar
    FROM est
    """,
    tags=("finance", "events", "timeseries", "risk"),
)
def garman_klass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based volatility from hourly event-value OHLC bars:
    Garman-Klass σ² = ½(ln H/L)² − (2ln2−1)(ln C/O)² and the Parkinson
    high-low estimator — the estimators that squeeze ~5-8× more
    efficiency out of each bar than close-to-close returns by using the
    intrabar RANGE, reported as per-bar-averaged vols over bars with ≥5
    ticks. Reuses q_stream_ohlc's deterministic (epoch, id) open/close
    keys batch-side.

    Scale: one bar aggregate (map-side min/max/min_by/max_by), per-bar
    closed forms, one mean — fact-scan bounded. Values round at 4
    before bar extremes so both engines agree on O/H/L/C exactly;
    rounded at 6."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    e = ev.select(
        F.date_trunc("hour", "ts").alias("bar"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("ord_key"),
        F.round("value", 4).alias("v"),
    )
    bars = (
        e.groupBy("bar")
        .agg(
            F.min_by("v", F.col("ord_key")).alias("o"),
            F.max("v").alias("h"),
            F.min("v").alias("l"),
            F.max_by("v", F.col("ord_key")).alias("c"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .filter(F.col("n_ticks") >= 5)
    )
    ln2 = 0.6931471805599453
    gk = (
        0.5 * F.log(F.col("h") / F.col("l")) * F.log(F.col("h") / F.col("l"))
        - (2.0 * ln2 - 1.0) * F.log(F.col("c") / F.col("o")) * F.log(F.col("c") / F.col("o"))
    )
    park = (
        F.log(F.col("h") / F.col("l")) * F.log(F.col("h") / F.col("l")) / (4.0 * ln2)
    )
    est = bars.select("n_ticks", gk.alias("gk"), park.alias("park"))
    return est.agg(
        F.count(F.lit(1)).cast("long").alias("n_bars"),
        F.round(F.sqrt(F.avg("gk")), 6).alias("garman_klass_vol"),
        F.round(F.sqrt(F.avg("park")), 6).alias("parkinson_vol"),
        F.round(F.avg("n_ticks"), 2).alias("avg_ticks_per_bar"),
    )


# ---------------------------------------------------------------------------
# q_garch_grid — GARCH(1,1) quasi-likelihood fit by variance-targeted grid
# ---------------------------------------------------------------------------

GARCH_GRID = ((0.05, 0.5), (0.05, 0.7), (0.05, 0.9),
              (0.1, 0.5), (0.1, 0.7), (0.2, 0.5), (0.2, 0.7))
# (alpha, beta) candidates with alpha + beta <= 0.95; omega comes from
# variance targeting, so the grid IS the whole parameter space.

_GARCH_SQL = f"""
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
      SELECT r.mi - x.mn + 1 AS t, r.r6
      FROM rr r CROSS JOIN (SELECT min(mi) AS mn FROM rr) x
    ),
    nn AS (SELECT CAST(max(t) AS BIGINT) AS n FROM idx),
    vbar AS (
      SELECT round(sum(r6 * 1e0 * r6) / count(*) / 1e12, 12) AS v FROM idx
    ),
    grid(a, b) AS (VALUES {", ".join(f"({a}, {b})" for a, b in GARCH_GRID)}),
    rec(a, b, t, sig2, ll) AS (
      SELECT g.a, g.b, CAST(1 AS BIGINT), vbar.v, 0e0
      FROM grid g CROSS JOIN vbar
      UNION ALL
      SELECT rec.a, rec.b, rec.t + 1,
             round(vb.v * (1 - rec.a - rec.b)
                   + rec.a * (ip.r6 * 1e0 * ip.r6 / 1e12)
                   + rec.b * rec.sig2, 12),
             round(rec.ll
                   - (ln(round(vb.v * (1 - rec.a - rec.b)
                               + rec.a * (ip.r6 * 1e0 * ip.r6 / 1e12)
                               + rec.b * rec.sig2, 12))
                      + (ic.r6 * 1e0 * ic.r6 / 1e12)
                        / round(vb.v * (1 - rec.a - rec.b)
                                + rec.a * (ip.r6 * 1e0 * ip.r6 / 1e12)
                                + rec.b * rec.sig2, 12)), 12)
      FROM rec
      JOIN idx ip ON ip.t = rec.t
      JOIN idx ic ON ic.t = rec.t + 1
      CROSS JOIN vbar vb
      CROSS JOIN nn
      WHERE rec.t < nn.n
    ),
    fin AS (
      SELECT rec.a, rec.b, round(rec.ll, 6) AS loglik
      FROM rec CROSS JOIN nn WHERE rec.t = nn.n
    )
    SELECT f.a AS alpha, f.b AS beta,
           round(vbar.v * (1 - f.a - f.b), 12) AS omega,
           round(f.a + f.b, 2) AS persistence,
           f.loglik,
           f.loglik = (SELECT max(loglik) FROM fin) AS is_best
    FROM fin f CROSS JOIN vbar
    ORDER BY alpha, beta
"""


@query("q_garch_grid", oracle=_GARCH_SQL, tags=("finance", "risk", "recursive"))
def garch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) volatility fit over the monthly return series by
    quasi-log-likelihood grid search with VARIANCE TARGETING (omega =
    vbar(1-alpha-beta), so the long-run variance is pinned to the
    sample and the grid over (alpha, beta) IS the whole parameter
    space): sig2_t = omega + alpha r^2_{{t-1}} + beta sig2_{{t-1}},
    ll = -sum(ln sig2_t + r_t^2/sig2_t). The conditional-
    heteroskedasticity model q_arch_lm tests FOR and q_riskmetrics_vol
    hard-codes (EWMA is the alpha+beta=1, omega=0 boundary); the
    persistence column alpha+beta is the half-life readout a risk desk
    quotes. Full MLE refines the grid winner with a few Newton steps —
    the grid tier keeps every quantity hash-verifiable.

    Determinism: returns are exact 1e-6-grain BIGINTs; vbar rounds at
    12; every recursion step re-rounds sig2 and the ll accumulator at
    12 (the q_riskmetrics_vol recursive-CTE walk, 7 grid points in the
    same recursion); is_best compares ROUNDED logliks. Spark runs the
    identical recursion on the collected O(calendar) series (driver-
    bounded model — the recursive-CTE-in-Spark version re-scans the
    corpus per step). Scale: one monthly aggregate; O(grid x months)
    after."""
    import math

    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias(
                "mi"
            )
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .orderBy("mi")
    )
    rows = monthly.collect()  # O(calendar) months — bounded model state
    cents = [r["cents"] for r in rows]
    r6 = [
        int(rnd((cents[i] / cents[i - 1] - 1.0) * 1000000, 0))
        for i in range(1, len(cents))
    ]
    n = len(r6)
    vbar = rnd(sum(x * 1.0 * x for x in r6) / n / 1e12, 12)
    out = []
    for a, b in GARCH_GRID:
        omega = vbar * (1 - a - b)
        sig2, ll = vbar, 0.0
        for t in range(1, n):
            sig2 = rnd(omega + a * (r6[t - 1] * 1.0 * r6[t - 1] / 1e12) + b * sig2, 12)
            ll = rnd(ll - (math.log(sig2) + (r6[t] * 1.0 * r6[t] / 1e12) / sig2), 12)
        out.append((a, b, rnd(omega, 12), rnd(a + b, 2), rnd(ll, 6)))
    best = max(o[4] for o in out)
    final = [(a, b, w, p, l, l == best) for a, b, w, p, l in out]
    return spark.createDataFrame(
        sorted(final),
        "alpha double, beta double, omega double, persistence double,"
        " loglik double, is_best boolean",
    )


# ---------------------------------------------------------------------------
# q_kyle_lambda — price impact per venue over the custom tick feed
# ---------------------------------------------------------------------------

KL_M31 = 2147483648  # 2^31: tick prices are exact multiples of 10/2^31

_KL_SQL = f"""
    WITH ticks AS (
      SELECT i AS tick_id, i % 8 AS venue,
             CAST(round((100.0 + ((1103515245 * i + 12345) % {KL_M31})
                         / {KL_M31}.0 * 10.0) * {KL_M31}) AS BIGINT) AS p31,
             ((69069 * i + 1) % 97) + 1 AS qty
      FROM range(20000) t(i)
    ),
    seq AS (
      SELECT venue, p31, qty,
             p31 - lag(p31) OVER (PARTITION BY venue ORDER BY tick_id) AS dp
      FROM ticks
    ),
    signed AS (
      SELECT venue, dp,
             CASE WHEN dp > 0 THEN qty WHEN dp < 0 THEN -qty ELSE 0 END AS sv
      FROM seq WHERE dp IS NOT NULL
    ),
    mom AS (
      SELECT venue, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sv) AS BIGINT) AS sx,
             CAST(sum(dp) AS BIGINT) AS sy,
             CAST(sum(sv * sv) AS BIGINT) AS sxx,
             CAST(sum(sv * dp) AS BIGINT) AS sxy,
             sum(CAST(dp AS DOUBLE) * dp) AS syy
      FROM signed GROUP BY venue
    )
    SELECT CAST(venue AS BIGINT) AS venue, n,
           round((n * 1e0 * sxy - sx * 1e0 * sy)
                 / (n * 1e0 * sxx - sx * 1e0 * sx)
                 / {KL_M31} * 1000, 8) AS lambda_per_1k_shares,
           round((n * 1e0 * sxy - sx * 1e0 * sy)
                 / (sqrt(n * 1e0 * sxx - sx * 1e0 * sx)
                    * sqrt(n * syy - sy * 1e0 * sy)), 6) AS flow_price_corr
    FROM mom ORDER BY venue
"""


@query("q_kyle_lambda", oracle=_KL_SQL, tags=("finance", "microstructure", "connector"))
def kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda — price impact per unit of signed order flow — per
    venue over the custom synthetic tick feed (sources/ticks.py, the
    same generator q_python_datasource reads): classify each tick's
    direction by the tick rule (sign of the price change), regress
    price changes on signed volume, and report lambda per 1000 shares
    with the flow-price correlation. On this uncorrelated generator
    lambda ~ 0 — the calibrated NULL a real feed's impact estimate is
    judged against; q_roll_measure infers spread from the SAME price
    series' autocovariance, lambda prices its depth.

    Determinism: prices are exact multiples of 10/2^31, so p31 = round
    (price * 2^31) is an EXACT BIGINT on both engines (DuckDB's range
    arithmetic reproduces the generator bit-for-bit — the
    q_python_datasource oracle trick); every regression moment is an
    exact integer sum; lambda composes them in one double expression
    rounded 8/6. Scale: venue-partitioned lag windows (the generator
    strides ticks across venues), O(venues) after — tick regressions
    shard by instrument exactly like this at any scale."""
    from bigdatainfinance1_spark.sources import ticks as ticks_src

    ticks_src.register(spark)
    t = spark.read.format("synthetic_ticks").load()
    ticks = t.select(
        "tick_id",
        F.col("part_id").cast("long").alias("venue"),
        F.round(F.col("price") * KL_M31).cast("long").alias("p31"),
        F.col("qty").cast("long").alias("qty"),
    )
    w = Window.partitionBy("venue").orderBy("tick_id")
    seq = ticks.withColumn("dp", F.col("p31") - F.lag("p31").over(w)).filter(
        F.col("dp").isNotNull()
    )
    signed = seq.select(
        "venue",
        "dp",
        F.when(F.col("dp") > 0, F.col("qty"))
        .when(F.col("dp") < 0, -F.col("qty"))
        .otherwise(0)
        .alias("sv"),
    )
    mom = signed.groupBy("venue").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("sv").cast("long").alias("sx"),
        F.sum("dp").cast("long").alias("sy"),
        F.sum(F.col("sv") * F.col("sv")).cast("long").alias("sxx"),
        F.sum(F.col("sv") * F.col("dp")).cast("long").alias("sxy"),
        F.sum(F.col("dp").cast("double") * F.col("dp")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = n * F.lit(1.0) * F.col("sxy") - sx * F.lit(1.0) * sy
    varx = n * F.lit(1.0) * F.col("sxx") - sx * F.lit(1.0) * sx
    vary = n * F.col("syy") - sy * F.lit(1.0) * sy
    return mom.select(
        F.col("venue").cast("long").alias("venue"),
        "n",
        F.round(cov / varx / KL_M31 * 1000, 8).alias("lambda_per_1k_shares"),
        F.round(cov / (F.sqrt(varx) * F.sqrt(vary)), 6).alias("flow_price_corr"),
    ).orderBy("venue")
