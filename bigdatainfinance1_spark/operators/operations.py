"""Operations-research operators: per-brand inventory policy (EOQ,
safety stock, reorder point) and Erlang-C contact-center staffing — the
supply/capacity planning layer beside the demand-side analytics
(q_newsvendor's single-period quantile, q_croston_forecast's
intermittent-demand smoothing, q_abc_xyz's classification).

Scale posture: both queries reduce the fact scan to bounded relations
(brands x days; one arrival-rate scalar) with exact integer moments, then
run closed forms or a fixed-length recursive accumulation — O(model), not
O(rows), past the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_eoq_policy — economic order quantity + safety stock per brand
# ---------------------------------------------------------------------------

EOQ_ORDER_COST = 100.0  # fixed cost per replenishment order, dollars
EOQ_HOLD_RATE = 0.2  # annual holding cost as a fraction of unit cost
EOQ_YEARS = 7.0  # demand window span (1995-2001) for annualization
EOQ_LEAD_DAYS = 7.0  # replenishment lead time
EOQ_Z95 = 1.644854  # 95% cycle-service-level z


sql_query(
    "q_eoq_policy",
    f"""
    WITH bd AS (
      SELECT p.p_brand AS brand, date_trunc('day', l.l_shipdate) AS day,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, day
    ),
    b AS (
      SELECT brand,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(q) AS BIGINT) AS d_total,
             CAST(sum(q * q) AS BIGINT) AS d_sq,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM bd GROUP BY brand
    ),
    calc AS (
      SELECT brand, n_days, d_total,
             cents * 1e0 / 100 / d_total AS unit_price,
             d_total * 1e0 / {EOQ_YEARS} AS d_annual,
             d_total * 1e0 / n_days AS mu_daily,
             sqrt((n_days * 1e0 * d_sq - d_total * 1e0 * d_total)
                  / (n_days * 1e0 * (n_days - 1))) AS sigma_daily
      FROM b
    )
    SELECT brand, d_total AS total_demand,
           round(unit_price, 4) AS unit_price,
           round(d_annual, 2) AS annual_demand,
           round(sqrt(2e0 * d_annual * {EOQ_ORDER_COST}
                      / ({EOQ_HOLD_RATE} * unit_price)), 4) AS eoq_units,
           round(mu_daily, 6) AS mean_daily_demand,
           round(sigma_daily, 6) AS sigma_daily_demand,
           round({EOQ_Z95} * sigma_daily * sqrt({EOQ_LEAD_DAYS}), 4) AS safety_stock,
           round(mu_daily * {EOQ_LEAD_DAYS}
                 + {EOQ_Z95} * sigma_daily * sqrt({EOQ_LEAD_DAYS}), 4)
             AS reorder_point
    FROM calc
    ORDER BY brand
    """,
    tags=("operations", "finance"),
    doc="""Per-brand inventory policy from first principles: EOQ =
    sqrt(2DK/h) on annualized demand (K = $100/order, h = 20% of the
    brand's realized unit price), plus the service-level layer — daily
    demand sigma from exact integer moments, safety stock z*sigma*sqrt(LT)
    at 95% service over a 7-day lead time, reorder point = lead-time
    demand + safety stock. The complete "how much to order and when"
    relation a planner reads per brand.

    Determinism: daily quantities and cents are exact BIGINTs; unit
    price, sigma, and every policy number are closed-form doubles of
    those integers (identical expression both engines), rounded at 2-6.
    Scale: one fact-dim broadcast join reduced to O(brands x days) cells
    map-side, then O(brands) closed forms — replication grows cell
    heights, not the relation.""",
)


# ---------------------------------------------------------------------------
# q_erlang_c — contact-center staffing table (recursive factorial walk)
# ---------------------------------------------------------------------------

ERLANG_WINDOW_HOURS = 720.0  # the events table spans 30 days
ERLANG_MU = 12.0  # service rate per agent-hour (5-minute average handle time)
ERLANG_MAX_C = 15  # staffing levels evaluated
ERLANG_T_SEC = 20.0  # service-level threshold (answer within 20 s)

_ERLANG_SQL = f"""
    WITH RECURSIVE lamr AS (
      SELECT count(*) * 1e0 / {ERLANG_WINDOW_HOURS} AS lam
      FROM events WHERE event_type = 'purchase'
    ),
    ld AS (SELECT lam, lam / {ERLANG_MU} AS a FROM lamr),
    erl(c, term, csum) AS (
      SELECT 0, CAST(1e0 AS DOUBLE), CAST(0e0 AS DOUBLE) FROM ld
      UNION ALL
      SELECT e.c + 1, e.term * l.a / (e.c + 1), e.csum + e.term
      FROM erl e CROSS JOIN ld l WHERE e.c < {ERLANG_MAX_C}
    ),
    pw AS (
      SELECT e.c, l.lam, l.a,
             (e.term * e.c / (e.c - l.a))
             / (e.csum + e.term * e.c / (e.c - l.a)) AS p_wait
      FROM erl e CROSS JOIN ld l
      WHERE e.c >= 1 AND e.c > l.a
    )
    SELECT CAST(c AS BIGINT) AS c_agents,
           round(a, 4) AS offered_load,
           round(p_wait, 6) AS p_wait,
           round(p_wait / (c * {ERLANG_MU} - lam) * 3600e0, 4) AS asa_seconds,
           round(1e0 - p_wait * exp(-(c * {ERLANG_MU} - lam)
                                    * ({ERLANG_T_SEC} / 3600e0)), 6)
             AS service_level_20s
    FROM pw
    ORDER BY c_agents
"""


sql_query(
    "q_erlang_c", _ERLANG_SQL, tags=("operations", "recursive"),
    doc="""Erlang-C staffing table for the purchase-event arrival stream:
    with lambda measured from the corpus (arrivals / 720 h) and a 5-min
    average handle time, the probability an arrival must queue,
    the average speed of answer, and the 20-second service level for
    every staffing level c above the offered load — the capacity-planning
    relation behind every "how many agents do we need" decision. The
    a^c/c! ladder is a RECURSIVE accumulation (term_{{c+1}} =
    term_c * a/(c+1), partial sums carried alongside), so there is no
    factorial overflow and no engine-ordered summation.

    ONE recursive-CTE SQL text runs verbatim on both engines (the
    q_recursive_reachability pattern). Determinism: lambda is an exact
    integer count over a fixed constant; every recursion step is the same
    double arithmetic in the same order on both engines, rounded at 4/6.
    Scale: the corpus pass is one count; the recursion is O(c_max) rows
    of O(1) state.""",
)


# ---------------------------------------------------------------------------
# q_ucb_replay — deterministic UCB1 bandit policy replay over daily arms
# ---------------------------------------------------------------------------

UCB_ARMS = ("click", "error", "purchase", "signup", "view")  # sorted, index-pinned


def _ucb_oracle() -> str:
    """The UCB1 walk unrolled as ONE recursive CTE: state = per-arm pull
    counts (exact ints) and reward sums (exact cents); the daily argmax
    is an explicit >=-chain so ties go to the lowest arm index on both
    engines. Day rewards pivot to r0..r4 columns first."""
    k = len(UCB_ARMS)
    piv = ",\n             ".join(
        f"max(CASE WHEN event_type = '{a}' THEN r6 END) AS r{i}"
        for i, a in enumerate(UCB_ARMS)
    )
    ucb = {
        i: (
            f"(s{i} * 1e0 / n{i} / 1000000 + sqrt(2e0 * ln(rec.t + 1) / n{i}))"
        )
        for i in range(k)
    }
    pick = "CASE "
    for i in range(k):
        conds = " AND ".join(f"{ucb[i]} >= {ucb[j]}" for j in range(k) if j != i)
        pick += f"WHEN {conds} THEN {i} "
    pick += "END"
    nxt_n = ", ".join(
        f"rec.n{i} + CASE WHEN pk.pick = {i} THEN 1 ELSE 0 END" for i in range(k)
    )
    nxt_s = ", ".join(
        f"rec.s{i} + CASE WHEN pk.pick = {i} THEN d.r{i} ELSE 0 END" for i in range(k)
    )
    # the pick CASE is evaluated ONCE per step via LATERAL — inlining it into
    # all 10 state columns made the oracle text ~30 kB and DuckDB spent ~1 s
    # per iteration re-planning it (measured 27.7 s; with LATERAL: <1 s)
    init_n = ", ".join("CAST(1 AS BIGINT)" for _ in range(k))
    init_s = ", ".join(
        f"(SELECT r{i} FROM days WHERE t = {i + 1})" for i in range(k)
    )
    arm_rows = " UNION ALL ".join(
        f"""
    SELECT '{UCB_ARMS[i]}' AS arm, CAST({i} AS BIGINT) AS arm_idx,
           f.n{i} AS n_pulls, round(f.s{i} / 1e6, 2) AS total_reward,
           round(f.s{i} * 1e0 / f.n{i} / 1e6, 6) AS avg_reward,
           b.best_arm, round((b.best_total - (f.s0 + f.s1 + f.s2 + f.s3 + f.s4)) / 1e6, 2)
             AS policy_regret
    FROM fin f CROSS JOIN best b"""
        for i in range(k)
    )
    return f"""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d, event_type,
             CAST(round(avg(CAST(round(value * 100) AS BIGINT)) * 10000) AS BIGINT)
               AS r6
      FROM events GROUP BY d, event_type
    ),
    days AS (
      SELECT CAST(count(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS t,
             r0, r1, r2, r3, r4
      FROM (SELECT d, {piv} FROM daily GROUP BY d)
    ),
    nn AS (SELECT CAST(max(t) AS BIGINT) AS n FROM days),
    rec(t, n, n0, n1, n2, n3, n4, s0, s1, s2, s3, s4) AS (
      -- init: days 1..{k} pull arms 0..{k - 1} round-robin
      SELECT CAST({k} AS BIGINT), nn.n, {init_n}, {init_s}
      FROM nn
      UNION ALL
      SELECT rec.t + 1, rec.n, {nxt_n}
           , {nxt_s}
      FROM rec JOIN days d ON d.t = rec.t + 1
      CROSS JOIN LATERAL (SELECT ({pick}) AS pick) pk
      WHERE rec.t < rec.n
    ),
    fin AS (SELECT * FROM rec WHERE t = n),
    totals AS (
      SELECT CAST(sum(r0) AS BIGINT) AS t0, CAST(sum(r1) AS BIGINT) AS t1,
             CAST(sum(r2) AS BIGINT) AS t2, CAST(sum(r3) AS BIGINT) AS t3,
             CAST(sum(r4) AS BIGINT) AS t4
      FROM days
    ),
    best AS (
      SELECT CASE greatest(t0, t1, t2, t3, t4)
               WHEN t0 THEN '{UCB_ARMS[0]}' WHEN t1 THEN '{UCB_ARMS[1]}'
               WHEN t2 THEN '{UCB_ARMS[2]}' WHEN t3 THEN '{UCB_ARMS[3]}'
               ELSE '{UCB_ARMS[4]}' END AS best_arm,
             greatest(t0, t1, t2, t3, t4) AS best_total
      FROM totals
    )
    {arm_rows}
    ORDER BY arm_idx
    """


@query("q_ucb_replay", oracle=_ucb_oracle(), tags=("operations", "ml", "recursive"))
def ucb_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic UCB1 bandit replay over the events calendar: each
    day is one decision step, the five event types are arms whose reward
    is that day's average event value, and the policy — after one
    round-robin pull per arm — picks argmax of mean + sqrt(2 ln t / n)
    with ties to the lowest arm index. The output is the per-arm pull
    census, the realized policy value, and the regret against the best
    fixed arm in hindsight — the offline counterfactual-replay evaluation
    every bandit deployment runs before going live (here with full-
    feedback logs, so the replay is exact, not importance-weighted).

    Spark side follows the q_kalman_level driver-bounded-model pattern
    (the O(days x arms) reward grid collects; the 30-step walk runs on
    the driver with exact integer counts/sums and libm doubles identical
    to the oracle's recursive-CTE walk). Determinism: rewards are exact
    1e-6-grain integers; UCB comparisons evaluate identical doubles with
    an explicit >=-chain tie policy. Scale: one map-side daily aggregate;
    the walk is O(calendar) steps of O(arms) state."""
    import math

    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
        .agg(
            F.round(F.avg(F.round(F.col("value") * 100).cast("long")) * 10000)
            .cast("long")
            .alias("r6")
        )
        .orderBy("d", "event_type")
        .collect()  # O(days x arms) — bounded model state, never O(rows)
    )
    grid: dict = {}
    for r in daily:
        grid.setdefault(r["d"], {})[r["event_type"]] = r["r6"]
    days = [grid[d] for d in sorted(grid)]
    k = len(UCB_ARMS)
    n_days = len(days)
    n = [1] * k
    s = [days[i][UCB_ARMS[i]] for i in range(k)]
    for t in range(k, n_days):
        # state after day t (1-based t = index t here); pick for day t+1
        ucb = [s[i] * 1.0 / n[i] / 1000000 + math.sqrt(2.0 * math.log(t + 1) / n[i]) for i in range(k)]
        pick = 0
        for i in range(k):
            if all(ucb[i] >= ucb[j] for j in range(k) if j != i):
                pick = i
                break
        n[pick] += 1
        s[pick] += days[t][UCB_ARMS[pick]]
    totals = [sum(d[a] for d in days) for a in UCB_ARMS]
    best_total = max(totals)
    best_arm = UCB_ARMS[totals.index(best_total)]
    policy_total = sum(s)
    rows = [
        (
            UCB_ARMS[i],
            i,
            n[i],
            rnd(s[i] / 1e6, 2),
            rnd(s[i] * 1.0 / n[i] / 1e6, 6),
            best_arm,
            rnd((best_total - policy_total) / 1e6, 2),
        )
        for i in range(k)
    ]
    return spark.createDataFrame(
        rows,
        "arm string, arm_idx bigint, n_pulls bigint, total_reward double, "
        "avg_reward double, best_arm string, policy_regret double",
    )


# ---------------------------------------------------------------------------
# q_cr4_concentration — four-firm concentration + HHI banding by brand market
# ---------------------------------------------------------------------------

HHI_MODERATE = 1500.0  # DOJ/FTC horizontal-merger guideline cutpoints on the
HHI_HIGH = 2500.0      # 0-10000 scale

_HHI_SQL = f"""
    WITH rev AS (
      SELECT p.p_brand AS market, l.l_suppkey AS supp,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS r
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_suppkey
    ),
    ranked AS (
      SELECT market, supp, r,
             row_number() OVER (PARTITION BY market ORDER BY r DESC, supp) AS rk
      FROM rev
    ),
    mkt AS (
      SELECT market,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(r) AS BIGINT) AS total,
             CAST(sum(r * r) AS DOUBLE) AS sum_sq,
             CAST(sum(CASE WHEN rk <= 4 THEN r ELSE 0 END) AS BIGINT) AS top4
      FROM ranked GROUP BY market
    ),
    scored AS (
      SELECT market, n_suppliers,
             round(1e4 * sum_sq / (CAST(total AS DOUBLE) * total), 4) AS hhi,
             round(top4 * 1e0 / total, 6) AS cr4
      FROM mkt
    )
    SELECT market, n_suppliers, hhi, cr4,
           CASE WHEN hhi < {HHI_MODERATE} THEN 'unconcentrated'
                WHEN hhi < {HHI_HIGH} THEN 'moderate'
                ELSE 'high' END AS concentration
    FROM scored ORDER BY market
"""


@query("q_cr4_concentration", oracle=_HHI_SQL, tags=("analytics", "finance"))
def cr4_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-firm concentration ratio CR4 per brand market, with the
    10000-scale HHI banded at the DOJ/FTC 1500/2500 cutpoints — the
    supplier-market companion to q_hhi_concentration (which screens
    CUSTOMER revenue concentration per nation, share-squared in
    floats). Here the HHI
    composes from EXACT integers: sum(r^2) over per-supplier revenue
    cents (DuckDB widens BIGINT sums to HUGEINT; Spark sums
    decimal(38,0)) divided by total^2, so no float accumulates across
    suppliers — share^2 summed as doubles would reorder. cr4 is a ratio
    of exact BIGINTs; the class CASE reads the ROUNDED hhi.

    Scale: one fact scan pre-aggregated to (brand, supplier) — 2500
    rows regardless of corpus size; the rank window partitions by
    market (never global); everything after mkt is O(markets)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .select(
            F.col("p_brand").alias("market"),
            F.col("l_suppkey").alias("supp"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("market", "supp")
        .agg(F.sum("cents").cast("long").alias("r"))
    )
    w = Window.partitionBy("market").orderBy(F.col("r").desc(), "supp")
    ranked = rev.withColumn("rk", F.row_number().over(w))
    mkt = ranked.groupBy("market").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("r").cast("long").alias("total"),
        F.sum((F.col("r").cast("decimal(19,0)") * F.col("r")))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sum_sq"),
        F.sum(F.when(F.col("rk") <= 4, F.col("r")).otherwise(0))
        .cast("long")
        .alias("top4"),
    )
    hhi = F.round(
        1e4 * F.col("sum_sq") / (F.col("total").cast("double") * F.col("total")), 4
    ).alias("hhi")
    scored = mkt.select(
        "market",
        "n_suppliers",
        hhi,
        F.round(F.col("top4") * F.lit(1.0) / F.col("total"), 6).alias("cr4"),
    )
    return scored.select(
        "market",
        "n_suppliers",
        "hhi",
        "cr4",
        F.when(F.col("hhi") < HHI_MODERATE, "unconcentrated")
        .when(F.col("hhi") < HHI_HIGH, "moderate")
        .otherwise("high")
        .alias("concentration"),
    ).orderBy("market")


# ---------------------------------------------------------------------------
# q_ndr_grr — net / gross revenue retention by customer base year
# ---------------------------------------------------------------------------

_NDR_SQL = """
    WITH rev AS (
      SELECT o_custkey AS ck, CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
      FROM orders GROUP BY o_custkey, year(o_orderdate)
    ),
    paired AS (
      SELECT a.y, a.ck, a.r AS r0, coalesce(b.r, 0) AS r1
      FROM rev a LEFT JOIN rev b ON a.ck = b.ck AND b.y = a.y + 1
    ),
    yr AS (
      SELECT y,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(CASE WHEN r1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
             CAST(sum(r0) AS BIGINT) AS base,
             CAST(sum(CASE WHEN r1 < r0 THEN r1 ELSE r0 END) AS BIGINT) AS kept,
             CAST(sum(r1) AS BIGINT) AS next
      FROM paired GROUP BY y
    )
    SELECT y AS base_year, n_customers,
           round(base / 100.0, 2) AS base_revenue,
           round(kept * 1e0 / base, 6) AS grr,
           round(next * 1e0 / base, 6) AS ndr,
           round(n_churned * 1e0 / n_customers, 6) AS churn_rate
    FROM yr
    WHERE y < (SELECT max(y) FROM rev)
    ORDER BY y
"""


@query("q_ndr_grr", oracle=_NDR_SQL, tags=("analytics", "finance"))
def ndr_grr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net and gross revenue retention per base year — the SaaS board
    metrics over the order book: take every customer with revenue in
    year y, then GRR = sum(min(r_y, r_{y+1}))/sum(r_y) (contraction and
    churn only — expansion capped at last year's level) and NDR =
    sum(r_{y+1})/sum(r_y) (expansion counted), plus the logo churn
    rate. The REVENUE companion to q_cohort_retention (activity counts)
    and q_growth_accounting (user flows): NDR > 1 with positive churn
    is the 'expansion outruns churn' regime every retention review
    hunts for. The last year is excluded (its y+1 is unobserved, which
    would read as 100% churn).

    Determinism: pure exact-integer-cents arithmetic end to end — the
    min() capping, the churn counts, and the three final ratios all
    compose BIGINTs; only the last division produces doubles, rounded
    at 6/2. Scale: one customer-year aggregate (map-side combinable),
    one self equi-join on (custkey, year+1) — both sides pre-reduced to
    customer-grain, so the join is dimension-sized; O(years) after."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(
        F.col("o_custkey").alias("ck"),
        F.year("o_orderdate").cast("long").alias("y"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("r")
    )
    b = rev.select(F.col("ck"), (F.col("y") - 1).alias("y"), F.col("r").alias("r1"))
    paired = (
        rev.join(b, ["ck", "y"], "left")
        .select("y", "ck", F.col("r").alias("r0"), F.coalesce("r1", F.lit(0)).alias("r1"))
    )
    max_y = rev.agg(F.max("y").alias("my"))
    yr = paired.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.when(F.col("r1") == 0, 1).otherwise(0)).cast("long").alias("n_churned"),
        F.sum("r0").cast("long").alias("base"),
        F.sum(F.least("r0", "r1")).cast("long").alias("kept"),
        F.sum("r1").cast("long").alias("next"),
    )
    return (
        yr.crossJoin(F.broadcast(max_y))
        .filter(F.col("y") < F.col("my"))
        .select(
            F.col("y").alias("base_year"),
            "n_customers",
            F.round(F.col("base") / 100.0, 2).alias("base_revenue"),
            F.round(F.col("kept") * F.lit(1.0) / F.col("base"), 6).alias("grr"),
            F.round(F.col("next") * F.lit(1.0) / F.col("base"), 6).alias("ndr"),
            F.round(F.col("n_churned") * F.lit(1.0) / F.col("n_customers"), 6).alias(
                "churn_rate"
            ),
        )
        .orderBy("y")
    )


# ---------------------------------------------------------------------------
# q_optimal_assignment — exact assignment of supplier cohorts to regions
# ---------------------------------------------------------------------------

OA_GROUPS = 5  # supplier cohorts (s_suppkey % 5) assigned to the 5 regions

_OA_SQL = f"""
    WITH cost AS (
      SELECT l.l_suppkey % {OA_GROUPS} AS g, r.r_name AS rg,
             round(sum(datediff('day', o.o_orderdate, l.l_shipdate))
                   * 1e0 / count(*), 6) AS c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY g, rg
    ),
    regions AS (
      SELECT rg, row_number() OVER (ORDER BY rg) AS i FROM (
        SELECT DISTINCT rg FROM cost
      )
    ),
    c AS (SELECT regions.i, cost.g, cost.c FROM cost JOIN regions USING (rg)),
    perms AS (
      SELECT c1.g AS g1, c2.g AS g2, c3.g AS g3, c4.g AS g4, c5.g AS g5,
             round(c1.c + c2.c + c3.c + c4.c + c5.c, 6) AS total
      FROM c c1
      JOIN c c2 ON c2.i = 2 AND c2.g <> c1.g
      JOIN c c3 ON c3.i = 3 AND c3.g NOT IN (c1.g, c2.g)
      JOIN c c4 ON c4.i = 4 AND c4.g NOT IN (c1.g, c2.g, c3.g)
      JOIN c c5 ON c5.i = 5 AND c5.g NOT IN (c1.g, c2.g, c3.g, c4.g)
      WHERE c1.i = 1
    ),
    best AS (
      SELECT g1, g2, g3, g4, g5, total FROM perms
      ORDER BY total, g1, g2, g3, g4, g5 LIMIT 1
    )
    SELECT r.rg AS region,
           CAST(CASE r.i WHEN 1 THEN b.g1 WHEN 2 THEN b.g2 WHEN 3 THEN b.g3
                WHEN 4 THEN b.g4 ELSE b.g5 END AS BIGINT) AS supplier_group,
           (SELECT round(c.c, 6) FROM c
            WHERE c.i = r.i AND c.g = CASE r.i WHEN 1 THEN b.g1 WHEN 2 THEN b.g2
              WHEN 3 THEN b.g3 WHEN 4 THEN b.g4 ELSE b.g5 END) AS pair_cost,
           b.total AS optimal_total
    FROM regions r CROSS JOIN best b
    ORDER BY region
"""


@query("q_optimal_assignment", oracle=_OA_SQL, tags=("operations", "analytics"))
def optimal_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact assignment problem: match the {OA_GROUPS} supplier cohorts
    one-to-one to the 5 customer regions minimizing total mean
    fulfillment latency (ship date minus order date) — the linear
    assignment problem solved EXACTLY by enumerating all 5! = 120
    permutations as a chain of inequality-filtered joins over the
    cost matrix (the brute-force tier; at real m x n scale the
    Hungarian algorithm or an auction LP replaces the enumeration, but
    the 120-row relation IS the proof of optimality here, and
    assignment instances in practice are matrix-sized, not
    corpus-sized). The 'which vendor serves which market' planning
    question behind q_eoq_policy's per-brand policies.

    Determinism: latencies are exact integer day sums over exact
    counts, rounded 6; permutation totals re-round at 6 and the argmin
    totally orders by (total, assignment vector). Scale: one fact
    shuffle reduces to the 25-cell cost matrix; the permutation join is
    O(5!) on broadcast cells."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    cost = (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            (F.col("l_suppkey") % OA_GROUPS).alias("g"),
            F.col("r_name").alias("rg"),
        )
        .agg(
            F.round(
                F.sum(F.datediff("l_shipdate", "o_orderdate"))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("c")
        )
        .localCheckpoint()  # 25-cell cost matrix
    )
    w = Window.partitionBy(F.lit(1)).orderBy("rg")
    regions = cost.select("rg").distinct().withColumn("i", F.row_number().over(w))
    c = cost.join(F.broadcast(regions), "rg").select("i", "g", "c")
    sides = [
        c.filter(F.col("i") == k).selectExpr(f"g AS g{k}", f"c AS c{k}")
        for k in range(1, 6)
    ]
    perms = sides[0]
    for k in range(2, 6):
        cond = [F.col(f"g{k}") != F.col(f"g{j}") for j in range(1, k)]
        filt = cond[0]
        for x in cond[1:]:
            filt = filt & x
        perms = perms.crossJoin(F.broadcast(sides[k - 1])).filter(filt)
    perms = perms.withColumn(
        "total",
        F.round(sum(F.col(f"c{k}") for k in range(1, 6)), 6),
    )
    best = perms.orderBy(
        "total", "g1", "g2", "g3", "g4", "g5"
    ).limit(1).localCheckpoint()
    assigned = F.when(F.col("i") == 1, F.col("g1"))
    for k in range(2, 6):
        assigned = assigned.when(F.col("i") == k, F.col(f"g{k}"))
    out = regions.crossJoin(F.broadcast(best)).select(
        F.col("rg").alias("region"),
        assigned.cast("long").alias("supplier_group"),
        "i",
        F.col("total").alias("optimal_total"),
    )
    return (
        out.join(
            c.selectExpr("i", "g AS supplier_group", "round(c, 6) AS pair_cost"),
            ["i", "supplier_group"],
        )
        .select("region", "supplier_group", "pair_cost", "optimal_total")
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q_stable_matching — Gale-Shapley deferred acceptance, cohorts x regions
# ---------------------------------------------------------------------------

_SM_SQL = f"""
    WITH cost AS (
      SELECT l.l_suppkey % {OA_GROUPS} AS g, r.r_name AS rg,
             round(sum(datediff('day', o.o_orderdate, l.l_shipdate))
                   * 1e0 / count(*), 6) AS c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY g, rg
    ),
    grank AS (
      SELECT g, rg,
             row_number() OVER (PARTITION BY g ORDER BY c, rg) AS gr
      FROM cost
    ),
    rrank AS (
      SELECT g, rg,
             row_number() OVER (PARTITION BY rg ORDER BY c, g) AS rr
      FROM cost
    ),
    regions AS (
      SELECT rg, row_number() OVER (ORDER BY rg) AS i FROM (
        SELECT DISTINCT rg FROM cost
      )
    ),
    gcell AS (
      SELECT r.i, k.g, k.gr, rr.rr
      FROM grank k JOIN regions r USING (rg) JOIN rrank rr USING (g, rg)
    ),
    perms AS (
      SELECT c1.g AS g1, c2.g AS g2, c3.g AS g3, c4.g AS g4, c5.g AS g5,
             c1.gr + c2.gr + c3.gr + c4.gr + c5.gr AS grank_total
      FROM gcell c1
      JOIN gcell c2 ON c2.i = 2 AND c2.g <> c1.g
      JOIN gcell c3 ON c3.i = 3 AND c3.g NOT IN (c1.g, c2.g)
      JOIN gcell c4 ON c4.i = 4 AND c4.g NOT IN (c1.g, c2.g, c3.g)
      JOIN gcell c5 ON c5.i = 5 AND c5.g NOT IN (c1.g, c2.g, c3.g, c4.g)
      WHERE c1.i = 1
    ),
    assigned AS (
      SELECT p.*, r.i, r.rg,
             CASE r.i WHEN 1 THEN p.g1 WHEN 2 THEN p.g2 WHEN 3 THEN p.g3
                  WHEN 4 THEN p.g4 ELSE p.g5 END AS g
      FROM perms p CROSS JOIN regions r
    ),
    aranked AS (
      SELECT a.g1, a.g2, a.g3, a.g4, a.g5, a.grank_total,
             a.i, a.rg, a.g, gc.gr, gc.rr
      FROM assigned a JOIN gcell gc ON gc.i = a.i AND gc.g = a.g
    ),
    stable AS (
      -- a matching is stable iff NO (group, region) pair both strictly
      -- prefer each other to their assigned partners
      SELECT g1, g2, g3, g4, g5, grank_total
      FROM aranked m
      GROUP BY g1, g2, g3, g4, g5, grank_total
      HAVING NOT EXISTS (
        SELECT 1
        FROM gcell cand
        JOIN aranked mg ON mg.g1 = m.g1 AND mg.g2 = m.g2 AND mg.g3 = m.g3
                       AND mg.g4 = m.g4 AND mg.g5 = m.g5 AND mg.g = cand.g
        JOIN aranked mr ON mr.g1 = m.g1 AND mr.g2 = m.g2 AND mr.g3 = m.g3
                       AND mr.g4 = m.g4 AND mr.g5 = m.g5 AND mr.i = cand.i
        WHERE cand.gr < mg.gr AND cand.rr < mr.rr
      )
    ),
    best AS (
      SELECT * FROM stable
      ORDER BY grank_total, g1, g2, g3, g4, g5 LIMIT 1
    )
    SELECT a.rg AS region,
           CAST(a.g AS BIGINT) AS supplier_group,
           CAST(a.gr AS BIGINT) AS group_pref_rank,
           CAST(a.rr AS BIGINT) AS region_pref_rank,
           CAST(b.grank_total AS BIGINT) AS group_rank_total
    FROM best b
    JOIN aranked a ON a.g1 = b.g1 AND a.g2 = b.g2 AND a.g3 = b.g3
                  AND a.g4 = b.g4 AND a.g5 = b.g5
    ORDER BY region
"""


@query("q_stable_matching", oracle=_SM_SQL, tags=("operations", "iterative"))
def stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale-Shapley deferred acceptance between the supplier cohorts and
    the regions: both sides rank partners by the fulfillment-latency
    matrix (q_optimal_assignment's costs — that query minimizes TOTAL
    latency; this one guarantees NO blocking pair, the fairness notion
    markets actually need: no cohort-region pair would jointly defect).
    Spark runs the classic proposal algorithm on the collected 25-cell
    matrix (O(model) driver state, the q_markov_absorption posture; the
    proposal loop is inherently sequential and <= n^2 rounds). The
    DuckDB oracle never simulates proposals: it enumerates all 5!
    matchings, keeps those with NO blocking pair via the stability
    definition, and selects the proposer-optimal one — which uniquely
    minimizes every proposer's rank among stable matchings, hence the
    rank total. Algorithm vs declarative characterization, hash-checked
    against each other.

    Determinism: preference ranks are total orders (cost rounded 6,
    name/id tie-breaks); everything after is exact integer comparison.
    Scale: one fact shuffle to the cost matrix; both solves are
    O(model)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    cost = (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            (F.col("l_suppkey") % OA_GROUPS).alias("g"),
            F.col("r_name").alias("rg"),
        )
        .agg(
            F.round(
                F.sum(F.datediff("l_shipdate", "o_orderdate"))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("c")
        )
    )
    rows = cost.collect()  # 25 cells — O(model), never O(rows)
    groups = sorted({r["g"] for r in rows})
    regions = sorted({r["rg"] for r in rows})
    cmat = {(r["g"], r["rg"]): r["c"] for r in rows}
    gpref = {
        g: sorted(regions, key=lambda rg: (cmat[(g, rg)], rg)) for g in groups
    }
    rrank = {
        rg: {
            g: rank
            for rank, g in enumerate(
                sorted(groups, key=lambda g: (cmat[(g, rg)], g)), start=1
            )
        }
        for rg in regions
    }
    next_prop = {g: 0 for g in groups}
    engaged: dict[str, int] = {}
    free = list(groups)
    while free:
        g = free.pop(0)
        rg = gpref[g][next_prop[g]]
        next_prop[g] += 1
        if rg not in engaged:
            engaged[rg] = g
        elif rrank[rg][g] < rrank[rg][engaged[rg]]:
            free.append(engaged[rg])
            engaged[rg] = g
        else:
            free.append(g)
    grank = {
        g: {rg: rank for rank, rg in enumerate(gpref[g], start=1)} for g in groups
    }
    total = sum(grank[g][rg] for rg, g in engaged.items())
    out = [
        (rg, engaged[rg], grank[engaged[rg]][rg], rrank[rg][engaged[rg]], total)
        for rg in sorted(engaged)
    ]
    return spark.createDataFrame(
        out,
        "region string, supplier_group bigint, group_pref_rank bigint,"
        " region_pref_rank bigint, group_rank_total bigint",
    )


# ---------------------------------------------------------------------------
# q_knapsack — 0/1 budgeted selection with exact DP + bitmask reconstruction
# ---------------------------------------------------------------------------

KS_CAP = 40  # weight capacity (scaled units)
KS_TARGET_W = 80.0  # weights scale so the 25 brands sum to ~this
KS_N = 25  # brand count (mask bits)
KS_KEY = 33554432  # 2^25: value-major, min-mask tiebreak encoding


def _ks_oracle() -> str:
    layers = ""
    for j in range(1, KS_N + 1):
        layers += f""",
    it{j} AS (SELECT wt, v, bit FROM items WHERE idx = {j}),
    c{j} AS (
      SELECT w, v, mask FROM d{j - 1}
      UNION ALL
      SELECT p.w + i.wt, p.v + i.v, p.mask + i.bit
      FROM d{j - 1} p CROSS JOIN it{j} i
      WHERE p.w + i.wt <= {KS_CAP}
    ),
    d{j} AS MATERIALIZED (
      SELECT w,
             max_by(v, v * {KS_KEY} - mask) AS v,
             max_by(mask, v * {KS_KEY} - mask) AS mask
      FROM c{j} GROUP BY w
    )"""
    return f"""
    WITH raw AS (
      SELECT p.p_brand AS brand,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                        / 100.0) AS BIGINT) AS v
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ),
    tot AS (SELECT CAST(sum(qty) AS BIGINT) AS tq FROM raw),
    items AS MATERIALIZED (
      SELECT brand,
             CAST(row_number() OVER (ORDER BY brand) AS BIGINT) AS idx,
             greatest(1, CAST(round(qty / (tot.tq / {KS_TARGET_W})) AS BIGINT))
               AS wt,
             v,
             CAST(power(2, row_number() OVER (ORDER BY brand) - 1) AS BIGINT)
               AS bit
      FROM raw CROSS JOIN tot
    ),
    d0 AS (SELECT CAST(0 AS BIGINT) AS w, CAST(0 AS BIGINT) AS v,
                  CAST(0 AS BIGINT) AS mask){layers},
    best AS (
      SELECT w, v, mask FROM d{KS_N}
      ORDER BY v DESC, mask, w LIMIT 1
    )
    SELECT i.brand,
           i.wt AS weight,
           i.v AS value_dollars,
           b.w AS total_weight,
           b.v AS total_value,
           CAST({KS_CAP} AS BIGINT) AS capacity
    FROM best b JOIN items i ON (b.mask & i.bit) <> 0
    ORDER BY i.brand
"""


@query("q_knapsack", oracle=_ks_oracle(), tags=("operations", "iterative"))
def knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """0/1 knapsack over the brand catalog: pick brands maximizing total
    revenue under a stocking-capacity budget (weights = demand-scaled
    quantity units summing to ~{KS_TARGET_W}, capacity {KS_CAP}) — the
    exact budgeted-selection DP behind assortment and campaign-budget
    decisions (q_eoq_policy sizes orders per brand; this decides WHICH
    brands make the constrained cut). Every DP state carries a BITMASK
    of its chosen set, so the optimum reconstructs declaratively — no
    backtracking pass — and ties resolve to the lexicographically
    smallest mask, a total order.

    The oracle unrolls one MATERIALIZED CTE per item (25 layers x <=
    {KS_CAP}+1 capacity rows, argmax by the exact integer key
    v*2^25 - mask); Spark collects the 25-item model (O(model), the
    q_markov_absorption posture) and walks the identical recurrence.
    Determinism: weights/values are exact integers (dollar-rounded
    revenue; demand scaling is one exact double ratio rounded to
    integer units); the DP is pure integer arithmetic end to end.
    Scale: one fact-dim join to O(brands) items; both solves are
    O(items x capacity)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    raw = (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0
            )
            .cast("long")
            .alias("v"),
        )
    )
    rows = raw.orderBy("brand").collect()  # O(brands) — model, never rows
    tq = sum(r["qty"] for r in rows)
    from bigdatainfinance1_spark.functions.rounding import rnd_half_away as rnd

    items = []
    for idx, r in enumerate(rows, start=1):
        wt = max(1, int(rnd(r["qty"] / (tq / KS_TARGET_W), 0)))
        items.append((r["brand"], idx, wt, r["v"], 1 << (idx - 1)))
    dp = {0: (0, 0)}  # w -> (v, mask)
    for brand, idx, wt, v, bit in items:
        nxt = dict(dp)
        for w, (pv, pmask) in dp.items():
            nw = w + wt
            if nw > KS_CAP:
                continue
            cand = (pv + v, pmask + bit)
            cur = nxt.get(nw)
            if (
                cur is None
                or cand[0] * KS_KEY - cand[1] > cur[0] * KS_KEY - cur[1]
            ):
                nxt[nw] = cand
        dp = nxt
    best_w, (best_v, best_mask) = max(
        dp.items(), key=lambda kv: (kv[1][0] * KS_KEY - kv[1][1], -kv[0])
    )
    out = [
        (brand, wt, v, best_w, best_v, KS_CAP)
        for brand, idx, wt, v, bit in items
        if best_mask & bit
    ]
    return spark.createDataFrame(
        out,
        "brand string, weight bigint, value_dollars bigint,"
        " total_weight bigint, total_value bigint, capacity bigint",
    )


# ---------------------------------------------------------------------------
# q_fulfillment_aging — aging buckets for order completion, the AR-style report
# ---------------------------------------------------------------------------

_AGING_SQL = """
    WITH done AS (
      SELECT o.o_orderkey, o.o_orderpriority AS priority,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             datediff('day', o.o_orderdate, max(l.l_shipdate)) AS age_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_totalprice, o.o_orderdate
    ),
    bucketed AS (
      SELECT priority, cents, age_days,
             CASE WHEN age_days <= 30 THEN '0-30'
                  WHEN age_days <= 60 THEN '31-60'
                  WHEN age_days <= 90 THEN '61-90'
                  ELSE '90+' END AS bucket
      FROM done
    )
    SELECT priority, bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS value,
           round(sum(cents) * 1e0
                 / sum(sum(cents)) OVER (PARTITION BY priority), 6)
             AS share_of_priority,
           CAST(max(age_days) AS BIGINT) AS max_age_days
    FROM bucketed
    GROUP BY priority, bucket
    ORDER BY priority, bucket
"""


@query("q_fulfillment_aging", oracle=_AGING_SQL, tags=("analytics", "operations"))
def fulfillment_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging report on order fulfillment: each order's age = days from
    order date to its LAST shipped line, bucketed into the classic
    0-30/31-60/61-90/90+ bands per order priority with counts, value,
    and each band's share of its priority lane — the accounts-
    receivable-style aging mechanics (bucket, subtotal, share-of-lane)
    applied to the fulfillment book, where a fat 90+ band in an URGENT
    lane is the operational red flag. Complements q_scd2_intervals'
    point-in-time state with a closed-book aging census.

    Determinism: ages are exact day diffs, value is exact cents, the
    lane share divides exact sums (window over the bounded
    priority-bucket relation), rounded 2/6. Scale: one fact-fact join
    pre-aggregated per order (map-side max over ship dates), then an
    O(priorities x buckets) rollup."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    done = (
        orders.join(
            li.select("l_orderkey", "l_shipdate"),
            orders.o_orderkey == F.col("l_orderkey"),
        )
        .groupBy(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderdate",
        )
        .agg(F.datediff(F.max("l_shipdate"), F.first("o_orderdate")).alias("age_days"))
    )
    bucketed = done.select(
        "priority",
        "cents",
        "age_days",
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 60, "31-60")
        .when(F.col("age_days") <= 90, "61-90")
        .otherwise("90+")
        .alias("bucket"),
    )
    w = Window.partitionBy("priority")
    agg = bucketed.groupBy("priority", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("c"),
        F.max("age_days").cast("long").alias("max_age_days"),
    )
    return agg.select(
        "priority",
        "bucket",
        "n_orders",
        F.round(F.col("c") / 100.0, 2).alias("value"),
        F.round(F.col("c") * F.lit(1.0) / F.sum("c").over(w), 6).alias(
            "share_of_priority"
        ),
        "max_age_days",
    ).orderBy("priority", "bucket")
