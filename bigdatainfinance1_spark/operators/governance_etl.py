"""Data-governance and ETL-correctness operators: quality checks, privacy (k-anonymity/l-diversity/masking/erasure), audits, CDC, SCD2, reconciliation.

Carved out of operators/analytics.py (round-2 wave 1-3) and operators/analytics2.py (round-2 wave 4-5) and operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 13 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_scd2_intervals",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      o_orderpriority                                   AS priority,
      o_orderdate                                       AS valid_from,
      coalesce(lead(o_orderdate) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ), TIMESTAMP '2261-12-31 00:00:00')               AS valid_to,
      CAST(lead(o_orderdate) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ) IS NULL AS BOOLEAN)                             AS is_current
    FROM orders
    """,
    tags=("analytics", "etl", "window"),
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) validity intervals: each order
    event becomes a [valid_from, valid_to) version row per customer, the
    open-ended latest row carrying a far-future sentinel (2261-12-31: the
    classic 9999 sentinel overflows Arrow/pandas nanosecond timestamps,
    which the oracle gate converts through) and an is_current flag — the snapshot-history build. One per-key ordered window
    (partitioned by custkey, total order via orderkey tiebreak); at 100 TB
    this is one hash shuffle on the dimension key."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    sentinel = F.lit("2261-12-31 00:00:00").cast("timestamp")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(nxt, sentinel).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q_table_diff",
    oracle="""
    WITH new_v AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN round(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 101 <> 0
    ),
    diff AS (
      SELECT
        CASE
          WHEN o.o_orderkey IS NULL THEN 'inserted'
          WHEN n.o_orderkey IS NULL THEN 'deleted'
          WHEN o.o_totalprice <> n.o_totalprice THEN 'updated'
          ELSE 'unchanged'
        END AS change_type,
        coalesce(n.o_totalprice, o.o_totalprice) AS price
      FROM orders o FULL OUTER JOIN new_v n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change_type, count(*) AS n_rows, round(sum(price), 2) AS total_price
    FROM diff GROUP BY change_type
    """,
    tags=("analytics", "etl"),
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify every key as inserted / deleted /
    updated / unchanged between two table versions via one full-outer join
    on the key (the new version is derived deterministically from orders:
    every 97th key's price bumped 10%, every 101st key dropped). This is
    the changelog computation that feeds incremental downstream refreshes
    when no table format provides it natively; at 100 TB both sides hash-
    shuffle once on the key, or zero times if co-bucketed."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    new_v = orders.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.round(F.col("o_totalprice") * 1.1, 2))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    o = orders.select(F.col("o_orderkey").alias("k_old"), F.col("o_totalprice").alias("p_old"))
    n = new_v.select(F.col("o_orderkey").alias("k_new"), F.col("o_totalprice").alias("p_new"))
    diff = o.join(n, o.k_old == n.k_new, "full_outer").select(
        F.when(F.col("k_old").isNull(), "inserted")
        .when(F.col("k_new").isNull(), "deleted")
        .when(F.col("p_old") != F.col("p_new"), "updated")
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce("p_new", "p_old").alias("price"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )


@query(
    "q_dq_checks",
    oracle="""
    SELECT 'fk_lineitem_orderkey' AS check_name,
      (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
      (SELECT count(*) FROM lineitem) AS n_checked
    UNION ALL
    SELECT 'fk_orders_custkey',
      (SELECT count(*) FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 'pk_orders_unique',
      (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders),
      (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 'range_discount_0_1',
      (SELECT count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) FROM lineitem),
      (SELECT count(*) FROM lineitem)
    UNION ALL
    SELECT 'range_quantity_positive',
      (SELECT count(CASE WHEN l_quantity <= 0 THEN 1 END) FROM lineitem),
      (SELECT count(*) FROM lineitem)
    UNION ALL
    SELECT 'enum_orderstatus',
      (SELECT count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) FROM orders),
      (SELECT count(*) FROM orders)
    """,
    tags=("analytics", "etl", "quality"),
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality assertion suite (the dbt-tests shape): referential
    integrity (anti-join counts), primary-key uniqueness, value ranges,
    and enum domains — each check emits (name, violations, checked) and
    the suite unions into one report relation. Per-table checks share one
    scan via conditional aggregation; FK checks are anti joins that ship
    only the key column. On healthy synthetic data every count is 0 —
    the point is the machinery, priced at one scan per table + two
    key-projected anti joins."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def one(name: str, viol, checked) -> DataFrame:
        return viol.crossJoin(checked).select(
            F.lit(name).alias("check_name"),
            F.col("n_violations").cast("long").alias("n_violations"),
            F.col("n_checked").cast("long").alias("n_checked"),
        )

    li_n = li.agg(F.count(F.lit(1)).alias("n_checked"))
    ord_n = orders.agg(F.count(F.lit(1)).alias("n_checked"))
    fk_li = one(
        "fk_lineitem_orderkey",
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"), li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations")),
        li_n,
    )
    fk_ord = one(
        "fk_orders_custkey",
        orders.select("o_custkey")
        .join(cust.select("c_custkey"), orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations")),
        ord_n,
    )
    pk = one(
        "pk_orders_unique",
        orders.agg((F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("n_violations")),
        ord_n,
    )
    rng_d = one(
        "range_discount_0_1",
        li.agg(
            F.count(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)).alias(
                "n_violations"
            )
        ),
        li_n,
    )
    rng_q = one(
        "range_quantity_positive",
        li.agg(F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("n_violations")),
        li_n,
    )
    enum_s = one(
        "enum_orderstatus",
        orders.agg(
            F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)).alias("n_violations")
        ),
        ord_n,
    )
    out = fk_li
    for d in (fk_ord, pk, rng_d, rng_q, enum_s):
        out = out.unionByName(d)
    return out


@query(
    "q_k_anonymity",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS cell_n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT
      count(*)                                        AS n_cells,
      CAST(min(cell_n) AS BIGINT)                     AS min_cell,
      count(CASE WHEN cell_n < 5 THEN 1 END)          AS cells_below_k5,
      CAST(sum(CASE WHEN cell_n < 5 THEN cell_n ELSE 0 END) AS BIGINT)
                                                      AS rows_at_risk,
      round(sum(CASE WHEN cell_n < 5 THEN cell_n ELSE 0 END) * 1e0
            / sum(cell_n), 6)                         AS risk_share
    FROM cells
    """,
    tags=("analytics", "quality"),
)
def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy screen: k-anonymity over the quasi-identifier pair
    (market segment × nation) — how many equivalence classes fall below
    k=5, and what share of rows they expose. The release-gate check a
    data-governance pipeline runs before publishing micro-data; one
    groupBy for the cells, one reduce for the report. At 100 TB the cell
    relation is |QI-domain|-sized — tiny — regardless of row count."""
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("cell_n")
    )
    below = F.when(F.col("cell_n") < 5, F.col("cell_n")).otherwise(0)
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("cell_n").cast("long").alias("min_cell"),
        F.count(F.when(F.col("cell_n") < 5, 1)).alias("cells_below_k5"),
        F.sum(below).cast("long").alias("rows_at_risk"),
        F.round(F.sum(below) * F.lit(1.0) / F.sum("cell_n"), 6).alias("risk_share"),
    )


sql_query(
    "q_masked_view",
    """
    SELECT
      c.c_custkey,
      substr(md5(c.c_name), 1, 8)                          AS name_mask,
      CAST(floor(c.c_acctbal / 1000) * 1000 AS BIGINT)     AS acctbal_band,
      c.c_mktsegment,
      n.n_name                                             AS nation
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    """,
    tags=("analytics", "quality", "governance"),
    doc="""Row- and column-level governance in one relation: the EUROPE-only
    row filter (row-level security predicate pushed into the scan) with
    PII masking projected on top — names one-way-hashed to an 8-hex token
    (joinable, not reversible), account balances generalized to 1000-wide
    bands (k-anonymity-style coarsening; q_k_anonymity measures what this
    enforces). The masked relation is exactly what a governed export/BI
    view serves. floor on a 2-decimal double is boundary-safe (values are
    ≥0.01 from integers). Scale: narrow map over the filtered scan; the
    nation→region dims broadcast.""",
)


sql_query(
    "q_audit_fingerprint",
    """
    WITH hashed AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             md5(CAST(o_orderkey AS STRING) || '|' ||
                 CAST(o_custkey AS STRING) || '|' ||
                 CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING) || '|' ||
                 o_orderstatus) AS h
      FROM orders
    )
    SELECT
      yr,
      CAST(count(*) AS BIGINT)            AS n_rows,
      CAST(count(DISTINCT h) AS BIGINT)   AS n_distinct,
      min(h)                              AS min_hash,
      max(h)                              AS max_hash,
      CAST(sum(instr('0123456789abcdef', substr(h, 1, 1)) - 1) AS BIGINT)
                                          AS nibble_sum
    FROM hashed GROUP BY yr
    """,
    tags=("analytics", "quality", "governance"),
    doc="""Partition-level audit fingerprints: per year, an order-insensitive
    digest of the orders partition — row count, distinct row-hash count
    (dup detector), lexicographic min/max row hash, and a commutative
    nibble checksum. Two snapshots of a 100 TB table compare by exchanging
    these |partitions|-sized fingerprint relations instead of data — the
    reconciliation primitive under q_table_diff (which diffs rows once a
    partition fingerprint mismatches). The row hash canonicalizes exactly
    like q_exact_dedup (pipe-joined canonical strings, prices as integer
    cents); every output is integer or VARCHAR — nothing floats. Scale:
    one narrow hash map, one groupBy per partition key.""",
)


@query(
    "q_order_reconciliation",
    oracle="""
    WITH line_tot AS (
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS line_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    recon AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
             coalesce(l.line_cents, 0) AS line_cents
      FROM orders o LEFT JOIN line_tot l ON o.o_orderkey = l.l_orderkey
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CASE WHEN line_cents = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
      CAST(sum(CASE WHEN line_cents > 0 AND abs(header_cents - line_cents) > 100
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
      round(max(abs(header_cents - line_cents)) / 100e0, 2) AS max_abs_diff,
      round(sum(CASE WHEN line_cents > 0 AND abs(header_cents - line_cents) > 100
                     THEN 1 ELSE 0 END) * 1e0 / count(*), 6) AS mismatch_share
    FROM recon
    """,
    tags=("analytics", "quality", "finance"),
)
def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: does each order's stated total
    match the sum of its line items? — the control every finance close
    runs between a summary ledger and its detail (and, at 100 TB, between
    two systems that were supposed to agree). Reports orders with no
    lines, orders off by more than a dollar, the worst discrepancy, and
    the mismatch share. All comparisons happen in exact integer cents;
    whatever the synthetic generator's answer is, it is deterministic and
    identical on both engines. Scale: one orderkey-grain aggregation of
    the fact, one keyed outer join to the header — the q_galaxy_join
    shuffle shape without the dims."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    line_tot = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("line_cents")
    )
    recon = orders.join(line_tot, orders.o_orderkey == line_tot.l_orderkey, "left").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_cents"),
        F.coalesce("line_cents", F.lit(0)).alias("line_cents"),
    )
    diff = F.abs(F.col("header_cents") - F.col("line_cents"))
    mism = (F.col("line_cents") > 0) & (diff > 100)
    return recon.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("line_cents") == 0, 1).otherwise(0)).cast("long").alias("n_no_lines"),
        F.sum(F.when(mism, 1).otherwise(0)).cast("long").alias("n_mismatched"),
        F.round(F.max(diff) / 100.0, 2).alias("max_abs_diff"),
        F.round(F.sum(F.when(mism, 1).otherwise(0)) * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
            "mismatch_share"
        ),
    )


sql_query(
    "q_gdpr_erasure",
    """
    WITH targets AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    ),
    kept AS (
      SELECT e.* FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM targets t WHERE t.user_id = e.user_id)
    )
    SELECT
      (SELECT count(*) FROM events)                       AS n_before,
      (SELECT count(*) FROM targets)                      AS n_users_erased,
      (SELECT count(*) FROM events) - count(*)            AS n_rows_erased,
      CAST(count(*) AS BIGINT)                            AS n_after,
      CAST(count(DISTINCT user_id) AS BIGINT)             AS n_users_after
    FROM kept
    """,
    tags=("analytics", "quality", "governance"),
    doc="""Right-to-erasure batch: remove every event belonging to a deletion
    list (users with id ≡ 0 mod 97 — the deterministic stand-in for a DSR
    queue) via a broadcast anti-join, and emit the audit record a DPO
    actually files: rows before, users and rows erased, rows and users
    remaining. With q_masked_view (masking) and q_k_anonymity
    (re-identification risk) this completes the governance trio. Scale:
    the deletion list is always small → broadcast anti-join, one scan,
    no shuffle of the fact; on a lake the same plan feeds a partition
    overwrite (q_merge_upsert's write path).""",
)


# The synthetic CDC log derived deterministically from orders: every row an
# INSERT at seq 1; keys divisible by 5 get a +10% price UPDATE at seq 2;
# keys divisible by 7 a DELETE at seq 3. Both engines build the identical
# log, so applying it is the operator under test, not the generator.
_CDC_LOG_SQL = """
    log AS (
      SELECT o_orderkey AS k, o_orderpriority AS prio, 1 AS seq, 'I' AS op,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderpriority, 2, 'U',
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CAST(round(o_totalprice * 100) AS BIGINT) // 10
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderpriority, 3, 'D', NULL
      FROM orders WHERE o_orderkey % 7 = 0
    )
"""


@query(
    "q_cdc_apply",
    oracle=f"""
    WITH {_CDC_LOG_SQL},
    latest AS (
      SELECT k, prio, seq, op, cents,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM log
    ),
    live AS (SELECT * FROM latest WHERE rn = 1 AND op <> 'D')
    SELECT
      prio,
      CAST(count(*) AS BIGINT)                                  AS n_live,
      CAST(sum(CASE WHEN seq = 2 THEN 1 ELSE 0 END) AS BIGINT)  AS n_updated,
      CAST(sum(cents) AS BIGINT)                                AS sum_cents
    FROM live
    GROUP BY prio
    """,
    tags=("etl", "cdc", "upsert"),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: collapse an ordered I/U/D log to current
    table state by last-writer-wins per key — the core of every CDC sink
    (Debezium consumer, Delta MERGE from change feed; q_merge_upsert is the
    two-snapshot twin, this is the log-replay form). The log is synthesized
    deterministically from orders (see _CDC_LOG_SQL) so both engines replay
    the identical stream. Apply = row_number per key ordered by seq DESC,
    keep rn=1, drop tombstones, then aggregate live state per priority.
    Prices stay exact integer cents; the +10% update is integer DIV 10 so
    no engine rounds differently. Scale: one shuffle on the key for the
    window (the same partitioning a real CDC sink maintains), then a
    5-group aggregate — at 100 TB the log is already key-partitioned by
    the source, making the window shuffle-free."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        cents.alias("cents"),
    )
    upd = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("prio"),
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            (cents + F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 10")).alias("cents"),
        )
    )
    dele = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("prio"),
            F.lit(3).alias("seq"),
            F.lit("D").alias("op"),
            F.lit(None).cast("long").alias("cents"),
        )
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    live = (
        base.unionByName(upd)
        .unionByName(dele)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return live.groupBy("prio").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        F.sum(F.when(F.col("seq") == 2, 1).otherwise(0)).cast("long").alias("n_updated"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


sql_query(
    "q_l_diversity",
    """
    WITH tagged AS (
      SELECT c_mktsegment, c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS sens
      FROM customer
    ),
    cells AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(count(*) AS BIGINT)             AS cell_n,
             CAST(count(DISTINCT sens) AS BIGINT) AS l
      FROM tagged GROUP BY c_mktsegment, c_nationkey
    )
    SELECT
      CAST(count(*) AS BIGINT)                               AS n_cells,
      CAST(min(l) AS BIGINT)                                 AS min_l,
      CAST(count(CASE WHEN l < 2 THEN 1 END) AS BIGINT)      AS cells_below_l2,
      CAST(sum(CASE WHEN l < 2 THEN cell_n ELSE 0 END) AS BIGINT) AS rows_at_risk,
      round(sum(CASE WHEN l < 2 THEN cell_n ELSE 0 END) * 1e0
            / sum(cell_n), 6)                                AS risk_share
    FROM cells
    """,
    tags=("analytics", "quality", "privacy"),
    doc="""l-diversity screen, the companion to q_k_anonymity on the same
    quasi-identifier cells (mktsegment × nationkey): a cell can be
    k-anonymous yet still leak if everyone in it shares the sensitive
    value, so this measures the DISTINCT sensitive values (account-balance
    band neg/mid/high) per cell and flags cells below l=2 — the standard
    second gate before releasing a coarsened extract. Scale: one groupBy
    on the cell key with a distinct-agg (Spark expands to two-phase
    partial aggregation), then a 5-number global summary — nothing wide
    anywhere.""",
)


@query(
    "q_calendar_dim",
    oracle="""
    WITH days AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31',
                                         INTERVAL 1 DAY)) AS DATE) AS d
    ),
    attrs AS (
      SELECT d,
             CAST(year(d) AS BIGINT)    AS y,
             CAST(quarter(d) AS BIGINT) AS q,
             CAST(month(d) AS BIGINT)   AS m,
             CAST((datediff('day', DATE '1995-01-02', d) % 7 + 7) % 7 AS BIGINT)
               AS dow_idx,
             CASE WHEN (datediff('day', DATE '1995-01-02', d) % 7 + 7) % 7 >= 5
                  THEN 1 ELSE 0 END AS is_weekend
      FROM days
    )
    SELECT
      y, q,
      CAST(count(*) AS BIGINT)       AS n_days,
      CAST(sum(is_weekend) AS BIGINT) AS n_weekend,
      CAST(sum(m) AS BIGINT)          AS m_checksum,
      CAST(sum(dow_idx) AS BIGINT)    AS dow_checksum
    FROM attrs
    GROUP BY y, q
    """,
    tags=("etl", "dimension", "calendar"),
)
def calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation — the utility every warehouse builds
    first: a 1995–2001 date spine from sequence()/generate_series with
    derived attributes (year, quarter, month, weekday index, weekend
    flag). The weekday comes from anchor-date day-count arithmetic
    ((days since Monday 1995-01-02) mod 7 — q_dow_seasonality lesson:
    engines disagree on dayofweek() numbering, never on integer mod), and
    the oracle checks per-(year, quarter) counts and attribute checksums
    over all 2,557 generated days. Scale: the spine is generated, not
    scanned — a single explode of a bounded sequence, broadcast-sized for
    any calendar range a business will ever need."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-12-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    dow = ((F.datediff(F.col("d"), F.lit("1995-01-02").cast("date")) % 7 + 7) % 7).cast("long")
    attrs = spine.select(
        F.year("d").cast("long").alias("y"),
        F.quarter("d").cast("long").alias("q"),
        F.month("d").cast("long").alias("m"),
        dow.alias("dow_idx"),
        F.when(dow >= 5, 1).otherwise(0).alias("is_weekend"),
    )
    return attrs.groupBy("y", "q").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("is_weekend").cast("long").alias("n_weekend"),
        F.sum("m").cast("long").alias("m_checksum"),
        F.sum("dow_idx").cast("long").alias("dow_checksum"),
    )


sql_query(
    "q_duplicate_payments",
    """
    WITH pairs AS (
      SELECT a.l_orderkey AS k,
             least(CAST(round(a.l_extendedprice * 100) AS BIGINT),
                   CAST(round(b.l_extendedprice * 100) AS BIGINT)) AS exposure
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey = b.l_partkey
       AND a.l_linenumber < b.l_linenumber
    )
    SELECT
      CAST(count(*) AS BIGINT)           AS n_suspect_pairs,
      CAST(count(DISTINCT k) AS BIGINT)  AS n_orders,
      CAST(sum(exposure) AS BIGINT)      AS exposure_cents
    FROM pairs
    """,
    tags=("analytics", "audit", "fraud"),
    doc="""Duplicate line-item screen — the first query every AP audit runs:
    the same part billed twice on the same order under different line
    numbers (double-entry candidates; 48 genuine hits in this data at
    sf0.01 — the first cut of this screen keyed on same-customer
    same-cents orders, which never collide in this near-continuous
    uniform price data and returned an empty, evidence-free relation).
    Exposure is the SMALLER line's value — what a dedupe would refund.
    The pair join is keyed on (order, part): group sizes are order line
    counts, so fan-out is bounded by the widest order, and linenumber <
    linenumber keeps each pair once. Integer cents throughout. Scale: one
    shuffle on the composite key the fact table is usually already
    clustered by — in a real AP system this screen rides the ingest
    partitioning for free.""",
)


sql_query(
    "q_structuring_screen",
    """
    WITH o AS (
      SELECT o_custkey AS cust,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS m
      FROM orders
    ),
    near AS (
      SELECT cust, m,
             CAST(count(*) AS BIGINT) AS n_near,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM o
      WHERE cents > 40000000
      GROUP BY cust, m
    )
    SELECT cust, m, n_near, total_cents
    FROM near WHERE n_near >= 2
    """,
    tags=("analytics", "audit", "fraud"),
    doc="""Structuring (smurfing) screen — the AML pattern of repeatedly
    transacting near a cap: customers with ≥2 orders in the SAME month in
    the top band (> 400k) below the data's 500k price ceiling (40 flagged
    cust-months at sf0.01 — thresholds chosen to fire on this uniform
    synthetic data; a production screen tunes them to its amount
    distribution, and the first cut of this screen — ≥3 near-cap orders
    per WEEK — flagged nothing, an evidence-free relation). Month buckets
    are integer year×12+month arithmetic (ISO-week functions differ
    across engines — q_dow_seasonality lesson); the band predicate pushes
    to the parquet scan as an integer range. Scale: filter-then-aggregate
    on (customer, month) — the screen touches only the band slice of the
    data.""",
)


TCLOSE_T = 0.2  # release gate threshold on the EMD


sql_query(
    "q_t_closeness",
    f"""
    WITH tagged AS (
      SELECT c_mktsegment, c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 0
                  WHEN c_acctbal < 5000 THEN 1
                  ELSE 2 END AS sens
      FROM customer
    ),
    cells AS (
      SELECT c_mktsegment, c_nationkey,
             count(*) AS cell_n,
             sum(CASE WHEN sens = 0 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN sens = 1 THEN 1 ELSE 0 END) AS c1
      FROM tagged GROUP BY c_mktsegment, c_nationkey
    ),
    g AS (
      SELECT count(*) AS n,
             sum(CASE WHEN sens = 0 THEN 1 ELSE 0 END) AS g0,
             sum(CASE WHEN sens = 1 THEN 1 ELSE 0 END) AS g1
      FROM tagged
    ),
    scored AS (
      SELECT cell_n,
             round((abs(c0 * 1.0 / cell_n - g0 * 1.0 / n)
                  + abs(c0 * 1.0 / cell_n - g0 * 1.0 / n
                      + c1 * 1.0 / cell_n - g1 * 1.0 / n)) / 2, 6) AS t
      FROM cells CROSS JOIN g
    )
    SELECT
      CAST(count(*) AS BIGINT)                                    AS n_cells,
      CAST(round(max(t), 6) AS DOUBLE)                            AS max_t,
      CAST(count(CASE WHEN t > {TCLOSE_T} THEN 1 END) AS BIGINT)  AS cells_above_t,
      CAST(sum(CASE WHEN t > {TCLOSE_T} THEN cell_n ELSE 0 END) AS BIGINT)
                                                                  AS rows_at_risk,
      round(sum(CASE WHEN t > {TCLOSE_T} THEN cell_n ELSE 0 END) * 1e0
            / sum(cell_n), 6)                                     AS risk_share
    FROM scored
    """,
    tags=("analytics", "quality", "privacy"),
    doc="""t-closeness — the third gate of the release-privacy triad, on the
    SAME quasi-identifier cells as q_k_anonymity / q_l_diversity: a cell
    passes only if its sensitive-attribute distribution stays within
    EMD t of the global one (a cell can be k-anonymous AND l-diverse yet
    still reveal that its members are overwhelmingly 'high balance'). For
    the ordered 3-band attribute the earth-mover distance is the mean
    absolute cumulative gap Σ|cum(p) - cum(q)| / (m-1). Counts are exact
    integers and both engines form the identical ratio doubles, so t
    matches bitwise before its round. Scale: one cell aggregation + a
    broadcast 1-row global distribution — |QI-domain|-sized work.""",
)


# ---------------------------------------------------------------------------
# q_dp_histogram — Laplace-mechanism private release
# ---------------------------------------------------------------------------

DP_EPS = 1.0  # privacy budget per released statistic
DP_REV_CLIP = 100000.0  # per-order contribution clip for the sum release
# SplitMix-style deterministic sub-uniform: (k*KNUTH + SALT) mod 2^31 / 2^31.
# Products stay < 2^53 for any 32-bit key, so BIGINT arithmetic is exact on
# both engines and the "noise" draw is reproducible by construction.
DP_KNUTH = 2654435761
DP_SALT = 12345
DP_MOD = 2147483648


def _dp_noise_sql(key: str, scale: float) -> str:
    """Inverse-CDF Laplace(0, scale) noise from the deterministic uniform —
    one SQL text shared by both engines. u in (-0.5, 0.5);
    noise = -scale * sign(u) * ln(1 - 2|u|)."""
    u = f"((({key} * {DP_KNUTH} + {DP_SALT}) % {DP_MOD}) * 1.0 / {DP_MOD} - 0.5)"
    return f"(-{scale} * sign({u}) * ln(1.0 - 2.0 * abs({u})))"


_DP_SQL = f"""
    WITH per_cust AS (
      SELECT c.c_nationkey AS nationkey, o.o_custkey,
             count(*) AS n_orders,
             sum(least(o.o_totalprice, {DP_REV_CLIP})) AS clipped_rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    agg AS (
      SELECT nationkey,
             count(*) AS n_customers,
             round(sum(clipped_rev), 2) AS clipped_rev_sum
      FROM per_cust GROUP BY nationkey
    )
    SELECT CAST(nationkey AS BIGINT) AS nationkey,
           CAST(n_customers AS BIGINT) AS true_customers,
           round({_dp_noise_sql('nationkey', 1.0 / DP_EPS)}, 6) AS count_noise,
           greatest(0, CAST(round(n_customers + {_dp_noise_sql('nationkey', 1.0 / DP_EPS)})
                            AS BIGINT)) AS released_customers,
           clipped_rev_sum AS true_clipped_rev,
           greatest(0.0, round(clipped_rev_sum
                 + {_dp_noise_sql('(nationkey + 7919)', DP_REV_CLIP / DP_EPS)}, 2))
             AS released_clipped_rev
    FROM agg
"""


sql_query(
    "q_dp_histogram", _DP_SQL, tags=("governance", "privacy"),
    doc="""Differentially-private release of the per-nation customer histogram
    and revenue total via the Laplace mechanism — the full release
    pipeline: (1) per-user contribution bounding (each customer counts
    once; each order's revenue contribution clipped at {clip}), which is
    what makes the sensitivity finite, (2) Laplace(sensitivity/eps) noise
    per cell, (3) post-processing clamp to the non-negative domain.
    Completes the privacy surface next to the syntactic triad
    (q_k_anonymity, q_l_diversity, q_t_closeness): those bound
    re-identification of a released TABLE, this bounds what any released
    STATISTIC can reveal.

    The "noise" draw replaces an RNG with a deterministic SplitMix-style
    sub-uniform of the cell key (exact BIGINT arithmetic, < 2^53, so both
    engines compute identical draws) pushed through the Laplace inverse
    CDF — the mechanism's algebra is fully exercised and oracle-verified;
    a production deployment swaps ONLY the uniform for a secure RNG (the
    docstring's one-line swap, same shape as the seeded-sampling tiers).
    Scale: two map-side-combinable aggregates (per-customer bound, then
    per-nation cells); noise is per-cell closed form — O(cells) work
    after the scan.""",
)


# ---------------------------------------------------------------------------
# q_process_capability — Cp/Cpk per brand against global spec limits
# ---------------------------------------------------------------------------


@query(
    "q_process_capability",
    oracle="""
    WITH spec AS (
      SELECT 1.0 AS lsl, 50.0 AS usl
    ),
    g AS (
      SELECT p.p_brand AS brand, count(*) AS n, avg(l.l_quantity) AS mu,
             sqrt((sum(l.l_quantity * l.l_quantity)
                   - count(*) * avg(l.l_quantity) * avg(l.l_quantity))
                  / (count(*) - 1)) AS s
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT g.brand,
           CAST(g.n AS BIGINT) AS n,
           round(g.mu, 4) AS mean_qty,
           round(g.s, 4) AS std_qty,
           round((spec.usl - spec.lsl) / (6.0 * g.s), 6) AS cp,
           round(least(spec.usl - g.mu, g.mu - spec.lsl) / (3.0 * g.s), 6) AS cpk,
           CASE WHEN least(spec.usl - g.mu, g.mu - spec.lsl) / (3.0 * g.s) >= 1.33
                THEN 'capable'
                WHEN least(spec.usl - g.mu, g.mu - spec.lsl) / (3.0 * g.s) >= 1.0
                THEN 'marginal' ELSE 'incapable' END AS verdict
    FROM g CROSS JOIN spec
    ORDER BY brand
    """,
    tags=("quality", "analytics", "stats"),
)
def process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability indices per brand: Cp = (USL−LSL)/6σ (potential
    capability of the order-quantity "process" against the fixed 1-50
    spec window) and Cpk = min(USL−μ, μ−LSL)/3σ (actual capability,
    penalizing off-center means), with the standard 1.33/1.0 verdict
    bands — the manufacturing-quality reading of the same per-group
    moments the control charts monitor (q_control_chart watches the
    series; Cp/Cpk grade the distribution).

    Scale: one fact-dim broadcast join + per-brand moment aggregate
    (map-side combinable), closed forms on 25 rows. Quantities are
    exact small integers so the moment identity is exact; rounded at
    4/6."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lsl, usl = 1.0, 50.0
    g = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("l_quantity").alias("mu"),
            F.sqrt(
                (
                    F.sum(F.col("l_quantity") * F.col("l_quantity"))
                    - F.count(F.lit(1)) * F.avg("l_quantity") * F.avg("l_quantity")
                )
                / (F.count(F.lit(1)) - 1)
            ).alias("s"),
        )
    )
    cpk = F.least(usl - F.col("mu"), F.col("mu") - lsl) / (3.0 * F.col("s"))
    return g.select(
        "brand",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("mu"), 4).alias("mean_qty"),
        F.round(F.col("s"), 4).alias("std_qty"),
        F.round((usl - lsl) / (6.0 * F.col("s")), 6).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
        F.when(cpk >= 1.33, F.lit("capable"))
        .when(cpk >= 1.0, F.lit("marginal"))
        .otherwise(F.lit("incapable"))
        .alias("verdict"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# q_fd_discovery — functional-dependency verification (profiling)
# ---------------------------------------------------------------------------


@query(
    "q_fd_discovery",
    oracle="""
    WITH checks AS (
      SELECT 'customer.c_custkey->c_nationkey' AS fd,
             count(*) AS n_groups,
             sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS violations
      FROM (SELECT c_custkey, count(DISTINCT c_nationkey) AS d
            FROM customer GROUP BY c_custkey)
      UNION ALL
      SELECT 'orders.o_custkey->o_orderpriority',
             count(*), sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)
      FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS d
            FROM orders GROUP BY o_custkey)
      UNION ALL
      SELECT 'lineitem.l_orderkey->l_returnflag',
             count(*), sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)
      FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS d
            FROM lineitem GROUP BY l_orderkey)
      UNION ALL
      SELECT 'part.p_brand->p_type',
             count(*), sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)
      FROM (SELECT p_brand, count(DISTINCT p_type) AS d
            FROM part GROUP BY p_brand)
    )
    SELECT fd,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(violations AS BIGINT) AS violating_groups,
           violations = 0 AS holds
    FROM checks ORDER BY fd
    """,
    tags=("quality", "etl", "governance"),
)
def fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency verification over four candidate FDs (the
    Metanome/data-profiling primitive): for each LHS→RHS candidate,
    count LHS groups whose RHS is not single-valued — zero violations
    means the FD holds and the column is derivable/normalizable; a
    violation count is the exact denormalization measure. The first two
    candidates are true key dependencies (hold by schema); the second
    two are plausible-but-false (an order mixes return flags, a brand
    spans types) — the discovery outcome, not the assumption, is the
    output.

    Scale: each candidate is ONE map-side-combinable
    groupBy(countDistinct) — the same shape regardless of table size;
    candidates run as a union of independent aggregates (Spark
    schedules them concurrently). All integers."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def check(df: DataFrame, name: str, lhs: str, rhs: str) -> DataFrame:
        g = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("d"))
        return g.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("long")
            .alias("violating_groups"),
        )

    out = (
        check(cust, "customer.c_custkey->c_nationkey", "c_custkey", "c_nationkey")
        .unionByName(
            check(orders, "orders.o_custkey->o_orderpriority", "o_custkey", "o_orderpriority")
        )
        .unionByName(
            check(li, "lineitem.l_orderkey->l_returnflag", "l_orderkey", "l_returnflag")
        )
        .unionByName(check(part, "part.p_brand->p_type", "p_brand", "p_type"))
    )
    return out.select(
        "fd", "n_groups", "violating_groups", (F.col("violating_groups") == 0).alias("holds")
    ).orderBy("fd")


# ---------------------------------------------------------------------------
# q_inclusion_dependencies — foreign-key discovery by containment
# ---------------------------------------------------------------------------


@query(
    "q_inclusion_dependencies",
    oracle="""
    WITH checks AS (
      SELECT 'orders.o_custkey<=customer.c_custkey' AS ind,
             (SELECT count(DISTINCT o_custkey) FROM orders) AS n_distinct,
             (SELECT count(*) FROM (
                SELECT DISTINCT o_custkey FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))) AS missing
      UNION ALL
      SELECT 'lineitem.l_orderkey<=orders.o_orderkey',
             (SELECT count(DISTINCT l_orderkey) FROM lineitem),
             (SELECT count(*) FROM (
                SELECT DISTINCT l_orderkey FROM lineitem
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
      UNION ALL
      SELECT 'lineitem.l_partkey<=part.p_partkey',
             (SELECT count(DISTINCT l_partkey) FROM lineitem),
             (SELECT count(*) FROM (
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_partkey NOT IN (SELECT p_partkey FROM part)))
      UNION ALL
      SELECT 'customer.c_custkey<=orders.o_custkey',
             (SELECT count(DISTINCT c_custkey) FROM customer),
             (SELECT count(*) FROM (
                SELECT DISTINCT c_custkey FROM customer
                WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)))
    )
    SELECT ind,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(missing AS BIGINT) AS missing,
           round((n_distinct - missing) * 1.0 / n_distinct, 6) AS containment,
           missing = 0 AS is_fk_candidate
    FROM checks ORDER BY ind
    """,
    tags=("quality", "etl", "governance", "join"),
)
def inclusion_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) discovery by containment: for
    each candidate A ⊆ B, the fraction of A's distinct values present in
    B via a distinct + left-anti join — full containment marks an FK
    candidate. The reverse direction (customer ⊆ orders) is the
    discriminating probe: it fails wherever customers exist without
    orders; on this dense corpus every customer HAS orders, so all four
    candidates report full containment and the containment fraction —
    not an assumption — is the discovery output. The profiling
    complement to q_fd_discovery (intra-table) — together they recover
    the star schema from data alone.

    Scale: each candidate is a distinct projection + broadcast/shuffle
    anti-join on the key — the standard referential-integrity shape
    (q_dq_checks uses it for assertion; this uses it for discovery).
    All integers; one ratio, rounded at 6."""
    tables = {
        "customer": load_table(spark, sf_dir, "customer"),
        "orders": load_table(spark, sf_dir, "orders"),
        "lineitem": load_table(spark, sf_dir, "lineitem"),
        "part": load_table(spark, sf_dir, "part"),
    }
    cands = [
        ("orders.o_custkey<=customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.l_orderkey<=orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey<=part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        ("customer.c_custkey<=orders.o_custkey", "customer", "c_custkey", "orders", "o_custkey"),
    ]
    outs = []
    for name, ta, ca, tb, cb in cands:
        a = tables[ta].select(F.col(ca).alias("k")).distinct()
        b = tables[tb].select(F.col(cb).alias("k")).distinct()
        nd = a.agg(F.count(F.lit(1)).alias("n_distinct"))
        miss = a.join(b, "k", "left_anti").agg(F.count(F.lit(1)).alias("missing"))
        outs.append(
            nd.crossJoin(F.broadcast(miss)).select(
                F.lit(name).alias("ind"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                F.col("missing").cast("long").alias("missing"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "ind",
        "n_distinct",
        "missing",
        F.round(
            (F.col("n_distinct") - F.col("missing")) * 1.0 / F.col("n_distinct"), 6
        ).alias("containment"),
        (F.col("missing") == 0).alias("is_fk_candidate"),
    ).orderBy("ind")


# ---------------------------------------------------------------------------
# q_scd2_pit_join — point-in-time join of facts against SCD2 versions
# ---------------------------------------------------------------------------


@query(
    "q_scd2_pit_join",
    oracle="""
    WITH ver AS (
      SELECT o_custkey AS custkey, o_orderdate AS valid_from,
             max_by(o_orderpriority, o_orderkey) AS priority
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    fact AS (
      SELECT o.o_custkey AS custkey, l.l_shipdate AS ts,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
               AS rev_cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pit AS (
      SELECT f.custkey, f.rev_cents, coalesce(v.priority, 'unknown') AS priority
      FROM fact f ASOF LEFT JOIN ver v
        ON f.custkey = v.custkey AND f.ts >= v.valid_from
    )
    SELECT priority AS priority_at_ship,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(count(DISTINCT custkey) AS BIGINT) AS n_customers,
           round(sum(rev_cents) / 100.0, 2) AS revenue
    FROM pit GROUP BY priority
    ORDER BY priority
    """,
    tags=("etl", "join", "asof", "scd2"),
)
def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every lineitem shipment looks up the customer's
    order-priority VERSION that was valid at ship time — the SCD2 lookup
    (q_scd2_intervals builds the versions; this query consumes them) that
    answers "what did the dimension say when the fact happened", the
    attribute-freshness contract every warehouse kimball-dimension join
    gets wrong when it joins the CURRENT dimension row instead. Versions
    collapse to one per (custkey, valid_from) by orderkey tiebreak first,
    so the as-of match is unambiguous under same-day version churn.

    Spark executes the scale-correct as-of idiom: versions and facts
    UNION into one relation, ONE window partitioned by custkey ordered by
    (ts, version-first marker) carries the last non-null priority forward
    — one hash shuffle on the dimension key, no per-key interval fan-out
    (an equi-join + interval filter would replicate every version under
    each fact and go quadratic per key at 10x). The DuckDB oracle is the
    native ASOF JOIN — an independent implementation of the same
    semantics. Revenue aggregates exact integer cents."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ver = orders.groupBy(
        F.col("o_custkey").alias("custkey"), F.col("o_orderdate").alias("ts")
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("priority"))
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"), li["l_orderkey"] == F.col("o_orderkey")
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ts"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("rev_cents"),
    )
    unioned = ver.select(
        "custkey", "ts", F.lit(0).alias("is_fact"), "priority", F.lit(None).cast("long").alias("rev_cents")
    ).unionByName(
        fact.select(
            "custkey", "ts", F.lit(1).alias("is_fact"),
            F.lit(None).cast("string").alias("priority"), "rev_cents",
        )
    )
    w = (
        Window.partitionBy("custkey")
        .orderBy("ts", "is_fact")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pit = (
        unioned.withColumn("p_at", F.last("priority", ignorenulls=True).over(w))
        .filter(F.col("is_fact") == 1)
    )
    return (
        pit.groupBy(F.coalesce(F.col("p_at"), F.lit("unknown")).alias("priority_at_ship"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            F.countDistinct("custkey").cast("long").alias("n_customers"),
            F.round(F.sum("rev_cents") / 100.0, 2).alias("revenue"),
        )
        .orderBy("priority_at_ship")
    )
