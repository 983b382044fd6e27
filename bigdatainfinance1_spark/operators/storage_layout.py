"""Columnar storage-layout audits: the three mechanisms that decide how
much of a 100 TB table a scan actually touches — bitmap indexes
(predicate intersection by bitwise AND + popcount), run-length encoding
(why sort order decides columnar compression), and zone maps (min/max
block pruning under arrival vs clustered layout). Each is expressed as
a relation whose numbers ARE the design argument: the same audits a
table-layout job runs before choosing sort keys and partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_bitmap_index_and — predicate intersection via bitmaps + popcount
# ---------------------------------------------------------------------------

_BM_SQL = """
    WITH base AS (
      SELECT doc_id,
             doc_id // 32 AS w,
             CAST(doc_id % 32 AS BIGINT) AS b,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pa,
             CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS pb
      FROM documents
    ),
    words AS (
      SELECT w,
             bit_or(CASE WHEN pa = 1 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
               AS wa,
             bit_or(CASE WHEN pb = 1 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
               AS wb
      FROM base GROUP BY w
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(bit_count(wa)) AS BIGINT) AS count_a,
             CAST(sum(bit_count(wb)) AS BIGINT) AS count_b,
             CAST(sum(bit_count(wa & wb)) AS BIGINT) AS count_and
      FROM words
    ),
    direct AS (
      SELECT CAST(count(*) AS BIGINT) AS direct_and
      FROM base WHERE pa = 1 AND pb = 1
    )
    SELECT a.n_words, a.count_a, a.count_b, a.count_and, d.direct_and,
           a.count_and = d.direct_and AS bitmap_matches_scan
    FROM agg a CROSS JOIN direct d
"""


@query("q_bitmap_index_and", oracle=_BM_SQL, tags=("scale", "layout"))
def bitmap_index_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index predicate intersection: pack each predicate's
    matching rows into 32-bit words (word = doc_id/32, bit = doc_id%32 —
    bit 31 stays clear of BIGINT's sign position, which DuckDB's checked
    shift refuses to touch;
    bit_or per word), then count the conjunction lang='en' AND
    n_chars>500 as popcount(word_a & word_b) — the bitmap-index
    evaluation strategy (one AND + popcount per word instead of 32
    predicate evaluations), cross-checked in-query against the direct
    scan. The mechanism under every bitmap/roaring index and Spark's
    own null-tracking bitmaps; on a real table the words relation IS
    the index — built once, intersected per query.

    Determinism: pure integer bit arithmetic — shifts, OR, AND, and
    popcount are two's-complement-identical on both engines. Scale:
    one scan to n/32 words; every aggregate map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.floor(F.col("doc_id") / 32).cast("long").alias("w"),
        (F.col("doc_id") % 32).cast("long").alias("b"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pa"),
        F.when(F.col("n_chars") > 500, 1).otherwise(0).alias("pb"),
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))")
    words = base.groupBy("w").agg(
        F.bit_or(
            F.when(F.col("pa") == 1, mask).otherwise(F.lit(0).cast("long"))
        ).alias("wa"),
        F.bit_or(
            F.when(F.col("pb") == 1, mask).otherwise(F.lit(0).cast("long"))
        ).alias("wb"),
    )
    agg = words.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.bit_count("wa")).cast("long").alias("count_a"),
        F.sum(F.bit_count("wb")).cast("long").alias("count_b"),
        F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
        .cast("long")
        .alias("count_and"),
    )
    direct = base.filter((F.col("pa") == 1) & (F.col("pb") == 1)).agg(
        F.count(F.lit(1)).cast("long").alias("direct_and")
    )
    return agg.crossJoin(F.broadcast(direct)).select(
        "n_words",
        "count_a",
        "count_b",
        "count_and",
        "direct_and",
        (F.col("count_and") == F.col("direct_and")).alias("bitmap_matches_scan"),
    )


# ---------------------------------------------------------------------------
# q_rle_audit — run-length compression under arrival vs clustered order
# ---------------------------------------------------------------------------

_RLE_SQL = """
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS mi,
             o_orderkey AS k, o_orderpriority AS v
      FROM orders
    ),
    fa AS (
      SELECT CASE WHEN v IS DISTINCT FROM
               lag(v) OVER (PARTITION BY mi ORDER BY k) THEN 1 ELSE 0 END AS nr
      FROM base
    ),
    fc AS (
      SELECT CASE WHEN v IS DISTINCT FROM
               lag(v) OVER (PARTITION BY mi ORDER BY v, k) THEN 1 ELSE 0 END AS nr
      FROM base
    ),
    arrival AS (
      SELECT 'arrival' AS layout, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(nr) AS BIGINT) AS n_runs
      FROM fa
    ),
    clustered AS (
      SELECT 'clustered' AS layout, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(nr) AS BIGINT) AS n_runs
      FROM fc
    )
    SELECT layout, n_rows, n_runs,
           round(n_rows * 1e0 / n_runs, 4) AS avg_run_len,
           round(n_runs * 1e0 / n_rows, 6) AS rle_ratio
    FROM (SELECT * FROM arrival UNION ALL SELECT * FROM clustered)
    ORDER BY layout
"""


sql_query(
    "q_rle_audit", _RLE_SQL, tags=("scale", "layout"),
    doc="""Run-length encoding audit: count value runs of o_orderpriority
    within each month partition under ARRIVAL order (orderkey) vs
    CLUSTERED order (sorted by the column) — the measured answer to
    "what does sorting this table by its low-cardinality column buy the
    columnar encoder?" (RLE stores one entry per run: clustered order
    collapses a month to ~5 runs; arrival order leaves ~one run per
    row). The audit a layout job runs before choosing sort keys; the
    partition-local framing is exactly how parquet row groups see the
    data, and keeps every window month-partitioned (never a global
    sort).

    Determinism: run boundaries are IS DISTINCT FROM comparisons over
    totally ordered frames; everything is exact integer counting,
    ratios rounded 4/6. Scale: two window passes sharing the month
    shuffle; O(1) output.""",
)


# ---------------------------------------------------------------------------
# q_zone_map_prune — min/max block pruning under arrival vs clustered layout
# ---------------------------------------------------------------------------

ZM_BLOCK = 512  # rows per block (the row-group stand-in)
ZM_LO = 50000.0  # range predicate on o_totalprice
ZM_HI = 60000.0

_ZM_SQL = f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    arrival AS (
      SELECT 'arrival' AS layout, k // {ZM_BLOCK} AS blk,
             CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
      FROM base GROUP BY k // {ZM_BLOCK}
    ),
    clustered AS (
      SELECT 'clustered' AS layout, v // (100 * 1000) AS blk,
             CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
      FROM base GROUP BY v // (100 * 1000)
    ),
    zones AS (SELECT * FROM arrival UNION ALL SELECT * FROM clustered)
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN hi < {ZM_LO} * 100 OR lo > {ZM_HI} * 100
                    THEN 1 ELSE 0 END) AS BIGINT) AS blocks_pruned,
           round(sum(CASE WHEN hi < {ZM_LO} * 100 OR lo > {ZM_HI} * 100
                     THEN 1 ELSE 0 END) * 1e0 / count(*), 6) AS prune_rate
    FROM zones GROUP BY layout ORDER BY layout
"""


@query("q_zone_map_prune", oracle=_ZM_SQL, tags=("scale", "layout"))
def zone_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max block statistics) pruning audit: blocks of
    ~{ZM_BLOCK} rows carry (min, max) of o_totalprice; a range scan
    [{ZM_LO}, {ZM_HI}] skips every block whose interval misses the
    predicate. Arrival layout (blocks by orderkey) leaves min/max
    spanning the whole domain — nothing prunes; value-clustered layout
    (blocks by price band) prunes all but the touched bands. THE
    argument for sort/cluster keys in any parquet/ lakehouse table —
    the same statistic Spark reads as parquet row-group min/max and
    the repo's q_partitioned_sink exploits at directory level, audited
    here as a relation.

    Determinism: exact integer cents, integer block ids, integer
    interval comparisons; one ratio rounded 6. Scale: two map-side
    aggregates to O(blocks) zone relations; O(1) output per layout."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    arrival = base.groupBy(
        F.floor(F.col("k") / ZM_BLOCK).cast("long").alias("blk")
    ).agg(
        F.min("v").cast("long").alias("lo"), F.max("v").cast("long").alias("hi")
    ).select(F.lit("arrival").alias("layout"), "blk", "lo", "hi")
    clustered = base.groupBy(
        F.floor(F.col("v") / (100 * 1000)).cast("long").alias("blk")
    ).agg(
        F.min("v").cast("long").alias("lo"), F.max("v").cast("long").alias("hi")
    ).select(F.lit("clustered").alias("layout"), "blk", "lo", "hi")
    zones = arrival.unionByName(clustered)
    pruned = F.when(
        (F.col("hi") < ZM_LO * 100) | (F.col("lo") > ZM_HI * 100), 1
    ).otherwise(0)
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(pruned).cast("long").alias("blocks_pruned"),
            F.round(F.sum(pruned) * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "prune_rate"
            ),
        )
        .orderBy("layout")
    )
