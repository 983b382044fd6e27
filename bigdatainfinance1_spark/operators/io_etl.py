"""IO / ETL surface: non-parquet sources and sinks (SURVEY.md §2.1 S2/S3)
plus the shared-SQL-text entry point (§3 entry point 3).

Each query exercises a real write → read → analyze cycle so the driver's
gate covers the connector code paths, not just in-memory transforms. The
final aggregates touch only values that survive a text roundtrip exactly
(integer keys, quoted strings, shortest-roundtrip doubles), and double sums
follow the repo convention of round(…,2)/round(…,4) so the order-insensitive
value hash is stable across engines.

Scale notes: CSV/JSON ingest should always pass an explicit schema in
production (inference is a full extra pass); the parquet sink partitions by
a low-cardinality derived column (order year) which is what enables static
and dynamic partition pruning on re-read — the re-read query below filters
on the partition column, and tests/test_plans.py asserts the pruned scan.
Scratch paths come from catalog.scratch_dir, keyed by the source table's
fingerprint; a stage reused once written goes through catalog.staged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import (
    load_table,
    read_csv,
    read_json,
    scratch_dir,
    staged,
    write_parquet,
)


@query(
    "q_csv_roundtrip",
    oracle="""
    SELECT
      r.r_name,
      count(*)          AS n_nations,
      min(n.n_nationkey) AS min_key,
      max(n.n_nationkey) AS max_key
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("io", "etl"),
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3: write `nation` to CSV (header, quoted strings), read it back
    with the ORIGINAL schema (no inference pass), broadcast-join `region`,
    aggregate. Key/count aggregates are textually lossless, so the result
    must equal querying the parquet directly — which is the oracle."""
    nation = load_table(spark, sf_dir, "nation")
    path = scratch_dir("csv_nation", sf_dir, "nation")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv(spark, path, inferSchema="false")
    # header=true preserves names; re-apply dtypes from the parquet schema
    for f_ in nation.schema.fields:
        back = back.withColumn(f_.name, F.col(f_.name).cast(f_.dataType))
    region = load_table(spark, sf_dir, "region")
    return (
        back.join(F.broadcast(region), back.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_nationkey").alias("min_key"),
            F.max("n_nationkey").alias("max_key"),
        )
    )


@query(
    "q_json_roundtrip",
    oracle="""
    SELECT
      o_orderstatus,
      count(*)                  AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS total_price,
      min(o_orderkey)           AS min_orderkey,
      max(o_orderkey)           AS max_orderkey
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("io", "etl"),
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: write an orders projection as JSON lines, read it back with an
    explicit schema, aggregate per status. Doubles survive because Spark's
    JSON writer emits shortest-roundtrip representations; the sum is rounded
    per repo convention since summation order still differs from DuckDB."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch_dir("json_orders", sf_dir, "orders")
    orders.write.mode("overwrite").json(path)
    back = read_json(spark, path, schema=orders.schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("total_price"),
        F.min("o_orderkey").alias("min_orderkey"),
        F.max("o_orderkey").alias("max_orderkey"),
    )


@query(
    "q_partitioned_sink",
    oracle="""
    SELECT
      CAST(month(o_orderdate) AS BIGINT) AS o_month,
      count(*)                           AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2)        AS total_price,
      count(DISTINCT o_custkey)          AS n_custs
    FROM orders
    WHERE year(o_orderdate) = 1996
    GROUP BY o_month
    """,
    tags=("io", "etl"),
)
def partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: write orders partitioned by derived year, re-read, filter ONE
    partition, aggregate by month. The filter on the partition column prunes
    to a single directory at scan time (partition pruning — the mechanism
    that keeps a 100 TB date-partitioned table queryable); verified in
    tests/test_plans.py via the plan's PartitionFilters."""
    orders = load_table(spark, sf_dir, "orders")
    path = scratch_dir("orders_by_year", sf_dir, "orders")
    write_parquet(
        orders.withColumn("o_year", F.year("o_orderdate")), path, partition_by=("o_year",)
    )
    # read back with the schema written (the partition column comes last),
    # so no job re-infers it from the footers
    back = spark.read.schema(
        StructType(orders.schema.fields + [StructField("o_year", IntegerType())])
    ).parquet(path)
    return (
        back.filter(F.col("o_year") == 1996)
        .groupBy(F.month("o_orderdate").cast("long").alias("o_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("total_price"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


_SHARED_SQL = """
    SELECT
      o_orderpriority,
      count(*) AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY o_orderpriority
"""


sql_query(
    "q_sql_shared_text", _SHARED_SQL, tags=("sql", "etl"),
    doc="""Entry point 3 (SURVEY.md §3): ONE SQL string executed verbatim by both
    engines — Spark runs it over temp views named exactly like the oracle's
    DuckDB views, proving the SQL surface agrees on the shared dialect subset
    (ANSI aggregates, timestamp literals, round).""",
)


SNAPSHOT_MAX_KEY = 1000


@query(
    "q_merge_upsert",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= {SNAPSHOT_MAX_KEY}
    ),
    delta AS (
      SELECT o_custkey AS custkey, round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS open_total
      FROM orders WHERE o_orderstatus = 'O'
      GROUP BY o_custkey
    )
    SELECT
      coalesce(b.c_custkey, d.custkey)                    AS custkey,
      round(coalesce(b.c_acctbal, 0.0)
            + coalesce(d.open_total, 0.0), 2)             AS acctbal_new,
      CASE WHEN b.c_custkey IS NULL THEN 'inserted'
           WHEN d.custkey  IS NULL THEN 'unchanged'
           ELSE 'updated' END                             AS merge_action
    FROM base b
    FULL JOIN delta d ON b.c_custkey = d.custkey
    """,
    tags=("etl", "join"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics without a table format: apply a delta (per-
    customer open-order totals) onto a base snapshot (customers with key ≤
    1000) via FULL OUTER JOIN + coalesce — matched keys update, delta-only
    keys insert, base-only keys pass through unchanged, each row tagged with
    its merge action. This is exactly the shuffle plan a Delta/Iceberg MERGE
    lowers to (minus the transactional commit); both sides hash-partition
    on the key once. The delta is pre-aggregated before the join so the
    join input is one row per key — the same pushdown as q_star_join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = cust.filter(F.col("c_custkey") <= SNAPSHOT_MAX_KEY).select("c_custkey", "c_acctbal")
    delta = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("open_total"))
    )
    joined = base.join(delta, base.c_custkey == delta.custkey, "outer")
    return joined.select(
        F.coalesce("c_custkey", "custkey").alias("custkey"),
        F.round(
            F.coalesce("c_acctbal", F.lit(0.0)) + F.coalesce("open_total", F.lit(0.0)), 2
        ).alias("acctbal_new"),
        F.when(F.col("c_custkey").isNull(), "inserted")
        .when(F.col("custkey").isNull(), "unchanged")
        .otherwise("updated")
        .alias("merge_action"),
    )


@query(
    "q_python_datasource",
    oracle="""
    WITH ticks AS (
      SELECT
        i                                                             AS tick_id,
        100.0 + ((1103515245 * i + 12345) % 2147483648)
                / 2147483648.0 * 10.0                                 AS price,
        ((69069 * i + 1) % 97) + 1                                    AS qty
      FROM range(20000) t(i)
    )
    SELECT
      CAST(floor(price) AS BIGINT)     AS price_band,
      count(*)                         AS n_ticks,
      CAST(sum(qty) AS BIGINT)         AS total_qty,
      round(sum(price * qty), 2)       AS notional,
      round(sum(price * qty) / sum(qty), 6) AS vwap
    FROM ticks
    GROUP BY price_band
    """,
    tags=("source", "connector", "finance"),
)
def python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector (Spark 4 Python DataSource API): read the synthetic
    tick feed — 8 parallel generator partitions — and aggregate per price
    band (count, quantity, notional, VWAP). The generator's integer-LCG +
    power-of-two-division arithmetic is IEEE-exact, so DuckDB's range()
    reproduces the identical doubles and this custom source gets a full
    value-hash oracle, not a rows-only waiver. See sources/ticks.py for the
    partition-striding design that makes results partition-count-invariant."""
    from bigdatainfinance1_spark.sources import ticks as ticks_src

    ticks_src.register(spark)
    t = spark.read.format("synthetic_ticks").load()
    return (
        t.groupBy(F.floor("price").cast("long").alias("price_band"))
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("qty").cast("long").alias("total_qty"),
            F.round(F.sum(F.col("price") * F.col("qty")), 2).alias("notional"),
            F.round(F.sum(F.col("price") * F.col("qty")) / F.sum("qty"), 6).alias("vwap"),
        )
    )


@query(
    "q_orc_roundtrip",
    oracle="""
    SELECT
      o_orderpriority,
      count(*)                    AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS total_price,
      min(o_orderdate)            AS first_date,
      max(o_orderdate)            AS last_date
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("io", "etl"),
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3 extra format: write orders to ORC (Spark's other built-in
    columnar format, zlib-striped), read it back, aggregate per priority.
    ORC is binary-exact for doubles and timestamps so nothing is lost in
    the roundtrip; the sum still follows the round(…,2) convention because
    summation order differs from the oracle engine. Schema rides in the
    file footer — no inference pass on re-read."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    path = scratch_dir("orc_orders", sf_dir, "orders")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2).alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@query(
    "q_incremental_mv",
    oracle="""
    SELECT
      o_orderpriority,
      count(*)                    AS n_orders,
      round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("io", "etl"),
)
def incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-priority revenue
    MV is built from history (orders before 1997-01-01), then REFRESHED by
    merging only the delta partition's partial aggregate — partials
    combine by key (sum/count are commutative monoids), never rescanning
    history. The oracle recomputes from scratch; matching it proves the
    merge is lossless. Rounding happens ONLY after the merge (partials
    carry raw doubles — rounding partials would double-round). At 100 TB
    this is the nightly-refresh pattern: delta scan + k-row merge instead
    of a full-history scan."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    partial = lambda df: df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("_rev_raw")
    )
    mv = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        mv.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("_rev_raw").alias("_rev"))
        .select(
            "o_orderpriority",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round("_rev", 2).alias("revenue"),
        )
    )


@query(
    "q_schema_evolution",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_priority_rank
      FROM orders WHERE year(o_orderdate) < 1998
      UNION ALL
      SELECT o_orderkey, o_totalprice,
             CAST(substr(o_orderpriority, 1, 1) AS INT) AS o_priority_rank
      FROM orders WHERE year(o_orderdate) >= 1998
    )
    SELECT
      CASE WHEN o_priority_rank IS NULL THEN 'v1' ELSE 'v2' END AS schema_version,
      CAST(count(*) AS BIGINT)                                  AS n_rows,
      round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100e0, 2) AS revenue,
      CAST(count(o_priority_rank) AS BIGINT)                    AS n_with_rank
    FROM unioned
    GROUP BY schema_version
    """,
    tags=("io", "etl"),
)
def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet data lake: a v1 batch (two columns)
    and a v2 batch (adds o_priority_rank) land in the same directory;
    `mergeSchema=true` reconciles them at read time, null-filling the
    column for v1 files — the append-only-lake migration pattern every
    long-lived pipeline hits. The oracle reproduces the merged relation
    with a NULL-padded UNION ALL over the same year split. Revenue is
    summed as exact integer cents (7.5k rows/group is deep inside the
    half-cent-flip zone for double sums — repo rule); counts are exact. Scale: schema merge is a
    footer-only operation — data pages are untouched, so the read cost is
    identical to a homogeneous directory."""
    orders = load_table(spark, sf_dir, "orders")

    def write(path: str) -> None:
        v1 = orders.filter(F.year("o_orderdate") < 1998).select("o_orderkey", "o_totalprice")
        v2 = orders.filter(F.year("o_orderdate") >= 1998).select(
            "o_orderkey",
            "o_totalprice",
            F.substring("o_orderpriority", 1, 1).cast("int").alias("o_priority_rank"),
        )
        v1.write.parquet(os.path.join(path, "batch=v1"))
        v2.write.parquet(os.path.join(path, "batch=v2"))

    path = staged("schema_evo", sf_dir, "orders", write)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=v1"), os.path.join(path, "batch=v2")
    )
    return (
        merged.withColumn(
            "schema_version",
            F.when(F.col("o_priority_rank").isNull(), "v1").otherwise("v2"),
        )
        .groupBy("schema_version")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2
            ).alias("revenue"),
            F.count("o_priority_rank").cast("long").alias("n_with_rank"),
        )
    )


@query(
    "q_compact_small_files",
    oracle="""
    SELECT
      CAST(count(DISTINCT ((o_orderkey % 64) + 64) % 64) AS BIGINT) AS n_files_before,
      CAST(count(DISTINCT ((o_orderkey % 4) + 4) % 4) AS BIGINT)    AS n_files_after,
      CAST(count(*) AS BIGINT)                             AS n_rows,
      round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100e0, 2) AS revenue
    FROM orders
    """,
    tags=("io", "etl", "scale"),
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every streaming
    or micro-batch lake needs: a 64-way fragmented landing zone (the
    small-file problem: per-file open/footer costs dominate scans and
    overwhelm the driver's split planning at 100 TB) is rewritten into 4
    right-sized files. The query reports the ACTUAL file counts observed
    on disk before/after and proves losslessness with exact row and
    integer-cents revenue checksums over the compacted copy. Rows are
    placed by ``o_orderkey`` mod 64 (then mod 4), and Spark writes no file
    for an empty partition, so the file counts are the numbers of distinct
    residues the oracle computes: 64 and 4 on the dense TPC-H keys, fewer
    on a table with fewer keys. On a cluster the same job targets
    ~shuffle-partition-sized outputs (maxRecordsPerFile / AQE coalesce);
    4 files is the local-mode stand-in."""
    orders = load_table(spark, sf_dir, "orders")

    def by_key(df: DataFrame, n: int) -> DataFrame:
        return df.repartitionById(n, F.pmod("o_orderkey", F.lit(n)).cast("int"))

    frag = staged("frag_orders", sf_dir, "orders", by_key(orders, 64).write.parquet)
    compact = staged(
        "compact_orders",
        sf_dir,
        "orders",
        lambda p: by_key(spark.read.schema(orders.schema).parquet(frag), 4).write.parquet(p),
    )
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    n_after = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    return (
        spark.read.schema(orders.schema).parquet(compact)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2
            ).alias("revenue"),
        )
        .select(
            F.lit(n_before).cast("long").alias("n_files_before"),
            F.lit(n_after).cast("long").alias("n_files_after"),
            "n_rows",
            "revenue",
        )
    )


@query(
    "q_csv_malformed",
    oracle="""
    WITH src AS (SELECT count(*) AS n_nation FROM nation)
    SELECT
      CAST(n_nation + 5 AS BIGINT) AS n_lines_staged,
      CAST(n_nation AS BIGINT)     AS n_parsed_permissive_good,
      CAST(5 AS BIGINT)            AS n_corrupt,
      CAST(n_nation AS BIGINT)     AS n_dropmalformed
    FROM src
    """,
    tags=("io", "etl", "quality"),
)
def csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on CSV ingest — the dirty-data reality of
    any landing zone: a staged file carries the nation table plus 5
    deliberately corrupt lines (wrong arity / non-numeric keys). Read
    twice: PERMISSIVE mode with columnNameOfCorruptRecord capturing the
    bad lines in-band (counted via the corrupt column), and DROPMALFORMED
    discarding them. The corrupt-line count is pinned by construction, so
    the oracle states the full contract arithmetically from the clean
    relation — an unexpected parse (a corrupt line sneaking through, or a
    good line dropped) fails the hash. Scale: malformed handling is
    per-row in the scan — no coordination, no extra pass."""
    import csv as _csv

    nation = load_table(spark, sf_dir, "nation")

    def write(path: str) -> None:
        os.makedirs(path)
        rows = nation.orderBy("n_nationkey").collect()
        with open(os.path.join(path, "data.csv"), "w", newline="") as f:
            wr = _csv.writer(f)
            wr.writerow(["n_nationkey", "n_name", "n_regionkey"])
            for r in rows:
                wr.writerow([r["n_nationkey"], r["n_name"], r["n_regionkey"]])
            f.write("not_a_number,BROKEN,also_bad\n")
            f.write("99,UNQUOTED,STRAY,extra,fields,here\n")
            f.write("x,y,z\n")
            f.write("abc,MISSING_KEY,q\n")
            f.write(",,,,,,,,\n")

    path = staged("csv_malformed", sf_dir, "nation", write)
    schema = "n_nationkey LONG, n_name STRING, n_regionkey LONG, _corrupt STRING"
    permissive = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(os.path.join(path, "data.csv"))
        .cache()
    )
    n_good = permissive.filter(F.col("_corrupt").isNull()).count()
    n_corrupt = permissive.filter(F.col("_corrupt").isNotNull()).count()
    permissive.unpersist()  # both counts taken; don't leak the cache
    # .count() would let the CSV reader prune every column and parse nothing,
    # so DROPMALFORMED would drop nothing (upstream behavior: malformation is
    # only detected for columns actually read). collect() forces full rows.
    dropped = len(
        spark.read.schema("n_nationkey LONG, n_name STRING, n_regionkey LONG")
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(os.path.join(path, "data.csv"))
        .collect()
    )
    return spark.createDataFrame(
        [(n_good + n_corrupt, n_good, n_corrupt, dropped)],
        "n_lines_staged long, n_parsed_permissive_good long, n_corrupt long, n_dropmalformed long",
    )


@query(
    "q_fixed_width_ingest",
    oracle="""
    SELECT
      o_orderstatus AS status,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      CAST(min(o_orderkey) AS BIGINT) AS min_key,
      CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY status
    """,
    tags=("io", "etl"),
)
def fixed_width_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 fourth text format: FIXED-WIDTH records (the mainframe/legacy
    export layout every finance shop still ingests) — orders are written
    as 12+1+12+8 char lines (zero-padded key, status char, zero-padded
    cents, yyyyMMdd date) via format_string into a text file, then read
    back with spark.read.text and parsed by SUBSTRING offsets with
    explicit casts. Aggregating the parsed relation per status must equal
    querying the parquet directly — which is the oracle, so the
    write→parse→cast chain is verified losslessly end-to-end. Scale:
    text source splits by line ranges like any file format; the substring
    parse is a narrow JVM map (no UDF), exactly how a production
    fixed-width ingest should look."""
    orders = load_table(spark, sf_dir, "orders")
    path = scratch_dir("fixedwidth_orders", sf_dir, "orders")
    lines = orders.select(
        F.format_string(
            "%012d%s%012d%s",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
            F.date_format("o_orderdate", "yyyyMMdd"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.substring("value", 1, 12).cast("long").alias("key"),
        F.substring("value", 13, 1).alias("status"),
        F.substring("value", 14, 12).cast("long").alias("cents"),
        F.to_date(F.substring("value", 26, 8), "yyyyMMdd").alias("d"),
    )
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
        F.min("key").cast("long").alias("min_key"),
        F.max("key").cast("long").alias("max_key"),
    )


@query(
    "q_compression_codecs",
    oracle="""
    SELECT
      'snappy' AS codec,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS checksum_cents
    FROM lineitem
    UNION ALL
    SELECT
      'zstd' AS codec,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS checksum_cents
    FROM lineitem
    """,
    tags=("io", "etl", "storage"),
)
def compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-codec tuning pass (S3 family): write lineitem as parquet
    under snappy AND zstd, read each back, and prove content equality via
    row count + exact-cents checksum per codec (the oracle is the source
    table twice — lossless by definition or the hash fails). The side
    effect every lakehouse team actually tunes — file size — is logged to
    stdout (zstd typically ~25-35%% smaller at similar scan speed; codec
    choice is a table property, not a code change). Scale: two writes +
    two scans; at 100 TB you'd sample partitions for the size study, but
    the equality gate is the same aggregate."""
    import glob as _glob

    li = load_table(spark, sf_dir, "lineitem")
    out = {}
    for codec in ("snappy", "zstd"):
        path = scratch_dir(f"codec_{codec}", sf_dir, "lineitem")
        li.write.mode("overwrite").option("compression", codec).parquet(path)
        nbytes = sum(
            os.path.getsize(p) for p in _glob.glob(os.path.join(path, "*.parquet"))
        )
        import sys

        print(f"codec={codec} bytes={nbytes}", file=sys.stderr)
        back = spark.read.parquet(path)
        out[codec] = back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("checksum_cents"),
        ).withColumn("codec", F.lit(codec))
    return out["snappy"].unionByName(out["zstd"]).select("codec", "n_rows", "checksum_cents")


# ---------------------------------------------------------------------------
# q_python_datasink — custom Python DataSource WRITER round-trip
# ---------------------------------------------------------------------------

_SINK_SQL = """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
"""


@query("q_python_datasink", oracle=_SINK_SQL, tags=("io", "spark4", "connector"))
def python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the custom-connector surface (q_python_datasource
    is the read half): per-nation order counts and revenue cents are
    written through the Spark-4 Python DataSource writer
    (sources/jsonl_sink.py — one JSON-lines file per partition on the
    executors, two-phase commit with a driver-side manifest), then read
    BACK from the sink's files and returned — so the hash-checked result
    has physically passed through the custom sink. The payload carries
    integers only (cents, counts, names); the 2-dp dollars are computed
    after readback, so JSON round-tripping is exact by construction.

    Scale: the aggregate reduces map-side before the sink sees rows; the
    sink itself is embarrassingly parallel (one file per partition, no
    driver funnel) — the structure that matters when the 'sink' is a
    vendor API taking 100 TB of results. The scratch dir is wiped first,
    so a rerun never reads the last call's files."""
    import shutil

    from bigdatainfinance1_spark.sources import jsonl_sink

    jsonl_sink.register(spark)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    agg = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
    )
    path = scratch_dir("jsonl_sink", sf_dir, "orders")
    shutil.rmtree(path, ignore_errors=True)
    agg.write.format("jsonl_sink").option("path", path).mode("append").save()
    # manifest-driven readback (NOT a glob): only the files commit()
    # recorded count — orphaned retry/speculation attempt files are inert.
    back = jsonl_sink.read_committed(
        spark, path, "n_name string, n_orders bigint, rev_cents bigint"
    )
    return back.select(
        "n_name",
        "n_orders",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
    ).orderBy("n_name")
