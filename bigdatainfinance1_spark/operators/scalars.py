"""Scalar function families: string / date / math / array / JSON / hash
(SURVEY.md §2.7). One representative query per family; each stays entirely
inside whole-stage codegen (no UDFs).

Dialect notes baked in (SURVEY.md §5): Spark `size`/`ceil`/`year` return
int/long — both sides cast to BIGINT; Spark `array_*` ↔ DuckDB `list_*`;
regexp kept to a shared-subset flavor; transcendental functions (ln, exp)
rounded to 6 (libm last-ulp differences).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table


@query(
    "q_string_funcs",
    oracle="""
    SELECT
      p_partkey,
      upper(p_brand)                                   AS brand_up,
      lower(substr(p_name, 1, 8))                      AS name_prefix,
      CAST(length(p_name) AS BIGINT)                   AS name_len,
      CAST(len(string_split(p_name, ' ')) AS BIGINT)   AS n_words,
      concat(p_brand, ':', p_type)                     AS brand_type,
      regexp_extract(p_brand, '([0-9]+)', 1)           AS brand_num,
      replace(p_type, ' ', '_')                        AS type_snake,
      trim(p_name)                                     AS name_trim
    FROM part
    """,
    tags=("scalar", "string"),
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: string family — case, substring, length, split, concat, regex
    extract, replace, trim."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.lower(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.size(F.split("p_name", " ")).cast("long").alias("n_words"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.trim("p_name").alias("name_trim"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT
      CAST(year(o_orderdate) AS BIGINT)     AS yr,
      CAST(quarter(o_orderdate) AS BIGINT)  AS qtr,
      count(*)                              AS n_orders,
      min(date_trunc('month', o_orderdate)) AS first_month,
      CAST(max(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS BIGINT)
                                            AS max_days_since_95,
      max(last_day(CAST(o_orderdate AS DATE))) AS latest_month_end
    FROM orders
    GROUP BY yr, qtr
    """,
    tags=("scalar", "date"),
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: date/time family — year, quarter, date_trunc, datediff, last_day
    (o_orderdate is date-valued but timestamp-typed — FIXTURES.md)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.date_trunc("month", "o_orderdate")).alias("first_month"),
            F.max(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")))
            .cast("long")
            .alias("max_days_since_95"),
            F.max(F.last_day(F.col("o_orderdate").cast("date"))).alias("latest_month_end"),
        )
    )


sql_query(
    "q_math_funcs",
    """
    SELECT
      l_orderkey,
      l_linenumber,
      round(l_extendedprice, 1)                         AS price_r1,
      abs(l_discount - 0.05)                            AS disc_dev,
      CAST(ceil(l_quantity) AS BIGINT)                  AS qty_ceil,
      CAST(floor(l_quantity) AS BIGINT)                 AS qty_floor,
      round(ln(l_extendedprice), 6)                     AS price_ln,
      round(sqrt(l_quantity), 6)                        AS qty_sqrt,
      l_quantity * l_quantity                           AS qty_sq,
      greatest(l_discount, l_tax)                       AS max_rate,
      least(l_discount, l_tax)                          AS min_rate
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
    tags=("scalar", "math"),
    doc="""F3: math family. ln/sqrt rounded to 6 (libm implementations may differ
    in the last ulp between JVM and C); +-*-/ and sqrt are IEEE-exact.""",
)


@query(
    "q_array_funcs",
    oracle="""
    SELECT
      vec_id,
      CAST(len(embedding) AS BIGINT)                       AS dim,
      embedding[1]                                         AS first_val,
      embedding[64]                                        AS last_val,
      round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_sum,
      round(CAST(list_max(embedding) AS DOUBLE), 6)        AS vec_max,
      round(CAST(list_min(embedding) AS DOUBLE), 6)        AS vec_min
    FROM embeddings
    """,
    tags=("scalar", "array"),
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: array family over the 64-dim embedding column — size, indexing,
    higher-order aggregate (fold), min/max. Elements are cast float→double
    BEFORE summation so both engines accumulate in double."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.element_at("embedding", 64).alias("last_val"),
        F.round(vec_sum, 6).alias("vec_sum"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vec_max"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("vec_min"),
    )


@query(
    "q_json_funcs",
    oracle="""
    SELECT
      CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
      count(*)                                                AS n_events,
      round(sum(value), 4)                                    AS total_value,
      CAST(min(json_extract_string(props, '$.k') ) AS BIGINT) AS min_k,
      CAST(max(json_extract_string(props, '$.k')) AS BIGINT)  AS max_k
    FROM events
    GROUP BY k_bucket
    """,
    tags=("scalar", "json", "events"),
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+F6: JSON extraction from the props column (shape {"k": <int>}),
    bucketed aggregation over the extracted value."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy((F.col("k") / 10).cast("long").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "q_hash_funcs",
    oracle="""
    SELECT
      c_custkey,
      md5(c_name)            AS name_md5,
      sha256(c_name)         AS name_sha256,
      substr(md5(c_mktsegment), 1, 8) AS seg_hash8
    FROM customer
    WHERE c_custkey % 10 = 0
    """,
    tags=("scalar", "hash"),
)
def hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: cryptographic hash family (md5 / sha256) — the dedup-key
    substrate. Engine-specific hashes (xxhash64) are used internally by the
    MinHash operators but never surfaced to the oracle."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    return cust.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        F.substring(F.md5("c_mktsegment"), 1, 8).alias("seg_hash8"),
    )
