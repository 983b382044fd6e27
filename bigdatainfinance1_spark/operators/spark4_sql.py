"""Spark 4 SQL surface coverage: pipe syntax, LATERAL joins, VARIANT, UNPIVOT.

Carved out of operators/analytics3.py (round-2 wave 6-7) in round 3 (verdict task 7:
no operator module over 1.5k LoC); 4 registered queries, bodies
unchanged — git follows the move via --find-copies.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from bigdatainfinance1_spark.registry import query, sql_query
from bigdatainfinance1_spark.sources.catalog import load_table, register_views


# Not sql_query: the Spark text uses pipe syntax (|>), the oracle classic SQL.
@query(
    "q_pipe_syntax",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(count(*) AS BIGINT) AS n_lines,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        AS revenue_cents
    FROM lineitem
    WHERE l_quantity > 10
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "sql-surface"),
)
def pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL PIPE syntax (|>) — the linear FROM-first dialect
    (scan |> filter |> aggregate) that reads in dataflow order instead of
    inside-out SQL; semantically identical to the classic text the oracle
    runs, so this query pins the new parser surface against the old one.
    The plan is the same filter-pushdown + partial-agg shape either way —
    syntax sugar, zero plan cost, but a real API users will write."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity > 10
        |> AGGREGATE
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_lines, revenue_cents
        """
    )


@query(
    "q_variant_props",
    oracle="""
    SELECT
      event_type,
      CAST(count(*) AS BIGINT)                              AS n,
      CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT)      AS min_k,
      CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT)      AS max_k,
      CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT)      AS sum_k
    FROM events
    GROUP BY event_type
    """,
    tags=("scalar", "semi-structured", "json"),
)
def variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: parse the
    props JSON once into a variant and extract a typed path
    (variant_get '$.k' → long) — the open-schema ingestion path that
    replaces per-query get_json_object string re-parsing (q_json_funcs is
    the classic-function twin). The binary variant encoding is the point
    at scale: parse once at ingest, push typed extractions into the scan.
    The DuckDB oracle reads the same path via its native JSON operator —
    typed values agree exactly (integers). Aggregated per event type so
    the comparison is a 5-row profile."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
        F.sum(k).cast("long").alias("sum_k"),
    )


# Top-N-per-group via LATERAL correlated subquery (Spark 4 / DuckDB both
# plan it); the window row_number form is the classic alternative — this is
# the join-shaped one, and one SQL text runs on both engines.
_LATERAL_SQL = """
    SELECT n.n_name AS nation, t.c_custkey AS custkey,
           round(t.c_acctbal, 2) AS acctbal
    FROM nation n,
    LATERAL (
      SELECT c_custkey, c_acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) t
"""


sql_query(
    "q_lateral_topn", _LATERAL_SQL, tags=("join", "relational"),
    doc="""Top-2 customers by account balance per nation as a LATERAL
    correlated subquery — the join-shaped top-N-per-group that Spark 4
    added alongside the classic window formulation (q_rank_top_customers
    is the row_number twin). The (balance DESC, custkey) order is total,
    so both engines pick identical rows. Catalyst rewrites the lateral
    into a ranked join over the 25-row outer — at scale the same text
    expresses per-key candidate retrieval without materializing the full
    ranking. One SQL text runs verbatim on both engines.""",
)


@query(
    "q_unpivot_metrics",
    oracle="""
    WITH m AS (
      SELECT
        CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) AS m,
        round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100e0, 2) AS revenue,
        CAST(count(*) AS DOUBLE)                                         AS n_orders,
        round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 1e0
              / count(*) / 100, 4)                                       AS avg_value
      FROM orders GROUP BY m
    )
    SELECT m, 'revenue'   AS metric, revenue   AS value FROM m
    UNION ALL
    SELECT m, 'n_orders'  AS metric, n_orders  AS value FROM m
    UNION ALL
    SELECT m, 'avg_value' AS metric, avg_value AS value FROM m
    """,
    tags=("relational", "reshape"),
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot / melt), the inverse of q_pivot_status:
    a per-month metrics relation (revenue, order count, average value) is
    melted to (month, metric, value) rows with Spark's stack() generator —
    the shape every metrics store and chart layer ingests. Values are
    rounded BEFORE melting (exact-cents sums, one division), so the
    reshape moves already-stable doubles. The oracle uses the equivalent
    3-way UNION ALL, which is also exactly what stack() compiles to —
    semantic identity by construction. Scale: the reshape is a narrow
    ×3 row generator on the bounded monthly aggregate; no shuffle beyond
    the month groupBy."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")).alias("m")
    ).agg(
        F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / F.lit(100.0), 2).alias("revenue"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) * F.lit(1.0)
            / F.count(F.lit(1))
            / 100,
            4,
        ).alias("avg_value"),
    )
    return m.select(
        "m",
        F.expr(
            "stack(3, 'revenue', revenue, 'n_orders', n_orders, 'avg_value', avg_value)"
        ).alias("metric", "value"),
    )


@query(
    "q_sql_variables",
    oracle="""
    SELECT
      l_returnflag,
      CAST(count(*) AS BIGINT) AS n_items,
      CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        AS revenue_cents
    FROM lineitem
    WHERE l_discount BETWEEN 0.02 AND 0.08
      AND l_quantity < 25
    GROUP BY l_returnflag
    """,
    tags=("spark4", "sql", "relational"),
)
def sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables + EXECUTE IMMEDIATE: the parameterized-
    report pattern — DECLARE the discount band and quantity cutoff as
    session variables, then run the revenue query as a parameterized SQL
    text with `USING` placeholders (the way a scheduled report re-runs one
    audited query text under different parameters without string
    interpolation — injection-safe and plan-cache-friendly). The variables
    are session-scoped and DECLARE OR REPLACE'd so repeated registry runs
    start clean. Revenue follows the exact-integer-cents money rule. The oracle
    inlines the same constants (parameterization is engine surface, not
    semantics — which is precisely what the hash match demonstrates)."""
    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE min_disc DOUBLE DEFAULT 0.02")
    spark.sql("DECLARE OR REPLACE VARIABLE max_disc DOUBLE DEFAULT 0.08")
    spark.sql("DECLARE OR REPLACE VARIABLE max_qty DOUBLE DEFAULT 25.0")
    df = spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT l_returnflag,
                  CAST(count(*) AS BIGINT) AS n_items,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                    AS revenue_cents
           FROM lineitem
           WHERE l_discount BETWEEN ? AND ?
             AND l_quantity < ?
           GROUP BY l_returnflag'
          USING min_disc, max_disc, max_qty
        """
    )
    return df


_COLLATION_RAW = """
      CASE c_custkey % 3
        WHEN 0 THEN upper(c_mktsegment)
        WHEN 1 THEN lower(c_mktsegment)
        ELSE concat(substring(c_mktsegment, 1, 1),
                    lower(substring(c_mktsegment, 2, 100)))
      END
"""


# Not sql_query: the Spark text groups under COLLATE, the oracle by lower().
@query(
    "q_collation_group",
    oracle=f"""
    WITH raw AS (SELECT {_COLLATION_RAW} AS seg FROM customer)
    SELECT
      lower(seg)                           AS segment,
      CAST(count(DISTINCT seg) AS BIGINT)  AS n_case_variants,
      CAST(count(*) AS BIGINT)             AS n_customers
    FROM raw GROUP BY lower(seg)
    """,
    tags=("spark4", "sql", "relational"),
)
def collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations: group a deterministically case-mangled
    market-segment column (three case styles keyed off c_custkey % 3)
    under UTF8_LCASE so the engine's collation machinery — not an explicit
    lower() — performs the case-insensitive grouping; the per-group
    variant census needs the BINARY collation back (count(DISTINCT ...
    COLLATE UTF8_BINARY)), exercising both directions of the cast. The
    oracle pins the semantics with the portable lower() formulation —
    equal hashes prove the collated GROUP BY is exactly case-insensitive
    equality, nothing more. Scale: collation support lives inside the
    hash-aggregate's key comparator — same one-shuffle plan as any
    group-by."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH raw AS (SELECT {_COLLATION_RAW} AS seg FROM customer)
        SELECT
          min(lower(seg))                                            AS segment,
          CAST(count(DISTINCT seg COLLATE UTF8_BINARY) AS BIGINT)    AS n_case_variants,
          CAST(count(*) AS BIGINT)                                   AS n_customers
        FROM raw GROUP BY seg COLLATE UTF8_LCASE
        """
    )


_GROUP_BY_ALL_SQL = """
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(count(*) AS BIGINT) AS n_lines,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
    GROUP BY ALL
"""


sql_query(
    "q_group_by_all", _GROUP_BY_ALL_SQL, tags=("spark4", "sql", "relational"),
    doc="""GROUP BY ALL — the infer-the-keys grouping shorthand both Spark 4
    and DuckDB ship: every non-aggregate select item becomes a grouping
    key. One SQL text runs verbatim on both engines (the q_sql_shared_text
    posture), so the hash match pins the two inference implementations to
    each other — the failure mode this guards is an engine silently
    classifying an expression differently (aggregate vs key) and changing
    the result shape. Plan is the ordinary partial-agg + exchange.""",
)


@query(
    "q_xml_roundtrip",
    oracle="""
    SELECT
      o_orderstatus,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
      min(CAST(o_orderdate AS DATE)) AS first_date
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("spark4", "io", "xml"),
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+ XML codec roundtrip (the q_csv_roundtrip/q_json_roundtrip sibling
    for Spark 4's built-in XML support): serialize each order row to an XML
    fragment with to_xml, parse it back with from_xml against an explicit
    schema, and aggregate the PARSED values. The oracle computes the same
    aggregate from the source columns directly — equal hashes prove the
    XML encode/decode is lossless for every type crossing it (string, date,
    exact-cents money carried as BIGINT to dodge float-in-text issues;
    the source timestamp is cast to DATE before encoding so both codecs
    write the same ISO day form).
    Scale: per-row narrow codec work, one aggregation; the XML text never
    shuffles (parsed before the exchange)."""
    orders = load_table(spark, sf_dir, "orders")
    xml = orders.select(
        F.expr(
            "to_xml(named_struct("
            "'status', o_orderstatus, "
            "'cents', CAST(round(o_totalprice * 100) AS BIGINT), "
            "'odate', CAST(o_orderdate AS DATE)))"
        ).alias("frag")
    )
    parsed = xml.select(
        F.expr("from_xml(frag, 'status STRING, cents BIGINT, odate DATE')").alias("s")
    ).select("s.status", "s.cents", "s.odate")
    return parsed.groupBy(F.col("status").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.min("odate").alias("first_date"),
    )


@query(
    "q_try_arithmetic",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice)
                 / nullif(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END), 0), 4)
             AS div_by_neg_count,
           TRY_CAST(min(o_orderpriority) AS INTEGER) AS pri_as_int,
           CAST(min(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER)) AS INT)
             AS pri_digit,
           round(sum(o_totalprice) / nullif(count(*) - count(*), 0), 4)
             AS div_zero_is_null
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("spark4", "sql", "scalars"),
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface — Spark's try_* family (try_divide,
    try_cast) against DuckDB's equivalents (x / nullif(y, 0), TRY_CAST):
    division by two data-derived zeros (the count of negative-price
    orders, and count minus count) yields NULL instead of an error or
    +-Inf, an unparseable
    string casts to NULL, and a parseable prefix digit casts through.
    Pinning these NULL-on-failure semantics engine-to-engine matters
    because ANSI mode (Spark 4's default) turns the non-try forms into
    runtime ERRORS — at 100 TB a single bad row kills the job, so
    production expressions use the try_ forms and this query proves their
    results agree with the oracle's nullif/TRY_CAST formulation.
    Scale: one map-side-combinable aggregate; all try_ logic is per-row."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.try_divide(
                F.sum("o_totalprice"),
                F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)),
            ),
            4,
        ).alias("div_by_neg_count"),
        F.min("o_orderpriority").try_cast("integer").alias("pri_as_int"),
        F.min(F.substring("o_orderpriority", 1, 1).try_cast("integer"))
        .cast("int")
        .alias("pri_digit"),
        F.round(
            F.try_divide(F.sum("o_totalprice"), F.count(F.lit(1)) - F.count(F.lit(1))), 4
        ).alias("div_zero_is_null"),
    )


_SQL_UDF_BODY = (
    "CASE WHEN x >= 300000 THEN 'large' WHEN x >= 100000 THEN 'mid' ELSE 'small' END"
)


@query(
    "q_sql_scalar_udf",
    oracle=f"""
    SELECT {_SQL_UDF_BODY.replace('x', 'o_totalprice')} AS tier,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY 1
    """,
    tags=("spark4", "sql", "udf"),
)
def sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5+: a SQL-language scalar UDF (Spark 4 ``CREATE TEMPORARY FUNCTION
    ... RETURNS ... RETURN <expr>``) — unlike the Python-registered U1/U5
    surface, a SQL UDF's body is INLINED into the plan by the analyzer,
    so it keeps Catalyst visibility (pushdown, codegen) and costs nothing
    at 100 TB; this is the right way to share business logic like revenue
    tiers across queries. The oracle applies the same CASE expression
    textually — equal hashes prove the UDF registration/inlining is
    semantically transparent.
    Scale: inlined per-row expression + one aggregate; zero Python."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION order_tier(x DOUBLE) RETURNS STRING "
        f"RETURN {_SQL_UDF_BODY}"
    )
    return spark.sql(
        """
        SELECT order_tier(o_totalprice) AS tier,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders
        GROUP BY order_tier(o_totalprice)
        """
    )


# ---------------------------------------------------------------------------
# q_lateral_column_alias — reference a select-list alias in the same SELECT
# ---------------------------------------------------------------------------

_LCA_SQL = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100e0, 2) AS revenue,
           round(revenue / n_orders, 2) AS avg_order,
           round(avg_order / 1000.0, 4) AS avg_order_k
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


sql_query(
    "q_lateral_column_alias", _LCA_SQL, tags=("spark4", "sql", "relational"),
    doc="""Lateral column aliases (Spark 3.4+/ANSI step beyond standard SQL):
    `avg_order` is defined from the sibling aliases `revenue`/`n_orders`
    in the SAME select list and then itself referenced by `avg_order_k`
    — the deduplication-of-expressions surface that otherwise forces
    nested subqueries or repeated aggregate expressions. DuckDB supports
    the identical syntax, so ONE SQL text runs verbatim on both engines.

    Scale: one map-side-combinable aggregate; the alias chaining is
    purely analysis-time (the analyzer inlines it — the optimized plan
    is identical to the repeated-expression form).""",
)


# ---------------------------------------------------------------------------
# q_parameterized_sql — named-parameter queries (spark.sql(..., args))
# ---------------------------------------------------------------------------

PARAM_SEGMENT = "BUILDING"
PARAM_MIN_ORDERS = 5


# Not sql_query: the Spark text binds named parameters the oracle inlines.
@query(
    "q_parameterized_sql",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(s.rev), 2) AS segment_revenue
    FROM (
      SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_custkey HAVING count(*) >= {PARAM_MIN_ORDERS}
    ) s JOIN customer c ON c.c_custkey = s.o_custkey
    WHERE c.c_mktsegment = '{PARAM_SEGMENT}'
    GROUP BY c.c_mktsegment
    """,
    tags=("spark4", "sql", "relational"),
)
def parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (Spark 3.4+ `spark.sql(query, args=...)`):
    the segment and the minimum-order threshold arrive as BOUND
    PARAMETERS (`:segment`, `:min_orders`), not string interpolation —
    the injection-safe templating surface a multi-tenant analytics
    service needs. The oracle is the same query with the parameters
    inlined as literals, proving bind-vs-literal equivalence.

    Scale: the parameter binding is analysis-time only — the bound plan
    is identical to the literal plan (same pushdown, same aggregates)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(s.rev), 2) AS segment_revenue
        FROM (
          SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS rev
          FROM orders GROUP BY o_custkey HAVING count(*) >= :min_orders
        ) s JOIN customer c ON c.c_custkey = s.o_custkey
        WHERE c.c_mktsegment = :segment
        GROUP BY c.c_mktsegment
        """,
        args={"segment": PARAM_SEGMENT, "min_orders": PARAM_MIN_ORDERS},
    )
