"""Scalable total-order primitives: global row numbers and global running
sums WITHOUT a single-partition window (VERDICT round-1 task 8 — no
`Window.orderBy` without `partitionBy` anywhere in operators/).

Shape: `repartitionByRange` on the order key gives ordered, co-located
buckets (RangePartitioner assigns ascending key ranges to ascending
partition ids); a window partitioned by the bucket id computes the local
row number / prefix sum; per-bucket totals — a relation of `n_buckets`
rows — are prefixed with a triangular self-join and broadcast back. Two
shuffles, state bounded by bucket size, `n_buckets` is the parallelism
knob. Row numbers are exact and deterministic provided `order_cols` is a
TOTAL order (unique tiebreak — same determinism rule every ranking window
in this repo follows); running sums are exact for integer inputs and
order-identical to a sequential scan for doubles (the within-frame order
is the global order).
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 16

# Observability escrow: localCheckpoint truncates lineage, so the UPSTREAM
# plan — where scan pushdown/pruning is visible — disappears from the final
# query's explain. Capture the formatted upstream plan at materialization
# time so plan tests (tests/test_plans.py) can still assert pushdown for
# queries that pass through these helpers. Bounded; newest last.
LAST_UPSTREAM_PLANS: deque = deque(maxlen=4)


def _checkpoint(df: DataFrame) -> DataFrame:
    spark = df.sparkSession
    LAST_UPSTREAM_PLANS.append(
        spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    )
    return df.localCheckpoint(eager=True)


def _as_columns(order_cols) -> list[Column]:
    """Accept column names or Column expressions (e.g. F.col("x").desc())."""
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def _bucketed(df: DataFrame, order_cols: list[Column], n_buckets: int) -> DataFrame:
    return df.repartitionByRange(n_buckets, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )


def _prefix_offsets(totals: DataFrame, total_col: str) -> DataFrame:
    """(_pid, _off): sum of `total_col` over all buckets strictly before
    _pid. Triangular self-join on the n_buckets-row relation — never a
    window, always broadcastable."""
    a, b = totals.alias("a"), totals.alias("b")
    return (
        a.join(b, F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum(f"b.{total_col}"), F.lit(0)).alias("_off"))
    )


def global_row_number(
    df: DataFrame, order_cols: list[str], rn_col: str = "_rn", n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """df + `rn_col`: 1-based global row number in `order_cols` order
    (names or Column expressions — descending orders supported)."""
    cols = _as_columns(order_cols)
    d = _bucketed(df, cols, n_buckets)
    w = Window.partitionBy("_pid").orderBy(*cols)
    # materialize: the bucketed relation feeds BOTH the per-bucket totals
    # and the output join. RangePartitioner samples its boundaries with a
    # per-execution seed, so if the optimizer ever plans the two branches
    # as separate exchanges (observed once AQE + a broadcast-heavy parent
    # query suppressed exchange reuse: q_systematic_sample returned 751
    # rows for a 1-in-20 systematic design), the two sides disagree on
    # _pid and ranks shift. One materialization makes both branches read
    # identical bucket assignments regardless of plan reuse decisions.
    # localCheckpoint, NOT persist: this helper is called by ~18 operator
    # modules with no unpersist hook, and CacheManager entries outlive the
    # query (round-4 ADVICE: cached plans accumulated for the whole
    # session). Checkpointed RDDs are reclaimed by ContextCleaner once the
    # Python/JVM refs drop (see functions/iterate.py).
    d = _checkpoint(d.withColumn("_local_rn", F.row_number().over(w)))
    totals = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_tot"))
    offs = _prefix_offsets(totals, "_tot")
    return (
        d.join(F.broadcast(offs), "_pid")
        .withColumn(rn_col, (F.col("_off") + F.col("_local_rn")).cast("long"))
        .drop("_pid", "_local_rn", "_off")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """df + `out_col`: running sum of `value_col` up to AND INCLUDING the
    current row, in `order_cols` order."""
    cols = _as_columns(order_cols)
    d = _bucketed(df, cols, n_buckets)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # localCheckpoint for the same branch-consistency + no-session-leak
    # reasons as global_row_number
    d = _checkpoint(d.withColumn("_local_sum", F.sum(value_col).over(w)))
    totals = d.groupBy("_pid").agg(F.sum(value_col).alias("_tot"))
    offs = _prefix_offsets(totals, "_tot")
    return (
        d.join(F.broadcast(offs), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_local_sum"))
        .drop("_pid", "_local_sum", "_off")
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """df + `out_col`: running sum of `value_col` up to AND INCLUDING the
    current row, in `order_cols` order WITHIN each `group_cols` partition —
    without `Window.partitionBy(group_cols)`, which serializes each group
    onto one task and is exactly the low-cardinality-key bottleneck this
    module exists to avoid (a 3-value PARTITION BY over a 100×-replicated
    fact measured 45.0× in the round-8 scale tier; the grouped two-phase
    form re-measured 10.4× — sub-linear, every bucket working in parallel).

    Shape: range-partition on the COMPOSITE (group_cols + order_cols) key,
    so one big group spans many ordered buckets while every bucket holds
    contiguous key ranges; a window partitioned by (_pid, group) computes
    local prefix sums (a boundary bucket holding two groups never mixes
    them); per-(bucket, group) totals — at most n_buckets × |groups| rows —
    are prefixed per group with the triangular self-join and broadcast
    back. Exactness rules are global_running_sum's: `group_cols +
    order_cols` must be a total order, integer value sums are exact.
    `group_cols` must be column NAMES (they key the offset join)."""
    gcols = _as_columns(group_cols)
    ocols = _as_columns(order_cols)
    d = _bucketed(df, gcols + ocols, n_buckets)
    w = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # localCheckpoint: same branch-consistency + no-session-leak rationale
    # as global_row_number (both consumers must see one bucket assignment)
    d = _checkpoint(d.withColumn("_local_sum", F.sum(value_col).over(w)))
    totals = d.groupBy("_pid", *group_cols).agg(F.sum(value_col).alias("_tot"))
    a, b = totals.alias("a"), totals.alias("b")
    cond = F.col("b._pid") < F.col("a._pid")
    for g in group_cols:
        cond = cond & (F.col(f"b.{g}") == F.col(f"a.{g}"))
    offs = (
        a.join(b, cond, "left")
        .groupBy(
            F.col("a._pid").alias("_pid"),
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
        )
        .agg(F.coalesce(F.sum("b._tot"), F.lit(0)).alias("_off"))
    )
    return (
        d.join(F.broadcast(offs), ["_pid", *group_cols])
        .withColumn(out_col, F.col("_off") + F.col("_local_sum"))
        .drop("_pid", "_local_sum", "_off")
    )


def grouped_lag(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """df + `out_col`: LAG(value_col) in `order_cols` order within each
    `group_cols` partition, without the single-task-per-group window
    (q_weighted_median's defect class). Only bucket-FIRST rows need help:
    a local lag runs per (bucket, group); each bucket's last value by
    order — one `max_by` per (bucket, group) — is broadcast so the next
    bucket's first row stitches across the boundary. NULL for the true
    first row of each group, exactly like LAG.

    NULL-value contract (round-8 verdict task 7): a row is a
    bucket-boundary row iff its LOCAL row_number is 1 — never inferred
    from `_local_lag IS NULL`, which a NULL mid-group VALUE would fake —
    and boundary values ride inside structs so a NULL last-value survives
    both `max_by` hops. `value_col` may therefore contain NULLs anywhere;
    the property test pins this against a sequential reference.
    `group_cols + order_cols` must be a total order; `group_cols` must be
    column NAMES."""
    gcols = _as_columns(group_cols)
    ocols = _as_columns(order_cols)
    d = _bucketed(df, gcols + ocols, n_buckets)
    w = Window.partitionBy("_pid", *group_cols).orderBy(*ocols)
    # _local_rn shares the window sort with _local_lag (one Window exec)
    d = _checkpoint(
        d.withColumn("_local_lag", F.lag(value_col).over(w)).withColumn(
            "_local_rn", F.row_number().over(w)
        )
    )
    lasts = d.groupBy("_pid", *group_cols).agg(
        F.max_by(F.struct(F.col(value_col).alias("v")), F.struct(*ocols)).alias("_last")
    )
    a, b = lasts.alias("a"), lasts.alias("b")
    cond = F.col("b._pid") < F.col("a._pid")
    for g in group_cols:
        cond = cond & (F.col(f"b.{g}") == F.col(f"a.{g}"))
    offs = (
        a.join(b, cond, "left")
        .groupBy(
            F.col("a._pid").alias("_pid"),
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
        )
        # struct-wrapped so a genuinely-NULL boundary VALUE is carried;
        # the struct itself is NULL only when no previous bucket exists
        .agg(F.max_by("b._last", "b._pid").alias("_boundary"))
    )
    return (
        d.join(F.broadcast(offs), ["_pid", *group_cols])
        .withColumn(
            out_col,
            F.when(F.col("_local_rn") == 1, F.col("_boundary.v")).otherwise(
                F.col("_local_lag")
            ),
        )
        .drop("_pid", "_local_lag", "_local_rn", "_boundary")
    )


def grouped_running_max(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    inclusive: bool = True,
) -> DataFrame:
    """df + `out_col`: running max of `value_col` in `order_cols` order
    within each `group_cols` partition (over preceding rows only when
    `inclusive=False`, matching ROWS BETWEEN UNBOUNDED PRECEDING AND -1),
    without the single-task-per-group window. Max is associative, so the
    prefix combine is `greatest(previous buckets' max, local running
    max)`; Spark's `greatest` skips NULLs, which reproduces the plain
    window's NULL for a group's first row under the exclusive frame.
    `group_cols + order_cols` must be a total order for the exclusive
    frame to be well-defined; `group_cols` must be column NAMES."""
    gcols = _as_columns(group_cols)
    ocols = _as_columns(order_cols)
    d = _bucketed(df, gcols + ocols, n_buckets)
    hi = Window.currentRow if inclusive else -1
    w = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    d = _checkpoint(d.withColumn("_local_max", F.max(value_col).over(w)))
    totals = d.groupBy("_pid", *group_cols).agg(F.max(value_col).alias("_tot"))
    a, b = totals.alias("a"), totals.alias("b")
    cond = F.col("b._pid") < F.col("a._pid")
    for g in group_cols:
        cond = cond & (F.col(f"b.{g}") == F.col(f"a.{g}"))
    offs = (
        a.join(b, cond, "left")
        .groupBy(
            F.col("a._pid").alias("_pid"),
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
        )
        .agg(F.max("b._tot").alias("_off"))
    )
    return (
        d.join(F.broadcast(offs), ["_pid", *group_cols])
        .withColumn(out_col, F.greatest(F.col("_off"), F.col("_local_max")))
        .drop("_pid", "_local_max", "_off")
    )


def exact_ntile(rn_col: str, n_rows: int, k: int) -> Column:
    """SQL NTILE(k) from a global row number: the first n_rows % k tiles get
    one extra row. Pure expression; `n_rows` is a plan literal (one count()
    job at build time — a bounded driver scalar, not a data collect)."""
    q, r = divmod(n_rows, k)
    if q == 0:  # fewer rows than tiles: each row is its own tile
        return F.col(rn_col).cast("long")
    boundary = r * (q + 1)
    # integer DIV keeps the tile exact at any row count (no float rounding)
    return F.expr(
        f"CAST(CASE WHEN {rn_col} <= {boundary}"
        f" THEN ({rn_col} - 1) DIV {q + 1}"
        f" ELSE {r} + ({rn_col} - 1 - {boundary}) DIV {q} END + 1 AS BIGINT)"
    )
