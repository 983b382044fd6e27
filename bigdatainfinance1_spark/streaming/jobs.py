"""Structured Streaming operators over the events table (SURVEY.md §2.8).

Strategy (SURVEY.md §2.8): each operator's event-time core is expressible in
batch (→ DuckDB-oracle-checkable); the queries below actually RUN as
Structured Streaming jobs — `readStream` over the same parquet, availableNow
trigger, memory sink — and return the materialized result, so the driver's
gate exercises the real incremental engine, not a batch stand-in. Watermarks
are declared where an unbounded run would need them; with a single availableNow
replay nothing is late, so results equal the batch semantics the oracle
computes.

Scale notes: tumbling/sliding aggs keep state per (window × key) — bounded by
the watermark horizon; session windows merge state per key; dedup keeps one
entry per key within the watermark. All state lives in the executor state
store (RocksDB in production), never on the driver. The number of state-store
partitions is sized from the stream's input (``state_partitions``): a fixed
per-instance commit cost per micro-batch makes a count sized for the cluster
the slowest choice for a small input, and the count is capped by the cores.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table, scratch_dir, staged


def _stage_stream(spark: SparkSession, sf_dir: str, table: str, ordered: bool = False) -> DataFrame:
    """readStream over a 4-file parquet stage of ``table``.

    The file stream source needs a directory, and the raw events file
    stores ts as TIMESTAMP(NANOS) — so a table is staged once per source
    into a multi-file parquet directory (ts already truncated to
    microseconds by the catalog, identical to DuckDB's read of the
    original). The 4-file staging + maxFilesPerTrigger=2 gives a genuine
    multi-micro-batch replay. The stage is written by ``catalog.staged``,
    keyed by the source's fingerprint, so a regenerated table restages
    instead of silently reusing stale data.

    ``ordered`` range-partitions by ts (see read_events_stream_ordered) and
    sets strictly increasing mtimes in sorted-path order on every call
    (idempotent; the key is the SOURCE's mtimes, so utime never restages).
    """
    src = load_table(spark, sf_dir, table)
    df = src.repartitionByRange(4, "ts").sortWithinPartitions("ts") if ordered else src.repartition(4)
    stage = staged("stream_ordered" if ordered else "stream", sf_dir, table, df.write.parquet)
    if ordered:
        part_files = sorted(
            os.path.join(stage, f)
            for f in os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        base = 1_600_000_000  # fixed epoch: deterministic across calls/hosts
        for i, p in enumerate(part_files):
            os.utime(p, (base + i, base + i))
    # the stage was written from ``src``, so its schema is known: reading it
    # from the footers would be one more job per call
    return spark.readStream.schema(src.schema).option("maxFilesPerTrigger", "2").parquet(stage)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table, staged by ``_stage_stream``."""
    return _stage_stream(spark, sf_dir, "events")


def read_events_stream_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered variant of read_events_stream for watermark-sensitive
    operators: events are range-partitioned by ts into 4 files, so
    part-00000 covers an earlier time range than part-00001 and the
    FileStreamSource replays event time monotonically ACROSS micro-batches
    — disorder exists
    only inside a batch, where the watermark cannot drop anything (the
    watermark used by a batch is the one computed at the END of the
    previous batch). This is what makes dropDuplicatesWithinWatermark
    exactly equal to global dedup on this replay; an unordered replay
    would nondeterministically drop whole time ranges as late.

    FileStreamSource orders pending files by MODIFICATION TIME, not path —
    and the 4 range partitions are written by parallel tasks whose finish
    order is arbitrary, so path order alone does not guarantee replay
    order (round-2 ADVICE). After staging, every part file is os.utime'd
    with strictly increasing mtimes in sorted-path order, making mtime
    order provably equal to ts-range order."""
    return _stage_stream(spark, sf_dir, "events", ordered=True)


def stream_file_paths(result: DataFrame) -> list[str]:
    """The ``path`` of every file source that ``result`` streams from."""
    leaves = result._jdf.queryExecution().analyzed().collectLeaves()
    paths = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "StreamingRelation":
            path = leaf.dataSource().options().get("path")
            if path.isDefined():
                paths.append(path.get())
    return paths


def state_partitions(result: DataFrame) -> int:
    """State-store partition count for running ``result``, sized from its
    input with AQE's own coalescing rule: one partition per
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` of the stream's
    file sources, at least 1 and at most ``defaultParallelism``. A stream
    with no file source (a Python data source, say) has no size to go by
    and keeps the session's ``spark.sql.shuffle.partitions``."""
    spark = result.sparkSession
    paths = stream_file_paths(result)
    if not paths:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    jvm = spark._jvm
    hadoop_conf = spark._jsc.hadoopConfiguration()
    n_bytes = 0
    for path in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        n_bytes += jpath.getFileSystem(hadoop_conf).getContentSummary(jpath).getLength()
    advisory = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, min(-(-n_bytes // advisory), spark.sparkContext.defaultParallelism))


def run_to_table(result: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion with an availableNow trigger
    into a memory sink; return the sink's rows as a batch DataFrame.

    The shuffle-partition count at query start fixes the number of state-store
    instances for the lifetime of the checkpoint, and state commit costs a
    fixed amount per instance per micro-batch. So the count is scoped to the
    streaming run and sized from the input by ``state_partitions``. On
    local[4], warm, ``q_stream_tumbling``'s stream ran in 1.46 s at 8
    partitions, 1.04 s at 4 and 0.82 s at the rule's 1 (sf0.001), and in
    1.42 s at 8 and 0.95 s at 1 (sf0.1); medians of 5 runs. A checkpoint
    restarted later keeps the count it was started with.

    The memory sink already holds the rows on the driver. The view is
    dropped, so the returned DataFrame is the only reference to them and
    they are freed with it instead of pinned for the session's lifetime."""
    spark = result.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions(result)))
    try:
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT
      date_trunc('hour', ts)  AS window_start,
      event_type,
      count(*)                AS n_events,
      round(sum(value), 4)    AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
    tags=("streaming", "events"),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1: tumbling 1-hour event-time window aggregation, executed as a real
    Structured Streaming job (availableNow → memory sink). 1-hour tumbling
    window starts coincide with date_trunc('hour') — the oracle's batch
    formulation."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_to_table(agg, "complete")


@query(
    "q_stream_sliding",
    oracle="""
    SELECT
      make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000) AS window_start,
      count(*)                                                    AS n_events,
      round(sum(value), 4)                                        AS total_value
    FROM events, range(4) r(k)
    GROUP BY window_start
    """,
    tags=("streaming", "events"),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: sliding window (1 hour every 15 min) as a streaming job. Each
    event belongs to exactly 4 windows; the oracle reconstructs the same
    window starts arithmetically (floor to the 15-min grid, back-shift k=0..3)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "total_value")
    )
    return run_to_table(agg, "complete")


@query(
    "q_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM flagged
    )
    SELECT
      user_id,
      min(ts)              AS session_start,
      count(*)             AS n_events,
      round(sum(value), 4) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "events"),
)
def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: declarative session windows (30-min gap) via F.session_window —
    batch execution here (session_window is batch-capable), cross-checked
    against the imperative gap-SQL formulation in the oracle and against the
    streaming variant in tests/test_streaming.py. Sessions never overlap per
    user, so session_start ≡ min(ts) of the gap-method session."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT
      event_type,
      count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "events"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5: stateful streaming dedup — dropDuplicates on (user_id,
    event_type) inside the stream, then a per-type count. State is one entry
    per distinct pair (watermark-bounded via
    dropDuplicatesWithinWatermark in an unbounded deployment)."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.dropDuplicates(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    return run_to_table(agg, "complete")


@query(
    "q_stream_dedup_bounded",
    oracle="""
    WITH triples AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
      FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_user_hours
    FROM triples GROUP BY event_type
    """,
    tags=("streaming", "events"),
)
def stream_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 at production semantics: dropDuplicatesWithinWatermark — the
    BOUNDED-STATE dedup (state entries expire once the watermark passes
    them, unlike q_stream_dedup whose state grows forever). The dedup key
    includes the event's hour bucket, so duplicates of a key are at most
    1 h apart and the 48 h watermark provably retains every key's window;
    replay runs on the time-ordered stage (read_events_stream_ordered), so
    the watermark never drops records and the streaming result EQUALS the
    global distinct — which is what gives this query a full value-hash
    oracle where q_stream_watermarked (late-data accounting, unordered
    replay) is rows-only by design. Scale: state is one entry per live
    (user, type, hour) within the watermark horizon instead of the full
    history — the difference between a bounded and an unbounded deployment."""
    ev = read_events_stream_ordered(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "48 hours")
        .withColumn("hr", F.date_trunc("hour", F.col("ts")))
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hr"])
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_hours")
    )
    return run_to_table(agg, "complete")


@query(
    "q_stream_static_join",
    oracle="""
    SELECT
      c.c_mktsegment,
      count(*)             AS n_events,
      round(sum(e.value), 4) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "events", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: stream ⋈ static-dimension join (events.user_id → customer key,
    broadcast on the static side) followed by a streaming aggregation."""
    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return run_to_table(agg, "complete")


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT
      c.event_id                                        AS click_id,
      p.event_id                                        AS purchase_id,
      c.user_id                                         AS user_id,
      (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS secs_between
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "events", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6+ (stream⋈stream): click stream joined to purchase stream per user
    within a 30-minute event-time window — the canonical attribution join.
    Both sides carry watermarks (required so the state store can evict rows
    older than the join horizon); with an availableNow replay nothing is
    late, so the result equals the batch range join, which is the oracle.
    At scale the state per key is bounded by watermark + interval, and the
    join shuffles both streams on user_id once."""
    ev1 = read_events_stream(spark, sf_dir)
    ev2 = read_events_stream(spark, sf_dir)
    clicks = (
        ev1.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev2.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000").alias("secs_between"),
    )
    return run_to_table(out, "append")


@query(
    "q_stream_stream_left_join",
    oracle="""
    WITH cutoff AS (
      SELECT min(ts) + to_microseconds(
               (epoch_us(max(ts)) - epoch_us(min(ts))) // 4) AS lim
      FROM events
    )
    SELECT
      c.event_id                                   AS click_id,
      c.user_id                                    AS user_id,
      p.event_id                                   AS purchase_id,
      CASE WHEN p.event_id IS NULL THEN 0 ELSE 1 END AS matched,
      CASE WHEN p.event_id IS NULL THEN NULL
           ELSE (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 END AS secs_between
    FROM (SELECT * FROM events, cutoff WHERE event_type = 'click' AND ts < cutoff.lim) c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "events", "join", "outer"),
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6+ (stream LEFT OUTER stream): clicks joined to purchases within 30
    minutes per user, KEEPING unmatched clicks — the abandonment-attribution
    shape. Outer stream-stream joins have semantics inner joins don't: a
    null row may only be emitted once the WATERMARK has passed the click's
    join horizon (before that, a matching purchase could still arrive), so
    state eviction and result emission are the same mechanism.

    Why this replay provably emits every outer row (and therefore equals
    the batch oracle): the left side is restricted to clicks in the first
    7 days of the stream, replayed via the ts-ordered 4-file stage
    (read_events_stream_ordered, mtime-pinned) with maxFilesPerTrigger=2 —
    so batch 1 covers roughly the first half of the month and the watermark
    available to the FINAL batch stands at ~day 15 minus 1 h, far past
    every restricted click's ts + 30 min horizon. Every unmatched click has
    thus provably expired by the last batch and its null row is emitted
    before termination. (Unrestricted, clicks in the last watermark-window
    of the stream would still be 'maybe matchable' at end-of-stream and the
    stream would under-emit vs batch — the construction documents the real
    operational caveat of outer stream joins.) The cutoff is the first
    QUARTER of the observed span (exact integer microseconds on both
    engines), derived from min/max(ts) rather than hard-coded — a
    regenerated corpus with a different era or span moves the window
    instead of emptying it or breaking the batch-1-covers-it invariant
    (quarter-span always sits inside the first two of the four ts-range
    files, with half a span of margin over the 1 h + 30 min horizon).

    Watermark placement matters and is itself part of the lesson: it is
    attached to the SOURCE event time BEFORE the cutoff filter. Filtered
    first, the clicks watermark would pin 1 h behind the last restricted
    click forever, and (global watermark = min of both streams) the final
    ~90 min of clicks before the cutoff could never expire — measured as
    exactly 2 missing null rows at sf0.001 before the fix."""
    bounds = (
        load_table(spark, sf_dir, "events")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    td = bounds["hi"] - bounds["lo"]
    # exact integer microseconds (total_seconds() is float and can be off
    # by a us at month scale, which is a cross-engine boundary flip)
    span_us = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    cutoff = bounds["lo"] + __import__("datetime").timedelta(microseconds=span_us // 4)
    ev1 = read_events_stream_ordered(spark, sf_dir)
    ev2 = read_events_stream_ordered(spark, sf_dir)
    clicks = (
        ev1.withWatermark("ts", "1 hour")
        .filter((F.col("event_type") == "click") & (F.col("ts") < F.lit(cutoff)))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        ev2.withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    out = joined.select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "purchase_id",
        F.when(F.col("purchase_id").isNull(), 0).otherwise(1).alias("matched"),
        F.expr(
            "CASE WHEN purchase_id IS NULL THEN NULL "
            "ELSE (unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000 END"
        ).alias("secs_between"),
    )
    return run_to_table(out, "append")


@query(
    "q_stream_stateful_totals",
    oracle="""
    SELECT
      user_id,
      count(*)             AS n_events,
      round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "events", "stateful"),
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7: arbitrary stateful processing — applyInPandasWithState keeps a
    (count, sum) accumulator per user across micro-batches and emits the
    running totals on every update. The memory sink then holds one row per
    (user × update); the latest update per user (max n_events — the count is
    strictly increasing) must equal the batch aggregate, which is the oracle.
    State is per-key on the executors (RocksDB in production), never on the
    driver; an unbounded deployment would add a timeout to evict idle users.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")

    def running_totals(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    updates = ev.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_table(updates, "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("total_value", 4).alias("total_value"))
    )


@query("q_stream_watermarked", oracle=None, tags=("streaming", "events"))
def stream_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4: watermarked windowed aggregation in append mode — the unbounded-
    deployment formulation (state eviction + late-data drop at watermark).
    With an availableNow replay of a single file nothing arrives late, so
    append emits exactly the finalized windows; rows-only check (watermark
    progression is engine-internal)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
    )
    return run_to_table(agg, "append")


def _has_protobuf() -> bool:
    """transformWithStateInPandas needs a protobuf driver worker
    (pyspark.sql.streaming.proto imports google.protobuf at runtime)."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        return False


def _tws_query(name, oracle, tags):
    """Register the transformWithState query only where it can run: the
    Spark 4 TWS API requires google.protobuf, which this container lacks
    (verified: the streaming driver worker crashes on import). Where absent,
    ST7 coverage stays on applyInPandasWithState (q_stream_stateful_totals);
    this variant registers automatically once protobuf is available."""
    if _has_protobuf():
        return query(name, oracle=oracle, tags=tags)
    return lambda fn: fn


@_tws_query(
    "q_stream_tws_minmax",
    oracle="""
    SELECT
      user_id,
      round(min(value), 4) AS min_value,
      round(max(value), 4) AS max_value,
      count(*)             AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "events", "stateful"),
)
def stream_tws_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 (Spark 4 transformWithStateInPandas): per-user (min, max, count)
    tracker via the typed StatefulProcessor API — the successor to
    applyInPandasWithState (q_stream_stateful_totals), with named state
    variables managed per key by the state store. Requires the RocksDB
    state-store provider (scoped to this run, like the partition sizing);
    emissions are per-(key × batch) running values, so the latest update per
    user — max n_events, the count is strictly increasing — must equal the
    batch aggregate, which is the oracle."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.window import Window

    class MinMaxProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("minmax", "mn double, mx double, n long")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                mn, mx, n = self._state.get()
            else:
                mn, mx, n = float("inf"), float("-inf"), 0
            for pdf in rows:
                mn = min(mn, float(pdf["value"].min()))
                mx = max(mx, float(pdf["value"].max()))
                n += len(pdf)
            self._state.update((mn, mx, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "min_value": [mn], "max_value": [mx], "n_events": [n]}
            )

        def close(self) -> None:
            pass

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    updates = ev.groupBy("user_id").transformWithStateInPandas(
        MinMaxProcessor(),
        outputStructType="user_id long, min_value double, max_value double, n_events long",
        outputMode="Update",
        timeMode="None",
    )
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = run_to_table(updates, "update")
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev_provider)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.round("min_value", 4).alias("min_value"),
            F.round("max_value", 4).alias("max_value"),
            "n_events",
        )
    )


@query(
    "q_stream_file_sink",
    oracle="""
    SELECT
      event_type,
      count(*)             AS n_events,
      round(sum(value), 4) AS total_value
    FROM events
    WHERE value > 50
    GROUP BY event_type
    """,
    tags=("streaming", "events", "sink"),
)
def stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet file sink with checkpointed exactly-once delivery:
    a stateless filtered projection of the event stream appends to a
    partitioned parquet directory (file sinks are append-only — aggregations
    would need a watermark; the canonical bronze→silver hop writes raw
    filtered rows exactly like this), then the written files are read back
    and aggregated in batch. The batch aggregate over the sink must equal
    the same aggregate over the source — which is the oracle — proving no
    loss and no duplication across micro-batches. Checkpoint + _spark_metadata
    give exactly-once at any scale; partitionBy(event_type) makes the sink
    partition-prunable for downstream readers. Each call clears and reuses
    its source's scratch directory."""
    base = scratch_dir("stream_file_sink", sf_dir, "events")
    shutil.rmtree(base, ignore_errors=True)
    ev = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("value") > 50)
        .select("event_id", "ts", "event_type", "value")
    )
    q = (
        ev.writeStream.format("parquet")
        .option("path", f"{base}/data")
        .option("checkpointLocation", f"{base}/ckpt")
        .partitionBy("event_type")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # read back with the schema written: partition columns come last, and a
    # partition directory value reads as a string
    written_schema = StructType(
        ev.drop("event_type").schema.fields + [StructField("event_type", StringType())]
    )
    written = spark.read.schema(written_schema).parquet(f"{base}/data")
    return written.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@query(
    "q_stream_foreach_upsert",
    oracle="""
    SELECT
      user_id,
      count(*)             AS n_events,
      round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "events", "sink", "etl"),
)
def stream_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE via foreachBatch — the production pattern for keyed
    upserts into a table from a stream when no transactional table format is
    mounted: each micro-batch pre-aggregates its delta per user, full-outer
    merges it with the current target version, and writes target version
    v{batch_id}. Versioned writes make replays IDEMPOTENT (a restarted batch
    N rewrites v{N} identically from v{N-1} — foreachBatch is at-least-once,
    idempotent sinks make it exactly-once); the final version must equal the
    batch aggregate over the whole source, which is the oracle, proving no
    loss and no double-counting across micro-batches. State per key is one
    (count, sum) row — the target table is key-cardinality-sized, never
    event-sized. Each call clears and reuses its source's scratch directory."""
    base = scratch_dir("foreach_upsert", sf_dir, "events")
    shutil.rmtree(base, ignore_errors=True)
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        prev = f"{base}/v{batch_id - 1}"
        if os.path.exists(os.path.join(prev, "_SUCCESS")):
            cur = batch_df.sparkSession.read.parquet(prev)
            merged = (
                cur.select(
                    "user_id",
                    F.col("n_events").alias("n_a"),
                    F.col("total_value").alias("v_a"),
                )
                .join(
                    delta.select(
                        "user_id",
                        F.col("n_events").alias("n_b"),
                        F.col("total_value").alias("v_b"),
                    ),
                    "user_id",
                    "full_outer",
                )
                .select(
                    "user_id",
                    (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias("n_events"),
                    (F.coalesce("v_a", F.lit(0.0)) + F.coalesce("v_b", F.lit(0.0))).alias(
                        "total_value"
                    ),
                )
            )
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{base}/v{batch_id}")

    q = (
        ev.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = sorted(
        int(d[1:]) for d in os.listdir(base) if d.startswith("v") and d[1:].isdigit()
    )
    final = spark.read.parquet(f"{base}/v{versions[-1]}")
    return final.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "q_stream_window_topk",
    oracle="""
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n_events
      FROM events GROUP BY window_start, event_type
    ),
    ranked AS (
      SELECT window_start, event_type, n_events,
        row_number() OVER (
          PARTITION BY window_start ORDER BY n_events DESC, event_type
        ) AS rnk
      FROM agg
    )
    SELECT window_start, event_type, n_events, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 2
    """,
    tags=("streaming", "events"),
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the 2 busiest event types per tumbling hour. The
    heavy part — per-(window, type) counting over the stream — runs as a
    real Structured Streaming job (availableNow, memory sink); ranking
    within windows is a batch finishing pass over the materialized
    window-count relation (ranking functions aren't incremental operators
    — the standard pattern is stream-aggregate then rank-on-read, and the
    finishing relation is windows × types, tiny by construction). Full
    value-hash oracle: the batch equivalent with a deterministic
    (count DESC, type) tie order."""
    from pyspark.sql import Window

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n_events"
        )
    )
    done = run_to_table(agg, "complete")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        done.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("window_start", "event_type", "n_events", "rnk")
    )


@query(
    "q_stream_session_funnel",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_type,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
        min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)     AS t_view,
        min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)    AS t_click,
        min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT
      user_id,
      CAST(count(*) AS BIGINT) AS n_sessions,
      CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                     AND t_purchase IS NOT NULL
                     AND t_view < t_click AND t_click < t_purchase
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel_complete
    FROM per_session GROUP BY user_id
    """,
    tags=("streaming", "events", "analytics"),
)
def stream_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionized funnel: per 30-min session window, did the
    user complete view → click → purchase IN ORDER (strict first-touch
    timestamps)? Runs as a real Structured Streaming job — session_window
    aggregation with first-touch mins per step computed INSIDE the
    streaming aggregation (min of a CASE is streaming-safe; no
    arbitrary-state operator needed) — then a user-grain batch rollup of
    the materialized sessions. The oracle reconstructs identical sessions
    with the gap-SQL formulation (same 30-min gap as q_session_window) and
    applies the same strict ordering test on epoch-µs integers, so the
    funnel flags are exact on both engines. Scale: session state is keyed
    by user — the watermarkless availableNow replay here becomes a
    watermarked continuous job on a cluster (see q_stream_watermarked for
    the eviction pattern)."""
    ev = read_events_stream(spark, sf_dir)
    sessions = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.unix_micros("ts"))
            ).alias("t_view"),
            F.min(
                F.when(F.col("event_type") == "click", F.unix_micros("ts"))
            ).alias("t_click"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
            ).alias("t_purchase"),
        )
    )
    per_session = run_to_table(sessions, "complete")
    complete = (
        F.col("t_view").isNotNull()
        & F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_view") < F.col("t_click"))
        & (F.col("t_click") < F.col("t_purchase"))
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(complete, 1).otherwise(0)).cast("long").alias("n_funnel_complete"),
    )


@query(
    "q_stream_slo_burn",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             count(*) AS n_total,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_err
      FROM events GROUP BY hr
    )
    SELECT
      CAST(hr AS TIMESTAMP)           AS hr,
      CAST(n_total AS BIGINT)         AS n_total,
      n_err,
      round(n_err * 1e0 / n_total, 6) AS err_rate,
      CAST(CASE WHEN n_err * 1e0 / n_total > 2 * 0.2 THEN 1 ELSE 0 END AS BIGINT)
                                      AS burn_alert
    FROM hourly
    """,
    tags=("streaming", "events", "quality"),
)
def stream_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_slo_burn: the hourly error-budget burn monitor
    executed as a real Structured Streaming job — tumbling 1-hour window,
    error and total counts aggregated in-stream, the rate and the 2×-budget
    alert derived on the materialized windows. This is the operational
    deployment shape (micro-batch alerting off a live event stream); the
    batch oracle is bit-for-bit the same report because counts commute with
    the replay. Alert state is per (window) — bounded; a production job
    adds a watermark for eviction exactly as q_stream_watermarked shows."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_err"),
        )
        .select(F.col("window.start").alias("hr"), "n_total", "n_err")
    )
    out = run_to_table(agg, "complete")
    rate = F.col("n_err") * F.lit(1.0) / F.col("n_total")
    return out.select(
        "hr",
        "n_total",
        "n_err",
        F.round(rate, 6).alias("err_rate"),
        F.when(rate > 2 * 0.2, 1).otherwise(0).cast("long").alias("burn_alert"),
    )


@query(
    "q_stream_hll_users",
    oracle="""
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS STRING)) AS hx FROM events
    ),
    nib AS (
      SELECT event_type,
        (instr('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
          + instr('0123456789abcdef', substring(hx, 2, 1)) - 1 AS bucket,
        length(regexp_extract(substring(hx, 3, 30), '^(0*)', 1)) AS zn,
        substring(hx, 3 + length(regexp_extract(substring(hx, 3, 30), '^(0*)', 1)), 1) AS fc
      FROM h
    ),
    rho AS (
      SELECT event_type, bucket,
             LEAST(4 * zn
                   + CASE WHEN fc = '' THEN 4
                          WHEN fc = '1' THEN 3
                          WHEN fc IN ('2', '3') THEN 2
                          WHEN fc IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END
                   + 1,
                   40) AS r
      FROM nib
    ),
    regs AS (SELECT event_type, bucket, max(r) AS m FROM rho GROUP BY event_type, bucket),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS hit,
             CAST(sum(CAST(pow(2e0, 40 - m) AS BIGINT)) AS BIGINT) AS hit_sum
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type, hit,
             256 - hit AS v,
             hit_sum + (256 - hit) * CAST(pow(2e0, 40) AS BIGINT) AS s_total
      FROM s
    ),
    raw AS (
      SELECT event_type, hit, v,
             (0.7213e0 / (1e0 + 1.079e0 / 256e0)) * 65536e0 * pow(2e0, 40)
               / s_total AS e_raw
      FROM est
    )
    SELECT event_type,
           hit AS n_buckets_hit,
           round(CASE WHEN e_raw <= 640e0 AND v > 0
                      THEN 256e0 * ln(256e0 / v)
                      ELSE e_raw END, 4) AS hll_estimate
    FROM raw
    """,
    tags=("streaming", "sketch", "approx"),
)
def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog — the sketch family's capstone: the portable
    md5-register HLL (q_hll_distinct) run AS A STREAM, with state bounded
    at event_type × 256 register maxima no matter how many events arrive
    (contrast q_stream_dedup, whose exact-distinct state grows with
    keys). Registers merge by max, so the streaming aggregation IS the
    sketch merge; the harmonic-mean finish runs on the materialized
    256-row-per-type relation after the availableNow replay. Deterministic
    md5 registers → the batch oracle computes the bit-identical estimate,
    so this streaming query carries a full value-hash oracle."""
    ev = read_events_stream(spark, sf_dir)
    hx = F.md5(F.col("user_id").cast("string"))
    nib = F.instr(F.lit("0123456789abcdef"), F.substring(hx, 1, 1))
    nib2 = F.instr(F.lit("0123456789abcdef"), F.substring(hx, 2, 1))
    rest = F.substring(hx, 3, 30)
    zn = F.length(F.regexp_extract(rest, "^(0*)", 1))
    fc = F.substring(hx, F.lit(3) + zn, F.lit(1))
    rho = F.least(
        F.lit(4) * zn
        + F.when(fc == "", 4)
        .when(fc == "1", 3)
        .when(fc.isin("2", "3"), 2)
        .when(fc.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
        + F.lit(1),
        F.lit(40),
    )
    regs = (
        ev.select(
            "event_type",
            ((nib - 1) * 16 + nib2 - 1).alias("bucket"),
            rho.alias("r"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("m"))
    )
    materialized = run_to_table(regs, "complete")
    s = materialized.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("hit"),
        F.sum(F.pow(F.lit(2.0), F.lit(40) - F.col("m")).cast("long")).cast("long").alias("hit_sum"),
    )
    est = s.select(
        "event_type",
        "hit",
        (F.lit(256) - F.col("hit")).alias("v"),
        (F.col("hit_sum") + (F.lit(256) - F.col("hit")) * F.pow(F.lit(2.0), 40).cast("long")).alias(
            "s_total"
        ),
    )
    e_raw = (
        F.lit(0.7213 / (1 + 1.079 / 256)) * F.lit(65536.0) * F.pow(F.lit(2.0), 40) / F.col("s_total")
    )
    return est.select(
        "event_type",
        F.col("hit").alias("n_buckets_hit"),
        F.round(
            F.when((e_raw <= 640.0) & (F.col("v") > 0), F.lit(256.0) * F.log(F.lit(256.0) / F.col("v")))
            .otherwise(e_raw),
            4,
        ).alias("hll_estimate"),
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents table, staged by ``_stage_stream``
    for the document-pipeline streaming operators. No event-time ordering
    is needed: the consumers are watermark-free (broadcast joins +
    complete-mode aggs)."""
    return _stage_stream(spark, sf_dir, "documents")


def _rowwise_band_keys():
    """Per-ROW md5 MinHash band keys for a document `text` column: shingle
    strings, 32 seeded md5 minhashes, 8 band keys — all higher-order
    functions on the row, NO aggregation. min over shingles WITH
    multiplicity equals min over the distinct set, so this per-row form is
    bit-identical to the batch groupBy formulation (and the DuckDB oracle).
    Returns the exploded (band, band_key) column."""
    from bigdatainfinance1_spark.operators.dedup import N_BANDS, N_PERM

    r = N_PERM // N_BANDS
    shingles = (
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
    )
    sig = (
        f"transform(sequence(0, {N_PERM - 1}),"
        f" k -> array_min(transform(sh, s -> md5(concat(cast(k AS string), ':', s)))))"
    )
    bands = (
        f"transform(sequence(0, {N_BANDS - 1}),"
        f" b -> struct(b AS band, md5(concat_ws(',', slice(sig, b * {r} + 1, {r}))) AS band_key))"
    )
    return shingles, sig, bands


_STREAM_MINHASH_SQL = """
    WITH ds AS (
      SELECT DISTINCT doc_id, unnest(
        list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    sig AS (
      SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS minh
      FROM ds CROSS JOIN (SELECT unnest(range(0, 32)) AS seed) seeds
      GROUP BY doc_id, seed
    ),
    band_sig AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(minh, ',' ORDER BY seed)) AS band_key
      FROM sig GROUP BY doc_id, band
    ),
    hits AS (
      SELECT DISTINCT n.doc_id AS doc_id, s.doc_id AS seen_id
      FROM band_sig n
      JOIN band_sig s ON n.band = s.band AND n.band_key = s.band_key
      WHERE n.doc_id % 2 = 1 AND s.doc_id % 2 = 0
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seen_candidates,
           min(seen_id) AS first_seen_match
    FROM hits GROUP BY doc_id
"""


@query("q_stream_minhash_dedup", oracle=_STREAM_MINHASH_SQL, tags=("streaming", "dedup", "llm"))
def stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate detection against a static index — the
    production shape for deduplicating an INCOMING crawl against the
    already-ingested corpus (the asymmetric counterpart of the batch
    q_minhash_lsh, streamed): even doc_ids stand in for the seen corpus and
    build a (band, band_key → doc_id) LSH index once, batch-side; odd
    doc_ids arrive as a document stream, compute their 32-permutation md5
    MinHash signature and 8 band keys ENTIRELY per-row (higher-order
    functions — no aggregation, so no shuffle and no state before the
    join; min over shingles with multiplicity ≡ min over the distinct set,
    which is what makes the rowwise form equal the batch/oracle
    formulation), and probe the broadcast index with a band equi-join.
    Candidate pairs dedupe across bands in-stream (stateful
    dropDuplicates) and aggregate per new document. At 100 TB the seen
    index shards by band_key instead of broadcasting and the probe becomes
    a shuffle equi-join — same plan class; state is bounded by candidate
    pairs in both layouts. Verification tier (exact Jaccard on candidates)
    stays batch-side: q_minhash_lsh."""
    docs_stream = read_documents_stream(spark, sf_dir)
    shingles, sig, bands = _rowwise_band_keys()
    new_docs = (
        docs_stream.filter((F.col("doc_id") % 2 == 1))
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 3)
        .withColumn("sh", F.expr(shingles))
        .withColumn("sig", F.expr(sig))
        .select("doc_id", F.explode(F.expr(bands)).alias("bk"))
        .select("doc_id", "bk.band", "bk.band_key")
    )
    seen = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 3)
        .withColumn("sh", F.expr(shingles))
        .withColumn("sig", F.expr(sig))
        .select(
            F.col("doc_id").alias("seen_id"), F.explode(F.expr(bands)).alias("bk")
        )
        .select("seen_id", "bk.band", "bk.band_key")
    )
    hits = (
        new_docs.join(F.broadcast(seen), ["band", "band_key"])
        .select("doc_id", "seen_id")
        .dropDuplicates(["doc_id", "seen_id"])
    )
    agg = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seen_candidates"),
        F.min("seen_id").alias("first_seen_match"),
    )
    return run_to_table(agg, "complete")


@query(
    "q_stream_last_per_key",
    oracle="""
    SELECT user_id, event_type AS last_type,
           round(value, 4) AS last_value, n_updates
    FROM (
      SELECT user_id, event_type, value,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_updates,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("streaming", "events", "cdc"),
)
def stream_last_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7-adjacent: streaming last-value-wins materialization — the CDC
    upsert view every streaming lakehouse keeps per key: as events replay,
    each user's row converges to the latest (ts, event_id) observation,
    with an update counter riding along. Implemented as a streaming
    aggregation of max_by(struct, (ts, event_id)) per key in complete
    mode — declarative, so Spark maintains ONE struct of state per key
    (bounded by key cardinality, not stream length; the batch q_cdc_apply
    is the snapshot twin). The (ts, event_id) order key is total, so the
    replay converges to the same relation in any micro-batch partitioning,
    which is what the batch window oracle checks."""
    ev = read_events_stream(spark, sf_dir)
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    agg = ev.groupBy("user_id").agg(
        F.max_by(F.col("event_type"), ordk).alias("last_type"),
        F.round(F.max_by(F.col("value"), ordk), 4).alias("last_value"),
        F.count(F.lit(1)).cast("long").alias("n_updates"),
    )
    return run_to_table(agg, "complete")


@query(
    "q_stream_ohlc",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS bar_start,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key,
             round(value, 4) AS v
      FROM events
    )
    SELECT bar_start,
           CAST(count(*) AS BIGINT) AS n_ticks,
           min_by(v, ord_key) AS open,
           max(v) AS high,
           min(v) AS low,
           max_by(v, ord_key) AS close,
           round(sum(v), 4) AS volume_value
    FROM e GROUP BY bar_start
    """,
    tags=("streaming", "events", "finance"),
)
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1+ (finance bars): hourly OHLC candles computed as a REAL
    Structured Streaming job — the streaming sibling of the batch
    q_ohlc_bars and the shape a live market-data pipeline runs: per
    tumbling event-time window, first/last tick value (open/close, keyed
    by a zero-padded (epoch_us, event_id) string so the total order is
    identical on both engines — DuckDB 1.0's min_by has no struct-key
    overload), high/low, tick count, and
    traded value. min_by/max_by are ordinary declarative aggregates, so
    the incremental planner maintains them in the state store exactly
    like sum/count — no arbitrary-state operator needed for OHLC.

    availableNow replay makes the streaming result batch-equivalent, so
    the DuckDB batch formulation is a FULL value-hash oracle (the
    q_stream_tumbling precedent). Values are rounded to 4 dp BEFORE
    aggregation so min/max compare identical doubles. Scale: state is
    O(open windows); the 1-hour event-time window bounds it with a
    watermark in a live deployment."""
    ev = read_events_stream(spark, sf_dir)
    e = ev.select(
        F.window("ts", "1 hour").alias("w"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("ord_key"),
        F.round("value", 4).alias("v"),
    )
    agg = (
        e.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
            F.min_by("v", F.col("ord_key")).alias("open"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max_by("v", F.col("ord_key")).alias("close"),
            F.round(F.sum("v"), 4).alias("volume_value"),
        )
        .select(
            F.col("w.start").alias("bar_start"),
            "n_ticks",
            "open",
            "high",
            "low",
            "close",
            "volume_value",
        )
    )
    return run_to_table(agg, "complete")


@query(
    "q_stream_vwap",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS bar_start,
             round(value, 4) AS px,
             (event_id % 100) + 1 AS sz
      FROM events
    )
    SELECT bar_start,
           CAST(sum(sz) AS BIGINT) AS volume,
           round(CAST(sum(CAST(round(px * 1e4) AS HUGEINT) * sz) AS DOUBLE)
                 / 1e4 / sum(sz), 6) AS vwap,
           round(CAST(sum(CAST(round(px * 1e4) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1e4, 6) AS twap_naive
    FROM e GROUP BY bar_start
    """,
    tags=("streaming", "events", "finance"),
)
def stream_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1+ (execution benchmark): hourly volume-weighted average price as
    a REAL Structured Streaming job — the live benchmark execution desks
    compare fills against, maintained incrementally as two running sums
    (sum px x sz, sum sz) in the state store; the naive per-tick mean
    rides alongside to show the size-weighting difference. Tick size is
    derived deterministically from the event id (the corpus carries no
    size column); price is the 4-dp-rounded event value.

    availableNow replay makes the result batch-equivalent, so the batch
    SQL is a FULL value-hash oracle (the q_stream_tumbling precedent).
    The weighted sums are integer-weighted 4-dp values — ulp noise far
    under the 6-dp rounding. Scale: state is O(open windows); the
    aggregation is map-side-combinable before the state update."""
    ev = read_events_stream(spark, sf_dir)
    e = ev.select(
        F.window("ts", "1 hour").alias("w"),
        F.round("value", 4).alias("px"),
        ((F.col("event_id") % 100) + 1).alias("sz"),
    )
    agg = (
        e.groupBy("w")
        .agg(
            F.sum("sz").cast("long").alias("volume"),
            # integer-moments rule: px is 4-dp — the weighted and naive
            # means sum exact integer grains in the state store
            F.round(
                # decimal(38,0) product/sum: DuckDB's BIGINT sum auto-widens
                # to HUGEINT while Spark's LongType would wrap silently —
                # match the twap/rolling_corr overflow treatment
                F.sum(
                    F.round(F.col("px") * 1e4).cast("decimal(19,0)") * F.col("sz")
                ).cast("double")
                / 1e4
                / F.sum("sz"),
                6,
            ).alias("vwap"),
            F.round(
                F.sum(F.round(F.col("px") * 1e4).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 1e4,
                6,
            ).alias("twap_naive"),
        )
        .select(F.col("w.start").alias("bar_start"), "volume", "vwap", "twap_naive")
    )
    return run_to_table(agg, "complete")


@query(
    "q_stream_zscore_alerts",
    oracle="""
    WITH prof AS (
      SELECT event_type,
             round(CAST(sum(CAST(round(value * 1e4) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e4, 8) AS mu,
             round(sqrt(CAST(sum(CAST(round(value * 1e4) AS HUGEINT)
                                 * CAST(round(value * 1e4) AS BIGINT)) AS DOUBLE)
                          / 1e8 / count(*)
                        - (CAST(sum(CAST(round(value * 1e4) AS BIGINT)) AS DOUBLE)
                           / count(*) / 1e4)
                          * (CAST(sum(CAST(round(value * 1e4) AS BIGINT)) AS DOUBLE)
                             / count(*) / 1e4)), 8) AS sigma
      FROM events GROUP BY event_type
    ),
    win AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(round(value * 1e4) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e4, 8) AS win_mean
      FROM events GROUP BY 1, 2
    )
    SELECT win.window_start, win.event_type, win.n,
           round(win.win_mean, 6) AS win_mean,
           round((win.win_mean - prof.mu) / (prof.sigma / sqrt(win.n)), 6) AS z,
           abs((win.win_mean - prof.mu) / (prof.sigma / sqrt(win.n))) > 3.0 AS alert
    FROM win JOIN prof ON prof.event_type = win.event_type
    """,
    tags=("streaming", "events", "quality"),
)
def stream_zscore_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6+ (live anomaly alerting): hourly per-event-type window means
    computed as a REAL Structured Streaming aggregation, each window
    tested against a BROADCAST static historical profile (mean and
    population sigma per type, computed batch-side before the stream
    starts) with the standard-error z-score |z| > 3 alert — the
    monitoring shape a production pipeline runs: heavy history reduced
    to an O(types) profile once, then every incoming window costs one
    broadcast lookup and a closed form. The profile here derives from
    the same replayed corpus, which makes the batch SQL a FULL
    value-hash oracle while keeping the plumbing (stream agg ⋈ static
    broadcast) exactly what a live deployment uses.

    Determinism: values round at 4 before aggregation, window means and
    profile moments at 8 before the z closed form, output at 6. Scale:
    streaming state is O(open windows × types); the static side is
    O(types) and broadcast."""
    ev_static = load_table(spark, sf_dir, "events")
    v4 = F.round("value", 4)
    # integer-moments rule: profile moments sum exact 1e-4-grain integers
    vi = F.round(F.col("value") * 1e4).cast("long")
    mu_d = F.sum(vi).cast("double") / F.count(F.lit(1)) / 1e4
    prof = ev_static.groupBy("event_type").agg(
        F.round(mu_d, 8).alias("mu"),
        F.round(
            F.sqrt(
                F.sum(vi.cast("decimal(19,0)") * vi).cast("double")
                / 1e8
                / F.count(F.lit(1))
                - mu_d * mu_d
            ),
            8,
        ).alias("sigma"),
    )
    ev = read_events_stream(spark, sf_dir)
    win = (
        ev.select(
            F.window("ts", "1 hour").alias("w"), "event_type", v4.alias("v")
        )
        .groupBy("w", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.round(F.col("v") * 1e4).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 1e4,
                8,
            ).alias("win_mean"),
        )
    )
    z = (F.col("win_mean") - F.col("mu")) / (F.col("sigma") / F.sqrt(F.col("n")))
    out = (
        win.join(F.broadcast(prof), "event_type")
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.round(F.col("win_mean"), 6).alias("win_mean"),
            F.round(z, 6).alias("z"),
            (F.abs(z) > 3.0).alias("alert"),
        )
    )
    return run_to_table(out, "complete")
