"""Streaming custom Python sink (Spark 4 DataSourceStreamWriter) — the
streaming half of the custom-connector write surface (sources/
jsonl_sink.py is the batch half): every micro-batch's partitions write
JSON-lines files on the executors; `commit(messages, batchId)` runs on
the driver once per micro-batch and appends to a manifest — the
per-batch two-phase commit that gives a foreachBatch-class sink
exactly-once semantics without foreachBatch's driver lambda.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import scratch_dir
from bigdatainfinance1_spark.streaming.jobs import read_events_stream, run_to_table


class StreamSinkCommit(WriterCommitMessage):
    def __init__(self, filename: str, n_rows: int) -> None:
        self.filename = filename
        self.n_rows = n_rows


class JsonLinesStreamSink(DataSource):
    """df.writeStream.format("jsonl_stream_sink").option("path", dir)"""

    @classmethod
    def name(cls) -> str:
        return "jsonl_stream_sink"

    def streamWriter(self, schema, overwrite: bool) -> "JsonLinesStreamWriter":
        return JsonLinesStreamWriter(self.options, [f.name for f in schema.fields])


class JsonLinesStreamWriter(DataSourceStreamWriter):
    def __init__(self, options, columns) -> None:
        self.path = options["path"]
        self.columns = list(columns)

    def write(self, iterator) -> StreamSinkCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        os.makedirs(self.path, exist_ok=True)
        fname = os.path.join(
            self.path, f"part-{ctx.taskAttemptId():08d}-{ctx.partitionId():04d}.jsonl"
        )
        n = 0
        with open(fname, "w") as f:
            for row in iterator:
                f.write(json.dumps(dict(zip(self.columns, row)), sort_keys=True))
                f.write("\n")
                n += 1
        return StreamSinkCommit(fname, n)

    def commit(self, messages, batchId: int) -> None:
        with open(os.path.join(self.path, "_MANIFEST.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "batch": batchId,
                        "files": sorted(
                            m.filename for m in messages if m is not None
                        ),
                        "rows": sum(m.n_rows for m in messages if m is not None),
                    },
                    sort_keys=True,
                )
                + "\n"
            )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.filename):
                os.remove(m.filename)


def committed_stream_files(path: str) -> list[str]:
    """All files committed across micro-batches, read from _MANIFEST.jsonl
    (one line per batch commit). Attempt-id-named files from losing
    retry/speculative attempts sit in the directory but never in the
    manifest — a glob would double-count them; this reader cannot. If the
    same batch id appears twice (a batch REPLAYED after a driver failure
    between sink-commit and checkpoint-commit), the LAST line per batch
    wins — that is the replay's file set, and counting both would
    double-count the batch."""
    last_per_batch: dict[int, list[str]] = {}
    with open(os.path.join(path, "_MANIFEST.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            last_per_batch[rec["batch"]] = list(rec["files"])
    return [fn for _, files in sorted(last_per_batch.items()) for fn in files]


_SS_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@query(
    "q_stream_python_sink",
    oracle=_SS_SQL,
    tags=("streaming", "io", "spark4", "connector"),
)
def stream_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST surface x custom connector: the events STREAM flows through the
    Spark-4 Python DataSourceStreamWriter (one JSON-lines file per
    micro-batch partition, per-batch two-phase commit with a driver
    manifest), then the files are read back and aggregated per event
    type — so the hash-checked result physically traversed the custom
    streaming sink across multiple micro-batches (the staged replay
    yields 2 batches). The payload is integers only (event_id, type,
    value cents), so JSON round-trips exactly and the FULL batch oracle
    applies — the rare full-value-hash check for a streaming sink.

    Scale: append-mode passthrough (no stateful operator), executor-side
    files, O(1) driver work per batch — the structure of a production
    feed push; exactly-once comes from the file-source replay plus the
    per-batch commit."""
    import shutil

    spark.dataSource.register(JsonLinesStreamSink)
    base = scratch_dir("jsonl_stream", sf_dir, "events")
    path, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    ev = read_events_stream(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    q = (
        ev.writeStream.format("jsonl_stream_sink")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # manifest-driven readback: only files recorded by per-batch commit()
    # lines count (losing-attempt orphans and replayed-batch duplicates are
    # excluded by committed_stream_files, not by filename luck).
    schema = "event_id bigint, event_type string, cents bigint"
    files = committed_stream_files(path)
    back = (
        spark.read.schema(schema).json(files)
        if files
        else spark.createDataFrame([], schema)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_stream_python_source — custom Python STREAMING source round-trip
# ---------------------------------------------------------------------------

_SRC_SQL = """
    WITH ticks AS (
      SELECT
        i % 8                                                        AS part_id,
        100.0 + ((1103515245 * i + 12345) % 2147483648)
                / 2147483648.0 * 10.0                                AS price,
        ((69069 * i + 1) % 97) + 1                                   AS qty
      FROM range(20000) t(i)
    )
    SELECT CAST(part_id AS BIGINT) AS part_id,
           CAST(count(*) AS BIGINT) AS n_ticks,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           round(sum(price * qty), 2) AS notional
    FROM ticks GROUP BY part_id ORDER BY part_id
"""


@query(
    "q_stream_python_source",
    oracle=_SRC_SQL,
    tags=("streaming", "io", "spark4", "connector"),
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth quadrant of the custom-connector matrix (batch read =
    q_python_datasource, batch write = q_python_datasink, stream write =
    q_stream_python_sink): the SAME synthetic-ticks format consumed as a
    STREAM through the Spark-4 DataSourceStreamReader — tick-count
    offsets, pending ranges strided into executor-side partitions (the
    full reader, never the driver-side Simple variant), drained with an
    availableNow trigger into a memory sink and aggregated per stream
    partition. The generator's IEEE-exact LCG arithmetic gives the
    streaming source a FULL value-hash oracle against DuckDB's range().

    Scale: offsets are O(1) driver state; every read happens in a
    partition task; the aggregate is map-side combinable — a real feed
    adapter (exchange multicast, vendor websocket) keeps exactly this
    shape with offsets per upstream shard."""
    from bigdatainfinance1_spark.sources import ticks as ticks_src

    ticks_src.register(spark)
    stream = spark.readStream.format("synthetic_ticks").load()
    agg = stream.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("qty").cast("long").alias("total_qty"),
        F.round(F.sum(F.col("price") * F.col("qty")), 2).alias("notional"),
    )
    return run_to_table(agg, "complete").select(
        F.col("part_id").cast("long").alias("part_id"),
        F.col("n_ticks").cast("long").alias("n_ticks"),
        "total_qty",
        "notional",
    ).orderBy("part_id")
