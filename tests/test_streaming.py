"""Streaming-specific behaviors that the batch oracle can't check
(SURVEY.md §2.8 ST4/ST7, §2.10 U4/U5): watermark API, arbitrary stateful
processing, UDTFs, SQL-registered UDFs, and batch↔streaming equivalence of
the session-window operators."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatainfinance1_spark.registry import load_all_queries
from bigdatainfinance1_spark.sources.catalog import load_table, scratch_dir
from bigdatainfinance1_spark.streaming.jobs import read_events_stream, run_to_table
from tests.conftest import SF_DIR

SPECS = load_all_queries()


def test_streaming_tumbling_equals_batch(spark):
    """The streaming tumbling agg must equal the same agg run in batch."""
    stream_res = SPECS["q_stream_tumbling"].fn(spark, SF_DIR).toPandas()
    ev = load_table(spark, SF_DIR, "events")
    batch_res = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events", "total_value")
        .toPandas()
    )
    key = ["window_start", "event_type"]
    s = stream_res.sort_values(key).reset_index(drop=True)
    b = batch_res.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(s, b, check_like=True)


def test_session_window_streaming_variant(spark):
    """ST3 under readStream with watermark — session count must match the
    batch session_window count (availableNow replay, nothing late)."""
    sdf = read_events_stream(spark, SF_DIR)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_table(agg, "append")
    batch = SPECS["q_session_window"].fn(spark, SF_DIR)
    # append mode may withhold sessions not yet finalized by the watermark at
    # the last batch; everything emitted must be a correct session
    emitted = out.count()
    total = batch.count()
    assert 0 < emitted <= total
    joined = (
        out.select("user_id", F.col("session_window.start").alias("session_start"), "n_events")
        .join(
            batch.select("user_id", "session_start", F.col("n_events").alias("n_batch")),
            ["user_id", "session_start"],
        )
    )
    assert joined.filter(F.col("n_events") != F.col("n_batch")).count() == 0


def test_arbitrary_stateful_funnel(spark):
    """ST7: applyInPandasWithState — per-user running event count with
    explicit state, checked against the plain batch count."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sdf = read_events_stream(spark, SF_DIR).select("user_id", "event_type")

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("cnt", T.LongType())])

    def count_events(key, pdfs, state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

    result = sdf.groupBy("user_id").applyInPandasWithState(
        count_events, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    got = run_to_table(result, "update").toPandas()
    # update mode emits one row per user per micro-batch; the LAST value per
    # user must equal the batch count
    final = got.groupby("user_id")["n_events"].max()
    expected = (
        load_table(spark, SF_DIR, "events").groupBy("user_id").count().toPandas()
        .set_index("user_id")["count"]
    )
    assert final.sort_index().equals(expected.sort_index().astype("int64"))


def test_udtf_shingles(spark):
    """U4: Python UDTF — text → shingle rows as a table function."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="shingle: string, pos: int")
    class Shingles:
        def eval(self, text: str, n: int):
            toks = text.split(" ")
            for i in range(max(len(toks) - n + 1, 0)):
                yield " ".join(toks[i : i + n]), i

    rows = Shingles(lit("a b c d"), lit(3)).collect()
    assert [r.shingle for r in rows] == ["a b c", "b c d"]


def test_sql_registered_udf(spark):
    """U5: register a Python function for the SQL entry point."""
    spark.udf.register("py_revenue", lambda p, d: p * (1.0 - d), "double")
    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView("li_udf_test")
    got = spark.sql(
        "SELECT round(sum(py_revenue(l_extendedprice, l_discount)), 2) AS rev FROM li_udf_test"
    ).collect()[0]["rev"]
    expected = (
        load_table(spark, SF_DIR, "lineitem")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("r"))
        .collect()[0]["r"]
    )
    assert got == pytest.approx(expected, abs=0.01)


def test_sql_entry_point_matches_dataframe_api(spark):
    """Entry point 3 (SURVEY.md §3): the same SQL text over registered views
    must match the DataFrame-API flagship."""
    from bigdatainfinance1_spark.sources.catalog import register_views

    register_views(spark, SF_DIR)
    sql_res = spark.sql(SPECS["q_pricing_summary"].oracle).toPandas()
    df_res = SPECS["q_pricing_summary"].fn(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(
        sql_res.reset_index(drop=True), df_res.reset_index(drop=True), check_like=True
    )


def test_ordered_stage_mtimes_follow_path_order(spark):
    """FileStreamSource orders pending files by MODIFICATION TIME, not path
    (round-2 ADVICE): the ordered stage must therefore carry strictly
    increasing mtimes in sorted-path order, or a multi-day replay can
    nondeterministically drop whole time ranges as late. Also asserts the
    range partitioning itself: later files hold later ts ranges."""
    import os

    from bigdatainfinance1_spark.streaming.jobs import (
        read_events_stream_ordered,
        stream_file_paths,
    )

    (stage,) = stream_file_paths(read_events_stream_ordered(spark, SF_DIR))
    parts = sorted(
        p for p in os.listdir(stage) if p.startswith("part-") and p.endswith(".parquet")
    )
    assert len(parts) == 4
    mtimes = [os.stat(os.path.join(stage, p)).st_mtime for p in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes), (
        f"stage mtimes not strictly increasing in path order: {mtimes}"
    )
    bounds = [
        spark.read.parquet(os.path.join(stage, p))
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
        for p in parts
    ]
    for earlier, later in zip(bounds, bounds[1:]):
        assert earlier["hi"] <= later["lo"], "range partitions out of ts order"


def test_tws_query_gated_on_protobuf():
    """q_stream_tws_minmax registers iff google.protobuf is importable —
    the Spark 4 transformWithState API needs a protobuf driver worker."""
    from bigdatainfinance1_spark.registry import load_all_queries
    from bigdatainfinance1_spark.streaming.jobs import _has_protobuf

    assert ("q_stream_tws_minmax" in load_all_queries()) == _has_protobuf()


def test_tws_minmax_runs_where_protobuf_exists(spark):
    """ST7 Spark-4 variant: RUNS transformWithStateInPandas end-to-end when
    the container has protobuf; otherwise skips with the environment reason
    (VERDICT round-1 task 6 — the gap must be visible, not silent). Either
    way ST7 execution coverage holds via the applyInPandasWithState twin
    (q_stream_stateful_totals — in the driver correctness window)."""
    import pytest

    from bigdatainfinance1_spark.registry import load_all_queries
    from bigdatainfinance1_spark.streaming.jobs import _has_protobuf

    if not _has_protobuf():
        pytest.skip(
            "google.protobuf absent in this container: Spark 4's "
            "transformWithStateInPandas driver worker cannot import "
            "pyspark.sql.streaming.proto; ST7 covered by "
            "q_stream_stateful_totals (applyInPandasWithState)"
        )
    spec = load_all_queries()["q_stream_tws_minmax"]
    out = spec.fn(spark, SF_DIR)
    assert out.count() > 0
    assert set(out.columns) == {"user_id", "min_value", "max_value", "n_events"}


def test_python_sink_two_phase_commit_artifacts(spark):
    """The custom Python sinks must leave their commit evidence: the batch
    sink's manifest row count equals the query result's input, and the
    STREAMING sink's manifest shows MULTIPLE micro-batches each with its
    own committed file set (exactly-once per batch, not one monolithic
    dump)."""
    import json
    import os

    from bigdatainfinance1_spark.registry import load_all_queries

    specs = load_all_queries()
    out = specs["q_python_datasink"].fn(spark, SF_DIR).collect()
    base = scratch_dir("jsonl_sink", SF_DIR, "orders")
    manifest = json.loads(open(os.path.join(base, "_MANIFEST.json")).read())
    assert manifest["rows"] == len(out) > 0
    assert all(os.path.exists(f) for f in manifest["files"])

    rows = specs["q_stream_python_sink"].fn(spark, SF_DIR).collect()
    sbase = os.path.join(scratch_dir("jsonl_stream", SF_DIR, "events"), "out")
    batches = [
        json.loads(line)
        for line in open(os.path.join(sbase, "_MANIFEST.jsonl"))
    ]
    assert len(batches) >= 2, "staged replay should commit >= 2 micro-batches"
    assert sum(b["rows"] for b in batches) == sum(r["n_events"] for r in rows)


def test_sink_readback_ignores_orphan_attempt_files(spark):
    """Exactly-once under task retry/speculation: a losing attempt leaves an
    orphan part file next to the committed ones (attempt-id filenames mean
    it can't clobber a winner). The manifest-driven readback must not count
    it — and a directory glob WOULD, which is exactly the bug this guards
    against (round-4 ADVICE, jsonl_sink.py)."""
    import glob as _glob
    import json
    import os

    from bigdatainfinance1_spark.registry import load_all_queries
    from bigdatainfinance1_spark.sources import jsonl_sink
    from bigdatainfinance1_spark.streaming import custom_sink

    specs = load_all_queries()
    # --- batch sink ---
    out = specs["q_python_datasink"].fn(spark, SF_DIR).collect()
    base = scratch_dir("jsonl_sink", SF_DIR, "orders")
    orphan = os.path.join(base, "part-00000-99999999.jsonl")
    with open(orphan, "w") as f:
        f.write(json.dumps({"n_name": "ZOMBIE", "n_orders": 1, "rev_cents": 1}) + "\n")
    committed = jsonl_sink.committed_files(base)
    assert orphan not in committed
    assert len(_glob.glob(os.path.join(base, "part-*.jsonl"))) == len(committed) + 1
    back = jsonl_sink.read_committed(
        spark, base, "n_name string, n_orders bigint, rev_cents bigint"
    )
    assert back.count() == len(out)
    assert back.filter("n_name = 'ZOMBIE'").count() == 0

    # --- streaming sink: orphan file + replayed-batch manifest line ---
    specs["q_stream_python_sink"].fn(spark, SF_DIR).collect()
    sbase = os.path.join(scratch_dir("jsonl_stream", SF_DIR, "events"), "out")
    sorphan = os.path.join(sbase, "part-99999999-0000.jsonl")
    open(sorphan, "w").write(json.dumps({"event_id": -1, "event_type": "z", "cents": 0}) + "\n")
    files = custom_sink.committed_stream_files(sbase)
    assert sorphan not in files
    # replay of batch 0 (driver died between sink-commit and checkpoint
    # commit): last manifest line per batch id wins, no double count
    first = json.loads(open(os.path.join(sbase, "_MANIFEST.jsonl")).readline())
    with open(os.path.join(sbase, "_MANIFEST.jsonl"), "a") as f:
        f.write(json.dumps(first, sort_keys=True) + "\n")
    assert custom_sink.committed_stream_files(sbase) == files


def test_batch_sink_two_concurrent_attempts_same_partition(spark, monkeypatch, tmp_path):
    """The batch twin of the orphan test ABOVE the readback layer (round-5
    verdict task 7): two attempts of the SAME partition actually run the
    writer — speculation/retry race. Attempt-id filenames must give each a
    private path (no mid-write clobbering is possible because the paths
    are disjoint, which this asserts directly), commit() must record only
    the attempt Spark declared the winner, and the manifest readback must
    count the winner's rows exactly once even though the loser wrote
    identical data to the same directory."""
    import json
    import os

    import pyspark

    from bigdatainfinance1_spark.sources import jsonl_sink

    class Ctx:
        def __init__(self, pid: int, aid: int) -> None:
            self._p, self._a = pid, aid

        def partitionId(self) -> int:
            return self._p

        def taskAttemptId(self) -> int:
            return self._a

    path = str(tmp_path / "race")
    w = jsonl_sink.JsonLinesWriter({"path": path}, ["k", "v"])
    rows = [(1, "a"), (2, "b")]
    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: Ctx(0, 7)))
    winner = w.write(iter(rows))
    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: Ctx(0, 8)))
    loser = w.write(iter(rows))  # same partition, new attempt id
    assert winner.filename != loser.filename, "attempts must never share a path"
    assert os.path.exists(winner.filename) and os.path.exists(loser.filename)
    # winner's bytes are intact after the loser finished writing
    assert [json.loads(line) for line in open(winner.filename)] == [
        {"k": 1, "v": "a"},
        {"k": 2, "v": "b"},
    ]
    w.commit([winner])  # Spark reports only the winning attempt's message
    assert jsonl_sink.committed_files(path) == [winner.filename]
    back = jsonl_sink.read_committed(spark, path, "k bigint, v string")
    assert back.count() == len(rows)  # loser's identical rows count ZERO times
