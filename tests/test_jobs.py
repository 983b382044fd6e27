"""Spark job-count and process-start budgets, the fixed-point helper, the
catalog's schema memo, its once-per-file-version views and its source-keyed
scratch stages, the sink queries' one scratch directory per source, and the
streaming runner's state-partition sizing, memory-sink views and known
schemas.

Scheduler overhead is paid per job, so a query that creeps from 3 jobs back
to a hundred is a regression even when its results stay right. Jobs are
counted from the DAG scheduler's job-id counter, which covers every job
group (the same count the benchmark reports).
"""

from __future__ import annotations

import collections
import inspect
import json
import os
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import StructType

from bigdatainfinance1_spark.functions import iterate
from bigdatainfinance1_spark.functions.iterate import UNSETTLED, fixpoint
from bigdatainfinance1_spark.operators import graph
from bigdatainfinance1_spark.registry import load_all_queries
from bigdatainfinance1_spark.sources import catalog
from bigdatainfinance1_spark.sources import ticks as ticks_src
from bigdatainfinance1_spark.sources.catalog import (
    SCRATCH_ROOT,
    TABLES,
    load_table,
    register_views,
    scratch_dir,
    source_key,
)
from bigdatainfinance1_spark.streaming.jobs import (
    read_documents_stream,
    read_events_stream,
    read_events_stream_ordered,
    state_partitions,
    stream_file_paths,
)
from tests.conftest import SF_DIR, assert_frames_match

SPECS = load_all_queries()

# Warm jobs per query at sf0.001 for the driver loops. The hand-rolled
# loops they replaced took 19, 34, 35 and 82: a per-round count() or
# compare-join count(), and a BFS distance subtree doubling every round.
LOOP_JOB_BUDGETS = {
    "q_kcore": 8,
    "q_dup_clusters": 22,
    "q_entity_resolution": 17,
    "q_bfs_hops": 17,
}

# Warm jobs per query at sf0.001 for the streams and sinks of the udf_stream
# benchmark. They took 5, 6 and 5 while the stream stage's schema, the sink
# read-backs' schemas and the memory-sink copy each cost a job.
STREAM_JOB_BUDGETS = {
    "q_stream_tumbling": 3,
    "q_stream_file_sink": 4,
    "q_partitioned_sink": 4,
}

# Streaming queries that write a memory sink, through run_to_table or not.
MEMORY_SINK_QUERIES = sorted(
    name
    for name, spec in SPECS.items()
    if "streaming" in spec.tags
    and any(s in inspect.getsource(spec.fn) for s in ("run_to_table(", '.format("memory")'))
)


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def cached_entries(spark) -> int:
    return int(spark._jsparkSession.sharedState().cacheManager().numCachedEntries())


def test_amortization_schedule_job_budget(spark):
    """Closed-form schedule: build + collect in at most 3 jobs once its
    tables are warm (the recursive form ran one job chain per period)."""
    fn = SPECS["q_amortization_schedule"].fn
    fn(spark, SF_DIR).collect()
    first = next_job_id(spark)
    fn(spark, SF_DIR).collect()
    assert next_job_id(spark) - first <= 3


def test_repeat_load_table_runs_no_job(spark):
    load_table(spark, SF_DIR, "orders")
    first = next_job_id(spark)
    df = load_table(spark, SF_DIR, "orders")
    assert next_job_id(spark) == first
    assert "o_totalprice" in df.columns


def test_schema_memo_follows_a_rewritten_file(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]

    pq.write_table(pa.table({"a": [3, 4, 5], "c": [0.5, 1.5, 2.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "c"]
    assert sorted(r.c for r in df.collect()) == [0.5, 1.5, 2.5]


def test_reused_stage_follows_a_rewritten_source(spark, tmp_path):
    """q_compact_small_files reuses its fragmented and compacted stages once
    written; they are keyed on the source's fingerprint, so a table
    rewritten at the same path is staged again, never read stale. On these
    3- and 5-row tables its file counts (3/3, then 5/4) match the oracle."""
    path = tmp_path / "orders.parquet"
    spec = SPECS["q_compact_small_files"]
    for prices in ([1.25, 2.5, 3.0], [10.0, 20.01, 30.02, 40.03, 50.04]):
        pq.write_table(
            pa.table({"o_orderkey": pa.array(range(len(prices)), pa.int64()), "o_totalprice": prices}),
            path,
        )
        got = spec.fn(spark, str(tmp_path)).toPandas()
        assert (got.n_rows[0], got.revenue[0]) == (len(prices), round(sum(prices), 2))
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
            want = con.execute(spec.oracle).df()
        finally:
            con.close()
        assert_frames_match(got, want, spec.name)


def test_stage_write_drops_stages_of_a_rewritten_or_deleted_source(spark, tmp_path):
    """Writing a stage removes the same kind's stages built from an earlier
    version of the same source, or from a source that is gone, so temporary
    and rewritten tables leave nothing in the scratch root."""
    fn = SPECS["q_compact_small_files"].fn
    kinds = ("frag_orders", "compact_orders")

    def stage(sf_dir, n_rows):
        pq.write_table(
            pa.table({"o_orderkey": pa.array(range(n_rows), pa.int64()), "o_totalprice": [1.5] * n_rows}),
            sf_dir / "orders.parquet",
        )
        fn(spark, str(sf_dir)).toPandas()
        paths = [scratch_dir(kind, str(sf_dir), "orders") for kind in kinds]
        assert all(os.path.isdir(p) for p in paths)
        return paths

    first, second = tmp_path / "first", tmp_path / "second"
    first.mkdir()
    second.mkdir()
    old = stage(first, 3)
    rewritten = stage(first, 5)
    assert not any(os.path.exists(p) for p in old)
    os.remove(first / "orders.parquet")
    stage(second, 4)
    assert not any(os.path.exists(p) for p in rewritten)


def customer_dir(path, balances, pad: int = 0) -> str:
    """A table directory whose customer table holds one row per balance, all
    above q_keyset_pagination's 5000.00 cut; the other tables link to
    SF_DIR's. ``pad`` adds an uncompressed comment of that many bytes to
    each row and writes one row group per row."""
    path.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(1, len(balances) + 1), pa.int64()),
                "c_acctbal": pa.array(balances, pa.float64()),
                "c_mktsegment": ["BUILDING"] * len(balances),
                "c_comment": ["x" * pad] * len(balances),
            }
        ),
        path / "customer.parquet",
        row_group_size=1 if pad else None,
        compression="none" if pad else "snappy",
    )
    for name in TABLES:
        if not (path / f"{name}.parquet").exists():
            (path / f"{name}.parquet").symlink_to(f"{SF_DIR}/{name}.parquet")
    return str(path)


def keyset_balances(spark, sf_dir) -> list[float]:
    """The balances q_keyset_pagination, a ``sql_query`` over the customer
    view, reads from ``sf_dir``."""
    return sorted(r.acctbal for r in SPECS["q_keyset_pagination"].fn(spark, sf_dir).collect())


@pytest.fixture
def restore_views(spark):
    yield
    register_views(spark, SF_DIR)  # other tests read the session's views


def test_warm_sql_query_loads_no_table_and_creates_no_view(spark, tmp_path, monkeypatch, restore_views):
    """A session's views are registered once per sf_dir and file version:
    a warm call over unchanged files only reads their statuses."""
    sf_dir = customer_dir(tmp_path, [6000.0, 7000.0])
    assert keyset_balances(spark, sf_dir) == [6000.0, 7000.0]
    calls = collections.Counter()

    def counted(owner, attr):
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            calls[attr] += 1
            return original(*args, **kwargs)

        monkeypatch.setattr(owner, attr, wrapper)

    counted(catalog, "load_table")
    counted(catalog, "_read_parquet")
    counted(ClassicDataFrame, "createOrReplaceTempView")
    assert keyset_balances(spark, sf_dir) == [6000.0, 7000.0]
    assert calls == {}


def test_sql_query_reads_a_table_rewritten_at_the_same_path(spark, tmp_path, restore_views):
    """A view keeps the file length it was registered with, and Spark reads
    only the row groups inside it; the rewritten file's row groups all lie
    beyond the old length, so a stale view reads none of them."""
    sf_dir = customer_dir(tmp_path, [6000.0, 7000.0])
    assert keyset_balances(spark, sf_dir) == [6000.0, 7000.0]
    customer_dir(tmp_path, [8000.0, 9000.0, 9500.0], pad=8192)
    assert keyset_balances(spark, sf_dir) == [8000.0, 9000.0, 9500.0]


def test_views_read_the_last_registered_sf_dir(spark, tmp_path, restore_views):
    """The views follow the latest registration: A, then B, then A reads A."""
    a = customer_dir(tmp_path / "a", [6000.0])
    b = customer_dir(tmp_path / "b", [7000.0, 8000.0])
    assert keyset_balances(spark, a) == [6000.0]
    assert keyset_balances(spark, b) == [7000.0, 8000.0]
    assert keyset_balances(spark, a) == [6000.0]


def test_new_session_registers_its_own_views(spark, tmp_path, restore_views):
    """Temp views belong to one session: a ``newSession()`` gets its own,
    even for files the first session's views already read."""
    sf_dir = customer_dir(tmp_path, [6000.0, 7000.0])
    assert keyset_balances(spark, sf_dir) == [6000.0, 7000.0]
    assert keyset_balances(spark.newSession(), sf_dir) == [6000.0, 7000.0]
    assert keyset_balances(spark, sf_dir) == [6000.0, 7000.0]


def test_sessions_taking_turns_on_two_sf_dirs_stay_warm(spark, tmp_path, monkeypatch, restore_views):
    """scale_check.py's pattern: the session on one sf_dir and a
    ``newSession()`` on another, called in turns. Once each has registered
    its views, no call creates a view."""
    a = customer_dir(tmp_path / "a", [6000.0])
    b = customer_dir(tmp_path / "b", [7000.0, 8000.0])
    staged = spark.newSession()
    assert keyset_balances(spark, a) == [6000.0]
    assert keyset_balances(staged, b) == [7000.0, 8000.0]
    views = []
    create = ClassicDataFrame.createOrReplaceTempView
    monkeypatch.setattr(
        ClassicDataFrame, "createOrReplaceTempView", lambda df, name: views.append(name) or create(df, name)
    )
    for _ in range(2):
        assert keyset_balances(spark, a) == [6000.0]
        assert keyset_balances(staged, b) == [7000.0, 8000.0]
    assert views == []


def test_amortization_closed_form_edges_match_recursive_oracle(spark, tmp_path):
    """Closed form vs the oracle's recursive CTE on principals at the edges
    of floor(P / 12): P < 12, P % 12 == 0, P % 12 == 11 (via a floor-average
    of two orders), ~1e12 cents, and a customer with a NULL nation."""
    nations = [0, 1, 2, 3, 4, None]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(len(nations)), pa.int64()),
                "c_nationkey": pa.array(nations, pa.int32()),
            }
        ),
        tmp_path / "customer.parquet",
    )
    # (custkey, o_totalprice): nation principals 7, 0, 1200, 1211 and
    # 987654321037 cents; the NULL-nation customer orders too
    orders = [(0, 0.07), (1, 0.0), (2, 12.0), (3, 12.10), (3, 12.13), (4, 9876543210.37), (5, 5.0)]
    pq.write_table(
        pa.table(
            {
                "o_custkey": pa.array([c for c, _ in orders], pa.int64()),
                "o_totalprice": pa.array([p for _, p in orders], pa.float64()),
            }
        ),
        tmp_path / "orders.parquet",
    )
    for name in TABLES:
        if not (tmp_path / f"{name}.parquet").exists():
            (tmp_path / f"{name}.parquet").symlink_to(f"{SF_DIR}/{name}.parquet")

    spec = SPECS["q_amortization_schedule"]
    try:
        got = spec.fn(spark, str(tmp_path)).toPandas()
    finally:
        register_views(spark, SF_DIR)  # other tests read the session's views
    con = duckdb.connect()
    try:
        for name in ("orders", "customer"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tmp_path}/{name}.parquet')"
            )
        want = con.execute(spec.oracle).df()
    finally:
        con.close()
    assert len(want) == 5 * 12
    assert_frames_match(got, want, spec.name)


@pytest.mark.parametrize("name", sorted(LOOP_JOB_BUDGETS))
def test_driver_loop_job_budget_and_no_cache_leak(spark, name):
    """Each round costs one materialization and one emptiness probe, and
    no loop-scoped cache outlives the query."""
    fn = SPECS[name].fn
    cached = cached_entries(spark)
    fn(spark, SF_DIR).collect()
    first = next_job_id(spark)
    fn(spark, SF_DIR).collect()
    jobs = next_job_id(spark) - first
    assert cached_entries(spark) == cached
    if os.path.basename(SF_DIR) == "sf0.001":  # the tier the budgets were measured on
        assert jobs <= LOOP_JOB_BUDGETS[name]


def test_fixpoint_min_label_path_and_round_bound(spark):
    """Min-label propagation on the path 0-1-2-3-4-5: label 0 needs 5 rounds
    to reach node 5, and a 6th round confirms that no label moves."""
    pairs = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "src long, dst long")
    rounds = []

    def step(labels):
        rounds.append(1)
        nbr = (
            edges.withColumnRenamed("dst", "node")
            .join(labels, "node")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        return nbr.join(labels, "node").select(
            "node",
            F.least("lbl", "nbr_lbl").alias("lbl"),
            (F.col("nbr_lbl") < F.col("lbl")).alias(UNSETTLED),
        )

    init = spark.range(6).select(F.col("id").alias("node"), F.col("id").alias("lbl"))
    out = fixpoint(step, init, max_rounds=10, name="q_path_cc")
    assert out.columns == ["node", "lbl"]
    assert sorted(tuple(r) for r in out.collect()) == [(i, 0) for i in range(6)]
    assert len(rounds) == 6
    for cap in (2, 5):
        with pytest.raises(RuntimeError, match="q_path_cc"):
            fixpoint(step, init, max_rounds=cap, name="q_path_cc")


def test_kcore_multi_round_peel_matches_oracle(spark, tmp_path, monkeypatch):
    """A triangle 1-2-3 (the 2-core) with the pendant path 3-4-5-6 and the
    lone edge 7-8: the peel drops 6, 7 and 8, then 5, then 4, so it takes
    3 rounds. Each edge gets two orders of its own, so its support is 2."""
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (7, 8)]
    lines = [
        (2 * i + k, part) for i, edge in enumerate(edges) for k in (0, 1) for part in edge
    ]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([o for o, _ in lines], pa.int64()),
                "l_partkey": pa.array([p for _, p in lines], pa.int64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    rounds = []

    def counted(step, init, **kw):
        return iterate.fixpoint(lambda prev: rounds.append(1) or step(prev), init, **kw)

    monkeypatch.setattr(graph, "fixpoint", counted)
    spec = SPECS["q_kcore"]
    got = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{tmp_path}/lineitem.parquet')"
        )
        want = con.execute(spec.oracle).df()
    finally:
        con.close()
    assert len(rounds) == 3
    assert sorted(want["part_id"]) == [1, 2, 3]
    assert_frames_match(got, want, spec.name)


@pytest.mark.parametrize("name", sorted(STREAM_JOB_BUDGETS))
def test_stream_and_sink_job_budget(spark, name):
    """Warm, a stream reads its stage with the schema it was staged with,
    the sinks are read back with the schema written, and the memory sink's
    rows are returned without a copy: none of these starts a job."""
    fn = SPECS[name].fn
    fn(spark, SF_DIR).collect()
    first = next_job_id(spark)
    fn(spark, SF_DIR).collect()
    if os.path.basename(SF_DIR) == "sf0.001":  # the tier the budgets were measured on
        assert next_job_id(spark) - first <= STREAM_JOB_BUDGETS[name]


def process_starts(spark, call) -> collections.Counter:
    """Programs the driver JVM starts during ``call()``, by name, from an
    in-JVM JFR recording of ``jdk.ProcessStart`` (JDK 17+)."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        call()
    finally:
        rec.stop()
    fd, dump = tempfile.mkstemp(suffix=".jfr")
    os.close(fd)
    try:
        rec.dump(jvm.java.io.File(dump).toPath())
        events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(jvm.java.io.File(dump).toPath())
        return collections.Counter(
            os.path.basename(e.getString("command").split()[0]) for e in events
        )
    finally:
        rec.close()
        os.remove(dump)


@pytest.mark.parametrize("name", sorted(STREAM_JOB_BUDGETS))
def test_stream_and_sink_start_no_chmod_or_readlink(spark, name):
    """Warm, the streams' checkpoint commits and the sinks' writes start no
    process: without libhadoop, Hadoop's local filesystem forks `chmod` per
    file created and `readlink` per rename end (139, 143 and 28 such forks
    per call), and the session's local filesystem does both in-process."""
    fn = SPECS[name].fn
    fn(spark, SF_DIR).collect()
    starts = process_starts(spark, lambda: fn(spark, SF_DIR).collect())
    assert starts["chmod"] == 0 and starts["readlink"] == 0, dict(starts)


def temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", MEMORY_SINK_QUERIES)
def test_memory_sink_query_leaves_no_temp_view(spark, name):
    """The memory sink's view is dropped once its rows are taken, so
    repeated calls pin nothing for the session's lifetime."""
    before = temp_views(spark)
    for _ in range(2):
        SPECS[name].fn(spark, SF_DIR)
    assert temp_views(spark) == before


def test_state_partitions_follow_the_input_size(spark):
    """One state partition per advisory partition size of the stream's
    files, clamped to [1, defaultParallelism]; a source with no files
    keeps the session's shuffle-partition count."""
    events = read_events_stream(spark, SF_DIR)
    if os.path.basename(SF_DIR) == "sf0.001":
        assert state_partitions(events) == 1
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        assert state_partitions(events) == spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set(key, prev)

    ticks_src.register(spark)
    ticks = spark.readStream.format("synthetic_ticks").load()
    assert stream_file_paths(ticks) == []
    assert state_partitions(ticks) == int(spark.conf.get("spark.sql.shuffle.partitions"))


@pytest.mark.parametrize(
    "reader", [read_events_stream, read_events_stream_ordered, read_documents_stream]
)
def test_stream_stage_schema_is_the_written_schema(spark, reader):
    stream = reader(spark, SF_DIR)
    (stage,) = stream_file_paths(stream)
    assert stream.schema == spark.read.parquet(stage).schema


def file_scans(df):
    """(root path, read schema) of each parquet relation ``df`` reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    scans = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            root = leaf.relation().location().rootPaths().apply(0).toString()
            scans.append((root, StructType.fromJson(json.loads(leaf.schema().json()))))
    return scans


@pytest.mark.parametrize("name", ["q_stream_file_sink", "q_partitioned_sink"])
def test_sink_read_back_schema_is_the_inferred_schema(spark, name):
    (scan,) = file_scans(SPECS[name].fn(spark, SF_DIR))
    root, schema = scan
    assert schema == spark.read.parquet(root).schema


@pytest.mark.parametrize("name", ["q_stream_file_sink", "q_stream_foreach_upsert"])
def test_sink_query_keeps_one_scratch_dir_per_source(spark, duck, name):
    """A sink query writes its sink and checkpoint to one directory per
    source under the scratch root and clears it at the start of each call:
    three calls read back from the same directory, and the last result,
    which reads it, still matches the oracle."""
    dirs = set()
    for _ in range(3):
        out = SPECS[name].fn(spark, SF_DIR)
        ((root, _),) = file_scans(out)
        rel = os.path.relpath(root.removeprefix("file:"), SCRATCH_ROOT)
        assert not rel.startswith(".."), f"{name} reads {root}, outside {SCRATCH_ROOT}"
        dirs.add(rel.split(os.sep)[0])
    assert len(dirs) == 1, f"{name} wrote a new directory per call: {sorted(dirs)}"
    (entry,) = dirs
    assert entry.endswith("_" + source_key(SF_DIR, "events"))
    assert_frames_match(out.toPandas(), duck.execute(SPECS[name].oracle).df(), name)
