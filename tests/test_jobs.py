"""Spark job-count budgets and the catalog's schema memo.

Scheduler overhead is paid per job, so a query that creeps from 3 jobs back
to a hundred is a regression even when its results stay right. Jobs are
counted from the DAG scheduler's job-id counter, which covers every job
group (the same count the benchmark reports).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from bigdatainfinance1_spark.registry import load_all_queries
from bigdatainfinance1_spark.sources.catalog import TABLES, load_table, register_views
from tests.conftest import SF_DIR, assert_frames_match

SPECS = load_all_queries()


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


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
