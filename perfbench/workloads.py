"""Workload definitions: which registered queries a pass runs, and on what.

Every workload reads the same fixed tables, a copy of the engine's sf0.001
test tables kept under ``data/``; the seed only permutes query order.
"""

from __future__ import annotations

from pathlib import Path

DATA_DIR = str(Path(__file__).resolve().parent / "data" / "sf0.001")

WORKLOADS: dict[str, list[str]] = {
    # Scheduler- and planning-bound: a recursive CTE (126 jobs for 12
    # recursion steps), a driver-driven k-core peel with one eager
    # materialization per round, and a small TPC-H join and aggregate.
    "jobs_overhead": [
        "q_amortization_schedule",
        "q_kcore",
        "q_tpch_q5",
        "q_pricing_summary",
    ],
    # Python workers and Arrow serde (scalar pandas, grouped pandas and
    # Arrow-optimized UDFs, mapInArrow), availableNow micro-batch streams
    # (windowed state, parquet file sink) and a partitioned parquet write.
    "udf_stream": [
        "q_udf_pandas_revenue",
        "q_udf_grouped_agg",
        "q_map_in_arrow",
        "q_udf_arrow_optimized",
        "q_stream_tumbling",
        "q_stream_file_sink",
        "q_partitioned_sink",
    ],
}
