#!/usr/bin/env python
"""Per-task fixed cost of a Python task on a warm worker.

    python plans/py_worker/probe_task.py <label>

Run it from the root of a checkout; it starts the session with that
checkout's ``get_spark`` on ``local[$SPARK_GRAFT_CPUS]`` and prints one JSON
line with, over 15 warm runs each (3 untimed first):

- ``submit_to_fn_ms``: a 1-partition ``mapPartitions`` job, from the driver's
  submit to the first line of the task's function;
- ``setup_spark_files_ms``: ``pyspark.worker_util.setup_spark_files`` as the
  worker runs it before every task, timed inside a task;
- ``pandas_udf_noop_write_ms``: a 4-partition pandas-UDF ``noop`` write;
- ``zipimporters`` and ``pyspark_file`` as one task sees them.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402

from bigdatainfinance1_spark.session import get_spark  # noqa: E402

RUNS, WARM = 15, 3


def _start(_):
    yield time.time()


def _setup_ms(_):
    import io

    from pyspark.core.files import SparkFiles
    from pyspark.serializers import write_int, write_with_length
    from pyspark.worker_util import setup_spark_files

    buf = io.BytesIO()
    write_with_length(SparkFiles.getRootDirectory().encode(), buf)
    write_int(0, buf)
    buf.seek(0)
    t0 = time.perf_counter()
    setup_spark_files(buf)
    yield (time.perf_counter() - t0) * 1000


def _imports(_):
    import zipimport

    import pyspark

    yield {
        "pyspark_file": pyspark.__file__,
        "zipimporters": sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()),
    }


def _median(fn) -> float:
    samples = [fn() for _ in range(WARM + RUNS)][WARM:]
    return round(statistics.median(samples), 2)


def main() -> None:
    spark = get_spark()
    sc = spark.sparkContext

    def submit_to_fn() -> float:
        t0 = time.time()
        return (sc.parallelize([0], 1).mapPartitions(_start).collect()[0] - t0) * 1000

    def setup() -> float:
        return sc.parallelize([0], 1).mapPartitions(_setup_ms).collect()[0]

    @F.pandas_udf("long")
    def plus_one(x):
        return x + 1

    def noop_write() -> float:
        t0 = time.perf_counter()
        spark.range(0, 4000, numPartitions=4).select(plus_one("id")).write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1000

    out = {
        "label": sys.argv[1] if len(sys.argv) > 1 else "",
        "cpus": sc.defaultParallelism,
        "submit_to_fn_ms": _median(submit_to_fn),
        "setup_spark_files_ms": _median(setup),
        "pandas_udf_noop_write_ms": _median(noop_write),
        **sc.parallelize([0], 1).mapPartitions(_imports).collect()[0],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
