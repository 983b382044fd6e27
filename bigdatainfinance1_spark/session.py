"""SparkSession factory tuned for this engine.

Local-mode testing runs on local[N]; the configs below are the ones that also
matter on a real cluster (AQE, Arrow, UTC, broadcast threshold). At 100 TB the
same code runs unchanged — only `spark.sql.shuffle.partitions` and cluster
sizing change, which is why they are parameters here rather than constants.

A JVM this module starts reads and writes ``file:`` paths through
``jvm/NoForkLocalFs.java`` (the jar beside it is its build). pip pyspark has
no ``libhadoop``, so Hadoop's local filesystem forks ``chmod`` for every file
it creates and ``readlink`` for both ends of every ``FileContext`` rename:
about 140 processes per warm streaming query at sf0.001, a third of its
wall time on 4 vCPU. The shim does both calls in-process and leaves
everything else to Hadoop: the ``.crc`` sidecars, the state-file checksums
and the no-overwrite rename check. The jar goes on the driver and executor
class paths, because Hadoop resolves ``fs.file.impl`` before Spark loads
``spark.jars``. A session started by someone else, such as the driver's,
keeps Hadoop's default filesystem.

Such a JVM also starts its Python workers from
``pyworker/bigdatainfinance1_pydaemon.py``, not from ``pyspark.daemon``.
Spark puts ``pyspark.zip``, the py4j zip and the ``spark-core`` jar first on
a worker's ``PYTHONPATH``, and each task on a reused worker calls
``importlib.invalidate_caches()``, which on Python 3.11 makes each of the 16
``zipimporter``s those archives leave re-read its archive's directory: about
180 ms per task on 4 vCPU, most of a warm task's fixed cost. The daemon drops
the archives when pyspark and py4j are installed as directories of the same
version, so workers import both from there. It is a top-level module in a
directory of its own: run as a module of this package, it would import
pyspark from the archive with the package ``__init__``. The package's parent
directory goes on the workers' ``PYTHONPATH`` too, so a Python data source
worker can unpickle the package's classes from any working directory.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

NO_FORK_JAR = os.path.join(os.path.dirname(__file__), "jvm", "nofork-localfs.jar")
NO_FORK_FS = {
    "spark.hadoop.fs.file.impl": "bigdatainfinance1.fs.NoForkLocalFs$Local",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "bigdatainfinance1.fs.NoForkLocalFs$LocalFs",
}
PY_DAEMON_DIR = os.path.join(os.path.dirname(__file__), "pyworker")
PY_DAEMON = {
    "spark.python.daemon.module": "bigdatainfinance1_pydaemon",
    # Spark appends this after its own archives.
    "spark.executorEnv.PYTHONPATH": os.pathsep.join(
        [PY_DAEMON_DIR, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
    ),
}


def _start_confs() -> dict[str, str]:
    """The confs that put ``file:`` on the fork-free filesystem and start
    Python workers from the engine's daemon, for a SparkContext this call is
    about to start; empty when a context is already running, or when the
    JVM is up without the jar on its class path (Hadoop would fail to load
    the class)."""
    if SparkContext._active_spark_context is not None:
        return {}
    if SparkContext._jvm is not None:
        class_path = SparkContext._jvm.java.lang.System.getProperty("java.class.path")
        if NO_FORK_JAR not in class_path.split(os.pathsep):
            return {}
    return {
        "spark.driver.extraClassPath": NO_FORK_JAR,
        "spark.executor.extraClassPath": NO_FORK_JAR,
        **NO_FORK_FS,
        **PY_DAEMON,
    }


def get_spark(
    app_name: str = "bigdatainfinance1_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config.

    - AQE on (runtime coalesce / skew-join split / join re-plan).
    - Arrow on (vectorized Python interchange for the few Pandas-UDF ops).
    - UTC session timezone (parquet timestamps are naive; the DuckDB oracle
      compares them as UTC — SURVEY.md §5 dialect hazards).
    - shuffle partitions sized to cores locally; on a cluster set this to
      ~2-3× total executor cores per the usual guidance.
    - ``file:`` on the fork-free local filesystem when this call starts the
      SparkContext (module docstring).
    - Python workers forked by ``pyworker/bigdatainfinance1_pydaemon.py``
      when this call starts the SparkContext: they import pyspark from its
      installed directory, not from Spark's archives, which takes about
      180 ms off every Python task on a reused worker (module docstring; the
      daemon is top-level so that pyspark is not imported before it strips
      the archives).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.ts is parquet TIMESTAMP(NANOS); Spark 4 only reads it as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(map=_start_confs())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs every query depends on, on a session we did not
    build (the driver passes its own session to ``queries()`` callables).

    Only runtime-settable confs go here; they are idempotent and cheap.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # events.ts is parquet TIMESTAMP(NANOS); Spark 4 only reads it as long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
