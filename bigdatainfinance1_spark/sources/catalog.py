"""Table catalog: parquet scans + temp-view registration (SURVEY.md §2.1).

All tables are single-parquet files under ``{sf_dir}/`` (TESTDATA.md). Schemas
come from the parquet footers — never hand-declared, so the engine cannot
drift from the files the DuckDB oracle reads.

Scale posture: `spark.read.parquet` gives the vectorized columnar reader with
predicate pushdown + column pruning for free; at 100 TB the same call reads a
partitioned directory tree and Catalyst prunes partitions. Inferring a schema
from the footers runs one Spark job, so each file's schema is inferred once
and memoized (``_read_parquet``). ``register_views`` registers a session's
views once per ``sf_dir`` and file version: a call that finds them already
reading the same files only reads the ten file statuses.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from bigdatainfinance1_spark.session import ensure_session_conf

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Footer-inferred schemas keyed by the file's status: (qualified path,
# length, modification time). A rewritten file gets a new key and its schema
# is inferred again, so a stale schema never reads new columns as NULL. The
# key names one version of one file, so the memo is safe to share across
# sessions and callers in the process.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _file_keys(spark: SparkSession, paths: list[str]) -> list[tuple[str, int, int]]:
    """The Hadoop ``FileSystem`` status of each path as (qualified path,
    length, modification time), so local paths and cluster URIs take the
    same route."""
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path  # one py4j class lookup per call
    conf = spark._jsc.hadoopConfiguration()
    keys = []
    for path in paths:
        jpath = hadoop_path(path)
        status = jpath.getFileSystem(conf).getFileStatus(jpath)
        keys.append((status.getPath().toString(), status.getLen(), status.getModificationTime()))
    return keys


def _read_parquet(spark: SparkSession, path: str, key: tuple[str, int, int] | None = None) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per file.

    ``key`` is the file's ``_file_keys`` entry, read here unless the caller
    already holds it. A memoized schema is handed to the reader, which then
    skips footer inference and starts no job.
    """
    key = key or _file_keys(spark, [path])[0]
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; schema inferred from the parquet footer (once per
    file, see ``_read_parquet``).

    Timestamp normalization: the driver's generator has produced two
    physical encodings across rounds — TIMESTAMP(NANOS) (Spark 4 refuses to
    map it; we read nanos as long via the legacy conf and truncate), and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark 4 maps it to
    TIMESTAMP_NTZ, which functions like unix_micros reject). Both are
    normalized here to plain TimestampType. The session timezone is pinned
    UTC (session.py), so the NTZ→TZ cast preserves the wall-clock value —
    exactly the naive timestamp DuckDB reads from the same file, keeping
    the oracle comparison bit-identical either way.
    """
    ensure_session_conf(spark)
    return _normalized(_read_parquet(spark, _source_path(sf_dir, name)), name)


def _normalized(df: DataFrame, name: str) -> DataFrame:
    """Table ``name`` read as ``df``, with its timestamps normalized as
    ``load_table`` describes."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer DIV, not float division: ns values exceed 2^53, double
        # arithmetic would round the microsecond off by one
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


# Every path a query writes lies under this root, one directory per kind of
# scratch data and source table (``scratch_dir``). Removing it resets every
# stage.
SCRATCH_ROOT = "/tmp/bigdatainfinance1_scratch"


def _source_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def source_key(sf_dir: str, name: str) -> str:
    """Stage key for a scratch copy derived from table ``name``: an md5 over
    ``sf_dir`` and each source file's name, size and mtime. A table
    rewritten at the same path gets a new key, so a stage built from the
    old rows is never read again."""
    src = _source_path(sf_dir, name)
    parts = []
    if os.path.isdir(src):  # spark-written table: a directory of part files
        for root, _, files in os.walk(src):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(src)
        parts.append(f"{name}.parquet:{st.st_size}:{st.st_mtime_ns}")
    fingerprint = "|".join([sf_dir, *parts])
    return hashlib.md5(fingerprint.encode()).hexdigest()[:12]


def scratch_dir(kind: str, sf_dir: str, table: str) -> str:
    """``<SCRATCH_ROOT>/<kind>_<source_key>``: where a query writes its
    ``kind`` of scratch data derived from ``table``."""
    return os.path.join(SCRATCH_ROOT, f"{kind}_{source_key(sf_dir, table)}")


def staged(kind: str, sf_dir: str, table: str, write: Callable[[str], None]) -> str:
    """``scratch_dir(kind, sf_dir, table)``, written once by ``write(path)``
    and then marked ``_STAGED`` (Spark's readers skip ``_`` files). A
    directory without the marker is an interrupted write and is redone.

    The marker names the source file and its key. Writing a stage first
    removes the stages of the same kind whose marker names this source under
    another key, or a source that no longer exists: a rewritten or deleted
    source leaves no stage behind. Only a stage write looks, so a call that
    reuses its stage does no more work than before."""
    path = scratch_dir(kind, sf_dir, table)
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        source = os.path.abspath(_source_path(sf_dir, table))
        _drop_stale_stages(kind, source)
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        with open(marker, "w") as f:
            json.dump({"source": source, "key": source_key(sf_dir, table)}, f)
    return path


def _drop_stale_stages(kind: str, source: str) -> None:
    """Remove the ``kind`` stages whose marker names ``source`` or a source
    that is gone. A stage with no readable marker is being written, or
    predates the marker's contents, and is left alone."""
    if not os.path.isdir(SCRATCH_ROOT):
        return
    name = re.compile(rf"{re.escape(kind)}_[0-9a-f]{{12}}")
    for entry in os.scandir(SCRATCH_ROOT):
        if not name.fullmatch(entry.name):
            continue
        try:
            with open(os.path.join(entry.path, "_STAGED")) as f:
                staged_from = json.load(f)["source"]
        except (OSError, ValueError):
            continue
        if staged_from == source or not os.path.exists(staged_from):
            shutil.rmtree(entry.path, ignore_errors=True)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


# What each session's views read now: the JVM session's UUID (a
# ``newSession()`` has temp views of its own) -> ``sf_dir`` and the
# ``_file_keys`` of its tables. One entry per session, replaced by each
# registration, so a session that registers A, then B, then A reads A.
_VIEWS: dict[str, tuple[str, tuple[tuple[str, int, int], ...]]] = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views, mirroring the oracle's view names
    (__spark_entry__.py) so one SQL text can run on both engines.

    The views are registered again only when the session's views read
    another ``sf_dir`` or another version of a file; otherwise the call
    reads the ten file statuses and returns. Nothing else in the package
    writes these view names."""
    ensure_session_conf(spark)
    paths = [_source_path(sf_dir, name) for name in TABLES]
    keys = tuple(_file_keys(spark, paths))
    session = spark._jsparkSession.sessionUUID()
    if _VIEWS.get(session) == (sf_dir, keys):
        return
    _VIEWS.pop(session, None)  # a failed registration leaves no stale entry
    for name, path, key in zip(TABLES, paths, keys):
        _normalized(_read_parquet(spark, path, key), name).createOrReplaceTempView(name)
    _VIEWS[session] = (sf_dir, keys)


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    """Utility CSV ingest (S2). In production pass an explicit schema —
    inferSchema is a full extra pass over the data."""
    opts = {"header": "true", **options}
    return spark.read.options(**opts).csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Utility JSON-lines ingest (S2)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """Parquet sink (S3). Partitioning by a low-cardinality derived column
    (e.g. order month) exercises dynamic partition pruning on re-read."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
