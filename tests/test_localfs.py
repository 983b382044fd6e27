"""The fork-free ``file:`` filesystem (``jvm/NoForkLocalFs.java``) against
Hadoop's own.

The shim may only change how ``chmod`` and ``readlink`` are done, never what
they yield: the same modes, the same ``.crc`` sidecars and checkpoint files,
the same refused renames and symlink reports. Each check runs the same calls
through the session's filesystem and through a stock one in the same JVM
(a fresh Hadoop ``Configuration`` resolves ``file:`` as a session started
without the jar does). The last two tests start a session the way a driver
does, without ``get_spark``, which must then leave ``file:`` alone; and they
rebuild the committed jar from its source.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pyspark
import pytest
from py4j.protocol import Py4JJavaError

from bigdatainfinance1_spark.registry import load_all_queries
from bigdatainfinance1_spark.session import NO_FORK_FS, NO_FORK_JAR
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE = os.path.join(os.path.dirname(NO_FORK_JAR), "NoForkLocalFs.java")
SHIM_RAW = "bigdatainfinance1.fs.NoForkLocalFs$Raw"
STOCK_RAW = "org.apache.hadoop.fs.RawLocalFileSystem"


@pytest.fixture(scope="module")
def filesystems(spark):
    """{"shim"|"stock": (FileSystem, FileContext)} for ``file:``."""
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    out = {}
    for label, conf in (
        ("shim", spark._jsc.hadoopConfiguration()),
        ("stock", jvm.org.apache.hadoop.conf.Configuration()),
    ):
        fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
        out[label] = (fs, jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf))
    assert out["shim"][0].getRawFileSystem().getClass().getName() == SHIM_RAW
    assert out["stock"][0].getRawFileSystem().getClass().getName() == STOCK_RAW
    yield out
    for fs, _ in out.values():
        fs.close()


def hpath(spark, path) -> object:
    return spark._jvm.org.apache.hadoop.fs.Path(str(path))


def fc_create(spark, fc, path) -> None:
    jvm = spark._jvm
    opts = spark.sparkContext._gateway.new_array(getattr(jvm.org.apache.hadoop.fs, "Options$CreateOpts"), 0)
    flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
    out = fc.create(hpath(spark, path), flags, opts)
    out.write(bytearray(b"x"))
    out.close()


def modes(root) -> dict[str, int]:
    """Relative path -> permission bits of everything under ``root``."""
    found = {}
    for base, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(base, name)
            found[os.path.relpath(path, root)] = os.stat(path).st_mode & 0o7777
    return found


def test_created_files_and_dirs_get_hadoops_modes(spark, filesystems, tmp_path):
    """Files, directories and .crc sidecars made through FileSystem and
    FileContext get the modes Hadoop's own filesystem gives them: 0644 and
    0755 under Hadoop's default umask 022. A mode with the sticky bit keeps
    it."""
    seen = {}
    for label, (fs, fc) in filesystems.items():
        root = tmp_path / label
        out = fs.create(hpath(spark, root / "fs_file"))
        out.write(bytearray(b"x"))
        out.close()
        fs.mkdirs(hpath(spark, root / "fs_dir" / "sub"))
        fc_create(spark, fc, root / "fc_file")
        FsPermission = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
        fc.mkdir(hpath(spark, root / "fc_dir" / "sub"), FsPermission.getDirDefault(), True)
        fs.mkdirs(hpath(spark, root / "sticky"))
        fs.setPermission(hpath(spark, root / "sticky"), FsPermission("1755"))
        seen[label] = modes(root)
    assert seen["shim"] == seen["stock"]
    assert {".fs_file.crc", ".fc_file.crc"} <= set(seen["shim"])
    assert seen["shim"].pop("sticky") == 0o1755
    for rel, mode in seen["shim"].items():
        want = 0o755 if os.path.isdir(tmp_path / "shim" / rel) else 0o644
        assert mode == want, f"{rel}: {oct(mode)}"


def test_renames_onto_an_existing_file_are_still_refused(spark, filesystems, tmp_path):
    """FileContext's Rename.NONE raises FileAlreadyExistsException, and
    FileSystem.rename returns False, on both filesystems; both files keep
    their bytes."""
    jvm = spark._jvm
    rename = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
    no_overwrite = spark.sparkContext._gateway.new_array(rename, 1)
    no_overwrite[0] = rename.NONE
    for label, (fs, fc) in filesystems.items():
        src, dst = tmp_path / f"{label}_src", tmp_path / f"{label}_dst"
        src.write_bytes(b"src")
        dst.write_bytes(b"dst")
        with pytest.raises(Py4JJavaError) as err:
            fc.rename(hpath(spark, src), hpath(spark, dst), no_overwrite)
        assert err.value.java_exception.getClass().getName() == (
            "org.apache.hadoop.fs.FileAlreadyExistsException"
        ), label
        assert fs.rename(hpath(spark, src), hpath(spark, dst)) is False, label
        assert (src.read_bytes(), dst.read_bytes()) == (b"src", b"dst")


def test_symlinks_report_as_on_hadoops_filesystem(spark, filesystems, tmp_path):
    """A symlink is still reported as one, with its target, through both
    APIs; the scheme-qualified form reports what Hadoop's own does."""
    target = tmp_path / "target"
    target.write_bytes(b"t")
    link = tmp_path / "link"
    os.symlink(target, link)
    reports = {}
    for label, (fs, fc) in filesystems.items():
        rows = []
        for form in (str(link), f"file:{link}", str(target)):
            for api in (fs, fc):
                status = api.getFileLinkStatus(hpath(spark, form))
                rows.append((status.isSymlink(), str(status.getSymlink()) if status.isSymlink() else None))
        reports[label] = rows
    assert reports["shim"] == reports["stock"]
    assert reports["shim"][0][0] and reports["shim"][1][0]


def checkpoint_files(spark, sf_dir: str, ckpt_root: str) -> list[str]:
    """Relative names of every file ``q_stream_tumbling``'s stream leaves in
    its checkpoint when the checkpoint is kept under ``ckpt_root``."""
    key = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(key, ckpt_root)
    try:
        load_all_queries()["q_stream_tumbling"].fn(spark, sf_dir).collect()
    finally:
        spark.conf.unset(key)
    (query_dir,) = os.listdir(ckpt_root)  # one per query name, a fresh uuid
    root = os.path.join(ckpt_root, query_dir)
    return sorted(
        os.path.relpath(os.path.join(base, f), root) for base, _, files in os.walk(root) for f in files
    )


# Run in a fresh interpreter: a plain session first, as a driver starts it,
# then get_spark(), then two file-writing queries against their oracles.
DRIVER_SESSION = """
import json, os, sys
from pyspark.sql import SparkSession
plain = SparkSession.builder.master("local[2]").appName("driver").getOrCreate()
from bigdatainfinance1_spark.session import get_spark
from bigdatainfinance1_spark.registry import load_all_queries
from tests.conftest import assert_frames_match
from tests.test_localfs import checkpoint_files
import duckdb
sf_dir, ckpt_root = sys.argv[1:3]
spark = get_spark()
specs = load_all_queries()
con = duckdb.connect()
for t in ("events", "orders"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
for name in ("q_stream_tumbling", "q_partitioned_sink"):
    assert_frames_match(specs[name].fn(spark, sf_dir).toPandas(), con.execute(specs[name].oracle).df(), name)
jvm = spark._jvm
conf = spark._jsparkSession.sessionState().newHadoopConf()
print(json.dumps({
    "same_session": spark is plain,
    "raw_fs": jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw().getClass().getName(),
    "abstract_fs": jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
        .getDefaultFileSystem().getClass().getName(),
    "checkpoint_files": checkpoint_files(spark, sf_dir, ckpt_root),
}))
"""


@pytest.fixture(scope="module")
def driver_session(tmp_path_factory):
    ckpt_root = tmp_path_factory.mktemp("driver_ckpt")
    env = {**os.environ, "PYTHONPATH": REPO}
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER_SESSION, SF_DIR, str(ckpt_root)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_driver_started_session_keeps_hadoops_filesystem(driver_session):
    """get_spark() on a session it did not start returns that session with
    Hadoop's filesystem untouched, and the stream and the partitioned sink
    still match their oracles on it."""
    assert driver_session["same_session"]
    assert driver_session["raw_fs"] == STOCK_RAW
    assert driver_session["abstract_fs"] == "org.apache.hadoop.fs.local.LocalFs"


def test_stream_checkpoint_holds_the_same_files(spark, driver_session, tmp_path):
    """q_stream_tumbling's checkpoint holds the same files on the shim as on
    Hadoop's filesystem: offsets, commits, sources, state deltas, their .crc
    sidecars and Spark's state-file checksums (N.delta.crc)."""
    files = checkpoint_files(spark, SF_DIR, str(tmp_path))
    assert files == driver_session["checkpoint_files"]
    assert {"offsets/.0.crc", "state/0/0/1.delta.crc", "state/0/0/.1.delta.crc"} <= set(files)


def test_jar_is_the_build_of_the_committed_source(tmp_path):
    """Each class in the committed jar is byte for byte what the host javac
    makes of the committed source (build command in the source's header)."""
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac on PATH")
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run(
        [javac, "--release", "17", "-cp", jars, "-d", str(tmp_path), SOURCE],
        check=True,
        capture_output=True,
    )
    built = {
        os.path.relpath(os.path.join(base, f), tmp_path): open(os.path.join(base, f), "rb").read()
        for base, _, files in os.walk(tmp_path)
        for f in files
    }
    with zipfile.ZipFile(NO_FORK_JAR) as jar:
        packed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(built) == sorted(packed)
    for name, data in built.items():
        assert data == packed[name], f"{name} differs from the jar's"
    for impl in NO_FORK_FS.values():
        assert impl.replace(".", "/") + ".class" in packed
