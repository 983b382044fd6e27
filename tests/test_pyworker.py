"""Python workers import pyspark from its installed directory
(``pyworker/bigdatainfinance1_pydaemon.py``).

A worker that imports from Spark's archives keeps a ``zipimporter`` per
archive directory, and every task re-reads all of them (``importlib.
invalidate_caches()`` in ``setup_spark_files``). The first test asks a task
of the tier-1 session what it imported from; the keep-or-strip rule is then
checked on synthetic paths; the last test runs a Python data source from a
working directory outside the repo with ``PYTHONPATH`` unset.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from bigdatainfinance1_spark.pyworker.bigdatainfinance1_pydaemon import strip_spark_archives
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _imports(_):
    import zipimport

    import pyspark

    yield {
        "pyspark": pyspark.__file__,
        "archives": [p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)],
        "zipimporters": sorted(
            key for key, finder in sys.path_importer_cache.items() if isinstance(finder, zipimport.zipimporter)
        ),
    }


def test_workers_hold_no_zipimporter(spark):
    """Each task's worker imported pyspark from a file on disk, has no archive
    on ``sys.path`` and no ``zipimporter`` to re-read."""
    sc = spark.sparkContext
    reports = sc.parallelize(range(4), 4).mapPartitions(_imports).collect()
    assert len(reports) == 4
    for report in reports:
        assert os.path.isfile(report["pyspark"]), report["pyspark"]
        assert report["archives"] == []
        assert report["zipimporters"] == []


def _package(root, name, files) -> None:
    for rel, text in files.items():
        path = os.path.join(root, name, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)


def _zip(path, files) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for rel, text in files.items():
            z.writestr(rel, text)
    return str(path)


VERSION = "__version__: str = '4.1.2'\n"


@pytest.fixture
def layout(tmp_path):
    """A worker's path as Spark builds it: Spark's three archives, a user's
    zip, then a site directory the test fills. The importers a test's
    lookups add to this process's cache are removed afterwards."""
    before = set(sys.path_importer_cache)
    site = tmp_path / "site"
    site.mkdir()
    archives = [
        _zip(tmp_path / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": VERSION}),
        _zip(tmp_path / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {"org/Empty.class": ""}),
    ]
    user_zip = _zip(tmp_path / "user.zip", {"userlib/__init__.py": ""})
    yield str(site), archives, user_zip
    for key in set(sys.path_importer_cache) - before:
        del sys.path_importer_cache[key]


def _strip(site, archives, user_zip):
    """(stripped, path, cache) after the rule ran on Spark's path and an
    importer cache holding a ``pyspark.zip`` importer and one below it."""
    path = [*archives, user_zip, site]
    cache = {archives[0]: "zi", os.path.join(archives[0], "pyspark", "sql"): "zi", site: "ff"}
    return strip_spark_archives(path, cache), path, cache


def test_same_version_directories_strip_sparks_archives(layout):
    site, archives, user_zip = layout
    _package(site, "pyspark", {"__init__.py": "", "version.py": VERSION})
    _package(site, "py4j", {"__init__.py": ""})
    stripped, path, cache = _strip(site, archives, user_zip)
    assert stripped
    assert path == [user_zip, site]
    assert cache == {site: "ff"}


@pytest.mark.parametrize(
    "packages",
    [
        pytest.param({"pyspark": {"__init__.py": "", "version.py": "__version__: str = '4.0.0'\n"}, "py4j": {"__init__.py": ""}}, id="version_mismatch"),
        pytest.param({"py4j": {"__init__.py": ""}}, id="no_directory_pyspark"),
        pytest.param({"pyspark": {"__init__.py": "", "version.py": VERSION}}, id="no_directory_py4j"),
    ],
)
def test_archives_stay_unless_the_directory_pyspark_can_replace_them(layout, packages):
    site, archives, user_zip = layout
    for name, files in packages.items():
        _package(site, name, files)
    stripped, path, cache = _strip(site, archives, user_zip)
    assert not stripped
    assert path == [*archives, user_zip, site]
    assert cache == {archives[0]: "zi", os.path.join(archives[0], "pyspark", "sql"): "zi", site: "ff"}


# Run in a fresh interpreter, from a working directory outside the repo and
# with PYTHONPATH unset: only the driver is told where the package is.
KYLE_FROM_ELSEWHERE = """
import sys
sys.path.insert(0, sys.argv[1])
import duckdb
from bigdatainfinance1_spark.registry import load_all_queries
from bigdatainfinance1_spark.session import get_spark
from tests.conftest import assert_frames_match
spec = load_all_queries()["q_kyle_lambda"]
got = spec.fn(get_spark(), sys.argv[2]).toPandas()
assert_frames_match(got, duckdb.connect().execute(spec.oracle).df(), "q_kyle_lambda")
print(len(got))
"""


def test_python_data_source_runs_from_any_working_directory(tmp_path):
    """q_kyle_lambda's data source worker unpickles the package's reader
    class, so it needs the package on the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", KYLE_FROM_ELSEWHERE, REPO, SF_DIR],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "8"
