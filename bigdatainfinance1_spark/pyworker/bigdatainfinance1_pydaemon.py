"""Spark's Python worker daemon, run on the installed pyspark and py4j.

Spark puts its own archives first on a Python worker's ``PYTHONPATH``:
``pyspark.zip``, the py4j zip and the ``spark-core`` jar. Every task on a
reused worker runs ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its whole archive
directory: 16 importers and about 26.7 k entries, some 180 ms per task on
4 vCPU. When pyspark and py4j are installed as directories and that pyspark
is the version of Spark's ``pyspark.zip``, this daemon drops Spark's
archives from ``sys.path`` and the importer cache before anything imports
pyspark, so no worker it forks holds a ``zipimporter``. Otherwise it leaves
``sys.path`` as Spark built it. Then it runs Spark's own daemon unchanged.

This is a top-level module in a directory without ``__init__.py``, run as
``python -m bigdatainfinance1_pydaemon <worker module>``: running a module of
the ``bigdatainfinance1_spark`` package would first run the package
``__init__``, which imports pyspark from the archive.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    """``pyspark.zip``, the py4j zip or a jar; a user's zip stays on the path."""
    name = os.path.basename(entry)
    return name == "pyspark.zip" or name.endswith(".jar") or (name.startswith("py4j-") and name.endswith(".zip"))


def _installed(package: str, path: list[str]) -> str | None:
    """The directory ``package`` imports from on ``path``, or None when it is
    missing or would import from an archive."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or spec.origin is None or not os.path.isfile(spec.origin):
        return None
    return os.path.dirname(spec.origin)


def _same_version(pyspark_dir: str, archives: list[str]) -> bool:
    """True when every ``pyspark.zip`` among ``archives`` holds the installed
    pyspark's ``version.py``, byte for byte."""
    with open(os.path.join(pyspark_dir, "version.py"), "rb") as f:
        installed = f.read()
    for archive in archives:
        if os.path.basename(archive) != "pyspark.zip" or not os.path.isfile(archive):
            continue
        try:
            with zipfile.ZipFile(archive) as z:
                if z.read("pyspark/version.py") != installed:
                    return False
        except (KeyError, OSError, zipfile.BadZipFile):
            return False
    return True


def strip_spark_archives(path: list[str], importer_cache: dict) -> bool:
    """Remove Spark's archives from ``path`` (in place) and their keys from
    ``importer_cache`` when pyspark and py4j then import from directories
    and that pyspark is the version of the ``pyspark.zip`` removed. Returns
    whether it removed them; otherwise both are left as they were."""
    archives = [entry for entry in path if _is_spark_archive(entry)]
    if not archives:
        return False
    kept = [entry for entry in path if entry not in archives]
    pyspark_dir = _installed("pyspark", kept)
    if pyspark_dir is None or _installed("py4j", kept) is None:
        return False
    if not _same_version(pyspark_dir, archives):
        return False
    path[:] = kept
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return True


if __name__ == "__main__":
    strip_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
