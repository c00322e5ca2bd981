"""PySpark's worker daemon, started from the unpacked PySpark when it can be.

``build_session`` names this module in ``spark.python.daemon.module``.
Spark puts ``pyspark.zip``, ``py4j-*.zip`` and the ``spark-core`` jar
on a worker's ``PYTHONPATH``, so a worker imports PySpark from the zip
even when the same version is installed unpacked.  Every Python task
then ends its set-up (``worker_util.setup_spark_files``) in
``importlib.invalidate_caches()``, which on CPython 3.11 re-reads the
central directory of every cached zipimporter: most of a task's fixed
set-up cost.

Before PySpark is imported, ``skip_zipped_pyspark`` drops those three
kinds of entries from ``sys.path`` and ``sys.path_importer_cache`` when
an unpacked ``pyspark`` of the zip's version and an unpacked ``py4j``
are importable from the rest of the path; otherwise it changes nothing.
No PySpark file is patched.  The daemon itself then runs unchanged.

Neither this module nor its parent packages may import ``pyspark``:
that import would load it from the zip before the path is edited.
"""

from __future__ import annotations

import fnmatch
import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

# The path entries Spark adds for a worker (``PythonUtils.sparkPythonPath``)
_SPARK_ENTRIES = ("pyspark.zip", "py4j-*.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""^__version__\s*(?::[^=]*)?=\s*['"]([^'"]+)['"]""", re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _unpacked_version(path: list[str]) -> str | None:
    """``pyspark.__version__`` of the unpacked PySpark on ``path``, or None."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py, encoding="utf-8") as f:
            return _version(f.read())
    except OSError:
        return None


def _zipped_version(zip_path: str) -> str | None:
    try:
        with zipfile.ZipFile(zip_path) as z:
            return _version(z.read("pyspark/version.py").decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def skip_zipped_pyspark(path: list[str] | None = None, importer_cache: dict | None = None) -> bool:
    """Drop Spark's zipped PySpark entries from ``path`` (default
    ``sys.path``) and ``importer_cache`` (default
    ``sys.path_importer_cache``) when the rest of ``path`` holds an
    unpacked ``pyspark`` of the zip's version and an unpacked ``py4j``.
    Returns whether it dropped them; when it returns False it removed
    nothing from either."""
    path = sys.path if path is None else path
    importer_cache = sys.path_importer_cache if importer_cache is None else importer_cache
    spark_entries = [
        p for p in path if any(fnmatch.fnmatch(os.path.basename(p), pat) for pat in _SPARK_ENTRIES)
    ]
    zips = [p for p in spark_entries if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return False
    rest = [p for p in path if p not in spark_entries]
    if PathFinder.find_spec("py4j", rest) is None:
        return False
    version = _unpacked_version(rest)
    if version is None or any(_zipped_version(z) != version for z in zips):
        return False
    path[:] = rest
    for p in spark_entries:
        importer_cache.pop(p, None)
    return True


if __name__ == "__main__":
    skip_zipped_pyspark()
    # as ``python -m pyspark.daemon`` would; ``sys.argv[1:]`` (the worker
    # module) is left for the daemon to read
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
