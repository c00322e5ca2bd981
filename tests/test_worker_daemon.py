"""Python workers start from the unpacked PySpark (plans.worker_daemon).

The decision is a pure function over a path list and an importer cache,
tested here on fabricated entries; then a build_session worker is
checked to run PySpark from outside the zip, and a driver whose workers
could not import the daemon module is checked to keep PySpark's own.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pandas as pd
import pytest

from ocr_api_spark.plans.worker_daemon import skip_zipped_pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_path(tmp_path, zip_version="4.1.2", unpacked_version="4.1.2", unpacked_py4j=True):
    """A worker-shaped path: cwd, Spark's three entries, then a
    site-packages holding an unpacked pyspark (and py4j)."""
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = lib / "spark-core_2.13-4.1.2.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", "")
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f"__version__: str = '{unpacked_version}'\n")
    if unpacked_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    cwd = str(tmp_path / "cwd")
    spark_entries = [str(pyspark_zip), str(py4j_zip), str(jar)]
    path = [cwd, *spark_entries, str(site)]
    cache = {p: object() for p in path}
    return path, cache, spark_entries


@pytest.mark.parametrize(
    "case",
    [
        dict(zip_version="4.1.1"),
        dict(unpacked_version="4.1.1"),
        dict(unpacked_py4j=False),
    ],
    ids=["zip-version-differs", "unpacked-version-differs", "no-unpacked-py4j"],
)
def test_mismatch_leaves_path_and_cache_alone(tmp_path, case):
    path, cache, _ = _fake_path(tmp_path, **case)
    path0, cache0 = list(path), dict(cache)
    assert skip_zipped_pyspark(path, cache) is False
    assert path == path0 and cache == cache0


def test_no_pyspark_zip_leaves_path_and_cache_alone(tmp_path):
    path, cache, spark_entries = _fake_path(tmp_path)
    path.remove(spark_entries[0])
    path0, cache0 = list(path), dict(cache)
    assert skip_zipped_pyspark(path, cache) is False
    assert path == path0 and cache == cache0


def test_match_drops_exactly_sparks_entries(tmp_path):
    path, cache, spark_entries = _fake_path(tmp_path)
    kept = [p for p in path if p not in spark_entries]
    kept_cache = {k: v for k, v in cache.items() if k in kept}
    assert skip_zipped_pyspark(path, cache) is True
    assert path == kept
    assert cache == kept_cache


def test_module_imports_no_pyspark():
    """The daemon module must load before PySpark, or PySpark would
    come from the zip before the path is edited."""
    code = "import sys, ocr_api_spark.plans.worker_daemon; print(sorted(m for m in sys.modules if m.startswith(('pyspark', 'py4j'))))"
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="daemon-tests", master="local[2]", shuffle_partitions=2)


def test_workers_import_unpacked_pyspark(session):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def worker_view(x: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        zipped = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter) and "pyspark.zip" in k
        ]
        return pd.Series([f"{pyspark.__file__}|{len(zipped)}"] * len(x))

    rows = session.range(4).repartition(2).select(worker_view("id").alias("v")).distinct().collect()
    assert rows
    for r in rows:
        pyspark_file, zipped = r["v"].rsplit("|", 1)
        assert ".zip" + os.sep not in pyspark_file, pyspark_file
        assert zipped == "0"
    conf = session.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "ocr_api_spark.plans.worker_daemon"


_FALLBACK_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from ocr_api_spark.plans.session import build_session

spark = build_session(master="local[2]", shuffle_partitions=2)
n = spark.sparkContext.parallelize(range(10), 2).mapPartitions(lambda it: [sum(1 for _ in it)]).sum()
print(n, spark.sparkContext.getConf().get("spark.python.daemon.module", "unset"))
spark.stop()
"""


@pytest.mark.slow
def test_driver_whose_workers_cannot_import_the_package_keeps_pysparks_daemon(tmp_path):
    """cwd elsewhere and no PYTHONPATH: a worker could not import the
    daemon module, so build_session must not name it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FALLBACK_DRIVER.format(repo=REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-2:] == ["10", "unset"]
