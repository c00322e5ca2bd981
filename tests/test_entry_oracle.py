"""Local replica of the driver's correctness gate: run every
``queries()`` entry at sf0.01 and compare against ``oracle_sql()``
through DuckDB — row count, column names, and order-insensitive values.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="oracle-tests", master="local[4]", shuffle_partitions=8)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


@pytest.mark.parametrize(
    "name",
    sorted(
        {
            **__import__("__spark_entry__").oracle_sql(),
            # rows swapped out of the 50-row driver registry keep their
            # exact pytest gate here
            **__import__("__spark_entry__").retired_oracle_sql(),
        }.keys()
    ),
)
def test_query_matches_oracle(session, ddb, name):
    import __spark_entry__ as entry

    q = {**entry.queries(), **entry.retired_queries()}[name]
    sdf = q(session, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)

    res = ddb.execute({**entry.oracle_sql(), **entry.retired_oracle_sql()}[name])
    ddb_cols = [d[0] for d in res.description]
    ddb_rows = res.fetchall()

    s_cols, s_rows = _norm_rows(spark_cols, spark_rows)
    d_cols, d_rows = _norm_rows(ddb_cols, ddb_rows)
    assert s_cols == d_cols, f"{name}: column names differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row counts differ: {len(s_rows)} vs {len(d_rows)}"
    mism = [i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
    assert not mism, f"{name}: {len(mism)} rows differ; first: {s_rows[mism[0]]} vs {d_rows[mism[0]]}"


def test_entry_smoke(session):
    import __spark_entry__ as entry

    df = entry.entry(session)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert df.count() == 500


def test_every_query_has_an_oracle():
    """A query registered without an oracle (or an oracle without its
    query) fails here, for the driver's registry and the retired one."""
    import __spark_entry__ as entry

    assert entry.queries().keys() == entry.oracle_sql().keys()
    assert entry.retired_queries().keys() == entry.retired_oracle_sql().keys()


def test_expected_dir_follows_checkout(tmp_path):
    """The expected-value files live under the checkout the module was
    loaded from, so two checkouts never share (or overwrite) them."""
    import importlib.util
    import shutil

    import __spark_entry__ as entry

    copy = tmp_path / "__spark_entry__.py"
    shutil.copy(entry.__file__, copy)
    spec = importlib.util.spec_from_file_location("spark_entry_copy", copy)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert os.path.commonpath([module._EXPECTED_DIR, str(tmp_path)]) == str(tmp_path)
