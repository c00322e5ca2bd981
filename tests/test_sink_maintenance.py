"""Sink maintenance tests: snapshot manifests per commit, orphan /
missing reconciliation, single-bucket small-file compaction."""

from __future__ import annotations

import json
import os

import pytest


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="sink-tests", master="local[4]", shuffle_partitions=4)


@pytest.fixture()
def sink(session, tmp_path):
    from ocr_api_spark.plans.pipeline import run_extraction
    from ocr_api_spark.sources.pages import write_pages

    paths = write_pages(str(tmp_path / "synth"), n_rows=120, seed=9)
    out = str(tmp_path / "out")
    stats = run_extraction(session, paths["pages"], paths["claims"], out, n_buckets=4, n_salts=2)
    return out, stats


def test_snapshot_written_per_commit(session, sink):
    from ocr_api_spark.plans.sink import snapshot_files, verify_sink

    out, stats = sink
    snaps = sorted(os.listdir(os.path.join(out, "_snapshots")))
    assert len(snaps) == 1
    manifest = json.load(open(os.path.join(out, "_snapshots", snaps[0])))
    assert sum(b["rows_out"] for b in manifest["buckets"]) == stats["rows"] == 120
    assert manifest["files"]
    # every committed file is on disk, no orphans
    v = verify_sink(out)
    assert v["orphans"] == [] and v["missing"] == []
    assert v["committed"] == len(snapshot_files(out)) == v["on_disk"]


def test_verify_sink_detects_orphans_and_missing(session, sink):
    from ocr_api_spark.plans.sink import verify_sink

    out, _ = sink
    base = os.path.join(out, "extracted")
    committed = None
    for root, _d, files in os.walk(base):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                committed = os.path.join(root, f)
                break
    # orphan: a file no snapshot knows about
    orphan = os.path.join(os.path.dirname(committed), "part-zombie.parquet")
    open(orphan, "wb").write(b"x")
    # missing: delete a committed file out-of-band
    os.remove(committed)
    v = verify_sink(out)
    assert [os.path.basename(o) for o in v["orphans"]] == ["part-zombie.parquet"]
    assert len(v["missing"]) == 1


def test_compact_bucket_reduces_files_and_keeps_rows(session, sink):
    from pyspark.sql import functions as F

    from ocr_api_spark.plans.sink import compact_bucket, verify_sink

    out, _ = sink
    base = os.path.join(out, "extracted")
    # pick the bucket with the most files
    buckets = [d for d in os.listdir(base) if d.startswith("bucket=")]
    counts = {
        int(d.split("=")[1]): len([f for f in os.listdir(os.path.join(base, d)) if f.endswith(".parquet")])
        for d in buckets
    }
    bucket = max(counts, key=counts.get)
    rows_before = session.read.parquet(os.path.join(base, f"bucket={bucket}")).count()
    urls_before = {
        r["url"] for r in session.read.parquet(os.path.join(base, f"bucket={bucket}")).select("url").collect()
    }

    res = compact_bucket(session, out, bucket, target_mb=128)
    assert res["compacted"] and res["files_after"] < res["files_before"]

    after = session.read.parquet(os.path.join(base, f"bucket={bucket}"))
    assert after.count() == rows_before
    assert {r["url"] for r in after.select("url").collect()} == urls_before
    # manifests reconcile: replaced files are no longer "missing"
    v = verify_sink(out)
    assert v["orphans"] == [] and v["missing"] == []


def test_compact_lock_serializes_and_gc_repairs(session, sink):
    """ADVICE r2: (a) a held per-bucket lock turns a second compaction
    into a no-op instead of a double-replace; (b) the publish-before-
    delete order means any crash leaves orphans (never dangling
    manifests), and gc_orphans reclaims them."""
    from ocr_api_spark.plans.sink import compact_bucket, gc_orphans, verify_sink

    out, _ = sink
    base = os.path.join(out, "extracted")
    buckets = sorted(
        int(d.split("=")[1]) for d in os.listdir(base) if d.startswith("bucket=")
    )
    bucket = buckets[0]
    bucket_dir = os.path.join(base, f"bucket={bucket}")

    # (a) lock held by a concurrent compactor
    lock = os.path.join(bucket_dir, ".compact.lock")
    open(lock, "w").write("held")
    assert compact_bucket(session, out, bucket) == {
        "bucket": bucket, "compacted": False, "reason": "locked",
    }
    # a STALE lock (hard-killed holder) is broken by age instead of
    # disabling compaction for the bucket forever
    old = os.path.getmtime(lock) - 7200
    os.utime(lock, (old, old))
    res_after_stale = compact_bucket(session, out, bucket, lock_ttl_sec=3600)
    assert res_after_stale.get("reason") != "locked"
    assert not os.path.exists(lock)  # released again on the way out

    # (b) crash window emulation: replaced-but-present files == orphans
    res = compact_bucket(session, out, bucket, target_mb=128)
    if res["compacted"]:
        v = verify_sink(out)
        assert v["missing"] == []  # manifests NEVER point at deleted files
    # plant an orphan (a crashed writer's leftover) and GC it
    zombie = os.path.join(bucket_dir, "part-crashed.parquet")
    open(zombie, "wb").write(b"z")
    assert gc_orphans(out) == []  # default age guard keeps young files
    assert [os.path.basename(p) for p in gc_orphans(out, min_age_sec=0)] == [
        "part-crashed.parquet"
    ]
    assert not os.path.exists(zombie)
    v = verify_sink(out)
    assert v["orphans"] == [] and v["missing"] == []


def test_staging_leftovers_reported_and_gc_by_age(tmp_path):
    """A run killed before it published leaves ``_staging/<uuid>/``:
    verify_sink reports it, and gc_orphans removes it only once every
    file in it is older than ``min_age_sec`` (a live writer keeps adding
    files deep in its tree)."""
    from ocr_api_spark.plans.sink import gc_orphans, verify_sink

    out = tmp_path / "out"
    old = os.path.getmtime(tmp_path) - 7200
    stale, young, busy = (out / "_staging" / name for name in ("dead", "live", "busy"))
    for d in (stale, young, busy):
        (d / "bucket=3").mkdir(parents=True)
        (d / "bucket=3" / "part-0.parquet").write_bytes(b"x")
    for p in (stale, stale / "bucket=3", stale / "bucket=3" / "part-0.parquet", busy):
        os.utime(p, (old, old))

    v = verify_sink(str(out))
    assert v["staging"] == ["_staging/busy", "_staging/dead", "_staging/live"]
    assert v["orphans"] == [] and v["missing"] == []

    assert gc_orphans(str(out)) == ["_staging/dead"]
    assert not stale.exists() and young.exists() and busy.exists()
    assert verify_sink(str(out))["staging"] == ["_staging/busy", "_staging/live"]
