"""Sink maintenance for the bucket-partitioned extraction output —
the parquet-directory emulation of an Iceberg table's commit protocol
(SURVEY §2.1 S11; north_rule's "checkpointed lineage + metrics …
resumable mid-flight").

- ``write_snapshot``: the one commit record.  Every successful
  ``run_extraction`` commit writes a JSON manifest naming exactly the
  files it added and, per bucket it commits, the row/failed counts and
  the run's wall seconds.  This is what an Iceberg snapshot's manifest
  list provides natively; the manifests are the table's lineage (the
  committed buckets, ``read_manifests``) and its metrics, and with them
  "which files belong to which run" never requires a directory diff.
- ``snapshot_files`` / ``verify_sink``: reconcile the union of
  manifests against the directory — orphan files (present but in no
  manifest: a crashed writer's leftovers) and missing files (manifest
  entries deleted out-of-band) are the two failure modes a 10^12-row
  table accumulates.  A run killed before it published leaves its
  private ``_staging/<uuid>/`` write dir behind; ``verify_sink``
  reports those too, and ``gc_orphans`` reclaims both kinds.
- ``compact_bucket``: the small-file problem.  A long-running
  append-per-run sink collects many sub-target files per bucket;
  compaction rewrites one bucket to ~``target_mb`` files and records a
  replacement snapshot.  The rewrite stages under ``_staging/`` like a
  run's write and its files are renamed in — Iceberg swaps a metadata
  pointer atomically instead; the emulation documents its (small)
  non-atomic window rather than pretending otherwise.

Everything here is driver-side bookkeeping over file metadata; only
``compact_bucket`` runs a (single-bucket-scoped) Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid


def _snapshot_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshots")


def write_snapshot(
    out_dir: str,
    new_files: set[str],
    stats_rows: list[tuple],
    replaces: set[str] | None = None,
    compaction: bool = False,
) -> str:
    """Record one commit: relative file paths + per-bucket stats
    (``(bucket, rows_out, rows_failed, wall_s)`` rows) and, for
    compactions, the files this snapshot replaces.  Returns the manifest
    path — the single publish point for every commit kind."""
    snap_dir = _snapshot_dir(out_dir)
    os.makedirs(snap_dir, exist_ok=True)
    seq = len([f for f in os.listdir(snap_dir) if f.endswith(".json")])
    base = os.path.join(out_dir, "extracted")

    def rel(f: str) -> str:
        return os.path.relpath(f, base) if os.path.isabs(f) else f

    manifest = {
        "seq": seq,
        "ts": time.time(),
        "files": sorted(rel(f) for f in new_files),
        "buckets": [
            {"bucket": b, "rows_out": r, "rows_failed": fl, "wall_s": w}
            for (b, r, fl, w) in stats_rows
        ],
    }
    if compaction:
        manifest["compaction"] = True
        manifest["replaces"] = sorted(rel(f) for f in (replaces or set()))
    # uuid suffix: two CONCURRENT committers can compute the same seq
    # (len-of-dir), and an identical filename would let one os.replace
    # silently swallow the other's manifest; the name stays seq-ordered
    path = os.path.join(snap_dir, f"snap-{seq:05d}-{uuid.uuid4().hex[:8]}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, path)  # atomic publish
    return path


def read_manifests(out_dir: str) -> list[dict]:
    """Every published manifest, in commit-sequence order.  A
    ``.json.tmp`` is a manifest its writer never renamed into place (a
    kill mid-write), so it is no commit.  A published manifest that does
    not parse raises: a damaged record must never read as 'no commits'."""
    snap_dir = _snapshot_dir(out_dir)
    if not os.path.isdir(snap_dir):
        return []
    manifests = []
    for name in sorted(os.listdir(snap_dir)):
        if name.endswith(".json"):
            with open(os.path.join(snap_dir, name)) as f:
                manifests.append(json.load(f))
    return manifests


def snapshot_files(out_dir: str) -> set[str]:
    """Relative paths of every file any snapshot has committed (minus
    files later replaced by compaction)."""
    files: set[str] = set()
    for manifest in read_manifests(out_dir):
        files |= set(manifest["files"])
        files -= set(manifest.get("replaces", []))
    return files


def _staging_dirs(out_dir: str) -> list[str]:
    """``_staging/<uuid>`` write dirs (relative to ``out_dir``) that
    runs have not published: in flight, or left by a killed run."""
    root = os.path.join(out_dir, "_staging")
    if not os.path.isdir(root):
        return []
    return sorted(os.path.join("_staging", d) for d in os.listdir(root))


def _newest_mtime(path: str) -> float:
    """Latest mtime anywhere under ``path``: a writer adds files deep in
    its tree without touching the top dir's mtime."""
    newest = os.path.getmtime(path)
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
            except FileNotFoundError:
                pass
    return newest


def verify_sink(out_dir: str) -> dict:
    """Reconcile manifests vs the directory.  Orphans = on disk but in
    no live snapshot (crashed/zombie writers); missing = committed but
    gone (out-of-band deletion); staging = unpublished write dirs
    (runs and compactions).
    All three lists are the GC/repair input."""
    from ocr_api_spark.plans.pipeline import _data_files

    base = os.path.join(out_dir, "extracted")
    on_disk = {os.path.relpath(f, base) for f in _data_files(base)}
    committed = snapshot_files(out_dir)
    return {
        "on_disk": len(on_disk),
        "committed": len(committed),
        "orphans": sorted(on_disk - committed),
        "missing": sorted(committed - on_disk),
        "staging": _staging_dirs(out_dir),
    }


def compact_bucket(
    spark, out_dir: str, bucket: int, target_mb: int = 128, lock_ttl_sec: float = 3600.0
) -> dict:
    """Rewrite one bucket's files into ~target_mb outputs and record a
    replacement snapshot.  Scoped to a single bucket so a 10^12-row
    table compacts incrementally (one bucket = one unit of work, same
    as resume).

    Commit order makes every crash window recoverable (ADVICE r2):
    the rewrite stages under ``_staging/<uuid>/`` like a run's write
    (table readers skip it; a kill before the publish leaves it to
    ``verify_sink``/``gc_orphans``), and the replacement snapshot is
    PUBLISHED BEFORE the replaced originals are deleted, so a crash
    mid-delete leaves replaced-but-present files that ``verify_sink``
    reports as orphans and ``gc_orphans`` reclaims — manifests never
    point at deleted files.  A per-bucket lock file (O_EXCL, broken by
    age after ``lock_ttl_sec``) serializes concurrent compactions of
    one bucket; the remaining non-atomic window — a reader listing
    files while both generations are live sees duplicate rows for one
    listing — is what Iceberg's metadata-pointer swap removes;
    documented emulation limit (readers that go through
    ``snapshot_files`` are unaffected)."""
    from ocr_api_spark.plans import locks
    from ocr_api_spark.plans.pipeline import _bucket_stats, _data_files, _publish

    base = os.path.join(out_dir, "extracted")
    bucket_dir = os.path.join(base, f"bucket={bucket}")
    lock_path = os.path.join(bucket_dir, ".compact.lock")
    # stale-lock break-by-age with an atomic rename claim lives in
    # plans/locks.py (shared with the credits-merge section)
    lock_token = locks.try_acquire(lock_path, ttl_sec=lock_ttl_sec)
    if lock_token is None:
        return {"bucket": bucket, "compacted": False, "reason": "locked"}
    try:
        old = sorted(_data_files(bucket_dir))
        total_bytes = sum(os.path.getsize(f) for f in old)
        n_out = max(1, round(total_bytes / (target_mb * 1024 * 1024)))
        if len(old) <= n_out:
            return {"bucket": bucket, "compacted": False, "files": len(old), "target": n_out}

        # read EXACTLY the files being replaced (not the directory): a
        # concurrent run_extraction may append new files to this bucket at
        # any moment, and they must survive untouched
        df = spark.read.parquet(*old)
        # write, then publish, as run_extraction does: Spark's part names
        # carry the write job's UUID, so they never collide in the bucket
        staging = os.path.join(out_dir, "_staging", uuid.uuid4().hex)
        df.coalesce(n_out).write.parquet(os.path.join(staging, f"bucket={bucket}"))
        new_files = _publish(staging, base)

        # row/failed counts of the compacted files from their footers/stats
        stats_rows = _bucket_stats(new_files, 0.0)
        # PUBLISH, then delete: from here the old files are logically gone
        write_snapshot(out_dir, new_files, stats_rows, replaces=set(old), compaction=True)
        for f in old:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass  # a concurrent GC/compactor already reclaimed it
        return {
            "bucket": bucket,
            "compacted": True,
            "files_before": len(old),
            "files_after": len(new_files),
        }
    finally:
        locks.release(lock_path, lock_token)


def gc_orphans(out_dir: str, min_age_sec: float = 3600.0) -> list[str]:
    """Repair path for every crash window: delete data files present on
    disk but in no live snapshot (zombie writers, compactions that
    published before finishing their delete), and staging dirs of runs
    that never published.  ``min_age_sec`` guards in-flight writers — a
    file or staging dir younger than the threshold may simply not be
    committed YET, so the default (1 h) only reclaims what no live run
    can still be about to publish; pass 0 only when no writer can be
    running.  Returns data files relative to ``extracted/`` and staging
    dirs relative to ``out_dir``."""
    base = os.path.join(out_dir, "extracted")
    now = time.time()
    removed = []
    v = verify_sink(out_dir)
    for rel in v["orphans"]:
        path = os.path.join(base, rel)
        try:
            if now - os.path.getmtime(path) < min_age_sec:
                continue
            os.remove(path)
            removed.append(rel)
        except FileNotFoundError:
            pass
    for rel in v["staging"]:
        path = os.path.join(out_dir, rel)
        try:
            if now - _newest_mtime(path) < min_age_sec:
                continue
        except FileNotFoundError:
            continue  # its run published meanwhile
        shutil.rmtree(path, ignore_errors=True)
        removed.append(rel)
    return removed
