"""The end-to-end extraction pipeline (reference lifecycle E1/E2 as one
Spark job — SURVEY.md §3) with the scale contract of the north_rule:

- **url-hash bucketing**: every row gets ``bucket = pmod(xxhash64(url),
  n_buckets)``; the output is partitioned by bucket, and a completed
  bucket is the unit of resume.
- **skew salting**: hot hosts would skew a host-keyed shuffle; the
  repartition key is ``(bucket, salt)`` with ``salt = pmod(xxhash64(url),
  n_salts)`` so one hot bucket spreads over many tasks.  The salt only
  affects placement — extraction is pure per-row, so content is
  deterministic regardless of layout.
- **lineage + metrics in one commit record**: a run commits by writing
  one ``_snapshots/`` manifest (``plans/sink.py``) naming its files and,
  per committed bucket, rows out, failures and wall seconds.  The
  completed buckets are the union over manifests.  A re-run reads them
  first, filters them out of the *scan* (partition pruning at the
  source), and clears whatever an uncommitted run left in the buckets
  it is about to write, making a kill at any point resumable without
  duplicates.
- **write, then publish**: each run writes into a private
  ``out_dir/_staging/<uuid>/`` and renames its files into
  ``extracted/``, so its new files are known without diffing the
  table, and runs on disjoint buckets can commit side by side.
  ``run_extraction_chunked`` keeps two bucket groups in flight; a kill
  redoes at most those two groups.
- **claims join**: left join on url.  ``extraction_plan`` broadcasts
  the claims (``F.broadcast``) unless told not to; at production scale
  they are bucketed the same way as the pages and joined without a
  shuffle.
- **driver set-up**: ``read_parquet`` takes each input's schema from one
  parquet footer, so a run starts no schema-inference job, and the plan
  is built from SQL expressions in few Py4J calls.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

# CLAIM_COLS is also imported from here (perfbench)
from ocr_api_spark.operators.extract import CLAIM_COLS, with_extraction  # noqa: F401


# The bucket and salt of a row, as SQL: one parsed expression is one
# Py4J call where the Column builders make one per function and literal.
_BUCKET_SQL = "CAST(pmod(xxhash64(url), {}) AS INT)"
_SALT_SQL = "CAST(pmod(xxhash64(url, 1), {}) AS INT)"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.expr(_BUCKET_SQL.format(int(n_buckets))))


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    return df.withColumn("salt", F.expr(_SALT_SQL.format(int(n_salts))))


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    """A name Spark's file index skips (``HadoopFSUtils.shouldFilterOutPathName``;
    it keeps the summary files, which ``_footer_file`` looks for first)."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")


def _footer_file(path: str) -> str | None:
    """The file whose footer Spark's inference reads with mergeSchema
    off: ``path`` itself, or the first data file under it in path order.
    None where Spark must decide: a missing or non-local path, an empty
    directory, or a summary file, which Spark would read first."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    found = []
    for root, dirs, files in os.walk(path):
        if {"_metadata", "_common_metadata"} & set(files):
            return None
        dirs[:] = [d for d in dirs if not _hidden(d)]
        found += [os.path.join(root, f) for f in files if not _hidden(f)]
    return min(found, default=None)


def _same_in_spark(t) -> bool:
    """Whether Spark's parquet reader types a column of arrow type ``t``
    as ``from_arrow_type`` does.  INT96 is decided apart (``_footer_schema``);
    an ns timestamp is illegal to Spark, and the types left out map
    differently (duration, unsigned ints) or not at all."""
    import pyarrow.types as pt

    if pt.is_dictionary(t):
        return _same_in_spark(t.value_type)
    if pt.is_list(t) or pt.is_large_list(t):
        return _same_in_spark(t.value_type)
    if pt.is_map(t):
        return _same_in_spark(t.key_type) and _same_in_spark(t.item_type)
    if pt.is_struct(t):
        return t.num_fields > 0 and all(_same_in_spark(f.type) for f in t)
    if pt.is_timestamp(t):
        return t.unit != "ns"
    if pt.is_decimal(t):
        return t.precision <= 38
    checks = (pt.is_boolean, pt.is_int8, pt.is_int16, pt.is_int32, pt.is_int64, pt.is_float32,
              pt.is_float64, pt.is_string, pt.is_large_string, pt.is_binary, pt.is_large_binary, pt.is_date32)
    return any(check(t) for check in checks)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The data schema ``spark.read.parquet(path)`` infers, read from one
    footer on the driver; None where only Spark's inference can tell.
    A Spark-written file carries its schema as JSON, which is what Spark
    uses; otherwise the arrow schema maps as Spark types the parquet
    columns, with INT96 (Spark's legacy timestamp) taken from the
    physical type."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    footer = _footer_file(path)
    if footer is None or spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    try:
        pf = pq.ParquetFile(footer)
        spark_json = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if spark_json is not None:
            return StructType.fromJson(json.loads(spark_json))
        int96 = {
            pf.schema.column(i).path
            for i in range(pf.metadata.num_columns)
            if pf.schema.column(i).physical_type == "INT96"
        }
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        fields = []
        for f in pf.schema_arrow:
            if f.name in int96:
                t = TimestampType()
            elif _same_in_spark(f.type):
                t = from_arrow_type(f.type, prefer_timestamp_ntz=ntz)
            else:
                return None
            fields.append(StructField(f.name, t, f.nullable))
        return StructType(fields)
    except (OSError, ValueError, KeyError, TypeError):
        return None  # unreadable here: Spark raises its own error


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job: the
    schema comes from one footer on the driver (``_footer_schema``) and
    equals the inferred one; Spark still discovers hive partition
    columns.  Where the footer cannot decide, Spark infers as before."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_completed_buckets(spark: SparkSession, out_dir: str) -> list[int]:
    """Buckets already committed (resume input), sorted: the union of
    the bucket entries of every run's manifest.  Compaction manifests
    rewrite buckets and never commit one.  A damaged manifest raises
    (``sink.read_manifests``), or the re-run would re-extract every
    bucket and duplicate the output.  Driver-side JSON reads; ``spark``
    is unused."""
    from ocr_api_spark.plans.sink import read_manifests

    return sorted(
        {
            entry["bucket"]
            for manifest in read_manifests(out_dir)
            if not manifest.get("compaction")
            for entry in manifest["buckets"]
        }
    )


def extraction_plan(
    pages: DataFrame,
    claims: DataFrame | None,
    n_buckets: int,
    n_salts: int,
    n_parts: int | None = None,
    broadcast_claims: bool = True,
) -> DataFrame:
    """Build the logical plan: bucket+salt, repartition the *raw* pages
    (parallelism for the UDF stage + alignment for the bucket-partitioned
    sink — and the shuffle moves input bytes, not extracted structs),
    left-join claims, then ``with_extraction``: resolve text (HTML branch
    lazy), extract and match in one Arrow stage.  Without claims,
    ``doc_type`` and every match are null.

    ``broadcast_claims``: claims are per-url facts, joined through
    ``F.broadcast`` by default; at 10^12 scale disable this and
    co-bucket both tables so the join is shuffle-free."""
    pages = pages.withColumns(
        {
            "bucket": F.expr(_BUCKET_SQL.format(int(n_buckets))),
            "salt": F.expr(_SALT_SQL.format(int(n_salts))),
        }
    )
    if n_parts:
        # r8 (guide §6 file sizing + §2.5): RANGE partition on (bucket,
        # salt) instead of hash.  Hash scattered every bucket's n_salts
        # salt groups across random partitions, so each task wrote ~8
        # bucket directories — 481 files of ~250 rows at the sf1.0 bench
        # (and a per-file writer/commit cost that dominated the write).
        # Range keeps each partition on 1-2 consecutive buckets → 111
        # files, measured 4.21 → 3.79 s for the same write INCLUDING
        # range sampling's extra pass.  Skew posture is equal-or-better:
        # the sampler balances partitions by row count, so a hot bucket
        # is split at salt boundaries instead of hashing whole into one
        # task.  Row placement stays deterministic (fixed sampling
        # seed), and extraction is pure per-row, so output content is
        # unchanged — only file layout improves.
        pages = pages.repartitionByRange(n_parts, "bucket", "salt")
    if claims is not None:
        right = F.broadcast(claims) if broadcast_claims else claims
        pages = pages.join(right, "url", "left")
    # FULL_SCHEMA's field order is the output order after doc_type
    return with_extraction(pages).selectExpr(
        "url", "warc_ts", "lang", "bucket", "salt", "doc_type", "extraction.*"
    )


def dedupe_pages(pages: DataFrame) -> DataFrame:
    """Exact-dedup stage (training-data-pipeline tier): one row per
    distinct text payload, deterministic keeper (min url).  At scale this
    is one shuffle keyed by the md5 fingerprint — high cardinality, no
    skew.  HTML rows dedupe on the raw payload (``content_fingerprint``)."""
    from pyspark.sql.window import Window

    from ocr_api_spark.operators.dedup import content_fingerprint

    key = content_fingerprint()
    return (
        pages.withColumn("__rn", F.row_number().over(Window.partitionBy(key).orderBy("url")))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _data_files(out_path: str) -> set[str]:
    """All parquet data files under a bucket-partitioned directory (a
    run's private staging dir, or a maintenance walk).  Local-filesystem
    walk — the parquet-emulation counterpart of reading an Iceberg
    snapshot manifest; an object-store deployment uses the table
    format's manifest (plans/sink.py snapshot_files) instead of
    listing."""
    found = set()
    for root, _dirs, files in os.walk(out_path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                found.add(os.path.join(root, f))
    return found


def _bucket_stats(new_files: set[str], wall_s: float) -> list[tuple]:
    """(bucket, rows_out, rows_failed, wall_s) per bucket touched by this
    run: row counts from parquet footers (no data read); failed counts
    from row-group ``status`` statistics when they decide (min==max),
    falling back to a single-column read only for mixed row groups."""
    import re as _re
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def one(path: str) -> tuple[int, int, int] | None:
        mm = _re.search(r"bucket=(\d+)", path)
        if not mm:
            return None
        b = int(mm.group(1))
        pf = pq.ParquetFile(path)
        md = pf.metadata
        rows = md.num_rows
        failed = 0
        if rows:
            # parquet LEAF column index (struct columns flatten into
            # multiple leaves, so the arrow field index would be wrong)
            status_idx = next(
                i for i in range(md.num_columns) if md.schema.column(i).path == "status"
            )
            for rg in range(md.num_row_groups):
                col_md = md.row_group(rg).column(status_idx)
                st = col_md.statistics
                if st is not None and st.has_min_max and st.min == st.max:
                    if st.min == "Failed":
                        failed += md.row_group(rg).num_rows
                    continue
                status = pf.read_row_group(rg, columns=["status"]).column("status")
                failed += int(pc.sum(pc.equal(status, "Failed")).as_py() or 0)
        return (b, rows, failed)

    # r8: footer opens are I/O + C-parse (GIL released in pyarrow), so a
    # small thread pool cuts the driver-side stall roughly by its width;
    # per-bucket aggregation order is unaffected (results merged after).
    per_bucket: dict[int, list[int]] = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for res in pool.map(one, sorted(new_files)):
            if res is None:
                continue
            b, rows, failed = res
            agg = per_bucket.setdefault(b, [0, 0])
            agg[0] += rows
            agg[1] += failed
    return [(b, r, f, wall_s) for b, (r, f) in sorted(per_bucket.items()) if r]


def _publish(staging: str, out_path: str) -> set[str]:
    """Move a finished write's data files from its staging dir into the
    table, keeping their ``bucket=N/`` directories, then drop the
    staging dir (Spark's ``_SUCCESS`` and ``.crc`` siblings go with it).
    Spark's part names carry the write job's UUID, so they never
    collide with files already in the table.  Rename is atomic on one
    filesystem.  Published files are not yet committed: until the run's
    manifest names them, a kill leaves them in buckets no manifest
    lists, and the next run on those buckets deletes them before it
    writes; a kill part-way also leaves the rest in staging
    (``gc_orphans``)."""
    published = set()
    for src in _data_files(staging):
        rel = os.path.relpath(src, staging)
        dst = os.path.join(out_path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        published.add(dst)
    shutil.rmtree(staging)
    return published


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    claims_path: str | None,
    out_dir: str,
    n_buckets: int = 64,
    n_salts: int = 8,
    repartition: int | None = None,
    buckets: list[int] | None = None,
) -> dict:
    """Run (or resume) the pipeline.  Returns run statistics.

    ``buckets``: restrict this invocation to the given bucket ids (the
    url-hash bucket is deterministic, so a filtered run commits exactly
    those buckets, the empty ones included).  ``run_extraction_chunked``
    uses this to bound the blast radius of a mid-flight failure."""
    t0 = time.time()
    pages = read_parquet(spark, pages_path)
    claims = read_parquet(spark, claims_path) if claims_path else None

    # the resume filter tests the bucket expression itself: extraction_plan
    # derives the column, and the optimizer pushes the filter to the scan
    done = read_completed_buckets(spark, out_dir)
    bucket = _BUCKET_SQL.format(int(n_buckets))
    keep = []
    if buckets is not None:
        keep.append(f"{bucket} IN ({', '.join(str(int(b)) for b in buckets)})" if buckets else "false")
    if done:
        keep.append(f"NOT {bucket} IN ({', '.join(str(int(b)) for b in done)})")
    if keep:
        pages = pages.where(" AND ".join(keep))

    # No manifest names a bucket in todo, so nothing in its directory is
    # committed: it holds only files a killed run published before its
    # manifest.  Clear them, or this run's rows would land beside theirs.
    # Runs in flight together own disjoint buckets.
    out_path = os.path.join(out_dir, "extracted")
    todo = set(range(n_buckets) if buckets is None else map(int, buckets)) - set(done)
    for b in todo:
        bucket_dir = os.path.join(out_path, f"bucket={b}")
        if os.path.isdir(bucket_dir):
            shutil.rmtree(bucket_dir)

    # Repartition on (bucket, salt) happens INSIDE the plan, before the
    # UDF stage: it sets UDF parallelism (a compressed-byte-sized scan
    # would otherwise under-partition a compute-heavy stage), moves raw
    # input bytes instead of extracted structs, and aligns tasks with the
    # bucket-partitioned sink (n_parts files, not n_tasks × n_buckets).
    # One partition per core, not two: each Python task pays a fixed
    # set-up whatever its row count, and a second wave of tasks buys no
    # balance (the range sampler keeps partitions within ~4% of the
    # mean).  That set-up was ~0.3 s of a core per task while workers
    # imported PySpark from pyspark.zip, and is ~0.08 s under
    # plans.worker_daemon (a pass-through pandas UDF over 4,000 rows,
    # 16 tasks against 4, local[4]).  Two per core still lost: perfbench
    # on 4 vCPUs, local[4], medians, resume_chunked 5,716 → 4,958
    # docs/s (6 pairs, all lost), crawl_mixed 2,063 → 2,050 (4 pairs,
    # 1 won).
    n_parts = repartition or spark.sparkContext.defaultParallelism
    plan = extraction_plan(pages, claims, n_buckets, n_salts, n_parts=n_parts)

    # Metrics ride on the write with ZERO extra Spark jobs over the data:
    # - two global observe() aggregates (rows/failed) — measured free
    #   (a per-bucket observe with 2×n_buckets conditional sums costs ~75%
    #   of the whole job: the observe accumulator evaluates every expr per
    #   row, interpreted);
    # - per-bucket counts from the parquet FOOTERS of only THIS run's new
    #   files (the ones it published from its staging dir), and per-bucket
    #   failed counts from a pyarrow read of just the dictionary-encoded
    #   ``status`` column of those files — O(this run's output), never
    #   listing or re-reading prior runs.  On Iceberg the staging dir
    #   disappears: the new snapshot's manifest lists exactly these files
    #   with row counts.
    import uuid

    from pyspark.sql import Observation

    # unique name: two runs in flight on one session (the chunked
    # window) must never share an observation
    obs = Observation(f"run_metrics_{uuid.uuid4().hex}")
    plan = plan.observe(
        obs,
        F.expr("count(1) AS rows_out"),
        F.expr("sum(CASE WHEN status = 'Failed' THEN 1 ELSE 0 END) AS rows_failed"),
    )

    # Write, then publish: the write goes to a staging dir only this run
    # knows, so its files are exactly what the dir holds — no walk of the
    # whole table, and a concurrent run on other buckets cannot leak into
    # this run's commit.  Leading "_": table readers skip the dir, and a
    # killed run's leftover is sink.verify_sink's "staging" (gc_orphans
    # reclaims it).
    staging = os.path.join(out_dir, "_staging", uuid.uuid4().hex)
    plan.write.partitionBy("bucket").parquet(staging)
    new_files = _publish(staging, out_path)

    m = obs.get
    n_rows = int(m["rows_out"] or 0)
    wall_now = round(time.time() - t0, 3)
    stats_rows = _bucket_stats(new_files, wall_now)
    # A bucket-scoped run commits every requested bucket (review r7): one
    # that hashes zero urls produces no files, but without an entry
    # run_extraction_chunked would re-launch that group's full job on
    # every resume forever.  An unscoped run commits the buckets it
    # touched (a single job never loops on its commits).
    if buckets is not None:
        stats_rows += [(b, 0, 0, wall_now) for b in sorted(todo - {r[0] for r in stats_rows})]
    if stats_rows:
        # the commit: one manifest naming this run's files, with
        # per-bucket counts (plans/sink.py)
        from ocr_api_spark.plans.sink import write_snapshot

        write_snapshot(out_dir, new_files, stats_rows)

    footer_rows = sum(r[1] for r in stats_rows)
    if footer_rows != n_rows:
        # the staging dir is private, so a mismatch means a data file was
        # lost or added between the write and the publish; the rows are
        # already committed, so surface it instead of failing the job
        import warnings

        warnings.warn(
            f"metrics mismatch: footers counted {footer_rows} rows, observe saw {n_rows} "
            "(a data file lost or added between write and publish?)",
            stacklevel=2,
        )

    wall = time.time() - t0
    return {
        "rows": n_rows,
        "wall_s": round(wall, 3),
        "docs_per_sec": round(n_rows / wall, 2) if wall > 0 else None,
        "buckets_skipped": len(done),
    }


# Bucket groups run_extraction_chunked keeps in flight.  Each group
# spends ~half its wall in set-up with the cores idle (plan building,
# the claims broadcast, the range sample), and a second group's
# UDF/write job fills that window: perfbench resume_chunked on
# 4 vCPUs, local[4], medians of 10 seeds, 3,364 → 4,355 docs/s.  Two is
# the smallest width that overlaps one group's set-up with another's
# run; a wider window adds in-flight broadcasts, memory and
# redo-on-kill for idle time two already covers.  Re-measured with the
# workers on plans.worker_daemon, against two: one in flight 5,759 →
# 4,447 docs/s (4 pairs, all lost), three 5,974 → 5,865 (6 pairs, 2 won).
_GROUPS_IN_FLIGHT = 2


def run_extraction_chunked(
    spark: SparkSession,
    pages_path: str,
    claims_path: str | None,
    out_dir: str,
    n_buckets: int = 64,
    buckets_per_commit: int = 16,
    **kw,
) -> dict:
    """Resume-granular extraction for very long runs: process buckets in
    groups of ``buckets_per_commit``, each group one ``run_extraction``
    (one Spark write + one manifest commit).  Two groups run at once, so
    one group's set-up overlaps the other's job; a new group starts only
    when one finishes.  A mid-flight kill (OOM, preempted driver, spot
    reclaim) loses at most the two in-flight groups' work; the next
    invocation reads the manifests and continues from the last
    commits — this is what "resumable at 10^12 documents"
    means operationally: the unit of redo is a bucket group, not the
    corpus.  Single-job ``run_extraction`` remains the right call when
    the whole corpus fits one job's failure domain.

    When a group fails, no further group starts; the other in-flight
    group finishes and commits (its buckets are disjoint, and commit
    order does not matter: the completed buckets are a set), then the
    first error is raised.  Each group inherits the caller's Spark local properties
    (job group, description, scheduler pool).

    Group size trades scheduler overhead (one job per group) against
    redo bound; with bucket = hash(url) % n_buckets the groups are
    statistically even, and each group's job internally repartitions to
    full cluster parallelism, so chunking costs extra scans of the
    (pruned) input, not idle executors."""
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
    from itertools import islice

    from pyspark.util import inheritable_thread_target

    t0 = time.time()
    done = set(read_completed_buckets(spark, out_dir))
    totals = {"rows": 0, "groups_run": 0, "groups_skipped": 0}
    groups = []
    for start in range(0, n_buckets, buckets_per_commit):
        group = [
            b for b in range(start, min(start + buckets_per_commit, n_buckets))
            if b not in done
        ]
        if group:
            groups.append(group)
        else:
            totals["groups_skipped"] += 1

    def run_group(group: list[int]) -> dict:
        # the module attribute, looked up per call: each group is one
        # run_extraction call
        return run_extraction(
            spark, pages_path, claims_path, out_dir,
            n_buckets=n_buckets, buckets=group, **kw,
        )

    # PySpark's pinned-thread mode (the default) keeps local properties
    # per thread; the wrapper copies this thread's into each group's.
    # Unpinned, properties are shared and it hands the session back.
    inherit = inheritable_thread_target(spark)
    if callable(inherit):
        run_group = inherit(run_group)

    pending = iter(groups)
    error = None
    with ThreadPoolExecutor(max_workers=_GROUPS_IN_FLIGHT) as pool:
        in_flight = {pool.submit(run_group, g) for g in islice(pending, _GROUPS_IN_FLIGHT)}
        while in_flight:
            finished, in_flight = wait(in_flight, return_when=FIRST_COMPLETED)
            for fut in finished:
                if fut.exception() is not None:
                    error = error or fut.exception()
                else:
                    totals["rows"] += fut.result()["rows"]
                    totals["groups_run"] += 1
            if error is None:
                in_flight |= {pool.submit(run_group, g) for g in islice(pending, len(finished))}
    if error is not None:
        raise error
    wall = time.time() - t0
    totals["wall_s"] = round(wall, 3)
    totals["docs_per_sec"] = round(totals["rows"] / wall, 2) if wall > 0 else None
    return totals
