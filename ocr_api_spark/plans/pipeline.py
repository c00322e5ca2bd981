"""The end-to-end extraction pipeline (reference lifecycle E1/E2 as one
Spark job — SURVEY.md §3) with the scale contract of the north_rule:

- **url-hash bucketing**: every row gets ``bucket = pmod(xxhash64(url),
  n_buckets)``; the output is partitioned by bucket, and a completed
  bucket is the unit of resume.
- **placement by (bucket, salt)**: ``salt = pmod(xxhash64(url, 1),
  n_salts)`` cuts each bucket into cells, and a row goes to the
  partition that holds its cell's equal-width share of the buckets a
  run writes (``extraction_plan``), with no sample and no hash.  A
  partition holds whole, consecutive buckets, or the salt cells of
  one.  Placement only decides which file a row lands in: extraction
  is pure per-row, so content is deterministic regardless of layout.
- **lineage + metrics in one commit record**: a run commits by writing
  one ``_snapshots/`` manifest (``plans/sink.py``) naming its files and,
  per committed bucket, rows out, failures and wall seconds.  The
  completed buckets are the union over manifests.  A re-run reads them
  first, filters them out of the *scan* (partition pruning at the
  source), and clears whatever an uncommitted run left in the buckets
  it is about to write, making a kill at any point resumable without
  duplicates.
- **write, then publish**: the fused Arrow stage writes each task's
  bucket files itself (``plans/bucket_writer.py``: pyarrow, one file
  per (partition, bucket), retried attempts overwrite their own),
  driven by a ``noop`` write, so the extracted rows never return to
  the JVM.  Each run writes into a private
  ``out_dir/_staging/<uuid>/`` and renames its files into
  ``extracted/``, so its new files are known without diffing the
  table, and runs on disjoint buckets can commit side by side.
  ``run_extraction_chunked`` keeps two bucket groups in flight, each
  on its share of the cores; a kill redoes at most those two groups.
- **claims join**: left join on url, through ``F.broadcast``.
  ``run_extraction`` (and so ``scripts/run_extraction_job.py``) always
  broadcasts the claims.  Only ``placed_inputs`` and ``extraction_plan``
  take ``broadcast_claims=False``, which over tables bucketed by url
  the same way (``bucketBy``, ``n_parts=None``) joins without a shuffle
  (``tests/test_bucketed_join.py``).
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
from pyspark.sql.types import IntegerType, StructField, StructType, TimestampType

# CLAIM_COLS is also imported from here (perfbench)
from ocr_api_spark.operators.extract import CLAIM_COLS, UDF_INPUTS, extraction_inputs, with_extraction  # noqa: F401
from ocr_api_spark.plans.bucket_writer import PASSED, BucketWriter


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
    as ``from_arrow_type`` does.  INT96 and a top-level null column are
    decided apart (``_footer_schema``); an ns timestamp is illegal to
    Spark, and the types left out map differently (duration, unsigned
    ints, a null nested in another type) or not at all."""
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
    columns.  Two top-level columns take their type from the physical
    column: INT96 (Spark's legacy timestamp), and an all-null column,
    which arrow writes as INT32 with the Null annotation and Spark reads
    as an int (a document-only pages table's ``html``).  A null field
    inside a nested type is left to Spark."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt
    from pyspark.sql.pandas.types import from_arrow_type

    footer = _footer_file(path)
    if footer is None or spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    try:
        pf = pq.ParquetFile(footer)
        spark_json = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if spark_json is not None:
            return StructType.fromJson(json.loads(spark_json))
        physical = {
            pf.schema.column(i).path: pf.schema.column(i).physical_type
            for i in range(pf.metadata.num_columns)
        }
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        fields = []
        for f in pf.schema_arrow:
            if physical.get(f.name) == "INT96":
                t = TimestampType()
            elif pt.is_null(f.type) and physical.get(f.name) == "INT32":
                t = IntegerType()
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
    equals the inferred one, an all-null top-level column included;
    Spark still discovers hive partition columns.  Where the footer
    cannot decide (a nested null field, an unsigned int, a summary file,
    mergeSchema on), Spark infers as before, at the cost of one job."""
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


def placed_inputs(
    pages: DataFrame,
    claims: DataFrame | None,
    n_buckets: int,
    n_salts: int,
    n_parts: int | None = None,
    broadcast_claims: bool = True,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The pages a run extracts, placed and joined: bucket+salt,
    repartition the *raw* pages (parallelism for the extraction stage +
    alignment for the bucket-partitioned sink — and the shuffle moves
    input bytes, not extracted structs), then left-join claims.  The
    one code path for placement, bucket filter and claims join, under
    ``extraction_plan`` and ``run_extraction`` both.

    ``buckets``: the buckets this plan writes (None: all of them).  The
    scan keeps only their rows; the filter tests the bucket expression
    itself, so the optimizer pushes it to the scan.

    ``n_parts``: each row goes to partition ``pid`` by id
    (``repartitionById``: no sample, no hash), where ``pid`` is the
    equal-width share of the row's (bucket rank, salt) cell over the
    ``len(buckets) * n_salts`` cells this plan writes; the rank is the
    bucket's index in ``sorted(buckets)``.  Each partition then holds
    whole, consecutive buckets (one file per bucket when ``n_parts``
    divides the bucket count), and a bucket spreads over partitions at
    salt boundaries when there are more partitions than buckets.  Bucket
    and salt are hashes of the url, so the cells hold equal rows in
    expectation, and placement is the same on every build.

    The trade against the range partitioner this replaces (which ran a
    sampling job per plan): equal-width cells cannot see skew that only
    adversarial url hashes create.  On 8,000 rows over 16 buckets and 8
    salts, max/mean rows per partition at 4 and 8 parts, range → by id:
    uniform urls 1.06 / 1.12 → 1.02 / 1.04; 2,000 *distinct* urls that
    all hash to one bucket 1.04 / 1.13 → 1.75 / 2.73, since that bucket's
    cells stay in their partitions; one url repeated 2,000 times
    1.55 / 3.00 → 1.75 / 2.72, one cell that neither can split.
    Extraction is pure per-row, so placement moves rows between files,
    never their content.

    ``broadcast_claims``: claims are per-url facts, joined through
    ``F.broadcast`` by default (``run_extraction`` always broadcasts);
    ``False`` over pages and claims tables bucketed by url the same way
    (``bucketBy``) and ``n_parts=None`` makes the join shuffle-free."""
    n_buckets, n_salts = int(n_buckets), int(n_salts)
    ranked = None if buckets is None else sorted({int(b) for b in buckets})
    if ranked == list(range(n_buckets)):
        ranked = None  # every bucket: no filter, and the rank is the bucket
    if ranked is not None:
        listed = ", ".join(map(str, ranked))
        # IN () is not SQL: an empty bucket set keeps no row
        pages = pages.where(f"{_BUCKET_SQL.format(n_buckets)} IN ({listed})" if ranked else "false")
    pages = pages.withColumns(
        {
            "bucket": F.expr(_BUCKET_SQL.format(n_buckets)),
            "salt": F.expr(_SALT_SQL.format(n_salts)),
        }
    )
    if n_parts:
        if ranked:  # either rank is a BIGINT, so the product cannot overflow
            rank, n_ranked = f"(array_position(array({listed}), bucket) - 1)", len(ranked)
        else:
            rank, n_ranked = "CAST(bucket AS BIGINT)", n_buckets
        pid = f"CAST(({rank} * {n_salts} + salt) * {int(n_parts)} DIV {n_ranked * n_salts} AS INT)"
        pages = pages.repartitionById(int(n_parts), F.expr(pid))
    if claims is not None:
        right = F.broadcast(claims) if broadcast_claims else claims
        pages = pages.join(right, "url", "left")
    return pages


def extraction_plan(
    pages: DataFrame,
    claims: DataFrame | None,
    n_buckets: int,
    n_salts: int,
    n_parts: int | None = None,
    broadcast_claims: bool = True,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The extracted rows as a Spark plan: ``placed_inputs``, then
    ``with_extraction``: resolve text (HTML branch lazy), extract and
    match in one Arrow stage.  Without claims, ``doc_type`` and every
    match are null.  The benchmarks build on it (the stream calls
    ``with_extraction`` itself); ``run_extraction`` writes the same rows
    from its own Arrow stage (``plans.bucket_writer``)."""
    placed = placed_inputs(pages, claims, n_buckets, n_salts, n_parts, broadcast_claims, buckets)
    # PASSED, then FULL_SCHEMA's fields in their order
    return with_extraction(placed).selectExpr(*PASSED, "extraction.*")


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
    run: the bucket from each file's own ``bucket=N`` directory (not
    one further up its path); row counts from parquet footers (no data
    read); failed counts from row-group ``status`` statistics when they
    decide (min==max), falling back to a single-column read only for
    mixed row groups."""
    import re as _re
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def one(path: str) -> tuple[int, int, int] | None:
        mm = _re.fullmatch(r"bucket=(\d+)", os.path.basename(os.path.dirname(path)))
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
    staging dir (hidden files go with it: a killed task attempt's temp
    files, Spark's ``_SUCCESS`` and ``.crc``).  Part names carry the
    write's UUID (the run's, or Spark's write job's for a compaction),
    so they never collide with files already in the table.  Rename is
    atomic on one filesystem.  Published files are not yet committed:
    until the run's manifest names them, a kill leaves them in buckets
    no manifest lists, and the next run on those buckets deletes them
    before it writes; a kill part-way also leaves the rest in staging
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
    uses this to bound the blast radius of a mid-flight failure.  An id
    outside ``[0, n_buckets)`` raises ``ValueError`` before the run reads
    a manifest or clears a bucket, since no url hashes to it and
    committing it would count a bucket that does not exist."""
    outside = sorted({int(b) for b in buckets or ()} - set(range(n_buckets)))
    if outside:
        raise ValueError(f"buckets {outside} are outside [0, {n_buckets})")
    t0 = time.time()
    pages = read_parquet(spark, pages_path)
    claims = read_parquet(spark, claims_path) if claims_path else None

    # No manifest names a bucket in todo, so nothing in its directory is
    # committed: it holds only files a killed run published before its
    # manifest.  Clear them, or this run's rows would land beside theirs.
    # Runs in flight together own disjoint buckets.
    done = read_completed_buckets(spark, out_dir)
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
    # bucket-partitioned sink (max(n_parts, len(todo)) files when one
    # divides the other, not n_tasks × n_buckets).  One partition per
    # core, not two: each Python task pays a fixed set-up whatever its
    # row count, and a second wave of tasks buys no balance (placement
    # keeps 8,000 uniform urls over 16 buckets within ~4% of the mean at
    # 4 and 8 parts).  That set-up was ~0.3 s of a core per task while
    # workers imported PySpark from pyspark.zip, and is ~0.08 s under
    # plans.worker_daemon (a pass-through pandas UDF over 4,000 rows,
    # 16 tasks against 4, local[4]).  Two per core still lost: perfbench
    # on 4 vCPUs, local[4], medians, resume_chunked 5,716 → 4,958
    # docs/s (6 pairs, all lost), crawl_mixed 2,063 → 2,050 (4 pairs,
    # 1 won).  The same rule holds across runs that share the cores:
    # run_extraction_chunked passes each group in flight its share of
    # them as ``repartition``.
    n_parts = repartition or spark.sparkContext.defaultParallelism
    placed = placed_inputs(pages, claims, n_buckets, n_salts, n_parts=n_parts, buckets=sorted(todo))
    inputs = extraction_inputs(placed, [c for c in PASSED if c not in UDF_INPUTS])

    # Metrics ride on the write with ZERO extra Spark jobs over the data:
    # - one global observe() aggregate (rows in, one output row each) —
    #   measured free (a per-bucket observe with 2×n_buckets conditional
    #   sums costs ~75% of the whole job: the observe accumulator
    #   evaluates every expr per row, interpreted); it cross-checks the
    #   footer counts below;
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
    run_id = uuid.uuid4().hex
    obs = Observation(f"run_metrics_{run_id}")
    inputs = inputs.observe(obs, F.expr("count(1) AS rows_out"))

    # Write, then publish: the tasks write the bucket files into a
    # staging dir only this run knows, so its files are exactly what the
    # dir holds — no walk of the whole table, and a concurrent run on
    # other buckets cannot leak into this run's commit.  Leading "_":
    # table readers skip the dir, and a killed run's leftover is
    # sink.verify_sink's "staging" (gc_orphans reclaims it).  The fused
    # stage writes its own output (plans/bucket_writer.py), and the noop
    # sink only drives its tasks: the rows never return to the JVM.  No
    # collect(): the driver finds the files in the staging dir, and
    # PySpark leaves a collect's result socket to the garbage collector
    # (a ResourceWarning in the caller).
    staging = os.path.join(out_dir, "_staging", run_id)
    writer = BucketWriter(spark, staging, run_id)
    os.makedirs(staging)
    inputs.mapInArrow(writer, "bucket INT").write.format("noop").mode("overwrite").save()
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
        # the staging dir is private, so a mismatch means the writer lost
        # rows, or a data file was lost or added between the write and
        # the publish; the rows are already committed, so surface it
        # instead of failing the job
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
# spends about half its wall in set-up with the cores idle (plan
# building, the claims broadcast, the shuffle map): its write job starts
# 0.19 s into a 0.39 s group (4 of 16 buckets of 20,000 document rows,
# 2 tasks, local[4], medians of 15; 0.23 of 0.66 s while Spark's parquet
# writer wrote the files, and a range sample added to the set-up when
# the figures below were taken).  A second group's UDF/write job fills
# that window: perfbench resume_chunked on 4 vCPUs, local[4], medians
# of 10 seeds, 3,364 → 4,355 docs/s.  Two is
# the smallest width that overlaps one group's set-up with another's
# run; a wider window adds in-flight broadcasts, memory and
# redo-on-kill.  Re-measured with the workers on plans.worker_daemon,
# against two: one in flight 5,759 → 4,447 docs/s (4 pairs, all lost),
# three 5,974 → 5,865 (6 pairs, 2 won).  The groups in flight share the
# cores (``repartition`` below), each taking ceil(cores / groups in
# flight) partitions.  With that split, three against two on local[4]
# (8 alternating fresh chunked runs, one session): 20,000 document rows
# in 16 groups 4.28 → 4.09 s (6 won), 8,000 crawl pages in 8 groups
# 2.37 → 2.09 s (8 won), which oversubscribes 6 tasks on 4 cores.
# perfbench's resume_chunked runs two groups, so it cannot show the
# difference, and three widens the redo of a kill to three groups:
# two stays until a benchmark with more groups shows the gain.
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
    statistically even.  Unless ``repartition`` is given, each group's
    UDF stage takes ``ceil(defaultParallelism / groups in flight)``
    tasks, so the groups in flight together run one Python task per
    core (``_GROUPS_IN_FLIGHT``); chunking costs extra scans of the
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

    if not kw.get("repartition"):
        # the groups in flight share the cores: each takes its share
        width = min(_GROUPS_IN_FLIGHT, len(groups)) or 1
        kw["repartition"] = -(-spark.sparkContext.defaultParallelism // width)

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
