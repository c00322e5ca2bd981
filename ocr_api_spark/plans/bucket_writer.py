"""The bucket files of a run, written from the fused Arrow stage.

``run_extraction`` feeds its placed, claims-joined inputs to one
``mapInArrow`` body, a ``BucketWriter``, and drives it with a ``noop``
write.  Each task runs ``fused_extract_udf``'s body over its Arrow
batches, converts the result to Arrow as PySpark's pandas-UDF serializer
converts a pandas UDF's result, and writes one parquet file per bucket
it holds with pyarrow, into the run's staging dir under ``bucket=N/``.
So the rows never go back through the JVM: Spark's parquet writer
decoded the UDF's Arrow result into rows, sorted them by bucket for
``partitionBy`` and encoded them with parquet-mr, ~0.25 s of every
~1.1 s run over ``crawl_table(4000)`` on ``local[4]``.

The files are plain pyarrow parquet: no ``ARROW:schema`` and no Spark
keys in the footer, so ``spark.read.parquet`` and
``pipeline.read_parquet`` take their schema from the parquet types, as
they do for any pyarrow-written input, and read the schema Spark's own
writer gives these rows.  The codec is the session's
``spark.sql.parquet.compression.codec``.  With no
``org.apache.spark.version`` in the footer, Spark applies a session's
``spark.sql.parquet.datetimeRebaseModeInRead`` of ``LEGACY`` or
``EXCEPTION`` to timestamps before 1900 in these files, as it does to
the pyarrow-written inputs.

A task writes ``bucket=N/part-<partition id>-<run id>.parquet`` under a
hidden temp name and renames it into place when it is complete, so a
retried or speculative attempt of the same partition replaces the same
file with the same rows, and a killed attempt leaves only hidden temp
files, which no reader lists and ``_publish`` drops with the staging
dir.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from ocr_api_spark.operators.extract import FULL_SCHEMA, UDF_INPUTS, fused_extract_udf

# The input columns the output keeps, in order, before the fused
# stage's fields: ``extraction_plan``'s columns, and ``run_extraction``'s
# inputs.  A file holds all but ``bucket``, which is its directory, as
# Spark's partitionBy writes it.
PASSED = ["url", "warc_ts", "lang", "bucket", "salt", "doc_type"]
_IN_FILE = [c for c in PASSED if c != "bucket"]

# Spark's codec names → pyarrow's (Spark's "lz4" is Hadoop's framing,
# which pyarrow writes as LZ4_RAW; Spark reads both)
_CODECS = {
    "none": "none",
    "uncompressed": "none",
    "snappy": "snappy",
    "gzip": "gzip",
    "zstd": "zstd",
    "brotli": "brotli",
    "lz4": "lz4",
    "lz4_raw": "lz4",
}
# parquet-mr's default zstd level (pyarrow's is 1)
_ZSTD_LEVEL = 3

# Dictionaries only on columns whose values come from a small set by
# construction (a salt, a doc type, a match key, a percentage).  pyarrow
# keeps a dictionary wherever it fits, where parquet-mr drops one that
# does not pay, so a dictionary on every column cost 7% more bytes on
# a document-only output.
_DICTIONARY = [
    "lang", "status", "doc_type", "salt",
    "match.percentages.key_value.key", "match.percentages.key_value.value", "match.average_match_percentage",
]
# Statistics on the top-level scalar columns but extracted_text: what
# prunes a file is a url, lang, doc_type or status predicate (and
# ``_bucket_stats`` reads the status min/max).  The trade: a predicate
# on a field nested in pan, aadhaar, ..., match, or on extracted_text,
# reads every file of the buckets it scans.  Their min/max strings cost
# more than they could prune.  Bytes of a 16-bucket output (zstd),
# Spark's writer → statistics on every column → on every column but
# extracted_text → these: 2,000 mixed pages 624 → 662 → 625 → 570 KB;
# 20,000 document rows 1,937 → 1,994 → 1,982 → 1,927 KB.  The pyarrow
# figures held Spark's footer keys, ~3.9 KB a file; without them the
# mixed pages take 507 KB.
_STATISTICS = ["url", "warc_ts", "lang", "salt", "doc_type", "status", "error"]
# A bucket's rows become one row group, cut at parquet-mr's row-group
# size (``parquet.block.size``) so a task's memory stays bounded.
_ROW_GROUP_BYTES = 128 << 20


class _BucketFile:
    """One (partition, bucket) file: row groups go to a hidden temp file,
    renamed to ``path`` once complete."""

    def __init__(self, path: str, options: dict):
        self.path, self.options = path, options
        self.tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.{uuid.uuid4().hex[:8]}.tmp")
        self.tables, self.nbytes, self.writer = [], 0, None

    def add(self, table) -> None:
        self.tables.append(table)
        self.nbytes += table.nbytes
        if self.nbytes >= _ROW_GROUP_BYTES:
            self._flush()

    def _flush(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.concat_tables(self.tables)
        if self.writer is None:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            self.writer = pq.ParquetWriter(self.tmp, table.schema, **self.options)
        self.writer.write_table(table, row_group_size=table.num_rows)
        self.tables, self.nbytes = [], 0

    def close(self) -> str:
        if self.tables:
            self._flush()
        self.writer.close()
        os.replace(self.tmp, self.path)
        return self.path

    def discard(self) -> None:
        # the attempt is failing anyway; what stays goes with the staging dir
        with contextlib.suppress(Exception):
            if self.writer is not None:
                self.writer.close()
        with contextlib.suppress(OSError):
            os.remove(self.tmp)


class BucketWriter:
    """The ``mapInArrow`` body of a run over a frame of ``PASSED`` columns
    and ``UDF_INPUTS``: built on the driver from the session, called per
    task with its batches.  It writes files and yields no rows."""

    def __init__(self, spark, staging: str, run_id: str):
        conf = spark.conf
        codec = conf.get("spark.sql.parquet.compression.codec", "snappy").lower()
        if codec not in _CODECS:
            raise ValueError(f"spark.sql.parquet.compression.codec={codec} has no pyarrow writer")
        self.staging, self.run_id = os.path.abspath(staging), run_id
        self.options = {
            "compression": _CODECS[codec],
            "compression_level": _ZSTD_LEVEL if codec == "zstd" else None,
            "use_dictionary": _DICTIONARY,
            "write_statistics": _STATISTICS,
            "store_schema": False,
        }
        # as PySpark's worker builds the serializer of a scalar pandas UDF
        self.timezone = conf.get("spark.sql.session.timeZone")
        self.safecheck = conf.get("spark.sql.execution.pandas.convertToArrowArraySafely", "false") == "true"

    def __call__(self, batches):
        from pyspark import TaskContext

        # a generator, so the work runs inside the first next(), where
        # PySpark's UDF profiler (spark.sql.pyspark.udf.profiler) looks
        self.write(batches, TaskContext.get().partitionId())
        yield from ()

    def write(self, batches, partition_id: int) -> list[str]:
        """Write the rows of ``batches`` (one partition's) as one file per
        bucket; returns the files' paths."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
        from pyspark.sql.pandas.types import to_arrow_type

        ser = ArrowStreamPandasUDFSerializer(
            self.timezone, self.safecheck, True, df_for_struct=True, struct_in_pandas="dict", arrow_cast=True
        )
        return_type = to_arrow_type(FULL_SCHEMA)
        name = f"part-{partition_id:05d}-{self.run_id}.parquet"
        files: dict[int, _BucketFile] = {}
        try:
            for batch in batches:
                if not batch.num_rows:
                    continue
                args = [ser.arrow_to_pandas(batch.column(c), i) for i, c in enumerate(UDF_INPUTS)]
                result = ser._create_batch((fused_extract_udf.func(*args), return_type)).column(0)
                table = pa.Table.from_arrays(
                    [batch.column(c) for c in _IN_FILE] + result.flatten(),
                    names=_IN_FILE + FULL_SCHEMA.fieldNames(),
                )
                buckets = batch.column("bucket")
                for b in pc.unique(buckets).to_pylist():
                    if b not in files:
                        path = os.path.join(self.staging, f"bucket={b}", name)
                        files[b] = _BucketFile(path, self.options)
                    files[b].add(table.filter(pc.equal(buckets, b)))
            return [f.close() for f in files.values()]
        except BaseException:
            for f in files.values():
                f.discard()
            raise
