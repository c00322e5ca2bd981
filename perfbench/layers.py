"""Per-layer measurements for the traced run.

Each layer is timed from outside, around calls into the program's public
functions:

- the extraction *ladder*: the same plan cut at successive layers, each
  prefix run into a ``noop`` sink (scan; + range repartition and claims
  join; + a null-body UDF of the fused signature; + the real fused UDF;
  + the bucket-partitioned parquet write), then ``run_extraction``
  itself.  In each pass a layer's self time is the difference between
  its rung and the one below; the commit layer is ``run_extraction``
  minus the parquet write span inside it.  Each layer reports the median
  of its per-pass self times;
- the kernels, single-process outside Spark on the workload's own rows,
  and the fused UDF body in N processes (slowest worker);
- the dedup stages (spans inside ``workloads.dedup_flow``).
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from ocr_api_spark.operators.extract import FULL_SCHEMA
from ocr_api_spark.plans.pipeline import CLAIM_COLS

# the fused UDF's arguments, in call order (plans.pipeline.extraction_plan)
FUSED_ARGS = ["text", "html", "doc_type", *CLAIM_COLS[:9]]
# spark.sql.execution.arrow.maxRecordsPerBatch as plans.session sets it
ARROW_BATCH = 2048
KERNEL_SAMPLE = 1000
LADDER_PASSES = 3  # layer self times are medians over the passes
N_SALTS = 8  # run_extraction's default


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- the fused body outside Spark ---------------------------------------------


def fused_columns(frame: pd.DataFrame) -> dict[str, list]:
    """The fused UDF's inputs as plain columns: ``html`` only where
    ``text`` is empty, as ``extraction_plan`` wires it."""
    text = frame["text"].tolist()
    cols = {"text": text, "html": [h if not t else None for t, h in zip(text, frame["html"].tolist())]}
    for c in FUSED_ARGS[2:]:
        cols[c] = frame[c].tolist()
    return cols


def _fused_worker(cols: dict[str, list]) -> tuple[float, list]:
    """Run the fused UDF body over ``cols`` in Arrow-sized batches;
    returns (busy seconds, statuses)."""
    from ocr_api_spark.operators.extract import fused_extract_udf

    n = len(cols["text"])
    busy, statuses = 0.0, []
    for lo in range(0, n, ARROW_BATCH):
        args = [pd.Series(cols[c][lo : lo + ARROW_BATCH], dtype=object) for c in FUSED_ARGS]
        t0 = time.perf_counter()
        out = fused_extract_udf.func(*args)
        busy += time.perf_counter() - t0
        statuses += out["status"].tolist()
    return busy, statuses


def _worker_main() -> None:
    """One worker process: pickled columns on stdin, pickled
    ``_fused_worker`` result on stdout."""
    cols = pickle.load(sys.stdin.buffer)
    pickle.dump(_fused_worker(cols), sys.stdout.buffer)


def fused_body_parallel(frame: pd.DataFrame, n: int | None = None) -> tuple[float, list]:
    """The fused body over all rows, split into ``n`` contiguous slices
    run in ``n`` worker processes.  Returns (slowest worker's busy
    seconds, statuses in row order)."""
    cols = fused_columns(frame)
    rows = len(cols["text"])
    n = max(1, min(n or nproc(), rows))
    step = -(-rows // n)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    cmd = [sys.executable, "-c", "from perfbench.layers import _worker_main; _worker_main()"]
    procs = [subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env) for _ in range(0, rows, step)]
    try:
        # each worker reads its whole slice before it starts the clock
        for p, lo in zip(procs, range(0, rows, step)):
            p.stdin.write(pickle.dumps({c: v[lo : lo + step] for c, v in cols.items()}))
            p.stdin.close()
        results = [pickle.loads(p.stdout.read()) for p in procs]
    except BaseException:
        for p in procs:
            p.kill()
        raise
    finally:
        for p in procs:
            p.stdin.close()
            p.stdout.close()
            p.wait()
    return max(r[0] for r in results), [s for r in results for s in r[1]]


# --- single-process kernel rates ------------------------------------------------


def input_branches(frame: pd.DataFrame) -> dict[str, float]:
    """Rows per input branch and the bytes that cross into Python."""
    rows = dict.fromkeys(("text", "html", "pdf", "none"), 0)
    bytes_in = 0
    for t, h in zip(frame["text"].tolist(), frame["html"].tolist()):
        if t:
            rows["text"] += 1
            bytes_in += len(t.encode("utf-8"))
        elif h is not None:
            rows["pdf" if h.startswith(b"%PDF") else "html"] += 1
            bytes_in += len(h)
        else:
            rows["none"] += 1
    return {"extract.bytes_in": bytes_in, **{f"extract.rows.{k}": v for k, v in rows.items()}}


def _rate(tracer, name: str, items: list, fn) -> float:
    with tracer.span(name):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        dt = time.perf_counter() - t0
    return len(items) / dt


def kernel_rates(frame: pd.DataFrame, golden: dict, tracer) -> dict[str, float]:
    """rows/s of each kernel on (a sample of) the workload's own rows.
    A workload without HTML or PDF rows runs those kernels on its
    document texts laid out by the generator's own wrappers
    (``wrap_text_as_page``, ``pdf_from_text``)."""
    from ocr_api_spark.kernels.boilerplate import extract_main_text
    from ocr_api_spark.kernels.common import clean_text
    from ocr_api_spark.operators.extract import extract_batch, match_batch
    from ocr_api_spark.sources.doctexts import wrap_text_as_page
    from ocr_api_spark.sources.pdftext import pdf_from_text, pdf_text

    sample = frame.head(KERNEL_SAMPLE)
    texts, htmls = sample["text"].tolist(), sample["html"].tolist()
    docs = [t for t in texts if t]
    web = [h for t, h in zip(texts, htmls) if not t and h is not None and not h.startswith(b"%PDF")]
    pdfs = [h for t, h in zip(texts, htmls) if not t and h is not None and h.startswith(b"%PDF")]
    web = web or [wrap_text_as_page(t.replace("\n", " ")).encode("utf-8") for t in docs]
    pdfs = pdfs or [pdf_from_text(t.replace("\n", " ")) for t in docs]

    out = {
        "kernels.boilerplate.rows_per_s": _rate(
            tracer, "kernels.boilerplate", web, lambda h: extract_main_text(h.decode("utf-8", errors="replace"))
        ),
        "sources.pdftext.rows_per_s": _rate(tracer, "sources.pdftext", pdfs, lambda p: clean_text(pdf_text(p))),
    }
    resolved = pd.Series([golden[u] for u in sample["url"]], dtype=object)
    doc_types = pd.Series(sample["doc_type"].tolist(), dtype=object)
    with tracer.span("extract.extract_batch"):
        t0 = time.perf_counter()
        ext = extract_batch(resolved, doc_types)
        out["extract.extract_batch.rows_per_s"] = len(sample) / (time.perf_counter() - t0)
    # the match input exactly as the fused body builds it
    recs = ext[["pan", "aadhaar", "bank", "financial"]].to_dict("records")
    matched = pd.Series([m if s == "Completed" else None for m, s in zip(recs, ext["status"].tolist())])
    claims = [pd.Series(sample[c].tolist(), dtype=object) for c in CLAIM_COLS[:9]]
    with tracer.span("extract.match_batch"):
        t0 = time.perf_counter()
        match_batch(doc_types, matched, *claims)
        out["extract.match_batch.rows_per_s"] = len(sample) / (time.perf_counter() - t0)
    return out


# --- the extraction ladder --------------------------------------------------------


@pandas_udf(FULL_SCHEMA)
def null_fused_udf(
    texts: pd.Series,
    htmls: pd.Series,
    doc_types: pd.Series,
    names: pd.Series,
    father_names: pd.Series,
    dobs: pd.Series,
    pans: pd.Series,
    adharnos: pd.Series,
    addresses: pd.Series,
    ifscs: pd.Series,
    micrs: pd.Series,
    accounts: pd.Series,
) -> pd.DataFrame:
    """The fused UDF's signature and return schema with no body: what
    the Arrow crossing alone costs."""
    n = len(texts)
    return pd.DataFrame({f: [None] * n for f in FULL_SCHEMA.fieldNames()}).assign(status="Completed")


def _null_plan(pages, claims, n_buckets: int, n_parts: int):
    """``extraction_plan``'s wiring with the null-body UDF in place of the
    fused one."""
    from ocr_api_spark.plans.pipeline import with_bucket, with_salt

    p = with_salt(with_bucket(pages, n_buckets), N_SALTS).repartitionByRange(n_parts, "bucket", "salt")
    if claims is not None:
        joined = p.join(F.broadcast(claims), "url", "left")
    else:
        joined = p.select("*", *[F.lit(None).cast("string").alias(c) for c in ["doc_type", *CLAIM_COLS]])
    html_when_needed = F.when(F.col("text").isNull() | (F.length("text") == 0), F.col("html"))
    udf_args = [F.col("text"), html_when_needed, *[F.col(c) for c in FUSED_ARGS[2:]]]
    return joined.select("url", "bucket", null_fused_udf(*udf_args).alias("extraction"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def extraction_ladder(spark, pages_path: str, claims_path: str, n_buckets: int, work: str, tracer) -> dict:
    """``LADDER_PASSES`` passes up the ladder; returns the median wall of
    each rung and the per-layer metrics derived from them."""
    import statistics

    from ocr_api_spark.plans import pipeline

    from perfbench.workloads import data_files

    n_parts = spark.sparkContext.defaultParallelism * 2
    pages = spark.read.parquet(pages_path)
    claims = spark.read.parquet(claims_path) if claims_path else None

    def plan():
        return pipeline.extraction_plan(pages, claims, n_buckets, N_SALTS, n_parts=n_parts)

    def rungs(k: int):
        write_dir = os.path.join(work, f"ladder{k}_write")
        run_dir = os.path.join(work, f"ladder{k}_run")
        return [
            ("scan", lambda: _noop(pages)),
            ("shuffle_join", lambda: _noop(plan().select("url", "warc_ts", "lang", "bucket", "salt", "doc_type"))),
            ("null_udf", lambda: _noop(_null_plan(pages, claims, n_buckets, n_parts))),
            ("udf", lambda: _noop(plan())),
            ("write", lambda: plan().write.mode("append").partitionBy("bucket").parquet(write_dir)),
            ("run_extraction", lambda: pipeline.run_extraction(spark, pages_path, claims_path, run_dir, n_buckets=n_buckets)),
        ]

    walls: dict[str, list[float]] = {}
    with tracer.span("ladder"):
        for k in range(LADDER_PASSES):
            for name, fn in rungs(k):
                with tracer.span(f"ladder.{name}", ladder_pass=k) as rung:
                    t0 = time.perf_counter()
                    fn()
                    walls.setdefault(name, []).append(time.perf_counter() - t0)
                if name == "run_extraction":
                    # the extracted-table write inside it (traced_pipeline's span)
                    inner = [s for s in tracer.spans[rung["id"] :] if s["name"] == "write.parquet"]
                    walls.setdefault("run_extraction.write", []).append(sum(s["end"] - s["start"] for s in inner))
    # a layer's self time in each pass, then the median over the passes
    passes = [{name: ws[k] for name, ws in walls.items()} for k in range(LADDER_PASSES)]
    per_pass = [
        {
            "pipeline.scan_s": w["scan"],
            "pipeline.shuffle_join_s": w["shuffle_join"] - w["scan"],
            "extract.crossing_s": w["null_udf"] - w["shuffle_join"],
            "extract.body_s": w["udf"] - w["null_udf"],
            "pipeline.write_s": w["write"] - w["udf"],
            # timed on its own: run_extraction minus the write inside it
            "pipeline.commit_s": w["run_extraction"] - w["run_extraction.write"],
        }
        for w in passes
    ]
    layers = {name: statistics.median(p[name] for p in per_pass) for name in per_pass[0]}
    negative = [(name, k, round(p[name], 4)) for k, p in enumerate(per_pass) for name in p if p[name] < 0]
    per_part = [r["count"] for r in plan().select(F.spark_partition_id().alias("p")).groupBy("p").count().collect()]
    files = data_files(os.path.join(work, "ladder0_write"))
    metrics = {
        **{k: v for k, v in layers.items() if k != "extract.body_s"},
        "extract.udf_s": statistics.median(w["udf"] - w["shuffle_join"] for w in passes),
        "pipeline.partition_rows_max_over_mean": max(per_part) * n_parts / sum(per_part),
        "pipeline.files_written": len(files),
        "pipeline.bytes_written": sum(os.path.getsize(f) for f in files),
    }
    return {"rungs_s": walls, "per_pass_s": per_pass, "negative": negative, "layers_s": layers, "metrics": metrics}
