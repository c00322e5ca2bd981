"""The benchmark's workloads: inputs, warm-up, the timed job, its output
check, and the workload's share of the traced run.

Every timed job is one closed-loop call into the program's public API
(``plans.pipeline.run_extraction`` / ``run_extraction_chunked``).
Pipeline calls go through the module attribute, so a traced run can
wrap them in spans.  The ``operators.dedup`` flow runs only in the
traced run, as layers.
"""

from __future__ import annotations

import logging
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_api_spark.operators import dedup
from ocr_api_spark.plans import pipeline
from perfbench import inputs, layers
from perfbench.spans import Tracer

DEDUP_DOCS = 5000  # the traced dedup stages' corpus, as large as sf0.1/documents.parquet
DEDUP_WARM_DOCS = 500  # the untraced flow before it, which compiles the plans


@dataclass
class JobResult:
    ok: bool
    out_rows: int
    out_bytes: int
    rows_completed_frac: float
    detail: str = ""


def data_files(path: str) -> list[str]:
    found = []
    for root, _dirs, files in os.walk(path):
        found += [os.path.join(root, f) for f in files if f.endswith(".parquet") and f[0] not in "._"]
    return found


def _bytes(path: str) -> int:
    """On-disk bytes of the committed parquet data files, footers included."""
    return sum(os.path.getsize(f) for f in data_files(path))


# --- the dedup flow ------------------------------------------------------------------


class DropReport(logging.Handler):
    """Collects ``lsh_candidate_pairs``' logged drop report."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.buckets_dropped = 0

    def emit(self, record: logging.LogRecord) -> None:
        if "dropped" in str(record.msg):
            self.buckets_dropped += int(record.args[1])


def dedup_flow(spark, docs_path: str, out: str, tracer) -> dict:
    """MinHash → capped LSH → Jaccard verify; the verified pairs are
    committed as parquet.  Stage boundaries materialize the cached
    signatures and pairs, so each stage is one span.  The caller
    ``release``s the cached frames."""
    docs = spark.read.parquet(docs_path).repartition(spark.sparkContext.defaultParallelism * 2)
    report = DropReport()
    log = logging.getLogger(dedup.__name__)
    log.addHandler(report)
    try:
        with tracer.span("dedup.minhash"):
            sigs = dedup.minhash_signatures_arr(docs, "text", n=inputs.SHINGLE_N, k=inputs.MINHASH_K).cache()
            n_sigs = sigs.count()
        with tracer.span("dedup.lsh"):
            pairs = dedup.lsh_candidate_pairs(sigs, inputs.BANDS, max_bucket_size=inputs.MAX_BUCKET).cache()
            n_pairs = pairs.count()
        with tracer.span("dedup.verify"):
            cand_ids = (
                pairs.select(F.col("id_a").alias("doc_id"))
                .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
                .distinct()
            )
            scored = dedup.ngram_jaccard_pairs(docs.join(cand_ids, "doc_id"), "text", inputs.SHINGLE_N)
            verified = scored.join(pairs, ["id_a", "id_b"]).where(F.col("jaccard") >= inputs.JACCARD_MIN)
            verified.write.parquet(out)
    finally:
        log.removeHandler(report)
    return {
        "signatures": n_sigs,
        "candidates": n_pairs,
        "buckets_dropped": report.buckets_dropped,
        "frames": (sigs, pairs, scored),
    }


def release(flow: dict) -> int:
    """Count the rows ``ngram_jaccard_pairs`` scored in a finished flow
    (an extra, untimed job), then unpersist its cached frames."""
    sigs, pairs, scored = flow["frames"]
    n_scored = scored.count()
    pairs.unpersist()
    sigs.unpersist()
    return n_scored


def dedup_metrics(tracer: Tracer, flow: dict, n_verified: int, n_scored: int) -> dict[str, float]:
    (minhash_s,), (lsh_s,), (verify_s,) = (tracer.durations(f"dedup.{s}") for s in ("minhash", "lsh", "verify"))
    return {
        "dedup.minhash_s": minhash_s,
        "dedup.lsh_s": lsh_s,
        "dedup.verify_s": verify_s,
        "dedup.candidate_pairs": flow["candidates"],
        "dedup.jaccard_pairs_scored": n_scored,
        "dedup.verified_dups": n_verified,
        "dedup.verify_yield": n_verified / max(flow["candidates"], 1),
        "dedup.lsh_buckets_dropped": flow["buckets_dropped"],
    }


# --- workloads -----------------------------------------------------------------------


class Extraction:
    """One ``run_extraction`` over a pages table (the north-star job)."""

    name = "crawl_mixed"
    rows = 4000
    n_buckets = 16

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.seed = seed
        self.n_rows = max(int(self.rows * scale), 40)
        self.dedup_docs = max(int(DEDUP_DOCS * scale), 200)

    def make_table(self, out_dir: str, n_rows: int, seed: int) -> inputs.PagesInput:
        return inputs.crawl_table(out_dir, n_rows, seed)

    def prepare(self) -> None:
        """Inputs and driver-side truth; runs before Spark starts.  The
        expected status per url comes from the fused kernel body run
        outside Spark, in N processes (which is also kernels.parallel_s)."""
        self.inp = self.make_table(os.path.join(self.work, "input"), self.n_rows, self.seed)
        self.parallel_s, statuses = layers.fused_body_parallel(self.inp.frame)
        self.expected = {
            u: (s, self.inp.golden[u] if s == "Completed" else None)
            for u, s in zip(self.inp.frame["url"].tolist(), statuses)
        }

    def warm(self, spark) -> None:
        """The warm-up job: one full ``run_extraction`` of the input.  The
        output stays (the work directory goes at the end of the run) and
        serves as ``Resume``'s uninterrupted reference."""
        self.warm_out = os.path.join(self.work, "warm")
        pipeline.run_extraction(
            spark, self.inp.pages_path, self.inp.claims_path, self.warm_out, n_buckets=self.n_buckets
        )

    def prepare_spark(self, spark) -> None:
        pass

    def job_dir(self, k: int) -> str:
        return os.path.join(self.work, f"job{k}")

    def stage(self, out: str) -> None:
        """Untimed, before each timed job."""

    def run(self, spark, out: str) -> int:
        """The timed job; returns the docs it processed."""
        stats = pipeline.run_extraction(
            spark, self.inp.pages_path, self.inp.claims_path, out, n_buckets=self.n_buckets
        )
        return stats["rows"]

    def check(self, out: str) -> JobResult:
        """Byte-identical extracted_text and the status per url against
        the driver-side truth; every url exactly once."""
        extracted = os.path.join(out, "extracted")
        t = pq.read_table(extracted, columns=["url", "status", "extracted_text"])
        urls = t["url"].to_pylist()
        got = dict(zip(urls, zip(t["status"].to_pylist(), t["extracted_text"].to_pylist())))
        ok, detail = True, ""
        if len(urls) != len(got) or len(got) != len(self.expected):
            ok, detail = False, f"{len(urls)} rows, {len(got)} distinct urls, {len(self.expected)} expected"
        else:
            bad = [u for u, v in self.expected.items() if got.get(u) != v]
            if bad:
                ok, detail = False, f"{len(bad)} urls differ from the truth, e.g. {bad[0]}"
        completed = sum(1 for s, _ in got.values() if s == "Completed")
        return JobResult(ok, len(urls), _bytes(extracted), completed / len(self.expected), detail)

    # traced run

    def dedup_layers(self, spark, tracer: Tracer) -> dict[str, float]:
        """The dedup stages over this seed's documents corpus, traced,
        after an untraced flow over a small corpus that compiles the plans."""
        sizes = (DEDUP_WARM_DOCS, self.dedup_docs)
        for k, (n_docs, t) in enumerate(zip(sizes, (Tracer(False, tracer.run_id), tracer))):
            corpus = inputs.near_dup_corpus(os.path.join(self.work, f"dedup_in{k}"), n_docs, self.seed)
            out = os.path.join(self.work, f"dedup_out{k}")
            flow = dedup_flow(spark, corpus.docs_path, out, t)
            n_scored = release(flow)
        return dedup_metrics(tracer, flow, _rows(out), n_scored)


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(path))


class Resume(Extraction):
    """``run_extraction_chunked`` resuming a half-committed output."""

    name = "resume_chunked"
    # enough rows that the ~11 KB footer of each of the 25-35 files the
    # output has (the range partitioner's cut points, which vary with the
    # seed) stays a small share of out_bytes_per_doc
    rows = 20000
    n_buckets = 16
    buckets_per_commit = 4

    def make_table(self, out_dir: str, n_rows: int, seed: int) -> inputs.PagesInput:
        return inputs.docs_table(out_dir, n_rows, seed)

    def prepare_spark(self, spark) -> None:
        """Untimed: the warm-up job is the uninterrupted reference,
        and a template output gets the first half of the bucket groups
        committed.  Each timed job resumes a fresh copy of the template."""
        self.reference = _sorted_table(os.path.join(self.warm_out, "extracted"))
        self.template = os.path.join(self.work, "template")
        pipeline.run_extraction(
            spark,
            self.inp.pages_path,
            self.inp.claims_path,
            self.template,
            n_buckets=self.n_buckets,
            buckets=list(range(self.n_buckets // 2)),
        )

    def stage(self, out: str) -> None:
        shutil.copytree(self.template, out)

    def run(self, spark, out: str) -> int:
        stats = pipeline.run_extraction_chunked(
            spark,
            self.inp.pages_path,
            self.inp.claims_path,
            out,
            n_buckets=self.n_buckets,
            buckets_per_commit=self.buckets_per_commit,
        )
        return stats["rows"]

    def check(self, out: str) -> JobResult:
        """As for one job, plus: the resumed output holds the same rows
        as one uninterrupted job."""
        res = super().check(out)
        if res.ok and not _sorted_table(os.path.join(out, "extracted")).equals(self.reference):
            res.ok, res.detail = False, "resumed rows differ from one uninterrupted job"
        return res


def _sorted_table(path: str):
    return pq.read_table(path).sort_by("url")


WORKLOADS = {w.name: w for w in (Extraction, Resume)}
