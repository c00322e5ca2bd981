"""sf1.0 resume evidence (r6-verdict task): REAL mid-flight kill.

Orchestrates three subprocesses over the sf1.0-scale synthetic pages
corpus (120k pages, the bench generator):

1. ``ref``   — clean single-job ``run_extraction`` → reference output.
2. ``chunk`` — ``run_extraction_chunked`` (bucket-group commits); the
   parent watches ``_snapshots/`` for the first manifest (a commit)
   and SIGKILLs the whole process group after it lands — a real crash,
   not an injected exception: the in-flight group's job dies with the
   JVM.
3. ``chunk`` again — resumes from the manifests, completes the rest.

Evidence printed as one JSON line and recorded in BENCH/BASELINE.md:
- buckets committed at kill time, and that the resume run did NOT
  re-extract them (each bucket in exactly one run's manifest),
- final rows == reference rows, zero duplicate urls,
- per-url extracted_text byte-identical to the reference (md5 over the
  url-sorted concatenation).

Usage: python scripts/resume_evidence.py [cpus]
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BUCKETS = 64
PER_COMMIT = 16


def _session(cpus: int):
    from ocr_api_spark.plans.session import build_session

    s = build_session(
        app_name="resume-evidence", master=f"local[{cpus}]", shuffle_partitions=cpus * 2
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _corpus() -> tuple[str, str]:
    sys.path.insert(0, REPO)
    from bench import _synth_pages

    cache = _synth_pages(1.0)
    return os.path.join(cache, "pages.parquet"), os.path.join(cache, "claims.parquet")


def worker(mode: str, out: str, cpus: int) -> None:
    pages, claims = _corpus()
    spark = _session(cpus)
    from ocr_api_spark.plans.pipeline import run_extraction, run_extraction_chunked

    if mode == "ref":
        stats = run_extraction(spark, pages, claims, out, n_buckets=N_BUCKETS)
    else:
        stats = run_extraction_chunked(
            spark, pages, claims, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
        )
    print(json.dumps(stats), flush=True)
    spark.stop()


def _run_worker(mode: str, out: str, cpus: int, kill_after_first_commit: bool) -> dict:
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--worker", mode, out, str(cpus)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,  # own process group: the kill takes the JVM too
    )
    snapshots = os.path.join(out, "_snapshots")
    if kill_after_first_commit:
        while proc.poll() is None:
            if os.path.isdir(snapshots) and any(
                f.endswith(".json") for f in os.listdir(snapshots)
            ):
                time.sleep(1.0)  # let the commit finish, land inside the NEXT group
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    # the worker finished during the grace sleep — no
                    # mid-flight state to test (review r7)
                    proc.wait()
                    raise SystemExit(
                        "worker finished before the kill could land — corpus too small?"
                    )
                proc.wait()
                return {"killed": True}
            time.sleep(0.25)
        raise SystemExit("worker finished before the kill could land — corpus too small?")
    out_line = proc.communicate()[0].strip().splitlines()
    if proc.returncode != 0:
        raise SystemExit(f"worker {mode} failed rc={proc.returncode}")
    return json.loads(out_line[-1])


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    import hashlib
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="resume_evidence_")
    ref_out = os.path.join(base, "ref")
    out = os.path.join(base, "chunked")

    t0 = time.time()
    ref_stats = _run_worker("ref", ref_out, cpus, kill_after_first_commit=False)

    _run_worker("chunk", out, cpus, kill_after_first_commit=True)
    spark = _session(cpus)
    from ocr_api_spark.plans.pipeline import read_completed_buckets

    committed_at_kill = sorted(read_completed_buckets(spark, out))
    spark.stop()

    resume_stats = _run_worker("chunk", out, cpus, kill_after_first_commit=False)

    spark = _session(cpus)
    from pyspark.sql import functions as F

    got = spark.read.parquet(os.path.join(out, "extracted"))
    ref = spark.read.parquet(os.path.join(ref_out, "extracted"))

    def corpus_hash(df) -> str:
        h = (
            df.select(F.md5(F.concat_ws("\x00", "url", "extracted_text")).alias("h"))
            .orderBy("h")
            .agg(F.md5(F.concat_ws("", F.collect_list("h"))).alias("all"))
            .collect()[0]["all"]
        )
        return h

    n_got, n_ref = got.count(), ref.count()
    dup_urls = got.groupBy("url").count().where(F.col("count") > 1).count()
    h_got, h_ref = corpus_hash(got), corpus_hash(ref)
    spark.stop()

    # each bucket in one run's manifest == committed groups were not re-run
    from collections import Counter

    from ocr_api_spark.plans.sink import read_manifests

    commits = Counter(
        e["bucket"] for m in read_manifests(out) if not m.get("compaction") for e in m["buckets"]
    )
    re_extracted = sum(1 for n in commits.values() if n > 1)

    print(json.dumps({
        "metric": "sf1.0_resume_evidence",
        "rows_ref": n_ref,
        "rows_resumed": n_got,
        "buckets_committed_at_kill": len(committed_at_kill),
        "resume_rows": resume_stats.get("rows"),
        "resume_groups_skipped": resume_stats.get("groups_skipped"),
        "duplicate_urls": dup_urls,
        "buckets_with_multiple_commits": re_extracted,
        "byte_identical_to_single_job": h_got == h_ref,
        "corpus_md5": h_got,
        "ref_docs_per_sec": ref_stats.get("docs_per_sec"),
        "wall_s_total": round(time.time() - t0, 1),
    }))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
