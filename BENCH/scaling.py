"""Scaling evidence: the identical extraction job at two parallelism
levels (local[N] vs local[4N], default 4 vs 16) on the same input — the
sandbox stand-in for N vs 4N executors (north_rule).  Each level runs in
its own subprocess (fresh JVM, warmup pass first).  Input, shuffle
space, and sink live on tmpfs: the single shared disk of this VM is a
constant-bandwidth resource that a real cluster's object store does not
impose, and it would otherwise serialise both levels equally.

Scaling is only observable when extraction compute dominates fixed
codec/shuffle costs, so the input is production-shaped: web-dominant
(web_fraction 0.9) HEAVY pages (~1k words of HTML content each — real
Common-Crawl pages are tens of KB; the tiny doc fixtures would invert
the Python/JVM cost ratio).  A small seeded base is generated once and
replicated with distinct urls via Spark (per-row work identical).
The timed job (mode ``full``, the default) is ``run_extraction`` with
its defaults, the production dataflow: scan → placement shuffle on
(bucket, salt) → broadcast claims join → the fused Arrow stage, which
writes the bucket files → publish and commit.  Mode ``compute``
(``SPARK_GRAFT_SCALE_MODE=compute``) aggregates ``extraction_plan``'s
rows instead of writing them.

Shared memory is RAM, so nothing stays there after a run: each worker
gets its own directory under ``/dev/shm`` (Spark's ``spark.local.dir``,
the warm-up's and the timed job's output), removed once the worker has
stopped Spark and exited, and the replicated input is removed when
``main`` exits.  The seeded base input stays cached on disk.

Usage: python BENCH/scaling.py [n_base_rows] [replicate]
Env: SPARK_GRAFT_SCALE_N (default 4) — compares local[N] vs local[4N].
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from contextlib import contextmanager

SHM = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["SPARK_GRAFT_REPO"])
from ocr_api_spark.plans.pipeline import extraction_plan, run_extraction
from ocr_api_spark.plans.session import build_session

cpus, pages_path, claims_path, work = int(sys.argv[1]), sys.argv[2], sys.argv[3], sys.argv[4]
spark = build_session(app_name=f"scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf={"spark.local.dir": work + "/spark_local"})
spark.sparkContext.setLogLevel("ERROR")

mode = os.environ.get("SPARK_GRAFT_SCALE_MODE", "full")

def job(out):
    if mode != "compute":
        return run_extraction(spark, pages_path, claims_path, out, n_buckets=32, n_salts=8)["rows"]
    pages = spark.read.parquet(pages_path)
    claims = spark.read.parquet(claims_path)
    plan = extraction_plan(pages, claims, 32, 8, n_parts=cpus * 4)
    # consume every extracted row WITHOUT the parquet sink: isolates
    # UDF-compute scaling from the single-box codec/commit tail.
    # (sum(length(...)) forces the UDF column; a bare count() would
    # let Spark prune the extraction entirely.)
    from pyspark.sql import functions as F
    plan.agg(F.sum(F.length("extracted_text")), F.count("status")).collect()

# warmup on a slice: JVM stages + Python worker pool
if mode == "compute":
    pages = spark.read.parquet(pages_path).limit(20000)
    claims = spark.read.parquet(claims_path)
    extraction_plan(pages, claims, 32, 8, n_parts=cpus) \
        .write.mode("overwrite").partitionBy("bucket").parquet(work + "/warm")
else:  # one bucket of 32
    run_extraction(spark, pages_path, claims_path, work + "/warm", n_buckets=32, n_salts=8, buckets=[0])

def cpu_stat():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0  # total ticks, steal ticks

tot0, steal0 = cpu_stat()
t0 = time.time()
n = job(work + "/out")
wall = time.time() - t0
tot1, steal1 = cpu_stat()
steal_pct = round(100.0 * (steal1 - steal0) / max(tot1 - tot0, 1), 2)
if mode == "compute":
    n = spark.read.parquet(pages_path).count()
print(json.dumps({"cpus": cpus, "rows": n, "wall_s": round(wall, 3),
                  "docs_per_sec": round(n / wall, 2), "host_steal_pct": steal_pct}))
spark.stop()
"""

BUILD_INPUT = r"""
import os, sys
sys.path.insert(0, os.environ["SPARK_GRAFT_REPO"])
from pyspark.sql import functions as F
from ocr_api_spark.plans.session import build_session

base_pages, base_claims, out_dir, replicate = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = build_session(app_name="scaling-input", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
rep = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("rep")
pages = spark.read.parquet(base_pages).select("*", rep) \
    .withColumn("url", F.concat(F.col("url"), F.lit("/r"), F.col("rep"))).drop("rep")
claims = spark.read.parquet(base_claims).select("*", rep) \
    .withColumn("url", F.concat(F.col("url"), F.lit("/r"), F.col("rep"))).drop("rep")
pages.repartition(32).write.mode("overwrite").parquet(out_dir + "/pages.parquet")
claims.repartition(8).write.mode("overwrite").parquet(out_dir + "/claims.parquet")
print("rows:", spark.read.parquet(out_dir + "/pages.parquet").count())
spark.stop()
"""


@contextmanager
def shm_dir(prefix: str):
    """A new directory under ``/dev/shm``, removed on exit however the
    work in it ended (a worker that failed or was killed included)."""
    work = tempfile.mkdtemp(prefix=prefix, dir=SHM)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


@contextmanager
def replicated_input(repo: str, n_base: int, replicate: int):
    """The scaling input under ``/dev/shm``: a seeded base of ``n_base``
    heavy pages (cached on disk across runs), replicated ``replicate``
    times with distinct urls.  Yields its directory and removes it on
    exit."""
    sys.path.insert(0, repo)
    from ocr_api_spark.sources.pages import write_pages

    base = os.path.join(tempfile.gettempdir(), f"spark_graft_pages_scalebase_heavy_{n_base}")
    if not os.path.exists(os.path.join(base, "_DONE")):
        shutil.rmtree(base, ignore_errors=True)
        write_pages(base, n_rows=n_base, seed=42, web_fraction=0.9, heavy_pages=True)
        open(os.path.join(base, "_DONE"), "w").write("ok")

    with shm_dir(f"spark_graft_scaling_heavy_{n_base}x{replicate}_") as big:
        subprocess.run(
            [sys.executable, "-c", BUILD_INPUT, f"{base}/pages.parquet", f"{base}/claims.parquet", big, str(replicate)],
            env=dict(os.environ, SPARK_GRAFT_REPO=repo),
            check=True,
        )
        yield big


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    with replicated_input(repo, n_base, replicate) as big:
        run_levels(repo, big)


def run_levels(repo: str, big: str) -> None:
    env = dict(os.environ, SPARK_GRAFT_REPO=repo)
    n_small = int(os.environ.get("SPARK_GRAFT_SCALE_N", "4"))
    n_trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "3"))
    n_big = n_small * 4

    def run_level(cpus: int) -> dict:
        with shm_dir(f"scale_{cpus}_") as work:
            out = subprocess.run(
                [sys.executable, "-c", WORKER, str(cpus), f"{big}/pages.parquet", f"{big}/claims.parquet", work],
                capture_output=True,
                text=True,
                env=env,
                check=True,
            )
        line = out.stdout.strip().splitlines()[-1]
        print(line)
        return json.loads(line)

    # Interleave levels (N, 4N, N, 4N, ...) so slow drift in host load
    # hits both levels equally; report the per-level MEDIAN throughput.
    trials: dict[int, list[float]] = {n_small: [], n_big: []}
    rows = None
    for _ in range(n_trials):
        for cpus in (n_small, n_big):
            r = run_level(cpus)
            trials[cpus].append(r["docs_per_sec"])
            rows = r["rows"]

    def median(xs: list[float]) -> float:
        xs = sorted(xs)
        m = len(xs) // 2
        return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2

    ts = median(trials[n_small])
    tb = median(trials[n_big])
    eff = round(tb / (4 * ts), 3)
    summary = {
        "rows": rows,
        "n": n_small,
        "4n": n_big,
        "trials": n_trials,
        f"local{n_small}_docs_per_sec_median": ts,
        f"local{n_big}_docs_per_sec_median": tb,
        f"local{n_small}_all": trials[n_small],
        f"local{n_big}_all": trials[n_big],
        "scaling_efficiency_n_to_4n": eff,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
