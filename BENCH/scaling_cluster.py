"""Executor-level scaling evidence: ``local-cluster[N, c, mem]`` runs N
real executor JVMs (own heap, own Python worker pool, netty shuffle) —
the faithful sandbox stand-in for "N executors vs 4N executors"
(north_rule), unlike shared-JVM local[k] threads.  The package ships to
executors as the --py-files zip, exactly like the production launch.

Two topologies (r6):

- ``same-size`` (default, the honest north-rule proxy): executors of
  ONE core each, ``local-cluster[4,1,m]`` vs ``local-cluster[16,1,m]``.
  A real cluster comparison holds the executor size constant and
  varies the COUNT; the remote-shuffle fraction is then nearly matched
  between levels (1-1/N = 75% vs 1-1/4N = 93.75%).
- ``grow-exec`` (the r3-r5 shape, kept for trend continuity):
  ``local-cluster[1,4,m]`` vs ``local-cluster[4,4,m]``.  This compares
  a 100%-LOCAL-shuffle baseline against a 75%-remote one — a cost
  cliff that exists only between the two sandbox levels, not between
  N and 4N executors of a real cluster, so it UNDERSTATES real
  scaling (r5 measured 0.715 in this mode vs 0.843 for threads).

The timed job is ``run_extraction`` over 32 buckets and 8 salts with
``repartition`` set to the plan's partition count: the production
dataflow, placement shuffle included.  ``SPARK_GRAFT_PREBUCKETED=1``
times ``extraction_plan(n_parts=None)`` written through Spark's
``partitionBy`` writer instead, over a bucket-laid-out copy of the
input: ``run_extraction`` cannot skip its placement shuffle (ROADMAP
item 13), so only the plan shows the job without one.

The input is ``BENCH/scaling.py``'s, built under ``/dev/shm`` for the
run and removed when it exits, with the bucket-laid-out copy; each
worker's ``spark.local.dir`` is its own and removed after
``spark.stop()``.

Usage: python BENCH/scaling_cluster.py [n_base_rows] [replicate]
Env: SPARK_GRAFT_CLUSTER_MODE = same-size | grow-exec
     SPARK_GRAFT_SCALE_TRIALS (default 2)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# BENCH/scaling.py: this script's directory is first on sys.path
from scaling import replicated_input, shm_dir

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["SPARK_GRAFT_REPO"])
from pyspark.sql import SparkSession

n_exec, exec_cores, exec_mem = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
pages_path, claims_path, pyzip, work = sys.argv[4], sys.argv[5], sys.argv[6], sys.argv[7]
cores = n_exec * exec_cores
# Partitioning: by default both levels use the SAME partition counts,
# sized for the 4N level (data-derived partitioning, what a real
# N->4N migration keeps constant).  Per-level cores*k sizing
# (SPARK_GRAFT_FIXED_PARTS=0) gives the 4N level 4x the tasks over
# the same fixed input — 4x the per-task fixed cost (parquet writer
# lifecycles per bucket, codegen iterator setup) that a weak-scaled
# real corpus would amortize, an artifact of strong-scaling a small
# corpus.
fixed = os.environ.get("SPARK_GRAFT_FIXED_PARTS", "1") == "1"
top_cores = int(os.environ.get("SPARK_GRAFT_TOP_CORES", "16"))
shuffle_parts = (top_cores if fixed else cores) * 2
n_parts = (top_cores if fixed else cores) * 4
builder = (
    SparkSession.builder.appName(f"scaling-cluster-{n_exec}x{exec_cores}")
    .master(f"local-cluster[{n_exec},{exec_cores},{exec_mem}]")
    .config("spark.sql.shuffle.partitions", str(shuffle_parts))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    .config("spark.local.dir", work + "/spark_local")
    .config("spark.ui.enabled", "false")
    .config("spark.submit.pyFiles", pyzip)
)
# r7 A/B knobs for the executor-JVM-CPU attribution (judge task #2):
# on /dev/shm there is no disk or network to save, so shuffle lz4 is
# pure JVM CPU; netty io threads default to a pool sized per
# transport even on 1-core executors.
if os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "1") == "0":
    builder = (
        builder.config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.broadcast.compress", "false")
    )
_netty = os.environ.get("SPARK_GRAFT_NETTY_THREADS")
if _netty:
    builder = (
        builder.config("spark.shuffle.io.serverThreads", _netty)
        .config("spark.shuffle.io.clientThreads", _netty)
        .config("spark.rpc.io.threads", _netty)
    )
if os.environ.get("SPARK_GRAFT_PREBUCKETED", "0") == "1":
    # compute-heavy UDF stage over a pre-bucketed scan: split by small
    # byte quanta so the SCAN provides the parallelism the repartition
    # used to (the r1 trap: parquet splits are compressed-byte-sized,
    # a 4-task scan starves a 16-core UDF stage)
    builder = builder.config("spark.sql.files.maxPartitionBytes", "4m").config(
        "spark.sql.files.openCostInBytes", "1m"
    )
if os.environ.get("SPARK_GRAFT_APC", "1") == "1":
    # Cluster-faithful JVM sizing: every executor JVM on this ONE box
    # sees the host's 32 CPUs and ergonomically sizes its GC workers,
    # JIT compiler threads, and netty/RPC pools for all of them — at 16
    # executors that is hundreds of service threads a real cluster's
    # per-machine JVMs would never spawn.  ActiveProcessorCount pins
    # Runtime.availableProcessors to the executor's actual core share,
    # exactly what each JVM would see on its own machine.
    builder = builder.config(
        "spark.executor.extraJavaOptions", f"-XX:ActiveProcessorCount={exec_cores}"
    )
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile(pyzip)
from ocr_api_spark.plans.pipeline import extraction_plan, run_extraction

# Pre-bucketed mode (r7): the input is already laid out by url-hash
# bucket (the production Iceberg PARTITIONED BY (bucket) posture), so
# the plan's repartition is skipped — with_bucket re-derives the same
# value as a projection and the job has NO shuffle at all (claims stay
# broadcast).  Contrast with the default mode isolates how much of the
# executor-scaling loss is the one-box inter-JVM shuffle transport.
# It times extraction_plan through Spark's partitionBy writer, not
# run_extraction: run_extraction always places rows with a shuffle
# (ROADMAP item 13).
prebucketed = os.environ.get("SPARK_GRAFT_PREBUCKETED", "0") == "1"

def job(out, warm=False):
    if prebucketed:
        pages = spark.read.parquet(pages_path)
        plan = extraction_plan(pages.limit(20000) if warm else pages, spark.read.parquet(claims_path), 32, 8,
                               n_parts=None)
        plan.write.mode("overwrite").partitionBy("bucket").parquet(out + "/extracted")
    else:  # the warm-up runs one bucket of 32
        run_extraction(spark, pages_path, claims_path, out, n_buckets=32, n_salts=8, repartition=n_parts,
                       buckets=[0] if warm else None)

def cpu_stat():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0

def jvm_counters():
    # per-process counters (pid -> utime+stime jiffies, threads) for
    # executor JVMs AND pyspark worker/daemon processes.  The split is
    # the attribution evidence: python CPU = the task-path extraction
    # compute, JVM CPU = scan/shuffle/serde/write plus GC/JIT/netty
    # service work — the part that grows with executor COUNT.
    import glob
    out = {}
    for sdir in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(os.path.join(os.path.dirname(sdir), "cmdline"), "rb") as f:
                cmd = f.read()
            if b"CoarseGrainedExecutorBackend" in cmd:
                kind = "jvm"
            elif b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                kind = "py"
            else:
                continue
            parts = open(sdir).read().rsplit(") ", 1)[1].split()
            out[sdir.split("/")[2]] = {
                "kind": kind,
                "cpu_jiffies": int(parts[11]) + int(parts[12]),
                "threads": int(parts[17]),
            }
        except (OSError, IndexError, ValueError):
            continue
    return out

job(work + "/warm", warm=True)
jc0 = jvm_counters()
tot0, st0 = cpu_stat()
t0 = time.time()
job(work + "/out")
wall = time.time() - t0
tot1, st1 = cpu_stat()
jc1 = jvm_counters()
jvms = []
py_cpu = 0.0
for pid, c in sorted(jc1.items()):
    d = c["cpu_jiffies"] - jc0.get(pid, {}).get("cpu_jiffies", 0)
    if c["kind"] == "jvm":
        jvms.append({"jvm_cpu_s": round(d / 100.0, 1), "threads": c["threads"]})
    else:
        py_cpu += d / 100.0
n = spark.read.parquet(work + "/out/extracted").count()
print(json.dumps({"executors": n_exec, "exec_cores": exec_cores, "rows": n,
                  "wall_s": round(wall, 3),
                  "docs_per_sec": round(n / wall, 2),
                  "host_steal_pct": round(100.0 * (st1 - st0) / max(tot1 - tot0, 1), 2),
                  "python_cpu_s": round(py_cpu, 1),
                  "executor_jvms": jvms}))
spark.stop()
"""


def _md5_probe_work(n: int) -> None:
    import hashlib

    h = b"x" * 64
    for _ in range(n):
        h = hashlib.md5(h).digest()


def prebucket(pages: str, pre: str) -> str:
    """Stage the corpus once as bucket-partitioned parquet under ``pre``,
    spread over (bucket, salt) files so the scan alone provides the UDF
    stage's parallelism — the sandbox stand-in for an Iceberg table
    PARTITIONED BY (bucket).  Returns its pages path."""
    from pyspark.sql import SparkSession

    from ocr_api_spark.plans.pipeline import with_bucket, with_salt

    s = (
        SparkSession.builder.master("local[8]")
        .appName("prebucket-stage")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.local.dir", os.path.join(pre, "spark_local"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    staged = with_salt(with_bucket(s.read.parquet(pages), 32), 8)
    staged.repartition(64, "bucket", "salt").drop("salt").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(os.path.join(pre, "pages.parquet"))
    s.stop()
    return os.path.join(pre, "pages.parquet")


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from scripts.package import build_zip

    pyzip = build_zip(repo)
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    with replicated_input(repo, n_base, replicate) as big, shm_dir("spark_graft_prebucketed_") as pre:
        pages = f"{big}/pages.parquet"
        if os.environ.get("SPARK_GRAFT_PREBUCKETED", "0") == "1":
            pages = prebucket(pages, pre)
        run_levels(repo, pyzip, pages, f"{big}/claims.parquet")


def run_levels(repo: str, pyzip: str, pages: str, claims: str) -> None:
    env = dict(os.environ, SPARK_GRAFT_REPO=repo)
    mode = os.environ.get("SPARK_GRAFT_CLUSTER_MODE", "same-size")
    if mode == "same-size":
        # 1-core executors, 2 GB each: 4 vs 16 JVMs
        levels = [(4, 1, 2048), (16, 1, 2048)]
    else:
        levels = [(1, 4, 8192), (4, 4, 8192)]

    n_trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "2"))
    records: dict[int, list[dict]] = {levels[0][0]: [], levels[1][0]: []}
    rows = None

    def probe_16p() -> float:
        # ambient-burst gate (r6): this box suffers ~15-min stretches
        # where 16-way memory bandwidth halves WITHOUT visible steal
        # (python CPU/row inflated up to 4.2x in otherwise identical
        # trials).  A 2-second 16-process md5 probe detects them; a
        # trial pair only starts in a window whose probe is within 85%
        # of the session's best probe.
        import time as _t
        from multiprocessing import Pool

        with Pool(16) as p:
            t0 = _t.time()
            p.map(_md5_probe_work, [120_000] * 32)
            return 32 * 120_000 / (_t.time() - t0)

    import time as _time

    # seed the reference with the best of 3 probes: a single cold probe
    # taken inside a burst would anchor the gate low and wave every
    # dirty window through (review r6)
    probe_best = max(probe_16p() for _ in range(3))

    def gate() -> float:
        nonlocal probe_best
        probe_ratio = 0.0
        for attempt in range(10):
            pr = probe_16p()
            probe_best = max(probe_best, pr)
            probe_ratio = round(pr / probe_best, 3)
            if pr >= 0.85 * probe_best:
                break
            print(f"# ambient burst: probe {pr/1e6:.1f}M/s < 85% of best "
                  f"{probe_best/1e6:.1f}M/s — waiting", file=sys.stderr)
            _time.sleep(60)
        return probe_ratio

    def run_level(n_exec: int, c: int, mem: int, probe_ratio: float) -> dict | None:
        nonlocal rows
        with shm_dir(f"scale_cluster_{n_exec}_") as work:
            out = subprocess.run(
                [sys.executable, "-c", WORKER, str(n_exec), str(c), str(mem), pages, claims, pyzip, work],
                capture_output=True,
                text=True,
                env=env,
            )
        if out.returncode != 0:
            # a lost executor during an ambient burst kills one
            # trial — drop it, keep the session (median over the
            # surviving trials; the probe gate bounds how dirty
            # those can be)
            tail = [l for l in out.stderr.splitlines() if "Stage" not in l][-5:]
            print(f"# trial FAILED (n_exec={n_exec}): {' | '.join(tail)}",
                  file=sys.stderr)
            return None
        r = json.loads(out.stdout.strip().splitlines()[-1])
        # the probe ratio rides on the record: a pair that started
        # after the gate EXHAUSTED its retries (>10 min burst) is
        # identifiable in the artifact, not silently blended in
        r["probe_ratio"] = probe_ratio
        # per-trial dirtiness marker (r6 lesson): the START-gated probe
        # misses bursts that begin mid-trial, but python task CPU per
        # row is FLAT across levels in clean windows — its inflation vs
        # the session minimum is the reliable post-hoc signal
        r["py_cpu_per_krow"] = round(1000.0 * r["python_cpu_s"] / max(r["rows"], 1), 3)
        print(json.dumps(r))
        records[n_exec].append(r)
        rows = r["rows"]
        return r

    for _ in range(n_trials):
        probe_ratio = gate()
        for n_exec, c, mem in levels:
            run_level(n_exec, c, mem, probe_ratio)

    # post-hoc dirtiness retry (r7, judge task #1): flag any trial whose
    # python CPU/row exceeds 1.3x the session minimum — a burst that
    # started AFTER the gate probe — and re-run that level (bounded
    # budget).  Flags stay on the records either way; the median is
    # taken over clean trials when any exist.
    def mark_dirty() -> list[tuple[int, int, int]]:
        all_ppr = [r["py_cpu_per_krow"] for rs in records.values() for r in rs]
        if not all_ppr:
            return []
        floor = min(all_ppr)
        dirty_levels = []
        for (n_exec, c, mem) in levels:
            for r in records[n_exec]:
                r["py_dirty"] = r["py_cpu_per_krow"] > 1.3 * floor
            if records[n_exec] and all(r["py_dirty"] for r in records[n_exec]):
                dirty_levels.append((n_exec, c, mem))
        return dirty_levels

    retry_budget = int(os.environ.get("SPARK_GRAFT_DIRTY_RETRIES", "3"))
    while retry_budget > 0:
        need = mark_dirty()
        if not need:
            break
        for n_exec, c, mem in need:
            if retry_budget <= 0:
                break
            print(f"# all trials of n_exec={n_exec} py-dirty "
                  f"(pyCPU/row >1.3x session min) — retrying", file=sys.stderr)
            run_level(n_exec, c, mem, gate())
            retry_budget -= 1
    mark_dirty()

    def median(rs):
        clean = [r["docs_per_sec"] for r in rs if not r.get("py_dirty")]
        xs = clean or [r["docs_per_sec"] for r in rs]
        if not xs:
            raise SystemExit("every trial of one level failed — re-run")
        xs = sorted(xs)
        m = len(xs) // 2
        return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2

    (n_lo, c_lo, _), (n_hi, c_hi, _) = levels
    t_lo, t_hi = median(records[n_lo]), median(records[n_hi])
    print(
        json.dumps(
            {
                "mode": mode,
                "rows": rows,
                "executors_n": n_lo,
                "executors_4n": n_hi,
                "cores_each": c_lo,
                "n_docs_per_sec_median": t_lo,
                "4n_docs_per_sec_median": t_hi,
                "all_n": [r["docs_per_sec"] for r in records[n_lo]],
                "all_4n": [r["docs_per_sec"] for r in records[n_hi]],
                "py_dirty_n": [bool(r.get("py_dirty")) for r in records[n_lo]],
                "py_dirty_4n": [bool(r.get("py_dirty")) for r in records[n_hi]],
                "shuffle_compress": os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "1"),
                "netty_threads": os.environ.get("SPARK_GRAFT_NETTY_THREADS") or "default",
                "prebucketed": os.environ.get("SPARK_GRAFT_PREBUCKETED", "0"),
                "scaling_efficiency_n_to_4n": round(t_hi / (4 * t_lo), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
