"""The repository benchmark.  Run from the repository root:

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 8 --trace 0

One process, one client, closed loop: jobs are submitted one at a time
to ``local[N]`` with N = nproc.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the per-layer measurements and prints the
per-layer metrics.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import the benchmark as the ``perfbench`` package

MIN_JOBS = 4  # in a traced run: untraced, traced, traced, untraced (the tracing overhead)
# The hypervisor lends this VM's CPUs to other tenants, for minutes at a
# time, and a job that runs meanwhile takes up to 1.9 times as long.  So a job's
# rate, from which docs_per_s is the median, is its docs over its wall
# net of the stolen wall the sampler measured (Sampler.stolen_wall), and
# setup_s is net of it too.
# The Spark driver JVM's heap cap, in place of the program's 8g default.  Under an
# 8g cap G1 keeps growing the heap from job to job by as much as its GC
# timing asks for (the same workload's per-job peak RSS climbed from 2.3
# to 2.8 GB in one run and to 3.9 GB in another), so peak_rss_mb would
# measure G1's sizing, not the program.  Under 2g the heap still grows
# with use, from where it starts, but stays inside a range the jobs fill.
DRIVER_MEM = "2g"
# The driver JVM compiles with C1 only.  With C2 as well, the JVM's CPU
# per resume_chunked job was still falling after 16 jobs (9.8 -> 4.6 s:
# C2 compiling Spark's driver code beside the job), so a job's speed
# depended on how far compilation had got; over five seeds docs_per_s
# spread 0.15-0.17.  Under C1 it is flat from the first job after the
# practice job, and docs_per_s spread 0.03-0.05 (README.md has the figures).
JIT = "-XX:TieredStopAtLevel=1"
# the spans inside a traced job that are timed on their own (trace.spanned_over_wall)
COVERING_SPANS = ("pipeline.read_completed_buckets", "write.parquet", "sink.write_snapshot")


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a tiny one)")
    return p.parse_args(argv)


def program_missing() -> str | None:
    """Why the program under test cannot be imported from this checkout."""
    try:
        import ocr_api_spark
        import pyspark  # noqa: F401
    except ImportError as e:
        return str(e)
    if not os.path.abspath(ocr_api_spark.__file__).startswith(ROOT + os.sep):
        return f"ocr_api_spark imported from {ocr_api_spark.__file__}, outside {ROOT}"
    return None


# --- Spark session ----------------------------------------------------------------


def start_session(n: int, work: str):
    """The program's own session (``plans.session.build_session``) on
    ``local[n]``, with the driver heap set through the program's own
    ``SPARK_GRAFT_DRIVER_MEM`` (see DRIVER_MEM) and the JVM's JIT set to
    C1 (see JIT).  Otherwise only where Spark and the JVM write files is
    changed, so that they stay inside the work directory, and Spark's
    console progress bar is off."""
    from ocr_api_spark.plans.session import build_session

    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    spark = build_session(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no progress bar on standard error, where the run's phase clock goes
            "spark.ui.showConsoleProgress": "false",
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"{JIT} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every process
    under it (the Python workers) are gone."""
    import signal

    from pyspark import SparkContext

    from perfbench.procstat import ProcTree

    spawned = [pid for pid in ProcTree().members() if pid != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while True:
        alive = [pid for pid in spawned if os.path.exists(f"/proc/{pid}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


# --- timed jobs ---------------------------------------------------------------------


@dataclass
class Job:
    traced: bool
    wall: float = 0.0
    docs: int = 0
    ok: bool = False
    error: str = ""
    cpu: dict = field(default_factory=dict)
    steal: float = 0.0
    stolen_wall: float = 0.0
    peak_total: int = 0
    peak: dict = field(default_factory=dict)
    out_rows: int = 0
    out_bytes: int = 0
    rows_completed_frac: float = 0.0

    @property
    def rate(self) -> float:
        """docs per second of wall net of the stolen wall"""
        return self.docs / (self.wall - self.stolen_wall)


@contextmanager
def traced_pipeline(tracer, job: int | None):
    """For the duration of the block, wrap in spans the calls that
    ``plans.pipeline.run_extraction`` makes through public names:
    ``run_extraction`` and ``read_completed_buckets`` themselves (module
    attributes; ``run_extraction_chunked`` calls both through the
    module), every ``DataFrameWriter.parquet`` write, and the commit
    record ``plans.sink.write_snapshot``."""
    from pyspark.sql.readwriter import DataFrameWriter

    from ocr_api_spark.plans import pipeline, sink

    if not tracer.enabled:
        yield
        return
    orig_run, orig_read = pipeline.run_extraction, pipeline.read_completed_buckets
    orig_parquet, orig_snapshot = DataFrameWriter.parquet, sink.write_snapshot

    def run_extraction(*a, **kw):
        with tracer.span("pipeline.run_extraction", job=job) as rec:
            stats = orig_run(*a, **kw)
            rec["buckets_skipped"] = stats["buckets_skipped"]
            return stats

    def wrap(name, fn):
        def wrapped(*a, **kw):
            with tracer.span(name, job=job):
                return fn(*a, **kw)

        return wrapped

    pipeline.run_extraction = run_extraction
    pipeline.read_completed_buckets = wrap("pipeline.read_completed_buckets", orig_read)
    DataFrameWriter.parquet = wrap("write.parquet", orig_parquet)
    sink.write_snapshot = wrap("sink.write_snapshot", orig_snapshot)
    try:
        yield
    finally:
        pipeline.run_extraction, pipeline.read_completed_buckets = orig_run, orig_read
        DataFrameWriter.parquet, sink.write_snapshot = orig_parquet, orig_snapshot


def timed_jobs(spark, wl, seconds: float, tracer, trace: bool) -> list[Job]:
    from perfbench.procstat import ProcTree, Sampler
    from perfbench.spans import Tracer

    off = Tracer(False, tracer.run_id)
    tree = ProcTree()
    jobs: list[Job] = []
    spent = 0.0
    while len(jobs) < MIN_JOBS or spent < seconds:
        k = len(jobs)
        job = Job(traced=trace and k % 4 in (1, 2))
        t = tracer if job.traced else off
        out = wl.job_dir(k)
        wl.stage(out)
        with traced_pipeline(t, k), t.span("job", job=k), Sampler(tree) as sampler:
            t0 = time.perf_counter()
            try:
                job.docs = wl.run(spark, out)
            except Exception as e:  # noqa: BLE001 - a failed job is counted, not fatal
                job.error = f"{type(e).__name__}: {e}"
            job.wall = time.perf_counter() - t0
        spent += job.wall
        job.cpu, job.steal, job.stolen_wall = sampler.cpu, sampler.steal, sampler.stolen_wall
        job.peak_total, job.peak = sampler.peak_total, sampler.peak
        if not job.error:
            try:
                res = wl.check(out)
            except Exception as e:  # noqa: BLE001 - an unreadable output fails the check
                job.error = f"output check raised {type(e).__name__}: {e}"
            else:
                job.ok, job.error = res.ok, res.detail
                job.out_rows, job.out_bytes = res.out_rows, res.out_bytes
                job.rows_completed_frac = res.rows_completed_frac
        if job.error:
            print(f"job {k} failed: {job.error}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        jobs.append(job)
    return jobs


# --- metrics ------------------------------------------------------------------------


def _med(xs) -> float:
    return statistics.median(list(xs))


def completed(jobs: list[Job]) -> list[Job]:
    return [j for j in jobs if j.docs and j.out_rows]


def end_to_end(jobs: list[Job], setup_s: float) -> dict[str, float]:
    done = completed(jobs)
    return {
        "docs_per_s": _med(j.rate for j in done),
        "cpu_s_per_kdoc": _med(sum(j.cpu.values()) * 1000 / j.docs for j in done),
        "peak_rss_mb": _med(j.peak_total / 2**20 for j in done),
        "out_bytes_per_doc": _med(j.out_bytes / j.out_rows for j in done),
        "setup_s": setup_s,
        "rows_completed_frac": _med(j.rows_completed_frac for j in done),
        "runs_ok_frac": sum(j.ok for j in jobs) / len(jobs),
    }


def per_layer(spark, wl, jobs: list[Job], tracer, work: str) -> tuple[dict, dict]:
    """Layer metrics from the traced run (jobs are already done)."""
    from perfbench import layers

    traced = completed([j for j in jobs if j.traced])
    plain = completed([j for j in jobs if not j.traced])
    m: dict[str, float] = {}
    for role in ("jvm", "python"):
        m[f"proc.cpu_{role}_s"] = _med(j.cpu[role] for j in traced)
        m[f"proc.rss_{role}_mb"] = _med(j.peak[role] / 2**20 for j in traced)

    inp = wl.inp
    m.update(layers.input_branches(inp.frame))
    with traced_pipeline(tracer, None):
        m.update(layers.kernel_rates(inp.frame, inp.golden, tracer))
        m["kernels.parallel_s"] = wl.parallel_s
        ladder = layers.extraction_ladder(spark, inp.pages_path, inp.claims_path, wl.n_buckets, work, tracer)
        m.update(ladder["metrics"])
        m.update(wl.dedup_layers(spark, tracer))

    # groups: the run_extraction calls inside the traced jobs
    job_runs = [s for s in tracer.spans if s["name"] == "pipeline.run_extraction" and s["job"] is not None]
    per_job: dict = {}
    for s in job_runs:
        per_job[s["job"]] = per_job.get(s["job"], 0) + 1
    m["pipeline.resume_read_s"] = _med(tracer.durations("pipeline.read_completed_buckets"))
    m["pipeline.buckets_skipped"] = job_runs[0]["buckets_skipped"]
    m["pipeline.groups_run"] = _med(per_job.values())
    m["pipeline.group_s_p50"] = _med(s["end"] - s["start"] for s in job_runs)

    untraced_rate = _med(j.rate for j in plain)
    traced_rate = _med(j.rate for j in traced)
    m["trace.overhead_frac"] = 1 - traced_rate / untraced_rate
    layer_sum = sum(ladder["layers_s"].values())
    untraced_wall = _med(j.wall for j in plain)
    m["trace.layer_sum_over_wall"] = layer_sum / untraced_wall
    job_spans = [s for s in tracer.spans if s["name"] == "job"]
    m["trace.spanned_over_wall"] = _med(spanned(tracer, s, COVERING_SPANS) for s in job_spans)
    for name, k, v in ladder["negative"]:
        print(f"negative self time: {name} {v} s in ladder pass {k}", file=sys.stderr)
    report = {
        "ladder_rungs_s": ladder["rungs_s"],
        "ladder_self_s_per_pass": ladder["per_pass_s"],
        "ladder_negative_self_s": ladder["negative"],
        "layers_self_s": ladder["layers_s"],
        "layer_sum_s": layer_sum,
        "untraced_job_wall_s": untraced_wall,
        "overhead": {
            "untraced_docs_per_s": untraced_rate,
            "untraced_jobs": len(plain),
            "traced_docs_per_s": traced_rate,
            "traced_jobs": len(traced),
        },
    }
    return m, report


def spanned(tracer, outer: dict, names: tuple[str, ...]) -> float:
    """Share of the traced job span ``outer`` covered by the spans named
    ``names`` that ran inside it.  Each of them is timed on its own, so
    unlike the ladder this share can fall short of 1: what no span covers
    is work the benchmark does not attribute to a layer."""
    inside = [
        s for s in tracer.spans
        if s["name"] in names and s["end"] is not None and outer["start"] <= s["start"] and s["end"] <= outer["end"]
    ]
    return sum(s["end"] - s["start"] for s in inside) / (outer["end"] - outer["start"])


# --- main ---------------------------------------------------------------------------


def run(args: argparse.Namespace, work: str) -> int:
    from perfbench import layers, workloads
    from perfbench.procstat import ProcTree, Sampler
    from perfbench.spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = args.trace == 1
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.scale)
    tracer = Tracer(trace, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    n = layers.nproc()
    t_start = time.perf_counter()

    def phase(name: str) -> None:
        print(f"[{time.perf_counter() - t_start:7.2f} s] {name}", file=sys.stderr, flush=True)

    wl.prepare()
    phase("inputs ready")

    spark = None
    try:
        # set-up, net of the stolen wall as a job's rate is
        with Sampler(ProcTree()) as setup_sampler:
            t0 = time.perf_counter()
            spark = start_session(n, work)
            session_s = time.perf_counter() - t0
            wl.warm(spark)
            setup_wall = time.perf_counter() - t0
        setup_s = setup_wall - setup_sampler.stolen_wall
        phase("set up")
        wl.prepare_spark(spark)
        # one untimed job of the timed kind: the first one in a run reads
        # slower than the next ones (new plan shapes to compile)
        practice = wl.job_dir(-1)
        wl.stage(practice)
        wl.run(spark, practice)
        shutil.rmtree(practice, ignore_errors=True)
        phase("practice job done")
        jobs = timed_jobs(spark, wl, args.seconds, tracer, trace)
        phase("timed jobs done")
        if not completed(jobs):
            print("no timed job completed", file=sys.stderr)
            return 3
        if trace:
            metrics, report = per_layer(spark, wl, jobs, tracer, work)
        else:
            metrics, report = end_to_end(jobs, setup_s), {}
    finally:
        shutdown(spark)
        phase("stopped")

    print(
        f"{args.workload} seed={args.seed} local[{n}]: {len(jobs)} jobs, {len(completed(jobs))} completed; "
        f"in order: wall {[round(j.wall, 3) for j in jobs]} s; cpu stolen by other tenants "
        f"{[round(j.steal, 2) for j in jobs]} s, stolen wall {[round(j.stolen_wall, 3) for j in jobs]} s; "
        f"docs/s net of it {[round(j.rate, 1) for j in jobs]}; peak RSS {[round(j.peak_total / 2**20) for j in jobs]} MB "
        f"(jvm {[round(j.peak['jvm'] / 2**20) for j in jobs]}, python {[round(j.peak['python'] / 2**20) for j in jobs]}); "
        f"cpu jvm {[round(j.cpu.get('jvm', 0), 2) for j in jobs]} python {[round(j.cpu.get('python', 0), 2) for j in jobs]} s; "
        f"setup {setup_wall:.3f} s (session {session_s:.3f} s), stolen wall {setup_sampler.stolen_wall:.3f} s"
    )
    if trace:
        o = report["overhead"]
        print(
            f"tracing overhead {args.workload}: untraced {o['untraced_docs_per_s']:.1f} docs/s "
            f"({o['untraced_jobs']} jobs), traced {o['traced_docs_per_s']:.1f} docs/s "
            f"({o['traced_jobs']} jobs), overhead {metrics['trace.overhead_frac']:+.2%}"
        )
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{tracer.run_id}.json")
        tracer.dump(path, {"metrics": metrics, **report})
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    units = declared_metrics(trace)
    if set(units) != set(metrics):
        print(f"measured metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(units)}", file=sys.stderr)
        return 4
    failed = sum(not j.ok for j in jobs)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(jobs),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: the program is not in this checkout ({missing})", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every temp file of this process, the JVM and the Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
