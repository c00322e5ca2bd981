"""Benchmark harness (driver contract).

Runs the headline jobs at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>, ...extras}

Headline = the full extraction pipeline (synthesized ``pages`` table
scaled to the sf, byte-identical contract verified on a sample) plus a
representative slice of the relational/dedup/similarity queries on the
driver testdata.  Set SPARK_GRAFT_SCALING=1 to also run the N-vs-4N
scaling evidence (subprocess per parallelism level; see
BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _pages_rows_for_sf(sf: float) -> int:
    # sf0.1 ≈ 12k pages (~35 MB of text+html) — enough to surface the
    # per-batch costs without dominating the driver's round budget
    return max(300, int(sf * 120_000))


def _synth_pages(sf: float, seed: int = 42) -> str:
    from ocr_api_spark.sources.pages import GEN_VERSION, write_pages

    cache = os.path.join(tempfile.gettempdir(), f"spark_graft_pages_v{GEN_VERSION}_sf{sf}_seed{seed}")
    marker = os.path.join(cache, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(cache, ignore_errors=True)
        write_pages(cache, n_rows=_pages_rows_for_sf(sf), seed=seed)
        open(marker, "w").write("ok")
    return cache


_STAT0 = None


def _cpu_jiffies() -> tuple[int, int] | None:
    """(total, steal) jiffies from /proc/stat — the ONE cpu-line reader
    both the run-level gate and the per-window kernel gate share."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (sum(vals), vals[7] if len(vals) > 7 else 0)
    except Exception:  # pragma: no cover
        return None


def _steal_pct() -> float | None:
    """host steal share since the bench started (shared-VM noise marker
    — throughput numbers from high-steal windows are not comparable)."""
    global _STAT0
    cur = _cpu_jiffies()
    if cur is None:  # pragma: no cover
        return None
    if _STAT0 is None:
        _STAT0 = cur
        return None
    dt, ds = cur[0] - _STAT0[0], cur[1] - _STAT0[1]
    return round(100.0 * ds / max(dt, 1), 2)


def timed_best(
    fn, trials: int = 3, max_attempts: int | None = None, between=None
) -> tuple[float, list[float], int]:
    """Fastest wall-time sample of ``fn``.  Each trial is gated on its
    OWN /proc/stat steal window (the r5 verdict: q1 read +97% on
    UNCHANGED code because one noisy draw was the record), and dirty
    windows are re-run (bounded) until ``trials`` are clean.  Steal
    only ever adds time, so the result is the minimum over every
    sample, clean or dirty: a slow cold trial that happened to be clean
    cannot outrank a faster dirty one.

    ``between`` (optional) runs after each sample OUTSIDE the timed
    window — inter-trial bookkeeping (cache clears, output deletion)
    must not pollute the measurement (review r6).

    Returns ``(best_sec, all_samples, clean_count)`` — samples are
    recorded in run order so the spread is on the record."""
    if max_attempts is None:
        max_attempts = trials * 2
    samples: list[float] = []
    clean = attempts = 0
    while clean < trials and attempts < max_attempts:
        attempts += 1
        s0 = _cpu_jiffies()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        s1 = _cpu_jiffies()
        if between is not None:
            between()
        samples.append(round(dt, 3))
        if s0 is not None and s1 is not None:
            jf, js = s1[0] - s0[0], s1[1] - s0[1]
            if jf > 0 and 100.0 * js / jf > 1.0:
                continue  # dirty window: not comparable, try again
        clean += 1
    return min(samples), samples, clean


def run_bench(sf_dir: str, cpus: int) -> dict:
    global _STAT0
    _STAT0 = None
    _steal_pct()  # arm the baseline
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from ocr_api_spark.plans.pipeline import run_extraction
    from ocr_api_spark.plans.session import build_session

    sf = _sf_from_dir(sf_dir)
    spark = build_session(app_name=f"bench-sf{sf}", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict = {}

    # --- headline: extraction pipeline over synthetic pages ---------------
    synth_dir = _synth_pages(sf)

    # warmup: spin up the JVM stages and the Python worker pool once so the
    # timed run measures steady-state throughput (cold start amortizes to
    # zero at production scale)
    warm_out = tempfile.mkdtemp(prefix="bench_warm_")
    run_extraction(
        spark,
        os.path.join(synth_dir, "pages.parquet"),
        os.path.join(synth_dir, "claims.parquet"),
        warm_out,
        n_buckets=max(cpus * 2, 16),
        n_salts=8,
    )
    shutil.rmtree(warm_out, ignore_errors=True)

    spreads: dict[str, list[float]] = {}
    state: dict = {}

    state["dirs"] = []

    def _extract_once():
        out = tempfile.mkdtemp(prefix="bench_out_")
        state["stats"] = run_extraction(
            spark,
            os.path.join(synth_dir, "pages.parquet"),
            os.path.join(synth_dir, "claims.parquet"),
            out,
            n_buckets=max(cpus * 2, 16),
            n_salts=8,
        )
        state["dirs"].append(out)
        state["out_dir"] = out

    def _drop_old_outputs():
        # prior trials' bucketed outputs: deleted OUTSIDE the timed
        # window (review r6: an in-window rmtree charged trial N with
        # trial N-1's cleanup)
        for d in state["dirs"][:-1]:
            shutil.rmtree(d, ignore_errors=True)
        state["dirs"] = state["dirs"][-1:]

    best, samples, clean = timed_best(
        _extract_once, trials=2, max_attempts=4, between=_drop_old_outputs
    )
    timings["extraction_pipeline"] = best
    spreads["extraction_pipeline"] = samples
    out_dir = state["out_dir"]
    stats = state["stats"]
    extras["extraction_rows"] = stats["rows"]
    # headline throughput from the BEST clean window, matching the
    # recorded extraction_pipeline time (stats["docs_per_sec"] is the
    # last run's, which may have been a dirty draw)
    extras["docs_per_sec"] = round(stats["rows"] / max(best, 1e-9))

    # byte-identical spot check on a sample (the full check lives in tests)
    got = (
        spark.read.parquet(os.path.join(out_dir, "extracted"))
        .select("url", "extracted_text")
        .limit(500)
        .toPandas()
        .set_index("url")["extracted_text"]
    )
    golden = (
        spark.read.parquet(os.path.join(synth_dir, "golden.parquet"))
        .where(F.col("url").isin([str(u) for u in got.index]))
        .toPandas()
        .set_index("url")["extracted_text"]
    )
    sample_ok = all(got[u] == golden[u] for u in golden.index)
    extras["byte_identical_sample"] = bool(sample_ok)
    shutil.rmtree(out_dir, ignore_errors=True)

    # --- representative query slice on driver testdata ---------------------
    bench_queries = [
        "q1_pricing_summary",
        "q3_top_revenue",
        "window_latest_order",
        "doc_token_stats",
        "doc_fingerprint_dedup",
        "doc_minhash_lsh",
        "emb_cosine_topk",
    ]
    # doc_token_stats was deregistered from queries() in round 5 (50-row
    # driver cap) but stays benched for timing-series continuity
    qs = {**entry.queries(), "doc_token_stats": entry._doc_token_stats}
    for name in bench_queries:
        best, samples, clean = timed_best(
            lambda n=name: qs[n](spark, sf_dir).collect(), trials=3, max_attempts=6
        )
        timings[name] = best
        spreads[name] = samples

    def _substring_stage(d):
        # exact-substring dedup (Lee et al. family) over the natural
        # corpus: rolling 20-token window hash -> corpus-wide count ->
        # maximal spans.  Timed as an extra (not in the headline, which
        # stays comparable to r1-r4); duplicate spans exist because the
        # corpus carries exact-duplicate texts
        from ocr_api_spark.operators.dedup import duplicated_substring_spans

        def _once():
            state["n_spans"] = duplicated_substring_spans(d, window=20).count()

        best, samples, clean = timed_best(_once, trials=2, max_attempts=4)
        spreads["substring_dedup"] = samples
        return best, state["n_spans"]

    # repartition BEFORE the compute-heavy signature projection: the
    # parquet scan partitions by compressed bytes, so one small file =
    # one task and the md5 work runs single-threaded (the round-1
    # measurement trap); a real corpus scan arrives pre-partitioned
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).repartition(cpus * 2)
    n_docs_dedup = docs.count()

    # --- dedup tier end-to-end: operators.dedup.near_duplicates (minhash →
    # banded LSH, capped → each candidate pair's exact jaccard) — the
    # near-dup path a training-data pipeline runs corpus-wide, timed as
    # one dataflow at this sf, its verified pairs written to a temp dir
    from ocr_api_spark.operators.dedup import near_duplicates

    dedup_out = tempfile.mkdtemp(prefix="bench_dedup_")

    def _dedup_flow(d):
        shutil.rmtree(dedup_out, ignore_errors=True)
        return near_duplicates(d, dedup_out)

    _dedup_flow(docs.limit(200))  # warm codegen/shuffle paths, same plan

    def _dedup_once():
        state["dedup"] = _dedup_flow(docs)

    # reported as extras, NOT summed into `value`: the headline total
    # stays comparable with rounds 1-2, which had no dedup stage
    best, samples, clean = timed_best(_dedup_once, trials=2, max_attempts=4)
    extras["dedup_pipeline_sec"] = best
    spreads["dedup_pipeline"] = samples
    shutil.rmtree(dedup_out, ignore_errors=True)
    extras["dedup_candidate_pairs"] = state["dedup"]["candidates"]
    extras["dedup_verified_dups"] = state["dedup"]["verified"]
    extras["dedup_docs_per_sec"] = round(n_docs_dedup / max(extras["dedup_pipeline_sec"], 1e-9))
    extras["substring_dedup_sec"], extras["substring_dup_spans"] = _substring_stage(docs)

    # stop Spark BEFORE the single-core kernel micros: the idle driver
    # JVM (GC/heartbeat/netty service threads) plus 32 reused Python
    # workers jitter single-core numpy timings — the kernels don't need
    # Spark, so they shouldn't share the box with it (r6: in-bench
    # pre-OCR read ~10% below the same kernel's standalone A/B)
    spark.stop()

    # single-core kernel micro-numbers: the scale-predictive figures
    # (e2e docs/sec at this sf is fixed-cost-dominated; these are not)
    import random

    import pandas as pd

    from ocr_api_spark.kernels.boilerplate import extract_main_text
    from ocr_api_spark.operators.extract import extract_batch
    from ocr_api_spark.sources.doctexts import FAMILY_DOC_TYPE, GENERATORS, web_page_html

    rng = random.Random(1)
    fams = list(GENERATORS)
    texts, dts = [], []
    for i in range(2000):
        f = fams[i % len(fams)]
        t, _ = GENERATORS[f](rng)
        texts.append(t)
        dts.append(FAMILY_DOC_TYPE[f])
    t0 = time.time()
    extract_batch(pd.Series(texts), pd.Series(dts))
    extras["kernel_extract_rows_per_sec_core"] = round(2000 / (time.time() - t0))
    htmls = [web_page_html(rng)[0] for _ in range(400)]
    t0 = time.time()
    for h in htmls:
        extract_main_text(h)
    extras["kernel_boilerplate_pages_per_sec_core"] = round(400 / (time.time() - t0))

    # image branch: the full passport pre-OCR chain (rotate + upscale +
    # CLAHE + unsharp) on a 640x480 page scan, single core
    import numpy as np

    from ocr_api_spark.kernels import image as im

    scan = np.random.default_rng(2).integers(0, 256, (480, 640), dtype=np.uint8)

    def _preocr_once():
        img = im.correct_rotation(scan, 90)
        img = im.upscale_image(img, 2.0)
        im.enhance_contrast_and_sharpen(np.repeat(img[..., None], 3, 2))

    # pure-numpy codec throughput on the same 640x480 scan, single core
    from ocr_api_spark.kernels.jpeg import decode_jpeg, encode_jpeg
    from ocr_api_spark.kernels.png import decode_png, encode_png

    import hashlib
    from collections import deque

    # Calibrated cleanliness probes (r6): ambient bursts on this box
    # inflate CPU time per unit work 2-4x WITHOUT showing as steal.
    # TWO probes because the bursts come in two flavors and each is
    # blind to one: an L1-resident md5 chain sees scheduler/CPU
    # contention but measured FLAT (2.4 M/s) through a memory-bandwidth
    # burst that slowed the 1.2 MP image kernels 2-3x, while a 16 MB
    # memcpy sees exactly that.  Each probe gates against its OWN
    # rolling reference — a window, NOT a permanent ratchet (one
    # transient turbo-fast reading must not void the gate for the
    # whole session), sized so an outlier ages out.
    _md5_hist: deque = deque(maxlen=50)
    _mem_hist: deque = deque(maxlen=50)
    _mem_buf = np.empty(2_000_000, dtype="float64")

    def _probe_rates() -> tuple[float, float]:
        h = b"x" * 64
        n = 30_000
        t0 = time.time()
        for _ in range(n):
            h = hashlib.md5(h).digest()
        md5_r = n / (time.time() - t0)
        t0 = time.time()
        for _ in range(4):
            _mem_buf.copy()
        mem_r = 4 / (time.time() - t0)
        _md5_hist.append(md5_r)
        _mem_hist.append(mem_r)
        return md5_r, mem_r

    def _probe_clean(rates: tuple[float, float]) -> bool:
        return rates[0] >= 0.85 * max(_md5_hist) and rates[1] >= 0.80 * max(_mem_hist)

    # seed with several probes: a single seed taken right after
    # spark.stop() (JVM shutdown threads still burning CPU) reads slow
    # and would wave early dirty groups through
    for _ in range(3):
        _probe_rates()

    # cross-run reference: a run that sits ENTIRELY inside a burst has
    # no quiet probe of its own to compare against (rolling maxima are
    # depressed together), so maxima persist across runs — the
    # run-level retry loop uses probe_health to detect an all-dirty
    # run and try again, and the artifact records the health either
    # way.  The reference decays 2% per run so a genuinely slower
    # machine re-calibrates instead of flagging forever.
    # review r7: the reference lives in the repo's BENCH dir (gitignored),
    # not a world-writable tempdir path another user/process could skew;
    # entries are schema-checked and expire after 7 days so a stale file
    # from a different machine image can't depress/inflate probe_health.
    ref_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    ref_path = os.path.join(ref_dir, ".probe_ref.json")
    try:
        with open(ref_path) as f:
            ref = json.load(f)
        if not (
            isinstance(ref, dict)
            and isinstance(ref.get("md5"), (int, float))
            and isinstance(ref.get("mem"), (int, float))
            and isinstance(ref.get("ts"), (int, float))
            and time.time() - ref["ts"] < 7 * 86400
        ):
            ref = {}
    except (OSError, ValueError):
        ref = {}

    def _finish_probe_health() -> float:
        m_md5, m_mem = max(_md5_hist), max(_mem_hist)
        health = min(
            m_md5 / max(ref.get("md5", m_md5), 1e-9),
            m_mem / max(ref.get("mem", m_mem), 1e-9),
            1.0,
        )
        new_ref = {
            "md5": max(ref.get("md5", 0.0) * 0.98, m_md5),
            "mem": max(ref.get("mem", 0.0) * 0.98, m_mem),
            "ts": time.time(),
        }
        try:
            os.makedirs(ref_dir, exist_ok=True)
            with open(ref_path, "w") as f:
                json.dump(new_ref, f)
        except OSError:  # pragma: no cover
            pass
        return round(health, 3)

    def best_rate(fn, reps: int, groups: int = 6) -> float:
        # peak single-core capability: best of `groups` CLEAN timed
        # groups.  One ambient scheduling blip must not masquerade as a
        # codec regression — and r4 showed the run-level steal average
        # hides it: the driver artifact recorded 7.2 jpeg frames/s/core
        # at 0.32% overall steal while quiet-window samples read
        # 9.6-11.8.  Each group is gated on its OWN /proc/stat steal
        # window AND on the calibrated md5 probe (≥85% of session
        # best) — the latter catches the no-steal membw bursts.
        best = best_any = 0.0
        clean = attempts = 0
        while clean < groups and attempts < groups * 3:
            attempts += 1
            p0 = _probe_rates()
            s0 = _cpu_jiffies()
            t0 = time.time()
            for _ in range(reps):
                fn()
            dt = time.time() - t0
            best_any = max(best_any, reps / dt)
            s1 = _cpu_jiffies()
            p1 = _probe_rates()
            if s0 is not None and s1 is not None:
                jf, js = s1[0] - s0[0], s1[1] - s0[1]
                if jf > 0 and 100.0 * js / jf > 1.0:
                    continue  # dirty window: measurement not comparable
            # probes BRACKET the group (review r6: an after-only probe
            # misses a burst confined to the group interval itself)
            if not (_probe_clean(p0) and _probe_clean(p1)):
                continue  # no-steal ambient burst: same verdict
            clean += 1
            best = max(best, reps / dt)
        # if EVERY window was dirty the fastest dirty sample is still the
        # least-wrong answer (a dirty window only ever slows the kernel)
        return round(best if clean else best_any, 1)

    # same steal-window gating as the codecs: the chain is single-core
    # numpy, equally exposed to ambient bursts (flagged metric, r4)
    _preocr_once()  # warm
    extras["kernel_preocr_images_per_sec_core"] = best_rate(_preocr_once, 2, groups=8)

    jb = encode_jpeg(scan, quality=85, progressive=True)
    decode_jpeg(jb)  # warm
    # the round-4 flagged metric gets more, shorter windows: ambient
    # bursts slow single-core decode ~1.5x WITHOUT showing up as steal,
    # so maximizing the number of independently-gated windows is the
    # only honest lever left (the kernel itself is at its Python floor)
    extras["kernel_jpeg_decode_per_sec_core"] = best_rate(lambda: decode_jpeg(jb), 3, groups=8)
    pb = encode_png(scan, filter_types=1)
    decode_png(pb)
    extras["kernel_png_decode_per_sec_core"] = best_rate(lambda: decode_png(pb), 5)
    # machine-relative cleanliness of THIS run's best probe windows vs
    # the persisted cross-run reference (1.0 = as quiet as the machine
    # has recently been; bursts can run hours without showing as steal)
    extras["probe_health"] = _finish_probe_health()

    total = round(sum(timings.values()), 3)
    result = {
        "host_steal_pct": _steal_pct(),
        "metric": "extraction+query wall time (headline: docs/sec extraction throughput)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # per-query run-order samples behind each best-of figure (the r5
        # verdict's ask: one noisy draw must not be the record, and the
        # spread itself is on the record)
        "query_spreads": spreads,
        "sf": sf,
        **extras,
    }
    return result


# shared-host steal above this share makes throughput samples
# non-comparable (BENCH/BASELINE.md methodology); retry instead of
# recording a dirty sample — round 3's 3.6%-steal artifact read as a
# phantom 1.6x regression
STEAL_THRESHOLD_PCT = 0.5
# ambient bursts on this host run in ~15-minute stretches (r4
# BENCH/BASELINE.md); 4 attempts with a 60 s back-off give the retry
# loop a real chance of outliving one, where 3 x 20 s could not
MAX_ATTEMPTS = 4
RETRY_SLEEP_SEC = 60


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    attempts: list[dict] = []
    for i in range(MAX_ATTEMPTS):
        result = run_bench(sf_dir, cpus)
        attempts.append(result)
        steal = result.get("host_steal_pct")
        health = result.get("probe_health", 1.0)
        if steal is not None and steal <= STEAL_THRESHOLD_PCT and health >= 0.85:
            break
        if i < MAX_ATTEMPTS - 1:
            print(
                f"# dirty window (steal {steal}%, probe_health {health}) — retrying",
                file=sys.stderr,
            )
            time.sleep(RETRY_SLEEP_SEC)  # let the ambient burst pass
    # report the cleanest sample (highest probe health, then lowest
    # steal); keep every attempt's markers on record
    best = min(
        attempts,
        key=lambda r: (
            -(r.get("probe_health") or 0.0),
            r.get("host_steal_pct") is None,
            r.get("host_steal_pct") or 0.0,
        ),
    )
    best["steal_attempts_pct"] = [r.get("host_steal_pct") for r in attempts]
    best["probe_health_attempts"] = [r.get("probe_health") for r in attempts]
    print(json.dumps(best))


if __name__ == "__main__":
    main()
