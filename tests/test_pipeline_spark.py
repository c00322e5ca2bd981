"""End-to-end Spark pipeline tests.

The correctness gate of the whole build: the pipeline's
``extracted_text`` must be byte-identical per url to the golden table
(document rows: the OCR text verbatim; web rows: the kernel boilerplate
output), and a partially-completed run must resume without duplicates.
"""

from __future__ import annotations

import shutil

import pytest

from ocr_api_spark.sources.pages import write_pages

spark = None


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    s = build_session(app_name="pipeline-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module")
def synth(tmp_path_factory):
    d = tmp_path_factory.mktemp("synth")
    paths = write_pages(str(d), n_rows=300, seed=42)
    return paths


def test_extracted_text_byte_identical(session, synth, tmp_path):
    from ocr_api_spark.plans.pipeline import run_extraction

    out = str(tmp_path / "out")
    stats = run_extraction(session, synth["pages"], synth["claims"], out, n_buckets=16, n_salts=4)
    assert stats["rows"] == 300

    got = (
        session.read.parquet(out + "/extracted")
        .select("url", "extracted_text")
        .toPandas()
        .set_index("url")["extracted_text"]
    )
    golden = (
        session.read.parquet(synth["golden"]).select("url", "extracted_text").toPandas().set_index("url")[
            "extracted_text"
        ]
    )
    assert len(got) == len(golden)
    mismatches = [u for u in golden.index if got[u].encode() != golden[u].encode()]
    assert not mismatches, f"{len(mismatches)} urls differ, e.g. {mismatches[:3]}"


def test_match_scores_present_for_claimed_rows(session, synth, tmp_path):
    from ocr_api_spark.plans.pipeline import run_extraction

    out = str(tmp_path / "out")
    run_extraction(session, synth["pages"], synth["claims"], out, n_buckets=16, n_salts=4)
    df = session.read.parquet(out + "/extracted")
    pan_rows = df.filter("doc_type = 'pan' and match.average_match_percentage is not null")
    assert pan_rows.count() > 0
    # claims carry the ground truth, so most PAN matches should be high
    high = pan_rows.filter("match.average_match_percentage >= 90").count()
    assert high > 0


def test_resume_skips_completed_buckets_no_duplicates(session, synth, tmp_path):
    from pyspark.sql import functions as F

    from ocr_api_spark.plans.pipeline import run_extraction, with_bucket

    out = str(tmp_path / "out")
    pages = session.read.parquet(synth["pages"])

    # first run: only half the buckets (simulates a mid-flight kill after
    # some buckets committed)
    partial_dir = str(tmp_path / "partial_pages")
    with_bucket(pages, 16).filter(F.col("bucket") < 8).drop("bucket").write.parquet(partial_dir)
    run_extraction(session, partial_dir, synth["claims"], out, n_buckets=16, n_salts=4)
    first = session.read.parquet(out + "/extracted").count()
    assert first > 0

    # second run over the FULL input resumes: completed buckets skipped
    stats = run_extraction(session, synth["pages"], synth["claims"], out, n_buckets=16, n_salts=4)
    assert stats["buckets_skipped"] > 0

    result = session.read.parquet(out + "/extracted")
    assert result.count() == 300
    dupes = result.groupBy("url").count().filter("count > 1").count()
    assert dupes == 0


def test_failed_rows_do_not_kill_partition(session, tmp_path):
    import pandas as pd

    from ocr_api_spark.plans.pipeline import run_extraction

    pages = pd.DataFrame(
        [
            {"url": "u1", "warc_ts": pd.Timestamp("2024-01-01"), "html": None, "text": "NAME: X\nno address", "lang": "en"},
            {"url": "u2", "warc_ts": pd.Timestamp("2024-01-01"), "html": None, "text": "DRIVING LICENCE\nnothing", "lang": "en"},
        ]
    )
    claims = pd.DataFrame(
        [
            {
                "url": u,
                "doc_type": "dl",
                **{c: "" for c in ["name", "father_name", "dob", "pan", "adharno", "address", "ifsc", "micr", "account_number"]},
                "company": "c",
                "sources": "s",
                "req_id": "r",
            }
            for u in ["u1", "u2"]
        ]
    )
    p = str(tmp_path / "pages.parquet")
    c = str(tmp_path / "claims.parquet")
    pages.to_parquet(p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    claims.to_parquet(c, index=False)
    out = str(tmp_path / "out")
    stats = run_extraction(session, p, c, out, n_buckets=4, n_salts=2)
    assert stats["rows"] == 2
    df = session.read.parquet(out + "/extracted").toPandas().set_index("url")
    # address-less DL text raises IndexError in the kernel (reference
    # parity) -> per-row Failed, the other row still completes
    assert (df["status"] == "Failed").any()


def test_salt_affects_placement_not_content(session, synth, tmp_path):
    """north_rule: salting must never change per-url output bytes."""
    from ocr_api_spark.plans.pipeline import run_extraction

    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    run_extraction(session, synth["pages"], synth["claims"], out_a, n_buckets=16, n_salts=2)
    run_extraction(session, synth["pages"], synth["claims"], out_b, n_buckets=16, n_salts=13)
    a = session.read.parquet(out_a + "/extracted").select("url", "extracted_text").toPandas().set_index("url")["extracted_text"]
    b = session.read.parquet(out_b + "/extracted").select("url", "extracted_text").toPandas().set_index("url")["extracted_text"]
    assert len(a) == len(b)
    assert all(a[u] == b[u] for u in a.index)


def test_dedupe_stage(session, tmp_path):
    import pandas as pd

    from ocr_api_spark.plans.pipeline import dedupe_pages

    pages = pd.DataFrame(
        [
            {"url": "u1", "warc_ts": pd.Timestamp("2024-01-01"), "html": None, "text": "SAME TEXT", "lang": "en"},
            {"url": "u2", "warc_ts": pd.Timestamp("2024-01-01"), "html": None, "text": "SAME TEXT", "lang": "en"},
            {"url": "u3", "warc_ts": pd.Timestamp("2024-01-01"), "html": None, "text": "OTHER", "lang": "en"},
        ]
    )
    p = str(tmp_path / "pages.parquet")
    pages.to_parquet(p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    out = dedupe_pages(session.read.parquet(p)).select("url").toPandas()
    assert sorted(out["url"]) == ["u1", "u3"]  # min-url keeper, deterministic


def test_unicode_byte_fidelity_through_arrow(session, tmp_path):
    """Multi-byte content must survive HTML parse + Arrow round trip +
    parquet byte-identically."""
    import pandas as pd

    from ocr_api_spark.kernels.boilerplate import extract_main_text
    from ocr_api_spark.plans.pipeline import run_extraction

    para = (
        "Ceci est un paragraphe assez long en français avec des accents é è ç "
        "和一些中文字符混合在一起 plus emoji 🚀 and enough english words to pass "
        "the classifier threshold for a content block in the page."
    )
    html = f"<html><body><nav><a href='/'>home</a></nav><article><p>{para}</p><p>{para}</p></article></body></html>"
    golden = extract_main_text(html)
    assert "français" in golden and "中文字符" in golden

    pages = pd.DataFrame(
        [{"url": "u1", "warc_ts": pd.Timestamp("2024-01-01"), "html": html.encode("utf-8"), "text": "", "lang": "fr"}]
    )
    p = str(tmp_path / "pages.parquet")
    pages.to_parquet(p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    out = str(tmp_path / "out")
    run_extraction(session, p, None, out, n_buckets=4, n_salts=2)
    got = session.read.parquet(out + "/extracted").select("extracted_text").collect()[0][0]
    assert got.encode("utf-8") == golden.encode("utf-8")


def test_bucket_stats_footer_and_mixed_statuses(tmp_path):
    """Metrics path: row counts come from parquet footers; failed counts
    from row-group statistics (min==max short-circuit) with a column
    read only for mixed row groups."""
    import pandas as pd

    from ocr_api_spark.plans.pipeline import _bucket_stats, _data_files

    d = tmp_path / "out"
    (d / "bucket=3").mkdir(parents=True)
    (d / "bucket=7").mkdir(parents=True)
    pd.DataFrame({"status": ["Completed"] * 10 + ["Failed"] * 4, "x": range(14)}).to_parquet(
        d / "bucket=3" / "part-0.parquet", index=False
    )
    pd.DataFrame({"status": ["Failed"] * 5, "x": range(5)}).to_parquet(
        d / "bucket=3" / "part-1.parquet", index=False
    )
    pd.DataFrame({"status": ["Completed"] * 7, "x": range(7)}).to_parquet(
        d / "bucket=7" / "part-0.parquet", index=False
    )
    stats = _bucket_stats(_data_files(str(d)), 1.0)
    assert stats == [(3, 19, 9, 1.0), (7, 7, 0, 1.0)]


def test_chunked_run_kill_between_commits_resumes(session, synth, tmp_path, monkeypatch):
    """run_extraction_chunked commits lineage per bucket group, so a
    crash between commits loses at most the two in-flight groups: a
    re-run completes the rest without re-extracting committed buckets,
    and the final output equals a clean single-job run byte-for-byte."""
    from ocr_api_spark.plans import pipeline

    ref_out = str(tmp_path / "ref")
    pipeline.run_extraction(
        session, synth["pages"], synth["claims"], ref_out, n_buckets=8, n_salts=4
    )

    out = str(tmp_path / "chunked")
    calls = {"n": 0}
    real = pipeline.run_extraction

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated mid-flight kill")
        return real(*a, **kw)

    monkeypatch.setattr(pipeline, "run_extraction", dying)
    with pytest.raises(RuntimeError, match="simulated"):
        pipeline.run_extraction_chunked(
            session, synth["pages"], synth["claims"], out,
            n_buckets=8, buckets_per_commit=2, n_salts=4,
        )
    monkeypatch.setattr(pipeline, "run_extraction", real)

    committed = set(pipeline.read_completed_buckets(session, out))
    assert committed == {0, 1, 2, 3}  # two groups of two committed

    # resume completes only the remaining groups
    totals = pipeline.run_extraction_chunked(
        session, synth["pages"], synth["claims"], out,
        n_buckets=8, buckets_per_commit=2, n_salts=4,
    )
    assert totals["groups_skipped"] == 2
    assert totals["groups_run"] == 2

    got = session.read.parquet(out + "/extracted")
    ref = session.read.parquet(ref_out + "/extracted")
    assert got.count() == ref.count() == 300
    # no url extracted twice, and every text byte-identical to the
    # single-job reference
    import pandas as pd

    g = got.select("url", "extracted_text").toPandas().set_index("url")["extracted_text"]
    r = ref.select("url", "extracted_text").toPandas().set_index("url")["extracted_text"]
    assert not g.index.duplicated().any()
    assert g.sort_index().equals(r.sort_index())

    # a further invocation is a no-op (all groups skipped)
    again = pipeline.run_extraction_chunked(
        session, synth["pages"], synth["claims"], out,
        n_buckets=8, buckets_per_commit=2, n_salts=4,
    )
    assert again["groups_run"] == 0 and again["rows"] == 0


def _sorted_rows(path: str):
    """Every column of a bucket-partitioned output, bucket decoded to
    int, rows in url order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    i = t.schema.get_field_index("bucket")
    return t.set_column(i, "bucket", t.column(i).cast(pa.int32())).sort_by("url")


@pytest.fixture(scope="module")
def one_job_8(session, synth, tmp_path_factory):
    """One uninterrupted run over 8 buckets: the reference a chunked or
    concurrent output must equal."""
    from ocr_api_spark.plans.pipeline import run_extraction

    out = str(tmp_path_factory.mktemp("one_job_8"))
    run_extraction(session, synth["pages"], synth["claims"], out, n_buckets=8, n_salts=4)
    return _sorted_rows(out + "/extracted")


def test_chunked_failure_with_group_in_flight(session, synth, tmp_path, monkeypatch, one_job_8):
    """A group that fails while its neighbour is writing stops the
    window: no later group starts, the neighbour still commits (and
    leaves no staging dir or orphan), the error reaches the caller, and
    a resume ends equal to one uninterrupted job."""
    import threading
    import time

    from ocr_api_spark.plans import pipeline
    from ocr_api_spark.plans.sink import verify_sink

    out = str(tmp_path / "out")
    real = pipeline.run_extraction
    started = []
    neighbour_running, failed = threading.Event(), threading.Event()

    def flaky(*a, buckets, **kw):
        started.append(list(buckets))
        if buckets == [0, 1]:
            assert neighbour_running.wait(60)
            time.sleep(0.2)
            failed.set()
            raise RuntimeError("simulated group failure")
        neighbour_running.set()
        stats = real(*a, buckets=buckets, **kw)
        # finish after the failure, so the window sees it first
        assert failed.wait(60)
        time.sleep(0.2)
        return stats

    monkeypatch.setattr(pipeline, "run_extraction", flaky)
    with pytest.raises(RuntimeError, match="simulated group failure"):
        pipeline.run_extraction_chunked(
            session, synth["pages"], synth["claims"], out,
            n_buckets=8, buckets_per_commit=2, n_salts=4,
        )
    monkeypatch.setattr(pipeline, "run_extraction", real)

    assert sorted(started) == [[0, 1], [2, 3]]  # nothing submitted after the failure
    committed = set(pipeline.read_completed_buckets(session, out))
    assert committed <= {b for g in started for b in g}
    assert committed == {2, 3}  # the neighbour's commit stands
    v = verify_sink(out)
    assert v["orphans"] == [] and v["missing"] == [] and v["staging"] == []

    totals = pipeline.run_extraction_chunked(
        session, synth["pages"], synth["claims"], out,
        n_buckets=8, buckets_per_commit=2, n_salts=4,
    )
    assert totals["groups_skipped"] == 1 and totals["groups_run"] == 3
    got = _sorted_rows(out + "/extracted")
    assert len(set(got.column("url").to_pylist())) == got.num_rows == 300
    assert got.equals(one_job_8)


@pytest.mark.filterwarnings("error")
def test_concurrent_writers_on_disjoint_buckets(session, synth, tmp_path, one_job_8):
    """Two run_extraction calls into one out_dir at once, on disjoint
    buckets: each returns and commits exactly its own rows (metrics,
    snapshot, lineage), neither warns of a footer mismatch, and the
    union equals one uninterrupted run."""
    import json
    import os
    import threading

    import pyarrow.parquet as pq

    from ocr_api_spark.plans import pipeline

    out = str(tmp_path / "out")
    halves = {"a": [0, 1, 2, 3], "b": [4, 5, 6, 7]}
    barrier = threading.Barrier(len(halves))
    results, errors = {}, {}

    def writer(name):
        barrier.wait()
        try:
            results[name] = pipeline.run_extraction(
                session, synth["pages"], synth["claims"], out,
                n_buckets=8, n_salts=4, buckets=halves[name],
            )
        except BaseException as e:  # re-raised below, in the test thread
            errors[name] = e

    threads = [threading.Thread(target=writer, args=(n,)) for n in halves]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    ref_buckets = one_job_8.column("bucket").to_pylist()
    ref_rows = {b: ref_buckets.count(b) for b in range(8)}
    for name, bs in halves.items():
        assert results[name]["rows"] == sum(ref_rows[b] for b in bs)

    metrics = pq.read_table(os.path.join(out, "metrics")).to_pylist()
    assert sorted((m["bucket"], m["rows_out"]) for m in metrics) == sorted(ref_rows.items())

    snap_dir = os.path.join(out, "_snapshots")
    snaps = []
    for f in os.listdir(snap_dir):
        with open(os.path.join(snap_dir, f)) as fh:
            snaps.append(json.load(fh))
    lineage_dir = os.path.join(out, "lineage")
    lineage = [pq.read_table(os.path.join(lineage_dir, f)).column("bucket").to_pylist() for f in os.listdir(lineage_dir)]
    assert sorted(sorted(bs) for bs in lineage) == list(halves.values())
    by_buckets = {tuple(sorted(b["bucket"] for b in s["buckets"])): s for s in snaps}
    assert len(snaps) == 2 and sorted(by_buckets) == [tuple(bs) for bs in halves.values()]
    for name, bs in halves.items():
        snap = by_buckets[tuple(bs)]
        assert sum(b["rows_out"] for b in snap["buckets"]) == results[name]["rows"]
        assert {f.split("/")[0] for f in snap["files"]} == {f"bucket={b}" for b in bs}

    assert _sorted_rows(out + "/extracted").equals(one_job_8)
    assert not os.listdir(os.path.join(out, "_staging"))


def test_chunked_groups_inherit_the_callers_job_group(session, synth, tmp_path):
    """The caller's local properties reach every group's jobs: with a job
    group set, each job the chunked run starts belongs to that group,
    none runs ungrouped."""
    from ocr_api_spark.plans import pipeline

    sc = session.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("chunked-caller", "chunked run under a caller's job group")
    try:
        totals = pipeline.run_extraction_chunked(
            session, synth["pages"], synth["claims"], str(tmp_path / "out"),
            n_buckets=8, buckets_per_commit=4, n_salts=4,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert totals["groups_run"] == 2 and totals["rows"] == 300
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
    # each group runs at least its write job
    assert len(tracker.getJobIdsForGroup("chunked-caller")) >= totals["groups_run"]


def test_chunked_commits_empty_buckets(session, synth, tmp_path):
    """A bucket that hashes zero urls must still enter lineage when its
    group runs (review r7): without that, every resume re-launches the
    group's full job forever and 'further invocation is a no-op' never
    holds at production bucket counts."""
    from ocr_api_spark.plans import pipeline

    out = str(tmp_path / "sparse")
    # 300 urls over 64 buckets: some buckets are empty w.h.p.
    totals = pipeline.run_extraction_chunked(
        session, synth["pages"], synth["claims"], out,
        n_buckets=64, buckets_per_commit=16, n_salts=4,
    )
    assert totals["rows"] == 300
    committed = set(pipeline.read_completed_buckets(session, out))
    assert committed == set(range(64))  # every bucket, populated or not

    again = pipeline.run_extraction_chunked(
        session, synth["pages"], synth["claims"], out,
        n_buckets=64, buckets_per_commit=16, n_salts=4,
    )
    assert again["groups_run"] == 0 and again["rows"] == 0

    # chunked + dedupe is rejected loudly (full-corpus window per group)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="chunked"):
        pipeline.run_extraction_chunked(
            session, synth["pages"], synth["claims"], out,
            n_buckets=64, buckets_per_commit=16, dedupe=True,
        )


def test_torn_lineage_tmp_file_is_invisible(session, synth, tmp_path):
    """A SIGKILL mid-append leaves only a dot-prefixed .tmp in lineage
    (the rename is atomic); readers must ignore it rather than brick
    every resume (review r7)."""
    from ocr_api_spark.plans import pipeline

    out = str(tmp_path / "out")
    pipeline.run_extraction(
        session, synth["pages"], synth["claims"], out, n_buckets=8, n_salts=4
    )
    committed = set(pipeline.read_completed_buckets(session, out))

    # simulate the torn write: a half-written temp from a killed append
    lineage = tmp_path / "out" / "lineage"
    (lineage / ".part-deadbeef.parquet.tmp").write_bytes(b"PAR1 torn garbage")

    assert set(pipeline.read_completed_buckets(session, out)) == committed
    # and the maintenance dir-diff ignores it too
    assert not any(
        f.endswith(".tmp") for f in pipeline._data_files(str(lineage))
    )


def test_lineage_read_matches_spark_reader(session, tmp_path):
    """read_completed_buckets reads lineage with pyarrow on the driver; it
    must return exactly the bucket set Spark's reader sees, sorted, over
    several files with repeated buckets, Spark-written files beside
    them (``_SUCCESS`` and ``.crc`` siblings) and an in-flight temp."""
    from ocr_api_spark.plans import pipeline

    lineage = tmp_path / "out" / "lineage"
    pipeline._append_table(str(lineage), {"bucket": [5, 1, 9]})
    pipeline._append_table(str(lineage), {"bucket": [1, 12]})
    session.createDataFrame([(9,), (3,)], "bucket int").write.mode("append").parquet(str(lineage))
    (lineage / ".part-deadbeef.parquet.tmp").write_bytes(b"PAR1 torn garbage")
    assert any(f.name.startswith("_") for f in lineage.iterdir())

    spark_read = session.read.parquet(str(lineage)).select("bucket").distinct().collect()
    got = pipeline.read_completed_buckets(session, str(tmp_path / "out"))
    assert got == sorted(r["bucket"] for r in spark_read) == [1, 3, 5, 9, 12]


def test_lineage_read_failures(session, tmp_path):
    """No lineage table, or one holding only an in-flight temp, means no
    commits; a damaged committed file must raise, never read as 'first
    run' (that would re-extract every bucket and duplicate the output)."""
    import pyarrow as pa

    from ocr_api_spark.plans import pipeline

    out = tmp_path / "out"
    assert pipeline.read_completed_buckets(session, str(out)) == []
    lineage = out / "lineage"
    lineage.mkdir(parents=True)
    (lineage / ".part-0.parquet.tmp").write_bytes(b"PAR1 torn garbage")
    assert pipeline.read_completed_buckets(session, str(out)) == []

    pipeline._append_table(str(lineage), {"bucket": [2, 4]})
    (lineage / "part-corrupt.parquet").write_bytes(b"PAR1 not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        pipeline.read_completed_buckets(session, str(out))


def test_udf_stage_runs_one_task_per_core(session, synth, tmp_path):
    """run_extraction's UDF/write stage defaults to defaultParallelism
    tasks: every Python task pays a fixed worker setup whatever its row
    count, so the default is one task per core, not two."""
    from ocr_api_spark.plans.pipeline import run_extraction

    sc = session.sparkContext
    sc.setJobGroup("one-task-per-core", "run_extraction task count")
    try:
        run_extraction(session, synth["pages"], synth["claims"], str(tmp_path / "out"), n_buckets=16, n_salts=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup("one-task-per-core") for s in tracker.getJobInfo(j).stageIds]
    write_stage = tracker.getStageInfo(max(stages))  # the last stage run is the write
    assert write_stage.numTasks == sc.defaultParallelism


def test_web_only_corpus_runs(session, tmp_path):
    """A corpus with no document rows writes a claims table with the full
    schema and no rows; run_extraction joins it like any other."""
    import pyarrow.parquet as pq

    from ocr_api_spark.plans.pipeline import run_extraction
    from ocr_api_spark.sources.pages import CLAIMS_COLUMNS

    paths = write_pages(str(tmp_path / "web"), n_rows=40, seed=7, web_fraction=1.0)
    claims = pq.read_table(paths["claims"])
    assert claims.num_rows == 0 and claims.column_names == CLAIMS_COLUMNS

    out = str(tmp_path / "out")
    stats = run_extraction(session, paths["pages"], paths["claims"], out, n_buckets=4, n_salts=2)
    assert stats["rows"] == 40
    got = session.read.parquet(out + "/extracted").select("url", "extracted_text").toPandas()
    golden = pq.read_table(paths["golden"]).to_pandas()
    assert dict(zip(got["url"], got["extracted_text"])) == dict(zip(golden["url"], golden["extracted_text"]))
