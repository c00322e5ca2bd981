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


@pytest.fixture(scope="module")
def docs_only(tmp_path_factory):
    """Document rows only: arrow writes the all-null ``html`` column with
    the null type (parquet INT32, Null annotation)."""
    d = tmp_path_factory.mktemp("docs_only")
    return write_pages(str(d), n_rows=300, seed=42, web_fraction=0.0)


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


def test_resolve_failure_is_a_failed_row(monkeypatch):
    """An exception out of text resolve fails its row, with ``error``
    naming the class, and leaves the batch's other rows alone."""
    import pandas as pd

    from ocr_api_spark.operators import extract

    def boom(payload):
        raise RecursionError("too deep")

    monkeypatch.setattr(extract, "_payload_to_text", boom)
    none = pd.Series([None, None])
    out = extract.fused_extract_udf.func(
        pd.Series([None, "PAN ABCPS1234F"]), pd.Series([b"%PDF-1.4", None]), *[none] * 10
    )
    assert out["status"].tolist() == ["Failed", "Completed"]
    assert out["error"].tolist() == ["RecursionError: too deep", None]
    assert out["extracted_text"][0] is None and out["match"][0]["percentages"] is None


def test_deep_pdf_page_tree_does_not_fail_the_run(session, synth, tmp_path):
    """A %PDF row whose page tree nests deeper than Python's recursion
    limit, beside ordinary rows: the run commits every bucket, and every
    row ends Completed, or Failed with its error set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_api_spark.plans import pipeline
    from tests.test_pdftext import deep_page_tree_pdf

    pages = pq.read_table(synth["pages"])
    deep = {c: [None] for c in pages.column_names}
    deep.update(url=["https://deep.example/tree.pdf"], warc_ts=pages.column("warc_ts")[:1].to_pylist(),
                html=[deep_page_tree_pdf(1500)], lang=["en"])
    path = str(tmp_path / "pages.parquet")
    pq.write_table(pa.concat_tables([pages, pa.Table.from_pydict(deep, schema=pages.schema)]), path)
    out = str(tmp_path / "out")
    stats = pipeline.run_extraction(session, path, synth["claims"], out, n_buckets=4, n_salts=2)
    assert stats["rows"] == pages.num_rows + 1
    assert pipeline.read_completed_buckets(session, out) == [0, 1, 2, 3]
    got = pq.read_table(out + "/extracted").to_pandas().set_index("url")
    assert set(got["status"]) <= {"Completed", "Failed"}
    assert got.loc[got["status"] == "Failed", "error"].notna().all()
    assert got.loc["https://deep.example/tree.pdf", "extracted_text"].split() == ["FIRST", "SECOND"]


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


def _placement(plan):
    """url, bucket and partition of every row of an extraction plan (the
    UDF column is pruned, so no Python task runs)."""
    from pyspark.sql import functions as F

    return plan.select("url", "bucket", F.spark_partition_id().alias("part")).toPandas()


def test_placement_keeps_whole_consecutive_buckets(session, synth, tmp_path):
    """With n_parts dividing the bucket count, each partition holds whole,
    consecutive buckets, so a run writes exactly one file per bucket."""
    import glob

    from ocr_api_spark.plans.pipeline import extraction_plan, run_extraction

    got = _placement(extraction_plan(session.read.parquet(synth["pages"]), None, 8, 4, n_parts=4))
    parts = got.groupby("bucket")["part"].unique().map(list).to_dict()
    assert parts == {b: [b // 2] for b in range(8)}

    out = str(tmp_path / "out")
    run_extraction(session, synth["pages"], synth["claims"], out, n_buckets=8, n_salts=4, repartition=4)
    files = glob.glob(out + "/extracted/bucket=*/*.parquet")
    assert len(files) == 8 and len({f.rsplit("/", 1)[0] for f in files}) == 8


def test_placement_of_a_noncontiguous_bucket_set(session, synth):
    """A resume set with gaps ranks its buckets, so it still fills every
    partition; an empty set keeps no row."""
    from ocr_api_spark.plans.pipeline import extraction_plan

    pages = session.read.parquet(synth["pages"])
    got = _placement(extraction_plan(pages, None, 16, 8, n_parts=4, buckets=[11, 1, 6, 5]))
    assert got.groupby("bucket")["part"].unique().map(list).to_dict() == {1: [0], 5: [1], 6: [2], 11: [3]}
    assert extraction_plan(pages, None, 16, 8, n_parts=4, buckets=[]).count() == 0


def test_placement_is_the_same_on_every_build(session, synth):
    """Placement is a function of the url: two builds of the plan, claims
    joined, put every url in the same partition."""
    from ocr_api_spark.plans.pipeline import extraction_plan

    def build():
        pages, claims = (session.read.parquet(synth[k]) for k in ("pages", "claims"))
        got = _placement(extraction_plan(pages, claims, 16, 8, n_parts=8))
        return sorted(zip(got["url"], got["part"]))

    first = build()
    assert len({p for _, p in first}) == 8
    assert build() == first


@pytest.fixture(scope="module")
def crawl(tmp_path_factory):
    """4,000 crawl-shaped pages, and the same table with its first 1,000
    rows replaced by copies of one url (25% of the rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("crawl")
    pages = write_pages(str(d / "uniform"), n_rows=4000, seed=5)["pages"]
    t = pq.read_table(pages)
    hot = str(d / "hot.parquet")
    pq.write_table(pa.concat_tables([t.take([0] * 1000), t.slice(1000)]), hot)
    return {"uniform": pages, "hot": hot}


@pytest.mark.parametrize("n_parts", [4, 8])
def test_placement_balance(session, crawl, n_parts):
    """Urls hash uniformly into (bucket, salt) cells, so equal-width
    placement keeps partitions within 15% of the mean.  One url repeated
    as 25% of the rows is one cell: its partition holds those rows plus
    no more than a fair share of the rest."""
    from ocr_api_spark.plans.pipeline import extraction_plan

    def rows_per_part(path):
        got = _placement(extraction_plan(session.read.parquet(path), None, 64, 8, n_parts=n_parts))
        return got["part"].value_counts().reindex(range(n_parts), fill_value=0)

    uniform = rows_per_part(crawl["uniform"])
    assert uniform.max() / uniform.mean() <= 1.15
    hot = rows_per_part(crawl["hot"])
    assert hot.sum() == 4000 and hot.max() <= 1000 + 1.15 * 3000 / n_parts


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


def test_bucket_is_the_files_own_directory(session, synth, tmp_path):
    """A run whose output lies under a directory named ``bucket=N``
    commits each file to the bucket of its own directory, not to N."""
    from ocr_api_spark.plans import pipeline
    from ocr_api_spark.plans.sink import read_manifests

    out = str(tmp_path / "bucket=9" / "out")
    pipeline.run_extraction(session, synth["pages"], synth["claims"], out, n_buckets=4, n_salts=2)
    (manifest,) = read_manifests(out)
    dirs = {int(f.split("/")[0].removeprefix("bucket=")) for f in manifest["files"]}
    assert dirs == {0, 1, 2, 3}
    assert sorted(b["bucket"] for b in manifest["buckets"]) == sorted(dirs)
    assert sum(b["rows_out"] for b in manifest["buckets"]) == 300


def test_chunked_run_kill_between_commits_resumes(session, synth, tmp_path, monkeypatch):
    """run_extraction_chunked commits a manifest per bucket group, so a
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


class _Killed(Exception):
    """A simulated process kill at one step of a commit."""


@pytest.mark.parametrize("kill", ["mid_publish", "after_publish", "torn_manifest", "after_manifest"])
def test_kill_at_each_commit_step_resumes(session, synth, tmp_path, monkeypatch, one_job_8, kill):
    """A chunked run killed at any step of its groups' commits (half the
    files renamed into the table; all of them; the manifest's temp
    written but not renamed; the manifest in place) resumes to exactly
    one uninterrupted job: no url twice, no orphan, nothing missing.
    Only a run that reached its manifest has committed; whatever a
    killed group published without one is cleared by the resume, and
    its staging dir is left to gc_orphans."""
    import os

    from ocr_api_spark.plans import pipeline, sink

    out = str(tmp_path / "out")
    real_publish, real_snapshot = pipeline._publish, sink.write_snapshot

    def publish(staging, out_path):
        if kill == "mid_publish":
            files = sorted(pipeline._data_files(staging))
            for src in files[: len(files) // 2]:
                dst = os.path.join(out_path, os.path.relpath(src, staging))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
            raise _Killed(kill)
        published = real_publish(staging, out_path)
        if kill == "after_publish":
            raise _Killed(kill)
        return published

    def write_snapshot(out_dir, *a, **kw):
        if kill == "torn_manifest":
            snap_dir = os.path.join(out_dir, "_snapshots")
            os.makedirs(snap_dir, exist_ok=True)
            with open(os.path.join(snap_dir, f"snap-00000-{os.getpid()}.json.tmp"), "a") as f:
                f.write('{"seq": 0, "files": ["bucket=')
            raise _Killed(kill)
        path = real_snapshot(out_dir, *a, **kw)
        if kill == "after_manifest":
            raise _Killed(kill)
        return path

    monkeypatch.setattr(pipeline, "_publish", publish)
    monkeypatch.setattr(sink, "write_snapshot", write_snapshot)
    with pytest.raises(_Killed):
        pipeline.run_extraction_chunked(
            session, synth["pages"], synth["claims"], out,
            n_buckets=8, buckets_per_commit=2, n_salts=4,
        )
    monkeypatch.undo()

    # both in-flight groups died at the same step; only a manifest commits
    committed = set(pipeline.read_completed_buckets(session, out))
    assert committed == ({0, 1, 2, 3} if kill == "after_manifest" else set())

    totals = pipeline.run_extraction_chunked(
        session, synth["pages"], synth["claims"], out,
        n_buckets=8, buckets_per_commit=2, n_salts=4,
    )
    assert totals["groups_run"] == 4 - len(committed) // 2
    got = _sorted_rows(out + "/extracted")
    assert len(set(got.column("url").to_pylist())) == got.num_rows == 300
    assert got.equals(one_job_8)

    v = sink.verify_sink(out)
    assert v["orphans"] == [] and v["missing"] == []
    assert len(v["staging"]) == (2 if kill == "mid_publish" else 0)
    assert sink.gc_orphans(out, min_age_sec=0) == v["staging"]
    assert sink.verify_sink(out)["staging"] == []


def test_compaction_killed_before_publish_leaves_table_unchanged(session, synth, tmp_path, monkeypatch):
    """A compaction killed between its write and its publish (here the
    first rename raises) leaves ``extracted/`` as it was for a reader of
    the directory: the same rows, and ``bucket`` still an int.  The
    rewrite waits under ``_staging/`` for gc_orphans, outside the table."""
    import os

    from ocr_api_spark.plans import pipeline, sink

    out = str(tmp_path / "out")
    # 8 partitions over 4 buckets: each bucket is written as 2 files
    pipeline.run_extraction(session, synth["pages"], synth["claims"], out, n_buckets=4, n_salts=2, repartition=8)
    base = os.path.join(out, "extracted")
    n_rows = session.read.parquet(base).count()
    files = {b: len(pipeline._data_files(os.path.join(base, f"bucket={b}"))) for b in range(4)}
    bucket = max(files, key=files.get)
    assert files[bucket] > 1  # more files than the target: compact_bucket rewrites

    def rename(*_a, **_kw):
        raise _Killed("rename")

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(_Killed):
        sink.compact_bucket(session, out, bucket)
    monkeypatch.undo()

    after = session.read.parquet(base)
    assert dict(after.dtypes)["bucket"] == "int"
    assert after.count() == n_rows
    assert len(sink.verify_sink(out)["staging"]) == 1


@pytest.mark.filterwarnings("error")
def test_concurrent_writers_on_disjoint_buckets(session, synth, tmp_path, one_job_8):
    """Two run_extraction calls into one out_dir at once, on disjoint
    buckets: each returns and commits exactly its own rows (one
    manifest each, with its buckets' rows and its wall seconds), neither
    warns of a footer mismatch, and the union equals one uninterrupted
    run."""
    import json
    import os
    import threading

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

    # the manifests are the only commit records
    assert sorted(os.listdir(out)) == ["_snapshots", "_staging", "extracted"]
    snap_dir = os.path.join(out, "_snapshots")
    snaps = []
    for f in os.listdir(snap_dir):
        with open(os.path.join(snap_dir, f)) as fh:
            snaps.append(json.load(fh))
    entries = [e for s in snaps for e in s["buckets"]]
    assert sorted((e["bucket"], e["rows_out"]) for e in entries) == sorted(ref_rows.items())
    by_buckets = {tuple(sorted(b["bucket"] for b in s["buckets"])): s for s in snaps}
    assert len(snaps) == 2 and sorted(by_buckets) == [tuple(bs) for bs in halves.values()]
    for name, bs in halves.items():
        snap = by_buckets[tuple(bs)]
        assert sum(b["rows_out"] for b in snap["buckets"]) == results[name]["rows"]
        walls = {b["wall_s"] for b in snap["buckets"]}
        assert len(walls) == 1 and 0 < walls.pop() <= results[name]["wall_s"]
        assert {f.split("/")[0] for f in snap["files"]} == {f"bucket={b}" for b in bs}

    assert _sorted_rows(out + "/extracted").equals(one_job_8)
    assert not os.listdir(os.path.join(out, "_staging"))


def test_bucket_writer_retry_replaces_its_files(session, synth, tmp_path, monkeypatch):
    """A retried attempt of a partition writes the same files over the
    first attempt's, and a killed attempt's hidden temp file is neither
    a data file nor published: staging holds one complete file per
    (partition, bucket), and the published table no url twice.  The
    retry cuts a row group per batch (a bucket larger than the
    row-group size), and its files still hold every row."""
    import pyarrow.parquet as pq

    from ocr_api_spark.plans import bucket_writer, pipeline
    from ocr_api_spark.plans.bucket_writer import BucketWriter

    pages = pipeline.read_parquet(session, synth["pages"])
    claims = pipeline.read_parquet(session, synth["claims"])
    inputs = pipeline.extraction_inputs(
        pipeline.placed_inputs(pages, claims, 8, 4), ["url", "warc_ts", "lang", "bucket", "salt"]
    )
    table = inputs.toArrow()
    staging = tmp_path / "_staging" / "run"
    writer = BucketWriter(session, str(staging), "run")

    first = writer.write(iter(table.to_batches(max_chunksize=64)), 3)
    killed = staging / "bucket=0" / ".part-00003-run.parquet.0badc0de.tmp"
    killed.write_bytes(b"PAR1 a torn row group")
    monkeypatch.setattr(bucket_writer, "_ROW_GROUP_BYTES", 1)
    second = writer.write(iter(table.to_batches(max_chunksize=100)), 3)

    assert sorted(first) == sorted(second)
    assert sorted(pipeline._data_files(str(staging))) == sorted(second)
    buckets = table.column("bucket").to_pylist()
    for path in second:
        bucket = int(path.split("bucket=")[1].split("/")[0])
        assert path.endswith("/part-00003-run.parquet")
        footer = pq.ParquetFile(path).metadata
        assert footer.num_rows == buckets.count(bucket) and footer.num_row_groups > 1

    out = tmp_path / "extracted"
    published = pipeline._publish(str(staging), str(out))
    assert len(published) == len(set(buckets)) and not staging.exists()
    urls = pq.read_table(str(out)).column("url").to_pylist()
    assert len(urls) == len(set(urls)) == 300


@pytest.fixture(scope="module")
def every_branch(tmp_path_factory, synth):
    """synth's HTML and OCR-text rows, plus %PDF rows (a text layer, a
    compressed one, and one with no objects) and document rows whose
    extractor fails."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_api_spark.sources.pdftext import pdf_from_text

    d = tmp_path_factory.mktemp("every_branch")
    pages, claims = pq.read_table(synth["pages"]), pq.read_table(synth["claims"])
    ts = pages.column("warc_ts")[:1].to_pylist()
    extra = [
        ("https://pdf.example/a.pdf", pdf_from_text("PERMANENT ACCOUNT NUMBER ABCPS1234F NAME RAVI KUMAR"), None),
        ("https://pdf.example/b.pdf", pdf_from_text("INCOME TAX DEPARTMENT GOVT OF INDIA", compress=True), None),
        ("https://pdf.example/bad.pdf", b"%PDF-1.4 no objects here", None),
        ("https://doc.example/dl1", None, "DRIVING LICENCE\nnothing"),
        ("https://doc.example/dl2", None, "NAME: X\nno address"),
    ]
    rows = {c: [None] * len(extra) for c in pages.column_names}
    rows.update(url=[u for u, _, _ in extra], html=[h for _, h, _ in extra],
                text=[t for _, _, t in extra], warc_ts=ts * len(extra), lang=["en"] * len(extra))
    failing = {c: [None] * 2 for c in claims.column_names}
    failing.update(url=["https://doc.example/dl1", "https://doc.example/dl2"], doc_type=["dl", "dl"])
    paths = {"pages": str(d / "pages.parquet"), "claims": str(d / "claims.parquet")}
    pq.write_table(pa.concat_tables([pages, pa.Table.from_pydict(rows, schema=pages.schema)]), paths["pages"])
    pq.write_table(pa.concat_tables([claims, pa.Table.from_pydict(failing, schema=claims.schema)]), paths["claims"])
    return paths


def test_run_extraction_rows_equal_extraction_plan(session, every_branch, tmp_path):
    """The two sinks agree: the rows run_extraction publishes equal
    extraction_plan's, every column, on HTML, %PDF, OCR-text and Failed
    rows.  The footers hold no key-value metadata, and the files carry
    the session's codec; Spark's reader and ``read_parquet`` still read
    the schema Spark's own writer gives the plan, also where
    ``inferTimestampNTZ`` is off (the setting under which a Spark-written
    footer's schema JSON, not the parquet type, could decide
    ``warc_ts``'s type)."""
    import duckdb
    import pyarrow.parquet as pq

    from ocr_api_spark.plans import pipeline

    infer_ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    default = session.conf.get(infer_ntz)
    for run, setting in enumerate((default, "false")):
        session.conf.set(infer_ntz, setting)
        try:
            out = str(tmp_path / str(run) / "out")
            pipeline.run_extraction(session, every_branch["pages"], every_branch["claims"], out, n_buckets=8, n_salts=4)
            pages = pipeline.read_parquet(session, every_branch["pages"])
            claims = pipeline.read_parquet(session, every_branch["claims"])
            plan = pipeline.extraction_plan(pages, claims, 8, 4, n_parts=4)
            spark_written = str(tmp_path / str(run) / "spark_written")
            plan.write.partitionBy("bucket").parquet(spark_written)

            published = _sorted_rows(out + "/extracted")
            expected = _sorted_rows(spark_written)
            # Spark writes a zoned timestamp as INT96, which pyarrow reads
            # as nanoseconds without the zone
            ts = expected.schema.get_field_index("warc_ts")
            expected = expected.set_column(ts, "warc_ts", expected["warc_ts"].cast(published["warc_ts"].type))
            assert published.num_rows == 305
            assert published.select(expected.column_names).to_pylist() == expected.to_pylist()
            statuses = dict(zip(published.column("url").to_pylist(), published.column("status").to_pylist()))
            assert statuses["https://pdf.example/a.pdf"] == statuses["https://pdf.example/b.pdf"] == "Completed"
            assert "Failed" in {statuses["https://doc.example/dl1"], statuses["https://doc.example/dl2"]}
            spark_schema = session.read.parquet(spark_written).schema
            assert session.read.parquet(out + "/extracted").schema == spark_schema
            assert pipeline.read_parquet(session, out + "/extracted").schema == spark_schema
        finally:
            session.conf.set(infer_ntz, default)

        codec = session.conf.get("spark.sql.parquet.compression.codec").upper()
        for f in pipeline._data_files(out + "/extracted"):
            footer = pq.ParquetFile(f).metadata
            assert footer.metadata is None
            # DuckDB decodes the footer's thrift with its own code
            assert duckdb.execute("SELECT key, value FROM parquet_kv_metadata(?)", [f]).fetchall() == []
            assert footer.num_row_groups == 1
            assert {footer.row_group(0).column(i).compression for i in range(footer.num_columns)} == {codec}


def test_run_extraction_rejects_buckets_outside_the_range(session, synth, tmp_path):
    """A bucket id no url hashes to is refused before the run reads a
    manifest or clears a bucket: committed, it would count as a
    completed bucket that does not exist."""
    from ocr_api_spark.plans import pipeline

    out = tmp_path / "out"
    leftover = out / "extracted" / "bucket=3" / "part-left.parquet"
    leftover.parent.mkdir(parents=True)
    leftover.write_bytes(b"left by a killed run")
    with pytest.raises(ValueError, match=r"\[-1, 99\] are outside \[0, 16\)"):
        pipeline.run_extraction(session, synth["pages"], synth["claims"], str(out), n_buckets=16, buckets=[99, -1, 3])
    assert not (out / "_snapshots").exists() and leftover.exists()


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
    # no new ungrouped job; old ones may drop out meanwhile (the status
    # store evicts its oldest 100 jobs each time it passes 1,000)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before
    # each group runs at least its write job
    assert len(tracker.getJobIdsForGroup("chunked-caller")) >= totals["groups_run"]


def test_chunked_commits_empty_buckets(session, synth, tmp_path):
    """A bucket that hashes zero urls must still be committed when its
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


def test_torn_lineage_tmp_file_is_invisible(session, synth, tmp_path):
    """A kill mid-manifest leaves only a ``.json.tmp`` in ``_snapshots/``
    (the rename is atomic); readers must ignore it rather than brick
    every resume (review r7)."""
    from ocr_api_spark.plans import pipeline, sink

    out = str(tmp_path / "out")
    pipeline.run_extraction(
        session, synth["pages"], synth["claims"], out, n_buckets=8, n_salts=4
    )
    committed = set(pipeline.read_completed_buckets(session, out))
    files = sink.snapshot_files(out)
    assert committed == set(range(8))

    # simulate the torn write: a half-written temp from a killed commit
    torn = tmp_path / "out" / "_snapshots" / "snap-00001-deadbeef.json.tmp"
    torn.write_text('{"seq": 1, "files": ["bucket=')

    assert set(pipeline.read_completed_buckets(session, out)) == committed
    assert sink.snapshot_files(out) == files
    v = sink.verify_sink(out)
    assert v["orphans"] == [] and v["missing"] == []


def test_lineage_read_matches_spark_reader(session, tmp_path):
    """read_completed_buckets reads the manifests on the driver; it must
    return exactly the bucket set Spark's JSON reader sees in the
    published manifests, sorted: the union over runs, zero-row entries
    included, compaction manifests and an in-flight temp excluded.  A
    compaction of a bucket no run committed does not commit it."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_api_spark.plans import pipeline, sink

    out = tmp_path / "out"
    sink.write_snapshot(str(out), set(), [(5, 10, 0, 1.0), (1, 3, 1, 1.0), (9, 0, 0, 1.0)])
    sink.write_snapshot(str(out), set(), [(1, 2, 0, 2.0), (12, 0, 0, 2.0)])
    sink.write_snapshot(str(out), set(), [(3, 4, 0, 0.0)], replaces=set(), compaction=True)
    snap_dir = out / "_snapshots"
    (snap_dir / "snap-00003-deadbeef.json.tmp").write_text('{"seq": 3, "buckets": [{"bucket": 7')

    spark_read = (
        session.read.json(str(snap_dir / "*.json"))
        .where(F.col("compaction").isNull())
        .select(F.explode("buckets.bucket").alias("bucket"))
        .distinct()
        .collect()
    )
    got = pipeline.read_completed_buckets(session, str(out))
    assert got == sorted(r["bucket"] for r in spark_read) == [1, 5, 9, 12]

    # data a killed run published into bucket 7 without a manifest
    bucket_dir = out / "extracted" / "bucket=7"
    bucket_dir.mkdir(parents=True)
    for i in range(2):
        pd.DataFrame({"url": [f"u{i}"], "status": ["Completed"]}).to_parquet(
            bucket_dir / f"part-{i}.parquet", index=False
        )
    assert sink.compact_bucket(session, str(out), 7)["compacted"]
    assert pipeline.read_completed_buckets(session, str(out)) == got


def test_lineage_read_failures(session, tmp_path):
    """No manifest, or only an in-flight temp, means no commits; a
    damaged published manifest must raise, never read as 'first run'
    (that would re-extract every bucket and duplicate the output)."""
    import json

    from ocr_api_spark.plans import pipeline, sink

    out = tmp_path / "out"
    assert pipeline.read_completed_buckets(session, str(out)) == []
    snap_dir = out / "_snapshots"
    snap_dir.mkdir(parents=True)
    (snap_dir / "snap-00000-deadbeef.json.tmp").write_text('{"seq": 0, "bu')
    assert pipeline.read_completed_buckets(session, str(out)) == []

    sink.write_snapshot(str(out), set(), [(2, 1, 0, 1.0), (4, 0, 0, 1.0)])
    assert pipeline.read_completed_buckets(session, str(out)) == [2, 4]
    (snap_dir / "snap-00001-corrupt0.json").write_text('{"seq": 1, "buckets": [{"bu')
    with pytest.raises(json.JSONDecodeError):
        pipeline.read_completed_buckets(session, str(out))


@pytest.mark.parametrize("table", ["synth", "docs_only"])
def test_udf_stage_runs_one_task_per_core(session, tmp_path, request, table):
    """run_extraction's UDF/write stage defaults to defaultParallelism
    tasks: every Python task pays a fixed worker setup whatever its row
    count, so the default is one task per core, not two."""
    from ocr_api_spark.plans.pipeline import run_extraction

    paths = request.getfixturevalue(table)
    sc = session.sparkContext
    group = f"one-task-per-core-{table}"
    sc.setJobGroup(group, "run_extraction task count")
    try:
        run_extraction(session, paths["pages"], paths["claims"], str(tmp_path / "out"), n_buckets=16, n_salts=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    write_stage = tracker.getStageInfo(max(stages))  # the last stage run is the write
    assert write_stage.numTasks == sc.defaultParallelism
    # the claims broadcast, the shuffle map and the write: placement by
    # partition id runs no sampling job, and reading the inputs no
    # schema-inference job, an all-null html column included
    assert len(jobs) == 3, sorted(jobs)


@pytest.mark.parametrize(
    "per_commit, repartition, width",
    [(2, None, "shared"), (8, None, "all"), (2, 3, "given")],
)
def test_chunked_groups_share_the_cores(session, synth, tmp_path, per_commit, repartition, width):
    """The groups of a chunked run in flight share the cores: each group's
    UDF/write stage takes ceil(defaultParallelism / groups in flight)
    tasks.  A run of one group takes them all, and an explicit
    ``repartition`` is used as given."""
    import math

    from ocr_api_spark.plans import pipeline

    sc = session.sparkContext
    group = f"chunked-width-{per_commit}-{repartition}"
    sc.setJobGroup(group, "chunked run task counts")
    try:
        totals = pipeline.run_extraction_chunked(
            session, synth["pages"], synth["claims"], str(tmp_path / "out"),
            n_buckets=8, buckets_per_commit=per_commit, n_salts=4, repartition=repartition,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert totals["rows"] == 300
    tracker = sc.statusTracker()
    # a write job runs the shuffle's (skipped) map stage and the write
    # stage; the claims broadcast and the shuffle map are one stage each
    writes = [
        tracker.getStageInfo(max(info.stageIds)).numTasks
        for info in map(tracker.getJobInfo, tracker.getJobIdsForGroup(group))
        if len(info.stageIds) > 1
    ]
    expected = {
        "shared": math.ceil(sc.defaultParallelism / pipeline._GROUPS_IN_FLIGHT),
        "all": sc.defaultParallelism,
        "given": repartition,
    }[width]
    assert writes == [expected] * totals["groups_run"], writes


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


def _parquet_input(kind: str, session, d) -> str:
    """One parquet input of each shape ``read_parquet`` must type as
    Spark's inference does."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2024, 5, 1, 12, 30)
    langs = pa.array(["en", "fr", "en", "fr"])
    path = str(d / "t")
    if kind == "pyarrow_types":
        schema = pa.schema(
            [
                pa.field("naive", pa.timestamp("us")),
                pa.field("utc", pa.timestamp("us", tz="UTC")),
                pa.field("blob", pa.binary()),
                pa.field("required", pa.int64(), nullable=False),
                pa.field("large", pa.large_string()),
            ]
        )
        t = pa.table([[ts], [ts], [b"\x00"], [1], ["x"]], schema=schema)
        pq.write_table(t, path + ".parquet")
        return path + ".parquet"
    if kind in ("spark_ltz_4_files", "spark_partition_by"):
        df = session.range(40).selectExpr(
            "id", "timestamp'2024-05-01 12:30:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
            "IF(id % 2 = 0, 'en', 'fr') AS lang",
        )
        if kind == "spark_ltz_4_files":
            df.repartition(4).write.parquet(path)
        else:
            df.write.partitionBy("lang").parquet(path)
        return path
    if kind == "pyarrow_hive":
        t = pa.table({"url": ["a", "b", "c", "d"], "n": [1, 2, 3, 4], "lang": langs})
        pq.write_to_dataset(t, path, partition_cols=["lang"])
        return path
    if kind == "int96_no_spark_metadata":
        t = pa.table({"ts": pa.array([ts], pa.timestamp("us")), "n": [1]})
        pq.write_table(t, path + ".parquet", use_deprecated_int96_timestamps=True, store_schema=False)
        return path + ".parquet"
    if kind == "web_only_claims":
        return write_pages(str(d), n_rows=40, seed=7, web_fraction=1.0)["claims"]
    if kind == "docs_only_pages":  # html is all null: arrow's null type
        return write_pages(str(d), n_rows=40, seed=7, web_fraction=0.0)["pages"]
    raise ValueError(kind)


@pytest.mark.parametrize(
    "kind",
    [
        "pyarrow_types",
        "spark_ltz_4_files",
        "spark_partition_by",
        "pyarrow_hive",
        "int96_no_spark_metadata",
        "web_only_claims",
        "docs_only_pages",
    ],
)
def test_read_parquet_schema_equals_inferred(session, tmp_path, kind):
    """read_parquet takes the schema from one footer instead of Spark's
    inference job; the frame's schema must equal the inferred one,
    partition columns included."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from ocr_api_spark.plans.pipeline import _footer_schema, read_parquet

    path = _parquet_input(kind, session, tmp_path)
    inferred = session.read.parquet(path).schema
    assert _footer_schema(session, path) is not None  # decided from the footer
    assert read_parquet(session, path).schema == inferred
    if kind == "int96_no_spark_metadata":
        # arrow reads INT96 as a naive timestamp; Spark's is LTZ
        assert from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True) != inferred


@pytest.mark.parametrize("nested", ["struct", "list"])
def test_read_parquet_leaves_a_nested_null_to_spark(session, tmp_path, nested):
    """Only a top-level null column is typed from the footer; a null
    field inside a nested type goes to Spark's inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_api_spark.plans.pipeline import _footer_schema, read_parquet

    if nested == "struct":
        col = pa.array([{"x": None}], pa.struct([("x", pa.null())]))
    else:
        col = pa.array([[None]], pa.list_(pa.null()))
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"n": [1], "nested": col}), path)
    assert _footer_schema(session, path) is None
    assert read_parquet(session, path).schema == session.read.parquet(path).schema


@pytest.mark.parametrize("kind", ["empty_dir", "ns_timestamp"])
def test_read_parquet_raises_where_spark_does(session, tmp_path, kind):
    """An input Spark cannot read still fails through read_parquet, at
    plan time or when the data is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_api_spark.plans.pipeline import read_parquet

    path = str(tmp_path / kind)
    if kind == "empty_dir":
        (tmp_path / kind).mkdir()
    else:
        path += ".parquet"
        pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), path)
    with pytest.raises(Exception):
        session.read.parquet(path).collect()
    with pytest.raises(Exception):
        read_parquet(session, path).collect()
