"""Streaming + multimodal operator tests (hermetic: availableNow
triggers, deterministic fake decode)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="stream-tests", master="local[4]", shuffle_partitions=4)


@pytest.fixture(scope="module")
def synth(tmp_path_factory):
    from ocr_api_spark.sources.pages import write_pages

    d = tmp_path_factory.mktemp("stream_synth")
    return write_pages(str(d), n_rows=120, seed=7)


def test_stream_extraction_exactly_once(session, synth, tmp_path):
    import os

    from ocr_api_spark.streaming.stream import run_stream_once

    pages_dir = os.path.dirname(synth["pages"])
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # point the stream at a dir that contains only the pages file
    stream_dir = str(tmp_path / "pages_stream")
    os.makedirs(stream_dir)
    os.link(synth["pages"], os.path.join(stream_dir, "pages.parquet"))

    run_stream_once(session, stream_dir, out, ckpt)
    n1 = session.read.parquet(out).count()
    assert n1 == 120

    # re-trigger without new files: checkpoint must prevent re-processing
    run_stream_once(session, stream_dir, out, ckpt)
    assert session.read.parquet(out).count() == 120


def test_stream_windowed_counts(session, synth, tmp_path):
    import os

    from ocr_api_spark.streaming.stream import extraction_stream, read_pages_stream, windowed_doc_counts

    stream_dir = str(tmp_path / "pages_stream")
    os.makedirs(stream_dir)
    os.link(synth["pages"], os.path.join(stream_dir, "pages.parquet"))

    counts = windowed_doc_counts(extraction_stream(read_pages_stream(session, stream_dir)))
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = session.sql("select * from win_counts").collect()
    # append mode only emits closed windows; watermark leaves the last
    # window open, so we just require the query to run and the schema
    assert {c for c in session.table("win_counts").columns} == {"window_start", "lang", "docs", "failed"}
    assert all(r["docs"] > 0 for r in rows)


def test_multimodal_feature_plumbing(session):
    from ocr_api_spark.operators.multimodal import image_features

    df = session.createDataFrame(
        [("u1", bytearray(b"payload-1"), "image"), ("u2", bytearray(b"payload-2"), "pdf"), ("u3", None, "image")],
        "url string, payload binary, payload_kind string",
    )
    out = image_features(df).toPandas().set_index("url")
    assert out.loc["u1", "decode_status"] == "fake"
    assert len(out.loc["u1", "feature"]) == 8
    assert out.loc["u3", "decode_status"] == "empty"
    # deterministic: same payload -> same feature
    out2 = image_features(df).toPandas().set_index("url")
    assert list(out.loc["u2", "feature"]) == list(out2.loc["u2", "feature"])


def test_multimodal_mask_and_token_text(session):
    from ocr_api_spark.operators.multimodal import with_mask_regions, with_token_text

    tokens = [
        {"text": "Name RAHUL", "conf": 0.99, "box": [[0, 0], [100, 0], [100, 20], [0, 20]]},
        {"text": "1234 5678 9012", "conf": 0.98, "box": [[10, 50], [250, 50], [250, 80], [10, 80]]},
    ]
    df = session.createDataFrame(
        [("u1", tokens, 400, 300)],
        "url string, tokens array<struct<text:string,conf:float,box:array<array<int>>>>, img_h int, img_w int",
    )
    out = with_token_text(with_mask_regions(df)).collect()[0]
    assert out["token_text"] == "Name RAHUL\n1234 5678 9012"
    assert len(out["mask_regions"]) == 1
    r = out["mask_regions"][0]
    assert (r["x_min"], r["y_min"], r["x_max"], r["y_max"]) == (10, 50, 170, 80)


def test_credits_ledger_stateful(session, synth, tmp_path):
    import os

    from ocr_api_spark.streaming.stream import credits_ledger_stream

    stream_dir = str(tmp_path / "claims_stream")
    os.makedirs(stream_dir)
    os.link(synth["claims"], os.path.join(stream_dir, "claims.parquet"))
    schema = session.read.parquet(synth["claims"]).schema
    claims = session.readStream.format("parquet").schema(schema).load(stream_dir)

    ledger = credits_ledger_stream(claims, initial_credits=100)
    q = (
        ledger.writeStream.format("memory")
        .queryName("credits_ledger")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["company"]: r for r in session.sql("select * from credits_ledger").collect()}
    import pandas as pd

    truth = pd.read_parquet(synth["claims"]).groupby("company").size()
    for company, n in truth.items():
        assert rows[company]["docs_processed"] == n
        assert rows[company]["credits_left"] == 100 - n


def test_stream_static_claims_join(session, synth, tmp_path):
    import os

    from ocr_api_spark.streaming.stream import extraction_stream, read_pages_stream

    stream_dir = str(tmp_path / "pages_stream")
    os.makedirs(stream_dir)
    os.link(synth["pages"], os.path.join(stream_dir, "pages.parquet"))
    claims = session.read.parquet(synth["claims"])

    out = extraction_stream(read_pages_stream(session, stream_dir), claims)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_claims")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = session.sql("select * from stream_claims").collect()
    assert len(rows) == 120
    matched = [r for r in rows if r["match"] and r["match"]["average_match_percentage"] is not None]
    assert len(matched) > 0  # claimed doc rows carry match folds in streaming too


def test_stream_matches_batch_extraction(session, synth, tmp_path):
    """Batch/stream parity: on the same pages and claims, the stream and
    ``extraction_plan`` give every url the same extracted_text, status
    and match."""
    import os

    from ocr_api_spark.plans.pipeline import extraction_plan
    from ocr_api_spark.streaming.stream import extraction_stream, read_pages_stream

    stream_dir = str(tmp_path / "pages_stream")
    os.makedirs(stream_dir)
    os.link(synth["pages"], os.path.join(stream_dir, "pages.parquet"))
    claims = session.read.parquet(synth["claims"])

    q = (
        extraction_stream(read_pages_stream(session, stream_dir), claims)
        .writeStream.format("memory")
        .queryName("stream_parity")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def by_url(df):
        rows = df.select("url", "extracted_text", "status", "match").collect()
        return {r["url"]: r.asDict(recursive=True) for r in rows}

    pages = session.read.parquet(synth["pages"])
    streamed = by_url(session.table("stream_parity"))
    batch = by_url(extraction_plan(pages, claims, 8, 2, n_parts=4))
    assert len(batch) == 120
    assert streamed == batch
    # the comparison covers the HTML branch and real match folds
    web = [r["url"] for r in pages.where("html IS NOT NULL").select("url").collect()]
    assert any(batch[u]["extracted_text"] for u in web)
    assert any(r["match"]["average_match_percentage"] is not None for r in batch.values())


def test_signature_operator(session):
    import numpy as np

    from ocr_api_spark.operators.multimodal import with_signature_verdicts

    # paper gray 245, not saturated 255: the reference's ROI touch test
    # counts ==255 pixels (app.py:4789-4792), so a fully-saturated
    # canvas reads as glare and vetoes the straight-line verdict
    canvas = np.full((120, 300), 245, dtype=np.uint8)
    canvas[55:63, 5:295] = 0  # 8px x 290px stroke: 28-row expanded ROI,
    # spread 8/28 < 0.3, aspect 289/28 > 10
    rows = [("sig1", [[int(v) for v in row] for row in canvas])]
    df = session.createDataFrame(rows, "url string, img array<array<int>>")
    out = with_signature_verdicts(df).collect()[0]["signature"]
    assert out["is_background_white"] == "True"
    assert out["is_horizontal"] == "True"
    assert out["is_straight_line"] == "True"
    assert out["needs_rotation"] == "False"


def test_stream_session_windows(session, synth, tmp_path):
    """Native session_window gap sessionization on the pages stream:
    sessions close after the gap, counts per key add up to the input."""
    import os

    from ocr_api_spark.streaming.stream import read_pages_stream, sessionized_stream

    stream_dir = str(tmp_path / "pages_stream")
    os.makedirs(stream_dir)
    os.link(synth["pages"], os.path.join(stream_dir, "pages.parquet"))

    q = (
        sessionized_stream(read_pages_stream(session, stream_dir), gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = session.sql("select * from sessions_out").collect()
    assert rows, "no sessions produced"
    assert sum(r["docs"] for r in rows) == 120  # every event in exactly one session
    for r in rows:
        assert r["session_end"] > r["session_start"]


def test_stream_quality_gate_matches_batch(session, tmp_path):
    """Round-4 quality ops compose into Structured Streaming unchanged:
    gopher rules + canonical URL are stateless projections, so a
    readStream over the same files must emit exactly the batch result."""
    import os

    from pyspark.sql import functions as F

    from ocr_api_spark.operators.textstats import with_gopher_quality
    from ocr_api_spark.operators.weburl import with_canonical_url

    docs = session.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    src = str(tmp_path / "docs_stream")
    docs.write.parquet(src)
    schema = session.read.parquet(src).schema

    def gate(df):
        with_url = df.withColumn(
            "url", F.concat(F.lit("HTTPS://Example.com:443/d/"), F.col("doc_id"))
        )
        return with_canonical_url(with_gopher_quality(with_url)).select(
            "doc_id", "gopher_pass", "canonical_url"
        )

    out = str(tmp_path / "out")
    q = (
        session.readStream.schema(schema)
        .parquet(src)
        .transform(gate)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(map(tuple, session.read.parquet(out).collect()))
    want = sorted(map(tuple, gate(session.read.parquet(src)).collect()))
    assert got == want and len(got) == 80
    assert all(u.startswith("https://example.com/d/") for _, _, u in got)


def test_stream_dedup_on_arrival(session, synth, tmp_path):
    """Streaming exact dedup (dedup_stream): duplicate payloads arriving
    within the watermark horizon are dropped on arrival; the kept set
    matches the batch dedupe_pages fingerprint count."""
    import os

    from pyspark.sql import functions as F

    from ocr_api_spark.plans.pipeline import dedupe_pages
    from ocr_api_spark.streaming.stream import dedup_stream, read_pages_stream

    pages = session.read.parquet(synth["pages"])
    # re-deliveries: 30 rows come back with new urls, same payloads
    dupes = pages.limit(30).withColumn("url", F.concat(F.col("url"), F.lit("?recrawl")))
    stream_dir = str(tmp_path / "pages_dup")
    pages.unionByName(dupes).coalesce(1).write.parquet(stream_dir)

    out = str(tmp_path / "dedup_out")
    q = (
        dedup_stream(read_pages_stream(session, stream_dir))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = session.read.parquet(out)
    n_batch = dedupe_pages(pages.unionByName(dupes)).count()
    assert got.count() == n_batch == pages.count()
    # exactly one survivor per fingerprint
    assert got.groupBy("fingerprint").count().where(F.col("count") > 1).count() == 0


def test_masking_stream_matches_kernel(session, tmp_path):
    """masking_stream's Arrow stage must reproduce mask_aadhaar_regions
    exactly, on a batch frame AND through a real availableNow stream
    (same plan — Structured Streaming reuses the batch operator)."""
    from pyspark.sql import functions as F

    from ocr_api_spark.kernels.masking import mask_aadhaar_regions
    from ocr_api_spark.streaming.stream import masking_stream

    def box(x0, y0, x1, y1):
        return [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]

    toks = [
        ("1234 5678 9012", 0.9, box(10, 50, 250, 90)),     # masked
        ("no digits here", 0.9, box(5, 20, 80, 34)),       # regex miss
        ("2345 6789 O123", 0.9, box(12, 200, 312, 350)),   # too tall
        ("3456 7890 1234", 0.9, box(30, 400, 390, 440)),   # masked (2nd)
        ("4567 8901 2345", 0.9, box(40, 500, 340, 530)),   # stop-after-2
    ]
    expected = mask_aadhaar_regions(toks, 600, 230)

    rows = [(7, 600, 230, [{"text": t, "conf": c, "box": b} for t, c, b in toks])]
    schema = (
        "doc_id long, img_h int, img_w int, tokens array<struct<"
        "text string, conf double, box array<array<int>>>>"
    )
    df = session.createDataFrame(rows, schema)

    batch = masking_stream(df).orderBy("region_idx").collect()
    assert [
        (r["x_min"], r["y_min"], r["x_max"], r["y_max"]) for r in batch
    ] == [(e["x_min"], e["y_min"], e["x_max"], e["y_max"]) for e in expected]
    assert len(batch) == 2  # the third valid Aadhaar is NOT masked

    src = str(tmp_path / "mask_src")
    df.write.parquet(src)
    stream = (
        session.readStream.format("parquet")
        .schema(session.read.parquet(src).schema)
        .load(src)
    )
    q = (
        masking_stream(stream)
        .writeStream.format("memory")
        .queryName("mask_parity_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = session.table("mask_parity_test").orderBy("region_idx").collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def test_near_dup_stream_drops_formatting_variants(session, tmp_path):
    """near_dup_stream drops re-deliveries whose distinct-shingle minima
    agree even when md5 differs (exact dedup passes them): periodic
    boilerplate at different repeat counts shares the shingle SET.
    Unrelated docs and html-only rows survive."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from ocr_api_spark.streaming.stream import near_dup_stream, with_near_key

    period = "alpha beta gamma"
    text_a = " ".join([period] * 4)   # 12 tokens
    text_b = " ".join([period] * 2)   # 6 tokens — same distinct 3-gram set
    rows = [
        ("http://a/1", datetime(2026, 1, 1, 8, 0), text_a, b""),
        ("http://a/2", datetime(2026, 1, 1, 8, 10), text_b, b""),
        ("http://b/1", datetime(2026, 1, 1, 8, 5), "totally different words here now", b""),
        ("http://c/1", datetime(2026, 1, 1, 8, 6), "", b"<html>only payload</html>"),
    ]
    pages = session.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, html binary"
    )

    # batch sanity: the near keys of A and B agree, their md5s (the
    # exact-dedup fingerprint) do not — so exact dedup would keep both
    keys = {
        r["url"]: r["near_key"]
        for r in with_near_key(pages).select("url", "near_key").collect()
    }
    assert keys["http://a/1"] == keys["http://a/2"]
    assert len({keys[u] for u in keys}) == 3
    md5s = {r["url"]: r["m"] for r in pages.select("url", F.md5("text").alias("m")).collect()}
    assert md5s["http://a/1"] != md5s["http://a/2"]

    src = str(tmp_path / "near_src")
    pages.coalesce(1).write.parquet(src)
    stream = (
        session.readStream.format("parquet")
        .schema(session.read.parquet(src).schema)
        .load(src)
    )
    out = str(tmp_path / "near_out")
    q = (
        near_dup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "near_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = session.read.parquet(out)
    assert got.count() == 3
    # exactly one of the periodic pair survives; the others all do
    assert got.where(F.col("url").startswith("http://a/")).count() == 1
    assert got.where(F.col("url") == "http://b/1").count() == 1
    assert got.where(F.col("url") == "http://c/1").count() == 1


def test_near_dup_keyless_rows_pass_through(session):
    """ADVICE r7: rows with no text shingles AND null html must NOT
    collapse onto one shared key (distinct empty-payload docs were
    silently deduplicated) — each keys on its own url instead."""
    from datetime import datetime

    from ocr_api_spark.streaming.stream import with_near_key

    rows = [
        ("http://empty/1", datetime(2026, 1, 1, 8, 0), "", None),
        ("http://empty/2", datetime(2026, 1, 1, 8, 1), "", None),
        ("http://empty/3", datetime(2026, 1, 1, 8, 2), None, None),
    ]
    pages = session.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, html binary"
    )
    keys = [r["near_key"] for r in with_near_key(pages).select("near_key").collect()]
    assert len(set(keys)) == 3, keys  # per-row unique, nothing shared
    assert "" not in keys


def test_near_key_equals_minhash_signatures(session):
    """with_near_key's k min-hashes are minhash_signatures_arr's: for
    every document with shingles, near_key is "|".join(mh0..mh3)."""
    from pyspark.sql import functions as F

    from ocr_api_spark.operators.dedup import minhash_signatures_arr
    from ocr_api_spark.streaming.stream import with_near_key

    short = session.createDataFrame(
        [(-1, "two words"), (-2, "one"), (-3, ""), (-4, None)], "doc_id long, text string"
    )
    docs = (
        session.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .unionByName(short)
    )
    pages = docs.withColumn("url", F.col("doc_id").cast("string")).withColumn(
        "html", F.lit(None).cast("binary")
    )
    keys = dict(map(tuple, with_near_key(pages).select("doc_id", "near_key").collect()))
    sigs = {
        r["doc_id"]: "|".join(r[f"mh{j}"] for j in range(4))
        for r in minhash_signatures_arr(docs, "text", 3, 4).collect()
    }
    assert len(sigs) >= 500 and -1 in sigs and -2 in sigs
    assert -3 not in sigs and -4 not in sigs  # no shingles, no signature
    assert {d: keys[d] for d in sigs} == sigs
