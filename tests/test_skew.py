"""Skew machinery tests: the two-phase salted aggregate equals the
plain aggregate, and AQE splits a skewed band join."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="skew-tests", master="local[4]", shuffle_partitions=8)


@pytest.fixture(scope="module")
def skewed_pages(session):
    # host0 owns 60% of urls, host1 20%, the rest spread over 20 hosts
    rows = []
    for i in range(1000):
        if i < 600:
            h = "host0.example"
        elif i < 800:
            h = "host1.example"
        else:
            h = f"host{2 + i % 20}.example"
        rows.append((f"https://{h}/p/{i}", float(i)))
    return session.createDataFrame(rows, "url string, value double")


def test_salted_agg_equals_plain_agg(session, skewed_pages):
    from pyspark.sql import functions as F

    from ocr_api_spark.plans.skew import salted_host_agg

    # the salt rule of __spark_entry__._salted_source_stats, on the url
    salted = skewed_pages.select(
        F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host"),
        "value",
        F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("salt"),
    )
    two_phase = salted_host_agg(
        salted, [F.count("*").alias("n"), F.sum("value").alias("sum_value")]
    )
    plain = (
        salted.groupBy("host")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    a = {r["host"]: (r["n"], r["sum_value"]) for r in two_phase.collect()}
    b = {r["host"]: (r["n"], r["sum_value"]) for r in plain.collect()}
    assert a == b


def _spark_major() -> int:
    import pyspark

    return int(pyspark.__version__.split(".")[0])


@pytest.mark.skipif(
    _spark_major() != 4,
    reason="asserts Spark 4.x executed-plan strings ('skew=true', "
    "'AQEShuffleRead skewed'); re-pin the substrings after an upgrade — "
    "skew splitting itself is version-independent (review r7)",
)
def test_lsh_band_join_aqe_skew_split(session):
    """r5 verdict #5: a pathologically hot band bucket (under any cap,
    or uncapped) must be handled by AQE skew-join splitting, not one
    straggler task.  Plants one band_sig shared by 1,500 docs among
    2,000 unique ones, runs the band self-join as a sort-merge join
    with test-scale skew thresholds, and asserts (a) the executed
    adaptive plan actually split the skewed partition (skew=true in the
    final SMJ), (b) pair counts are exact despite the split."""
    from pyspark.sql import functions as F

    from ocr_api_spark.operators.dedup import lsh_candidate_pairs

    confs = {
        # force SMJ: a broadcast band join can't show skew handling
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # test-scale thresholds: the hot bucket is ~tens of KB, not
        # the production 256 MB default
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        # keep AQE from coalescing everything into one partition first
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: session.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            session.conf.set(k, v)
        hot, uniq = 400, 2000
        sigs = session.range(hot + uniq).select(
            F.col("id").alias("doc_id"),
            # mh0/mh1 identical for the hot cluster, unique elsewhere
            F.when(F.col("id") < hot, F.lit("HOT")).otherwise(
                F.col("id").cast("string")
            ).alias("mh0"),
            F.when(F.col("id") < hot, F.lit("HOT")).otherwise(
                F.col("id").cast("string")
            ).alias("mh1"),
        )
        pairs = lsh_candidate_pairs(sigs, [(0, 1)], max_bucket_size=None)
        n = pairs.count()
        assert n == hot * (hot - 1) // 2  # exact despite the split

        # the same band self-join shape at realistic row widths (a
        # banded row in production carries more than a 3-char sig: ids,
        # band index, signature hex), WITHOUT the pair-dedup distinct
        # whose extra exchange hides the SMJ in the final plan string.
        # The pad must be INCOMPRESSIBLE per-row entropy AND survive
        # into the join output: skew detection reads compressed
        # map-output sizes, so a constant pad (or the tiny repeated
        # "HOT" sigs alone) lz4-compresses the hot partition back under
        # the threshold, and a pad the final projection drops is pruned
        # out of the shuffle entirely — byte-size is the decision
        # input, which is the point of the rule.
        banded = sigs.select(
            "doc_id",
            F.concat_ws("|", "mh0", "mh1").alias("band_sig"),
            F.concat(
                *[F.sha2(F.concat(F.col("mh0"), F.col("doc_id").cast("string"), F.lit(str(i))), 512) for i in range(2)]
            ).alias("pad"),
        )
        sig_join = (
            banded.alias("l")
            .join(banded.alias("r"), "band_sig")
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .select("band_sig", F.col("l.doc_id"), F.col("r.doc_id"), F.col("l.pad"))
        )
        # collect() on the SAME DataFrame so queryExecution holds the
        # FINAL adaptive plan (count() spawns its own execution whose
        # plan string still reads isFinalPlan=false)
        assert len(sig_join.collect()) == hot * (hot - 1) // 2
        executed = sig_join._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed[:2000]
        assert "AQEShuffleRead skewed" in executed
    finally:
        for k, v in old.items():
            if v is None:
                session.conf.unset(k)
            else:
                session.conf.set(k, v)
