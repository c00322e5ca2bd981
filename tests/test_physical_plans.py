"""Physical-plan shape assertions (the scale contract, SURVEY.md §4):

- predicate pushdown reaches the parquet scan (PushedFilters)
- column pruning: the scan's ReadSchema excludes unused payload columns
- dim joins broadcast (BroadcastHashJoin, no shuffle exchange on the dim)
- the extraction pipeline has exactly ONE ArrowEvalPython stage (fused)
- a resumed run prunes completed buckets at the scan (filter above
  the source, not post-extraction)
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="plan-tests", master="local[2]", shuffle_partitions=2)


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_and_pruning(session):
    from pyspark.sql import functions as F

    li = session.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = explain_str(q)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" not in read_schema  # pruned
    assert "l_orderkey" in read_schema


def test_dim_join_broadcasts(session):
    import __spark_entry__ as entry

    plan = explain_str(entry.queries()["broadcast_dim_join"](session, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extraction_plan_single_arrow_stage(session, tmp_path):
    import os

    from ocr_api_spark.plans.pipeline import extraction_plan
    from ocr_api_spark.sources.pages import write_pages
    from ocr_api_spark.streaming.stream import extraction_stream, read_pages_stream

    paths = write_pages(str(tmp_path), n_rows=50, seed=11)
    pages = session.read.parquet(paths["pages"])
    claims = session.read.parquet(paths["claims"])
    plan = explain_str(extraction_plan(pages, claims, 8, 2, n_parts=4))
    # formatted explain prints each node once in the tree ("+- ArrowEvalPython (9)")
    # and once in the detail section ("(9) ArrowEvalPython") — count details
    assert plan.count(") ArrowEvalPython") == 1, plan
    assert "BroadcastHashJoin" in plan
    # the html payload only feeds the Arrow stage; the scan must not be
    # pruned of it (needed) but the sink projection must not carry it
    assert "Exchange" in plan  # the (bucket, salt) repartition

    # the stream runs the same single fused stage, with and without claims
    stream_dir = tmp_path / "pages_stream"
    os.makedirs(stream_dir)
    os.link(paths["pages"], stream_dir / "pages.parquet")
    pages_stream = read_pages_stream(session, str(stream_dir))
    for claims_static in (claims, None):
        plan = explain_str(extraction_stream(pages_stream, claims_static))
        assert plan.count(") ArrowEvalPython") == 1, plan
    plan = explain_str(extraction_plan(pages, None, 8, 2, n_parts=4))
    assert plan.count(") ArrowEvalPython") == 1, plan


def test_extraction_plan_prebucketed_shuffle_free(session, tmp_path):
    """The production posture (input already laid out by url-hash bucket
    — Iceberg PARTITIONED BY (bucket) — claims broadcast): with
    ``n_parts=None`` the plan has NO shuffle exchange at all.
    with_bucket re-derives the partition value as a projection; the
    only exchange is the claims BroadcastExchange.  This is the shape
    BENCH/r7/ab_prebucketed measures for scaling."""
    from ocr_api_spark.plans.pipeline import extraction_plan
    from ocr_api_spark.sources.pages import write_pages

    paths = write_pages(str(tmp_path), n_rows=50, seed=13)
    pages = session.read.parquet(paths["pages"])
    claims = session.read.parquet(paths["claims"])
    plan = explain_str(extraction_plan(pages, claims, 8, 2, n_parts=None))
    assert plan.count(") ArrowEvalPython") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert ") Exchange" not in plan, plan  # no shuffle; broadcast prints as "BroadcastExchange"
    assert "BroadcastExchange" in plan


def test_resume_filter_is_on_scan_side(session, tmp_path):
    """The bucket filter applied on re-run must sit below the UDF stage
    (cheap pre-extraction pruning), not above it."""
    from pyspark.sql import functions as F

    from ocr_api_spark.plans.pipeline import with_bucket
    from ocr_api_spark.sources.pages import write_pages

    paths = write_pages(str(tmp_path), n_rows=50, seed=12)
    pages = with_bucket(session.read.parquet(paths["pages"]), 8).filter(~F.col("bucket").isin([0, 1]))
    plan = explain_str(pages)
    assert "ArrowEvalPython" not in plan  # pure scan+filter, no UDF involved
    assert "Filter" in plan


def test_simhash_is_pure_projection_no_shuffle(session):
    """The rewritten simhash64 folds the bit votes inside one
    higher-order aggregate: one row per doc, NO explode, NO Exchange —
    at 100 TB it runs entirely map-side."""
    from ocr_api_spark.operators.dedup import simhash64

    docs = session.read.parquet(f"{SF}/documents.parquet")
    plan = explain_str(simhash64(docs, "text"))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan  # JVM only


def test_ivf_assign_is_pure_projection(session):
    """Centroid assignment is a JVM-side projection — the inverted-list
    column exists without any shuffle, so it can drive partition-pruned
    probes at scale."""
    from ocr_api_spark.operators.ivf import ivf_assign

    emb = session.read.parquet(f"{SF}/embeddings.parquet")
    centroids = [[float(j == d) for d in range(64)] for j in range(4)]
    plan = explain_str(ivf_assign(emb, centroids))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivf_probe_prunes_before_rerank(session):
    """The probe filter must sit below the top-k sort: only the probed
    inverted lists are re-ranked."""
    from ocr_api_spark.operators.ivf import ivf_assign, ivf_topk

    emb = session.read.parquet(f"{SF}/embeddings.parquet")
    centroids = [[float(j == d) for d in range(64)] for j in range(4)]
    q = [1.0] + [0.0] * 63
    plan = explain_str(ivf_topk(ivf_assign(emb, centroids), centroids, q, 5, n_probe=2))
    assert "TakeOrderedAndProject" in plan
    assert "Filter" in plan
    # the filter node must appear deeper in the tree than the top-k node
    assert plan.index("TakeOrderedAndProject") < plan.index("Filter")


def test_lsh_band_join_is_single_join(session):
    """All bands ride ONE posexplode frame and ONE (band, band_sig)
    self-join — k per-band joins would shuffle the signature table k
    times for the same row volume (round-3 refactor)."""
    from ocr_api_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures_arr

    docs = session.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures_arr(docs, "text", n=3, k=8)
    import re

    plan = explain_str(lsh_candidate_pairs(sigs, [(0, 1), (2, 3), (4, 5), (6, 7)]))
    # formatted explain lists each operator once in the numbered details
    joins = re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert len(joins) == 1, plan
    assert "Union" not in plan, plan
    # r8: each join side = shingle explode (minhash_signatures_arr's
    # codegen form) + band posexplode — 4 Generates, still ONE join
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 4


def test_near_dup_auto_single_band_has_one_join(session):
    from ocr_api_spark.operators.similarity import near_dup_pairs

    emb = session.read.parquet(f"{SF}/embeddings.parquet")
    import re

    plan = explain_str(near_dup_pairs(emb, 0.35, bits=8))
    joins = re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert len(joins) == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan  # JVM only


def test_near_dup_join_keys_on_bucket_and_degrades_to_shuffle(session):
    """The 100-TB shape guard (VERDICT r3 task 7): the candidate join
    must be an equi-join KEYED ON the LSH bucket, and when the build
    side outgrows the broadcast threshold the planner must degrade to a
    shuffle join on the same key — never BroadcastNestedLoop/cartesian,
    which would be all-pairs at corpus scale."""
    import re

    from ocr_api_spark.operators.similarity import near_dup_pairs

    emb = session.read.parquet(f"{SF}/embeddings.parquet")
    plan = explain_str(near_dup_pairs(emb, 0.35, bits=8))
    m = re.search(r"\(\d+\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)([^\n]*)\n((?:.*\n)*?)\n", plan)
    assert m, plan
    # the equi-join condition carries the bucket key
    join_block = plan[m.start() : m.start() + 2000]
    assert re.search(r"\bbucket\b", join_block), join_block

    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_nb = explain_str(near_dup_pairs(emb, 0.35, bits=8))
    finally:
        session.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "BroadcastNestedLoopJoin" not in plan_nb, plan_nb
    assert "CartesianProduct" not in plan_nb, plan_nb
    shuffles = re.findall(r"\(\d+\) (SortMergeJoin|ShuffledHashJoin)", plan_nb)
    assert len(shuffles) == 1, plan_nb
    assert "BroadcastHashJoin" not in plan_nb, plan_nb


def test_substring_dedup_no_python_no_cartesian(session):
    """Exact-substring dedup (Lee et al. family): the whole pipeline —
    window frame, md5, corpus-wide count, islands merge — stays JVM-side
    (no Arrow/Python stage), and the join back from the duplicate-hash
    set is a keyed equi-join, never a cartesian product."""
    import __spark_entry__ as entry

    plan = explain_str(entry.queries()["doc_substring_dedup"](session, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # the rolling-window frame


def test_substring_dedup_winnow_single_doc_shuffle(session):
    """Winnow mode adds two window passes (argmin + lag) over the SAME
    doc-keyed sort as the hash window — it must not introduce a Python
    stage, a cartesian, or an extra doc-keyed exchange: the plan has as
    many exchanges on the doc column as the exact operator's."""
    import re

    from pyspark.sql import functions as F

    from ocr_api_spark.operators.dedup import duplicated_substring_spans

    docs = (
        session.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("doc_id") < 50)
        .select("doc_id", "text")
    )
    plan = explain_str(duplicated_substring_spans(docs, window=8, winnow=4))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # same doc-keyed exchange count as the exact operator: the argmin +
    # lag passes ride the hash window's existing sort
    base_plan = explain_str(duplicated_substring_spans(docs, window=8))
    n_doc_ex = len(re.findall(r"hashpartitioning\(doc_id", plan))
    n_doc_ex_base = len(re.findall(r"hashpartitioning\(doc_id", base_plan))
    assert n_doc_ex == n_doc_ex_base, (n_doc_ex, n_doc_ex_base, plan)


def test_ivfpq_topk_pure_projection(session):
    """IVFADC search is a scan of the code columns → literal when-chain
    projection → TakeOrderedAndProject: no Python stage, no shuffle
    exchange, no join — the raw vectors never load at search time."""
    import __spark_entry__ as entry

    plan = explain_str(entry.queries()["emb_ivfpq_topk"](session, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert ") Exchange" not in plan, plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_customer_activity_keeps_both_join_shapes(session):
    """The round-5 merged row must still EXECUTE a semi join and an
    anti join — folding the queries must not have degraded either to a
    different join type."""
    import __spark_entry__ as entry

    plan = explain_str(entry.queries()["customer_order_activity"](session, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_hll_estimate_single_pass_aggregates(session):
    """The estimator is constant-size driver arithmetic over two global
    aggregates — no Python stage, no join wider than the 1x1 cross of
    the two single-row aggregate results."""
    import __spark_entry__ as entry

    plan = explain_str(entry.retired_queries()["sketch_hll_estimate"](session, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan
