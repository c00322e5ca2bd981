"""Deduplication operators (training-data-pipeline tier).

Each operator has one engine; none takes a switch between algorithms.

- exact:   ``content_fingerprint`` is the one page fingerprint (batch
           ``dedupe_pages`` and streaming ``dedup_stream`` both key on
           it); md5-fingerprint groupBy is one shuffle on the hash, with
           map-side partial aggregation free via AQE.
- minhash: ``minhash_signatures_arr``: word n-gram shingles → k
           independent min-hashes built from md5(seed || shingle)
           (string min is engine-portable) → LSH bands → candidate
           pairs from band-bucket joins.  At 100 TB the band join is the
           only shuffle and its key space (band signatures) is
           high-cardinality, so it partitions evenly.
- n-gram jaccard: exact similarity over distinct shingles.
           ``near_duplicates`` scores each LSH candidate pair directly
           (``array_intersect`` of the two docs' shingle arrays), so its
           cost is linear in the pairs.  ``ngram_jaccard_pairs`` scores
           every pair sharing a shingle — quadratic in cluster size, so
           only ever applied to a bounded subset, never the full corpus.
- simhash: 64-bit bit-majority signature from md5(shingle), computed as
           ONE higher-order `aggregate` over the shingle array — one row
           per doc, no per-bit explode (a 1,000-shingle doc stays one
           row instead of 64k), and md5 makes it engine-portable so the
           driver oracle is an exact DuckDB check.  Hamming bands (four
           16-bit prefixes of the signature) are the near-dup candidate
           key.
- clusters: ``connected_components`` labels every doc with the smallest
           id of its near-dup component (small-star/large-star, Kiveris
           et al. 2014).
- substrings: ``duplicated_substring_spans`` flags verbatim repeated
           token spans (Lee et al. 2021), optionally over MOSS winnowing
           selections (Schleimer et al. 2003).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _shingle_array(text_col: str, n: int, distinct: bool = True):
    """Word n-gram shingle array (ordered; optionally distinct, empties
    filtered) — THE shingle definition every operator and every DuckDB
    oracle shares; change it here and nowhere else.

    Built as n-1 chained ``zip_with`` concats over shifted slices, NOT a
    ``transform`` over start indices: a lambda that captures the split
    array re-evaluates the whole split per element (Spark evaluates
    higher-order lambdas interpreted, inlining the captured chain), which
    measured O(words²·len) on long documents.  zip_with inputs are plain
    child expressions, evaluated once per row per level.  Null-padding of
    the shorter slice is folded like concat_ws (skip), so short documents
    produce the same single partial shingle as before."""
    words = F.split(F.col(text_col), " ")
    m = F.greatest(F.size(words) - n, F.lit(0)) + 1
    shingles = F.slice(words, 1, m)
    for i in range(1, n):
        shingles = F.zip_with(
            shingles,
            F.slice(words, i + 1, m),
            lambda a, b: F.when(b.isNull(), a).otherwise(F.concat(a, F.lit(" "), b)),
        )
    if distinct:
        shingles = F.array_distinct(shingles)
    return F.filter(shingles, lambda s: F.length(s) > 0)


def content_fingerprint():
    """The exact-dedup key of a page row: md5 of its ``text`` payload,
    else of its raw ``html`` bytes (an empty text counts as absent), else
    of the empty string."""
    return F.md5(
        F.coalesce(F.nullif(F.col("text"), F.lit("")), F.col("html").cast("string"), F.lit(""))
    )


def exact_duplicate_stats(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """rows vs distinct fingerprints per group — the exact-dedup report."""
    return (
        df.withColumn("fingerprint", F.md5(F.col(text_col)))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("rows"),
            F.countDistinct("fingerprint").cast("bigint").alias("distinct_texts"),
        )
    )


def minhash_signatures_arr(
    df: DataFrame, text_col: str, n: int, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """k min-hashes per doc, starting from the text column: column
    ``mh{j}`` is the minimum over the doc's distinct word ``n``-gram
    shingles of ``md5(j || ':' || shingle)``.  Taking the MIN of the hex
    string is a valid min-hash (uniform order) and is bit-identical
    across Spark and DuckDB.  Min is multiplicity-blind, so the in-row
    distinct is skipped.  Docs with no shingles produce no rows.

    r8 shape (guide §4.1 applied to the JVM: codegen over interpreted):
    the former pure-projection form (``array_min`` over a ``transform``
    per seed) evaluated k×n_shingles md5s through INTERPRETED
    higher-order lambdas — measured 4.6 s for 50k docs × k=8 at sf1.0.
    This form explodes the shingle array and computes the k md5s in a
    whole-stage-codegen'd projection, then takes the k mins with a
    map-side-combined hash aggregate — 1.16 s on the same input,
    bit-identical output.  The added exchange carries one partially-
    aggregated row per (doc × map partition) — ~32 hex strings × k — so
    at 10^12 docs the shuffle is ∝ doc count, not shingle count; the
    4× per-byte compute win dominates at every scale.

    Precondition: ``id_col`` is unique per document.  It is not checked
    (a check costs a Spark job per call).  Rows that share an id get one
    signature, over the union of their shingles."""
    sh = df.select(
        F.col(id_col), F.explode(_shingle_array(text_col, n, distinct=False)).alias("__s")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("__s")))).alias(f"mh{j}") for j in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: list[tuple[int, ...]],
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Docs sharing any band signature.  ``bands`` lists the mh indices in
    each band, e.g. [(0,1),(2,3)].

    **Scale contract (round-2 verdict #3): run exact dedup first.**  A
    cluster of c byte-identical docs shares every band signature, so the
    band self-join emits c(c-1)/2 pairs per band — million-copy
    boilerplate clusters in real corpora make that quadratic blowup
    fatal.  Either feed this operator exact-deduped input (for pages,
    ``plans.pipeline.dedupe_pages``), or set ``max_bucket_size`` (as
    ``near_duplicates`` does): band buckets larger than the cap are
    dropped from the join entirely (their members stay eligible through
    their other bands) and the drop is logged with bucket counts.  A
    dropped bucket of size c is exactly the degenerate case: near-certain
    duplicates that exact dedup should have removed — capping bounds
    per-bucket join work at cap², keeping the band join linear-ish in
    practice."""
    import logging

    # ALL bands ride one exploded frame and ONE self-join on
    # (band, band_sig) — k per-band joins would shuffle the signature
    # table k times for the same total row volume
    sig_exprs = [
        F.concat_ws("|", *[F.col(f"mh{i}") for i in cols]) for cols in bands
    ]
    banded = signatures.select(
        F.col(id_col), F.posexplode(F.array(*sig_exprs)).alias("band", "band_sig")
    )
    if max_bucket_size is not None:
        # r8 (guide §2.4): bucket sizes from a map-side-combined
        # aggregate on the SAME key the join uses, persisted once — the
        # old form ran a sort-based window count over the banded table
        # and, because the governance log is collected eagerly, paid
        # that full window pass TWICE (once for the log action, once
        # when the pairs plan executed).  The counts table is one row
        # per distinct band signature; the drop log is derived from it
        # with identical values (bucket count = rows of the oversized
        # slice, row count = sum of their sizes), and the governance
        # filter becomes a keyed equi-join that the self-join's
        # partitioning requirement absorbs.  NOT persisted (review r8):
        # an operator-internal persist can never be unpersisted at the
        # right time and pins cache for the session per call; the
        # recompute it would save is one map-side-combined aggregate
        # over the (usually caller-cached) signature table, measured
        # free in the bench flow (11.1 vs 11.6 s — noise).
        counts = banded.groupBy("band", "band_sig").agg(F.count(F.lit(1)).alias("__bn"))
        drops = (
            counts.where(F.col("__bn") > max_bucket_size)
            .groupBy("band")
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.sum("__bn").cast("bigint").alias("n_rows"),
            )
        )
        for row in drops.collect():  # bounded: one row per band
            logging.getLogger(__name__).warning(
                "lsh_candidate_pairs: band %d dropped %d oversized bucket(s) "
                "(%d rows > max_bucket_size=%d) — run exact dedup first",
                row["band"], row["n_buckets"], row["n_rows"], max_bucket_size,
            )
        ok = counts.where(F.col("__bn") <= max_bucket_size).select("band", "band_sig")
        banded = banded.join(ok, ["band", "band_sig"])
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, ["band", "band_sig"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, n: int, id_col: str = "doc_id") -> DataFrame:
    """Exact jaccard over distinct word n-grams for every id pair that
    shares at least one shingle.  Apply to bounded subsets only.

    r8 shape, chosen by A/B IN THE CALLING CONTEXT (guide §1.1 — the
    "ideal" plan lost to the gotcha): each doc's distinct-shingle count
    rides ON the exploded shingle rows (``size`` of the in-row distinct
    array — identical value to the old ``groupBy(id).count()``), so the
    former separate ``sizes`` pass and its two joins are gone and the
    operator references its input exactly once per join side (one
    ReusedExchange).  A "narrower-shuffle" variant (pair aggregate
    carrying only the count, sizes attached via two broadcast joins)
    measured 1.8× FASTER on pre-cached inputs — and 4× SLOWER inside
    the real dedup flow (41.3 vs 9.9 s at sf1.0), because each
    broadcast exchange re-evaluates the operator's input subtree, and
    the real input (docs ⋈ LSH-candidate ids) is expensive to
    recompute.  min(n_a/n_b) equals that doc's one size (every row of a
    pair group carries it under unique ids).  Output rows/values are
    bit-identical to the pre-r8 operator.

    Precondition: ``id_col`` is unique per document.  It is not checked
    (a check costs a Spark job per call).  Rows that share an id still
    give one output row per id pair, and its value does not depend on
    row order or partitioning, but it is not a Jaccard: ``overlap``
    counts the shared shingles of every row under the id, and ``n_a``/
    ``n_b`` is the ``F.min`` of those rows' shingle counts, so the
    value can exceed 1.  When the rows are exact copies the denominator
    can reach 0, which raises DIVIDE_BY_ZERO under ANSI mode."""
    sh = df.select(F.col(id_col), _shingle_array(text_col, n).alias("__sh")).select(
        id_col,
        F.size("__sh").cast("bigint").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, "shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(
            F.count("*").cast("bigint").alias("overlap"),
            F.min("a.n_sh").alias("n_a"),
            F.min("b.n_sh").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("overlap") / (F.col("n_a") + F.col("n_b") - F.col("overlap")), 4).cast("double"),
        )
        .select("id_a", "id_b", "overlap", "jaccard")
    )


# the near-dup flow's parameters: every caller runs the same flow
SHINGLE_N = 3
MINHASH_K = 8
LSH_BANDS = ((0, 1), (2, 3), (4, 5), (6, 7))
LSH_MAX_BUCKET = 64
JACCARD_MIN = 0.8


def near_duplicates(docs: DataFrame, out_path: str) -> dict:
    """The near-dup flow over ``docs`` (``doc_id``, ``text``): MinHash
    signatures → capped LSH candidate pairs → each pair verified by the
    exact Jaccard of its two docs' distinct word 3-gram sets (the
    ``ngram_jaccard_pairs`` value).  Writes the pairs with Jaccard ≥
    ``JACCARD_MIN`` to ``out_path`` as parquet ``(id_a, id_b, overlap,
    jaccard)`` and returns ``{"candidates": …, "verified": …}``.

    Verification joins each pair to both docs' shingle arrays and takes
    ``size(array_intersect)``: O(pairs × shingles), where scoring every
    pair that shares a shingle costs the sum over shingles of the
    squared document frequency — which exact-copy clusters under the
    LSH cap make quadratic.

    Signatures and pairs are cached for this call only (the capped LSH
    reads the signatures twice, the count and the write read the pairs)
    and unpersisted before it returns.

    Precondition: ``doc_id`` is unique per document.  It is not checked
    (a check costs a Spark job per call).  Rows that share an id get one
    signature, over the union of their shingles, and a pair is scored
    once per combination of its ids' rows."""
    sh = docs.select("doc_id", _shingle_array("text", SHINGLE_N).alias("sh"))
    overlap = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    union = F.size("sh_a") + F.size("sh_b") - F.col("overlap")
    jaccard = F.round(F.col("overlap") / union, 4).cast("double")
    sigs = minhash_signatures_arr(docs, "text", SHINGLE_N, MINHASH_K).cache()
    try:
        pairs = lsh_candidate_pairs(sigs, LSH_BANDS, max_bucket_size=LSH_MAX_BUCKET).cache()
        try:
            n_candidates = pairs.count()
            (
                pairs.join(sh.toDF("id_a", "sh_a"), "id_a")
                .join(sh.toDF("id_b", "sh_b"), "id_b")
                .select("id_a", "id_b", "sh_a", "sh_b", overlap.alias("overlap"))
                .select("id_a", "id_b", "overlap", jaccard.alias("jaccard"))
                .where(F.col("jaccard") >= JACCARD_MIN)
                .write.parquet(out_path)
            )
        finally:
            pairs.unpersist()
    finally:
        sigs.unpersist()
    n_verified = docs.sparkSession.read.parquet(out_path).count()
    return {"candidates": n_candidates, "verified": n_verified}


def winnowing_fingerprints(
    df: DataFrame, text_col: str, k: int = 3, w: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS scheme): ordered word k-gram hashes → min of every w-length
    sliding window → distinct selected hashes.  Guarantees any shared
    run of ≥ w+k-1 words between two documents shares a fingerprint.

    All JVM-side array expressions — one row per doc until the final
    explode, NO shuffle.  The 60-bit hash is the first 15 hex chars of
    md5 (engine-portable: DuckDB reproduces it with ('0x'||…)::BIGINT).
    Documents shorter than w windows contribute their single global
    min; empty docs contribute nothing.

    Shape note: computed as posexplode + a codegen'd SQL window min
    (ROWS BETWEEN CURRENT AND w-1 FOLLOWING) — one shuffle keyed by the
    high-cardinality doc id.  Every array-expression formulation was
    measured SUPERLINEAR on long documents (Spark evaluates
    higher-order lambdas interpreted, and inlining re-evaluates the
    hash chain per window position), while the window form is linear
    and whole-stage-generated; at 10^12 docs a linear doc-keyed shuffle
    beats a quadratic projection.  This is also exactly the DuckDB
    oracle's shape."""
    from pyspark.sql.window import Window

    sh = df.select(
        id_col,
        F.posexplode(_shingle_array(text_col, k, distinct=False)).alias("__pos", "__shingle"),
    ).withColumn("__h", F.conv(F.substring(F.md5("__shingle"), 1, 15), 16, 10).cast("long"))
    part = Window.partitionBy(id_col)
    win = part.orderBy("__pos").rowsBetween(0, w - 1)
    out = sh.select(
        id_col,
        F.min("__h").over(win).alias("fingerprint"),
        F.col("__pos"),
        F.count("*").over(part).alias("__n"),
    )
    # valid window starts: pos <= n-w; short docs keep the single
    # truncated window at pos 0 (min over all < w hashes)
    return (
        out.where((F.col("__pos") <= F.col("__n") - w) | ((F.col("__n") < w) & (F.col("__pos") == 0)))
        .select(id_col, "fingerprint")
        .distinct()
    )


def _hex_digit_bits(h, b):
    """Bit ``b`` (0..63, MSB-first within each hex digit) of the 16-hex-char
    string ``h``.  Integer-only arithmetic so the identical formula runs in
    DuckDB: digit = hex char at b//4, bit = (digit % (2*w)) >= w with
    w = 2^(3 - b%4)."""
    digit = F.conv(F.substring(h, (b / 4).cast("int") + 1, 1), 16, 10).cast("int")
    weight = (
        F.when(b % 4 == 0, 8).when(b % 4 == 1, 4).when(b % 4 == 2, 2).otherwise(1)
    )
    return (digit % (weight * 2) >= weight).cast("int")


def simhash64(df: DataFrame, text_col: str, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash as ONE row per doc, no row blowup: distinct word
    n-gram shingles → md5 per shingle (once) → per-bit ±1 majority vote
    folded inside a single higher-order ``aggregate`` over the shingle
    array.  Ties (vote == 0) resolve to bit 0.

    Output: ``simhash`` is the 64-char '0'/'1' string (MSB first over the
    md5's first 16 hex chars) and ``band0``..``band3`` are its four
    16-bit Hamming bands — group on a band to get near-dup candidates.
    md5 is engine-portable, so the whole signature is DuckDB-oracleable."""
    hexes = F.transform(
        _shingle_array(text_col, n), lambda s: F.substring(F.md5(s), 1, 16)
    )
    votes = F.aggregate(
        hexes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(F.sequence(F.lit(0), F.lit(63)), lambda b: _hex_digit_bits(h, b)),
            lambda a, bit: a + bit * 2 - 1,
        ),
    )
    bitstr = F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )
    out = df.select(id_col, bitstr.alias("simhash"))
    for i in range(4):
        out = out.withColumn(f"band{i}", F.substring("simhash", 16 * i + 1, 16))
    return out


def repeated_paragraphs(
    df: DataFrame,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style corpus-wide paragraph dedup (Raffel et al. 2020 §2.2
    removed any three-sentence span occurring more than once): explode
    documents into newline paragraphs, md5 them, and return every
    (doc, paragraph) whose hash occurs ≥ ``min_occurrences`` times
    across the corpus — the rows a cleaning pass blanks out.

    Shape at scale: one explode + one hash-keyed aggregate with
    map-side combine, then a semi-style join back on the hash — the
    same skeleton as exact doc dedup, one level finer.  Returns
    (doc_id, para_idx, para_hash, n_occurrences)."""
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("para_idx", "para"),
    ).where(F.length(F.trim(F.col("para"))) > 0)
    hashed = paras.select(
        id_col, "para_idx", F.md5(F.col("para")).alias("para_hash")
    )
    counts = (
        hashed.groupBy("para_hash")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_occurrences)
    )
    return hashed.join(counts, "para_hash").select(
        id_col, "para_idx", "para_hash", "n_occurrences"
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "doc_id",
    max_iters: int = 30,
) -> DataFrame:
    """Cluster near-dup pairs into components — the step between pair
    generation and "keep one doc per cluster" that an actual dedup run
    needs.  Returns ``(node_col, cluster_id)``, one row per distinct
    node: ``cluster_id`` is the smallest id in the node's component.
    Nodes absent from every pair keep themselves as singletons
    (``cluster_id = doc_id``), and pairs that reference ids absent from
    ``nodes`` connect nothing.

    Engine: alternating large-star/small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond").  Each round,
    large-star hangs every neighbor larger than a node off the
    neighborhood minimum, then small-star re-hangs the smaller ones;
    components contract onto their minimum in O(log n) rounds whatever
    their diameter (a 100-node chain converges within 8).  Convergence
    = the edge set is stable AND already star-shaped (no edge's root is
    another edge's child), both checked, never assumed; ``max_iters``
    rounds without it raise ``ValueError``.  Every round's frame is
    localCheckpoint'd: the exceptAll fixpoint test would otherwise
    double the lineage each iteration."""
    # an edge through an id missing from ``nodes`` must not join two
    # real nodes: restrict edges to the node universe before contracting
    universe = nodes.select(F.col(node_col).alias("__n")).distinct()
    raw = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    raw = raw.join(universe, raw["src"] == universe["__n"], "left_semi")
    raw = raw.join(universe, raw["dst"] == universe["__n"], "left_semi")
    e = (
        raw.where(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # large-star over the symmetric neighborhood: m = min(N(u) ∪ u),
        # every neighbor v > u re-attaches as (v, m)
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        # (no self-loop filter needed: the new edge is (old v, m) with
        # m <= old u < old v, so its endpoints always differ)
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the (larger → smaller) orientation: every
        # strictly-smaller neighbor and the center re-attach to the min
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .unionByName(mins2.select(F.col("u").alias("n"), F.col("m")))
            .where(F.col("n") != F.col("m"))
            .select(F.greatest("n", "m").alias("u"), F.least("n", "m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        stable = small.exceptAll(e).count() == 0 and e.exceptAll(small).count() == 0
        e = small
        # star-shape check only when the edge set stopped moving — on
        # intermediate rounds it cannot be decisive, so evaluating it
        # would waste one join+count action per round (review r5)
        if stable and (
            small.alias("a").join(small.alias("b"), F.col("a.v") == F.col("b.u"), "left_semi").count()
            == 0
        ):
            break
    else:
        raise ValueError(
            f"connected_components did not converge in {max_iters} rounds; raise max_iters"
        )
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("lbl"))
    out = (
        nodes.select(F.col(node_col).alias("id"))
        .distinct()
        .join(labels, "id", "left")
        .select(
            F.col("id").alias(node_col),
            F.coalesce("lbl", F.col("id")).alias("cluster_id"),
        )
    )
    return out.localCheckpoint(eager=True)


def duplicated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    min_count: int = 2,
    winnow: int | None = None,
) -> DataFrame:
    """Exact substring dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): flag every maximal token span
    covered by ``window``-token sliding windows that occur verbatim
    ``min_count``+ times corpus-wide.  The paper builds a suffix array;
    the Spark-native equivalent is the rolling-window hash pipeline —

      posexplode tokens → per-position window text (one codegen'd
      window frame per doc, a single doc-keyed shuffle) → md5 →
      corpus-wide hash count (one window over the hash, a
      high-cardinality key so the shuffle partitions evenly) →
      gaps-and-islands merge of the flagged positions into maximal
      spans.

    Linear in corpus token count, never all-pairs; the hash count is
    the same skeleton as exact-doc and paragraph dedup one level finer.
    At a 10^12-token corpus the (whash → count) aggregate is the big
    shuffle — itself linear; ``winnow`` is the volume knob that
    shrinks it.

    ``winnow`` = w is MOSS winnowing (Schleimer et al. 2003): over each
    run of w consecutive window hashes, keep the (hash, pos)-minimal
    one.  Selection density ≈ 2/(w+1), and the guarantee is
    DETERMINISTIC: every w consecutive hashes contain a selection, so
    any duplicated passage of ≥ ``window`` + w − 1 tokens (≥ w shared
    window hashes ⇒ one full winnow-window of shared context) shares
    at least one fingerprint across copies, at any alignment.  The
    argmin is the minimum of ``whash || lpad(pos)`` (md5 is fixed
    32-hex, zero-padded pos breaks same-text-same-doc ties
    deterministically — both engines order identically); because the
    sliding argmin is non-decreasing in pos, consecutive duplicate
    selections collapse via one ``lag`` on the SAME doc-keyed
    sort — three window passes, still a single shuffle, no distinct.
    Islands merge flagged selections gapped ≤ 2·w (selections are ≤ w
    apart inside a duplicated region); ``n_windows`` counts SELECTED
    windows (≈ 2/(w+1) of positions).  ``winnow`` None or 1 is the
    exact operator.  Tail-density note (ADVICE r7): the forward argmin
    frame truncates near end-of-doc, so selection density over the last
    w-1 positions rises above 2/(w+1) — consumers comparing
    ``n_windows``-derived densities across documents of different
    lengths inherit a small length-dependent bias (canonical Schleimer
    winnowing restricts to full windows; this operator keeps the
    truncated-tail selections, whose cross-copy determinism the
    doc_winnow_substring oracle pins).

    Returns (id_col, span_start, span_end, n_windows): token offsets,
    0-based, ``span_end`` inclusive of the last token of the last
    flagged window."""
    from pyspark.sql.window import Window

    words = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word")
    )
    if winnow is not None and winnow < 1:
        raise ValueError(f"winnow must be >= 1, got {winnow}")
    # r8 (guide §1.2 step 2): the per-position window text comes from a
    # chain of ``lead(word, i)`` offsets in ONE window pass instead of a
    # ``collect_list`` sliding frame — the frame form maintains a
    # per-row array buffer (O(window) writes per row); the leads are
    # offset reads.  Measured 3.19 → 2.72 s at sf1.0, identical spans.
    # ``lead(window-1) IS NOT NULL`` is exactly the old
    # ``size(win) == window`` full-window gate (split() never yields
    # null words, so the last lead is null iff the window truncates).
    w_order = Window.partitionBy(id_col).orderBy("pos")
    lead_cols = [F.lead("word", i).over(w_order).alias(f"__w{i}") for i in range(1, window)]
    base = words.select(id_col, "pos", "word", *lead_cols)
    keep = F.col(f"__w{window - 1}").isNotNull() if window > 1 else F.lit(True)
    wins = base.where(keep).select(
        id_col,
        "pos",
        F.md5(F.concat_ws(" ", "word", *[f"__w{i}" for i in range(1, window)])).alias("whash"),
    )
    if winnow is not None and winnow > 1:
        # MOSS min-selection: per winnow-window argmin via the minimal
        # composite key (same doc-partitioned sort as the hash window —
        # no new shuffle), then collapse the non-decreasing argmin runs
        # with one lag.  Tail windows truncate (< w hashes) — their
        # boundary selections are deterministic and identical across
        # copies of a shared TAIL, harmless elsewhere.
        fwd = w_order.rowsBetween(Window.currentRow, winnow - 1)
        key = F.concat("whash", F.lpad(F.col("pos").cast("string"), 10, "0"))
        sel = wins.withColumn("selkey", F.min(key).over(fwd))
        sel = sel.withColumn("prevkey", F.lag("selkey").over(w_order)).where(
            F.col("prevkey").isNull() | (F.col("selkey") != F.col("prevkey"))
        )
        wins = sel.select(
            id_col,
            F.substring("selkey", 33, 10).cast("int").alias("pos"),
            F.substring("selkey", 1, 32).alias("whash"),
        )
    # the corpus-wide ``min_count`` gate is one window count over whash
    # instead of groupBy(whash)+join-back: the window-hash projection is
    # computed once and the (id, pos, whash) rows shuffle a single time,
    # keyed by the same high-cardinality whash.  count(*) over the whash
    # partition equals a corpus-wide groupBy count.
    flagged = (
        wins.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("whash")))
        .where(F.col("__n") >= min_count)
        .select(id_col, "pos")
    )
    if winnow is not None and winnow > 1:
        # selections sit ≤ w apart inside a duplicated region (the
        # winnowing guarantee); consecutive flagged selections within
        # 2·w belong to one region — islands via gap-threshold
        # cumulative grouping
        islands = flagged.withColumn(
            "new_grp",
            F.when(F.col("pos") - F.lag("pos").over(w_order) > 2 * winnow, 1).otherwise(0),
        ).withColumn("grp", F.sum("new_grp").over(w_order)).drop("new_grp")
    else:
        islands = flagged.withColumn("grp", F.col("pos") - F.row_number().over(w_order))
    return (
        islands.groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + window - 1).cast("int").alias("span_end"),
            F.count("*").cast("bigint").alias("n_windows"),
        )
        .drop("grp")
    )
