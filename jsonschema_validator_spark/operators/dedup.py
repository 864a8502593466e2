"""Deduplication operators for large-scale training-data pipelines.

- exact (hash-groupBy)              — xxhash64/md5 content hash, one agg
- n-gram / word Jaccard             — token explode + self-join
- MinHash + LSH banding             — shingle -> minhash sig -> band
                                      bucket join; candidate pairs then
                                      exact-verify; sub-quadratic
- SimHash                           — 64-bit weighted hash, Hamming buckets

All hashing is JVM-side (xxhash64/md5 built-ins, bit ops via Column
algebra) except MinHash signatures: one Arrow-vectorized pandas UDF.
At 100 TB: exact dedup shuffles one 16-byte hash per row; LSH shuffles
(bands x rows) short keys; the quadratic verify only touches candidate
buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint, release


def content_hash(col: Column) -> Column:
    return F.xxhash64(col)


def exact_dedup_summary(df: DataFrame, column: str) -> DataFrame:
    """(n_rows, n_distinct, n_duplicates) by exact content hash — the
    cheapest dedup pass: one scan, one partial+final agg."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.md5(F.col(column))).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(F.md5(F.col(column)))).alias("n_duplicates"),
    )


def _word_tokens(text: Column) -> Column:
    """Distinct space-separated tokens (matches the SQL-oracle
    tokenization: string_split on a single space)."""
    return F.array_distinct(F.split(text, " "))


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """Exact word-level Jaccard similarity for all pairs sharing at least
    one token: explode tokens, self-join on token, count intersections,
    |A ∪ B| = |A| + |B| - |A ∩ B|. Output (doc_a, doc_b, jaccard >=
    threshold). Exact but token-join quadratic in hot tokens — the LSH
    path below is the scale variant."""
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(_word_tokens(F.col(text_col))).alias("w")
    )
    sizes = tok.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def shingles(text: Column, k: int = 5) -> Column:
    """Word k-shingles as xxhash64 values — all Column algebra. Windows
    come from the shifted-slice zip_with builder (word_ngrams,
    min_one=True keeps the whole-short-text shingle this always had);
    the old index-sequence transform re-evaluated split() per element,
    O(words^2) per row."""
    from jsonschema_validator_spark.operators.textstats import word_ngrams

    grams = word_ngrams(F.split(text, " "), k, min_one=True)
    return F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))


def minhash_signature(sh: Column, n_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature via affine permutations over the Mersenne prime
    p = 2^31 - 1: permutation i maps shingle hash h to (a_i*(h mod p) +
    b_i) mod p. Both operands stay < 2^31 so products fit int64 (safe
    under ANSI arithmetic). Computed in ONE Arrow-vectorized pandas UDF —
    a numpy broadcast min over (n_hashes x n_shingles) per row — instead
    of n_hashes interpreted higher-order-function traversals of the
    shingle array (64 transforms/doc made this the slowest dedup op)."""
    import numpy as np
    import pandas as pd

    P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
    rs = np.random.RandomState(seed)
    A = rs.randint(1, P, size=n_hashes).astype(np.int64)
    B = rs.randint(0, P, size=n_hashes).astype(np.int64)

    def _mh(batch):
        out = []
        for h in batch:
            if h is None or len(h) == 0:
                out.append(np.full(n_hashes, P, dtype=np.int64))
                continue
            hm = np.asarray(h, dtype=np.int64) % P  # numpy %: non-negative
            sig = ((A[:, None] * hm[None, :]) + B[:, None]) % P
            out.append(sig.min(axis=1))
        return pd.Series(out)

    # set real (non-stringified) annotations: `from __future__ import
    # annotations` turns inline hints into strings pyspark can't resolve
    _mh.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return F.pandas_udf(_mh, "array<long>")(sh)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """LSH candidate pairs: split the signature into `bands` rows-per-band
    chunks; docs sharing any band bucket are candidates. Shuffle volume is
    O(bands * rows) small keys — the sub-quadratic near-dup path."""
    rows_per_band = n_hashes // bands
    sig = minhash_signature(shingles(F.col(text_col), shingle_k), n_hashes, seed)
    with_sig = df.select(F.col(id_col).alias("doc"), sig.alias("sig"))
    bands_df = with_sig.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard — output
    (doc_a, doc_b, jaccard). Sub-quadratic: the exact verify runs only on
    candidate pairs."""
    sh = df.select(
        F.col(id_col).alias("doc"), shingles(F.col(text_col), shingle_k).alias("sh")
    )
    cand = minhash_lsh_candidates(df, id_col, text_col, n_hashes, bands, shingle_k)
    a = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = cand.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    j = inter / union
    return joined.filter(j >= threshold).select(
        "doc_a", "doc_b", F.round(j, 4).alias("jaccard")
    )


def simhash(text: Column, token_k: int = 1) -> Column:
    """63-bit SimHash over word tokens: per bit, sum +-1 weighted by token
    presence; bit = sign of the sum (bit 63 excluded so the result stays
    positive in int64). Token hashing (xxhash64) runs JVM-side; the
    per-bit sign-sums run as one numpy bit-matrix reduction per row in an
    Arrow-batched pandas UDF — the previous formulation was 63 separate
    interpreted aggregate() traversals of the token array per row."""
    import numpy as np
    import pandas as pd

    shifts = np.arange(63, dtype=np.uint64)

    def _sh(batch):
        out = np.zeros(len(batch), dtype=np.int64)
        for r, h in enumerate(batch):
            if h is None or len(h) == 0:
                continue
            hu = np.asarray(h, dtype=np.int64).astype(np.uint64)
            bits = ((hu[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            sums = (2 * bits - 1).sum(axis=0)  # +-1 vote per token per bit
            out[r] = int(((sums > 0).astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    _sh.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    toks = F.transform(_word_tokens(text), lambda w: F.xxhash64(w))
    return F.pandas_udf(_sh, "long")(toks)


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dups by SimHash with guaranteed recall: split the 63 bits into
    max_hamming+1 bands — by pigeonhole, any pair within max_hamming bits
    shares at least one whole band, so banding misses nothing. Candidates
    join on (band, band_bits); exact bit_count(xor) verifies. Shuffle is
    O(bands * rows) small keys (the same sub-quadratic shape as MinHash
    LSH)."""
    bands = max_hamming + 1
    width = 63 // bands
    s = df.select(F.col(id_col).alias("doc"), simhash(F.col(text_col)).alias("sh"))
    mask = (1 << width) - 1
    banded = s.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("sh", i * width).bitwiseAND(F.lit(mask)).alias("bits"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "sh", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.filter(ham <= max_hamming).select("doc_a", "doc_b", ham.alias("hamming"))


class ComponentsNotConverged(RuntimeError):
    """``connected_components`` exhausted ``max_iter`` rounds before the
    labels stabilized — the output would silently split components with
    diameter > max_iter into multiple representatives, so it must never
    be consumed as final keep/drop decisions."""


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    num_partitions: int | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    clustering step that turns pairwise dedup output into keep/drop
    decisions (component representative = MIN id, deterministic).

    Iterative min-label propagation, pure join/agg (no driver-side
    graph): each round every node takes the minimum label among itself
    and its neighbors, so a component of diameter D settles in D rounds
    (near-dup clusters are dense and a few hops across). If
    ``max_iter`` rounds elapse first it raises
    :class:`ComponentsNotConverged` rather than return split labels.
    Each label row carries whether it changed this round, so in
    ``operators.fixpoint`` one ``max`` is both the convergence check
    and the job that materializes the round.

    Input edges are undirected (either orientation); output is one row
    per node appearing in any edge: (id, component) with component =
    the smallest id reachable."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    if num_partitions:
        # iterative jobs pay per-round fixed cost per shuffle partition;
        # size to the edge volume, not the session default
        e = e.repartition(num_partitions, "a")
    e = e.localCheckpoint(eager=False)
    labels = e.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("component"), F.lit(True).alias("changed")
    )

    def step(labels: DataFrame, row) -> DataFrame | None:
        if not row[0]:
            return None
        # neighbor minimum: for each node, the smallest label among its
        # neighbors; then fold in the node's own label
        nbr_min = (
            e.join(labels.select(F.col("id").alias("b"), F.col("component").alias("nc")), "b")
            .groupBy("a")
            .agg(F.min("nc").alias("nbr_component"))
            .withColumnRenamed("a", "id")
        )
        new = F.least(F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component")))
        return labels.join(nbr_min, "id", "left").select(
            "id", new.alias("component"), (new != F.col("component")).alias("changed")
        )

    try:
        labels = fixpoint(
            labels,
            [F.max("changed")],
            step,
            max_iter,
            lambda *_: ComponentsNotConverged(
                f"min-label propagation did not converge in {max_iter} rounds "
                "(component diameter exceeds max_iter) — raise max_iter"
            ),
        )
    finally:
        release(e)
    return labels.select("id", "component")


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination screen: for every corpus document, how
    many of its word k-grams also appear in the benchmark set (the
    standard n-gram-collision test for train/eval contamination).

    Plan shape: ONE scan + ONE explode of the corpus (the heaviest
    stage at 100 TB — round 2 scanned and exploded it twice, once for
    the per-doc gram count and once for the overlap join); the
    benchmark gram set is DISTINCT'd, tagged with a match marker, and
    broadcast (eval suites are tiny next to a training corpus). A
    broadcast LEFT join then lets a single groupBy(doc_id) compute both
    ``n_grams = count(*)`` and ``n_overlap = count(marker)``. Grams are
    compared as strings, not hashes, so the result is engine-portable
    (and SQL-oracle-able) with zero collision risk. Output: (doc_id,
    n_overlap, n_grams) for contaminated docs (n_overlap > 0)."""

    def grams(df: DataFrame, keep_id: bool) -> DataFrame:
        from jsonschema_validator_spark.operators.textstats import word_ngrams

        # shifted-slice builder: empty for texts shorter than k tokens,
        # and the token array is evaluated once per row (the old
        # index-sequence transform re-evaluated split per element)
        g = word_ngrams(F.split(F.lower(F.col(text_col)), " "), k)
        cols = [F.col(id_col).alias("doc_id")] if keep_id else []
        return df.select(*cols, F.explode(g).alias("gram"))

    bench_grams = grams(benchmark, keep_id=False).distinct().withColumn(
        "__hit", F.lit(1)
    )
    return (
        grams(corpus, keep_id=True)
        .join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("__hit").alias("n_overlap"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("n_overlap") > 0)
        .select("doc_id", "n_overlap", "n_grams")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every word k-gram, slide a window of w consecutive
    hashes, keep each window's MINIMUM — the selected set is position-
    independent and guarantees that any shared run of >= w+k-1 tokens
    between two documents shares at least one fingerprint, which is the
    property plain MinHash (a whole-document sketch) cannot give for
    PARTIAL overlap detection (quote mining, section-level copying,
    contamination by excerpt).

    All Column algebra, zero Python: grams come from the shifted-slice
    zip_with builder (word_ngrams — never index into a HOF-captured
    array, the measured O(words^2) class bug), and the sliding minima
    reuse the SAME builder shape: w shifted slices of the hash array
    folded with least() (least() skips the nulls zip_with pads past the
    end, so documents with fewer than w grams degrade to one global-min
    fingerprint — the standard short-document convention). Hashes are
    md5 hex strings compared lexicographically: engine-portable, so the
    DuckDB oracle replays the selection byte-for-byte; a deployment
    chasing shuffle bytes swaps md5 for xxhash64 (16 bytes vs 32) at
    the cost of SQL-oracle portability.

    Scale shape: output is (id, fingerprint) — ~n_grams/w rows per
    document (winnowing's expected density is 2/(w+1)); downstream
    joins shuffle only those short keys, never text.
    """
    from jsonschema_validator_spark.operators.textstats import word_ngrams

    toks = F.split(F.lower(F.col(text_col)), " ")
    hs = F.transform(word_ngrams(toks, k, min_one=True), lambda g: F.md5(g))
    width = F.greatest(F.size(hs) - (w - 1), F.lit(1))
    mins = F.slice(hs, 1, width)
    for j in range(1, w):
        mins = F.zip_with(mins, F.slice(hs, j + 1, width), lambda a, b: F.least(a, b))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(mins)).alias("fingerprint"),
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    threshold: float = 0.3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Partial-overlap document pairs by winnowing-fingerprint
    containment: shared / min(|fp_a|, |fp_b|) >= threshold. Containment
    (not Jaccard) is the right score for EXCERPT detection — a short
    document wholly lifted from a long one has low Jaccard but
    containment ~1.

    Plan shape: the self-join is an equi-join on the fingerprint (never
    all-pairs); per-doc sizes are an O(docs) relation broadcast back.
    ``max_doc_freq`` is the skew guard: a fingerprint appearing in D
    documents yields D(D-1)/2 join rows, so boilerplate grams are hot
    keys — dropping fingerprints above the frequency cap (computed with
    one count agg, same motivation as remove_boilerplate_lines) bounds
    the quadratic blowup before the join. Output:
    (id_a, id_b, n_shared, containment), id_a < id_b.
    """
    fp = winnow_fingerprints(df, id_col, text_col, k=k, w=w)
    if max_doc_freq is not None:
        freq = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("__df"))
        fp = (
            fp.join(F.broadcast(freq.filter(F.col("__df") > max_doc_freq)),
                    "fingerprint", "left_anti")
        )
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = fp.alias("a"), fp.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("n_b"))
    cont = F.col("n_shared") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        shared.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(cont >= threshold)
        .select("id_a", "id_b", "n_shared", F.round(cont, 4).alias("containment"))
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalized: bool = True,
) -> DataFrame:
    """Snapshot-incremental exact dedup — the daily-ingest shape: drop
    new documents whose content already exists in yesterday's corpus
    SNAPSHOT (represented only by its fingerprint column, never its
    text), then dedup within the new batch itself (keep the smallest
    id per fingerprint, the deterministic tie-break every exact-dedup
    operator here uses).

    ``seen_fps`` is a one-column DataFrame of fingerprints (the
    persisted output of a previous run) — at 100 TB the corpus rides
    along as 16-byte hashes, not text. ``normalized=True`` uses the
    punctuation/whitespace-insensitive fingerprint (textstats.
    fingerprint); False uses raw md5.

    Returns (id_col, fp, status) for every new row, status in
    {'kept', 'dup_of_corpus', 'dup_in_batch'} — callers filter
    status='kept' for the rows to append to the corpus.

    Scale shape: fingerprints computed in-scan (no shuffle); ONE
    left-semi-shaped join against the snapshot (equi-join on fp —
    broadcast when the snapshot is small, shuffle-hash otherwise, AQE's
    call) and ONE agg+equi-join for the in-batch keep/drop (agg + join
    rather than a window, per the skew finding: a whale fingerprint
    collapses map-side instead of sorting in one task).
    """
    from jsonschema_validator_spark.operators.textstats import fingerprint

    fp = (
        fingerprint(F.col(text_col))
        if normalized
        else F.md5(F.col(text_col))
    )
    tagged = new_df.select(F.col(id_col), fp.alias("fp"))
    seen = seen_fps.select(F.col(seen_fps.columns[0]).alias("fp")).distinct()
    hit = tagged.join(seen.withColumn("__seen", F.lit(1)), "fp", "left")
    keep = tagged.groupBy("fp").agg(F.min(id_col).alias("__keep_id"))
    # LEFT join so a NULL fingerprint (NULL text) cannot drop the row —
    # NULL never equi-matches, so such rows keep a NULL __keep_id and
    # are classified 'kept' explicitly (NULL content is not a duplicate
    # of anything, including other NULLs)
    return (
        hit.join(keep, "fp", "left")
        .select(
            id_col,
            "fp",
            F.when(F.col("fp").isNull(), F.lit("kept"))
            .when(F.col("__seen").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col(id_col) != F.col("__keep_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


def select_canonical(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    prefer: Column | None = None,
    comp_id: str = "id",
    comp_col: str = "component",
) -> DataFrame:
    """Canonical-representative selection per duplicate cluster — the
    keep/drop decision that completes the dedup chain (pairs ->
    connected_components -> ONE survivor per component): within each
    component keep the row maximizing ``prefer`` (a numeric quality /
    length score evaluated against ``df``; default: none, so the
    min-id convention alone decides), ties broken by MIN id so the
    choice is deterministic under any partitioning. Rows of ``df``
    absent from ``components`` are singletons: their own component and
    canonical. NULL ``prefer`` scores rank WORST (a scoreless doc
    never beats a scored one; an all-NULL component falls back to min
    id).

    Scale shape: one left equi-join of slim (id, score) rows against
    the component labels, one groupBy(component) aggregation (max
    score + tie-break as a single ``min(struct(-score, id))`` — no
    window over members, per the skew doctrine: a whale cluster
    collapses map-side), one broadcast-back equi-join. Payload columns
    never shuffle; re-join them by id downstream.

    Returns (id_col, component, canonical_id, is_canonical,
    n_members) — ``df.filter(is_canonical)`` after a payload re-join
    is the deduplicated corpus.
    """
    p = F.lit(0.0) if prefer is None else prefer.cast("double")
    labeled = (
        df.select(F.col(id_col).alias("__id"), p.alias("__p"))
        .join(
            components.select(
                F.col(comp_id).alias("__id"), F.col(comp_col).alias("__c")
            ),
            "__id",
            "left",
        )
        .withColumn("__c", F.coalesce(F.col("__c"), F.col("__id")))
    )
    # min(struct(neg_score, id)): max score first, then min id; NULL
    # score -> +inf neg_score ranks last
    neg = F.when(F.col("__p").isNull(), F.lit(float("inf"))).otherwise(
        -F.col("__p")
    )
    best = labeled.groupBy("__c").agg(
        F.min(F.struct(neg.alias("np"), F.col("__id").alias("cid"))).alias("__b"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        labeled.join(best, "__c")
        .select(
            F.col("__id").alias(id_col),
            F.col("__c").alias(comp_col),
            F.col("__b.cid").alias("canonical_id"),
            (F.col("__id") == F.col("__b.cid")).alias("is_canonical"),
            "n_members",
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    q: int = 3,
) -> DataFrame:
    """Fuzzy-match join: all pairs within ``max_dist`` Levenshtein edits,
    without the all-pairs cartesian — the entity-resolution primitive
    (typo'd titles, OCR'd names, near-identical prompts) the exact /
    shingle dedup family can't express because one edit rewrites q
    shingles but only one CHARACTER.

    Ed-Join-style prefix filtering (Xiao, Wang & Lin, PVLDB 2008 — a
    public algorithm): one edit destroys at most ``q`` of a string's
    positional q-grams, so two strings within ``max_dist`` edits share
    a gram among their ``k = max_dist*q + 1`` globally-RAREST grams
    (grams totally ordered by corpus frequency then value). Candidates
    come from an equi-join on those signature grams only — the join key
    is rare by construction, so the blocking is skew-resistant where a
    naive any-shared-gram join explodes on stopword grams. An exact
    ``levenshtein`` + length filter then verifies, so precision is
    always exact; strings shorter than ``q`` characters get no grams
    and are skipped (compare tiny strings exactly — they don't need
    blocking).

    Scale shape: grams explode to O(rows x len); the frequency rollup
    and the per-string rarest-k window shuffle that relation once
    (window partitioned by string id — bounded by string length); the
    candidate join touches signature grams only. Returns
    (id_a, id_b, dist) with id_a < id_b, distinct.
    """
    from pyspark.sql import Window

    k = max_dist * q + 1
    t = F.col("__t")
    d = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).filter(t.isNotNull() & (F.length(t) >= q))
    # the gram explode + rarity window are CPU-heavy but BYTE-small, so
    # AQE sizes them into one serial partition (the measured similarity
    # lesson, BENCH/BASELINE.md); an EXPLICIT partition count pins the
    # spread — a bare repartition(col) gets re-coalesced by AQE
    d = d.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("__id")
    )
    grams = d.select(
        "__id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - q + 1),
                    lambda i: t.substr(i, F.lit(q)),
                )
            )
        ).alias("gram"),
    )
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__f"))
    w = Window.partitionBy("__id").orderBy("__f", "gram")
    sig = (
        grams.join(freq, "gram")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("__id", "gram")
    )
    cands = (
        sig.alias("a")
        .join(sig.alias("b"), "gram")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    ta = d.select(F.col("__id").alias("id_a"), F.col("__t").alias("__ta"))
    tb = d.select(F.col("__id").alias("id_b"), F.col("__t").alias("__tb"))
    # THRESHOLDED levenshtein (Spark >= 3.5): banded O(max_dist x len)
    # DP with early exit, returning -1 above the threshold — the length
    # pre-filter prunes first, and the distance is computed ONCE (the
    # old filter+select pair evaluated the full O(len^2) DP twice per
    # surviving candidate)
    dist = F.levenshtein("__ta", "__tb", max_dist)
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.length("__ta") - F.length("__tb")) <= max_dist)
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def cross_source_duplication(
    df: DataFrame,
    text_col: str,
    source_col: str,
) -> DataFrame:
    """Cross-source duplication matrix: for every ORDERED source pair
    that shares content, what fraction of A's distinct documents also
    appear in B — the crawl-planning view exact_dedup_summary (one
    global number) can't give: mirror sites show up as a high-
    containment pair, and "B is a subset of A" (containment 1.0 one
    way, small the other) means B adds nothing and can be dropped from
    the crawl.

    Each side reduces to its DISTINCT (source, content-hash) set
    before the pair join, so the join is on fingerprints, never
    documents; a hash shared by k sources contributes k*(k-1) pair
    rows — bounded by sources squared per hash, independent of
    duplicate multiplicity inside a source. Only pairs with at least
    one shared document are emitted (the all-zero matrix is the
    uninteresting common case at sources-squared size). NULL text is
    excluded; NULL source is a real source. Returns (src_a, src_b,
    n_a, n_b, shared, containment = shared/n_a), rounded to 6.
    """
    h = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(source_col).alias("__s"),
            content_hash(F.col(text_col)).alias("__h"),
        )
        .distinct()
    )
    sizes = h.groupBy("__s").agg(F.count(F.lit(1)).alias("__n"))
    pairs = (
        h.alias("a")
        .join(h.alias("b"), "__h")
        .filter(~F.col("a.__s").eqNullSafe(F.col("b.__s")))
        .groupBy(
            F.col("a.__s").alias("src_a"), F.col("b.__s").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col("__s").alias("src_a"), F.col("__n").alias("n_a"))
    nb = sizes.select(F.col("__s").alias("src_b"), F.col("__n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "shared",
            F.round(F.col("shared") / F.col("n_a"), 6).alias("containment"),
        )
    )


def capture_recapture_pairs(
    df: DataFrame,
    id_col: str,
    fp_a,
    fp_b,
) -> DataFrame:
    """Chapman capture-recapture estimate of the TRUE number of
    duplicate pairs from two independent imperfect detectors. Every
    dedup method under-catches; running two DIFFERENT fingerprints and
    treating their catch sets as two samples of the same hidden
    population gives the ecologist's estimator for how many duplicate
    pairs exist INCLUDING the ones neither method caught:

        N_hat = (M + 1)(C + 1) / (R + 1) - 1

    with M pairs caught by fingerprint A, C by B, R by both, and
    variance (M+1)(C+1)(M-R)(C-R) / ((R+1)^2 (R+2)) (Seber). This is
    the coverage audit for the dedup stage itself — "we removed 12k
    pairs" means nothing without an estimate of how many there were.

    Pair counts come from group sizes, never materialized pairs:
    sum over fingerprint groups of C(g, 2), and the both-caught count
    from the JOINT (fp_a, fp_b) grouping — three O(groups)
    aggregations, no join, no pair explosion (the independence
    assumption is the caller's: pick fingerprints that fail
    differently). NULL fingerprints are excluded from that detector's
    sample. Returns one row: (n_ids, m_pairs, c_pairs, r_pairs,
    chapman_est, chapman_se, caught_frac_a, caught_frac_b), floats
    rounded to 6; degenerate R with M - R = 0 or C - R = 0 gives
    se = 0, and the estimator is NULL only if both detectors caught
    nothing.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        fp_a.alias("__fa"),
        fp_b.alias("__fb"),
    )

    def pair_count(keys):
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(k).isNotNull()
        g = base.filter(cond).groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__g")
        )
        return g.agg(
            F.coalesce(
                F.sum(F.col("__g") * (F.col("__g") - 1) / 2), F.lit(0.0)
            ).alias("p")
        )

    m = pair_count(["__fa"]).select(F.col("p").alias("m_pairs"))
    c = pair_count(["__fb"]).select(F.col("p").alias("c_pairs"))
    r = pair_count(["__fa", "__fb"]).select(F.col("p").alias("r_pairs"))
    n = base.agg(F.count(F.lit(1)).alias("n_ids"))
    j = (
        n.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(r))
    )
    M, C, R = F.col("m_pairs"), F.col("c_pairs"), F.col("r_pairs")
    est = (M + 1) * (C + 1) / (R + 1) - 1
    var = (M + 1) * (C + 1) * (M - R) * (C - R) / (
        F.pow(R + 1, 2) * (R + 2)
    )
    defined = (M + C) > 0
    return j.select(
        "n_ids",
        M.cast("long").alias("m_pairs"),
        C.cast("long").alias("c_pairs"),
        R.cast("long").alias("r_pairs"),
        F.when(defined, F.round(est, 6)).alias("chapman_est"),
        F.when(defined, F.round(F.sqrt(var), 6)).alias("chapman_se"),
        F.when(defined & (est > 0), F.round(M / est, 6)).alias(
            "caught_frac_a"
        ),
        F.when(defined & (est > 0), F.round(C / est, 6)).alias(
            "caught_frac_b"
        ),
    )


def sequential_overlap(
    df: DataFrame,
    group: str,
    order: str,
    text: str,
    jaccard_cut: float = 0.8,
) -> DataFrame:
    """Ingest-adjacency near-duplicate screen: token-set Jaccard
    between each document and its PREDECESSOR in ingest order, per
    source. Crawler loops, doubled shards and resumed-upload overlaps
    put their duplicates NEXT TO each other — this screen finds that
    failure mode with one lag window and pure Column set algebra,
    where the global MinHash/LSH pass pays banding and a shuffle to
    find the same pairs (the global pass still owns non-adjacent
    duplicates; this is the cheap first-line monitor, not a
    replacement — stated).

    Tokenization matches zipf_slope/heaps_law (lowercase, split on
    non-letters, distinct). Jaccard = |A intersect B| / |A union B|
    via array_intersect/array_union on the deduplicated token
    arrays — JVM-side, no UDF. First document of each group and
    empty-token documents yield NULL jaccard (nothing to compare).

    One shuffle (the per-group order window); emits the O(rows)
    scored relation filtered to flagged pairs. Returns (group,
    id = order value, prev_id, n_tokens, n_prev_tokens, n_common,
    jaccard, near_dup) for pairs with jaccard >= jaccard_cut.
    """
    from pyspark.sql import Window as W

    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.col(text)), "[^a-z]+"), lambda w: w != ""
        )
    )
    base = df.select(
        F.col(group).alias("g"),
        F.col(order).alias("oid"),
        toks.alias("t"),
    )
    w = W.partitionBy("g").orderBy("oid")
    paired = base.select(
        "g",
        "oid",
        "t",
        F.lag("oid").over(w).alias("prev_oid"),
        F.lag("t").over(w).alias("pt"),
    ).filter(F.col("prev_oid").isNotNull())
    inter = F.size(F.array_intersect(F.col("t"), F.col("pt")))
    uni = F.size(F.array_union(F.col("t"), F.col("pt")))
    jac = F.when(uni > 0, inter.cast("double") / uni.cast("double"))
    scored = paired.select(
        F.col("g").alias(group),
        F.col("oid").alias("id"),
        F.col("prev_oid").alias("prev_id"),
        F.size("t").alias("n_tokens"),
        F.size("pt").alias("n_prev_tokens"),
        inter.alias("n_common"),
        F.round(jac, 6).alias("jaccard"),
        F.coalesce(jac >= jaccard_cut, F.lit(False)).alias("near_dup"),
    )
    return scored.filter(F.col("near_dup"))
