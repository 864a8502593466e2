"""Tests for the training-pipeline operators: dedup, similarity search,
text stats, multimodal plumbing (SURVEY.md §2 extensions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
        (3, "completely different words entirely unrelated content here now"),
        (4, "el rapido zorro marron salta sobre el perro perezoso"),
        (5, "der schnelle braune fuchs springt uber den faulen hund und der"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    from jsonschema_validator_spark.operators.dedup import exact_dedup_summary

    s = exact_dedup_summary(docs, "text").first()
    assert (s["n_rows"], s["n_distinct"], s["n_duplicates"]) == (6, 5, 1)


def test_jaccard_pairs(spark, docs):
    from jsonschema_validator_spark.operators.dedup import jaccard_pairs

    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(docs, "doc_id", "text", 0.5).collect()}
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert 0.5 <= pairs[(0, 2)] < 1.0  # near dup (one word differs)
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    from jsonschema_validator_spark.operators.dedup import (
        jaccard_pairs,
        minhash_dedup_pairs,
        minhash_lsh_candidates,
    )

    found = {(r.doc_a, r.doc_b) for r in
             minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5, shingle_k=2).collect()}
    assert (0, 1) in found
    # LSH candidates must cover every true >=0.5-jaccard 2-shingle pair
    cands = {(r.doc_a, r.doc_b) for r in
             minhash_lsh_candidates(docs, "doc_id", "text", shingle_k=2).collect()}
    assert found <= cands


def test_simhash_near_duplicates(spark, docs):
    from jsonschema_validator_spark.operators.dedup import simhash_near_duplicates

    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             simhash_near_duplicates(docs, "doc_id", "text", max_hamming=20).collect()}
    assert pairs.get((0, 1)) == 0  # identical text -> identical simhash
    assert (0, 2) in pairs  # one word changed -> few bits flip


def test_simhash_deterministic(spark, docs):
    from jsonschema_validator_spark.operators.dedup import simhash

    a = docs.select(simhash(F.col("text")).alias("s")).collect()
    b = docs.select(simhash(F.col("text")).alias("s")).collect()
    assert a == b and all(r["s"] >= 0 for r in a)


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 8)).astype("float32")
    base[1] = base[0] * 1.1  # vec 1 parallel to vec 0 -> cosine 1
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk(spark, vectors):
    from jsonschema_validator_spark.operators.similarity import brute_force_topk

    top = brute_force_topk(vectors, "vec_id", "embedding", [0], k=3).collect()
    assert top[0]["neighbor_id"] == 1 and top[0]["sim"] == pytest.approx(1.0, abs=1e-3)
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_lsh_topk_agrees_on_top1(spark, vectors):
    from jsonschema_validator_spark.operators.similarity import lsh_topk

    top = lsh_topk(vectors, "vec_id", "embedding", [0], k=3, n_planes=12, max_hamming=6).collect()
    # parallel vector shares every hyperplane sign -> always a candidate
    assert top[0]["neighbor_id"] == 1


def test_cosine_near_duplicates(spark, vectors):
    from jsonschema_validator_spark.operators.similarity import cosine_near_duplicates

    pairs = {(r.id_a, r.id_b) for r in
             cosine_near_duplicates(vectors, "vec_id", "embedding", threshold=0.99).collect()}
    assert (0, 1) in pairs


def test_cosine_lsh_banding_plan_and_recall(spark, vectors):
    """The LSH scale path must (a) plan an equi-join on band keys — never
    a BroadcastNestedLoop/Cartesian pair join — and (b) recover planted
    parallel copies (hamming 0 -> guaranteed by pigeonhole banding)."""
    import numpy as np

    from jsonschema_validator_spark.operators.similarity import cosine_near_duplicates

    planted = vectors.select(
        (F.col("vec_id") + 100).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = vectors.unionByName(planted)
    lsh = cosine_near_duplicates(
        corpus, "vec_id", "embedding", threshold=0.999, n_planes=16, max_hamming=3
    )
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan, plan
    got = {(r.id_a, r.id_b) for r in lsh.collect()}
    # every planted (i, i+100) pair has cosine exactly 1 and hamming 0
    assert {(i, i + 100) for i in range(20)} <= got


def test_lsh_topk_banded_large_query_set(spark, vectors):
    """Above broadcast_query_limit the probe becomes a banded equi-join:
    plan must have no nested-loop/cartesian node and the result must
    equal the broadcast-crossJoin formulation (same candidates: both
    filter on the identical hamming radius; banding guarantees every
    within-radius pair is joined)."""
    from jsonschema_validator_spark.operators.similarity import lsh_topk

    qids = list(range(20))
    small = lsh_topk(
        vectors, "vec_id", "embedding", qids, k=3, n_planes=12, max_hamming=6,
        broadcast_query_limit=32,
    )
    large = lsh_topk(
        vectors, "vec_id", "embedding", qids, k=3, n_planes=12, max_hamming=6,
        broadcast_query_limit=4,
    )
    plan = large._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, large.collect()))


def test_textstats(spark, docs):
    from jsonschema_validator_spark.operators.textstats import (
        language_id,
        quality_score,
        token_count,
    )

    r = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("tc"),
        language_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    by_id = {x["doc_id"]: x for x in r}
    assert by_id[0]["tc"] == 9
    assert by_id[0]["lang"] == "en"
    assert by_id[4]["lang"] == "es"
    assert by_id[5]["lang"] == "de"
    assert all(0.0 <= x["q"] <= 1.0 for x in r)


def test_multimodal_plumbing(spark, docs):
    from jsonschema_validator_spark.operators.multimodal import binary_metadata

    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    meta = binary_metadata(blobs, "payload").collect()
    assert all(len(m["digest"]) == 64 and m["n_bytes"] > 0 for m in meta)


def test_audio_unsupported_formats_flagged(spark, docs):
    """Non-WAV payloads decode to kind='unsupported' with NULL metadata
    (round 2's decode_audio raised NotImplementedError; WAV is now a
    real stdlib decode — see test_wav_decode_real)."""
    from jsonschema_validator_spark.operators.multimodal import decode_audio

    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    out = decode_audio(blobs, "doc_id", "payload").collect()
    assert len(out) == 6
    assert all(r.kind == "unsupported" and r.n_frames is None for r in out)


def test_row_parity_invariant(spark):
    """input_hint row-level invariant: per-turn text equality under
    (conv_id, turn_idx). Clean vs clean is all-ok; clean vs dirty
    surfaces exactly the injected text/key corruptions."""
    from jsonschema_validator_spark.fixtures import generate_transcripts
    from jsonschema_validator_spark.operators.parity import row_parity

    clean = spark.createDataFrame(generate_transcripts("tiny", dirty=False).table.to_pandas())
    dirty_fx = generate_transcripts("tiny", dirty=True)
    # drop duplicate keys (V1) — row_parity assumes unique keys per side
    dirty = (
        spark.createDataFrame(dirty_fx.table.to_pandas())
        .dropDuplicates(["conv_id", "turn_idx"])
    )

    same = row_parity(clean, clean, ["conv_id", "turn_idx"], ["text", "role", "tool"])
    stat = {r.status for r in same.select("status").distinct().collect()}
    assert stat == {"ok"}, stat

    par = row_parity(clean, dirty, ["conv_id", "turn_idx"], ["text"])
    bad = {(r.conv_id, r.turn_idx) for r in par.filter(par.status != "ok").collect()}
    assert bad, "injected corruption not detected"
    # every text-affecting injection at an existing key must surface
    exp = dirty_fx.expected_violations.to_pandas()
    text_edits = exp[exp.column.isin(["text"])]
    missing = [
        (r.conv_id, int(r.turn_idx))
        for _, r in text_edits.iterrows()
        if (r.conv_id, int(r.turn_idx)) not in bad
    ]
    assert not missing, missing


def test_ivf_topk_recall_on_blobs(spark):
    """IVF must recover brute-force neighbors on clustered data: 4
    Gaussian blobs, 200 vectors; recall@5 >= 0.9 with 8 centroids /
    2 probes (each blob maps to ~2 centroids)."""
    import numpy as np

    from jsonschema_validator_spark.operators.similarity import brute_force_topk, ivf_topk

    rs = np.random.RandomState(0)
    centers = rs.randn(4, 16) * 5
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, (centers[c] + rs.randn(16) * 0.3).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()

    qids = [0, 1, 2, 3]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(df, "vec_id", "embedding", qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            df, "vec_id", "embedding", qids, k=5, n_centroids=8, n_probe=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_text_profile_matches_columns(spark):
    """The vectorized text_profile must equal the Column-algebra
    language_id + quality_score exactly, including NULL text and ties."""
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.textstats import (
        language_id,
        quality_score,
        text_profile,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "le the"), (9004, "x " * 30)],
        "doc_id long, text string",
    )
    df = docs.select("doc_id", "text").unionByName(extra)
    got = df.select(
        "doc_id",
        text_profile(F.col("text")).alias("p"),
        language_id(F.col("text")).alias("lang_col"),
        F.round(quality_score(F.col("text")), 9).alias("q_col"),
    ).collect()
    for r in got:
        assert r.p.lang_pred == r.lang_col, (r.doc_id, r.p, r.lang_col)
        pq_ = None if r.p.quality is None else round(r.p.quality, 9)
        assert pq_ == r.q_col, (r.doc_id, r.p.quality, r.q_col)


def test_connected_components_vs_union_find(spark):
    """Min-label propagation must agree with a driver-side union-find
    on a deterministic random-ish graph including a long chain
    (multi-hop propagation) and isolated pairs."""
    from jsonschema_validator_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(0, 12)]          # chain 0..12
    edges += [(100, 101), (102, 103), (101, 102)]       # chain of pairs
    edges += [(200, 201), (300, 301), (301, 300)]       # dup orientation
    edges += [(i * 7 % 50 + 400, i * 13 % 50 + 400) for i in range(30)]  # tangle

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.id: r.component
        for r in connected_components(df).collect()
    }
    assert got == expected


def test_components_long_chain_needs_diameter_rounds(spark):
    """Adversarial diameter: on a 40-node chain, min-label propagation
    at max_iter=8 must RAISE rather than return silently-split labels;
    with one round more than the diameter it converges to one
    component (the 41st round is the one that changes no label)."""
    from jsonschema_validator_spark.operators.dedup import (
        ComponentsNotConverged,
        connected_components,
    )

    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(ComponentsNotConverged):
        connected_components(df, max_iter=8)
    got = {
        r.id: r.component
        for r in connected_components(df, max_iter=41).collect()
    }
    assert got == {i: 0 for i in range(41)}


def test_ngram_overlap_decontamination(spark):
    """Planted contamination is caught with exact interior-gram counts;
    clean docs and short (< k tokens) docs produce no rows."""
    from jsonschema_validator_spark.operators.dedup import ngram_overlap

    bench_text = " ".join(f"b{i}" for i in range(10))  # 10 tokens
    corpus = spark.createDataFrame(
        [
            (1, " ".join(f"c{i}" for i in range(20))),        # clean
            (2, f"x y {bench_text} z w"),                      # contaminated
            (3, "too short"),                                  # < k tokens
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, bench_text)], "doc_id long, text string")
    rows = {r.doc_id: r for r in ngram_overlap(corpus, bench, k=4).collect()}
    assert set(rows) == {2}
    # doc 2 has 14 tokens -> 11 grams; windows fully inside the benchmark
    # span start at positions 3..9 -> 7 matching grams
    assert rows[2].n_grams == 11 and rows[2].n_overlap == 7


def test_packing_strategies(spark):
    """Neither next-fit order dominates the other (mix A: sorting helps
    by grouping the pairable 250s; mix B: sorting HURTS by making the
    300s adjacent) — FFD is never worse than either on both mixes. Plus
    the FFD invariants (per-bin sum <= budget, oversize alone, same doc
    multiset, partition-independence) and size_desc's canonical-layout
    property (pure function of the token multiset, stable under
    arrival-order permutation)."""
    from jsonschema_validator_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )

    def bins(frame, strategy):
        packed = pack_sequences(
            frame, "n_tok", budget=500, order_col="doc_id",
            shard_col="s", strategy=strategy,
        )
        stats = packing_stats(packed, "n_tok").collect()
        return packed, {r.bin_idx: r.sum_tokens for r in stats}

    # mix A — alternating 300/250 + one oversize 700: arrival next-fit
    # overflows on EVERY adjacent pair (41 singleton bins); sorting
    # makes the 250s adjacent so sorted next-fit pairs them (1 + 20 +
    # 10 = 31); FFD matches
    rows_a = [(i, 300 if i % 2 == 0 else 250) for i in range(40)] + [(200, 700)]
    dfa = spark.createDataFrame(rows_a, "doc_id long, n_tok int").withColumn(
        "s", F.lit(0)
    )
    _, arr = bins(dfa, "arrival")
    _, sd = bins(dfa, "size_desc")
    ffd_packed, ffd = bins(dfa, "first_fit_desc")
    assert (len(arr), len(sd), len(ffd)) == (41, 31, 31)

    # mix B — alternating 300/180 + 90s: arrival pairs 300+180=480, but
    # sorting puts the twenty 300s adjacent and each strands (33 bins);
    # FFD recovers (23) — sorting is NOT a waste guarantee, FFD is the
    # robust upgrade
    rows_b = [(i, 300 if i % 2 == 0 else 180) for i in range(40)]
    rows_b += [(100 + i, 90) for i in range(10)]
    dfb = spark.createDataFrame(rows_b, "doc_id long, n_tok int").withColumn(
        "s", F.lit(0)
    )
    _, arr_b = bins(dfb, "arrival")
    _, sd_b = bins(dfb, "size_desc")
    _, ffd_b = bins(dfb, "first_fit_desc")
    assert len(sd_b) > len(arr_b)  # sorting hurt here
    assert len(ffd_b) <= min(len(arr_b), len(sd_b))
    assert (len(arr_b), len(sd_b), len(ffd_b)) == (22, 32, 22)

    # FFD invariants (mix A)
    assert all(v <= 500 for v in ffd.values() if v != 700)
    assert sorted(r.n_tok for r in ffd_packed.collect()) == sorted(
        t for _, t in rows_a
    )
    assert sum(1 for v in ffd.values() if v == 700) == 1  # oversize alone
    # size_desc is canonical: permuted arrival order, different
    # partitioning, SAME layout
    shuffled = dfa.orderBy(F.xxhash64("doc_id")).repartition(7)
    _, sd2 = bins(shuffled, "size_desc")
    assert sd == sd2
    # FFD determinism under repartitioning
    a = sorted((r.doc_id, r.bin_idx) for r in ffd_packed.collect())
    b = sorted(
        (r.doc_id, r.bin_idx)
        for r in pack_sequences(
            dfa.repartition(7), "n_tok", budget=500, order_col="doc_id",
            shard_col="s", strategy="first_fit_desc",
        ).collect()
    )
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        pack_sequences(dfa, "n_tok", budget=500, order_col="doc_id", strategy="magic")


def test_tree_paths_and_branch_stats(spark):
    """Pointer-doubling depth/root on a branched forest matches a
    hand-walked reference; deep chains resolve in O(log d) rounds;
    cycles and orphan pointers raise instead of spinning."""
    import pytest as _pytest

    from jsonschema_validator_spark.operators.trees import TreeNotConverged, tree_paths

    #      1            10
    #     / \            |
    #    2   3          11
    #    |   |\
    #    4   5 6
    #        |
    #        7
    edges = [(1, None), (2, 1), (3, 1), (4, 2), (5, 3), (6, 3), (7, 5),
             (10, None), (11, 10)]
    df = spark.createDataFrame(edges, "id long, parent long")
    got = {r.id: (r.depth, r.root) for r in tree_paths(df, "id", "parent").collect()}
    assert got == {1: (0, 1), 2: (1, 1), 3: (1, 1), 4: (2, 1), 5: (2, 1),
                   6: (2, 1), 7: (3, 1), 10: (0, 10), 11: (1, 10)}

    # deep chain: depth 500 resolves with max_iters=10 (2**10 >= 500)
    chain = [(i, i - 1 if i > 0 else None) for i in range(501)]
    deep = spark.createDataFrame(chain, "id long, parent long")
    out = tree_paths(deep, "id", "parent", max_iters=10)
    assert out.agg(F.max("depth")).collect()[0][0] == 500

    # cycle: must raise, not spin
    cyc = spark.createDataFrame([(1, 2), (2, 1), (3, None)], "id long, parent long")
    with _pytest.raises(TreeNotConverged, match="unresolved"):
        tree_paths(cyc, "id", "parent", max_iters=6)

    # orphan pointer: parent id that exists nowhere
    orph = spark.createDataFrame([(1, None), (2, 99)], "id long, parent long")
    with _pytest.raises(TreeNotConverged, match="orphan"):
        tree_paths(orph, "id", "parent")


def test_linearize_best_path(spark):
    """One root-to-leaf path per tree: the max-score leaf wins (NULL
    scores lose to any real score; ties to the smallest id), and the
    emitted path is the exact ancestry in root-first order."""
    from jsonschema_validator_spark.operators.trees import linearize_best_path

    #      1 (root)                20 (root, all-NULL scores)
    #     / \                       |
    #    2   3                     21
    #    |   | \
    #    4   5  6     scores: leaf 4 = 0.9, leaf 7 = 0.9 (tie -> 4 wins
    #        |        over nothing: different depth), leaf 6 = NULL
    #        7
    rows = [
        (1, None, None), (2, 1, 0.1), (3, 1, 0.2), (4, 2, 0.9),
        (5, 3, 0.5), (6, 3, None), (7, 5, 0.9),
        (20, None, None), (21, 20, None),
    ]
    df = spark.createDataFrame(rows, "id long, parent long, score double")
    got = {r.root: r for r in linearize_best_path(df, "id", "parent", "score").collect()}
    # leaves of tree 1: 4 (0.9), 6 (NULL), 7 (0.9) -> tie 4 vs 7 -> id 4
    assert got[1].leaf_id == 4 and got[1].path == "1->2->4" and got[1].n_turns == 3
    # all-NULL tree still yields its (only) leaf
    assert got[20].leaf_id == 21 and got[20].path == "20->21"


def test_normalize_unicode(spark):
    """NFC composition, control stripping (tab/newline survive),
    whitespace collapse, NULL passthrough, changed-flag semantics —
    checked against unicodedata directly."""
    import unicodedata

    from jsonschema_validator_spark.operators.cleaning import normalize_unicode

    decomposed = "café naïve"
    rows = [
        (1, decomposed),
        (2, "bell\x07 and\x1b esc\x9f kept:\tok\nline"),
        (3, "plain ascii"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in normalize_unicode(df, "text").collect()}
    assert got[1].norm_text == unicodedata.normalize("NFC", decomposed) == "café naïve"
    assert got[1].changed is True
    assert got[2].norm_text == "bell and esc kept:\tok\nline" and got[2].changed
    assert got[3].norm_text == "plain ascii" and got[3].changed is False
    assert got[4].norm_text is None and got[4].changed is False

    out = normalize_unicode(df, "text", collapse_whitespace=True).filter("id = 2")
    assert out.collect()[0].norm_text == "bell and esc kept: ok\nline"


def test_winnow_fingerprints_reference(spark):
    """Winnowing selection replayed against an independent pure-Python
    reference (explicit loops + hashlib, disjoint from the zip_with
    builder), including the short-document (fewer than w grams) and
    shorter-than-k degenerate cases."""
    import hashlib

    from jsonschema_validator_spark.operators.dedup import winnow_fingerprints

    def ref(text, k, w):
        toks = text.lower().split(" ")
        grams = [" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "short doc"),                      # fewer tokens than k
        (3, "a b c d e f"),                    # grams >= 1 but < w
        (4, "Mixed CASE Text is Lowercased First the quick brown fox"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=5, w=4).collect():
        got.setdefault(r.doc_id, set()).add(r.fingerprint)
    for doc_id, text in texts:
        assert got[doc_id] == ref(text, 5, 4), doc_id


def test_winnow_pairs_partial_overlap(spark):
    """An excerpt lifted into another document is caught by containment
    even when whole-document similarity is low; the max_doc_freq skew
    guard removes boilerplate-driven pairs."""
    from jsonschema_validator_spark.operators.dedup import winnow_pairs

    base = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(20))  # first half of base
    other = " ".join(f"z{i}" for i in range(40))
    rows = [(1, base), (2, excerpt + " fresh tail content here"), (3, other)]
    out = {(r.id_a, r.id_b): r for r in winnow_pairs(
        spark.createDataFrame(rows, "doc_id long, text string"),
        threshold=0.3).collect()}
    assert (1, 2) in out and (1, 3) not in out and (2, 3) not in out
    assert out[(1, 2)].containment >= 0.5  # excerpt half-contained

    # boilerplate shared by EVERY doc creates hot fingerprints; the cap
    # drops them so no pair survives on boilerplate alone
    boiler = "subscribe to our newsletter terms of service apply today"
    rows = [(i, f"unique{i} " * 10 + boiler) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert winnow_pairs(df, threshold=0.3, max_doc_freq=2).count() == 0
    assert winnow_pairs(df, threshold=0.3).count() == 15  # all C(6,2) pairs




def test_hash_sample_properties(spark):
    """Deterministic sampling: partitioning-independent, nested across
    rates, approximately proportional."""
    from jsonschema_validator_spark.operators.sampling import hash_sample

    df = spark.range(0, 20_000).withColumnRenamed("id", "k")
    s20 = {r.k for r in hash_sample(df, "k", 0.2).collect()}
    s50 = {r.k for r in hash_sample(df, "k", 0.5).collect()}
    assert s20 <= s50  # nested: growing the rate keeps prior rows
    assert abs(len(s20) / 20_000 - 0.2) < 0.02
    assert abs(len(s50) / 20_000 - 0.5) < 0.02
    # partitioning independence: same rows from a different layout
    s20b = {r.k for r in hash_sample(df.repartition(13, "k"), "k", 0.2).collect()}
    assert s20b == s20


def test_stratified_hash_sample(spark):
    from jsonschema_validator_spark.operators.sampling import stratified_hash_sample

    df = spark.range(0, 9_000).selectExpr(
        "id AS k", "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END AS g"
    )
    out = stratified_hash_sample(df, "k", "g", {"a": 1.0, "b": 0.3}).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, set()).add(r.k)
    assert len(by_g.get("a", ())) == 3_000  # rate 1.0 keeps everything
    assert abs(len(by_g.get("b", ())) / 3_000 - 0.3) < 0.05
    assert "c" not in by_g  # unconfigured stratum dropped


def test_wav_decode_real(spark):
    """REAL stdlib WAV round trip: synth with the wave writer, decode
    with decode_audio over Arrow batches — metadata AND exact PCM
    sample sum; non-WAV payloads come back kind='unsupported'."""
    import io
    import wave

    import numpy as np

    from jsonschema_validator_spark.operators.multimodal import decode_audio

    def wav(n_ch, rate, samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(n_ch)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
        return buf.getvalue()

    rows = [
        (1, wav(1, 8000, [10, -3, 7, 0])),          # mono: 4 frames, sum 14
        (2, wav(2, 16000, [1, 2, 3, 4, 5, 6])),     # stereo: 3 frames, sum 21
        (3, b"not audio at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_audio(df, "doc_id", "payload").collect()}
    assert got[1].kind == "audio/wav" and got[1].n_channels == 1
    assert got[1].n_frames == 4 and got[1].sample_sum == 14
    assert got[1].duration_ms == 0.5  # 4 frames @ 8kHz
    assert got[2].n_channels == 2 and got[2].n_frames == 3 and got[2].sample_sum == 21
    assert got[3].kind == "unsupported" and got[3].n_frames is None
    assert got[4].kind == "unsupported" and got[4].n_bytes == 0


def test_image_decode_real(spark):
    """REAL stdlib image decode: P6 PPM (with a header comment), P5 PGM,
    bottom-up 24bpp BMP with row padding — dims + exact pixel sums."""
    import struct

    from jsonschema_validator_spark.operators.multimodal import decode_images

    ppm = b"P6\n# a comment\n3 2\n255\n" + bytes(range(18))  # sum 153
    pgm = b"P5\n2 2\n255\n" + bytes([1, 2, 3, 4])  # sum 10
    # BMP 3x2, 24bpp, bottom-up; row stride 12 (9 data + 3 pad)
    w, h = 3, 2
    stride = (w * 3 + 3) & ~3
    raster = b""
    for y in range(h):
        row = bytes([(y * 10 + x) for x in range(w * 3)])
        raster += row + b"\x00" * (stride - len(row))
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + raster
    )
    bmp_sum = sum(sum((y * 10 + x) for x in range(w * 3)) for y in range(h))
    rows = [(1, ppm), (2, pgm), (3, bmp), (4, b"\x89PNG...")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_images(df, "doc_id", "payload").collect()}
    assert (got[1].kind, got[1].width, got[1].height, got[1].pixel_sum) == (
        "image/x-portable-pixmap", 3, 2, 153)
    assert (got[2].kind, got[2].width, got[2].height, got[2].pixel_sum) == (
        "image/x-portable-graymap", 2, 2, 10)
    assert (got[3].kind, got[3].width, got[3].height, got[3].pixel_sum) == (
        "image/bmp", 3, 2, bmp_sum)
    assert got[4].kind == "unsupported" and got[4].width is None


def _mk_png(w, h, bit_depth=8, color_type=2, corrupt_crc=False):
    import struct
    import zlib

    def chunk(t, data):
        crc = zlib.crc32(t + data) & 0xFFFFFFFF
        if corrupt_crc and t == b"IHDR":
            crc ^= 0x1
        return struct.pack(">I", len(data)) + t + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    raster = b"".join(b"\x00" + b"\x7f" * (w * 3) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


def _mk_jpeg(w, h, precision=8, progressive=False, no_sof=False):
    import struct

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    out = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    if not no_sof:
        sof = struct.pack(">BHH", precision, h, w) + b"\x03" + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        marker = b"\xff\xc2" if progressive else b"\xff\xc0"
        out += marker + struct.pack(">H", 2 + len(sof)) + sof
    return out + b"\xff\xd9"


def test_png_jpeg_header_parse():
    """PNG IHDR (CRC-verified) and JPEG SOFn headers parse to real
    dims/depth; corrupted CRC, truncation, and SOF-less streams return
    None instead of garbage (VERDICT r3 #5)."""
    from jsonschema_validator_spark.operators.multimodal import (
        decode_image_bytes,
        parse_jpeg_header,
        parse_png_header,
    )

    png = parse_png_header(_mk_png(640, 480, bit_depth=16, color_type=6))
    assert (png["kind"], png["width"], png["height"], png["bit_depth"], png["color_type"]) == (
        "image/png", 640, 480, 16, 6)
    assert png["pixel_sum"] is None
    assert parse_png_header(_mk_png(3, 2, corrupt_crc=True)) is None
    assert parse_png_header(_mk_png(3, 2)[:20]) is None  # truncated IHDR
    assert parse_png_header(b"\x89PNG\r\n\x1a\n") is None

    jpg = parse_jpeg_header(_mk_jpeg(1920, 1080))
    assert (jpg["kind"], jpg["width"], jpg["height"], jpg["bit_depth"]) == (
        "image/jpeg", 1920, 1080, 8)
    prog = parse_jpeg_header(_mk_jpeg(64, 32, precision=12, progressive=True))
    assert (prog["width"], prog["height"], prog["bit_depth"]) == (64, 32, 12)
    assert parse_jpeg_header(_mk_jpeg(1, 1, no_sof=True)) is None
    assert parse_jpeg_header(b"\xff\xd8\xff") is None
    # DHT (C4) must be skipped as a plain segment, not read as SOF
    import struct as _s
    dht_first = (
        b"\xff\xd8" + b"\xff\xc4" + _s.pack(">H", 5) + b"abc"
        + b"\xff\xc0" + _s.pack(">H", 11) + _s.pack(">BHH", 8, 7, 9) + b"\x01\x01\x11\x00"
    )
    got = parse_jpeg_header(dht_first)
    assert (got["width"], got["height"]) == (9, 7)
    # dispatch through the shared entry point
    assert decode_image_bytes(_mk_png(10, 4))["kind"] == "image/png"
    assert decode_image_bytes(_mk_jpeg(10, 4))["kind"] == "image/jpeg"


def test_image_headers_in_decode_images(spark):
    """decode_images reports real PNG dims + FULL-RASTER pixel_sum
    (8-bit non-interlaced scope), real JPEG dims + bit depth with NULL
    pixel_sum (header-only), alongside the other full-raster formats."""
    from jsonschema_validator_spark.operators.multimodal import decode_images

    rows = [(1, _mk_png(12, 7)), (2, _mk_jpeg(33, 21)), (3, b"P6\n1 1\n255\nabc")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_images(df, "doc_id", "payload").collect()}
    assert (got[1].kind, got[1].width, got[1].height, got[1].bit_depth) == (
        "image/png", 12, 7, 8)
    assert got[1].pixel_sum == 12 * 7 * 3 * 0x7F  # _mk_png raster is all 0x7f
    assert (got[2].kind, got[2].width, got[2].height, got[2].bit_depth) == (
        "image/jpeg", 33, 21, 8)
    assert got[2].pixel_sum is None
    assert got[3].kind == "image/x-portable-pixmap" and got[3].pixel_sum == sum(b"abc")


def _encode_png(pixels, width, height, channels, filters):
    """Test-side PNG encoder, DISJOINT from decode_png_raster's filter
    inversion: applies the RFC 2083 forward filters per scanline."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = channels
    stride = width * bpp
    raw = bytes(pixels)
    assert len(raw) == height * stride

    def chunk(t, data):
        return (
            struct.pack(">I", len(data)) + t + data
            + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF)
        )

    out, prev = [], bytes(stride)
    for y in range(height):
        row = raw[y * stride : (y + 1) * stride]
        f = filters[y % len(filters)]
        filt = bytearray()
        for i in range(stride):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt.append((row[i] - pred) & 0xFF)
        out.append(bytes([f]) + bytes(filt))
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(out)))
        + chunk(b"IEND", b"")
    )


def test_audio_window_features(spark):
    """Windowed rms/zcr/peak against hand arithmetic: a 6-sample mono
    WAV in 4-frame windows -> one full + one len-2 window; stereo and
    non-WAV payloads emit no rows (explicit-downmix contract)."""
    import io
    import math
    import wave

    import numpy as np

    from jsonschema_validator_spark.operators.multimodal import (
        audio_window_features,
    )

    def wav(samples, channels=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(np.array(samples, dtype="<i2").tobytes())
        return buf.getvalue()

    xs = [3, -4, 0, 5, -2, -2]  # zero breaks the run: 3 strict flips in w0
    rows = [
        (1, wav(xs)),
        (2, wav([1, -1, 1, -1], channels=2)),  # stereo: excluded
        (3, b"not a wav"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, wav binary")
    got = {
        (r.doc_id, r.win_idx): r
        for r in audio_window_features(df, "doc_id", "wav", win=4).collect()
    }
    assert set(got) == {(1, 0), (1, 1)}
    w0, w1 = got[(1, 0)], got[(1, 1)]
    assert w0.n_samples == 4 and w1.n_samples == 2
    assert abs(w0.rms - math.sqrt((9 + 16 + 0 + 25) / 4)) < 1e-12
    # strict sign flips in w0: (3,-4) yes, (-4,0) no, (0,5) no -> 1/3
    assert abs(w0.zcr - 1 / 3) < 1e-12
    assert w0.peak == 5
    assert abs(w1.rms - math.sqrt((4 + 4) / 2)) < 1e-12 and w1.zcr == 0.0
    assert w1.peak == 2


def test_gif_header_parse():
    """GIF87a/89a logical-screen descriptor parses to real dims and
    colour resolution; truncation and bad signatures return None."""
    import struct

    from jsonschema_validator_spark.operators.multimodal import (
        decode_image_bytes,
        parse_gif_header,
    )

    def mk(w, h, sig=b"GIF89a", packed=0b1_111_0_111):
        return sig + struct.pack("<HH", w, h) + bytes([packed, 0, 0]) + b"\x00" * 8

    got = parse_gif_header(mk(320, 200))
    assert (got["kind"], got["width"], got["height"], got["bit_depth"]) == (
        "image/gif", 320, 200, 8)
    assert got["pixel_sum"] is None
    assert parse_gif_header(mk(64, 64, sig=b"GIF87a", packed=0b0_010_0_010))["bit_depth"] == 3
    assert parse_gif_header(mk(0, 10)) is None          # zero dims
    assert parse_gif_header(mk(1, 1)[:9]) is None        # truncated
    assert parse_gif_header(b"GIF90a" + b"\x00" * 10) is None
    assert decode_image_bytes(mk(33, 21))["kind"] == "image/gif"


def test_png_raster_decode_all_filters():
    """decode_png_raster inverts every RFC 2083 scanline filter
    (None/Sub/Up/Average/Paeth) for gray, gray+alpha, RGB, and RGBA —
    the encoder here applies the FORWARD filters independently, so the
    round trip checks the inverse, not a shared implementation. Out-of-
    scope payloads (palette, 16-bit, corrupt IDAT) degrade to the
    header-only dict via decode_image_bytes."""
    import struct
    import zlib

    from jsonschema_validator_spark.operators.multimodal import (
        decode_image_bytes,
        decode_png_raster,
    )

    for channels in (1, 2, 3, 4):
        w, h = 9, 7
        pixels = [(13 * i + 7 * channels) % 256 for i in range(w * h * channels)]
        want = sum(pixels)
        # every filter type appears at least once, incl. each as row 0
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 3, 2, 1, 0]):
            png = _encode_png(pixels, w, h, channels, filters)
            got = decode_png_raster(png)
            assert got is not None, (channels, filters)
            assert (got["width"], got["height"], got["pixel_sum"]) == (
                w, h, want), (channels, filters)

    # out-of-scope: palette (color_type 3) falls back to header-only
    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    pal = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 2, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", b"\x00\x00\x00\xff\xff\xff")
           + chunk(b"IDAT", zlib.compress(b"\x00\x00\x01\x01\x00" * 2))
           + chunk(b"IEND", b""))
    assert decode_png_raster(pal) is None
    meta = decode_image_bytes(pal)
    assert meta == {"kind": "image/png", "width": 4, "height": 2,
                    "bit_depth": 8, "pixel_sum": None}
    # corrupt IDAT (bad zlib stream, valid chunk CRC): header-only too
    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 2, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", b"not-zlib")
           + chunk(b"IEND", b""))
    assert decode_png_raster(bad) is None
    assert decode_image_bytes(bad)["pixel_sum"] is None
    # truncated raster (valid zlib, wrong length): header-only
    short = (b"\x89PNG\r\n\x1a\n"
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 2, 8, 2, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(b"\x00" + b"\x01" * 12))  # 1 row of 2
             + chunk(b"IEND", b""))
    assert decode_png_raster(short) is None
    assert decode_image_bytes(short)["width"] == 4




def test_duplicate_rows_window_vs_join_parity(spark):
    """duplicate_rows (window) and duplicate_rows_join (agg+join) must
    return the same rows and dup_counts — the join form is the skew-safe
    per-row attribution path (see bench.py skew section for the measured
    window-melt crossover on a Zipf-hot key)."""
    from jsonschema_validator_spark.operators.uniqueness import (
        duplicate_rows,
        duplicate_rows_join,
    )

    df = spark.range(2000).select(
        F.pmod(F.xxhash64("id"), F.lit(7)).alias("bucket"),
        # skewed key: ~half the rows share one key, rest spread thin
        F.when(F.pmod(F.xxhash64("id", F.lit(3)), F.lit(2)) == 0, F.lit("whale"))
        .otherwise(F.concat(F.lit("k"), F.pmod(F.xxhash64("id", F.lit(5)), F.lit(900))))
        .alias("key"),
        F.col("id").alias("payload"),
    )
    a = duplicate_rows(df, ["key"]).orderBy("payload").collect()
    b = duplicate_rows_join(df, ["key"]).orderBy("payload").collect()
    assert len(a) > 0
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    # column order contract: original columns then dup_count
    assert duplicate_rows_join(df, ["key"]).columns == df.columns + ["dup_count"]


def test_ngram_repetition_exact(spark):
    from jsonschema_validator_spark.operators.textstats import ngram_repetition

    rows = [
        (1, "a b a b a b"),   # grams: "a b a","b a b","a b a","b a b" -> 2/4 dup
        (2, "x y z w"),        # 2 grams, distinct -> 0.0
        (3, "one two"),        # shorter than n -> 0.0
        (4, "q q q q q"),      # 3 identical grams -> 2/3 dup
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    got = {
        r.id: round(r.rep, 6)
        for r in df.select("id", ngram_repetition(F.col("t"), 3).alias("rep")).collect()
    }
    assert got == {1: 0.5, 2: 0.0, 3: 0.0, 4: round(2 / 3, 6)}


def test_pii_scrub_and_counts(spark):
    from jsonschema_validator_spark.operators.pii import pii_counts, scrub_pii

    rows = [
        (1, "mail me at jo.doe+x@sub.example.co.uk or call +1 (555) 123-4567"),
        (2, "server 192.168.0.255 ssn 123-45-6789 clean 999.999.999.999"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    t = F.col("t")
    out = {r.id: r.asDict() for r in df.select("id", *pii_counts(t), scrub_pii(t).alias("scrubbed")).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "<EMAIL>" in out[1]["scrubbed"] and "<PHONE>" in out[1]["scrubbed"]
    assert "jo.doe" not in out[1]["scrubbed"]
    assert out[2]["n_ipv4"] == 1 and out[2]["n_ssn"] == 1  # 999.* is not an IP
    assert "999.999.999.999" in out[2]["scrubbed"]
    assert out[3]["n_email"] == out[3]["n_ipv4"] == out[3]["n_ssn"] == out[3]["n_phone"] == 0
    assert out[3]["scrubbed"] == "nothing sensitive here"


def test_pack_sequences_greedy_reference(spark):
    from jsonschema_validator_spark.operators.packing import pack_sequences

    # deterministic token counts incl. an oversize doc (budget 100)
    rows = [(i, 10 + (i * 37) % 95) for i in range(50)] + [(50, 250)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    packed = {
        r.doc_id: (r.shard, r.bin_idx)
        for r in pack_sequences(df, "n_tok", 100, "doc_id", n_shards=4).collect()
    }

    # python reference with identical semantics, sharded the same way
    import collections
    by_shard = collections.defaultdict(list)
    for doc_id, (shard, _) in sorted(packed.items()):
        by_shard[shard].append(doc_id)
    toks = dict(rows)
    for shard, ids in by_shard.items():
        bin_idx, running = 0, 0
        for d in sorted(ids):
            t = toks[d]
            if running > 0 and running + t > 100:
                bin_idx += 1
                running = 0
            running += t
            assert packed[d] == (shard, bin_idx), (d, packed[d], (shard, bin_idx))
    # oversize doc occupies a bin alone (no later doc shares its bin)
    s50, b50 = packed[50]
    sharers = [d for d, (s, b) in packed.items() if (s, b) == (s50, b50) and d != 50]
    assert all(d < 50 for d in sharers) or not sharers


def test_sessionize_gaps(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.sessions import session_stats, sessionize

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (7, base),
        (7, base + dt.timedelta(seconds=10)),
        (7, base + dt.timedelta(seconds=2000)),   # > 1800s gap -> new session
        (7, base + dt.timedelta(seconds=2005)),
        (8, base),                                 # other entity independent
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.user_id, int(r.ts.timestamp() - base.timestamp())): r.session_idx
        for r in sessionize(df, "user_id", "ts", 1800).collect()
    }
    assert got == {(7, 0): 0, (7, 10): 0, (7, 2000): 1, (7, 2005): 1, (8, 0): 0}
    stats = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_secs)
        for r in session_stats(df, "user_id", "ts", 1800).collect()
    }
    assert stats[(7, 0)] == (2, 10.0)
    assert stats[(7, 1)] == (2, 5.0)
    assert stats[(8, 0)] == (1, 0.0)


# ---------------------------------------------------------------------------
# conversation structure (operators/conversation.py)
# ---------------------------------------------------------------------------

def _conv_df(spark):
    from datetime import datetime as dt

    rows = [
        # conv A: legal system->user->assistant->tool->assistant
        ("A", 0, "system", dt(2026, 1, 1, 0, 0, 0)),
        ("A", 1, "user", dt(2026, 1, 1, 0, 0, 10)),
        ("A", 2, "assistant", dt(2026, 1, 1, 0, 1, 10)),
        ("A", 3, "tool", dt(2026, 1, 1, 0, 1, 15)),
        ("A", 4, "assistant", dt(2026, 1, 1, 0, 2, 0)),
        # conv B: user->user (illegal), tool opening turn (illegal)
        ("B", 0, "tool", dt(2026, 1, 1, 1, 0, 0)),
        ("B", 1, "user", dt(2026, 1, 1, 1, 0, 30)),
        ("B", 2, "user", dt(2026, 1, 1, 1, 2, 30)),
        # conv C: single turn
        ("C", 0, "user", dt(2026, 1, 1, 2, 0, 0)),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp"
    )


def test_transition_violations(spark):
    from jsonschema_validator_spark.operators.conversation import transition_violations

    out = transition_violations(_conv_df(spark)).collect()
    got = {(r.conv_id, r.turn_idx): (r.prev_role, r.role) for r in out}
    # B breaks the contract three times: tool can't open, tool->user is
    # not an allowed edge, user->user is not an allowed edge
    assert got[("B", 0)] == (None, "tool")
    assert got[("B", 1)] == ("tool", "user")
    assert got[("B", 2)] == ("user", "user")
    assert len(got) == 3  # every turn of A and C is legal


def test_conversation_stats(spark):
    from jsonschema_validator_spark.operators.conversation import conversation_stats

    out = {r.conv_id: r for r in conversation_stats(_conv_df(spark)).collect()}
    a = out["A"]
    assert a.n_turns == 5 and a.n_roles == 4
    assert (a.first_turn, a.last_turn) == (0, 4)
    assert a.duration_secs == 120.0
    assert a.max_gap_secs == 60.0  # user -> assistant gap
    assert (a.n_system, a.n_user, a.n_assistant, a.n_tool) == (1, 1, 2, 1)
    c = out["C"]
    assert c.n_turns == 1 and c.max_gap_secs is None and c.duration_secs == 0.0


def _fp_df(spark):
    # D is a turn-for-turn copy of A (same texts at the same positions);
    # E has A's texts with two positions SWAPPED — same multiset of
    # turns, different order, so it must NOT share A's fingerprint
    rows = [
        ("A", 0, "hello"), ("A", 1, "hi there"), ("A", 2, "bye"),
        ("D", 0, "hello"), ("D", 1, "hi there"), ("D", 2, "bye"),
        ("E", 0, "hello"), ("E", 1, "bye"), ("E", 2, "hi there"),
        ("F", 0, "solo"),
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def test_conversation_fingerprint_modes_agree_on_groups(spark):
    from jsonschema_validator_spark.operators.conversation import (
        conversation_fingerprint,
    )

    df = _fp_df(spark)
    for algebraic in (False, True):
        fp = {
            r.conv_id: r.fingerprint
            for r in conversation_fingerprint(
                df, F.col("text"), algebraic=algebraic
            ).collect()
        }
        # exact copy shares the fingerprint; reorder and solo do not
        assert fp["A"] == fp["D"], f"algebraic={algebraic}"
        assert fp["A"] != fp["E"], f"order-insensitive! algebraic={algebraic}"
        assert len({fp["A"], fp["E"], fp["F"]}) == 3


def test_conversation_fingerprint_partitioning_independent(spark):
    from jsonschema_validator_spark.operators.conversation import (
        conversation_fingerprint,
    )

    df = _fp_df(spark)
    base = {
        r.conv_id: r.fingerprint
        for r in conversation_fingerprint(df, F.col("text")).collect()
    }
    # shuffled row order + different partitioning must not change any
    # fingerprint (array_sort restores turn order inside the group)
    scrambled = df.orderBy(F.col("text")).repartition(7)
    got = {
        r.conv_id: r.fingerprint
        for r in conversation_fingerprint(scrambled, F.col("text")).collect()
    }
    assert got == base


def test_duplicate_conversations_keep_drop(spark):
    from jsonschema_validator_spark.operators.conversation import (
        conversation_fingerprint,
        duplicate_conversations,
    )

    fp = conversation_fingerprint(_fp_df(spark), F.col("text"))
    out = {r.conv_id: r for r in duplicate_conversations(fp).collect()}
    assert out["A"].keep and not out["D"].keep  # lowest key is canonical
    assert out["A"].n_convs == out["D"].n_convs == 2
    assert out["E"].keep and out["E"].n_convs == 1
    assert out["F"].keep and out["F"].n_convs == 1


# ---------------------------------------------------------------------------
# JSON key profiling + schema inference (operators/profile.py)
# ---------------------------------------------------------------------------

def test_json_key_profile(spark):
    from jsonschema_validator_spark.operators.profile import json_key_profile

    df = spark.createDataFrame(
        [
            ('{"a": 5, "s": "xy"}',),
            ('{"a": 7.0, "s": "longer"}',),   # integral float tags integer
            ('{"a": null, "b": [1], "o": {"k": 1}}',),
            ('{"a": true, "f": 1.5}',),
            ("not json",),                     # unparseable: contributes nothing
            (None,),
        ],
        "doc string",
    )
    prof = {r.key: r for r in json_key_profile(df, "doc").collect()}
    a = prof["a"]
    assert a.n_present == 4
    assert (a.n_integer, a.n_null, a.n_boolean) == (2, 1, 1)
    assert (a.min_int, a.max_int) == (5, 7)
    s = prof["s"]
    assert s.n_present == 2 and s.n_string == 2 and s.max_strlen == 6
    assert prof["b"].n_array == 1 and prof["o"].n_object == 1
    assert prof["f"].n_number == 1 and prof["f"].min_int is None
    assert set(prof) == {"a", "s", "b", "o", "f"}


def test_infer_schema_round_trip(spark):
    """The loop closes: a schema inferred from a population validates
    that population clean — and rejects a document outside the
    observed bounds."""
    from jsonschema_validator_spark.api import Schema
    from jsonschema_validator_spark.operators.profile import (
        infer_schema,
        json_key_profile,
    )

    docs = [
        {"id": 3, "name": "ada"},
        {"id": 9, "name": "grace", "tags": ["x"]},
        {"id": 4, "name": "alan"},
    ]
    import json as _json

    df = spark.createDataFrame([(_json.dumps(d),) for d in docs], "doc string")
    rows = json_key_profile(df, "doc").collect()
    schema = infer_schema(rows, n_docs=len(docs))
    assert schema["required"] == ["id", "name"]
    assert schema["properties"]["id"] == {"type": "integer", "minimum": 3, "maximum": 9}
    assert schema["properties"]["tags"] == {"type": "array"}
    s = Schema.create(schema, spark, draft="draft7")
    assert all(s.is_valid(d) for d in docs)
    assert not s.is_valid({"id": 99, "name": "out of observed range"})
    assert not s.is_valid({"name": "missing required id"})


# ---------------------------------------------------------------------------
# all-pairs drift matrix (operators/drift.py drift_matrix)
# ---------------------------------------------------------------------------

def test_drift_matrix(spark):
    from jsonschema_validator_spark.operators.drift import drift_matrix, ks_psi

    # p1 and p2 identical uniform; p3 shifted hard to the top bucket
    rows = (
        [("p1", float(i % 10)) for i in range(200)]
        + [("p2", float(i % 10)) for i in range(200)]
        + [("p3", 9.0)] * 200
    )
    df = spark.createDataFrame(rows, "part string, v double")
    out = {
        (r.part_a, r.part_b): r
        for r in drift_matrix(
            df, F.col("v"), "part", buckets=10, lo=0.0, hi=10.0
        ).collect()
    }
    assert set(out) == {("p1", "p2"), ("p1", "p3"), ("p2", "p3")}
    same = out[("p1", "p2")]
    assert same.ks_stat == 0.0 and abs(same.psi) < 1e-12
    assert same.n_a == same.n_b == 200
    assert out[("p1", "p3")].ks_stat > 0.8 and out[("p1", "p3")].psi > 1.0

    # pairwise statistic agrees with the baseline-vs-partition form:
    # ks_psi(part=p1, baseline=p3) must equal matrix pair (p1, p3)
    base = {
        r.part: r
        for r in ks_psi(
            df, F.col("v"), "part", buckets=10, baseline_partition="p3",
            lo=0.0, hi=10.0,
        ).collect()
    }
    assert abs(base["p1"].ks_stat - out[("p1", "p3")].ks_stat) < 1e-12
    assert abs(base["p1"].psi - out[("p1", "p3")].psi) < 1e-12


def test_schema_drift(spark):
    from jsonschema_validator_spark.operators.profile import (
        json_key_profile,
        schema_drift,
    )

    df = spark.createDataFrame(
        [
            ("p1", '{"k": 1, "gone": true}'),
            ("p1", '{"k": 2}'),
            ("p2", '{"k": "now a string", "new": [1]}'),
            ("p2", '{"k": 3}'),
        ],
        "part string, doc string",
    )
    prof = json_key_profile(df, "doc", partition_col="part")
    out = {r.key: r for r in schema_drift(prof, "p1", "p2").collect()}
    assert out["gone"].status == "removed" and out["gone"].type_l1 == 1.0
    assert out["new"].status == "added" and out["new"].n_a == 0
    k = out["k"]
    assert k.status == "common" and (k.n_a, k.n_b) == (2, 2)
    # p1: all integer; p2: half integer, half string -> |1-.5| + |0-.5|
    assert abs(k.type_l1 - 1.0) < 1e-12


def test_word_entropy_exact(spark):
    import math

    from jsonschema_validator_spark.operators.textstats import word_entropy

    rows = [
        (0, "a a a a"),                 # one word -> 0 bits
        (1, "a b c d"),                 # uniform over 4 -> 2 bits
        (2, "a a b b"),                 # uniform over 2 -> 1 bit
        (3, "a a a b"),                 # H(3/4, 1/4)
        (4, None),                      # NULL -> NULL
        (5, "solo"),                    # single token -> 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", word_entropy(F.col("text")).alias("h")
        ).collect()
    }
    h31 = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert got[0] == 0.0 and got[2] == 1.0 and got[5] == 0.0
    assert abs(got[1] - 2.0) < 1e-12 and abs(got[3] - h31) < 1e-12
    assert got[4] is None


def test_unigram_logprob_reference(spark):
    import math

    from jsonschema_validator_spark.operators.textstats import unigram_logprob

    # corpus: a a a b  (T=4, P(a)=3/4, P(b)=1/4)
    df = spark.createDataFrame(
        [(0, "a a a"), (1, "b")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logp"])
        for r in unigram_logprob(df).collect()
    }
    assert got[0][0] == 3 and abs(got[0][1] - math.log2(0.75)) < 1e-12
    assert got[1][0] == 1 and abs(got[1][1] - math.log2(0.25)) < 1e-12


def test_incremental_dedup_statuses(spark):
    from jsonschema_validator_spark.operators.dedup import incremental_dedup
    from jsonschema_validator_spark.operators.textstats import fingerprint

    new = spark.createDataFrame(
        [
            (10, "seen before!"),     # in corpus snapshot
            (11, "Seen, before"),     # normalized-equal to corpus too
            (12, "fresh text"),       # kept
            (13, "fresh text"),       # dup within batch of 12
            (14, "another one"),      # kept
        ],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame([("seen before",)], "t string").select(
        fingerprint(F.col("t")).alias("fp")
    )
    got = {
        r["doc_id"]: r["status"] for r in incremental_dedup(new, seen).collect()
    }
    assert got == {
        10: "dup_of_corpus",
        11: "dup_of_corpus",
        12: "kept",
        13: "dup_in_batch",
        14: "kept",
    }


def test_top_k_per_group_window_vs_salted_parity(spark):
    from jsonschema_validator_spark.operators.stats import top_k_per_group

    # 3 groups, one whale group, planted ties on value (id desc breaks)
    rows = [("g0", i, i % 7) for i in range(200)]
    rows += [("g1", 1000 + i, 5) for i in range(10)]   # all-tied group
    rows += [("g2", 2000, 9)]                          # fewer rows than k
    df = spark.createDataFrame(rows, "g string, id long, v long")
    win = top_k_per_group(df, "g", "v", "id", k=4).collect()
    sal = top_k_per_group(df, "g", "v", "id", k=4, salt_buckets=8).collect()
    key = lambda r: (r["g"], r["rank"], r["id"], r["v"])
    assert sorted(map(key, win)) == sorted(map(key, sal))
    got = {(r["g"], r["rank"]): (r["id"], r["v"]) for r in sal}
    assert got[("g1", 1)] == (1009, 5)  # tie -> highest id first
    assert got[("g2", 1)] == (2000, 9) and ("g2", 2) not in got
    # g0: v=6 ids are 6,13,...,195; top by (v desc, id desc)
    assert got[("g0", 1)] == (195, 6) and got[("g0", 2)] == (188, 6)


def test_asof_join_reference_semantics(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [
            (1, "u1", t(10)),   # after r@5 -> price 100
            (2, "u1", t(5)),    # exactly at r@5 -> inclusive
            (3, "u1", t(4)),    # before any -> unmatched
            (4, "u2", t(30)),   # other key -> its own series
            (5, "u3", t(10)),   # key with no right rows at all
            (6, "u1", None),    # NULL left time -> unmatched
        ],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", t(5), 100),
            ("u1", t(9), 200),
            ("u2", t(1), 300),
            ("u2", None, 999),  # NULL right time -> dropped
        ],
        "user_id string, rts timestamp, price long",
    )
    out = {
        r["event_id"]: (r["price"], r["rts"])
        for r in asof_join(left, right, "user_id", "ts", "rts").collect()
    }
    assert len(out) == 6  # left join: no rows drop
    assert out[1] == (200, t(9))
    assert out[2] == (100, t(5))
    assert out[3] == (None, None)
    assert out[4] == (300, t(1))
    assert out[5] == (None, None)
    assert out[6] == (None, None)


def test_asof_join_rejects_column_clash(spark):
    import pytest as _pytest

    from jsonschema_validator_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1, "u", 2)], "a long, user_id string, ts long")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(df, df, "user_id", "ts", "ts")


def test_unigram_logprob_precomputed_model(spark):
    import math

    from jsonschema_validator_spark.operators.textstats import unigram_logprob

    df = spark.createDataFrame([(0, "a b zz")], "doc_id long, text string")
    model = spark.createDataFrame([("a", 3), ("b", 1)], "word string, cnt long")
    r = unigram_logprob(df, unigram=model).first()
    # n_tokens counts ALL words; OOV zz drops out of the MEAN only:
    # mean over {a: log2(3/4), b: log2(1/4)}
    want = (math.log2(0.75) + math.log2(0.25)) / 2
    assert r["n_tokens"] == 3 and abs(r["mean_logp"] - want) < 1e-12


def test_chunk_documents_reference(spark):
    import pytest as _pytest

    from jsonschema_validator_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [
            (0, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 toks
            (1, "a b"),                            # shorter than one chunk
            (2, "x1 x2 x3 x4 x5 x6 x7"),           # exactly stride+overlap+... 7 toks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=6, overlap=2)  # stride 4
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk"])
        for r in out.collect()
    }
    # doc 0: ceil((10-2)/4)=2 chunks: [t0..t5], [t4..t9]
    assert got[(0, 0)] == (6, "t0 t1 t2 t3 t4 t5")
    assert got[(0, 1)] == (6, "t4 t5 t6 t7 t8 t9")
    assert (0, 2) not in got
    # doc 1: one short chunk
    assert got[(1, 0)] == (2, "a b")
    # doc 2: ceil((7-2)/4)=2 chunks, second is short: [x1..x6], [x5..x7]
    assert got[(2, 0)] == (6, "x1 x2 x3 x4 x5 x6")
    assert got[(2, 1)] == (3, "x5 x6 x7")
    # overlap invariant: consecutive chunks share exactly `overlap` tokens
    assert got[(0, 0)][1].split()[-2:] == got[(0, 1)][1].split()[:2]
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_key_skew_profile_reference(spark):
    import math

    from jsonschema_validator_spark.operators.stats import key_skew_profile

    # whale key owns 12 of 16 rows; 4 singleton keys
    rows = [("whale",)] * 12 + [(f"k{i}",) for i in range(4)]
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_profile(df, "k").first()
    assert (r["n_rows"], r["n_keys"]) == (16, 5)
    assert abs(r["top1_share"] - 12 / 16) < 1e-12
    assert r["top10_share"] == 1.0  # only 5 keys
    want_h = math.log2(16) - (12 * math.log2(12)) / 16  # singletons: c*log2(1)=0
    assert abs(r["entropy_bits"] - want_h) < 1e-12
    assert abs(r["entropy_norm"] - want_h / math.log2(5)) < 1e-12
    # uniform distribution -> entropy_norm 1.0
    u = spark.createDataFrame([(f"k{i}",) for i in range(8)], "k string")
    ru = key_skew_profile(u, "k").first()
    assert abs(ru["entropy_norm"] - 1.0) < 1e-12 and ru["top1_share"] == 0.125
    # single key -> entropy 0, norm 0 (guarded division)
    s = key_skew_profile(spark.createDataFrame([("a",)] * 3, "k string"), "k").first()
    assert s["entropy_bits"] == 0.0 and s["entropy_norm"] == 0.0


def test_incremental_dedup_null_text_kept(spark):
    from jsonschema_validator_spark.operators.dedup import incremental_dedup

    new = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None)], "doc_id long, text string"
    )
    seen = spark.createDataFrame([("deadbeef",)], "fp string")
    got = {r["doc_id"]: r["status"] for r in incremental_dedup(new, seen).collect()}
    # NULL content is not a duplicate of anything, including other NULLs
    assert got == {1: "kept", 2: "kept", 3: "kept"}


def test_unigram_logprob_all_oov_doc_keeps_row(spark):
    from jsonschema_validator_spark.operators.textstats import unigram_logprob

    df = spark.createDataFrame([(0, "a a"), (1, "zz qq")], "doc_id long, text string")
    model = spark.createDataFrame([("a", 4)], "w string, c long")
    got = {r["doc_id"]: r for r in unigram_logprob(df, unigram=model).collect()}
    assert got[1]["n_tokens"] == 2 and got[1]["mean_logp"] is None
    assert got[0]["mean_logp"] is not None


def test_chunk_documents_null_text_yields_no_rows(spark):
    from jsonschema_validator_spark.operators.packing import chunk_documents

    df = spark.createDataFrame([(0, None), (1, "a b c")], "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=2, overlap=0).collect()
    assert {r["doc_id"] for r in out} == {1}


def test_asof_join_null_keys_never_match(spark):
    from jsonschema_validator_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, None, 10)], "event_id long, k string, ts long")
    right = spark.createDataFrame([(None, 5, 99)], "k string, rts long, price long")
    out = asof_join(left, right, "k", "ts", "rts").collect()
    assert len(out) == 1 and out[0]["price"] is None


def test_asof_join_rejects_reserved_left_columns(spark):
    import pytest as _pytest

    from jsonschema_validator_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "u", 2, 3)], "id long, k string, ts long, __t long")
    right = spark.createDataFrame([("u", 1, 9)], "k string, rts long, price long")
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, "k", "ts", "rts")


def test_embedding_centroid_drift_reference(spark):
    from jsonschema_validator_spark.operators.drift import embedding_centroid_drift

    rows = [
        ("a", [1.0, 0.0]), ("a", [1.0, 0.0]),       # centroid (1, 0)
        ("b", [0.0, 2.0]),                           # centroid (0, 2) -> orthogonal
        ("c", [2.0, 0.0]), ("c", [4.0, 0.0]),        # centroid (3, 0) -> parallel to a
    ]
    df = spark.createDataFrame(rows, "part string, embedding array<float>")
    got = {
        (r["part_a"], r["part_b"]): r
        for r in embedding_centroid_drift(df, "part").collect()
    }
    assert abs(got[("a", "b")]["cos_dist"] - 1.0) < 1e-9   # orthogonal
    assert abs(got[("a", "c")]["cos_dist"] - 0.0) < 1e-9   # parallel
    assert abs(got[("b", "c")]["cos_dist"] - 1.0) < 1e-9
    assert got[("a", "c")]["n_a"] == 2 and got[("a", "c")]["n_b"] == 2
    assert len(got) == 3


def test_split_by_group_leakage_free_and_deterministic(spark):
    from jsonschema_validator_spark.operators.sampling import split_by_group

    df = spark.range(5000).select(
        F.col("id").alias("row_id"), (F.col("id") % 500).alias("grp")
    )
    s = split_by_group(df, "grp", {"train": 0.8, "val": 0.1, "test": 0.1})
    # no group in two splits (the leakage guard is the whole point)
    leaks = (
        s.groupBy("grp")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert leaks == 0
    # every row keeps a split; fractions roughly honored at 500 groups
    by = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(by.values()) == 5000
    assert by["train"] > by["val"] and by["train"] > by["test"]
    # pure function of the key: invariant under repartitioning
    a = sorted((r["row_id"], r["split"]) for r in s.collect())
    b = sorted(
        (r["row_id"], r["split"])
        for r in split_by_group(
            df.repartition(7, "row_id"), "grp", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    )
    assert a == b


def test_range_join_matches_theta_join(spark):
    from jsonschema_validator_spark.operators.asof import range_join

    # intervals spanning multiple granules, boundary ties, overlaps,
    # NULL keys/bounds, inverted bounds
    pts = spark.createDataFrame(
        [
            (1, "u1", "2024-01-01 00:30:00"),
            (2, "u1", "2024-01-01 02:00:00"),   # == interval end: inclusive
            (3, "u1", "2024-01-01 02:00:01"),   # just past end
            (4, "u2", "2024-01-01 00:30:00"),   # wrong key
            (5, None, "2024-01-01 00:30:00"),   # NULL key -> no match
            (6, "u1", None),                     # NULL time -> no match
        ],
        "pid int, k string, t string",
    ).withColumn("t", F.col("t").cast("timestamp_ntz"))
    ivs = spark.createDataFrame(
        [
            (10, "u1", "2024-01-01 00:00:00", "2024-01-01 02:00:00"),  # 3 granules
            (11, "u1", "2024-01-01 00:15:00", "2024-01-01 00:45:00"),  # overlaps 10
            (12, "u1", "2024-01-01 05:00:00", "2024-01-01 04:00:00"),  # inverted
            (13, None, "2024-01-01 00:00:00", "2024-01-01 02:00:00"),  # NULL key
        ],
        "iid int, k string, s string, e string",
    ).withColumn("s", F.col("s").cast("timestamp_ntz")).withColumn(
        "e", F.col("e").cast("timestamp_ntz")
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            pts, ivs, on="k", point_time="t", start="s", end="e",
            granule_seconds=3600,
        ).collect()
    )
    want = sorted(
        (r["pid"], r["iid"])
        for r in pts.alias("p")
        .join(
            ivs.alias("i"),
            (F.col("p.k") == F.col("i.k"))
            & F.col("p.t").between(F.col("i.s"), F.col("i.e")),
        )
        .collect()
    )
    assert got == want == [(1, 10), (1, 11), (2, 10)]
    # the whole point of the construction: equi-join, not nested-loop
    plan = range_join(
        pts, ivs, on="k", point_time="t", start="s", end="e", granule_seconds=3600
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_range_join_guards(spark):
    import pytest as _pytest

    from jsonschema_validator_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        [(1, "u1", "2024-01-01 00:30:00")], "pid int, k string, t string"
    ).withColumn("t", F.col("t").cast("timestamp_ntz"))
    ivs = spark.createDataFrame(
        [(10, "u1", "2024-01-01 00:00:00", "2024-03-01 00:00:00")],
        "iid int, k string, s string, e string",
    ).withColumn("s", F.col("s").cast("timestamp_ntz")).withColumn(
        "e", F.col("e").cast("timestamp_ntz")
    )
    # distributed span guard fires (60 days of 1s granules >> max_granules)
    with _pytest.raises(Exception, match="max_granules"):
        range_join(
            pts, ivs, on="k", point_time="t", start="s", end="e",
            granule_seconds=1, max_granules=1000,
        ).collect()
    # payload collision rejected up front
    with _pytest.raises(ValueError, match="collide"):
        range_join(
            pts.withColumn("iid", F.lit(1)), ivs,
            on="k", point_time="t", start="s", end="e",
        )


def test_remove_boilerplate_lines(spark):
    from jsonschema_validator_spark.operators.cleaning import (
        remove_boilerplate_lines,
    )

    rows = [
        (1, "HDR\nalpha\nrepeat\nrepeat\nFTR"),  # dup content line kept twice
        (2, "HDR\nbeta\nFTR"),
        (3, "HDR\ngamma\nFTR"),
        (4, "HDR\nFTR"),                          # all boilerplate -> empty
        (5, None),                                # NULL text passes through
        (6, "delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, "doc_id", "text", min_docs=3).collect()
    }
    assert got[1]["clean_text"] == "alpha\nrepeat\nrepeat"  # order + dups kept
    assert got[1]["n_kept"] == 3 and got[1]["n_removed"] == 2
    assert got[2]["clean_text"] == "beta"
    assert got[4]["clean_text"] == "" and got[4]["n_kept"] == 0
    assert got[4]["n_removed"] == 2
    assert got[5]["clean_text"] is None and got[5]["n_kept"] == 0
    assert got[6]["clean_text"] == "delta" and got[6]["n_removed"] == 0
    assert len(got) == 6  # rows never drop


def test_winsorized_stats_reference(spark):
    import statistics

    from jsonschema_validator_spark.operators.stats import winsorized_stats

    vals = [float(v) for v in range(1, 100)] + [10_000.0]  # one poison value
    df = spark.createDataFrame(
        [("g", v) for v in vals] + [("g", None)], "grp string, v double"
    )
    r = winsorized_stats(df, "v", "grp", lower=0.05, upper=0.95).collect()[0]
    # exact quantile_cont interpolation on n=100: p05 = 5.95, p95 = 95.05
    assert abs(r["lo"] - 5.95) < 1e-9 and abs(r["hi"] - 95.05) < 1e-9
    clamped = [min(max(v, r["lo"]), r["hi"]) for v in vals]
    assert abs(r["w_mean"] - statistics.fmean(clamped)) < 1e-9
    assert abs(r["w_std"] - statistics.stdev(clamped)) < 1e-6
    assert r["n"] == 100 and r["n_low"] == 5 and r["n_high"] == 5
    # the poison value moved the raw mean by ~99 but the winsorized mean
    # stays within the clamp bound
    assert r["w_mean"] < 52


def test_winsorized_stats_null_group_is_its_own_group(spark):
    from jsonschema_validator_spark.operators.stats import winsorized_stats

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), (None, 10.0), (None, 20.0)],
        "grp string, v double",
    )
    got = {r["grp"]: r for r in winsorized_stats(df, "v", "grp").collect()}
    # NULL-keyed rows are winsorized as their own group, not dropped
    assert got[None]["n"] == 2 and abs(got[None]["w_mean"] - 15.0) < 1e-9
    assert got["a"]["n"] == 3


def test_merge_upsert_semantics(spark):
    import pytest as _pytest

    from jsonschema_validator_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "nullkey")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "B", "upsert"),     # update
            (3, None, "delete"),    # delete
            (9, "I", "upsert"),     # insert
            (None, "x", "upsert"),  # NULL key: dropped (SQL semantics)
        ],
        "k int, v string, op string",
    )
    got = sorted(
        ((r["k"], r["v"]) for r in merge_upsert(base, changes, "k").collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == [(1, "a"), (2, "B"), (9, "I"), (None, "nullkey")]

    # unknown op fails the job loudly, never drops rows silently
    bad = spark.createDataFrame([(1, "z", "replace")], "k int, v string, op string")
    with _pytest.raises(Exception, match="unknown op"):
        merge_upsert(base, bad, "k").collect()

    # schema contract enforced up front
    with _pytest.raises(ValueError, match="missing base columns"):
        merge_upsert(base, changes.drop("v"), "k")


def test_tfidf_top_terms_reference(spark):
    import math

    from jsonschema_validator_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "g1", "apple apple banana"),
            (2, "g1", "apple cherry"),
            (3, "g2", "banana banana banana"),
        ],
        "doc int, grp string, text string",
    )
    rows = {
        (r["grp"], r["term"]): r
        for r in tfidf_top_terms(df, "doc", "text", "grp", k=10).collect()
    }
    # N=3; apple df=2 tf(g1)=3; banana df=2 tf(g2)=3; cherry df=1 tf(g1)=1
    idf2 = math.log(4.0 / 3.0) + 1.0
    idf1 = math.log(4.0 / 2.0) + 1.0
    assert abs(rows[("g1", "apple")]["tfidf"] - 3 * idf2) < 1e-9
    assert abs(rows[("g1", "cherry")]["tfidf"] - 1 * idf1) < 1e-9
    assert abs(rows[("g2", "banana")]["tfidf"] - 3 * idf2) < 1e-9
    # rank 1 in g1 is apple (3*idf2 > 1*idf1)
    assert rows[("g1", "apple")]["rank"] == 1
    assert rows[("g1", "apple")]["df"] == 2


def test_temperature_sample_rates(spark):
    from jsonschema_validator_spark.operators.sampling import temperature_sample

    df = spark.range(10_400).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 10_000, F.lit("big")).otherwise(F.lit("small")).alias("s"),
    )
    out = temperature_sample(df, "k", "s", k=4.0)
    by = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    # small stratum (400 rows, rate min(1, 4/20)=0.2): ~80 kept
    # big stratum (10k rows, rate 4/100=0.04): ~400 kept — flattened 25x
    assert by["small"] < 400  # genuinely sampled
    assert 0.5 * 0.04 * 10_000 < by["big"] < 1.5 * 0.04 * 10_000
    assert 0.5 * 0.2 * 400 < by["small"] < 1.5 * 0.2 * 400
    # deterministic under repartitioning
    a = sorted(r["k"] for r in out.collect())
    b = sorted(r["k"] for r in temperature_sample(df.repartition(13), "k", "s", k=4.0).collect())
    assert a == b
    # a salted sample is a genuinely independent thinning, not a shifted
    # copy: overlap with the unsalted sample must be ~rate^2, neither
    # zero (the single-round-XOR failure mode) nor near-total
    sa = set(a)
    sb = set(r["k"] for r in temperature_sample(df, "k", "s", k=4.0, salt=7).collect())
    expected = len(sa) * len(sb) / 10_400
    assert 0.5 * expected < len(sa & sb) < 2.0 * expected


def test_temperature_sample_null_stratum_sampled(spark):
    from jsonschema_validator_spark.operators.sampling import temperature_sample

    # rows with a NULL stratum are sampled as their own stratum at
    # their own rate, not silently dropped by the join-back
    df = spark.range(1_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 500, F.lit("named")).alias("s"),  # 500 NULLs
    )
    out = temperature_sample(df, "k", "s", k=4.0)
    by = {
        r["s"]: r["n"]
        for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # both strata: 500 rows, rate min(1, 4/sqrt(500)) ~ 0.179 -> ~89 kept
    for stratum in ("named", None):
        assert stratum in by and 0.5 * 89 < by[stratum] < 1.5 * 89
    assert set(out.columns) == {"k", "s"}


def test_scalar_quantize_roundtrip_and_recall(spark):
    from jsonschema_validator_spark.operators.similarity import (
        brute_force_topk,
        scalar_quantize,
        topk_recall,
        quantized_topk,
    )

    # well-separated clusters + one degenerate (constant) dimension
    rows = []
    for i in range(40):
        base = [10.0, 0.0, 5.0] if i % 2 == 0 else [-10.0, 1.0, 5.0]
        # within-cluster spread of several quantization steps
        # (span/255 ~ 0.09) so neighbor ORDER survives quantization —
        # sub-step spreads collapse to ties and recall legitimately drops
        rows.append((i, [base[0] + (i % 5) * 0.5, base[1], base[2]]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = scalar_quantize(df, "vec_id", "embedding", bits=8)
    got = {r["vec_id"]: r for r in q.collect()}
    # reconstruction error bounded by span / (2 * 255) per dimension
    for i, vec in rows:
        for d, (orig, deq) in enumerate(zip(vec, got[i]["vec_q"])):
            span = 22.0 if d == 0 else (1.0 if d == 1 else 0.0)
            assert abs(orig - deq) <= span / 255.0 / 2 + 1e-9, (i, d)
        assert all(0 <= c <= 255 for c in got[i]["codes"])
    # degenerate dim codes to 0 and reconstructs exactly
    assert all(r["codes"][2] == 0 and r["vec_q"][2] == 5.0 for r in got.values())
    # quantized top-k recovers the exact neighbors on separated clusters
    qids = [0, 1, 2, 3]
    truth = brute_force_topk(df, "vec_id", "embedding", qids, k=3)
    approx = quantized_topk(df, "vec_id", "embedding", qids, k=3, bits=8)
    r = topk_recall(truth, approx, 3).collect()[0]
    assert r["recall"] == 1.0


def test_correlation_matrix_reference(spark):
    import statistics

    from jsonschema_validator_spark.operators.stats import correlation_matrix

    xs = [float(i) for i in range(50)]
    ys = [2.0 * x + 3.0 for x in xs]            # perfectly correlated
    zs = [float((i * 37) % 50) for i in range(50)]  # decorrelated-ish
    df = spark.createDataFrame(
        [("g", x, y, z) for x, y, z in zip(xs, ys, zs)] + [("g", 1.0, None, 2.0)],
        "grp string, x double, y double, z double",
    )
    r = correlation_matrix(df, ["x", "y", "z"], group_by="grp").collect()[0]
    assert abs(r["corr__x__y"] - 1.0) < 1e-9
    # pairwise NULL handling: the NULL-y row is excluded from corr(x,y)
    # but its (x, z) values DO count toward corr(x,z)
    ref = statistics.correlation(xs + [1.0], zs + [2.0])
    assert abs(r["corr__x__z"] - ref) < 1e-6
    assert r["n"] == 51
    # constant column -> NULL corr, not a crash
    df2 = spark.createDataFrame([("g", 1.0, 5.0), ("g", 2.0, 5.0)], "grp string, a double, b double")
    r2 = correlation_matrix(df2, ["a", "b"], group_by="grp").collect()[0]
    assert r2["corr__a__b"] is None or r2["corr__a__b"] != r2["corr__a__b"]


def test_morton_key_reference(spark):
    from jsonschema_validator_spark.operators.zorder import morton_key

    def py_morton(x, y):
        out = 0
        for i in range(16):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    pairs = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]
    df = spark.createDataFrame(pairs, "x int, y int")
    got = [
        r["z"] for r in df.select(morton_key(F.col("x"), F.col("y")).alias("z"))
        .collect()
    ]
    assert got == [py_morton(x, y) for x, y in pairs]


def test_zorder_write_prunes_2d_boxes(spark, tmp_path):
    import pyarrow.parquet as pq

    from jsonschema_validator_spark.operators.zorder import morton_key

    # uniform 2-D grid; compare file-footprint pruning for a 2-D box
    # query under z-order vs a 1-D (x-sorted) layout
    n = 1 << 14
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(1 << 12)).cast("int").alias("x"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1 << 12)).cast("int").alias("y"),
    )
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "lin")
    (
        df.withColumn("__z", morton_key(F.col("x"), F.col("y")))
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(zdir)
    )
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def files_hit(d, lo, hi):
        import os as _os

        hit = total = 0
        for root, _, fs in _os.walk(d):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                total += 1
                md = pq.read_metadata(_os.path.join(root, f))
                xmin = ymin = 1 << 30
                xmax = ymax = -1
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        name = c.path_in_schema
                        st = c.statistics
                        if name == "x":
                            xmin, xmax = min(xmin, st.min), max(xmax, st.max)
                        elif name == "y":
                            ymin, ymax = min(ymin, st.min), max(ymax, st.max)
                if xmin <= hi and xmax >= lo and ymin <= hi and ymax >= lo:
                    hit += 1
        return hit, total

    lo, hi = 0, (1 << 12) // 4 - 1  # the bottom-left 1/16 of the space
    z_hit, z_total = files_hit(zdir, lo, hi)
    l_hit, l_total = files_hit(ldir, lo, hi)
    assert z_total == l_total == 16
    # 1-D layout: every x-slice file spans all y -> y-predicate prunes
    # nothing and the x-range still hits ~1/4 of files; z-order confines
    # the box to a corner of the code range
    assert z_hit < l_hit, (z_hit, l_hit)
    assert z_hit <= 4  # the box is 1/16 of the area

    # row parity: clustering is a layout change only
    assert spark.read.parquet(zdir).count() == n


def test_compact_parquet(spark, tmp_path):
    from jsonschema_validator_spark.sources.tables import compact_parquet

    p = str(tmp_path / "frag")
    df = spark.range(20_000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(97)).alias("k")
    )
    df.repartition(64).write.mode("overwrite").parquet(p)  # fragmented
    before_sum = spark.read.parquet(p).agg(F.sum("id")).collect()[0][0]

    stats = compact_parquet(spark, p, target_file_bytes=1 << 30)
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1  # tiny table fits one target file
    assert stats["rows"] == 20_000

    after = spark.read.parquet(p)
    assert after.count() == 20_000
    assert after.agg(F.sum("id")).collect()[0][0] == before_sum
    assert set(after.columns) == {"id", "k"}


def test_compact_parquet_aborts_on_concurrent_write(spark, tmp_path, monkeypatch):
    # a file landing under the table between the initial listing and
    # the swap would be silently dropped by the rewrite — the guard
    # re-lists immediately before the swap and aborts instead
    import os
    import shutil

    import pytest as _pytest

    import jsonschema_validator_spark.sources.tables as tables_mod

    p = str(tmp_path / "live")
    spark.range(1_000).coalesce(1).write.mode("overwrite").parquet(p)
    donor = next(f for f in os.listdir(p) if f.endswith(".parquet"))

    # inject the "concurrent writer" on the first DataFrame.count()
    # inside compact_parquet — that call happens after the initial
    # listing and before the pre-swap re-listing
    injected = {"done": False}
    # patch the CONCRETE DataFrame class (pyspark.sql.classic.…): the
    # pyspark.sql.DataFrame facade's count is overridden there, so
    # patching the base would never fire
    df_cls = type(spark.range(1))
    orig_count = df_cls.count

    def counting_hook(self):
        if not injected["done"]:
            injected["done"] = True
            shutil.copy(
                os.path.join(p, donor), os.path.join(p, "part-late.parquet")
            )
        return orig_count(self)

    def no_rename(src, dst):  # the swap must never be reached
        raise AssertionError("swap reached despite concurrent write")

    monkeypatch.setattr(df_cls, "count", counting_hook)
    monkeypatch.setattr(tables_mod.os, "rename", no_rename)
    with _pytest.raises(RuntimeError, match="directory changed"):
        tables_mod.compact_parquet(spark, p, target_file_bytes=1 << 30)
    monkeypatch.undo()
    # original data AND the late arrival both intact; tmp dir cleaned up
    assert injected["done"]
    assert spark.read.parquet(p).count() == 2_000
    assert not os.path.exists(p + ".__compact_tmp")


def test_quality_funnel_reference(spark):
    from jsonschema_validator_spark.operators.textstats import quality_funnel

    df = spark.createDataFrame(
        [
            ("a", 10, True),
            ("a", 30, True),
            ("a", 40, False),
            ("a", None, None),   # NULL gate result counts as FAIL
            ("b", 50, True),
        ],
        "grp string, x int, flag boolean",
    )
    gates = {"big": F.col("x") >= 25, "flag": F.col("flag")}
    got = {r["grp"]: r for r in quality_funnel(df, "grp", gates).collect()}
    a = got["a"]
    assert (a["n"], a["pass_big"], a["pass_flag"], a["pass_all"]) == (4, 2, 2, 1)
    assert abs(a["keep_rate"] - 0.25) < 1e-12
    b = got["b"]
    assert (b["n"], b["pass_big"], b["pass_flag"], b["pass_all"]) == (1, 1, 1, 1)


def test_shard_of_is_partition_independent(spark):
    """Shard membership is a pure function of the key: each id lands in
    the same shard in [0, n_shards) however the frame is partitioned,
    and every shard is used."""
    from jsonschema_validator_spark.sources.export import shard_of

    df = spark.range(2_000).select(F.col("id").alias("doc_id"))

    def shards(frame):
        return {r["doc_id"]: r["s"] for r in frame.select("doc_id", shard_of(F.col("doc_id"), 4).alias("s")).collect()}

    got = shards(df)
    assert got == shards(df.repartition(7))
    assert set(got.values()) == {0, 1, 2, 3}


def test_bigram_logprob_reference(spark):
    from jsonschema_validator_spark.operators.textstats import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a"), (3, None)], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in bigram_logprob(df, "text", "doc_id").collect()}
    # corpus bigrams: "a b" x2, "b a", "b c"; c(a.) = 2, c(b.) = 2
    # doc1: log2(2/2), log2(1/2), log2(2/2), log2(1/2) -> mean -0.5
    assert out[1]["n_bigrams"] == 4
    assert abs(out[1]["mean_logp"] - (-0.5)) < 1e-12
    # <2-word and NULL-text docs have no bigrams and are absent
    assert 2 not in out and 3 not in out


def test_label_coherence_reference(spark):
    from jsonschema_validator_spark.operators.similarity import label_coherence

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),     # tight cluster: centroid (1,0), cos = 1
        (3, [0.0, 1.0], 1),
        (4, [0.0, -1.0], 1),    # antipodal pair: centroid (0,0) -> norm 0
        (5, [3.0, 4.0], 2),     # singleton: centroid is itself
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>, label int")
    got = {r["label"]: r for r in label_coherence(df, "vec_id", "embedding", "label").collect()}
    assert got[0]["n"] == 2 and abs(got[0]["avg_cos"] - 1.0) < 1e-9
    assert abs(got[0]["centroid_norm"] - 1.0) < 1e-9
    assert abs(got[1]["centroid_norm"]) < 1e-9  # degenerate class flagged
    assert got[2]["n"] == 1 and abs(got[2]["avg_cos"] - 1.0) < 1e-9
    assert abs(got[2]["centroid_norm"] - 5.0) < 1e-9


def test_equi_depth_histogram_reference(spark):
    from jsonschema_validator_spark.operators.stats import equi_depth_histogram

    # 100 distinct uniform values -> exactly 10 per decile bucket
    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)], "v double"
    )
    rows = equi_depth_histogram(df, "v", k=10).collect()
    assert [r["bucket"] for r in rows] == list(range(10))
    assert all(r["n"] == 10 for r in rows), rows  # equal depth, NULL excluded
    assert rows[0]["lo"] == 0.0 and rows[-1]["hi"] == 99.0
    # buckets tile the range without overlap
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] < b["lo"]
    # heavy ties: all mass on one value collapses into one bucket
    df2 = spark.createDataFrame([(5.0,)] * 50 + [(9.0,)], "v double")
    r2 = equi_depth_histogram(df2, "v", k=4).collect()
    assert sum(r["n"] for r in r2) == 51


def test_context_truncation_prefix_semantics(spark):
    from jsonschema_validator_spark.operators.conversation import (
        context_truncation,
    )

    rows = [
        # conv a: 500+500+600 fits at 1600 budget? cum 500,1000,1600 -> all fit
        ("a", 1, 500), ("a", 2, 500), ("a", 3, 600),
        # conv b: overflow at turn 2; turn 3 is tiny but must NOT count
        ("b", 1, 1500), ("b", 2, 400), ("b", 3, 10),
        # conv c: NULL tokens count as 0
        ("c", 1, None), ("c", 2, 1600),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, n_tokens long")
    got = {
        r["conv_id"]: r
        for r in context_truncation(df, budget_tokens=1600).collect()
    }
    assert got["a"]["n_fit"] == 3 and not got["a"]["truncated"]
    assert got["b"]["n_fit"] == 1 and got["b"]["truncated"]  # prefix-fit
    assert got["c"]["n_fit"] == 2 and got["c"]["sum_tokens"] == 1600


def test_funnel_ordered_semantics(spark):
    from jsonschema_validator_spark.operators.sessions import funnel

    rows = [
        # u1: full ordered funnel
        ("u1", 1, "view"), ("u1", 2, "click"), ("u1", 3, "purchase"),
        # u2: purchase BEFORE click -> must not count as converted
        ("u2", 1, "view"), ("u2", 2, "purchase"), ("u2", 3, "click"),
        # u3: stalls after view
        ("u3", 1, "view"),
        # u4: clicks but never viewed -> not even step 0
        ("u4", 1, "click"),
        # u5: same-timestamp view+click (at-or-after is inclusive)
        ("u5", 1, "view"), ("u5", 1, "click"),
    ]
    df = spark.createDataFrame(rows, "user string, t int, e string")
    out = {
        r["step"]: r
        for r in funnel(
            df,
            group="user",
            ts="t",
            steps={
                "view": F.col("e") == "view",
                "click": F.col("e") == "click",
                "purchase": F.col("e") == "purchase",
            },
        ).collect()
    }
    assert out["view"]["n_reached"] == 4          # u1 u2 u3 u5
    assert out["click"]["n_reached"] == 3         # u1 u2(after view) u5
    assert out["purchase"]["n_reached"] == 1      # only u1 (ordered!)
    assert abs(out["purchase"]["conversion_from_prev"] - 1 / 3) < 1e-9
    assert abs(out["purchase"]["conversion_from_first"] - 0.25) < 1e-9


def test_padding_waste_buckets_and_truncation(spark):
    from jsonschema_validator_spark.operators.packing import padding_waste

    rows = [
        ("a", 4),    # -> cap 8, pad 4
        ("a", 8),    # -> cap 8 (boundary inclusive), pad 0
        ("a", 9),    # -> cap 16, pad 7
        ("b", 40),   # overflow -> cap 16, kept 16, trunc 24
        ("b", None), # NULL length rows are excluded, never a bucket
    ]
    df = spark.createDataFrame(rows, "src string, n int")
    out = {
        (r["src"], r["bucket_cap"]): r
        for r in padding_waste(df, "n", [8, 16], group_col="src").collect()
    }
    a8 = out[("a", 8)]
    assert a8["n_seqs"] == 2 and a8["sum_tokens"] == 12
    assert a8["padded_tokens"] == 4 and a8["truncated_tokens"] == 0
    assert abs(a8["waste_frac"] - 4 / 16) < 1e-9
    a16 = out[("a", 16)]
    assert a16["n_seqs"] == 1 and a16["padded_tokens"] == 7
    b16 = out[("b", 16)]
    assert b16["sum_tokens"] == 16 and b16["truncated_tokens"] == 24
    assert b16["padded_tokens"] == 0
    assert ("b", None) not in out and len(out) == 3

    with pytest.raises(ValueError):
        padding_waste(df, "n", [])
    with pytest.raises(ValueError):
        padding_waste(df, "n", [0, 8])


def test_weighted_sample_nested_clamped_null(spark):
    from jsonschema_validator_spark.operators.sampling import weighted_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    lo = {r["k"] for r in weighted_sample(df, "k", F.lit(0.3)).collect()}
    hi = {r["k"] for r in weighted_sample(df, "k", F.lit(0.6)).collect()}
    assert lo and lo < hi                      # nested in p, non-trivial
    assert abs(len(hi) / 2000 - 0.6) < 0.05    # rate is honored
    assert weighted_sample(df, "k", F.lit(5.0)).count() == 2000   # clamp hi
    assert weighted_sample(df, "k", F.lit(-1.0)).count() == 0     # clamp lo
    assert (
        weighted_sample(df, "k", F.lit(None).cast("double")).count() == 0
    )  # missing score is not a license to keep
    assert (
        weighted_sample(df, "k", F.lit(float("nan"))).count() == 0
    )  # NaN drops too (Spark orders NaN above every double — would
    #    otherwise clamp to 1.0 and keep everything)
    # salt decorrelates: overlap of two independent 30% thinnings ~ 9%
    salted = {r["k"] for r in weighted_sample(df, "k", F.lit(0.3), salt=7).collect()}
    frac = len(lo & salted) / 2000
    assert 0.03 < frac < 0.18


def test_render_offsets_match_assembled_text(spark):
    from jsonschema_validator_spark.operators.conversation import (
        assemble_rendered,
        render_training_text,
    )

    rows = [
        ("c1", 0, "system", "be nice"),
        ("c1", 1, "user", "hi"),
        ("c1", 2, "assistant", "hello!"),
        ("c2", 0, "user", None),          # NULL text still renders delimiters
        ("c2", 1, "assistant", "yo"),
        ("c3", 0, None, "orphan"),        # NULL role: renders as '', not trainable
        ("c3", 1, "assistant", "ok"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    off = render_training_text(df).collect()
    asm = {r["conv_id"]: r["text"] for r in assemble_rendered(df).collect()}
    orig = {(r[0], r[1]): r for r in rows}
    for r in off:
        t = orig[(r["conv_id"], r["turn_idx"])]
        expect = f"<|{t[2] or ''}|>{t[3] or ''}<|end|>"
        got = asm[r["conv_id"]][r["start_off"] : r["end_off"]]
        assert got == expect, (r, got, expect)
        assert r["trainable"] == (t[2] == "assistant")  # NULL role -> False
    # spans tile the assembled string exactly: last end == total length
    for conv, text in asm.items():
        ends = [r["end_off"] for r in off if r["conv_id"] == conv]
        starts = [r["start_off"] for r in off if r["conv_id"] == conv]
        assert max(ends) == len(text) and min(starts) == 0
        assert sorted(ends)[:-1] == sorted(starts)[1:]  # contiguous, no gaps


def test_heavy_hitters_exact_vs_groupby(spark):
    from jsonschema_validator_spark.operators.stats import heavy_hitters

    # Zipf-ish planted skew: key 0 owns ~40%, key 1 ~20%, the rest is a
    # long uniform tail; adversarial partitioning via round-robin
    # repartition so hot keys span every partition
    rows = (
        [(0,)] * 4000 + [(1,)] * 2000 + [(i % 500 + 10,) for i in range(4000)]
    )
    df = spark.createDataFrame(rows, "k long").repartition(13)
    out = {r["k"]: r for r in heavy_hitters(df, "k", 8).collect()}
    truth = {
        r["k"]: r["cnt"]
        for r in df.groupBy("k").count().withColumnRenamed("count", "cnt").collect()
        if r["cnt"] * 8 > len(rows)
    }
    assert set(out) == set(truth) == {0, 1}
    for key, cnt in truth.items():
        assert out[key]["cnt"] == cnt
        assert abs(out[key]["frac"] - cnt / len(rows)) < 1e-6

    # threshold is strict: a key at exactly n/k is NOT heavy
    df2 = spark.createDataFrame([(1,)] * 25 + [(2,)] * 75, "k long")
    assert {r["k"] for r in heavy_hitters(df2, "k", 4).collect()} == {2}

    # NULL keys never surface
    df3 = spark.createDataFrame([(None,)] * 90 + [(5,)] * 10, "k long")
    out3 = heavy_hitters(df3, "k", 2).collect()
    assert [r["k"] for r in out3] == [5]  # n counts non-null only: 10

    with pytest.raises(ValueError):
        heavy_hitters(df2, "k", 1)


def test_embedding_decontamination_cross_set(spark):
    from jsonschema_validator_spark.operators.similarity import (
        embedding_decontamination,
    )

    import random

    rng = random.Random(7)
    train = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    # eval = scaled copies of train ids 5 and 41 (+ one fresh vector that
    # matches nothing): only 5 and 41 may flag, with sim exactly 1.0
    tr = {r["vec_id"]: r["embedding"] for r in train.collect()}
    eval_df = spark.createDataFrame(
        [
            (1005, [x * 3.0 for x in tr[5]]),
            (1041, [x * 0.5 for x in tr[41]]),
            (1999, [rng.gauss(0, 1) for _ in range(16)]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = embedding_decontamination(
        train, eval_df, "vec_id", "embedding",
        threshold=0.98, n_planes=32, max_hamming=3, dim=16,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = {r["vec_id"]: r for r in out.collect()}
    assert set(rows) == {5, 41}
    assert rows[5]["max_sim"] == 1.0 and rows[5]["n_eval_hits"] == 1


def test_repeated_turn_runs_gaps_and_islands(spark):
    from jsonschema_validator_spark.operators.conversation import (
        repeated_turn_runs,
    )

    rows = [
        # c1: run of 3 'retry' (turns 2-4), singleton turns around it,
        # and a SECOND run of the same text later (turns 7-8, too short)
        ("c1", 0, "a"), ("c1", 1, "b"),
        ("c1", 2, "retry"), ("c1", 3, "retry"), ("c1", 4, "retry"),
        ("c1", 5, "b"), ("c1", 6, "c"),
        ("c1", 7, "retry"), ("c1", 8, "retry"),
        # c2: two consecutive NULLs then one more NULL -> NULL run of 3
        ("c2", 0, None), ("c2", 1, None), ("c2", 2, None), ("c2", 3, "x"),
        # c3: alternating, no runs
        ("c3", 0, "x"), ("c3", 1, "y"), ("c3", 2, "x"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = sorted(
        (r["conv_id"], r["run_start"], r["run_len"])
        for r in repeated_turn_runs(df, min_run=3).collect()
    )
    assert out == [("c1", 2, 3), ("c2", 0, 3)]
    # min_run=2 also catches the short second run — runs are maximal,
    # never merged across the gap
    out2 = sorted(
        (r["conv_id"], r["run_start"], r["run_len"])
        for r in repeated_turn_runs(df, min_run=2).collect()
    )
    assert ("c1", 7, 2) in out2 and ("c1", 2, 3) in out2


def test_last_k_turns_position_not_arithmetic(spark):
    from jsonschema_validator_spark.operators.conversation import last_k_turns

    rows = [  # sparse, gappy order values
        ("c1", 3, "a"), ("c1", 10, "b"), ("c1", 11, "c"), ("c1", 50, "d"),
        ("c2", 7, "x"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {
        (r["conv_id"], r["turn_idx"]): r["turn_rank"]
        for r in last_k_turns(df, 2).collect()
    }
    # position-based: c1 keeps turns 50 (rank 1) and 11 (rank 2) — a
    # max-minus-k arithmetic would have kept only turn 50
    assert out == {("c1", 50): 1, ("c1", 11): 2, ("c2", 7): 1}
    with pytest.raises(ValueError):
        last_k_turns(df, 0)


def test_transition_matrix_rates(spark):
    from jsonschema_validator_spark.operators.conversation import transition_matrix

    rows = [
        ("c1", 0, "u"), ("c1", 1, "a"), ("c1", 2, "u"), ("c1", 3, "a"),
        ("c2", 0, "u"), ("c2", 1, "t"),
        # NULL role is a real category in BOTH positions: u -> NULL and
        # NULL -> a are edges; only the true conversation-final turn
        # (c3, 2) contributes nothing
        ("c3", 0, "u"), ("c3", 1, None), ("c3", 2, "a"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    out = {(r["role"], r["next_role"]): r for r in transition_matrix(df).collect()}
    # u -> a twice, u -> t once, u -> NULL once; a -> u once;
    # conversation-final turns contribute no edge
    assert out[("u", "a")]["n"] == 2 and abs(out[("u", "a")]["rate"] - 2 / 4) < 1e-6
    assert out[("u", "t")]["n"] == 1
    assert out[("u", None)]["n"] == 1
    assert out[(None, "a")]["n"] == 1 and out[(None, "a")]["rate"] == 1.0
    assert out[("a", "u")]["rate"] == 1.0
    assert len(out) == 5


def test_near_retry_screen(spark):
    """Adjacent-turn edit-distance retry screen: tiny edits flag, exact
    repeats short-circuit to 0, wildly-different pairs clamp at the
    banded cutoff+1 instead of paying the full DP."""
    from jsonschema_validator_spark.operators.conversation import near_retry_screen

    t_long = "completely different text here" * 1
    rows = [
        ("c1", 0, "hello world"),
        ("c1", 1, "hello worlds"),   # dist 1 / 12 -> retry
        ("c1", 2, t_long),           # far: clamped to cutoff+1
        ("c1", 3, t_long),           # exact repeat -> 0
        ("c2", 0, "solo"),           # no pair
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r.turn_idx: r for r in near_retry_screen(df, max_ratio=0.25).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].dist == 1 and got[1].is_retry
    assert abs(got[1].ratio - round(1 / 12, 6)) < 1e-12
    # max_len 30 -> cutoff 7 -> clamp 8; 8/30 > 0.25 -> not a retry
    assert got[2].dist == 8 and not got[2].is_retry
    assert got[3].dist == 0 and got[3].ratio == 0.0 and got[3].is_retry


def test_turn_gap_stats_exact_micros(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.conversation import turn_gap_stats

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("c1", 0, "u", t0),
        ("c1", 1, "a", t0 + dt.timedelta(seconds=1, microseconds=500000)),
        ("c1", 2, "u", t0 + dt.timedelta(seconds=2)),          # a->u gap 0.5s
        ("c1", 3, "a", None),                                   # NULL ts: excluded
        ("c2", 0, "u", t0),
        ("c2", 1, "a", t0 + dt.timedelta(seconds=2, microseconds=500000)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp"
    )
    out = {(r["prev_role"], r["role"]): r for r in turn_gap_stats(df).collect()}
    ua = out[("u", "a")]
    assert ua["n"] == 2 and abs(ua["mean_gap_s"] - 2.0) < 1e-9  # (1.5 + 2.5)/2
    assert ua["max_gap_s"] == 2.5
    assert out[("a", "u")]["mean_gap_s"] == 0.5
    assert ("a", None) not in out and (None, "u") not in out


def test_token_budget_rates_cap_and_shortfall(spark):
    from jsonschema_validator_spark.operators.sampling import token_budget_rates

    rows = [("a", 100)] * 5 + [("b", 1000)] * 10 + [("c", 50)] * 2
    df = spark.createDataFrame(rows, "src string, tok int")
    out = {
        r["src"]: r
        for r in token_budget_rates(
            df, "src", "tok", {"a": 0.9, "b": 0.1}, budget_tokens=5000
        ).collect()
    }
    # a: target 4500 > its 500 tokens -> capped at 1.0, shortfall 4000
    assert out["a"]["rate"] == 1.0 and out["a"]["shortfall_tokens"] == 4000.0
    assert out["a"]["expected_tokens"] == 500.0
    # b: target 500 of 10000 -> rate 0.05, no shortfall
    assert abs(out["b"]["rate"] - 0.05) < 1e-9
    assert out["b"]["shortfall_tokens"] == 0.0
    # c: unlisted -> weight 0, rate 0
    assert out["c"]["weight"] == 0.0 and out["c"]["rate"] == 0.0
    with pytest.raises(ValueError):
        token_budget_rates(df, "src", "tok", {}, budget_tokens=0)


def test_mergeable_quantile_partition_invariance(spark):
    from jsonschema_validator_spark.operators.stats import mergeable_quantile

    import random

    rng = random.Random(3)
    rows = [(i % 7, rng.uniform(0, 100)) for i in range(5000)]
    df = spark.createDataFrame(rows, "part int, v double")
    a = mergeable_quantile(df, "v", "part", q=0.5, lo=0.0, hi=100.0, buckets=50).collect()[0]
    # a DIFFERENT partitioning dimension must give the identical
    # estimate — integer histogram merge commutes exactly
    df2 = df.withColumn("part", (F.col("v") * 1000).cast("long") % 13)
    b = mergeable_quantile(df2, "v", "part", q=0.5, lo=0.0, hi=100.0, buckets=50).collect()[0]
    assert a["est"] == b["est"] and a["n"] == b["n"] == 5000
    # within one bucket width of the exact quantile
    exact = df.selectExpr("percentile(v, 0.5) p").collect()[0]["p"]
    assert abs(a["est"] - exact) <= 2.0
    with pytest.raises(ValueError):
        mergeable_quantile(df, "v", "part", q=1.5)


def test_curation_summary_matches_stage_operators(spark):
    """The one-pass curation_summary must agree signal-for-signal with
    the stage operators it fuses (conversation_fingerprint parity mode,
    repeated_turn_runs semantics, the validity predicate) — the fused
    plan exists for scale (4 scans vs the measured 90 of the stage-wise
    composition), not for different semantics."""
    from jsonschema_validator_spark.operators.conversation import (
        conversation_fingerprint,
        curation_summary,
        repeated_turn_runs,
    )

    rows = [
        ("c1", 0, "u", "{}"), ("c1", 1, "a", "{}"),
        ("c1", 2, "a", "{}"), ("c1", 3, "a", "{}"),   # run of 3 'a'
        ("c2", 0, "u", "bad{"),                        # invalid JSON
        ("c2", 1, "a", "{}"),
        ("c3", 0, "u", "{}"), ("c3", 1, "a", "{}"),    # dup of c4
        ("c4", 0, "u", "{}"), ("c4", 1, "a", "{}"),
        ("c5", 0, None, "{}"), ("c5", 1, None, "{}"),  # NULL-role run of 2
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, props string")
    invalid = F.try_parse_json("props").isNull()
    content = F.concat(F.coalesce(F.col("role"), F.lit("")), F.lit("/"), F.col("props"))
    out = {r["conv_id"]: r for r in curation_summary(df, invalid, content).collect()}

    assert [c for c in sorted(out) if out[c]["any_invalid"]] == ["c2"]
    # max_run parity with repeated_turn_runs (min_run=2 surfaces all runs)
    runs = {}
    for r in repeated_turn_runs(df, text="role", min_run=2).collect():
        runs[r["conv_id"]] = max(runs.get(r["conv_id"], 1), r["run_len"])
    for c in out:
        assert out[c]["max_run"] == runs.get(c, 1), (c, out[c]["max_run"], runs.get(c))
    assert out["c5"]["max_run"] == 2  # NULL roles form a run (sentinel hash)
    # fingerprint parity with conversation_fingerprint parity mode
    fps = {
        r["conv_id"]: r["fingerprint"]
        for r in conversation_fingerprint(df, content).collect()
    }
    for c in out:
        assert out[c]["fingerprint"] == fps[c]
    # same (turn_idx, content) sequences: c3 and c4 ARE duplicates
    assert out["c3"]["fingerprint"] == out["c4"]["fingerprint"]
    assert out["c1"]["fingerprint"] != out["c3"]["fingerprint"]
    assert out["c1"]["n_turns"] == 4 and out["c1"]["sum_order"] == 6


def test_split_leakage_flags_straddling_groups(spark):
    from jsonschema_validator_spark.operators.sampling import split_leakage

    rows = [
        ("fpA", "train"), ("fpA", "train"),            # same split: clean
        ("fpB", "train"), ("fpB", "test"),             # straddles: leak
        ("fpC", "train"), ("fpC", "val"), ("fpC", "test"),
        ("fpD", "val"),                                 # singleton: clean
    ]
    df = spark.createDataFrame(rows, "fp string, split string")
    out = {r["fp"]: r for r in split_leakage(df, "fp").collect()}
    assert set(out) == {"fpB", "fpC"}
    assert out["fpB"]["n_units"] == 2 and out["fpB"]["splits"] == "test,train"
    assert out["fpC"]["n_splits"] == 3 and out["fpC"]["splits"] == "test,train,val"


def test_snapshot_diff_classes_and_null_edits(spark):
    """added/removed/changed classification, unchanged rows dropped,
    and NULL-to-value edits count as changes (sentinel hashing)."""
    from jsonschema_validator_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", "y"), (4, "d", "z")],
        "id long, t string, u string",
    )
    new = spark.createDataFrame(
        [(1, "a", ""), (2, "b", "x"), (3, "C", "y"), (5, "e", "w")],
        "id long, t string, u string",
    )
    out = {r["id"]: r["change"] for r in snapshot_diff(old, new, "id", ["t", "u"]).collect()}
    assert out == {1: "changed", 3: "changed", 4: "removed", 5: "added"}  # 2 unchanged


def test_snapshot_diff_plan_shuffles_hash_not_payload(spark):
    from jsonschema_validator_spark.operators.merge import snapshot_diff

    old = spark.range(10).select(F.col("id"), F.concat(F.lit("p"), F.col("id")).alias("t"))
    new = spark.range(10).select(F.col("id"), F.concat(F.lit("p"), F.col("id")).alias("t"))
    plan = snapshot_diff(old, new, "id", ["t"])._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_cohort_retention_planted_triangle(spark):
    """Two cohorts with known return patterns: the triangle is exact."""
    from jsonschema_validator_spark.operators.sessions import cohort_retention

    # unit_days=1 -> period == day. Cohort day 0: users a,b (a returns
    # day 1 and 2, b returns day 2). Cohort day 1: user c (returns day 3).
    rows = [
        ("a", "1970-01-01 10:00:00"),
        ("a", "1970-01-02 10:00:00"),
        ("a", "1970-01-03 10:00:00"),
        ("a", "1970-01-03 11:00:00"),  # same period twice -> counted once
        ("b", "1970-01-01 12:00:00"),
        ("b", "1970-01-03 12:00:00"),
        ("c", "1970-01-02 09:00:00"),
        ("c", "1970-01-04 09:00:00"),
        (None, "1970-01-01 00:00:00"),  # NULL entity excluded
    ]
    df = spark.createDataFrame(rows, "user_id string, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {
        (r["cohort"], r["offset"]): (r["n_active"], r["cohort_size"], r["retention"])
        for r in cohort_retention(df, "user_id", "ts", unit_days=1).collect()
    }
    assert out == {
        (0, 0): (2, 2, 1.0),
        (0, 1): (1, 2, 0.5),
        (0, 2): (2, 2, 1.0),
        (1, 0): (1, 1, 1.0),
        (1, 2): (1, 1, 1.0),
    }


def test_cohort_retention_one_entity_shuffle(spark):
    """The per-entity stage is one aggregation: collect_set bounds state
    by calendar periods, and no window over the raw table appears."""
    from jsonschema_validator_spark.operators.sessions import cohort_retention

    df = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("user_id"),
        F.timestamp_seconds(F.col("id") * 86400).alias("ts"),
    )
    plan = (
        cohort_retention(df, "user_id", "ts", unit_days=7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "collect_set" in plan
    assert "Window" not in plan


def test_markov_surprisal_planted(spark):
    """Hand-computed transition model: the uniform-history conversation
    scores low, the one taking the rare edge scores its -log2 exactly,
    and a NULL role is scored as a real category (not dropped)."""
    import math

    from jsonschema_validator_spark.operators.conversation import markov_surprisal

    # corpus pairs: (a->b) x3, (b->a) x2, (a->a) x1, (b->None) x1
    rows = [
        ("c1", 0, "a"), ("c1", 1, "b"), ("c1", 2, "a"), ("c1", 3, "b"),
        ("c2", 0, "a"), ("c2", 1, "b"), ("c2", 2, "a"),
        ("c3", 0, "a"), ("c3", 1, "a"),
        ("c4", 0, "b"), ("c4", 1, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    out = {r["conv_id"]: r for r in markov_surprisal(df).collect()}
    # P(b|a)=3/4, P(a|a)=1/4, P(a|b)=2/3, P(null|b)=1/3
    s_ab = -math.log2(3 / 4)
    s_ba = -math.log2(2 / 3)
    s_aa = -math.log2(1 / 4)
    s_bn = -math.log2(1 / 3)
    assert out["c1"]["n_transitions"] == 3
    assert abs(out["c1"]["mean_surprisal"] - round((s_ab + s_ba + s_ab) / 3, 6)) < 1e-6
    assert abs(out["c3"]["max_surprisal"] - round(s_aa, 6)) < 1e-6
    # NULL-role edge is present and scored, not silently equi-join-dropped
    assert out["c4"]["n_transitions"] == 1
    assert abs(out["c4"]["mean_surprisal"] - round(s_bn, 6)) < 1e-6


def test_cohen_kappa_hand_computed(spark):
    """Classic 2x2 worked example: po=0.7, marginals A(yes)=0.5,
    B(yes)=0.6 -> pe=0.5, kappa=0.4; NULL ratings excluded."""
    from jsonschema_validator_spark.operators.agreement import cohen_kappa

    rows = (
        [("yes", "yes")] * 4
        + [("yes", "no")] * 1
        + [("no", "yes")] * 2
        + [("no", "no")] * 3
        + [("yes", None), (None, "no")]  # abstentions drop
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohen_kappa(df, "a", "b").collect()[0]
    assert r["n"] == 10
    assert r["po"] == 0.7 and r["pe"] == 0.5 and r["kappa"] == 0.4


def test_cohen_kappa_degenerate_pe_one_is_null(spark):
    """Both raters constant and identical -> pe=1, kappa NULL (not a
    division error), per the try_divide contract."""
    from jsonschema_validator_spark.operators.agreement import cohen_kappa

    df = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    r = cohen_kappa(df, "a", "b").collect()[0]
    assert r["po"] == 1.0 and r["pe"] == 1.0 and r["kappa"] is None


def test_bradley_terry_hand_computed(spark):
    """A beats B 3-1: round-1 MM gives pi=(1.5, 0.5), and round 2 is a
    fixed point of the same update, so iters=2 returns exactly those
    ratings. NULL sides and self-matches carry no information and drop."""
    from jsonschema_validator_spark.operators.preference import bradley_terry

    rows = (
        [("A", "B")] * 3
        + [("B", "A")]
        + [("A", None), (None, "B"), ("A", "A")]  # excluded rows
    )
    df = spark.createDataFrame(rows, "winner string, loser string")
    out = {r["item"]: r for r in bradley_terry(df, iters=2).collect()}
    assert set(out) == {"A", "B"}
    assert out["A"]["wins"] == 3 and out["B"]["wins"] == 1
    assert out["A"]["n_games"] == 4 and out["B"]["n_games"] == 4
    assert out["A"]["rating"] == 1.5 and out["B"]["rating"] == 0.5


def test_bradley_terry_never_loser_stays_finite(spark):
    """An undefeated item would have an infinite MLE strength; the
    finite-iteration contract keeps it finite and top-ranked, and a
    never-winner rates 0 (wins/denom with wins=0)."""
    from jsonschema_validator_spark.operators.preference import bradley_terry

    rows = [("A", "B")] * 5 + [("B", "C")] * 5
    df = spark.createDataFrame(rows, "winner string, loser string")
    out = {r["item"]: r for r in bradley_terry(df, iters=2).collect()}
    import math

    assert all(math.isfinite(r["rating"]) for r in out.values())
    assert out["A"]["rating"] > out["B"]["rating"] > out["C"]["rating"]
    assert out["C"]["rating"] == 0.0 and out["C"]["wins"] == 0


def test_bradley_terry_item_bound_raises(spark):
    """The operator rates ITEMS (models/policies), not rows: a distinct
    item count above max_items is a contract error, not a silent
    driver-side blowup."""
    from jsonschema_validator_spark.operators.preference import bradley_terry

    rows = [(f"i{k}", f"i{k+1}") for k in range(10)]
    df = spark.createDataFrame(rows, "winner string, loser string")
    with pytest.raises(ValueError, match="distinct items"):
        bradley_terry(df, max_items=5)


def test_roc_auc_hand_computed(spark):
    """Scores (0.1-, 0.2+, 0.3-, 0.4+): positives rank 2 and 4 ->
    U = (2+4) - 2*3/2 = 3 of 4 pairs -> AUC 0.75. A constant score is
    all one midrank block -> AUC exactly 0.5. Perfect separation -> 1."""
    from jsonschema_validator_spark.operators.evaluation import roc_auc

    df = spark.createDataFrame(
        [(0.1, 0), (0.2, 1), (0.3, 0), (0.4, 1)], "score double, label int"
    )
    r = roc_auc(df, "score", "label").collect()[0]
    assert (r["n"], r["n_pos"], r["n_neg"], r["auc"]) == (4, 2, 2, 0.75)

    const = spark.createDataFrame(
        [(0.5, 0), (0.5, 1), (0.5, 0), (0.5, 1)], "score double, label int"
    )
    assert roc_auc(const, "score", "label").collect()[0]["auc"] == 0.5

    sep = spark.createDataFrame(
        [(0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1)], "score double, label int"
    )
    assert roc_auc(sep, "score", "label").collect()[0]["auc"] == 1.0


def test_roc_auc_degenerate_single_class_is_null(spark):
    """No negatives -> n_pos * n_neg = 0 -> NULL auc via try_divide,
    never a division error or a fake 0.5."""
    from jsonschema_validator_spark.operators.evaluation import roc_auc

    df = spark.createDataFrame([(0.3, 1), (0.7, 1)], "score double, label int")
    r = roc_auc(df, "score", "label").collect()[0]
    assert r["auc"] is None and r["n_neg"] == 0


def test_calibration_bins_and_ece(spark):
    """Two populated deciles: bin 1 (score .15, rate 0 over 2 rows,
    gap -.15) and bin 9 (score .95, rate 1 over 2 rows, gap +.05);
    top edge 1.0 lands in bin 9, absent bins don't appear.
    ECE = (2*.15 + 2*.05)/4 = 0.1."""
    from jsonschema_validator_spark.operators.evaluation import calibration_bins

    df = spark.createDataFrame(
        [(0.15, 0), (0.15, 0), (0.9, 1), (1.0, 1)], "score double, label int"
    )
    bins = {r["bin"]: r for r in calibration_bins(df, "score", "label").collect()}
    assert set(bins) == {1, 9}
    assert bins[1]["n"] == 2 and bins[1]["pos_rate"] == 0.0 and bins[1]["gap"] == -0.15
    assert bins[9]["n"] == 2 and bins[9]["pos_rate"] == 1.0 and bins[9]["gap"] == 0.05
    ece = sum(b["n"] * abs(b["gap"]) for b in bins.values()) / sum(b["n"] for b in bins.values())
    assert abs(ece - 0.1) < 1e-12


def test_ab_test_hand_computed(spark):
    """A: 1/4 convert, B: 3/4 -> lift 0.5, pooled p = .5, se =
    sqrt(.25*(1/4+1/4)) ~ .353553 -> z ~ 1.414214. Variance-free case
    (all convert) -> NULL z, and off-arm rows are excluded."""
    from jsonschema_validator_spark.operators.evaluation import ab_test

    rows = (
        [("A", 1), ("A", 0), ("A", 0), ("A", 0)]
        + [("B", 1), ("B", 1), ("B", 1), ("B", 0)]
        + [("C", 1), ("A", None)]  # other arm / NULL conversion drop
    )
    df = spark.createDataFrame(rows, "arm string, conv int")
    r = ab_test(df, "arm", "conv").collect()[0]
    assert (r["n_control"], r["n_treatment"]) == (4, 4)
    assert r["rate_control"] == 0.25 and r["rate_treatment"] == 0.75
    assert r["lift"] == 0.5 and r["z"] == 1.414214

    allconv = spark.createDataFrame(
        [("A", 1), ("A", 1), ("B", 1)], "arm string, conv int"
    )
    assert ab_test(allconv, "arm", "conv").collect()[0]["z"] is None


def test_fleiss_kappa_hand_computed(spark):
    """Two items, 3 raters: item 1 unanimous 'x' (P_i = 1), item 2
    split 2x/1y (P_i = (4+1-3)/6 = 1/3) -> pbar = 2/3. Marginals:
    x 5/6, y 1/6 -> pe = 25/36 + 1/36 = 26/36. kappa = (24/36-26/36)
    /(1-26/36) = -0.2. An item with an abstention is excluded."""
    from jsonschema_validator_spark.operators.agreement import fleiss_kappa

    rows = (
        [(1, "x")] * 3
        + [(2, "x"), (2, "x"), (2, "y")]
        + [(3, "x"), (3, "x"), (3, None)]  # abstention -> excluded
    )
    df = spark.createDataFrame(rows, "item int, label string")
    r = fleiss_kappa(df, "item", "label", n_raters=3).collect()[0]
    assert r["n_items"] == 2 and r["n_excluded"] == 1
    assert r["pbar"] == round(2 / 3, 6)
    assert r["pe"] == round(26 / 36, 6)
    assert r["kappa"] == -0.2


def test_fleiss_kappa_unanimous_pe_one_is_null(spark):
    """Every rater one category everywhere -> pe = 1 -> NULL kappa."""
    from jsonschema_validator_spark.operators.agreement import fleiss_kappa

    df = spark.createDataFrame(
        [(1, "x")] * 2 + [(2, "x")] * 2, "item int, label string"
    )
    r = fleiss_kappa(df, "item", "label", n_raters=2).collect()[0]
    assert r["pbar"] == 1.0 and r["pe"] == 1.0 and r["kappa"] is None


def test_pagerank_two_node_cycle_is_uniform(spark):
    """A <-> B is symmetric: every step preserves uniform (0.5, 0.5)
    exactly, and total rank mass stays 1."""
    from jsonschema_validator_spark.operators.graph import pagerank

    df = spark.createDataFrame([("A", "B"), ("B", "A")], "src string, dst string")
    out = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    assert out == {"A": 0.5, "B": 0.5}


def test_pagerank_dangling_and_sink_gain(spark):
    """A -> B with B dangling: B receives A's mass plus its share of
    the redistributed dangling mass, so rank(B) > rank(A); the ranks
    sum to 1 within rounding. One power step replayed by hand:
    pr(A) = 0.075 + 0.85 * 0.25 = 0.2875, pr(B) = 0.075 + 0.85 *
    (0.5 + 0.25) = 0.7125."""
    from jsonschema_validator_spark.operators.graph import pagerank

    df = spark.createDataFrame([("A", "B")], "src string, dst string")
    one = {r["node"]: r["rank"] for r in pagerank(df, iters=1).collect()}
    assert one == {"A": 0.2875, "B": 0.7125}
    three = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    assert three["B"] > three["A"]
    assert abs(sum(three.values()) - 1.0) < 1e-5


def test_reading_ease_hand_computed(spark):
    """'See spot run. See spot!' -> 5 words, 2 sentence runs, 5 vowel
    groups -> 206.835 - 1.015*2.5 - 84.6*1.0 = 119.6975. Empty text
    scores NULL with 0 words and the 1-sentence floor."""
    from jsonschema_validator_spark.operators.textstats import reading_ease

    df = spark.createDataFrame(
        [(1, "See spot run. See spot!"), (2, ""), (3, None)], "id int, text string"
    )
    out = {r["id"]: r for r in reading_ease(df, "text").collect()}
    r1 = out[1]
    assert (r1["words"], r1["sentences"], r1["syllables"]) == (5, 2, 5)
    assert r1["flesch"] == 119.6975
    for i in (2, 3):
        assert out[i]["words"] == 0 and out[i]["sentences"] == 1
        assert out[i]["flesch"] is None


def test_bm25_ranks_relevance_and_saturates(spark):
    """'spark spark spark' outranks a single mention in a longer doc;
    a doc with zero query terms is absent; tf saturates (k1 bound) so
    the 3x doc scores < 3x the 1x doc's per-term contribution."""
    from jsonschema_validator_spark.operators.search import bm25

    df = spark.createDataFrame(
        [
            (1, "spark spark spark join"),
            (2, "spark join merge filter table window"),
            (3, "join merge filter"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in bm25(df, ["spark"]).collect()}
    assert set(out) == {1, 2}
    assert out[1]["score"] > out[2]["score"]
    assert out[1]["score"] < 3 * out[2]["score"]
    assert out[1]["n_terms"] == 1


def test_bm25_multi_term_and_empty_query_raises(spark):
    """n_terms counts DISTINCT matched query terms; empty query is a
    contract error."""
    from jsonschema_validator_spark.operators.search import bm25

    df = spark.createDataFrame(
        [(1, "spark window spark"), (2, "window only")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in bm25(df, ["spark", "window"]).collect()}
    assert out[1]["n_terms"] == 2 and out[2]["n_terms"] == 1
    with pytest.raises(ValueError, match="non-empty"):
        bm25(df, [])


def test_gini_hand_computed(spark):
    """Perfect equality -> 0; (1,1,1,97) concentrates: G = (2*(1+2+3+
    4*97) - 5*100)/(4*100) = (2*394 - 500)/400 = 0.72. Ties across
    partitions stay exact (tie-invariant block form)."""
    from jsonschema_validator_spark.operators.stats import gini

    eq = spark.createDataFrame([(5.0,)] * 4, "v double")
    assert gini(eq, "v").collect()[0]["gini"] == 0.0

    sk = spark.createDataFrame([(1.0,), (1.0,), (1.0,), (97.0,)], "v double")
    r = gini(sk, "v").collect()[0]
    assert r["n"] == 4 and r["total"] == 100.0 and r["gini"] == 0.72


def test_gini_negative_raises_and_zero_total_null(spark):
    from jsonschema_validator_spark.operators.stats import gini
    from pyspark.errors import SparkRuntimeException

    neg = spark.createDataFrame([(1.0,), (-2.0,)], "v double")
    with pytest.raises(SparkRuntimeException):
        gini(neg, "v").collect()
    zero = spark.createDataFrame([(0.0,), (0.0,)], "v double")
    assert gini(zero, "v").collect()[0]["gini"] is None


def test_linear_trend_exact_line_and_degenerates(spark):
    """y = 2x + 1 exactly -> slope 2, intercept 1, r2 1. One distinct
    x -> NULL everything; constant y -> slope 0 but NULL r2 (0/0)."""
    from jsonschema_validator_spark.operators.stats import linear_trend

    line = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 3.0), (2.0, 5.0)], "x double, y double"
    )
    r = linear_trend(line, "x", "y").collect()[0]
    assert (r["slope"], r["intercept"], r["r2"]) == (2.0, 1.0, 1.0)

    vert = spark.createDataFrame([(1.0, 1.0), (1.0, 5.0)], "x double, y double")
    rv = linear_trend(vert, "x", "y").collect()[0]
    assert rv["slope"] is None and rv["r2"] is None

    flat = spark.createDataFrame([(0.0, 4.0), (1.0, 4.0)], "x double, y double")
    rf = linear_trend(flat, "x", "y").collect()[0]
    assert rf["slope"] == 0.0 and rf["intercept"] == 4.0 and rf["r2"] is None


def test_kaplan_meier_textbook(spark):
    """Durations (1 event, 2 censored, 3 event, 4 event) of 4 subjects:
    S(1) = 3/4; t=2 censored (no step row) but shrinks the risk set;
    S(3) = 3/4 * 1/2 = 0.375; S(4) = 0 (last subject dies, d = n flag
    path, not ln(0))."""
    from jsonschema_validator_spark.operators.survival import kaplan_meier

    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 0), (3.0, 1), (4.0, 1)], "dur double, ev int"
    )
    out = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert set(out) == {1.0, 3.0, 4.0}  # censoring time 2.0 is not a step
    assert out[1.0]["n_risk"] == 4 and out[1.0]["survival"] == 0.75
    assert out[3.0]["n_risk"] == 2 and out[3.0]["survival"] == 0.375
    assert out[4.0]["n_risk"] == 1 and out[4.0]["survival"] == 0.0


def test_kaplan_meier_all_censored_no_steps(spark):
    """All-censored input has no event times -> empty curve, not a
    division error."""
    from jsonschema_validator_spark.operators.survival import kaplan_meier

    df = spark.createDataFrame([(1.0, 0), (2.0, 0)], "dur double, ev int")
    assert kaplan_meier(df, "dur", "ev").count() == 0


def test_funnel_fold_greedy_strict_order(spark):
    """u1 completes a->b->c in order; u2 has b before a (b doesn't
    count, funnel stalls at a); u3's b ties a's timestamp exactly
    (strictly-after contract: tie does not advance)."""
    from datetime import datetime as dt

    from jsonschema_validator_spark.operators.funnel import funnel_fold as funnel

    rows = [
        ("u1", "a", dt(2024, 1, 1, 0)),
        ("u1", "b", dt(2024, 1, 1, 1)),
        ("u1", "c", dt(2024, 1, 1, 2)),
        ("u2", "b", dt(2024, 1, 1, 0)),
        ("u2", "a", dt(2024, 1, 1, 1)),
        ("u3", "a", dt(2024, 1, 1, 0)),
        ("u3", "b", dt(2024, 1, 1, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
    out = {r["step_idx"]: r for r in funnel(df, ["a", "b", "c"]).collect()}
    assert out[1]["n_reached"] == 3 and out[1]["mean_hours_to_step"] == 0.0
    assert out[2]["n_reached"] == 1 and out[2]["mean_hours_to_step"] == 1.0
    assert out[3]["n_reached"] == 1 and out[3]["conversion"] == round(1 / 3, 6)
    assert out[3]["mean_hours_to_step"] == 2.0


def test_funnel_fold_window_anchored_at_first_entry(spark):
    """Greedy entry: t1 is the FIRST a even though a later a would
    let b fit the window — documented one-pass divergence from
    backtracking funnels. u5's b lands inside its window and counts."""
    from datetime import datetime as dt

    from jsonschema_validator_spark.operators.funnel import funnel_fold as funnel

    rows = [
        ("u4", "a", dt(2024, 1, 1, 0)),
        ("u4", "a", dt(2024, 1, 3, 0)),
        ("u4", "b", dt(2024, 1, 3, 1)),   # >24h after FIRST a
        ("u5", "a", dt(2024, 1, 1, 0)),
        ("u5", "b", dt(2024, 1, 1, 23)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
    out = {r["step_idx"]: r for r in funnel(df, ["a", "b"], within_seconds=24 * 3600).collect()}
    assert out[1]["n_reached"] == 2
    assert out[2]["n_reached"] == 1  # u5 only


def test_funnel_fold_repeated_steps_and_empty_raises(spark):
    """['a','a'] needs two distinct a events; empty steps is a
    contract error; NULL subject rows are excluded."""
    from datetime import datetime as dt

    import pytest as _pytest

    from jsonschema_validator_spark.operators.funnel import funnel_fold as funnel

    rows = [
        ("u6", "a", dt(2024, 1, 1, 0)),
        ("u6", "a", dt(2024, 1, 1, 5)),
        ("u7", "a", dt(2024, 1, 1, 0)),
        (None, "a", dt(2024, 1, 1, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
    out = {r["step_idx"]: r for r in funnel(df, ["a", "a"]).collect()}
    assert out[1]["n_reached"] == 2 and out[2]["n_reached"] == 1
    assert out[2]["mean_hours_to_step"] == 5.0
    with _pytest.raises(ValueError, match="non-empty"):
        funnel(df, [])


def test_rolling_stats_prior_window_screen(spark):
    """Series 10,10,10,100 with window 3: the spike day's z_prior uses
    the PRIOR window (10,10,10: ma 10, sd 0 -> wait, sd of equal rows
    is 0 -> z NULL) — so use 10,12,8,100: prior ma 10, sd 2, z 45.
    The spike cannot inflate its own band; its own-window sd explodes
    only in the inclusive ma/sd columns."""
    from datetime import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import rolling_stats

    rows = [
        ("g", dt(2024, 1, 1), 10.0),
        ("g", dt(2024, 1, 2), 12.0),
        ("g", dt(2024, 1, 3), 8.0),
        ("g", dt(2024, 1, 4), 100.0),
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
    out = {r["day"]: r for r in rolling_stats(df, "grp", "ts", "v", window=3).collect()}
    d4 = out["2024-01-04"]
    assert d4["x"] == 100.0 and d4["n_window"] == 3
    assert d4["z_prior"] == 45.0 and d4["flag"] is True
    # warm-up rows: day 1 has no prior window, day 2 a 1-row prior
    assert out["2024-01-01"]["z_prior"] is None and out["2024-01-01"]["flag"] is False
    assert out["2024-01-02"]["z_prior"] is None
    # inclusive trailing stats on day 3: mean(10,12,8)=10
    assert out["2024-01-03"]["ma"] == 10.0


def test_ewma_screen_recurrence_and_alpha_contract(spark):
    """x = 10, 10, 20 with alpha 0.5: s = 10, 10, 15; residuals
    0, 0, 10. sd of (10,10,20) = 5.7735; 10 > 1.5*sd with h=1.5 ->
    only the jump day flags. alpha outside (0,1] raises."""
    from datetime import datetime as dt

    import pytest as _pytest

    from jsonschema_validator_spark.operators.timeseries import ewma_screen

    rows = [
        ("g", dt(2024, 1, 1), 10.0),
        ("g", dt(2024, 1, 2), 10.0),
        ("g", dt(2024, 1, 3), 20.0),
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
    out = {r["day"]: r for r in
           ewma_screen(df, "grp", "ts", "v", alpha=0.5, h_sigma=1.5).collect()}
    assert out["2024-01-01"]["ewma"] == 10.0 and out["2024-01-01"]["residual"] == 0.0
    assert out["2024-01-03"]["ewma"] == 15.0 and out["2024-01-03"]["residual"] == 10.0
    assert [out[d]["flag"] for d in sorted(out)] == [False, False, True]
    with _pytest.raises(ValueError, match="alpha"):
        ewma_screen(df, "grp", "ts", "v", alpha=0.0)


def test_ewma_single_day_group_never_flags(spark):
    from datetime import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import ewma_screen

    df = spark.createDataFrame(
        [("g", dt(2024, 1, 1), 42.0)], "grp string, ts timestamp, v double"
    )
    r = ewma_screen(df, "grp", "ts", "v").collect()[0]
    assert r["ewma"] == 42.0 and r["residual"] == 0.0 and r["flag"] is False


def test_theil_sen_median_slope_resists_outlier_day(spark):
    """Days 1..5 with values 10,12,14,100,18: four clean points lie on
    slope 2/day; day 4 is corrupted. The 10 pairwise slopes sort to
    {-82, 2 x6, 30, 44, 86} -> median 2.0, while the OLS slope over the
    same days is ~5.2. Also: gap-aware spacing — datediff, not rank."""
    from datetime import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import theil_sen

    rows = [
        ("g", dt(2024, 1, 1), 10.0),
        ("g", dt(2024, 1, 2), 12.0),
        ("g", dt(2024, 1, 3), 14.0),
        ("g", dt(2024, 1, 4), 100.0),
        ("g", dt(2024, 1, 5), 18.0),
        # two-day gap group: slope must divide by the real 2-day spacing
        ("h", dt(2024, 1, 1), 0.0),
        ("h", dt(2024, 1, 3), 8.0),
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
    out = {
        r["grp"]: r
        for r in theil_sen(df, group="grp", ts="ts", value="v").collect()
    }
    g = out["g"]
    assert g["n_days"] == 5 and g["n_pairs"] == 10
    assert g["slope_per_day"] == 2.0
    h = out["h"]
    assert h["n_days"] == 2 and h["n_pairs"] == 1
    assert h["slope_per_day"] == 4.0


def test_wasserstein_1_hand_computed(spark):
    """a = {0,0,1}, b = {1,1,2} vs named baseline b: pooled grid
    {0,1,2}; F_a = 2/3, 1, 1; F_b = 0, 2/3, 1; W1 = |2/3-0|*1 +
    |1-2/3|*1 = 1.0 exactly (the point-mass transport answer: move
    each unit one step). Identical distribution -> 0. Also the
    magnitude-vs-KS contrast: b vs shifted-by-2 c has the SAME KS (1
    at the gap) but double the W1."""
    from jsonschema_validator_spark.operators.drift import wasserstein_1

    rows = (
        [("a", 0.0), ("a", 0.0), ("a", 1.0)]
        + [("b", 1.0), ("b", 1.0), ("b", 2.0)]
        + [("c", 3.0), ("c", 3.0), ("c", 4.0)]
    )
    df = spark.createDataFrame(rows, "p string, v double")
    out = {
        r["part"]: r
        for r in wasserstein_1(df, "v", "p", baseline_partition="b").collect()
    }
    assert out["a"]["w1"] == 1.0 and out["b"]["w1"] == 0.0
    assert out["c"]["w1"] == 2.0
    assert out["a"]["n_rows"] == 3 and out["a"]["n_base"] == 3


def test_acf_ljung_box_hand_computed(spark):
    """g: one event per day-slot repeated 1,2,3,4 times over 4 days ->
    daily counts 1,2,3,4, mu=2.5, den=5; r1=1.25/5=0.25,
    r2=-1.5/5=-0.3, r3=-2.25/5=-0.45; Q1=24*0.0625/3=0.5,
    Q2=0.5+24*0.09/2=1.58, Q3=1.58+24*0.2025=6.44 — none reject at
    the 95% chi-square line. Lags 4..7 have no overlap -> no rows.
    h: constant series -> den=0 -> zero rows (zero-variance guard)."""
    from datetime import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import acf_ljung_box

    rows = [
        ("g", dt(2024, 1, day, hour))
        for day in range(1, 5)
        for hour in range(day)
    ] + [("h", dt(2024, 1, d)) for d in range(1, 4)]
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    out = acf_ljung_box(df, group="grp", ts="ts", max_lag=7).collect()
    assert all(r["grp"] == "g" for r in out) and len(out) == 3
    byl = {r["lag"]: r for r in out}
    assert [byl[k]["r"] for k in (1, 2, 3)] == [0.25, -0.3, -0.45]
    assert [byl[k]["q_stat"] for k in (1, 2, 3)] == [0.5, 1.58, 6.44]
    assert byl[3]["q_crit_95"] == 7.815
    assert not any(r["reject"] for r in out)
    import pytest as _pt

    with _pt.raises(ValueError, match="max_lag"):
        acf_ljung_box(df, group="grp", ts="ts", max_lag=11)


def test_mann_kendall_hand_computed_cases(spark):
    """g: strictly increasing 1..5 -> S=10, no ties, Var=5*4*15/18,
    z=(10-1)/sqrt(16.6667)=2.204541, increasing. h: values 1,1,2 ->
    S=2, tie run t=2 subtracts 18, Var=(66-18)/18=2.666667,
    z=1/sqrt(2.666667)=0.612372, none. k: constant pair -> S=0,
    Var=0, z=0, none (the 0/0 guard)."""
    from datetime import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import mann_kendall

    rows = (
        [("g", dt(2024, 1, i), float(i)) for i in range(1, 6)]
        + [("h", dt(2024, 1, 1), 1.0), ("h", dt(2024, 1, 2), 1.0),
           ("h", dt(2024, 1, 3), 2.0)]
        + [("k", dt(2024, 1, 1), 7.0), ("k", dt(2024, 1, 2), 7.0)]
    )
    df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
    out = {
        r["grp"]: r
        for r in mann_kendall(df, group="grp", ts="ts", value="v").collect()
    }
    g = out["g"]
    assert (g["n_days"], g["s_stat"], g["var_s"]) == (5, 10, 16.666667)
    assert g["z"] == 2.204541 and g["trend"] == "increasing"
    h = out["h"]
    assert (h["s_stat"], h["var_s"], h["z"]) == (2, 2.666667, 0.612372)
    assert h["trend"] == "none"
    k = out["k"]
    assert (k["s_stat"], k["var_s"], k["z"], k["trend"]) == (0, 0.0, 0.0, "none")


def test_select_canonical_max_score_tie_min_id(spark):
    """Cluster {1,2,3}: doc 2 and 3 tie on score 9 -> canonical 2
    (min id among max score); singleton doc 4 (absent from the
    component frame) is its own canonical; NULL score (doc 1 in
    cluster 10) never beats a scored doc."""
    from pyspark.sql import functions as SF

    from jsonschema_validator_spark.operators.dedup import select_canonical

    docs = spark.createDataFrame(
        [(1, None), (2, 9.0), (3, 9.0), (4, 1.0)], "doc_id int, score double"
    )
    comps = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], "id int, component int"
    )
    out = {r["doc_id"]: r for r in
           select_canonical(docs, comps, prefer=SF.col("score")).collect()}
    assert out[1]["canonical_id"] == 2 and out[1]["is_canonical"] is False
    assert out[2]["is_canonical"] is True and out[2]["n_members"] == 3
    assert out[4]["component"] == 4 and out[4]["is_canonical"] is True
    assert out[4]["n_members"] == 1


def test_select_canonical_all_null_scores_fall_back_to_min_id(spark):
    from pyspark.sql import functions as SF

    from jsonschema_validator_spark.operators.dedup import select_canonical

    docs = spark.createDataFrame(
        [(7, None), (8, None)], "doc_id int, score double"
    )
    comps = spark.createDataFrame([(7, 1), (8, 1)], "id int, component int")
    out = {r["doc_id"]: r for r in
           select_canonical(docs, comps, prefer=SF.col("score")).collect()}
    assert out[7]["is_canonical"] is True and out[8]["canonical_id"] == 7


def test_select_canonical_no_prefer_is_min_id_convention(spark):
    from jsonschema_validator_spark.operators.dedup import select_canonical

    docs = spark.createDataFrame([(5,), (6,)], "doc_id int")
    comps = spark.createDataFrame([(5, 1), (6, 1)], "id int, component int")
    out = {r["doc_id"]: r for r in select_canonical(docs, comps).collect()}
    assert out[5]["is_canonical"] is True and out[6]["is_canonical"] is False


def test_k_anonymity_classes_and_null_qi(spark):
    """(a,x) twice -> size-2 class; (b,NULL) once -> NULL is a real
    class and a k=2 violation; NULL sensitive doesn't count toward
    diversity."""
    from jsonschema_validator_spark.operators.privacy import k_anonymity

    rows = [("a", "x", "s1"), ("a", "x", None), ("b", None, "s2")]
    df = spark.createDataFrame(rows, "q1 string, q2 string, sens string")
    out = {(r["q1"], r["q2"]): r for r in
           k_anonymity(df, ["q1", "q2"], k=2, sensitive="sens", l=2).collect()}
    ax = out[("a", "x")]
    assert ax["class_size"] == 2 and ax["k_violation"] is False
    assert ax["n_sensitive"] == 1 and ax["l_violation"] is True
    bn = out[("b", None)]
    assert bn["class_size"] == 1 and bn["k_violation"] is True

    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one"):
        k_anonymity(df, [])
    with _pytest.raises(ValueError, match=">= 1"):
        k_anonymity(df, ["q1"], k=0)


def test_k_anonymity_summary_rollup(spark):
    from jsonschema_validator_spark.operators.privacy import k_anonymity_summary

    rows = [("a", "s1")] * 5 + [("b", "s2")] * 2 + [("c", "s3")]
    df = spark.createDataFrame(rows, "q string, sens string")
    r = k_anonymity_summary(df, ["q"], k=3, sensitive="sens", l=2).collect()[0]
    assert r["n_classes"] == 3 and r["n_rows"] == 8
    assert r["min_class_size"] == 1 and r["n_k_violations"] == 2
    assert r["rows_at_risk"] == 3 and r["n_l_violations"] == 3


def test_mutual_information_independent_and_deterministic(spark):
    """Perfectly independent 2x2 -> every log term ln(1) -> MI exactly
    0; a deterministic copy -> NMI exactly 1; a constant column ->
    NMI NULL (nothing to normalize by)."""
    from jsonschema_validator_spark.operators.stats import mutual_information

    indep = spark.createDataFrame(
        [("a", "x")] * 2 + [("a", "y")] * 2 + [("b", "x")] * 2 + [("b", "y")] * 2,
        "u string, v string",
    )
    r = mutual_information(indep, "u", "v").collect()[0]
    assert r["n"] == 8 and r["mi"] == 0.0 and r["nmi"] == 0.0

    det = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")], "u string, v string"
    )
    rd = mutual_information(det, "u", "v").collect()[0]
    assert rd["nmi"] == 1.0 and rd["mi"] == rd["h_a"] == rd["h_b"]

    const = spark.createDataFrame([("a", "x"), ("a", "y")], "u string, v string")
    rc = mutual_information(const, "u", "v").collect()[0]
    assert rc["mi"] == 0.0 and rc["nmi"] is None


def test_isotonic_pav_pools_violators(spark):
    """Block means 0.8, 0.2, 0.5 all pool to 0.5 (exactly the grand
    mean 6/12); an already-increasing sequence is untouched; output is
    non-decreasing."""
    from jsonschema_validator_spark.operators.evaluation import isotonic_calibration

    rows = (
        [(1.0, 1)] * 4 + [(1.0, 0)]
        + [(2.0, 1)] + [(2.0, 0)] * 4
        + [(3.0, 1)] + [(3.0, 0)]
    )
    df = spark.createDataFrame(rows, "score double, label int")
    out = {r["score"]: r for r in isotonic_calibration(df, "score", "label").collect()}
    assert [out[s]["p_cal"] for s in (1.0, 2.0, 3.0)] == [0.5, 0.5, 0.5]

    inc = spark.createDataFrame(
        [(1.0, 0)] * 4 + [(1.0, 1)] + [(2.0, 1)] * 1 + [(2.0, 0)] * 1
        + [(3.0, 1)] * 4 + [(3.0, 0)],
        "score double, label int",
    )
    oi = {r["score"]: r["p_cal"] for r in
          isotonic_calibration(inc, "score", "label").collect()}
    assert oi == {1.0: 0.2, 2.0: 0.5, 3.0: 0.8}


def test_edit_distance_pairs_recovers_every_planted_typo(spark):
    # 20 distinct base strings; every 3rd gets a one-char mutation at
    # position 7. Ed-Join guarantee: one edit kills at most q=3 grams,
    # so a rarest-4-gram signature always shares a gram -> every planted
    # pair MUST appear at dist 1, and the plan is cartesian-free.
    from jsonschema_validator_spark.operators.dedup import edit_distance_pairs

    base = [(i, f"synthetic record number {i:04d} of the corpus") for i in range(20)]
    mut = [
        (i + 1000, s[:6] + "Z" + s[7:])
        for i, s in base
        if i % 3 == 0
    ]
    df = spark.createDataFrame(base + mut, "id long, name string")
    out = edit_distance_pairs(df, "id", "name", max_dist=1, q=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    pairs = {(r["id_a"], r["id_b"]): r["dist"] for r in out.collect()}
    for i, _ in base:
        if i % 3 == 0:
            assert pairs.get((i, i + 1000)) == 1, (i, pairs)
    # completeness AND precision: match a brute-force all-pairs oracle
    # exactly (bases like ...0009/...0019 legitimately sit at dist 1)
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = base + mut
    truth = {
        (ia, ib): lev(sa, sb)
        for x, (ia, sa) in enumerate(rows)
        for ib, sb in rows[x + 1:]
        if lev(sa, sb) <= 1
    }
    assert pairs == truth


def test_edit_distance_pairs_skips_short_and_null(spark):
    from jsonschema_validator_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "ab"), (2, "ab"), (3, None), (4, "exact same string"), (5, "exact same string")],
        "id long, name string",
    )
    out = edit_distance_pairs(df, "id", "name", max_dist=1, q=3).collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in out] == [(4, 5, 0)]


def test_fk_profile_true_partial_and_dirty(spark):
    from jsonschema_validator_spark.operators.integrity import fk_profile

    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    true_child = spark.createDataFrame([(1,), (1,), (2,), (None,)], "fk long")
    r = fk_profile(true_child, "fk", parent, "pk").collect()[0]
    # NULL child excluded: 3 rows, 2 distinct, both contained
    assert (r["n_child"], r["n_child_distinct"], r["contained"]) == (3, 2, 2)
    assert r["containment"] == 1.0 and r["parent_uniqueness"] == 1.0
    assert r["fk_like"]

    dirty_child = spark.createDataFrame([(1,), (2,), (99,), (98,)], "fk long")
    r = fk_profile(dirty_child, "fk", parent, "pk", label="dirty").collect()[0]
    assert r["candidate"] == "dirty"
    assert r["containment"] == 0.5 and not r["fk_like"]

    dup_parent = spark.createDataFrame([(1,), (1,), (2,)], "pk long")
    r = fk_profile(true_child, "fk", dup_parent, "pk").collect()[0]
    # containment holds but the parent key is not unique -> not FK-like
    assert r["containment"] == 1.0
    assert r["parent_uniqueness"] == pytest.approx(2 / 3, abs=1e-6)
    assert not r["fk_like"]


def test_fk_profile_empty_child_never_claims_fk(spark):
    from jsonschema_validator_spark.operators.integrity import fk_profile

    parent = spark.createDataFrame([(1,)], "pk long")
    child = spark.createDataFrame([(None,)], "fk long")
    r = fk_profile(child, "fk", parent, "pk").collect()[0]
    assert r["n_child_distinct"] == 0 and r["containment"] is None
    assert not r["fk_like"]


def test_join_cardinality_exact_and_skew_share(spark):
    from jsonschema_validator_spark.operators.profile import join_cardinality

    left = spark.createDataFrame(
        [(1,)] * 3 + [(2,)] * 1 + [(9,)] * 5 + [(None,)], "k long"
    )
    right = spark.createDataFrame([(1,)] * 4 + [(2,)] * 2 + [(7,)], "k long")
    r = join_cardinality(left, "k", right, "k").collect()[0]
    # matched keys 1 (3*4=12 rows) and 2 (1*2=2 rows); 9 and 7 and NULL
    # never join. join_rows = 14; whale key 1 carries 12/14.
    assert (r["n_left"], r["n_right"]) == (9, 7)  # NULL excluded
    assert (r["matched_keys"], r["join_rows"]) == (2, 14)
    assert (r["top_key"], r["top_key_rows"]) == (1, 12)
    assert r["top_share"] == pytest.approx(12 / 14, abs=1e-6)
    assert r["expansion_left"] == pytest.approx(14 / 9, abs=1e-6)

    # verify against the actually-executed join
    truth = left.filter("k IS NOT NULL").join(right, "k").count()
    assert truth == r["join_rows"]


def test_join_cardinality_self_join_sum_of_squares_and_empty(spark):
    from jsonschema_validator_spark.operators.profile import join_cardinality

    df = spark.createDataFrame([(5,)] * 4 + [(6,)] * 2, "k long")
    r = join_cardinality(df, "k", df, "k").collect()[0]
    assert r["join_rows"] == 16 + 4 and r["top_key"] == 5

    a = spark.createDataFrame([(1,)], "k long")
    b = spark.createDataFrame([(2,)], "k long")
    r = join_cardinality(a, "k", b, "k").collect()[0]
    assert (r["matched_keys"], r["join_rows"]) == (0, 0)
    assert r["top_key"] is None and r["top_share"] is None


def test_pareto_front_hand_geometry(spark):
    # points: (1,9) (3,7) (3,5) (5,5) (5,5)dup (4,6) (2,8) (6,1) (0,0)
    # front: (1,9), (2,8), (3,7), (4,6), (5,5)x2, (6,1).
    # (3,5) dominated by (3,7) [x tie, y smaller]; (0,0) by everything.
    from jsonschema_validator_spark.operators.sampling import pareto_front

    pts = [(1, 9), (3, 7), (3, 5), (5, 5), (5, 5), (4, 6), (2, 8), (6, 1), (0, 0)]
    df = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(pts)], "id long, x long, y long")
    out = sorted((r["x"], r["y"]) for r in pareto_front(df, "x", "y").collect())
    assert out == [(1, 9), (2, 8), (3, 7), (4, 6), (5, 5), (5, 5), (6, 1)]


def test_pareto_front_equal_points_and_nulls_and_groups(spark):
    from jsonschema_validator_spark.operators.sampling import pareto_front

    rows = [
        ("g1", 1.0, 1.0), ("g1", 1.0, 1.0),      # mutual ties both survive
        ("g1", None, 5.0), ("g1", 2.0, None),    # NULLs never enter
        ("g2", 1.0, 9.0), ("g2", 2.0, 1.0),      # per-group fronts independent
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = pareto_front(df, "x", "y", group_col="g").collect()
    g1 = sorted((r["x"], r["y"]) for r in out if r["g"] == "g1")
    g2 = sorted((r["x"], r["y"]) for r in out if r["g"] == "g2")
    assert g1 == [(1.0, 1.0), (1.0, 1.0)]
    assert g2 == [(1.0, 9.0), (2.0, 1.0)]


def test_shape_profile_formats_and_null(spark):
    from jsonschema_validator_spark.operators.profile import shape_profile

    rows = [
        ("2024-01-15",), ("2025-12-31",),          # date shape 9-9-9
        ("bob@mail.com",), ("eve@x.org",),         # email shape a@a.a
        ("AB 12",),                                 # 'A_9'
        (None,),
    ]
    df = spark.createDataFrame(rows, "s string")
    out = {r["shape"]: r for r in shape_profile(df, "s").collect()}
    assert out["9-9-9"]["n"] == 2
    assert out["a@a.a"]["n"] == 2
    assert out["A_9"]["n"] == 1
    assert out["<null>"]["n"] == 1
    assert out["9-9-9"]["share"] == pytest.approx(2 / 6, abs=1e-6)
    # deterministic rank: ties on n=2 break by shape string
    assert out["9-9-9"]["rank"] == 1 and out["a@a.a"]["rank"] == 2


def test_shape_profile_top_k_truncates(spark):
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.profile import shape_profile

    df = spark.range(100).select(F.concat(F.lit("v"), F.col("id")).alias("s"))
    out = shape_profile(df, "s", k=3).collect()
    # every value collapses to the SAME shape 'a9' -> one row despite k=3
    assert len(out) == 1 and out[0]["shape"] == "a9" and out[0]["n"] == 100


def test_impute_median_mean_mode_and_flags(spark):
    from jsonschema_validator_spark.operators.cleaning import impute

    rows = [("a", 1.0), ("a", 3.0), ("a", None), ("b", 10.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")

    med = {(r["g"], r["v"]): r for r in impute(df, "v", "g").collect()}
    assert med[("a", None)]["v__filled"] == 2.0 and med[("a", None)]["v__imputed"]
    assert med[("a", 1.0)]["v__filled"] == 1.0 and not med[("a", 1.0)]["v__imputed"]
    assert med[("b", None)]["v__filled"] == 10.0

    mean = {(r["g"], r["v"]): r for r in impute(df, "v", "g", "mean").collect()}
    assert mean[("a", None)]["v__filled"] == 2.0

    # mode: most frequent, ties to the smallest value
    rows = [("a", 5.0), ("a", 5.0), ("a", 7.0), ("a", 7.0), ("a", 9.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    mode = impute(df, "v", "g", "mode").filter("v IS NULL").collect()[0]
    assert mode["v__filled"] == 5.0 and mode["v__imputed"]


def test_impute_all_null_group_refuses_and_null_group_key(spark):
    from jsonschema_validator_spark.operators.cleaning import impute

    rows = [("a", None), ("a", None), (None, 4.0), (None, None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = impute(df, "v", "g").collect()
    for r in out:
        if r["g"] == "a":
            # no statistic exists: stays NULL, flag false
            assert r["v__filled"] is None and not r["v__imputed"]
        elif r["g"] is None and r["v"] is None:
            # NULL group key is a real group (eqNullSafe): fills with 4
            assert r["v__filled"] == 4.0 and r["v__imputed"]


def test_pmi_collocations_planted_pair_tops(spark):
    from jsonschema_validator_spark.operators.textstats import pmi_collocations

    # "kuala lumpur" always co-occur and appear nowhere else; filler
    # words co-occur incidentally. N=12 docs.
    rows = [(i, "kuala lumpur visit notes common words here") for i in range(6)]
    rows += [(i + 6, "common words here visit notes") for i in range(6)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = pmi_collocations(df, "id", "text", min_pairs=5, top_k=50).collect()
    top = out[0]
    # PMI(kuala, lumpur) = log2(12 * 6 / 36) = 1.0 — maximal here
    assert {top["w1"], top["w2"]} == {"kuala", "lumpur"}
    assert top["pmi"] == pytest.approx(1.0, abs=1e-6)
    assert top["n12"] == 6 and top["n1"] == 6 and top["n2"] == 6
    # "common"/"words" co-occur in all 12 docs: PMI = log2(12*12/144) = 0
    cw = [r for r in out if {r["w1"], r["w2"]} == {"common", "words"}][0]
    assert cw["pmi"] == pytest.approx(0.0, abs=1e-6)


def test_pmi_collocations_min_pairs_floors_hapax(spark):
    from jsonschema_validator_spark.operators.textstats import pmi_collocations

    # the hapax pair (rare, gem) would have maximal PMI; min_pairs kills it
    rows = [(0, "rare gem")] + [(i, "filler words stay common") for i in range(1, 8)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = pmi_collocations(df, "id", "text", min_pairs=2, top_k=50).collect()
    assert not any({r["w1"], r["w2"]} == {"rare", "gem"} for r in out)


def test_nelson_aalen_textbook(spark):
    # durations (event=1 unless noted): 1, 2, 2, 3c (censored), 4
    # t=1: n=5, d=1 -> H=0.2,         V=1/25=0.04
    # t=2: n=4, d=2 -> H=0.2+0.5=0.7, V=0.04+2/16=0.165
    # t=4: n=1, d=1 -> H=1.7,         V=0.165+1=1.165
    # censored-only t=3 moves n but adds NO step row.
    from jsonschema_validator_spark.operators.survival import nelson_aalen

    rows = [(1.0, 1), (2.0, 1), (2.0, 1), (3.0, 0), (4.0, 1)]
    df = spark.createDataFrame(rows, "dur double, ev int")
    out = {r["t"]: r for r in nelson_aalen(df, "dur", "ev").collect()}
    assert set(out) == {1.0, 2.0, 4.0}
    assert out[1.0]["cum_hazard"] == pytest.approx(0.2)
    assert out[2.0]["cum_hazard"] == pytest.approx(0.7)
    assert out[4.0]["cum_hazard"] == pytest.approx(1.7)
    assert out[2.0]["var_hazard"] == pytest.approx(0.165)
    assert (out[1.0]["n_risk"], out[2.0]["n_risk"], out[4.0]["n_risk"]) == (5, 4, 1)


def test_nelson_aalen_total_death_stays_finite(spark):
    # everyone at risk dies at t=1: KM's product hits exactly 0 but the
    # NA hazard is a plain finite sum (d/n = 1) — the small-risk-set
    # advantage the docstring claims.
    from jsonschema_validator_spark.operators.survival import nelson_aalen

    df = spark.createDataFrame([(1.0, 1), (1.0, 1)], "dur double, ev int")
    r = nelson_aalen(df, "dur", "ev").collect()[0]
    assert r["cum_hazard"] == pytest.approx(1.0)
    assert r["var_hazard"] == pytest.approx(0.5)


def test_ndcg_hand_computed_and_perfect(spark):
    from jsonschema_validator_spark.operators.evaluation import ndcg

    # query A: scores rank docs (d1, d2, d3); rel = (0, 2, 1).
    # DCG = 0 + 3/log2(3) + 1/log2(4) = 1.892789 + 0.5 = 2.392789
    # ideal order (d2, d3, d1): IDCG = 3/1 + 1/log2(3) = 3.630930
    # nDCG = 0.659056
    rows = [
        ("A", "d1", 9.0, 0), ("A", "d2", 5.0, 2), ("A", "d3", 1.0, 1),
        ("B", "e1", 2.0, 1), ("B", "e2", 1.0, 0),   # perfect ranking
        ("C", "f1", 3.0, 0),                         # no relevant: NULL
    ]
    df = spark.createDataFrame(rows, "q string, doc string, score double, rel int")
    out = {r["query"]: r for r in ndcg(df, "q", "doc", "score", "rel").collect()}
    import math
    dcg = 3 / math.log2(3) + 1 / math.log2(4)
    idcg = 3 + 1 / math.log2(3)
    assert out["A"]["dcg"] == pytest.approx(dcg, abs=1e-5)
    assert out["A"]["ndcg"] == pytest.approx(dcg / idcg, abs=1e-5)
    assert out["B"]["ndcg"] == 1.0
    assert out["C"]["ndcg"] is None and out["C"]["idcg"] == 0.0


def test_ndcg_k_cutoff_and_score_ties(spark):
    from jsonschema_validator_spark.operators.evaluation import ndcg

    # k=1: only the top-ranked doc counts. Score tie between d1/d2
    # breaks by doc id -> d1 first (rel 0) -> DCG 0; ideal puts the
    # rel-1 doc first -> IDCG 1 -> nDCG 0.
    rows = [("A", "d1", 5.0, 0), ("A", "d2", 5.0, 1)]
    df = spark.createDataFrame(rows, "q string, doc string, score double, rel int")
    r = ndcg(df, "q", "doc", "score", "rel", k=1).collect()[0]
    assert r["dcg"] == 0.0 and r["idcg"] == 1.0 and r["ndcg"] == 0.0


def test_islands_hand_geometry_and_dups(spark):
    from jsonschema_validator_spark.operators.ordering import islands

    # ids 1,2,3, 7,7 (dup), 8, 12 -> islands [1-3], [7-8], [12];
    # gaps 3 and 3; last island's next_gap is the 0 sentinel.
    df = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 7, 8, 12]], "id long")
    out = [(r["island_start"], r["island_end"], r["island_len"], r["next_gap"])
           for r in islands(df, "id").collect()]
    assert out == [(1, 3, 3, 3), (7, 8, 2, 3), (12, 12, 1, 0)]


def test_islands_per_group_and_null_ids(spark):
    from jsonschema_validator_spark.operators.ordering import islands

    rows = [("a", 1), ("a", 2), ("a", 9), ("b", 5), ("b", None)]
    df = spark.createDataFrame(rows, "g string, id long")
    out = {(r["g"], r["island_start"]): r for r in islands(df, "id", "g").collect()}
    assert out[("a", 1)]["island_end"] == 2 and out[("a", 1)]["next_gap"] == 6
    assert out[("a", 9)]["next_gap"] == 0
    assert out[("b", 5)]["island_len"] == 1


def test_scd2_intervals_collapse_and_current(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.merge import scd2_intervals

    t = lambda s: dt.datetime(2024, 1, 1, s)
    rows = [
        (1, t(1), "A"), (1, t(2), "A"),      # no-op update: collapses
        (1, t(3), "B"), (1, t(4), None),     # B, then NULL is a real change
        (2, t(1), "X"),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v string")
    out = scd2_intervals(df, "k", "ts", ["v"]).collect()
    k1 = sorted((r for r in out if r["k"] == 1), key=lambda r: r["valid_from"])
    assert [r["v"] for r in k1] == ["A", "B", None]
    # A's interval closes at B's open; no-op at t(2) did NOT split it
    assert k1[0]["valid_to"] == k1[1]["valid_from"]
    assert k1[2]["is_current"] and k1[2]["valid_to"] is None
    k2 = [r for r in out if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["is_current"]


def test_zipf_slope_exact_power_law(spark):
    # construct an exact Zipf corpus: word_r appears round(64/r) times
    # for r = 1,2,4,8,16 -> frequencies 64,32,16,8,4 at ranks 1,2,3,4,5.
    # log2 freq = 6,5,4,3,2 vs log2 rank = 0,1,2,3,4 -> NOT linear
    # (rank spacing is log); use r = 1,2,4,8,16 as freq = 64/r so
    # points (log2 r, log2 64/r) = (0,6),(1,5),(2,4),(3,4... wait
    # freq at rank: ranks are 1..5 by construction. Simpler: freqs
    # 16,8,4,2 at ranks 1,2,3,4: y = 4,3,2,1 on x = 0,1,1.585,2 ->
    # not exactly linear either. Use 2 points for an exact line:
    # freqs 8 and 4 -> slope = (2-3)/(1-0) = -1 exactly, r2 = 1.
    from jsonschema_validator_spark.operators.textstats import zipf_slope

    text_a = " ".join(["alpha"] * 8 + ["beta"] * 4)
    df = spark.createDataFrame([(text_a,)], "text string")
    r = zipf_slope(df, "text").collect()[0]
    assert (r["n_types"], r["n_tokens"]) == (2, 12)
    assert r["slope"] == pytest.approx(-1.0, abs=1e-9)
    assert r["r2"] == pytest.approx(1.0, abs=1e-9)


def test_zipf_slope_flat_corpus_and_hapax_trim(spark):
    from jsonschema_validator_spark.operators.textstats import zipf_slope

    # every kept word equally frequent -> vary = 0 -> slope 0, r2 NULL;
    # hapax words are trimmed and only show in n_types/n_tokens
    text = "aa aa bb bb cc"
    df = spark.createDataFrame([(text,)], "text string")
    r = zipf_slope(df, "text").collect()[0]
    assert r["n_types"] == 3 and r["n_tokens"] == 5
    assert r["slope"] == 0.0 and r["r2"] is None


def test_cross_source_duplication_mirror_and_subset(spark):
    from jsonschema_validator_spark.operators.dedup import (
        cross_source_duplication,
    )

    rows = [
        ("A", "doc one"), ("A", "doc two"), ("A", "doc three"),
        ("B", "doc one"), ("B", "doc two"),          # B subset of A
        ("B", "doc one"),                             # in-source dup: no effect
        ("C", "unrelated"),                           # shares nothing: no rows
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    out = {(r["src_a"], r["src_b"]): r for r in
           cross_source_duplication(df, "text", "src").collect()}
    # B -> A containment 1.0 (B adds nothing); A -> B only 2/3
    assert out[("B", "A")]["containment"] == pytest.approx(1.0)
    assert out[("A", "B")]["containment"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[("A", "B")]["n_a"] == 3 and out[("A", "B")]["shared"] == 2
    assert not any("C" in k for k in out)


def test_gains_table_perfect_ranking(spark):
    from jsonschema_validator_spark.operators.evaluation import gains_table

    # 20 rows, 4 positives with the 4 highest scores: top bin (2 rows)
    # captures 2/4, second bin completes the positives, lift of bin 1
    # = (2/2)/(4/20) = 5.
    rows = [(i, float(100 - i), 1 if i < 4 else 0) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    out = {r["bin"]: r for r in gains_table(df, "score", "label", "id").collect()}
    assert out[1]["positives"] == 2 and out[1]["lift"] == 5.0
    assert out[2]["cum_positives"] == 4 and out[2]["capture_rate"] == 1.0
    assert out[10]["capture_rate"] == 1.0 and out[10]["positives"] == 0
    assert sum(r["n"] for r in out.values()) == 20


def test_gains_table_null_score_ranks_last_and_null_label_negative(spark):
    from jsonschema_validator_spark.operators.evaluation import gains_table

    rows = [(1, 9.0, 1), (2, None, 1), (3, 5.0, None), (4, 1.0, 0)]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    out = gains_table(df, "score", "label", "id", n_bins=4).collect()
    # NULL score -> last bin; its positive is captured only at the end
    assert out[0]["positives"] == 1          # id 1
    assert out[-1]["positives"] == 1         # id 2 (null score)
    assert out[1]["positives"] == 0          # id 3: null label = negative
    assert out[2]["capture_rate"] == 0.5


def test_weighted_panel_size_determinism_and_bias(spark):
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.sampling import weighted_panel

    # 200 keys, weights 1 or 100 alternating: the panel is exactly k,
    # identical across partitionings, excludes non-positive weights,
    # and over-represents heavy weights (A-Res property).
    rows = [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(200)]
    rows += [(900, 0.0), (901, -5.0), (902, None)]
    df = spark.createDataFrame(rows, "id long, w double")
    sel = weighted_panel(df, "id", "w", k=40).collect()
    assert len(sel) == 40
    assert all(r["w"] > 0 for r in sel)
    heavy = sum(1 for r in sel if r["w"] == 100.0)
    assert heavy > 30  # 100x weight dominates the panel

    again = weighted_panel(df.repartition(7), "id", "w", k=40).collect()
    assert sorted(r["id"] for r in again) == sorted(r["id"] for r in sel)


def test_weighted_panel_per_group_and_salt(spark):
    from jsonschema_validator_spark.operators.sampling import weighted_panel

    rows = [(g, i, 1.0) for g in ("a", "b") for i in range(20)]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    sel = weighted_panel(df, "id", "w", k=5, group_col="g").collect()
    by_g = {}
    for r in sel:
        by_g.setdefault(r["g"], []).append(r["id"])
    assert len(by_g["a"]) == 5 and len(by_g["b"]) == 5
    # salt decorrelates the draw
    salted = weighted_panel(df, "id", "w", k=5, group_col="g", salt=7).collect()
    assert sorted(r["id"] for r in salted) != sorted(r["id"] for r in sel)
