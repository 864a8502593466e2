"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting — all
Column algebra (regex/length/aggregate built-ins), no per-row Python."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
}

def token_count(text: Column) -> Column:
    """Whitespace token count (matches string_split-on-space oracles)."""
    return F.size(F.split(text, " "))


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-ish proxy: word pieces by the GPT-2 pre-tokenizer-style regex
    (contractions / letter-runs / digit-runs / punct-runs)."""
    return F.size(
        F.regexp_extract_all(
            text, F.lit(r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"), 0
        )
    )


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def mean_word_length(text: Column) -> Column:
    toks = F.split(text, " ")
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme length,
    high punctuation and implausible mean word length — the usual cheap
    pre-filter before expensive dedup/training stages."""
    length_ok = (F.length(text) >= 20) & (F.length(text) <= 50_000)
    punct_ok = punct_ratio(text) < 0.3
    words_ok = (mean_word_length(text) >= 2) & (mean_word_length(text) <= 15)
    return (
        length_ok.cast("double") * 0.4
        + punct_ok.cast("double") * 0.3
        + words_ok.cast("double") * 0.3
    )


def language_id(text: Column) -> Column:
    """Stopword-marker language ID: score each language by marker-token
    hits, pick the argmax. Ties resolve to the lexicographically LAST
    language (array_max compares (hits, lang) structs field-by-field).
    Cheap n-gram-free heuristic; 'und' (undetermined) when no marker hits."""
    toks = F.split(F.lower(text), " ")

    def marker_hit(markers: list[str]):
        # closure factory: a default-arg capture would change the HOF
        # lambda's inspected arity (the second arg becomes the index!)
        return lambda t: t.isin(markers)

    scores = []
    for lang in sorted(_LANG_MARKERS):
        hits = F.size(F.filter(toks, marker_hit(_LANG_MARKERS[lang])))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def word_ngrams(toks: Column, n: int, min_one: bool = False) -> Column:
    """Array of n-token windows joined by spaces, built from n SHIFTED
    SLICES via zip_with — the arguments evaluate once per row. Never
    build n-grams with indexed gets inside a HOF lambda: a closure-
    captured token array re-evaluates its whole upstream expression per
    element, O(words^2) per row (measured 188s -> 4.1s on the curation
    pipeline).

    min_one=False: empty array when the text has fewer than n tokens.
    min_one=True: one window containing the whole (short) text — the
    MinHash-shingle convention. Implemented by clamping the width to 1:
    the shifted slices run past the array, zip_with null-pads, and
    concat_ws skips nulls, reproducing array_join(slice(toks, 1, n))."""
    width = F.size(toks) - (n - 1)
    width = F.greatest(width, F.lit(1 if min_one else 0))
    grams = F.slice(toks, 1, width)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, width),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return grams


def ngram_repetition(text: Column, n: int = 3) -> Column:
    """Duplicate-n-gram fraction — the Gopher-style repetition quality
    signal (Rae et al. 2021 §A1.1, public paper): fraction of word
    n-grams that are repeats of an earlier n-gram in the same document.
    0.0 for documents shorter than n words. Pure Column algebra, no
    shuffle, no Python.

    Construction note (measured 19.7s -> sub-second on 5k docs at
    sf0.1): n-grams are built by zip_with over n SHIFTED SLICES of the
    token array. The tempting alternative — transform over an index
    sequence with F.get(toks, i + j) in the lambda — embeds the split()
    expression inside the lambda via closure, so Spark re-evaluates the
    tokenization (and anything upstream of it, e.g. a scrub chain) PER
    ELEMENT: O(words^2) per document. slice/zip_with arguments are
    plain per-row expressions, evaluated once."""
    toks = F.split(text, " ")
    k = F.size(toks) - (n - 1)
    grams = word_ngrams(toks, n)
    dup_frac = (F.size(grams) - F.size(F.array_distinct(grams))) / F.size(grams)
    return F.when(k >= 1, dup_frac).otherwise(F.lit(0.0))


def word_entropy(text: Column) -> Column:
    """Shannon entropy (bits) of the within-document word distribution —
    the "is this text degenerate" quality signal: near-0 for one word
    repeated, high for diverse vocabulary. Uses the algebraic identity
    H = log2(N) - (sum_w c_w*log2(c_w)) / N so one sequential pass over
    the SORTED token array suffices (run-length counting inside a
    single F.aggregate with a struct accumulator).

    Scale shape: ZERO shuffles and zero Python — per-row O(w log w)
    JVM-side array_sort plus one O(w) aggregate. The tempting
    alternative (explode -> groupBy(doc_id, word) -> groupBy(doc_id))
    costs two exchanges that carry every word of the corpus; this costs
    none. NULL text -> NULL; empty-ish text (one token) -> 0.0.
    """
    toks = F.array_sort(F.split(text, " "))
    n = F.size(toks)

    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0.0).alias("run"), F.lit(0.0).alias("s")
    )

    def _close(run: Column, s: Column) -> Column:
        # fold a finished run into the sum: s += run * log2(run)
        return F.when(run > 0, s + run * F.log2(run)).otherwise(s)

    def step(acc: Column, x: Column) -> Column:
        same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1.0)).alias("run"),
            F.when(same, acc["s"]).otherwise(_close(acc["run"], acc["s"])).alias("s"),
        )

    s = F.aggregate(toks, zero, step, lambda acc: _close(acc["run"], acc["s"]))
    return F.when(text.isNull(), F.lit(None).cast("double")).otherwise(
        F.log2(n.cast("double")) - s / n
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unigram: DataFrame | None = None,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document mean log2-probability of its words under the
    corpus-wide unigram MLE distribution — the CCNet-style (Wenzek et
    al. 2020, public paper) cheap language-model quality proxy:
    documents of improbable words (noise, boilerplate, wrong language)
    score low; no OOV smoothing is needed because the model is fit on
    the same corpus it scores. Pass ``unigram`` — a persisted
    (word, count) DataFrame from a previous run or a REFERENCE corpus —
    to skip the fit pass; OOV words then drop out of the mean (inner
    join), the standard convention when scoring against a fixed model.

    Returns (id_col, n_tokens, mean_logp) with
    mean_logp = (1/N) * sum_i log2(c_{w_i} / T), the mean taken over
    the words the model knows. A document whose words are ALL out of
    vocabulary still gets its row, with mean_logp NULL ("no evidence"
    — callers filtering for quality should treat NULL as rejectable).
    Documents with NULL text produce no words and are absent from the
    output, like every explode-based operator here.

    Scale shape: the pruned (id, text) projection is scanned TWICE —
    once to fit the unigram table, once to score — which is fundamental
    to any corpus-statistic score (the model must exist before scoring;
    CCNet itself is fit-then-score). What never happens twice is the
    expensive part: no exploded words cross an exchange — the fit pass
    collapses to the O(vocab) table via partial+final agg, the scoring
    pass joins that table BROADCAST onto the exploded words and
    combines map-side down to one (doc_id, double) partial per doc
    (docs are contiguous in scan partitions). The corpus total T rides
    in as a broadcast 1-row relation so the whole thing stays one
    declarative plan (no driver action). To amortize the fit across
    runs, persist ``uni`` and pass it back — the parameter exists for
    scoring against a reference corpus. ``broadcast_vocab=True`` is
    right for natural-language vocabularies (~10^7 rows); for
    adversarial corpora whose distinct-token count rivals the corpus
    itself, pass False and let AQE pick the join (a forced broadcast
    has an 8 GB cliff). Broadcasting also neutralizes the Zipf skew a
    shuffled join on the word key would suffer.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__w")
    )
    if unigram is not None:
        w, c = unigram.columns[:2]
        uni = unigram.select(F.col(w).alias("__w"), F.col(c).alias("__c"))
    else:
        uni = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    total = uni.agg(F.sum("__c").cast("double").alias("__t"))
    uni = F.broadcast(uni) if broadcast_vocab else uni
    return (
        words.join(uni, "__w", "left")  # left: OOV words keep their row
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log2("__c")).alias("__mean_log_c"),  # avg skips OOV NULLs
        )
        .join(F.broadcast(total))
        .select(
            id_col,
            "n_tokens",
            (F.col("__mean_log_c") - F.log2("__t")).alias("mean_logp"),
        )
    )


def fingerprint(text: Column) -> Column:
    """Normalized content fingerprint: md5 of lowercased alphanumerics —
    stable across whitespace/punctuation edits (near-exact dedup key)."""
    return F.md5(F.lower(F.regexp_replace(text, r"[^a-zA-Z0-9]", "")))


def text_profile(text: Column) -> Column:
    """Arrow-vectorized (lang_pred, quality) struct — the scale path for
    per-document profiling. The Column versions above build one
    higher-order filter per language over a re-computed token split
    (measured 16s for 5k docs at sf0.1); this tokenizes once per row in
    a pandas UDF with set lookups, ~20x faster, and matches
    language_id()/quality_score() semantics exactly (pinned by
    test_text_profile_matches_columns):
    - NULL text -> ('und', NULL) (split(NULL) propagates; quality NULL)
    - ties pick the lexicographically LAST language (struct array_max)
    - tokenization = split on single spaces of lower(text); punct ratio
      and word lengths over the original text."""
    import re as _re

    import pandas as pd

    markers = {k: frozenset(v) for k, v in _LANG_MARKERS.items()}
    langs = sorted(markers)
    punct_re = _re.compile(r"[A-Za-z0-9\s]")

    def _batch(s):
        lang_out, qual_out = [], []
        for t in s:
            if t is None:
                lang_out.append("und")
                qual_out.append(None)
                continue
            toks = t.lower().split(" ")
            best_hits, best_lang = 0, "und"
            for lang in langs:
                m = markers[lang]
                hits = sum(1 for tok in toks if tok in m)
                # >= : later (lexicographically larger) lang wins ties,
                # matching struct-ordered array_max
                if hits > 0 and hits >= best_hits:
                    best_hits, best_lang = hits, lang
            n = len(t)
            punct = len(punct_re.sub("", t)) / max(n, 1)
            raw_toks = t.split(" ")
            mwl = sum(len(x) for x in raw_toks) / max(len(raw_toks), 1)
            q = (
                (0.4 if 20 <= n <= 50_000 else 0.0)
                + (0.3 if punct < 0.3 else 0.0)
                + (0.3 if 2 <= mwl <= 15 else 0.0)
            )
            lang_out.append(best_lang)
            qual_out.append(q)
        return pd.DataFrame({"lang_pred": lang_out, "quality": qual_out})

    _batch.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(_batch, "lang_pred string, quality double")(text)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per group by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, N = distinct documents, df = distinct
    documents containing the term) — the "what is this source/domain
    about" profile used to spot a crawl source drifting off-topic.

    One explode of the corpus feeds BOTH aggregates (term frequency per
    (group, term) and document frequency per term); N rides as a
    broadcast 1-row relation so no driver action interrupts the plan.
    The rank window runs on the aggregated O(groups x vocab) relation —
    never the raw token stream (per the skew study: windows over raw
    rows melt on hot groups; windows over post-agg relations are fine).
    Ties break by term ascending for deterministic output.
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    n_docs = df.select(
        F.count_distinct(id_col).cast("double").alias("__n")
    )
    df_t = toks.groupBy("term").agg(
        F.count_distinct("__doc").cast("double").alias("df_t")
    )
    tf = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("__n") + 1.0) / (F.col("df_t") + 1.0)) + 1.0),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("grp", "rank", "term", "tf", F.col("df_t").cast("long").alias("df"), "tfidf")
    )


def quality_funnel(
    df: DataFrame, group_col: str, gates: dict[str, Column]
) -> DataFrame:
    """Per-group quality-gate funnel in ONE aggregation pass: for each
    named gate, how many rows pass it, plus how many pass ALL gates —
    the curation dashboard's "where do we lose documents" report.
    Conditional sums, not per-gate scans: N gates cost one shared scan
    and one partial+final agg regardless of N (each gate is a boolean
    Column evaluated inside the same projection). NULL gate results
    count as failing (a row whose text is NULL does not pass a length
    gate).

    Output per group: n, pass_<gate>... , pass_all, and
    keep_rate = pass_all / n.
    """
    # each gate expression must be evaluated exactly ONCE per row: a
    # prior projection does NOT guarantee that (CollapseProject
    # re-inlines deterministic expressions into every consuming
    # reference — measured 2x+ on the entropy/n-gram gates, the same
    # optimizer-re-inlining class as the violation_summary fix), so the
    # gates fold into a single BIT VECTOR expression and the funnel
    # aggregates (group, bits) first: the per-gate and all-pass counts
    # are then bit arithmetic over an O(groups x 2^N) relation, far
    # from the raw rows
    names = list(gates)
    bits = None
    for i, name in enumerate(names):
        b = F.coalesce(gates[name], F.lit(False)).cast("long") * F.lit(1 << i)
        bits = b if bits is None else bits + b
    cells = df.groupBy(F.col(group_col), bits.alias("__bits")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    aggs = [F.sum("__n").alias("n")]
    for i, name in enumerate(names):
        hit = F.shiftright(F.col("__bits"), i).bitwiseAND(F.lit(1)) == 1
        aggs.append(F.sum(F.when(hit, F.col("__n")).otherwise(F.lit(0))).alias(f"pass_{name}"))
    full = F.lit((1 << len(names)) - 1)
    aggs.append(
        F.sum(F.when(F.col("__bits") == full, F.col("__n")).otherwise(F.lit(0))).alias(
            "pass_all"
        )
    )
    out = cells.groupBy(group_col).agg(*aggs)
    return out.withColumn("keep_rate", F.col("pass_all") / F.col("n"))


def bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean log2 P(w_i | w_{i-1}) under the corpus bigram
    MLE — the order-sensitive sibling of `unigram_logprob`: word-salad
    documents (shuffled or concatenated boilerplate) keep a plausible
    unigram profile but improbable TRANSITIONS, so the bigram score
    separates them where the unigram score cannot.

    P(b | a) = c(a b) / c(a ·), both counts from ONE exploded bigram
    relation (c(a ·) = sum of bigram counts by prefix, derived from the
    O(bigram-vocab) aggregate — never a second corpus pass). Scoring
    joins both model tables BROADCAST onto the exploded bigrams
    (Zipf-skew-immune, like the unigram path) and collapses map-side to
    one partial per doc. Documents with < 2 words have no bigrams and
    are absent, matching the explode-based operator convention.

    Returns (id_col, n_bigrams, mean_logp), mean_logp <= 0.
    """
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    bi = toks.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col("__toks"), 2)).alias("__g"),
    ).withColumn("__a", F.substring_index("__g", " ", 1))
    bic = bi.groupBy("__g").agg(F.count(F.lit(1)).alias("__cb"))
    pref = (
        bic.withColumn("__a", F.substring_index("__g", " ", 1))
        .groupBy("__a")
        .agg(F.sum("__cb").alias("__ca"))
    )
    return (
        bi.join(F.broadcast(bic), "__g")
        .join(F.broadcast(pref), "__a")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log2(F.col("__cb") / F.col("__ca"))).alias("mean_logp"),
        )
    )


def reading_ease(df: DataFrame, text: str = "text") -> DataFrame:
    """Flesch reading-ease per row from three regex counts — the
    standard quality-score feature for prose-level filtering.

    Heuristics (documented contract, replayable in any regex engine):
    words = count of ``\\S+`` runs; sentences = count of ``[.!?]+``
    runs, floored at 1 so a fragment still scores; syllables = count of
    ``[aeiouy]+`` runs in the lowercased text (vowel groups never cross
    whitespace, so no per-word loop is needed — this is what keeps the
    operator pure Column algebra with zero shuffles). Empty/NULL text
    yields NULL flesch via try_divide, never a division error.

    flesch = 206.835 - 1.015 * words/sentences - 84.6 * syllables/words
    Returns the input columns plus (words, sentences, syllables,
    flesch), counts as longs, flesch rounded to 6.
    """
    t = F.coalesce(F.col(text), F.lit(""))
    words = F.regexp_count(t, F.lit(r"\S+")).cast("long")
    sentences = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)).cast("long")
    syllables = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")).cast("long")
    out = df.withColumn("words", words).withColumn("sentences", sentences).withColumn(
        "syllables", syllables
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * F.try_divide(F.col("words"), F.col("sentences"))
        - 84.6 * F.try_divide(F.col("syllables"), F.col("words"))
    )
    return out.withColumn("flesch", F.round(flesch, 6))


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_pairs: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Pointwise-mutual-information collocations: word pairs that
    CO-OCCUR in documents far more than their marginal frequencies
    predict — multiword expressions, entity fragments, boilerplate
    signatures ("click here"), and template artifacts that unigram
    frequency tables are blind to. PMI = log2(N * n12 / (n1 * n2))
    over document-level co-occurrence of DISTINCT words.

    Plan shape: distinct words per document (one explode + distinct),
    then within-document pairs via a self-equi-join ON doc id with
    w1 < w2 — O(sum len_d^2) pair rows, bounded by document length
    (cap upstream with a length filter for whale documents), never
    corpus-quadratic. Marginal doc-frequencies broadcast back; the
    final rank runs on the O(distinct pairs) aggregated relation.
    ``min_pairs`` floors the co-occurrence count (PMI's known
    pathology: a hapax pair maxes the score); ties break by words.
    The [a-z]+ tokenizer is the package's deterministic contract.
    Returns (rank, w1, w2, n12, n1, n2, pmi), top_k rows.
    """
    from pyspark.sql import Window

    # caller-provided id, NOT monotonically_increasing_id: the word
    # relation feeds two join branches, and a partition-layout-dependent
    # id is not guaranteed stable across re-evaluated subtrees
    doc = df.select(F.col(id_col).alias("__doc"), F.col(text_col).alias("__t"))
    words = doc.select(
        "__doc",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("__t")), "[^a-z]+"),
                    lambda w: w != "",
                )
            )
        ).alias("w"),
    )
    n_docs = words.select("__doc").distinct().count()
    marg = words.groupBy("w").agg(F.count(F.lit(1)).alias("df_w"))
    pairs = (
        words.alias("a")
        .join(words.alias("b"), "__doc")
        .filter(F.col("a.w") < F.col("b.w"))
        .groupBy(
            F.col("a.w").alias("w1"), F.col("b.w").alias("w2")
        )
        .agg(F.count(F.lit(1)).alias("n12"))
        .filter(F.col("n12") >= min_pairs)
    )
    m1 = marg.select(F.col("w").alias("w1"), F.col("df_w").alias("n1"))
    m2 = marg.select(F.col("w").alias("w2"), F.col("df_w").alias("n2"))
    scored = (
        pairs.join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .withColumn(
            "pmi",
            F.round(
                F.log2(
                    F.lit(float(n_docs))
                    * F.col("n12")
                    / (F.col("n1") * F.col("n2"))
                ),
                6,
            ),
        )
    )
    w = Window.orderBy(F.desc("pmi"), "w1", "w2")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("rank", "w1", "w2", "n12", "n1", "n2", "pmi")
    )


def zipf_slope(
    df: DataFrame,
    text_col: str,
    group_col: str | None = None,
    min_count: int = 2,
) -> DataFrame:
    """Zipf-law fit of the word-frequency distribution per corpus
    slice: OLS slope of log2(frequency) on log2(rank) — natural
    language sits near -1, so the slope is a one-number corpus
    fingerprint that catches template spam (too steep: a few phrases
    dominate) and synthetic/shuffled text (too flat) that per-document
    quality scores miss because every individual document looks fine.

    Ranks come from one window over the distinct-word frequency
    relation (ties break by word for determinism); the OLS closed form
    is exact arithmetic on the five power sums of (log2 rank,
    log2 freq). ``min_count`` trims the hapax tail, where Zipf fits
    are known to bend and which would otherwise dominate the
    regression by sheer row count. The [a-z]+ tokenizer is the
    package's deterministic contract. Returns (part?, n_types,
    n_tokens, slope, intercept, r2), floats rounded to 6.
    """
    from pyspark.sql import Window

    gcols = ["part"] if group_col else []
    sel = ([F.col(group_col).alias("part")] if group_col else []) + [
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                lambda w: w != "",
            )
        ).alias("w")
    ]
    words = df.select(*sel)
    freq = words.groupBy(*gcols, "w").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_types"), F.sum("n").alias("n_tokens")
    )
    kept = freq.filter(F.col("n") >= min_count)
    w_rank = Window.partitionBy(*gcols).orderBy(F.desc("n"), "w")
    ranked = kept.withColumn("__r", F.row_number().over(w_rank))
    x = F.log2(F.col("__r").cast("double"))
    y = F.log2(F.col("n").cast("double"))
    agg = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__m"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(x * y).alias("__sxy"),
        F.sum(y * y).alias("__syy"),
    )
    m = F.col("__m").cast("double")
    cov = F.col("__sxy") - F.col("__sx") * F.col("__sy") / m
    varx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / m
    vary = F.col("__syy") - F.col("__sy") * F.col("__sy") / m
    slope = F.when(varx > 0, cov / varx)
    out = agg.select(
        *gcols,
        F.round(slope, 6).alias("slope"),
        F.round(
            F.when(varx > 0, (F.col("__sy") - cov / varx * F.col("__sx")) / m),
            6,
        ).alias("intercept"),
        F.round(
            F.when((varx > 0) & (vary > 0), cov * cov / (varx * vary)), 6
        ).alias("r2"),
    )
    if gcols:
        return tot.join(out, "part").select(
            "part", "n_types", "n_tokens", "slope", "intercept", "r2"
        )
    return tot.crossJoin(out).select(
        "n_types", "n_tokens", "slope", "intercept", "r2"
    )


def species_richness(
    df: DataFrame,
    token_col: str,
    group: str | None = None,
) -> DataFrame:
    """Good-Turing missing mass + bias-corrected Chao1 richness over a
    token relation — the "how much vocabulary have we NOT seen yet"
    gate: a corpus slice whose singleton fraction n1/N is high is
    nowhere near lexically saturated, so dedup rates, contamination
    estimates and vocabulary_richness trends computed on it will still
    be moving. Two classical estimators from the frequency-of-
    frequencies alone:

        missing_mass = n1 / N            (Good-Turing P(next token is new))
        chao1 = S_obs + n1(n1-1)/(2(n2+1))   (bias-corrected lower bound)

    Two stacked aggregations (token counts, then counts-of-counts) —
    the second input is O(types), the heavy shuffle is the first and
    it is exactly the word-count combine. Returns (group?, n_tokens,
    n_types, singletons, doubletons, missing_mass, coverage, chao1,
    undetected_types); an empty slice yields no row, N = 0 never
    divides.
    """
    gcols = [group] if group else []
    freq = (
        df.filter(F.col(token_col).isNotNull())
        .groupBy(*gcols, F.col(token_col).alias("__t"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    agg = freq.groupBy(*gcols).agg(
        F.sum("__n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("__n") == 1).cast("long")).alias("singletons"),
        F.sum((F.col("__n") == 2).cast("long")).alias("doubletons"),
    )
    n1 = F.col("singletons").cast("double")
    n2 = F.col("doubletons").cast("double")
    mm = n1 / F.col("n_tokens").cast("double")
    chao1 = F.col("n_types").cast("double") + n1 * (n1 - 1.0) / (
        2.0 * (n2 + 1.0)
    )
    return agg.select(
        *gcols,
        "n_tokens",
        "n_types",
        "singletons",
        "doubletons",
        F.round(mm, 6).alias("missing_mass"),
        F.round(1.0 - mm, 6).alias("coverage"),
        F.round(chao1, 6).alias("chao1"),
        F.round(chao1 - F.col("n_types"), 6).alias("undetected_types"),
    )


def heaps_law(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group: str | None = None,
    n_checkpoints: int = 16,
    min_types: int = 50,
) -> DataFrame:
    """Heaps' law vocabulary-growth fit per group: V(T) ~ K * T^beta
    (vocabulary size vs cumulative token count), estimated by log-log
    OLS over ``n_checkpoints`` corpus prefixes. The growth-side
    complement of species_coverage (which asks how much vocabulary is
    UNSEEN at the current size): beta ~ 0.4-0.6 is natural text;
    beta near 1 means near-zero reuse (ID-like or heavily boilerplate
    corpus where "vocabulary" never saturates); beta near 0 means a
    closed vocabulary (templated text). A corpus whose beta shifts
    between snapshots changed its TYPE of content, not just its size.

    Prefixes are defined by PINNED id fractions (doc ``id_col`` <=
    max_id * k/n_checkpoints), so V(T) and T are 2C conditional sums
    in ONE aggregation over the exploded token relation — no global
    rank, no unpartitioned window, no sort (the scale trap of the
    naive cumulative formulation). Prefix membership follows the id
    order, which for ingest-ordered ids is corpus order (stated; any
    deterministic order measures the same law). Tokenization matches
    zipf_slope: lowercase, split on non-letters.

    Checkpoints with zero tokens are dropped; groups with fewer than
    ``min_types`` total types emit nothing (the fit is noise).
    Returns (group?, n_checkpoints_used, n_tokens, n_types, beta, k,
    r2).
    """
    gcols = [F.col(group).alias("grp")] if group else []
    toks = df.select(
        *gcols,
        F.col(id_col).cast("double").alias("__id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                lambda w: w != "",
            )
        ).alias("w"),
    )
    gb = ["grp"] if group else []
    # first occurrence of each type, in id order, + max id per group
    firsts = toks.groupBy(*gb, "w").agg(
        F.min("__id").alias("first_id"), F.count(F.lit(1)).alias("cnt")
    )
    maxid = toks.groupBy(*gb).agg(F.max("__id").alias("max_id"))
    per_type = (
        firsts.join(F.broadcast(maxid), gb) if group else
        firsts.crossJoin(F.broadcast(maxid))
    )
    # token counts per doc prefix need per-DOC sums, not per-type
    per_doc = toks.groupBy(*gb, "__id").agg(
        F.count(F.lit(1)).alias("doc_toks")
    )
    per_doc = (
        per_doc.join(F.broadcast(maxid), gb) if group else
        per_doc.crossJoin(F.broadcast(maxid))
    )
    cuts = [k / float(n_checkpoints) for k in range(1, n_checkpoints + 1)]
    v_aggs = [
        F.sum(
            (F.col("first_id") <= F.col("max_id") * c).cast("long")
        ).alias(f"v{i}")
        for i, c in enumerate(cuts)
    ]
    t_aggs = [
        F.sum(
            F.when(F.col("__id") <= F.col("max_id") * c, F.col("doc_toks"))
            .otherwise(0)
        ).alias(f"t{i}")
        for i, c in enumerate(cuts)
    ]
    v_row = per_type.groupBy(*gb).agg(*v_aggs)
    t_row = per_doc.groupBy(*gb).agg(*t_aggs)
    wide = v_row.join(t_row, gb) if group else v_row.crossJoin(t_row)
    pts = wide.select(
        *gb,
        F.explode(
            F.arrays_zip(
                F.array(*[F.col(f"t{i}").cast("double") for i in range(len(cuts))]),
                F.array(*[F.col(f"v{i}").cast("double") for i in range(len(cuts))]),
            )
        ).alias("p"),
    ).select(
        *gb,
        F.col("p.0").alias("t"),
        F.col("p.1").alias("v"),
    ).filter((F.col("t") > 0) & (F.col("v") > 0))
    ols = pts.select(
        *gb,
        F.log2("t").alias("x"),
        F.log2("v").alias("y"),
        "t",
        "v",
    ).groupBy(*gb).agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.max("t").cast("long").alias("n_tokens"),
        F.max("v").cast("long").alias("n_types"),
    )
    m = F.col("m")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / m
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / m
    vary = F.col("syy") - F.col("sy") * F.col("sy") / m
    # epsilon guards: a constant V (closed vocabulary) leaves vary as
    # pure float residue whose sign differs across engines; treat
    # sub-epsilon variance as degenerate (r2 undefined) on BOTH sides
    beta = F.when(varx > 1e-9, cov / varx)
    intercept = (F.col("sy") - beta * F.col("sx")) / m
    r2 = F.when((varx > 1e-9) & (vary > 1e-9), cov * cov / (varx * vary))
    out_g = [F.col("grp").alias(group)] if group else []
    return ols.filter(F.col("n_types") >= min_types).select(
        *out_g,
        m.cast("long").alias("n_checkpoints_used"),
        "n_tokens",
        "n_types",
        F.round(beta, 6).alias("beta"),
        F.round(F.pow(F.lit(2.0), intercept), 6).alias("k"),
        F.round(r2, 6).alias("r2"),
    )
