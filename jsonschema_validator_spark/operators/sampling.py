"""Deterministic sampling for training-data mixing.

`df.sample()` is seed-stable only for a fixed partitioning — repartition
the input and the sample changes. Data-mixing pipelines need sampling
that is a PURE FUNCTION of the row key: stable across runs, partition
layouts, and engines, so a docs shard sampled at 20% today and
resampled at 30% tomorrow yields a superset (nested samples). Both
properties come from hashing the key into a fixed domain and taking a
prefix:

    keep(row)  <=>  mix(key) % DOMAIN < rate * DOMAIN

`mix` is a documented integer mixer (Knuth multiplicative hashing by
2654435761, the golden-ratio multiplier, then a xorshift) in pure
Column algebra — portable to any engine with 64-bit arithmetic, which
is what makes the result SQL-oracle-able (Spark's xxhash64 is not
reproducible in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame

DOMAIN = 1_000_000


def mix_key(key: Column) -> Column:
    """Deterministic mixer of an integer key: fold to 31 bits, Knuth
    multiplicative step (product < 2^63 — never overflows signed 64-bit,
    so ANSI engines never throw), then a xorshift. Column algebra only;
    reproducible verbatim in any SQL engine with 64-bit ints."""
    k = F.pmod(key.cast("long"), F.lit(1 << 31))
    h = k * F.lit(2654435761)  # < 2^31 * 2^32 = 2^63: safe
    return h.bitwiseXOR(F.shiftright(h, 29))


def hash_sample(df: DataFrame, key_col: str, rate: float) -> DataFrame:
    """Keep a deterministic, partitioning-independent `rate` fraction of
    rows by integer key. Nested: hash_sample(r1) ⊆ hash_sample(r2) for
    r1 <= r2 — growing a sample keeps everything already sampled."""
    return df.filter(F.pmod(mix_key(F.col(key_col)), F.lit(DOMAIN)) < int(rate * DOMAIN))


def split_by_group(
    df: DataFrame, group_col: str, fractions: dict[str, float] | None = None
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the GROUP key (conversation / user / document family),
    so every row of a group lands in the same split — a row-level random
    split would leak near-identical turns of one conversation across
    train and eval. Cumulative thresholds over the mixer domain give
    exact expected fractions; determinism across runs / partitionings /
    engines comes from `mix_key` (same contract as `hash_sample`).

    Adds a `split` column; rows are never dropped (fractions must sum
    to 1 within integer rounding — the last split absorbs the
    remainder). Zero shuffles: a projection on the scan.
    """
    if fractions is None:
        fractions = {"train": 0.8, "val": 0.1, "test": 0.1}
    if not fractions:
        raise ValueError("fractions must name at least one split")
    bad = {k: v for k, v in fractions.items() if not v > 0}
    if bad:
        raise ValueError(f"split fractions must be positive, got {bad}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if len(fractions) == 1:
        return df.withColumn("split", F.lit(next(iter(fractions))))
    bucket = F.pmod(mix_key(F.col(group_col)), F.lit(DOMAIN))
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        branch = expr if expr is not None else F
        expr = branch.when(bucket < int(cum * DOMAIN), F.lit(name))
    expr = expr.otherwise(F.lit(items[-1][0]))
    return df.withColumn("split", expr)


def stratified_hash_sample(df: DataFrame, key_col: str, strata_col: str, rates: dict) -> DataFrame:
    """Per-stratum deterministic rates (the data-mixing primitive:
    'keep 80% of src0, 10% of src1, ...'). Strata with no configured
    rate are dropped. The rate table is a broadcast join — no shuffle of
    the data side; the filter stays a pure function of (key, stratum)."""
    spark = df.sparkSession
    rate_df = local_frame(
        spark,
        [(k, int(v * DOMAIN)) for k, v in sorted(rates.items())],
        f"{strata_col} string, __threshold int",
    )
    return (
        df.join(F.broadcast(rate_df), strata_col)
        .filter(F.pmod(mix_key(F.col(key_col)), F.lit(DOMAIN)) < F.col("__threshold"))
        .drop("__threshold")
    )


def temperature_sample(
    df: DataFrame, key_col: str, strata_col: str, k: float = 4.0, salt: int = 0
) -> DataFrame:
    """Inverse-sqrt source balancing (the unnormalized form of
    temperature-based data mixing): each stratum keeps rate
    min(1, k / sqrt(n_stratum)), so a 100x-larger source is sampled
    only 10x as much — flattening the head without starving the tail.
    Small strata (n <= k^2) pass through whole.

    The rates derive from the per-stratum counts INSIDE the plan (one
    partial+final count agg, O(strata) result broadcast back onto the
    rows, null-safely: a NULL stratum is its own stratum) — no driver
    action. Every arithmetic step (sqrt, divide,
    multiply, floor) is IEEE-exactly-rounded, so the kept set is a pure
    engine-portable function of (key, stratum counts), reproducible
    verbatim in the SQL oracle; row membership itself comes from the
    same `mix_key` mixer as hash_sample.

    ``salt`` re-mixes the already-mixed key (mix(mix(key) ^ salt)):
    pipelines that used the mixer on the same key upstream (e.g.
    split_by_group) pass a nonzero salt so the two decisions
    decorrelate. The second round matters: a plain XOR before ONE mix
    round only SHIFTS the bucket (h = k*C is linear in k, and the
    xorshift doesn't hide it — measured: the salt=1 sample had ZERO
    overlap with salt=0 instead of the ~rate^2 an independent thinning
    gives); two rounds restore avalanche while staying verbatim
    SQL-reproducible."""
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    thresh = counts.select(
        F.col(strata_col).alias("__stratum"),
        F.floor(
            F.least(F.lit(1.0), F.lit(float(k)) / F.sqrt(F.col("__n")))
            * F.lit(DOMAIN)
        ).alias("__threshold"),
    )
    key = (
        mix_key(F.col(key_col)).bitwiseXOR(F.lit(salt)) if salt else F.col(key_col)
    )
    # null-safe join-back: a NULL stratum is sampled as its own stratum
    # at its own rate rather than silently dropped
    return (
        df.join(F.broadcast(thresh), F.col(strata_col).eqNullSafe(F.col("__stratum")))
        .filter(F.pmod(mix_key(key), F.lit(DOMAIN)) < F.col("__threshold"))
        .drop("__stratum", "__threshold")
    )


def weighted_sample(
    df: DataFrame, key_col: str, prob_col, salt: int = 0
) -> DataFrame:
    """Per-ROW deterministic keep with probability clamp(p, 0, 1) — the
    soft quality filter ("keep documents with probability proportional
    to their quality score") that hard thresholding can't express:
    borderline documents survive at their score's rate instead of dying
    at an arbitrary cut.

    keep(row) <=> pmod(mix(key'), DOMAIN) < floor(clamp(p,0,1) * DOMAIN)

    Same contract as hash_sample: membership is a pure function of
    (key, p) — stable across runs, partition layouts, and engines, and
    NESTED in p (raising a row's score can only add it to the sample).
    NULL or NaN probabilities drop the row (a missing score is not a
    license to keep). ``salt`` decorrelates from upstream uses of the
    mixer on the same key via the two-round remix (see
    temperature_sample). Zero shuffles: a projection+filter on the scan.

    ``prob_col`` may be a column name or any Column expression, so the
    score can be derived in-plan (no materialization pass).
    """
    p = F.col(prob_col) if isinstance(prob_col, str) else prob_col
    p = p.cast("double")
    # NaN must drop like NULL: Spark orders NaN ABOVE every double, so a
    # bare least(1.0, greatest(0.0, NaN)) would clamp NaN to 1.0 and
    # keep the row — the opposite of the contract
    p = F.when(F.isnan(p), F.lit(None).cast("double")).otherwise(p)
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), p))
    threshold = F.floor(p * F.lit(DOMAIN))
    key = (
        mix_key(mix_key(F.col(key_col)).bitwiseXOR(F.lit(salt)))
        if salt
        else mix_key(F.col(key_col))
    )
    return df.filter(F.pmod(key, F.lit(DOMAIN)) < threshold)


def token_budget_rates(
    df: DataFrame,
    strata_col: str,
    tokens_col,
    weights: dict[str, float],
    budget_tokens: int,
) -> DataFrame:
    """Mixture planning: given target mixture weights and a total token
    budget, the per-source deterministic sampling rate that hits the
    budget — the arithmetic step between "we want 30% code, 70% web"
    and an executable `stratified_hash_sample` rate table.

    rate_s = min(1, budget * w_s / tokens_s). A source too small for
    its allocation caps at 1.0 (keep everything) and reports its
    shortfall: redistribution policy is the caller's decision, surfaced
    — never silently absorbed. Sources absent from ``weights`` get
    weight 0 (rate 0, dropped by the sample step).

    One partial+final agg to O(sources); every derived number is pure
    IEEE arithmetic on the aggregated relation, so the whole plan is
    SQL-oracle-able. Returns per source: n_docs, sum_tokens, weight,
    target_tokens, rate, expected_tokens (= sum_tokens * rate),
    shortfall_tokens (target - expected when capped).
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    tok = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    counts = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tok.cast("long")).alias("sum_tokens"),
    )
    spark = df.sparkSession
    wdf = local_frame(
        spark,
        [(k, float(v)) for k, v in sorted(weights.items())],
        f"{strata_col} string, weight double",
    )
    j = counts.join(F.broadcast(wdf), strata_col, "left").withColumn(
        "weight", F.coalesce(F.col("weight"), F.lit(0.0))
    )
    target = F.col("weight") * F.lit(float(budget_tokens))
    rate = F.least(F.lit(1.0), target / F.col("sum_tokens"))
    expected = F.col("sum_tokens") * rate
    return j.select(
        strata_col,
        "n_docs",
        "sum_tokens",
        "weight",
        F.round(target, 4).alias("target_tokens"),
        F.round(rate, 6).alias("rate"),
        F.round(expected, 4).alias("expected_tokens"),
        F.round(F.greatest(target - expected, F.lit(0.0)), 4).alias(
            "shortfall_tokens"
        ),
    )


def split_leakage(
    df: DataFrame, group_col: str, split_col: str = "split"
) -> DataFrame:
    """Eval-hygiene screen: equivalence groups (dedup keys — exact
    fingerprints, near-dup cluster ids, conversation fingerprints) that
    STRADDLE split boundaries. A leakage-safe split keyed on the unit id
    still leaks when two units are copies of each other: the copies hash
    to different splits and the eval answer sits in train verbatim.
    split_by_group prevents within-group leakage BY KEY; this operator
    audits the residual BY CONTENT.

    One partial+final aggregation on (group): bounded collect_set of the
    O(splits) split labels, never the rows. Returns one row per leaking
    group: (group_col, n_units, n_splits, splits) with splits sorted
    for determinism.
    """
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.size(F.collect_set(split_col)).alias("n_splits"),
            F.array_join(
                F.array_sort(F.collect_set(split_col)), ","
            ).alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


def pareto_front(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """2-D Pareto front (skyline): keep rows NOT dominated on two
    maximize-criteria — the multi-objective generalization of
    select_canonical's single score, for curation choices like "longest
    AND highest-quality variant" where collapsing to one weighted score
    bakes in an arbitrary trade-off. A row is dominated iff some other
    row is >= on both axes and > on at least one.

    Plan shape: skyline arithmetic runs on the O(distinct x) BLOCK
    relation, never raw rows — one groupBy(group, x) takes max(y) per
    distinct x; a rows-frame running max over strictly-larger distinct
    x (exact for doubles — a row frame over DISTINCT values is a
    strict-inequality frame by construction, where a range frame's
    numeric offset would silently skip values spaced < 1 apart) marks
    the surviving (x, ymax) points; an equi-join brings back every
    input row sitting exactly on a surviving point (ties on both axes
    are mutually non-dominating and all survive). NULL x or y never
    enters (can't be compared).

    Returns the input columns of surviving rows.
    """
    from pyspark.sql import Window

    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    d = df.filter(x.isNotNull() & y.isNotNull()).withColumn(
        "__x", x
    ).withColumn("__y", y)
    gcols = [group_col] if group_col else []
    xs = d.groupBy(*gcols, F.col("__x")).agg(F.max("__y").alias("__ymax"))
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("__x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front = (
        xs.withColumn("__by", F.max("__ymax").over(w))
        .filter(F.col("__by").isNull() | (F.col("__ymax") > F.col("__by")))
        .select(*gcols, "__x", F.col("__ymax").alias("__y"))
    )
    on = gcols + ["__x", "__y"]
    return d.join(front, on, "left_semi").drop("__x", "__y")


def neyman_allocation(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Optimal (Neyman) sample allocation across strata for estimating
    the mean of ``value_col`` with a fixed labeling/eval budget: stratum
    h gets n_h = total * N_h*S_h / sum(N_h*S_h) — more samples where
    there are more rows AND more variance, the provably
    minimum-variance allocation for stratified estimation. Reported
    beside proportional allocation (n_h ~ N_h): the ratio between them
    is exactly how much a high-variance stratum is under-sampled by
    the naive scheme.

    One aggregation collects per-stratum (N_h, S_h); the allocation
    arithmetic closes on the O(strata) relation. Single-row strata
    have no sample stddev -> weight 0 (documented: they get
    allocation only via the proportional column; a stratum you've
    seen once cannot tell you its variance). ``capped`` flags strata
    where the optimum exceeds the population (take-all strata — the
    textbook next step reallocates their excess, which is an
    iterative driver-side loop the caller applies if needed). NULL
    values are excluded from the variance but not from N_h (the
    budget covers rows, not non-null values). Returns (part, n_rows,
    stddev, neyman_n, proportional_n, capped), floats rounded to 6.
    """
    from pyspark.sql import Window

    agg = df.groupBy(F.col(strata_col).alias("part")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.stddev_samp(F.col(value_col).cast("double")), F.lit(0.0)
        ).alias("stddev"),
    )
    w = Window.partitionBy()
    ns = F.col("n_rows") * F.col("stddev")
    alloc = agg.withColumn("__tot_ns", F.sum(ns).over(w)).withColumn(
        "__tot_n", F.sum("n_rows").over(w)
    )
    neyman = F.when(
        F.col("__tot_ns") > 0, total_n * ns / F.col("__tot_ns")
    ).otherwise(F.lit(0.0))
    prop = total_n * F.col("n_rows") / F.col("__tot_n")
    return alloc.select(
        "part",
        "n_rows",
        F.round("stddev", 6).alias("stddev"),
        F.round(neyman, 6).alias("neyman_n"),
        F.round(prop, 6).alias("proportional_n"),
        (neyman > F.col("n_rows")).alias("capped"),
    )


def weighted_panel(
    df: DataFrame,
    key_col: str,
    weight_col,
    k: int,
    group_col: str | None = None,
    salt: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006 A-Res, a public algorithm), deterministic: each row draws
    u = mixer(key) in (0, 1) and scores u^(1/w); the top-k scores ARE
    a weighted sample without replacement — the panel-selection
    primitive weighted_sample (per-row Bernoulli, random SIZE) can't
    express: "pick exactly 100 eval documents, quality-weighted,
    reproducibly".

    Determinism comes from the same two-round mixer contract as
    hash_sample (pure function of key and salt, identical on any
    engine with 64-bit ints and IEEE doubles). Rows with NULL or
    non-positive weight never qualify. Ties (impossible unless keys
    collide in the mixer domain) break by key. The rank window is per
    group (or global for one panel) over the candidate relation — at
    whale scale pre-filter with a cheap score threshold first, then
    rank the survivors. Returns the input rows of the selected panel
    plus (draw_score, rank).
    """
    from pyspark.sql import Window

    w = (
        weight_col
        if isinstance(weight_col, Column)
        else F.col(weight_col)
    ).cast("double")
    key = mix_key(F.col(key_col))
    if salt:
        key = mix_key(key.bitwiseXOR(F.lit(salt)))
    # u in (0,1): (bucket + 1) / (DOMAIN + 1) avoids exactly 0 and 1
    u = (F.pmod(key, F.lit(DOMAIN)) + 1.0) / (DOMAIN + 1.0)
    score = F.when(w > 0, F.pow(u, 1.0 / w))
    gcols = [group_col] if group_col else []
    # rank on the RAW score: scores crowd toward 1 for heavy weights
    # (u^(1/w) -> 1), so rounding first would manufacture ties and bias
    # selection toward small keys; the raw doubles are identical on any
    # IEEE engine computing the same formula. Round for display only.
    d = df.withColumn("__raw", score).filter(F.col("__raw").isNotNull())
    wnd = Window.partitionBy(*gcols).orderBy(
        F.desc("__raw"), F.col(key_col)
    )
    return (
        d.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .withColumn("draw_score", F.round("__raw", 6))
        .drop("__raw")
    )


def weight_diagnostics(
    df: DataFrame,
    weight_col,
    group: str | None = None,
) -> DataFrame:
    """Effective sample size and concentration of an importance /
    mixing weight column — the pre-flight for every weighted estimate
    in the suite (temperature sampling, source mixing, weighted
    panels): a slice with n = 10^6 rows but ESS = 40 is secretly a
    40-row estimate, and

        ess = (sum w)^2 / sum w^2        (Kish)
        max_share = max w / sum w

    say exactly how degenerate the weighting is. ONE aggregation;
    ``weight_col`` may be a name or a Column expression, so derived
    weights (temperature powers, inverse propensities) need no
    materialization. Returns (group?, n, ess, ess_ratio, max_share,
    degenerate) with degenerate = ess_ratio < 0.1; nonpositive and
    NULL weights are excluded (they are not draws), and an all-excluded
    group yields no row.
    """
    w = (
        F.col(weight_col) if isinstance(weight_col, str) else weight_col
    ).cast("double")
    gcols = [group] if group else []
    base = df.filter(w.isNotNull() & (w > 0)).select(
        *gcols, w.alias("__w")
    )
    agg = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__w").alias("__s"),
        F.sum(F.col("__w") * F.col("__w")).alias("__q"),
        F.max("__w").alias("__mx"),
    )
    ess = F.col("__s") * F.col("__s") / F.col("__q")
    ratio = ess / F.col("n").cast("double")
    return agg.select(
        *gcols,
        "n",
        F.round(ess, 6).alias("ess"),
        F.round(ratio, 6).alias("ess_ratio"),
        F.round(F.col("__mx") / F.col("__s"), 6).alias("max_share"),
        (ratio < 0.1).alias("degenerate"),
    )
