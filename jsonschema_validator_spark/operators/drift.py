"""Distribution-drift checks between partitions: KS statistic and PSI
over a shared bucket grid (SURVEY.md §2.4 KS/PSI rows), the all-pairs
KS/PSI matrix, Jensen-Shannon and the histogram distances, beside the
unbinned screens (Wasserstein-1, energy, CvM/AD, Mann-Whitney, the
one-sample KS contract).

Binned design: ``value_histogram`` builds every histogram in one
groupBy(partition, bucket).count() job. The histogram is
O(partitions x buckets) rows whatever the input size, so it is
collected to the driver and densified once (``_dense_histogram``), and
each statistic is a few numpy lines over that count matrix. The result
comes back as a local relation (``sources.tables.local_frame``), so the
binned entry points are EAGER: calling one runs the histogram job, plus
one min/max job first when a grid bound is missing.

The KS statistic here is the discrete ECDF sup-difference on the shared
grid — deterministic and oracle-checkable in ANSI SQL (the exact same
definition runs in DuckDB), unlike approxQuantile-based variants.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

from ..sources.tables import local_frame

# PSI floors each bucket share at EPS, so an empty bucket keeps log(p/q) finite
EPS = 1e-6


def bucketize(value: Column, lo: float, hi: float, buckets: int) -> Column:
    """Clamped equal-width bucket index in [0, buckets-1]; NULL for NULL."""
    width = (hi - lo) / buckets if hi > lo else 1.0
    raw = F.floor((value.cast("double") - F.lit(lo)) / F.lit(width))
    # greatest/least skip NULL arguments, so a NULL value must be kept
    # NULL explicitly or it would land in bucket 0
    clamped = F.least(F.lit(buckets - 1), F.greatest(F.lit(0), raw))
    return F.when(raw.isNotNull(), clamped).cast("int")


def value_bounds(
    df: DataFrame, items: list[tuple[Column, float | None, float | None]]
) -> list[tuple[float, float]]:
    """Resolve the (lo, hi) bucket-grid bounds of each (value, lo, hi):
    a missing bound is the value's min or max over df, taken for every
    item in ONE aggregate job (none runs when every bound is given). An
    all-NULL value gets the grid (0, 1)."""
    need = [k for k, (_, lo, hi) in enumerate(items) if lo is None or hi is None]
    row = None
    if need:
        row = df.agg(
            *[f(items[k][0].cast("double")) for k in need for f in (F.min, F.max)]
        ).first()
    out = []
    for k, (_, lo, hi) in enumerate(items):
        if k in need:
            i = need.index(k)
            lo = row[2 * i] if lo is None else lo
            hi = row[2 * i + 1] if hi is None else hi
            if lo is None or hi is None:  # all-null value
                lo, hi = 0.0, 1.0
        out.append((float(lo), float(hi)))
    return out


def value_histogram(
    df: DataFrame,
    value: Column | str,
    partition_col: str,
    buckets: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """(part, bucket, n) with the SAME bucket grid for every partition
    (shared bucketing is what makes KS/PSI comparable); NULL values are
    left out. A missing bound comes from ``value_bounds``."""
    value = F.col(value) if isinstance(value, str) else value
    ((lo, hi),) = value_bounds(df, [(value, lo, hi)])
    return (
        df.select(F.col(partition_col).alias("part"), bucketize(value, lo, hi, buckets).alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("part", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


class MissingBaselineError(ValueError):
    """A drift check names a baseline partition that holds no non-NULL
    value to compare against (absent from the input, or all-NULL)."""

    def __init__(self, partition):
        self.partition = partition
        super().__init__(
            f"drift baseline partition {partition!r} has no non-NULL value in the input"
        )


def _dense_histogram(hist_rows, buckets: int) -> tuple[list, np.ndarray]:
    """(parts, counts) of collected (part, bucket, n) rows: the distinct
    partitions ordered by their string form with NULL last, and the
    (parts x buckets) float matrix of their counts, 0 for an empty
    bucket."""
    parts = sorted({r[0] for r in hist_rows}, key=lambda p: (p is None, str(p)))
    idx = {p: i for i, p in enumerate(parts)}
    counts = np.zeros((len(parts), buckets))
    for p, b, n in hist_rows:
        counts[idx[p], int(b)] += n
    return parts, counts


def _ks_psi(p_counts: np.ndarray, q_counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """KS statistic and PSI of each row of ``p_counts`` against the
    matching row of ``q_counts`` (or against its one row). Each row is
    normalized by its total; PSI floors each share at EPS."""
    p = p_counts / np.maximum(p_counts.sum(-1, keepdims=True), 1.0)
    q = q_counts / np.maximum(q_counts.sum(-1, keepdims=True), 1.0)
    ps, qs = np.maximum(p, EPS), np.maximum(q, EPS)
    ks = np.abs(np.cumsum(p, -1) - np.cumsum(q, -1)).max(-1)
    return ks, ((ps - qs) * np.log(ps / qs)).sum(-1)


def _local(hist: DataFrame, rows: list, keys: list[str], ddl: str) -> DataFrame:
    """A local frame of ``rows``: one column per name in ``keys``, typed
    as the histogram's ``part`` column, then the ``ddl`` columns."""
    part = hist.schema["part"]
    fields = [StructField(k, part.dataType, part.nullable) for k in keys]
    return local_frame(hist.sparkSession, rows, StructType(fields + DataType.fromDDL(ddl).fields))


def ks_psi_local(hist_rows, buckets: int, baseline_partition: str | None = None) -> dict:
    """KS and PSI of every partition of a collected (part, bucket, n)
    histogram against a baseline: the GLOBAL distribution (all
    partitions pooled) when ``baseline_partition`` is None, else the
    named partition. Returns {part: (n_rows, n_base, ks_stat, psi)};
    n_base is the baseline sample size, which the sample-size-aware KS
    decision rule (``ks_critical_value``) needs. Raises
    MissingBaselineError when ``baseline_partition`` has no counted
    value."""
    parts, counts = _dense_histogram(hist_rows, buckets)
    if baseline_partition is not None and baseline_partition not in parts:
        raise MissingBaselineError(baseline_partition)
    q = counts.sum(0) if baseline_partition is None else counts[parts.index(baseline_partition)]
    ks, psi = _ks_psi(counts, q)
    n_base = int(q.sum())
    return {
        p: (int(n), n_base, float(k), float(s))
        for p, n, k, s in zip(parts, counts.sum(1), ks, psi)
    }


def ks_psi_from_histogram(
    hist: DataFrame, buckets: int, baseline_partition: str | None = None
) -> DataFrame:
    """``ks_psi_local`` over a (part, bucket, n) histogram frame, such
    as a ``value_histogram`` sink of streaming/validate.stream_partials
    summed over its batches. EAGER: collects the histogram. Returns
    (part, n_rows, n_base, ks_stat, psi); raises MissingBaselineError
    when ``baseline_partition`` has no counted value."""
    stats = ks_psi_local(hist.collect(), buckets, baseline_partition)
    return _local(
        hist,
        [(p, *s) for p, s in stats.items()],
        ["part"],
        "n_rows bigint, n_base bigint, ks_stat double, psi double",
    )


def ks_psi(
    df: DataFrame,
    value: Column | str,
    partition_col: str,
    buckets: int = 20,
    baseline_partition: str | None = None,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Per-partition drift vs a baseline distribution: ``value_histogram``
    then ``ks_psi_from_histogram``. EAGER. Returns (part, n_rows,
    n_base, ks_stat, psi)."""
    hist = value_histogram(df, value, partition_col, buckets, lo, hi)
    return ks_psi_from_histogram(hist, buckets, baseline_partition)


def drift_matrix(
    df: DataFrame,
    value: Column | str,
    partition_col: str,
    buckets: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """ALL-PAIRS drift matrix: KS + PSI for every unordered partition
    pair (part_a < part_b; a NULL partition is in no pair), not just
    partition-vs-baseline — the check that finds a day whose
    distribution quietly diverged from every OTHER day, which
    baseline-pooled comparison dilutes.

    The input is scanned ONCE (``value_histogram``); the pairs are
    computed in numpy over the collected (partitions x buckets) matrix,
    so the quadratic factor is P^2*B floats, independent of input size.
    EAGER. Returns (part_a, part_b, n_a, n_b, ks_stat, psi); PSI is
    directional a->b (p=part_a, q=part_b), so each pair equals
    ``ks_psi`` of part_a against baseline part_b."""
    hist = value_histogram(df, value, partition_col, buckets, lo, hi)
    parts, counts = _dense_histogram(hist.collect(), buckets)
    pairs = [
        (i, j)
        for i, a in enumerate(parts)
        for j, b in enumerate(parts)
        if a is not None and b is not None and a < b
    ]
    ia, ib = [i for i, _ in pairs], [j for _, j in pairs]
    ks, psi = _ks_psi(counts[ia], counts[ib])
    n = counts.sum(1)
    rows = [
        (parts[i], parts[j], int(n[i]), int(n[j]), float(k), float(s))
        for i, j, k, s in zip(ia, ib, ks, psi)
    ]
    return _local(
        hist, rows, ["part_a", "part_b"], "n_a bigint, n_b bigint, ks_stat double, psi double"
    )


def ks_critical_value(n: int, m: int, alpha: float = 0.01) -> float:
    """Two-sample KS asymptotic critical value c(alpha)*sqrt((n+m)/(n*m))
    (implemented directly — no scipy; SURVEY.md §7 M4)."""
    c = math.sqrt(-0.5 * math.log(alpha / 2.0))
    return c * math.sqrt((n + m) / (n * m))


def embedding_centroid_drift(
    df: DataFrame, part_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Embedding-SPACE drift: cosine distance between every pair of
    per-partition centroid vectors — the ML-ops complement to the
    value-level KS/PSI above (an upstream encoder change or a topic
    shift moves the centroid even when scalar column stats look flat).

    Returns (part_a, part_b, n_a, n_b, cos_dist) for each unordered
    partition pair, part_a < part_b; cos_dist = 1 - cosine similarity
    of the mean vectors.

    Scale shape: ONE scan with posexplode of the vector (rows x dim
    slim (part, idx, val) triples, map-side partially averaged), one
    exchange keyed (part, idx) whose post-agg cardinality is
    O(partitions x dim); the centroid re-assembly and the P^2 pairwise
    cosine run entirely on that aggregated relation (365 days x 64
    dims = 23k rows regardless of input size). No driver math, no
    Python — the dot products are zip_with/aggregate Column algebra.
    """
    exploded = df.select(
        F.col(part_col).alias("part"),
        F.posexplode(F.col(vec_col)).alias("idx", "val"),
    )
    comps = exploded.groupBy("part", "idx").agg(
        F.avg("val").alias("m"), F.count(F.lit(1)).alias("n")
    )
    cent = comps.groupBy("part").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("idx", "m"))), lambda s: s["m"]
        ).alias("centroid"),
        F.max("n").alias("n"),
    )
    a, b = cent.alias("a"), cent.alias("b")
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    ca, cb = F.col("a.centroid"), F.col("b.centroid")
    return (
        a.join(b, F.col("a.part") < F.col("b.part"))
        .select(
            F.col("a.part").alias("part_a"),
            F.col("b.part").alias("part_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            (
                F.lit(1.0)
                - dot(ca, cb) / (F.sqrt(dot(ca, ca)) * F.sqrt(dot(cb, cb)))
            ).alias("cos_dist"),
        )
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    z_crit: float = 2.576,
) -> DataFrame:
    """Mann-Whitney U rank-sum drift test between two named groups —
    the nonparametric location-shift screen complementing KS (shape) and
    PSI (mass): sensitive to a median shift even when KS's sup-gap is
    diluted across the support.

    Rank arithmetic runs entirely on the per-distinct-value reduced
    relation: one groupBy(value) counts rows (and group-A rows) per
    value, a cumulative window over distinct values yields each value's
    average (midrank) tie rank, and the rank-sum / tie-correction terms
    are exact sums over that tiny relation. The single-partition window
    orders DISTINCT values only — for continuous columns at extreme
    cardinality, pre-bucket with ``value_histogram`` and the same
    midrank arithmetic stays exact on the bucketed relation. NULL values
    are excluded. Normal approximation with tie-corrected variance:
    sigma^2 = n1*n2/12 * ((N+1) - sum(t^3-t)/(N*(N-1))). Returns one
    row: n1, n2, u, mu, sigma, z, flag (|z| > z_crit).
    """
    v = F.col(value_col).cast("double")
    d = df.filter(
        v.isNotNull() & F.col(group_col).isin(group_a, group_b)
    ).select(v.alias("__v"), (F.col(group_col) == group_a).alias("__isa"))
    vc = d.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__t"),
        F.sum(F.col("__isa").cast("long")).alias("__ta"),
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    vc = vc.withColumn(
        "__rank", F.sum("__t").over(w) - F.col("__t") + (F.col("__t") + 1) / 2
    )
    agg = vc.agg(
        F.sum("__ta").alias("n1"),
        (F.sum("__t") - F.sum("__ta")).alias("n2"),
        F.sum(F.col("__rank") * F.col("__ta")).alias("__r1"),
        F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")).alias("__ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    u = F.col("__r1") - n1 * (n1 + 1) / 2
    mu = n1 * n2 / 2
    sigma = F.sqrt(
        n1 * n2 / 12 * ((nn + 1) - F.col("__ties") / (nn * (nn - 1)))
    )
    z = (u - mu) / sigma
    # Cliff's delta = 2U/(n1*n2) - 1: the EFFECT SIZE the z-score
    # isn't — at 10^9 rows a 0.1% median shift is wildly significant
    # but delta ~ 0 says it's operationally nothing. |d| ~ 0.147 is
    # the conventional "negligible" line (Romano et al. 2006).
    delta = 2.0 * u / (n1 * n2) - 1.0
    return agg.select(
        "n1",
        "n2",
        F.round(u, 6).alias("u"),
        F.round(mu, 6).alias("mu"),
        F.round(sigma, 6).alias("sigma"),
        F.round(z, 6).alias("z"),
        F.round(delta, 6).alias("cliffs_delta"),
        (F.abs(z) > z_crit).alias("flag"),
    )


def jensen_shannon(
    df: DataFrame,
    value_col: str,
    part_col: str,
    lo: float,
    hi: float,
    buckets: int = 20,
    threshold: float = 0.1,
) -> DataFrame:
    """Leave-one-out Jensen-Shannon divergence per partition: each
    partition's bucketed value distribution vs the distribution of ALL
    OTHER partitions pooled — "which slice diverges from the corpus",
    symmetric and bounded in [0, 1] bit (unlike PSI, which explodes on
    empty buckets, and KS, which only sees the worst single gap).

    One ``value_histogram`` job; the divergence is numpy over the dense
    (part x bucket) matrix, so zero-count buckets contribute their
    q*log2(q/m) mass; 0*log(0/x) terms are 0 by convention. EAGER.
    Returns per part: n, jsd_bits (rounded to 6), flag. A lone
    partition has no rest to compare with: its jsd_bits and flag are
    NULL."""
    hist = value_histogram(df, value_col, part_col, buckets, lo, hi)
    parts, c = _dense_histogram(hist.collect(), buckets)
    n_p = c.sum(1, keepdims=True)
    rest = c.sum() - n_p
    with np.errstate(divide="ignore", invalid="ignore"):
        p = c / n_p
        q = (c.sum(0) - c) / rest
        m = (p + q) / 2
        lg2 = np.log(2.0)
        jsd = sum(np.where(x > 0, x * np.log(x / m) / lg2 / 2, 0.0) for x in (p, q)).sum(1)
    rows = [
        (part, int(n), float(j) if r > 0 else None)
        for part, n, r, j in zip(parts, n_p[:, 0], rest[:, 0], jsd)
    ]
    return (
        _local(hist, rows, [part_col], "n bigint, jsd double")
        .select(part_col, "n", F.round("jsd", 6).alias("jsd_bits"))
        .withColumn("flag", F.col("jsd_bits") > threshold)
    )


def wasserstein_1(
    df: DataFrame,
    value: Column | str,
    partition_col: str,
    baseline_partition: str | None = None,
) -> DataFrame:
    """EXACT empirical Wasserstein-1 (earth-mover) distance per
    partition vs a baseline distribution — the magnitude-aware
    complement to ``ks_psi``: KS reports the worst single CDF gap and
    PSI needs a bucket grid, while W1 = integral |F_p - F_q| dx weights
    every gap by how far the mass must MOVE, so a uniform small shift
    and one extreme outlier score very differently. No binning: exact
    over the observed values.

    baseline_partition=None pools all partitions (each part vs global,
    the ks_psi convention); else vs the named partition. NULL values
    and NULL partition keys are excluded (documented, matching
    value_histogram). Shape: one (part, value) count shuffle over the
    raw table; the pooled distinct-value grid is parts x distinct
    values — data-bounded but DISTRIBUTED end-to-end (grid build is a
    broadcast cross of the tiny parts relation against the distinct
    values; the CDF cumsum windows partition by part). Returns
    (part, n_rows, n_base, w1) with w1 rounded to 6.
    """
    vcol = F.col(value) if isinstance(value, str) else value
    c = (
        df.filter(vcol.isNotNull() & F.col(partition_col).isNotNull())
        .groupBy(
            F.col(partition_col).alias("part"),
            vcol.cast("double").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if baseline_partition is None:
        base = c.groupBy("v").agg(F.sum("n").alias("m"))
    else:
        base = (
            c.filter(F.col("part") == baseline_partition)
            .groupBy("v")
            .agg(F.sum("n").alias("m"))
        )
    pooled = c.select("v").union(base.select("v")).distinct()
    parts = c.select("part").distinct()
    grid = pooled.crossJoin(F.broadcast(parts))
    j = (
        grid.join(c, ["part", "v"], "left")
        .join(base, "v", "left")
        .select("part", "v", F.coalesce("n", F.lit(0)).alias("n"),
                F.coalesce("m", F.lit(0)).alias("m"))
    )
    w_part = Window.partitionBy("part")
    w_cum = Window.partitionBy("part").orderBy("v")
    cum_p = F.sum("n").over(w_cum) / F.sum("n").over(w_part)
    cum_q = F.sum("m").over(w_cum) / F.sum("m").over(w_part)
    gap = F.lead("v").over(w_cum) - F.col("v")
    term = F.abs(cum_p - cum_q) * gap
    return (
        j.select(
            "part",
            F.col("n"),
            F.col("m"),
            F.coalesce(term, F.lit(0.0)).alias("t"),
        )
        .groupBy("part")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.sum("m").cast("long").alias("n_base"),
            F.round(F.sum("t"), 6).alias("w1"),
        )
    )


def ks_p_asymptotic(
    d: Column, n_a: Column, n_b: Column, terms: int = 5
) -> Column:
    """Two-sample KS asymptotic p-value (Smirnov 1948): with effective
    sample size ne = n_a*n_b/(n_a+n_b) and lambda^2 = ne*D^2,
    p = 2 * sum_{k=1..terms} (-1)^(k-1) exp(-2 k^2 lambda^2), clamped
    to [0, 1] (the alternating series overshoots 1 at D -> 0; each
    added term is exponentially smaller, 5 terms is < 1e-9 off for
    lambda >= 0.5). Asymptotic in ne — a SCREENING p for the FDR
    layer, not an exact small-sample test. Pure exp/arithmetic, so an
    external SQL engine replays it bit-for-bit."""
    ne = n_a.cast("double") * n_b.cast("double") / (
        n_a.cast("double") + n_b.cast("double")
    )
    lam2 = ne * d * d
    s = None
    for k in range(1, terms + 1):
        term = F.exp(-2.0 * k * k * lam2) * (1.0 if k % 2 == 1 else -1.0)
        s = term if s is None else s + term
    return F.least(F.greatest(2.0 * s, F.lit(0.0)), F.lit(1.0))


def ks_uniform_contract(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    alpha: float = 0.01,
) -> DataFrame:
    """One-sample KS test of a DECLARED distribution contract: does
    each group's value column actually follow Uniform(lo, hi)? The
    distributional extension of minimum/maximum — a schema can pin the
    RANGE, this pins the SHAPE, catching the upstream change that
    keeps every value in-range but shifts the mass (an RNG swapped for
    a clamped gaussian passes every bounds check and fails here).
    The two-sample machinery (ks_psi) can't answer it without a
    reference SAMPLE; the contract needs none.

    Exact sup-distance on the per-group distinct-value block relation,
    checking BOTH sides of each ECDF jump (the sup at an atom can sit
    below the step): D = max_v max(|cum/n - F0(v)|,
    |(cum - c)/n - F0(v)|), F0 the Uniform CDF clamped outside
    [lo, hi] (out-of-support values are maximal evidence, not errors).
    Asymptotic one-sample critical value sqrt(-ln(alpha/2)/2)/sqrt(n).
    NULL values excluded. Returns (part, n, d_stat, d_crit,
    contract_ok), floats rounded to 6.
    """
    import math

    v = F.col(value_col).cast("double")
    d = df.filter(v.isNotNull()).select(
        F.col(group_col).alias("part"), v.alias("__v")
    )
    blocks = d.groupBy("part", "__v").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy("part").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    blocks = blocks.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(Window.partitionBy("part"))
    )
    f0 = F.least(
        F.greatest((F.col("__v") - lo) / (hi - lo), F.lit(0.0)), F.lit(1.0)
    )
    nn = F.col("__n").cast("double")
    gap = F.greatest(
        F.abs(F.col("__cum") / nn - f0),
        F.abs((F.col("__cum") - F.col("__c")) / nn - f0),
    )
    c_alpha = math.sqrt(-math.log(alpha / 2.0) / 2.0)
    agg = blocks.groupBy("part").agg(
        F.first("__n").alias("n"), F.max(gap).alias("__d")
    )
    crit = c_alpha / F.sqrt(F.col("n").cast("double"))
    return agg.select(
        "part",
        "n",
        F.round("__d", 6).alias("d_stat"),
        F.round(crit, 6).alias("d_crit"),
        (F.col("__d") <= crit).alias("contract_ok"),
    )


def energy_distance(
    df: DataFrame,
    value: Column | str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact two-sample energy distance D^2 = 2 E|X-Y| - E|X-X'| -
    E|Y-Y'| — the third lens beside ks_psi (worst CDF gap) and
    wasserstein_1 (mass-transport cost): energy distance is zero IFF
    the distributions are equal, weights the whole distribution
    (not the worst point), needs no bucket grid, and its normalized
    form e = D^2 / (2 E|X-Y|) lives in [0, 1] for scale-free
    reporting across columns.

    All three expected pairwise distances come from ONE sorted pass
    over the distinct-value block relation: with per-value counts
    (a_v, b_v) and EXCLUSIVE prefix counts/sums (C, S) in value order,
    sum_{i<j} (x_j - x_i) = sum_v a_v (v C^A_v - S^A_v) and the cross
    sum adds the symmetric B-against-A term — no pair is ever
    materialized, O(distinct values) window state. NULL values and
    rows outside the two groups are excluded. Returns one row:
    (n_a, n_b, e_xy, e_xx, e_yy, energy_dist2, energy_coef), floats
    rounded to 6; degenerate empty sides yield NULLs.
    """
    vcol = F.col(value) if isinstance(value, str) else value
    blocks = (
        df.filter(vcol.isNotNull() & F.col(group_col).isin(group_a, group_b))
        .groupBy(vcol.cast("double").alias("v"))
        .agg(
            F.sum((F.col(group_col) == group_a).cast("long")).alias("a"),
            F.sum((F.col(group_col) == group_b).cast("long")).alias("b"),
        )
    )
    w = Window.partitionBy(F.lit(1)).orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pre = blocks.select(
        "v",
        "a",
        "b",
        F.coalesce(F.sum("a").over(w), F.lit(0)).alias("ca"),
        F.coalesce(F.sum(F.col("a") * F.col("v")).over(w), F.lit(0.0)).alias(
            "sa"
        ),
        F.coalesce(F.sum("b").over(w), F.lit(0)).alias("cb"),
        F.coalesce(F.sum(F.col("b") * F.col("v")).over(w), F.lit(0.0)).alias(
            "sb"
        ),
    )
    agg = pre.agg(
        F.sum("a").alias("n_a"),
        F.sum("b").alias("n_b"),
        F.sum(F.col("a") * (F.col("v") * F.col("ca") - F.col("sa"))).alias(
            "__paa"
        ),
        F.sum(F.col("b") * (F.col("v") * F.col("cb") - F.col("sb"))).alias(
            "__pbb"
        ),
        F.sum(
            F.col("a") * (F.col("v") * F.col("cb") - F.col("sb"))
            + F.col("b") * (F.col("v") * F.col("ca") - F.col("sa"))
        ).alias("__pab"),
    )
    n = F.col("n_a").cast("double")
    m = F.col("n_b").cast("double")
    e_xy = F.col("__pab") / (n * m)
    e_xx = 2.0 * F.col("__paa") / (n * n)
    e_yy = 2.0 * F.col("__pbb") / (m * m)
    d2 = 2.0 * e_xy - e_xx - e_yy
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, F.round(e_xy, 6)).alias("e_xy"),
        F.when(ok, F.round(e_xx, 6)).alias("e_xx"),
        F.when(ok, F.round(e_yy, 6)).alias("e_yy"),
        F.when(ok, F.round(d2, 6) + 0.0).alias("energy_dist2"),
        F.when(ok & (e_xy > 0), F.round(d2 / (2.0 * e_xy), 6) + 0.0).alias(
            "energy_coef"
        ),
    )


def cvm_ad_two_sample(
    df: DataFrame,
    value: Column | str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """The two classic quadratic-EDF two-sample statistics in one
    sorted pass — Cramér-von Mises and Anderson-Darling — closing the
    distribution-drift family beside ks_psi (sup gap), wasserstein_1
    (transport cost) and energy_distance (pairwise expectation): CvM
    integrates the SQUARED ECDF gap over the pooled sample (equal
    weight everywhere), AD re-weights that gap by 1/(F(1-F)) so the
    TAILS count — the drift that KS misses when distributions differ
    only in the extremes.

    Tie-safe pooled-ECDF forms over distinct-value blocks j with
    counts (a_j, b_j), h_j = a_j + b_j, INCLUSIVE cumulative counts
    (A_j, B_j, H_j), N = n + m:

        CvM  T  = (n m / N^2) * sum_j h_j (A_j/n - B_j/m)^2
        with exact null moments (Anderson 1962)
             E[T]   = (1 + 1/N) / 6
             Var[T] = (N+1)/(45 N^2) * (4 n m N - 3(n^2+m^2) - 2 n m)
                      / (4 n m)
        and z = (T - E) / sd.

        AD   A2 = (1/N) * sum_{j: H_j < N}
                  h_j * (N*A_j - n*H_j)^2 / (H_j * (N - H_j)) / n
                + the symmetric B term  (Scholz-Stephens A2_kN, k=2;
                  null mean k-1 = 1)

    Everything reduces to ONE groupBy to O(distinct values) blocks and
    one ordered window over that block relation — no rank over raw
    rows, no pair materialization, so the plan is unchanged at 10^10
    rows per side. Returns one row: (n_a, n_b, cvm_t, cvm_mean,
    cvm_sd, cvm_z, ad_a2), floats rounded to 6; empty sides yield
    NULL statistics.
    """
    vcol = F.col(value) if isinstance(value, str) else value
    blocks = (
        df.filter(vcol.isNotNull() & F.col(group_col).isin(group_a, group_b))
        .groupBy(vcol.cast("double").alias("v"))
        .agg(
            F.sum((F.col(group_col) == group_a).cast("long")).alias("a"),
            F.sum((F.col(group_col) == group_b).cast("long")).alias("b"),
        )
    )
    w = Window.partitionBy(F.lit(1)).orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = blocks.select(
        "a",
        "b",
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
    )
    # totals ride along on every block row via the last cumulative value
    tot = cum.agg(F.max("ca").alias("n_a"), F.max("cb").alias("n_b"))
    j = cum.crossJoin(F.broadcast(tot))
    n = F.col("n_a").cast("double")
    m = F.col("n_b").cast("double")
    nn = n + m
    h = (F.col("a") + F.col("b")).cast("double")
    hj = (F.col("ca") + F.col("cb")).cast("double")
    gap = F.col("ca") / n - F.col("cb") / m
    cvm_term = h * gap * gap
    ad_num_a = F.pow(nn * F.col("ca") - n * hj, 2)
    ad_num_b = F.pow(nn * F.col("cb") - m * hj, 2)
    ad_term = F.when(
        hj < nn,
        h * (ad_num_a / n + ad_num_b / m) / (hj * (nn - hj)),
    ).otherwise(F.lit(0.0))
    agg = j.groupBy("n_a", "n_b").agg(
        F.sum(cvm_term).alias("__cvm"),
        F.sum(ad_term).alias("__ad"),
    )
    t = (n * m / (nn * nn)) * F.col("__cvm")
    e_t = (1.0 + 1.0 / nn) / 6.0
    var_t = (
        (nn + 1.0)
        / (45.0 * nn * nn)
        * (4.0 * n * m * nn - 3.0 * (n * n + m * m) - 2.0 * n * m)
        / (4.0 * n * m)
    )
    a2 = F.col("__ad") / nn
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, F.round(t, 6)).alias("cvm_t"),
        F.when(ok, F.round(e_t, 6)).alias("cvm_mean"),
        F.when(ok, F.round(F.sqrt(var_t), 6)).alias("cvm_sd"),
        F.when(ok, F.round((t - e_t) / F.sqrt(var_t), 6) + 0.0).alias(
            "cvm_z"
        ),
        F.when(ok, F.round(a2, 6)).alias("ad_a2"),
    )


def histogram_distances(
    df: DataFrame,
    value: Column | str,
    group_col: str,
    group_a: str,
    group_b: str,
    n_bins: int = 20,
) -> DataFrame:
    """Binned-density distance battery — Hellinger, total variation,
    and the Bhattacharyya coefficient — between two groups' value
    distributions on a shared equal-width grid: the bounded,
    symmetric, [0,1]-normalized summary the drift DASHBOARD wants
    next to the hypothesis tests (KS/CvM/AD say "is it drift", these
    say "how far apart, on a fixed scale"):

        BC  = sum_k sqrt(p_k q_k)          (1 = identical)
        H   = sqrt(1 - BC)                 (0 = identical)
        TVD = 0.5 * sum_k |p_k - q_k|      (0 = identical)

    The shared grid spans the two groups' POOLED min/max (one
    ``value_bounds`` job), so both sides are binned identically; one
    ``value_histogram`` job by group, then numpy over the two count
    rows. EAGER. Returns one row: (n_a, n_b, n_bins, hellinger, tvd,
    bhattacharyya), floats rounded to 6. With one side empty the three
    distances are NULL; with both empty n_a and n_b are NULL too."""
    vcol = F.col(value) if isinstance(value, str) else value
    pair = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        vcol.cast("double").alias("v"), (F.col(group_col) == group_a).alias("is_a")
    )
    hist = value_histogram(pair, "v", "is_a", n_bins)
    parts, c = _dense_histogram(hist.collect(), n_bins)
    a, b = (c[parts.index(s)] if s in parts else np.zeros(n_bins) for s in (True, False))
    n, m = a.sum(), b.sum()
    sizes = (int(n), int(m)) if parts else (None, None)
    dist = (None, None, None)
    if n > 0 and m > 0:
        bc = float(np.sqrt(a * b).sum() / np.sqrt(n * m))
        dist = (math.sqrt(1.0 - min(bc, 1.0)), float(0.5 * np.abs(a / n - b / m).sum()), bc)
    return _local(
        hist,
        [(*sizes, n_bins, *dist)],
        [],
        "n_a bigint, n_b bigint, n_bins int not null, h double, tv double, bc double",
    ).select(
        "n_a",
        "n_b",
        "n_bins",
        *[F.round(x, 6).alias(y) for x, y in (("h", "hellinger"), ("tv", "tvd"), ("bc", "bhattacharyya"))],
    )


def quantile_shift(
    df: DataFrame,
    value_col: str,
    sample_col: str,
    a,
    b,
    probs: tuple = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Quantile shift function Delta(q) = Q_b(q) - Q_a(q) at the given
    probabilities — the WHERE answer to the drift screens' WHETHER: a
    KS rejection says the distributions differ, the shift function
    says "the median moved 2 points but the p90 moved 40" — tail
    inflation, median drift and floor effects all read directly off
    it. Exact interpolated percentiles (one sort-based aggregation per
    sample over the filtered scan), then an explode of the O(probs)
    result — raw rows are never joined. Returns one row per
    probability: (q, q_a, q_b, shift, rel_shift); an empty side yields
    NULLs, a zero baseline quantile yields NULL rel_shift.
    """
    v = F.col(value_col).cast("double")
    sel = df.filter(v.isNotNull() & F.col(sample_col).isin([a, b])).select(
        F.col(sample_col).cast("string").alias("__s"), v.alias("__v")
    )
    parr = F.array(*[F.lit(float(p)) for p in probs])
    per = sel.groupBy("__s").agg(
        F.percentile("__v", parr).alias("__qs")
    )
    sa, sb = str(a), str(b)
    ex = per.select(
        "__s", F.posexplode("__qs").alias("__i", "__q")
    )
    piv = ex.groupBy("__i").agg(
        F.sum(F.when(F.col("__s") == sa, F.col("__q"))).alias("q_a"),
        F.sum(F.when(F.col("__s") == sb, F.col("__q"))).alias("q_b"),
    )
    qlit = F.array(*[F.lit(float(p)) for p in probs])
    shift = F.col("q_b") - F.col("q_a")
    return (
        piv.select(
            F.element_at(qlit, F.col("__i") + 1).alias("q"),
            F.round("q_a", 6).alias("q_a"),
            F.round("q_b", 6).alias("q_b"),
            F.round(shift, 6).alias("shift"),
            F.when(
                F.abs(F.col("q_a")) > 1e-12,
                F.round(shift / F.abs(F.col("q_a")), 6) + 0.0,
            ).alias("rel_shift"),
        )
        .orderBy("q")
    )
