"""Time-series anomaly screens over per-partition aggregates: robust
volume anomalies (median/MAD) and day-over-day distinct-cardinality
drift (SURVEY.md §2.4 volume/freshness row, extended: the reference's
corpus defines per-document verdicts; a production table additionally
needs "did today LOOK like yesterday" screens over partition-level
aggregates).

Scale shape shared by both operators: exactly ONE distributed pass over
the input (a groupBy(partition) aggregate with map-side combine); the
resulting series is O(partitions) rows — bounded and tiny at any input
size (365 rows for a year of days at 10^12 turns) — so it is pinned at
the driver and the order-sensitive math (median, MAD, lag) is computed
in exact plain arithmetic there, the same bounded-merge pattern as
the binned drift statistics (drift._dense_histogram) and the fused
pass A/B merges in
plans/check_suite.py. This deliberately avoids the
single-partition global window a lazy lag()-over-days plan would need
(Window.orderBy without partitionBy funnels every row through one
task — harmless at O(P) rows but a smell worth not normalizing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sources.tables import local_frame


def _median(xs: list[float]) -> float:
    """Interpolating median — matches DuckDB/ANSI MEDIAN on numerics."""
    s = sorted(xs)
    n = len(s)
    mid = n // 2
    return float(s[mid]) if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def _part_sorted(rows):
    """Natural order of the partition key (None first): numeric keys
    sort numerically — str() would put hour 10 before hour 2 and hand
    every row the WRONG previous partition. Falls back to string order
    only for genuinely mixed-type keys."""
    try:
        return sorted(rows, key=lambda r: (r[0] is None, r[0]))
    except TypeError:
        return sorted(rows, key=lambda r: (r[0] is None, str(r[0])))


def volume_anomaly(
    df: DataFrame,
    partition_col: str,
    k: float = 3.0,
    value: Column | None = None,
) -> DataFrame:
    """Robust per-partition volume anomaly: flag partitions whose row
    count deviates from the median by more than ``k`` median-absolute-
    deviations. MAD is the standard robust scale estimator — unlike the
    mean/stddev z-score, one bad day cannot drag the threshold toward
    itself (breakdown point 50% vs 0%).

    ``value=None`` screens row counts; pass an aggregatable Column
    (e.g. ``F.sum("tokens")``) to screen any additive per-partition
    volume instead.

    Returns (part, n, med, mad, is_anomaly) sorted by part. ``mad == 0``
    (at least half the partitions share the exact count) degenerates to
    "any deviation from the median is an anomaly" — deterministic and
    the strictest reading, documented rather than hidden.
    """
    # a custom aggregate can be NULL for a partition (e.g. sum of an
    # all-NULL column) — that IS a zero-volume partition, not a crash
    agg = F.coalesce(
        (value if value is not None else F.count(F.lit(1))).cast("double"),
        F.lit(0.0),
    )
    counts_df = df.groupBy(F.col(partition_col).alias("part")).agg(
        agg.alias("n")
    )
    return volume_anomaly_from_counts(counts_df, k=k)


def volume_anomaly_from_counts(counts_df: DataFrame, k: float = 3.0) -> DataFrame:
    """The median/MAD screen over an ALREADY-aggregated (part, n)
    relation — the entry point when the counts were maintained
    elsewhere (the streaming ingest path: ``stream_partials`` appends
    per-batch additive counts, a batch read sums them per part, this
    screens the result). Same output contract as ``volume_anomaly``."""
    rows = counts_df.groupBy("part").agg(
        F.coalesce(F.sum(F.col("n").cast("double")), F.lit(0.0)).alias("n")
    ).collect()
    series = _part_sorted([(r["part"], float(r["n"])) for r in rows])
    counts = [n for _, n in series]
    med = _median(counts) if counts else 0.0
    mad = _median([abs(c - med) for c in counts]) if counts else 0.0
    out = [
        (part, n, med, mad, bool(abs(n - med) > k * mad)) for part, n in series
    ]
    schema = StructType(
        [
            counts_df.select("part").schema["part"],
            StructField("n", DoubleType(), False),
            StructField("med", DoubleType(), False),
            StructField("mad", DoubleType(), False),
            StructField("is_anomaly", BooleanType(), False),
        ]
    )
    return local_frame(counts_df.sparkSession, out, schema)


def cardinality_drift(
    df: DataFrame,
    key: Column | str,
    partition_col: str,
    threshold: float = 0.5,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Partition-over-partition distinct-cardinality screen: per
    partition, the distinct count of ``key``, the previous partition's
    count (partitions ordered by their natural sort), the relative
    change, and an ok flag (|rel_change| <= threshold; the first
    partition is vacuously ok; after a ZERO-distinct partition
    rel_change is undefined (NULL) and ok is true only if the next
    partition is also zero — a 0 -> nonzero recovery flags).

    The check that catches "the ingest started writing one synthetic
    user_id for every row" — volume stays flat, cardinality collapses.

    ``approx=True`` swaps exact ``count_distinct`` (two-stage shuffle
    keyed by (partition, key)) for ``approx_count_distinct`` — single
    pass, mergeable HLL registers, the 100 TB default; exact is the
    oracle-friendly small-scale setting.
    """
    key = F.col(key) if isinstance(key, str) else key
    d = (
        F.approx_count_distinct(key, rsd) if approx else F.count_distinct(key)
    ).alias("n_distinct")
    rows = _part_sorted(
        [
            (r["part"], int(r["n_distinct"]))
            for r in df.groupBy(F.col(partition_col).alias("part")).agg(d).collect()
        ]
    )
    out = []
    prev: int | None = None
    for part, n in rows:
        # raw IEEE division (identical in any engine recomputing it);
        # presentation rounding is the caller's, not the operator's
        rel = None if prev in (None, 0) else (n - prev) / prev
        if prev is None:
            ok = True  # first partition is vacuously ok
        elif prev == 0:
            # rel undefined after a dead partition, but a 0 -> nonzero
            # recovery is still a change worth flagging
            ok = n == 0
        else:
            ok = abs(rel) <= threshold
        out.append((part, n, prev, rel, ok))
        prev = n
    schema = StructType(
        [
            df.select(F.col(partition_col).alias("part")).schema["part"],
            StructField("n_distinct", LongType(), False),
            StructField("prev_distinct", LongType(), True),
            StructField("rel_change", DoubleType(), True),
            StructField("ok", BooleanType(), False),
        ]
    )
    return local_frame(df.sparkSession, out, schema)


def robust_outliers(
    df: DataFrame,
    value_col: str,
    k: float = 3.5,
    group_col: str | None = None,
) -> DataFrame:
    """Per-ROW robust outlier flags: modified z-score
    |x - median| / (1.4826 * MAD) > k (Iglewicz-Hoaglin), the row-level
    complement of the partition-level median/MAD volume screen above.
    Median/MAD have a 50% breakdown point, so a heavy-tailed column
    cannot drag its own threshold the way mean/stddev z-scores do.

    Two exact aggregation passes by construction (the MAD is a median
    OF deviations from the median — no single-pass decomposition
    exists): pass 1 computes per-group medians, pass 2 the deviation
    medians; both are O(groups) relations broadcast back onto the rows,
    so the row set itself is scanned twice and shuffled never. At
    100 TB swap the exact percentile for approx_percentile.

    Zero-MAD groups (>= 50% of values identical) flag only rows that
    DIFFER from the median (score = +inf conceptually); rows AT the
    median never flag. NULL values never flag. Rows with a NULL group
    key are screened as their own group (the join-back is null-safe):
    a screen that silently skipped NULL-keyed rows could hide exactly
    the corrupt slice it exists to catch. Returns the flagged rows with
    their rounded score.
    """
    g = [group_col] if group_col else []
    v = F.col(value_col).cast("double")

    def _join_back(rows: DataFrame, small: DataFrame) -> DataFrame:
        # broadcast join-back on the group key, null-safe so the NULL
        # group survives; the small side's key is renamed to avoid the
        # post-join ambiguity a USING-style name join would hide
        if not g:
            return rows.crossJoin(F.broadcast(small))
        small = small.withColumnRenamed(group_col, "__grp")
        return rows.join(
            F.broadcast(small), F.col(group_col).eqNullSafe(F.col("__grp"))
        ).drop("__grp")

    med = df.groupBy(*g).agg(F.percentile(v, F.lit(0.5)).alias("__med"))
    j1 = _join_back(df, med)
    mad = j1.groupBy(*g).agg(
        F.percentile(F.abs(v - F.col("__med")), F.lit(0.5)).alias("__mad")
    )
    j2 = _join_back(j1, mad)
    dev = F.abs(v - F.col("__med"))
    score = dev / (F.lit(1.4826) * F.col("__mad"))
    is_out = F.when(F.col("__mad") == 0, dev > 0).otherwise(score > k)
    return (
        j2.filter(v.isNotNull() & is_out)
        .withColumn(
            "robust_z",
            F.when(F.col("__mad") == 0, F.lit(None).cast("double")).otherwise(
                F.round(score, 4)
            ),
        )
        .drop("__med", "__mad")
    )


def benford_screen(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law (Newcomb
    1881 / Benford 1938 — the classic fabricated-numbers screen for
    naturally-scaled positive data): per group, the observed digit-1..9
    frequencies and the chi-square statistic against log10(1 + 1/d).

    Digit extraction is pure Column algebra — regexp pulls the first
    nonzero digit from the decimal rendering of |x| — and the whole
    screen is ONE groupBy(group, digit) count plus a 9-row-per-group
    pivot, so it costs a single shuffle at any scale. Zero/NULL values
    are excluded (they have no significant digit); the caller screens
    those with null-rate / volume checks.

    chi2 = n * sum_d (p_obs(d) - p_benford(d))^2 / p_benford(d); the
    reference threshold for 8 dof at alpha=0.05 is 15.507 (flag column
    provided, threshold overridable downstream by recomputing on chi2).
    """
    import math

    g = [group_col] if group_col else []
    digit = F.regexp_extract(
        F.format_number(F.abs(F.col(value_col)).cast("double"), 10), "[1-9]", 0
    )
    counted = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) != 0))
        .select(*g, digit.alias("d"))
        .filter(F.col("d") != "")
        .groupBy(*g, "d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_group = counted.groupBy(*g).agg(
        F.sum("c").alias("n"),
        *[
            F.sum(F.when(F.col("d") == str(k), F.col("c")).otherwise(0)).alias(f"c{k}")
            for k in range(1, 10)
        ],
    )
    chi2 = None
    for k in range(1, 10):
        p = math.log10((k + 1) / k)  # same IEEE form as the oracle's log10((k+1)/k)
        term = F.pow(F.col(f"c{k}") / F.col("n") - F.lit(p), 2) / F.lit(p)
        chi2 = term if chi2 is None else chi2 + term
    chi2 = F.col("n") * chi2
    return per_group.select(
        *g,
        "n",
        *[F.col(f"c{k}") for k in range(1, 10)],
        F.round(chi2, 4).alias("chi2"),
        (chi2 > 15.507).alias("flag"),
    )


def seasonal_volume(
    df: DataFrame,
    ts_col: str,
    ratio_thr: float = 1.5,
    value: Column | None = None,
) -> DataFrame:
    """Weekday-seasonal volume screen: each day's volume vs the
    leave-one-out mean of the OTHER same-weekday days — the screen
    volume_anomaly (global median/MAD) can't be: weekly traffic shape
    makes every Sunday a false alarm against a global baseline, and a
    pooled weekday mean lets a broken day mask itself by dragging its
    own baseline. Leave-one-out is exact arithmetic on the aggregated
    relation: loo = (sum_weekday - n_day) / (count_weekday - 1).

    ``value=None`` screens row counts; pass an aggregatable Column to
    screen any additive volume. Flags ratio outside
    [1/ratio_thr, ratio_thr]. Weekdays with a single observed day have
    no peer evidence: loo_mean/ratio NULL, never flagged. Days with no
    rows never appear (screen presence with density_check). Scale
    shape: one count shuffle to the O(days) relation; the weekday
    rollup is a broadcast join back. Returns (day, weekday, n,
    n_same_weekday, loo_mean, ratio, is_anomaly); weekday is 0=Sunday.
    """
    day = F.to_date(F.col(ts_col))
    agg = F.coalesce(
        (value if value is not None else F.count(F.lit(1))).cast("double"),
        F.lit(0.0),
    )
    daily = (
        df.groupBy(day.alias("__d"))
        .agg(agg.alias("n"))
        .select(
            F.date_format("__d", "yyyy-MM-dd").alias("day"),
            (F.dayofweek("__d") - 1).alias("weekday"),
            "n",
        )
    )
    wk = daily.groupBy("weekday").agg(
        F.sum("n").alias("__ws"), F.count(F.lit(1)).alias("n_same_weekday")
    )
    j = daily.join(F.broadcast(wk), "weekday")
    loo = F.when(
        F.col("n_same_weekday") > 1,
        (F.col("__ws") - F.col("n")) / (F.col("n_same_weekday") - 1),
    )
    ratio = F.when(loo > 0, F.col("n") / loo)
    return j.select(
        "day",
        "weekday",
        "n",
        "n_same_weekday",
        F.round(loo, 6).alias("loo_mean"),
        F.round(ratio, 6).alias("ratio"),
        F.coalesce(
            (ratio > ratio_thr) | (ratio < 1.0 / ratio_thr), F.lit(False)
        ).alias("is_anomaly"),
    )


def poisson_dispersion(
    df: DataFrame,
    group_col: str,
    count_col: str,
) -> DataFrame:
    """Poisson overdispersion screen on per-period count series — the
    count-data twin of the volume screens: arrival counts that are
    genuinely Poisson have variance = mean, so the dispersion index
    D = s^2 / xbar near 1 certifies the volume model, while D >> 1
    (overdispersion: bursts, bot traffic, batched backfills) or
    D << 1 (underdispersion: rate limiting, dedup upstream) says the
    Poisson assumption — and every alert threshold derived from it —
    is wrong.

    The test statistic is the classic chi-square dispersion
    chi2 = (n-1) s^2 / xbar ~ chi2(n-1) under H0, reported with the
    Wilson-Hilferty normal approximation z = sqrt(2 chi2) -
    sqrt(2 df - 1) (two-sided flag at |z| > 1.959964). One groupBy
    over the ALREADY-REDUCED period-count relation — O(groups x
    periods) input, O(groups) output. Returns one row per group:
    (group, n_periods, mean_count, var_count, dispersion, chi2, df,
    z, overdispersed, underdispersed), floats rounded to 6; groups
    with < 2 periods or zero mean yield NULL statistics.
    """
    agg = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n_periods"),
        F.avg(F.col(count_col).cast("double")).alias("__m"),
        F.var_samp(F.col(count_col).cast("double")).alias("__v"),
    )
    n = F.col("n_periods").cast("double")
    disp = F.col("__v") / F.col("__m")
    chi2 = (n - 1.0) * disp
    dfree = n - 1.0
    z = F.sqrt(2.0 * chi2) - F.sqrt(2.0 * dfree - 1.0)
    ok = (F.col("n_periods") >= 2) & (F.col("__m") > 0)
    return agg.select(
        "group",
        "n_periods",
        F.round(F.col("__m"), 6).alias("mean_count"),
        F.when(F.col("n_periods") >= 2, F.round(F.col("__v"), 6)).alias(
            "var_count"
        ),
        F.when(ok, F.round(disp, 6)).alias("dispersion"),
        F.when(ok, F.round(chi2, 6)).alias("chi2"),
        F.when(
            F.col("n_periods") >= 2, dfree.cast("long")
        ).alias("df"),
        F.when(ok, F.round(z, 6) + 0.0).alias("z"),
        F.when(ok, z > 1.959964).alias("overdispersed"),
        F.when(ok, z < -1.959964).alias("underdispersed"),
    )


def hill_tail(
    df: DataFrame,
    value_col: str,
    k: int = 50,
    group: str | None = None,
) -> DataFrame:
    """Hill tail-index estimator over the top-k order statistics — the
    heavy-tail pre-flight for every mean/stddev-based screen in this
    module: a value column with tail index alpha < 2 has INFINITE
    variance, so z-score volume alerts and winsorized means are
    structurally miscalibrated on it (the screen to run before
    trusting the screens). On the k largest positive values X_(1) >=
    ... >= X_(k) with threshold X_(k+1):

        gamma = (1/k) * sum ln(X_(i)) - ln(X_(k+1)),  alpha = 1/gamma

    Order statistics never sort raw rows: one (group, value) count
    reduces to the distinct-value relation, a cumulative window over
    it locates the threshold and the top-k log-mass with per-value
    multiplicities (exact — boundary ties contribute the identical
    value either way). Returns (group?, n_pos, k, x_k1, hill_gamma,
    tail_alpha, infinite_variance); groups with fewer than k+1
    positive values, or a degenerate top block (gamma = 0), yield
    NULLs.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    gcols = [group] if group else []
    pos = df.filter(v.isNotNull() & (v > 0)).select(*gcols, v.alias("__v"))
    vg = pos.groupBy(*gcols, "__v").agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy(*gcols)
        if gcols
        else Window.partitionBy(F.lit(1))
    ).orderBy(F.desc("__v")).rowsBetween(Window.unboundedPreceding, 0)
    cum = vg.withColumn("__cum", F.sum("__c").over(w))
    prev = F.col("__cum") - F.col("__c")
    contrib = F.when(prev < k, F.least(F.col("__c"), F.lit(k) - prev)).otherwise(
        F.lit(0)
    )
    agg = cum.groupBy(*gcols).agg(
        F.sum("__c").alias("n_pos"),
        F.sum(contrib.cast("double") * F.log("__v")).alias("__lsum"),
        F.max(F.when(F.col("__cum") >= k + 1, F.col("__v"))).alias("__xk1"),
    )
    gamma = F.col("__lsum") / float(k) - F.log("__xk1")
    ok = (F.col("n_pos") >= k + 1) & (F.col("__xk1") > 0)
    alpha_ok = ok & (gamma > 0)
    return agg.select(
        *gcols,
        "n_pos",
        F.lit(k).alias("k"),
        F.when(ok, F.round("__xk1", 6)).alias("x_k1"),
        F.when(ok, F.round(gamma, 6) + 0.0).alias("hill_gamma"),
        F.when(alpha_ok, F.round(1.0 / gamma, 6)).alias("tail_alpha"),
        F.when(alpha_ok, (1.0 / gamma) < 2.0).alias("infinite_variance"),
    )


def count_model_screen(
    df: DataFrame,
    ts_col: str,
    group: str | None = None,
) -> DataFrame:
    """Count-model screen for daily volumes: method-of-moments
    negative-binomial fit plus a zero-inflation check — the
    QUANTIFICATION beside poisson_dispersion's flag: "overdispersed"
    becomes (r, p) a capacity planner can simulate from, and the
    zero-day comparison (observed share of zero-volume days vs the
    Poisson-expected e^-lambda) catches silent-outage days that a
    mean-based screen averages away. Crucially the day spine is
    COMPLETE: days with no rows at all — the exact days an outage
    produces — are materialized via a per-group min..max date sequence
    and counted as zeros, not silently absent.

        m = mean, v = var_pop over the completed spine
        dispersion = v/m;  NB: p = m/v, r = m^2/(v - m)  (only if v > m)
        zero_expected = e^-m,  zero_excess = observed - expected

    One reduction to (group, day, count), one tiny per-group spine
    explode (O(days)), one moment aggregation. Returns (group?,
    n_days, zero_days, mean_count, var_count, dispersion, nb_r, nb_p,
    zero_observed, zero_expected, zero_excess_flag); v <= m yields
    NULL NB parameters (equidispersed or under — NB degenerates).
    zero_excess_flag fires when observed > expected + 0.05.
    """
    gcols = [group] if group else []
    d = F.to_date(F.col(ts_col))
    daily = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(*gcols, d.alias("__d"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    span = daily.groupBy(*gcols).agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    spine = span.select(
        *gcols, F.explode(F.sequence("__lo", "__hi")).alias("__d")
    )
    full = spine.join(daily, [*gcols, "__d"], "left").select(
        *gcols, F.coalesce(F.col("__c"), F.lit(0)).cast("double").alias("__c")
    )
    agg = full.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum((F.col("__c") == 0).cast("long")).alias("zero_days"),
        F.avg("__c").alias("__m"),
        F.var_pop("__c").alias("__v"),
    )
    m, v = F.col("__m"), F.col("__v")
    nb_ok = (v > m) & (m > 0)
    zo = F.col("zero_days").cast("double") / F.col("n_days")
    ze = F.exp(-m)
    return agg.select(
        *gcols,
        "n_days",
        "zero_days",
        F.round(m, 6).alias("mean_count"),
        F.round(v, 6).alias("var_count"),
        F.when(m > 0, F.round(v / m, 6)).alias("dispersion"),
        F.when(nb_ok, F.round(m * m / (v - m), 6)).alias("nb_r"),
        F.when(nb_ok, F.round(m / v, 6)).alias("nb_p"),
        F.round(zo, 6).alias("zero_observed"),
        F.round(ze, 6).alias("zero_expected"),
        (zo > ze + 0.05).alias("zero_excess_flag"),
    )
