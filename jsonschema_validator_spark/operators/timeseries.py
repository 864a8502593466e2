"""Per-group time-series screens over the daily-aggregated relation:
trailing rolling statistics (the moving-control-band complement to the
global median/MAD screen in operators/anomaly.py) and an EWMA
one-step-ahead residual screen (the exponentially-forgetting sibling
of operators/changepoint.py's CUSUM — EWMA tracks a drifting level
and flags points that break from the RECENT past, where MAD compares
to the whole history and CUSUM accumulates sustained shifts).

Reference parity note: outside the reference validator's scope
(macisamuele/jsonschema-validator validates keywords); this is the
analytics tier of SURVEY.md §2.

Scale shape (the changepoint.py contract): the raw table is reduced
FIRST by one (group, day) aggregation — the only full-data shuffle.
``rolling_stats`` is then pure JVM window algebra over that tiny
relation; ``ewma_screen``'s recurrence is inherently sequential per
group and runs inside one Arrow-batched applyInPandas with O(1)
state, exactly the escape hatch SURVEY §2.5 reserves. No per-row
Python ever touches the raw table (input_hint contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import local_frame


def _daily(df: DataFrame, group: str, ts: str, value) -> DataFrame:
    day = F.date_format(F.date_trunc("day", F.col(ts)), "yyyy-MM-dd")
    return df.groupBy(F.col(group).alias("g"), day.alias("day")).agg(
        value.alias("x")
    )


def rolling_stats(
    df: DataFrame,
    group: str,
    ts: str,
    value=None,
    window: int = 7,
    k_sigma: float = 3.0,
) -> DataFrame:
    """Trailing rolling mean/stddev + prior-window z-score per group
    over the daily series (daily event COUNTS when ``value`` is None,
    else daily means of the column name passed).

    ROWS semantics over observed days, ordered by day: ``ma``/``sd``
    cover the trailing ``window`` rows INCLUDING the current one;
    the screen statistic ``z_prior`` compares x to the window that
    EXCLUDES it (rows -window..-1) so a spike cannot mask itself by
    inflating its own control band. z_prior is NULL while the prior
    window has <2 rows or zero variance. flag = |z_prior| > k_sigma
    (NULL z -> false: a warm-up day is not an anomaly). Returns
    (group, day, x, n_window, ma, sd, z_prior, flag), floats rounded
    to 6.
    """
    val = F.count(F.lit(1)).cast("double") if value is None else F.avg(F.col(value))
    daily = _daily(df, group, ts, val)
    w_incl = Window.partitionBy("g").orderBy("day").rowsBetween(-(window - 1), 0)
    w_prior = Window.partitionBy("g").orderBy("day").rowsBetween(-window, -1)
    prior_ma = F.avg("x").over(w_prior)
    prior_sd = F.stddev_samp("x").over(w_prior)
    z = F.when(
        prior_sd.isNotNull() & (prior_sd > 0), (F.col("x") - prior_ma) / prior_sd
    )
    out = daily.select(
        F.col("g").alias(group),
        "day",
        F.round("x", 6).alias("x"),
        F.count("x").over(w_incl).alias("n_window"),
        F.round(F.avg("x").over(w_incl), 6).alias("ma"),
        F.round(F.stddev_samp("x").over(w_incl), 6).alias("sd"),
        F.round(z, 6).alias("z_prior"),
        F.coalesce(F.abs(z) > k_sigma, F.lit(False)).alias("flag"),
    )
    return out


def ewma_screen(
    df: DataFrame,
    group: str,
    ts: str,
    value=None,
    alpha: float = 0.3,
    h_sigma: float = 3.0,
) -> DataFrame:
    """EWMA level + one-step-ahead residual screen per group over the
    daily series (daily event COUNTS when ``value`` is None, else
    daily means of the named column).

    s_1 = x_1; s_i = alpha * x_i + (1 - alpha) * s_{i-1}. The screen
    statistic is the prediction residual r_i = x_i - s_{i-1} (r_1 = 0
    by convention: the first observation defines the level), flagged
    when |r| > h_sigma * sd with sd the group series' own sample
    stddev (self-referencing control limits, the cusum_screen
    convention; single-day groups get sd 0 and never flag). Returns
    (group, day, x, ewma, residual, flag), floats rounded to 6.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    import pandas as pd

    val = F.count(F.lit(1)).cast("double") if value is None else F.avg(F.col(value))
    daily = _daily(df, group, ts, val)
    params = daily.groupBy("g").agg(F.stddev_samp("x").alias("sd"))
    series = daily.join(params, "g")

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        sd = pdf["sd"].iloc[0]
        sd = 0.0 if pd.isna(sd) else sd
        s, ew, res = None, [], []
        for x in pdf["x"]:
            res.append(0.0 if s is None else x - s)
            s = x if s is None else alpha * x + (1.0 - alpha) * s
            ew.append(s)
        pdf["ewma"] = ew
        pdf["residual"] = res
        pdf["flag"] = pdf["residual"].abs() > h_sigma * sd
        return pdf[["g", "day", "x", "ewma", "residual", "flag"]]

    return (
        series.groupBy("g")
        .applyInPandas(
            _run,
            schema="g string, day string, x double, ewma double, residual double, flag boolean",
        )
        .select(
            F.col("g").alias(group),
            "day",
            F.round("x", 6).alias("x"),
            F.round("ewma", 6).alias("ewma"),
            F.round("residual", 6).alias("residual"),
            "flag",
        )
    )


def theil_sen(
    df: DataFrame,
    group: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise
    slopes over the per-day reduced series — up to ~29% contamination
    tolerance where the OLS `stats.linear_trend` slope follows a single
    corrupted day. Rows first reduce to (group, day, mean) in one
    shuffle; the pairwise slope relation is a bounded self-join
    (days-per-group squared — calendar-bounded, NOT data-bounded, so a
    year is ~66k pairs per group) and the median is exact
    percentile(0.5). Day gaps use real datediff spacing. Fully
    declarative: no Arrow stage. Returns per group: n_days, n_pairs,
    slope_per_day."""
    d = _daily(df, group, ts, F.avg(F.col(value).cast("double")))
    a = d.select(F.col("g"), F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = d.select(F.col("g"), F.col("day").alias("d2"), F.col("x").alias("x2"))
    pairs = a.join(b, "g").filter(F.col("d1") < F.col("d2"))
    slope = (F.col("x2") - F.col("x1")) / F.datediff(
        F.to_date("d2"), F.to_date("d1")
    )
    return (
        pairs.groupBy(F.col("g").alias(group))
        .agg(
            (
                (F.lit(1) + F.sqrt(F.lit(1) + F.lit(8) * F.count(F.lit(1)))) / 2
            ).cast("bigint").alias("n_days"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.percentile(slope, F.lit(0.5)), 6).alias("slope_per_day"),
        )
    )


def acf_ljung_box(
    df: DataFrame,
    group: str = "event_type",
    ts: str = "ts",
    value: str | None = None,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation r_k (lags 1..max_lag) + Ljung-Box
    portmanteau Q per group over the daily series (daily COUNTS when
    ``value`` is None, else daily means) — the serial-dependence screen
    the i.i.d.-assuming drift tests (KS/PSI) silently require: a series
    that fails here violates their premise, and residual
    autocorrelation after a fix means the anomaly model is missing a
    seasonal term.

    r_k = sum_{t>k}(x_t - xbar)(x_{t-k} - xbar) / sum(x_t - xbar)^2
    over observed-day order (standard regular-spacing ACF; gap days
    are not imputed). Q_k = n(n+2) * sum_{j<=k} r_j^2/(n-j), compared
    to the chi-square 95% critical value at df=k (pinned constants,
    df 1..10). Lags with no overlap (k >= n) or a zero-variance series
    produce no row. One raw-table shuffle into the daily relation; the
    lag window + both aggregations run over that reduced series; the
    per-(group, lag) Q cumsum is over <= max_lag rows per group.
    Returns (group, lag, n_days, r, q_stat, q_crit_95, reject)."""
    if not 1 <= max_lag <= 10:
        raise ValueError("max_lag must be in 1..10 (pinned chi-square table)")
    _CHI2_95 = [3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067,
                15.507, 16.919, 18.307]
    val = (
        F.count(F.lit(1)).cast("double") if value is None else F.avg(F.col(value))
    )
    daily = _daily(df, group, ts, val)
    means = daily.groupBy("g").agg(F.avg("x").alias("mu"))
    w = Window.partitionBy("g").orderBy("day")
    dev = F.col("x") - F.col("mu")
    lagged = daily.join(means, "g").select(
        "g",
        dev.alias("d0"),
        *[
            (F.lag("x", k).over(w) - F.col("mu")).alias(f"d{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    agg = lagged.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("d0") * F.col("d0")).alias("den"),
        *[
            F.sum(F.col("d0") * F.col(f"d{k}")).alias(f"num{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    long = agg.filter(F.col("den") > 0).select(
        "g",
        "n_days",
        "den",
        F.posexplode(
            F.array(*[F.col(f"num{k}") for k in range(1, max_lag + 1)])
        ).alias("k0", "num"),
    ).select(
        "g",
        "n_days",
        (F.col("k0") + 1).alias("lag"),
        (F.col("num") / F.col("den")).alias("r"),
    ).filter(F.col("r").isNotNull())
    nn = F.col("n_days").cast("double")
    wq = (
        Window.partitionBy("g")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    q = nn * (nn + 2) * F.sum(
        F.col("r") * F.col("r") / (nn - F.col("lag"))
    ).over(wq)
    crit = F.element_at(F.array(*[F.lit(c) for c in _CHI2_95]), F.col("lag"))
    return long.select(
        F.col("g").alias(group),
        "lag",
        "n_days",
        F.round("r", 6).alias("r"),
        F.round(q, 6).alias("q_stat"),
        crit.alias("q_crit_95"),
        (q > crit).alias("reject"),
    )


def mann_kendall(
    df: DataFrame,
    group: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    z_crit: float = 1.96,
) -> DataFrame:
    """Mann-Kendall monotone-trend test per group over the daily-mean
    series — the significance companion to ``theil_sen`` (same bounded
    pairwise relation): S = sum over day pairs i<j of sign(x_j - x_i),
    tie-corrected Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18,
    and the continuity-corrected z = (S -/+ 1)/sqrt(Var) (0 when S=0 or
    Var=0). Distribution-free: no normality or linearity assumption,
    unlike the OLS slope t-test. Three aggregations over the reduced
    daily relation (pair signs, day count, tie runs) joined on the
    group key; the raw table shuffles once. Returns per group:
    n_days, s_stat, var_s, z, trend in {increasing, decreasing, none}
    at ``z_crit``."""
    d = _daily(df, group, ts, F.avg(F.col(value).cast("double")))
    a = d.select(F.col("g"), F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = d.select(F.col("g"), F.col("day").alias("d2"), F.col("x").alias("x2"))
    s = (
        a.join(b, "g")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("g")
        .agg(F.sum(F.signum(F.col("x2") - F.col("x1"))).cast("bigint").alias("s_stat"))
    )
    n = d.groupBy("g").agg(F.count(F.lit(1)).alias("n_days"))
    t = F.count(F.lit(1))
    ties = (
        d.groupBy("g", "x")
        .agg((t * (t - 1) * (2 * t + 5)).alias("tt"))
        .groupBy("g")
        .agg(F.sum("tt").alias("tie_term"))
    )
    nn = F.col("n_days").cast("double")
    var_s = (
        nn * (nn - 1) * (2 * nn + 5) - F.col("tie_term").cast("double")
    ) / 18.0
    ss = F.col("s_stat").cast("double")
    z = F.when((ss == 0) | (var_s <= 0), F.lit(0.0)).otherwise(
        (ss - F.signum(ss)) / F.sqrt(var_s)
    )
    return (
        n.join(s, "g")
        .join(ties, "g")
        .select(
            F.col("g").alias(group),
            "n_days",
            "s_stat",
            F.round(var_s, 6).alias("var_s"),
            F.round(z, 6).alias("z"),
            F.when(z > z_crit, F.lit("increasing"))
            .when(z < -z_crit, F.lit("decreasing"))
            .otherwise(F.lit("none"))
            .alias("trend"),
        )
    )


def time_weighted_mean(
    df: DataFrame,
    group: str,
    ts: str,
    value: str,
) -> DataFrame:
    """Time-weighted average of a sampled signal per group (the TWAP /
    step-function integral): each observation holds until the NEXT one,
    so its weight is the holding duration — the correct average for
    irregularly-sampled state (a sensor read 99 times at level 10 in
    one second and once at 1000 for an hour averages near 1000, not
    near 20). The plain mean over-weights bursts exactly when sampling
    is event-driven.

    One lead() window per group over pre-projected (group, ts, value)
    rows gives integer microsecond holding times; the weighted mean is
    then a map-side-combinable aggregation. The LAST observation of a
    group has no successor — no duration, excluded (documented
    standard: closed-open [t_i, t_{i+1}) steps). Groups with a single
    observation therefore yield no row. Zero-duration steps (tied
    timestamps) carry zero weight; rows with NULL ts or value are
    excluded before the window so they neither anchor nor terminate a
    step. Returns (part, n_steps, span_seconds, twap, plain_mean) —
    plain_mean over the SAME stepped rows, so the two are directly
    comparable. Floats rounded to 6.
    """
    d = df.filter(
        F.col(ts).isNotNull() & F.col(value).isNotNull()
    ).select(
        F.col(group).alias("part"),
        # parquet TIMESTAMP_NTZ reads need the cast for unix_micros;
        # only DIFFERENCES are used, so any fixed zone offset cancels
        F.col(ts).cast("timestamp").alias("__ts"),
        F.col(value).cast("double").alias("__v"),
    )
    w = Window.partitionBy("part").orderBy("__ts")
    stepped = d.withColumn(
        "__dur",
        (
            F.unix_micros(F.lead("__ts").over(w)) - F.unix_micros(F.col("__ts"))
        ).cast("double"),
    ).filter(F.col("__dur").isNotNull())
    agg = stepped.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum("__dur").alias("__w"),
        F.sum(F.col("__v") * F.col("__dur")).alias("__vw"),
        F.avg("__v").alias("__pm"),
    )
    return agg.select(
        "part",
        "n_steps",
        F.round(F.col("__w") / 1e6, 6).alias("span_seconds"),
        F.round(
            F.when(F.col("__w") > 0, F.col("__vw") / F.col("__w")), 6
        ).alias("twap"),
        F.round("__pm", 6).alias("plain_mean"),
    )


def circular_time_profile(
    df: DataFrame,
    group: str,
    ts: str,
    z_crit: float = 5.991,
) -> DataFrame:
    """Circular statistics of time-of-day per group: treat each event's
    clock time as an angle on the 24h circle and compute the mean
    direction (peak hour) and resultant length R (concentration in
    [0,1]) — the honest answer to "when is this user active", where a
    LINEAR mean of hours calls 23:00+01:00 'noon'. The Rayleigh
    statistic z = n*R^2 screens uniformity (z above ~3 rejects
    "no daily rhythm"; default threshold 5.991 = chi2_2 at 0.05 via
    the 2*z ~ chi2 approximation, conservative for screening).

    One aggregation of (sum cos, sum sin) per group — map-side
    combinable, exact arithmetic (atan2/sqrt at the end, on the
    O(groups) relation). NULL timestamps excluded. Returns
    (part, n, peak_hour [0,24), r_bar, rayleigh_z, rhythmic).
    """
    import math

    two_pi = 2.0 * math.pi
    d = df.filter(F.col(ts).isNotNull()).select(
        F.col(group).alias("part"),
        (
            (
                F.unix_micros(F.col(ts).cast("timestamp")) % F.lit(86400000000)
            ).cast("double")
            / 86400000000.0
            * two_pi
        ).alias("__a"),
    )
    agg = d.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.cos("__a")).alias("__c"),
        F.sum(F.sin("__a")).alias("__s"),
    )
    nn = F.col("n").cast("double")
    r_bar = F.sqrt(F.col("__c") * F.col("__c") + F.col("__s") * F.col("__s")) / nn
    # atan2 in (-pi, pi] -> fold to [0, 2pi) -> hours
    ang = F.atan2(F.col("__s"), F.col("__c"))
    ang = F.when(ang < 0, ang + two_pi).otherwise(ang)
    z = nn * r_bar * r_bar
    return agg.select(
        "part",
        "n",
        F.round(ang / two_pi * 24.0, 6).alias("peak_hour"),
        F.round(r_bar, 6).alias("r_bar"),
        F.round(z, 6).alias("rayleigh_z"),
        (z > z_crit).alias("rhythmic"),
    )


def sax_fingerprint(
    df: DataFrame,
    group: str,
    ts: str,
    value=None,
    segments: int = 8,
) -> DataFrame:
    """SAX symbolic fingerprint of each group's daily series (Lin,
    Keogh et al. 2003 — a public algorithm): z-normalize the series,
    average it into ``segments`` equal time slices (PAA), and map each
    slice to one of four symbols at the standard normal quartile
    breakpoints (-0.6745, 0, 0.6745) — the same WORD for two series
    means the same coarse shape regardless of scale, which makes
    shape-dedup, motif grouping, and "which metrics move together" a
    plain groupBy on the word where raw-series comparison needs a
    quadratic distance join.

    All arithmetic on the O(days) daily relation: mean/std per group,
    slice index floor(rank * w / n) from a row_number, slice means,
    then symbol mapping and a sorted concat — exact and
    engine-replayable. Flat series (std 0) map to all-'c' (z treated
    as 0, which sits in the half-open [0, 0.6745) band under the
    strict-< breakpoint convention used consistently here).
    Returns (part, n_days, word), one row per group.
    """
    val = F.count(F.lit(1)).cast("double") if value is None else F.avg(F.col(value))
    daily = _daily(df, group, ts, val)
    stats = daily.groupBy("g").agg(
        F.avg("x").alias("__mu"),
        F.coalesce(F.stddev_samp("x"), F.lit(0.0)).alias("__sd"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = Window.partitionBy("g").orderBy("day")
    idx = daily.withColumn("__r", F.row_number().over(w) - 1)
    j = idx.join(stats, "g")
    z = F.when(
        F.col("__sd") > 0, (F.col("x") - F.col("__mu")) / F.col("__sd")
    ).otherwise(F.lit(0.0))
    seg = F.floor(F.col("__r") * segments / F.col("n_days")).cast("int")
    paa = (
        j.withColumn("__z", z)
        .withColumn("__seg", seg)
        .groupBy("g", "__seg")
        .agg(F.avg("__z").alias("__m"), F.first("n_days").alias("n_days"))
    )
    sym = (
        F.when(F.col("__m") < -0.6745, F.lit("a"))
        .when(F.col("__m") < 0.0, F.lit("b"))
        .when(F.col("__m") < 0.6745, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return (
        paa.withColumn("__s", sym)
        .groupBy(F.col("g").alias("part"))
        .agg(
            F.first("n_days").alias("n_days"),
            F.concat_ws(
                "", F.transform(F.array_sort(
                    F.collect_list(F.struct(F.col("__seg"), F.col("__s")))
                ), lambda st: st["__s"])
            ).alias("word"),
        )
    )


def burstiness(
    df: DataFrame,
    group: str,
    ts: str,
) -> DataFrame:
    """Inter-event burstiness per group (Goh & Barabasi 2008, a public
    measure): B = (sigma - mu) / (sigma + mu) over the inter-arrival
    times — B -> -1 periodic (heartbeats, cron), B ~ 0 Poisson
    (memoryless arrivals), B -> +1 bursty (human/cascade activity).
    The temporal sibling of the circular time-of-day profile: that one
    asks WHEN activity happens, this one asks in what RHYTHM — and a
    bot whose event count and peak hour both look human still fails
    the rhythm test by being too regular.

    One lead() window per group over pre-projected (group, ts) rows
    gives integer microsecond gaps; mean/std close in one map-side-
    combinable aggregation. Groups with fewer than 3 events (< 2 gaps)
    have no gap variance: B NULL, never classified. Zero-duration gaps
    (tied timestamps) are real gaps (a burst IS co-arrival). Returns
    (part, n_gaps, mean_gap_s, sd_gap_s, b, rhythm) with rhythm
    'periodic' (B < -1/3), 'poisson' (|B| <= 1/3), 'bursty' (B > 1/3).
    """
    d = df.filter(F.col(ts).isNotNull()).select(
        F.col(group).alias("part"),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("__t"),
    )
    w = Window.partitionBy("part").orderBy("__t")
    gaps = d.withColumn(
        "__gap", (F.lead("__t").over(w) - F.col("__t")).cast("double")
    ).filter(F.col("__gap").isNotNull())
    agg = gaps.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg("__gap").alias("__mu"),
        F.stddev_samp("__gap").alias("__sd"),
    )
    mu, sd = F.col("__mu"), F.col("__sd")
    b = F.when(
        (F.col("n_gaps") >= 2) & ((sd + mu) > 0), (sd - mu) / (sd + mu)
    )
    return agg.select(
        "part",
        "n_gaps",
        # 4 decimals, not 6: gaps run to ~1e4 seconds, and 6 decimals
        # demands 11 identical significant digits from two engines'
        # stddev summation orders — a 1-ulp landmine at the round
        # boundary (seen once at sf0.1); 0.1 ms resolution is already
        # far below anything the rhythm verdict reads
        F.round(mu / 1e6, 4).alias("mean_gap_s"),
        F.round(sd / 1e6, 4).alias("sd_gap_s"),
        F.round(b, 6).alias("b"),
        F.when(b < -1.0 / 3, F.lit("periodic"))
        .when(b <= 1.0 / 3, F.lit("poisson"))
        .when(b > 1.0 / 3, F.lit("bursty"))
        .alias("rhythm"),
    )


def cross_correlation(
    df: DataFrame,
    group: str,
    ts: str,
    series_a: str,
    series_b: str,
    max_lag: int = 7,
    value=None,
) -> DataFrame:
    """Lead-lag discovery between two named groups' daily series:
    Pearson correlation of a(t) with b(t + lag) for lag in
    [-max_lag, +max_lag] — the answer to "does signup volume LEAD
    purchase volume, and by how many days", which same-day correlation
    (lag 0) misses entirely. A positive peak lag means a leads b by
    that many days.

    The raw table reduces once to two (day, x) daily series (COUNTS
    when ``value`` is None, else daily means); every lag is an
    equi-join on the dense day index of the O(days) relations, and
    each correlation closes in one aggregation of the five power sums.
    Only overlapping days count at each lag (n varies by lag, reported
    honestly). Lags with < 3 overlapping days or zero variance on
    either side give r NULL. Returns (lag, n, r) for every lag,
    ordered by lag.
    """
    val = F.count(F.lit(1)).cast("double") if value is None else F.avg(F.col(value))
    daily = _daily(
        df.filter(F.col(group).isin(series_a, series_b)), group, ts, val
    )
    idx = daily.select(
        "g",
        F.datediff(F.to_date("day"), F.to_date(F.lit("1970-01-01"))).alias("d"),
        "x",
    )
    a = idx.filter(F.col("g") == series_a).select(
        F.col("d").alias("da"), F.col("x").alias("xa")
    )
    b = idx.filter(F.col("g") == series_b).select(
        F.col("d").alias("db"), F.col("x").alias("xb")
    )
    lags = df.sparkSession.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    # a x lags is O(days x lags) — tiny; then equi-join b on the
    # shifted day index, never a cartesian over raw rows
    shifted = a.crossJoin(F.broadcast(lags)).withColumn(
        "db", F.col("da") + F.col("lag")
    )
    j = shifted.join(b, "db")
    agg = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("__sa"),
        F.sum("xb").alias("__sb"),
        F.sum(F.col("xa") * F.col("xa")).alias("__saa"),
        F.sum(F.col("xb") * F.col("xb")).alias("__sbb"),
        F.sum(F.col("xa") * F.col("xb")).alias("__sab"),
    )
    n = F.col("n").cast("double")
    cov = F.col("__sab") - F.col("__sa") * F.col("__sb") / n
    va = F.col("__saa") - F.col("__sa") * F.col("__sa") / n
    vb = F.col("__sbb") - F.col("__sb") * F.col("__sb") / n
    r = F.when(
        (F.col("n") >= 3) & (va > 0) & (vb > 0), cov / F.sqrt(va * vb)
    )
    return (
        lags.join(agg, "lag", "left")
        .select(
            "lag",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.round(r, 6).alias("r"),
        )
        .orderBy("lag")
    )


def max_drawdown(
    df: DataFrame,
    group: str,
    ts: str,
    value=None,
) -> DataFrame:
    """Maximum drawdown of each group's daily series: the deepest
    peak-to-trough collapse, as a fraction of the peak — the
    "worst sustained loss" screen a point-anomaly detector misses when
    the decline is gradual (each day individually unremarkable, the
    cumulative slide catastrophic). Drawdown at t = 1 - x_t / max_{s<=t}
    x_s; the reported max is over all t, with its peak and trough days.

    Pure window algebra over the O(days) daily relation (daily COUNTS
    when ``value`` is None, else daily means): one running max, one
    argmax via struct ordering — no Arrow stage. Non-positive peaks
    (possible with value columns) make the ratio meaningless: such
    days are skipped (documented; volumes are positive). Returns
    (part, n_days, peak_day, trough_day, peak, trough, drawdown),
    drawdown in [0, 1] for non-negative series, rounded to 6.
    """
    val = F.count(F.lit(1)).cast("double") if value is None else F.avg(F.col(value))
    daily = _daily(df, group, ts, val)
    w = Window.partitionBy("g").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # running peak AND the day it happened: max over an ordered struct
    peaked = daily.withColumn(
        "__pk", F.max(F.struct(F.col("x"), F.col("day"))).over(w)
    )
    dd = F.when(
        F.col("__pk.x") > 0, 1.0 - F.col("x") / F.col("__pk.x")
    )
    scored = peaked.withColumn("__dd", dd).filter(F.col("__dd").isNotNull())
    best = scored.groupBy(F.col("g").alias("part")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max(
            F.struct(
                F.col("__dd").alias("dd"),
                F.col("__pk.day").alias("peak_day"),
                F.col("day").alias("trough_day"),
                F.col("__pk.x").alias("peak"),
                F.col("x").alias("trough"),
            )
        ).alias("__b"),
    )
    return best.select(
        "part",
        "n_days",
        F.col("__b.peak_day").alias("peak_day"),
        F.col("__b.trough_day").alias("trough_day"),
        F.round("__b.peak", 6).alias("peak"),
        F.round("__b.trough", 6).alias("trough"),
        F.round("__b.dd", 6).alias("drawdown"),
    )


def holt_screen(
    df: DataFrame,
    group: str,
    ts: str,
    value=None,
    alpha: float = 0.3,
    beta: float = 0.1,
    h_sigma: float = 3.0,
) -> DataFrame:
    """Holt double-exponential (level + trend) smoothing with a
    one-step-ahead residual screen per group over the daily series —
    the trend-aware sibling of ewma_screen: on a steadily growing
    series EWMA lags behind and flags every day, while Holt's trend
    term absorbs the slope and flags only genuine breaks.

        forecast_i = l_{i-1} + b_{i-1}
        l_i = alpha * x_i + (1 - alpha) * forecast_i
        b_i = beta * (l_i - l_{i-1}) + (1 - beta) * b_{i-1}

    Initialization is the standard two-point start: l_1 = x_1,
    b_1 = x_2 - x_1 (0 for single-day groups); residuals are defined
    from day 2 onward (day 1 has no forecast; NULL residual never
    flags). Same scale shape as ewma_screen/cusum_screen: ONE
    (group, day) aggregation reduces the raw table, the inherently
    sequential recurrence runs Arrow-batched per group over the
    O(days) series, and the oracle replays it with a recursive CTE.
    flag = |residual| > h_sigma * sd over the group's own sample
    stddev. Returns (group, day, x, level, trend, forecast, residual,
    flag), floats rounded to 6.
    """
    if not 0.0 < alpha <= 1.0 or not 0.0 <= beta <= 1.0:
        raise ValueError("alpha in (0,1], beta in [0,1]")
    import pandas as pd

    val = F.count(F.lit(1)).cast("double") if value is None else F.avg(F.col(value))
    daily = _daily(df, group, ts, val)
    params = daily.groupBy("g").agg(F.stddev_samp("x").alias("sd"))
    series = daily.join(params, "g")

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        sd = pdf["sd"].iloc[0]
        sd = 0.0 if pd.isna(sd) else sd
        xs = list(pdf["x"])
        lvl, trd, fc, res = [], [], [], []
        l = b = None
        for i, x in enumerate(xs):
            if i == 0:
                l = x
                b = (xs[1] - xs[0]) if len(xs) > 1 else 0.0
                fc.append(None)
                res.append(None)
            else:
                f = l + b
                fc.append(f)
                res.append(x - f)
                l_new = alpha * x + (1.0 - alpha) * f
                b = beta * (l_new - l) + (1.0 - beta) * b
                l = l_new
            lvl.append(l)
            trd.append(b)
        pdf["level"] = lvl
        pdf["trend"] = trd
        pdf["forecast"] = fc
        pdf["residual"] = res
        pdf["flag"] = [
            (r is not None and abs(r) > h_sigma * sd) for r in res
        ]
        return pdf[["g", "day", "x", "level", "trend", "forecast", "residual", "flag"]]

    return (
        series.groupBy("g")
        .applyInPandas(
            _run,
            schema=(
                "g string, day string, x double, level double, trend double, "
                "forecast double, residual double, flag boolean"
            ),
        )
        .select(
            F.col("g").alias(group),
            "day",
            F.round("x", 6).alias("x"),
            F.round("level", 6).alias("level"),
            F.round("trend", 6).alias("trend"),
            F.round("forecast", 6).alias("forecast"),
            F.round("residual", 6).alias("residual"),
            "flag",
        )
    )


def hurst_rs(
    df: DataFrame,
    order_col: str,
    value_col: str,
    block_sizes: list[int] = (8, 16, 32),
) -> DataFrame:
    """Hurst exponent via classic rescaled-range (R/S) analysis on an
    ORDERED series: H ~ 0.5 means the series increments are
    memoryless, H > 0.5 long-range persistence (high days beget high
    days — volume/latency series almost always show this and naive
    i.i.d. control bands are then too tight), H < 0.5 anti-persistent
    mean reversion. The drift screens compare distributions; Hurst
    measures MEMORY, which none of them see.

    For each block size n the series splits into floor(N/n) full
    blocks (ragged tail dropped); per block R = range of the
    cumulative mean-adjusted deviations, S = population std, and
    blocks with S = 0 are excluded (R/S undefined). H is the OLS slope
    of ln(mean R/S) on ln(n) across block sizes.

    Scale: the caller passes an already-reduced series (one row per
    hour/day); the only windows are per-BLOCK cumsums — partitions of
    size <= max(block_sizes), never the whole series — plus one
    row_number to index the reduced relation (O(series), explicitly a
    reduced-relation-only cost). Returns one row per block size:
    (block_n, n_blocks, mean_rs, hurst, n_points) with the fitted H
    and series length repeated, ordered by block_n.
    """
    d = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(order_col).alias("__o"), F.col(value_col).cast("double").alias("__v"))
    w_all = Window.partitionBy(F.lit(1)).orderBy("__o")
    idx = d.select("__v", (F.row_number().over(w_all) - 1).alias("__i"))
    sized = None
    for bs in block_sizes:
        part = idx.select(
            "__v",
            "__i",
            F.lit(bs).alias("__bs"),
            F.floor(F.col("__i") / bs).alias("__blk"),
            F.pmod(F.col("__i"), F.lit(bs)).alias("__pos"),
        )
        sized = part if sized is None else sized.unionByName(part)
    # keep only full blocks: block b is full iff max pos == bs - 1
    wb = Window.partitionBy("__bs", "__blk")
    full = sized.withColumn("__mx", F.max("__pos").over(wb)).filter(
        F.col("__mx") == F.col("__bs") - 1
    )
    m = F.avg("__v").over(wb)
    dev = full.withColumn("__dev", F.col("__v") - m).withColumn(
        "__sd", F.stddev_pop("__v").over(wb)
    )
    wcum = Window.partitionBy("__bs", "__blk").orderBy("__pos")
    cum = dev.withColumn("__z", F.sum("__dev").over(wcum))
    per_block = cum.groupBy("__bs", "__blk").agg(
        (F.max("__z") - F.min("__z")).alias("__r"),
        F.first("__sd").alias("__s"),
    )
    per_size = (
        per_block.filter(F.col("__s") > 0)
        .groupBy("__bs")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.avg(F.col("__r") / F.col("__s")).alias("__rs"),
        )
    )
    # OLS slope of ln(rs) on ln(bs) over the (tiny) per-size relation
    fit = per_size.agg(
        F.count(F.lit(1)).alias("__k"),
        F.avg(F.log("__bs")).alias("__mx"),
        F.avg(F.log("__rs")).alias("__my"),
        F.avg(F.log("__bs") * F.log("__rs")).alias("__mxy"),
        F.avg(F.log("__bs") * F.log("__bs")).alias("__mxx"),
    ).select(
        F.when(
            F.col("__mxx") - F.col("__mx") * F.col("__mx") > 0,
            (F.col("__mxy") - F.col("__mx") * F.col("__my"))
            / (F.col("__mxx") - F.col("__mx") * F.col("__mx")),
        ).alias("__h")
    )
    n_points = idx.agg(F.count(F.lit(1)).alias("__n"))
    return (
        per_size.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(n_points))
        .select(
            F.col("__bs").cast("long").alias("block_n"),
            "n_blocks",
            F.round("__rs", 6).alias("mean_rs"),
            F.round("__h", 6).alias("hurst"),
            F.col("__n").alias("n_points"),
        )
        .orderBy("block_n")
    )


def permutation_entropy(
    df: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Bandt-Pompe permutation entropy of order m = 3 on an ORDERED
    series: slide a 3-point window, record which of the 6 orderings
    (012, 021, 102, 120, 201, 210) the triple realizes, and measure
    the Shannon entropy of the ordering distribution normalized by
    ln(6). A regular sawtooth uses 2 patterns (entropy -> 0); white
    noise uses all 6 equally (entropy -> 1) — complexity the variance/
    drift screens are blind to, robust to any monotone transform of
    the values. Ties break by position (earlier index ranks lower),
    the standard convention, so the statistic is exactly determined.

    Scale: caller passes the already-reduced series; two lead()s over
    that O(series) relation, rank arithmetic in Column algebra, one
    groupBy(pattern). Returns one row per OBSERVED pattern: (pattern,
    n, p, entropy, norm_entropy, n_windows) with the series-level
    entropy repeated, ordered by pattern; pattern is the rank string
    'r0r1r2' (rank of each position among the triple).
    """
    d = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(order_col).alias("__o"), F.col(value_col).cast("double").alias("__v"))
    w = Window.partitionBy(F.lit(1)).orderBy("__o")
    tri = d.select(
        F.col("__v").alias("v0"),
        F.lead("__v", 1).over(w).alias("v1"),
        F.lead("__v", 2).over(w).alias("v2"),
    ).filter(F.col("v2").isNotNull())

    def rank_of(i, vi, others):
        # others: list of (j, vj); vi ranks above vj if vj < vi, or tie
        # with j < i (position tie-break)
        r = F.lit(0)
        for j, vj in others:
            lt = vj < vi
            tie = (vj == vi) & (F.lit(j) < F.lit(i))
            r = r + (lt | tie).cast("int")
        return r

    v0, v1, v2 = F.col("v0"), F.col("v1"), F.col("v2")
    r0 = rank_of(0, v0, [(1, v1), (2, v2)])
    r1 = rank_of(1, v1, [(0, v0), (2, v2)])
    r2 = rank_of(2, v2, [(0, v0), (1, v1)])
    pat = F.concat(
        r0.cast("string"), r1.cast("string"), r2.cast("string")
    ).alias("pattern")
    counts = tri.select(pat).groupBy("pattern").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("__nw"))
    withp = counts.crossJoin(F.broadcast(tot)).withColumn(
        "p", F.col("n") / F.col("__nw")
    )
    ent = withp.agg(
        (-F.sum(F.col("p") * F.log("p"))).alias("__h")
    )
    import math

    return (
        withp.crossJoin(F.broadcast(ent))
        .select(
            "pattern",
            "n",
            F.round("p", 6).alias("p"),
            F.round("__h", 6).alias("entropy"),
            F.round(F.col("__h") / math.log(6.0), 6).alias("norm_entropy"),
            F.col("__nw").alias("n_windows"),
        )
        .orderBy("pattern")
    )


def haar_energy(
    df: DataFrame,
    order_col: str,
    value_col: str,
    levels: int,
) -> DataFrame:
    """Orthonormal Haar wavelet energy decomposition of an ORDERED
    series — the multi-resolution volume screen: level-1 detail energy
    is day-to-day jitter, higher levels are progressively slower
    swings, and the final approximation carries the DC level. Because
    the Haar transform is orthonormal, sum(detail energies) +
    approx energy = sum(x^2) exactly — the built-in invariant the
    operator re-checks and reports (energy_check).

    Each level is one groupBy on floor(idx/2): pairs (x0, x1) become
    detail d = (x0 - x1)/sqrt(2) and approximation a = (x0 + x1)/
    sqrt(2); the next level runs on the HALVED approximation relation,
    so `levels` levels cost log-many shuffles over geometrically
    shrinking data — the classic scale shape for 2^k-length series.
    The input length must be divisible by 2^levels (callers truncate
    to a power of two; raises otherwise at plan-build time via a
    documented contract check on the driver-side length). Departure
    from the module's single-pass contract, stated explicitly: each
    level materializes its detail aggregate with a driver action
    (levels+2 actions total), because the pyramid is inherently
    sequential — each level's input is the previous level's
    approximation. The per-level data halves, so total work is still
    O(n). An all-zero series (total energy 0) yields NULL frac for
    every component (0/0 is undefined, not 0 or 1) while energy_check
    still passes (0 == 0). Returns one row per level plus the
    approximation row: (component, n_coeffs, energy, frac),
    energy/frac rounded to 6, ordered by component.
    """
    base = (
        df.filter(
            F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            F.col(order_col).alias("__o"),
            F.col(value_col).cast("double").alias("x"),
        )
    )
    w = Window.partitionBy(F.lit(1)).orderBy("__o")
    cur = base.select(
        (F.row_number().over(w) - 1).alias("i"), "x"
    )
    n = cur.count()
    if n % (2 ** levels) != 0:
        raise ValueError(
            f"haar_energy: series length {n} not divisible by 2^{levels}"
        )
    total = cur.select(F.sum(F.col("x") * F.col("x")).alias("e")).collect()[
        0
    ]["e"]
    rows = []
    inv = 2.0 ** -0.5
    for lvl in range(1, levels + 1):
        paired = cur.groupBy(
            (F.col("i") / 2).cast("long").alias("__g")
        ).agg(
            F.sum(F.when(F.col("i") % 2 == 0, F.col("x"))).alias("x0"),
            F.sum(F.when(F.col("i") % 2 == 1, F.col("x"))).alias("x1"),
        ).withColumnRenamed("__g", "i")
        detail = paired.select(
            ((F.col("x0") - F.col("x1")) * inv).alias("d")
        ).agg(
            F.count(F.lit(1)).alias("n_coeffs"),
            F.sum(F.col("d") * F.col("d")).alias("energy"),
        )
        r = detail.collect()[0]
        rows.append((f"detail_L{lvl}", r["n_coeffs"], float(r["energy"])))
        cur = paired.select(
            "i", ((F.col("x0") + F.col("x1")) * inv).alias("x")
        )
    ra = cur.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("x") * F.col("x")).alias("e")
    ).collect()[0]
    rows.append(("approx", ra["n"], float(ra["e"])))
    spark = df.sparkSession
    out = local_frame(
        spark,
        [(c, int(k), e) for c, k, e in rows],
        "component string, n_coeffs long, energy double",
    )
    recon = sum(e for _, _, e in rows)
    return out.select(
        "component",
        "n_coeffs",
        F.round("energy", 6).alias("energy"),
        F.round(
            F.when(
                F.lit(total) > 0, F.col("energy") / F.lit(total)
            ),
            6,
        ).alias("frac"),
        F.lit(bool(abs(recon - total) <= 1e-6 * max(1.0, abs(total)))).alias(
            "energy_check"
        ),
    ).orderBy("component")


def durbin_watson(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group: str | None = None,
) -> DataFrame:
    """Durbin-Watson serial-correlation diagnostic on the residuals of
    a per-group OLS fit y = a + b*x — the regression sibling of
    acf_ljung_box: a daily-volume trend whose residuals autocorrelate
    positively (DW << 2) has too-narrow OLS confidence bands, so every
    "significant slope" verdict downstream of linear_trend silently
    overclaims. DW = sum (e_t - e_{t-1})^2 / sum e_t^2 in x-order,
    ~= 2*(1 - rho1); the conventional rough screen flags DW < 1 or
    DW > 3.

    Fit first (one power-sum aggregation per group), residuals second
    (broadcast of the O(groups) coefficient relation back onto the
    series), differences third (a group-keyed lag window ordered by
    (x, y) — the y tie-break makes equal-x rows deterministic). Input
    is expected to be a reduced series (daily volumes, not raw rows);
    all three steps are O(series). Returns (group?, n, slope, dw,
    rho1, autocorr_flag); groups with n < 3, zero x-variance, or
    all-zero residuals (perfect fit) yield NULL dw.
    """
    gcols = [group] if group else []
    xy = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
        *gcols,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    fit = xy.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    varx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / nd
    cov = F.col("__sxy") - F.col("__sx") * F.col("__sy") / nd
    slope = F.try_divide(cov, F.when(varx > 0, varx))
    coef = fit.select(
        *gcols,
        "n",
        slope.alias("__b"),
        ((F.col("__sy") - slope * F.col("__sx")) / nd).alias("__a"),
    )
    j = (
        xy.join(F.broadcast(coef), gcols)
        if gcols
        else xy.crossJoin(F.broadcast(coef))
    )
    e = F.col("__y") - (F.col("__a") + F.col("__b") * F.col("__x"))
    w = (
        Window.partitionBy(*gcols).orderBy("__x", "__y")
        if gcols
        else Window.partitionBy(F.lit(1)).orderBy("__x", "__y")
    )
    res = j.select(*gcols, "n", "__b", e.alias("__e"), F.lag(e).over(w).alias("__ep"))
    agg = res.groupBy(*gcols).agg(
        F.first("n").alias("n"),
        F.first("__b").alias("__b"),
        F.sum(F.col("__e") * F.col("__e")).alias("__ss"),
        F.sum(
            F.when(
                F.col("__ep").isNotNull(),
                (F.col("__e") - F.col("__ep")) * (F.col("__e") - F.col("__ep")),
            ).otherwise(0.0)
        ).alias("__sd"),
    )
    dw = F.col("__sd") / F.col("__ss")
    ok = (F.col("n") >= 3) & (F.col("__ss") > 0) & F.col("__b").isNotNull()
    return agg.select(
        *gcols,
        "n",
        F.round("__b", 6).alias("slope"),
        F.when(ok, F.round(dw, 6)).alias("dw"),
        F.when(ok, F.round(1.0 - dw / 2.0, 6) + 0.0).alias("rho1"),
        F.when(ok, (dw < 1.0) | (dw > 3.0)).alias("autocorr_flag"),
    )


def seasonal_strength(
    df: DataFrame,
    ts_col: str,
    value: Column | None = None,
    group: str | None = None,
) -> DataFrame:
    """Hyndman's strength-of-seasonality / strength-of-trend over the
    per-day series — the decomposition twin of the seasonal_volume
    screen: instead of flagging single weird days it answers "how much
    of this series IS weekly rhythm vs drift vs noise", the statistic
    that decides whether drift alerts must be weekday-conditioned at
    all. Additive STL-lite: trend = per-group OLS on the day index,
    seasonal = weekday mean of the detrended series, remainder = the
    rest, then

        trend_strength    = max(0, 1 - var(R) / var(y - S))
        seasonal_strength = max(0, 1 - var(R) / var(y - T))

    (population variances, Hyndman & Athanasopoulos FPP3 ch. 4.)

    The raw table reduces once to the O(groups x days) daily relation,
    which is localCheckpoint-ed eagerly — the decomposition reuses it
    in three branches (fit, detrend join, weekday means) and without
    truncation each branch re-derives it from the raw scan; the OLS
    fit and weekday means are aggregations over it with broadcast
    joins back — no window touches raw rows. Returns
    (group?, n_days, var_remainder, trend_strength,
    seasonal_strength); groups with < 14 days (two weekday cycles) or
    a zero-variance series yield NULL strengths.
    """
    gcols = [group] if group else []
    gexp = [F.col(group).alias("__g")] if group else []
    gkey = ["__g"] if group else []
    agg = F.coalesce(
        (value if value is not None else F.count(F.lit(1))).cast("double"),
        F.lit(0.0),
    )
    daily = (
        df.groupBy(*gexp, F.to_date(F.col(ts_col)).alias("__d"))
        .agg(agg.alias("__y"))
        .select(
            *gkey,
            F.datediff(F.col("__d"), F.lit("2000-01-01")).cast("double").alias("__x"),
            (F.dayofweek("__d") - 1).alias("__wd"),
            "__y",
        )
        .localCheckpoint(eager=True)
    )
    fit = daily.groupBy(*gkey).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    nd = F.col("n_days").cast("double")
    varx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / nd
    cov = F.col("__sxy") - F.col("__sx") * F.col("__sy") / nd
    slope = F.try_divide(cov, F.when(varx > 0, varx))
    coef = fit.select(
        *gkey,
        "n_days",
        slope.alias("__b"),
        ((F.col("__sy") - slope * F.col("__sx")) / nd).alias("__a"),
    )
    detr_df = (
        daily.join(F.broadcast(coef), gkey)
        if group
        else daily.crossJoin(F.broadcast(coef))
    ).withColumn(
        "__detr", F.col("__y") - (F.col("__a") + F.col("__b") * F.col("__x"))
    )
    wk = detr_df.groupBy(*gkey, "__wd").agg(F.avg("__detr").alias("__s"))
    full = detr_df.join(F.broadcast(wk), [*gkey, "__wd"])
    rem = F.col("__detr") - F.col("__s")
    deseason = F.col("__y") - F.col("__s")
    out = full.groupBy(*gkey).agg(
        F.first("n_days").alias("n_days"),
        F.var_pop(rem).alias("__vr"),
        F.var_pop("__detr").alias("__vdetr"),
        F.var_pop(deseason).alias("__vdeseas"),
    )
    ok = F.col("n_days") >= 14
    ts_ok = ok & (F.col("__vdeseas") > 0)
    ss_ok = ok & (F.col("__vdetr") > 0)
    sel = out.select(
        *gkey,
        "n_days",
        F.when(ok, F.round("__vr", 6)).alias("var_remainder"),
        F.when(
            ts_ok,
            F.round(F.greatest(F.lit(0.0), 1.0 - F.col("__vr") / F.col("__vdeseas")), 6),
        ).alias("trend_strength"),
        F.when(
            ss_ok,
            F.round(F.greatest(F.lit(0.0), 1.0 - F.col("__vr") / F.col("__vdetr")), 6),
        ).alias("seasonal_strength"),
    )
    return sel.withColumnRenamed("__g", group) if group else sel


def kpss_level(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group: str | None = None,
    lags: int = 2,
) -> DataFrame:
    """KPSS level-stationarity test on a reduced per-group series — the
    opposite null from every drift screen in the suite: KS/PSI/Page-
    Hinkley assume "stable unless proven drifting", KPSS assumes
    "stationary around a level" and REJECTS when the series wanders,
    which is exactly when Hurst > 0.5 and runs-test verdicts need a
    second opinion. With demeaned e_t and partial sums S_t:

        eta = (1/n^2) * sum S_t^2
        s^2 = gamma_0 + 2 * sum_{j=1..l} (1 - j/(l+1)) * gamma_j
        KPSS = eta / s^2,   reject level-stationarity at 5% if > 0.463

    (Kwiatkowski-Phillips-Schmidt-Shin 1992; Bartlett-weighted long-run
    variance; 0.463 is the published 5% level critical value. ``lags``
    is explicit — the Schwert rule floor(4*(n/100)^0.25) gives 2 for
    month-scale series; a static plan can't size windows per group.)

    One mean aggregation + broadcast join back, one cumulative window
    and ``lags`` lag columns over the O(days) reduced relation, one
    final aggregation. Returns (group?, n, lags, eta, lrv, kpss_stat,
    nonstationary_5pct); groups with n < lags + 2 or a flat series
    (s^2 = 0) yield NULL stat.
    """
    gcols = [group] if group else []
    xy = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
        *gcols,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    m = xy.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"), F.avg("__y").alias("__mu")
    )
    j = (
        xy.join(F.broadcast(m), gcols)
        if gcols
        else xy.crossJoin(F.broadcast(m))
    )
    e = F.col("__y") - F.col("__mu")
    w = (
        Window.partitionBy(*gcols).orderBy("__x", "__y")
        if gcols
        else Window.partitionBy(F.lit(1)).orderBy("__x", "__y")
    )
    cols = [
        *gcols,
        "n",
        e.alias("__e"),
        F.sum(e).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__s"),
    ]
    cols += [F.lag(e, jj).over(w).alias(f"__e{jj}") for jj in range(1, lags + 1)]
    res = j.select(*cols)
    aggs = [
        F.first("n").alias("n"),
        F.sum(F.col("__s") * F.col("__s")).alias("__ss"),
        F.sum(F.col("__e") * F.col("__e")).alias("__g0"),
    ]
    aggs += [
        F.sum(
            F.when(
                F.col(f"__e{jj}").isNotNull(), F.col("__e") * F.col(f"__e{jj}")
            ).otherwise(0.0)
        ).alias(f"__g{jj}")
        for jj in range(1, lags + 1)
    ]
    agg = res.groupBy(*gcols).agg(*aggs)
    nd = F.col("n").cast("double")
    lrv = F.col("__g0") / nd
    for jj in range(1, lags + 1):
        lrv = lrv + 2.0 * (1.0 - jj / (lags + 1.0)) * F.col(f"__g{jj}") / nd
    eta = F.col("__ss") / (nd * nd)
    ok = (F.col("n") >= lags + 2) & (lrv > 0)
    return agg.select(
        *gcols,
        "n",
        F.lit(lags).alias("lags"),
        F.round(eta, 6).alias("eta"),
        F.round(lrv, 6).alias("lrv"),
        F.when(ok, F.round(eta / lrv, 6)).alias("kpss_stat"),
        F.when(ok, eta / lrv > 0.463).alias("nonstationary_5pct"),
    )


def cochrane_orcutt(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group: str | None = None,
) -> DataFrame:
    """One-step Cochrane-Orcutt AR(1)-corrected slope — the repair for
    what durbin_watson diagnoses: when residuals autocorrelate, the OLS
    slope is unbiased but its certainty is fiction, and quasi-
    differencing (y_t - rho*y_{t-1} on x_t - rho*x_{t-1}) refits the
    trend on approximately independent errors. rho is the lag-1
    residual autoregression sum(e_t e_{t-1}) / sum(e_{t-1}^2).

    Two fits, both from power-sum aggregations over the O(days)
    reduced series; residuals and quasi-differences via one broadcast
    join back and one lag window ordered by (x, y). The reduced (x, y)
    relation is localCheckpoint-ed eagerly: the plan is a diamond
    (fit, residuals, rho, refit all reuse it) and without truncation
    Catalyst re-derives it from the RAW input once per branch — six
    raw scans at 100 TB for a relation that fits in one partition.
    Returns (group?,
    n, slope_ols, rho, slope_corrected, slope_shift); groups with
    n < 4, zero x-variance, or zero lagged-residual energy yield NULL
    corrected slope. slope_shift = corrected - ols, the size of the
    lie the naive fit told.
    """
    gcols = [group] if group else []
    xy = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
        *gcols,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).localCheckpoint(eager=True)
    fit = xy.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    varx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / nd
    cov = F.col("__sxy") - F.col("__sx") * F.col("__sy") / nd
    slope = F.try_divide(cov, F.when(varx > 0, varx))
    coef = fit.select(
        *gcols,
        "n",
        slope.alias("__b"),
        ((F.col("__sy") - slope * F.col("__sx")) / nd).alias("__a"),
    )
    j = (
        xy.join(F.broadcast(coef), gcols)
        if gcols
        else xy.crossJoin(F.broadcast(coef))
    )
    e = F.col("__y") - (F.col("__a") + F.col("__b") * F.col("__x"))
    w = (
        Window.partitionBy(*gcols).orderBy("__x", "__y")
        if gcols
        else Window.partitionBy(F.lit(1)).orderBy("__x", "__y")
    )
    res = j.select(
        *gcols,
        "n",
        "__b",
        "__x",
        "__y",
        e.alias("__e"),
        F.lag(e).over(w).alias("__ep"),
        F.lag("__x").over(w).alias("__xp"),
        F.lag("__y").over(w).alias("__yp"),
    ).localCheckpoint(eager=True)
    rho_agg = res.groupBy(*gcols).agg(
        F.first("n").alias("n"),
        F.first("__b").alias("__b"),
        F.sum(
            F.when(F.col("__ep").isNotNull(), F.col("__e") * F.col("__ep"))
            .otherwise(0.0)
        ).alias("__num"),
        F.sum(
            F.when(F.col("__ep").isNotNull(), F.col("__ep") * F.col("__ep"))
            .otherwise(0.0)
        ).alias("__den"),
    )
    rho = F.try_divide(F.col("__num"), F.when(F.col("__den") > 0, F.col("__den")))
    rho_rel = rho_agg.select(*gcols, "n", "__b", rho.alias("__rho"))
    j2 = (
        res.join(F.broadcast(rho_rel.select(*gcols, "__rho")), gcols)
        if gcols
        else res.crossJoin(F.broadcast(rho_rel.select("__rho")))
    ).filter(F.col("__xp").isNotNull() & F.col("__rho").isNotNull())
    xs = F.col("__x") - F.col("__rho") * F.col("__xp")
    ys = F.col("__y") - F.col("__rho") * F.col("__yp")
    fit2 = j2.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n2"),
        F.sum(xs).alias("__sx2"),
        F.sum(ys).alias("__sy2"),
        F.sum(xs * xs).alias("__sxx2"),
        F.sum(xs * ys).alias("__sxy2"),
    )
    nd2 = F.col("__n2").cast("double")
    varx2 = F.col("__sxx2") - F.col("__sx2") * F.col("__sx2") / nd2
    cov2 = F.col("__sxy2") - F.col("__sx2") * F.col("__sy2") / nd2
    b2 = F.try_divide(cov2, F.when(varx2 > 0, varx2))
    fit2_rel = fit2.select(*gcols, b2.alias("__b2"))
    # left join so a degenerate series (rho or corrected fit undefined)
    # still reports its row with NULL correction instead of vanishing
    out = (
        rho_rel.join(fit2_rel, gcols, "left")
        if gcols
        else rho_rel.join(fit2_rel, F.lit(True), "left")
    )
    ok = (F.col("n") >= 4) & F.col("__b2").isNotNull()
    return out.select(
        *gcols,
        "n",
        F.round("__b", 6).alias("slope_ols"),
        F.round("__rho", 6).alias("rho"),
        F.when(ok, F.round("__b2", 6)).alias("slope_corrected"),
        F.when(ok, F.round(F.col("__b2") - F.col("__b"), 6) + 0.0).alias(
            "slope_shift"
        ),
    )


def newey_west_se(
    df: DataFrame,
    group: str = "event_type",
    ts: str = "ts",
    value: str | None = None,
    max_lag: int = 5,
    z_crit: float = 1.96,
) -> DataFrame:
    """HAC (Newey-West 1987, Bartlett kernel) standard error of the
    daily-series mean per group — the honesty patch for every
    mean +- 1.96 * sd/sqrt(n) interval this engine emits over a
    SERIALLY DEPENDENT series (exactly what acf_ljung_box detects):
    positive autocorrelation makes the naive SE too small, so alerts
    fire on noise. The long-run variance replaces gamma_0:

        lrv = gamma_0 + 2 * sum_{h=1..L} (1 - h/(L+1)) gamma_h
        se_nw = sqrt(lrv / n)     (gamma_h = 1/n sum (x_t-mu)(x_{t+h}-mu))

    Bartlett weights keep lrv >= 0. ``inflation`` = se_nw/se_naive is
    the factor by which the i.i.d. interval was overclaiming (< 1
    means negative autocorrelation — the naive interval was
    conservative). Daily counts when ``value`` is None, else daily
    means; same lag-window machinery and observed-day spacing
    convention as acf_ljung_box, ONE shuffle to the daily relation.
    Returns (group, n_days, mean, gamma0, lrv, se_naive, se_nw,
    inflation, ci_lo, ci_hi) with the ci at the pinned ``z_crit``.
    """
    if not 1 <= max_lag <= 10:
        raise ValueError("max_lag must be in 1..10")
    val = (
        F.count(F.lit(1)).cast("double") if value is None else F.avg(F.col(value))
    )
    daily = _daily(df, group, ts, val)
    means = daily.groupBy("g").agg(F.avg("x").alias("mu"))
    w = Window.partitionBy("g").orderBy("day")
    dev = F.col("x") - F.col("mu")
    lagged = daily.join(means, "g").select(
        "g",
        F.col("mu"),
        dev.alias("d0"),
        *[
            (F.lag("x", k).over(w) - F.col("mu")).alias(f"d{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    agg = lagged.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("mu").alias("mu"),
        F.sum(F.col("d0") * F.col("d0")).alias("g0s"),
        *[
            F.sum(F.col("d0") * F.col(f"d{k}")).alias(f"g{k}s")
            for k in range(1, max_lag + 1)
        ],
    )
    n = F.col("n_days").cast("double")
    gamma0 = F.col("g0s") / n
    lrv = gamma0
    for k in range(1, max_lag + 1):
        wgt = 1.0 - k / (max_lag + 1.0)
        lrv = lrv + 2.0 * wgt * (F.coalesce(F.col(f"g{k}s"), F.lit(0.0)) / n)
    se_naive = F.sqrt(gamma0 / n)
    se_nw = F.sqrt(lrv / n)
    return agg.filter((F.col("n_days") > max_lag) & (gamma0 > 0)).select(
        F.col("g").alias(group),
        "n_days",
        F.round("mu", 6).alias("mean"),
        F.round(gamma0, 6).alias("gamma0"),
        F.round(lrv, 6).alias("lrv"),
        F.round(se_naive, 6).alias("se_naive"),
        F.round(se_nw, 6).alias("se_nw"),
        F.round(se_nw / se_naive, 6).alias("inflation"),
        F.round(F.col("mu") - z_crit * se_nw, 6).alias("ci_lo"),
        F.round(F.col("mu") + z_crit * se_nw, 6).alias("ci_hi"),
    )


def seasonal_mann_kendall(
    df: DataFrame,
    group: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    z_crit: float = 1.96,
) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch & Slack 1984) per
    group: the plain mann_kendall compares EVERY day pair, so a strong
    weekly cycle registers as spurious "trend" or masks a real one;
    the seasonal variant compares only LIKE days (Monday with Monday),
    then pools:

        S = sum_seasons S_season,  Var = sum_seasons Var_season
        z = (S -/+ 1) / sqrt(Var)

    (independence across seasons, the standard Hirsch-Slack form
    without the cross-season covariance correction — stated, not
    hidden). Season = day-of-week of the daily-mean series. The
    pairwise relation is bounded per (group, season) at O(k^2) with
    k = days/7; the raw table shuffles once into the daily relation.
    Returns (group, n_days, n_seasons, s_stat, var_s, z, trend).
    """
    d = _daily(df, group, ts, F.avg(F.col(value).cast("double"))).select(
        "g",
        "day",
        "x",
        F.dayofweek(F.to_date("day")).alias("season"),
    )
    a = d.select("g", "season", F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = d.select("g", "season", F.col("day").alias("d2"), F.col("x").alias("x2"))
    s = (
        a.join(b, ["g", "season"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("g", "season")
        .agg(
            F.sum(F.signum(F.col("x2") - F.col("x1")))
            .cast("bigint")
            .alias("s_k")
        )
    )
    n = d.groupBy("g", "season").agg(F.count(F.lit(1)).alias("n_k"))
    t = F.count(F.lit(1))
    ties = (
        d.groupBy("g", "season", "x")
        .agg((t * (t - 1) * (2 * t + 5)).alias("tt"))
        .groupBy("g", "season")
        .agg(F.sum("tt").alias("tie_k"))
    )
    nk = F.col("n_k").cast("double")
    var_k = (
        nk * (nk - 1) * (2 * nk + 5) - F.col("tie_k").cast("double")
    ) / 18.0
    per = (
        n.join(s, ["g", "season"], "left")
        .join(ties, ["g", "season"])
        .select(
            "g",
            "n_k",
            F.coalesce(F.col("s_k"), F.lit(0)).alias("s_k"),
            var_k.alias("var_k"),
        )
    )
    tot = per.groupBy("g").agg(
        F.sum("n_k").alias("n_days"),
        F.count(F.lit(1)).alias("n_seasons"),
        F.sum("s_k").alias("s_stat"),
        F.sum("var_k").alias("var_s"),
    )
    ss = F.col("s_stat").cast("double")
    vs = F.col("var_s")
    z = F.when((ss == 0) | (vs <= 0), F.lit(0.0)).otherwise(
        (ss - F.signum(ss)) / F.sqrt(vs)
    )
    return tot.select(
        F.col("g").alias(group),
        "n_days",
        "n_seasons",
        "s_stat",
        F.round(vs, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(z > z_crit, F.lit("increasing"))
        .when(z < -z_crit, F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
    )


def quantile_slope_divergence(
    df: DataFrame,
    group: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    taus: tuple = (0.5, 0.9),
    slope_grid: tuple = (
        -2.0, -1.5, -1.0, -0.75, -0.5, -0.3, -0.2, -0.1, -0.05,
        -0.02, 0.0, 0.02, 0.05, 0.1, 0.2, 0.3, 0.5, 0.75, 1.0, 1.5, 2.0,
    ),
    min_days: int = 10,
) -> DataFrame:
    """Quantile-regression slope of the daily series at each tau, by
    exhaustive pinball-loss minimization over a PINNED slope grid —
    the tail-trend screen the mean/median slope estimators
    (theil_sen, cochrane_orcutt) cannot be: a p90 growing faster than
    the p50 means the tail is degrading while the typical day looks
    flat (the shape of most capacity incidents and most latency
    regressions).

    For each candidate slope b, the optimal intercept under pinball
    loss rho_tau is a(b) = tau-quantile of (x_t - b*t), so the whole
    fit is: explode the G-candidate grid over the O(groups x days)
    daily relation, one exact-percentile aggregation per (group, tau,
    b), one loss aggregation, and an argmin — closed form at every
    step, G x days rows TOTAL (never raw rows; the raw table shuffles
    once into the daily relation). The grid is caller-pinned like
    every critical constant in this engine; a best-fit at the grid
    EDGE is flagged (``at_grid_edge``) — widen the grid there rather
    than trusting the clamp. Ties on the ROUNDED loss break toward
    the smallest |b| then smallest b (engine-stable, same contract as
    decision_stump's best flag).

    t is the observed-day rank starting at 0 (same spacing convention
    as acf_ljung_box). Returns one row per (group, tau): (group, tau,
    n_days, slope, intercept, pinball_loss, at_grid_edge) plus the
    per-group divergence columns (slope_hi - slope_lo) repeated on
    each row would denormalize — instead the caller compares rows;
    the contract query pivots taus side by side.
    """
    from pyspark.sql import Window as W

    daily = _daily(df, group, ts, F.avg(F.col(value).cast("double")))
    w = W.partitionBy("g").orderBy("day")
    idx = daily.select(
        "g", (F.row_number().over(w) - 1).cast("double").alias("t"), "x"
    )
    counts = idx.groupBy("g").agg(F.count(F.lit(1)).alias("n_days"))
    idx = idx.join(F.broadcast(counts.filter(F.col("n_days") >= min_days)), "g")
    grid = F.array(*[F.lit(float(b)) for b in slope_grid])
    exploded = idx.select(
        "g", "n_days", "t", "x", F.explode(grid).alias("b")
    ).select(
        "g", "n_days", "b", "t", "x",
        (F.col("x") - F.col("b") * F.col("t")).alias("resid"),
    )
    # exact tau-quantile of the residuals = optimal intercept per b;
    # percentile()'s fraction must be foldable, so one aggregation per
    # pinned tau, unioned (taus is a short pinned tuple)
    icpt = None
    for tq in taus:
        part_t = exploded.groupBy("g", "n_days", "b").agg(
            F.expr(f"percentile(resid, {float(tq)!r})").alias("a")
        ).withColumn("tau", F.lit(float(tq)))
        icpt = part_t if icpt is None else icpt.unionByName(part_t)
    lossed = (
        exploded.join(icpt, ["g", "n_days", "b"])
        .select(
            "g", "n_days", "tau", "b", "a",
            (F.col("x") - F.col("b") * F.col("t") - F.col("a")).alias("u"),
        )
        .groupBy("g", "n_days", "tau", "b", "a")
        .agg(
            F.sum(
                F.when(F.col("u") >= 0, F.col("tau") * F.col("u")).otherwise(
                    (F.col("tau") - 1.0) * F.col("u")
                )
            ).alias("loss")
        )
    )
    scored = lossed.select(
        "g", "n_days", "tau", "b", "a",
        F.round("loss", 6).alias("loss"),
    )
    part = W.partitionBy("g", "tau")
    best_loss = F.min("loss").over(part)
    best_b = F.min(
        F.when(
            F.col("loss") == best_loss,
            F.struct(F.abs(F.col("b")).alias("ab"), F.col("b").alias("b")),
        )
    ).over(part)
    lo, hi = float(min(slope_grid)), float(max(slope_grid))
    out = (
        scored.withColumn("bb", best_b)
        .filter(F.col("b") == F.col("bb.b"))
        .select(
            F.col("g").alias(group),
            F.round("tau", 2).alias("tau"),
            "n_days",
            F.round("b", 6).alias("slope"),
            F.round("a", 6).alias("intercept"),
            F.col("loss").alias("pinball_loss"),
            ((F.col("b") == lo) | (F.col("b") == hi)).alias("at_grid_edge"),
        )
    )
    return out
