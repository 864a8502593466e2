"""Categorical-outcome inference: Cochran-Armitage trend in
proportions, Mantel-Haenszel stratified odds ratio, Wilson score
intervals for rates.

Positioning: the engine's rate screens (ab_test, eb_pass_rates,
pass_rate_sla) treat groups as unordered and strata as absent.
Cochran-Armitage asks the ORDERED question — does the failure rate
trend monotonically across day buckets / position quartiles / size
bins — which a chi-square independence test dilutes across all
departures. Mantel-Haenszel is the 2x2 sibling of
post_stratified_test: a common odds ratio pooled across strata, immune
to the stratum-mix confounding that flips pooled 2x2 tables
(Simpson's paradox — the stats.simpsons_check screen detects it; MH
is the estimator you use once it fired). Wilson intervals replace the
normal-approximation +-z*sqrt(pq/n) whose coverage collapses near 0
and 1 — exactly where violation rates live.

Scale shape: each operator is ONE map-side-combinable aggregation to
an O(groups)/O(strata) relation with closed-form algebra after; z and
chi-square criticals are caller-pinned constants (a Column plan
cannot invert a CDF — engine-wide contract).

Reference provenance: /root/reference (Rust skeleton) has no stats
layer; extends SURVEY §2.4's engine-level checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stats import wilson_bounds


def cochran_armitage(
    df: DataFrame,
    bucket: str,
    outcome: str,
    group: str | None = None,
    z_crit: float = 1.96,
    min_buckets: int = 3,
) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in a 0/1 outcome rate
    across ordered numeric buckets (day index, position quartile,
    payload-size bin):

        T = sum_i w_i (x_i - n_i * pbar),   w_i = score (bucket value)
        Var(T) = pbar (1 - pbar) [ sum n_i w_i^2 - (sum n_i w_i)^2/N ]
        z = T / sqrt(Var)

    The chi-square independence test spreads its power over EVERY
    deviation pattern; this one puts it all on monotone drift — the
    pattern a slowly degrading pipeline actually produces. Bucket
    values are used as scores verbatim (equally-spaced integers give
    the classic test; stated, not hidden). NULL outcome or bucket
    rows are excluded.

    One aggregation to the (group?, bucket) x (n, x) relation; a
    second tiny rollup. Groups with < min_buckets distinct buckets or
    a degenerate pooled rate emit NULL z. Returns (group?, n_buckets,
    n_total, pooled_rate, t_stat, z, trending) — trending is the
    two-sided verdict at the pinned z.
    """
    b = F.col(bucket).cast("double")
    y = F.col(outcome).cast("double")
    keys = [F.col(group).alias("g")] if group else []
    per = (
        df.filter(b.isNotNull() & y.isNotNull())
        .groupBy(*keys, b.alias("w"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(y).alias("x"),
        )
    )
    gb = ["g"] if group else []
    agg = per.groupBy(*gb).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").alias("nn"),
        F.sum("x").alias("xx"),
        F.sum(F.col("w") * F.col("x")).alias("swx"),
        F.sum(F.col("w") * F.col("n")).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).alias("swwn"),
    )
    p = F.col("xx") / F.col("nn")
    t = F.col("swx") - p * F.col("swn")
    var = p * (1 - p) * (
        F.col("swwn") - F.col("swn") * F.col("swn") / F.col("nn")
    )
    ok = (F.col("n_buckets") >= min_buckets) & (var > 0)
    z = F.when(ok, t / F.sqrt(var))
    cols = []
    if group:
        cols.append(F.col("g").alias(group))
    cols += [
        "n_buckets",
        F.col("nn").cast("long").alias("n_total"),
        F.round(p, 6).alias("pooled_rate"),
        F.round(t, 6).alias("t_stat"),
        F.round(z, 6).alias("z"),
        F.when(z.isNotNull(), F.abs(z) > z_crit).alias("trending"),
    ]
    return agg.select(*cols)


def mantel_haenszel(
    df: DataFrame,
    stratum: str,
    arm: str,
    outcome: str,
    control,
    treatment,
    z_crit: float = 1.96,
    min_cell_total: int = 2,
) -> DataFrame:
    """Mantel-Haenszel common odds ratio across strata — the 2x2
    sibling of post_stratified_test, and the estimator to use after
    stats.simpsons_check fires on a rate comparison:

        OR_MH = sum_i (a_i d_i / n_i) / sum_i (b_i c_i / n_i)

    with per-stratum table (a = treatment successes, b = treatment
    failures, c = control successes, d = control failures). The MH
    chi-square (continuity-corrected) tests OR = 1:

        chi2 = ( |sum a_i - sum E_i| - 0.5 )^2 / sum V_i
        E_i = r1_i c1_i / n_i
        V_i = r1_i r0_i c1_i c0_i / ( n_i^2 (n_i - 1) )

    (r = arm row totals, c = outcome column totals.) Pooling odds
    WITHIN strata is what makes the estimate immune to stratum-mix
    confounding — the pooled 2x2 table can show the OPPOSITE sign.
    Strata with fewer than ``min_cell_total`` rows in either arm, or
    with n_i <= 1, are excluded and counted. The log-OR variance (for
    a CI) needs the Robins-Breslow-Greenland estimator — out of
    closed-column scope here; the MH chi-square carries the
    significance verdict instead (stated).

    One shuffle to the (stratum, arm) x (n, successes) relation;
    everything after is O(strata). Returns one row: (n_strata,
    n_strata_excluded, n_total, or_mh, chi2, chi2_crit, reject).
    """
    a = F.col(arm).cast("string")
    y = F.col(outcome).cast("double")
    base = df.filter(
        y.isNotNull() & a.isin([str(control), str(treatment)])
    ).select(
        F.col(stratum).alias("s"),
        (a == str(treatment)).cast("int").alias("t"),
        y.alias("y"),
    )
    cells = base.groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("x"),
    )
    piv = cells.groupBy("s").agg(
        F.max(F.when(F.col("t") == 1, F.col("n"))).alias("r1"),
        F.max(F.when(F.col("t") == 0, F.col("n"))).alias("r0"),
        F.max(F.when(F.col("t") == 1, F.col("x"))).alias("a"),
        F.max(F.when(F.col("t") == 0, F.col("x"))).alias("c"),
    )
    ok = (
        F.col("r1").isNotNull()
        & F.col("r0").isNotNull()
        & (F.col("r1") >= min_cell_total)
        & (F.col("r0") >= min_cell_total)
        & ((F.col("r1") + F.col("r0")) > 1)
    )
    n_i = F.col("r1") + F.col("r0")
    b_ = F.col("r1") - F.col("a")
    d_ = F.col("r0") - F.col("c")
    c1 = F.col("a") + F.col("c")
    c0 = b_ + d_
    e_i = F.col("r1") * c1 / n_i
    v_i = F.col("r1") * F.col("r0") * c1 * c0 / (n_i * n_i * (n_i - 1))
    agg = piv.agg(
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_strata"),
        F.sum(F.when(~ok, 1).otherwise(0)).cast("long").alias(
            "n_strata_excluded"
        ),
        F.sum(F.when(ok, n_i).otherwise(0.0)).alias("n_total"),
        F.sum(F.when(ok, F.col("a") * d_ / n_i)).alias("num"),
        F.sum(F.when(ok, b_ * F.col("c") / n_i)).alias("den"),
        F.sum(F.when(ok, F.col("a"))).alias("sa"),
        F.sum(F.when(ok, e_i)).alias("se"),
        F.sum(F.when(ok, v_i)).alias("sv"),
    )
    or_mh = F.when(F.col("den") > 0, F.col("num") / F.col("den"))
    dev = F.abs(F.col("sa") - F.col("se")) - 0.5
    chi2 = F.when(
        F.col("sv") > 0,
        F.when(dev > 0, dev * dev / F.col("sv")).otherwise(0.0),
    )
    crit = z_crit * z_crit  # chi2(1) critical = z^2 for the same alpha
    return agg.filter(F.col("n_strata") >= 1).select(
        "n_strata",
        "n_strata_excluded",
        F.col("n_total").cast("long").alias("n_total"),
        F.round(or_mh, 6).alias("or_mh"),
        F.round(chi2, 6).alias("chi2"),
        F.round(F.lit(crit), 6).alias("chi2_crit"),
        F.when(chi2.isNotNull(), chi2 > crit).alias("reject"),
    )


def wilson_intervals(
    df: DataFrame,
    group: str,
    outcome: str,
    z: float = 1.96,
) -> DataFrame:
    """Wilson score interval for a per-group 0/1 rate
    (``stats.wilson_bounds``).

    The normal-approximation interval p +- z sqrt(pq/n) degenerates
    exactly where validation rates live — near 0 and 1 it produces
    negative lower bounds and zero-width intervals at p = 0 even for
    n = 3. Wilson stays inside [0, 1], has near-nominal coverage at
    extreme rates, and is still closed form — the drop-in honesty
    upgrade for every pass/violation-rate column this engine emits.
    NULL outcomes are excluded; z is caller-pinned.

    One aggregation; algebra on O(groups) rows. Returns (group, n,
    successes, rate, wilson_lo, wilson_hi, normal_lo, normal_hi) —
    the normal bounds are included deliberately so the caller SEES
    the disagreement (clamped to [0, 1] is the normal interval's own
    failure, not hidden here: emitted raw).
    """
    y = F.col(outcome).cast("double")
    agg = (
        df.filter(y.isNotNull())
        .groupBy(F.col(group).alias("g"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(y).alias("x"),
        )
    )
    n = F.col("n")
    p = F.col("x") / n
    lo, hi = wilson_bounds(n, F.col("x"), z)
    nlo = p - z * F.sqrt(p * (1 - p) / n)
    nhi = p + z * F.sqrt(p * (1 - p) / n)
    return agg.select(
        F.col("g").alias(group),
        n.cast("long").alias("n"),
        F.col("x").cast("long").alias("successes"),
        F.round(p, 6).alias("rate"),
        F.round(lo, 6).alias("wilson_lo"),
        F.round(hi, 6).alias("wilson_hi"),
        F.round(nlo, 6).alias("normal_lo"),
        F.round(nhi, 6).alias("normal_hi"),
    )
