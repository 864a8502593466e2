"""Row-level parity between two tables keyed by (conv_id, turn_idx) —
the `input_hint` invariant: per-turn text equality under stable
(conv_id, turn_idx) ordering. Generalized to any key/column set.

One full-outer join on the keys, comparing xxhash64 of each payload
column (hash compare: the join never moves the payload bytes twice,
and at 10^12 turns the shuffle carries 8-byte hashes, not text).
SURVEY.md §2.4 "Per-turn text equality vs oracle"."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_parity(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    columns: list[str],
) -> DataFrame:
    """Per-key parity rows: (keys..., status, differing_columns) where
    status in {'ok', 'differs', 'left_only', 'right_only'}.

    Keys are assumed unique per side (dedupe first if not — a duplicate
    key would fan out the join)."""
    lh = left.select(
        *keys, *[F.xxhash64(F.col(c)).alias(f"__l_{c}") for c in columns],
        F.lit(1).alias("__l"),
    )
    rh = right.select(
        *keys, *[F.xxhash64(F.col(c)).alias(f"__r_{c}") for c in columns],
        F.lit(1).alias("__r"),
    )
    j = lh.join(rh, keys, "full_outer")
    diff_cols = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}")), F.lit(c)
                )
                for c in columns
            ]
        )
    )
    status = (
        F.when(F.col("__l").isNull(), F.lit("right_only"))
        .when(F.col("__r").isNull(), F.lit("left_only"))
        .when(F.size(diff_cols) > 0, F.lit("differs"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        *keys,
        status.alias("status"),
        F.when(status == "differs", F.array_join(diff_cols, ","))
        .otherwise(F.lit(""))
        .alias("differing_columns"),
    )


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    ok_col: Column | str,
    margin: float = 0.02,
    alpha: float = 0.05,
) -> DataFrame:
    """Two-one-sided-tests (TOST) EQUIVALENCE of two pass rates — the
    statistically honest form of "the new engine matches the old one":
    a plain difference test that fails to reject proves nothing
    (absence of evidence), while TOST positively demonstrates the two
    rates differ by LESS than the margin: reject both

        H0a: p_a - p_b <= -margin   (z_lower > z_crit)
        H0b: p_a - p_b >= +margin   (z_upper < -z_crit)

    with the unpooled SE sqrt(pa qa / na + pb qb / nb) and z_crit =
    1.644854 (each one-sided test at alpha = 0.05 gives 90% CI
    containment — the standard TOST operating point). One aggregation
    over the filtered table; arithmetic finish. Returns one row:
    (n_a, n_b, rate_a, rate_b, diff, se, margin, z_lower, z_upper,
    equivalent), floats rounded to 6; zero-variance or empty sides
    yield NULL z's and equivalent=NULL (can't certify without
    variance).
    """
    okc = F.col(ok_col) if isinstance(ok_col, str) else ok_col
    z_crit = 1.644854 if alpha == 0.05 else None
    if z_crit is None:
        raise ValueError("tost_equivalence: only alpha=0.05 supported")
    base = df.filter(
        F.col(group_col).isin(group_a, group_b) & okc.isNotNull()
    ).select(
        (F.col(group_col) == group_a).alias("is_a"),
        okc.cast("double").alias("ok"),
    )
    agg = base.agg(
        F.sum(F.col("is_a").cast("long")).alias("n_a"),
        F.sum((~F.col("is_a")).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("is_a"), F.col("ok")).otherwise(0.0)).alias("__ka"),
        F.sum(F.when(~F.col("is_a"), F.col("ok")).otherwise(0.0)).alias("__kb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("__ka") / na
    pb = F.col("__kb") / nb
    se = F.sqrt(pa * (1.0 - pa) / na + pb * (1.0 - pb) / nb)
    d = pa - pb
    zl = (d + margin) / se
    zu = (d - margin) / se
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(F.col("n_a") > 0, F.round(pa, 6)).alias("rate_a"),
        F.when(F.col("n_b") > 0, F.round(pb, 6)).alias("rate_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(d, 6) + 0.0
        ).alias("diff"),
        F.when(ok, F.round(se, 6)).alias("se"),
        F.round(F.lit(margin), 6).alias("margin"),
        F.when(ok, F.round(zl, 6) + 0.0).alias("z_lower"),
        F.when(ok, F.round(zu, 6) + 0.0).alias("z_upper"),
        F.when(ok, (zl > z_crit) & (zu < -z_crit)).alias("equivalent"),
    )


def bland_altman(
    df: DataFrame,
    value_a: Column | str,
    value_b: Column | str,
) -> DataFrame:
    """Bland-Altman agreement for PAIRED continuous measurements — the
    continuous twin of the McNemar paired-verdict test: correlation
    between two scorers can be high while one systematically reads 10%
    higher; Bland-Altman reports the BIAS (mean paired difference) and
    the limits of agreement bias +/- 1.959964 sd(diff), inside which
    95% of paired differences fall if differences are roughly normal.
    The within-limits fraction is re-measured on the data (pct_within)
    so a heavy-tailed violation of that assumption is visible instead
    of assumed away.

    Two passes over the pairs (moments, then the within-limits rate
    against the broadcast limits) — both map-side-combinable
    aggregations, no sort, no pairs beyond the input's own. Returns
    one row: (n, bias, sd_diff, loa_lower, loa_upper, pct_within,
    mean_a, mean_b), floats rounded to 6; n < 2 yields NULL limits.
    """
    va = F.col(value_a) if isinstance(value_a, str) else value_a
    vb = F.col(value_b) if isinstance(value_b, str) else value_b
    base = df.filter(va.isNotNull() & vb.isNotNull()).select(
        va.cast("double").alias("a"), vb.cast("double").alias("b")
    )
    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("a") - F.col("b")).alias("bias"),
        F.stddev_samp(F.col("a") - F.col("b")).alias("sd"),
        F.avg("a").alias("mean_a"),
        F.avg("b").alias("mean_b"),
    )
    lo = F.col("bias") - 1.959964 * F.col("sd")
    hi = F.col("bias") + 1.959964 * F.col("sd")
    lim = m.select("n", "bias", "sd", "mean_a", "mean_b", lo.alias("lo"), hi.alias("hi"))
    within = base.crossJoin(F.broadcast(lim.select("lo", "hi"))).agg(
        F.avg(
            (
                ((F.col("a") - F.col("b")) >= F.col("lo"))
                & ((F.col("a") - F.col("b")) <= F.col("hi"))
            ).cast("double")
        ).alias("__w")
    )
    out = lim.crossJoin(F.broadcast(within))
    ok = F.col("n") >= 2
    return out.select(
        "n",
        F.round("bias", 6).alias("bias"),
        F.when(ok, F.round(F.col("sd"), 6)).alias("sd_diff"),
        F.when(ok, F.round(F.col("lo"), 6)).alias("loa_lower"),
        F.when(ok, F.round(F.col("hi"), 6)).alias("loa_upper"),
        F.when(ok, F.round(F.col("__w"), 6)).alias("pct_within"),
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def lin_ccc(
    df: DataFrame,
    value_a: Column | str,
    value_b: Column | str,
) -> DataFrame:
    """Lin's concordance correlation coefficient — the single-number
    twin of bland_altman: Pearson's r rewards two scorers that move
    together even when one reads systematically high, while CCC
    penalizes exactly that by measuring agreement with the 45-degree
    line:

        ccc = 2*cov(a,b) / (var(a) + var(b) + (mean_a - mean_b)^2)

    (population moments, per Lin 1989), factored as ccc = r * c_b where
    c_b in (0, 1] is the bias-correction term — so the output separates
    PRECISION (r: do they covary) from ACCURACY (c_b: are they on the
    line). One map-side-combinable aggregation over the pairs, no
    second pass. Returns one row: (n, mean_a, mean_b, pearson_r, c_b,
    ccc); either side constant yields NULL r and c_b (and ccc = 0 when
    only the means differ, as defined).
    """
    va = F.col(value_a) if isinstance(value_a, str) else value_a
    vb = F.col(value_b) if isinstance(value_b, str) else value_b
    base = df.filter(va.isNotNull() & vb.isNotNull()).select(
        va.cast("double").alias("a"), vb.cast("double").alias("b")
    )
    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("a").alias("ma"),
        F.avg("b").alias("mb"),
        F.var_pop("a").alias("va"),
        F.var_pop("b").alias("vb"),
        F.covar_pop("a", "b").alias("cab"),
    )
    shift = (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
    denom = F.col("va") + F.col("vb") + shift
    ccc = 2.0 * F.col("cab") / denom
    r = F.col("cab") / F.sqrt(F.col("va") * F.col("vb"))
    ok = (F.col("n") >= 2) & (denom > 0)
    var_ok = (F.col("va") > 0) & (F.col("vb") > 0)
    return m.select(
        "n",
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.when(ok & var_ok, F.round(r, 6) + 0.0).alias("pearson_r"),
        F.when(ok & var_ok & (r != 0), F.round(ccc / r, 6)).alias("c_b"),
        F.when(ok, F.round(ccc, 6) + 0.0).alias("ccc"),
    )
