"""Hand-computed oracles for the round-4 statistical screens:
chi_squared / spearman_rho / anova_f (operators/stats.py) and
mann_whitney_u / jensen_shannon / histogram_distances
(operators/drift.py). Every expected value below is worked by hand in
the comment next to it."""

from __future__ import annotations

import math

import pytest

from pyspark.sql.types import DataType

from jsonschema_validator_spark.operators.drift import (
    drift_matrix,
    histogram_distances,
    jensen_shannon,
    ks_psi,
    ks_psi_from_histogram,
    mann_whitney_u,
    value_histogram,
)
from jsonschema_validator_spark.operators.stats import anova_f, chi_squared, spearman_rho


def test_chi_squared_exact_independence_is_zero(spark):
    # 2x2 with identical margins in every cell: observed == expected
    rows = [("x", "u")] * 10 + [("x", "v")] * 10 + [("y", "u")] * 10 + [("y", "v")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_squared(df, "a", "b").collect()[0]
    assert r["n"] == 40 and r["r"] == 2 and r["c"] == 2 and r["dof"] == 1
    assert r["chi2"] == 0.0 and r["cramers_v"] == 0.0


def test_chi_squared_perfect_association_with_zero_cells(spark):
    # (x,u) x4 and (y,v) x4 only: the two zero-observed cells must
    # contribute E=2 each. chi2 = 4 cells * (4-2)^2/2 resp (0-2)^2/2 = 8
    # = n, so Cramér's V = sqrt(8/(8*1)) = 1 (perfect 2x2 association).
    rows = [("x", "u")] * 4 + [("y", "v")] * 4
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_squared(df, "a", "b").collect()[0]
    assert r["chi2"] == 8.0
    assert r["cramers_v"] == 1.0


def test_chi_squared_null_is_a_level(spark):
    rows = [(None, "u")] * 3 + [("y", "v")] * 3
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_squared(df, "a", "b").collect()[0]
    assert r["r"] == 2 and r["n"] == 6 and r["cramers_v"] == 1.0


def test_spearman_monotone_and_known_value(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)], "x double, y double"
    )
    assert spearman_rho(df, "x", "y").collect()[0]["rho"] == 1.0
    # ranks of x = ranks of y = identity; y-permutation (1,3,2,4):
    # Pearson corr = 4/5 (worked: cov terms 2.25-0.25-0.25+2.25 = 4,
    # each variance 5)
    df2 = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 3.0), (3.0, 2.0), (4.0, 4.0)], "x double, y double"
    )
    r = spearman_rho(df2, "x", "y").collect()[0]
    assert r["n"] == 4 and r["rho"] == pytest.approx(0.8, abs=1e-9)


def test_spearman_excludes_null_pairs(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (None, 9.0), (3.0, None), (3.0, 3.0)],
        "x double, y double",
    )
    r = spearman_rho(df, "x", "y").collect()[0]
    assert r["n"] == 3 and r["rho"] == 1.0


def test_anova_known_f(spark):
    # a=[1,2,3] (mean 2), b=[2,3,4] (mean 3), grand 2.5:
    # ssb = 3*.25 + 3*.25 = 1.5, ssw = 2 + 2 = 4, f = 1.5/(4/4) = 1.5
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_f(df, "v", "g").collect()[0]
    assert r["k"] == 2 and r["n"] == 6 and r["df1"] == 1 and r["df2"] == 4
    assert r["ss_between"] == pytest.approx(1.5, abs=1e-9)
    assert r["ss_within"] == pytest.approx(4.0, abs=1e-9)
    assert r["f_stat"] == pytest.approx(1.5, abs=1e-9)


def test_mann_whitney_separated_and_tied(spark):
    # A=[1,2,3] vs B=[4,5,6]: U = 0, mu = 4.5,
    # sigma = sqrt(9/12 * 7) = sqrt(5.25), z = -4.5/sqrt(5.25)
    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 4.0), ("B", 5.0), ("B", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "v", "g", "A", "B").collect()[0]
    assert r["n1"] == 3 and r["n2"] == 3 and r["u"] == 0.0 and r["mu"] == 4.5
    assert r["sigma"] == pytest.approx(math.sqrt(5.25), abs=1e-6)
    assert r["z"] == pytest.approx(-4.5 / math.sqrt(5.25), abs=1e-6)
    assert not r["flag"]
    # tie across the two samples: A=[1,2], B=[2,3] -> midranks 1, 2.5,
    # 2.5, 4; U = 0.5, mu = 2, var = 1/3*(5 - 6/12) = 1.5
    rows2 = [("A", 1.0), ("A", 2.0), ("B", 2.0), ("B", 3.0)]
    df2 = spark.createDataFrame(rows2, "g string, v double")
    r2 = mann_whitney_u(df2, "v", "g", "A", "B").collect()[0]
    assert r2["u"] == 0.5 and r2["mu"] == 2.0
    assert r2["sigma"] == pytest.approx(math.sqrt(1.5), abs=1e-6)


def test_mann_whitney_ignores_other_groups_and_nulls(spark):
    rows = [("A", 1.0), ("B", 2.0), ("C", 99.0), ("A", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "v", "g", "A", "B").collect()[0]
    assert r["n1"] == 1 and r["n2"] == 1


def test_jsd_identical_is_zero_and_disjoint_is_one_bit(spark):
    # identical part distributions -> jsd 0 everywhere
    rows = [("p1", float(v)) for v in (5, 15)] * 6 + [
        ("p2", float(v)) for v in (5, 15)
    ] * 6
    df = spark.createDataFrame(rows, "p string, v double")
    out = {r["p"]: r for r in jensen_shannon(df, "v", "p", 0.0, 20.0, 2).collect()}
    assert out["p1"]["jsd_bits"] == 0.0 and out["p2"]["jsd_bits"] == 0.0
    assert not out["p1"]["flag"]
    # disjoint supports -> exactly 1 bit each (leave-one-out rest is
    # the other part)
    rows2 = [("p1", 1.0)] * 8 + [("p2", 19.0)] * 8
    df2 = spark.createDataFrame(rows2, "p string, v double")
    out2 = {r["p"]: r for r in jensen_shannon(df2, "v", "p", 0.0, 20.0, 2).collect()}
    assert out2["p1"]["jsd_bits"] == 1.0 and out2["p1"]["flag"]
    assert out2["p2"]["jsd_bits"] == 1.0


def test_jsd_leave_one_out_pools_the_rest(spark):
    # three parts: p1 and p2 identical on bucket 0, p3 on bucket 1.
    # For p3 the rest pools p1+p2 (all bucket 0) -> 1 bit; for p1 the
    # rest is half bucket-0 (p2) half bucket-1 (p3): p = (1,0),
    # q = (.5,.5), m = (.75,.25); jsd = .5*(1*log2(1/.75))
    # + .5*(.5*log2(.5/.75) + .5*log2(.5/.25))
    rows = [("p1", 1.0)] * 4 + [("p2", 1.0)] * 4 + [("p3", 19.0)] * 4
    df = spark.createDataFrame(rows, "p string, v double")
    out = {r["p"]: r for r in jensen_shannon(df, "v", "p", 0.0, 20.0, 2).collect()}
    expected_p1 = 0.5 * math.log2(1 / 0.75) + 0.5 * (
        0.5 * math.log2(0.5 / 0.75) + 0.5 * math.log2(0.5 / 0.25)
    )
    assert out["p1"]["jsd_bits"] == pytest.approx(expected_p1, abs=1e-6)
    assert out["p3"]["jsd_bits"] == 1.0


def test_jsd_lone_partition_has_no_rest(spark):
    # the leave-one-out rest of the only partition is empty: jsd_bits
    # and flag are NULL (DuckDB's division gives NULL too)
    df = spark.createDataFrame([("p1", 1.0), ("p1", 19.0)], "p string, v double")
    (r,) = jensen_shannon(df, "v", "p", 0.0, 20.0, 2).collect()
    assert (r["p"], r["n"], r["jsd_bits"], r["flag"]) == ("p1", 2, None, None)


def test_histogram_distances_hand_computed_and_empty_sides(spark):
    # pooled grid [0, 10] in 2 bins of width 5 (10 clamps into bin 1):
    # a = 0, 1 | 6, 10 -> (2, 2); b = 6, 7, 8, 10 -> (0, 4). Group c
    # and the NULL value are left out. BC = (0 + sqrt(2*4)) / sqrt(4*4)
    # = sqrt(.5); H = sqrt(1 - sqrt(.5)); TVD = .5 * (.5 + .5) = .5
    rows = [("a", v) for v in (0.0, 1.0, 6.0, 10.0)] + [("b", v) for v in (6.0, 7.0, 8.0, 10.0)]
    df = spark.createDataFrame(rows + [("c", 50.0), ("a", None)], "g string, v double")
    (r,) = histogram_distances(df, "v", "g", "a", "b", n_bins=2).collect()
    assert (r["n_a"], r["n_b"], r["n_bins"]) == (4, 4, 2)
    assert r["bhattacharyya"] == round(math.sqrt(0.5), 6)
    assert r["hellinger"] == round(math.sqrt(1 - math.sqrt(0.5)), 6)
    assert r["tvd"] == 0.5
    # one empty side: its size is 0 and every distance NULL; both empty:
    # the sizes are NULL too
    assert tuple(histogram_distances(df, "v", "g", "a", "nope", n_bins=2).first()) == (
        4, 0, 2, None, None, None,
    )
    assert tuple(histogram_distances(df, "v", "g", "x", "y", n_bins=2).first()) == (
        None, None, 2, None, None, None,
    )


def test_binned_drift_schemas(spark):
    # the five binned entry points keep the column names, types and
    # nullability of the Spark plans they used to return
    df = spark.createDataFrame(
        [("a", 1.0, "click"), ("a", 3.0, "purchase"), ("b", 2.0, "click")],
        "day string, v double, g string",
    )
    ks = "part string, n_rows bigint, n_base bigint, ks_stat double, psi double"
    cases = [
        (ks_psi(df, "v", "day", 5, lo=0.0, hi=5.0), ks),
        (ks_psi_from_histogram(value_histogram(df, "v", "day", 5, 0.0, 5.0), 5), ks),
        (
            drift_matrix(df, "v", "day", 5, 0.0, 5.0),
            "part_a string, part_b string, n_a bigint, n_b bigint, ks_stat double, psi double",
        ),
        (jensen_shannon(df, "v", "day", 0.0, 5.0, 5), "day string, n bigint, jsd_bits double, flag boolean"),
        (
            histogram_distances(df, "v", "g", "click", "purchase", 5),
            "n_a bigint, n_b bigint, n_bins int not null, hellinger double, tvd double, bhattacharyya double",
        ),
    ]
    for got, ddl in cases:
        assert got.schema == DataType.fromDDL(ddl), ddl


def test_pass_rate_wilson_hand_computed(spark):
    # part A: 9/10 pass. Wilson at z=1.959964, n=10, p=0.9:
    #   z2=3.84146, denom=1+z2/n=1.384146, center=0.9+z2/20=1.092073
    #   half=z*sqrt((0.9*0.1+z2/40)/10)=1.959964*sqrt(0.0186036)=0.267323
    #   lo=(1.092073-0.267323)/1.384146=0.595854 -> at_risk at SLA 0.95
    # part B: 0/4 pass -> hi=(z2/8+z*sqrt(z2/(16*4))/... with p=0
    #   center=z2/8=0.480183, half=z*sqrt((z2/16)/4)=0.480183*... compute:
    #   half=1.959964*sqrt(0.240091/16)... use algebra: lo must clamp >= 0
    #   and hi < 0.95 -> breach.
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.stats import pass_rate_wilson

    rows = [("A", 1)] * 9 + [("A", 0)] + [("B", 0)] * 4
    df = spark.createDataFrame(rows, "g string, ok int")
    out = {
        r["part"]: r
        for r in pass_rate_wilson(df, F.col("ok") == 1, "g", sla=0.95).collect()
    }
    a, b = out["A"], out["B"]
    assert (a["n"], a["passed"], a["rate"]) == (10, 9, 0.9)
    assert a["wilson_lo"] == pytest.approx(0.595850, abs=1e-4)
    assert a["verdict"] == "at_risk"
    # p=0: interval is [0, z2/(n+z2)] = [0, 3.84146/7.84146] = [0, 0.489907]
    assert (b["n"], b["passed"], b["rate"]) == (4, 0, 0.0)
    assert b["wilson_lo"] == 0.0
    assert b["wilson_hi"] == pytest.approx(0.489907, abs=1e-4)
    assert b["verdict"] == "breach"


def test_pass_rate_wilson_confident_met(spark):
    # 10000 rows all passing: p=1, lo = n/(n+z2) ~ 0.999616 >= 0.95 -> met
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.stats import pass_rate_wilson

    df = spark.range(10000).selectExpr("'A' AS g", "1 AS ok")
    r = pass_rate_wilson(df, F.col("ok") == 1, "g", sla=0.95).collect()[0]
    assert r["rate"] == 1.0 and r["verdict"] == "met"
    assert r["wilson_hi"] == 1.0


def test_kruskal_wallis_textbook_no_ties(spark):
    # Classic 3-group example, no ties. Values 1..9 split:
    #   A={1,2,3} ranks 1,2,3 -> R=6;  B={4,5,6} -> R=15; C={7,8,9} -> R=24
    # H = 12/(9*10) * (36/3 + 225/3 + 576/3) - 3*10
    #   = 0.133333*(12+75+192) - 30 = 0.133333*279 - 30 = 7.2
    from jsonschema_validator_spark.operators.stats import kruskal_wallis

    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0),
            ("B", 4.0), ("B", 5.0), ("B", 6.0),
            ("C", 7.0), ("C", 8.0), ("C", 9.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = kruskal_wallis(df, "v", "g").collect()[0]
    assert (r["k"], r["n"], r["dof"]) == (3, 9, 2)
    assert r["h_stat"] == pytest.approx(7.2, abs=1e-6)
    assert r["h_corrected"] == pytest.approx(7.2, abs=1e-6)  # C=1, no ties


def test_kruskal_wallis_ties_and_degenerate(spark):
    # All 6 rows share one value: midrank 3.5 everywhere.
    #   R_A = 3*3.5 = 10.5, R_B = 10.5; H = 12/(6*7)*(110.25/3*2) - 21
    #   = 0.285714*73.5 - 21 = 0. C = 1 - (216-6)/(216-6) = 0 -> NULL.
    from jsonschema_validator_spark.operators.stats import kruskal_wallis

    rows = [("A", 5.0)] * 3 + [("B", 5.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    r = kruskal_wallis(df, "v", "g").collect()[0]
    assert r["h_stat"] == pytest.approx(0.0, abs=1e-9)
    assert r["h_corrected"] is None


def test_kruskal_wallis_null_group_is_real_and_null_values_drop(spark):
    from jsonschema_validator_spark.operators.stats import kruskal_wallis

    rows = [("A", 1.0), ("A", 2.0), (None, 8.0), (None, 9.0), ("A", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = kruskal_wallis(df, "v", "g").collect()[0]
    # 4 usable rows, 2 groups; ranks 1,2 vs 3,4 -> R_A=3, R_null=7
    # H = 12/(4*5)*(9/2+49/2) - 15 = 0.6*29 - 15 = 2.4
    assert (r["k"], r["n"]) == (2, 4)
    assert r["h_stat"] == pytest.approx(2.4, abs=1e-6)


def test_bh_fdr_step_up_textbook(spark):
    # p = .01 .02 .03 .04 .5, m=5: raw bounds are .05 .05 .05 .05 .5;
    # reverse running min -> q = .05 for ranks 1-4, .5 for rank 5.
    from jsonschema_validator_spark.operators.stats import bh_fdr

    rows = [("t1", 0.01), ("t2", 0.02), ("t3", 0.03), ("t4", 0.04), ("t5", 0.5)]
    df = spark.createDataFrame(rows, "test string, p double")
    out = {r["test"]: r for r in bh_fdr(df, "p", ["test"], alpha=0.05).collect()}
    assert all(out[t]["q_value"] == 0.05 and out[t]["reject"] for t in ("t1", "t2", "t3", "t4"))
    assert out["t5"]["q_value"] == 0.5 and not out["t5"]["reject"]
    assert out["t1"]["rank"] == 1 and out["t1"]["m"] == 5


def test_bh_fdr_rejects_fewer_than_per_test_alpha(spark):
    # p=.04 alone would reject at alpha=.05; with a second p=.1 the BH
    # bound is .04*2/1=.08 -> q=.08 -> neither rejects. Step-up, not
    # per-test thresholding.
    from jsonschema_validator_spark.operators.stats import bh_fdr

    df = spark.createDataFrame([("a", 0.04), ("b", 0.1)], "test string, p double")
    out = {r["test"]: r for r in bh_fdr(df, "p", ["test"], alpha=0.05).collect()}
    assert out["a"]["q_value"] == 0.08 and not out["a"]["reject"]
    assert out["b"]["q_value"] == 0.1 and not out["b"]["reject"]


def test_ks_p_asymptotic_bounds(spark):
    # D=0 -> alternating series sums to 1, doubled = 2, clamps to 1.
    # ne=100, D=0.5 -> lam2=25 -> p ~ 2*exp(-50) ~ 4e-22 -> rounds to 0.
    import math

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.drift import ks_p_asymptotic

    df = spark.createDataFrame([(0.0, 200, 200), (0.5, 200, 200)], "d double, na int, nb int")
    rows = df.select(
        "d", ks_p_asymptotic(F.col("d"), F.col("na"), F.col("nb")).alias("p")
    ).collect()
    out = {r["d"]: r["p"] for r in rows}
    assert out[0.0] == 1.0
    assert out[0.5] == pytest.approx(2 * math.exp(-2 * 100 * 0.25), rel=1e-6)


def test_cochran_armitage_hand_computed_degrading(spark):
    # 3 days, scores 0,1,2: (n, r) = (10, 10), (10, 5), (10, 0).
    # N=30, R=15, pbar=.5. sn=0*10+1*10+2*10=30, ssn=0+10+40=50,
    # sr=0*10+1*5+2*0=5. T = 5 - .5*30 = -10.
    # Var = .25*(50 - 900/30) = .25*20 = 5. z = -10/sqrt(5) = -4.472136.
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.stats import cochran_armitage

    rows = (
        [("d1", 1)] * 10
        + [("d2", 1)] * 5 + [("d2", 0)] * 5
        + [("d3", 0)] * 10
    )
    df = spark.createDataFrame(rows, "day string, ok int")
    r = cochran_armitage(df, F.col("ok") == 1, "day").collect()[0]
    assert (r["k"], r["n"], r["passed"]) == (3, 30, 15)
    assert r["t_stat"] == pytest.approx(-10.0)
    assert r["var_t"] == pytest.approx(5.0)
    assert r["z"] == pytest.approx(-4.472136, abs=1e-6)
    assert r["trend"] == "degrading"


def test_cochran_armitage_degenerate_all_pass_is_stable(spark):
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.stats import cochran_armitage

    rows = [("d1", 1)] * 5 + [("d2", 1)] * 5
    df = spark.createDataFrame(rows, "day string, ok int")
    r = cochran_armitage(df, F.col("ok") == 1, "day").collect()[0]
    assert r["var_t"] == 0.0 and r["z"] is None and r["trend"] == "stable"


def test_median_ci_hand_computed(spark):
    # 9 values 1..9 in one group: n=9, sqrt(n)=3, z~1.96.
    #   l = max(1, floor((9-5.879892)/2)) = floor(1.56) = 1
    #   u = min(9, ceil((9+5.879892)/2 + 1)) = ceil(8.44) = 9
    #   median = x_5 = 5 (odd n: m1=m2=5)
    from jsonschema_validator_spark.operators.stats import median_ci

    rows = [("g", float(i)) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = median_ci(df, "v", "g").collect()[0]
    assert (r["n"], r["median"]) == (9, 5.0)
    assert (r["ci_lo"], r["ci_hi"]) == (1.0, 9.0)


def test_median_ci_even_n_averages_central_and_ties(spark):
    # 4 values 1,2,2,7: median = (x_2 + x_3)/2 = (2+2)/2 = 2.
    # l = max(1, floor((4-3.92)/2)) = max(1, 0) = 1 -> x_1 = 1
    # u = min(4, ceil((4+3.92)/2+1)) = min(4, 5) = 4 -> x_4 = 7
    from jsonschema_validator_spark.operators.stats import median_ci

    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 7.0)], "g string, v double"
    )
    r = median_ci(df, "v", "g").collect()[0]
    assert (r["n"], r["median"], r["ci_lo"], r["ci_hi"]) == (4, 2.0, 1.0, 7.0)


def test_median_ci_large_group_brackets_true_median(spark):
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.stats import median_ci

    df = spark.range(10001).select(
        F.lit("g").alias("g"), F.col("id").cast("double").alias("v")
    )
    r = median_ci(df, "v", "g").collect()[0]
    assert r["median"] == 5000.0
    assert r["ci_lo"] < 5000.0 < r["ci_hi"]
    # interval is tight at n=10001: ~ +/- z*sqrt(n)/2 ~ 98 ranks
    assert r["ci_hi"] - r["ci_lo"] < 250


def test_association_lift_hand_computed(spark):
    # N=8: (x,u)x3 (x,v)x1 (y,u)x1 (y,v)x3.
    # n_x=4, n_y=4, n_u=4, n_v=4.
    # lift(x,u) = 8*3/(4*4) = 1.5 (over-represented);
    # lift(x,v) = 8*1/16 = 0.5; confidence(x->u) = 3/4.
    from jsonschema_validator_spark.operators.stats import association_lift

    rows = [("x", "u")] * 3 + [("x", "v")] + [("y", "u")] + [("y", "v")] * 3
    df = spark.createDataFrame(rows, "a string, b string")
    out = {(r["a"], r["b"]): r for r in association_lift(df, "a", "b").collect()}
    assert out[("x", "u")]["lift"] == 1.5
    assert out[("x", "u")]["confidence"] == 0.75
    assert out[("x", "u")]["support"] == 0.375
    assert out[("x", "v")]["lift"] == 0.5
    assert out[("y", "v")]["n_a"] == 4 and out[("y", "v")]["n_b"] == 4


def test_association_lift_null_level_and_min_support(spark):
    from jsonschema_validator_spark.operators.stats import association_lift

    rows = [(None, "u")] * 4 + [("y", "v")] * 4
    df = spark.createDataFrame(rows, "a string, b string")
    out = association_lift(df, "a", "b").collect()
    # NULL is a real level: 2 cells, each perfectly associated (lift 2)
    assert len(out) == 2 and all(r["lift"] == 2.0 for r in out)
    # min_support prunes cells below threshold
    pruned = association_lift(df, "a", "b", min_support=0.6).collect()
    assert pruned == []


def test_weighted_quantile_hand_computed(spark):
    # values 10,20,30 with weights 1,1,8: W=10.
    #   q25 -> cum>=2.5 first at v=30? cum: 10->1, 20->2, 30->10.
    #   q25: first cum>=2.5 is 30; q50: cum>=5 -> 30; unweighted median
    #   would be 20 — the weight moves every quartile to 30.
    from jsonschema_validator_spark.operators.stats import weighted_quantile

    rows = [("g", 10.0, 1.0), ("g", 20.0, 1.0), ("g", 30.0, 8.0)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    r = weighted_quantile(df, "v", "w", "g").collect()[0]
    assert r["total_weight"] == 10.0
    assert (r["q_25"], r["q_50"], r["q_75"]) == (30.0, 30.0, 30.0)


def test_weighted_quantile_equal_weights_match_plain_and_guards(spark):
    # equal weights reduce to the plain left-continuous quantile;
    # NULL / zero / negative weights and NULL values are excluded.
    from jsonschema_validator_spark.operators.stats import weighted_quantile

    rows = [("g", float(v), 1.0) for v in range(1, 5)] + [
        ("g", 99.0, 0.0), ("g", 98.0, -5.0), ("g", None, 1.0), ("g", 97.0, None)
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    r = weighted_quantile(df, "v", "w", "g").collect()[0]
    assert r["total_weight"] == 4.0
    # cum: 1->1, 2->2, 3->3, 4->4; q25: cum>=1 -> 1; q50: cum>=2 -> 2
    assert (r["q_25"], r["q_50"], r["q_75"]) == (1.0, 2.0, 3.0)


def test_weighted_quantile_tied_values_pool_weight(spark):
    from jsonschema_validator_spark.operators.stats import weighted_quantile

    rows = [("g", 5.0, 2.0), ("g", 5.0, 2.0), ("g", 9.0, 1.0)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    r = weighted_quantile(df, "v", "w", "g", qs=(0.5, 0.9)).collect()[0]
    # pooled weight at 5 is 4 of 5 total: q50 -> 5; q90 -> cum>=4.5 -> 9
    assert r["q_50"] == 5.0 and r["q_90"] == 9.0


def test_time_weighted_mean_hand_computed(spark):
    # one user: value 10 held 1s, then 1000 held 9s, then a final
    # observation (no successor, excluded). TWAP = (10*1 + 1000*9)/10
    # = 901; plain mean over the stepped rows = 505.
    import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import time_weighted_mean

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(seconds=1), 1000.0),
        (1, t0 + dt.timedelta(seconds=10), 7.0),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    r = time_weighted_mean(df, "u", "ts", "v").collect()[0]
    assert (r["n_steps"], r["span_seconds"]) == (2, 10.0)
    assert r["twap"] == pytest.approx(901.0)
    assert r["plain_mean"] == pytest.approx(505.0)


def test_time_weighted_mean_single_obs_and_ties(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import time_weighted_mean

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 5.0),                                   # single obs: no row
        (2, t0, 1.0), (2, t0, 9.0),                     # tied ts: zero weight
        (2, t0 + dt.timedelta(seconds=2), 3.0),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    out = {r["part"]: r for r in time_weighted_mean(df, "u", "ts", "v").collect()}
    assert 1 not in out
    # group 2: one zero-duration step + one 2s step at the OTHER tied
    # value -> twap = value of whichever tied row lead() ordered first,
    # but the zero-weight step contributes nothing either way
    assert out[2]["span_seconds"] == 2.0
    assert out[2]["twap"] in (1.0, 9.0)


def test_circular_time_profile_concentrated_and_wrapped(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import (
        circular_time_profile,
    )

    # group A: all events at exactly 06:00 -> peak 6.0, R=1, z=n
    # group B: 23:00 and 01:00 -> circular mean = 00:00 (midnight),
    #   where a linear mean would say 12:00. R = cos(pi/12) ~ 0.965926.
    rows = (
        [("A", dt.datetime(2024, 1, d, 6, 0, 0)) for d in range(1, 5)]
        + [("B", dt.datetime(2024, 1, 1, 23, 0, 0)),
           ("B", dt.datetime(2024, 1, 2, 1, 0, 0))]
    )
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r["part"]: r for r in circular_time_profile(df, "g", "ts").collect()}
    a, b = out["A"], out["B"]
    assert a["peak_hour"] == pytest.approx(6.0, abs=1e-6)
    assert a["r_bar"] == pytest.approx(1.0, abs=1e-9)
    assert a["rayleigh_z"] == pytest.approx(4.0, abs=1e-6)
    assert b["peak_hour"] == pytest.approx(0.0, abs=1e-6) or b["peak_hour"] == pytest.approx(24.0, abs=1e-6)
    assert b["r_bar"] == pytest.approx(0.965926, abs=1e-5)


def test_circular_time_profile_uniform_is_not_rhythmic(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.timeseries import (
        circular_time_profile,
    )

    # 24 events, one per hour: perfectly uniform -> R ~ 0, not rhythmic
    rows = [("u", dt.datetime(2024, 1, 1, h, 0, 0)) for h in range(24)]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    r = circular_time_profile(df, "g", "ts").collect()[0]
    assert r["r_bar"] == pytest.approx(0.0, abs=1e-9)
    assert not r["rhythmic"]


def test_species_richness_hand_computed(spark):
    # keys: a,a,a, b,b, c, d -> n=7, d_obs=4, f1=2 (c,d), f2=1 (b)
    # chao1 = 4 + 4/(2*1) = 6; coverage = 1 - 2/7 = 0.714286
    from jsonschema_validator_spark.operators.stats import species_richness

    rows = [("a",)] * 3 + [("b",)] * 2 + [("c",)] + [("d",)]
    df = spark.createDataFrame(rows, "k string")
    r = species_richness(df, "k").collect()[0]
    assert (r["n"], r["d_obs"], r["f1"], r["f2"]) == (7, 4, 2, 1)
    assert r["chao1"] == 6.0
    assert r["coverage"] == pytest.approx(5 / 7, abs=1e-6)


def test_species_richness_all_singletons_and_saturated(spark):
    from jsonschema_validator_spark.operators.stats import species_richness

    # all singletons, f2=0: bias-corrected chao1 = d + f1(f1-1)/2;
    # coverage 0 — nowhere near saturated.
    df = spark.createDataFrame([(str(i),) for i in range(5)], "k string")
    r = species_richness(df, "k").collect()[0]
    assert r["chao1"] == 5 + 5 * 4 / 2 and r["coverage"] == 0.0

    # fully saturated: no singletons -> chao1 = d_obs, coverage 1
    df = spark.createDataFrame([("x",)] * 10 + [("y",)] * 10, "k string")
    r = species_richness(df, "k").collect()[0]
    assert r["chao1"] == 2.0 and r["coverage"] == 1.0


def test_neyman_allocation_hand_computed(spark):
    # stratum A: 4 rows of alternating 0/10 (sd ~ 5.773503);
    # stratum B: 4 rows all equal (sd 0) -> Neyman gives B nothing,
    # proportional gives it half the budget.
    from jsonschema_validator_spark.operators.sampling import neyman_allocation

    rows = [("A", 0.0), ("A", 10.0), ("A", 0.0), ("A", 10.0),
            ("B", 7.0), ("B", 7.0), ("B", 7.0), ("B", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["part"]: r for r in neyman_allocation(df, "g", "v", 100).collect()}
    a, b = out["A"], out["B"]
    assert a["stddev"] == pytest.approx(5.773503, abs=1e-6)
    assert a["neyman_n"] == pytest.approx(100.0)      # all budget to A
    assert b["neyman_n"] == 0.0
    assert a["proportional_n"] == 50.0 and b["proportional_n"] == 50.0
    assert a["capped"]  # optimum 100 > N_A = 4: take-all stratum


def test_neyman_allocation_degenerate_all_constant(spark):
    from jsonschema_validator_spark.operators.sampling import neyman_allocation

    df = spark.createDataFrame([("A", 1.0), ("B", 1.0)], "g string, v double")
    out = {r["part"]: r for r in neyman_allocation(df, "g", "v", 10).collect()}
    # zero total variance: Neyman undefined -> 0 allocations, use proportional
    assert all(r["neyman_n"] == 0.0 for r in out.values())
    assert out["A"]["proportional_n"] == 5.0


def test_mann_whitney_cliffs_delta_bounds_and_sign(spark):
    from jsonschema_validator_spark.operators.drift import mann_whitney_u

    # A completely above B: every A beats every B -> delta = +1
    rows = [("A", 10.0), ("A", 11.0), ("B", 1.0), ("B", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "v", "g", "A", "B").collect()[0]
    assert r["cliffs_delta"] == 1.0

    # identical distributions -> delta = 0
    rows = [("A", 5.0), ("A", 7.0), ("B", 5.0), ("B", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "v", "g", "A", "B").collect()[0]
    assert r["cliffs_delta"] == 0.0


def test_sax_fingerprint_ramp_and_flat(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import sax_fingerprint

    # group 'ramp': daily count rises 1,2,...,8 over 8 days -> with 8
    # segments each day is its own slice; z-normalized ramp crosses the
    # quartile breakpoints monotonically -> word is non-decreasing
    # a..d and uses both extremes.
    rows = []
    for d in range(8):
        rows += [("ramp", dt.datetime(2024, 1, 1 + d, 12))] * (d + 1)
        rows += [("flat", dt.datetime(2024, 1, 1 + d, 12))] * 5
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r["part"]: r for r in sax_fingerprint(df, "g", "ts", segments=8).collect()}
    ramp, flat = out["ramp"]["word"], out["flat"]["word"]
    assert len(ramp) == 8 and ramp == "".join(sorted(ramp))
    assert ramp[0] == "a" and ramp[-1] == "d"
    # constant series: sd = 0 -> all z = 0 -> all 'c' (z=0 sits in the
    # half-open [0, 0.6745) band under the strict-< breakpoints)
    assert flat == "c" * 8
    assert out["ramp"]["n_days"] == 8


def test_rfm_segments_hand_computed(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.sessions import rfm_segments

    # 5 users with strictly increasing recency/frequency/monetary in
    # the SAME order -> ntile(5) gives user i score i on every axis.
    rows = []
    for u in range(1, 6):
        for k in range(u):  # frequency = u
            rows.append((u, dt.datetime(2024, 1, u, 12), float(10 * u)))
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    out = {r["user"]: r for r in rfm_segments(df, "u", "ts", "v").collect()}
    for u in range(1, 6):
        assert out[u]["segment"] == f"{u}{u}{u}", out[u]
    assert out[5]["frequency"] == 5 and out[5]["monetary"] == 250.0


def test_rfm_segments_null_user_and_value(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.sessions import rfm_segments

    rows = [(None, dt.datetime(2024, 1, 1), 5.0), (1, dt.datetime(2024, 1, 2), None)]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    out = rfm_segments(df, "u", "ts", "v").collect()
    assert len(out) == 1 and out[0]["monetary"] == 0.0


def test_burstiness_periodic_poisson_bursty(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import burstiness

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # periodic: exact 1h gaps -> sd = 0 -> B = -1
    for h in range(6):
        rows.append(("cron", t0 + dt.timedelta(hours=h)))
    # bursty: 9 co-arrivals then one huge gap -> 9 gaps (8 zeros + g):
    # mu = g/9, sd = g/3 exactly -> B = (g/3 - g/9)/(g/3 + g/9) = 0.5
    for s in [0] * 9 + [864000]:
        rows.append(("burst", t0 + dt.timedelta(seconds=s)))
    # too few events: 2 events = 1 gap -> B NULL
    rows += [("tiny", t0), ("tiny", t0 + dt.timedelta(hours=1))]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r["part"]: r for r in burstiness(df, "g", "ts").collect()}
    assert out["cron"]["b"] == -1.0 and out["cron"]["rhythm"] == "periodic"
    assert out["burst"]["b"] > 1.0 / 3 and out["burst"]["rhythm"] == "bursty"
    assert out["tiny"]["b"] is None and out["tiny"]["rhythm"] is None


def test_cross_correlation_planted_lead(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import cross_correlation

    # b(t) copies a(t-2) with an IRREGULAR daily pattern (a linear ramp
    # would correlate perfectly at EVERY lag): r=1 only at lag +2.
    counts = [1, 5, 2, 8, 3, 9, 1, 7, 4, 6]
    rows = []
    for d, c in enumerate(counts):
        rows += [("a", dt.datetime(2024, 1, 1 + d, 12))] * c
        rows += [("b", dt.datetime(2024, 1, 3 + d, 12))] * c
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r["lag"]: r for r in cross_correlation(df, "g", "ts", "a", "b", max_lag=3).collect()}
    assert out[2]["r"] == pytest.approx(1.0, abs=1e-9)
    assert out[2]["n"] == 10
    # at other lags the overlap correlates but NOT perfectly
    assert out[0]["r"] is None or out[0]["r"] < 1.0
    assert len(out) == 7  # every lag -3..3 present even if sparse


def test_max_drawdown_hand_geometry(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import max_drawdown

    # daily counts: 10, 4, 8, 20, 5 -> worst collapse is 20 -> 5
    # (dd 0.75), not the earlier 10 -> 4 (dd 0.6).
    counts = [10, 4, 8, 20, 5]
    rows = []
    for d, c in enumerate(counts):
        rows += [("g", dt.datetime(2024, 1, 1 + d, 12))] * c
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    r = max_drawdown(df, "g", "ts").collect()[0]
    assert r["drawdown"] == pytest.approx(0.75)
    assert r["peak_day"] == "2024-01-04" and r["trough_day"] == "2024-01-05"
    assert (r["peak"], r["trough"], r["n_days"]) == (20.0, 5.0, 5)


def test_max_drawdown_monotone_rise_is_zero(spark):
    import datetime as dt

    from jsonschema_validator_spark.operators.timeseries import max_drawdown

    rows = []
    for d in range(4):
        rows += [("g", dt.datetime(2024, 1, 1 + d, 12))] * (d + 1)
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    r = max_drawdown(df, "g", "ts").collect()[0]
    assert r["drawdown"] == 0.0
    # zero-drawdown tie-break: the LATEST peak day wins the struct max
    assert r["peak_day"] == "2024-01-04" and r["trough_day"] == "2024-01-04"


def test_ks_uniform_contract_accepts_and_rejects(spark):
    from jsonschema_validator_spark.operators.drift import ks_uniform_contract

    # a perfect uniform grid on [0, 100): D = 1/(2n) ... actually with
    # points at (i+0.5)*step the ECDF straddles F0 symmetrically:
    # worst gap = 1/(2n) = 0.005 << crit -> contract holds
    grid = [("ok", (i + 0.5),) for i in range(100)]
    # everything piled at one end: F0(1)=0.01 but ECDF=1 -> D ~ 0.99
    pile = [("bad", 1.0)] * 100
    df = spark.createDataFrame(grid + pile, "g string, v double")
    out = {r["part"]: r for r in
           ks_uniform_contract(df, "v", "g", 0.0, 100.0).collect()}
    assert out["ok"]["contract_ok"]
    assert out["ok"]["d_stat"] == pytest.approx(0.005, abs=1e-9)
    assert not out["bad"]["contract_ok"]
    assert out["bad"]["d_stat"] == pytest.approx(0.99, abs=1e-6)


def test_ks_uniform_contract_out_of_support_is_maximal_evidence(spark):
    from jsonschema_validator_spark.operators.drift import ks_uniform_contract

    # values far above hi: F0 clamps to 1, ECDF below them is 0 at the
    # left of the jump -> D = 1 (as non-uniform as it gets)
    df = spark.createDataFrame([("g", 999.0)] * 5, "g string, v double")
    r = ks_uniform_contract(df, "v", "g", 0.0, 100.0).collect()[0]
    assert r["d_stat"] == 1.0 and not r["contract_ok"]


def test_simpsons_check_classic_reversal(spark):
    from jsonschema_validator_spark.operators.stats import simpsons_check

    # textbook construction: within each group y DECREASES in x, but
    # the higher-x group sits at much higher y, so pooled slope is
    # positive -> full paradox.
    rows = [
        ("g1", 1.0, 10.0), ("g1", 2.0, 9.0), ("g1", 3.0, 8.0),
        ("g2", 11.0, 30.0), ("g2", 12.0, 29.0), ("g2", 13.0, 28.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = simpsons_check(df, "x", "y", "g").collect()[0]
    assert r["pooled_slope"] > 0
    assert r["n_defined"] == 2 and r["n_disagree"] == 2 and r["n_agree"] == 0
    assert r["paradox"] and r["sign_mixed"]


def test_simpsons_check_consistent_trend_no_paradox(spark):
    from jsonschema_validator_spark.operators.stats import simpsons_check

    rows = [("a", float(i), float(2 * i)) for i in range(5)] + [
        ("b", float(i), float(2 * i + 1)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = simpsons_check(df, "x", "y", "g").collect()[0]
    assert r["pooled_slope"] > 0 and r["n_agree"] == 2
    assert not r["paradox"] and not r["sign_mixed"]
