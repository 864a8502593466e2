"""Round-5 fixes: the four ADVICE r4 edge cases and the VERDICT r4 #2
sample-scale guards on the O(N^2) truth baselines."""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------- ADVICE #1
def test_rbo_ungrouped_empty_intersection_yields_zero_row(spark):
    """Fully reversed rankings with n > 2*depth: no item is inside both
    depth-D prefixes, so the stepped relation is empty — the ungrouped
    path must still emit ONE row with rbo exactly 0 (it used to return
    zero rows via crossJoin against the empty aggregate)."""
    from jsonschema_validator_spark.operators.evaluation import rank_biased_overlap

    n = 20
    rows = [(i, float(i), float(n - i)) for i in range(n)]
    df = spark.createDataFrame(rows, "item int, sa double, sb double")
    out = rank_biased_overlap(df, "item", "sa", "sb", depth=5).collect()
    assert len(out) == 1
    assert out[0]["rbo"] == 0.0
    assert out[0]["n_items"] == n


def test_rbo_ungrouped_normal_path_unchanged(spark):
    """Identical rankings keep truncated RBO = 1 - p^D on the
    rewritten join (the documented truncation deficit)."""
    from jsonschema_validator_spark.operators.evaluation import rank_biased_overlap

    rows = [(i, float(i), float(i) * 2.0) for i in range(10)]
    df = spark.createDataFrame(rows, "item int, sa double, sb double")
    out = rank_biased_overlap(df, "item", "sa", "sb", depth=10).collect()
    assert len(out) == 1
    assert out[0]["rbo"] == pytest.approx(1.0 - 0.9**10, abs=1e-4)


# ---------------------------------------------------------------- ADVICE #2
def test_record_count_beyond_harmonic_cap_says_undetermined(spark):
    """A series longer than the 10000-day harmonic table must emit an
    explicit 'undetermined' verdict (NULL z), not silently fall through
    to consistent_with_iid."""
    from pyspark.sql import functions as F
    from jsonschema_validator_spark.operators.extremes import record_count_test

    import datetime

    base = datetime.datetime(1990, 1, 1)
    df = (
        spark.range(10_001)
        .select(
            F.lit("g1").alias("grp"),
            (F.lit(base) + F.make_interval(days=F.col("id").cast("int"))).alias(
                "ts"
            ),
            (F.col("id") % 7).cast("double").alias("v"),
        )
    )
    out = record_count_test(df, "grp", "ts", value="v").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 10_001
    assert r["verdict"] == "undetermined"
    assert r["z_up"] is None and r["z_low"] is None


def test_record_count_within_cap_still_tests(spark):
    from pyspark.sql import functions as F
    from jsonschema_validator_spark.operators.extremes import record_count_test

    import datetime

    base = datetime.datetime(2024, 1, 1)
    df = spark.range(100).select(
        F.lit("g1").alias("grp"),
        (F.lit(base) + F.make_interval(days=F.col("id").cast("int"))).alias("ts"),
        F.col("id").cast("double").alias("v"),  # strictly increasing
    )
    r = record_count_test(df, "grp", "ts", value="v").collect()[0]
    assert r["verdict"] == "trending_up"
    assert r["z_up"] is not None


# ---------------------------------------------------------------- ADVICE #3
def test_weighted_kappa_all_excluded_group_retained(spark):
    """A group whose labels are ALL out-of-range must still appear in
    the output with its n_excluded count (n=0, NULL kappa) instead of
    vanishing with the confusion-matrix grid."""
    from jsonschema_validator_spark.operators.agreement import weighted_kappa

    rows = [
        ("good", 0, 0),
        ("good", 1, 2),
        ("good", 2, 2),
        ("good", 1, 1),
        ("bad", 9, 9),   # out of range for levels=3
        ("bad", None, 1),
        ("bad", 2, -1),
    ]
    df = spark.createDataFrame(rows, "grp string, ra int, rb int")
    out = {
        r["grp"]: r
        for r in weighted_kappa(df, "ra", "rb", levels=3, group="grp").collect()
    }
    assert set(out) == {"good", "bad"}
    bad = out["bad"]
    assert bad["n"] == 0
    assert bad["n_excluded"] == 3
    assert bad["kappa_w"] is None
    good = out["good"]
    assert good["n"] == 4 and good["n_excluded"] == 0
    assert good["kappa_w"] is not None


def test_weighted_kappa_ungrouped_all_excluded(spark):
    from jsonschema_validator_spark.operators.agreement import weighted_kappa

    rows = [(None, 1), (5, 0), (0, None)]
    df = spark.createDataFrame(rows, "ra int, rb int")
    out = weighted_kappa(df, "ra", "rb", levels=3).collect()
    assert len(out) == 1
    assert out[0]["n"] == 0 and out[0]["n_excluded"] == 3
    assert out[0]["kappa_w"] is None


# ---------------------------------------------------------------- ADVICE #4
def test_haar_energy_all_zero_series_null_frac(spark):
    """All-zero series: energy fractions are NULL (0/0 undefined), the
    orthonormality check still passes (0 == 0)."""
    from jsonschema_validator_spark.operators.timeseries import haar_energy

    df = spark.createDataFrame(
        [(i, 0.0) for i in range(8)], "idx int, x double"
    )
    out = haar_energy(df, "idx", "x", levels=2).collect()
    assert len(out) == 3  # detail_L1, detail_L2, approx
    for r in out:
        assert r["frac"] is None
        assert r["energy"] == 0.0
        assert r["energy_check"] is True


def test_haar_energy_nonzero_unchanged(spark):
    from jsonschema_validator_spark.operators.timeseries import haar_energy

    xs = [1.0, 3.0, 2.0, 2.0, 5.0, 1.0, 0.0, 4.0]
    df = spark.createDataFrame(list(enumerate(xs)), "idx int, x double")
    out = haar_energy(df, "idx", "x", levels=3).collect()
    total = sum(x * x for x in xs)
    assert sum(r["energy"] for r in out) == pytest.approx(total, abs=1e-5)
    assert sum(r["frac"] for r in out) == pytest.approx(1.0, abs=1e-4)
    assert all(r["energy_check"] for r in out)


# ------------------------------------------------------- VERDICT #2 guards
@pytest.fixture()
def tiny_vectors(spark):
    rows = [(i, [float(i), 1.0, 0.5 * i]) for i in range(12)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_brute_force_topk_guard_raises(spark, tiny_vectors):
    from jsonschema_validator_spark.operators.similarity import brute_force_topk

    with pytest.raises(ValueError, match="truth baseline"):
        brute_force_topk(
            tiny_vectors, "vec_id", "embedding", [0], k=3, max_rows=5
        )
    # under the ceiling: unchanged
    out = brute_force_topk(
        tiny_vectors, "vec_id", "embedding", [0], k=3, max_rows=12
    ).collect()
    assert len(out) == 3


def test_exact_near_duplicates_guard_raises(spark, tiny_vectors):
    from jsonschema_validator_spark.operators.similarity import (
        cosine_near_duplicates,
    )

    with pytest.raises(ValueError, match="truth baseline"):
        cosine_near_duplicates(
            tiny_vectors, "vec_id", "embedding", threshold=0.9,
            n_planes=0, max_rows=5,
        ).collect()


def test_knn_label_agreement_guard_raises(spark):
    from jsonschema_validator_spark.operators.similarity import (
        knn_label_agreement,
    )

    rows = [(i, [float(i), 1.0], i % 2) for i in range(10)]
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>, label int"
    )
    with pytest.raises(ValueError, match="truth baseline"):
        knn_label_agreement(df, "vec_id", "embedding", "label", k=3, max_rows=5)
    out = knn_label_agreement(
        df, "vec_id", "embedding", "label", k=3, max_rows=100
    ).collect()
    assert len(out) == 2


# ------------------------------------------------------- VERDICT #8 IVF sample
def test_ivf_hash_threshold_sample_matches_sort_formulation(spark):
    """The hash-threshold + driver-trim sample must equal the old
    orderBy(hash).limit(n) TakeOrdered sample exactly (the pinned
    recall oracles depend on bit-identical centroids)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, [float(i)]) for i in range(500)], "vec_id int, embedding array<double>"
    )
    n = 64
    _M = 1_000_003
    hcol = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(_M))
    want = [
        r["vec_id"]
        for r in df.select("vec_id").orderBy(hcol, F.col("vec_id")).limit(n).collect()
    ]
    cutoff = min(_M, int(_M * 1.25 * n / 500) + 1)
    while True:
        pool = df.select("vec_id", hcol.alias("__h")).filter(F.col("__h") < cutoff).collect()
        if len(pool) >= n or cutoff >= _M:
            break
        cutoff = min(_M, cutoff * 2)
    pool.sort(key=lambda r: (r["__h"], r["vec_id"]))
    got = [r["vec_id"] for r in pool[:n]]
    assert got == want


# --------------------------------------------------- VERDICT #3 tree rework
def test_tree_paths_deep_chain_quadrupling(spark):
    """A single 300-deep chain resolves exactly (depth i for node i)
    under the two-doublings-per-round loop — ceil(log4 300) = 5
    materialized rounds."""
    from jsonschema_validator_spark.operators.trees import tree_paths

    n = 300
    rows = [(i, i - 1 if i else None) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, parent long")
    got = {r["id"]: (r["depth"], r["root"]) for r in tree_paths(df, "id", "parent").collect()}
    assert got == {i: (i, 0) for i in range(n)}


def test_tree_paths_cycle_raises(spark):
    from jsonschema_validator_spark.operators.trees import (
        TreeNotConverged,
        tree_paths,
    )

    df = spark.createDataFrame(
        [(1, 3), (2, 1), (3, 2), (10, None), (11, 10)], "id long, parent long"
    )
    with pytest.raises(TreeNotConverged, match="cycle"):
        tree_paths(df, "id", "parent", max_iters=5).count()


def test_tree_paths_orphan_raises(spark):
    from jsonschema_validator_spark.operators.trees import (
        TreeNotConverged,
        tree_paths,
    )

    df = spark.createDataFrame(
        [(1, None), (2, 99), (3, 2)], "id long, parent long"
    )
    with pytest.raises(TreeNotConverged, match="orphan"):
        tree_paths(df, "id", "parent").count()


def test_linearize_packed_extraction_matches_contract(spark):
    """Best-leaf selection on the collect_list+mapInPandas extraction:
    max score wins, NULL scores lose to any real score, ties break to
    the smallest id, path is root-first."""
    from jsonschema_validator_spark.operators.trees import linearize_best_path

    rows = [
        (1, None, None),   # root, unscored
        (2, 1, 0.7),
        (3, 1, 0.7),       # tie with 2 -> 2 wins (smaller id)
        (4, 3, None),      # NULL leaf never beats a scored one
        (20, None, None),  # fully unscored tree: leaf 21 still emitted
        (21, 20, None),
    ]
    df = spark.createDataFrame(rows, "id long, parent long, score double")
    got = {r["root"]: r for r in linearize_best_path(df, "id", "parent", "score").collect()}
    assert got[1]["leaf_id"] == 2 and got[1]["path"] == "1->2"
    assert got[20]["leaf_id"] == 21 and got[20]["path"] == "20->21"


@pytest.mark.parametrize("nan_first", [True, False])
def test_linearize_nan_leaf_never_wins(spark, nan_first):
    """A NaN-scored leaf ranks with the unscored ones: the 0.5 leaf wins
    whichever row comes first."""
    from jsonschema_validator_spark.operators.trees import linearize_best_path

    leaves = [(2, 1, float("nan")), (3, 1, 0.5)]
    rows = [(1, None, None)] + (leaves if nan_first else leaves[::-1])
    df = spark.createDataFrame(rows, "id long, parent long, score double").coalesce(1)
    (got,) = linearize_best_path(df, "id", "parent", "score").collect()
    assert got["leaf_id"] == 3 and got["path"] == "1->3"
