"""Reciprocal-rank fusion (operators/similarity.rrf_fuse) and the l2
metric branch of brute_force_topk."""

from __future__ import annotations

import math


def _emb(spark):
    # vectors chosen so cosine and euclidean DISAGREE: id 3 points the
    # same direction as the query (cos=1) but far away; id 2 is close
    # in space but angled.
    rows = [
        (0, [1.0, 0.0]),      # query
        (1, [0.9, 0.1]),
        (2, [0.8, 0.55]),
        (3, [5.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_l2_and_cosine_orderings_differ(spark):
    from jsonschema_validator_spark.operators.similarity import brute_force_topk

    df = _emb(spark)
    cos = [r["neighbor_id"] for r in brute_force_topk(df, "vec_id", "embedding", [0], k=3).orderBy("rank").collect()]
    l2 = [r["neighbor_id"] for r in brute_force_topk(df, "vec_id", "embedding", [0], k=3, metric="l2").orderBy("rank").collect()]
    assert cos[0] == 3  # same direction wins cosine
    assert l2[0] == 1  # nearest point wins euclidean
    assert cos != l2


def test_rrf_scores_and_missing_members(spark):
    from jsonschema_validator_spark.operators.similarity import (
        brute_force_topk,
        rrf_fuse,
    )

    df = _emb(spark)
    a = brute_force_topk(df, "vec_id", "embedding", [0], k=2)  # cos: [3, 1]
    b = brute_force_topk(df, "vec_id", "embedding", [0], k=2, metric="l2")  # l2: [1, 3]... check below
    fused = rrf_fuse([a.select("query_id", "rank", "neighbor_id"), b.select("query_id", "rank", "neighbor_id")], k=4)
    rows = {r["neighbor_id"]: (r["rank"], r["rrf"]) for r in fused.collect()}
    # neighbor 1 and 3 appear in both lists; 2 in at most one
    in_both = [n for n, (_, s) in rows.items() if s > 1.9 / 62]
    for n in in_both:
        ranks = []
        for lst in (a, b):
            m = {r["neighbor_id"]: r["rank"] for r in lst.collect()}
            if n in m:
                ranks.append(m[n])
        expect = sum(1.0 / (60 + r) for r in ranks)
        assert math.isclose(rows[n][1], round(expect, 6), abs_tol=1e-9)


def test_rrf_rank_is_dense_and_bounded(spark):
    from jsonschema_validator_spark.operators.similarity import (
        brute_force_topk,
        rrf_fuse,
    )

    df = _emb(spark)
    a = brute_force_topk(df, "vec_id", "embedding", [0], k=3)
    fused = rrf_fuse([a.select("query_id", "rank", "neighbor_id")], k=2)
    ranks = sorted(r["rank"] for r in fused.collect())
    assert ranks == [1, 2]


def test_knn_label_agreement_flags_planted_mislabels(spark):
    """Two tight blobs; three points of blob A carry blob B's label —
    their agreement is ~0 and they surface as suspects under B."""
    from jsonschema_validator_spark.operators.similarity import knn_label_agreement

    rows = []
    for i in range(20):
        rows.append((i, [10.0 + (i % 5) * 0.01, 0.0], 0))        # blob A, label 0
    for i in range(20, 40):
        rows.append((i, [0.0, 10.0 + (i % 5) * 0.01], 1))        # blob B, label 1
    for i in range(40, 43):
        rows.append((i, [10.0 + (i % 3) * 0.02, 0.0], 1))        # mislabeled: in A, label 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in knn_label_agreement(df, "vec_id", "embedding", "label", k=5).collect()}
    assert out[0]["mean_agreement"] > 0.9 and out[0]["n_suspect"] == 0
    assert out[1]["n_suspect"] == 3  # exactly the planted mislabels


def test_knn_label_agreement_null_labels_stay_null(spark):
    """A nullable int label column reaches pandas as float64 with NaN for
    NULL: a NULL-label query point gets NULL agreement (not 0.0), and
    NULL-label neighbors are left out of the other points' mean. A
    group without any agreement has NULL suspects, as SQL's SUM gives."""
    from jsonschema_validator_spark.operators.similarity import knn_label_agreement

    rows = [(i, [10.0 + i * 0.01, 0.0], 0) for i in range(6)]
    rows += [(i, [10.0 + i * 0.01, 0.0], None) for i in range(6, 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in knn_label_agreement(df, "vec_id", "embedding", "label", k=7).collect()}
    assert (out[0]["n_points"], out[0]["mean_agreement"], out[0]["n_suspect"]) == (6, 1.0, 0)
    assert (out[None]["n_points"], out[None]["mean_agreement"], out[None]["n_suspect"]) == (2, None, None)


def test_knn_label_agreement_one_row_corpus(spark):
    """A one-row corpus has no neighbor (k clamps to 0): its agreement is
    NULL rather than an executor error."""
    from jsonschema_validator_spark.operators.similarity import knn_label_agreement

    df = spark.createDataFrame([(1, [1.0, 0.0], 3)], "vec_id long, embedding array<double>, label int")
    out = knn_label_agreement(df, "vec_id", "embedding", "label", k=5).collect()
    assert [(r["label"], r["n_points"], r["mean_agreement"], r["n_suspect"]) for r in out] == [(3, 1, None, None)]
