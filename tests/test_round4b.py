"""Tests for the round-4b operator batch (triangle counting, embedding
Gram screen, evaluation/stat additions)."""

from __future__ import annotations

import pytest


def test_triangle_count_k4_complete_graph(spark):
    from jsonschema_validator_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b],
        "src int, dst int",
    )
    rows = {r["node"]: r for r in triangle_count(edges).collect()}
    assert set(rows) == {0, 1, 2, 3}
    for r in rows.values():
        assert r["degree"] == 3
        assert r["triangles"] == 3  # each K4 vertex sits in C(3,2)=3 triangles
        assert r["local_cc"] == 1.0


def test_triangle_count_path_and_degree_one(spark):
    from jsonschema_validator_spark.operators.graph import triangle_count

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    rows = {r["node"]: r for r in triangle_count(edges).collect()}
    assert rows[2]["degree"] == 2 and rows[2]["triangles"] == 0
    assert rows[2]["local_cc"] == 0.0
    # degree-1 endpoints: C(1,2)=0 wedges -> local_cc undefined (NULL)
    assert rows[1]["local_cc"] is None and rows[3]["local_cc"] is None


def test_triangle_count_collapses_multi_edges_and_self_loops(spark):
    from jsonschema_validator_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3), (3, 1), (None, 2)],
        "src int, dst int",
    )
    rows = {r["node"]: r for r in triangle_count(edges).collect()}
    assert set(rows) == {1, 2, 3}
    assert all(r["triangles"] == 1 for r in rows.values())
    assert all(r["degree"] == 2 for r in rows.values())


def test_triangle_count_matches_bruteforce_on_random_graph(spark):
    from itertools import combinations

    from jsonschema_validator_spark.operators.graph import triangle_count

    # deterministic pseudo-random graph on 12 nodes
    pairs = [
        (a, b)
        for a, b in combinations(range(12), 2)
        if (a * 31 + b * 17) % 3 == 0
    ]
    adj = {n: set() for n in range(12)}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    expected = {
        n: sum(
            1
            for x, y in combinations(sorted(adj[n]), 2)
            if y in adj[x]
        )
        for n in range(12)
        if adj[n]
    }
    edges = spark.createDataFrame(pairs, "src int, dst int")
    rows = {r["node"]: r["triangles"] for r in triangle_count(edges).collect()}
    assert rows == expected


def test_gram_spectrum_collapsed_embeddings(spark):
    from jsonschema_validator_spark.operators.similarity import gram_spectrum

    # all vectors on one ray -> all trace mass in one direction
    rows = [([1.0 * (i % 3 + 1), 2.0 * (i % 3 + 1), 0.0, 0.0],) for i in range(20)]
    df = spark.createDataFrame(rows, "v array<double>")
    r = gram_spectrum(df, "v", dim=4).collect()[0]
    assert r["n_vecs"] == 20 and r["n_bad"] == 0
    assert r["top_share"] > 0.999
    assert r["collapsed"] is True
    assert abs(r["effective_rank"] - 1.0) < 1e-3


def test_gram_spectrum_isotropic_and_bad_rows(spark):
    from jsonschema_validator_spark.operators.similarity import gram_spectrum

    # 4 orthogonal directions, equal mass -> share ~ 1/4, plus bad rows
    rows = []
    for i in range(40):
        v = [0.0, 0.0, 0.0, 0.0]
        v[i % 4] = 2.0
        rows.append((v,))
    rows.append((None,))
    rows.append(([1.0, 2.0],))  # wrong length
    df = spark.createDataFrame(rows, "v array<double>")
    r = gram_spectrum(df, "v", dim=4).collect()[0]
    assert r["n_vecs"] == 40 and r["n_bad"] == 2
    assert abs(r["top_share"] - 0.25) < 1e-6
    assert r["collapsed"] is False
    assert abs(r["effective_rank"] - 4.0) < 1e-4


def test_gram_spectrum_empty_input(spark):
    from jsonschema_validator_spark.operators.similarity import gram_spectrum

    df = spark.createDataFrame([], "v array<double>")
    r = gram_spectrum(df, "v", dim=4).collect()[0]
    assert r["n_vecs"] == 0 and r["lambda_top"] is None


def test_brier_identity_and_handworked(spark):
    from jsonschema_validator_spark.operators.evaluation import brier_decomposition

    # forecasts 0.8 (3 rows, 2 pos) and 0.2 (2 rows, 0 pos)
    rows = [(0.8, 1), (0.8, 1), (0.8, 0), (0.2, 0), (0.2, 0)]
    df = spark.createDataFrame(rows, "score double, label int")
    r = brier_decomposition(df, "score", "label").collect()[0]
    # brier = (3*(.8^2) - 2*.8*2 + 2 + 2*(.2^2)) / 5
    exp_brier = (3 * 0.64 - 3.2 + 2 + 2 * 0.04) / 5
    assert abs(r["brier"] - round(exp_brier, 6)) < 1e-9
    ybar = 2 / 5
    rel = (3 * (0.8 - 2 / 3) ** 2 + 2 * (0.2 - 0.0) ** 2) / 5
    res = (3 * (2 / 3 - ybar) ** 2 + 2 * (0.0 - ybar) ** 2) / 5
    assert abs(r["reliability"] - round(rel, 6)) < 1e-9
    assert abs(r["resolution"] - round(res, 6)) < 1e-9
    assert abs(r["uncertainty"] - round(ybar * (1 - ybar), 6)) < 1e-9
    assert r["identity_gap"] == 0.0


def test_retrieval_metrics_handworked(spark):
    from jsonschema_validator_spark.operators.evaluation import retrieval_metrics

    # q1: relevant {1, 2, 9}; ranking 1(rel), 3, 2(rel) at ranks 1..3
    ranked = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 3, 2), ("q1", 2, 3), ("q2", 7, 1)],
        "qid string, doc_id int, rank int",
    )
    truth = spark.createDataFrame(
        [("q1", 1), ("q1", 2), ("q1", 9), ("q3", 5)],
        "qid string, doc_id int",
    )
    out = {r["qid"]: r for r in retrieval_metrics(ranked, truth, k=3).collect()}
    q1 = out["q1"]
    assert q1["hits_at_k"] == 2 and q1["mrr"] == 1.0
    assert abs(q1["precision_at_k"] - round(2 / 3, 6)) < 1e-9
    assert abs(q1["recall_at_k"] - round(2 / 3, 6)) < 1e-9
    # AP = (1/1 + 2/3) / min(3, 3)
    assert abs(q1["ap_at_k"] - round((1 + 2 / 3) / 3, 6)) < 1e-9
    # q3 has truth but no ranked rows -> zeros; q2 has no truth -> absent
    assert out["q3"]["hits_at_k"] == 0 and out["q3"]["mrr"] == 0.0
    assert "q2" not in out


def test_t_closeness_identical_class_is_zero_and_skew_flags(spark):
    from jsonschema_validator_spark.operators.privacy import t_closeness

    rows = []
    # class A mirrors the global mix; class B is all value 0
    for v in (0, 1, 2, 3) * 5:
        rows.append(("A", v))
    for _ in range(20):
        rows.append(("B", 0))
    df = spark.createDataFrame(rows, "qi string, sens int")
    out = {r["qi"]: r for r in t_closeness(df, ["qi"], "sens", t=0.2).collect()}
    # global: value 0 has 25/40, others 5/40 each.
    # A (uniform): cum diffs -.375 -.25 -.125 0 -> EMD = .75/3 = .25
    # B (all-zero): cum diffs .375 .25 .125 0 -> same transport, .25
    assert out["A"]["emd"] == 0.25 and out["B"]["emd"] == 0.25
    assert out["A"]["t_violation"] is True
    assert out["B"]["t_violation"] is True
    # a lone class IS the global distribution -> EMD exactly 0
    solo = t_closeness(
        df.filter("qi = 'A'"), ["qi"], "sens", t=0.2
    ).collect()[0]
    assert solo["emd"] == 0.0 and solo["t_violation"] is False


def test_t_closeness_single_value_support_no_abort(spark):
    from jsonschema_validator_spark.operators.privacy import t_closeness

    df = spark.createDataFrame(
        [("A", 1), ("B", 1)], "qi string, sens int"
    )
    out = t_closeness(df, ["qi"], "sens").collect()
    assert all(r["emd"] == 0.0 for r in out)


def test_holt_absorbs_linear_trend(spark):
    import datetime

    from jsonschema_validator_spark.operators.timeseries import holt_screen

    # perfectly linear series: forecast is exact, all residuals 0
    rows = [
        ("g", datetime.datetime(2024, 1, 1 + i), 10.0 + 5.0 * i)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = holt_screen(df, "g", "ts", value="v").collect()
    resids = [r["residual"] for r in out if r["residual"] is not None]
    assert len(resids) == 11
    assert all(abs(x) < 1e-9 for x in resids)
    assert not any(r["flag"] for r in out)


def test_holt_flags_level_break(spark):
    import datetime

    from jsonschema_validator_spark.operators.timeseries import holt_screen

    vals = [10.0] * 10 + [60.0] + [10.0] * 5
    rows = [
        ("g", datetime.datetime(2024, 1, 1 + i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["day"]: r for r in holt_screen(df, "g", "ts", value="v", h_sigma=3.0).collect()}
    assert out["2024-01-11"]["flag"] is True
    assert not out["2024-01-05"]["flag"]


def test_cms_overestimates_and_exact_when_wide(spark):
    from jsonschema_validator_spark.operators.stats import (
        cms_estimate,
        count_min_sketch,
    )

    rows = [(i % 7,) for i in range(70)] + [(99,)] * 5
    df = spark.createDataFrame(rows, "k long")
    exact = {r["k"]: r["c"] for r in df.groupBy("k").agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("c")
    ).collect()}
    probes = df.select("k").distinct()
    # narrow sketch: estimates must never undercount
    counters = count_min_sketch(df, "k", width=4, depth=2)
    est = {r["k"]: r["cms_count"] for r in
           cms_estimate(counters, probes, "k", width=4, depth=2).collect()}
    assert all(est[k] >= exact[k] for k in exact)
    # wide sketch: few keys, many buckets -> exact with high probability
    counters_w = count_min_sketch(df, "k", width=4096, depth=3)
    est_w = {r["k"]: r["cms_count"] for r in
             cms_estimate(counters_w, probes, "k", width=4096, depth=3).collect()}
    assert est_w == exact
    # counter relation is bounded: depth x width max
    assert counters_w.count() <= 3 * 4096


def test_kendall_tau_handworked(spark):
    from jsonschema_validator_spark.operators.stats import kendall_tau

    # perfect monotone: tau_b = 1
    df = spark.createDataFrame([(i, i * 2) for i in range(6)], "x int, y int")
    assert kendall_tau(df, "x", "y").collect()[0]["tau_b"] == 1.0
    # perfect reverse: tau_b = -1
    df2 = spark.createDataFrame([(i, -i) for i in range(6)], "x int, y int")
    assert kendall_tau(df2, "x", "y").collect()[0]["tau_b"] == -1.0
    # textbook tie case: x=(1,2,3,4), y=(1,2,2,3): C=5, D=0, one y-tie pair
    df3 = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 2), (4, 3)], "x int, y int"
    )
    r = kendall_tau(df3, "x", "y").collect()[0]
    assert r["concordant"] == 5 and r["discordant"] == 0
    import math

    exp = 5 / math.sqrt(6 * (6 - 1))
    assert abs(r["tau_b"] - round(exp, 6)) < 1e-9
    # constant column -> NULL tau
    df4 = spark.createDataFrame([(1, 1), (2, 1)], "x int, y int")
    assert kendall_tau(df4, "x", "y").collect()[0]["tau_b"] is None


def test_welch_t_handworked(spark):
    from jsonschema_validator_spark.operators.stats import welch_t

    rows = [("a", v) for v in (1.0, 2.0, 3.0, 4.0)] + [
        ("b", v) for v in (10.0, 12.0, 14.0)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_t(df, "v", "g", "a", "b").collect()[0]
    na, nb = 4, 3
    ma, mb = 2.5, 12.0
    va = sum((x - ma) ** 2 for x in (1, 2, 3, 4)) / 3
    vb = sum((x - mb) ** 2 for x in (10, 12, 14)) / 2
    se2 = va / na + vb / nb
    t = (ma - mb) / se2**0.5
    dfw = se2**2 / ((va / na) ** 2 / 3 + (vb / nb) ** 2 / 2)
    assert r["n_a"] == 4 and r["n_b"] == 3
    assert abs(r["t_stat"] - round(t, 6)) < 1e-9
    assert abs(r["df_welch"] - round(dfw, 6)) < 1e-9
    assert r["flag"] is True
    # degenerate: single-row side -> NULL t, no flag
    df2 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "g string, v double")
    r2 = welch_t(df2, "v", "g", "a", "b").collect()[0]
    assert r2["t_stat"] is None and r2["flag"] is False


def test_stream_histogram_counts_additive_across_batches(spark, tmp_path):
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "in"
    d.mkdir()
    f1 = pd.DataFrame({"part": ["A"] * 6 + ["B"] * 4, "v": [5.0 * i for i in range(10)]})
    f2 = pd.DataFrame({"part": ["A"] * 3 + ["B"] * 7, "v": [3.0 * i for i in range(10)]})
    pq.write_table(pa.Table.from_pandas(f1), str(d / "f1.parquet"))
    pq.write_table(pa.Table.from_pandas(f2), str(d / "f2.parquet"))
    now = _time.time()
    os.utime(str(d / "f1.parquet"), (now, now))
    os.utime(str(d / "f2.parquet"), (now + 1, now + 1))

    out = str(tmp_path / "out")
    schema = spark.read.parquet(str(d)).schema

    # maxFilesPerTrigger=1 forces two micro-batches
    from jsonschema_validator_spark.operators.drift import bucketize, value_histogram
    from jsonschema_validator_spark.streaming.validate import stream_partials

    q = stream_partials(
        spark,
        str(d),
        schema,
        out,
        lambda df: {"hist": value_histogram(df, "v", "part", 5, 0.0, 50.0)},
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    sink = spark.read.parquet(f"{out}/hist")
    # two files -> two micro-batches: the sink must hold BOTH batch_ids,
    # so the parity below is genuinely additive across batches
    assert sink.select("batch_id").distinct().count() == 2
    summed = {
        (r["part"], r["bucket"]): r["n"]
        for r in sink.groupBy("part", "bucket").agg(F.sum("n").alias("n")).collect()
    }
    batch = spark.read.parquet(str(d)).select(
        "part", bucketize(F.col("v"), 0.0, 50.0, 5).alias("bucket")
    )
    expected = {
        (r["part"], r["bucket"]): r["n"]
        for r in batch.groupBy("part", "bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert summed == expected
