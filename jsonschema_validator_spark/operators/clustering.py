"""Distributed Lloyd k-means over an embedding column — the clustering
primitive the LLM-data pipeline uses for topic bucketing / diversity
sampling, and the iterative-algorithm complement to the coarse
sample-trained quantizer inside similarity.ivf_topk (which trains on a
driver-side sample; here BOTH steps — assignment and centroid update —
run on the cluster, so it holds at 100 TB where no sample is
representative enough for final assignments anyway).

Per iteration:
  - ASSIGN: one scan; each vector scores the k centroid literals with a
    deterministic left-to-right fold (F.aggregate over F.zip_with — no
    UDF, whole-stage codegen) and takes arg-min with an explicit
    (dist2, cid) tie-break so the result is partition-order independent.
  - UPDATE: per-dimension means via posexplode + groupBy(cluster, pos)
    — one shuffle of (cluster, pos, partial-sum) thanks to map-side
    combine; the driver materializes only k x dim doubles per iteration
    (the canonical Lloyd sync point; 8 x 64 here, still tiny at any
    data scale). Empty clusters keep their previous centroid.

Initialization is the k lowest ids' vectors — fully deterministic and
replayable by the SQL oracle (no RNG; contrast
/root/reference/src/scope_builder.rs:17-19 which keys anonymous scopes
with uuid4 — determinism is a design deviation recorded in SURVEY §1.4).
Reference analogy: none (the reference is a validator); this operator
belongs to SURVEY §2.5's pipeline-operator envelope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dist2(vec_col, centroid: list[float]):
    """Squared L2 distance between an array<double> column and a centroid
    literal, as a deterministic sequential fold (index order, like the
    oracle's list_sum over list_transform)."""
    cent = F.array(*[F.lit(float(x)).cast("double") for x in centroid])
    return F.aggregate(
        F.zip_with(vec_col, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_nearest(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """(id, cluster, dist2): arg-min over the centroid list with a
    (dist2, cid) struct-sort tie-break — ties go to the lowest cluster
    id in both engines. Centroids ride the plan as literals (k x dim
    doubles), so assignment is a single shuffle-free projection."""
    scored = F.array_sort(
        F.array(
            *[
                F.struct(
                    _dist2(F.col(vec_col), c).alias("dist2"),
                    F.lit(int(cid)).alias("cluster"),
                )
                for cid, c in centroids
            ]
        )
    )[0]
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        scored["cluster"].alias("cluster"),
        scored["dist2"].alias("dist2"),
    )


def _init_centroids(df: DataFrame, id_col: str, vec_col: str, k: int) -> list[tuple[int, list[float]]]:
    """Deterministic init: the k lowest-id vectors, cluster id = rank in
    that ordering. A bounded k-row collect."""
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("i")
        .limit(k)
        .collect()
    )
    return [(j, list(r["v"])) for j, r in enumerate(rows)]


def kmeans(
    df: DataFrame, id_col: str, vec_col: str, k: int = 4, iters: int = 2
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """`iters` full Lloyd iterations; returns (final assignment DF,
    final centroids). Each iteration is one assign scan + one
    (cluster, pos) aggregation; the only driver traffic is k x dim
    doubles per iteration."""
    vec_d = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col), vec_d.alias("__v"))
    centroids = _init_centroids(df, id_col, vec_col, k)
    assigned = assign_nearest(base, id_col, "__v", centroids)
    for _ in range(iters):
        means = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        centroids = [
            (
                cid,
                [by_cluster[cid][p] for p in sorted(by_cluster[cid])]
                if cid in by_cluster
                else old,
            )
            for cid, old in centroids
        ]
        assigned = assign_nearest(base, id_col, "__v", centroids)
    return assigned, centroids


def kmeans_summary(
    df: DataFrame, id_col: str, vec_col: str, k: int = 4, iters: int = 2
) -> DataFrame:
    """Per-cluster rollup of the final assignment: (cluster, n,
    inertia, mean_dist2) — the quality signal a curation pipeline
    thresholds on. One aggregation over the final assign scan."""
    assigned, _ = kmeans(df, id_col, vec_col, k=k, iters=iters)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("dist2"), 4).alias("inertia"),
            F.round(F.avg("dist2"), 6).alias("mean_dist2"),
        )
        .orderBy("cluster")
    )
