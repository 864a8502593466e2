"""Graph centrality over interaction/transition graphs — PageRank with
a FIXED iteration count, the batch-reproducible form: convergence-
threshold PageRank gives environment-dependent iteration counts, while
k fixed power-iteration steps from the uniform vector are a pure
function of the edge multiset and exactly replayable by a SQL oracle
(same reasoning as clustering.kmeans and preference.bradley_terry).

Reference parity note: outside the reference validator's scope
(macisamuele/jsonschema-validator validates keywords); this is the
analytics tier of SURVEY.md §2.

Scale: the raw event stream reduces to the weighted edge relation by
ONE groupBy(src, dst) — O(distinct edges), not O(rows). Each power
step is one join of the rank vector against the edge relation plus a
groupBy(dst): shuffles are on node keys, map-side combinable, and the
rank vector never leaves the cluster (no collect; dangling mass is a
single scalar aggregate per step, O(1) to the driver per iteration).
The steps run in operators/fixpoint: that aggregate is also the job
that checkpoints the step, so lineage does not grow with `iters`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame
from .fixpoint import fixpoint


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank after exactly ``iters`` power steps from uniform.

    Edges with NULL endpoints are dropped; parallel edges (or the
    ``weight`` column) accumulate into one weighted edge. Out-edge
    weights are row-normalized into transition probabilities; the rank
    mass of dangling nodes (no out-edges) is redistributed uniformly
    each step, so total rank stays exactly 1:

        pr'(v) = (1-d)/N + d * (sum_u pr(u) P(v|u) + dangling/N)

    Returns (node, rank) with rank rounded to 6. Self-loops are kept
    (they are real transitions in a retry-heavy event stream and the
    oracle replays them identically).
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .groupBy(F.col(src).cast("string").alias("__s"), F.col(dst).cast("string").alias("__d"))
        .agg(F.sum(w).alias("__w"))
    )
    out = e.groupBy("__s").agg(F.sum("__w").alias("__out"))
    trans = e.join(out, "__s").select(
        "__s", "__d", (F.col("__w") / F.col("__out")).alias("__p")
    )
    # every node, flagged dangling unless it has an out-edge: a round's
    # probe is then the dangling mass its power step redistributes
    nodes = (
        e.select(F.col("__s").alias("node"), F.lit(False).alias("__dangling"))
        .union(e.select(F.col("__d").alias("node"), F.lit(True).alias("__dangling")))
        .groupBy("node")
        .agg(F.min("__dangling").alias("__dangling"))
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return local_frame(edges.sparkSession, [], "node string, rank double")
    base = (1.0 - damping) / n_nodes

    def step(pr: DataFrame, row) -> DataFrame:
        inflow = (
            pr.join(trans, pr["node"] == trans["__s"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum(F.col("__pr") * F.col("__p")).alias("__in"))
        )
        return pr.join(inflow, "node", "left").select(
            "node",
            (
                F.lit(base)
                + damping * (F.coalesce(F.col("__in"), F.lit(0.0)) + row["m"] / n_nodes)
            ).alias("__pr"),
            "__dangling",
        )

    pr = fixpoint(
        nodes.withColumn("__pr", F.lit(1.0 / n_nodes)),
        [F.coalesce(F.sum(F.when(F.col("__dangling"), F.col("__pr"))), F.lit(0.0)).alias("m")],
        step,
        iters,
    )
    return pr.select("node", F.round("__pr", 6).alias("rank"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over the undirected simple graph induced by ``edges``.

    The scalable shape is the classic degree-orientation algorithm
    (Schank & Wagner 2005; the MapReduce form in Suri & Vassilvitskii
    2011, both public): orient every undirected edge from its
    lower-(degree, id) endpoint to its higher one, generate wedges only
    at each edge's LOWEST-ranked vertex, and close them with one
    equi-join back against the oriented edge set. Orientation bounds
    wedge fan-out by graph arboricity, so a celebrity node of degree
    d generates O(arboricity) wedges per edge instead of O(d^2) — the
    skew guard that makes the wedge join survive power-law graphs.
    Every shuffle is an equi-join / groupBy on node keys; the raw input
    reduces to the DISTINCT edge relation first.

    Self-loops and NULL endpoints drop; parallel edges collapse.
    Returns (node, degree, triangles, local_cc) for every node, where
    local_cc = triangles / C(degree, 2) and NULL when degree < 2.
    Endpoint columns must share one comparable type (the canonical
    least/greatest ordering is type-dependent, and the oracle must
    replay it).
    """
    e = (
        edges.filter(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("rb"),
    )
    o1 = oriented.select(F.col("a"), F.col("b").alias("x"), F.col("rb").alias("rx"))
    o2 = oriented.select(F.col("a"), F.col("b").alias("y"), F.col("rb").alias("ry"))
    wedges = o1.join(o2, "a").filter(
        (F.col("rx") < F.col("ry"))
        | ((F.col("rx") == F.col("ry")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("a", "x", "y")
    per_node = (
        tri.select(F.explode(F.array("a", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1) / 2.0),
                ),
                6,
            ).alias("local_cc"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, public paper) of
    the undirected simple graph: the Pearson correlation of the
    degrees at the two ends of each edge. r > 0 — hubs attach to hubs
    (social-graph shape); r < 0 — hubs attach to leaves
    (hub-and-spoke, the shape of a catalog or a star schema); r ~ 0 —
    degree-blind wiring. For a co-occurrence graph built from
    transactions, a strongly negative r is the signature of a few
    dominant items touching everything — exactly where the dedup /
    similarity passes need their skew guards, so this is the
    read-it-first diagnostic for graph-shaped operators (triangles,
    pagerank, components).

    Computation over the canonicalized edge set (self-loops dropped,
    parallel edges collapsed, both directions materialized so each
    undirected edge contributes its two ordered endpoint pairs — the
    standard convention that makes the two marginals identical):
    degrees from ONE groupBy of the edge list, then the correlation's
    sums over the ordered-pair relation — O(edges) rows end to end,
    no windows, no iteration.

    Returns one row: (n_nodes, n_edges, mean_degree, assortativity) —
    assortativity NULL for a degree-regular graph (zero variance:
    correlation undefined, stated).
    """
    base = (
        edges.filter(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .select(
            F.least(F.col(src).cast("string"), F.col(dst).cast("string")).alias("a"),
            F.greatest(F.col(src).cast("string"), F.col(dst).cast("string")).alias("b"),
        )
        .distinct()
    )
    directed = base.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(base.select(F.col("b").alias("u"), F.col("a").alias("v")))
    deg = directed.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    paired = (
        directed.join(deg, "u")
        .withColumnRenamed("d", "du")
        .join(deg.withColumnRenamed("u", "v").withColumnRenamed("d", "dv"), "v")
    )
    agg = paired.agg(
        F.count(F.lit(1)).cast("double").alias("m2"),
        F.sum(F.col("du").cast("double")).alias("sx"),
        F.sum(F.col("dv").cast("double")).alias("sy"),
        F.sum((F.col("du") * F.col("du")).cast("double")).alias("sxx"),
        F.sum((F.col("dv") * F.col("dv")).cast("double")).alias("syy"),
        F.sum((F.col("du") * F.col("dv")).cast("double")).alias("sxy"),
    )
    counts = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    ).crossJoin(deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    m = F.col("m2")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / m
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / m
    vy = F.col("syy") - F.col("sy") * F.col("sy") / m
    r = F.when((vx > 1e-9) & (vy > 1e-9), cov / F.sqrt(vx * vy))
    return agg.crossJoin(F.broadcast(counts)).select(
        "n_nodes",
        "n_edges",
        F.round(
            2.0 * F.col("n_edges") / F.col("n_nodes"), 6
        ).alias("mean_degree"),
        F.round(r, 6).alias("assortativity"),
    )
