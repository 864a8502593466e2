"""Tree-structured transcript operators: depth + root resolution over
parent-pointer tables by POINTER DOUBLING.

Agent transcripts branch — retries, tool fan-out, tree-of-thought
exploration — so the production table often carries (turn_id,
parent_turn_id) rather than a flat (conv_id, turn_idx) order. The two
structural queries everything else builds on are "how deep is every
node" (for depth screens / truncation budgets) and "which root does
every node belong to" (the tree analog of the conversation key).

Scale shape — the whole point of this module: a naive one-step walk
(depth += 1 per join) costs O(max_depth) shuffles, unusable at
thousand-turn agent sessions; pointer doubling squares the hop length
each round (ptr' = ptr.ptr, dist' = dist + ptr.dist), so a depth-D
forest resolves in ceil(log2 D) self-joins. The rounds run in
operators/fixpoint, the loop connected components and PageRank share.
Each round shuffles only (id, ptr, dist, root?) — payload never rides
along.

Cycles (corrupt parent pointers) cannot terminate the recursion; after
``max_iters`` rounds (two doubling steps per round — supports depth
4**max_iters) unresolved pointers raise ``TreeNotConverged`` listing
sample offenders — a screen must fail loudly on the corruption it
exists to catch, never spin or silently truncate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint


class TreeNotConverged(RuntimeError):
    """Parent chains did not resolve within max_iters doubling rounds —
    a cycle, or a forest deeper than 2**max_iters."""


def tree_paths(
    df: DataFrame,
    id_col: str,
    parent_col: str,
    max_iters: int = 40,
) -> DataFrame:
    """(id, depth, root) for every node of a parent-pointer forest.

    Roots are rows with NULL parent (depth 0, root = self). A non-NULL
    parent that never appears as an id is an ORPHAN pointer — resolved
    nodes treat the dangling ancestor as a root-of-record is WRONG, so
    orphans raise ``TreeNotConverged`` too (referential integrity of
    the pointer column is operators/integrity.py's job; this operator
    refuses to guess).

    Pointer-doubling state per node: (ptr, dist, root) where ptr is the
    current known ancestor, dist the exact hop count to it, and root is
    set once ptr is a root. Each round applies TWO doubling transitions
    (join the state to itself on ptr = id: resolved ancestors finalize
    root, unresolved ones double their reach), so reach quadruples per
    materialized round — ceil(log2 depth) self-join shuffles in
    ceil(log4 depth) scheduled jobs.
    """
    state = df.select(
        F.col(id_col).alias("id"),
        F.col(parent_col).alias("ptr"),
        F.when(F.col(parent_col).isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("dist"),
        F.when(F.col(parent_col).isNull(), F.col(id_col)).alias("root"),
        F.lit(False).alias("__orphan"),
    )

    pending = F.col("root").isNull()

    def sample(state: DataFrame, cond) -> list:
        return [r["id"] for r in state.filter(cond).select("id").limit(5).collect()]

    def step(state: DataFrame, row) -> DataFrame | None:
        if row["o"]:
            ids = sample(state, "__orphan")
            raise TreeNotConverged(f"parent pointers reference missing ids (orphans), e.g. {ids}")
        # TWO doubling steps per round (pointer QUADRUPLING) halve the
        # rounds, and per-round fixed cost, not shuffle volume, is what
        # the loop pays for; a round's lineage stays two joins deep
        return _double_step(_double_step(state)) if row["p"] else None

    def exhausted(state: DataFrame, row) -> Exception:
        return TreeNotConverged(
            f"nodes unresolved after {max_iters} quadrupling rounds "
            f"(cycle or depth > 4**{max_iters}), e.g. {sample(state, pending)}"
        )

    # the pending and orphan counts are each round's one job
    probe = [F.sum(pending.cast("long")).alias("p"), F.sum(F.col("__orphan").cast("long")).alias("o")]
    state = fixpoint(state, probe, step, max_iters, exhausted)
    return state.select("id", F.col("dist").alias("depth"), "root")


def _double_step(state: DataFrame) -> DataFrame:
    """One pointer-doubling transition on the (id, ptr, dist, root,
    __orphan) state relation: resolved rows pass through, pending rows
    jump to their ancestor's pointer (ptr' = ptr.ptr, dist' = dist +
    ptr.dist), finalizing root when the ancestor is resolved. A pending
    node whose ptr has no matching id is an orphan — the left join
    leaves __adist NULL and the node can never resolve."""
    anc = state.select(
        F.col("id").alias("__aid"),
        F.col("ptr").alias("__aptr"),
        F.col("dist").alias("__adist"),
        F.col("root").alias("__aroot"),
    )
    pending = state.filter(F.col("root").isNull())
    resolved = state.filter(F.col("root").isNotNull())
    stepped = pending.join(anc, pending["ptr"] == anc["__aid"], "left").select(
        "id",
        F.coalesce("__aptr", "ptr").alias("ptr"),
        (F.col("dist") + F.col("__adist")).alias("dist"),
        F.when(F.col("__aroot").isNotNull(), F.col("__aroot")).alias("root"),
        F.col("__adist").isNull().alias("__orphan"),
    )
    return resolved.unionByName(stepped)


def linearize_best_path(
    df: DataFrame,
    id_col: str,
    parent_col: str,
    score_col: str,
    max_iters: int = 40,
) -> DataFrame:
    """Collapse each tree to ONE root-to-leaf path — how a branched
    transcript becomes a linear training sequence: pick the
    highest-scoring leaf (ties to the smallest id, so the choice is a
    pure function of the data) and emit its full ancestry in root-first
    order.

    Plan: tree_paths resolves (root, depth) for every node in O(log
    depth) rounds; path EXTRACTION packs each tree's (id, parent,
    score, leaf) edges into ONE row via a JVM-side collect_list
    aggregation (partial+final — the shuffle moves the same edge
    payload a grouped-pandas formulation would, but Python then sees
    only O(trees) rows), and one mapInPandas pass walks the chosen
    leaf's parent chain per tree — the per-group pandas-DataFrame
    construction overhead of applyInPandas (~ms per tree, dominant at
    thousands of small trees) is what this shape removes. Same
    per-conversation-fits-in-a-worker assumption every conversation
    operator in this package already makes (a path is bounded by the
    context length, not the corpus). NULL and NaN scores never win
    unless no leaf of the tree has a real score (both map below every
    real score, so ties among them go to the smallest id).

    Output: (root, leaf_id, n_turns, path) with path the '->'-joined id
    chain root -> leaf.
    """
    import pandas as pd

    # the (often window-derived) input feeds three plans below — the
    # doubling state, the node relation, and the child-flag relation;
    # one lazy checkpoint computes it once instead of three times
    df = df.localCheckpoint(eager=False)
    paths = tree_paths(df, id_col, parent_col, max_iters=max_iters)
    lowest = F.lit(float("-inf"))
    nodes = df.select(
        F.col(id_col).alias("id"),
        F.col(parent_col).alias("parent"),
        F.nanvl(F.coalesce(F.col(score_col).cast("double"), lowest), lowest).alias("score"),
    ).join(paths.select("id", "root"), "id")
    children = df.filter(F.col(parent_col).isNotNull()).select(
        F.col(parent_col).alias("id"), F.lit(True).alias("__has_child")
    ).distinct()
    nodes = nodes.join(children, "id", "left").withColumn(
        "__leaf", F.col("__has_child").isNull()
    )
    packed = nodes.groupBy("root").agg(
        F.collect_list(
            F.struct("id", "parent", "score", "__leaf")
        ).alias("__edges")
    )

    def walk(batches):
        for pdf in batches:
            roots, leaf_ids, n_turns, paths_out = [], [], [], []
            for edges in pdf["__edges"]:
                parent = {e["id"]: e["parent"] for e in edges}
                # argmax score over leaves, tie -> smallest id
                best = min(
                    (e for e in edges if e["__leaf"]),
                    key=lambda e: (-e["score"], e["id"]),
                )
                chain, cur = [], best["id"]
                while cur is not None and not pd.isna(cur):
                    chain.append(int(cur))
                    cur = parent.get(int(cur))
                chain.reverse()
                roots.append(chain[0])
                leaf_ids.append(int(best["id"]))
                n_turns.append(len(chain))
                paths_out.append("->".join(str(c) for c in chain))
            yield pd.DataFrame(
                {
                    "root": roots,
                    "leaf_id": leaf_ids,
                    "n_turns": n_turns,
                    "path": paths_out,
                }
            )

    return packed.mapInPandas(
        walk, "root long, leaf_id long, n_turns int, path string"
    )
