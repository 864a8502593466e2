"""Ordering / density invariants over (conv_id, turn_idx) — the "stable
(conv_id, turn_idx) ordering" row-level invariant from BASELINE.json
input_hint, generalized (SURVEY.md §2.4 "Monotone/dense turn_idx").

Per-row ordering attribution (duplicate order value, gap, inversion,
missing root, monotone-column inversion) is the CheckSuite key-window
pass (plans/check_suite.py), which shares one shuffle of the key columns
with the uniqueness and referential-root checks. This module holds the
group-level operators:
- ``density``: group-level verdicts via pure aggregation — dense iff
  min==0 and max+1==count and count==distinct — salted-agg compatible
  (all aggregates are algebraic);
- ``reindex_dense``: the repair for a failed density check;
- ``islands``: the contiguous runs of an id column per group."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def density(
    df: DataFrame,
    group: str = "conv_id",
    order: str = "turn_idx",
    salt_buckets: int = 0,
    start: int = 0,
) -> DataFrame:
    """Per-group density verdict via aggregation only (no window):
    (group, n_turns, min_turn, max_turn, dense) where dense means the
    order column is exactly start..start+n-1. With salt_buckets > 0,
    runs as an explicit two-stage salted agg for Zipf-hot groups."""
    aggs_final = [
        F.count(F.lit(1)).alias("n_turns"),
        F.min(order).alias("min_turn"),
        F.max(order).alias("max_turn"),
        F.count_distinct(F.col(order)).alias("n_distinct"),
    ]
    if salt_buckets:
        salt = F.pmod(F.xxhash64(F.col(order)), F.lit(salt_buckets)).alias("__salt")
        partial = (
            df.select(group, order, salt)
            .groupBy(group, "__salt")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min(order).alias("mn"),
                F.max(order).alias("mx"),
                # distinct within a salt bucket is exact: a given order
                # value always lands in the same bucket (salt = f(order))
                F.count_distinct(F.col(order)).alias("d"),
            )
        )
        grouped = partial.groupBy(group).agg(
            F.sum("c").alias("n_turns"),
            F.min("mn").alias("min_turn"),
            F.max("mx").alias("max_turn"),
            F.sum("d").alias("n_distinct"),
        )
    else:
        grouped = df.groupBy(group).agg(*aggs_final)
    return grouped.withColumn(
        "dense",
        (F.col("min_turn") == start)
        & (F.col("max_turn") - start + 1 == F.col("n_turns"))
        & (F.col("n_distinct") == F.col("n_turns")),
    )


def reindex_dense(
    df: DataFrame,
    group: str = "conv_id",
    order: str = "turn_idx",
    start: int = 0,
    out_col: str = "new_turn_idx",
) -> DataFrame:
    """REPAIR for the density check above: assign gap-free, start-based
    indices per group in the existing order — what a curation run does
    to conversations that FAILED the dense-ordering check after
    dropping turns (every downstream positional operator — packing,
    truncation, rendering offsets — assumes dense indices).

    The ranking window runs on a pre-projected (group, order) frame and
    the result joins back by key, so the payload never enters the
    window exchange (same shape as last_k_turns). Relative order is
    always preserved; ties on ``order`` are impossible under the
    uniqueness contract (dedupe first if violated — a duplicate key
    would fan out the join).
    """
    w = Window.partitionBy(group).orderBy(order)
    keys = (
        df.select(group, order)
        .withColumn(out_col, F.row_number().over(w) - 1 + start)
    )
    return df.join(keys, [group, order])


def islands(
    df: DataFrame,
    id_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Gaps-and-islands: collapse an integer id column into its maximal
    CONTIGUOUS runs per group — the reporting complement of
    density_check (which counts missing ids in one number, where this
    says exactly WHICH ranges exist, so the backfill job knows what to
    fetch). The classic id - row_number() grouping: consecutive ids
    share the same difference against their rank, so one window plus
    one aggregation yields every island; gaps are the spaces between
    consecutive islands.

    Duplicate ids are first collapsed (DISTINCT — a duplicate does not
    break contiguity); NULL ids are excluded. The window orders
    DISTINCT ids per group. Returns (group?, island_start, island_end,
    island_len, next_gap) sorted by start; next_gap is the number of
    missing ids before the next island — 0 for the LAST island (a real
    inter-island gap is >= 1 by construction, so 0 is an unambiguous
    "no next island" sentinel that keeps the column integer-typed).
    """
    from pyspark.sql import Window

    gcols = [group_col] if group_col else []
    d = (
        df.filter(F.col(id_col).isNotNull())
        .select(*gcols, F.col(id_col).cast("long").alias("__id"))
        .distinct()
    )
    w = Window.partitionBy(*gcols).orderBy("__id")
    marked = d.withColumn(
        "__isl", F.col("__id") - F.row_number().over(w)
    )
    isl = marked.groupBy(*gcols, "__isl").agg(
        F.min("__id").alias("island_start"),
        F.max("__id").alias("island_end"),
        F.count(F.lit(1)).alias("island_len"),
    )
    w2 = Window.partitionBy(*gcols).orderBy("island_start")
    return isl.select(
        *gcols,
        "island_start",
        "island_end",
        "island_len",
        F.coalesce(
            F.lead("island_start").over(w2) - F.col("island_end") - 1,
            F.lit(0).cast("long"),
        ).alias("next_gap"),
    )
