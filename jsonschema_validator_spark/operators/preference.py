"""Preference-rating operators — turning pairwise outcomes (A beat B)
into per-item strength scores. This is the aggregation behind
RLHF-style preference datasets and model-vs-model eval tables: Elo is
sequential and order-dependent (unusable as a distributed batch
semantic); Bradley-Terry's likelihood depends only on the pairwise WIN
COUNTS, so it is exactly reproducible from one aggregation — which is
why it (not Elo) is the batch contract here.

Reference parity note: outside the reference validator's scope
(macisamuele/jsonschema-validator validates keywords); this is the
training-data-pipeline tier of SURVEY.md §2.

Scale: the raw comparison table (10^12 rows of "chosen/rejected") is
reduced by ONE map-side-combinable ``groupBy(winner, loser).count()``
to the O(k^2) win matrix, where k is the number of ITEMS BEING RATED
(models, policies, prompt variants — tens, not millions; the bound is
documented and asserted). The MM solve then runs driver-side on that
k^2 relation with deterministic (sorted-item) float accumulation —
identical architecture to clustering.kmeans, where the per-iteration
driver traffic is O(k), never O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame


def bradley_terry(
    pairs: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    iters: int = 2,
    max_items: int = 1000,
) -> DataFrame:
    """Bradley-Terry strengths from decided pairwise outcomes.

    ``pairs`` has one row per comparison with a decided winner; rows
    with NULL winner or loser, or winner == loser, are excluded (a tie
    or self-match carries no BT information). Runs ``iters`` rounds of
    the MM update (Hunter 2004)::

        pi_i <- W_i / sum_j n_ij / (pi_i + pi_j)

    from pi = 1, renormalizing each round to sum(pi) = k, with j
    iterated in sorted item order so the float accumulation is
    deterministic and exactly replayable by a SQL oracle. Items with
    zero wins rate 0 after round 1 (finite iters keep never-losers
    finite too — the full MLE would diverge for them, which is why the
    iteration count is part of the contract, like kmeans).

    Returns (item, wins, n_games, rating), rating rounded to 6.
    Raises if the distinct item count exceeds ``max_items`` — this
    operator rates ITEMS (models/policies), and a million-item input
    means the caller wanted a different operator.
    """
    decided = pairs.filter(
        F.col(winner).isNotNull()
        & F.col(loser).isNotNull()
        & (F.col(winner) != F.col(loser))
    )
    wl = (
        decided.groupBy(
            F.col(winner).cast("string").alias("__w"),
            F.col(loser).cast("string").alias("__l"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    if len(wl) > max_items * max_items:
        raise ValueError(
            f"win matrix has {len(wl)} cells > max_items^2; "
            "bradley_terry rates items, not rows"
        )
    items = sorted({r["__w"] for r in wl} | {r["__l"] for r in wl})
    if len(items) > max_items:
        raise ValueError(f"{len(items)} distinct items > max_items={max_items}")
    wins = {i: 0 for i in items}
    games: dict[tuple[str, str], int] = {}
    for r in wl:
        wins[r["__w"]] += r["__n"]
        key = (min(r["__w"], r["__l"]), max(r["__w"], r["__l"]))
        games[key] = games.get(key, 0) + r["__n"]
    k = len(items)
    pi = {i: 1.0 for i in items}
    for _ in range(iters):
        new = {}
        for i in items:  # sorted order -> deterministic accumulation
            denom = 0.0
            for j in items:
                if j == i:
                    continue
                nij = games.get((min(i, j), max(i, j)), 0)
                if nij:
                    denom += nij / (pi[i] + pi[j])
            new[i] = (wins[i] / denom) if denom > 0.0 else pi[i]
        total = sum(new[i] for i in items)
        pi = {i: new[i] * k / total for i in items}
    n_games = {i: 0 for i in items}
    for (a, b), n in games.items():
        n_games[a] += n
        n_games[b] += n
    rows = [
        (i, wins[i], n_games[i], round(pi[i], 6)) for i in items
    ]
    return local_frame(
        pairs.sparkSession,
        rows, "item string, wins long, n_games long, rating double"
    )
