"""Referential-integrity checks — the table-scale generalization of
`$ref` resolution-must-succeed (/root/reference/src/keywords/ref_.rs:43:
a fetch failure at compile is an error; here a dangling key at runtime is
a violation row). SURVEY.md §2.4."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphans(child: DataFrame, parent: DataFrame, on: str | list[str]) -> DataFrame:
    """Child rows whose key has no parent (left_anti join; Catalyst
    broadcasts the smaller side under AQE)."""
    on = [on] if isinstance(on, str) else on
    return child.join(parent.select(*on).distinct(), on, "left_anti")


def childless(parent: DataFrame, child: DataFrame, on: str | list[str]) -> DataFrame:
    """Parent rows with no children (reverse anti join)."""
    on = [on] if isinstance(on, str) else on
    return parent.join(child.select(*on).distinct(), on, "left_anti")


def build_bloom(df: DataFrame, key: str, n_bits: int = 1 << 14, n_hashes: int = 4) -> list[int]:
    """Distributed Bloom-filter build over ``df[key]``: every key maps to
    ``n_hashes`` bit positions via seeded xxhash64, positions are grouped
    by 64-bit word and OR-merged JVM-side (``F.bit_or``), and only the
    O(n_bits/64) word table is collected — at 100 TB the scan and the
    bit-set both stay distributed; the driver sees at most ``n_bits/64``
    longs (256 for the 16 Kib default), never the keys.

    Returns the dense word list (index = position // 64). This is the
    build side of a runtime semi-join filter: Spark's own
    InjectRuntimeFilter does the same dance internally for shuffle
    joins; building it explicitly lets a *pre-computed* parent filter be
    reused across many child tables without re-scanning the parent."""
    words = (
        df.select(F.col(key).alias("k"))
        .where(F.col("k").isNotNull())
        .select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col("k"), F.lit(i)), F.lit(n_bits)).alias(f"p{i}")
                        for i in range(n_hashes)
                    ]
                )
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            # call_function: pyspark's shiftleft wrapper only accepts an
            # int literal shift; the SQL function takes a column.
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    dense = [0] * ((n_bits + 63) // 64)
    for r in words:
        dense[r["w"]] = r["word"]
    return dense


def bloom_might_contain(key_col, words: list[int], n_bits: int, n_hashes: int = 4):
    """Pure-Column Bloom probe: AND over the ``n_hashes`` seeded
    positions of (word & bit != 0). The word table rides the plan as an
    array literal (broadcast with the task binary — no join, no shuffle,
    whole-stage-codegen friendly). NULL keys probe NULL (caller decides
    their fate, matching left_anti's null-never-matches)."""
    table = F.array(*[F.lit(int(w)).cast("long") for w in words])
    probe = None
    for i in range(n_hashes):
        pos = F.pmod(F.xxhash64(key_col, F.lit(i)), F.lit(n_bits))
        hit = (
            F.element_at(table, (pos / 64).cast("int") + 1).bitwiseAND(
                F.call_function("shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int"))
            )
            != 0
        )
        probe = hit if probe is None else (probe & hit)
    return probe


def bloom_orphans(
    child: DataFrame,
    parent: DataFrame,
    on: str,
    n_bits: int = 1 << 14,
    n_hashes: int = 4,
) -> DataFrame:
    """Referential integrity with Bloom semi-join reduction — the 100 TB
    path for `orphans`. A plain anti-join shuffles the FULL child table
    on the key; here a compact parent Bloom (built distributed, shipped
    as a literal) splits the child in one scan:

    - probe says ABSENT (or key is NULL)  -> definite orphan, emitted
      with NO join at all (a Bloom has no false negatives);
    - probe says maybe-present            -> candidate verified by the
      exact anti-join, whose probe side is now only true members plus
      the ~(1-e^{-kn/m})^k false-positive sliver instead of everything.

    Output is EXACTLY ``orphans(child, parent, on)`` — the Bloom only
    reroutes rows between the join-free and join-verified branches, so
    the plain anti-join stays the oracle. Reference analogy: `$ref`
    resolution failure as a runtime violation (ref_.rs:43), checked
    without materializing the resolved set per row."""
    words = build_bloom(parent, on, n_bits=n_bits, n_hashes=n_hashes)
    might = bloom_might_contain(F.col(on), words, n_bits, n_hashes)
    definite = child.filter(F.col(on).isNull() | ~might)
    candidates = child.filter(F.col(on).isNotNull() & might)
    verified = candidates.join(parent.select(on).distinct(), on, "left_anti")
    return definite.unionByName(verified.select(*definite.columns))


def fk_profile(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    label: str | None = None,
) -> DataFrame:
    """Foreign-key DISCOVERY profile for one (child_col -> parent_col)
    candidate: where ``orphans`` enforces a DECLARED relationship, this
    measures whether an undeclared one plausibly exists — the schema-
    inference complement, for corpora that arrive without constraints.

    Reports containment (fraction of the child's distinct values
    present among the parent's distinct values) and the parent's key
    uniqueness; ``fk_like`` requires both to be exactly 1.0 — the
    inclusion-dependency + key-property definition of a foreign key.
    Partial containment quantifies HOW non-FK a spurious candidate is
    (0.4 = wrong column, 0.999 = an FK with dirty rows worth orphans()).

    NULL child values are excluded (SQL FK semantics: a NULL reference
    violates nothing); NULL parent values can match nothing. Scale
    shape: both sides reduce to DISTINCT key sets before the semi-join,
    so the join shuffles keys only — never data rows; output is one
    row. Returns (candidate, n_child, n_child_distinct, n_parent,
    n_parent_distinct, contained, containment, parent_uniqueness,
    fk_like)."""
    name = label or f"{child_col}->{parent_col}"
    ck = child.select(F.col(child_col).alias("__k")).filter(
        F.col("__k").isNotNull()
    )
    pk = parent.select(F.col(parent_col).alias("__k")).filter(
        F.col("__k").isNotNull()
    )
    c_stats = ck.agg(
        F.count(F.lit(1)).alias("n_child"),
        F.countDistinct("__k").alias("n_child_distinct"),
    )
    p_stats = pk.agg(
        F.count(F.lit(1)).alias("n_parent"),
        F.countDistinct("__k").alias("n_parent_distinct"),
    )
    contained = (
        ck.distinct()
        .join(pk.distinct(), "__k", "left_semi")
        .agg(F.count(F.lit(1)).alias("contained"))
    )
    row = c_stats.crossJoin(p_stats).crossJoin(contained)
    containment = F.when(
        F.col("n_child_distinct") > 0,
        F.col("contained") / F.col("n_child_distinct"),
    )
    uniq = F.when(
        F.col("n_parent") > 0,
        F.col("n_parent_distinct") / F.col("n_parent"),
    )
    return row.select(
        F.lit(name).alias("candidate"),
        "n_child",
        "n_child_distinct",
        "n_parent",
        "n_parent_distinct",
        "contained",
        F.round(containment, 6).alias("containment"),
        F.round(uniq, 6).alias("parent_uniqueness"),
        F.coalesce(
            (containment == 1.0) & (uniq == 1.0), F.lit(False)
        ).alias("fk_like"),
    )
