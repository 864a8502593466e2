"""Generate deterministic sf1 bench tables (10x sf0.1) under
bench_data/sf1/ by key-shifted replication of the driver's read-only
sf0.1 parquet: each copy i offsets every primary/foreign key by
i * stride, where a foreign key shares the stride of the primary key it
references (``key_strides``), so copy i's foreign keys hit copy i's
primary keys and join selectivities, per-user chain lengths, text
distributions and value marginals are preserved while every
cardinality scales 10x — the sf-scaling shape the top-20 bench section
needs (VERDICT r4 #5). No randomness, no wall clock: same input ->
same bytes. Only the tables the top-20 heaviest queries touch are
materialized (events, embeddings, documents, lineitem, orders).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from jsonschema_validator_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench_data", "sf1")
COPIES = 10

# table -> key columns offset by i * stride in copy i
KEYS = {
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
    "documents": ["doc_id"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
}
# key columns that must share one stride: a primary key and the foreign
# keys that reference it (among the materialized tables)
KEY_GROUPS = [("o_orderkey", "l_orderkey")]


def key_strides(maxes: dict[str, int], groups: list[tuple[str, ...]]) -> dict[str, int]:
    """Per-column copy stride: 1 + the max over the column's key group
    (a column in no group is a group of its own). A foreign key then
    shifts exactly as the primary key it references does, and copy i's
    values of every group stay inside [i * stride, (i + 1) * stride) (the
    keys are non-negative), so no key of one copy can meet a key of
    another."""
    group_of = {c: g for g in groups for c in g}
    return {
        c: 1 + max(maxes[k] for k in group_of.get(c, (c,))) for c in maxes
    }


def main() -> None:
    spark = get_spark(app_name="gen_sf1", shuffle_partitions=32)
    os.makedirs(DST, exist_ok=True)
    srcs = {t: spark.read.parquet(f"{SRC}/{t}.parquet") for t in KEYS}
    maxes = {}
    for table, keys in KEYS.items():
        maxes.update(srcs[table].agg(*[F.max(k).alias(k) for k in keys]).first().asDict())
    strides = key_strides(maxes, KEY_GROUPS)
    for table, keys in KEYS.items():
        src = srcs[table]
        copies = None
        for i in range(COPIES):
            c = src
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * strides[k]))
            copies = c if copies is None else copies.unionByName(c)
        out = f"{DST}/{table}.parquet"
        copies.repartition(32).write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        print(f"{table}: {n} rows -> {out}", flush=True)


if __name__ == "__main__":
    main()
