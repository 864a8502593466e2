"""Training-data export: deterministic shard membership.

The consumer of everything this engine validates/dedups/packs is a
training job that reads FIXED, REPRODUCIBLE shards — shard membership
must be a pure function of the row key (same contract as
operators/sampling.mix_key: stable across runs, partition layouts, and
engines), not of Spark's task scheduling, or two exports of the same
snapshot feed the trainer different data orders.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.sampling import DOMAIN, mix_key


def shard_of(key: Column, n_shards: int) -> Column:
    """Deterministic shard id in [0, n_shards): engine-portable mixer,
    so the SQL oracle (and any other engine) reproduces membership."""
    return F.pmod(F.pmod(mix_key(key), F.lit(DOMAIN)), F.lit(n_shards))
