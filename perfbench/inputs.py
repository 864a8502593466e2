"""Benchmark inputs.

- scan: the package's transcripts generator (``jsonschema_validator_spark.
  fixtures``), clean, at 10,000 conversations plus its 3 whale
  conversations of 5,000 turns (about 0.32M turns), generated from the seed
  once under bench_data/. The directory is written under a temporary name
  and renamed when complete, so an interrupted run never leaves a
  half-written input behind.
- registry: the events, documents, orders and lineitem tables of the
  contract's sf0.01 scale factor, kept byte for byte in ``sf0.01/`` beside
  this file. They are fixed; the seed does not change them.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

DATA_ROOT = "bench_data"
SCAN_CONVS = 10_000


def _materialise(path: str, write) -> None:
    """Run ``write(tmp_dir)`` and rename it to ``path``, unless path exists."""
    if os.path.isdir(path):
        return
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    os.replace(tmp, path)


def scan_transcripts(seed: int) -> str:
    """Path of the clean scan-input parquet for seed."""
    from jsonschema_validator_spark import fixtures

    name = "perfbench_scan"
    fixtures.SCALES.setdefault(name, dict(n_convs=SCAN_CONVS, whales=3, whale_len=5_000))
    path = os.path.join(DATA_ROOT, f"scan-{SCAN_CONVS}-{seed}")

    def write(tmp: str) -> None:
        table = fixtures.generate_transcripts(name, seed=seed, dirty=False).table
        pq.write_table(table, os.path.join(tmp, "transcripts.parquet"), row_group_size=64 * 1024)

    _materialise(path, write)
    return os.path.join(path, "transcripts.parquet")


def registry_tables() -> str:
    """Directory holding the sf0.01 events/documents/orders/lineitem parquet."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")
