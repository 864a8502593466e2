"""Z-order (Morton) clustering for multi-dimensional data skipping.

A table range-partitioned and sorted on ONE column gives parquet
min/max pruning on that column only; a predicate on any other column
scans everything. Interleaving the bits of two key columns into a
Morton code and range-sorting on THAT makes every file's footprint a
small rectangle in (x, y) space, so min/max stats prune scans for
predicates on EITHER dimension — the standard lakehouse `OPTIMIZE
ZORDER BY` layout, reproduced here with plain Column bit algebra (the writer
range-partitions on the key), no table format required.

All arithmetic is integer shifts/masks (engine-portable, SQL-oracle
reproducible). At 100 TB the clustering write is one range exchange —
the same cost as any sorted write — and pays for itself on every
subsequent selective scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SPREAD_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(x: Column) -> Column:
    """Spread a 16-bit int so its bits occupy even positions of 32."""
    # 64-bit from the start: spread16(0xFFFF) << 1 overflows a signed
    # 32-bit int (0xAAAAAAAA), and int-typed inputs would wrap negative
    x = x.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def morton_key(x: Column, y: Column) -> Column:
    """32-bit Morton interleave of two 16-bit non-negative ints
    (callers clamp/bucket wider domains first: the code orders
    BUCKETS, so precision loss only coarsens clustering, never
    correctness). x takes even bits, y odd."""
    return _spread16(x).bitwiseOR(F.shiftleft(_spread16(y), 1)).cast("long")
