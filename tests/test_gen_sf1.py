"""sf1 bench-table generator: the per-copy key offsets (no Spark)."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "gen_sf1.py")
_spec = importlib.util.spec_from_file_location("gen_sf1", _PATH)
gen_sf1 = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gen_sf1)


def test_foreign_key_shifts_with_its_primary_key():
    """The highest-keyed orders are childless (max l_orderkey < max
    o_orderkey): l_orderkey must still shift by the orders stride, so a
    copied lineitem row joins the copied order it joined before; and a
    dangling foreign key above the primary key's max widens the shared
    stride instead of landing on another copy's key."""
    maxes = {"o_orderkey": 100, "l_orderkey": 60, "l_partkey": 7, "event_id": 9}
    strides = gen_sf1.key_strides(maxes, gen_sf1.KEY_GROUPS)
    assert strides == {"o_orderkey": 101, "l_orderkey": 101, "l_partkey": 8, "event_id": 10}
    # lineitem row with l_orderkey 42 joins order 42 in every copy
    for i in range(gen_sf1.COPIES):
        assert 42 + i * strides["l_orderkey"] == 42 + i * strides["o_orderkey"]

    dangling = gen_sf1.key_strides({"o_orderkey": 100, "l_orderkey": 130}, gen_sf1.KEY_GROUPS)
    assert dangling == {"o_orderkey": 131, "l_orderkey": 131}
    # copy 1's order keys start at the stride, above copy 0's dangling 130
    assert 130 < dangling["o_orderkey"]

