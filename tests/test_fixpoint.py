"""The iterative operators release the checkpoints they supersede: a
collected result leaves at most one new persistent RDD behind (the
state the operator returns), and a *NotConverged raise leaves none."""

from __future__ import annotations

import pytest


def _components(spark):
    from jsonschema_validator_spark.operators.dedup import (
        ComponentsNotConverged,
        connected_components,
    )

    # a 6-node chain: min-label propagation needs 6 rounds
    df = spark.createDataFrame([(i, i + 1) for i in range(5)], "doc_a long, doc_b long")
    return (
        lambda: connected_components(df),
        lambda: connected_components(df, max_iter=3),
        ComponentsNotConverged,
    )


def _tree_paths(spark):
    from jsonschema_validator_spark.operators.trees import TreeNotConverged, tree_paths

    # 20 deep: three quadrupling rounds, so one round leaves nodes unresolved
    df = spark.createDataFrame(
        [(i, i - 1 if i else None) for i in range(21)], "id long, parent long"
    )
    return (
        lambda: tree_paths(df, "id", "parent"),
        lambda: tree_paths(df, "id", "parent", max_iters=1),
        TreeNotConverged,
    )


def _pagerank(spark):
    from jsonschema_validator_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A"), ("A", "D")], "src string, dst string"
    )
    return lambda: pagerank(df, iters=3), None, None


@pytest.mark.parametrize(
    "case", [_components, _tree_paths, _pagerank], ids=["components", "tree_paths", "pagerank"]
)
def test_iterative_operators_release_checkpoints(spark, case):
    run, fail, error = case(spark)
    jsc = spark.sparkContext._jsc

    # compare ids, not counts: the JVM's ContextCleaner may drop older
    # RDDs (an earlier test's results) at any time
    def new_rdds(before: set) -> set:
        return set(jsc.getPersistentRDDs().keys()) - before

    before = set(jsc.getPersistentRDDs().keys())
    assert run().collect()
    assert len(new_rdds(before)) <= 1

    if fail is not None:
        before = set(jsc.getPersistentRDDs().keys())
        with pytest.raises(error):
            fail()
        assert new_rdds(before) == set()
