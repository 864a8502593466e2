"""The fused two-pass verdict plan (one heavy scan + one key-window
shuffle, driver-side shaping) must produce exactly what an independent
oracle says the spec means: DuckDB SQL over the same parquet file
(perfbench/oracle.py), written from the spec's JSON-Schema meaning rather
than from the engine's compiled expressions. Every (day, check) verdict
row and every violation row is compared; metrics to 1e-9 relative, except
approx_distinct, which must fall within the HLL error bound of the exact
distinct count."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from jsonschema_validator_spark.fixtures import generate_transcripts
from jsonschema_validator_spark.plans import CheckSuite
from jsonschema_validator_spark.specs import transcripts_spec
from perfbench import oracle


@pytest.fixture(scope="module")
def suite():
    return CheckSuite(transcripts_spec()).build()


@pytest.fixture(scope="module", params=[False, True], ids=["clean", "dirty"])
def fixture(request, spark, tmp_path_factory):
    """(engine DataFrame, expected verdicts, expected violations) over one
    parquet file of the tiny transcripts fixture."""
    path = str(tmp_path_factory.mktemp("parity") / "transcripts.parquet")
    pq.write_table(generate_transcripts("tiny", dirty=request.param).table, path)
    want_v, want_x = oracle.transcripts_expected(oracle.connect(), path, transcripts_spec())
    return spark.read.parquet(path), want_v, want_x


def test_verdicts_match_oracle(fixture, suite):
    df, want_v, _ = fixture
    diffs = oracle.verdict_diffs(suite.verdicts(df).collect(), want_v)
    assert not diffs, (len(diffs), diffs[:20])


def test_violations_match_oracle(fixture, suite):
    df, _, want_x = fixture
    got = oracle.normalise_violations(suite.violations(df).collect())
    diffs = oracle.violation_diffs(got, want_x)
    assert not diffs, (sum(got.values()), sum(want_x.values()), diffs)
