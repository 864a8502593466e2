"""sources.tables.local_frame: driver-side rows handed to Spark as an
Arrow table read back exactly as the list form of createDataFrame reads
them, and the verdict frame plans as a LocalTableScan (no pickled RDD,
so no Python worker)."""

from __future__ import annotations

from jsonschema_validator_spark.fixtures import generate_transcripts
from jsonschema_validator_spark.plans import CheckSuite
from jsonschema_validator_spark.plans.check_suite import VERDICT_ROW_SCHEMA, _drift_rows
from jsonschema_validator_spark.sources.tables import local_frame
from jsonschema_validator_spark.specs import transcripts_spec


def _same_as_list_path(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_verdict_rows_with_null_metrics(spark):
    rows = [
        ("2026-01-01", "type@#/role", True, 0, 10, None),
        ("2026-01-01", "stats:text", True, 0, 10, {"n_null": 0.0, "mean": None}),
        ("2026-01-02", "volume", False, 3, 3, {"n_rows": 3.0, "median": 10.0}),
    ]
    _same_as_list_path(spark, rows, VERDICT_ROW_SCHEMA)


def test_drift_rows_from_ks_psi_local(spark):
    hist = [(day, b, 10 + 3 * b * i) for i, day in enumerate(["d1", "d2", "d3"]) for b in range(5)]
    rows = _drift_rows(hist, 5, {"check": "drift", "value": "x", "baseline": "d1", "min_rows": 0})
    assert len(rows) == 3
    _same_as_list_path(spark, rows, VERDICT_ROW_SCHEMA)


def test_empty_rows(spark):
    _same_as_list_path(spark, [], "node string, rank double")
    _same_as_list_path(spark, [], VERDICT_ROW_SCHEMA)


def test_verdicts_plan_is_local_table_scan(spark):
    df = spark.createDataFrame(generate_transcripts("tiny", dirty=True).table.to_pandas())
    plan = (
        CheckSuite(transcripts_spec()).build().verdicts(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan
