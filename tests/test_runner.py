"""Kill-and-resume proof (SURVEY.md §7 M5): a run killed mid-table
resumes from the manifest and the final outputs equal a clean full run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from jsonschema_validator_spark.fixtures import generate_transcripts
from jsonschema_validator_spark.plans import CheckSuite
from jsonschema_validator_spark.plans.runner import CheckpointedRunner
from jsonschema_validator_spark.specs import transcripts_spec


@pytest.fixture(scope="module")
def df(spark):
    fx = generate_transcripts("tiny", dirty=True)
    return spark.createDataFrame(fx.table.to_pandas()).cache()


def _read_all(spark, path):
    return spark.read.parquet(path)


def test_kill_and_resume(spark, df, tmp_path):
    suite = CheckSuite(transcripts_spec()).build()
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(suite, out)
    pending = runner.pending_partitions(df)
    assert len(pending) == 15  # 14 days + drift day

    # simulate a mid-table kill: process only the first 2 batches of 3
    part = suite.partition_by
    first = pending[:6]
    runner.run(df.filter(F.col(part).isin(first)), batch_size=3)
    assert len(runner.done_partitions()) == 6

    # resume on the FULL table: only the remaining 9 partitions process
    report = runner.run(df, batch_size=5)
    assert sorted(report.processed) == pending[6:]
    assert sorted(report.skipped) == first
    assert len(runner.done_partitions()) == 15

    # third run: nothing pending
    report2 = runner.run(df)
    assert report2.processed == [] and report2.batches == 0

    # outputs equal a clean full run
    full_v = suite.verdicts(df).toPandas().sort_values(["day", "check"]).reset_index(drop=True)
    got_v = (
        _read_all(spark, os.path.join(out, "verdicts"))
        .select(*full_v.columns)
        .toPandas()
        .sort_values(["day", "check"])
        .reset_index(drop=True)
    )
    assert len(full_v) == len(got_v)
    assert (full_v["check"] == got_v["check"]).all()
    assert (full_v["violation_count"].to_numpy() == got_v["violation_count"].to_numpy()).all()

    full_viol = suite.violations(df).count()
    got_viol = _read_all(spark, os.path.join(out, "violations")).count()
    assert full_viol == got_viol


def test_spec_change_invalidates_lineage(spark, df, tmp_path):
    out = str(tmp_path / "out2")
    s1 = CheckSuite(transcripts_spec()).build()
    CheckpointedRunner(s1, out).run(df)
    # a different spec hash must see every partition as pending again
    s2 = CheckSuite(transcripts_spec(psi_threshold=0.5)).build()
    assert s1.spec_hash != s2.spec_hash
    assert len(CheckpointedRunner(s2, out).pending_partitions(df)) == 15


def test_snapshot_pinned_across_resume(spark, df, tmp_path):
    """Snapshot-ID lineage: a run pins the input snapshot at start; a
    resume AFTER the source advances still reads the pinned snapshot, so
    one logical run never mixes input versions. Exercised through the
    snapdir provider — the local stand-in for Iceberg's snapshot-id read
    option (sources/tables.py)."""
    root = tmp_path / "src"
    (root / "snap-1").mkdir(parents=True)
    df.write.mode("overwrite").parquet(str(root / "snap-1"))
    (root / "current").write_text("1")
    ref = f"snapdir:{root}"

    suite = CheckSuite(transcripts_spec()).build()
    out = str(tmp_path / "out3")
    runner = CheckpointedRunner(suite, out)

    # partial run (simulated kill after 2 batches of 3)
    snap = runner.pinned_snapshot(spark, ref)
    assert snap == 1
    pending = runner.pending_partitions(df)
    from jsonschema_validator_spark.sources.tables import read_table

    sub = read_table(spark, ref, snapshot_id=snap).filter(
        F.col(suite.partition_by).isin(pending[:6])
    )
    runner.run(sub, batch_size=3, snapshot_id=snap)
    assert len(runner.done_partitions()) == 6

    # source advances: snap-2 drops half the rows and current moves on
    df.limit(10).write.mode("overwrite").parquet(str(root / "snap-2"))
    (root / "current").write_text("2")

    # resume: still pinned to snapshot 1, full day set completes
    report = runner.run_ref(spark, ref, batch_size=5)
    assert report.snapshot_id == 1
    assert sorted(report.processed) == pending[6:]
    assert len(runner.done_partitions()) == 15

    # every manifest line carries the pinned snapshot id
    import json as _json

    mdir = os.path.join(out, "_manifest")
    lines = [
        _json.loads(line)
        for fname in os.listdir(mdir)
        if fname.endswith(".jsonl")
        for line in open(os.path.join(mdir, fname))
    ]
    assert lines and all(rec["snapshot_id"] == 1 for rec in lines)

    # a NEW spec (new logical run) re-resolves and pins snapshot 2
    s2 = CheckSuite(transcripts_spec(psi_threshold=0.5)).build()
    r2 = CheckpointedRunner(s2, out)
    assert r2.pinned_snapshot(spark, ref) == 2


def test_pinned_snapshot_refuses_different_ref(spark, df, tmp_path):
    """ADVICE r2 (low): the pin file keys by spec_hash only — reusing a
    manifest dir with the same spec against a DIFFERENT table ref must
    raise, not silently serve the old ref's snapshot id."""
    import pytest

    root_a, root_b = tmp_path / "srcA", tmp_path / "srcB"
    for root in (root_a, root_b):
        (root / "snap-1").mkdir(parents=True)
        df.limit(1).write.mode("overwrite").parquet(str(root / "snap-1"))
        (root / "current").write_text("1")

    runner = CheckpointedRunner(CheckSuite(transcripts_spec()).build(), str(tmp_path / "out4"))
    assert runner.pinned_snapshot(spark, f"snapdir:{root_a}") == 1
    # same ref: fine (resume path)
    assert runner.pinned_snapshot(spark, f"snapdir:{root_a}") == 1
    with pytest.raises(ValueError, match="pins spec"):
        runner.pinned_snapshot(spark, f"snapdir:{root_b}")


def _verdict_rows(frame):
    return sorted(
        (
            str(r["day"]),
            r["check"],
            r["pass"],
            r["violation_count"],
            r["rows_checked"],
            tuple(sorted((r["metrics"] or {}).items())),
        )
        for r in frame.collect()
    )


def test_partition_column_not_named_day(spark, df, tmp_path):
    """A suite partitioned by a column other than `day` runs: verdict and
    violation rows name the partition `day` whatever the suite's
    partition column is called, and the sink holds the whole-table
    verdicts and violations."""
    suite = CheckSuite({**transcripts_spec(), "partition_by": "d"}).build()
    dfd = df.withColumnRenamed("day", "d")
    out = str(tmp_path / "out_d")
    report = CheckpointedRunner(suite, out).run(dfd)
    assert len(report.processed) == 15
    got = spark.read.parquet(os.path.join(out, "verdicts"))
    assert _verdict_rows(got) == _verdict_rows(suite.verdicts(dfd))
    got_viol = spark.read.parquet(os.path.join(out, "violations")).count()
    assert got_viol == suite.violations(dfd).count()


def test_run_leaves_session_conf_alone(spark, df, tmp_path):
    """The runner's dynamic partition overwrite is an option of its own
    writes: the session's partitionOverwriteMode reads the same before
    and after a run, so a later plain overwrite elsewhere still replaces
    the whole table."""
    key = "spark.sql.sources.partitionOverwriteMode"
    # start from the default, whatever ran earlier in this session
    spark.conf.unset(key)
    before = spark.conf.get(key)
    CheckpointedRunner(CheckSuite(transcripts_spec()).build(), str(tmp_path / "out_conf")).run(df)
    assert spark.conf.get(key) == before


def test_date_partition_commits_manifest(spark, df, tmp_path):
    """A DATE partition column: verdict rows carry its 'yyyy-MM-dd'
    string (the same rows as the string-partitioned table), the manifest
    records that string, and a second run skips every partition."""
    suite = CheckSuite({**transcripts_spec(), "partition_by": "d"}).build()
    dfd = df.withColumn("d", F.to_date("day")).drop("day")
    assert _verdict_rows(suite.verdicts(dfd)) == _verdict_rows(
        CheckSuite(transcripts_spec()).build().verdicts(df)
    )
    runner = CheckpointedRunner(suite, str(tmp_path / "out_date"))
    report = runner.run(dfd)
    assert len(report.processed) == 15
    assert runner.done_partitions() == set(report.processed)
    again = runner.run(dfd)
    assert again.processed == [] and again.skipped == report.processed


def test_null_partition_is_checked_committed_and_skipped(spark, tmp_path):
    """A NULL partition value is a partition of its own: the run checks
    it (its verdict row has day NULL, like verdicts()), writes it,
    commits it as `"partition": null` and a resume skips it."""
    suite = CheckSuite(
        {
            "name": "n",
            "partition_by": "day",
            "keys": ["conv_id", "turn_idx"],
            "row": {"required": ["conv_id"]},
            "dataset": [],
        }
    ).build()
    frame = spark.createDataFrame(
        [("d1", "c1", 0), ("d1", None, 1), (None, "c2", 0), (None, None, 1)],
        "day string, conv_id string, turn_idx int",
    )
    out = str(tmp_path / "out_null")
    runner = CheckpointedRunner(suite, out)
    report = runner.run(frame, batch_size=1)
    assert report.processed == ["d1", None] and report.batches == 2
    assert runner.done_partitions() == {"d1", None}
    got = spark.read.parquet(os.path.join(out, "verdicts"))
    assert _verdict_rows(got) == _verdict_rows(suite.verdicts(frame))
    assert ("None", "required@#conv_id", False, 1, 2, ()) in _verdict_rows(got)
    viol = spark.read.parquet(os.path.join(out, "violations"))
    assert sorted(((r["day"], r["turn_idx"]) for r in viol.collect()), key=str) == [("d1", 1), (None, 1)]
    again = runner.run(frame)
    assert again.processed == [] and again.skipped == ["d1", None]
