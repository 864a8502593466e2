"""Checkpointed runner: per-partition lineage + metrics + resume
(SURVEY.md §7 M5; north_rule "resumable from checkpoint with
per-partition lineage + metrics").

Layout under output_dir::

    verdicts/day=<p>/*.parquet      (dynamic partition overwrite)
    violations/day=<p>/*.parquet
    _manifest/batch-*.jsonl         (atomic: temp + os.replace)

Each manifest line: {partition, spec_hash, status, rows_checked,
violation_count, n_checks_failed}. A partition is DONE iff a manifest
line exists with the CURRENT spec hash — changing the check spec
invalidates prior lineage (the spec hash is the compile-memoization key
analog, /root/reference/src/types/scope_builder.rs:43-54, made
content-addressed instead of uuid-addressed).
`partition` is the partition value cast to string, the form verdict
rows carry as `day`; a NULL partition value is a partition of its own
(`"partition": null`), ordered last.

Resume = anti-join pending partitions against the manifest (driver-side:
the partition list is small — O(days), never O(rows)) and process only
the remainder, in batches so a mid-table kill loses at most one batch.
Output writes are idempotent per partition (dynamic overwrite), so a
batch that died mid-write is safely rewritten on resume.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.plans.check_suite import VERDICT_ROW_SCHEMA, CheckSuite
from jsonschema_validator_spark.sources.tables import (
    current_snapshot_id,
    local_frame,
    overwrite_partitions,
    read_table,
)


def _partition_order(p: str | None) -> tuple:
    return p is None, p


@dataclass
class RunReport:
    processed: list[str]
    skipped: list[str]
    batches: int
    snapshot_id: int | None = None


class CheckpointedRunner:
    def __init__(self, suite: CheckSuite, output_dir: str):
        self.suite = suite
        self.out = output_dir
        self.manifest_dir = os.path.join(output_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def done_partitions(self) -> set[str]:
        done = set()
        for fname in sorted(os.listdir(self.manifest_dir)):
            if not fname.endswith(".jsonl"):
                continue
            with open(os.path.join(self.manifest_dir, fname)) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec["spec_hash"] == self.suite.spec_hash and rec["status"] == "done":
                        done.add(rec["partition"])
        return done

    def _commit_manifest(self, records: list[dict]) -> None:
        """Atomic append: write a new batch file via temp + rename (the
        parquet-commit analog of SURVEY.md §4.6)."""
        fd, tmp = tempfile.mkstemp(dir=self.manifest_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            for r in records:
                f.write(json.dumps(r, sort_keys=True) + "\n")
        n = len([x for x in os.listdir(self.manifest_dir) if x.endswith(".jsonl")])
        os.replace(tmp, os.path.join(self.manifest_dir, f"batch-{n:06d}.jsonl"))

    # -- snapshot lineage -------------------------------------------------
    def pinned_snapshot(self, spark, ref: str) -> int | None:
        """The input snapshot this run (identified by spec_hash) is
        pinned to. First call resolves the source's CURRENT snapshot and
        records it atomically; every later call — including a resume
        after a kill, or after the source advanced — returns the pinned
        id, so all partitions of one logical run read one input version
        (Iceberg snapshot isolation, carried across driver restarts)."""
        path = os.path.join(self.manifest_dir, f"source-{self.suite.spec_hash}.json")
        if os.path.exists(path):
            with open(path) as f:
                pin = json.load(f)
            if pin.get("ref") != ref:
                # same spec, different table: silently reusing the old
                # pin would read snap-<old-id> of the NEW ref (wrong
                # version, or a missing path). Refuse loudly.
                raise ValueError(
                    f"manifest dir {self.manifest_dir} pins spec "
                    f"{self.suite.spec_hash} to ref {pin.get('ref')!r}, but "
                    f"{ref!r} was requested — use a fresh output_dir per "
                    "(spec, table) run"
                )
            return pin["snapshot_id"]
        snap = current_snapshot_id(spark, ref)
        fd, tmp = tempfile.mkstemp(dir=self.manifest_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"ref": ref, "snapshot_id": snap, "spec_hash": self.suite.spec_hash}, f
            )
        os.replace(tmp, path)
        return snap

    def run_ref(self, spark, ref: str, batch_size: int | None = None) -> RunReport:
        """Run over a table ref (iceberg:/snapdir:/parquet:) with the
        input snapshot pinned in the manifest — the resumable entry
        point of the north rule."""
        snap = self.pinned_snapshot(spark, ref)
        df = read_table(spark, ref, snapshot_id=snap)
        report = self.run(df, batch_size=batch_size, snapshot_id=snap)
        return report

    # -- run ----------------------------------------------------------------
    def pending_partitions(self, df: DataFrame) -> list[str]:
        """The partition values (in the string form verdict rows and the
        manifest carry) that have no done manifest line."""
        part = F.col(self.suite.partition_by).cast("string")
        allp = [r[0] for r in df.select(part).distinct().collect()]
        done = self.done_partitions()
        return sorted((p for p in allp if p not in done), key=_partition_order)

    def run(
        self, df: DataFrame, batch_size: int | None = None, snapshot_id: int | None = None
    ) -> RunReport:
        """Process pending partitions in batches; each batch writes its
        verdicts/violations partitions then commits manifest lines."""
        part = F.col(self.suite.partition_by).cast("string")
        pending = self.pending_partitions(df)
        skipped = sorted(self.done_partitions(), key=_partition_order)
        if not pending:
            return RunReport([], skipped, 0, snapshot_id)
        batch_size = batch_size or len(pending)
        batches = [pending[i : i + batch_size] for i in range(0, len(pending), batch_size)]

        for batch in batches:
            picked = part.isin([p for p in batch if p is not None])
            sub = df.filter(picked | part.isNull() if None in batch else picked)
            # verdict and violation rows name the partition `day` whatever
            # the suite's partition column is called. The verdict rows are
            # collected once: the sink writes them and the manifest
            # metrics come from them, so no check runs a second time.
            verdict_rows = self.suite.verdicts(sub).collect()
            overwrite_partitions(
                local_frame(df.sparkSession, verdict_rows, VERDICT_ROW_SCHEMA),
                os.path.join(self.out, "verdicts"),
                "day",
            )
            overwrite_partitions(
                self.suite.violations(sub), os.path.join(self.out, "violations"), "day"
            )
            zero = dict.fromkeys(("rows_checked", "violation_count", "n_checks_failed"), 0)
            by_day: dict = {}
            for r in verdict_rows:
                m = by_day.setdefault(r["day"], dict(zero))
                m["rows_checked"] = max(m["rows_checked"], r["rows_checked"] or 0)
                m["violation_count"] += r["violation_count"] or 0
                m["n_checks_failed"] += r["pass"] is False
            self._commit_manifest(
                [
                    {
                        "partition": p,
                        "spec_hash": self.suite.spec_hash,
                        "status": "done",
                        **by_day.get(p, zero),
                        "snapshot_id": snapshot_id,
                    }
                    for p in batch
                ]
            )
        return RunReport(pending, skipped, len(batches), snapshot_id)
