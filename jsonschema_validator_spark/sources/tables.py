"""Table provider abstraction (SURVEY.md §7 "Iceberg note").

Production target is an Iceberg table (BASELINE.json input_hint); this
sandbox has no Iceberg jars, so refs dispatch on scheme:

    "iceberg:catalog.db.table"   -> spark.read.format("iceberg") (+ snapshot)
    "snapdir:/path"              -> versioned parquet directory (local
                                    snapshot semantics: snap-<id>/ subdirs
                                    + a `current` pointer file) — the
                                    sandbox stand-in that lets snapshot
                                    pinning be REAL and tested without the
                                    Iceberg runtime jar
    "parquet:/path"              -> spark.read.parquet
    "/bare/path"                 -> parquet (local default)

Keeping the provider behind one function means every operator/plan is
storage-agnostic; partition pruning and pushdown work identically (both
sources are DataSourceV2 with filter/column pushdown).

Snapshot-ID lineage contract (north rule "resumable ... with
per-partition lineage"): ``current_snapshot_id`` resolves the source's
live snapshot at run start; the runner pins it in its manifest and
passes it back through ``read_table(snapshot_id=...)`` on resume, so a
run interrupted mid-table never mixes two versions of the input (Iceberg
reads are snapshot-isolated per ``snapshot-id``; the snapdir provider
reproduces exactly that semantic on plain parquet)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def current_snapshot_id(spark: SparkSession, ref: str) -> int | None:
    """The source's snapshot id right now, or None for unversioned
    sources (plain parquet paths have no snapshot concept)."""
    if ref.startswith("iceberg:"):
        tbl = ref[len("iceberg:") :]
        try:  # pragma: no cover - no iceberg jar locally
            row = spark.sql(
                f"SELECT snapshot_id FROM {tbl}.snapshots ORDER BY committed_at DESC LIMIT 1"
            ).first()
            return int(row[0]) if row else None
        except Exception as e:  # pragma: no cover
            raise RuntimeError(
                "iceberg snapshot resolution requires iceberg-spark-runtime "
                "on the classpath (spark-submit --packages org.apache.iceberg:...)"
            ) from e
    if ref.startswith("snapdir:"):
        root = ref[len("snapdir:") :]
        with open(os.path.join(root, "current")) as f:
            return int(f.read().strip())
    return None


def read_table(spark: SparkSession, ref: str, snapshot_id: int | None = None) -> DataFrame:
    if ref.startswith("iceberg:"):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            # snapshot-ID lineage: resumable runs pin their input snapshot
            reader = reader.option("snapshot-id", str(snapshot_id))
        try:
            return reader.load(ref[len("iceberg:") :])
        except Exception as e:  # pragma: no cover - no iceberg jar locally
            raise RuntimeError(
                "iceberg source requires iceberg-spark-runtime on the "
                "classpath (spark-submit --packages org.apache.iceberg:...)"
            ) from e
    if ref.startswith("snapdir:"):
        root = ref[len("snapdir:") :]
        if snapshot_id is None:
            snapshot_id = current_snapshot_id(spark, ref)
        return spark.read.parquet(os.path.join(root, f"snap-{snapshot_id}"))
    if ref.startswith("parquet:"):
        ref = ref[len("parquet:") :]
    return spark.read.parquet(ref)


def write_table(
    df: DataFrame,
    ref: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    if ref.startswith("iceberg:"):
        writer = df.writeTo(ref[len("iceberg:") :])
        if mode == "overwrite":
            writer.createOrReplace()  # pragma: no cover - no iceberg jar
        else:
            writer.append()  # pragma: no cover
        return
    if ref.startswith("parquet:"):
        ref = ref[len("parquet:") :]
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(ref)


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Write ``df`` as parquet partitioned by ``partition_col``,
    replacing only the partitions ``df`` holds (dynamic overwrite, set
    on this write alone — the session's conf is left as it is). A
    replayed write of the same partitions rewrites them instead of
    appending a second copy: the idempotent sink of the streaming
    partial sinks (by batch_id) and the checkpointed runner (by day)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in ``schema``'s field
    order; ``schema`` a StructType or a DDL string), handed to Spark as
    an Arrow table. Spark plans it as a LocalTableScan: no pickled RDD,
    so no Python worker ever starts for it, and ``collect()`` runs no
    job. The list form of ``createDataFrame`` instead reserializes the
    rows through a Python-worker task per core on every action."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    streaming/incremental sink needs: per-batch exactly-once writes
    (streaming/validate.py) and per-partition dynamic overwrites
    (plans/runner.py) accumulate files far below the scan-efficient
    size, and at 100 TB a scan's task count (and the driver's listing
    cost) is file-bound. Rewrites the directory into
    ceil(total_bytes / target) files via ONE AQE-coalesced shuffle
    (repartition — round-robin balances skewed input files; coalesce
    would chain-collapse without rebalancing), optionally re-sorting
    within files to restore min/max locality (pair with
    zorder.morton_key to preserve 2-D clustering through compaction).

    OFFLINE, SINGLE-WRITER maintenance — crash-recoverable, not
    atomic: the swap is two renames (old -> .bak, tmp -> path), and
    between them the table path briefly does not exist, so concurrent
    readers can fail and a crash in that window strands the data in
    .bak (recover by renaming .bak back). Writers are guarded: the
    directory is re-listed immediately before the swap and the
    compaction aborts if any file appeared or vanished since the
    initial listing. True atomic swaps need a metadata layer — on
    Iceberg this whole function is `rewrite_data_files` (a snapshot
    commit readers never see mid-flight); this is the plain-parquet
    stand-in.

    Returns {files_before, files_after, bytes, rows}.
    """
    import math
    import shutil

    def _data_files(d: str) -> list[str]:
        return [
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = _data_files(path)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    rows = df.count()
    out = df.repartition(n_out)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    tmp = path.rstrip("/") + ".__compact_tmp"
    bak = path.rstrip("/") + ".__compact_bak"
    out.write.mode("overwrite").parquet(tmp)
    # verify before swapping: a compaction that loses rows must abort
    new_rows = spark.read.parquet(tmp).count()
    if new_rows != rows:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compact_parquet: row count changed {rows} -> {new_rows}; aborting"
        )
    # concurrent-writer guard: any file added or removed under path
    # since the initial listing would be silently lost by the rewrite —
    # abort instead (single-writer is the contract; this catches
    # violations rather than eating their data)
    now = sorted(_data_files(path))
    if now != sorted(before):
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            "compact_parquet: directory changed during compaction "
            f"({len(before)} -> {len(now)} files); aborting — "
            "compact_parquet requires a quiesced single-writer table"
        )
    if os.path.exists(bak):
        shutil.rmtree(bak)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return {
        "files_before": len(before),
        "files_after": len(_data_files(path)),
        "bytes": total,
        "rows": rows,
    }


def align_to_schema(df: DataFrame, schema) -> DataFrame:
    """Reconcile an evolved frame to a target schema: present columns
    CAST to the target type (widening), absent columns backfilled as
    typed NULLs, extras dropped, order normalized. This is the half of
    schema evolution parquet's mergeSchema cannot do (mergeSchema only
    unions compatible columns; it aborts on type conflicts)."""
    from pyspark.sql import functions as F

    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def read_evolved(spark: SparkSession, root: str, target_schema=None) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas (columns added over time): mergeSchema=true makes the scan
    union all footers' columns (absent values read as NULL — the
    Iceberg add-column semantic on plain parquet), then an optional
    align_to_schema pins the frame to the caller's contract schema.
    Scale note: mergeSchema reads every file footer at planning time —
    for 100 TB tables prefer the Iceberg branch of read_table (schema
    lives in table metadata, one read); this path is the migration/
    landing-zone reader."""
    df = spark.read.option("mergeSchema", "true").parquet(root)
    return align_to_schema(df, target_schema) if target_schema is not None else df
