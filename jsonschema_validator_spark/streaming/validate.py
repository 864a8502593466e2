"""Structured Streaming surface for the validation engine.

The reference is a one-shot batch library (no streaming anywhere in
/root/reference/src — SURVEY.md §2.5), and the north rule's resume
requirement is met by the batch CheckpointedRunner. This module is the
engine's incremental-ingest story on top of that: validate transcript
micro-batches as they land, with Spark's streaming checkpoint giving
exactly-once sink semantics.

Design choices (idiomatic Structured Streaming, SURVEY.md §2.5 row):

- ``stream_partials``: the one exactly-once sink. readStream (file
  source) -> ``foreachBatch`` that writes the caller's per-batch frames
  (additive partials: counts, stats partials, histograms, moment and
  power sums) partitioned by batch_id with a dynamic overwrite, so a
  replayed batch rewrites its own partition.
- ``stream_validate``: ``stream_partials`` over the COMPILED batch
  CheckSuite per micro-batch. foreachBatch is the right tool because the
  suite's dataset checks (uniqueness, ordering) are full-relation
  operators per batch, not incremental row-maps.
- ``streaming_enum_rate``: a genuinely incremental check — per-window
  enum-violation rates via watermarked windowed aggregation (late data
  handled by the watermark, not by reprocessing).
- ``streaming_dedup``: exact key dedup inside the watermark horizon via
  ``dropDuplicatesWithinWatermark`` — the streaming analog of the
  unique(conv_id, turn_idx) batch check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_validator_spark.plans.check_suite import CheckSuite
from jsonschema_validator_spark.sources.tables import overwrite_partitions


def stream_partials(
    spark: SparkSession,
    input_path: str,
    schema,
    output_dir: str,
    partials,
    max_files_per_trigger: int | None = None,
):
    """The one streaming sink: read ``input_path`` as a parquet file
    stream and, for every non-empty micro-batch, write each frame of
    ``partials(batch_df)`` — a dict {sink subdir: DataFrame} — under
    ``output_dir/<subdir>`` with a ``batch_id`` column. Returns the
    StreamingQuery (trigger availableNow; the caller awaits it).

    Exactly-once: foreachBatch re-runs a batch if the driver dies
    between the sink write and the checkpoint commit; partitioning each
    sink by batch_id with a dynamic overwrite makes the retry rewrite
    ITS OWN partition instead of appending a duplicate copy. The
    streaming checkpoint (offsets + commit log) lives under
    ``output_dir/_checkpoint``, so a killed query resumes at the failed
    micro-batch.

    Additive partials (counts, stats partials with HLL sketches,
    histogram counts, moment and power sums) make the sink the state:
    summing or merging it reproduces the one-shot batch result at any
    point of the stream, with no unbounded streaming state.
    ``max_files_per_trigger`` caps the files per micro-batch (unset:
    everything available in one batch)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for subdir, frame in partials(batch_df).items():
            overwrite_partitions(
                frame.withColumn("batch_id", F.lit(batch_id)),
                f"{output_dir}/{subdir}",
                "batch_id",
            )

    return (
        reader.parquet(input_path)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{output_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def stream_validate(
    spark: SparkSession,
    input_path: str,
    schema,
    suite: CheckSuite,
    output_dir: str,
    transform=None,
):
    """Validate transcript files as they arrive: every micro-batch runs
    the compiled suite and appends verdicts + violations parquet under
    ``output_dir`` through ``stream_partials``. ``transform`` is a
    per-batch projection (e.g. derive the partition column from the
    event timestamp) applied before the suite runs. Returns the
    StreamingQuery (caller awaits it)."""

    def partials(batch_df: DataFrame) -> dict:
        if transform is not None:
            batch_df = transform(batch_df)
        return {
            "verdicts": suite.verdicts(batch_df),
            "violations": suite.violations(batch_df),
        }

    return stream_partials(spark, input_path, schema, output_dir, partials)


def streaming_enum_rate(
    stream_df: DataFrame,
    column: str,
    allowed: list[str],
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked windowed enum-violation rate: (window, n_rows,
    n_violations, violation_rate). Late rows inside the watermark update
    their window; older ones are dropped — bounded state at any scale."""
    bad = (~F.col(column).isin(allowed)) & F.col(column).isNotNull()
    # watermarks require TIMESTAMP (parquet written without a timezone
    # reads back as TIMESTAMP_NTZ; interpret it in the session timezone)
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("window"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(bad.cast("long")).alias("n_violations"),
        )
        .withColumn("violation_rate", F.col("n_violations") / F.col("n_rows"))
    )


def streaming_dedup(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on the composite key within the watermark
    horizon (state is bounded by the watermark; exact global dedup over
    an unbounded stream is impossible with bounded state)."""
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys + [ts_col]
    )
