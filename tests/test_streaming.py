"""Structured Streaming surface: micro-batch validation with
exactly-once sinks, watermarked windowed checks, streaming dedup."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from jsonschema_validator_spark.fixtures import generate_transcripts
from jsonschema_validator_spark.plans import CheckSuite
from jsonschema_validator_spark.specs import transcripts_spec
from jsonschema_validator_spark.streaming import (
    stream_validate,
    streaming_enum_rate,
    streaming_dedup,
)


def _stamp_arrival_order(*paths):
    """FileStreamSource orders arrivals by MODIFICATION TIME; on a
    loaded machine successive writes can land within one mtime tick and
    the arrival order becomes tie-break-dependent (observed flake in
    the loop-screen test: file 2 processed before file 1). Stamp
    strictly increasing mtimes in argument order — argument order IS
    the intended arrival order."""
    import time as _time

    now = _time.time()
    for i, p in enumerate(paths):
        os.utime(str(p), (now + i, now + i))


@pytest.fixture(scope="module")
def landed(tmp_path_factory):
    """A 'landing directory' with the dirty tiny fixture as one file."""
    d = tmp_path_factory.mktemp("landing")
    fx = generate_transcripts("tiny", dirty=True)
    pq.write_table(fx.table, str(d / "part-000.parquet"))
    return str(d), fx


def test_stream_validate_foreachbatch(spark, landed, tmp_path):
    path, fx = landed
    out = str(tmp_path / "out")
    schema = spark.read.parquet(path).schema
    suite = CheckSuite(transcripts_spec()).build()
    q = stream_validate(spark, path, schema, suite, out)
    q.awaitTermination(300)
    verdicts = spark.read.parquet(f"{out}/verdicts")
    failed = {r.check for r in verdicts.collect() if not r["pass"]}
    assert "unique(conv_id,turn_idx)" in failed and "enum@#role" in failed
    viol = spark.read.parquet(f"{out}/violations")
    assert viol.count() > 0
    assert os.path.isdir(f"{out}/_checkpoint")

    # resume semantics: restarting over the same input adds no new batches
    n_before = verdicts.count()
    q2 = stream_validate(spark, path, schema, suite, out)
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/verdicts").count() == n_before


def test_streaming_enum_rate_matches_batch(spark, landed, tmp_path):
    path, fx = landed
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    agg = streaming_enum_rate(
        stream, "role", ["system", "user", "assistant", "tool"], window="24 hours"
    )
    out = str(tmp_path / "rates")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    total_bad = sum(r.n_violations for r in got.collect())
    batch = spark.read.parquet(path)
    from pyspark.sql import functions as F

    expect = batch.filter(
        ~F.col("role").isin(["system", "user", "assistant", "tool"])
    ).count()
    assert total_bad == expect and expect > 0


def test_streaming_dedup(spark, landed, tmp_path):
    path, fx = landed
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    deduped = streaming_dedup(stream, ["conv_id", "turn_idx"], watermark="10 days")
    out = str(tmp_path / "dedup")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    batch = spark.read.parquet(path)
    # exact copies (same ts) collapse; the fixture's V1 duplicates are
    # exact copies of their source rows
    assert got.count() == batch.dropDuplicates(["conv_id", "turn_idx", "ts"]).count()


def test_conversation_completeness_stateful(spark, tmp_path):
    """applyInPandasWithState: a conversation emits ONE completeness
    verdict once it has been idle past the timeout by event time."""
    import pyarrow as pa
    import numpy as np

    from jsonschema_validator_spark.streaming.stateful import conversation_completeness

    d = str(tmp_path / "in")
    os.makedirs(d)
    base = np.datetime64("2026-01-01T00:00:00", "us")

    def tbl(rows):
        return pa.table(
            {
                "conv_id": pa.array([r[0] for r in rows]),
                "turn_idx": pa.array([r[1] for r in rows], type=pa.int32()),
                "ts": pa.array([base + np.timedelta64(r[2], "s") for r in rows]),
            }
        )

    # file 1: conv A dense with root; conv B missing root (starts at 1)
    pq.write_table(tbl([("A", 0, 0), ("A", 1, 10), ("A", 2, 20), ("B", 1, 5), ("B", 3, 15)]),
                   f"{d}/f1.parquet")
    # file 2: a far-future row pushes the watermark past A/B + idle
    pq.write_table(tbl([("Z", 0, 10 * 86400)]), f"{d}/f2.parquet")
    _stamp_arrival_order(f"{d}/f1.parquet", f"{d}/f2.parquet")

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = str(tmp_path / "out")
    q = (
        conversation_completeness(stream, idle_timeout="1 hour", watermark="1 minute")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.conv_id: r for r in spark.read.parquet(out).collect()}
    assert "A" in got and "B" in got, got.keys()
    a, b = got["A"], got["B"]
    assert a.n_turns == 3 and a.has_root and a.dense
    assert b.n_turns == 2 and not b.has_root and not b.dense
    assert "Z" not in got  # still in flight — no verdict yet


def test_foreachbatch_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch (driver died between sink write and
    checkpoint commit) must not duplicate sink rows: the per-batch
    dynamic partition overwrite rewrites its own batch_id partition."""
    from jsonschema_validator_spark.fixtures import generate_transcripts
    from jsonschema_validator_spark.plans import CheckSuite
    from jsonschema_validator_spark.specs import transcripts_spec
    from jsonschema_validator_spark.streaming.validate import stream_validate

    fx = generate_transcripts("tiny", dirty=False)
    df = spark.createDataFrame(fx.table.to_pandas())
    src = str(tmp_path / "in")
    df.write.parquet(src)
    schema = spark.read.parquet(src).schema
    suite = CheckSuite(transcripts_spec()).build()
    out = str(tmp_path / "out")

    q = stream_validate(spark, src, schema, suite, out)
    q.awaitTermination(300)
    first = spark.read.parquet(f"{out}/verdicts").count()
    assert first > 0

    # simulate the replay: re-write batch 0 (same batch_id) through the
    # sink's writer, as Spark would after an uncommitted batch
    from pyspark.sql import functions as F2

    from jsonschema_validator_spark.sources.tables import overwrite_partitions

    verdicts = suite.verdicts(spark.read.parquet(src))
    overwrite_partitions(
        verdicts.withColumn("batch_id", F2.lit(0)), f"{out}/verdicts", "batch_id"
    )
    assert spark.read.parquet(f"{out}/verdicts").count() == first


def test_stream_validate_incremental_restart(spark, tmp_path):
    """Incremental ingest across restarts: files landed after a run are
    picked up by the next run from the SAME checkpoint, already-processed
    files are not re-validated, and the summed verdicts equal one batch
    pass over everything."""
    import numpy as np

    d = str(tmp_path / "landing")
    os.makedirs(d)
    fx = generate_transcripts("tiny", dirty=False)
    tbl = fx.table
    half = len(tbl) // 2
    pq.write_table(tbl.slice(0, half), f"{d}/f1.parquet")

    schema = spark.read.parquet(d).schema
    suite = CheckSuite(transcripts_spec()).build()
    out = str(tmp_path / "out")

    q = stream_validate(spark, d, schema, suite, out)
    q.awaitTermination(300)
    batches_after_first = {
        r.batch_id for r in spark.read.parquet(f"{out}/verdicts").select("batch_id").distinct().collect()
    }

    # second half lands; restart from the same checkpoint
    pq.write_table(tbl.slice(half), f"{d}/f2.parquet")
    q2 = stream_validate(spark, d, schema, suite, out)
    q2.awaitTermination(300)

    verdicts = spark.read.parquet(f"{out}/verdicts")
    batches_total = {r.batch_id for r in verdicts.select("batch_id").distinct().collect()}
    assert len(batches_total) == len(batches_after_first) + 1  # exactly one new batch

    # summed rows_checked across batches equals the whole fixture
    total = (
        verdicts.groupBy().sum("rows_checked").collect()[0][0]
        / verdicts.select("check").distinct().count()
    )
    assert int(total) == len(tbl)


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """Cross-implementation pin: Spark's built-in streaming
    session_window aggregation must produce the same per-session event
    counts as the batch gap-based sessionize operator on the same
    bounded input — two independent implementations of the same
    30-min-inactivity gap semantics.

    Append mode only emits sessions the WATERMARK has passed, so a
    bounded stream would hold back its trailing sessions forever; a
    far-future sentinel user in a second file (maxFilesPerTrigger=1
    makes it a later micro-batch) advances the watermark past every
    real session. The sentinel is excluded from both sides."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.sessions import session_stats

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # user 1: two sessions (gap 45 min); user 2: one session (gaps
    # under 30 min); user 3: three singleton sessions
    for s in (0, 10, 60, 2700 + 60, 2700 + 120):
        rows.append((1, base + dt.timedelta(seconds=s)))
    for s in (0, 1700, 3300):
        rows.append((2, base + dt.timedelta(seconds=s)))
    for s in (0, 4000, 8000):
        rows.append((3, base + dt.timedelta(seconds=s)))

    def write(path, data):
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in data], pa.int64()),
                "ts": pa.array([r[1] for r in data], pa.timestamp("us")),
            }
        )
        pq.write_table(tbl, path)

    src = str(tmp_path / "events_src")
    os.makedirs(src)
    write(f"{src}/part-000.parquet", rows)
    sentinel = [(999, base + dt.timedelta(days=2))]
    write(f"{src}/part-001.parquet", sentinel)
    _stamp_arrival_order(f"{src}/part-000.parquet", f"{src}/part-001.parquet")

    batch = spark.read.parquet(src).filter("user_id != 999")
    batch_sessions = sorted(
        (r.user_id, r.n_events)
        for r in session_stats(batch, "user_id", "ts", 1800).collect()
    )
    assert batch_sessions == sorted(
        [(1, 3), (1, 2), (2, 3), (3, 1), (3, 1), (3, 1)]
    )

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "sessions_out")
    stream = stream.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    q = (
        stream.withWatermark("ts", "1 minute")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).filter("user_id != 999")
    stream_sessions = sorted(
        (r.user_id, r.n_events) for r in got.select("user_id", "n_events").collect()
    )
    assert stream_sessions == batch_sessions, (stream_sessions, batch_sessions)


def test_transition_screen_stateful_cross_batch(spark, tmp_path):
    """The streaming transition screen must flag edges that SPAN
    micro-batch boundaries via carried (last_turn, last_role) state:
    conversation X's illegal user->user edge is split across two files
    consumed one per trigger (maxFilesPerTrigger=1), so only state can
    see it. Output must equal the batch operator on the union."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jsonschema_validator_spark.operators.conversation import (
        DEFAULT_ALLOWED,
        transition_violations,
    )
    from jsonschema_validator_spark.streaming.stateful import transition_screen

    batch1 = pd.DataFrame(
        {
            "conv_id": ["X", "X", "Y"],
            "turn_idx": [0, 1, 0],
            "role": ["user", "user", "tool"],  # X in-batch user->user; Y opens with tool
        }
    )
    batch2 = pd.DataFrame(
        {
            "conv_id": ["X", "Y"],
            "turn_idx": [2, 1],
            "role": ["user", "assistant"],  # X cross-batch user->user; Y legal
        }
    )
    src = tmp_path / "in"
    src.mkdir()
    schema = pa.schema(
        [("conv_id", pa.string()), ("turn_idx", pa.int64()), ("role", pa.string())]
    )
    pq.write_table(pa.Table.from_pandas(batch1, schema=schema), src / "a_batch1.parquet")
    pq.write_table(pa.Table.from_pandas(batch2, schema=schema), src / "b_batch2.parquet")
    _stamp_arrival_order(src / "a_batch1.parquet", src / "b_batch2.parquet")

    stream = (
        spark.readStream.schema("conv_id string, turn_idx long, role string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "out")
    q = (
        transition_screen(stream, DEFAULT_ALLOWED)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.conv_id, r.turn_idx): (r.prev_role, r.role)
        for r in spark.read.parquet(out).collect()
    }
    assert got[("X", 1)] == ("user", "user")      # within batch 1
    assert got[("X", 2)] == ("user", "user")      # SPANS the batch boundary
    assert got[("Y", 0)] == (None, "tool")        # illegal opening turn
    assert len(got) == 3

    batch = spark.createDataFrame(pd.concat([batch1, batch2]))
    want = {
        (r.conv_id, r.turn_idx): (r.prev_role, r.role)
        for r in transition_violations(batch).collect()
    }
    assert got == want


def test_stream_counts_additive_across_batches(spark, tmp_path):
    """stream_counts with maxFilesPerTrigger-style multi-batch input:
    two files land, each becomes its own micro-batch; the per-batch
    appended counts SUM to the one-shot batch counts, and the MAD
    screen over the sink equals the screen over the raw batch df."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.anomaly import (
        volume_anomaly,
        volume_anomaly_from_counts,
    )
    from jsonschema_validator_spark.streaming import stream_partials

    d = tmp_path / "in"; d.mkdir()
    # day A rows split ACROSS the two files -> only additivity makes
    # the summed sink match the batch count
    f1 = pd.DataFrame({"day": ["A"] * 3 + ["B"] * 4, "x": range(7)})
    f2 = pd.DataFrame({"day": ["A"] * 2 + ["C"] * 20, "x": range(22)})
    pq.write_table(pa.Table.from_pandas(f1), str(d / "f1.parquet"))
    pq.write_table(pa.Table.from_pandas(f2), str(d / "f2.parquet"))

    out = str(tmp_path / "out")
    schema = spark.read.parquet(str(d)).schema
    # one file per trigger: force two micro-batches
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))

    from pyspark.sql import DataFrame

    from jsonschema_validator_spark.sources.tables import overwrite_partitions

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        overwrite_partitions(
            batch_df.groupBy(F.col("day").alias("part"))
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id)),
            f"{out}/counts",
            "batch_id",
        )

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{out}/_cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    sink = spark.read.parquet(f"{out}/counts")
    assert sink.select("batch_id").distinct().count() == 2  # really two batches
    got = {
        r["part"]: (r["n"], r["is_anomaly"])
        for r in volume_anomaly_from_counts(sink.select("part", "n")).collect()
    }
    batch_df = spark.read.parquet(str(d))
    want = {
        r["part"]: (r["n"], r["is_anomaly"])
        for r in volume_anomaly(batch_df, "day").collect()
    }
    assert got == want and got["A"][0] == 5.0 and got["C"][1]

    # the packaged helper produces the same sink shape in one call
    out2 = str(tmp_path / "out2")
    q2 = stream_partials(
        spark,
        str(d),
        schema,
        out2,
        lambda df: {"counts": df.groupBy(F.col("day").alias("part")).agg(F.count(F.lit(1)).alias("n"))},
    )
    q2.awaitTermination()
    s2 = spark.read.parquet(f"{out2}/counts").groupBy("part").agg(F.sum("n").alias("n"))
    assert {r["part"]: r["n"] for r in s2.collect()} == {"A": 5, "B": 4, "C": 20}


def test_loop_screen_stream_matches_batch_runs(spark, tmp_path):
    """Streaming agent-loop screen (stateful.loop_screen) pinned
    output-identical to the batch operators/conversation.
    repeated_turn_runs on the same bounded input, with
    maxFilesPerTrigger=1 forcing every interesting run to SPAN a
    micro-batch boundary (the carry-in state path). A far-future
    sentinel conversation in the last file advances the watermark so
    idle timeouts flush the open tail runs; the sentinel is excluded
    from both sides."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.conversation import repeated_turn_runs
    from jsonschema_validator_spark.streaming.stateful import loop_screen

    base = dt.datetime(2024, 5, 1, 9, 0, 0)
    # (conv, turn, text): c1 has a 4-run of 'retry' split 2|2 across
    # files, then a singleton, then an open 3-run tail; c2 alternates
    # (no runs); c3 is one long open 5-run split 3|2
    f1 = [
        ("c1", 0, "a"), ("c1", 1, "retry"), ("c1", 2, "retry"),
        ("c2", 0, "x"), ("c2", 1, "y"),
        ("c3", 0, "loop"), ("c3", 1, "loop"), ("c3", 2, "loop"),
    ]
    f2 = [
        ("c1", 3, "retry"), ("c1", 4, "retry"), ("c1", 5, "b"),
        ("c1", 6, "z"), ("c1", 7, "z"), ("c1", 8, "z"),
        ("c2", 2, "x"),
        ("c3", 3, "loop"), ("c3", 4, "loop"),
    ]
    sentinel = [("zz-sentinel", 0, "s")]

    def write(path, data, day_offset=0):
        tbl = pa.table(
            {
                "conv_id": pa.array([r[0] for r in data], pa.string()),
                "turn_idx": pa.array([r[1] for r in data], pa.int64()),
                "text": pa.array([r[2] for r in data], pa.string()),
                "ts": pa.array(
                    [
                        base + dt.timedelta(days=day_offset, seconds=r[1])
                        for r in data
                    ],
                    pa.timestamp("us"),
                ),
            }
        )
        pq.write_table(tbl, path)

    src = str(tmp_path / "turns_src")
    os.makedirs(src)
    write(f"{src}/part-000.parquet", f1)
    write(f"{src}/part-001.parquet", f2)
    write(f"{src}/part-002.parquet", sentinel, day_offset=3)
    _stamp_arrival_order(*(f"{src}/part-{i:03d}.parquet" for i in range(3)))

    batch = spark.read.parquet(src).filter("conv_id != 'zz-sentinel'")
    expect = sorted(
        (r["conv_id"], r["run_start"], r["run_len"])
        for r in repeated_turn_runs(batch, min_run=3).collect()
    )
    assert expect == [("c1", 1, 4), ("c1", 6, 3), ("c3", 0, 5)]

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "conv_id",
            "turn_idx",
            F.xxhash64(F.col("text")).alias("h"),
            "ts",
        )
    )
    out = str(tmp_path / "loops_out")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            loop_screen(stream, min_run=3, idle_timeout="1 hour", watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "loops_cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = sorted(
        (r["conv_id"], r["run_start"], r["run_len"])
        for r in spark.read.parquet(out)
        .filter("conv_id != 'zz-sentinel'")
        .collect()
    )
    assert got == expect, (got, expect)


def test_stream_stat_partials_additive_across_batches(spark, tmp_path):
    """Per-batch stat partials merge to the one-shot batch stats even
    when one DAY's rows are split across micro-batches (two files, one
    per trigger): partials are commutative, so the sink accumulates
    exactly — including the HLL sketches, whose union estimate must
    match a direct sketch within tolerance."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.stats import stats_merge_aggs, stats_partial_aggs
    from jsonschema_validator_spark.streaming.validate import stream_partials

    base = dt.datetime(2024, 7, 1, 0, 0, 0)

    def write(path, rows):
        tbl = pa.table(
            {
                "ts": pa.array([base + dt.timedelta(hours=h) for h, _v in rows],
                               pa.timestamp("us")),
                "value": pa.array([v for _h, v in rows], pa.float64()),
            }
        )
        pq.write_table(tbl, path)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # day 1 spans both files; day 2 only in file 2; a NULL value too
    write(f"{src}/part-000.parquet", [(0, 1.0), (1, 2.0), (2, 3.0)])
    write(f"{src}/part-001.parquet", [(3, 4.0), (26, 10.0), (27, None)])

    out = str(tmp_path / "out")
    schema = spark.read.parquet(src).schema
    q = stream_partials(
        spark, src, schema, out,
        lambda df: {
            "stat_partials": df.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part")).agg(
                *stats_partial_aggs(df.schema, ["value"])
            )
        },
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    parts = spark.read.parquet(f"{out}/stat_partials")
    merged = (
        parts.groupBy("part")
        .agg(*stats_merge_aggs(schema, ["value"]))
        .orderBy("part")
        .collect()
    )
    d1 = merged[0]
    assert d1["part"] == "2024-07-01"
    assert d1["value__min"] == 1.0 and d1["value__max"] == 4.0
    assert abs(d1["value__mean"] - 2.5) < 1e-9
    assert d1["value__approx_distinct"] == 4.0
    d2 = merged[1]
    assert d2["part"] == "2024-07-02"
    assert d2["value__null_rate"] == 0.5 and d2["value__max"] == 10.0


def test_loop_screen_rocksdb_state_store(spark, tmp_path):
    """The SAME stateful loop screen runs unchanged on the RocksDB
    state-store provider — the at-scale backend: the default
    HDFS-backed provider keeps every partition's state map ON-HEAP in
    the executor, so state capacity is bounded by executor memory; at
    10^12 turns the open-conversation state must spill, which RocksDB
    does natively (off-heap + local SST files, incremental checkpoint).
    The operator contract is provider-independent; output is pinned
    identical to the batch gaps-and-islands result."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.conversation import repeated_turn_runs
    from jsonschema_validator_spark.streaming.stateful import loop_screen

    base = dt.datetime(2024, 5, 1, 9, 0, 0)
    f1 = [("a", 0, "x"), ("a", 1, "x"), ("b", 0, "y")]
    f2 = [("a", 2, "x"), ("a", 3, "z"), ("b", 1, "y"), ("b", 2, "y")]
    sentinel = [("zz-sentinel", 0, "s")]

    def write(path, data, day_offset=0):
        tbl = pa.table(
            {
                "conv_id": pa.array([r[0] for r in data], pa.string()),
                "turn_idx": pa.array([r[1] for r in data], pa.int64()),
                "text": pa.array([r[2] for r in data], pa.string()),
                "ts": pa.array(
                    [base + dt.timedelta(days=day_offset, seconds=r[1]) for r in data],
                    pa.timestamp("us"),
                ),
            }
        )
        pq.write_table(tbl, path)

    src = str(tmp_path / "rocks_src")
    os.makedirs(src)
    write(f"{src}/part-000.parquet", f1)
    write(f"{src}/part-001.parquet", f2)
    write(f"{src}/part-002.parquet", sentinel, day_offset=3)
    _stamp_arrival_order(*(f"{src}/part-{i:03d}.parquet" for i in range(3)))

    batch = spark.read.parquet(src).filter("conv_id != 'zz-sentinel'")
    expect = sorted(
        (r["conv_id"], r["run_start"], r["run_len"])
        for r in repeated_turn_runs(batch, min_run=3).collect()
    )
    assert expect == [("a", 0, 3), ("b", 0, 3)]  # both runs span the file cut

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("conv_id", "turn_idx", F.xxhash64(F.col("text")).alias("h"), "ts")
    )
    out = str(tmp_path / "rocks_out")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            loop_screen(stream, min_run=3, idle_timeout="1 hour", watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "rocks_cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # the run really used RocksDB (provider is baked into the query)
        assert "RocksDB" in spark.conf.get(provider_key)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    got = sorted(
        (r["conv_id"], r["run_start"], r["run_len"])
        for r in spark.read.parquet(out).filter("conv_id != 'zz-sentinel'").collect()
    )
    assert got == expect, (got, expect)


def test_stream_pass_rate_merge_equals_batch_verdict(spark, tmp_path):
    """Wilson pass-rate partials merge to the EXACT one-shot batch
    verdict even when a day's rows split across micro-batches (two
    files, one per trigger): (n, passed) are plain integer sums and the
    interval algebra is a pure function of them."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.stats import (
        pass_rate_wilson,
        pass_rate_wilson_from_counts,
    )
    from jsonschema_validator_spark.streaming.validate import stream_partials

    base = dt.datetime(2024, 7, 1, 0, 0, 0)

    def write(path, rows):
        tbl = pa.table(
            {
                "ts": pa.array(
                    [base + dt.timedelta(days=d, hours=h) for d, h, _v in rows],
                    type=pa.timestamp("us"),
                ),
                "v": pa.array([v for _d, _h, v in rows], type=pa.float64()),
            }
        )
        pq.write_table(tbl, path)

    src = tmp_path / "in"
    src.mkdir()
    # day 0 split across the two files; pass rule v <= 10
    write(str(src / "a.parquet"), [(0, 1, 5.0), (0, 2, 50.0), (1, 1, 5.0)])
    write(str(src / "b.parquet"), [(0, 3, 7.0), (1, 2, 99.0), (1, 3, 1.0)])

    schema = spark.read.parquet(str(src)).schema
    out = str(tmp_path / "out")
    q = stream_partials(
        spark,
        str(src),
        schema,
        out,
        lambda df: {
            "pass_partials": df.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part")).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("v") <= 10).cast("long")).alias("passed"),
            )
        },
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    parts = spark.read.parquet(f"{out}/pass_partials")
    # two triggers -> two batch_ids, and day 0 has a partial in each
    assert parts.select("batch_id").distinct().count() == 2
    assert parts.filter("part = '2024-07-01'").count() == 2

    merged = pass_rate_wilson_from_counts(
        parts.select("part", "n", "passed"), sla=0.95
    )
    # build the batch twin on the same day column
    direct = spark.read.parquet(str(src)).withColumn(
        "__day", F.date_format("ts", "yyyy-MM-dd")
    )
    batch = pass_rate_wilson(direct, F.col("v") <= 10, "__day", sla=0.95)
    m = {r["part"]: r for r in merged.collect()}
    b = {r["part"]: r for r in batch.collect()}
    assert m.keys() == b.keys()
    for k in m:
        assert m[k] == b[k], (m[k], b[k])


def test_streaming_dedup_watermark_evicts_state(spark, tmp_path):
    """Watermark eviction BOUNDS the dedup state store (VERDICT r4 #6):
    dropDuplicatesWithinWatermark keeps one state row per in-horizon
    key, so after the event-time horizon passes a cohort of keys their
    rows must leave the store — pinned on the RocksDB provider (the
    at-scale backend) via the stateOperators numRowsTotal /
    numRowsRemoved progress metrics: state grows to the first cohort's
    size, then drops below it once later files advance the watermark
    past the cohort, instead of accumulating every key ever seen."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 5, 1, 9, 0, 0)

    def write(path, n_keys, day_offset, prefix):
        ts = base + dt.timedelta(days=day_offset)
        tbl = pa.table(
            {
                "k": pa.array([f"{prefix}-{i}" for i in range(n_keys)], pa.string()),
                "ts": pa.array([ts] * n_keys, pa.timestamp("us")),
            }
        )
        pq.write_table(tbl, path)

    src = str(tmp_path / "evict_src")
    os.makedirs(src)
    write(f"{src}/part-000.parquet", 500, 0, "a")

    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "evict_out")
    cp = str(tmp_path / "evict_cp")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    state_totals, removed_total = [], 0

    def run_once():
        nonlocal removed_total
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            streaming_dedup(stream, ["k"], ts_col="ts", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        for p in q.recentProgress:
            for so in p["stateOperators"] or []:
                state_totals.append(so["numRowsTotal"])
                removed_total += so.get("numRowsRemoved", 0)

    try:
        run_once()  # cohort a lands: state holds its 500 keys
        assert max(state_totals) >= 500, state_totals
        # two later cohorts, each far past the previous horizon — the
        # second also gives the engine a batch in which to apply the
        # eviction the first one's watermark advance scheduled
        write(f"{src}/part-001.parquet", 100, 3, "b")
        write(f"{src}/part-002.parquet", 10, 6, "c")
        _stamp_arrival_order(
            *(f"{src}/part-{i:03d}.parquet" for i in range(3))
        )
        run_once()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)

    # cohort a (500 keys) must be gone from the store at the end
    assert state_totals[-1] <= 150, state_totals
    assert removed_total >= 500, (removed_total, state_totals)
    # and the stream still deduplicated correctly (each key once)
    assert spark.read.parquet(out).count() == 610
