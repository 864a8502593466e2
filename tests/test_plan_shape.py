"""Physical-plan regression tests: the properties that make the engine
viable at 100 TB are plan shapes, not results — pin them.

- column pruning: pass B reads ONLY key columns from parquet
  (ReadSchema must not contain text), and a projection query's scan
  must not read unused columns;
- predicate pushdown: filters reach the parquet scan (PushedFilters);
- scan multiplicity: the fused violations plan scans the input once
  per pass, not once per check;
- whole-stage codegen: the fused flag select stays inside a codegen
  region (no interpreted row path in the hot loop).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from jsonschema_validator_spark.plans import CheckSuite
from jsonschema_validator_spark.specs import transcripts_spec

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.filter(F.col("event_type") == "click").select("event_id")
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in p, p
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "value" not in m.group(1) and "props" not in m.group(1), m.group(0)


def test_violations_scan_count_and_pruning(spark, tmp_path):
    # write the transcripts-shaped fixture as parquet so scans are real
    from jsonschema_validator_spark.fixtures import generate_transcripts
    import pyarrow.parquet as pq

    f = str(tmp_path / "t.parquet")
    pq.write_table(generate_transcripts("tiny", dirty=True).table, f)
    df = spark.read.parquet(f)
    suite = CheckSuite(transcripts_spec()).build()

    p = plan_of(suite.violations(df))
    scans = p.count("Scan parquet")
    # one scan for the fused row flags + one for the fused key-window
    # pass (non-fused specs would add more) — NOT one per check
    assert scans == 2, f"expected 2 scans, got {scans}"

    # the key-window scan must not read the text payload: exactly one of
    # the two ReadSchemas contains `text`
    schemas = re.findall(r"ReadSchema: ([^\n]*)", p)
    with_text = [s for s in schemas if "text" in s]
    assert len(schemas) == 2 and len(with_text) == 1, schemas


def test_fused_flag_select_in_codegen(spark, tmp_path):
    from jsonschema_validator_spark.fixtures import generate_transcripts
    import pyarrow.parquet as pq

    f = str(tmp_path / "t2.parquet")
    pq.write_table(generate_transcripts("tiny", dirty=False).table, f)
    df = spark.read.parquet(f)
    suite = CheckSuite(transcripts_spec()).build()
    flags = suite._flag_cols(df)
    sel = df.select(*[(~c).cast("long").alias(f"f{i}") for i, (_, c) in enumerate(flags)])
    p = plan_of(sel)
    # `*(n)` prefixes mark whole-stage-codegen regions in executedPlan
    # toString (the formatted explain spells out WholeStageCodegen)
    assert re.search(r"\*\(\d+\) Project", p), p
    # statically-true checks (e.g. `type` on schema-typed columns) must
    # constant-fold to literals, not evaluate per row
    assert re.search(r"\b0 AS f\d+", p), p


def test_ngram_overlap_single_corpus_scan(spark, tmp_path):
    """VERDICT r2 #2: the decontamination screen must scan + explode the
    corpus ONCE (round 2 fed the exploded grams to two consumers, i.e.
    two full scans of the heaviest table), and the benchmark side must
    arrive via a broadcast join."""
    from jsonschema_validator_spark.operators.dedup import ngram_overlap

    corpus_path = str(tmp_path / "corpus.parquet")
    bench_path = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    ).write.parquet(corpus_path)
    spark.createDataFrame(
        [(9, "c d e f g h")], "doc_id long, text string"
    ).write.parquet(bench_path)
    out = ngram_overlap(
        spark.read.parquet(corpus_path), spark.read.parquet(bench_path), k=4
    )
    p = plan_of(out)
    # exactly two parquet scans in the whole plan: corpus once + bench
    # once (the round-2 shape had three — corpus twice)
    scans = p.count("Scan parquet")
    assert scans == 2, f"expected 2 scans, got {scans}:\n{p}"
    assert "BroadcastHashJoin" in p, p
    # and the rewrite preserves results
    rows = out.collect()
    assert len(rows) == 1 and rows[0].n_overlap == 3 and rows[0].n_grams == 7


def test_new_pipeline_ops_plan_shapes(spark):
    """Round-3 operators stay in their designed physical shapes:
    repetition/PII are single-scan projections with NO shuffle (drop the
    presentation sort); sessionization's single user_id exchange feeds
    BOTH windows and the per-session rollup (subset-clustering rule — no
    second exchange before the aggregate)."""
    from jsonschema_validator_spark.operators.pii import pii_counts, scrub_pii
    from jsonschema_validator_spark.operators.sessions import session_stats
    from jsonschema_validator_spark.operators.textstats import ngram_repetition

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(docs.select("doc_id", ngram_repetition(F.col("text")).alias("r")))
    assert p.count("Scan parquet") == 1 and "Exchange" not in p, p

    text = F.col("text")
    p = plan_of(docs.select("*", *pii_counts(text), scrub_pii(text).alias("scrubbed")))
    assert p.count("Scan parquet") == 1 and "Exchange" not in p, p

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = plan_of(session_stats(ev, "user_id", "ts", 1800))
    assert p.count("Scan parquet") == 1, p
    assert p.count("Exchange") == 1, p  # one shuffle serves windows + rollup
    # Catalyst prunes the scan to (ts, user_id): the JSON payload never
    # enters the shuffle
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "props" not in m.group(1) and "value" not in m.group(1), p


def test_conversation_ops_plan_shapes(spark):
    """Conversation-structure operators (operators/conversation.py):
    transition_violations shuffles ONCE on the group key and the scan is
    pruned to (group, order, role) — the text/JSON payload never enters
    the exchange; conversation_stats reuses the group-key partitioning
    for the rollup + gap-window join without a third exchange for the
    join itself (both sides hash-partition on user_id)."""
    from jsonschema_validator_spark.operators.conversation import (
        conversation_stats,
        transition_violations,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = plan_of(
        transition_violations(
            ev, allowed=[(None, "click")], group="user_id", order="event_id",
            role="event_type",
        )
    )
    assert p.count("Scan parquet") == 1 and p.count("Exchange") == 1, p
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "props" not in m.group(1) and "value" not in m.group(1), p

    p = plan_of(
        conversation_stats(
            ev, group="user_id", order="event_id", role="event_type", ts="ts",
            roles=["click"],
        )
    )
    # two aggregation branches (rollup + gap window) over one table: at
    # most one exchange per branch, and the final join adds none beyond
    # them (co-partitioned on user_id)
    assert p.count("Scan parquet") <= 2, p
    assert p.count("Exchange") <= 3, p
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "props" not in m.group(1), p


def test_registry_dispatch_plan_shape(spark):
    """SchemaRegistry.with_valid is a pure projection: one scan, ZERO
    exchanges, ONE try_parse_json site however many member schemas the
    CASE chain dispatches over (the shared _bind_variant projection)."""
    from jsonschema_validator_spark.api import SchemaRegistry

    ev = spark.read.parquet(f"{SF}/events.parquet")
    reg = SchemaRegistry.create(
        {
            "click": {"type": "object", "required": ["k"]},
            "view": {"type": "object", "properties": {"k": {"minimum": 3}}},
            "error": {"type": "object", "properties": {"k": {"multipleOf": 2}}},
        },
        spark,
        draft="draft7",
    )
    out = reg.with_valid(ev, "event_type", "props", out_col="ok")
    p = plan_of(out)
    assert p.count("Scan parquet") == 1 and "Exchange" not in p, p
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("try_parse_json") == 1, analyzed.count("try_parse_json")


def test_conversation_fingerprint_plan_shapes(spark):
    """Parity-mode fingerprint pre-hashes each turn BEFORE the exchange
    (the shuffle carries 32-byte hashes, never the content payload);
    algebraic mode is a partial+final HashAggregate over a plain sum —
    no object-buffer aggregate anywhere in its plan."""
    from jsonschema_validator_spark.operators.conversation import (
        conversation_fingerprint,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    content = F.concat(F.col("event_type"), F.lit("/"), F.col("props"))

    p = plan_of(
        conversation_fingerprint(ev, content, group="user_id", order="event_id")
    )
    assert p.count("Exchange") == 1, p
    # collect_list needs ObjectHashAggregate; the partial side below the
    # exchange must already hold md5 digests, so the raw props column is
    # absent from the exchange's input schema
    m = re.search(r"Exchange hashpartitioning[^\n]*", p)
    assert m and "props" not in m.group(0), m.group(0) if m else p

    p = plan_of(
        conversation_fingerprint(
            ev, content, group="user_id", order="event_id", algebraic=True
        )
    )
    assert p.count("Exchange") == 1 and "ObjectHashAggregate" not in p, p
    assert p.count("HashAggregate") == 2, p  # partial below, final above


def test_profile_and_drift_matrix_plan_shapes(spark):
    """json_key_profile shuffles only the slim (key, tag, long, int)
    projection — the variant payload stays map-side; drift_matrix scans
    the input exactly ONCE (the histogram job) and computes the pairs on
    the driver, so the frame it returns reads only a local relation."""
    from jsonschema_validator_spark.operators.drift import drift_matrix
    from jsonschema_validator_spark.operators.profile import json_key_profile

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = plan_of(json_key_profile(ev, "props"))
    assert p.count("Scan parquet") == 1, p
    m = re.search(r"Exchange hashpartitioning[^\n]*", p)
    # the exchange input is the partial-aggregate row, not raw variants
    assert m and "variant" not in m.group(0).lower(), m.group(0) if m else p
    # scan pruned to the JSON column only
    rs = re.search(r"ReadSchema: ([^\n]*)", p)
    assert rs and "value" not in rs.group(1) and "user_id" not in rs.group(1), p

    # the P x B histogram is collected and the pairs computed in numpy
    # (drift._dense_histogram): the returned plan is the local relation
    # alone — no re-scan of the raw input and no shuffle
    p = plan_of(
        drift_matrix(ev, F.col("value"), "event_type", buckets=10, lo=0.0, hi=500.0)
    )
    assert "LocalTableScan" in p, p
    assert "Scan parquet" not in p and "Exchange" not in p, p

    from jsonschema_validator_spark.operators.drift import ks_psi

    p = plan_of(ks_psi(ev, F.col("value"), "event_type", buckets=10, lo=0.0, hi=500.0))
    assert "Scan parquet" not in p, p


def test_violation_summary_no_reinlined_parse(spark):
    """violation_summary must not let InferFiltersFromGenerate push a
    size(violations)>0 filter below the shared _bind projections — the
    pushed predicate re-inlines the whole violations construction with
    the variant parse substituted per reference (measured 104.8s -> 6.7s
    at sf0.1). Pin: exactly ONE parseJson site in the executed plan and
    no Filter sitting directly on the parquet scan."""
    from jsonschema_validator_spark.api import Schema, violation_summary

    ev = spark.read.parquet(f"{SF}/events.parquet")
    s = Schema.create(
        {
            "type": "object",
            "required": ["k", "m"],
            "properties": {"k": {"type": "integer", "maximum": 80}},
        },
        spark,
        draft="draft7",
    )
    p = plan_of(violation_summary(s.validate_many(ev, "props"), "event_id"))
    assert p.count("parseJson") == 1, p.count("parseJson")
    lines = p.splitlines()
    scan_idx = next(i for i, l in enumerate(lines) if "Scan parquet" in l)
    assert "Filter" not in lines[scan_idx - 1], lines[scan_idx - 1]




def test_round3_conversation_ops_payload_pruned(spark):
    """Queries 98/101/102-104 plan pins: every new conversation operator
    keeps the text/JSON payload OUT of its window exchange — the scan
    reads only the key/order/role(/ts) columns it needs, and
    last_k_turns' payload re-attach happens by key join after ranking."""
    from jsonschema_validator_spark.operators.conversation import (
        last_k_turns,
        render_training_text,
        repeated_turn_runs,
        transition_matrix,
        turn_gap_stats,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")

    # render offsets: rendered_len is computed on the scan; props (the
    # payload) is consumed pre-exchange and never shuffled whole... the
    # ReadSchema must include props (length needs it) but the exchange
    # carries only the projected slim row: pin one exchange, one scan
    p = plan_of(
        render_training_text(
            ev, group="user_id", order="event_id", role="event_type",
            text="props", train_roles=("purchase",),
        )
    )
    assert p.count("Scan parquet") == 1 and p.count("Exchange") == 1, p

    # repeated runs: payload hashed on the scan; exchange carries the
    # 8-byte hash; value column is never read at all
    p = plan_of(
        repeated_turn_runs(
            ev, group="user_id", order="event_id", text="event_type", min_run=3
        )
    )
    assert p.count("Scan parquet") == 1 and p.count("Exchange") == 1, p
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "props" not in m.group(1) and "value" not in m.group(1), p

    # transition matrix: slim window + O(roles^2) rollup; the final rate
    # window runs on the aggregated relation (its exchange moves
    # roles^2 rows, not input rows)
    p = plan_of(
        transition_matrix(ev, group="user_id", order="event_id", role="event_type")
    )
    assert p.count("Scan parquet") == 1, p
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "props" not in m.group(1) and "value" not in m.group(1), p

    # gap stats: (group, order, role, ts) only
    p = plan_of(
        turn_gap_stats(ev, group="user_id", order="event_id", role="event_type", ts="ts")
    )
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "props" not in m.group(1) and "value" not in m.group(1), p

    # last-k: the ranking branch reads ONLY (group, order); the payload
    # branch joins back by key — no payload in the window sort
    p = plan_of(last_k_turns(ev, 5, group="user_id", order="event_id"))
    reads = re.findall(r"ReadSchema: ([^\n]*)", p)
    assert any(("props" not in r and "event_type" not in r) for r in reads), p


def test_curation_summary_single_scan(spark):
    """curation_summary exists to replace a 90-scan stage-wise plan:
    pin ONE scan and ONE exchange on a plain frame, with the payload
    column absent from nothing (it must be read — hashes derive from
    it) but the exchange carrying only the collected slim structs."""
    from jsonschema_validator_spark.operators.conversation import curation_summary

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = curation_summary(
        ev,
        F.try_parse_json("props").isNull(),
        F.concat(F.col("event_type"), F.lit("/"), F.col("props")),
        group="user_id",
        order="event_id",
        role="event_type",
    )
    p = plan_of(out)
    assert p.count("Scan parquet") == 1, p
    assert p.count("Exchange") == 1, p


def test_round4_ops_plan_shapes(spark):
    """Round-4 operators stay in their designed physical shapes:
    winnow_fingerprints is a single-scan zero-shuffle projection;
    winnow_pairs joins fingerprints by EQUI hash join only (never a
    cartesian/nested-loop); normalize_unicode runs exactly ONE
    Arrow-batched Python stage around JVM regexp stages."""
    from jsonschema_validator_spark.operators.cleaning import normalize_unicode
    from jsonschema_validator_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    p = plan_of(winnow_fingerprints(docs))
    assert p.count("Scan parquet") == 1 and "Exchange" not in p, p
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "source" not in m.group(1), p  # only (doc_id, text) read

    p = plan_of(winnow_pairs(docs, threshold=0.3))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "HashJoin" in p, p

    p = plan_of(normalize_unicode(docs.select("doc_id", "text"), "text"))
    assert p.count("ArrowEvalPython") == 1, p
    assert "BatchEvalPython" not in p, p  # never row-at-a-time Python


def test_round4b_ops_plan_shapes(spark):
    """Second round-4 batch stays in designed shapes:

    - kmeans assignment: single scan, ZERO exchanges (centroids are
      literals — nearest-centroid is a pure projection);
    - bloom definite-orphan branch: NO join operator at all (the Bloom
      probe is a literal-array filter), and the candidate branch's
      verify join is a broadcast hash anti-join, never nested-loop;
    - cube_profile: exactly ONE Expand and one hash aggregation pair
      (all 2^d grouping sets share one shuffle);
    - CUSUM: the raw table reduces through a partial+final aggregate
      BEFORE the single Arrow-batched recurrence stage (FlatMapGroups /
      ArrowEvalPython), so per-row Python never touches the raw scan.
    """
    from jsonschema_validator_spark.operators.changepoint import cusum_screen
    from jsonschema_validator_spark.operators.clustering import (
        _init_centroids,
        assign_nearest,
    )
    from jsonschema_validator_spark.operators.integrity import (
        bloom_might_contain,
        build_bloom,
    )
    from jsonschema_validator_spark.operators.stats import cube_profile

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = _init_centroids(emb, "vec_id", "embedding", 4)
    p = plan_of(assign_nearest(emb, "vec_id", "embedding", cents))
    assert "Exchange" not in p and p.count("Scan parquet") == 1, p

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    words = build_bloom(orders, "l_orderkey", n_bits=1 << 12)
    might = bloom_might_contain(F.col("l_orderkey"), words, 1 << 12, 4)
    p = plan_of(li.filter(F.col("l_orderkey").isNull() | ~might))
    assert "Join" not in p, p  # definite orphans: filter only, no join
    p = plan_of(
        li.filter(F.col("l_orderkey").isNotNull() & might).join(
            orders.distinct(), "l_orderkey", "left_anti"
        )
    )
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p, p
    assert "HashJoin" in p and "LeftAnti" in p, p

    p = plan_of(cube_profile(spark.read.parquet(f"{SF}/orders.parquet"),
                             ["o_orderstatus", "o_orderpriority"], "o_totalprice"))
    assert p.count("Expand") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = plan_of(cusum_screen(ev, "event_type", "ts", "value"))
    assert "BatchEvalPython" not in p, p
    assert "FlatMapGroupsInPandas" in p or "ArrowEvalPython" in p, p
    # partial aggregation happens below the python stage: two HashAggregates
    # (partial+final) for the daily reduction before any pandas operator
    pre_python = p.split("FlatMapGroupsInPandas")[-1]
    assert "HashAggregate" in pre_python, p


def test_linearize_extraction_plan_shape(spark):
    """Round-5 tree rework pins: linearize_best_path extracts paths via
    a JVM-side collect_list aggregation + ONE mapInPandas over the
    packed O(trees) relation — the plan must show the pandas stage fed
    by an aggregate (ObjectHashAggregate carrying collect_list), and no
    FlatMapGroupsInPandas (the per-group applyInPandas shape whose
    per-tree overhead dominated), and no cartesian join anywhere in the
    doubling chain."""
    from jsonschema_validator_spark.operators.trees import linearize_best_path

    rows = [(1, None, 0.5), (2, 1, 0.9), (10, None, 0.1), (11, 10, 0.2)]
    df = spark.createDataFrame(rows, "id long, parent long, score double")
    plan = plan_of(linearize_best_path(df, "id", "parent", "score"))
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "collect_list" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
