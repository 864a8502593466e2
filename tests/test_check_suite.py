"""Integration tests: CheckSuite over the deterministic transcripts
fixture (FIXTURES.md) — clean fixture passes everything; every injected
violation V1..V10 surfaces in violations()/verdicts() at its known keys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_validator_spark.errors import UninitialisedPlanError
from jsonschema_validator_spark.fixtures import generate_transcripts
from jsonschema_validator_spark.plans import CheckSuite
from jsonschema_validator_spark.specs import transcripts_spec


@pytest.fixture(scope="module")
def clean_df(spark):
    fx = generate_transcripts("tiny", dirty=False)
    return spark.createDataFrame(fx.table.to_pandas()).cache()


@pytest.fixture(scope="module")
def dirty(spark):
    fx = generate_transcripts("tiny", dirty=True)
    return spark.createDataFrame(fx.table.to_pandas()).cache(), fx.expected_violations.to_pandas()


@pytest.fixture(scope="module")
def suite():
    return CheckSuite(transcripts_spec()).build()


def test_unbuilt_suite_refuses():
    s = CheckSuite(transcripts_spec())
    with pytest.raises(UninitialisedPlanError):
        s.verdicts(None)


def test_clean_fixture_all_pass(clean_df, suite):
    v = suite.verdicts(clean_df)
    failed = v.filter(~F.col("pass")).collect()
    assert not failed, f"clean fixture failed checks: {[(r.day, r.check) for r in failed]}"
    # and zero violation rows
    assert suite.violations(clean_df).count() == 0


def test_dirty_fixture_verdicts(dirty, suite):
    df, _ = dirty
    v = suite.verdicts(df).collect()
    failed_checks = {r.check for r in v if not r["pass"]}
    # every injected violation class shows up as a failing check
    for expect in [
        "enum@#role",
        "required@#text",
        "minLength@#text",
        "maxLength@#text",
        "pattern@#text",
        "enum@#tool",
        "dependencies@#",
        "minimum@#turn_idx",
        "maximum@#turn_idx",
        "unique(conv_id,turn_idx)",
        "referential_root(conv_id)",
        "ordering(conv_id)",
        "drift(length(text))",
    ]:
        assert expect in failed_checks, f"{expect} not failing; failing: {sorted(failed_checks)}"


def test_dirty_fixture_violation_attribution(dirty, suite):
    df, expected = dirty
    viol = suite.violations(df).toPandas()
    got = set(zip(viol.conv_id, viol.turn_idx, viol.keyword))
    # keyword name used by the engine for each expectation
    kw_map = {
        "unique": "unique",
        "referential": "referential",
        "enum": "enum",
        "required": "required",
        "minLength": "minLength",
        "maxLength": "maxLength",
        "pattern": "pattern",
        "dependencies": "dependencies",
        "ordering": "ordering",
        "minimum": "minimum",
        "maximum": "maximum",
    }
    missing = []
    for _, e in expected.iterrows():
        if (e.conv_id, e.turn_idx, kw_map[e.keyword]) not in got:
            missing.append((e.conv_id, int(e.turn_idx), e.violation_id, e.keyword))
    assert not missing, f"expected violations not reported: {missing}"


def test_drift_day_flagged(dirty, suite):
    df, _ = dirty
    v = suite.verdicts(df).filter(F.col("check") == "drift(length(text))").toPandas()
    drifted = set(v[~v["pass"]].day)
    assert "2026-01-21" in drifted  # V9 shifted-lognormal day
    # among days large enough to evaluate (>= min_rows, where PSI noise
    # ~ buckets/n is small), the shifted day's PSI must dominate
    big = v[v.rows_checked >= 200]
    psi = {r.day: r.metrics["psi"] for _, r in big.iterrows()}
    worst = max(psi, key=psi.get)
    assert worst == "2026-01-21", psi


def test_stats_metrics_present(clean_df, suite):
    v = suite.verdicts(clean_df).filter(F.col("check") == "stats:text").first()
    m = v.metrics
    assert m["null_rate"] == 0.0
    assert m["len_min"] >= 1 and m["len_max"] <= 8000 + 20


def test_violation_sampling_cap(dirty, suite):
    """sample_per_check caps rows per (day, keyword) deterministically;
    the sampled set is a subset of the full violations."""
    df, _ = dirty
    full = {tuple(r) for r in suite.violations(df).collect()}
    capped = suite.violations(df, sample_per_check=2)
    rows = capped.collect()
    assert {tuple(r) for r in rows} <= full
    from collections import Counter

    per = Counter((r.day, r.keyword) for r in rows)
    assert max(per.values()) <= 2
    # deterministic: same sample on re-evaluation
    assert {tuple(r) for r in capped.collect()} == {tuple(r) for r in rows}


def test_referential_cross_table_check(spark):
    """The `referential` dataset check: child keys must exist in a parent
    table supplied via refs (or a sources table ref)."""
    from jsonschema_validator_spark.errors import MalformedSchemaError
    from jsonschema_validator_spark.plans import CheckSuite

    child = spark.createDataFrame(
        [("d1", "c1", 0), ("d1", "c2", 0), ("d2", "cX", 0)],
        "day string, conv_id string, turn_idx int",
    )
    parent = spark.createDataFrame([("c1",), ("c2",)], "conv_id string")
    suite = CheckSuite(
        {
            "name": "ri",
            "partition_by": "day",
            "keys": ["conv_id", "turn_idx"],
            "row": {},
            "dataset": [
                {"check": "referential", "columns": ["conv_id"], "parent": "convs"}
            ],
        }
    ).build()
    v = {r.day: r for r in suite.verdicts(child, refs={"convs": parent}).collect()}
    assert v["d1"]["pass"] and v["d1"].violation_count == 0
    assert not v["d2"]["pass"] and v["d2"].violation_count == 1
    viol = suite.violations(child, refs={"convs": parent}).collect()
    assert [(r.conv_id, r.keyword) for r in viol] == [("cX", "referential")]

    # malformed spec fails at COMPILE, not at runtime
    import pytest as _pytest

    with _pytest.raises(MalformedSchemaError):
        CheckSuite(
            {"name": "bad", "row": {}, "dataset": [{"check": "referential"}]}
        )


def test_volume_and_freshness_checks(spark):
    """volume: tolerance band around the median partition count;
    freshness: newest event within max_age_hours of as_of. A repeated
    check gives the same verdicts again."""
    from jsonschema_validator_spark.plans import CheckSuite

    rows = []
    for day, n, last_sec in [("d1", 100, 0), ("d2", 98, 3600), ("d3", 10, 7200)]:
        for i in range(n):
            rows.append((day, f"c{day}{i}", 0, f"2026-01-05 0{int(last_sec//3600)}:00:00"))
    df = spark.createDataFrame(
        rows, "day string, conv_id string, turn_idx int, ts_s string"
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).col("ts_s").cast("timestamp")).drop("ts_s")

    spec = {
        "name": "vf",
        "partition_by": "day",
        "keys": ["conv_id", "turn_idx"],
        "row": {},
        "dataset": [
            {"check": "volume", "tolerance": 0.5},
            {
                "check": "freshness",
                "ts": "ts",
                "as_of": "2026-01-05T03:30:00",
                "max_age_hours": 3.0,
            },
        ],
    }
    suite = CheckSuite(spec).build()
    v = {(r.day, r.check): r for r in suite.verdicts(df).collect()}
    assert v[("d1", "volume")]["pass"] and v[("d2", "volume")]["pass"]
    assert not v[("d3", "volume")]["pass"]  # 10 vs median 98
    # d1: newest 00:00, age 3.5h > 3h -> stale; d2: 2.5h ok; d3: 1.5h ok
    assert not v[("d1", "freshness(ts)")]["pass"]
    assert v[("d2", "freshness(ts)")]["pass"]
    assert v[("d3", "freshness(ts)")]["pass"]
    assert abs(v[("d2", "freshness(ts)")].metrics["age_hours"] - 2.5) < 1e-6

    twice = CheckSuite({**spec, "dataset": spec["dataset"] * 2}).build()
    standalone = twice.verdicts(df).collect()
    assert len(standalone) == 2 * len(v)
    for r in standalone:
        want = v[(r.day, r.check)]
        assert (r["pass"], r.violation_count, r.rows_checked, r.metrics) == (
            want["pass"], want.violation_count, want.rows_checked, want.metrics
        )

    # malformed freshness fails at compile
    import pytest as _pytest
    from jsonschema_validator_spark.errors import MalformedSchemaError

    with _pytest.raises(MalformedSchemaError):
        CheckSuite({"name": "bad", "row": {}, "dataset": [{"check": "freshness", "ts": "ts"}]})


def test_every_dataset_check_kind_executes(spark):
    """Guard the compile/runtime split for the whole DATASET_CHECKS set:
    every kind accepted at compile must execute through verdicts and
    violations without error (the 'referential' kind once compiled fine
    and exploded at runtime), alone and all in one suite."""
    from jsonschema_validator_spark.plans import CheckSuite
    from jsonschema_validator_spark.plans.check_suite import DATASET_CHECKS

    df = spark.createDataFrame(
        [
            ("d1", "c1", 0, "hello world", "2026-01-05 01:00:00"),
            ("d1", "c1", 1, "more text", "2026-01-05 01:01:00"),
            ("d2", "c2", 0, "bye", "2026-01-06 02:00:00"),
        ],
        "day string, conv_id string, turn_idx int, text string, ts_s string",
    )
    from pyspark.sql import functions as F

    df = df.withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    parent = spark.createDataFrame([("c1",), ("c2",)], "conv_id string")

    config = {
        "unique": {"check": "unique", "columns": ["conv_id", "turn_idx"]},
        "referential_root": {"check": "referential_root", "group": "conv_id", "order": "turn_idx"},
        "referential": {"check": "referential", "columns": ["conv_id"], "parent": "p"},
        "ordering": {"check": "ordering", "group": "conv_id", "order": "turn_idx", "monotone": ["ts"]},
        "drift": {"check": "drift", "value": "length(text)", "lo": 0.0, "hi": 100.0},
        "stats": {"check": "stats", "columns": ["conv_id", "text"]},
        "volume": {"check": "volume", "tolerance": 0.9},
        "freshness": {"check": "freshness", "ts": "ts", "as_of": "2026-01-07T00:00:00", "max_age_hours": 100.0},
    }
    assert set(config) == DATASET_CHECKS, set(config) ^ DATASET_CHECKS

    # the combined suite also holds a one-column unique, which runs as its
    # own row-count job beside the two passes
    combined = [*config.values(), {"check": "unique", "columns": ["conv_id"]}]
    for dataset in [[d] for d in config.values()] + [combined]:
        suite = CheckSuite(
            {
                "name": "k",
                "partition_by": "day",
                "keys": ["conv_id", "turn_idx"],
                "row": {},
                "dataset": dataset,
            }
        ).build()
        assert suite.verdicts(df, refs={"p": parent}).collect(), dataset
        suite.violations(df, refs={"p": parent}).collect()


def _partition_df(spark):
    """Days d1 and d2 alike; d3 with only short texts and later turn
    numbers; one NULL text on d1; a day d4 whose texts are all NULL."""
    rows = []
    for day, span, first in [("d1", 20, 0), ("d2", 20, 0), ("d3", 10, 40)]:
        for i in range(40):
            text = "x" * (5 + (i * 7) % span)
            rows.append((day, f"c{day}{i % 8}", first + i, text, f"2026-01-05 0{i % 4}:00:00"))
    rows.append(("d1", "cnull", 99, None, "2026-01-05 00:00:00"))
    rows += [("d4", f"c4{i}", i, None, "2026-01-06 00:00:00") for i in range(3)]
    return spark.createDataFrame(
        rows, "day string, conv_id string, turn_idx int, text string, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")


def _suite_rows(dataset):
    return CheckSuite(
        {"name": "p", "partition_by": "day", "keys": ["conv_id", "turn_idx"], "row": {}, "dataset": dataset}
    ).build()


def test_partition_checks_in_any_number_and_shape(spark):
    """Drift without bounds, drift against a baseline partition, two drift
    checks with different buckets, and repeated stats/volume/freshness
    checks all run in one suite: each check's rows equal its single-check
    suite's, and both drift shapes equal KS/PSI computed here in numpy
    over the drift.value_histogram histogram (ks_stat, psi, rows_checked,
    pass) to 1e-9."""
    from collections import Counter

    import math

    import numpy as np

    from jsonschema_validator_spark.operators.drift import value_histogram

    df = _partition_df(spark)
    unbounded = {"check": "drift", "value": "length(text)", "buckets": 10, "min_rows": 0}
    baseline = {"check": "drift", "value": "turn_idx", "buckets": 7, "baseline": "d2", "min_rows": 0}
    volume = {"check": "volume", "tolerance": 0.5}
    fresh = {"check": "freshness", "ts": "ts", "as_of": "2026-01-06T01:00:00", "max_age_hours": 20.0}
    checks = [
        unbounded,
        baseline,
        {"check": "stats", "columns": ["conv_id", "text"]},
        {"check": "stats", "columns": ["text", "turn_idx"]},
        volume, volume, fresh, fresh,
        {"check": "unique", "columns": ["conv_id"]},
    ]

    def shaped(r):
        m = r.metrics and {k: round(v, 9) if v is not None else None for k, v in r.metrics.items()}
        return (r["pass"], r.violation_count, r.rows_checked, m)

    want, n_want = {}, Counter()
    for d in checks:
        for r in _suite_rows([d]).verdicts(df).collect():
            want[(r.day, r.check)] = shaped(r)
            n_want[(r.day, r.check)] += 1
    got = _suite_rows(checks).verdicts(df).collect()
    assert Counter((r.day, r.check) for r in got) == n_want
    for r in got:
        assert shaped(r) == want[(r.day, r.check)], (r.day, r.check)

    # the one-column unique: every row whose conv_id occurs twice or more
    # is a duplicate, in verdicts and in violations
    keys = df.select("day", "conv_id", "turn_idx").collect()
    seen = Counter(r.conv_id for r in keys)
    dup_rows = {(r.conv_id, r.turn_idx) for r in keys if seen[r.conv_id] > 1}
    dup_days = Counter(r.day for r in keys if seen[r.conv_id] > 1)
    unique_verdicts = {r.day: r.violation_count for r in got if r.check == "unique(conv_id)"}
    assert unique_verdicts == {day: dup_days[day] for day in ("d1", "d2", "d3", "d4")}
    viol = _suite_rows(checks).violations(df).filter(F.col("keyword") == "unique").collect()
    assert len(viol) == len(dup_rows) == 120
    assert {(r.conv_id, r.turn_idx) for r in viol} == dup_rows
    assert {(r.column, r.message) for r in viol} == {("conv_id", "duplicate key")}

    by_key = {(r.day, r.check): r for r in got}
    assert ("d4", "drift(length(text))") not in by_key  # no non-NULL value
    assert by_key[("d4", "volume")].rows_checked == 3
    assert by_key[("d1", "drift(length(text))")].rows_checked == 40  # non-NULL only
    for d in (unbounded, baseline):
        counts = {}
        for x in value_histogram(df, F.expr(d["value"]), "day", d["buckets"]).collect():
            counts.setdefault(x.part, np.zeros(d["buckets"]))[x.bucket] += x.n
        assert len(counts) == sum(1 for k in by_key if k[1] == f"drift({d['value']})")
        base = sum(counts.values()) if d.get("baseline") is None else counts[d["baseline"]]
        q = base / base.sum()
        passes = set()
        for part, c in counts.items():
            r = by_key[(part, f"drift({d['value']})")]
            p = c / c.sum()
            ks = np.abs(np.cumsum(p) - np.cumsum(q)).max()
            ps, qs = np.maximum(p, 1e-6), np.maximum(q, 1e-6)
            psi = ((ps - qs) * np.log(ps / qs)).sum()
            # two-sample KS critical value at alpha = 0.01
            n, m = c.sum(), base.sum()
            crit = math.sqrt(-0.5 * math.log(0.005)) * math.sqrt((n + m) / (n * m))
            ok = ks <= crit and psi <= 0.2
            assert r.rows_checked == n and r["pass"] == ok, part
            assert abs(r.metrics["ks_stat"] - ks) <= 1e-9, part
            assert abs(r.metrics["psi"] - psi) <= 1e-9, part
            passes.add(ok)
        assert passes == {True, False}, d


def test_drift_null_partition_is_its_own_partition(spark):
    """A NULL partition value is one partition in drift, as in the other
    partition-level checks: the suite emits a day=None drift row equal
    to drift.ks_psi's part=None row."""
    from jsonschema_validator_spark.operators.drift import ks_psi

    df = spark.createDataFrame(
        [("d1", "c1", 0, "ab"), (None, "c2", 0, "abcdefgh")],
        "day string, conv_id string, turn_idx int, text string",
    )
    got = {r.day: r for r in _suite_rows([{"check": "drift", "value": "length(text)", "buckets": 4}]).verdicts(df).collect()}
    ref = {x.part: x for x in ks_psi(df, F.length("text"), "day", 4).collect()}
    assert set(got) == set(ref) == {"d1", None}
    for day, x in ref.items():
        assert got[day].rows_checked == x.n_rows == 1
        assert (got[day].metrics["ks_stat"], got[day].metrics["psi"]) == (x.ks_stat, x.psi)


@pytest.mark.parametrize("columns", [["conv_id"], ["conv_id", "turn_idx"]], ids=["one", "two"])
def test_unique_null_key_is_never_a_duplicate(spark, columns):
    """A unique check counts the same rows in its verdict and its
    violations, standalone (one column) or in pass B's key window (the
    two key columns): two rows with a NULL conv_id are not duplicates
    (SQL UNIQUE, certain keys), even with equal turn_idx; the two
    (c1, 0) rows are."""
    df = spark.createDataFrame(
        [("d1", None, 0), ("d1", None, 0), ("d1", "c1", 0), ("d2", "c1", 0), ("d2", "c2", 0)],
        "day string, conv_id string, turn_idx int",
    )
    suite = _suite_rows([{"check": "unique", "columns": columns}])
    verdicts = {r.day: r.violation_count for r in suite.verdicts(df).collect()}
    viol = suite.violations(df).collect()
    assert verdicts == {"d1": 1, "d2": 1}
    assert sorted((r.day, r.conv_id, r.turn_idx) for r in viol) == [("d1", "c1", 0), ("d2", "c1", 0)]


def test_unbounded_drift_memo_does_not_grow(spark):
    """Pass A memoizes its Columns by input schema only: drift bounds taken
    from the data change from frame to frame (stream micro-batches, runner
    sub-ranges), so they must neither add memo entries nor be reused from
    an earlier frame."""
    df = _partition_df(spark)
    longer = df.withColumn("text", F.concat("text", F.lit("y" * 30)))
    dataset = [{"check": "drift", "value": "length(text)", "buckets": 10, "min_rows": 0}]

    def rows(suite, frame):
        return sorted(
            (r.day, r.rows_checked, tuple(sorted(r.metrics.items())))
            for r in suite.verdicts(frame).collect()
        )

    suite = _suite_rows(dataset)
    rows(suite, df)
    n_memo = len(suite._expr_memo)
    assert rows(suite, longer) == rows(_suite_rows(dataset), longer)
    assert len(suite._expr_memo) == n_memo
    rows(suite, df.filter(F.col("day") != "d3"))
    assert len(suite._expr_memo) == n_memo


@pytest.mark.parametrize("bounds", [{}, {"lo": 0.0, "hi": 60.0}], ids=["unbounded", "bounded"])
def test_drift_missing_baseline_is_named(spark, bounds):
    """A drift baseline partition with no non-NULL value raises the named
    MissingBaselineError, naming the partition, from the suite and from
    the distributed drift.ks_psi alike."""
    from jsonschema_validator_spark.operators.drift import MissingBaselineError, ks_psi

    df = _partition_df(spark)
    for part in ("nope", "d4"):
        suite = _suite_rows([{"check": "drift", "value": "length(text)", "baseline": part, **bounds}])
        with pytest.raises(MissingBaselineError, match=repr(part)):
            suite.verdicts(df)
        with pytest.raises(MissingBaselineError, match=repr(part)):
            ks_psi(df, F.length("text"), "day", baseline_partition=part, **bounds).collect()


def test_spec_level_format_assertion(spark):
    """`validate_formats: true` in a spec turns `format` keywords into
    asserted checks; without it they stay annotations (JSON Schema
    default). The flag lives in the spec dict, so it changes spec_hash
    (lineage invalidation)."""
    rows = [
        ("c1", 0, "a@b.com"),
        ("c1", 1, "not-an-email"),
        ("c2", 0, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, contact string")
    base = {
        "name": "fmt_suite",
        "draft": "draft7",
        "partition_by": "conv_id",
        "keys": ["conv_id", "turn_idx"],
        "row": {
            "required": ["conv_id"],
            "properties": {"contact": {"format": "email"}},
        },
    }
    asserted = CheckSuite({**base, "validate_formats": True}).build()
    annotated = CheckSuite(base).build()
    assert asserted.spec_hash != annotated.spec_hash

    v = asserted.verdicts(df)
    bad = v.filter(~F.col("pass")).collect()
    assert len(bad) == 1 and bad[0]["day"] == "c1" and bad[0]["violation_count"] == 1

    # annotation mode: the format keyword compiles to nothing, so only
    # the required check remains and nothing fails
    assert len(annotated._checks) == 1
    v2 = annotated.verdicts(df)
    assert v2.filter(~F.col("pass")).count() == 0
