"""Pure-function unit tests for the keyword compiler — no Spark action
needed (compile-time behavior only). Mirrors the reference's table-driven
compile-error tests (/root/reference/src/keywords/type_.rs:158-187,
properties_.rs:209-226)."""

from __future__ import annotations

import pytest

from jsonschema_validator_spark.errors import (
    CyclicRefError,
    MalformedSchemaError,
    RefResolutionError,
)
from jsonschema_validator_spark.functions.keywords import (
    Scope,
    canonical_json,
    compile_schema,
    normalise_path,
)


def _compile(schema, draft="draft7", **scope_kwargs):
    scope = Scope(draft=draft, **scope_kwargs)
    scope.root = schema
    return compile_schema(schema, scope)


# --- compile successes (type_.rs:143-156 pattern) -------------------------

@pytest.mark.parametrize(
    "schema, n_checks",
    [
        ({}, 0),  # absent keywords compile to nothing (type_.rs:52-57)
        ({"type": "string"}, 1),
        ({"type": ["string", "null"]}, 1),
        ({"minimum": 1, "maximum": 2}, 2),
        ({"properties": {"a": {"type": "integer"}, "b": {"minimum": 0}}}, 2),
        ({"title": "x", "description": "y", "default": 1}, 0),  # annotations
    ],
)
def test_compile_check_count(schema, n_checks):
    assert len(_compile(schema)) == n_checks


_TRANSCRIPTS_CHECKS = [
    *[("required", f"#{c}", "required property missing") for c in ("conv_id", "turn_idx", "role", "text", "ts")],
    ("type", "#", "Invalid Type"),
    ("type", "#conv_id", "Invalid Type"),
    ("pattern", "#conv_id", "string does not match pattern"),
    ("type", "#turn_idx", "Invalid Type"),
    ("minimum", "#turn_idx", "minimum violated"),
    ("maximum", "#turn_idx", "maximum violated"),
    ("type", "#role", "Invalid Type"),
    ("enum", "#role", "value not in enum"),
    ("type", "#text", "Invalid Type"),
    ("pattern", "#text", "string does not match pattern"),
    ("minLength", "#text", "minLength violated"),
    ("maxLength", "#text", "maxLength violated"),
    ("type", "#tool", "Invalid Type"),
    ("enum", "#tool", "value not in enum"),
    ("dependencies", "#", "dependencies violated"),
]

_EVENTS_CHECKS = [
    ("required", "#event_id", "required property missing"),
    ("required", "#ts", "required property missing"),
    ("enum", "#event_type", "value not in enum"),
    ("minimum", "#value", "minimum violated"),
    ("maximum", "#value", "maximum violated"),
]


def test_benchmark_suites_compile_to_pinned_checks():
    """The compiled check lists of the transcripts suite and the events
    suite, in order and with their labels: each (keyword, path) names a
    verdict row (`keyword@path`) and a flag column `f{i}` by position."""
    import __spark_entry__ as entry

    from jsonschema_validator_spark.plans import CheckSuite
    from jsonschema_validator_spark.specs import transcripts_spec

    def triples(suite):
        return [(c.keyword, c.path, c.message) for c in suite._checks]

    assert triples(CheckSuite(transcripts_spec()).build()) == _TRANSCRIPTS_CHECKS
    assert triples(entry._events_suite()) == _EVENTS_CHECKS


# --- compile errors (exact taxonomy; type_.rs:158-187) ---------------------

@pytest.mark.parametrize(
    "schema, draft",
    [
        ({"type": []}, "draft4"),  # empty type array (type_.rs:69-75)
        ({"type": [1]}, "draft4"),  # non-string entry (type_.rs:77-89)
        ({"type": 1}, "draft4"),  # wrong kind (type_.rs:90-92)
        ({"type": "not-a-type"}, "draft4"),  # unknown primitive
        ({"enum": []}, "draft4"),
        ({"enum": "x"}, "draft4"),
        ({"required": []}, "draft4"),  # draft4: non-empty
        ({"required": [1]}, "draft4"),
        ({"pattern": "("}, "draft4"),  # invalid regex
        ({"pattern": 5}, "draft4"),
        ({"minimum": "x"}, "draft4"),
        ({"multipleOf": 0}, "draft4"),
        ({"multipleOf": -2}, "draft4"),
        ({"minLength": -1}, "draft4"),
        ({"maxItems": 1.5}, "draft4"),
        ({"properties": 5}, "draft4"),  # properties_.rs:59-63
        ({"properties": {"a": 5}}, "draft4"),  # properties_.rs:96-112
        ({"exclusiveMinimum": True}, "draft4"),  # requires minimum
        ({"minimum": 1, "exclusiveMinimum": True}, "draft7"),  # bool form is draft4-only
        ({"exclusiveMinimum": 5}, "draft4"),  # numeric form is draft6+
        ({"allOf": []}, "draft4"),
        ({"anyOf": "x"}, "draft4"),
        ({"dependencies": 5}, "draft4"),
        ({"dependencies": {"a": 5}}, "draft4"),
        ({"uniqueItems": "yes"}, "draft4"),
        ("not-an-object", "draft4"),  # non-object root (schema.rs:46-57)
    ],
)
def test_malformed_schema_raises(schema, draft):
    with pytest.raises(MalformedSchemaError):
        _compile(schema, draft=draft)


def test_required_empty_ok_draft6():
    assert _compile({"required": []}, draft="draft6") == []


def test_unresolvable_ref_raises():
    # fetch failure at compile is an error (ref_.rs:43)
    with pytest.raises(RefResolutionError):
        _compile({"$ref": "http://nowhere.invalid/schema.json"})
    with pytest.raises(RefResolutionError):
        _compile({"$ref": "#/definitions/missing"})


def test_non_string_ref_silently_ignored():
    # reference parity: non-string $ref is ignored (ref_.rs:35-40)
    assert _compile({"$ref": 5}) == []


def test_cyclic_ref_strict_raises():
    schema = {"definitions": {"a": {"$ref": "#/definitions/b"}, "b": {"$ref": "#/definitions/a"}},
              "$ref": "#/definitions/a"}
    with pytest.raises(CyclicRefError):
        _compile(schema, strict_cycles=True)
    # bounded unrolling succeeds when not strict
    assert _compile(schema) == []


def test_ref_registry_resolution():
    # remote-document analog: registry acts as the loader
    # (scope_builder.rs:33-35); resolution matrix cf. ref_.rs:75-92
    scope = Scope(draft="draft7", base_uri="http://example.com/root.json",
                  registry={"http://example.com/other.json": {"type": "integer"}})
    scope.root = {"$ref": "other.json"}  # sibling-file relative ref
    checks = compile_schema(scope.root, scope)
    assert len(checks) == 1 and checks[0].keyword == "type"


# --- pure helpers ----------------------------------------------------------

@pytest.mark.parametrize(
    "raw, want",
    [
        ("#", "#"),
        ("#/", "#"),
        ("#/a/", "#a"),
        ("#/a/b", "#a/b"),
    ],
)
def test_normalise_path(raw, want):
    # table-driven cases mirror validation_error.rs:43-48
    assert normalise_path(raw) == want


@pytest.mark.parametrize(
    "value, want",
    [
        ({"b": 2, "a": 1}, '{"a":1,"b":2}'),
        ([1.0, 2.5], "[1,2.5]"),
        ("x", '"x"'),
        (True, "true"),
        (None, "null"),
        ({"k": [1.00, {"z": None}]}, '{"k":[1,{"z":null}]}'),
    ],
)
def test_canonical_json(value, want):
    assert canonical_json(value) == want


def test_malformed_json_is_violation_not_job_abort(spark):
    # one bad record must yield a violation, never a job kill (ANSI FAILFAST)
    from pyspark.sql import functions as F
    from jsonschema_validator_spark.functions import json_accessor, malformed_json_check
    from jsonschema_validator_spark.functions.keywords import compile_schema, pred_of

    df = spark.createDataFrame([('{"k":1}',), ("not json{",), (None,)], "j string")
    pred = pred_of(compile_schema({"required": ["k"]}))
    rows = df.select(
        pred(json_accessor(F.col("j"))).alias("ok"),
        malformed_json_check(F.col("j")).alias("wellformed"),
    ).collect()
    assert [(r["ok"], r["wellformed"]) for r in rows] == [
        (True, True), (True, False), (True, True)]
