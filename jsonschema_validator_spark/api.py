"""Document-level API — the reference library's user surface, Spark-backed.

A user of macisamuele/jsonschema-validator holds a compiled ``Schema``
and asks it two questions about ONE json document at a time:

- ``Schema::create(raw)``       — compile (+ root-shape check),
  /root/reference/src/types/schema.rs:30-58
- ``schema.validation_errors``  — lazy iterator of ALL errors,
  /root/reference/src/types/schema.rs:67-78
- ``schema.is_valid``           — first-error-wins short circuit,
  /root/reference/src/types/validator.rs:14-16, README.md:20-22

This module is that exact surface on top of the engine's compiled
Column predicates, so switching from the reference means changing an
import, not a mental model. Single-document calls evaluate a one-row
DataFrame (driver round-trip — milliseconds; this is the convenience
path, not the scale path); ``validate_many`` is the same compiled plan
applied to a whole DataFrame column, which is the scale path and the
reason the engine exists.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import SchemaError
from .functions.accessors import VariantAccessor, _vtag
from .functions.keywords import Scope, compile_schema, pred_of
from .sources.tables import local_frame


class _BoundVariantAccessor(VariantAccessor):
    """VariantAccessor whose expensive derivations (type tag, object
    map) read PRE-PROJECTED columns instead of being re-derived inside
    every check expression. Variant expressions (`schema_of_variant`,
    `variant_get`) evaluate interpreted — without this binding a
    validator with C checks recomputes them O(C) times per row, which
    measured ~2.5x the whole query's runtime at 10^5 rows. The
    projection boundary also survives CollapseProject (non-cheap exprs
    used more than once are not inlined)."""

    def __init__(
        self,
        col: Column,
        tag_col: Column,
        obj_col: Column,
        fields: dict[str, "VariantAccessor"] | None = None,
    ):
        super().__init__(col)
        self._tag_col = tag_col
        self._obj_col = obj_col
        self._fields = fields or {}

    def tag(self) -> Column:
        return self._tag_col

    def as_object(self) -> Column:
        return self._obj_col

    def get_field(self, name: str) -> "VariantAccessor":
        # top-level schema properties read their pre-projected column;
        # anything else (nested objects) falls back to the generic path
        return self._fields.get(name) or super().get_field(name)


def _tmp_prefix(df: DataFrame) -> str:
    """Temp-column prefix guaranteed not to prefix-collide with any
    existing column, so ``drop(*tmp)`` can never eat user data (a
    fixed ``__jsv_`` prefix would silently replace-and-drop a user
    column of the same name)."""
    base = "__jsv_"
    k = 0
    cols = set(df.columns)
    while any(c.startswith(base if k == 0 else f"__jsv{k}_") for c in cols):
        k += 1
    return base if k == 0 else f"__jsv{k}_"


def _bind_variant(df: DataFrame, json_col: str, prop_names: list[str]):
    """Parse the JSON column ONCE and project the accessor's expensive
    derivations as columns — the document tag/object map, plus each
    named top-level property's sub-variant and tag (the property set is
    known at compile time). Every check expression then reads the
    shared columns instead of re-deriving variant metadata.

    Also projects a parse-ok flag: a NON-NULL string that
    ``try_parse_json`` cannot parse is a document that failed to
    parse — never valid (the reference's ``Schema::create`` /
    ``draft_version.rs`` contract: parse failure precedes keyword
    evaluation). A NULL input is an ABSENT document and stays
    vacuously valid.

    Shared by ``Schema`` (its own top-level properties) and
    ``SchemaRegistry`` (the union of every member schema's top-level
    properties — one parse serves every dispatch branch)."""
    p = _tmp_prefix(df)
    pv, tg, ob, pok = p + "pv", p + "tag", p + "obj", p + "pok"
    out = (
        df.withColumn(pv, F.try_parse_json(F.col(json_col)))
        .withColumn(tg, _vtag(F.col(pv)))
        .withColumn(
            ob,
            F.when(
                F.col(tg) == "object",
                F.try_variant_get(F.col(pv), "$", "map<string,variant>"),
            ),
        )
        .withColumn(pok, ~(F.col(json_col).isNotNull() & F.col(pv).isNull()))
    )
    tmp = [pv, tg, ob, pok]
    fields: dict[str, VariantAccessor] = {}
    for i, name in enumerate(prop_names):
        fc, ft, fo = f"{p}f{i}", f"{p}ft{i}", f"{p}fo{i}"
        out = (
            out.withColumn(fc, F.try_element_at(F.col(ob), F.lit(name)))
            .withColumn(ft, _vtag(F.col(fc)))
            .withColumn(
                fo,
                F.when(
                    F.col(ft) == "object",
                    F.try_variant_get(F.col(fc), "$", "map<string,variant>"),
                ),
            )
        )
        fields[name] = _BoundVariantAccessor(F.col(fc), F.col(ft), F.col(fo))
        tmp += [fc, ft, fo]
    acc = _BoundVariantAccessor(F.col(pv), F.col(tg), F.col(ob), fields)
    return out, acc, tmp, F.col(pok)


@dataclass(frozen=True)
class ValidationError:
    """Mirror of the reference's error value
    (/root/reference/src/types/validation_error.rs:5-10)."""

    message: str
    keyword: str
    path: str


class ValidationFailure(SchemaError):
    """Raised by ``validate`` when the document is invalid; carries the
    full error list (the eager-collect analog of the reference's
    ``validation_errors`` iterator)."""

    def __init__(self, errors: list[ValidationError]):
        super().__init__(f"{len(errors)} validation error(s): {errors[:3]}")
        self.errors = errors


class Schema:
    """A compiled schema. Create once, validate many times — the
    compile-once/validate-many contract of the reference's scope cache
    (/root/reference/src/types/scope_builder.rs:43-54)."""

    #: $schema URI -> dialect (draft-version detection, the
    #: draft_version.rs analog; trailing '#' and http/https both accepted)
    _DIALECTS = {
        "json-schema.org/draft-04/schema": "draft4",
        "json-schema.org/draft-06/schema": "draft6",
        "json-schema.org/draft-07/schema": "draft7",
        "json-schema.org/draft/2019-09/schema": "draft2019-09",
        "json-schema.org/draft/2020-12/schema": "draft2020-12",
    }

    @classmethod
    def detect_draft(cls, raw_schema) -> str | None:
        """Dialect from the document's ``$schema``, or None."""
        if not isinstance(raw_schema, dict):
            return None
        uri = raw_schema.get("$schema")
        if not isinstance(uri, str):
            return None
        key = uri.rstrip("#").removeprefix("https://").removeprefix("http://")
        return cls._DIALECTS.get(key)

    def __init__(
        self,
        raw_schema,
        spark: SparkSession,
        draft: str | None = None,
        validate_formats: bool = False,
        base_uri: str = "",
        loader=None,
        registry: dict | None = None,
    ):
        self.spark = spark
        self.raw = raw_schema
        # explicit draft wins; else the document's $schema; else draft7
        # (the reference's fixed default, scope_builder.rs:22-31)
        draft = draft or self.detect_draft(raw_schema) or "draft7"
        self.draft = draft
        scope = Scope(draft=draft, base_uri=base_uri, loader=loader)
        if registry:
            scope.registry.update(registry)
        scope.validate_formats = validate_formats
        scope.root = raw_schema
        # compile errors raise HERE (Schema::create root check,
        # schema.rs:46-57); runtime never sees a malformed schema
        self._checks = compile_schema(raw_schema, scope)
        self._fused = pred_of(self._checks)

    # -- constructors ----------------------------------------------------
    @classmethod
    def create(cls, raw_schema, spark: SparkSession | None = None, **kw) -> "Schema":
        """``Schema::create`` analog. ``spark`` defaults to the active
        session (there must be one — the predicates are Spark columns)."""
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise SchemaError("Schema.create needs a SparkSession (none active)")
        return cls(raw_schema, spark, **kw)

    @classmethod
    def from_file(cls, path, spark: SparkSession | None = None, **kw) -> "Schema":
        """Compile a schema document from disk; sibling files are
        ``$ref``-able relative to it (file loader jailed to its directory
        — the scope_builder.rs:33-41 loader contract, same wiring as
        ``CheckSuite(spec_path=...)``)."""
        from pathlib import Path

        from .functions.loaders import file_loader

        p = Path(path).resolve()
        raw = json.loads(p.read_text())
        kw.setdefault("base_uri", p.as_uri())
        kw.setdefault("loader", file_loader(p.parent))
        return cls.create(raw, spark, **kw)

    # -- single-document surface (reference parity) ----------------------
    def _row_df(self, value) -> DataFrame:
        return local_frame(self.spark, [(json.dumps(value),)], "j string")

    def _bind(self, df: DataFrame, json_col: str):
        props = self.raw.get("properties", {}) if isinstance(self.raw, dict) else {}
        return _bind_variant(df, json_col, list(props))

    def is_valid(self, value) -> bool:
        """Fused boolean only — no per-keyword error materialization
        (the short-circuit fast path, keywords/mod.rs:30-32: "1 or 100
        errors does not change the answer but just the execution time")."""
        bound, acc, tmp, pok = self._bind(self._row_df(value), "j")
        row = bound.select(
            (pok & F.coalesce(self._fused(acc), F.lit(True))).alias("ok")
        ).first()
        return bool(row["ok"])

    def validation_errors(self, value) -> list[ValidationError]:
        """ALL failing keywords with their paths/messages, evaluated in
        one job (one flag column per compiled check)."""
        if not self._checks:
            return []
        bound, acc, tmp, _pok = self._bind(self._row_df(value), "j")
        flags = [c.gated(acc).alias(f"f{i}") for i, c in enumerate(self._checks)]
        row = bound.select(*flags).first()
        return [
            ValidationError(c.message, c.keyword, c.path)
            for i, c in enumerate(self._checks)
            if not row[f"f{i}"]
        ]

    def validate(self, value) -> None:
        """Raise ``ValidationFailure`` with the full error list if the
        document is invalid (eager-collect form of the error iterator)."""
        errors = self.validation_errors(value)
        if errors:
            raise ValidationFailure(errors)

    # -- batch surface (the scale path) ----------------------------------
    def valid_col(self, json_col: Column) -> Column:
        """The fused predicate as a Column over a JSON-string column —
        compose it into any DataFrame plan. NOTE: self-contained (parses
        inline), so a validator with many checks re-derives variant
        metadata per check; prefer ``with_valid``/``validate_many`` when
        the DataFrame is at hand — they parse and tag once per row.
        Unparseable non-null input is invalid (parse precedes keywords);
        null input is an absent document and vacuously valid."""
        parse_fail = json_col.isNotNull() & F.try_parse_json(json_col).isNull()
        acc = VariantAccessor(F.try_parse_json(json_col))
        return ~parse_fail & F.coalesce(self._fused(acc), F.lit(True))

    def with_valid(self, df: DataFrame, json_col: str, out_col: str = "valid") -> DataFrame:
        """df + boolean ``out_col`` — the fused validator with the
        parse/tag/object projections shared across all checks.
        Unparseable non-null JSON yields ``False`` (null stays
        vacuously valid — absent document)."""
        bound, acc, tmp, pok = self._bind(df, json_col)
        return bound.withColumn(
            out_col, pok & F.coalesce(self._fused(acc), F.lit(True))
        ).drop(*tmp)

    def validate_many(self, df: DataFrame, json_col: str = "j") -> DataFrame:
        """df + ``valid`` boolean + ``violations`` array<struct<keyword,
        path,message>> — the whole compiled validator applied to every
        row in one pass (no per-row Python; one plan, N documents)."""
        bound, acc, tmp, pok = self._bind(df, json_col)
        # parse failure precedes keyword evaluation: one synthetic
        # "parse" violation, and no keyword violations are reported for
        # a document that never parsed (they'd all be vacuous anyway)
        structs = [
            F.when(
                ~pok,
                F.struct(
                    F.lit("parse").alias("keyword"),
                    F.lit("").alias("path"),
                    F.lit("Invalid JSON document").alias("message"),
                ),
            )
        ] + [
            F.when(
                pok & ~c.gated(acc),
                F.struct(
                    F.lit(c.keyword).alias("keyword"),
                    F.lit(c.path).alias("path"),
                    F.lit(c.message).alias("message"),
                ),
            )
            for c in self._checks
        ]
        viol = F.filter(F.array(*structs), lambda x: x.isNotNull())
        return (
            bound.withColumn("violations", viol)
            .withColumn("valid", F.size("violations") == 0)
            .drop(*tmp)
        )


class SchemaRegistry:
    """Per-key schema dispatch — the discriminated-union shape of agent
    transcripts, where each tool call's argument payload has its own
    schema and the ``tool`` column selects which one applies.

    The reference validates one document against one schema; a
    transcript table needs `validate row i against schemas[key_i]`.
    Compiling one ``Schema`` per key and running K separate
    ``with_valid`` passes would parse the JSON column K times; this
    class compiles every member schema once, binds the parse/tag/object
    projection ONCE (over the union of all member schemas' top-level
    properties), and dispatches with a single CASE chain — one pass,
    one parse, zero shuffles, whatever K is.

    Scale: the dispatch is a pure projection (no exchange in the plan);
    K only widens the whole-stage-codegen expression, it never adds a
    scan or a job.
    """

    def __init__(self, schemas: dict[str, Schema], unknown_key_valid: bool = False):
        if not schemas:
            raise SchemaError("SchemaRegistry needs at least one (key, schema) pair")
        self.schemas = dict(schemas)
        #: verdict for rows whose key matches no registered schema
        #: (False = closed-world: an unknown tool is itself a violation)
        self.unknown_key_valid = unknown_key_valid

    @classmethod
    def create(
        cls,
        raw_schemas: dict[str, dict],
        spark: SparkSession | None = None,
        unknown_key_valid: bool = False,
        **kw,
    ) -> "SchemaRegistry":
        """Compile a ``{key: raw_schema}`` map. ``**kw`` (draft,
        validate_formats, loader, ...) is passed to every
        ``Schema.create``."""
        spark = spark or SparkSession.getActiveSession()
        return cls(
            {k: Schema.create(s, spark, **kw) for k, s in raw_schemas.items()},
            unknown_key_valid=unknown_key_valid,
        )

    def _prop_union(self) -> list[str]:
        seen: dict[str, None] = {}
        for s in self.schemas.values():
            if isinstance(s.raw, dict):
                for name in s.raw.get("properties", {}):
                    seen.setdefault(name)
        return list(seen)

    def valid_branch(self, acc, key_col: Column) -> Column:
        """The CASE dispatch over a bound accessor (parse-ok NOT
        included — callers gate on it)."""
        branch = None
        for k, s in self.schemas.items():
            pred = F.coalesce(s._fused(acc), F.lit(True))
            branch = (
                F.when(key_col == F.lit(k), pred)
                if branch is None
                else branch.when(key_col == F.lit(k), pred)
            )
        return branch.otherwise(F.lit(self.unknown_key_valid))

    def with_valid(
        self, df: DataFrame, key_col: str, json_col: str, out_col: str = "valid"
    ) -> DataFrame:
        """df + boolean ``out_col``: row i is validated against
        ``schemas[df[key_col]_i]``. A NULL key counts as unknown; a
        non-null payload that fails to parse is invalid regardless of
        key (parse precedes keyword evaluation, as in ``Schema``)."""
        bound, acc, tmp, pok = _bind_variant(df, json_col, self._prop_union())
        return bound.withColumn(
            out_col, pok & self.valid_branch(acc, F.col(key_col))
        ).drop(*tmp)

    def validate_many(self, df: DataFrame, key_col: str, json_col: str) -> DataFrame:
        """df + ``valid`` boolean + ``violations`` array<struct<keyword,
        path,message>> — ``Schema.validate_many`` with per-key dispatch:
        each row's violations come from the schema its key selects.
        Parse failure yields the single synthetic "parse" violation; an
        unknown (or NULL) key yields a "dispatch" violation under the
        closed world, or no violations when ``unknown_key_valid``."""
        bound, acc, tmp, pok = _bind_variant(df, json_col, self._prop_union())
        empty = F.array().cast(
            "array<struct<keyword:string,path:string,message:string>>"
        )

        def _viol_array(schema: Schema) -> Column:
            if not schema._checks:
                return empty
            structs = [
                F.when(
                    ~c.gated(acc),
                    F.struct(
                        F.lit(c.keyword).alias("keyword"),
                        F.lit(c.path).alias("path"),
                        F.lit(c.message).alias("message"),
                    ),
                )
                for c in schema._checks
            ]
            return F.filter(F.array(*structs), lambda x: x.isNotNull())

        key = F.col(key_col)
        branch = None
        for k, s in self.schemas.items():
            arr = _viol_array(s)
            branch = (
                F.when(key == F.lit(k), arr)
                if branch is None
                else branch.when(key == F.lit(k), arr)
            )
        unknown = (
            empty
            if self.unknown_key_valid
            else F.array(
                F.struct(
                    F.lit("dispatch").alias("keyword"),
                    F.lit("").alias("path"),
                    F.lit("No schema registered for key").alias("message"),
                )
            )
        )
        viol = F.when(
            ~pok,
            F.array(
                F.struct(
                    F.lit("parse").alias("keyword"),
                    F.lit("").alias("path"),
                    F.lit("Invalid JSON document").alias("message"),
                )
            ),
        ).otherwise(branch.otherwise(unknown))
        return (
            bound.withColumn("violations", viol)
            .withColumn("valid", F.size("violations") == 0)
            .drop(*tmp)
        )


def violation_summary(
    validated: DataFrame, id_col: str, violations_col: str = "violations"
) -> DataFrame:
    """Triage rollup over a ``validate_many`` result (``Schema`` or
    ``SchemaRegistry`` — both emit the same violations array): one row
    per (keyword, path) with total violation count, distinct-document
    count, one deterministic example message and the smallest offending
    document id — the "what is failing, where, show me one" report a
    validation run gets read through.

    Scale shape: an explode of a bounded per-row array (|compiled
    checks| entries at most), map-side partial aggregation, then ONE
    exchange keyed by (keyword, path) whose cardinality is O(compiled
    checks) — independent of row count. ``n_docs`` uses count_distinct
    on the exploded id, which expands the partial-agg state to the
    distinct ids per key; bounded here by the output cardinality times
    documents, so at extreme scale swap for approx_count_distinct —
    the exactness is what the small-scale oracle checks.
    """
    # explode_OUTER, then drop the null element on the generated
    # attribute: plain explode lets Catalyst infer `size(violations)>0`
    # and push it below the shared parse/bind projections, where the
    # inlined predicate re-parses the JSON variant per temp reference —
    # measured 104s -> ~12s at sf0.1 (the naive-variant-predicate trap,
    # this time introduced by an optimizer rule rather than user code)
    v = validated.select(
        F.col(id_col).alias("__jsv_doc_id"),
        F.explode_outer(violations_col).alias("v"),
    ).filter(F.col("v").isNotNull())
    fields = v.select(
        "__jsv_doc_id",
        F.col("v.keyword").alias("keyword"),
        F.col("v.path").alias("path"),
        F.col("v.message").alias("message"),
    )
    return fields.groupBy("keyword", "path").agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.count_distinct("__jsv_doc_id").alias("n_docs"),
        F.min("message").alias("example_message"),
        F.min("__jsv_doc_id").alias("example_id"),
    )
