"""Keyword -> Column predicate compilers (draft4 through draft2020-12).

The reference implements each keyword as a struct with
``compile(scope_builder, schema) -> Option<Self>`` and
``validation_errors(path, value)`` (/root/reference/src/types/validator.rs:5-18),
registered per draft (/root/reference/src/keywords/mod.rs:44-62). Here a
keyword compiles to a *pure function* ``JsonAccessor -> Column`` producing a
boolean pass predicate — evaluated once per column, vectorized, JVM-side.

Each keyword family has ONE compiler for every draft, and every compiler
returns a list of ``CheckExpr``; ``_KEYWORD_COMPILERS`` is the one ordered
table ``compile_schema`` walks. A draft only decides which keyword names
play which role (array-form ``items`` + ``additionalItems`` up to 2019-09,
``prefixItems`` + ``items`` in 2020-12; ``dependencies`` vs
``dependentRequired``/``dependentSchemas``; which of ``$ref``,
``$recursiveRef``, ``$dynamicRef`` apply, see ``Scope.ref_sites``).

Semantics contracts (SURVEY.md §1.3):
- conjunction: all keywords of a schema must pass (schema.rs:76-78);
- vacuous truth: a keyword only constrains instances of its applicable
  type (properties_.rs:132-134) and absent values pass everything;
- number ⊇ integer (corpus semantics; diverges from the reference's
  exact-match bug at type_.rs:104 — SURVEY.md §1.4);
- malformed schema -> MalformedSchemaError at compile, never at runtime
  (schema_error.rs:10-11, e.g. type_.rs:69-92).
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import operator
import re
from dataclasses import dataclass, field, replace
from typing import Callable
from urllib.parse import unquote, urldefrag, urljoin, urlsplit, urlunsplit

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_validator_spark.errors import (
    CyclicRefError,
    MalformedSchemaError,
    RefResolutionError,
    UnsupportedVocabularyError,
)
from jsonschema_validator_spark.functions.accessors import (
    JsonAccessor,
    TypedAccessor,
)


Factory = Callable[[JsonAccessor], Column]

DRAFTS = ("draft4", "draft6", "draft7", "draft2019-09", "draft2020-12")

# drafts with the 2019-09 keyword split ($defs, $anchor, dependent*,
# min/maxContains, $ref-with-siblings, dynamic references)
MODERN_DRAFTS = frozenset({"draft2019-09", "draft2020-12"})


@dataclass(frozen=True)
class CheckExpr:
    """One compiled keyword check: the Spark analog of a DraftValidator
    (/root/reference/src/keywords/mod.rs:15-19) carrying its error metadata
    (ValidationError {message, keyword, path},
    /root/reference/src/types/validation_error.rs:5-10)."""

    keyword: str
    path: str  # normalized, '#'-rooted (validation_error.rs:18-26)
    message: str
    factory: Factory  # raw predicate; may return NULL on absent values

    def gated(self, acc: JsonAccessor) -> Column:
        """Null-vacuous pass predicate: absent value => pass
        (SURVEY.md §1.3.3)."""
        return F.when(acc.is_missing(), F.lit(True)).otherwise(
            F.coalesce(self.factory(acc), F.lit(True))
        )


def normalise_path(path: str) -> str:
    """Path normalization per /root/reference/src/types/validation_error.rs:18-26:
    '#/' -> '#', strip trailing '/'."""
    if path.startswith("#/"):
        path = "#" + path[2:]
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    return path


def pred_of(checks: list[CheckExpr]) -> Factory:
    """Fuse a validator list into one boolean — the Spark analog of the
    all-must-pass conjunction at /root/reference/src/types/schema.rs:76-78.
    Boolean AND short-circuits in codegen, giving the reference's
    first-error-wins fast path (keywords/mod.rs:30-32) for free."""

    def fused(acc: JsonAccessor) -> Column:
        if not checks:
            return F.lit(True)
        out = checks[0].gated(acc)
        for c in checks[1:]:
            out = out & c.gated(acc)
        return out

    return fused


# ---------------------------------------------------------------------------
# Compile context ($ref scope; mirrors ScopeBuilder, scope_builder.rs:11-15)
# ---------------------------------------------------------------------------

MAX_REF_DEPTH = 6

# schemes urllib already resolves relative references against
_STD_SCHEMES = {"http", "https", "file", "ftp", ""}


def full_uri(base: str, ref: str) -> str:
    """RFC 3986 reference resolution for ANY scheme (the reference's
    full_uri, /root/reference/src/keywords/ref_.rs:24-38 and its 15-case
    table at :75-92): fragment swap, same-folder sibling, ./ and ../
    relatives, absolute-path and full-URL substitution. Python's urljoin
    only applies relative resolution for whitelisted schemes, so
    non-standard bases (memory://, s3://, ...) are temporarily rewritten
    to http for the join and swapped back."""
    if not base:
        return ref
    if not ref:
        return base
    if urlsplit(ref).scheme:
        return ref  # absolute reference replaces the base entirely
    b = urlsplit(base)
    if b.scheme in _STD_SCHEMES:
        return urljoin(base, ref)
    fake = urlunsplit(("http", b.netloc, b.path, b.query, b.fragment))
    j = urlsplit(urljoin(fake, ref))
    out = urlunsplit((b.scheme, j.netloc, j.path, j.query, j.fragment))
    # urlunsplit drops the '//' authority marker when netloc is empty;
    # keep it if the base URI had one (memory:///x stays memory:///y)
    marker = b.scheme + "://"
    if base.startswith(marker) and not out.startswith(marker):
        out = marker + out[len(b.scheme) + 1 :]
    return out


@dataclass
class Scope:
    """Compilation context: draft + document registry + memo cache.

    Mirrors ScopeBuilder { draft_version, loader, schema_cache }
    (/root/reference/src/types/scope_builder.rs:11-15). The registry maps
    base URIs to raw schema documents (the loader analog,
    scope_builder.rs:33-35); anonymous roots register under a
    content-derived key (deterministic — contrast the reference's uuid4 at
    scope_builder.rs:17-19)."""

    draft: str = "draft7"
    registry: dict[str, object] = field(default_factory=dict)
    root: object = None
    base_uri: str = ""
    max_ref_depth: int = MAX_REF_DEPTH
    strict_cycles: bool = False
    validate_formats: bool = False
    # optional fetch hook for URIs absent from the registry (the
    # scope_builder.rs:33-41 get_or_fetch_with_result analog); fetched
    # documents are cached into the registry
    loader: object = None
    # location-independent identifiers ("$id": "#anchor", draft6/7; "id"
    # in draft4): full URI (with fragment) -> (subschema node, base URI
    # in effect at that node). Populated by index_document.
    anchors: dict[str, tuple] = field(default_factory=dict)
    # draft2020-12 "$dynamicAnchor": (resource URI, anchor name) ->
    # (subschema node, base URI at that node)
    dynamic_anchors: dict[tuple, tuple] = field(default_factory=dict)
    # draft2019-09 resources whose ROOT declares "$recursiveAnchor": true
    recursive_roots: set = field(default_factory=set)
    # dynamic scope: stack of schema-resource URIs entered during the
    # current compilation (outermost first). Because $refs are inlined at
    # compile time, the dynamic scope of every compile site is statically
    # known — $dynamicRef / $recursiveRef resolve HERE, not at runtime.
    dynamic_path: list = field(default_factory=list)
    # set during indexing when any $recursiveRef/$dynamicRef exists:
    # memoized compilations would otherwise leak one dynamic scope's
    # resolution into another's
    has_dynamic: bool = False
    _memo: dict[str, list[CheckExpr]] = field(default_factory=dict)
    # fused-subpredicate memo: (id(node), base, dynamic-ctx) -> Factory.
    # Compiled Column trees are immutable JVM objects; reusing one costs
    # nothing at construction, while REBUILDING it is one py4j round-trip
    # per expression node. The unevaluated* finders reference the same
    # branch subschemas as the main compile (validity gates), so sharing
    # cuts tree construction ~20x on annotation-heavy schemas (measured:
    # 275s -> s single-digit for the 319-case 2020-12 corpus).
    _pred_memo: dict = field(default_factory=dict)
    _stack: list[str] = field(default_factory=list)
    _indexed: set = field(default_factory=set)
    _root_base: str | None = None

    def __post_init__(self):
        if self.draft not in DRAFTS:
            raise MalformedSchemaError("#", "$schema", f"unsupported draft {self.draft!r}")

    # -- $id / id indexing ---------------------------------------------
    @property
    def id_keyword(self) -> str:
        return "id" if self.draft == "draft4" else "$id"

    @property
    def modern(self) -> bool:
        return self.draft in MODERN_DRAFTS

    def index_document(self, doc, base: str) -> str:
        """Pre-pass over one schema document: register every embedded
        schema that declares an absolute/relative ``$id`` (draft4:
        ``id``) under its resolved URI in ``registry``, and every
        fragment-only identifier ("#anchor") in ``anchors``. The walk is
        schema-AWARE — it recurses only into positions the spec defines
        as schemas, so an ``{"$id": ...}`` object inside ``enum``/
        ``const`` data is NOT treated as an identifier (official suite
        "id inside an enum is not a real identifier"). ``$id`` next to
        ``$ref`` is ignored, per draft<=7 sibling rules.

        Modern drafts (2019-09 / 2020-12) additionally register
        ``$anchor`` (plain-name location-independent anchors),
        ``$dynamicAnchor`` (2020-12; doubles as a regular anchor target
        per spec §8.2.2), root-level ``$recursiveAnchor: true``
        resources (2019-09), and walk ``$defs`` / ``dependentSchemas`` /
        ``prefixItems`` / ``unevaluated*`` as schema positions; ``$id``
        next to ``$ref`` is honored there (siblings apply in 2019-09+).

        Returns the document root's effective base URI."""
        idkw = self.id_keyword
        modern = self.modern
        SCHEMA_KEYS = (
            "additionalItems", "additionalProperties", "contains",
            "propertyNames", "not", "if", "then", "else",
        )
        MAP_KEYS = ("properties", "patternProperties", "definitions")
        LIST_KEYS = ["allOf", "anyOf", "oneOf"]
        if modern:
            SCHEMA_KEYS += ("unevaluatedProperties", "unevaluatedItems")
            MAP_KEYS += ("$defs", "dependentSchemas")
            if self.draft == "draft2020-12":
                LIST_KEYS.append("prefixItems")

        def note_anchors(node, b: str) -> None:
            """Register modern named anchors; resource key is the doc
            part of the base in force at the node."""
            if not modern:
                return
            res = urldefrag(b)[0] if b else ""
            a = node.get("$anchor")
            if isinstance(a, str) and a:
                self.anchors.setdefault(full_uri(b, "#" + a) if b else "#" + a, (node, b))
            if self.draft == "draft2020-12":
                da = node.get("$dynamicAnchor")
                if isinstance(da, str) and da:
                    self.anchors.setdefault(full_uri(b, "#" + da) if b else "#" + da, (node, b))
                    self.dynamic_anchors.setdefault((res, da), (node, b))
            if "$recursiveRef" in node or "$dynamicRef" in node:
                self.has_dynamic = True

        def note_recursive_root(node, res: str) -> None:
            if modern and self.draft == "draft2019-09" and node.get("$recursiveAnchor") is True:
                self.recursive_roots.add(urldefrag(res)[0] if res else "")

        def rebase(node, b: str) -> str:
            if isinstance(node.get("$ref"), str) and not modern:
                return b  # draft<=7: siblings of $ref (including $id) ignored
            iv = node.get(idkw)
            if not (isinstance(iv, str) and iv and iv != "#"):
                return b
            nb = full_uri(b, iv)
            u, frag = urldefrag(nb)
            if frag:
                self.anchors[nb] = (node, b)  # anchor: base unchanged
                return b
            self.registry.setdefault(u, node)
            note_recursive_root(node, u)  # new resource root
            return u

        def walk(node, b: str):
            if not isinstance(node, dict):
                return
            b = rebase(node, b)
            note_anchors(node, b)
            for k, v in node.items():
                if k in SCHEMA_KEYS and isinstance(v, (dict, bool)):
                    walk(v, b)
                elif k in MAP_KEYS and isinstance(v, dict):
                    for sub in v.values():
                        walk(sub, b)
                elif k in LIST_KEYS and isinstance(v, list):
                    for sub in v:
                        walk(sub, b)
                elif k == "items":
                    for sub in v if isinstance(v, list) else [v]:
                        walk(sub, b)
                elif k == "dependencies" and isinstance(v, dict):
                    for sub in v.values():
                        if isinstance(sub, (dict, bool)):
                            walk(sub, b)

        eff = base
        if isinstance(doc, dict):
            eff = rebase(doc, base)
            note_recursive_root(doc, eff)  # root resource, with or without $id
            walk(doc, base)
        return eff

    def _ensure_doc_indexed(self, uri: str, doc) -> None:
        if uri not in self._indexed:
            self._indexed.add(uri)
            self.index_document(doc, uri)

    # -- JSON-pointer / URI resolution ---------------------------------
    def _lookup(self, ref: str, path: str):
        """Resolve ``ref`` against the current base. Returns
        ``(resolved_uri, node, effective_base)`` where effective_base is
        the base URI in force AT the target node (document URI plus any
        ``$id`` declarations crossed by the fragment pointer walk) — the
        base the node's own relative $refs must resolve against."""
        if self._root_base is None:
            self._root_base = (
                self.index_document(self.root, self.base_uri or "")
                if self.root is not None
                else (self.base_uri or "")
            )
        base = self.base_uri or ""
        resolved = full_uri(base, ref)
        uri, frag = urldefrag(resolved)
        root_doc, _ = urldefrag(self._root_base)

        # location-independent identifier ("#anchor", not a pointer)
        if frag and not frag.startswith("/") and resolved in self.anchors:
            node, eff = self.anchors[resolved]
            return resolved, node, eff

        doc = None
        if uri and uri in self.registry:
            doc = self.registry[uri]
            self._ensure_doc_indexed(uri, doc)
            eff = uri
        elif not uri or uri == root_doc or uri == urldefrag(base)[0]:
            doc = self.root
            eff = self._root_base
        elif self.loader is not None:
            try:
                doc = self.loader(uri)
            except RefResolutionError:
                raise
            except Exception as e:
                raise RefResolutionError(
                    f"loader failed for $ref {ref!r} at {path}: {e}"
                ) from e
            self.registry[uri] = doc
            self._ensure_doc_indexed(uri, doc)
            eff = uri
        else:
            raise RefResolutionError(f"cannot resolve $ref {ref!r} at {path} (base {base!r})")

        # the anchor may live in a document only indexed just now
        if frag and not frag.startswith("/") and resolved in self.anchors:
            node, eff = self.anchors[resolved]
            return resolved, node, eff

        # JSON-pointer walk. Fragment tokens are percent-decoded FIRST
        # (RFC 3986 fragment encoding), then ~-unescaped (RFC 6901):
        # '#/definitions/percent%25field' -> token 'percent%field'.
        # $id declarations crossed by the walk re-base the target.
        idkw = self.id_keyword

        def bump(b: str, n) -> str:
            if isinstance(n, dict) and (self.modern or not isinstance(n.get("$ref"), str)):
                iv = n.get(idkw)
                if isinstance(iv, str) and iv and iv != "#":
                    nb = full_uri(b, iv)
                    if not urldefrag(nb)[1]:
                        return urldefrag(nb)[0]
            return b

        node = doc
        eff = bump(eff, node)
        if frag:
            for part in frag.lstrip("/").split("/"):
                part = unquote(part).replace("~1", "/").replace("~0", "~")
                if isinstance(node, dict) and part in node:
                    node = node[part]
                elif isinstance(node, list):
                    try:
                        node = node[int(part)]
                    except (ValueError, IndexError):
                        raise RefResolutionError(f"bad $ref pointer {ref!r} at {path}")
                else:
                    raise RefResolutionError(f"bad $ref pointer {ref!r} at {path}")
                eff = bump(eff, node)
        return resolved, node, eff

    @contextlib.contextmanager
    def based(self, base: str):
        """Resolve against ``base`` inside the block."""
        saved = self.base_uri
        self.base_uri = base
        try:
            yield
        finally:
            self.base_uri = saved

    @contextlib.contextmanager
    def entered(self, base: str):
        """Compile inside the resource at ``base``: rebased, and that
        resource pushed onto the dynamic scope for the block."""
        self.dynamic_path.append(urldefrag(base)[0] if base else "")
        try:
            with self.based(base):
                yield
        finally:
            self.dynamic_path.pop()

    def resolve_ref(self, ref: str, path: str) -> list[CheckExpr]:
        """Compile-time $ref inlining with memoization
        (scope_builder.rs:43-54) and bounded recursion for cyclic schemas
        (SURVEY.md §1.4 — the reference loops forever on cycles). The
        target compiles under ITS base URI (document + crossed $ids),
        not the referrer's, so its relative $refs resolve correctly."""
        key, node, eff_base = self._lookup(ref, path)
        # memoization is keyed by target URI alone, which is only sound
        # when compilation is dynamic-scope-independent; any
        # $recursiveRef/$dynamicRef in the document set disables it
        if key in self._memo and not self.has_dynamic:
            return self._memo[key]
        depth = self._stack.count(key)
        if depth >= self.max_ref_depth:
            if self.strict_cycles:
                raise CyclicRefError(f"$ref cycle through {ref!r} at {path}")
            # bounded unrolling: beyond max depth, vacuously pass
            return []
        self._stack.append(key)
        try:
            with self.entered(eff_base):
                checks = compile_schema(node, self, path=path)
        finally:
            self._stack.pop()
        if depth == 0 and key not in self._stack and not self.has_dynamic:
            self._memo[key] = checks
        return checks

    # -- reference keywords (compile-time dynamic scope) ----------------
    def ref_sites(self, schema: dict, path: str):
        """Yield ``(base, ref)`` for each reference keyword this draft
        applies at ``schema``, in keyword order — the one place a draft
        picks its reference keywords, read by the compile path and the
        unevaluated* finders alike:

        - ``$ref``, against the current base (every draft);
        - draft2019-09 ``$recursiveRef: "#"``: the current resource root;
          if that root declares ``$recursiveAnchor: true``, the OUTERMOST
          resource in the dynamic scope whose root also declares it;
        - draft2020-12 ``$dynamicRef``: as ``$ref``, unless the resolved
          fragment is a ``$dynamicAnchor`` of its own resource (the
          "bookending" requirement); then the OUTERMOST dynamic-scope
          resource defining that anchor wins.

        The dynamic scope is the compile-time resource stack (refs are
        inlined, so it is statically known). Lazy: a site is computed
        only after the previous one was resolved, which may index more
        documents."""
        ref = schema.get("$ref")
        if isinstance(ref, str):
            yield self.base_uri, ref
        if self.draft == "draft2019-09" and isinstance(schema.get("$recursiveRef"), str):
            if schema["$recursiveRef"] != "#":
                raise MalformedSchemaError(path, "$recursiveRef", "must be '#'")
            target = urldefrag(self.base_uri or "")[0]
            if target in self.recursive_roots:  # outermost first
                target = next((r for r in self.dynamic_path if r in self.recursive_roots), target)
            yield target, "#"
        if self.draft == "draft2020-12" and isinstance(schema.get("$dynamicRef"), str):
            ref = schema["$dynamicRef"]
            uri, frag = urldefrag(full_uri(self.base_uri or "", ref))
            if frag and not frag.startswith("/") and (uri, frag) in self.dynamic_anchors:
                for r in self.dynamic_path:  # outermost first
                    if (r, frag) in self.dynamic_anchors:
                        yield r, "#" + frag
                        return
            yield self.base_uri, ref


# ---------------------------------------------------------------------------
# Literal equality (enum / const / uniqueItems canonicalization)
# ---------------------------------------------------------------------------

def canonical_json(value) -> str:
    """Canonical JSON text matching Spark's to_json(variant): sorted object
    keys, compact separators, integral floats rendered as integers
    (verified: parse_json('1.00') -> to_json -> '1')."""

    def norm(v):
        if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
            return v
        if isinstance(v, float):
            return int(v) if math.isfinite(v) and v == int(v) else v
        if isinstance(v, list):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        raise TypeError(f"not a JSON value: {type(v)}")

    return json.dumps(norm(value), sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def eq_literal(acc: JsonAccessor, value) -> Column:
    """Value equality against a compile-time JSON literal, with JSON-Schema
    semantics: numbers compare by mathematical value (1 == 1.0), composite
    values compare deep/key-order-insensitively."""
    if value is None:
        return F.coalesce(acc.has_type({"null"}), F.lit(False))
    if isinstance(value, bool):
        return F.coalesce(acc.as_boolean() == F.lit(value), F.lit(False))
    if isinstance(value, (int, float)):
        return F.coalesce(acc.as_double() == F.lit(float(value)), F.lit(False))
    if isinstance(value, str):
        return F.coalesce(acc.as_string() == F.lit(value), F.lit(False))
    if isinstance(value, (list, dict)):
        tag = "array" if isinstance(value, list) else "object"
        return F.coalesce(
            acc.has_type({tag}) & (acc.canonical() == F.lit(canonical_json(value))),
            F.lit(False),
        )
    raise MalformedSchemaError("#", "enum", f"unsupported literal {type(value)}")


# ---------------------------------------------------------------------------
# Keyword handlers
# ---------------------------------------------------------------------------
# Each handler: (schema, scope, path) -> list[CheckExpr]; an absent keyword
# compiles to [] (the Ok(None) pattern, type_.rs:52-57). `_applies` wraps
# type-gated vacuous truth, folding to a constant when the accessor's type
# is statically known.

VALID_TYPES = {"null", "boolean", "integer", "number", "string", "array", "object"}

_MESSAGES = {
    "type": "Invalid Type",  # exact message, /root/reference/src/keywords/type_.rs:106
    "enum": "value not in enum",
    "const": "value != const",
    "required": "required property missing",
    "pattern": "string does not match pattern",
}


def _check(keyword: str, path: str, factory: Factory) -> CheckExpr:
    return CheckExpr(keyword, path, _MESSAGES.get(keyword, f"{keyword} violated"), factory)


def _applies(acc: JsonAccessor, tags: set[str], inner: Column) -> Column:
    st = acc.static_tag()
    if st is not None:
        effective = set(tags) | ({"integer"} if "number" in tags else set())
        return inner if st in effective else F.lit(True)
    return F.when(acc.has_type(tags), inner).otherwise(F.lit(True))


def _compile_type(schema, scope, path) -> list[CheckExpr]:
    """`type` membership (type_.rs:47-114) with corpus semantics
    number ⊇ integer (SURVEY.md §1.4, NOT the reference's exact match).

    Documented deviation: `integer` accepts integral floats (1.0) under
    EVERY draft, i.e. draft6+ semantics. Draft4's lexical rule ("1.0 is
    not an integer") is unimplementable on the variant path — Spark's
    variant canonicalizes `parse_json('1.0')` to the integer 1, so the
    lexical form is gone before any predicate runs."""
    spec = schema.get("type")
    if spec is None:
        return []
    if isinstance(spec, str):
        tags = [spec]
    elif isinstance(spec, list):
        # empty array is a schema error (type_.rs:69-75); non-string
        # element is a schema error (type_.rs:77-89)
        if not spec:
            raise MalformedSchemaError(path, "type", "empty type array")
        bad = [t for t in spec if not isinstance(t, str)]
        if bad:
            raise MalformedSchemaError(path, "type", f"non-string type entries: {bad}")
        tags = spec
    else:
        raise MalformedSchemaError(path, "type", f"expected string or array, got {type(spec).__name__}")
    unknown = [t for t in tags if t not in VALID_TYPES]
    if unknown:
        raise MalformedSchemaError(path, "type", f"unknown primitive types: {unknown}")
    tagset = frozenset(tags)
    return [_check("type", path, lambda acc: acc.has_type(tagset))]


def _compile_enum(schema, scope, path) -> list[CheckExpr]:
    values = schema.get("enum")
    if values is None:
        return []
    if not isinstance(values, list) or not values:
        raise MalformedSchemaError(path, "enum", "enum must be a non-empty array")
    # fast path: all-string enums use a single isin (broadcast-hash in
    # codegen; SURVEY.md §2.3 row `enum`); non-strings coalesce to fail
    if all(isinstance(v, str) for v in values):
        vals = list(values)
        return [_check("enum", path, lambda acc: F.coalesce(acc.as_string().isin(vals), F.lit(False)))]

    def fac(acc: JsonAccessor) -> Column:
        out = eq_literal(acc, values[0])
        for v in values[1:]:
            out = out | eq_literal(acc, v)
        return out

    return [_check("enum", path, fac)]


def _compile_const(schema, scope, path) -> list[CheckExpr]:
    if scope.draft == "draft4" or "const" not in schema:
        return []
    value = schema["const"]
    return [_check("const", path, lambda acc: eq_literal(acc, value))]


def _compile_required(schema, scope, path) -> list[CheckExpr]:
    names = schema.get("required")
    if names is None:
        return []
    if not isinstance(names, list) or not all(isinstance(n, str) for n in names):
        raise MalformedSchemaError(path, "required", "required must be an array of strings")
    if scope.draft == "draft4" and not names:
        raise MalformedSchemaError(path, "required", "draft4 requires a non-empty array")
    if not names:
        return []

    def fac(acc: JsonAccessor) -> Column:
        inner = acc.has_field(names[0])
        for n in names[1:]:
            inner = inner & acc.has_field(n)
        return _applies(acc, {"object"}, inner)

    return [_check("required", path, fac)]


def _compile_pattern(schema, scope, path) -> list[CheckExpr]:
    pat = schema.get("pattern")
    if pat is None:
        return []
    if not isinstance(pat, str):
        raise MalformedSchemaError(path, "pattern", "pattern must be a string")
    try:
        re.compile(pat)
    except re.error as e:
        raise MalformedSchemaError(path, "pattern", f"invalid regex: {e}")
    # ECMA-262 vs Java dialect: unanchored search either way (rlike);
    # common classes (\d \w \s, anchors, quantifiers) agree — documented
    # contract (SURVEY.md §7 hard parts)
    return [
        _check(
            "pattern",
            path,
            lambda acc: _applies(acc, {"string"}, F.coalesce(acc.as_string().rlike(pat), F.lit(False))),
        )
    ]


def _num(schema, path, kw):
    v = schema.get(kw)
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise MalformedSchemaError(path, kw, f"{kw} must be a number")
    return float(v)


def _compile_bounds(schema, scope, path) -> list[CheckExpr]:
    """minimum/maximum with draft4 boolean exclusive* modifiers or
    draft6+ numeric exclusive* keywords."""
    out: list[CheckExpr] = []

    def bound(kw, cmp):
        limit = _num(schema, path, kw)
        excl = schema.get("exclusive" + kw[0].upper() + kw[1:])
        if isinstance(excl, bool):
            if scope.draft != "draft4":
                raise MalformedSchemaError(path, "exclusive" + kw, "boolean form is draft4-only")
            if limit is None:
                raise MalformedSchemaError(path, "exclusive" + kw, f"requires {kw}")
        if limit is not None:
            strict = excl is True
            out.append(
                _check(
                    kw,
                    path,
                    lambda acc, lo=limit, s=strict, c=cmp: _applies(
                        acc, {"number"}, c(acc.as_double(), F.lit(lo), s)
                    ),
                )
            )
        if excl is not None and not isinstance(excl, bool):
            if scope.draft == "draft4":
                raise MalformedSchemaError(path, "exclusive" + kw, "draft4 requires a boolean")
            if not isinstance(excl, (int, float)):
                raise MalformedSchemaError(
                    path, "exclusive" + kw, "must be a number (draft6+) or boolean (draft4)"
                )
            lim = float(excl)
            out.append(
                _check(
                    "exclusive" + kw[0].upper() + kw[1:],
                    path,
                    lambda acc, lo=lim, c=cmp: _applies(
                        acc, {"number"}, c(acc.as_double(), F.lit(lo), True)
                    ),
                )
            )

    bound("minimum", lambda x, lo, strict: (x > lo) if strict else (x >= lo))
    bound("maximum", lambda x, hi, strict: (x < hi) if strict else (x <= hi))
    return out


def _compile_multiple_of(schema, scope, path) -> list[CheckExpr]:
    """Exact divisibility, not epsilon tolerance (the round-1
    |q - round(q)| < 1e-9 check both accepted near-misses and rejected
    true multiples once the quotient's ulp exceeded the epsilon, e.g.
    123456789.0001 % 0.0001):

    - decimal branch: when the value round-trips through decimal(38,18)
      (i.e. its shortest decimal representation — what Spark's
      double->decimal cast produces — has <= 18 fractional digits and
      fits), divisibility is checked with EXACT decimal pmod against the
      divisor's shortest-repr decimal. This matches the JSON lexeme
      semantics: 0.0075 % 0.0001 == 0 even though the binary doubles are
      not exact multiples.
    - double branch (value outside decimal range, e.g. 1e308): IEEE
      fmod, which is exact for doubles — the float-overflow corpus case
      (1e308 % 0.123456789) correctly fails without inf/NaN leakage.
    """
    import decimal as _dec

    k = _num(schema, path, "multipleOf")
    if k is None:
        return []
    if k <= 0:
        raise MalformedSchemaError(path, "multipleOf", "must be > 0")
    kd = _dec.Decimal(str(k))
    k_exp = -kd.as_tuple().exponent
    k_decimal_ok = 0 <= k_exp <= 18 and len(kd.as_tuple().digits) <= 38

    def fac(acc: JsonAccessor) -> Column:
        v = acc.as_double()
        ok_fmod = F.pmod(v, F.lit(float(k))) == F.lit(0.0)
        if k_decimal_ok:
            vdec = v.try_cast("decimal(38,18)")
            exact_dec = vdec.isNotNull() & (vdec.cast("double") == v)
            ok = F.when(exact_dec, F.pmod(vdec, F.lit(kd)) == F.lit(0)).otherwise(ok_fmod)
        else:
            ok = ok_fmod
        return _applies(acc, {"number"}, F.coalesce(ok, F.lit(False)))

    return [_check("multipleOf", path, fac)]


# count bounds: (min keyword, max keyword, instance type, size of the
# instance); one row each for strings, arrays and objects
_COUNT_BOUNDS = (
    ("minLength", "maxLength", "string", lambda acc: F.length(acc.as_string())),
    ("minItems", "maxItems", "array", lambda acc: F.size(acc.as_array())),
    ("minProperties", "maxProperties", "object", lambda acc: F.size(F.map_keys(acc.as_object()))),
)


def _compile_count_bounds(schema, scope, path) -> list[CheckExpr]:
    """minLength/maxLength, minItems/maxItems, minProperties/
    maxProperties: a non-negative integer bound on the instance's size."""
    out = []
    for min_kw, max_kw, tag, size in _COUNT_BOUNDS:
        for kw in (min_kw, max_kw):
            n = schema.get(kw)
            if n is None:
                continue
            if isinstance(n, bool) or not isinstance(n, int) or n < 0:
                raise MalformedSchemaError(path, kw, "must be a non-negative integer")
            out.append(
                _check(
                    kw,
                    path,
                    lambda acc, n=n, is_min=kw == min_kw, tag=tag, size=size: _applies(
                        acc, {tag}, (size(acc) >= n) if is_min else (size(acc) <= n)
                    ),
                )
            )
    return out


def _compile_unique_items(schema, scope, path) -> list[CheckExpr]:
    v = schema.get("uniqueItems")
    if v is None or v is False:
        return []
    if v is not True:
        raise MalformedSchemaError(path, "uniqueItems", "must be a boolean")

    def fac(acc: JsonAccessor) -> Column:
        arr = acc.as_array()
        canon = F.transform(arr, lambda x: acc.element(x).canonical())
        return _applies(acc, {"array"}, F.size(canon) == F.size(F.array_distinct(canon)))

    return [_check("uniqueItems", path, fac)]


def _subpred(sub, scope, path) -> Factory:
    """Fused predicate for a subschema, memoized on the schema NODE (by
    identity — nodes live as long as scope.root) and the base URI in
    force, plus the dynamic scope when dynamic refs exist anywhere. The
    returned factory additionally caches the built Column per accessor
    object, so a gate and the main compile referencing the same branch
    share ONE JVM expression tree."""
    key = (
        id(sub),
        scope.base_uri,
        tuple(scope.dynamic_path) if scope.has_dynamic else None,
    )
    hit = scope._pred_memo.get(key)
    if hit is not None:
        return hit
    raw = pred_of(compile_schema(sub, scope, path=path))
    cache: dict = {}

    def fac(acc: JsonAccessor, raw=raw, cache=cache) -> Column:
        k = id(acc)
        got = cache.get(k)
        if got is None:
            got = (acc, raw(acc))  # keep acc alive so id() stays unique
            cache[k] = got
        return got[1]

    scope._pred_memo[key] = fac
    return fac


def _compile_array_applicators(schema, scope, path) -> list[CheckExpr]:
    """Positional prefix schemas plus one schema for the tail after them.
    The draft only names the roles: up to 2019-09 an array-form ``items``
    is the prefix and ``additionalItems`` the tail, while a schema-form
    ``items`` is the tail over the whole array (``additionalItems`` is
    then ignored); in 2020-12 ``prefixItems`` is the prefix and the
    schema-only ``items`` the tail (``additionalItems`` is an ignored
    unknown keyword). A ``false`` tail bounds the array's length."""
    if scope.draft == "draft2020-12":
        prefix_kw, prefix, tail_kw, tail = "prefixItems", schema.get("prefixItems"), "items", schema.get("items")
        if prefix is not None and (not isinstance(prefix, list) or not prefix):
            raise MalformedSchemaError(path, "prefixItems", "must be a non-empty array of schemas")
        tail_error = "draft2020-12 items must be a single schema (use prefixItems)"
    elif isinstance(schema.get("items"), list):
        prefix_kw, prefix, tail_kw, tail = "items", schema["items"], "additionalItems", schema.get("additionalItems")
        tail_error = None  # a non-schema additionalItems is ignored
    else:
        prefix_kw, prefix, tail_kw, tail = "items", None, "items", schema.get("items")
        tail_error = "must be a schema or array of schemas"

    out: list[CheckExpr] = []
    n = 0
    if prefix is not None:
        preds = [_subpred(s, scope, f"{path}/{prefix_kw}/{i}") for i, s in enumerate(prefix)]
        n = len(preds)

        def pfac(acc: JsonAccessor, preds=preds) -> Column:
            arr = acc.as_array()
            inner = F.lit(True)
            for i, p in enumerate(preds):
                # try_element_at: NULL (not ANSI error) when index > size
                el = acc.element(F.try_element_at(arr, F.lit(i + 1)))
                inner = inner & F.when(
                    F.size(arr) > i, F.coalesce(p(el), F.lit(True))
                ).otherwise(F.lit(True))
            return _applies(acc, {"array"}, inner)

        out.append(_check(prefix_kw, path, pfac))

    if tail is False:
        out.append(
            _check(
                tail_kw,
                path,
                lambda acc: _applies(
                    acc, {"array"}, (F.size(acc.as_array()) <= n) if n else (F.size(acc.as_array()) == 0)
                ),
            )
        )
    elif isinstance(tail, (dict, bool)):
        tp = _subpred(tail, scope, f"{path}/{tail_kw}")

        def tfac(acc: JsonAccessor, tp=tp) -> Column:
            rest = F.filter(acc.as_array(), lambda x, i: i >= n) if n else acc.as_array()
            return _applies(
                acc, {"array"}, F.forall(rest, lambda x: F.coalesce(tp(acc.element(x)), F.lit(True)))
            )

        out.append(_check(tail_kw, path, tfac))
    elif tail is not None and tail_error:
        raise MalformedSchemaError(path, "items", tail_error)
    return out


def _compile_contains(schema, scope, path) -> list[CheckExpr]:
    if scope.draft == "draft4" or "contains" not in schema:
        return []
    p = _subpred(schema["contains"], scope, f"{path}/contains")

    def _count(acc: JsonAccessor) -> Column:
        return F.size(
            F.filter(acc.as_array(), lambda x: F.coalesce(p(acc.element(x)), F.lit(False)))
        )

    out: list[CheckExpr] = []
    mn, mx = None, None
    if scope.modern:
        # minContains/maxContains (2019-09+) only take effect alongside
        # `contains`; minContains: 0 makes `contains` itself vacuous
        for kw in ("minContains", "maxContains"):
            v = schema.get(kw)
            if v is None:
                continue
            if isinstance(v, bool) or not isinstance(v, int) or v < 0:
                raise MalformedSchemaError(path, kw, "must be a non-negative integer")
        mn, mx = schema.get("minContains"), schema.get("maxContains")

    if mn is not None:
        if mn > 0:
            out.append(
                _check("minContains", path, lambda acc, n=mn: _applies(acc, {"array"}, _count(acc) >= n))
            )
        # mn == 0: contains always satisfied (even on empty arrays)
    else:
        out.append(
            _check(
                "contains",
                path,
                lambda acc: _applies(
                    acc,
                    {"array"},
                    F.exists(acc.as_array(), lambda x: F.coalesce(p(acc.element(x)), F.lit(False))),
                ),
            )
        )
    if mx is not None:
        out.append(_check("maxContains", path, lambda acc, n=mx: _applies(acc, {"array"}, _count(acc) <= n)))
    return out


def _compile_properties(schema, scope, path) -> list[CheckExpr]:
    """Per-property sub-schema recursion — child errors surface with
    extended paths exactly like the reference
    (/root/reference/src/keywords/properties_.rs:119-131: path
    `{path}/{name}`, absent properties skipped, non-object instances yield
    no errors). Returns lifted child CheckExprs rather than one opaque
    predicate so violations carry per-property paths."""
    props = schema.get("properties")
    if props is None:
        return []
    if not isinstance(props, dict):
        # non-object `properties` value is a schema error (properties_.rs:59-63)
        raise MalformedSchemaError(path, "properties", "properties must be an object")
    bad = [k for k, v in props.items() if not isinstance(v, (dict, bool))]
    if bad:
        # aggregate faulty paths into one error (properties_.rs:96-112)
        raise MalformedSchemaError(
            path, "properties", f"non-schema property values at: {sorted(bad)}"
        )
    lifted: list[CheckExpr] = []
    for name, sub in props.items():
        child_path = normalise_path(f"{path}/{name}")
        for child in compile_schema(sub, scope, path=child_path):

            def fac(acc: JsonAccessor, name=name, child=child) -> Column:
                applies = acc.has_type(frozenset({"object"})) & acc.has_field(name)
                if isinstance(applies, Column):
                    return F.when(applies, child.gated(acc.get_field(name))).otherwise(F.lit(True))
                return child.gated(acc.get_field(name)) if applies else F.lit(True)

            lifted.append(replace(child, factory=fac))
    return lifted


def _compile_pattern_properties(schema, scope, path) -> list[CheckExpr]:
    pp = schema.get("patternProperties")
    if pp is None:
        return []
    if not isinstance(pp, dict):
        raise MalformedSchemaError(path, "patternProperties", "must be an object")
    compiled = [
        (pat, _subpred(sub, scope, f"{path}/patternProperties"))
        for pat, sub in pp.items()
    ]

    def fac(acc: JsonAccessor) -> Column:
        obj = acc.as_object()
        inner = F.lit(True)
        for pat, p in compiled:
            matched = F.map_filter(obj, lambda k, v: k.rlike(pat))
            inner = inner & F.forall(
                F.map_values(matched), lambda v: F.coalesce(p(acc.element(v)), F.lit(True))
            )
        return _applies(acc, {"object"}, inner)

    return [_check("patternProperties", path, fac)]


def _compile_additional_properties(schema, scope, path) -> list[CheckExpr]:
    add = schema.get("additionalProperties")
    if add is None or add is True:
        return []
    known = list(schema.get("properties", {}) or {})
    pats = list(schema.get("patternProperties", {}) or {})

    def extras(acc: JsonAccessor) -> Column:
        obj = acc.as_object()

        def is_extra(k, v):
            cond = ~k.isin(known) if known else F.lit(True)
            for pat in pats:
                cond = cond & ~k.rlike(pat)
            return cond

        return F.map_filter(obj, is_extra)

    if add is not False and not isinstance(add, dict):
        raise MalformedSchemaError(path, "additionalProperties", "must be a schema or boolean")
    p = None if add is False else _subpred(add, scope, f"{path}/additionalProperties")

    def fac(acc: JsonAccessor) -> Column:
        if p is None:
            return _applies(acc, {"object"}, F.size(F.map_keys(extras(acc))) == 0)
        return _applies(
            acc,
            {"object"},
            F.forall(F.map_values(extras(acc)), lambda v: F.coalesce(p(acc.element(v)), F.lit(True))),
        )

    return [_check("additionalProperties", path, fac)]


def _compile_property_names(schema, scope, path) -> list[CheckExpr]:
    if scope.draft == "draft4" or "propertyNames" not in schema:
        return []
    p = _subpred(schema["propertyNames"], scope, f"{path}/propertyNames")

    def fac(acc: JsonAccessor) -> Column:
        return _applies(
            acc,
            {"object"},
            F.forall(
                F.map_keys(acc.as_object()),
                lambda k: F.coalesce(p(TypedAccessor(k, T.StringType())), F.lit(True)),
            ),
        )

    return [_check("propertyNames", path, fac)]


# dependency keywords: keyword -> (takes name lists, takes schemas, error
# for a malformed map). draft4-7 `dependencies` takes both; 2019-09 split
# it into `dependentRequired` and `dependentSchemas`, and ignores it.
_DEPENDENCY_KEYWORDS = {
    "dependencies": (True, True, "must be an object"),
    "dependentRequired": (True, False, "must map names to string arrays"),
    "dependentSchemas": (False, True, "must map names to schemas"),
}


def _compile_dependencies(schema, scope, path) -> list[CheckExpr]:
    """``dependencies`` / ``dependentRequired`` / ``dependentSchemas``:
    each entry normalizes to ``(name, required names | subschema
    predicate)``; when ``name`` is present, the names must all be present
    or the subschema must hold."""
    out: list[CheckExpr] = []
    for kw in ("dependentRequired", "dependentSchemas") if scope.modern else ("dependencies",):
        deps = schema.get(kw)
        if deps is None:
            continue
        takes_names, takes_schemas, malformed = _DEPENDENCY_KEYWORDS[kw]
        if not isinstance(deps, dict):
            raise MalformedSchemaError(path, kw, malformed)
        for name, dep in deps.items():
            if isinstance(dep, list) and takes_names and all(isinstance(d, str) for d in dep):
                continue
            if isinstance(dep, (dict, bool)) and takes_schemas:
                continue
            if kw == "dependencies":  # draft4-7 name the entry
                kind = "dependency list" if isinstance(dep, list) else "dependency"
                malformed = f"bad {kind} for {name!r}"
            raise MalformedSchemaError(path, kw, malformed)
        compiled = [
            (name, dep if isinstance(dep, list) else _subpred(dep, scope, f"{path}/{kw}/{name}"))
            for name, dep in deps.items()
        ]

        def fac(acc: JsonAccessor, compiled=compiled) -> Column:
            inner = F.lit(True)
            for name, dep in compiled:
                if isinstance(dep, list):
                    req = F.lit(True)
                    for d in dep:
                        req = req & acc.has_field(d)
                else:
                    req = F.coalesce(dep(acc), F.lit(True))
                inner = inner & F.when(acc.has_field(name), req).otherwise(F.lit(True))
            return _applies(acc, {"object"}, inner)

        out.append(_check(kw, path, fac))
    return out


def _compile_combinators(schema, scope, path) -> list[CheckExpr]:
    out = []
    for kw in ("allOf", "anyOf", "oneOf"):
        subs = schema.get(kw)
        if subs is None:
            continue
        if not isinstance(subs, list) or not subs:
            raise MalformedSchemaError(path, kw, "must be a non-empty array of schemas")
        preds = [_subpred(s, scope, f"{path}/{kw}/{i}") for i, s in enumerate(subs)]
        if kw == "oneOf":  # exactly one passes
            def fac(acc: JsonAccessor, ps=preds) -> Column:
                total = F.lit(0)
                for p in ps:
                    total = total + F.coalesce(p(acc), F.lit(True)).cast("int")
                return total == 1

        else:  # allOf: all pass; anyOf: at least one passes
            op = operator.and_ if kw == "allOf" else operator.or_

            def fac(acc: JsonAccessor, ps=preds, op=op) -> Column:
                return functools.reduce(op, [F.coalesce(p(acc), F.lit(True)) for p in ps])

        out.append(_check(kw, path, fac))
    if "not" in schema:
        p = _subpred(schema["not"], scope, f"{path}/not")
        out.append(_check("not", path, lambda acc: ~F.coalesce(p(acc), F.lit(True))))
    if (scope.draft == "draft7" or scope.modern) and "if" in schema:
        pif = _subpred(schema["if"], scope, f"{path}/if")
        pthen = _subpred(schema["then"], scope, f"{path}/then") if "then" in schema else None
        pelse = _subpred(schema["else"], scope, f"{path}/else") if "else" in schema else None

        def if_then_else(acc: JsonAccessor) -> Column:
            t = F.coalesce(pthen(acc), F.lit(True)) if pthen else F.lit(True)
            e = F.coalesce(pelse(acc), F.lit(True)) if pelse else F.lit(True)
            return F.when(F.coalesce(pif(acc), F.lit(True)), t).otherwise(e)

        out.append(_check("if", path, if_then_else))
    return out


# ---------------------------------------------------------------------------
# unevaluatedProperties / unevaluatedItems (2019-09+)
# ---------------------------------------------------------------------------
# Annotation-dependent keywords: whether a property/item is "evaluated"
# depends on which adjacent and in-place-applicator subschemas apply to
# the instance. The finders below build, at COMPILE time, a Column
# function `evaluated(key/index) -> boolean` that replicates — quirks
# included — the algorithm of the stamping oracle (the installed
# `jsonschema` library: _utils.find_evaluated_property_keys_by_schema
# for 2020-12, _legacy_keywords.* for 2019-09), so corpus verdicts match
# the library bit-for-bit. Branch-validity gates referenced inside the
# per-entry HOF lambda re-evaluate per key/item — acceptable: instance
# objects/arrays are row-local and small, and the alternative (a
# pre-projected per-branch bit) can't be expressed inside a nested
# accessor context.


class _Contrib:
    """Evaluated-ness contributors for one schema node: `props(acc, k, v)`
    / `items(acc, x, i)` -> boolean Column (never NULL)."""

    __slots__ = ("prop_terms", "item_terms", "items_all")

    def __init__(self):
        self.prop_terms: list = []  # fns (acc, k, v) -> Column
        self.item_terms: list = []  # fns (acc, x, i) -> Column
        self.items_all = False  # `items` saturates: every index evaluated

    def props(self, acc, k, v) -> Column:
        out = F.lit(False)
        for t in self.prop_terms:
            out = out | t(acc, k, v)
        return out

    def items(self, acc, x, i) -> Column:
        if self.items_all:
            return F.lit(True)
        out = F.lit(False)
        for t in self.item_terms:
            out = out | t(acc, x, i)
        return out


def _branch_valid(sub, scope, path):
    """Compile `sub` to a never-NULL validity Column fn — the
    `is_valid(descend(instance, sub))` gate of the library finders."""
    p = _subpred(sub, scope, path)
    return lambda acc: F.coalesce(p(acc), F.lit(True))


def _ref_terms(schema, scope, path, depth, build) -> list:
    """The finder `build` run on the target of each of this draft's
    reference sites (``Scope.ref_sites``), inside the target's resource
    (the same push/pop discipline as ``Scope.resolve_ref``). All targets
    are looked up before any is recursed into."""
    targets = []
    for base, ref in scope.ref_sites(schema, path):
        with scope.based(base):
            targets.append(scope._lookup(ref, path)[1:])
    out = []
    for node, eff in targets:
        with scope.entered(eff):
            out.append(build(node, scope, path, depth + 1))
    return out


def _eval_props_fn(schema, scope: Scope, path: str, depth: int = 0):
    """Build `evaluated(acc, key, value) -> Column` for this schema node,
    replicating the library's find_evaluated_property_keys_by_schema
    (modern) / _legacy_keywords variant (2019-09)."""
    c = _Contrib()
    if not isinstance(schema, dict) or depth > scope.max_ref_depth:
        return c.props
    legacy = scope.draft == "draft2019-09"

    for sub in _ref_terms(schema, scope, path, depth, _eval_props_fn):
        c.prop_terms.append(lambda acc, k, v, sub=sub: sub(acc, k, v))

    if legacy:
        # legacy quirk: for properties/additionalProperties/
        # unevaluatedProperties, an OBJECT value contributes its own
        # dict KEYS as evaluated property names; boolean true -> all
        for kw in ("properties", "additionalProperties", "unevaluatedProperties"):
            val = schema.get(kw)
            if val is True:
                c.prop_terms.append(lambda acc, k, v: F.lit(True))
            elif isinstance(val, dict) and val:
                names = sorted(val.keys())
                c.prop_terms.append(lambda acc, k, v, names=names: k.isin(names))
    else:
        props = schema.get("properties")
        if isinstance(props, dict) and props:
            names = sorted(props.keys())
            c.prop_terms.append(lambda acc, k, v, names=names: k.isin(names))
        # modern: any key whose VALUE validates the subschema counts
        for kw in ("additionalProperties", "unevaluatedProperties"):
            val = schema.get(kw)
            if val is None:
                continue
            vp = _branch_valid(val, scope, f"{path}/{kw}")
            c.prop_terms.append(
                lambda acc, k, v, vp=vp: F.coalesce(vp(acc.element(v)), F.lit(True))
            )

    pp = schema.get("patternProperties")
    if isinstance(pp, dict):
        pats = list(pp.keys())
        c.prop_terms.append(
            lambda acc, k, v, pats=pats: functools.reduce(
                lambda a, b: a | b, [k.rlike(p) for p in pats], F.lit(False)
            )
        )

    ds = schema.get("dependentSchemas")
    if isinstance(ds, dict):
        for name, sub in ds.items():
            subfn = _eval_props_fn(sub, scope, f"{path}/dependentSchemas/{name}", depth)
            c.prop_terms.append(
                lambda acc, k, v, name=name, subfn=subfn: F.coalesce(
                    acc.has_field(name), F.lit(False)
                )
                & subfn(acc, k, v)
            )

    _combinator_terms(schema, scope, path, depth, c, _eval_props_fn, "prop_terms")
    return c.props


def _eval_items_fn(schema, scope: Scope, path: str, depth: int = 0):
    """Build `evaluated(acc, elem, index) -> Column` replicating the
    library's find_evaluated_item_indexes_by_schema per draft."""
    c = _Contrib()
    if not isinstance(schema, dict) or depth > scope.max_ref_depth:
        return c.items
    legacy = scope.draft == "draft2019-09"

    items = schema.get("items")
    if legacy:
        if "items" in schema:
            if "additionalItems" in schema or isinstance(items, (dict, bool)):
                c.items_all = True
                return c.items
            if isinstance(items, list):
                n = len(items)
                c.item_terms.append(lambda acc, x, i, n=n: i < n)
    elif "items" in schema:
        # modern: the presence of `items` saturates the whole array
        c.items_all = True
        return c.items

    for sub in _ref_terms(schema, scope, path, depth, _eval_items_fn):
        c.item_terms.append(lambda acc, x, i, sub=sub: sub(acc, x, i))

    if not legacy:
        prefix = schema.get("prefixItems")
        if isinstance(prefix, list):
            n = len(prefix)
            c.item_terms.append(lambda acc, x, i, n=n: i < n)

    for kw in ("contains", "unevaluatedItems"):
        val = schema.get(kw)
        if val is None:
            continue
        vp = _branch_valid(val, scope, f"{path}/{kw}")
        c.item_terms.append(
            lambda acc, x, i, vp=vp: F.coalesce(vp(acc.element(x)), F.lit(True))
        )

    _combinator_terms(schema, scope, path, depth, c, _eval_items_fn, "item_terms")
    return c.items


def _combinator_terms(schema, scope, path, depth, c, builder, slot):
    """allOf/oneOf/anyOf branches (gated on branch validity) and
    if/then/else — shared between the props and items finders."""
    for kw in ("allOf", "oneOf", "anyOf"):
        subs = schema.get(kw)
        if not isinstance(subs, list):
            continue
        for bi, sub in enumerate(subs):
            bp = f"{path}/{kw}/{bi}"
            gate = _branch_valid(sub, scope, bp)
            subfn = builder(sub, scope, bp, depth)
            getattr(c, slot).append(
                lambda acc, a, b, gate=gate, subfn=subfn: gate(acc) & subfn(acc, a, b)
            )
    if "if" in schema:
        gate = _branch_valid(schema["if"], scope, f"{path}/if")
        iffn = builder(schema["if"], scope, f"{path}/if", depth)
        thenfn = (
            builder(schema["then"], scope, f"{path}/then", depth) if "then" in schema else None
        )
        elsefn = (
            builder(schema["else"], scope, f"{path}/else", depth) if "else" in schema else None
        )

        def ite(acc, a, b, gate=gate, iffn=iffn, thenfn=thenfn, elsefn=elsefn):
            hit = iffn(acc, a, b) | (thenfn(acc, a, b) if thenfn else F.lit(False))
            miss = elsefn(acc, a, b) if elsefn else F.lit(False)
            return F.when(gate(acc), hit).otherwise(miss)

        getattr(c, slot).append(ite)


def _compile_unevaluated(schema, scope, path) -> list[CheckExpr]:
    """unevaluatedProperties / unevaluatedItems (2019-09+): apply the
    subschema to every property/item NOT evaluated by the schema's other
    applicators (per the library's annotation-finder semantics)."""
    if not scope.modern:
        return []
    out: list[CheckExpr] = []

    up = schema.get("unevaluatedProperties")
    if up is not None and up is not True:
        ev = _eval_props_fn(schema, scope, path)
        sp = None if up is False else _subpred(up, scope, f"{path}/unevaluatedProperties")

        def pfac(acc: JsonAccessor, ev=ev, sp=sp) -> Column:
            def entry_ok(e):
                k, v = e["key"], e["value"]
                ok = ev(acc, k, v)
                if sp is not None:
                    ok = ok | F.coalesce(sp(acc.element(v)), F.lit(True))
                return ok

            inner = F.forall(F.map_entries(acc.as_object()), entry_ok)
            return _applies(acc, {"object"}, inner)

        out.append(_check("unevaluatedProperties", path, pfac))

    ui = schema.get("unevaluatedItems")
    if ui is not None and ui is not True:
        ev = _eval_items_fn(schema, scope, path)
        sp = None if ui is False else _subpred(ui, scope, f"{path}/unevaluatedItems")

        def ifac(acc: JsonAccessor, ev=ev, sp=sp) -> Column:
            def bad(x, i):
                ok = ev(acc, x, i)
                if sp is not None:
                    ok = ok | F.coalesce(sp(acc.element(x)), F.lit(True))
                return ~ok

            inner = F.size(F.filter(acc.as_array(), bad)) == 0
            return _applies(acc, {"array"}, inner)

        out.append(_check("unevaluatedItems", path, ifac))
    return out


# -- RFC 3986 / RFC 5321 grammar fragments (Java-regex dialect), built
#    compositionally from the ABNF so the probes are spec-grade rather
#    than approximations. IP-literal interiors ([...]) are permissive on
#    IPv6 internals (full RFC 4291 is the separate `ipv6` probe).
_PCT = r"%[0-9A-Fa-f]{2}"
_UNRES = r"A-Za-z0-9\-._~"
_SUB = r"!$&'()*+,;="
_PCHAR = rf"(?:[{_UNRES}{_SUB}:@]|{_PCT})"
_SEG = rf"{_PCHAR}*"
_QF = rf"(?:[{_UNRES}{_SUB}:@/?]|{_PCT})*"  # query / fragment
_USERINFO = rf"(?:[{_UNRES}{_SUB}:]|{_PCT})*"
_REGNAME = rf"(?:[{_UNRES}{_SUB}]|{_PCT})*"
_IPV4_RE = r"(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IPLIT = rf"\[(?:[0-9A-Fa-f:.]+|[vV][0-9A-Fa-f]+\.[{_UNRES}{_SUB}:]+)\]"
_HOST = rf"(?:{_IPLIT}|{_IPV4_RE}|{_REGNAME})"
_AUTH = rf"(?:{_USERINFO}@)?{_HOST}(?::\d*)?"
_PATH_ABEMPTY = rf"(?:/{_SEG})*"
_PATH_ABS = rf"/(?:{_PCHAR}+(?:/{_SEG})*)?"
_PATH_ROOTLESS = rf"{_PCHAR}+(?:/{_SEG})*"
_SEG_NZ_NC = rf"(?:[{_UNRES}{_SUB}@]|{_PCT})+"  # no ':' in first rel segment
_PATH_NOSCHEME = rf"{_SEG_NZ_NC}(?:/{_SEG})*"
_URI_RE = (
    rf"^[A-Za-z][A-Za-z0-9+.\-]*:"
    rf"(?://{_AUTH}{_PATH_ABEMPTY}|{_PATH_ABS}|{_PATH_ROOTLESS})?"
    rf"(?:\?{_QF})?(?:\#{_QF})?$"
)
_RELATIVE_RE = (
    rf"^(?://{_AUTH}{_PATH_ABEMPTY}|{_PATH_ABS}|{_PATH_NOSCHEME})?"
    rf"(?:\?{_QF})?(?:\#{_QF})?$"
)
# RFC 5321 Mailbox: Dot-string / Quoted-string local part; LDH domain
# labels or an address-literal
_ATEXT = r"A-Za-z0-9!#$%&'*+/=?^_`{|}~\-"
_DOT_STRING = rf"[{_ATEXT}]+(?:\.[{_ATEXT}]+)*"
_QSTRING = r"\"(?:[ !#-\[\]-~]|\\[ -~])*\""
_LDH = r"[A-Za-z0-9](?:[A-Za-z0-9\-]*[A-Za-z0-9])?"
_EMAIL_RE = (
    rf"^(?:{_DOT_STRING}|{_QSTRING})"
    rf"@(?:{_LDH}(?:\.{_LDH})*|\[(?:{_IPV4_RE}|[Ii][Pp][vV]6:[0-9A-Fa-f:.]+)\])$"
)


# format (draft4 §7: optional) — opt-in probes, pure Column algebra
_FORMAT_PROBES: dict[str, Factory] = {
    "date-time": lambda acc: F.try_to_timestamp(
        F.regexp_replace(acc.as_string(), r"[zZ]$", "+00:00"),
        F.lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX]"),
    ).isNotNull(),
    "date": lambda acc: F.try_to_timestamp(acc.as_string(), F.lit("yyyy-MM-dd")).isNotNull(),
    # RFC 5321 Mailbox (quoted local-parts and address-literals
    # included — the official suite's predicted edge cases)
    "email": lambda acc: acc.as_string().rlike(_EMAIL_RE),
    "ipv4": lambda acc: acc.as_string().rlike(
        r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$"
    ),
    # RFC 4291 textual forms: full 8-group, '::' compression at every
    # position, and IPv4-mapped tails; no zone-ids (they are not part of
    # the ipv6 format per the official suite)
    "ipv6": lambda acc: acc.as_string().rlike(
        r"^(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
        r"|([0-9A-Fa-f]{1,4}:){1,7}:"
        r"|([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
        r"|([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}"
        r"|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}"
        r"|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}"
        r"|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}"
        r"|[0-9A-Fa-f]{1,4}:(:[0-9A-Fa-f]{1,4}){1,6}"
        r"|:((:[0-9A-Fa-f]{1,4}){1,7}|:)"
        r"|::(ffff(:0{1,4})?:)?((25[0-5]|(2[0-4]|1?[0-9])?[0-9])\.){3}"
        r"(25[0-5]|(2[0-4]|1?[0-9])?[0-9])"
        r"|([0-9A-Fa-f]{1,4}:){1,4}:((25[0-5]|(2[0-4]|1?[0-9])?[0-9])\.){3}"
        r"(25[0-5]|(2[0-4]|1?[0-9])?[0-9])"
        r"|([0-9A-Fa-f]{1,4}:){6}((25[0-5]|(2[0-4]|1?[0-9])?[0-9])\.){3}"
        r"(25[0-5]|(2[0-4]|1?[0-9])?[0-9]))$"
    ),
    "hostname": lambda acc: acc.as_string().rlike(
        r"^(?=.{1,253}$)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$"
    ),
    # full RFC 3986 URI grammar (scheme + hier-part + query + fragment,
    # composed from the ABNF above), not a scheme-prefix approximation
    "uri": lambda acc: acc.as_string().rlike(_URI_RE),
    # RFC 3339 full-time: HH:MM:SS with optional fraction, 'Z' or a
    # numeric offset; second 60 admitted (leap second, per the official
    # suite's required cases)
    "time": lambda acc: acc.as_string().rlike(
        r"^([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)(\.\d+)?([zZ]|[+-]([01]\d|2[0-3]):[0-5]\d)$"
    ),
    # RFC 6901: empty, or /-separated tokens where ~ only appears as ~0/~1
    "json-pointer": lambda acc: acc.as_string().rlike(r"^(/([^/~]|~[01])*)*$"),
    # draft7: non-negative integer (no leading zeros) + '#' or a JSON pointer
    "relative-json-pointer": lambda acc: acc.as_string().rlike(
        r"^(0|[1-9]\d*)(#|(/([^/~]|~[01])*)*)$"
    ),
    # RFC 3986 URI-reference = URI / relative-ref, full grammar (the
    # relative alternative enforces the no-colon rule on the first
    # path segment)
    "uri-reference": lambda acc: acc.as_string().rlike(_URI_RE)
    | acc.as_string().rlike(_RELATIVE_RE),
    # RFC 6570: URI chars plus balanced non-nested {expr} blocks with a
    # non-empty varspec list
    "uri-template": lambda acc: acc.as_string().rlike(
        r"^([^\x00-\x20{}\x7f\"'%<>\\^`|]|%[0-9A-Fa-f]{2}"
        r"|\{[+#./;?&=,!@|]?[A-Za-z0-9_%.]+(:[1-9]\d{0,3}|\*)?"
        r"(,[A-Za-z0-9_%.]+(:[1-9]\d{0,3}|\*)?)*\})*$"
    ),
    "regex": lambda acc: _regex_validity_probe(acc),
    # RFC 4122 canonical 8-4-4-4-12 form, case-insensitive, any
    # version/variant nibble — exactly what the installed jsonschema
    # library's uuid checker accepts (verified: it rejects urn:uuid:
    # prefixes, braces, and hyphen-less hex), so the library-parity
    # oracle covers this probe
    "uuid": lambda acc: acc.as_string().rlike(
        r"^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$"
    ),
    # RFC 3339 appendix-A duration ABNF (draft2019-09+ format),
    # transliterated production-by-production — the grammar is
    # HIERARCHICAL (dur-year = 1*DIGIT "Y" [dur-month]; dur-hour =
    # 1*DIGIT "H" [dur-minute]; ...), so skipped-middle forms like
    # "P1Y1D" or "PT1H5S" are NOT derivable and are rejected, weeks are
    # exclusive of date/time parts, and fields are integer-only (no
    # fraction production). Designators are uppercase: RFC 5234 quoted
    # strings are nominally case-insensitive, but ISO 8601 §3.4.1 and
    # every deployed checker (isoduration et al.) use uppercase — that
    # judgment call is pinned in tests/corpus/draft2019_format.json.
    # The container's FormatChecker lacks a duration checker
    # (isoduration not installed); author-independence comes from the
    # verbatim recursive-descent ABNF parser in
    # tests/test_duration_abnf.py, which must agree with this regex on
    # an exhaustively generated vector set.
    "duration": lambda acc: acc.as_string().rlike(DURATION_ABNF_PATTERN),
}

# dur-time    = "T" (dur-hour / dur-minute / dur-second)
# dur-date    = (dur-day / dur-month / dur-year) [dur-time]
# duration    = "P" (dur-date / dur-time / dur-week)
_DUR_TIME = r"T(?:\d+H(?:\d+M(?:\d+S)?)?|\d+M(?:\d+S)?|\d+S)"
DURATION_ABNF_PATTERN = (
    r"^P(?:\d+W"
    r"|(?:\d+D|\d+M(?:\d+D)?|\d+Y(?:\d+M(?:\d+D)?)?)(?:" + _DUR_TIME + r")?"
    r"|" + _DUR_TIME + r")$"
)


def _regex_validity_probe(acc: JsonAccessor) -> Column:
    """``format: regex`` — the value must itself be a valid ECMA-262
    regex. Validity is only decidable by compiling, so this is the ONE
    format probe that is not Column algebra: an Arrow-batched pandas UDF
    compiles each DISTINCT pattern once (LRU across batches) via Python
    ``re`` (a superset of the ECMA subset the official suite exercises).
    Same boundary rule as the statistical checks — vectorized batches,
    never a row-at-a-time Python UDF in a Column expression."""
    import pandas as pd

    def _f(batch):
        import re

        # per-worker memo (function attribute survives across Arrow
        # batches in one python worker): compile each distinct pattern once
        cache = _f.__dict__.setdefault("_memo", {})

        def ok(p):
            v = cache.get(p)
            if v is None:
                try:
                    re.compile(p)
                    v = True
                except re.error:
                    v = False
                cache[p] = v
            return v

        return batch.map(lambda s: None if s is None else ok(s))

    _f.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return F.pandas_udf(_f, "boolean")(acc.as_string())


def _compile_format(schema, scope, path) -> list[CheckExpr]:
    fmt = schema.get("format")
    if fmt is None or not scope.validate_formats:
        return []
    probe = _FORMAT_PROBES.get(fmt)
    if probe is None:
        return []  # unknown formats are annotations per spec
    return [_check("format", path, lambda acc: _applies(acc, {"string"}, F.coalesce(probe(acc), F.lit(False))))]


# ---------------------------------------------------------------------------
# Top-level schema compiler
# ---------------------------------------------------------------------------

def compile_schema(
    schema, scope: Scope | None = None, path: str = "#", validate_formats: bool = False
) -> list[CheckExpr]:
    """Compile a JSON-Schema document into a list of CheckExprs.

    Mirrors Schema::create + compile_draft_validators
    (/root/reference/src/types/schema.rs:30-58,
    /root/reference/src/keywords/mod.rs:44-62): fixed keyword order, absent
    keywords compile to nothing, malformed specs raise at compile."""
    if scope is None:
        scope = Scope()
        scope.root = schema
    if validate_formats:
        scope.validate_formats = True
    path = normalise_path(path)

    if isinstance(schema, bool):
        # draft6+ boolean schemas; also harmless under draft4
        if schema:
            return []
        return [CheckExpr("false", path, "false schema matches nothing", lambda acc: F.lit(False))]
    if not isinstance(schema, dict):
        # non-object root schema is a compile error (schema.rs:46-57)
        raise MalformedSchemaError(path, "$schema", f"schema must be an object, got {type(schema).__name__}")

    # $vocabulary (2019-09/2020-12 core §8.1.2): a schema carrying it is
    # acting as a meta-schema. Required (true) vocabularies we don't
    # implement are a compile-time refusal, never a silent ignore;
    # optional (false) ones are ignorable by definition. Draft<=7 has no
    # such keyword — there it stays annotation-inert like any unknown.
    if scope.modern and "$vocabulary" in schema:
        _check_vocabulary(schema["$vocabulary"], scope, path)

    # $ref: delegation (ref_.rs:55-61); siblings, $id included, ignored
    # per draft<=7 (modern drafts compile $ref AS a keyword alongside its
    # siblings — the first entry of _KEYWORD_COMPILERS); non-string $ref
    # silently ignored (ref_.rs:35-40)
    if isinstance(schema.get("$ref"), str) and not scope.modern:
        return _compile_refs(schema, scope, path)

    # $id (draft4: id) establishes a new base URI for this schema's
    # subtree (RFC 3986 resolution against the enclosing base); a
    # fragment-only $id is a location-independent anchor and leaves the
    # base unchanged. Restored on exit so siblings are unaffected.
    # Entering a new resource also pushes onto the dynamic scope.
    saved_base = scope.base_uri
    pushed = 0
    if not scope.dynamic_path:
        scope.dynamic_path.append(urldefrag(saved_base or "")[0])
        pushed += 1
    idval = schema.get(scope.id_keyword)
    if isinstance(idval, str) and idval and idval != "#":
        nb = full_uri(saved_base or "", idval)
        if not urldefrag(nb)[1]:
            scope.base_uri = urldefrag(nb)[0]
            if scope.base_uri != urldefrag(saved_base or "")[0]:
                scope.dynamic_path.append(scope.base_uri)
                pushed += 1
    try:
        return _compile_object_schema(schema, scope, path)
    finally:
        scope.base_uri = saved_base
        for _ in range(pushed):
            scope.dynamic_path.pop()


# The vocabularies this engine implements, exactly the standard sets
# published with each dialect's meta-schema. format-assertion is
# included for 2020-12: assertion behavior exists behind
# validate_formats=True (the probe registry above).
SUPPORTED_VOCABULARIES: dict[str, frozenset[str]] = {
    "draft2019-09": frozenset(
        f"https://json-schema.org/draft/2019-09/vocab/{n}"
        for n in ("core", "applicator", "validation", "meta-data", "format", "content")
    ),
    "draft2020-12": frozenset(
        f"https://json-schema.org/draft/2020-12/vocab/{n}"
        for n in (
            "core",
            "applicator",
            "unevaluated",
            "validation",
            "meta-data",
            "format-annotation",
            "format-assertion",
            "content",
        )
    ),
}


def _check_vocabulary(decl, scope: Scope, path: str) -> None:
    """Validate a ``$vocabulary`` declaration at compile time."""
    if not isinstance(decl, dict):
        raise MalformedSchemaError(
            path, "$vocabulary", f"must be an object of URI -> boolean, got {type(decl).__name__}"
        )
    known = SUPPORTED_VOCABULARIES[scope.draft]
    for uri, required in decl.items():
        if not isinstance(uri, str):
            raise MalformedSchemaError(path, "$vocabulary", f"vocabulary key must be a string URI, got {uri!r}")
        if not isinstance(required, bool):
            raise MalformedSchemaError(
                path, "$vocabulary", f"vocabulary value for {uri!r} must be a boolean, got {required!r}"
            )
        if required and uri not in known:
            raise UnsupportedVocabularyError(path, uri)


def _compile_refs(schema, scope, path) -> list[CheckExpr]:
    """Each reference site of ``Scope.ref_sites`` compiles its target in
    place, the target's checks re-pathed to the referring schema. In
    2019-09+ these are ordinary keywords conjoined with their siblings
    (core §8.2.4)."""
    out: list[CheckExpr] = []
    for base, ref in scope.ref_sites(schema, path):
        with scope.based(base):
            out.extend(replace(c, path=path) for c in scope.resolve_ref(ref, path))
    return out


# registration order mirrors keywords/mod.rs:49-57 (Type, Properties, Ref
# — here the reference keywords come first) then extends with the corpus
# keyword set (SURVEY.md §2.3)
_KEYWORD_COMPILERS = (
    _compile_refs,
    _compile_type,
    _compile_properties,
    _compile_enum,
    _compile_const,
    _compile_required,
    _compile_pattern,
    _compile_bounds,
    _compile_multiple_of,
    _compile_count_bounds,
    _compile_unique_items,
    _compile_array_applicators,
    _compile_contains,
    _compile_pattern_properties,
    _compile_additional_properties,
    _compile_property_names,
    _compile_dependencies,
    _compile_combinators,
    _compile_unevaluated,
    _compile_format,
)


def _compile_object_schema(schema: dict, scope: Scope, path: str) -> list[CheckExpr]:
    return [c for compile_keyword in _KEYWORD_COMPILERS for c in compile_keyword(schema, scope, path)]
