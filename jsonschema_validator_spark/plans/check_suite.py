"""Table-level CheckSuite: the engine's compiled check plan.

The Spark analog of the reference's compiled Schema
(/root/reference/src/types/schema.rs:13-19): a check-suite *spec* is data
(a dict — "schemas are data", SURVEY.md §1.2), compiled at driver time
into Column expressions, frozen by build() (the ScopeBuilder::build
initialisation guard, scope_builder.rs:56-66 / schema.rs:71-73), then
applied to DataFrames with the reference's dual API (schema.rs:67-78):

- ``verdicts(df)``   — per-partition pass/fail + counts + metrics, the
  ``is_valid`` fast path: one fused select computes every row check in a
  single scan, one groupBy(partition) aggregates them (SURVEY.md §4.1 —
  one job for ALL checks, not one job per check).
- ``violations(df)`` — per-row violation rows (conv_id, turn_idx, column,
  keyword, message, path, day), the ``validation_errors`` path: the same
  fused flags feed an array-of-structs -> explode.

Spec format::

    {
      "name": "transcripts_v1",
      "draft": "draft7",
      "partition_by": "day",
      "keys": ["conv_id", "turn_idx"],
      "row": { <JSON-Schema applied to each row-as-object> },
      "dataset": [
        {"check": "unique", "columns": ["conv_id", "turn_idx"]},
        {"check": "referential_root", "group": "conv_id", "order": "turn_idx"},
        {"check": "ordering", "group": "conv_id", "order": "turn_idx",
         "monotone": ["ts"]},
        {"check": "drift", "value": "length(text)", "buckets": 20,
         "psi_threshold": 0.2, "ks_threshold": 0.1},
        {"check": "stats", "columns": [...]}
      ]
    }
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_validator_spark.errors import (
    MalformedSchemaError,
    UninitialisedPlanError,
)
from jsonschema_validator_spark.functions.accessors import RowAccessor
from jsonschema_validator_spark.functions.keywords import (
    CheckExpr,
    Scope,
    compile_schema,
)
from jsonschema_validator_spark.operators import drift as drift_ops
from jsonschema_validator_spark.operators import integrity as ri_ops
from jsonschema_validator_spark.operators import stats as stats_ops
from jsonschema_validator_spark.operators import uniqueness as uniq_ops
from jsonschema_validator_spark.sources.tables import local_frame

VIOLATION_SCHEMA = "conv_id string, turn_idx int, column string, keyword string, message string, path string, day string"
VERDICT_ROW_SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType()),
        T.StructField("check", T.StringType()),
        T.StructField("pass", T.BooleanType()),
        T.StructField("violation_count", T.LongType()),
        T.StructField("rows_checked", T.LongType()),
        T.StructField("metrics", T.MapType(T.StringType(), T.DoubleType())),
    ]
)
def _volume_rows(counts: dict, d: dict) -> list[tuple]:
    """Volume verdict rows from {partition: n_rows}: explicit
    min_rows/max_rows bounds and/or a tolerance band around the MEDIAN
    partition count (the cross-partition anomaly test — a day that lost
    half its data fails even when no absolute bound is configured)."""
    import statistics as _st

    med = float(_st.median(counts.values())) if counts else 0.0
    lo = d.get("min_rows")
    hi = d.get("max_rows")
    tol = d.get("tolerance")
    out = []
    for day, n in counts.items():
        ok = True
        if lo is not None and n < lo:
            ok = False
        if hi is not None and n > hi:
            ok = False
        if tol is not None and med > 0 and abs(n - med) > tol * med:
            ok = False
        out.append(
            (
                day,
                "volume",
                ok,
                0 if ok else int(n),
                int(n),
                {"n_rows": float(n), "median": med},
            )
        )
    return out


def _freshness_rows(per_part: dict, d: dict) -> list[tuple]:
    """Freshness verdict rows from {partition: (n_rows, max_ts)}: a
    partition passes iff its newest event is within max_age_hours of the
    spec's as_of instant (explicit as_of keeps runs deterministic —
    SURVEY.md §7 'no wall-clock in the plan')."""
    from datetime import datetime as _dt

    as_of = d["as_of"]
    if isinstance(as_of, str):
        as_of = _dt.fromisoformat(as_of)
    max_age = float(d["max_age_hours"])
    out = []
    for day, (n, mx) in per_part.items():
        if mx is None:
            age = None
            ok = False
        else:
            age = (as_of - mx).total_seconds() / 3600.0
            ok = age <= max_age
        out.append(
            (
                day,
                f"freshness({d['ts']})",
                ok,
                0 if ok else int(n),
                int(n),
                {"age_hours": age, "max_age_hours": max_age},
            )
        )
    return out


# partition-level checks: all run in verdict pass A and have no per-row
# violations
PARTITION_CHECKS = {"drift", "stats", "volume", "freshness"}
DATASET_CHECKS = {"unique", "referential_root", "referential", "ordering", *PARTITION_CHECKS}


def _standalone(d: dict) -> bool:
    """Key checks neither pass can absorb, run as their own row-count
    jobs: referential (a parent-table join) and unique on other than two
    columns."""
    return d["check"] == "referential" or (d["check"] == "unique" and len(d["columns"]) != 2)


def _drift_value(d: dict) -> str:
    return d.get("value", "length(text)")


def _drift_rows(hist: list[tuple], buckets: int, d: dict) -> list[tuple]:
    """Drift verdict rows from a collected (partition, bucket, n)
    histogram of non-NULL values. The KS decision rule defaults to the
    two-sample asymptotic critical value at ks_alpha — sample-size-aware,
    so a 10^6-row partition isn't judged by a flat threshold tuned for
    10^3 rows; an explicit ks_threshold overrides. Below min_rows the
    check abstains (passes): PSI/KS over B buckets are noise when n ~ B
    (E[PSI] ~ B/n); metrics are still reported."""
    ks_t = d.get("ks_threshold")
    alpha = d.get("ks_alpha", 0.01)
    psi_t = d.get("psi_threshold", 0.2)
    min_rows = d.get("min_rows", 200)
    label = f"drift({_drift_value(d)})"
    out = []
    # partitions arrive in their string form, so the baseline is compared
    # in that form too
    baseline = d.get("baseline")
    stats = drift_ops.ks_psi_local(hist, buckets, None if baseline is None else str(baseline))
    for day, (n_rows, n_base, ks, psi) in stats.items():
        crit = (
            ks_t
            if ks_t is not None
            else drift_ops.ks_critical_value(max(n_rows, 1), max(n_base, 1), alpha)
        )
        ok = bool(n_rows < min_rows or (ks <= crit and psi <= psi_t))
        out.append((day, label, ok, 0, n_rows, {"ks_stat": ks, "psi": psi, "ks_crit": float(crit)}))
    return out


def _column_of(path: str) -> str:
    seg = path.lstrip("#/")
    return seg.split("/")[0] if seg else ""


class CheckSuite:
    def __init__(self, spec: dict, spec_path: str | None = None):
        """spec_path (optional): filesystem location of the spec document.
        When given, the row schema may ``$ref`` sibling spec files —
        resolution uses a file loader jailed to the spec's directory
        (the shared-spec-suite loader, scope_builder.rs:33-41 analog)."""
        self.spec = spec
        self.spec_path = spec_path
        self.name = spec.get("name", "check_suite")
        self.draft = spec.get("draft", "draft7")
        self.partition_by = spec.get("partition_by", "day")
        self.keys = spec.get("keys", ["conv_id", "turn_idx"])
        self._checks: list[CheckExpr] | None = None
        self._flag_memo: dict[str, list] = {}
        self._expr_memo: dict[tuple, object] = {}
        for d in spec.get("dataset", []):
            if d.get("check") not in DATASET_CHECKS:
                raise MalformedSchemaError("#/dataset", str(d.get("check")), "unknown dataset check")
            if d.get("check") == "freshness":
                for field in ("ts", "as_of", "max_age_hours"):
                    if d.get(field) is None:
                        raise MalformedSchemaError(
                            "#/dataset", "freshness", f"requires '{field}'"
                        )
            if d.get("check") == "referential":
                # compile-time shape errors, never runtime (SURVEY §1.3.5)
                if not d.get("columns"):
                    raise MalformedSchemaError("#/dataset", "referential", "requires 'columns'")
                if not d.get("parent"):
                    raise MalformedSchemaError("#/dataset", "referential", "requires 'parent'")

    # -- lineage ---------------------------------------------------------
    @property
    def spec_hash(self) -> str:
        """Deterministic content hash of the spec — the anonymous-schema
        key analog (contrast uuid4 at scope_builder.rs:17-19)."""
        blob = json.dumps(self.spec, sort_keys=True, separators=(",", ":"))
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    # -- compile ----------------------------------------------------------
    def build(self) -> "CheckSuite":
        """Compile the row schema into CheckExprs and freeze the plan.
        Malformed specs raise HERE, never at runtime (SURVEY.md §1.3.5)."""
        row_schema = dict(self.spec.get("row", {}))
        base_uri, loader = "", None
        if self.spec_path is not None:
            from pathlib import Path

            from ..functions.loaders import file_loader

            p = Path(self.spec_path).resolve()
            base_uri, loader = p.as_uri(), file_loader(p.parent)
        checks: list[CheckExpr] = []
        # opt-in format assertion (JSON Schema spec: format is an
        # annotation unless the suite asserts it); part of the spec dict,
        # so it participates in spec_hash lineage invalidation
        fmts = bool(self.spec.get("validate_formats", False))
        # expand root-level `required` into one check per column so each
        # missing column attributes its own violation row
        for name in row_schema.pop("required", []) or []:
            scope = Scope(draft=self.draft)
            scope.root = {"required": [name]}
            for ce in compile_schema(scope.root, scope, path=f"#/{name}"):
                checks.append(ce)
        scope = Scope(draft=self.draft, base_uri=base_uri, loader=loader)
        scope.validate_formats = fmts
        scope.root = row_schema
        checks.extend(compile_schema(row_schema, scope))
        self._checks = checks
        return self

    def _require_built(self):
        # uninitialised-plan guard (schema.rs:71-73)
        if self._checks is None:
            raise UninitialisedPlanError(f"CheckSuite {self.name!r}: call build() first")

    # -- fused row-check flags -------------------------------------------
    def _flag_cols(self, df: DataFrame) -> list[tuple[CheckExpr, object]]:
        """Compiled flag Columns, memoized by input schema: Column
        expressions are unresolved and depend only on the schema, so the
        (driver-serial, py4j-heavy) construction happens once per schema —
        the reference's compile-once / validate-many contract
        (/root/reference/src/types/scope_builder.rs:43-54)."""
        key = df.schema.json()
        cached = self._flag_memo.get(key)
        if cached is None:
            acc = RowAccessor(df.schema)
            cached = [(ce, ce.gated(acc)) for ce in self._checks]
            self._flag_memo[key] = cached
        return cached

    @staticmethod
    def _check_name(ce: CheckExpr) -> str:
        return f"{ce.keyword}@{ce.path}"

    # -- dual API ----------------------------------------------------------
    def verdicts(self, df: DataFrame, refs: dict | None = None) -> DataFrame:
        """Per-partition verdict rows: (day, check, pass, violation_count,
        rows_checked, metrics).

        The whole suite runs as TWO passes over the input (SURVEY.md
        §4.1/§4.2) —

        - pass A: ONE scan and ONE groupBy(partition) computing every
          row-check flag count, one count per bucket of every drift
          check, every stats partial and the newest value of every
          freshness column; flag/drift/stats/volume/freshness verdicts
          all derive from the collected O(partitions) wide rows. Drift
          checks without lo/hi bounds get them from one min/max job
          first. Distinct counts use mergeable HLL sketches
          (hll_sketch_agg / hll_union_agg).
        - pass B: ONE window over (group ORDER BY order) — a single
          shuffle of the key columns, no text — computing uniqueness,
          referential-root and ordering flags per row, then one
          day-level aggregate.

        Only `referential` (a parent-table join) and `unique` on other
        than two columns run their own row-count jobs.

        The pass A and pass B rows come back as one local relation
        (``sources.tables.local_frame``): a LocalTableScan, so collecting
        them runs no job and starts no Python worker. ``day`` is the
        partition value cast to string (a DATE reads 'yyyy-MM-dd').

        refs: name -> DataFrame for cross-table checks (the
        `referential` dataset check's parent side); a parent not found
        in refs is treated as a table reference for sources.read_table
        (e.g. 'parquet:/path' or 'iceberg:cat.db.tbl')."""
        self._require_built()
        dataset = list(self.spec.get("dataset", []))
        partition_level = [d for d in dataset if d["check"] in PARTITION_CHECKS]

        # --- run pass A and the pass B jobs concurrently ------------------
        # (independent scans: A reads payload columns, B only key columns;
        # overlapping them fills scheduler bubbles at high core counts)
        from concurrent.futures import ThreadPoolExecutor

        flags = self._flag_cols(df)
        tasks = []
        if flags or partition_level:
            tasks.append(lambda: self._pass_a(df, flags, partition_level))
        for (g, o), idxs in self._key_groups(dataset).items():
            tasks.append(
                lambda g=g, o=o, idxs=idxs: self._pass_b(
                    df, g, o, [dataset[i] for i in idxs]
                )
            )

        out: list[DataFrame] = []
        if tasks:
            local_rows: list[tuple] = []
            with ThreadPoolExecutor(len(tasks)) as ex:
                for rows in ex.map(lambda t: t(), tasks):
                    local_rows.extend(rows)
            out.append(local_frame(df.sparkSession, local_rows, VERDICT_ROW_SCHEMA))
        out += [self._dataset_verdicts(df, d, refs) for d in dataset if _standalone(d)]
        if not out:
            raise UninitialisedPlanError("empty check suite")
        res = out[0]
        for o in out[1:]:
            res = res.unionByName(o)
        return res

    def _pass_a(self, df: DataFrame, flags, checks: list[dict]) -> list[tuple]:
        """One heavy scan: flags, per-bucket drift counts, freshness maxima
        and stats partials aggregated by partition in ONE distributed job.
        The O(partitions) wide rows are collected to the driver and shaped
        into verdict row tuples in plain Python — the many tiny consumer
        branches each cost zero Spark stages this way. Why not leave the
        branches distributed: Catalyst's per-branch column pruning
        specializes each consumer's partial agg, exchanges stop being
        equal, ReuseExchange never fires, and the heavy scan runs once PER
        CONSUMER (measured: 12 parquet scans for this suite). HLL sketches
        are merged distributed (hll_union_agg) BEFORE the collect, so only
        final estimates reach the driver.

        checks: the suite's drift/stats/volume/freshness checks."""
        part = self.partition_by
        drifts = [d for d in checks if d["check"] == "drift"]
        bounds = drift_ops.value_bounds(
            df, [(F.expr(_drift_value(d)), d.get("lo"), d.get("hi")) for d in drifts]
        )
        grids = [(int(d.get("buckets", 20)), lo, hi) for d, (lo, hi) in zip(drifts, bounds)]
        stats_of = {
            id(d): d.get("columns") or [c for c in df.columns if c != part]
            for d in checks
            if d["check"] == "stats"
        }
        stats_columns = list(dict.fromkeys(c for cols in stats_of.values() for c in cols))
        ts_columns = list(dict.fromkeys(d["ts"] for d in checks if d["check"] == "freshness"))

        # Column construction is driver-serial py4j chatter (~100s of
        # round trips); memoize by schema — compile-once / run-many. The
        # bucket columns depend on the drift bounds, which may come from
        # the data, so they are built per call and never memoized.
        memo_key = ("passA", df.schema.json())
        cached = self._expr_memo.get(memo_key)
        if cached is None:
            sel_cols = [F.col(part).cast("string").alias(part)]
            sel_cols += [(~c).cast("long").alias(f"f{i}") for i, (_, c) in enumerate(flags)]
            sel_cols += [F.col(c).alias(f"__ts{j}") for j, c in enumerate(ts_columns)]
            sel_cols += [F.col(c) for c in stats_columns]

            # partials by partition, then their merge: the merge runs on
            # the same hash partitioning, so it adds no shuffle
            aggs = [F.count(F.lit(1)).alias("__n")]
            day_aggs = [F.sum("__n").alias("rows_checked")]
            sums = [f"s{i}" for i in range(len(flags))]
            aggs += [F.sum(f"f{i}").alias(s) for i, s in enumerate(sums)]
            for k, (b, _, _) in enumerate(grids):
                hk = [f"__h{k}_{j}" for j in range(b)]
                aggs += [F.count_if(F.col(f"__b{k}") == j).alias(h) for j, h in enumerate(hk)]
                sums += hk
            day_aggs += [F.sum(s).alias(s) for s in sums]
            aggs += [F.max(f"__ts{j}").alias(f"__ts{j}") for j in range(len(ts_columns))]
            day_aggs += [F.max(f"__ts{j}").alias(f"__ts{j}") for j in range(len(ts_columns))]
            aggs += stats_ops.stats_partial_aggs(df.schema, stats_columns)
            day_aggs += stats_ops.stats_merge_aggs(df.schema, stats_columns)

            cached = (sel_cols, aggs, day_aggs)
            self._expr_memo[memo_key] = cached
        sel_cols, aggs, day_aggs = cached
        bucket_cols = [
            drift_ops.bucketize(F.expr(_drift_value(d)), lo, hi, b).alias(f"__b{k}")
            for k, (d, (b, lo, hi)) in enumerate(zip(drifts, grids))
        ]

        wide_rows = (
            df.select(*sel_cols, *bucket_cols).groupBy(part).agg(*aggs).groupBy(part).agg(*day_aggs).collect()
        )

        # ---- driver-side shaping (tiny) ----------------------------------
        out: list[tuple] = []
        metrics: dict = {}  # (day, stats column) -> metrics map
        for r in wide_rows:
            day, rows_checked = r[part], r["rows_checked"]
            for i, (ce, _) in enumerate(flags):
                viol = r[f"s{i}"] or 0
                out.append((day, self._check_name(ce), viol == 0, viol, rows_checked, None))
            for name, val in r.asDict().items():
                col, _, metric = name.partition("__")
                if metric and col in stats_columns:
                    # keep NULL-valued metric keys
                    metrics.setdefault((day, col), {})[metric] = (
                        None if val is None else float(val)
                    )
        counts = {r[part]: r["rows_checked"] for r in wide_rows}
        k = 0
        for d in checks:
            kind = d["check"]
            if kind == "stats":
                out += [
                    (day, f"stats:{c}", True, 0, n, metrics[(day, c)])
                    for day, n in counts.items()
                    for c in stats_of[id(d)]
                ]
            elif kind == "volume":
                out += _volume_rows(counts, d)
            elif kind == "freshness":
                j = ts_columns.index(d["ts"])
                out += _freshness_rows(
                    {r[part]: (r["rows_checked"], r[f"__ts{j}"]) for r in wide_rows}, d
                )
            else:
                hist = [
                    (r[part], j, r[f"__h{k}_{j}"])
                    for r in wide_rows
                    for j in range(grids[k][0])
                    if r[f"__h{k}_{j}"]
                ]
                out += _drift_rows(hist, grids[k][0], d)
                k += 1
        return out

    @staticmethod
    def _key_groups(dataset: list[dict]) -> dict[tuple[str, str], list[int]]:
        """Indices of the key checks sharing each (group, order) window:
        unique on two columns, referential_root and ordering."""
        groups: dict[tuple[str, str], list[int]] = {}
        for i, d in enumerate(dataset):
            if d["check"] == "unique":
                cols = d["columns"]
                if len(cols) != 2:
                    continue
                key = (cols[0], cols[1])
            elif d["check"] in ("referential_root", "ordering"):
                key = (d.get("group", "conv_id"), d.get("order", "turn_idx"))
            else:
                continue
            groups.setdefault(key, []).append(i)
        return groups

    @staticmethod
    def _monotone(checks: list[dict]) -> list[str]:
        """The ordering check's monotone companion columns, if any."""
        monotone: list[str] = []
        for d in checks:
            if d["check"] == "ordering":
                monotone = d.get("monotone") or []
        return monotone

    def _key_window(self, g: str, o: str, monotone: list[str]) -> tuple:
        """The per-row key-check conditions over (g ORDER BY o), built once
        per (g, o, monotone) and shared by verdict pass B (counts) and the
        violations pass (structs): (duplicate, rootless, issues) where
        duplicate marks every row whose order value repeats in its group
        (a NULL group or order value is never a duplicate),
        rootless marks every row of a group whose smallest order value is
        not 0, and issues is the ordered list of (ordering issue name,
        condition)."""
        from pyspark.sql import Window

        memo_key = ("keyWindow", g, o, tuple(monotone))
        conds = self._expr_memo.get(memo_key)
        if conds is None:
            w = Window.partitionBy(g).orderBy(o)
            cur = F.col(o)
            lag_o = F.lag(o).over(w)
            lead_o = F.lead(o).over(w)
            first_o = F.first(o, ignorenulls=True).over(w)  # == min: asc order
            issues = [
                ("duplicate_order", lag_o.isNotNull() & (cur == lag_o)),
                ("gap", lag_o.isNotNull() & (cur > lag_o + 1)),
                ("inversion", lag_o.isNotNull() & (cur < lag_o)),
                ("missing_root", lag_o.isNull() & (cur != 0)),
            ]
            for c in monotone:
                lag_c = F.lag(c).over(w)
                issues.append((f"{c}_inversion", lag_c.isNotNull() & (F.col(c) < lag_c)))
            # certain keys: a row with a NULL key column duplicates nothing
            dup = F.col(g).isNotNull() & ((lag_o == cur) | (lead_o == cur))
            conds = (dup, first_o != 0, issues)
            self._expr_memo[memo_key] = conds
        return conds

    def _pass_b(self, df: DataFrame, g: str, o: str, checks: list[dict]) -> list[tuple]:
        """One window over (group ORDER BY order) — uniqueness, root
        presence and ordering flags per row from a single sort-based
        shuffle of the key columns only (no payload columns move); the
        O(partitions) day-level aggregate is collected and shaped on the
        driver."""
        part = self.partition_by
        monotone = self._monotone(checks)
        dup, rootless, issues = self._key_window(g, o, monotone)
        ordering_any = issues[0][1]
        for _, cond in issues[1:]:
            ordering_any = ordering_any | cond

        perrow = df.select(part, g, o, *monotone).select(
            F.col(part).cast("string").alias(part),
            dup.cast("long").alias("__dup"),
            ordering_any.cast("long").alias("__ord"),
            rootless.cast("long").alias("__root"),
        )
        day2 = perrow.groupBy(part).agg(
            F.count(F.lit(1)).alias("rows_checked"),
            F.coalesce(F.sum("__dup"), F.lit(0)).alias("__dup"),
            F.coalesce(F.sum("__ord"), F.lit(0)).alias("__ord"),
            F.coalesce(F.sum("__root"), F.lit(0)).alias("__root"),
        ).collect()

        out: list[tuple] = []
        for d in checks:
            if d["check"] == "unique":
                label, flag = f"unique({','.join(d['columns'])})", "__dup"
            elif d["check"] == "referential_root":
                label, flag = f"referential_root({g})", "__root"
            else:
                label, flag = f"ordering({g})", "__ord"
            for r in day2:
                viol = r[flag]
                out.append((r[part], label, viol == 0, viol, r["rows_checked"], None))
        return out

    def violations(
        self,
        df: DataFrame,
        sample_per_check: int | None = None,
        refs: dict | None = None,
    ) -> DataFrame:
        """Per-row violation rows — ValidationError analog
        (validation_error.rs:5-10): (conv_id, turn_idx, column, keyword,
        message, path, day).

        Row flags are one fused select. The unique/referential-root/
        ordering attribution is ONE window pass over (group ORDER BY
        order) — the same single key-shuffle and the same conditions as
        the verdict pass B, emitting violation structs instead of counts.
        Key checks that can't fuse (unique on other than two columns,
        referential) run their standalone jobs.

        sample_per_check caps the output at N example rows per
        (day, check-keyword) via a deterministic hash ranking — at
        10^12 turns a pathological input (e.g. a wrong enum list) can
        make the violations relation as large as the table; verdicts
        carry the exact counts, so violation rows are evidence, not the
        tally (the reference's lazy-error-iterator intent,
        /root/reference/README.md:26)."""
        self._require_built()
        out: list[DataFrame] = []

        flags = self._flag_cols(df)
        if flags:
            structs = [
                F.when(
                    ~c,
                    F.struct(
                        F.lit(_column_of(ce.path)).alias("column"),
                        F.lit(ce.keyword).alias("keyword"),
                        F.lit(ce.message).alias("message"),
                        F.lit(ce.path).alias("path"),
                    ),
                )
                for ce, c in flags
            ]
            out.append(self._explode_structs(df, structs))

        dataset = list(self.spec.get("dataset", []))
        for (g, o), idxs in self._key_groups(dataset).items():
            out.append(self._fused_key_violations(df, g, o, [dataset[i] for i in idxs]))
        out += [self._dataset_violations(df, d, refs) for d in dataset if _standalone(d)]
        if not out:
            # a suite of only partition-level checks (drift/stats/volume/
            # freshness) has no per-row violations — empty, not an error
            return local_frame(df.sparkSession, [], VIOLATION_SCHEMA)
        res = out[0]
        for o in out[1:]:
            res = res.unionByName(o)
        if sample_per_check is not None:
            from pyspark.sql import Window

            w = Window.partitionBy("day", "keyword").orderBy(
                F.xxhash64("conv_id", "turn_idx", "path"), F.col("conv_id")
            )
            res = (
                res.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= sample_per_check)
                .drop("__rn")
            )
        return res

    def _explode_structs(self, df: DataFrame, structs: list) -> DataFrame:
        """One violation row per non-NULL (column, keyword, message, path)
        struct of each input row."""
        k1, k2 = self.keys
        return (
            df.select(
                F.col(k1).alias("conv_id"),
                F.col(k2).cast("int").alias("turn_idx"),
                F.col(self.partition_by).alias("day"),
                F.array_compact(F.array(*structs)).alias("v"),
            )
            .filter(F.size("v") > 0)
            .select("conv_id", "turn_idx", F.explode("v").alias("e"), "day")
            .select(
                "conv_id",
                "turn_idx",
                F.col("e.column").alias("column"),
                F.col("e.keyword").alias("keyword"),
                F.col("e.message").alias("message"),
                F.col("e.path").alias("path"),
                "day",
            )
        )

    def _fused_key_violations(
        self, df: DataFrame, g: str, o: str, checks: list[dict]
    ) -> DataFrame:
        """One window over (group ORDER BY order) emitting the violation
        structs for every fused key check, from the same conditions as
        verdict pass B (so violation and verdict counts agree)."""
        part = self.partition_by
        k1, k2 = self.keys
        monotone = self._monotone(checks)
        dup, rootless, issues = self._key_window(g, o, monotone)

        def struct_of(cols: str, keyword: str, message) -> object:
            return F.struct(
                F.lit(cols).alias("column"),
                F.lit(keyword).alias("keyword"),
                (F.lit(message) if isinstance(message, str) else message).alias("message"),
                F.lit("#").alias("path"),
            )

        structs = []
        for d in checks:
            if d["check"] == "unique":
                structs.append(
                    F.when(dup, struct_of(",".join(d["columns"]), "unique", "duplicate key"))
                )
            elif d["check"] == "referential_root":
                structs.append(
                    F.when(
                        rootless,
                        struct_of(
                            ",".join(d.get("columns", [k1, k2])),
                            "referential",
                            "conversation has no root turn",
                        ),
                    )
                )
            else:
                named = [F.when(cond, F.lit(name)) for name, cond in issues]
                issue = F.array_join(F.array_compact(F.array(*named)), ",")
                structs.append(
                    F.when(
                        F.size(F.array_compact(F.array(*named))) > 0,
                        struct_of(",".join(d.get("columns", [k1, k2])), "ordering", issue),
                    )
                )

        needed = list(dict.fromkeys([part, g, o, *monotone, k1, k2]))
        return self._explode_structs(df.select(*needed), structs)

    def run(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        return self.verdicts(df), self.violations(df)

    # -- dataset checks -----------------------------------------------------
    def _standalone_rows(self, df: DataFrame, d: dict, refs: dict | None) -> DataFrame:
        """The violating rows of df for a standalone (``_standalone``)
        check, read by its verdict and its violations alike: rows whose
        `referential` key has no row in the parent, or rows whose
        `unique` key occurs more than once. A key with a NULL column is
        never a duplicate (SQL UNIQUE: only a certain key can repeat)."""
        cols = d["columns"]
        if d["check"] == "unique":
            # attribute duplicate keys to rows via a semi join back
            return df.join(uniq_ops.duplicate_keys(df, cols).select(*cols), cols, "left_semi")
        pcols = d.get("parent_columns", cols)
        parent = d.get("parent")
        if refs and parent in refs:
            parent_df = refs[parent]
        else:
            from jsonschema_validator_spark.sources import read_table

            parent_df = read_table(df.sparkSession, parent)
        parent_df = parent_df.select(*[F.col(pc).alias(c) for pc, c in zip(pcols, cols)])
        return ri_ops.orphans(df, parent_df, cols)

    def _dataset_verdicts(self, df: DataFrame, d: dict, refs: dict | None = None) -> DataFrame:
        """Verdict rows counting a standalone check's violating rows of df
        per partition."""
        part = self.partition_by
        rows = self._standalone_rows(df, d, refs)
        agg = rows.groupBy(part).agg(F.count(F.lit(1)).alias("violation_count"))
        totals = df.groupBy(part).agg(F.count(F.lit(1)).alias("rows_checked"))
        return (
            totals.join(agg, part, "left")
            .fillna(0, subset=["violation_count"])
            .select(
                F.col(part).cast("string").alias("day"),
                F.lit(f"{d['check']}({','.join(d['columns'])})").alias("check"),
                (F.col("violation_count") == 0).alias("pass"),
                "violation_count",
                "rows_checked",
                F.lit(None).cast("map<string,double>").alias("metrics"),
            )
        )

    def _dataset_violations(self, df: DataFrame, d: dict, refs: dict | None = None) -> DataFrame:
        k1, k2 = self.keys
        keyword, message = (
            ("unique", "duplicate key") if d["check"] == "unique" else ("referential", "dangling reference")
        )
        return self._standalone_rows(df, d, refs).select(
            F.col(k1).alias("conv_id"),
            F.col(k2).cast("int").alias("turn_idx"),
            F.lit(",".join(d["columns"])).alias("column"),
            F.lit(keyword).alias("keyword"),
            F.lit(message).alias("message"),
            F.lit("#").alias("path"),
            F.col(self.partition_by).alias("day"),
        )
