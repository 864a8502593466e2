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


DATASET_CHECKS = {
    "unique", "referential_root", "referential", "ordering", "drift", "stats",
    "volume", "freshness",
}


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

        - pass A: ONE scan computing every row-check flag, the drift
          bucket, and all stats partials in a single
          groupBy(partition, bucket); flags/drift/stats verdicts all
          derive from that tiny day x bucket relation (Catalyst's
          ReuseExchange runs the scan + shuffle once for all branches).
          Distinct counts stay decomposable via hll_sketch_agg /
          hll_union_agg (mergeable HLL sketches, unlike
          approx_count_distinct whose final estimate can't re-merge).
        - pass B: ONE window over (group ORDER BY order) — a single
          shuffle of the key columns, no text — computing uniqueness,
          referential-root and ordering flags per row, then one
          day-level aggregate.

        Checks whose spec shape can't fuse (drift without fixed lo/hi
        bounds or with a baseline partition, unique on other than two
        columns, referential, a repeated drift/stats/volume/freshness
        check) fall back to their standalone single-pass jobs.

        refs: name -> DataFrame for cross-table checks (the
        `referential` dataset check's parent side); a parent not found
        in refs is treated as a table reference for sources.read_table
        (e.g. 'parquet:/path' or 'iceberg:cat.db.tbl')."""
        self._require_built()
        dataset = list(self.spec.get("dataset", []))
        out: list[DataFrame] = []
        fused: set[int] = set()

        # --- select what pass A / pass B can absorb -----------------------
        drift_is = [
            i
            for i, d in enumerate(dataset)
            if d["check"] == "drift"
            and d.get("lo") is not None
            and d.get("hi") is not None
            and d.get("baseline") is None
        ]
        driftA = dataset[drift_is[0]] if len(drift_is) == 1 else None
        stats_is = [i for i, d in enumerate(dataset) if d["check"] == "stats"]
        statsA = dataset[stats_is[0]] if len(stats_is) == 1 else None
        vol_is = [i for i, d in enumerate(dataset) if d["check"] == "volume"]
        volA = dataset[vol_is[0]] if len(vol_is) == 1 else None
        fresh_is = [i for i, d in enumerate(dataset) if d["check"] == "freshness"]
        freshA = dataset[fresh_is[0]] if len(fresh_is) == 1 else None

        # --- run pass A and the pass B jobs concurrently ------------------
        # (independent scans: A reads payload columns, B only key columns;
        # overlapping them fills scheduler bubbles at high core counts)
        from concurrent.futures import ThreadPoolExecutor

        flags = self._flag_cols(df)
        tasks = []
        if flags or driftA is not None or statsA is not None or volA is not None or freshA is not None:
            tasks.append(lambda: self._pass_a(df, flags, driftA, statsA, volA, freshA))
            if driftA is not None:
                fused.add(drift_is[0])
            if statsA is not None:
                fused.add(stats_is[0])
            if volA is not None:
                fused.add(vol_is[0])
            if freshA is not None:
                fused.add(fresh_is[0])
        for (g, o), idxs in self._key_groups(dataset).items():
            tasks.append(
                lambda g=g, o=o, idxs=idxs: self._pass_b(
                    df, g, o, [dataset[i] for i in idxs]
                )
            )
            fused.update(idxs)

        local_rows: list[tuple] = []
        if tasks:
            with ThreadPoolExecutor(len(tasks)) as ex:
                for rows in ex.map(lambda t: t(), tasks):
                    local_rows.extend(rows)
            out.append(
                df.sparkSession.createDataFrame(local_rows, schema=VERDICT_ROW_SCHEMA)
            )

        # --- anything not fusable keeps its standalone job ----------------
        for i, d in enumerate(dataset):
            if i not in fused:
                out.append(self._dataset_verdicts(df, d, refs))
        if not out:
            raise UninitialisedPlanError("empty check suite")
        res = out[0]
        for o in out[1:]:
            res = res.unionByName(o)
        return res

    def _pass_a(
        self,
        df: DataFrame,
        flags,
        driftA: dict | None,
        statsA: dict | None,
        volA: dict | None = None,
        freshA: dict | None = None,
    ) -> list[tuple]:
        """One heavy scan: flags + drift bucket + stats partials aggregated
        by (partition, bucket) in ONE distributed job. The day-level merge
        is collected to the driver (O(partitions) wide rows, plus an
        O(partitions x buckets) count histogram for drift) and shaped into
        verdict row tuples in plain Python — the many tiny consumer
        branches each cost zero Spark stages this way. Why not leave the
        branches distributed: Catalyst's per-branch column pruning
        specializes each consumer's partial agg, exchanges stop being
        equal, ReuseExchange never fires, and the heavy scan runs once PER
        CONSUMER (measured: 12 parquet scans for this suite). HLL sketches
        are merged distributed (hll_union_agg) BEFORE the collect, so only
        final estimates reach the driver."""
        part = self.partition_by
        buckets = int(driftA.get("buckets", 20)) if driftA is not None else 0

        # Column construction is driver-serial py4j chatter (~100s of
        # round trips); memoize by schema — compile-once / run-many
        memo_key = ("passA", df.schema.json())
        cached = self._expr_memo.get(memo_key)
        if cached is None:
            group_keys = [part]
            sel_cols = [F.col(part)]
            if driftA is not None:
                b = drift_ops.bucketize(
                    F.expr(driftA.get("value", "length(text)")),
                    float(driftA["lo"]),
                    float(driftA["hi"]),
                    buckets,
                )
                sel_cols.append(b.alias("__bucket"))
                group_keys.append("__bucket")

            sel_cols += [(~c).cast("long").alias(f"f{i}") for i, (_, c) in enumerate(flags)]

            if freshA is not None:
                sel_cols.append(F.col(freshA["ts"]).alias("__fresh_ts"))

            stats_columns: list[str] = []
            if statsA is not None:
                stats_columns = statsA.get("columns") or [c for c in df.columns if c != part]
                sel_cols += [F.col(c) for c in stats_columns]

            aggs = [F.count(F.lit(1)).alias("__n")]
            aggs += [F.sum(f"f{i}").alias(f"s{i}") for i in range(len(flags))]
            if freshA is not None:
                aggs.append(F.max("__fresh_ts").alias("__fresh_max"))
            if statsA is not None:
                aggs += stats_ops.stats_partial_aggs(df.schema, stats_columns)

            day_aggs = [F.sum("__n").alias("rows_checked")]
            day_aggs += [F.sum(f"s{i}").alias(f"s{i}") for i in range(len(flags))]
            if freshA is not None:
                day_aggs.append(F.max("__fresh_max").alias("__fresh_max"))
            if statsA is not None:
                day_aggs += stats_ops.stats_merge_aggs(df.schema, stats_columns)

            cached = (group_keys, sel_cols, aggs, day_aggs, stats_columns)
            self._expr_memo[memo_key] = cached
        group_keys, sel_cols, aggs, day_aggs, stats_columns = cached

        dayb = df.select(*sel_cols).groupBy(*group_keys).agg(*aggs)
        if driftA is not None:
            # two consumers (day-level merge + drift histogram): persist
            # the tiny (partition, bucket) relation so the scan runs once
            dayb = dayb.persist()

        wide_rows = dayb.groupBy(part).agg(*day_aggs).collect()  # heavy job

        hist_rows = None
        if driftA is not None:
            hist_rows = (
                dayb.filter(F.col("__bucket").isNotNull())
                .select(part, "__bucket", "__n")
                .collect()  # reads the persisted relation, no rescan
            )
            dayb.unpersist(blocking=False)

        # ---- driver-side shaping (tiny) ----------------------------------
        out: list[tuple] = []
        for r in wide_rows:
            day, rows_checked = r[part], r["rows_checked"]
            for i, (ce, _) in enumerate(flags):
                viol = r[f"s{i}"] or 0
                out.append((day, self._check_name(ce), viol == 0, viol, rows_checked, None))
            if statsA is not None:
                by_col: dict[str, dict[str, float | None]] = {c: {} for c in stats_columns}
                for name, val in r.asDict().items():
                    if "__" in name:
                        col, metric = name.split("__", 1)
                        if col in by_col:
                            # keep NULL-valued metric keys (as the
                            # standalone stats path's create_map does)
                            by_col[col][metric] = None if val is None else float(val)
                for c in stats_columns:
                    out.append((day, f"stats:{c}", True, 0, rows_checked, by_col[c]))
        if volA is not None:
            out.extend(
                _volume_rows(
                    {r[self.partition_by]: r["rows_checked"] for r in wide_rows}, volA
                )
            )
        if freshA is not None:
            out.extend(
                _freshness_rows(
                    {
                        r[self.partition_by]: (r["rows_checked"], r["__fresh_max"])
                        for r in wide_rows
                    },
                    freshA,
                )
            )
        if driftA is not None:
            stats = drift_ops.ks_psi_local(
                [(r[part], r["__bucket"], r["__n"]) for r in hist_rows],
                buckets,
                driftA.get("baseline"),
            )
            ks_t = driftA.get("ks_threshold")
            alpha = driftA.get("ks_alpha", 0.01)
            psi_t = driftA.get("psi_threshold", 0.2)
            min_rows = driftA.get("min_rows", 200)
            label = f"drift({driftA.get('value', 'length(text)')})"
            for day, (n_rows, n_base, ks, psi) in stats.items():
                # default KS decision rule: the two-sample asymptotic
                # critical value at ks_alpha — sample-size-aware, so a
                # 10^6-row partition isn't judged by a flat threshold
                # tuned for 10^3 rows. An explicit ks_threshold in the
                # spec overrides (the round-2 flat behavior).
                crit = (
                    ks_t
                    if ks_t is not None
                    else drift_ops.ks_critical_value(max(n_rows, 1), max(n_base, 1), alpha)
                )
                ok = bool(n_rows < min_rows or (ks <= crit and psi <= psi_t))
                out.append(
                    (day, label, ok, 0, n_rows,
                     {"ks_stat": ks, "psi": psi, "ks_crit": float(crit)})
                )
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
        duplicate marks every row whose order value repeats in its group,
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
            conds = ((lag_o == cur) | (lead_o == cur), first_o != 0, issues)
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
            F.col(part),
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
        fused: set[int] = set()
        for (g, o), idxs in self._key_groups(dataset).items():
            out.append(self._fused_key_violations(df, g, o, [dataset[i] for i in idxs]))
            fused.update(idxs)
        for i, d in enumerate(dataset):
            if i in fused:
                continue
            v = self._dataset_violations(df, d, refs)
            if v is not None:
                out.append(v)
        if not out:
            # a suite of only partition-level checks (drift/stats/volume/
            # freshness) has no per-row violations — empty, not an error
            return df.sparkSession.createDataFrame([], schema=VIOLATION_SCHEMA)
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
    def _dangling_rows(self, df: DataFrame, d: dict, refs: dict | None) -> DataFrame:
        """Rows of df whose `referential` key has no row in the parent."""
        cols = d["columns"]
        pcols = d.get("parent_columns", cols)
        parent = d.get("parent")
        if refs and parent in refs:
            parent_df = refs[parent]
        else:
            from jsonschema_validator_spark.sources import read_table

            parent_df = read_table(df.sparkSession, parent)
        parent_df = parent_df.select(*[F.col(pc).alias(c) for pc, c in zip(pcols, cols)])
        return ri_ops.orphans(df, parent_df, cols)

    def _row_count_verdicts(self, df: DataFrame, rows: DataFrame, label: str) -> DataFrame:
        """Verdict rows counting the violating rows of df per partition."""
        part = self.partition_by
        agg = rows.groupBy(part).agg(F.count(F.lit(1)).alias("violation_count"))
        totals = df.groupBy(part).agg(F.count(F.lit(1)).alias("rows_checked"))
        return (
            totals.join(agg, part, "left")
            .fillna(0, subset=["violation_count"])
            .select(
                F.col(part).alias("day"),
                F.lit(label).alias("check"),
                (F.col("violation_count") == 0).alias("pass"),
                "violation_count",
                "rows_checked",
                F.lit(None).cast("map<string,double>").alias("metrics"),
            )
        )

    def _dataset_verdicts(self, df: DataFrame, d: dict, refs: dict | None = None) -> DataFrame:
        part = self.partition_by
        kind = d["check"]

        if kind == "referential":
            rows = self._dangling_rows(df, d, refs)
            return self._row_count_verdicts(df, rows, f"referential({','.join(d['columns'])})")

        if kind == "unique":
            cols = d["columns"]
            dups = (
                uniq_ops.salted_duplicate_keys(df, cols, d.get("salt_buckets", 64))
                if d.get("salted")
                else uniq_ops.duplicate_keys(df, cols)
            )
            # attribute duplicate keys to partitions via a semi join back
            dup_rows = df.join(dups.select(*cols), cols, "left_semi")
            return self._row_count_verdicts(df, dup_rows, f"unique({','.join(cols)})")

        if kind == "drift":
            value = F.expr(d.get("value", "length(text)"))
            res = drift_ops.ks_psi(
                df, value, part, d.get("buckets", 20),
                baseline_partition=d.get("baseline"),
                lo=d.get("lo"), hi=d.get("hi"),
            )
            return self._drift_verdict_rows(res, d)

        if kind == "stats":
            wide = stats_ops.column_stats(df, d.get("columns"), part)
            return self._stats_verdict_rows(wide)

        if kind == "volume":
            counts = {
                r[part]: r["n"]
                for r in df.groupBy(part).agg(F.count(F.lit(1)).alias("n")).collect()
            }
            return df.sparkSession.createDataFrame(
                _volume_rows(counts, d), schema=VERDICT_ROW_SCHEMA
            )

        if kind == "freshness":
            rows = df.groupBy(part).agg(
                F.count(F.lit(1)).alias("n"), F.max(d["ts"]).alias("mx")
            ).collect()
            return df.sparkSession.createDataFrame(
                _freshness_rows({r[part]: (r["n"], r["mx"]) for r in rows}, d),
                schema=VERDICT_ROW_SCHEMA,
            )

        raise MalformedSchemaError("#/dataset", kind, "unknown dataset check")

    def _drift_verdict_rows(self, res: DataFrame, d: dict) -> DataFrame:
        """Shape ks_psi output (part, n_rows, n_base, ks_stat, psi) into
        verdict rows. KS threshold defaults to the sample-size-aware
        asymptotic critical value c(alpha)*sqrt((n+m)/(n*m)) computed as
        a Column from the per-partition sample sizes; an explicit
        ks_threshold in the spec overrides with the flat rule."""
        import math as _math

        ks_t = d.get("ks_threshold")
        alpha = d.get("ks_alpha", 0.01)
        psi_t = d.get("psi_threshold", 0.2)
        # abstain (pass) below min_rows: PSI/KS over B buckets are pure
        # noise when n ~ B (E[PSI] ~ B/n); metrics still reported
        min_rows = d.get("min_rows", 200)
        if ks_t is not None:
            crit = F.lit(float(ks_t))
        else:
            c = _math.sqrt(-0.5 * _math.log(alpha / 2.0))
            n = F.greatest(F.col("n_rows"), F.lit(1)).cast("double")
            m = F.greatest(F.col("n_base"), F.lit(1)).cast("double")
            crit = F.lit(c) * F.sqrt((n + m) / (n * m))
        return res.select(
            F.col("part").alias("day"),
            F.lit(f"drift({d.get('value', 'length(text)')})").alias("check"),
            (
                (F.col("n_rows") < min_rows)
                | ((F.col("ks_stat") <= crit) & (F.col("psi") <= psi_t))
            ).alias("pass"),
            F.lit(0).cast("long").alias("violation_count"),
            F.col("n_rows").alias("rows_checked"),
            F.create_map(
                F.lit("ks_stat"), F.col("ks_stat"),
                F.lit("psi"), F.col("psi"),
                F.lit("ks_crit"), crit,
            ).alias("metrics"),
        )

    def _stats_verdict_rows(self, wide: DataFrame) -> DataFrame:
        """Shape a wide per-partition stats row (col__metric columns) into
        one verdict row per column with a metrics map."""
        part = self.partition_by
        metric_cols = [c for c in wide.columns if c not in (part, "rows_checked")]
        by_col: dict[str, list[str]] = {}
        for mc in metric_cols:
            col, metric = mc.split("__", 1)
            by_col.setdefault(col, []).append(mc)
        frames = []
        for col, mcs in by_col.items():
            kv = []
            for mc in mcs:
                kv += [F.lit(mc.split("__", 1)[1]), F.col(mc)]
            frames.append(
                wide.select(
                    F.col(part).alias("day"),
                    F.lit(f"stats:{col}").alias("check"),
                    F.lit(True).alias("pass"),
                    F.lit(0).cast("long").alias("violation_count"),
                    F.col("rows_checked"),
                    F.create_map(*kv).alias("metrics"),
                )
            )
        res = frames[0]
        for fr in frames[1:]:
            res = res.unionByName(fr)
        return res

    def _dataset_violations(self, df: DataFrame, d: dict, refs: dict | None = None) -> DataFrame | None:
        part = self.partition_by
        k1, k2 = self.keys
        kind = d["check"]

        def shape(rows: DataFrame, keyword: str, message: str) -> DataFrame:
            return rows.select(
                F.col(k1).alias("conv_id"),
                F.col(k2).cast("int").alias("turn_idx"),
                F.lit(",".join(d["columns"])).alias("column"),
                F.lit(keyword).alias("keyword"),
                F.lit(message).alias("message"),
                F.lit("#").alias("path"),
                F.col(part).alias("day"),
            )

        if kind == "unique":
            rows = uniq_ops.duplicate_rows(df, d["columns"])
            return shape(rows, "unique", "duplicate key")
        if kind == "referential":
            return shape(self._dangling_rows(df, d, refs), "referential", "dangling reference")
        return None  # drift/stats are partition-level: verdict-only
