"""Expected outputs computed apart from the engine, in DuckDB over the same parquet.

The transcripts oracle is written from the check spec's JSON-Schema meaning
(null = absent = pass), not from the engine's compiled expressions:

- row keywords: one SQL predicate per (keyword, path) of the spec;
- key checks: DuckDB window functions over (conv_id ORDER BY turn_idx);
- drift: a per-day length histogram in SQL, KS/PSI against the pooled
  histogram in numpy;
- stats: exact null rate, min, max and mean; exact distinct counts, which
  the engine's HLL estimate must match within its error bound.

The registry oracle runs each query's ``oracle_sql()`` twin and compares
rows without folding NULL into NaN.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import numpy as np

# Spark's hll_sketch_agg default lgConfigK=12: relative standard error
# 1.04/sqrt(2^12); the estimate must fall within 5 standard errors
HLL_RSE = 1.04 / math.sqrt(2**12)
HLL_SIGMAS = 5.0
KEY_COLUMNS = "conv_id,turn_idx"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    return con


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def row_count(con, path: str) -> int:
    return con.execute(f"SELECT count(*) FROM read_parquet({_sql_str(path)})").fetchone()[0]


def row_checks(spec: dict) -> list[tuple[str, str, str]]:
    """(keyword, path, SQL violation predicate) for every row keyword."""
    row = spec["row"]
    out = [("required", f"#{c}", f"{c} IS NULL") for c in row.get("required", [])]
    if "type" in row:
        out.append(("type", "#", "FALSE"))  # every row is an object
    for col, sub in row.get("properties", {}).items():
        path = f"#{col}"
        for kw, v in sub.items():
            if kw == "type":
                cond = "FALSE"  # typed parquet columns always carry the type
            elif kw == "pattern":
                cond = f"NOT regexp_matches({col}, {_sql_str(v)})"
            elif kw == "minimum":
                cond = f"{col} < {v}"
            elif kw == "maximum":
                cond = f"{col} > {v}"
            elif kw == "minLength":
                cond = f"length({col}) < {v}"
            elif kw == "maxLength":
                cond = f"length({col}) > {v}"
            elif kw == "enum":
                cond = f"{col} NOT IN ({', '.join(_sql_str(x) for x in v)})"
            else:
                raise ValueError(f"oracle has no rule for {kw!r}")
            out.append((kw, path, cond))
    for col, dep in row.get("dependencies", {}).items():
        conds = [
            f"({c} IS NOT NULL AND {c} NOT IN ({', '.join(_sql_str(x) for x in s['enum'])}))"
            for c, s in dep["properties"].items()
        ]
        out.append(("dependencies", "#", f"{col} IS NOT NULL AND ({' OR '.join(conds)})"))
    return [(kw, p, f"COALESCE({c}, FALSE)") for kw, p, c in out]


def _dataset(spec: dict, kind: str) -> dict:
    (d,) = [d for d in spec["dataset"] if d["check"] == kind]
    return d


def transcripts_expected(con, path: str, spec: dict):
    """Expected (verdicts, violations) of the spec over the parquet at path.

    verdicts: {(day, check): (pass, violation_count, rows_checked, metrics)}
    violations: Counter of (conv_id, turn_idx, column, keyword, path, day,
    message) where message is kept for the key checks only."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW t AS SELECT * FROM read_parquet({_sql_str(path)})")
    verdicts: dict = {}
    violations: Counter = Counter()
    rows = dict(con.execute("SELECT day, count(*) FROM t GROUP BY day").fetchall())

    # --- row keywords ----------------------------------------------------
    checks = row_checks(spec)
    sums = ", ".join(f"sum(({c})::INT)" for _, _, c in checks)
    for day, *counts in con.execute(f"SELECT day, {sums} FROM t GROUP BY day").fetchall():
        for (kw, p, _), n in zip(checks, counts):
            verdicts[(day, f"{kw}@{p}")] = (n == 0, n, rows[day], None)
    union = " UNION ALL ".join(
        f"SELECT conv_id, turn_idx, {_sql_str(p.lstrip('#/').split('/')[0])}, "
        f"{_sql_str(kw)}, {_sql_str(p)}, day, NULL FROM t WHERE {c}"
        for kw, p, c in checks
    )
    violations.update(con.execute(union).fetchall())

    # --- key checks --------------------------------------------------------
    monotone = _dataset(spec, "ordering").get("monotone") or []
    lag_m = "".join(f", lag({m}) OVER w AS lag_{m}" for m in monotone)
    issues = [
        "CASE WHEN lag_o IS NOT NULL AND turn_idx = lag_o THEN 'duplicate_order' END",
        "CASE WHEN turn_idx > lag_o + 1 THEN 'gap' END",
        "CASE WHEN turn_idx < lag_o THEN 'inversion' END",
        "CASE WHEN lag_o IS NULL AND turn_idx <> 0 THEN 'missing_root' END",
    ] + [f"CASE WHEN {m} < lag_{m} THEN '{m}_inversion' END" for m in monotone]
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE k AS
        SELECT conv_id, turn_idx, day,
               COALESCE(lag_o = turn_idx OR lead_o = turn_idx, FALSE) AS dup,
               min_o <> 0 AS orphan,
               NULLIF(concat_ws(',', {', '.join(issues)}), '') AS issue
        FROM (SELECT *, lag(turn_idx) OVER w AS lag_o, lead(turn_idx) OVER w AS lead_o,
                     min(turn_idx) OVER (PARTITION BY conv_id) AS min_o {lag_m}
              FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))"""
    )
    key = [
        ("unique(conv_id,turn_idx)", "dup", "unique", "'duplicate key'"),
        ("referential_root(conv_id)", "orphan", "referential", "'conversation has no root turn'"),
        ("ordering(conv_id)", "issue IS NOT NULL", "ordering", "issue"),
    ]
    for check, flag, kw, msg in key:
        for day, n in con.execute(f"SELECT day, sum(({flag})::INT) FROM k GROUP BY day").fetchall():
            verdicts[(day, check)] = (n == 0, n, rows[day], None)
        violations.update(
            con.execute(
                f"SELECT conv_id, turn_idx, '{KEY_COLUMNS}', '{kw}', '#', day, {msg} FROM k WHERE {flag}"
            ).fetchall()
        )

    # --- drift ---------------------------------------------------------
    d = _dataset(spec, "drift")
    buckets, lo, hi = int(d["buckets"]), float(d["lo"]), float(d["hi"])
    value = d.get("value", "length(text)")
    hist = con.execute(
        f"""SELECT day, least({buckets - 1}, greatest(0, floor((({value})::DOUBLE - {lo}) / {(hi - lo) / buckets})))::INT AS b,
                   count(*) FROM t WHERE ({value}) IS NOT NULL GROUP BY ALL"""
    ).fetchall()
    for day, (n, ks, psi, crit, ok) in drift_stats(hist, buckets, d).items():
        verdicts[(day, f"drift({value})")] = (ok, 0, n, {"ks_stat": ks, "psi": psi, "ks_crit": crit})

    # --- stats -------------------------------------------------------------
    types = dict(con.execute("SELECT column_name, column_type FROM (DESCRIBE t)").fetchall())
    for c in _dataset(spec, "stats")["columns"]:
        numeric = types[c] in ("INTEGER", "BIGINT", "DOUBLE", "FLOAT", "SMALLINT")
        v, pre = (c, "") if numeric else (f"length({c})", "len_")
        q = f"""SELECT day, count(*) - count({c}), count(*), count(DISTINCT {c}),
                       min({v})::DOUBLE, max({v})::DOUBLE, avg({v})::DOUBLE
                FROM t GROUP BY day"""
        for day, nulls, n, distinct, mn, mx, mean in con.execute(q).fetchall():
            verdicts[(day, f"stats:{c}")] = (
                True, 0, n,
                {"null_rate": nulls / n, "approx_distinct": float(distinct),
                 f"{pre}min": mn, f"{pre}max": mx, f"{pre}mean": mean},
            )
    return verdicts, violations


def drift_stats(hist, buckets: int, d: dict) -> dict:
    """{day: (n, ks, psi, crit, pass)} from (day, bucket, count) rows; the
    baseline is the pooled histogram of every day given."""
    days = sorted({h[0] for h in hist})
    m = np.zeros((len(days), buckets))
    for day, b, n in hist:
        m[days.index(day), b] += n
    base = m.sum(axis=0)
    n_base = base.sum()
    q = base / n_base
    alpha = d.get("ks_alpha", 0.01)
    c_alpha = math.sqrt(-0.5 * math.log(alpha / 2.0))
    out = {}
    for i, day in enumerate(days):
        n = m[i].sum()
        p = m[i] / n
        ps, qs = np.maximum(p, 1e-6), np.maximum(q, 1e-6)
        psi = float(np.sum((ps - qs) * np.log(ps / qs)))
        ks = float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))
        crit = d.get("ks_threshold") or c_alpha * math.sqrt((n + n_base) / (n * n_base))
        ok = n < d.get("min_rows", 200) or (ks <= crit and psi <= d.get("psi_threshold", 0.2))
        out[day] = (int(n), ks, psi, float(crit), bool(ok))
    return out


# --- comparison ---------------------------------------------------------------


def _close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a) or isinstance(b, float) and math.isnan(b):
        return isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b)
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)
    return a == b


def _metrics_match(check: str, got: dict | None, exp: dict | None) -> bool:
    if exp is None or got is None:
        return exp is None and got is None
    if set(got) != set(exp):
        return False
    for k, e in exp.items():
        g = got[k]
        if k == "approx_distinct" and check.startswith("stats:"):
            if abs(g - e) > max(HLL_SIGMAS * HLL_RSE * e, 1.0):
                return False
        elif not _close(g, e):
            return False
    return True


def verdict_diffs(got_rows, expected: dict) -> list[str]:
    """Differences between engine verdict rows (day, check, pass,
    violation_count, rows_checked, metrics) and the oracle's."""
    got = {
        (day, check): (ok, n, rows, dict(metrics) if metrics is not None else None)
        for day, check, ok, n, rows, metrics in got_rows
    }
    diffs = [f"missing {k}" for k in expected if k not in got]
    diffs += [f"unexpected {k}" for k in got if k not in expected]
    for k in expected.keys() & got.keys():
        (eo, en, er, em), (go, gn, gr, gm) = expected[k], got[k]
        if (eo, en, er) != (go, gn, gr) or not _metrics_match(k[1], gm, em):
            diffs.append(f"{k}: engine {(go, gn, gr, gm)} oracle {(eo, en, er, em)}")
    return diffs


def normalise_violations(rows) -> Counter:
    """Engine violation rows -> the oracle's tuple shape."""
    out: Counter = Counter()
    for conv_id, turn_idx, column, keyword, message, path, day in rows:
        keep = message if column == KEY_COLUMNS and path == "#" else None
        out[(conv_id, turn_idx, column, keyword, path, day, keep)] += 1
    return out


def violation_diffs(got: Counter, expected: Counter) -> list[str]:
    missing, extra = expected - got, got - expected
    return [f"missing {k} x{n}" for k, n in list(missing.items())[:5]] + [
        f"unexpected {k} x{n}" for k, n in list(extra.items())[:5]
    ]


# --- registry --------------------------------------------------------------


def _sort_key(row):
    return tuple(
        (0, 0) if v is None else (1, 0) if isinstance(v, float) and math.isnan(v) else (2, v)
        for v in row
    )


def registry_expected(con, sf_dir: str, sql: str):
    for name in ("events", "documents", "lineitem", "orders"):
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet({_sql_str(f'{sf_dir}/{name}.parquet')})"
        )
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return cols, sorted(cur.fetchall(), key=_sort_key)


def registry_diffs(got_cols: list[str], got_rows, want_cols: list[str], want_rows) -> list[str]:
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != {sorted(want_cols)}"]
    order = [got_cols.index(c) for c in want_cols]
    got = sorted((tuple(r[i] for i in order) for r in got_rows), key=_sort_key)
    if len(got) != len(want_rows):
        return [f"{len(got)} rows != {len(want_rows)}"]
    diffs = []
    for g, w in zip(got, want_rows):
        if len(diffs) < 5 and not all(_close(a, b) for a, b in zip(g, w)):
            diffs.append(f"engine {g} oracle {w}")
    return diffs
