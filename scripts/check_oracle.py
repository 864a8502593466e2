"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at the given sf dir,
compare row count + order-insensitive values (columns sorted by name,
floats rounded)."""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from jsonschema_validator_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            # fetchdf() renders a DuckDB NULL in a float column as NaN
            # (pandas has no NULL double), while Spark collect() gives
            # None — the replica cannot observe that distinction, so
            # fold None into the NaN token on BOTH sides rather than
            # reporting a mismatch the engines don't have.
            if v is None:
                v = "NaN"
            elif isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6) + 0.0  # fold IEEE -0.0 into +0.0
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main(sf_dir: str, only: list[str]):
    spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # a 300-query session accumulates every query's .cache()
        # blocks; without per-query cleanup the JVM eventually
        # GC-thrashes (observed: a 2.9s-in-isolation query taking 807s
        # mid-sweep). Queries never share cached state, so dropping it
        # between queries changes nothing but memory. clearCache() does
        # not reach localCheckpoint blocks: the iterative operators
        # release those themselves (operators/fixpoint).
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {type(e).__name__}: {str(e)[:300]}"))
            print(f"  {name}: SPARK ERROR {e}")
            continue
        if name not in oracles:
            print(f"  {name}: rows={len(s_rows)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {str(e)[:300]}"))
            print(f"  {name}: DUCKDB ERROR {e}")
            continue
        d_cols = list(ddf.columns)
        if sorted(s_cols) != sorted(d_cols):
            failures.append((name, f"SCHEMA MISMATCH spark={sorted(s_cols)} duck={sorted(d_cols)}"))
            print(f"  {name}: SCHEMA MISMATCH {sorted(s_cols)} vs {sorted(d_cols)}")
            continue
        d_rows = ddf.to_dict("records")
        ns, nd = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
        if len(ns) != len(nd):
            failures.append((name, f"ROWCOUNT {len(ns)} vs {len(nd)}"))
            print(f"  {name}: ROWCOUNT MISMATCH {len(ns)} vs {len(nd)}")
        elif ns != nd:
            diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
            failures.append((name, f"VALUE MISMATCH e.g. {diff}"))
            print(f"  {name}: VALUE MISMATCH e.g. {diff[:1]}")
        else:
            print(f"  {name}: OK rows={len(ns)} [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL OK' if not failures else f'{len(failures)} FAILURES'}")
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else []
    raise SystemExit(main(sf, only))
