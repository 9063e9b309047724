"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares
against ``oracle_sql()`` via DuckDB: row count, sorted column names,
and order-insensitive exact value comparison. Usage:

    python tools/check_oracle.py [--sf DIR] [--queries] [query ...]

Unknown flag-like arguments REFUSE (r13: a ``--sf path`` invocation
used to land in the query-name set, silently selecting ZERO queries
and reporting a vacuous "0 failures" — a foot-gun, not a sweep).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("NEKTON_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype("string")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> tuple[bool, str]:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False, f"schema: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"rows: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if pd.api.types.is_float_dtype(s[c]):
            if not np.array_equal(sv, ov, equal_nan=True):
                bad = ~((sv == ov) | (np.isnan(sv) & np.isnan(ov)))
                diff = np.nanmax(np.abs(sv[bad] - ov[bad])) if bad.any() else 0
                return False, f"col {c}: {bad.sum()} mismatches, max_abs_diff={diff:.3e}"
        else:
            sn = pd.isna(s[c]).to_numpy()
            on = pd.isna(o[c]).to_numpy()
            eq = (sn & on) | ((~sn) & (~on) & (s[c].fillna("").to_numpy() == o[c].fillna("").to_numpy()))
            if not eq.all():
                i = int(np.argmin(eq))
                return False, f"col {c}: {(~eq).sum()} mismatches, first: {sv[i]!r} vs {ov[i]!r}"
    return True, "ok"


def main():
    global SF_DIR
    import __spark_entry__ as entrymod

    from nekton_spark.session import get_spark

    only = set()
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            if i + 1 >= len(args):
                print("--sf requires a directory argument")
                return 2
            SF_DIR = args[i + 1]
            i += 2
            continue
        if a == "--queries":
            i += 1
            continue
        if a.startswith("-"):
            print(f"unknown flag {a!r}: refusing (a flag in the "
                  "query-name set would silently select zero queries)")
            return 2
        only.add(a)
        i += 1
    spark = get_spark("oracle-check")

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            c.sql(
                f"CREATE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        return c

    con = fresh_con()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spark_pdf)} rows (no oracle — rows-only check) [{time.time()-t0:.1f}s]")
            continue
        try:
            oracle_pdf = con.sql(oracles[name]).df()
        except (duckdb.OutOfMemoryException, duckdb.InvalidInputException):
            # one in-memory connection accumulates buffer-pool pressure
            # across a 182-query sweep (r13: 6 late-sweep oracle-side
            # OOMs; engine results were fine). A fresh connection is a
            # clean retry of the UNCHANGED oracle SQL, not a pass —
            # same policy as tools/fuzz_oracle.py.
            try:
                con.close()
            except Exception:
                pass
            con = fresh_con()
            try:
                oracle_pdf = con.sql(oracles[name]).df()
            except Exception as e:
                failures.append(name)
                print(f"FAIL  {name}: duckdb error (after fresh-connection retry): {type(e).__name__}: {str(e)[:200]}")
                continue
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:200]}")
            continue
        ok, msg = compare(spark_pdf, oracle_pdf)
        if ok and len(spark_pdf) == 0:
            # a 0-row "match" validates nothing (advisor: q05 with a
            # nonexistent region passed vacuously) — treat as failure
            ok, msg = False, "vacuous: both sides returned 0 rows"
        status = "PASS" if ok else "FAIL"
        if not ok:
            failures.append(name)
        print(f"{status}  {name}: {len(spark_pdf)} rows vs {len(oracle_pdf)}; {msg} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
