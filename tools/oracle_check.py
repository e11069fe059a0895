"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and cell values (rows sorted by all columns; floats with a
tiny tolerance for diagnostics — the real driver hashes exactly, so any
tolerance-saved mismatch is still reported as WARN).

Usage: python tools/oracle_check.py [--retired] [sf_dir] [query ...]

``--retired`` also checks the retired tier (queries dropped from the
driver gate under the coverage budget — queries/__init__.py policy —
but still oracle-paired).

The unit tests compare with this module's ``compare`` and ``duckdb_con``
(tests/conftest.py, test_retired_oracles.py, test_timezone.py).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkgraft.io import TPCH_TABLES  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            return a == b or math.isclose(float(a), float(b), rel_tol=1e-12, abs_tol=1e-12)
        except (TypeError, ValueError):
            return False
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(cells_equal(x, y) for x, y in zip(la, lb))
    return a == b


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
    s, o = canon(sdf), canon(odf)
    # dtype strictness: the driver hashes the exact materialized values, so
    # int64 10000 vs float64 10000.0 is a hash mismatch even though == says
    # equal (this exact bug shipped in round 1: DuckDB windowed SUM(BIGINT)
    # returns HUGEINT, which pandas materializes as float64)
    for c in s.columns:
        sk, ok = s[c].dtype.kind, o[c].dtype.kind
        if sk != ok and {sk, ok} <= {"i", "u", "f", "b"}:
            problems.append(
                f"dtype mismatch col {c}: spark={s[c].dtype} oracle={o[c].dtype}"
                " (driver hashes exact representation — CAST the oracle)"
            )
    n = min(len(s), len(o))
    bad = 0
    for c in s.columns:
        sc, oc = s[c].iloc[:n], o[c].iloc[:n]
        # vectorized fast path; fall back to cell-wise only on columns
        # that actually differ (object/array columns compare cell-wise)
        try:
            eq = (sc.values == oc.values) | (sc.isna().values & oc.isna().values)
            col_ok = bool(eq.all())
        except (TypeError, ValueError):
            col_ok = False
        if col_ok:
            continue
        for i in range(n):
            if not cells_equal(sc.iloc[i], oc.iloc[i]):
                if bad < 3:
                    problems.append(
                        f"row {i} col {c}: spark={sc.iloc[i]!r} oracle={oc.iloc[i]!r}"
                    )
                bad += 1
    if bad:
        problems.append(f"total mismatched cells: {bad}")
    # exact-representation check for floats (the driver hashes exactly);
    # fires when EITHER side is float so an int-vs-float pair is not skipped
    for c in s.columns:
        if (s[c].dtype.kind == "f" or o[c].dtype.kind == "f") and n:
            if not (s[c].iloc[:n].fillna(0.0).values == o[c].iloc[:n].fillna(0.0).values).all():
                problems.append(f"WARN: float col {c} differs bit-exactly (tolerance hid it)")
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--retired"]
    include_retired = "--retired" in sys.argv[1:]
    sf_dir = argv[0] if argv else DEFAULT_SF_DIR
    only = set(argv[1:])

    import __spark_entry__ as E
    from sparkgraft.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb_con(sf_dir)

    queries, oracles = dict(E.queries()), E.oracle_sql()
    if include_retired:
        from sparkgraft import queries as Q

        queries.update(Q.RETIRED_QUERIES)
        oracles.update(Q.RETIRED_ORACLES)
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {exc}")
            failures += 1
            continue
        spark_sec = time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows (spark {spark_sec:.1f}s)")
            continue
        t1 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: oracle error: {exc}")
            failures += 1
            continue
        oracle_sec = time.time() - t1
        # split timing per side (VERDICT r11 #5): a slow sweep row must
        # name its owner — a Spark plan cost and a DuckDB oracle
        # reproduction cost read very differently in adjudication
        timing = f"spark {spark_sec:.1f}s, oracle {oracle_sec:.1f}s"
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"[FAIL] {name} ({timing})")
            for p in problems:
                print(f"       {p}")
        else:
            print(f"[ok]   {name}: {len(sdf)} rows ({timing})")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
