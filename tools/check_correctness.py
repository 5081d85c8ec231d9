"""Local replica of the driver's oracle-differential check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, sorted column names, and an
order-insensitive value comparison (exact for ints/strings; exact-first
with a tiny-tolerance report for floats so engineered-determinism
regressions are visible).

Usage: python tools/check_correctness.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_connection() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    if len(spark_pdf) != len(duck_pdf):
        return f"ROWS {len(spark_pdf)} vs {len(duck_pdf)}"
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        return f"COLS {s_cols} vs {d_cols}"
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    issues = []
    for c in s.columns:
        sv, dv = s[c], d[c]
        # The driver's value hash is dtype-sensitive: an int64-vs-float64
        # split on equal values (e.g. DuckDB HUGEINT -> pandas float64)
        # still fails the official check, so flag it here too.
        s_float = pd.api.types.is_float_dtype(sv)
        d_float = pd.api.types.is_float_dtype(dv)
        if s_float != d_float:
            issues.append(
                f"{c}: dtype skew {sv.dtype} vs {dv.dtype} "
                "(driver hash would differ)"
            )
        try:
            if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
                sv = sv.astype(float)
                dv = dv.astype(float)
                exact = (sv.fillna(-1.23e300) == dv.fillna(-1.23e300)).all()
                if not exact:
                    diff = (sv - dv).abs().max()
                    issues.append(f"{c}: float mismatch max|diff|={diff:.3e}")
            else:
                if not sv.astype(str).equals(dv.astype(str)):
                    n_bad = (sv.astype(str) != dv.astype(str)).sum()
                    issues.append(f"{c}: {n_bad} differing values")
        except Exception as e:
            issues.append(f"{c}: compare error {e}")
    return "; ".join(issues) if issues else "OK"


def main() -> int:
    import __spark_entry__ as entrymod
    from aws_sql_server_to_s3_datalake_etl_migration_spark.session import (
        get_spark,
    )

    # progress bars redraw over the OK/FAIL lines in a shared terminal
    spark = get_spark(
        app_name="check-correctness",
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    con = duck_connection()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        finally:
            # consumption boundary (r15): sweep-style queries return
            # persisted frames; release them so a full catalog pass
            # keeps the CacheManager flat
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
        if name not in oracles:
            print(
                f"rows-only  {name}: {len(spark_pdf)} rows "
                f"({time.time()-t0:.1f}s)"
            )
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        verdict = compare(name, spark_pdf, duck_pdf)
        status = "OK   " if verdict == "OK" else "FAIL "
        print(
            f"{status} {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)"
            + ("" if verdict == "OK" else f" — {verdict}")
        )
        if verdict != "OK":
            failed.append(name)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
