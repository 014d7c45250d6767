"""Local mirror of the driver's correctness gate: run each catalog query in
Spark and its oracle SQL in DuckDB on the same parquet tables; compare row
count, column names, and exact values (rows sorted, columns sorted by name).

Usage: python tools/verify_local.py [--json OUT] [sf_dir] [query ...]

--json OUT additionally writes a machine-readable record (per-query
status + which catalog entries sit past the external gate's entry cap) —
committed per round as VERIFY_LOCAL_r{N}.json so every catalog entry has
checked-in correctness evidence even when the gate cap drops its tail.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb
import pandas as pd

from id3c_spark.plans.queries import all_oracles, all_queries
from id3c_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b or (pd.isna(a) and pd.isna(b))


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    s = normalize(spark_pdf)
    d = normalize(duck_pdf)
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c], d[c])):
            if not values_equal(x, y):
                problems.append(f"value mismatch col={c} row={i}: spark={x!r} duck={y!r}")
                if len(problems) > 4:
                    return problems
    return problems


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # Lazily generated oracles (VALUES-literal mirrors) must read the same
    # fixture the queries run against.
    import os
    os.environ["ID3C_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark("verify_local")
    con = duckdb.connect()
    for tbl in TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")

    queries = all_queries()
    oracles = all_oracles()
    failures = 0
    record: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            record[name] = {"status": "FAIL", "err": f"spark: {e}"}
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(spdf)} rows")
            record[name] = {"status": "rows-only", "rows": len(spdf)}
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0]}")
            record[name] = {"status": "FAIL", "err": f"duckdb: {str(e).splitlines()[0]}"}
            failures += 1
            continue
        problems = compare(name, spdf, dpdf)
        if problems:
            failures += 1
            print(f"FAIL {name}: ({len(spdf)} spark rows vs {len(dpdf)} duck rows)")
            for p in problems:
                print(f"     {p}")
            record[name] = {"status": "FAIL", "rows": len(spdf), "problems": problems}
        else:
            print(f"PASS {name}: {len(spdf)} rows")
            record[name] = {"status": "PASS", "rows": len(spdf)}
    spark.stop()
    if json_out:
        import json

        from id3c_spark.plans.queries import gate_dropped_queries

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "gate_dropped": gate_dropped_queries(),
                    "results": record,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
