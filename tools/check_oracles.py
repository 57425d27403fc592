"""Local stand-in for the driver's correctness gate: run every queries()
entry against its oracle_sql() in DuckDB at a given sf dir, compare
row count, sorted column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from laji_pygeoapi_spark.plans.curation import release_caches  # noqa: E402
from laji_pygeoapi_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].map(lambda v: repr(v))
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def value_hash(pdf: pd.DataFrame) -> int:
    return int(pd.util.hash_pandas_object(norm_frame(pdf), index=False).sum())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            res = fn(spark, sf_dir)
            sdf = res.toPandas()
            release_caches(res)  # fused pipelines persist projections
        except Exception as exc:  # noqa: BLE001
            print(f"[SPARK-FAIL] {name}: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(sdf)} rows, cols={sorted(sdf.columns)}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"[SQL-FAIL  ] {name}: {exc}")
            failures.append(name)
            continue
        rows_ok = len(sdf) == len(odf)
        schema_ok = sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
        odf.columns = [c for c in odf.columns]
        h_ok = False
        if rows_ok and schema_ok:
            a, b = norm_frame(sdf), norm_frame(odf)
            b.columns = a.columns
            h_ok = a.equals(b)
            if not h_ok:
                diff = a.compare(b) if a.shape == b.shape else None
                print(f"[VALUE-MISM] {name}: rows={len(sdf)}")
                if diff is not None and len(diff):
                    print(diff.head(5))
                failures.append(name)
                continue
        if rows_ok and schema_ok and h_ok:
            print(f"[OK        ] {name}: {len(sdf)} rows")
        else:
            print(f"[MISMATCH  ] {name}: rows {len(sdf)} vs {len(odf)}; "
                  f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
