"""Driver-style correctness check: run every queries() entry on Spark and
its oracle_sql() on DuckDB over the same parquet tables; compare row count,
column names, and an order-insensitive value hash.

Usage: python scripts/check_oracles.py [sf_dir] [entry ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for row in pdf.itertuples(index=False):
        cells = []
        for v in row:
            if isinstance(v, float):
                cells.append(f"{v:.6f}")
            else:
                cells.append(str(v))
        rows.append("\x1f".join(cells))
    rows.sort()
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from pisa_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_pdf)} rows "
                  f"cols={sorted(spark_pdf.columns)}")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb raised {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        ok_rows = len(spark_pdf) == len(duck_pdf)
        ok_cols = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
        ok_hash = value_hash(spark_pdf) == value_hash(duck_pdf) if ok_cols else False
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status} {name}: rows {len(spark_pdf)}/{len(duck_pdf)} "
              f"cols={'=' if ok_cols else sorted(spark_pdf.columns)} "
              f"hash={'=' if ok_hash else 'MISMATCH'}")
        if not ok_cols:
            print(f"      spark cols: {sorted(spark_pdf.columns)}")
            print(f"      duck  cols: {sorted(duck_pdf.columns)}")
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
