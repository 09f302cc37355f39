"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB at
sf=0.01, compare row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, values stringified).
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            pdf[c] = col.astype(str)
        elif "float" in str(col.dtype):
            pdf[c] = col.map(lambda v: f"{v:.9g}")
        elif "datetime" in str(col.dtype):
            pdf[c] = col.astype("datetime64[us]").astype(str)
        else:
            pdf[c] = col.astype(str)
    rows = sorted(pdf.apply(lambda r: "|".join(r.values), axis=1).tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    from session_graph_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, SF).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"spark error: {exc}"))
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            if len(got) == 0:
                failures.append((name, "0 rows"))
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"duckdb error: {exc}"))
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(exp.columns)}")
        elif value_hash(got) != value_hash(exp):
            problems.append("value hash mismatch")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(got)} rows match")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
