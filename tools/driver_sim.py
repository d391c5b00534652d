"""Fresh-process driver simulation: run every registered query at sf0.01 and
compare against its DuckDB oracle exactly the way the driver does (row count +
sorted-column order-insensitive canonical values). Usage:

    python tools/driver_sim.py [first_n | query_name ...]

Prints one line per query and a final PASS/FAIL summary.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as e

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def canon(df) -> list[tuple]:
    import pandas as pd

    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(("null",))
            elif isinstance(v, float):
                row.append(("f", f"{v:.10g}"))
            elif isinstance(v, pd.Timestamp):
                row.append(("t", str(v)))
            elif isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
                row.append(("a", str(list(v))))
            else:
                row.append((type(v).__name__[:1], str(v)))
        rows.append(tuple(row))
    rows.sort()
    return rows


def main() -> None:
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    first_n = int(args[0]) if args and args[0].isdigit() else None
    only = None if first_n or not args else args
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_entry = len(e.entry(spark).collect())
    print(f"entry smoke: {n_entry} rows", flush=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    qs, oracles = e.queries(), e.oracle_sql()
    names = only or (list(qs)[:first_n] if first_n else list(qs))
    failed = []
    for i, name in enumerate(names):
        t0 = time.monotonic()
        try:
            actual = qs[name](spark, SF).toPandas()
            expected = con.sql(oracles[name]).df()
            ok_cols = sorted(actual.columns) == sorted(expected.columns)
            ok_rows = len(actual) == len(expected)
            ok_vals = ok_cols and ok_rows and canon(actual) == canon(expected)
            status = "ok" if (ok_cols and ok_rows and ok_vals) else (
                f"FAIL cols={ok_cols} rows={ok_rows} vals={ok_vals} "
                f"(spark={len(actual)} oracle={len(expected)})"
            )
        except Exception as ex:  # noqa: BLE001
            status = f"ERROR {type(ex).__name__}: {ex}"[:200]
        dt = time.monotonic() - t0
        if status != "ok":
            failed.append(name)
        print(f"[{i+1}/{len(names)}] {name}: {status} ({dt:.1f}s)", flush=True)
    print(f"{'PASS' if not failed else 'FAIL'} {len(names)-len(failed)}/"
          f"{len(names)}; failed={failed}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
