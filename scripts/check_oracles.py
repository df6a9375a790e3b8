"""Local mirror of the driver's correctness gate: run every queries() entry
at a given SF against its oracle_sql() twin in DuckDB and compare
(row count, sorted column names, order-insensitive value multiset).

Usage: python scripts/check_oracles.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        # The driver's value hash is insensitive to integer *width* (int32
        # row_number vs int64 passed round 1) but NOT to int-vs-object/float
        # (HUGEINT failed round 1). Mirror that: widen ints, keep class.
        elif str(df[c].dtype) in ("int8", "int16", "int32", "uint8", "uint16", "uint32"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    sys.path.insert(0, ".")
    import __spark_entry__ as entrymod
    from fairy_core_spark.session import get_spark

    # no console progress bar: its carriage-return runs would swallow the
    # OK/FAIL lines of a log written to a file
    spark = get_spark(
        app_name="oracle-check",
        shuffle_partitions=16,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in sorted(qs.items()):
        if name_filter and name_filter not in name:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"rows-only  {name}: {len(sdf)} rows  ({dt:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            continue
        # Strict dtype parity: the driver hashes values, and a DuckDB
        # HUGEINT/DECIMAL column hashes differently from Spark's BIGINT even
        # when every value is equal (round-1 failure class). Surface it here.
        dt_bad = [
            (c, str(a[c].dtype), str(b[c].dtype))
            for c in a.columns
            if str(a[c].dtype) != str(b[c].dtype)
        ]
        if dt_bad:
            failures.append(name)
            print(f"FAIL  {name}: dtype mismatch {dt_bad}")
            continue
        if not a.equals(b):
            eq = True
            for c in a.columns:
                av, bv = a[c].tolist(), b[c].tolist()
                if av != bv:
                    eq = False
                    bad = next(
                        (i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if x != y
                    )
                    print(f"FAIL  {name}: col {c} first diff at {bad}")
                    break
            if not eq:
                failures.append(name)
                continue
        print(f"OK    {name}: {len(a)} rows  ({dt:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
