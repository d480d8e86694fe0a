"""Local mirror of the driver's correctness gate: run every
__spark_entry__ query on Spark AND its oracle on DuckDB at sf0.01,
compare row count, column names, and an order-insensitive multiset of
rows whose values are compared as (type name, stringified value).  The
oracle is read through Arrow, as a DataFrame consumer reads it, so a
DuckDB HUGEINT/DECIMAL column arrives as ``Decimal`` and cannot pass
for Spark's ``bigint`` ``int``.  Usage: python tools/check_oracle.py [name ...]
"""
from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        return ("float", repr(round(v, 9)))
    return (type(v).__name__, str(v))


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from proj_spark.session import build_session

    # sf0.01 fits an 8g heap; the factory's 16g default can outgrow a 16 GB box
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    spark = build_session("proj-spark-oracle-check", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(norm(v) for v in r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only, {len(srows)} rows")
            continue
        try:
            tab = con.execute(oracles[name]).fetch_arrow_table()
            ocols = tab.column_names
            orows = [
                tuple(norm(v) for v in r)
                for r in zip(*(c.to_pylist() for c in tab.columns))
            ]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {scols} vs {ocols}")
            ok = False
        else:
            # align column order by name
            sidx = [scols.index(c) for c in sorted(scols)]
            oidx = [ocols.index(c) for c in sorted(ocols)]
            sset = Counter(tuple(r[i] for i in sidx) for r in srows)
            oset = Counter(tuple(r[i] for i in oidx) for r in orows)
            if sset != oset:
                print(f"FAIL  {name}: rows {len(srows)} vs {len(orows)}")
                extra_s = list((sset - oset).items())[:3]
                extra_o = list((oset - sset).items())[:3]
                print(f"      spark-only: {extra_s}")
                print(f"      duck-only:  {extra_o}")
                ok = False
        if ok:
            print(f"ok    {name}: {len(srows)} rows match")
        else:
            failures.append(name)
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
