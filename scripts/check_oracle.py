"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry in Spark and its ``oracle_sql()`` twin
in DuckDB on the same parquet tables, then compare row count + column set +
order-insensitive value multiset.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, bool):
        return "true" if val else "false"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return f"{val:.6g}"
    return str(val)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from quake3_log_analyser_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:24s} rows={len(srows)} (no oracle — rows-only)")
            continue
        ores = con.execute(oracles[name])
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        status = []
        if len(srows) != len(orows):
            status.append(f"ROWCOUNT spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            status.append(f"COLUMNS spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not status:
            sm = rows_to_multiset(scols, [tuple(r) for r in srows])
            om = rows_to_multiset(ocols, orows)
            if sm != om:
                diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                status.append(f"VALUES differ, first: {diff}")
        if status:
            failures.append(name)
            print(f"{name:24s} FAIL: {'; '.join(status)}")
        else:
            print(f"{name:24s} OK rows={len(srows)}")
    if failures:
        print(f"\nFAILED: {failures}")
        sys.exit(1)
    print("\nall queries match the oracle")


if __name__ == "__main__":
    main()
