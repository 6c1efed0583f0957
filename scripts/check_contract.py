"""Local replica of the driver's correctness gate: run every
__spark_entry__ query at a given sf and diff it against its DuckDB
oracle (row count, column names, order-insensitive values)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

import __spark_entry__ as E
from fgcspark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 9)
    return v


def main(sf_dir: str, only: list[str]) -> int:
    spark = get_spark("contract-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sorted(sdf.columns, key=str.lower)
            srows = sorted(
                tuple(norm(r[c]) for c in cols) for r in sdf.collect()
            )
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(srows)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            onames = [d[0] for d in cur.description]
            odata = cur.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {str(ex)[:200]}")
            failures += 1
            continue
        ocols = sorted(c.lower() for c in onames)
        scols = sorted(c.lower() for c in cols)
        if ocols != scols:
            print(f"FAIL {name}: columns spark={scols} oracle={ocols}")
            failures += 1
            continue
        order = [onames.index(c) for c in sorted(onames, key=str.lower)]
        orows = sorted(tuple(norm(row[i]) for i in order) for row in odata)
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            failures += 1
            continue
        if srows != orows:
            bad = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            failures += 1
            continue
        print(f"ok   {name}: rows={len(srows)} match [{time.time()-t0:.1f}s]")
    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    sys.exit(1 if main(sf, only) else 0)
