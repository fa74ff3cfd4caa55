"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() twin at a given sf,
compare row count + order-insensitive canonical values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

TABLES = ["documents"]


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive canonical rows, dtype-faithful to the driver's hash.

    The driver stringifies pandas values, so int64 25 and float64 25.0 hash
    DIFFERENTLY.  Round 4 shipped a red driver row (`decontaminate`) under a
    green local "ALL OK" precisely because this function used to collapse
    integral floats to `%.9g` ("25").  Floats now always carry a ".0" when
    integral, so an uncast DuckDB HUGEINT->float64 aggregate paired against a
    Spark int64 column fails locally exactly like it fails at the driver.
    """
    import numpy as np

    df = df[sorted(df.columns)].copy()
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, (float, np.floating)) and pd.isna(v)):
                vals.append("∅")
            elif isinstance(v, Decimal):
                vals.append(f"{v.normalize():f}")
            elif isinstance(v, (bool, np.bool_)):
                vals.append(str(bool(v)))
            elif isinstance(v, (int, np.integer)):
                vals.append(str(int(v)))
            elif isinstance(v, (float, np.floating)):
                s = f"{float(v):.9g}"
                if s.lstrip("-").isdigit():
                    s += ".0"
                vals.append(s)
            elif isinstance(v, (pd.Timestamp,)):
                vals.append(v.isoformat())
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from fetch_engines_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle — rows-only)")
            if len(sdf) == 0:
                failures.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error {exc}")
            failures.append(name)
            continue
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            print(f"FAIL  {name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            failures.append(name)
            continue
        odf.columns = [c.lower() for c in odf.columns]
        sdf.columns = [c.lower() for c in sdf.columns]
        cs, co = canon(sdf), canon(odf)
        if len(cs) != len(co):
            print(f"FAIL  {name}: rowcount {len(cs)} vs {len(co)}")
            failures.append(name)
        elif cs != co:
            diff = [(a, b) for a, b in zip(cs, co) if a != b][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(cs)} rows match")
    spark.stop()
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
