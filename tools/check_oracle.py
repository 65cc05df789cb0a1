"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark and the matching oracle_sql()[name] on DuckDB
over the same sf dir; compare row count, column names, and
order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import duckdb

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
# the Python workers (UDF queries) must import the same tree; they
# inherit PYTHONPATH from the JVM that get_spark starts below
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pdf_knowledge_extractor_spark.session import get_spark  # noqa: E402
from pdf_knowledge_extractor_spark.sources.readers import TABLES  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
                    if v == 0:
                        v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                print(f"{name:24s} rows-only: {n} rows OK")
            except Exception as e:  # noqa: BLE001
                print(f"{name:24s} ROWS-ONLY FAILED: {e}")
                failures.append(name)
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [row.asDict() for row in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"{name:24s} SPARK FAILED: {e}")
            failures.append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"{name:24s} ORACLE FAILED: {e}")
            failures.append(name)
            continue
        dcols = list(ddf.columns)
        if sorted(scols) != sorted(dcols):
            print(f"{name:24s} SCHEMA MISMATCH spark={scols} duck={dcols}")
            failures.append(name)
            continue
        cols = sorted(scols)
        drows = ddf.to_dict("records")
        s_norm = normalize(srows, cols)
        d_norm = normalize(drows, cols)
        if len(s_norm) != len(d_norm):
            print(
                f"{name:24s} ROWCOUNT MISMATCH spark={len(s_norm)} "
                f"duck={len(d_norm)}"
            )
            failures.append(name)
            continue
        if s_norm != d_norm:
            diff_s = [x for x in s_norm if x not in set(d_norm)][:3]
            diff_d = [x for x in d_norm if x not in set(s_norm)][:3]
            print(f"{name:24s} VALUE MISMATCH ({len(s_norm)} rows)")
            print(f"   spark-only: {diff_s}")
            print(f"   duck-only:  {diff_d}")
            failures.append(name)
            continue
        print(f"{name:24s} OK ({len(s_norm)} rows)")

    if failures:
        print(f"\nFAILED: {failures}")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
