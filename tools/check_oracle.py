"""Local mirror of the driver's correctness harness.

Runs every ``queries()`` entry at sf0.01 on Spark AND its
``oracle_sql()`` twin in DuckDB, compares row count, column names,
and order-insensitive values. Exit code 1 on any mismatch.

Usage: python tools/check_oracle.py [sf_dir] [only_prefix]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from common_crawl___autumn_2025_spark.session import get_spark  # noqa: E402
from tools.run_crawl import _next_job_id  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return normalize(v.item())
        if isinstance(v, np.ndarray):
            return tuple(normalize(x) for x in v.tolist())
    except ImportError:
        pass
    return v


def df_to_sorted_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark("check_oracle", cores=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    ctx = spark.sparkContext
    t_all, j_all = time.time(), _next_job_id(ctx)

    def cost() -> str:
        return f"[{time.time() - t0:.1f}s, {_next_job_id(ctx) - j0} jobs]"

    for name, fn in sorted(queries.items()):
        if only and not name.startswith(only):
            continue
        t0, j0 = time.time(), _next_job_id(ctx)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) {cost()}")
            if len(srows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        sc, sr = df_to_sorted_rows(scols, srows)
        dc, dr = df_to_sorted_rows(dcols, drows)
        if sc != dc:
            failures.append((name, f"columns differ: {sc} vs {dc}"))
            print(f"FAIL  {name}: columns {sc} vs {dc}")
            continue
        if len(sr) != len(dr):
            failures.append((name, f"row count {len(sr)} vs {len(dr)}"))
            print(f"FAIL  {name}: rows {len(sr)} vs {len(dr)}")
            continue
        bad = None
        for a, b in zip(sr, dr):
            if a != b:
                bad = (a, b)
                break
        if bad:
            failures.append((name, f"value mismatch {bad[0]} vs {bad[1]}"))
            print(f"FAIL  {name}: {str(bad[0])[:150]} vs {str(bad[1])[:150]}")
        else:
            print(f"OK    {name}: {len(sr)} rows match {cost()}")
    print(f"\n{len(queries) - len(failures)}/{len(queries)} passing; "
          f"{len([n for n in queries if n in oracles])} oracle-checked")
    print(f"total: {time.time() - t_all:.1f}s, {_next_job_id(ctx) - j_all} jobs")
    if failures:
        print("FAILURES:")
        for n, m in failures:
            print(" -", n, ":", m[:200])
        sys.exit(1)


if __name__ == "__main__":
    main()
