"""Query catalog registry.

Every operator from SURVEY.md §2 (plus the training-data-pipeline
operators) registers here as a named query: a PySpark callable
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, an
equivalent DuckDB oracle SQL string. ``__spark_entry__.py`` exposes
the registry to the driver's correctness harness.

Cross-dialect discipline (Spark vs DuckDB must hash-match):

- every computed column is aliased identically on both sides;
- double aggregates are ``round(x, 4)`` on both sides (the inputs
  carry 2 decimals, so rounding is far outside the accumulated
  FP-summation error of either engine);
- DuckDB ``sum(BIGINT)`` yields HUGEINT → always ``CAST(... AS
  BIGINT)`` in oracle SQL; counts are BIGINT in both;
- thresholds on ratios use cross-multiplied *integer* comparisons
  (no FP in membership predicates);
- every query with a LIMIT carries a total deterministic ORDER BY.
"""

from __future__ import annotations

import functools
import glob
import os
import stat
from collections.abc import Callable

QUERIES: dict[str, Callable] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _stamp(path: str):
    """A file's inode, size, mtime and ctime; a directory's sorted entry
    stamps, recursively. Raises ``OSError`` where ``os.stat`` cannot see
    the path (a URI, a missing table)."""
    st = os.stat(path)
    if stat.S_ISDIR(st.st_mode):
        return tuple(sorted((e.name, _stamp(e.path)) for e in os.scandir(path)))
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


@functools.lru_cache(maxsize=256)
def _inferred_schema(spark, path: str, stamp):
    return spark.read.parquet(path).schema


def load(spark, sf_dir: str, table: str):
    """A catalog table. A schema-less ``spark.read.parquet`` runs a
    one-task job that reads a footer to infer the schema, so the schema
    Spark inferred is kept per session, path and stamp, and every read
    passes it to ``spark.read.schema``, which only lists the files: a
    rewritten file, a new part file or a new session infers again, and
    a failed inference keeps nothing. A path ``os.stat`` cannot see is
    read schema-less."""
    path = f"{sf_dir}/{table}.parquet"
    try:
        stamp = _stamp(path)
    except OSError:
        return spark.read.parquet(path)
    return spark.read.schema(_inferred_schema(spark, path, stamp)).parquet(path)


def table_num_rows(sf_dir: str, table: str) -> int:
    """Exact row count of a catalog parquet table from FOOTER METADATA
    — no Spark job (r7, VERDICT r6 #7: ``derived_n_cells`` paid one
    full count() job per v04/v05/v06/v07 invocation; the parquet
    footer already stores the exact count). Handles both a single
    file and a directory of part files."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    paths = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    )
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def spread_if_large(df, sf_dir: str, table: str,
                    min_rows_per_task: int = 1024, key: str | None = None):
    """Scale-adaptive spread (r7, guide §2): a single-row-group
    parquet file arrives as ONE input split, serializing heavy
    per-row work — but for small inputs the extra exchange costs more
    than the parallelism buys (A/B-measured both ways this round).
    Repartition to defaultParallelism only when the footer row count
    gives every core at least ``min_rows_per_task`` rows; the
    decision is metadata-only (no Spark job) and tracks the actual
    input scale instead of a constant tuned to one sf."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if table_num_rows(sf_dir, table) < min_rows_per_task * par:
        return df
    return df.repartition(par, key) if key else df.repartition(par)


BROADCAST_LIMIT_BYTES = 64 << 20


def maybe_broadcast(df, sf_dir: str, table: str, limit: int = BROADCAST_LIMIT_BYTES):
    """Broadcast hint ONLY while the table's on-disk size is under the
    limit — a hint that is right at sf0.1 and an executor OOM at 100x
    is worse than no hint. Above the limit the hint is dropped and
    AQE/statistics pick the join strategy (sort-merge / shuffled
    hash)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    paths = [path] if os.path.isfile(path) else glob.glob(
        os.path.join(path, "*.parquet")
    )
    size = sum(os.path.getsize(p) for p in paths)
    if size <= limit:
        from pyspark.sql import functions as F

        return F.broadcast(df)
    return df
