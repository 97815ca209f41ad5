"""Per-host politeness scheduling: ordered fetch sequences + delays.

The reference achieves politeness implicitly: it fetches each site's
pages one at a time in a single-threaded loop
(``company_number_scrape.py:43-64``) and sleeps 60 s on HTTP 429
(``Matching_P1.py:317-327``). The engine makes that explicit and
distributed:

    seq(host)        = rank of the row in the host's canonical fetch
                       order (priority asc, surt asc)
    fetch_ts_offset  = (seq - 1) * crawl_delay(host)
    batch_id         = floor(fetch_ts_offset / round_budget)

**Skew strategy.** Host key frequencies are Zipfian (the reference's
own EDA computes max-vs-median pages per site precisely because of
this — ``Common_Crawl_EDA.py:44-50``). A plain
``Window.partitionBy("host")`` puts every row of a hot host into one
task. Instead we *range-salt*:

1. ``repartitionByRange(P, host, priority, surt)`` — Spark samples
   range bounds, so a hot host spans several *contiguous* partitions
   while order is preserved across them;
2. rank locally inside each (partition, host) group — balanced work;
3. compute per-(partition, host) row counts — a tiny table (≤ one
   row per host per partition it touches) — and turn them into
   per-partition starting offsets with a cumulative window over the
   small table;
4. ``seq = offset(pid, host) + local_rank`` via a broadcast join.

This yields the exact same per-host sequence a single-threaded sort
would produce, at any parallelism — the property the oracle-equality
tests assert — with no task ever holding more than ~1/P of a hot
host. AQE's skew handling balances bytes but cannot produce ordered
sequences, hence the explicit construction (north rule: "salted-key
repartition + window-ordered batches").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .robots import with_robots_flags


def with_host_sequence(
    frontier: DataFrame,
    partitions: int | None = None,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("priority", "surt"),
    cleanup: list | None = None,
    cumsum_col: str | None = None,
) -> DataFrame:
    """Add ``seq`` (1-based per-host rank in canonical order). With
    ``cumsum_col`` given, also add ``cum_<col>``: the inclusive
    running per-host sum of that column in the same canonical order
    (used for cumulative retry-backoff offsets) — computed with the
    identical local-rank + per-partition-offset construction, so it
    is exact at any parallelism.

    CORRECTNESS NOTE: ``repartitionByRange`` samples its boundaries
    per *query execution* — two plans over the same lineage can land
    rows in different partitions. The local-rank relation is therefore
    persisted so that the offsets (broadcast) branch and the main
    branch read the SAME materialization; without this, pids diverge
    between branches and the offsets join silently drops rows
    (observed at 800 hosts / 32 partitions). On a cluster, replace
    the persist with a reliable checkpoint if executors can be lost.
    The caller unpersists via the ``cleanup`` list after the result
    is materialized.
    """
    from pyspark import StorageLevel

    parts = partitions or frontier.sparkSession.sparkContext.defaultParallelism
    order = [host_col, *order_cols]
    ranged = (
        frontier.repartitionByRange(parts, *[F.col(c) for c in order])
        .withColumn("__pid", F.spark_partition_id())
    )
    local_w = Window.partitionBy("__pid", host_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    local = ranged.withColumn("__local_seq", F.row_number().over(local_w))
    aggs = [F.count("*").alias("__cnt")]
    if cumsum_col is not None:
        local = local.withColumn(
            "__local_cum",
            F.sum(cumsum_col).over(
                local_w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        aggs.append(F.sum(cumsum_col).alias("__sum"))
    local = local.persist(StorageLevel.MEMORY_AND_DISK)
    if cleanup is not None:
        cleanup.append(local)
    # tiny per-(pid, host) count/sum table -> cumulative offsets
    counts = local.groupBy("__pid", host_col).agg(*aggs)
    cum_w = (
        Window.partitionBy(host_col)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__offset", F.coalesce(F.sum("__cnt").over(cum_w), F.lit(0))
    )
    drop = ["__pid", "__local_seq", "__offset"]
    if cumsum_col is not None:
        offsets = offsets.withColumn(
            "__sum_offset", F.coalesce(F.sum("__sum").over(cum_w), F.lit(0))
        )
        offsets = offsets.drop("__sum")
        drop += ["__local_cum", "__sum_offset"]
    offsets = offsets.drop("__cnt")
    out = (
        local.join(F.broadcast(offsets), ["__pid", host_col])
        .withColumn("seq", (F.col("__offset") + F.col("__local_seq")).cast("long"))
    )
    if cumsum_col is not None:
        out = out.withColumn(
            f"cum_{cumsum_col}", F.col("__sum_offset") + F.col("__local_cum")
        )
    return out.drop(*drop)


def schedule(
    frontier: DataFrame,
    robots: DataFrame,
    partitions: int | None = None,
    round_budget_s: float = 60.0,
    default_delay_s: float = 1.0,
    cleanup: list | None = None,
) -> DataFrame:
    """Politeness-schedule a frontier against a robots config table.

    ``robots``: ``(host STRING, disallow ARRAY<STRING>, crawl_delay
    DOUBLE)`` — small config, broadcast by ``robots.with_robots_flags``.
    Rules resolve via RFC 9309 longest-match
    (``robots.robots_allowed_expr``): plain entries are Disallow
    prefixes, ``!``-prefixed entries are Allow (written by
    ``parse_robots(allow_directives=True)``); for allow-free arrays
    this is the plain prefix-exclusion check. Surviving rows get
    ``seq``, ``fetch_ts_offset``, ``batch_id``.
    """
    flagged = with_robots_flags(frontier, robots, default_delay_s)
    seq = with_host_sequence(
        flagged.where(F.col("__robots_ok")), partitions=partitions, cleanup=cleanup
    )
    return (
        seq.withColumn("fetch_ts_offset", (F.col("seq") - 1) * F.col("__delay"))
        .withColumn(
            "batch_id", F.floor(F.col("fetch_ts_offset") / F.lit(round_budget_s)).cast("int")
        )
        .drop("__robots_ok", "__delay")
    )
