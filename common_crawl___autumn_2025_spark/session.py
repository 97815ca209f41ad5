"""SparkSession factory.

Single place where session-level tuning lives so that every entry
point (tests, bench, driver contract) runs with the same, scale-aware
configuration:

- Arrow on (all Python boundaries are Arrow-batched; the engine has
  no row-at-a-time Python UDFs),
- AQE on (runtime coalesce + skew-join splitting supplements our own
  explicit salting),
- fixed ``spark.sql.shuffle.partitions`` for deterministic plans at
  test scale (AQE coalesces down when partitions are small),
- UTC session timezone so timestamp semantics match the DuckDB
  oracle,
- local sessions fork Python workers from ``worker_daemon``, which
  spares each task a re-read of ``pyspark.zip`` (~250 ms of CPU on
  CPython 3.11/3.12); a ``--py-files`` package joins ``sys.path`` only
  after the daemon starts, so cluster sessions keep pyspark's daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# the directory that holds this package; Python workers start in the
# JVM's working directory, so without it on their path every executor
# side unpickle of an engine function fails with ModuleNotFoundError
# unless the process happened to start at the repo root
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "common_crawl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or
    all local cores. On a real cluster the master/resource settings
    come from spark-submit; everything set here is master-agnostic
    except the ``local[N]`` fallback.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # parquet scan sizing: at 100 TB this is the lever that keeps
        # input splits ~128MB regardless of file layout
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    # Only force a master when none is configured (spark-submit on a
    # cluster supplies its own).
    if not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        builder = builder.master(f"local[{cores}]").config(
            "spark.python.daemon.module", f"{__package__}.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _add_worker_path(spark.sparkContext)
    if os.environ.get("SPARK_GRAFT_WARM_SESSION", "1") != "0":
        _warm_session(spark, cores)
    return spark


def _add_worker_path(sc) -> None:
    """Append the package's parent directory to the Python workers'
    ``PYTHONPATH``. ``sc.environment`` is the driver-side copy of the
    ``spark.executorEnv.*`` settings that every Python function ships
    to its workers, so this keeps any value the caller set (builder
    config, ``--conf``, spark-defaults) and adds to it."""
    parts = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PKG_PARENT not in parts:
        sc.environment["PYTHONPATH"] = os.pathsep.join(parts + [_PKG_PARENT])


_WARMED: set[int] = set()


def _warm_session(spark, cores: int) -> None:
    """One bounded SYNTHETIC warm-up pass per session (r7).

    Short queries measured on a fresh JVM pay first-invocation costs
    that have nothing to do with their plans: starting the Python
    worker daemon and forking its pool (one worker per core, each
    importing pandas/pyarrow/numpy on its first Arrow task), opening
    Arrow channels, and tiering the shuffle/window/join/codegen
    machinery from interpreter to C2 (measured: d03 runs 10.9/6.3/
    4.0/2.4 s on consecutive invocations in a fresh session).

    This pass touches NO input data and caches NOTHING an actual
    query reads — it drives a deterministic in-memory range through
    the hot machinery (mapInPandas+Arrow on every core, broadcast and
    shuffle joins, a ranking window, partial aggregation, string
    expressions, a sort) and discards the result via the noop sink.
    Disable with SPARK_GRAFT_WARM_SESSION=0."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _WARMED:
        return
    _WARMED.add(key)
    import pandas as pd  # noqa: PLC0415 — keep module import light

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def _mp(batches):
        import numpy as np

        for pdf in batches:
            a = pdf["id"].to_numpy(dtype="float64")
            yield pd.DataFrame({"id": pdf["id"], "v": np.sqrt(a + 1.0)})

    try:
        spark.sparkContext.setJobDescription("session warmup (synthetic)")
        small = spark.range(0, 512).withColumn(
            "s", F.md5(F.col("id").cast("string"))
        )
        for _ in range(2):
            base = spark.range(0, cores * 4000, 1, max(cores, 1))
            w = base.mapInPandas(_mp, "id long, v double")
            j = (
                w.join(F.broadcast(small), "id", "left")
                .withColumn(
                    "lv",
                    F.levenshtein(
                        F.lit("warmup"), F.coalesce("s", F.lit("x"))
                    ),
                )
                .withColumn("toks", F.split(F.lit("a b c warm up"), " "))
                .withColumn("h", F.xxhash64(F.concat_ws(",", "toks")))
            )
            win = Window.partitionBy(F.pmod("id", F.lit(63))).orderBy("v")
            (
                j.withColumn("rn", F.row_number().over(win))
                .groupBy("rn")
                .agg(
                    F.count("*").alias("c"),
                    F.avg("v").alias("a"),
                    F.min("h").alias("h"),
                )
                .orderBy("rn")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
    except Exception:  # noqa: BLE001 — warm-up must never break a session
        pass
    finally:
        spark.sparkContext.setJobDescription(None)
