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
  after the daemon starts, so cluster sessions keep pyspark's daemon,
- local sessions start the driver JVM from a class-data-sharing archive
  (JEP 350), which spares each start Spark's class loading
  (``spark.engine.classArchive``: used/dumped/rejected/off). Only the
  session that finds no archive runs a synthetic warm-up, then dumps
  the archive into the user's cache; every other session returns
  right after ``getOrCreate``,
- a 1024-entry generated-code cache, so warm crawls stop recompiling.
"""

from __future__ import annotations

import contextlib
import errno
import glob
import hashlib
import os
import re
import resource
import shutil
import subprocess

import pyspark
from py4j.protocol import Py4JError
from pyspark.find_spark_home import _find_spark_home
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
        # static: a crawl needs ~120 generated-code entries (one per body
        # per class loader), which the default 100 would evict in a loop
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    # Only force a master when none is configured (spark-submit on a
    # cluster supplies its own).
    if not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        builder = builder.master(f"local[{cores}]").config(
            "spark.python.daemon.module", f"{__package__}.worker_daemon"
        )
    # the class archive applies only to a JVM this call launches; a
    # caller's extraJavaOptions add to defaultJavaOptions
    launching = pyspark.SparkContext._gateway is None
    stem = _archive_stem(extra_conf or {}) if launching else None
    archive = stem and _find_archive(stem)
    if stem:
        flag = f"SharedArchiveFile={archive}" if archive else "+RecordDynamicDumpInfo"
        opts = f"-Xlog:cds*=off -XX:{flag}"
        builder = builder.config("spark.driver.defaultJavaOptions", opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # the conf dir joins the launched JVM's classpath, and JDK 17 cannot
    # dump with a non-empty directory there: launch with an empty one
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if stem:
        os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(stem), "conf")
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    spark.sparkContext.setLogLevel("WARN")
    _add_worker_path(spark.sparkContext)
    if launching:
        state = "off"
        if archive:
            state = "used" if _mapped(spark, archive) else "rejected"
        elif stem:
            # only the dumping session warms up, so the archive holds
            # what a warm start loads
            _warm_session(spark, cores)
            state = "dumped" if _dump_archive(spark, stem) else "off"
        spark.conf.set("spark.engine.classArchive", state)
    return spark


# driver settings that change the classes the JVM boots with or the
# archives it can map; a session with them starts without the archive
_CDS_BLOCKERS = {"spark.driver.defaultJavaOptions", "spark.driver.extraClassPath"}
_DUMP_ROOM = 256 << 20  # bytes a dump may take; the archive is ~111 MB


def _archive_stem(conf: dict, env=os.environ) -> str | None:
    """The cache path, minus ``.<size>.jsa``, of the class archive for
    this JDK, pyspark and jar set; None (CDS off) on a cluster, when the
    conf dir holds real files, when ``conf`` sets the driver classpath
    or default JVM options, or for a heap of 31g or more (without
    compressed oops the JVM refuses an archive dumped with them)."""
    mem = conf.get("spark.driver.memory", env.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if not m or int(m[1]) << 10 * "kmgt".index(m[2] or "m") >= 31 << 20:
        return None
    if env.get("SPARK_GRAFT_NO_LOCAL_MASTER") or _CDS_BLOCKERS & conf.keys():
        return None
    home = _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if os.path.isdir(conf_dir) and any(
        not n.endswith(".template") for n in os.listdir(conf_dir)
    ):
        return None
    base = env.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cache = os.path.join(base, "common_crawl_spark", "cds")
    jhome = env.get("JAVA_HOME")  # spark-class runs $JAVA_HOME/bin/java
    java = os.path.join(jhome, "bin", "java") if jhome else shutil.which("java")
    try:
        java = os.path.realpath(java)
        jdk = os.stat(os.path.join(os.path.dirname(java), "..", "lib", "modules"))
        # "warmed": the archive holds what a warmed session loads
        key = ["warmed", java, jdk.st_size, jdk.st_mtime_ns, pyspark.__version__]
        jars = sorted(os.scandir(os.path.join(home, "jars")), key=lambda e: e.name)
        key += [(j.name, j.stat().st_size, j.stat().st_mtime_ns) for j in jars]
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    except (OSError, TypeError):  # TypeError: no java on PATH
        return None
    return os.path.join(cache, hashlib.sha256(repr(key).encode()).hexdigest()[:16])


def _find_archive(stem: str) -> str | None:
    """A published archive whose size matches its name; others are
    deleted, as a truncated archive kills the JVM with SIGBUS."""
    for path in glob.glob(glob.escape(stem) + ".*.jsa"):
        try:
            if os.path.getsize(path) == int(path[len(stem) + 1 : -len(".jsa")]):
                return path
            os.remove(path)
        except (OSError, ValueError):
            pass
    return None


def _mapped(spark, archive: str) -> bool:
    """Whether the driver JVM mapped ``archive`` (it starts without one
    it refuses). A refused archive is deleted, so the next session
    dumps one that maps."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    real = os.path.realpath(archive)  # maps name files by their real path
    try:
        with open(f"/proc/{pid}/maps") as maps:
            found = any(line.rstrip().endswith(real) for line in maps)
    except OSError:  # no /proc to tell
        return True
    if not found:
        with contextlib.suppress(OSError):
            os.remove(archive)
    return found


def _room_for_dump(path: str) -> None:
    """Raise OSError unless ``path`` can grow to ``_DUMP_ROOM`` bytes.
    JDK 17 ends the whole JVM when it cannot write a dump, so the file
    size limit is checked and the space reserved first (the reservation
    fails with ENOSPC, EDQUOT or EFBIG where a write would)."""
    limit = resource.getrlimit(resource.RLIMIT_FSIZE)[0]
    if limit != resource.RLIM_INFINITY and limit < _DUMP_ROOM:
        raise OSError(errno.EFBIG, "file size limit below a dump", path)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    try:
        os.posix_fallocate(fd, 0, _DUMP_ROOM)
        os.ftruncate(fd, 0)
    finally:
        os.close(fd)


def _dump_archive(spark, stem: str) -> bool:
    """Dump the driver JVM's loaded classes with ``jcmd`` and publish
    them by an atomic rename, size in the name. The cache then holds
    this archive only: older keys' archives and abandoned dumps go."""
    tmp = f"{stem}.jsa.tmp.{os.getpid()}"
    try:
        _room_for_dump(tmp)
        jvm, system = spark._jvm, spark._jvm.java.lang.System
        jdk = system.getProperty("java.home")
        pid = str(jvm.java.lang.ProcessHandle.current().pid())
        out = system.out  # the dump prints its path there
        system.setOut(jvm.java.io.PrintStream(jvm.java.io.OutputStream.nullOutputStream()))
        try:
            subprocess.run(
                [os.path.join(jdk, "bin", "jcmd"), pid, "VM.cds", "dynamic_dump", tmp],
                capture_output=True, timeout=120, check=True,
            )
        finally:
            system.setOut(out)
        size = os.path.getsize(tmp)  # jcmd exits 0 even when a dump fails
        if size and not _find_archive(stem):  # a concurrent session may have won
            os.replace(tmp, f"{stem}.{size}.jsa")
            for old in glob.glob(os.path.join(glob.escape(os.path.dirname(stem)), "*.jsa*")):
                if old != f"{stem}.{size}.jsa":
                    with contextlib.suppress(OSError):
                        os.remove(old)
        return bool(size)
    except (OSError, subprocess.SubprocessError, Py4JError):
        return False
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)


def _add_worker_path(sc) -> None:
    """Append the package's parent directory to the Python workers'
    ``PYTHONPATH``. ``sc.environment`` is the driver-side copy of the
    ``spark.executorEnv.*`` settings that every Python function ships
    to its workers, so this keeps any value the caller set (builder
    config, ``--conf``, spark-defaults) and adds to it."""
    parts = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PKG_PARENT not in parts:
        sc.environment["PYTHONPATH"] = os.pathsep.join(parts + [_PKG_PARENT])


def _warm_session(spark, cores: int) -> None:
    """One bounded SYNTHETIC pass, run only by the session that dumps
    the class archive, so the archive holds the classes a first real
    operation loads (an archive dumped without it made every later cold
    crawl 0.1-1.2 s slower). A session that finds the archive skips it:
    there it saved no measurable time.

    This pass touches NO input data and caches NOTHING an actual
    query reads — it drives a deterministic in-memory range through
    the hot machinery (mapInPandas+Arrow on every core, broadcast and
    shuffle joins, a ranking window, partial aggregation, string
    expressions, a sort) and discards the result via the noop sink."""
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
