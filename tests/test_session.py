"""Session factory: the engine works from any working directory."""

from __future__ import annotations

import errno
import os
import subprocess
import sys
from types import SimpleNamespace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from common_crawl___autumn_2025_spark.crawl.frontier import seeds_frontier
from common_crawl___autumn_2025_spark.session import get_spark

spark = get_spark("any_cwd", cores=2, shuffle_partitions=2)
print("ARCHIVE", spark.conf.get("spark.engine.classArchive"))
print("JOBS", spark.sparkContext._jsc.sc().statusStore().jobsList(None).size())
n = seeds_frontier(spark, ["http://a.example.com/", "http://b.example.org/x"]).count()
print("COUNT", n)


def daemon_of(batches):
    import zipimport

    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({{"m": [zipimport.zipimporter.invalidate_caches.__module__]}})


mods = spark.range(0, 8, 1, 2).mapInPandas(daemon_of, "m string").distinct().collect()
print("DAEMON", ",".join(sorted(r.m for r in mods)))
spark.stop()
"""


def test_python_workers_import_engine_from_any_cwd(tmp_path):
    """The repo root is only on the driver's sys.path and the process
    starts elsewhere, so Python workers can import the engine only
    through the path get_spark adds for them. The same path lets the
    JVM start the engine's worker daemon, whose stamp check every
    worker then runs under. With the class archive off (the cache path
    is a file) the session runs no job before it returns."""
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["XDG_CACHE_HOME"] = str(blocker)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ARCHIVE off\nJOBS 0\n" in proc.stdout
    assert "COUNT 2" in proc.stdout
    assert "DAEMON common_crawl___autumn_2025_spark.worker_daemon\n" in proc.stdout


def test_worker_path_appends_to_caller_pythonpath():
    from common_crawl___autumn_2025_spark.session import (
        _PKG_PARENT,
        _add_worker_path,
    )

    class Ctx:
        environment = {"PYTHONPATH": "/srv/extra"}

    sc = Ctx()
    _add_worker_path(sc)
    _add_worker_path(sc)  # idempotent
    assert sc.environment["PYTHONPATH"] == os.pathsep.join(
        ["/srv/extra", _PKG_PARENT]
    )


_ARCHIVE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from common_crawl___autumn_2025_spark.session import get_spark

spark = get_spark("class_archive", cores=2, shuffle_partitions=2,
                  extra_conf={{"spark.driver.extraJavaOptions": "-Dengine.probe=1"}})
jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
desc = [jobs.apply(i).description() for i in range(jobs.size())]
print("JOBS", len(desc))
print("WARMUP", any(d.isDefined() and d.get() == "session warmup (synthetic)" for d in desc))
n = spark.range(0, 64, 1, 2).mapInPandas(lambda it: it, "id long").count()
print("ARCHIVE", spark.conf.get("spark.engine.classArchive"))
print("PROBE", spark._jvm.java.lang.System.getProperty("engine.probe"))
print("COUNT", n)
spark.stop()
"""


def test_class_archive_dumped_used_rebuilt_and_rejected(tmp_path):
    """Local sessions against a fresh cache. The first runs the
    synthetic warm-up and then dumps the driver JVM's class archive;
    the next starts from it and runs no job before it returns; one that
    finds it truncated (which would SIGBUS the JVM if passed) drops it,
    warms up and dumps a complete one again; and one that finds a file
    the JVM refuses reports so and deletes it. A session with CDS off
    (a real file in the conf dir) neither warms up nor dumps. The
    caller's extraJavaOptions reach the JVM next to the engine's flags."""
    cwd, conf, cache = tmp_path / "cwd", tmp_path / "conf", tmp_path / "cache"
    cwd.mkdir()
    conf.mkdir()
    real = tmp_path / "real_conf"
    real.mkdir()
    (real / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    base = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    base.update(SPARK_CONF_DIR=str(conf), XDG_CACHE_HOME=str(cache))
    base.setdefault("PYSPARK_PYTHON", sys.executable)
    cds = cache / "common_crawl_spark" / "cds"

    def session(**env) -> str:
        proc = subprocess.run(
            [sys.executable, "-c", _ARCHIVE_SCRIPT.format(repo=REPO)],
            cwd=str(cwd),
            env=dict(base, **env),
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        assert "COUNT 64\n" in proc.stdout
        assert "PROBE 1\n" in proc.stdout
        assert "[warning][cds]" not in proc.stdout
        assert "Dynamic dump" not in proc.stdout
        assert not list(cwd.glob("hs_err_pid*.log"))
        return proc.stdout

    def archives() -> list:
        assert not list(cds.glob("*.tmp*"))
        found = list(cds.glob("*.jsa"))
        for f in found:
            assert f.stat().st_size == int(f.name.split(".")[1])
        return found

    out = session(SPARK_CONF_DIR=str(real))
    assert "ARCHIVE off\n" in out and "JOBS 0\n" in out
    assert not cds.exists()
    out = session()
    assert "ARCHIVE dumped\n" in out and "WARMUP True\n" in out
    (archive,) = archives()
    out = session()
    assert "ARCHIVE used\n" in out and "JOBS 0\n" in out
    assert archives() == [archive]

    archive.chmod(0o644)
    os.truncate(archive, 1 << 20)
    out = session()
    assert "ARCHIVE dumped\n" in out and "WARMUP True\n" in out
    (archive,) = archives()

    size = archive.stat().st_size
    archive.chmod(0o644)
    archive.write_bytes(os.urandom(size))
    assert "ARCHIVE rejected\n" in session()
    assert archives() == []


def test_class_archive_gate(tmp_path):
    """CDS is on only for local sessions whose conf dir holds nothing
    but templates, whose driver classpath, JVM options and compressed
    oops are the engine's own, and whose cache can be created. The gate
    leaves the environment as it found it."""
    from common_crawl___autumn_2025_spark.session import _archive_stem

    real, templates = tmp_path / "real", tmp_path / "templates"
    real.mkdir()
    (real / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("")
    base = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_NO_LOCAL_MASTER", "SPARK_GRAFT_DRIVER_MEM")
    }
    base.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_CONF_DIR=str(templates))
    cds = tmp_path / "cache" / "common_crawl_spark" / "cds"

    env = dict(base)
    stem = _archive_stem({}, env)
    assert stem is not None and os.path.dirname(stem) == str(cds)
    assert os.listdir(cds / "conf") == []
    assert env == base
    # same JDK, pyspark and jars: same key, whatever the heap below 31g
    assert _archive_stem({"spark.driver.memory": "4096m"}, dict(base)) == stem
    assert _archive_stem({}, dict(base, SPARK_GRAFT_DRIVER_MEM="4g")) == stem

    env = dict(base, SPARK_CONF_DIR=str(real))
    assert _archive_stem({}, env) is None
    assert env["SPARK_CONF_DIR"] == str(real)
    assert _archive_stem({}, dict(base, SPARK_GRAFT_NO_LOCAL_MASTER="1")) is None
    for mem in ("32g", "40960", "1t", "lots"):
        assert _archive_stem({}, dict(base, SPARK_GRAFT_DRIVER_MEM=mem)) is None
    for key in ("spark.driver.extraClassPath", "spark.driver.defaultJavaOptions"):
        assert _archive_stem({key: "x"}, dict(base)) is None

    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    assert _archive_stem({}, dict(base, XDG_CACHE_HOME=str(blocker))) is None


def test_archive_stem_keeps_its_key(tmp_path):
    """The key hashes the same inputs, "warmed" tag included, that
    archives already in users' caches were dumped under, so none of
    them is orphaned."""
    import hashlib
    import shutil

    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    from common_crawl___autumn_2025_spark.session import _archive_stem

    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_NO_LOCAL_MASTER", "SPARK_GRAFT_DRIVER_MEM")
    }
    env.update(XDG_CACHE_HOME=str(tmp_path), SPARK_CONF_DIR=str(tmp_path / "no_conf"))
    jhome = env.get("JAVA_HOME")
    java = os.path.realpath(os.path.join(jhome, "bin", "java") if jhome else shutil.which("java"))
    modules = os.stat(os.path.join(os.path.dirname(java), "..", "lib", "modules"))
    key = ["warmed", java, modules.st_size, modules.st_mtime_ns, pyspark.__version__]
    jars = sorted(os.scandir(os.path.join(_find_spark_home(), "jars")), key=lambda e: e.name)
    key += [(j.name, j.stat().st_size, j.stat().st_mtime_ns) for j in jars]
    digest = hashlib.sha256(repr(key).encode()).hexdigest()[:16]
    assert _archive_stem({}, env) == str(tmp_path / "common_crawl_spark" / "cds" / digest)


def test_second_crawl_recompiles_no_generated_code(spark, tmp_path):
    """Spark caches generated code per code body and context class
    loader (driver and executor threads differ), and a crawl needs more
    entries than the default 100 hold: at that size every crawl of this
    spec recompiled 18-19 of its 95 bodies. With the session's 1024
    entries a second identical crawl compiles none, or now and then one
    body once more (4 of 24 fresh sessions compiled one). The cause is
    not the pool threads' context class loader: the main, seen-add and
    commit threads all reach the JVM with the same one, and pool
    threads set to the main thread's loader recompiled as often."""
    from common_crawl___autumn_2025_spark import synthetic as syn
    from common_crawl___autumn_2025_spark.crawl.frontier import CrawlEngine, CrawlSpec

    spec = CrawlSpec(web=syn.WebConfig(n_hosts=12), max_depth=1, max_rounds=3)
    seeds = syn.seed_urls(spec.web, 10)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    CrawlEngine(spark, spec, str(tmp_path / "first"), partitions=2).run(seeds)
    before = compiles.getCount()
    CrawlEngine(spark, spec, str(tmp_path / "second"), partitions=2).run(seeds)
    assert compiles.getCount() - before <= 2


def _fake_jvm_session(jdk, archive_bytes: int):
    """A stand-in for a session whose ``jcmd`` writes ``archive_bytes``
    to the dump path it is given."""
    jcmd = jdk / "bin" / "jcmd"
    jcmd.parent.mkdir(parents=True)
    jcmd.write_text(f'#!/bin/sh\nhead -c {archive_bytes} /dev/zero > "$4"\n')
    jcmd.chmod(0o755)
    proc = SimpleNamespace(pid=lambda: 1)
    system = SimpleNamespace(getProperty=lambda _key: str(jdk), out=None, setOut=print)
    lang = SimpleNamespace(System=system, ProcessHandle=SimpleNamespace(current=lambda: proc))
    stream = SimpleNamespace(nullOutputStream=lambda: None)
    io = SimpleNamespace(PrintStream=lambda _out: None, OutputStream=stream)
    return SimpleNamespace(_jvm=SimpleNamespace(java=SimpleNamespace(lang=lang, io=io)))


def test_archive_size_check_and_publish(tmp_path):
    from common_crawl___autumn_2025_spark.session import _dump_archive, _find_archive

    cds = tmp_path / "cds"
    cds.mkdir()
    stem = str(cds / "k")
    assert _find_archive(stem) is None
    (cds / "k.10.jsa").write_bytes(b"x" * 4)  # truncated
    (cds / "k.jsa.tmp.1").write_bytes(b"x" * 4)  # a dump in flight
    assert _find_archive(stem) is None
    assert sorted(os.listdir(cds)) == ["k.jsa.tmp.1"]
    (cds / "k.4.jsa").write_bytes(b"x" * 4)
    assert _find_archive(stem) == stem + ".4.jsa"

    # a dump publishes the one archive the cache then holds: another
    # key's archive and an abandoned dump are deleted
    os.remove(stem + ".4.jsa")
    (cds / "old.4.jsa").write_bytes(b"x" * 4)
    spark = _fake_jvm_session(tmp_path / "jdk", 4096)
    assert _dump_archive(spark, stem) is True
    assert sorted(os.listdir(cds)) == ["k.4096.jsa"]


def test_dump_guard_never_reaches_a_jvm_that_cannot_write(tmp_path, monkeypatch):
    """JDK 17 ends the whole JVM when it cannot write a dump, so a file
    size limit below a dump, a full disk or quota, or an unwritable
    cache must stop the dump before jcmd runs."""
    import resource

    from common_crawl___autumn_2025_spark import session

    stem = str(tmp_path / "k")
    spark = _fake_jvm_session(tmp_path / "jdk", 4096)

    monkeypatch.setattr(resource, "getrlimit", lambda _r: (30000 * 1024, resource.RLIM_INFINITY))
    assert session._dump_archive(spark, stem) is False
    monkeypatch.undo()

    def no_quota(fd, offset, length):
        raise OSError(errno.EDQUOT, "Disk quota exceeded")

    monkeypatch.setattr(os, "posix_fallocate", no_quota)
    assert session._dump_archive(spark, stem) is False
    monkeypatch.undo()

    assert session._dump_archive(spark, str(tmp_path / "missing" / "k")) is False
    assert sorted(os.listdir(tmp_path)) == ["jdk"]  # no dump, no tmp file left
    assert session._dump_archive(spark, stem) is True  # the fake itself works
