"""Session factory: the engine works from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from common_crawl___autumn_2025_spark.crawl.frontier import seeds_frontier
from common_crawl___autumn_2025_spark.session import get_spark

spark = get_spark("any_cwd", cores=2, shuffle_partitions=2)
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
    worker then runs under."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_WARM_SESSION"] = "0"
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
