"""The north rule's cluster launch path, executed for real: the
package zipped and shipped via ``spark-submit --py-files engine.zip``
to a driver script copied OUTSIDE the repo (cwd and sys.path point
away from the checkout, so the zip is the ONLY way the engine can be
imported — exactly the cluster posture), then replay-compared
table-for-table against the identical crawl run in-process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "common_crawl___autumn_2025_spark"


def _spark_submit_bin() -> str | None:
    import pyspark

    p = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return p if os.path.exists(p) else None


@pytest.mark.skipif(
    _spark_submit_bin() is None,
    reason="this pyspark install ships no spark-submit launcher",
)
def test_spark_submit_py_files_crawl_matches_in_process(spark, tmp_path):
    # 1. engine.zip with the package at the zip root (what the docs'
    #    `zip -r engine.zip common_crawl___autumn_2025_spark` builds)
    zpath = str(tmp_path / "engine.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, REPO))

    # 2. driver script outside the repo; PYTHONPATH scrubbed so the
    #    engine import can only resolve through --py-files
    driver = str(tmp_path / "run_crawl.py")
    shutil.copy(os.path.join(REPO, "tools", "run_crawl.py"), driver)
    ckpt = str(tmp_path / "ckpt")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_NO_LOCAL_MASTER"] = "1"  # defer to --master below
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    proc = subprocess.run(
        [
            _spark_submit_bin(),
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zpath,
            driver,
            "--hosts", "40", "--seeds", "30", "--rounds", "2",
            "--checkpoint", ckpt, "--partitions", "4",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(summary["rounds"]) == 2
    assert summary["fetched"] > 0
    # the crawl's job budget, read from the status store, and the
    # driver JVM's compile time over the crawl
    assert 0 < summary["spark_jobs"] <= summary["spark_tasks"]
    assert summary["jit_s"] > 0

    # 3. the identical spec in-process (same defaults run_crawl.py
    #    passes); config hash and the committed fetch logs must match
    from common_crawl___autumn_2025_spark import synthetic as syn
    from common_crawl___autumn_2025_spark.crawl.checkpoints import (
        CheckpointStore,
    )
    from common_crawl___autumn_2025_spark.crawl.frontier import (
        CrawlEngine,
        CrawlSpec,
    )

    spec = CrawlSpec(
        web=syn.WebConfig(seed=42, n_hosts=40),
        max_depth=1,
        max_rounds=2,
        seen_shards=16,
        seen_bits_per_shard=1 << 20,
        seen_filter="bloom",
    )
    assert summary["config_hash"] == spec.config_hash()
    eng = CrawlEngine(spark, spec, str(tmp_path / "ckpt_local"), partitions=4)
    eng.run(syn.seed_urls(spec.web, 30))

    def log(store):
        return sorted(
            (row.round, row.host, row.seq, row.surt, row.status)
            for r in range(store.latest_round() + 1)
            for row in store.read_table(r, "fetch_log").collect()
        )

    assert log(CheckpointStore(spark, ckpt)) == log(eng.store)
