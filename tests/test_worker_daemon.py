"""worker_daemon's stamp check: a zipimporter re-reads its archive's
directory on ``importlib.invalidate_caches()`` only when the archive
changed. Patching runs in a subprocess so this process's ``zipimport``
stays stock."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
from common_crawl___autumn_2025_spark import worker_daemon

archive = {archive!r}

def write_zip(modules):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        for name in modules:
            z.writestr(f"zpkg/sub/{{name}}.py", f"NAME = {{name!r}}")

reads = []
stock_read = zipimport._read_directory
def counting_read(path):
    reads.append(path)
    return stock_read(path)
zipimport._read_directory = counting_read

def invalidate_reads():
    reads.clear()
    importlib.invalidate_caches()
    return len(reads)

write_zip(["a"])
sys.path.insert(0, archive)
import zpkg.sub.a
out = {{"stock": invalidate_reads()}}
worker_daemon.install()
out["first"] = invalidate_reads()
out["unchanged"] = invalidate_reads()
write_zip(["a", "b"])
out["changed"] = invalidate_reads()
out["b"] = importlib.import_module("zpkg.sub.b").NAME
out["after_change"] = invalidate_reads()
os.remove(archive)
out["missing"] = invalidate_reads()
out["patch_module"] = zipimport.zipimporter.invalidate_caches.__module__
print(json.dumps(out))
"""


def _run(tmp_path) -> dict:
    script = _SCRIPT.format(repo=REPO, archive=str(tmp_path / "zpkg.zip"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_not_reread(tmp_path):
    out = _run(tmp_path)
    # stock zipimport re-reads once per zipimporter of the archive
    # (sys.path entry, zpkg, zpkg.sub); so does the first patched call,
    # which has no stamp yet
    assert out["stock"] == 3
    assert out["first"] == 3
    assert out["unchanged"] == 0
    assert out["after_change"] == 0
    assert out["patch_module"] == "common_crawl___autumn_2025_spark.worker_daemon"


def test_changed_or_missing_archive_is_reread(tmp_path):
    out = _run(tmp_path)
    assert out["changed"] == 3
    assert out["b"] == "b"
    assert out["missing"] == 3


def test_import_does_not_patch():
    stock = zipimport.zipimporter.invalidate_caches
    import common_crawl___autumn_2025_spark.worker_daemon  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches is stock
