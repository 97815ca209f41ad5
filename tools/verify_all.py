"""One-shot verification battery — everything the correctness story
rests on, in dependency order:

1. full pytest suite (oracle replay, resume, properties, operators)
2. driver-contract mirror at sf0.01 (every queries() entry vs DuckDB)
3. optionally the same at sf0.1 (value stability at 10x) with --deep
4. bench smoke (one JSON line) at sf0.01 unless --sf given
5. one short traced run of each repo benchmark workload
   (``perfbench/run.py``); its last line must report ``failed: 0``
   and ``correct: true``. Both runs share a fresh, temporary
   ``XDG_CACHE_HOME``, so the first dumps the driver JVM's class
   archive and the second starts from it

Exit code 0 only if every stage passes.

Usage: python tools/verify_all.py [--deep] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str], env: dict | None = None) -> bool:
    print(f"== {label}: {' '.join(cmd)}", flush=True)
    e = dict(os.environ)
    e.update(env or {})
    rc = subprocess.run(cmd, cwd=REPO, env=e).returncode
    print(f"== {label}: {'OK' if rc == 0 else f'FAILED rc={rc}'}", flush=True)
    return rc == 0


def run_perfbench(py: str, workload: str, cache: str) -> bool:
    cmd = [py, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", "1"]
    label = f"perfbench {workload}"
    print(f"== {label}: {' '.join(cmd)}", flush=True)
    env = dict(os.environ, XDG_CACHE_HOME=cache)
    proc = subprocess.run(cmd, cwd=REPO, env=env, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        last = {}
    ok = (proc.returncode == 0 and last.get("failed") == 0
          and last.get("correct") is True)
    summary = {k: last.get(k) for k in ("correct", "attempted", "failed")}
    print(f"== {label}: {'OK' if ok else 'FAILED'} "
          f"rc={proc.returncode} {summary}", flush=True)
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--deep", action="store_true",
                    help="also run the oracle mirror at sf0.1")
    ap.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="sf dir for the bench smoke")
    args = ap.parse_args()
    py = sys.executable
    ok = run("pytest", [py, "-m", "pytest", "tests/", "-q"])
    ok &= run("oracle sf0.01", [py, "tools/check_oracle.py",
                                "/root/testdata/sf0.01"])
    if args.deep:
        ok &= run("oracle sf0.1", [py, "tools/check_oracle.py",
                                   "/root/testdata/sf0.1"])
    ok &= run("bench", [py, "bench.py"], env={"SPARK_GRAFT_SF_DIR": args.sf})
    with tempfile.TemporaryDirectory(prefix="verify_cds_") as cache:
        for workload in ("crawl_resume", "catalog"):
            ok &= run_perfbench(py, workload, cache)
    print("== ALL OK" if ok else "== FAILURES ABOVE")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
