"""spark-submit entry point for the crawl engine (north rule: "runs
via spark-submit --py-files on multi-executor clusters").

Local smoke:
    python tools/run_crawl.py --hosts 100 --seeds 100 --rounds 3 \\
        --checkpoint /tmp/crawl_ckpt

Cluster:
    zip -r engine.zip common_crawl___autumn_2025_spark
    spark-submit --py-files engine.zip tools/run_crawl.py \\
        --hosts 100000 --seeds 100000 --rounds 10 \\
        --checkpoint /mnt/shared/crawl_ckpt --partitions 4096

The checkpoint root must be a POSIX path on storage shared by driver
and executors (e.g. NFS): manifest/bitmap IO uses plain filesystem
calls, so URI schemes like hdfs:// are rejected at startup
(CheckpointStore validates this). (SPARK_GRAFT_NO_LOCAL_MASTER=1
makes the session factory defer to spark-submit's --master.) Resume
after interruption with --resume.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _next_job_id(sc) -> int:
    """Highest job id in the status store, plus one. The store lists
    the jobs of every job group (``statusTracker().getJobIdsForGroup``
    sees one group at a time, and ``None`` only the ungrouped jobs)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1


def _jit_ms(spark) -> int:
    """Milliseconds the driver JVM's JIT compilers have spent so far."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return mx.getTotalCompilationTime()


def _spark_tasks(tracker, jobs: range) -> int:
    """Tasks completed by the stages of ``jobs``. A stage shared by
    two jobs counts once, and one the tracker no longer retains
    (``spark.ui.retainedJobs``/``retainedStages``) counts zero."""
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        stages.update(info.stageIds if info else ())
    infos = (tracker.getStageInfo(s) for s in stages)
    return sum(i.numCompletedTasks for i in infos if i)


def main() -> None:
    ap = argparse.ArgumentParser(description="Run crawl rounds")
    ap.add_argument("--hosts", type=int, default=100)
    ap.add_argument("--seeds", type=int, default=100)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--depth", type=int, default=1)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seen-shards", type=int, default=16)
    ap.add_argument("--seen-bits", type=int, default=1 << 20)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--expire-keep",
        type=int,
        default=None,
        metavar="N",
        help="after the run, expire all but the newest N snapshots "
        "(matches deltas compact into a base table; bounds "
        "checkpoint storage on long crawls)",
    )
    ap.add_argument(
        "--warc-out",
        default=None,
        metavar="DIR",
        help="after the run, archive every round's fetched records "
        "as member-gzip WARC/1.0 + CDX index under DIR",
    )
    ap.add_argument(
        "--seen-stats",
        action="store_true",
        help="append per-shard seen-sidecar Bloom bit-fill to the "
        "summary; O(sidecar bytes) driver reads, run at checkpoint "
        "boundaries",
    )
    args = ap.parse_args()

    from common_crawl___autumn_2025_spark import synthetic as syn
    from common_crawl___autumn_2025_spark.crawl.frontier import (
        CrawlEngine,
        CrawlSpec,
    )
    from common_crawl___autumn_2025_spark.session import get_spark

    spark = get_spark("crawl_submit")
    spec = CrawlSpec(
        web=syn.WebConfig(seed=args.seed, n_hosts=args.hosts),
        max_depth=args.depth,
        max_rounds=args.rounds,
        seen_shards=args.seen_shards,
        seen_bits_per_shard=args.seen_bits,
    )
    seeds = syn.seed_urls(spec.web, args.seeds)
    sc = spark.sparkContext
    t0 = time.time()
    job0, jit0 = _next_job_id(sc), _jit_ms(spark)
    engine = CrawlEngine(spark, spec, args.checkpoint, partitions=args.partitions)
    summary = engine.run(seeds, resume=args.resume)
    elapsed = time.time() - t0
    jit_s = (_jit_ms(spark) - jit0) / 1000
    crawl_jobs = range(job0, _next_job_id(sc))
    fetched = sum(r["fetched"] for r in summary["rounds"])
    extra = {}
    if args.warc_out is not None:
        from common_crawl___autumn_2025_spark.sources.warc import write_warc

        n_archived = 0
        # committed rounds only (an --expire-keep'd store has gaps),
        # and only rounds whose manifest actually carries records
        for r in engine.store._committed_rounds():
            if "records" not in engine.store.read_manifest(r)["tables"]:
                continue
            n_archived += write_warc(
                engine.store.read_table(r, "records"),
                args.warc_out,
                prefix=f"round{r}",
                cdx=True,
            )
        extra["warc_records"] = n_archived
        extra["warc_out"] = args.warc_out
    if args.expire_keep is not None:
        extra["expiry"] = engine.store.expire_snapshots(args.expire_keep)
    print(
        json.dumps(
            {
                "rounds": summary["rounds"],
                "config_hash": summary["config_hash"],
                "elapsed_sec": round(elapsed, 2),
                "fetched": fetched,
                "urls_per_sec": round(fetched / elapsed, 2) if elapsed else None,
                # the crawl's job budget (warc/expiry work excluded)
                "spark_jobs": len(crawl_jobs),
                "spark_tasks": _spark_tasks(sc.statusTracker(), crawl_jobs),
                # driver JVM compile time during the crawl: at small
                # sizes about half of a warm crawl's CPU
                "jit_s": round(jit_s, 3),
                "checkpoint": args.checkpoint,
                **(
                    {"seen_sidecars": engine.seen.sidecar_stats()}
                    if args.seen_stats
                    else {}
                ),
                **extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
