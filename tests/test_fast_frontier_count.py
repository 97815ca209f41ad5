"""Pins for run()'s post-round fast path (r7 optimization): the
one-aggregate next-frontier count must equal count(next_frontier)
exactly, round by round, and the narrow hit-row collect must
reproduce the matches delta's seed-id set (union with the prior
mirror being idempotent is what lets run() skip the delta's
window+filter job)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from common_crawl___autumn_2025_spark import synthetic as syn
from common_crawl___autumn_2025_spark.crawl.frontier import (
    MATCH_SCHEMA,
    CrawlEngine,
    CrawlSpec,
    seeds_frontier,
)


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(max_depth=2, max_rounds=3),
        dict(max_depth=2, max_rounds=3, retry_max=2),
        dict(max_depth=2, max_rounds=3, early_exit=False),
        dict(max_depth=1, max_rounds=2, scope_mode="exclude_same_netloc"),
    ],
)
def test_fast_count_and_mirror_collect_equivalences(spark, kwargs):
    spec = CrawlSpec(web=syn.WebConfig(n_hosts=40), **kwargs)
    seeds = syn.seed_urls(spec.web, spec.web.n_hosts)
    root = tempfile.mkdtemp(prefix="fastcount_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=4)
        frontier = seeds_frontier(spark, seeds)
        matches = spark.createDataFrame([], MATCH_SCHEMA)
        # seed the driver mirror the way run() does on a fresh crawl
        eng._matched_ids = set()
        eng._mirror_valid = True
        eng._matched_df_n = None
        fc = len(seeds)
        rounds = 0
        for rnd in range(spec.max_rounds):
            if fc == 0:
                break
            nxt, fetched, delta, _records, _metrics = eng.run_round(
                rnd, frontier, matches, frontier_count=fc
            )
            delta_ids = {r[0] for r in delta.select("seed_id").collect()}
            hit_ids = {
                r[0]
                for r in fetched.where(
                    (F.col("status") == 200) & (F.col("target_number") != "")
                )
                .select("seed_id")
                .collect()
            }
            # narrow hit collect ≡ delta ids beyond the prior mirror
            assert hit_ids - eng._matched_ids == delta_ids
            eng._matched_ids.update(hit_ids)
            slow = nxt.count()
            assert eng._next_frontier_count_fast(fetched) == slow
            matches = matches.unionByName(delta)
            frontier, fc = nxt, slow
            rounds += 1
        assert rounds >= 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_fast_count_refuses_invalid_mirror(spark):
    """The fast count's precondition is a real check, not an assert
    that ``python -O`` strips: a fresh engine has no trusted mirror."""
    root = tempfile.mkdtemp(prefix="fastcount_inv_")
    try:
        eng = CrawlEngine(spark, CrawlSpec(), root, partitions=2)
        assert not eng._mirror_valid
        with pytest.raises(ValueError, match="driver mirror"):
            eng._next_frontier_count_fast(spark.range(1))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_broadcast_mirror_regime_under_pending_commit(spark, monkeypatch):
    """With matched_isin_limit=1 every round past the first matched
    seed filters through the broadcast anti-join, and the fast count
    and mirror collect run while the previous round's commit is still
    in flight. Each round must start from exactly the frontier the
    previous round committed, and the crawl must equal the default
    (isin) regime's."""
    spec = CrawlSpec(web=syn.WebConfig(n_hosts=40), max_depth=2, max_rounds=3)
    seeds = syn.seed_urls(spec.web, spec.web.n_hosts)

    def crawl():
        root = tempfile.mkdtemp(prefix="bcast_regime_")
        try:
            eng = CrawlEngine(spark, spec, root, partitions=4)
            eng.run(seeds)
            latest = eng.store.latest_round()
            manifests = [eng.store.read_manifest(r) for r in range(latest + 1)]
            log = sorted(
                (r.round, r.host, r.seq, r.surt, r.status)
                for rr in range(latest + 1)
                for r in eng.store.read_table(rr, "fetch_log").collect()
            )
            m = sorted(
                (r.seed_id, r.surt, r.target_number, r.round)
                for r in eng.read_matches_cum(latest).collect()
            )
            return eng, manifests, log, m
        finally:
            shutil.rmtree(root, ignore_errors=True)

    _, _, want_log, want_m = crawl()
    monkeypatch.setattr(CrawlEngine, "matched_isin_limit", 1)
    eng, manifests, log, m = crawl()
    assert eng._matched_df_n is not None  # broadcast side was built
    assert len(manifests) == spec.max_rounds
    for prev, cur in zip(manifests, manifests[1:]):
        assert cur["metrics"]["frontier_in"] == prev["tables"]["frontier"]["rows"]
    assert log == want_log
    assert m == want_m
