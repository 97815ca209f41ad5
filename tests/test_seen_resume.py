"""SeenSet properties + checkpoint resume equality."""

import os
import shutil
import tempfile

import numpy as np
import pytest

from common_crawl___autumn_2025_spark import synthetic as syn
from common_crawl___autumn_2025_spark.crawl.frontier import CrawlEngine, CrawlSpec
from common_crawl___autumn_2025_spark.crawl.seen import (
    SeenSet,
    bloom_positions,
    packed_test,
    shard_expr,
)


def test_bloom_no_false_negatives(spark):
    """Every added surt must be Bloom-positive (FPs allowed, FNs never)."""
    root = tempfile.mkdtemp(prefix="seen_")
    try:
        seen = SeenSet(spark, root, n_shards=4, bits_per_shard=1 << 14)
        surts = [f"com,site{i:04d})/page/{i % 7}" for i in range(500)]
        df = spark.createDataFrame([(s,) for s in surts], "surt string")
        added = seen.add(df, round_no=0)
        assert added == 500
        bitmaps = seen.load_bitmaps()  # packed uint8 sidecars
        shard_of = {
            r.surt: r.shard
            for r in df.select(
                "surt", shard_expr("surt", 4).alias("shard")
            ).collect()
        }
        for s in surts:
            bm = bitmaps[shard_of[s]]
            assert bm.dtype == np.uint8 and bm.nbytes == (1 << 14) // 8
            assert packed_test(bm, bloom_positions(s, 1 << 14, 5))
        # filter_unseen removes exactly the seen ones
        probe = spark.createDataFrame(
            [(s,) for s in surts[:100]] + [(f"org,new{i})/",) for i in range(50)],
            "surt string",
        )
        out = {r.surt for r in seen.filter_unseen(probe).collect()}
        assert out == {f"org,new{i})/" for i in range(50)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_seen_incremental_and_rollback(spark):
    root = tempfile.mkdtemp(prefix="seen_rb_")
    try:
        seen = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 12)
        seen.add(spark.createDataFrame([("a)/",), ("b)/",)], "surt string"), 0)
        seen.add(spark.createDataFrame([("c)/",), ("d)/",)], "surt string"), 1)
        assert {r.surt for r in seen.exact_df().collect()} == {"a)/", "b)/", "c)/", "d)/"}
        seen.rollback(0)
        assert {r.surt for r in seen.exact_df().collect()} == {"a)/", "b)/"}
        # bloom rebuilt: c)/ and d)/ may hash anywhere, but a,b still positive
        probe = spark.createDataFrame([("a)/",), ("c)/",)], "surt string")
        out = {r.surt for r in seen.filter_unseen(probe).collect()}
        assert out == {"c)/"}
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="module")
def small_spec():
    return CrawlSpec(web=syn.WebConfig(n_hosts=12), max_depth=1, max_rounds=3)


def _crawl_state(eng):
    latest = eng.store.latest_round()
    log = sorted(
        (r.round, r.host, r.seq, r.surt, r.status)
        for rr in range(latest + 1)
        for r in eng.store.read_table(rr, "fetch_log").collect()
    )
    seen = sorted(r.surt for r in eng.seen.exact_df().collect())
    m = sorted(
        (r.seed_id, r.surt, r.target_number, r.round)
        for r in eng.read_matches_cum(latest).collect()
    )
    return log, seen, m


def test_resume_equals_uninterrupted(spark, small_spec):
    """Kill after round 0, resume → identical final state (north rule)."""
    seeds = syn.seed_urls(small_spec.web, 10)

    root_full = tempfile.mkdtemp(prefix="ck_full_")
    root_part = tempfile.mkdtemp(prefix="ck_part_")
    try:
        full = CrawlEngine(spark, small_spec, root_full, partitions=4)
        full.run(seeds)

        # interrupted run: only round 0 gets committed
        import dataclasses

        # max_rounds is an execution budget, NOT semantics: resuming
        # with a bigger budget must be allowed
        spec_one = dataclasses.replace(small_spec, max_rounds=1)
        assert spec_one.config_hash() == small_spec.config_hash()
        part = CrawlEngine(spark, small_spec, root_part, partitions=4)
        # run only the first round by committing manually
        from common_crawl___autumn_2025_spark.crawl.frontier import (
            MATCH_SCHEMA,
            seeds_frontier,
        )

        frontier = seeds_frontier(spark, seeds)
        matches = spark.createDataFrame([], MATCH_SCHEMA)
        nxt, fetched, matches, records, metrics = part.run_round(0, frontier, matches)
        part.store.commit(
            0,
            {"frontier": nxt, "fetch_log": fetched.drop("bytes", "admitted", "caption"),
             "matches": matches, "records": records},
            metrics,
            small_spec.config_hash(),
        )
        # simulate a crash mid-round-1: partial seen append without commit
        part.seen.add(spark.createDataFrame([("zz,partial)/",)], "surt string"), 1)

        resumed = CrawlEngine(spark, small_spec, root_part, partitions=4)
        resumed.run(seeds, resume=True)
        assert _crawl_state(resumed) == _crawl_state(full)
    finally:
        shutil.rmtree(root_full, ignore_errors=True)
        shutil.rmtree(root_part, ignore_errors=True)


def test_resume_refuses_config_mismatch(spark, small_spec):
    import dataclasses

    seeds = syn.seed_urls(small_spec.web, 5)
    root = tempfile.mkdtemp(prefix="ck_cfg_")
    try:
        CrawlEngine(spark, small_spec, root, partitions=2).run(seeds)
        other = dataclasses.replace(small_spec, max_depth=2)
        with pytest.raises(ValueError, match="config mismatch"):
            CrawlEngine(spark, other, root, partitions=2).run(seeds, resume=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_lineage_chain(spark, small_spec):
    seeds = syn.seed_urls(small_spec.web, 8)
    root = tempfile.mkdtemp(prefix="ck_lin_")
    try:
        eng = CrawlEngine(spark, small_spec, root, partitions=2)
        eng.run(seeds)
        chain = eng.store.lineage()
        rounds = [m["round"] for m in chain]
        assert rounds == sorted(rounds, reverse=True)
        assert chain[-1]["parent_round"] is None
        for m in chain:
            assert "fetched" in m["metrics"]
            for tbl in ("frontier", "fetch_log", "matches", "records"):
                assert tbl in m["tables"]
                assert isinstance(m["tables"][tbl]["partitions"], list)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_shard_partitioned_probe_path(spark, small_spec, monkeypatch):
    """Force the large-bitmap probe strategy (task-local shard loads)
    and assert the crawl trace still exactly matches the oracle."""
    from common_crawl___autumn_2025_spark.crawl import oracle
    from common_crawl___autumn_2025_spark.crawl.seen import SeenSet

    monkeypatch.setattr(SeenSet, "SHARD_PROBE_LIMIT_BYTES", 0)
    seeds = syn.seed_urls(small_spec.web, 10)
    o = oracle.crawl(small_spec, seeds)
    root = tempfile.mkdtemp(prefix="probe_path_")
    try:
        eng = CrawlEngine(spark, small_spec, root, partitions=4)
        eng.run(seeds)
        got = sorted(
            (r.round, r.host, r.seq, r.surt, r.status)
            for rr in range(eng.store.latest_round() + 1)
            for r in eng.store.read_table(rr, "fetch_log").collect()
        )
        want = sorted((r[0], r[1], r[2], r[3], r[7]) for r in o.fetch_log)
        assert got == want
        assert {r.surt for r in eng.seen.exact_df().collect()} == o.seen
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("shard_limit", [None, 0], ids=["in_place", "sharded"])
def test_probe_reads_no_sidecar_on_driver(spark, monkeypatch, shard_limit):
    """Probe tasks load the sidecars themselves: ``filter_unseen``
    neither reads a sidecar on the driver nor broadcasts bitmaps, in
    either probe layout. The counters run in this (driver) process;
    tasks only ever see pickled copies of them."""
    from pyspark import SparkContext

    from common_crawl___autumn_2025_spark.crawl import seen as seen_mod

    root = tempfile.mkdtemp(prefix="seen_driver_")
    try:
        seen = SeenSet(spark, root, n_shards=4, bits_per_shard=1 << 12)
        surts = [f"com,drv{i:03d})/" for i in range(60)]
        seen.add(spark.createDataFrame([(s,) for s in surts], "surt string"), 0)
        if shard_limit is not None:
            monkeypatch.setattr(SeenSet, "SHARD_PROBE_LIMIT_BYTES", shard_limit)
        calls = {"broadcast": 0, "load_sidecar": 0}
        real_broadcast, real_load = SparkContext.broadcast, seen_mod.load_sidecar

        def counting_broadcast(self, value):
            calls["broadcast"] += 1
            return real_broadcast(self, value)

        def counting_load(bloom_dir, shard):
            calls["load_sidecar"] += 1
            return real_load(bloom_dir, shard)

        monkeypatch.setattr(SparkContext, "broadcast", counting_broadcast)
        monkeypatch.setattr(seen_mod, "load_sidecar", counting_load)
        probe = spark.createDataFrame(
            [(s,) for s in surts[:20]] + [("org,fresh)/",)], "surt string"
        )
        out = {r.surt for r in seen.filter_unseen(probe).collect()}
        assert out == {"org,fresh)/"}
        assert calls == {"broadcast": 0, "load_sidecar": 0}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_resume_after_round0_crash_resets_seen(spark, small_spec):
    """A crash after seen.add but before the first commit leaves seen
    state with no committed round; resume must reset it, or every
    round-0 candidate anti-joins itself away (empty crawl, no error)."""
    seeds = syn.seed_urls(small_spec.web, 10)
    root_full = tempfile.mkdtemp(prefix="ck_r0full_")
    root_crash = tempfile.mkdtemp(prefix="ck_r0crash_")
    try:
        full = CrawlEngine(spark, small_spec, root_full, partitions=4)
        full.run(seeds)

        crash = CrawlEngine(spark, small_spec, root_crash, partitions=4)
        # simulate: round 0's seen.add ran, commit never happened
        crash.seen.add(
            spark.createDataFrame([("com,acme0000)/",)], "surt string"), 0
        )
        assert crash.store.latest_round() is None

        resumed = CrawlEngine(spark, small_spec, root_crash, partitions=4)
        resumed.run(seeds, resume=True)
        got = sorted(r.surt for r in resumed.seen.exact_df().collect())
        want = sorted(r.surt for r in full.seen.exact_df().collect())
        assert got == want
        assert resumed.store.latest_round() == full.store.latest_round()
    finally:
        shutil.rmtree(root_full, ignore_errors=True)
        shutil.rmtree(root_crash, ignore_errors=True)


def test_fresh_run_refuses_dirty_root(spark, small_spec):
    seeds = syn.seed_urls(small_spec.web, 5)
    root = tempfile.mkdtemp(prefix="ck_dirty_")
    try:
        CrawlEngine(spark, small_spec, root, partitions=2).run(seeds)
        with pytest.raises(ValueError, match="resume=True"):
            CrawlEngine(spark, small_spec, root, partitions=2).run(seeds)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_checkpoint_store_rejects_uri_scheme(spark):
    from common_crawl___autumn_2025_spark.crawl.checkpoints import (
        CheckpointStore,
    )

    with pytest.raises(ValueError, match="POSIX path"):
        CheckpointStore(spark, "hdfs:///crawl/ckpt")


def test_checkpoint_store_accepts_file_uri(spark, tmp_path, monkeypatch):
    """A ``file:`` root is its path: commits and reads land there, and
    nothing is created under the working directory (a literal
    "file:" directory would split the manifests from Spark's parquet)."""
    from common_crawl___autumn_2025_spark.crawl.checkpoints import (
        CheckpointStore,
    )

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    store = CheckpointStore(spark, "file:" + str(tmp_path / "ck"))
    assert store.root == str(tmp_path / "ck")
    m = store.commit(0, {"t": spark.range(5)}, {}, "h")
    assert m["tables"]["t"]["rows"] == 5
    assert store.latest_round() == 0
    assert sorted(r.id for r in store.read_table(0, "t").collect()) == list(range(5))
    assert os.listdir(cwd) == []


def test_seen_set_file_uri_keeps_one_store(spark, tmp_path, monkeypatch):
    """A ``file:`` seen-set path is its path: the exact table and the
    Bloom sidecars both land under it, and nothing named "file:" is
    created under the working directory. Other schemes are refused,
    as for checkpoint roots."""
    from common_crawl___autumn_2025_spark.crawl.seen import SeenSet

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    seen = SeenSet(spark, "file:" + str(tmp_path / "s"), n_shards=2, bits_per_shard=1 << 12)
    seen.add(spark.createDataFrame([("com,a)/",), ("com,b)/",)], "surt string"), 0)
    fresh = seen.filter_unseen(
        spark.createDataFrame([("com,a)/",), ("com,c)/",)], "surt string")
    )
    assert sorted(r.surt for r in fresh.collect()) == ["com,c)/"]
    assert os.listdir(cwd) == []
    assert sorted(os.listdir(tmp_path / "s")) == ["bloom", "exact"]
    with pytest.raises(ValueError, match="POSIX path"):
        SeenSet(spark, "hdfs://x/p")


def test_lineage_terminates_on_recommit(spark, small_spec, tmp_path):
    """Recommitting round 0 over an existing root must not create a
    parent cycle (parent derives from the round number now)."""
    from common_crawl___autumn_2025_spark.crawl.checkpoints import (
        CheckpointStore,
    )

    store = CheckpointStore(spark, str(tmp_path / "ck"))
    df = spark.createDataFrame([(1,)], "x int")
    for r in (0, 1, 2):
        store.commit(r, {"t": df}, {}, "h")
    # recommit round 0 — parent must stay None, lineage must terminate
    m0 = store.commit(0, {"t": df}, {}, "h")
    assert m0["parent_round"] is None
    chain = store.lineage()
    assert [m["round"] for m in chain] == [2, 1, 0]


# ---------------------------------------------------------------------------
# round-4 hardening: shared hash definition, format stamp, crash-safe
# rebuilds, sidecar diagnostics
# ---------------------------------------------------------------------------

def test_python_xxh64_matches_spark(spark):
    """The sidecar hash contract: hashing.xxh64_str must be bit-equal
    to Spark's xxhash64 column (seed 42) — string-built and
    column-built sidecars are interchangeable only because of this."""
    from pyspark.sql import functions as F

    from common_crawl___autumn_2025_spark.crawl.hashing import xxh64_str

    samples = [
        "", "a", "abc", "com,example)/path?q=1", "x" * 7, "y" * 8,
        "z" * 31, "w" * 32, "v" * 33, "unicode-é-漢字",
    ] + [f"com,host{i:03d})/p/{i}" for i in range(50)]
    rows = (
        spark.createDataFrame([(s,) for s in samples], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for r in rows:
        assert xxh64_str(r.s) == r.h & ((1 << 64) - 1), r.s


def test_sidecar_format_stamp_guards_incompatible_state(spark):
    """A SeenSet refuses sidecars stamped with a different geometry,
    and refuses UNstamped (pre-v2) shard files — both would silently
    probe false (false negatives) otherwise. The removed cuckoo
    filter kind is refused at construction."""
    root = tempfile.mkdtemp(prefix="seen_fmt_")
    try:
        seen = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 12)
        df = spark.createDataFrame([("com,a)/",), ("com,b)/",)], "surt string")
        seen.add(df, round_no=0)
        assert seen.load_bitmaps()  # same params: fine

        other = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 13)
        with pytest.raises(ValueError, match="incompatible"):
            other.load_bitmaps()
        with pytest.raises(ValueError, match="incompatible"):
            other.filter_unseen(df)
        with pytest.raises(ValueError, match="cuckoo prefilter was removed"):
            SeenSet(
                spark, root, n_shards=2, bits_per_shard=1 << 12,
                filter_kind="cuckoo",
            )

        # unstamped layout: shard files but no FORMAT file
        import os

        os.remove(seen._format_file())
        with pytest.raises(ValueError, match="unstamped"):
            seen.load_bitmaps()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rollback_rebuild_crash_recovery(spark, small_spec, monkeypatch):
    """A crash inside rollback, after the sidecars were removed and
    before the rebuild landed, leaves exact rows that no sidecar
    covers (they would probe definitely-unseen). No marker guards
    that window: the next resume re-runs rollback's full rebuild
    before any probe, so it must equal the uninterrupted run."""
    import dataclasses
    import os

    seeds = syn.seed_urls(small_spec.web, 10)
    root_full = tempfile.mkdtemp(prefix="ck_rbfull_")
    root_crash = tempfile.mkdtemp(prefix="ck_rbcrash_")
    try:
        full = CrawlEngine(spark, small_spec, root_full, partitions=4)
        full.run(seeds)

        # round 0 committed, then a partial round-1 seen append
        one = dataclasses.replace(small_spec, max_rounds=1)
        CrawlEngine(spark, one, root_crash, partitions=4).run(seeds)
        eng = CrawlEngine(spark, small_spec, root_crash, partitions=4)
        eng.seen.add(
            spark.createDataFrame([("zz,partial)/",)], "surt string"), 1
        )

        real_rebuild = SeenSet._rebuild_sidecars
        calls = []

        def crash_once(self, rows):
            calls.append(1)
            if len(calls) == 1:
                raise RuntimeError("simulated crash mid-rebuild")
            return real_rebuild(self, rows)

        monkeypatch.setattr(SeenSet, "_rebuild_sidecars", crash_once)
        crashed = CrawlEngine(spark, small_spec, root_crash, partitions=4)
        with pytest.raises(RuntimeError, match="simulated crash"):
            crashed.run(seeds, resume=True)
        bloom_dir = os.path.join(root_crash, "seen", "bloom")
        assert not any(f.startswith("shard=") for f in os.listdir(bloom_dir))

        resumed = CrawlEngine(spark, small_spec, root_crash, partitions=4)
        resumed.run(seeds, resume=True)
        assert len(calls) == 2
        assert _crawl_state(resumed) == _crawl_state(full)
    finally:
        shutil.rmtree(root_full, ignore_errors=True)
        shutil.rmtree(root_crash, ignore_errors=True)


def test_sidecar_stats_visibility(spark):
    """Per-shard Bloom bit-fill is visible to operators (ADVICE r3)."""
    root = tempfile.mkdtemp(prefix="seen_stats_")
    try:
        seen = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 12)
        df = spark.createDataFrame(
            [(f"com,s{i:03d})/",) for i in range(100)], "surt string"
        )
        seen.add(df, round_no=0)
        stats = seen.sidecar_stats()
        assert [st["shard"] for st in stats] == [0, 1]
        assert all(0.0 < st["fill"] < 0.5 for st in stats)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_double_add_retry_semantics(spark):
    """Task retries / speculative duplicates re-run sidecar updates:
    Bloom re-OR is strictly idempotent (bit-fill unchanged) and never
    produces a false negative."""
    surts = [f"com,retry{i:03d})/" for i in range(150)]
    root = tempfile.mkdtemp(prefix="seen_dup_")
    try:
        seen = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 13)
        df = spark.createDataFrame([(s,) for s in surts], "surt string")
        seen.add(df, round_no=0)
        fill1 = [st["fill"] for st in seen.sidecar_stats()]
        seen.add(df, round_no=1)  # the "retry": identical delta
        probe = spark.createDataFrame(
            [(s,) for s in surts] + [("com,fresh)/x",)], "surt string"
        )
        out = {r.surt for r in seen.filter_unseen(probe).collect()}
        assert out == {"com,fresh)/x"}  # zero false negatives
        assert [st["fill"] for st in seen.sidecar_stats()] == fill1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_filter_unseen_null_surt_passes_through(spark):
    """A NULL surt must flow through the probe as unseen (sentinel
    shard, no NaN coercion crash) — the pre-vectorization behavior."""
    root = tempfile.mkdtemp(prefix="seen_null_")
    try:
        seen = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 12)
        df = spark.createDataFrame(
            [("com,a)/",), ("com,b)/",)], "surt string"
        )
        seen.add(df, round_no=0)
        probe = spark.createDataFrame(
            [("com,a)/",), (None,), ("com,new)/",)], "surt string"
        )
        out = [r.surt for r in seen.filter_unseen(probe).collect()]
        assert sorted(out, key=str) == [None, "com,new)/"]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rollback_incompatible_sidecars_degrades_to_full_rebuild(spark):
    """rollback over sidecars written under a DIFFERENT geometry
    rebuilds them under the current spec (it never probes or merges
    the old bitmaps), with zero false negatives afterwards."""
    root = tempfile.mkdtemp(prefix="seen_fmtroll_")
    try:
        writer = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 12)
        surts = [f"com,roll{i:03d})/" for i in range(120)]
        writer.add(
            spark.createDataFrame([(s,) for s in surts], "surt string"),
            round_no=0,
        )
        writer.add(
            spark.createDataFrame([("com,later)/x",)], "surt string"),
            round_no=1,
        )
        # a resume under different geometry rolls back round 1
        other = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 13)
        other.rollback(last_good_round=0)
        probe = spark.createDataFrame(
            [(s,) for s in surts]
            + [("com,later)/x",), ("com,unseen)/y",)],
            "surt string",
        )
        out = {r.surt for r in other.filter_unseen(probe).collect()}
        # round-1 row rolled back -> unseen again; round-0 rows all
        # still filtered (no false negatives despite the incompatible
        # original sidecars)
        assert out == {"com,later)/x", "com,unseen)/y"}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rebuild_keeps_one_copy_per_exact_row(spark):
    """The same surt legitimately in two rounds' exact partitions
    (standalone SeenSet use has no seen-gate) stays seen after the
    later round is rolled back: the rebuild covers every surviving
    exact row."""
    root = tempfile.mkdtemp(prefix="seen_copies_")
    try:
        seen = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 12)
        df = spark.createDataFrame(
            [(f"com,dup{i:02d})/",) for i in range(30)], "surt string"
        )
        seen.add(df, round_no=0)
        seen.add(df, round_no=1)
        seen.rollback(0)
        probe = spark.createDataFrame(
            [(f"com,dup{i:02d})/",) for i in range(30)]
            + [("com,fresh)/z",)],
            "surt string",
        )
        out = {r.surt for r in seen.filter_unseen(probe).collect()}
        assert out == {"com,fresh)/z"}  # round-0 rows still seen
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_and_rebuilt_sidecars_are_byte_identical(spark):
    """``add``'s OR-merge and rollback's rebuild publish through the
    same kernels: over the same surts, the sidecar files after two
    incremental rounds equal, byte for byte, the files a
    ``rollback`` of the last round rebuilds from the exact table."""
    root = tempfile.mkdtemp(prefix="seen_bytes_")
    try:
        seen = SeenSet(spark, root, n_shards=4, bits_per_shard=1 << 12)
        for rnd in (0, 1):
            seen.add(
                spark.createDataFrame(
                    [(f"com,b{rnd}x{i:03d})/",) for i in range(200)], "surt string"
                ),
                round_no=rnd,
            )
        bloom = os.path.join(root, "bloom")

        def sidecars():
            return {
                f: open(os.path.join(bloom, f), "rb").read()
                for f in sorted(os.listdir(bloom))
                if f.startswith("shard=")
            }

        incremental = sidecars()
        assert len(incremental) == 4
        seen.rollback(1)
        assert sidecars() == incremental
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# a failed round leaves no engine thread behind
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def deep_spec():
    return CrawlSpec(web=syn.WebConfig(n_hosts=40), max_depth=2, max_rounds=3)


def _engine_threads():
    import threading

    return [
        t.name for t in threading.enumerate()
        if t.is_alive() and t.name.startswith(("seen-add", "commit"))
    ]


def _rdd_blocks(spark):
    """Ids of the RDDs holding blocks in the block manager (checkpoints
    included). A crawl leaks when an id appears that was not there
    before; ids may also go, as the context cleaner frees an earlier
    test's blocks at whatever JVM GC lands during the crawl."""
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _assert_replays_oracle(eng, spec, seeds):
    from common_crawl___autumn_2025_spark.crawl import oracle

    want = oracle.crawl(spec, seeds)
    log, seen, matches = _crawl_state(eng)
    assert log == sorted((r[0], r[1], r[2], r[3], r[7]) for r in want.fetch_log)
    assert seen == sorted(want.seen)
    assert matches == sorted(
        (sid, m[1], m[2], m[3]) for sid, m in want.matches.items()
    )


@pytest.mark.parametrize(
    "limits",
    [
        {},
        {"matched_isin_limit": 1},
        {"matched_isin_limit": 0, "matched_mirror_limit": 0},
    ],
    ids=["isin", "broadcast_mirror", "matches_table"],
)
def test_crawl_frees_its_checkpoints(spark, deep_spec, limits):
    """A finished crawl leaves no checkpoint blocks behind in any
    matched-seed regime. The table regime also pins the lineage: its
    plans must read no fetch older than the previous round's, or the
    freed checkpoints fail the next commit."""
    seeds = syn.seed_urls(deep_spec.web, 40)
    root = tempfile.mkdtemp(prefix="ck_blocks_")
    try:
        eng = CrawlEngine(spark, deep_spec, root, partitions=2)
        for name, value in limits.items():
            setattr(eng, name, value)
        before = _rdd_blocks(spark)
        eng.run(seeds)
        assert _rdd_blocks(spark) <= before
        _assert_replays_oracle(eng, deep_spec, seeds)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _slow_seen_add(monkeypatch, delay_s=1.5):
    """Delay every ``SeenSet.add`` — a large round's append — so the
    round's other jobs finish (or fail) while it is still running."""
    import time

    real_add = SeenSet.add

    def slow_add(self, *args, **kwargs):
        time.sleep(delay_s)
        return real_add(self, *args, **kwargs)

    monkeypatch.setattr(SeenSet, "add", slow_add)


def test_failed_fetch_leaves_no_seen_writer(spark, deep_spec, monkeypatch):
    """Round 1's fetch job fails while its seen-set append is still
    running. ``run()`` must not return before the append ends: an
    orphaned append landing after a resume's rollback would hide URLs
    from the resumed crawl and duplicate seen rows."""
    from urllib.parse import urlsplit

    from common_crawl___autumn_2025_spark.crawl.fetchers import SyntheticFetcher

    class HomepagesOnly(SyntheticFetcher):
        def fetch(self, url, attempt=0):
            if urlsplit(url).path not in ("", "/"):
                raise RuntimeError("injected fetch failure")
            return syn.fetch_page(self.web, url, attempt=attempt)

    seeds = syn.seed_urls(deep_spec.web, 40)
    root = tempfile.mkdtemp(prefix="ck_fetchfail_")
    try:
        _slow_seen_add(monkeypatch)
        failing = CrawlEngine(
            spark, deep_spec, root, partitions=2,
            fetcher=HomepagesOnly(deep_spec.web),
        )
        before = _rdd_blocks(spark)
        with pytest.raises(Exception, match="injected fetch failure"):
            failing.run(seeds)
        assert _engine_threads() == []
        assert _rdd_blocks(spark) <= before
        assert failing.store.latest_round() == 0

        resumed = CrawlEngine(spark, deep_spec, root, partitions=2)
        resumed.run(seeds, resume=True)
        assert _rdd_blocks(spark) <= before
        _assert_replays_oracle(resumed, deep_spec, seeds)
        assert resumed.seen.exact_df().count() == len(_crawl_state(resumed)[1])
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_failed_commit_resumes_exactly(spark, deep_spec, monkeypatch):
    """Round 1's checkpoint commit fails on the commit executor while
    round 2 runs: ``run()`` raises that error once round 2's seen-set
    append has ended, leaves no engine thread, and a resume from
    round 0 equals the uninterrupted run."""
    from common_crawl___autumn_2025_spark.crawl.checkpoints import CheckpointStore

    seeds = syn.seed_urls(deep_spec.web, 40)
    root_full = tempfile.mkdtemp(prefix="ck_commitfull_")
    root_fail = tempfile.mkdtemp(prefix="ck_commitfail_")
    try:
        full = CrawlEngine(spark, deep_spec, root_full, partitions=2)
        full.run(seeds)

        real_commit = CheckpointStore.commit
        failed = []

        def commit_fails_once(self, round_no, *args, **kwargs):
            if round_no == 1 and not failed:
                failed.append(round_no)
                raise RuntimeError("injected commit failure")
            return real_commit(self, round_no, *args, **kwargs)

        monkeypatch.setattr(CheckpointStore, "commit", commit_fails_once)
        _slow_seen_add(monkeypatch)
        failing = CrawlEngine(spark, deep_spec, root_fail, partitions=2)
        before = _rdd_blocks(spark)
        with pytest.raises(RuntimeError, match="injected commit failure"):
            failing.run(seeds)
        assert failed == [1]
        assert _engine_threads() == []
        assert _rdd_blocks(spark) <= before
        assert failing.store.latest_round() == 0

        resumed = CrawlEngine(spark, deep_spec, root_fail, partitions=2)
        resumed.run(seeds, resume=True)
        assert _rdd_blocks(spark) <= before
        assert _crawl_state(resumed) == _crawl_state(full)
        assert resumed.seen.exact_df().count() == len(_crawl_state(full)[1])
    finally:
        shutil.rmtree(root_full, ignore_errors=True)
        shutil.rmtree(root_fail, ignore_errors=True)


def _job_count(spark) -> int:
    """Highest job id in the status store, plus one. The store lists
    the jobs of every job group; ``getJobIdsForGroup(None)`` would see
    only the ungrouped ones and miss every job a tagged crawl runs."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1


def test_resume_reads_run_no_schema_job(spark, small_spec, tmp_path):
    """The three tables a resume reads (the latest frontier, the
    cumulative matches, the exact seen rows) are read with their
    schemas, so no read runs Spark's footer-inference job, and each
    schema is the one Spark would infer, column order included."""
    from common_crawl___autumn_2025_spark.crawl.frontier import FRONTIER_SCHEMA

    eng = CrawlEngine(spark, small_spec, str(tmp_path), partitions=2)
    eng.run(syn.seed_urls(small_spec.web, 10))
    latest = eng.store.latest_round()
    reads = [
        (
            lambda: eng.store.read_table(latest, "frontier", FRONTIER_SCHEMA),
            [eng.store._table_dir(latest, "frontier")],
        ),
        (
            lambda: eng.read_matches_cum(latest),
            eng.store.delta_table_paths("matches", latest),
        ),
        (eng.seen.exact_df, [eng.seen.exact_path]),
    ]
    for read, paths in reads:
        before = _job_count(spark)
        schema = read().schema
        assert _job_count(spark) == before
        inferred = spark.read.parquet(*paths)
        assert _job_count(spark) > before  # the job a schema spares
        assert schema == inferred.schema
    assert eng.read_matches_cum(latest).count() > 0


def test_resume_mirror_runs_no_job(spark, small_spec, tmp_path, monkeypatch):
    """A resume rebuilds the driver's matched-seed mirror from the
    committed matches files on the driver: its ids are the cumulative
    matches' seed ids, and reading them runs no Spark job (the seen
    set's rollback, which does, is stubbed out here)."""
    import dataclasses

    seeds = syn.seed_urls(small_spec.web, 10)
    eng = CrawlEngine(spark, small_spec, str(tmp_path), partitions=2)
    eng.run(seeds)
    latest = eng.store.latest_round()
    want = {r.seed_id for r in eng.read_matches_cum(latest).collect()}
    assert want
    done = dataclasses.replace(small_spec, max_rounds=latest + 1)
    resumed = CrawlEngine(spark, done, str(tmp_path), partitions=2)
    monkeypatch.setattr(resumed.seen, "rollback", lambda round_no: None)
    before = _job_count(spark)
    resumed.run(seeds, resume=True)
    assert _job_count(spark) == before
    assert resumed._mirror_valid and resumed._matched_ids == want


def test_rollback_emits_no_user_warning(spark, tmp_path):
    """The rollback rebuild's grouped pandas function carries no partial
    type hints, which made every ``applyInPandas`` warn on stderr."""
    import warnings

    seen = SeenSet(spark, str(tmp_path), n_shards=2, bits_per_shard=1 << 12)
    seen.add(spark.createDataFrame([("a)/",), ("b)/",)], "surt string"), 0)
    seen.add(spark.createDataFrame([("c)/",)], "surt string"), 1)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        seen.rollback(0)
    assert [w for w in caught if issubclass(w.category, UserWarning)] == []
    assert {r.surt for r in seen.exact_df().collect()} == {"a)/", "b)/"}


def test_old_exact_layout_fails_loudly(spark, tmp_path):
    """A seen root whose exact table still has the former
    ``shard=S/first_round=R`` layout is refused, with an error naming
    that layout, by ``add``, ``filter_unseen`` and ``rollback``. The
    crawl config hash does not cover the layout (it is unchanged), so
    only this check stops a resume over such a root."""
    root = str(tmp_path / "seen")
    seen = SeenSet(spark, root, n_shards=2, bits_per_shard=1 << 12)
    df = spark.createDataFrame([("a)/",), ("b)/",)], "surt string")
    seen.add(df, 0)
    # move round 0's files to where the old layout kept shard 0's
    old = os.path.join(seen.exact_path, "shard=0")
    os.makedirs(old)
    os.rename(
        os.path.join(seen.exact_path, "first_round=0"),
        os.path.join(old, "first_round=0"),
    )
    for call in (
        lambda: seen.add(df, 1),
        lambda: seen.filter_unseen(df),
        lambda: seen.rollback(0),
    ):
        with pytest.raises(ValueError, match="old shard=S/first_round=R layout"):
            call()
    assert CrawlSpec().config_hash() == "ae8b25ffcf0cbcaa"


def test_crawl_job_budget(spark, small_spec, tmp_path):
    """A warm 2-round crawl stays within its Spark job budget, counted
    like the benchmark's ``frontier.jobs_per_crawl`` (highest job id
    seen, plus one) but over every job group, and each round's
    seen-set append writes one parquet file. The budget is the most
    jobs such a crawl ran: 23 in each of 8 runs of one session. The
    early-exit gate as an anti-join against the round's hits, with the
    post-fetch plans over every fetch partition, ran 34-35."""
    import dataclasses

    spec = dataclasses.replace(small_spec, max_rounds=2)
    seeds = syn.seed_urls(spec.web, 10)
    CrawlEngine(spark, spec, str(tmp_path / "cold"), partitions=2).run(seeds)
    eng = CrawlEngine(spark, spec, str(tmp_path / "warm"), partitions=2)
    before = _job_count(spark)
    summary = eng.run(seeds)
    assert 0 < _job_count(spark) - before <= 23
    assert len(summary["rounds"]) == 2
    # the count also sees a job run under a job group
    sc = spark.sparkContext
    sc.setJobGroup("job-budget-probe", "a grouped job")
    try:
        before = _job_count(spark)
        spark.range(4).collect()
        assert _job_count(spark) == before + 1
    finally:
        sc._jsc.clearJobGroup()
    for rnd in (0, 1):
        rd = os.path.join(eng.seen.exact_path, f"first_round={rnd}")
        assert len([f for f in os.listdir(rd) if f.endswith(".parquet")]) == 1
