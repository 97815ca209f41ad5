"""Crawl-trace replay: Spark engine ≡ single-threaded oracle.

This is the correctness gate of BASELINE.json:metric — "exact
crawl-order + URL-seen match vs reference". The oracle implements the
reference's crawl semantics (company_number_scrape.py:43-64,
Matching_with_recursion.py:480-515) single-threaded; the engine must
reproduce its fetch log (per-host sequences + politeness offsets),
seen set, and matches exactly, at any parallelism, and the fetched
image payloads must satisfy the per-row invariant (exact pixels for
lossless formats, PSNR >= 40 dB floor, caption equality).
"""

import shutil
import tempfile

import numpy as np
import pytest

from common_crawl___autumn_2025_spark import synthetic as syn
from common_crawl___autumn_2025_spark.codecs import decode_image, phash64, psnr
from common_crawl___autumn_2025_spark.crawl import oracle
from common_crawl___autumn_2025_spark.crawl.frontier import CrawlEngine, CrawlSpec


@pytest.fixture(scope="module")
def spec():
    return CrawlSpec(web=syn.WebConfig(n_hosts=20), max_depth=1, max_rounds=3)


@pytest.fixture(scope="module")
def seeds(spec):
    return syn.seed_urls(spec.web, 15)


@pytest.fixture(scope="module")
def oracle_result(spec, seeds):
    return oracle.crawl(spec, seeds)


@pytest.fixture(scope="module")
def engine_run(spark, spec, seeds):
    root = tempfile.mkdtemp(prefix="crawl_replay_")
    eng = CrawlEngine(spark, spec, root, partitions=8)
    summary = eng.run(seeds)
    yield eng, summary
    shutil.rmtree(root, ignore_errors=True)


def _engine_fetch_log(eng):
    store = eng.store
    rows = []
    for r in range(store.latest_round() + 1):
        for row in store.read_table(r, "fetch_log").collect():
            rows.append(
                (row.round, row.host, row.seq, row.surt, row.url, row.depth,
                 row.seed_id, row.status, row.fetch_ts_offset, row.target_number)
            )
    return sorted(rows)


def test_fetch_log_identical(engine_run, oracle_result):
    eng, _ = engine_run
    assert _engine_fetch_log(eng) == sorted(oracle_result.fetch_log)


def test_seen_set_identical(engine_run, oracle_result):
    eng, _ = engine_run
    eng_seen = {row.surt for row in eng.seen.exact_df().collect()}
    assert eng_seen == oracle_result.seen


def test_matches_identical(engine_run, oracle_result):
    eng, _ = engine_run
    latest = eng.store.latest_round()
    eng_matches = {
        row.seed_id: (row.url, row.surt, row.target_number, row.round)
        for row in eng.read_matches_cum(latest).collect()
    }
    assert eng_matches == oracle_result.matches


def test_payload_invariants(engine_run, spec):
    """Per-row invariant vs reference pixels: exact + PSNR + caption."""
    eng, _ = engine_run
    checked = 0
    for r in range(eng.store.latest_round() + 1):
        for row in eng.store.read_table(r, "records").limit(50).collect():
            # reference pixels come from the same pure fetcher, re-derived
            # independently from the fetch_log URL
            log = eng.store.read_table(r, "fetch_log").where(
                f"image_id = '{row.image_id}'"
            ).collect()
            page = syn.fetch_page(spec.web, log[0].url)
            ref_px = decode_image(page.image_bytes, page.image_fmt)
            got_px = decode_image(bytes(row.bytes), row.fmt)
            assert np.array_equal(ref_px, got_px)
            assert psnr(ref_px, got_px) >= 40.0
            assert row.caption == page.caption
            assert row.phash == phash64(got_px)
            checked += 1
    assert checked > 10


def test_parallelism_invariance(spark, spec, seeds, oracle_result):
    """Same crawl at a different partitioning → identical trace."""
    root = tempfile.mkdtemp(prefix="crawl_par2_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=2)
        eng.run(seeds)
        assert _engine_fetch_log(eng) == sorted(oracle_result.fetch_log)
        eng_seen = {row.surt for row in eng.seen.exact_df().collect()}
        assert eng_seen == oracle_result.seen
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_politeness_gaps(engine_run, spec):
    """For every host: consecutive scheduled fetches ≥ crawl_delay apart."""
    eng, _ = engine_run
    for r in range(eng.store.latest_round() + 1):
        rows = eng.store.read_table(r, "fetch_log").collect()
        by_host = {}
        for row in rows:
            by_host.setdefault(row.host, []).append(row)
        for host, hrows in by_host.items():
            _, delay = syn.robots_for_host(spec.web, host)
            hrows.sort(key=lambda x: x.seq)
            for a, b in zip(hrows, hrows[1:]):
                assert b.seq == a.seq + 1  # dense per-host sequence
                assert b.fetch_ts_offset - a.fetch_ts_offset >= delay - 1e-9


def test_robots_never_fetched(engine_run, spec):
    eng, _ = engine_run
    for r in range(eng.store.latest_round() + 1):
        for row in eng.store.read_table(r, "fetch_log").collect():
            disallow, _ = syn.robots_for_host(spec.web, row.host)
            path = "/" + row.url.split("://", 1)[1].split("/", 1)[1] if "/" in row.url.split("://", 1)[1] else "/"
            assert not any(path.startswith(d) for d in disallow)


def test_larger_web_fetch_set_identical(spark):
    """Regression: rows silently vanished between seen-add and fetch
    when the round's cached relations were released before the commit
    writes materialized the fetch (visible only at hundreds of hosts,
    cores=8). Engine fetch set must equal the oracle's exactly."""
    import shutil
    import tempfile

    spec2 = CrawlSpec(web=syn.WebConfig(n_hosts=400), max_depth=1, max_rounds=2)
    seeds2 = syn.seed_urls(spec2.web, 400)
    o = oracle.crawl(spec2, seeds2)
    root = tempfile.mkdtemp(prefix="crawl_lg_")
    try:
        eng = CrawlEngine(spark, spec2, root, partitions=8)
        eng.run(seeds2)
        got = {
            (row.round, row.host, row.seq, row.surt, row.status)
            for r in range(eng.store.latest_round() + 1)
            for row in eng.store.read_table(r, "fetch_log").collect()
        }
        want = {(r[0], r[1], r[2], r[3], r[7]) for r in o.fetch_log}
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_no_early_exit_matches_first_ever_only(spark):
    """With early_exit=False a seed keeps crawling after matching, but
    the matches table still records only the FIRST-ever match per seed
    (oracle semantics) — no duplicate seed rows across rounds."""
    spec_ne = CrawlSpec(
        web=syn.WebConfig(n_hosts=20), max_depth=1, max_rounds=3,
        early_exit=False,
    )
    seeds_ne = syn.seed_urls(spec_ne.web, 15)
    o = oracle.crawl(spec_ne, seeds_ne)
    root = tempfile.mkdtemp(prefix="crawl_ne_")
    try:
        eng = CrawlEngine(spark, spec_ne, root, partitions=4)
        eng.run(seeds_ne)
        latest = eng.store.latest_round()
        rows = eng.read_matches_cum(latest).collect()
        assert len(rows) == len({r.seed_id for r in rows})  # no dup seeds
        got = {r.seed_id: (r.url, r.surt, r.target_number, r.round) for r in rows}
        assert got == o.matches
        assert _engine_fetch_log(eng) == sorted(o.fetch_log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_salted_politeness_path_identical(spark, spec, seeds, oracle_result):
    """Force the range-salted politeness construction (the big-round
    skew path) and assert the trace still matches the oracle."""
    root = tempfile.mkdtemp(prefix="crawl_salted_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=4)
        eng.salted_politeness_threshold = 0
        eng.run(seeds)
        assert _engine_fetch_log(eng) == sorted(oracle_result.fetch_log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_retry_backoff_replay_identical(spark):
    """Transient-failure retry semantics (reference: 3 retries, 60s
    backoff, Matching_P1.py:298-327): with a high failure rate and
    retry_max=3, the engine's fetch log — including re-attempt rows
    and backoff-shifted politeness offsets — must equal the oracle's,
    and some retries must actually succeed."""
    spec_r = CrawlSpec(
        web=syn.WebConfig(n_hosts=25, fetch_failure_rate=0.25),
        max_depth=1, max_rounds=4, retry_max=3, retry_backoff_s=60.0,
    )
    seeds_r = syn.seed_urls(spec_r.web, 20)
    o = oracle.crawl(spec_r, seeds_r)
    root = tempfile.mkdtemp(prefix="crawl_retry_")
    try:
        eng = CrawlEngine(spark, spec_r, root, partitions=4)
        eng.run(seeds_r)
        got = _engine_fetch_log(eng)
        assert got == sorted(o.fetch_log)
        # the scenario exercised real retries: same surt fetched in
        # multiple rounds, at least one eventually succeeding
        by_surt = {}
        for row in got:
            by_surt.setdefault(row[3], []).append(row)
        multi = {s: rows for s, rows in by_surt.items() if len(rows) > 1}
        assert multi, "no retries happened — scenario too easy"
        assert any(
            any(r[7] == 200 for r in rows) and any(r[7] == 503 for r in rows)
            for rows in multi.values()
        ), "no retry ever recovered"
        # backoff visible: a retried row's offset includes the 60s term
        assert any(
            r[8] >= 60.0 for rows in multi.values() for r in rows[1:]
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_exclude_same_netloc_scope_mode(spark):
    """P8 scope mode (Scrape_Utils.py:20-22): with
    scope_mode='exclude_same_netloc' every expanded link leaves its
    page's netloc, and the trace still equals the oracle's (which
    shares admit_link, so this exercises the distributed plumbing
    under the alternate policy)."""
    spec_p8 = CrawlSpec(
        web=syn.WebConfig(n_hosts=20), max_depth=1, max_rounds=3,
        scope_mode="exclude_same_netloc",
    )
    seeds_p8 = syn.seed_urls(spec_p8.web, 15)
    o = oracle.crawl(spec_p8, seeds_p8)
    root = tempfile.mkdtemp(prefix="crawl_p8_")
    try:
        eng = CrawlEngine(spark, spec_p8, root, partitions=4)
        eng.run(seeds_p8)
        assert _engine_fetch_log(eng) == sorted(o.fetch_log)
        # every depth-1 fetch is on a different netloc than its parent
        for r in range(1, eng.store.latest_round() + 1):
            for row in eng.store.read_table(r - 1, "frontier").collect():
                if row.parent_url is not None:
                    from common_crawl___autumn_2025_spark.canonical import (
                        host_of,
                    )

                    assert row.host != host_of(row.parent_url)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_retry_backoff_salted_path_identical(spark):
    """Retries + the range-salted politeness construction: the
    distributed running retry-sum (with_host_sequence cumsum) must
    reproduce the oracle's cumulative backoff offsets exactly."""
    spec_rs = CrawlSpec(
        web=syn.WebConfig(n_hosts=25, fetch_failure_rate=0.25),
        max_depth=1, max_rounds=3, retry_max=2, retry_backoff_s=60.0,
    )
    seeds_rs = syn.seed_urls(spec_rs.web, 20)
    o = oracle.crawl(spec_rs, seeds_rs)
    root = tempfile.mkdtemp(prefix="crawl_retry_salted_")
    try:
        eng = CrawlEngine(spark, spec_rs, root, partitions=4)
        eng.salted_politeness_threshold = 0  # force the salted path
        eng.run(seeds_rs)
        assert _engine_fetch_log(eng) == sorted(o.fetch_log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_explicit_robots_dataframe_identical(spark, spec, seeds, oracle_result):
    """Passing robots as a DataFrame (always the broadcast-join path)
    must produce the same trace as the default lazy per-worker
    computation."""
    robots_df = spark.createDataFrame(
        syn.robots_pandas(spec.web),
        "host string, disallow array<string>, crawl_delay double",
    )
    root = tempfile.mkdtemp(prefix="crawl_robotsdf_")
    try:
        eng = CrawlEngine(spark, spec, root, robots=robots_df, partitions=4)
        eng.run(seeds)
        assert _engine_fetch_log(eng) == sorted(oracle_result.fetch_log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_robots_table_null_rules_replay_identical(
    spark, spec, seeds, oracle_result
):
    """A robots table with a NULL crawl delay (host 0) and NULL rules
    (host 1) — what ``build_robots_table`` writes for a robots.txt
    without Crawl-delay and for a failed fetch — reads as allow-all at
    the 1.0 s default delay, and the engine replays the oracle given
    the same rows. The NULLs must actually change the crawl."""
    pdf = syn.robots_pandas(spec.web)
    rows = [
        (r.host, list(r.disallow), float(r.crawl_delay))
        for r in pdf.itertuples()
    ]
    rows[0] = (rows[0][0], rows[0][1], None)
    rows[1] = (rows[1][0], None, rows[1][2])
    want = oracle.crawl(
        spec, seeds, robots={h: (dis, delay) for h, dis, delay in rows}
    )
    assert sorted(want.fetch_log) != sorted(oracle_result.fetch_log)
    robots_df = spark.createDataFrame(
        rows, "host string, disallow array<string>, crawl_delay double"
    )
    root = tempfile.mkdtemp(prefix="crawl_robotsnull_")
    try:
        eng = CrawlEngine(spark, spec, root, robots=robots_df, partitions=4)
        eng.run(seeds)
        assert _engine_fetch_log(eng) == sorted(want.fetch_log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_matched_mirror_bound_replay_identical(
    spark, spec, seeds, oracle_result, monkeypatch
):
    """Force the no-driver-mirror regime (matched_mirror_limit=0 →
    every early-exit/first-match filter anti-joins the matches table):
    replay equality must hold, and a resume must NOT rebuild the
    driver id set."""
    monkeypatch.setattr(CrawlEngine, "matched_isin_limit", 0)
    monkeypatch.setattr(CrawlEngine, "matched_mirror_limit", 0)
    root = tempfile.mkdtemp(prefix="crawl_mirrorbound_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=4)
        eng.run(seeds)
        assert eng._mirror_valid is False and eng._matched_ids == set()
        assert _engine_fetch_log(eng) == sorted(oracle_result.fetch_log)
        latest = eng.store.latest_round()
        got = {
            row.seed_id: (row.url, row.surt, row.target_number, row.round)
            for row in eng.read_matches_cum(latest).collect()
        }
        assert got == oracle_result.matches

        resumed = CrawlEngine(spark, spec, root, partitions=4)
        resumed.run(seeds, resume=True)
        # resume saw a matches table above the limit: no driver collect
        assert resumed._mirror_valid is False
        assert resumed._matched_ids == set()
        assert _engine_fetch_log(resumed) == sorted(oracle_result.fetch_log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_injected_fetcher_identical(spark, spec, seeds, oracle_result):
    """The fetcher seam: explicitly injecting the synthetic fetcher is
    byte-identical to the default."""
    from common_crawl___autumn_2025_spark.crawl.fetchers import SyntheticFetcher

    root = tempfile.mkdtemp(prefix="crawl_fetcher_")
    try:
        eng = CrawlEngine(
            spark, spec, root, partitions=4, fetcher=SyntheticFetcher(spec.web)
        )
        eng.run(seeds)
        assert _engine_fetch_log(eng) == sorted(oracle_result.fetch_log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_null_target_is_no_hit(spark, spec, seeds, oracle_result):
    """A fetcher may report no target as NULL where the synthetic one
    reports ``""``. The matches and the early-exit gate must read NULL
    as no hit: a seed whose pages all carry NULL still expands, so the
    fetch log (NULL read as ``""``), seen set and matches equal the
    oracle's."""
    import dataclasses

    from common_crawl___autumn_2025_spark.crawl.fetchers import SyntheticFetcher

    class NullTargets(SyntheticFetcher):
        def fetch(self, url, attempt=0):
            page = super().fetch(url, attempt=attempt)
            return dataclasses.replace(page, target_number=page.target_number or None)

    root = tempfile.mkdtemp(prefix="crawl_nulltarget_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=4, fetcher=NullTargets(spec.web))
        eng.run(seeds)
        log = _engine_fetch_log(eng)
        assert any(r[-1] is None for r in log)
        assert sorted(r[:-1] + (r[-1] or "",) for r in log) == sorted(
            oracle_result.fetch_log
        )
        assert {r.surt for r in eng.seen.exact_df().collect()} == oracle_result.seen
        got = {
            r.seed_id: (r.url, r.surt, r.target_number, r.round)
            for r in eng.read_matches_cum(eng.store.latest_round()).collect()
        }
        assert got == oracle_result.matches
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_http_fetcher_timeout_drop_semantics():
    """HttpFetcher maps transport errors to status 0 (drop, never
    raise — reference company_number_scrape.py:17-25) and parses the
    target probe + links from a 200 body; no network involved (fake
    transport)."""
    from common_crawl___autumn_2025_spark.crawl.fetchers import HttpFetcher

    class Resp:
        def __init__(self, status_code, text):
            self.status_code, self.text = status_code, text

    html = (
        '<html><body><p>Company Number 01234567 registered.</p>'
        '<a href="/about">about</a></body></html>'
    )

    def ok_transport(url, timeout, headers):
        assert timeout == 3.5 and "User-Agent" in headers
        return Resp(200, html)

    def boom_transport(url, timeout, headers):
        raise TimeoutError("simulated network timeout")

    f = HttpFetcher(timeout_s=3.5, transport=ok_transport)
    page = f.fetch("example.com/x")
    assert page.status == 200
    assert page.target_number == "01234567"
    assert f.extract_links(page) == ["/about"]

    dropped = HttpFetcher(timeout_s=3.5, transport=boom_transport).fetch(
        "http://example.com/"
    )
    assert dropped.status == 0 and dropped.html == ""

    not_found = HttpFetcher(
        timeout_s=3.5, transport=lambda url, timeout, headers: Resp(404, "")
    ).fetch("http://example.com/missing")
    assert not_found.status == 404 and not_found.target_number == ""


def test_malformed_and_duplicate_seeds_replay_identical(spark, spec):
    """Dirty seed lists (empty strings, scheme-only, spaces,
    duplicates, uppercase/ports, proto-relative) must not crash the
    distributed loop and must replay the oracle exactly — both sides
    share only the pure canonicalization functions."""
    seeds = [
        "",                       # canonicalizes to ''
        "http://",                # degenerate
        "   ",                    # whitespace
        "www.acme0001.co.uk",     # valid, scheme-less
        "HTTP://WWW.ACME0001.CO.UK:80/",  # same page, shouty + port
        "www.acme0001.co.uk",     # exact duplicate
        "//www.acme0002.com/x",   # proto-relative junk path
        "https://www.acme0003.org",
        "not a url",
    ]
    o = oracle.crawl(spec, seeds)
    root = tempfile.mkdtemp(prefix="crawl_dirty_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=4)
        eng.run(seeds)
        assert _engine_fetch_log(eng) == sorted(o.fetch_log)
        assert {r.surt for r in eng.seen.exact_df().collect()} == o.seen
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_http_fetcher_image_record_fields():
    """HttpFetcher fills the input_hint record fields from the page's
    first <img>: payload sniffed by magic bytes, decoded with the
    engine's own codecs (dims + phash), caption from the alt text;
    an undecodable payload keeps its bytes with w=h=0 (flag-don't-
    crash), and image errors never propagate."""
    from common_crawl___autumn_2025_spark import codecs as C
    from common_crawl___autumn_2025_spark.crawl.fetchers import (
        HttpFetcher,
        sniff_image_fmt,
    )

    pixels = syn.make_image(syn.h64("httpimg", 1))
    png = C.encode_image(pixels, "png")
    assert sniff_image_fmt(png) == "png"
    assert sniff_image_fmt(C.encode_image(pixels, "jpeg")) == "jpeg"
    assert sniff_image_fmt(b"garbage") == ""

    html = (
        '<html><body><p>Company Number 76543210</p>'
        '<img src="/media/photo.png" alt="a test caption">'
        '<a href="/about">about</a></body></html>'
    )

    class Resp:
        def __init__(self, status_code, text="", content=b""):
            self.status_code, self.text, self.content = status_code, text, content

    def transport(url, timeout, headers):
        if url.endswith("/media/photo.png"):
            return Resp(200, content=png)
        if url.endswith("/broken"):
            return Resp(200, text='<img src="/media/bad.png">')
        if url.endswith("/media/bad.png"):
            # PNG magic but corrupt body: sniffs png, decode fails
            return Resp(200, content=b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
        return Resp(200, text=html)

    page = HttpFetcher(transport=transport).fetch("http://example.com/")
    assert page.status == 200 and page.target_number == "76543210"
    assert page.image_fmt == "png" and page.image_bytes == png
    assert (page.h, page.w) == pixels.shape[:2]
    assert page.phash == C.phash64(pixels)
    assert page.caption == "a test caption"

    bad = HttpFetcher(transport=transport).fetch("http://example.com/broken")
    assert bad.image_fmt == "png" and bad.w == 0 and bad.h == 0

    plain = HttpFetcher(transport=transport, fetch_images=False).fetch(
        "http://example.com/"
    )
    assert plain.image_bytes == b""

    # src and alt must come from the SAME tag: first img (fetched)
    # has no alt; the second img's caption must NOT be borrowed
    def transport2(url, timeout, headers):
        if url.endswith("/media/photo.png"):
            return Resp(200, content=png)
        return Resp(
            200,
            text='<img src="/media/photo.png">'
                 '<img src="/media/other.png" alt="wrong caption">',
        )

    paired = HttpFetcher(transport=transport2).fetch("http://example.com/")
    assert paired.image_bytes == png and paired.caption == ""
