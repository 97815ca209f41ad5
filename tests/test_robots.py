"""Live robots.txt ingestion: parser semantics, transport drop
semantics, and replay equality against a synthetic robots server."""

from common_crawl___autumn_2025_spark import synthetic as syn
from common_crawl___autumn_2025_spark.crawl.robots import (
    build_robots_table,
    parse_robots,
    render_robots,
    robots_allowed_expr,
    robots_decision,
)


# -- parser -----------------------------------------------------------------

def test_parse_basic_group():
    dis, delay = parse_robots(
        "User-agent: *\nDisallow: /private\nDisallow: /tmp\nCrawl-delay: 2.5\n"
    )
    assert dis == ["/private", "/tmp"] and delay == 2.5


def test_parse_group_selection_most_specific_wins():
    text = (
        "User-agent: *\nDisallow: /all\n\n"
        "User-agent: spark-crawl-engine\nDisallow: /mine\nCrawl-delay: 9\n"
    )
    assert parse_robots(text) == (["/mine"], 9.0)
    # an unrelated agent falls back to *
    assert parse_robots(text, user_agent="otherbot") == (["/all"], None)


def test_parse_shared_and_merged_groups():
    # adjacent User-agent lines share one rule block
    text = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots(text, user_agent="a")[0] == ["/x"]
    assert parse_robots(text, user_agent="b")[0] == ["/x"]
    # equal-specificity groups merge (RFC 9309 combinability)
    text2 = "User-agent: *\nDisallow: /x\n\nUser-agent: *\nDisallow: /y\n"
    assert parse_robots(text2)[0] == ["/x", "/y"]


def test_parse_edge_cases():
    # empty Disallow == allow all; comments + junk lines ignored;
    # rules before any User-agent ignored; bad Crawl-delay ignored
    assert parse_robots("Disallow: /early\nUser-agent: *\nDisallow:\n") == ([], None)
    assert parse_robots("# all comments\n\nnot a directive\n") == ([], None)
    assert parse_robots("User-agent: *\nCrawl-delay: soon\n") == ([], None)
    assert parse_robots("") == ([], None)
    # Allow lines are ignored (conservative) but still delimit groups
    text = "User-agent: *\nAllow: /ok\nUser-agent: x\nDisallow: /x\n"
    assert parse_robots(text) == ([], None)
    assert parse_robots(text, user_agent="x") == (["/x"], None)


def test_render_parse_roundtrip():
    for dis, delay in ([], None), (["/private"], 0.5), (["/a", "/b"], 3.0):
        assert parse_robots(render_robots(dis, delay)) == (dis, delay)


# -- builder ----------------------------------------------------------------

def _make_server():
    """Fake transport factory — built INSIDE the test process and
    pickled by value into the executor closure (a module-level
    function in a test file pickles by reference, which executors
    cannot import)."""

    def server(url, timeout=None, headers=None):
        host = url.split("://", 1)[1].split("/", 1)[0]

        class Resp:
            def __init__(self, status_code, text=""):
                self.status_code = status_code
                self.text = text

        if host == "timeout.example":
            raise TimeoutError("boom")
        if host == "gone.example":
            return Resp(404)
        if host == "down.example":
            return Resp(503)
        if host == "rules.example":
            return Resp(
                200, "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"
            )
        return Resp(200, "User-agent: *\nDisallow:\n")

    return server


def test_build_robots_table_drop_semantics(spark):
    _server = _make_server()
    hosts = spark.createDataFrame(
        [(h,) for h in (
            "rules.example", "timeout.example", "gone.example",
            "down.example", "open.example",
        )],
        "host string",
    )
    rows = {
        r.host: r
        for r in build_robots_table(spark, hosts, transport=_server).collect()
    }
    assert rows["rules.example"].disallow == ["/private"]
    assert rows["rules.example"].crawl_delay == 2.0
    # reference drop semantics: error / non-200 -> NULL rules
    for h in ("timeout.example", "gone.example", "down.example"):
        assert rows[h].disallow is None and rows[h].crawl_delay is None
    assert rows["open.example"].disallow == []

    # RFC posture: 5xx -> full disallow when strict_5xx
    strict = {
        r.host: r
        for r in build_robots_table(
            spark, hosts, transport=_server, strict_5xx=True
        ).collect()
    }
    assert strict["down.example"].disallow == ["/"]
    assert strict["timeout.example"].disallow is None  # transport != 5xx


def _make_synthetic_robots_server():
    """Serves each synthetic host's robots_for_host rules as a real
    robots.txt body — the replay-equality fixture (closure-pickled)."""

    def server(url, timeout=None, headers=None):
        from common_crawl___autumn_2025_spark import synthetic as s
        from common_crawl___autumn_2025_spark.crawl.robots import (
            render_robots as rr,
        )

        host = url.split("://", 1)[1].split("/", 1)[0]
        dis, delay = s.robots_for_host(s.WebConfig(), host)

        class Resp:
            status_code = 200

            def __init__(self, text):
                self.text = text

        return Resp(rr(dis, delay))

    return server


def test_replay_equality_with_synthetic_robots_server(spark):
    """Fetching + parsing live robots bodies must reproduce the
    synthetic robots table EXACTLY — the politeness schedule (and so
    the whole crawl ordering) is then identical by construction."""
    _synthetic_robots_server = _make_synthetic_robots_server()
    cfg = syn.WebConfig()
    n = 40
    truth = syn.robots_pandas(cfg, n_hosts=n)
    hosts = spark.createDataFrame(truth[["host"]])
    built = (
        build_robots_table(
            spark, hosts, transport=_synthetic_robots_server
        )
        .toPandas()
        .sort_values("host")
        .reset_index(drop=True)
    )
    truth = truth.sort_values("host").reset_index(drop=True)
    assert list(built["host"]) == list(truth["host"])
    assert [list(x) for x in built["disallow"]] == [
        list(x) for x in truth["disallow"]
    ]
    assert list(built["crawl_delay"]) == list(truth["crawl_delay"])


def test_schedule_with_built_table_matches(spark):
    """End to end: politeness.schedule over the BUILT table equals
    schedule over the synthetic truth table."""
    from common_crawl___autumn_2025_spark.crawl.politeness import schedule

    _synthetic_robots_server = _make_synthetic_robots_server()

    cfg = syn.WebConfig()
    truth_pdf = syn.robots_pandas(cfg, n_hosts=20)
    hosts = list(truth_pdf["host"])
    frontier = spark.createDataFrame(
        [
            (h, f"http://{h}/p{i}", f"surt-{h}-{i:02d}", 0)
            for h in hosts
            for i in range(5)
        ]
        + [(hosts[0], f"http://{hosts[0]}/private/x", "surt-priv", 0)],
        "host string, url string, surt string, priority int",
    )
    built = build_robots_table(
        spark, spark.createDataFrame(truth_pdf[["host"]]),
        transport=_synthetic_robots_server,
    )
    truth = spark.createDataFrame(truth_pdf)
    cleanup = []
    cols = ["host", "surt", "seq", "fetch_ts_offset", "batch_id"]
    a = {
        tuple(r)
        for r in schedule(frontier, built, cleanup=cleanup).select(*cols).collect()
    }
    b = {
        tuple(r)
        for r in schedule(frontier, truth, cleanup=cleanup).select(*cols).collect()
    }
    for df in cleanup:
        df.unpersist()
    assert a == b and len(a) == 100  # /private row excluded in both


def test_parse_allow_directives_flag():
    """Default posture ignores Allow (reference-matching); the flag
    encodes Allow lines as '!'-prefixed entries for longest-match."""
    body = (
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/area\n"
        "Allow: notapath\n"  # RFC patterns start with '/': dropped
    )
    assert parse_robots(body) == (["/private"], None)
    dis, _ = parse_robots(body, allow_directives=True)
    assert dis == ["/private", "!/private/area"]
    # render/parse round-trips the encoding
    dis2, _ = parse_robots(render_robots(dis, None), allow_directives=True)
    assert dis2 == dis


def test_robots_decision_longest_match():
    rules = ["/private", "!/private/area"]
    assert not robots_decision(rules, "/private/x")
    assert robots_decision(rules, "/private/area")  # longer Allow wins
    assert robots_decision(rules, "/private/area/deep")
    assert robots_decision(rules, "/public")  # no match = allow
    assert robots_decision(None, "/anything")
    # tie goes to Allow (RFC 9309 least-restrictive)
    assert robots_decision(["/p", "!/p"], "/p/x")
    # a LONGER Disallow beats a shorter Allow
    assert not robots_decision(["!/a", "/a/b"], "/a/b/c")
    # allow-free arrays reduce to the historical prefix check
    assert robots_decision(["/legal"], "/about")
    assert not robots_decision(["/legal"], "/legal/tos")


def test_robots_allowed_expr_matches_python_decision(spark):
    """The declarative Catalyst expression and the Python probe-path
    function agree on every (rules, path) combination."""
    import itertools

    from pyspark.sql import functions as F

    rule_sets = [
        None,
        [],
        ["/private"],
        ["/private", "!/private/area"],
        ["/p", "!/p"],
        ["!/a", "/a/b"],
        ["/x", "/x/y", "!/x/y/z"],
    ]
    paths = ["/", "/private", "/private/area", "/private/area/d",
             "/p/x", "/a/b/c", "/x/y/z/w", "/x/y/q"]
    rows = [(i, rs, p) for i, (rs, p) in
            enumerate(itertools.product(rule_sets, paths))]
    df = spark.createDataFrame(
        rows, "id int, rules array<string>, path string"
    )
    got = {
        r.id: r.ok
        for r in df.select(
            "id", robots_allowed_expr(F.col("rules"), F.col("path")).alias("ok")
        ).collect()
    }
    for i, rs, p in rows:
        assert got[i] == robots_decision(rs, p), (rs, p)


def test_allow_directive_replay_equality(spark):
    """Engine with an Allow-bearing robots table (the broadcast-join
    path) reproduces the oracle given the same rules, and actually
    fetches the allowed-within-disallowed page the ignore-Allow
    posture would skip."""
    import shutil
    import tempfile

    from common_crawl___autumn_2025_spark.crawl import oracle
    from common_crawl___autumn_2025_spark.crawl.frontier import (
        CrawlEngine,
        CrawlSpec,
    )

    spec = CrawlSpec(web=syn.WebConfig(n_hosts=8), max_depth=1, max_rounds=2)
    hosts = [syn.host_name(spec.web, i) for i in range(8)]
    seeds = syn.seed_urls(spec.web, 8) + [
        f"http://{hosts[0]}/private/area",  # allowed by the Allow rule
        f"http://{hosts[0]}/private/x",  # still disallowed
        f"http://{hosts[1]}/private/area",  # host without Allow: dropped
    ]
    rules = {}
    for i, h in enumerate(hosts):
        dis, delay = syn.robots_for_host(spec.web, h)
        enc = list(dis) + (["!/private/area"] if i == 0 else [])
        rules[h] = (tuple(enc), float(delay))
    want = oracle.crawl(spec, seeds, robots=rules)
    surts = {r[3] for r in want.fetch_log}
    from common_crawl___autumn_2025_spark.canonical import surt as surt_of

    assert surt_of(f"http://{hosts[0]}/private/area") in surts
    assert surt_of(f"http://{hosts[0]}/private/x") not in surts
    assert surt_of(f"http://{hosts[1]}/private/area") not in surts

    robots_df = spark.createDataFrame(
        [(h, list(r[0]), r[1]) for h, r in rules.items()],
        "host string, disallow array<string>, crawl_delay double",
    )

    root = tempfile.mkdtemp(prefix="crawl_allow_")
    try:
        eng = CrawlEngine(spark, spec, root, robots=robots_df, partitions=4)
        eng.run(seeds)
        got = sorted(
            (row.round, row.host, row.seq, row.surt, row.url, row.depth,
             row.seed_id, row.status, row.fetch_ts_offset,
             row.target_number)
            for r in range(eng.store.latest_round() + 1)
            for row in eng.store.read_table(r, "fetch_log").collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == sorted(want.fetch_log)


def test_parse_robots_never_crashes_on_arbitrary_text():
    """Foreign robots.txt bodies are arbitrary bytes-decoded text; the
    parser must always return (list[str], float|None) and never
    raise — hypothesis fuzz over structured-ish and raw junk."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    line = st.one_of(
        st.text(max_size=30),
        st.builds(
            lambda k, v: f"{k}: {v}",
            st.sampled_from(
                ["User-agent", "user-AGENT", "Disallow", "Allow",
                 "Crawl-delay", "Sitemap", "junk", ":", ""]
            ),
            st.text(max_size=15),
        ),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(line, max_size=20))
    def run(lines):
        dis, delay = parse_robots("\n".join(lines))
        assert isinstance(dis, list)
        assert all(isinstance(d, str) and d for d in dis)
        assert delay is None or isinstance(delay, float)

    run()
