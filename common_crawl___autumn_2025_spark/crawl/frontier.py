"""The crawl round driver: frontier → dedup → schedule → fetch → admit.

Generalizes the reference's sequential crawl loop
(``company_number_scrape.py:43-64``: seed list → fetch homepage →
regex probe → early exit → keyword/same-domain link extraction →
depth-1 fetches, plus the URL-seen / visit-budget gate of
``Matching_with_recursion.py:480-515``) into deterministic,
distributed micro-batch rounds (Structured-Streaming-style
``foreachBatch`` semantics driven by a plain loop — state is our own
checkpointed tables, which is what makes runs exactly resumable).

Canonical-order contract (the tests' oracle implements the identical
rules single-threaded):

- round 0 = canonicalized seeds at depth 0, priority 0;
- per round: dedup candidates by surt keeping the min
  ``(priority, seed_id, parent_url)`` attribution; drop rows already
  in the seen set; drop rows of already-satisfied seeds (early
  exit); everything surviving is *attempted* → enters the seen set;
  robots-disallowed rows are then excluded from fetching;
- per-host fetch order = rank by ``(priority, surt)`` (reference
  order is homepage-then-links per seed; our canonical tiebreak is
  documented in SURVEY.md §2.6), fetch time offsets spaced by the
  host's crawl delay;
- a seed is satisfied by its canonically-first fetched page whose
  content matches the target predicate (reference regex probe
  ``company_number_scrape.py:27-29,50-53``);
- links expand only from status-200 pages of seeds still unsatisfied
  at round end, ``depth < max_depth``, through the admission filters
  (same registered domain P9, keyword in href P10, no excluded
  suffix P6, no blacklisted aggregator host P7).
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import synthetic as syn
from ..canonical import canonicalize, host_of, registered_domain, surt
from .checkpoints import CheckpointStore
from .fetchers import SyntheticFetcher
from .politeness import with_host_sequence
from .robots import robots_decision, with_robots_flags
from .seen import SeenSet

ROBOTS_FLAGS_SCHEMA = "__robots_ok boolean, __delay double"

FRONTIER_SCHEMA = (
    "round int, url string, surt string, host string, depth int, "
    "priority double, parent_url string, seed_id long, retry_count int"
)

FETCHED_SCHEMA = FRONTIER_SCHEMA + (
    ", seq long, fetch_ts_offset double, batch_id int, status int, "
    "target_number string, caption string, image_id string, bytes binary, "
    "w int, h int, fmt string, phash long, "
    "admitted array<struct<url string, surt string, host string>>"
)

MATCH_SCHEMA = "seed_id long, url string, surt string, target_number string, round int"


def is_hit():
    """A fetched page whose content carries a target number; a NULL
    target is no hit, as in the oracle."""
    hit = (F.col("status") == 200) & (F.col("target_number") != "")
    return F.coalesce(hit, F.lit(False))


def release(df: DataFrame) -> None:
    """Drop the blocks of an eager ``localCheckpoint``. Its logical
    plan is a ``LogicalRDD`` over the checkpointed RDD, and only that
    RDD's own unpersist frees them: ``DataFrame.unpersist()`` touches
    the cache manager, which never held a local checkpoint."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


@dataclass(frozen=True)
class CrawlSpec:
    """Everything that defines a crawl's semantics (hashed into the
    checkpoint manifest so resume refuses a mismatched config)."""

    web: syn.WebConfig = field(default_factory=syn.WebConfig)
    max_depth: int = 1
    max_rounds: int = 8
    early_exit: bool = True
    keywords: tuple[str, ...] = syn.KEYWORDS
    excluded_suffixes: tuple[str, ...] = (".gov.uk",)
    blacklist_domains: tuple[str, ...] = tuple(
        registered_domain(h) for h in syn.AGGREGATOR_HOSTS
    )
    round_budget_s: float = 3600.0
    seen_shards: int = 16
    seen_bits_per_shard: int = 1 << 20
    # URL-seen prefilter kind; "bloom" (packed bitmaps) is the only
    # one. Kept as a field so config_hash, and with it every existing
    # checkpoint root, stays unchanged.
    seen_filter: str = "bloom"
    # transient-failure retry (reference: 3 retries with 60s backoff,
    # Matching_P1.py:298-327); retry_max=0 disables re-enqueueing
    retry_max: int = 0
    retry_statuses: tuple[int, ...] = (429, 500, 502, 503)
    retry_backoff_s: float = 60.0
    # link-scope policy: the reference ships BOTH behaviors —
    # "same_registered_domain" (P9: stay on the seed's site,
    # company_number_scrape.py:38-40) and "exclude_same_netloc" (P8:
    # never recurse within the same netloc — the matching-recursion
    # pipeline only follows outward links, Scrape_Utils.py:20-22)
    scope_mode: str = "same_registered_domain"

    def config_hash(self) -> str:
        """Hash of the fields that define crawl SEMANTICS / state
        layout. ``max_rounds`` is an execution budget, not semantics —
        resuming a 1-round run with a larger budget is legal and
        common, so it stays out of the hash."""
        d = asdict(self)
        d.pop("max_rounds")
        return hashlib.blake2b(
            json.dumps(d, sort_keys=True, default=str).encode(),
            digest_size=8,
        ).hexdigest()


def image_id_for(surt_key: str) -> str:
    """Safe-filename slug of the surt (reference analog:
    ``Scrape_Utils.py:155-158``)."""
    return re.sub(r"[^a-zA-Z0-9]", "_", surt_key)


def admit_link(spec: CrawlSpec, page_url: str, page_host: str, href: str) -> str | None:
    """Admission decision for one extracted href; returns the
    canonical absolute URL if admitted, else None. Pure — shared
    verbatim by the oracle crawler. Scope policy per spec.scope_mode:
    P9 same-registered-domain (default) or P8 exclude-same-netloc."""
    absolute = canonicalize(href, base=page_url)
    if not absolute:
        return None
    link_host = host_of(absolute)
    if not link_host:
        return None
    # P6 — deliberately the reference's EXACT rule
    # (`parsed_url.netloc.endswith(".gov.uk")`, Scrape_Utils.py:139):
    # bare endswith with the caller's spelling, so the default
    # ".gov.uk" keeps the apex host, exactly as the reference does —
    # this path is replay-pinned against the oracle crawler, so
    # trace equality wins over the stricter label-boundary gate
    # `crawl/search.py:search_source` applies (that one also excludes
    # the apex and normalizes case; it has no parity constraint).
    if any(link_host.endswith(sfx) for sfx in spec.excluded_suffixes):
        return None
    link_dom = registered_domain(link_host)
    if link_dom in spec.blacklist_domains:  # P7
        return None
    if spec.scope_mode == "exclude_same_netloc":
        if link_host == page_host:  # P8: never recurse within netloc
            return None
    elif link_dom != registered_domain(page_host):  # P9
        return None
    if not any(kw in href.lower() for kw in spec.keywords):  # P10
        return None
    if surt(absolute) == surt(page_url):  # self-link
        return None
    return absolute


def seeds_frontier(spark: SparkSession, seeds: list[str]) -> DataFrame:
    """Round-0 frontier from an ordered seed list (order is the
    reference's contract — ``company_number_scrape.py:13,43``).
    Canonicalization runs DISTRIBUTED (Arrow pass): a driver loop over
    the seed list is ~0.1 ms/seed — minutes at the 10^7-seed design
    point."""
    raw = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seeds)], "seed_id long, raw string"
    )

    def canon(batches):
        for pdf in batches:
            cu = pdf["raw"].map(canonicalize)
            out = pd.DataFrame(
                {
                    "round": 0,
                    "url": cu,
                    "surt": cu.map(surt),
                    "host": cu.map(host_of),
                    "depth": 0,
                    "priority": 0.0,
                    "parent_url": None,
                    "seed_id": pdf["seed_id"],
                    "retry_count": 0,
                }
            )
            # a seed that canonicalizes to nothing (empty string,
            # bare scheme, whitespace) is DROPPED here, mirroring the
            # oracle: there is no URL to fetch, and letting the empty
            # row flow on would poison the robots path parse
            yield out[cu.astype(bool).values]

    # coalesce, not a seed_id shuffle: createDataFrame already spreads
    # the rows, and round 0 repartitions them by surt anyway
    parts = max(1, min(
        spark.sparkContext.defaultParallelism, -(-len(seeds) // 2048)
    ))
    return raw.coalesce(parts).mapInPandas(canon, schema=FRONTIER_SCHEMA)


def _fetch_map(spec: CrawlSpec, fetcher=None):
    """mapInPandas fetch stage: scheduled frontier batch in, fetched
    pages out. The ``fetcher`` is injectable (``crawl.fetchers``) —
    the default SyntheticFetcher is a pure function of the URL, so
    this scales with executors and is exactly replayable; an
    HttpFetcher drops in for a live network.

    Link ADMISSION also happens here (``admitted`` column): it is
    per-page pure work, and running it inside the fetch pass keeps
    the commit-time frontier derivation a JVM-only explode instead of
    a second Python pass over every page. Pages at max depth skip it
    entirely — their links can never expand."""

    # yield in bounded slices: one output row carries KBs of image
    # bytes, so echoing a full 10k-row input batch back as one Arrow
    # frame would spike each worker by hundreds of MB
    chunk = 1024
    fetcher = fetcher or SyntheticFetcher(spec.web)

    EXTRA = ["status", "target_number", "caption", "image_id", "bytes",
             "w", "h", "fmt", "phash", "admitted"]

    def fetch(batches):
        for full in batches:
            if len(full) == 0:
                yield pd.DataFrame(columns=full.columns.tolist() + EXTRA)
                continue
            for start in range(0, len(full), chunk):
                pdf = full.iloc[start : start + chunk]
                out = []
                for row in pdf.itertuples(index=False):
                    page = fetcher.fetch(row.url, attempt=row.retry_count)
                    admitted = []
                    if page.status == 200 and row.depth < spec.max_depth:
                        for href in fetcher.extract_links(page):
                            absolute = admit_link(spec, row.url, row.host, href)
                            if absolute is not None:
                                admitted.append(
                                    (absolute, surt(absolute), host_of(absolute))
                                )
                    out.append(
                        {
                            **{c: getattr(row, c) for c in pdf.columns},
                            "status": page.status,
                            "target_number": page.target_number,
                            "caption": page.caption,
                            "image_id": image_id_for(row.surt)
                            if page.status == 200
                            else None,
                            "bytes": page.image_bytes if page.status == 200 else None,
                            "w": page.w,
                            "h": page.h,
                            "fmt": page.image_fmt if page.status == 200 else None,
                            "phash": page.phash,
                            "admitted": admitted,
                        }
                    )
                yield pd.DataFrame(out)

    return fetch


class CrawlEngine:
    """Distributed crawl-round driver.

    Job economy (the north-rule headline metric is frontier-round
    latency, so fixed per-round cost is the enemy): one round runs

    1. ONE job materializing the deduped-unseen delta (window dedup +
       Bloom probe, each task loading its shards' sidecar files, with
       the ROBOTS FLAGS FUSED INTO THE SAME ARROW PASS + exact
       confirm + early-exit filter, eager ``localCheckpoint``,
       released once the round's fetch has read it),
    2. the seen-set append (one write job sized like the round's
       other stages, one file per write task, on a one-worker executor
       scoped to the round) CONCURRENTLY with
    3. the schedule+fetch job (politeness window + fetch
       ``mapInPandas`` — fetch is the job's ONLY Python stage, eager
       ``localCheckpoint``), then
    4. the four snapshot table writes, submitted concurrently while
       the round's frontier is at most ``concurrent_commit_threshold``
       rows and one after another above it. The commit runs on the
       run's one-worker executor and overlaps the next round. The
       matches delta, next frontier and records read the fetch
       coalesced to the round's size: a small round's seed_id windows
       (first hit per seed; the early-exit gate's hit per seed) then
       plan no exchange. And
    5. except on a run's final round, one tiny new-matched-seed-ids
       collect (skipped once the matched set outgrows the driver
       mirror) and the next-frontier count, both on that view.

    Each round runs one Python worker stage per job: a chained
    robots->fetch Python pair cost one extra worker pool per task
    thread, which oversubscribed the box past ~16 task threads.

    Partition counts adapt to the round size (``rows_per_task_*``) so
    a small round is not taxed with ``defaultParallelism`` empty
    tasks, while a 10^7-row round fans out to the full cluster.
    Early-exit / first-match filtering uses a driver-held matched-seed
    id set (``isin``) below ``matched_isin_limit``, a broadcast
    anti-join above it, and a left_anti join against the matched seed
    ids (committed ``matches`` plus the last round's hits) once the
    set passes ``matched_mirror_limit`` (no driver state at 10^7+
    matches). Robots rules have one path per source: the web config's
    rules are computed inside the Bloom-probe Arrow pass, and a
    caller's robots table is always broadcast-joined
    (``robots.with_robots_flags``).
    """

    # matched-seed filters switch from driver isin to a broadcast
    # anti-join against the driver-held id set: a large In() literal
    # list is a planning/codegen tax paid by EVERY plan that embeds it
    # (measured ~5s per plan at 9k literals vs 1.5s for the broadcast
    # join including its build)
    matched_isin_limit = 512
    # ... and above THIS many matched seeds the driver stops mirroring
    # ids entirely (at the 10^10 design point 10^7-10^8 satisfied
    # seeds would be GBs of driver heap + a same-size createDataFrame
    # per round): the filter becomes a left_anti join against the
    # checkpointed ``matches`` table — one small shuffle, zero driver
    # state. Standalone ``run_round`` callers (engine state not
    # seeded by ``run()``) always take the table path.
    matched_mirror_limit = 1_000_000
    # politeness switches from plain host window to the range-salted
    # construction (politeness.with_host_sequence) above this row count
    salted_politeness_threshold = 200_000
    # adaptive partition sizing
    rows_per_task_cheap = 1024   # shuffle/window/probe stages (Python probe ~0.25ms/row)
    rows_per_task_fetch = 64     # the CPU-heavy fetch stage
    # commit writes overlap via threads only while the round is small
    # enough that each write job leaves cores idle
    concurrent_commit_threshold = 50_000
    # the one-aggregate next-frontier count (no window subtree) is
    # only taken while the matched-id mirror is small enough that its
    # gate is an isin/broadcast filter; past this, fall back to
    # count(next_frontier) — same value, just the multi-stage plan
    fast_count_mirror_limit = 100_000

    def __init__(
        self,
        spark: SparkSession,
        spec: CrawlSpec,
        checkpoint_root: str,
        robots: DataFrame | None = None,
        partitions: int | None = None,
        fetcher=None,
    ):
        self.spark = spark
        self.spec = spec
        self.store = CheckpointStore(spark, checkpoint_root)
        self.fetcher = fetcher or SyntheticFetcher(spec.web)
        self.seen = SeenSet(
            spark,
            self.store.root + "/seen",
            n_shards=spec.seen_shards,
            bits_per_shard=spec.seen_bits_per_shard,
            filter_kind=spec.seen_filter,
        )
        self.partitions = partitions or spark.sparkContext.defaultParallelism
        self._matched_ids: set[int] = set()
        # the driver-held matched-id mirror is only trusted when run()
        # has seeded it (fresh run or small-table resume); otherwise
        # _filter_unmatched anti-joins against the matches table itself
        self._mirror_valid = False
        # None = the web config's rules, computed LAZILY inside the
        # executor flags pass (per-worker host cache) instead of
        # materialized on the driver; a caller's table is joined
        self.robots = robots

    def _parts(self, n_rows: int, rows_per_task: int) -> int:
        return max(1, min(self.partitions, -(-max(n_rows, 1) // rows_per_task)))

    def _filter_unmatched(self, df: DataFrame, matches: DataFrame) -> DataFrame:
        """Drop rows whose seed already matched. Three regimes:

        - driver mirror valid, small: ``isin`` literal (no job);
        - driver mirror valid, mid-size: broadcast anti-join against a
          DataFrame of the driver-held id set (created once per round
          and reused by every plan in the round — cheaper than both a
          giant In() literal list and a matches-parquet rescan);
        - mirror invalid or past ``matched_mirror_limit``: left_anti
          join against ``matches`` itself (committed and checkpointed
          state) — one small shuffle, no driver state, the only path
          that is safe at 10^7+ satisfied seeds and for standalone
          ``run_round`` callers whose engine state ``run()`` never
          seeded."""
        if not self._mirror_valid:
            # no distinct: left_anti is insensitive to right-side
            # duplicates, and the dedup aggregate would cost an extra
            # full exchange over matches on every invocation
            return df.join(
                matches.select("seed_id"), on=["seed_id"], how="left_anti"
            )
        n = len(self._matched_ids)
        if n == 0:
            return df
        if n <= self.matched_isin_limit:
            return df.where(~F.col("seed_id").isin(list(self._matched_ids)))
        if getattr(self, "_matched_df_n", None) != n:
            self._matched_df = self.spark.createDataFrame(
                [(i,) for i in sorted(self._matched_ids)], "seed_id long"
            )
            self._matched_df_n = n
        return df.join(
            F.broadcast(self._matched_df), on=["seed_id"], how="left_anti"
        )

    def _next_frontier_count_fast(self, fetched: DataFrame) -> int:
        """EXACT row count of the round's next frontier as one
        aggregate over the fetch (run() passes its round-sized view,
        so a small round plans no exchange), instead of a job
        re-deriving the whole next_frontier plan. Equality with
        count(next_frontier) is by construction: explode(admitted)
        emits size(admitted) rows per page passing the expansion
        gates, and the early-exit pair (pre-update matched filter +
        the seed window dropping seeds with a hit this round) is one
        membership test against the JUST-UPDATED mirror (old ∪ hits);
        each retry-eligible row re-enqueues exactly once, bypassing
        the matched gate like retry_next does. Only valid after run()
        folded the round's hits into the mirror; equality is
        pytest-pinned across the replay grid."""
        if not self._mirror_valid:
            raise ValueError("fast count requires the driver mirror")
        spec = self.spec
        base = fetched.where(
            (F.col("status") == 200) & (F.col("depth") < spec.max_depth)
        )
        if spec.early_exit:
            base = self._filter_unmatched(base, None)
        counted = base.select(
            F.coalesce(F.size("admitted"), F.lit(0)).alias("__n")
        )
        if spec.retry_max > 0:
            counted = counted.unionByName(
                fetched.where(
                    F.col("status").isin(list(spec.retry_statuses))
                    & (F.col("retry_count") < spec.retry_max)
                ).select(F.lit(1).cast("int").alias("__n"))
            )
        n = counted.agg(F.sum("__n")).collect()[0][0]
        return int(n or 0)

    def _robots_flags_factory(self):
        """Zero-arg factory -> (pdf -> DataFrame[__robots_ok, __delay])
        for the default (web-config) robots. Captures only the web
        config (picklable — never ``self``). The factory runs once per
        task so the per-host rule cache persists across that task's
        Arrow batches. This is what rides the seen-set Bloom probe's
        Arrow pass (``SeenSet.filter_unseen(row_flags=...)``) — ONE
        Python worker stage per task instead of a chained robots pass
        feeding the fetch pass."""
        webcfg = self.spec.web

        def factory():
            cache: dict = {}

            def lookup(h):
                if h not in cache:
                    cache[h] = syn.robots_for_host(webcfg, h)
                return cache[h]

            def flags(pdf):
                ok, delay = [], []
                for url, host in zip(pdf["url"], pdf["host"]):
                    disallow, d = lookup(host)
                    # defensive: scheme-less rows can't occur from
                    # canonicalized input, but a missing '://' must
                    # not kill the executor task
                    rest = url.split("://", 1)[1] if "://" in url else url
                    path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
                    path = path.split("?", 1)[0]
                    # RFC 9309 longest-match over encoded Allow ("!")
                    # + Disallow rules; identical to the historical
                    # prefix check for allow-free rule sets
                    ok.append(robots_decision(disallow, path))
                    delay.append(float(d))
                return pd.DataFrame(
                    {
                        "__robots_ok": pd.Series(ok, index=pdf.index, dtype=bool),
                        "__delay": pd.Series(delay, index=pdf.index, dtype=float),
                    }
                )

            return flags

        return factory

    def _robots_flags(self, df: DataFrame) -> DataFrame:
        """Attach ``__robots_ok`` + ``__delay`` columns as a STANDALONE
        pass: the caller's robots table always takes the broadcast
        join (``robots.with_robots_flags``); with the default robots
        this is the web-config Arrow pass retry rows take (fresh rows
        get the same flags fused into the Bloom probe via
        ``_robots_flags_factory``; path logic as the oracle,
        ``oracle.py`` step 5).
        """
        if self.robots is not None:
            return with_robots_flags(df, self.robots)
        schema_fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        factory = self._robots_flags_factory()

        def flags(batches):
            flag_fn = factory()
            for pdf in batches:
                extra = flag_fn(pdf)
                yield pdf.assign(**{c: extra[c] for c in extra.columns})

        return df.mapInPandas(
            flags, schema=schema_fields + ", " + ROBOTS_FLAGS_SCHEMA
        )

    def _schedule_and_fetch(
        self, unseen: DataFrame, n_frontier: int, fused_robots: bool
    ) -> DataFrame:
        """5. politeness scheduling + 6. fetch — ONE job, with fetch as
        its ONLY Python stage (robots flags were fused into the
        Bloom-probe pass; a caller's robots table attaches them here by
        the broadcast join, still JVM-only). Small rounds rank with a
        plain per-host window on an explicit host repartition (no
        sampling job, no offsets broadcast), while rounds above
        ``salted_politeness_threshold`` use the range-salted
        construction that bounds any single host's rows per task (same
        seq values — the invariance tests force both paths). The fetch
        result is localCheckpoint'ed EAGERLY: the commit writes must
        never recompute through the politeness pipeline (recompute
        divergence silently dropped whole hosts; see
        test_larger_web_fetch_set_identical)."""
        spec = self.spec
        flagged = unseen if fused_robots else self._robots_flags(unseen)
        allowed = flagged.where(F.col("__robots_ok"))
        sched_cleanup: list = []
        if n_frontier <= self.salted_politeness_threshold:
            pre = allowed.repartition(
                self._parts(n_frontier, self.rows_per_task_fetch), "host"
            )
            host_w = Window.partitionBy("host").orderBy("priority", "surt")
            seqd = pre.withColumn(
                "seq", F.row_number().over(host_w).cast("long")
            ).withColumn(
                "cum_retry_count",
                F.sum("retry_count").over(
                    host_w.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        else:
            seqd = with_host_sequence(
                allowed,
                partitions=self.partitions,
                cleanup=sched_cleanup,
                cumsum_col="retry_count",
            )
        # fetch time: crawl-delay spacing plus the reference's backoff
        # — a retried row delays the host's remaining queue by
        # backoff_s per prior retry attempt (the reference sleeps
        # inline in its per-site loop, Matching_P1.py:317-327), so the
        # per-host gap never drops below the crawl delay.
        scheduled = (
            seqd.withColumn(
                "fetch_ts_offset",
                (F.col("seq") - 1) * F.col("__delay")
                + F.col("cum_retry_count") * F.lit(spec.retry_backoff_s),
            )
            .withColumn(
                "batch_id",
                F.floor(
                    F.col("fetch_ts_offset") / F.lit(spec.round_budget_s)
                ).cast("int"),
            )
            .drop("__robots_ok", "__delay", "cum_retry_count")
        )
        try:
            return scheduled.mapInPandas(
                _fetch_map(spec, self.fetcher), schema=FETCHED_SCHEMA
            ).localCheckpoint(eager=True)
        finally:
            # the eager checkpoint holds every row later jobs read, so
            # the range-salted relation is dead (and on a failed fetch
            # it must not outlive the round either)
            for df in sched_cleanup:
                df.unpersist()

    # -- one round -------------------------------------------------------

    def run_round(
        self,
        round_no: int,
        frontier: DataFrame,
        matches: DataFrame,
        frontier_count: int | None = None,
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, dict]:
        """Returns (next_frontier, fetched, new_matches_DELTA, records,
        metrics) — the matches value is only this round's NEW matches
        (the checkpoint commits it as a per-round delta; cumulative
        state is ``read_matches_cum``'s multi-path scan).
        Job economy: the only counted relations are the tiny
        new-matched-seed-id collect; fetch/match totals come from
        checkpoint parquet footers, and ``frontier_count`` is passed
        from the previous round's manifest (or len(seeds)) instead of
        re-counting. Phase wall-times land in ``metrics["phase_sec"]``
        so per-round overhead stays observable."""
        spec = self.spec
        n_frontier = frontier.count() if frontier_count is None else frontier_count
        phase: dict[str, float] = {}
        t0 = time.time()
        parts_cheap = self._parts(n_frontier, self.rows_per_task_cheap)

        # 0. retry rows (re-enqueued transient failures) bypass dedup
        # and the seen gate — they are already in the seen set by
        # definition and the re-attempt is deliberate; early-exit
        # still applies (a satisfied seed's retries are pointless).
        fresh = frontier
        retries = None
        if spec.retry_max > 0:
            fresh = frontier.where(F.col("retry_count") == 0)
            retries = frontier.where(F.col("retry_count") > 0)
            if spec.early_exit:
                retries = self._filter_unmatched(retries, matches)

        # 1. in-round dedup by surt, canonical attribution tiebreak.
        # The explicit repartition sizes the shuffle to the round
        # (parts_cheap) and already satisfies the window's required
        # distribution, so no second exchange is added.
        dedup_w = Window.partitionBy("surt").orderBy(
            "priority", "seed_id", F.coalesce("parent_url", F.lit(""))
        )
        cand = (
            fresh.repartition(parts_cheap, "surt")
            .withColumn("__rn", F.row_number().over(dedup_w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

        # 2. seen-set anti join (Bloom prefilter + exact confirm).
        # With the default (web-config) robots the per-row flags are
        # FUSED into the same Arrow pass as the Bloom probe — one
        # Python worker stage per task for the whole dedup job, and
        # the later schedule+fetch job runs fetch as its only Python
        # stage (the chained robots->fetch worker pair cost one extra
        # Python worker pool per task thread at high parallelism).
        fused_robots = self.robots is None
        if fused_robots:
            unseen = self.seen.filter_unseen(
                cand,
                row_flags=self._robots_flags_factory(),
                flags_schema=ROBOTS_FLAGS_SCHEMA,
            )
        else:
            unseen = self.seen.filter_unseen(cand)

        # 3. early-exit: drop rows of already-satisfied seeds
        if spec.early_exit:
            unseen = self._filter_unmatched(unseen, matches)
        if retries is not None:
            if fused_robots:  # retries bypass the probe: flag standalone
                retries = self._robots_flags(retries)
            unseen = unseen.unionByName(retries)
        # CRITICAL: truncate lineage BEFORE updating the seen set.
        # unseen's plan scans the seen-exact parquet path; the append
        # in seen.add() triggers Spark's recacheByPath on that path,
        # which RECOMPUTES any cached plan reading it — the round's
        # own candidates then anti-join against themselves and vanish.
        # An eager localCheckpoint freezes the rows and removes the
        # path scan from the lineage entirely.
        unseen = unseen.localCheckpoint(eager=True)
        phase["unseen"] = round(time.time() - t0, 3)
        t0 = time.time()

        # 4. everything surviving counts as attempted -> seen (surts
        # are unique post-dedup, so added == attempted). The append is
        # independent of the fetch (both read the checkpointed delta),
        # so it runs CONCURRENTLY with the schedule+fetch job. Leaving
        # the block waits for the append even when the fetch raises,
        # so no seen-set writer outlives the round.
        try:
            with ThreadPoolExecutor(1, thread_name_prefix=f"seen-add-r{round_no}") as pool:
                added = pool.submit(
                    self.seen.add,
                    unseen.where(F.col("retry_count") == 0).select("surt"),
                    round_no,
                    assume_unique=True,
                    partitions=parts_cheap,
                )
                fetched = self._schedule_and_fetch(unseen, n_frontier, fused_robots)
                n_attempted = added.result()
        finally:
            # both readers are done: the append has ended and the fetch
            # is checkpointed on its own blocks
            release(unseen)
        phase["fetch_and_seen_add"] = round(time.time() - t0, 3)
        t0 = time.time()

        # The fetch checkpoint has one partition per fetch task. Steps
        # 7-9 read it coalesced to the round's size, before any
        # window: at one partition the seed_id windows' clustering is
        # already met, so a small round plans no exchange (and no
        # shuffle-map job); at scale parts_cheap equals the fetch's.
        fetched_cheap = fetched.coalesce(parts_cheap)

        # 7. new matches: canonically-first target hit per seed.
        # First-ever-match semantics are UNCONDITIONAL (independent of
        # early_exit, which only gates frontier pruning): the oracle
        # records only the first-ever match per seed (oracle.py step 6).
        hit_w = Window.partitionBy("seed_id").orderBy("priority", "surt")
        new_matches = (
            fetched_cheap.where(is_hit())
            .withColumn("__rn", F.row_number().over(hit_w))
            .where(F.col("__rn") == 1)
            .select(
                "seed_id", "url", "surt", "target_number",
                F.lit(round_no).cast("int").alias("round"),
            )
        )
        new_matches = self._filter_unmatched(new_matches, matches)
        # the driver mirror update is run()'s, after it has submitted
        # the commit, so its collect overlaps the commit writes
        phase["new_matches"] = round(time.time() - t0, 3)

        # 8. link expansion from unsatisfied seeds' 200-pages. The
        # early-exit gate is (matched through last round) then (a hit
        # this round): the matched filter drops the bulk, and a
        # seed_id window over the surviving expandable and hit rows
        # drops every seed with a hit, on the view new_matches reads.
        can_expand = (F.col("status") == 200) & (F.col("depth") < spec.max_depth)
        if spec.early_exit:
            expandable = (
                self._filter_unmatched(fetched_cheap.where(can_expand | is_hit()), matches)
                .withColumn("__hit", F.max(is_hit()).over(Window.partitionBy("seed_id")))
                .where(can_expand & ~F.col("__hit"))
            )
        else:
            expandable = fetched_cheap.where(can_expand)

        # admission already ran inside the fetch pass (the ``admitted``
        # struct column), so frontier derivation is a JVM-only explode
        next_frontier = (
            expandable.select(
                "url", "depth", "seed_id", F.explode("admitted").alias("l")
            )
            .select(
                F.lit(round_no + 1).cast("int").alias("round"),
                F.col("l.url").alias("url"),
                F.col("l.surt").alias("surt"),
                F.col("l.host").alias("host"),
                (F.col("depth") + 1).cast("int").alias("depth"),
                (F.col("depth") + 1).cast("double").alias("priority"),
                F.col("url").alias("parent_url"),
                "seed_id",
                F.lit(0).cast("int").alias("retry_count"),
            )
        )
        if spec.retry_max > 0:
            # transient failures re-enqueue into the next round with a
            # bumped attempt counter, capped at retry_max
            retry_next = fetched_cheap.where(
                F.col("status").isin(list(spec.retry_statuses))
                & (F.col("retry_count") < spec.retry_max)
            ).select(
                F.lit(round_no + 1).cast("int").alias("round"),
                "url", "surt", "host", "depth", "priority", "parent_url",
                "seed_id",
                (F.col("retry_count") + 1).cast("int").alias("retry_count"),
            )
            next_frontier = next_frontier.unionByName(retry_next)

        # 9. canonical record table rows (input_hint schema), on the
        # round-sized view: no near-empty file per fetch task. Records
        # carry image BYTES (~KBs/row), so they get ~8x more writers
        # than the thin metadata tables for the same row count.
        records = fetched_cheap.where(F.col("status") == 200).select(
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
        )

        metrics = {
            "frontier_in": n_frontier,
            "deduped_attempted": n_attempted,
            "phase_sec": phase,
            # fetched / matches_total are filled by CheckpointStore.commit
            # from the committed tables' parquet footers (matches_total
            # cumulatively: delta rows + parent manifest's total)
        }
        return next_frontier, fetched, new_matches, records, metrics

    # -- full crawl --------------------------------------------------------

    def read_matches_cum(self, upto: int | None = None):
        """Cumulative matches as of round ``upto`` (default latest):
        one multi-path parquet scan over the per-round DELTA tables —
        the committed matches table holds only each round's NEW
        matches (rewriting the cumulative set every round is
        O(rounds x matches) write amplification at the design
        point)."""
        paths = self.store.delta_table_paths("matches", upto)
        if not paths:
            return self.spark.createDataFrame([], MATCH_SCHEMA)
        return self.spark.read.schema(MATCH_SCHEMA).parquet(*paths)

    # -- pipelined commit ----------------------------------------------------

    def _finish_commit(self, pending: tuple, summary: dict) -> dict:
        """Wait for a pending commit ``(future, round_no)`` and append
        its summary entry, including how long the wait actually
        blocked — the commit's residual critical-path cost."""
        future, round_no = pending
        t0 = time.time()
        manifest = future.result()
        wait = round(time.time() - t0, 3)
        round_entry = {
            **manifest["metrics"],
            "round": round_no,
            "snapshot_id": manifest["snapshot_id"],
        }
        round_entry["phase_sec"] = {
            **round_entry.get("phase_sec", {}), "commit_wait": wait,
        }
        summary["rounds"].append(round_entry)
        return manifest

    def run(self, seeds: list[str], resume: bool = False) -> dict:
        spark, spec = self.spark, self.spec
        start_round = 0
        matches = spark.createDataFrame([], MATCH_SCHEMA)
        self._matched_ids = set()
        self._mirror_valid = True  # run() owns the mirror from here
        self._matched_df_n = None  # invalidate the broadcast-side cache

        latest = self.store.latest_round()
        if not resume and (latest is not None or self.seen.has_state()):
            raise ValueError(
                "checkpoint root already holds committed rounds or seen "
                "state — pass resume=True or point at a clean root "
                "(refusing to silently crawl against stale seen data)"
            )
        if resume:
            if latest is None:
                # crash during round 0 (seen.add ran, commit did not):
                # committed state is empty, so the seen set must be
                # reset or every round-0 candidate anti-joins away.
                self.seen.reset()
            else:
                m = self.store.read_manifest(latest)
                if m["config_hash"] != spec.config_hash():
                    raise ValueError(
                        "checkpoint config mismatch — refusing to resume"
                    )
                frontier = self.store.read_table(latest, "frontier", FRONTIER_SCHEMA)
                matches = self.read_matches_cum(latest)
                # only rebuild the driver mirror while it is small
                # (manifest cumulative counter); a resume with 10^7+
                # matches keeps the table-anti-join path. The ids are
                # read from the delta files on the driver, no job.
                n_matched = m["metrics"].get("matches_total", 0)
                if n_matched <= self.matched_mirror_limit:
                    import pyarrow.parquet as pq

                    self._matched_ids = {
                        i
                        for p in self.store.delta_table_paths("matches", latest)
                        for i in pq.read_table(p, columns=["seed_id"])["seed_id"].to_pylist()
                    }
                else:
                    self._matched_ids = set()
                    self._mirror_valid = False
                start_round = latest + 1
                self.seen.rollback(latest)

        summary = {"rounds": [], "config_hash": spec.config_hash()}
        if start_round == 0:
            frontier, frontier_count = seeds_frontier(spark, seeds), len(seeds)
        else:
            frontier_count = self.store.read_manifest(start_round - 1)["tables"][
                "frontier"
            ]["rows"]
        # PIPELINED COMMIT: round R's four checkpoint writes run on the
        # run's one-worker commit executor while the main thread counts
        # the next frontier, updates the matched-id mirror, and runs
        # round R+1's dedup/probe/fetch (nothing they read depends on
        # the commit landing) — the commit only re-enters the critical
        # path as the (usually ~0) wait at round R+1's own commit
        # point. Leaving the block, on an error too, waits for the
        # in-flight commit, so none outlives run(). Crash window: a
        # death while commit R is in flight resumes from R-1, and
        # ``seen.rollback`` discards rounds R / R+1's seen deltas —
        # the byte-identical-resume tests force this window.
        #
        # ``held`` owns the fetch checkpoints a later plan may still
        # read. Every relation carried into round R+1 (its frontier and
        # the ``matches`` seed-id set) reads round R's fetch and
        # nothing older, so commit R reads rounds R and R-1: once commit
        # R-1 has landed, all but the last two are freed. The
        # ``finally`` frees the rest after the block has waited for the
        # in-flight commit.
        pending: tuple | None = None
        held: list[DataFrame] = []
        try:
            with ThreadPoolExecutor(1, thread_name_prefix="commit") as commits:
                for round_no in range(start_round, spec.max_rounds):
                    if frontier_count == 0:
                        break
                    nxt, fetched, match_delta, records, metrics = self.run_round(
                        round_no, frontier, matches, frontier_count=frontier_count
                    )
                    held.append(fetched)
                    # the round-sized view run_round's plans read: the
                    # hits and the fast count below need no exchange on it
                    cheap = fetched.coalesce(self._parts(frontier_count, self.rows_per_task_cheap))
                    # seed ids with any target hit this round. As a
                    # membership set, (matched through R-1) ∪ hits equals
                    # (matched through R-1) ∪ delta: a seed that hits now
                    # but is missing from the delta had already matched.
                    # Unlike the delta (an anti-join against the previous
                    # ``matches``), it reads only this round's fetch.
                    hits = cheap.where(is_hit()).select("seed_id")
                    if pending is not None:
                        self._finish_commit(pending, summary)
                        for df in held[:-2]:
                            release(df)
                        del held[:-2]
                        matches = (
                            self.read_matches_cum(pending[1])
                            .select("seed_id")
                            .unionByName(hits)
                        )
                    fetch_log = fetched.drop("bytes", "admitted", "caption").coalesce(
                        self._parts(frontier_count, 8192)
                    )
                    future = commits.submit(
                        self.store.commit,
                        round_no,
                        {
                            "frontier": nxt,
                            "fetch_log": fetch_log,
                            # PER-ROUND DELTA: only this round's new
                            # matches are written; cumulative state is
                            # the multi-path read (read_matches_cum)
                            "matches": match_delta,
                            "records": records,
                        },
                        metrics,
                        spec.config_hash(),
                        concurrent=frontier_count <= self.concurrent_commit_threshold,
                    )
                    pending = (future, round_no)
                    if round_no == start_round:
                        # first iteration: no prior commit to fold at, so
                        # the hits join the pre-loop cumulative base here
                        matches = matches.select("seed_id").unionByName(hits)
                    if round_no + 1 >= spec.max_rounds:
                        # the mirror and the count serve only later rounds;
                        # a resume rebuilds both from the committed state
                        break
                    # mirror update first, then the next-frontier count:
                    # once the round's hits are in the driver mirror,
                    # count(next_frontier) is ONE aggregate over the fetch
                    # (_next_frontier_count_fast). The collect is one
                    # narrow stage over ``hits`` that drops the ids the
                    # mirror already holds, so driver transfer is bounded
                    # by this round's newly matched seeds.
                    if self._mirror_valid:
                        self._matched_ids.update(
                            r[0] for r in self._filter_unmatched(hits, None).collect()
                        )
                        if len(self._matched_ids) > self.matched_mirror_limit:
                            self._mirror_valid = False
                            self._matched_ids = set()
                            self._matched_df_n = None
                    if (
                        self._mirror_valid
                        and len(self._matched_ids) <= self.fast_count_mirror_limit
                    ):
                        frontier_count = self._next_frontier_count_fast(cheap)
                    else:
                        frontier_count = nxt.count()
                    frontier = nxt
                if pending is not None:
                    self._finish_commit(pending, summary)
        finally:
            for df in held:
                release(df)
        return summary
