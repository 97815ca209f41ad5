"""Single-threaded oracle crawler: the reference semantics, exactly.

A ~100-line pure-Python crawler implementing the reference's rules —
seed-list loop, URL-seen gate, per-seed early exit, keyword +
same-registered-domain link admission, robots exclusion, per-host
sequential politeness — with the engine's documented canonical
ordering (SURVEY.md §2.6). Reference provenance:
``company_number_scrape.py:43-64`` (crawl loop, early exit, link
scope) and ``Matching_with_recursion.py:480-515`` (seen/visit
budget).

The Spark engine must reproduce this oracle's fetch log (per-host
sequences), seen set, matches, and payloads *identically* — that is
the correctness gate required by ``BASELINE.json:metric`` ("exact
crawl-order + URL-seen match vs reference"). Crucially the oracle
shares zero code with the engine's distributed plumbing: it calls
only the pure functions (canonicalize/surt/admit_link/fetch_page),
so agreement is evidence the distributed machinery is faithful.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .. import synthetic as syn
from ..canonical import canonicalize, host_of, surt
from .frontier import CrawlSpec, admit_link


@dataclass
class OracleResult:
    # fetch_log rows: (round, host, seq, surt, url, depth, seed_id, status,
    #                  fetch_ts_offset, target_number)
    fetch_log: list[tuple] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    # seed_id -> (url, surt, target_number, round)
    matches: dict[int, tuple] = field(default_factory=dict)
    rounds: int = 0


def crawl(
    spec: CrawlSpec, seeds: list[str], robots: dict | None = None
) -> OracleResult:
    """``robots``: optional ``{host: (rules, crawl_delay)}`` override,
    the rows of a robots table (rules may carry ``!``-encoded Allow
    entries) — defaults to the synthetic web's per-host rules. A
    missing host, ``None`` rules and a ``None`` delay read as
    allow-all at 1.0 s, the robots table's NULL contract and the
    engine's join."""
    from .robots import robots_decision

    res = OracleResult()
    if robots is not None:

        def robots_for(host: str):
            rules, delay = robots.get(host, (None, None))
            return rules or (), 1.0 if delay is None else delay

    else:
        cache: dict = {}

        def robots_for(host: str):
            if host not in cache:
                cache[host] = syn.robots_for_host(spec.web, host)
            return cache[host]

    # frontier rows:
    # (url, surt, host, depth, priority, parent_url, seed_id, retry_count)
    frontier = []
    for i, s in enumerate(seeds):
        cu = canonicalize(s)
        if not cu:  # unparseable seed: dropped (engine does the same)
            continue
        frontier.append((cu, surt(cu), host_of(cu), 0, 0.0, None, i, 0))

    for round_no in range(spec.max_rounds):
        if not frontier:
            break
        res.rounds = round_no + 1

        # 0. retries bypass dedup + seen gate (deliberate re-attempts
        # of already-seen URLs); early exit still applies
        fresh = [r for r in frontier if r[7] == 0]
        retries = [r for r in frontier if r[7] > 0]
        if spec.early_exit:
            retries = [r for r in retries if r[6] not in res.matches]

        # 1. in-round dedup by surt, canonical attribution tiebreak
        best = {}
        for row in fresh:
            key = row[1]
            tiebreak = (row[4], row[6], row[5] or "")
            if key not in best or tiebreak < best[key][0]:
                best[key] = (tiebreak, row)
        cand = [v[1] for v in best.values()]

        # 2. seen gate, 3. early exit
        cand = [r for r in cand if r[1] not in res.seen]
        if spec.early_exit:
            cand = [r for r in cand if r[6] not in res.matches]

        # 4. attempted -> seen (fresh only; retries are already seen)
        for r in cand:
            res.seen.add(r[1])
        cand = cand + retries

        # 5. robots exclusion + per-host politeness sequencing
        by_host: dict[str, list] = {}
        for r in cand:
            disallow, _delay = robots_for(r[2])
            path = r[0].split("://", 1)[1]
            path = "/" + path.split("/", 1)[1] if "/" in path else "/"
            path = path.split("?", 1)[0]
            if not robots_decision(disallow, path):
                continue
            by_host.setdefault(r[2], []).append(r)

        fetched = []
        for host in by_host:
            rows = sorted(by_host[host], key=lambda r: (r[4], r[1]))  # (priority, surt)
            _, delay = robots_for(host)
            cum_retries = 0
            for seq, r in enumerate(rows, start=1):
                page = syn.fetch_page(spec.web, r[0], attempt=r[7])
                cum_retries += r[7]
                ts = (seq - 1) * delay + cum_retries * spec.retry_backoff_s
                res.fetch_log.append(
                    (round_no, host, seq, r[1], r[0], r[3], r[6], page.status,
                     ts, page.target_number)
                )
                fetched.append((r, page))

        # 6. new matches: canonically-first hit per seed
        hits = sorted(
            (
                (r[4], r[1], r, p)  # (priority, surt) canonical order
                for r, p in fetched
                if p.status == 200 and p.target_number
            ),
        )
        for _, _, r, p in hits:
            if spec.early_exit and r[6] in res.matches:
                continue
            if r[6] not in res.matches:
                res.matches[r[6]] = (r[0], r[1], p.target_number, round_no)

        # 7. link expansion from unsatisfied seeds' 200-pages
        nxt = []
        for r, p in fetched:
            if p.status != 200 or r[3] >= spec.max_depth:
                continue
            if spec.early_exit and r[6] in res.matches:
                continue
            for href in syn.extract_links(p.html):
                absolute = admit_link(spec, r[0], r[2], href)
                if absolute is None:
                    continue
                nxt.append(
                    (absolute, surt(absolute), host_of(absolute), r[3] + 1,
                     float(r[3] + 1), r[0], r[6], 0)
                )
        # 8. transient-failure re-enqueue (bumped attempt, capped)
        if spec.retry_max > 0:
            for r, p in fetched:
                if p.status in spec.retry_statuses and r[7] < spec.retry_max:
                    nxt.append(
                        (r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7] + 1)
                    )
        frontier = nxt
    return res
