"""Round snapshots: Iceberg-layout checkpoints with lineage + metrics.

The reference has no persistence at all — a crash loses the whole
crawl (its only sink is a final ``to_csv``,
``company_number_scrape.py:66``). The north rule requires exact
resumability with per-partition lineage + metrics. No Iceberg/Delta
jars exist in this runtime (verified), so the engine implements the
same *semantics* directly on the filesystem:

    <root>/round=<N>/frontier/        parquet (next round's input)
    <root>/round=<N>/fetch_log/       parquet (this round's fetches)
    <root>/round=<N>/matches/         parquet (cumulative seed matches)
    <root>/round=<N>/manifest.json    snapshot metadata

``manifest.json`` carries: round number, parent snapshot id, a
content id, per-table row counts and per-partition file metrics
(the Iceberg manifest analog), config hash, and aggregate
fetch/dedup counters. Commits are atomic: everything is written
under ``_tmp.round=<N>`` and ``os.rename``d into place last, so a
partially-written snapshot is never visible and resume always finds
a consistent latest round. Time travel = read any ``round=K``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession


def _dir_metrics(path: str) -> list[dict]:
    """Per-file (≈ per-partition) row/size metrics for a table
    directory, read from parquet footers — no Spark job. Footer opens
    are a few ms each and independent, so they run on a small thread
    pool (a 100-file round otherwise spends driver seconds here)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths = []
    for base, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                paths.append(os.path.join(base, f))

    def one(p):
        return {
            "file": os.path.relpath(p, path),
            "bytes": os.path.getsize(p),
            "rows": pq.ParquetFile(p).metadata.num_rows,
        }

    if len(paths) <= 2:
        return [one(p) for p in paths]
    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
        return list(pool.map(one, paths))


def posix_root(root: str) -> str:
    """The POSIX path a checkpoint or seen-set root names.

    Metadata/bitmap IO uses plain POSIX calls (os, pyarrow local
    reads, np.load in executor tasks), so the root must be a
    local-scheme path on storage shared by driver and executors (NFS
    on a cluster). Any other URI would silently split the store: Spark
    writes would go to its scheme while manifests and Bloom sidecars
    land in a bogus local "hdfs:" (or "file:") directory, so a
    ``file:`` URI in any form becomes its path."""
    parts = urlsplit(root)
    if parts.scheme not in ("", "file"):
        raise ValueError(
            f"checkpoint and seen-set roots must be a POSIX path shared "
            f"by driver and executors (got scheme {parts.scheme!r}); "
            f"route it through a mounted filesystem instead"
        )
    return parts.path if parts.scheme else root


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        root = posix_root(root)
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _round_dir(self, round_no: int) -> str:
        return os.path.join(self.root, f"round={round_no}")

    # metric name -> table whose committed row count supplies it
    # (footer-derived — avoids one Spark count job per metric per round)
    ROW_METRICS = {"fetched": "fetch_log"}
    # metric name -> table whose rows ACCUMULATE across the snapshot
    # chain: value = this round's delta rows + the parent manifest's
    # metric. The matches table is committed as a PER-ROUND DELTA
    # (rewriting the cumulative set each round is an O(rounds x
    # matches) write amplification that grows without bound at the
    # 10^10 design point); the manifest metric stays cumulative.
    CUMULATIVE_ROW_METRICS = {"matches_total": "matches"}

    def commit(
        self,
        round_no: int,
        tables: dict[str, DataFrame],
        metrics: dict,
        config_hash: str,
        concurrent: bool = True,
    ) -> dict:
        """Write a snapshot for ``round_no`` atomically; return manifest.

        ``concurrent=True`` submits the table writes from threads so
        their fixed job latencies overlap — the right call for SMALL
        rounds where each job uses a handful of tasks. For big rounds
        every write already saturates the cluster, and concurrent
        submission only adds contention (measured 17s concurrent vs
        2.8s serial at a 200k-row round on local[32]) — the engine
        passes concurrent=False above its small-round threshold."""
        t_commit = time.time()
        tmp = os.path.join(self.root, f"_tmp.round={round_no}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)

        def _write(item):
            name, df = item
            df.write.mode("overwrite").parquet(os.path.join(tmp, name))
            return name

        if concurrent:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
                list(pool.map(_write, tables.items()))
        else:
            for item in tables.items():
                _write(item)

        table_meta = {}
        for name in tables:
            parts = _dir_metrics(os.path.join(tmp, name))  # footers, no job
            table_meta[name] = {
                "rows": sum(p["rows"] for p in parts),
                "partitions": parts,
            }
        committed_below = [
            r for r in self._committed_rounds() if r < round_no
        ]
        parent = max(committed_below) if committed_below else None
        metrics = dict(metrics)
        for metric, table in self.ROW_METRICS.items():
            if metric not in metrics and table in table_meta:
                metrics[metric] = table_meta[table]["rows"]
        for metric, table in self.CUMULATIVE_ROW_METRICS.items():
            if metric not in metrics and table in table_meta:
                base = (
                    self.read_manifest(parent)["metrics"].get(metric, 0)
                    if parent is not None
                    else 0
                )
                metrics[metric] = base + table_meta[table]["rows"]
        # commit wall-time is measured HERE, before the manifest is
        # serialized, so the on-disk manifest and the returned summary
        # report the same phase timings (it excludes only the json
        # dump + final rename, which are sub-ms)
        metrics["phase_sec"] = {
            **metrics.get("phase_sec", {}),
            "commit": round(time.time() - t_commit, 3),
        }
        # parent derives from the ROUND NUMBER, not latest_round():
        # recommitting round 0 over an existing root would otherwise
        # point its manifest at round N and make lineage() a cycle.
        manifest = {
            "round": round_no,
            "parent_round": parent,
            "committed_at": time.time(),
            "config_hash": config_hash,
            "tables": table_meta,
            "metrics": metrics,
        }
        manifest["snapshot_id"] = hashlib.blake2b(
            json.dumps(
                {k: manifest[k] for k in ("round", "parent_round", "config_hash", "tables")},
                sort_keys=True,
            ).encode(),
            digest_size=8,
        ).hexdigest()
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        final = self._round_dir(round_no)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)  # atomic publish
        return manifest

    def _committed_rounds(self) -> list[int]:
        rounds = []
        if os.path.exists(self.root):
            for d in os.listdir(self.root):
                if d.startswith("round=") and os.path.exists(
                    os.path.join(self.root, d, "manifest.json")
                ):
                    rounds.append(int(d.split("=", 1)[1]))
        return sorted(rounds)

    def latest_round(self) -> int | None:
        rounds = self._committed_rounds()
        return rounds[-1] if rounds else None

    def read_manifest(self, round_no: int) -> dict:
        with open(os.path.join(self._round_dir(round_no), "manifest.json")) as f:
            return json.load(f)

    def read_table(self, round_no: int, name: str, schema: str | None = None) -> DataFrame:
        """A committed table; a ``schema`` spares the read Spark's
        footer-inference job."""
        reader = self.spark.read.schema(schema) if schema else self.spark.read
        return reader.parquet(self._table_dir(round_no, name))

    def _table_dir(self, round_no: int, name: str) -> str:
        """Physical directory of a table — resolved through the
        manifest's ``path`` pointer when present (Iceberg semantics:
        metadata points at data; compaction swaps the pointer, never
        mutates a directory in place)."""
        m = self.read_manifest(round_no)
        rel = m["tables"].get(name, {}).get("path", name)
        return os.path.join(self._round_dir(round_no), rel)

    def delta_table_paths(self, name: str, upto: int | None = None) -> list[str]:
        """Directories of a per-round-delta table for all committed
        rounds <= ``upto`` (default: all). The matches table is stored
        this way: cumulative state = one multi-path parquet scan over
        the deltas; ``expire_snapshots`` compacts the chain's head
        into a BASE table (manifest key ``base_tables``), after which
        the scan starts at the base — rounds below it are excluded
        even if their directories still linger (crash between the
        manifest publish and the cleanup deletes must never
        double-count)."""
        rounds = self._committed_rounds()
        if upto is not None:
            if rounds and upto < rounds[0]:
                # below the oldest committed round: an ERROR only when
                # that round is actually a compaction base for this
                # table (expiry really dropped history below it). On a
                # store expire_snapshots never touched, rounds below
                # the first commit simply have no deltas — e.g.
                # upto=-1 on a fresh store — and the honest answer is
                # the empty list, not a claim of expiry (ADVICE r4).
                if name in self.read_manifest(rounds[0]).get(
                    "base_tables", []
                ):
                    raise ValueError(
                        f"round {upto} was expired (oldest retained "
                        f"snapshot is {rounds[0]}) — no time travel "
                        "below an expired snapshot"
                    )
                return []
            rounds = [r for r in rounds if r <= upto]
        # scan newest-first and stop at the base: manifests below it
        # are never opened, so the per-call metadata cost is O(rounds
        # above the base), not O(all rounds) — on an expired
        # steady-state chain that is keep_last reads per call
        kept: list[tuple[int, dict]] = []
        for r in reversed(rounds):
            m = self.read_manifest(r)
            kept.append((r, m))
            if name in m.get("base_tables", []):
                break
        out = []
        for r, m in reversed(kept):
            rel = m["tables"].get(name, {}).get("path", name)
            path = os.path.join(self._round_dir(r), rel)
            if os.path.isdir(path):
                out.append(path)
        return out

    def _sweep_expiry_garbage(self) -> None:
        """Finish a crashed expiry's step-3 cleanup. Runs at the top
        of every ``expire_snapshots`` call — including ones with
        nothing new to expire — so garbage from any crash window is
        collected: round directories recorded in a live manifest's
        ``expired_parents``, superseded or orphaned matches
        directories (plain ``matches`` behind a swapped pointer,
        ``matches.base-*`` generations the pointer skipped, and
        ``_tmp.matches.base-*`` staging dirs)."""
        rounds = self._committed_rounds()
        manifests = {r: self.read_manifest(r) for r in rounds}
        expired: set[int] = set()
        for m in manifests.values():
            expired |= set(m.get("expired_parents", []))
        for r in sorted(expired):
            # unconditionally: a cleanup that crashed after unlinking
            # a round's manifest leaves a manifest-less dir that would
            # otherwise leak forever (rmtree on a missing dir no-ops)
            shutil.rmtree(self._round_dir(r), ignore_errors=True)
        for r, m in manifests.items():
            if r in expired:
                continue
            cur = m["tables"].get("matches", {}).get("path", "matches")
            rd = self._round_dir(r)
            for child in os.listdir(rd):
                if child == cur:
                    continue
                if (
                    child.startswith("matches.base-")
                    or child.startswith("_tmp.matches.base-")
                    or (child == "matches" and cur != "matches")
                ):
                    shutil.rmtree(os.path.join(rd, child),
                                  ignore_errors=True)

    def expire_snapshots(self, keep_last: int) -> dict:
        """Iceberg-style snapshot expiry: drop all but the newest
        ``keep_last`` committed rounds, first compacting the expiring
        rounds' per-round ``matches`` deltas (plus any earlier base)
        into a BASE table at the oldest retained round so cumulative
        reads stay exact. Bounds checkpoint storage on long crawls —
        thousands of rounds otherwise accumulate thousands of
        frontier/fetch_log copies and a thousands-path matches scan.

        Crash-safe by ordering (each step leaves a consistent store):

        1. the compacted table is written to a fresh versioned
           directory under the retained round (stray on crash —
           invisible, the manifest still points at the old path);
        2. the retained round's manifest is atomically replaced: the
           ``matches`` pointer swaps to the compacted directory, the
           round joins ``base_tables``, and ``parent_round`` becomes
           None (the lineage now ends here). From this instant,
           ``delta_table_paths`` excludes everything below the base,
           so still-undeleted expired directories can never be
           double-counted;
        3. expired round directories and the superseded matches
           directory are deleted (pure cleanup; a crash re-runs it on
           the next expiry).

        Expired rounds are gone for time travel (that is what expiry
        means); reads at or above the base are unchanged. The
        retained manifest keeps its original ``snapshot_id`` — the
        snapshot's logical content is untouched, compaction is
        physical. The live SEEN state is not touched (it is
        membership state, not history). Returns a summary dict.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        # collect any prior crashed expiry's garbage FIRST — even when
        # this call has nothing new to expire (the docstring's "a
        # crash re-runs cleanup on the next expiry" must hold on the
        # no-op path too)
        self._sweep_expiry_garbage()
        rounds = self._committed_rounds()
        if len(rounds) <= keep_last:
            return {"expired": [], "retained": rounds}
        retained, expired = rounds[-keep_last:], rounds[:-keep_last]
        base = retained[0]
        base_dir = self._round_dir(base)

        # 1. compacted matches = every delta (and prior base) <= base.
        # The directory name carries a GENERATION counter probed for
        # freshness: a repeat expiry at the same base writes a fresh
        # directory and swaps the manifest pointer — never renames
        # onto (or deletes) the directory the live manifest still
        # points at (post-sweep, the only surviving generation IS the
        # live pointer, so the probe skips at most one).
        src_paths = self.delta_table_paths("matches", upto=base)
        m = self.read_manifest(base)
        old_rel = m["tables"].get("matches", {}).get("path", "matches")
        gen = 0
        while os.path.exists(
            os.path.join(base_dir, f"matches.base-upto{base}-g{gen}")
        ):
            gen += 1
        compact_rel = f"matches.base-upto{base}-g{gen}"
        compact_tmp = os.path.join(base_dir, "_tmp." + compact_rel)
        if os.path.exists(compact_tmp):
            shutil.rmtree(compact_tmp)
        if src_paths:
            self.spark.read.parquet(*src_paths).coalesce(
                max(1, len(src_paths) // 8)
            ).write.mode("overwrite").parquet(compact_tmp)
            os.rename(compact_tmp, os.path.join(base_dir, compact_rel))
            parts = _dir_metrics(os.path.join(base_dir, compact_rel))
            m["tables"]["matches"] = {
                "rows": sum(p["rows"] for p in parts),
                "partitions": parts,
                "path": compact_rel,
            }

        # 2. atomic manifest publish — the commit point of the expiry
        m["base_tables"] = sorted(set(m.get("base_tables", [])) | {"matches"})
        m["parent_round"] = None
        m["expired_parents"] = sorted(
            set(m.get("expired_parents", [])) | set(expired)
        )
        mf = os.path.join(base_dir, "manifest.json")
        tmp = mf + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, mf)

        # 3. cleanup (safe to repeat / lose to a crash)
        for r in expired:
            shutil.rmtree(self._round_dir(r), ignore_errors=True)
        if src_paths and old_rel != compact_rel:
            shutil.rmtree(os.path.join(base_dir, old_rel), ignore_errors=True)
        return {
            "expired": expired,
            "retained": retained,
            "matches_rows": m["tables"].get("matches", {}).get("rows", 0),
        }

    def lineage(self, round_no: int | None = None) -> list[dict]:
        """Manifest chain from the given (default latest) round back to 0.

        Guarded against non-monotone parent pointers (e.g. a manifest
        written by an older version that recommitted a round over an
        existing root): a parent that does not strictly decrease ends
        the chain instead of looping forever.
        """
        cur = self.latest_round() if round_no is None else round_no
        chain = []
        while cur is not None:
            m = self.read_manifest(cur)
            chain.append(m)
            parent = m["parent_round"]
            if parent is not None and parent >= cur:
                break
            cur = parent
        return chain
