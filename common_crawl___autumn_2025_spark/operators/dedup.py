"""Deduplication operators over the ``documents`` table.

Five dedup families, each a ``queries()`` entry:

- exact (hash groupBy) — oracle-checked;
- shingle Jaccard (3-gram, exact) — oracle-checked, integer-ratio
  threshold;
- MinHash + LSH banding — oracle-checked (Spark's xxhash64 unrolled
  into DuckDB SQL, see ``functions/xxh64_sql.py``) AND validated by
  pytest against exact Jaccard (candidates ⊇ true pairs);
- SimHash — pure-JVM Catalyst expression, oracle-checked, plus the
  banded hamming<=3 near-dup join (d07), also oracle-checked;
- chunk-level exact-substring (d08) — non-overlapping token chunks
  counted corpus-wide, per-doc duplicated-span fraction + keep
  verdict (Lee et al. ExactSubstr at chunk granularity) —
  oracle-checked;
- embedding-cosine near-dup lives in ``similarity.py`` (v02), as
  does centroid-blocked semantic dedup (v06, SemDeDup-style).

Scale shape: every family is shuffle-on-key (hash, shingle, band
bucket) with no driver-side state; candidate generation is blocked
(LSH bands / shingle buckets), never all-pairs. All-pairs appears
only inside the *exact* verifiers at test scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.xxh64_sql import xxh64_ctes
from ..plans import load, register, spread_if_large

N_HASHES = 32          # minhash signature length
N_BANDS = 16           # LSH bands (rows per band = 2): for J=0.85
                       # pairs, miss probability (1-J^2)^16 ~ 1e-9;
                       # extra candidates are cheap (verified exactly
                       # downstream), misses are not
SHINGLE = 3


def _shingles(toks_col: str = "toks"):
    """3-token shingles as strings, JVM-side: sequence → transform.

    IMPORTANT: takes a *materialized* token-array column, never an
    inline split() expression — higher-order functions run
    interpreted, so an inline expression would be re-evaluated for
    every element access (measured 10x slowdown at sf0.1)."""
    toks = F.col(toks_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - SHINGLE, F.lit(0)))
    return F.when(
        n >= SHINGLE,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", toks[i], toks[i + 1], toks[i + 2]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks[0])))


def _with_shingle_arr(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + materialized distinct-shingle array (+ its size).

    NULL text yields NO shingles (the doc simply does not participate
    in similarity) — without the filter, ``concat_ws`` over the NULL
    token array would conflate NULL with the empty document's ``""``
    shingle and pair them; the DuckDB oracles propagate NULL and have
    always excluded such docs."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .withColumn("toks", F.split(F.col(text_col), " "))
        .withColumn("arr", F.array_distinct(_shingles("toks")))
        .select("doc_id", F.size("arr").alias("sz"), "arr")
    )


@register(
    "d01_exact_dup",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    )
    SELECT text_hash, n_copies, keeper_doc FROM (
      SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_copies,
             CAST(min(doc_id) AS BIGINT) AS keeper_doc
      FROM corpus GROUP BY md5(text)
    ) WHERE n_copies > 1
    """,
)
def d01_exact_dup(spark, sf_dir):
    """Exact dedup: hash-groupBy on the content digest, keeping the
    min-id representative per group. The testdata has no exact dups,
    so the corpus plants 50 (docs re-unioned under shifted ids) — the
    op must find exactly those. At 100 TB only the digest shuffles
    (text is projected away before the exchange)."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return (
        corpus.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
        )
        .where(F.col("n_copies") > 1)
    )


MAX_SHINGLE_DF = 64


def shingle_jaccard_pairs(docs: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Pairs of docs with 3-gram-shingle Jaccard >= 0.3.

    Candidate pairs come from a shuffle-join on the shingle (blocking
    key) — only docs sharing a shingle ever meet. ``max_df`` caps the
    blocking: shingles appearing in more than ``max_df`` documents are
    dropped from the JOIN SIDE (set sizes stay exact), because one
    stop-word shingle shared by D documents makes an O(D^2) hot bucket
    in the self-join — quadratic death at corpus scale. The cap is a
    documented conservative approximation: a pair whose every shared
    shingle is ultra-common loses those shingles from its intersection
    count and can drop below the threshold; pairs sharing any rarer
    shingle are unaffected in candidacy (their ``i`` may shrink — the
    DuckDB oracle applies the identical cap, so both engines agree
    exactly).
    """
    spark = docs.sparkSession
    # small parquet files arrive as one input split; the shingle
    # explode multiplies rows ~100x, so spread BEFORE exploding —
    # at 100 TB this is the difference between 1 task and N
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # carry the set size through the explode: the pair aggregation
    # then needs no extra size joins.
    # localCheckpoint: the self-join would otherwise recompute the
    # shingle explode for both sides (measured 5x wall time at sf0.1)
    # join/aggregate on xxhash64(shingle), not the shingle string:
    # every downstream exchange (DF cap, self-join) then moves an
    # 8-byte long instead of a ~25-byte string and compares ints.
    # A 64-bit collision merging two distinct shingles is ~1e-8 at
    # 10^5-10^6 distinct shingles — far below the cap approximation
    # this operator already documents (the DuckDB oracle joins on
    # the strings themselves and still matches exactly).
    sh = _with_shingle_arr(docs).select(
        "doc_id",
        "sz",
        F.explode(
            F.transform("arr", lambda s: F.xxhash64(s))
        ).alias("shingle"),
    ).localCheckpoint(eager=True)
    # document-frequency cap: drop hot shingles before the self-join.
    # r7: the df count is a WINDOW over the shingle partition instead
    # of the former aggregate + semi-join — the window's required
    # distribution is the same hash(shingle) the self-join needs, so
    # the cap costs no extra exchange at all (A/B at sf1.0: pair
    # chain 1.27 s -> 0.74 s; identical row multiset — same per-
    # shingle df, same <= cap filter, mirrored by the oracle's rare
    # CTE as before).
    shc = (
        sh.withColumn(
            "__df", F.count("*").over(Window.partitionBy("shingle"))
        )
        .where(F.col("__df") <= max_df)
        .drop("__df")
    )
    # the exploded relation is ~50x the parquet row-count the planner
    # sees, so Catalyst would wrongly broadcast it — force a shuffle
    # hash join on the shingle key (both sides are the same size; at
    # scale a sort-merge is equally fine, broadcast never is)
    x = shc.alias("x")
    y = shc.hint("shuffle_hash").alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("i"),
            F.first(F.col("x.sz")).alias("sa"),
            F.first(F.col("y.sz")).alias("sb"),
        )
    )
    return inter.where(
        F.col("i") * 10 >= 3 * (F.col("sa") + F.col("sb") - F.col("i"))
    ).select("doc_a", "doc_b")


# d02's pair derivation as composable CTE text (d05 builds its
# component oracle on top of the same pairs)
_D02_CTES = f"""lists AS (
      SELECT doc_id, string_split(text, ' ') AS l
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(l) >= 3
             THEN list_transform(range(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])
             ELSE [l[1]] END) AS shingle
      FROM lists
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {MAX_SHINGLE_DF}
    ),
    shc AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
    inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
      FROM shc x JOIN shc y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE i * 10 >= 3 * (sa.sz + sb.sz - i)
    )"""


@register(
    "d02_shingle_jaccard",
    f"""
    WITH {_D02_CTES}
    SELECT doc_a, doc_b FROM pairs
    """,
)
def d02_shingle_jaccard(spark, sf_dir):
    """N-gram Jaccard dedup, exact up to the hot-shingle cap: 3-gram
    shingle sets, pairs with J >= 0.3, shingles with document
    frequency > MAX_SHINGLE_DF excluded from blocking (see
    shingle_jaccard_pairs). The threshold is the integer
    cross-product 10·|A∩B| >= 3·|A∪B|."""
    return shingle_jaccard_pairs(load(spark, sf_dir, "documents"))


def dup_components(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over duplicate pairs: (doc_id, component)
    with component = min doc_id reachable — the clustering step a
    dedup pipeline needs to pick ONE representative per duplicate
    group (the reference keeps first-seen per group; min-id is the
    deterministic distributed analog).

    Iterative min-label propagation: every node adopts the minimum of
    its own and its neighbors' labels until a fixpoint. Labels only
    decrease, so sum(labels) strictly decreases each round — the
    driver loop stops when it stabilizes (one tiny agg per round; the
    relation is localCheckpoint'ed so each iteration's lineage stays
    flat). O(component diameter) rounds; dup components are
    shallow in practice. If the fixpoint is NOT reached within
    ``max_iters`` (component diameter > max_iters — long duplicate
    chains at corpus scale), the partial labels would be silently
    WRONG, so this falls back to ``dup_components_star`` (O(log n)
    rounds, same output contract, equality pytest-pinned) with a
    warning instead of returning them.
    """
    from pyspark.sql import functions as F

    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = fwd.unionByName(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    total = labels.agg(F.sum("component")).collect()[0][0]
    converged = total is None  # no edges at all -> trivially done
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        # LAZY localCheckpoint: the convergence agg below is the
        # action that materializes it, so each iteration costs ONE
        # Spark job instead of two (eager checkpoint + agg) — at
        # O(diameter) iterations the fixed per-job latency is the
        # dominant cost of this loop, not the tiny shuffles (AQE
        # coalesces those to a handful of tasks)
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        new_total = labels.agg(F.sum("component")).collect()[0][0]
        if new_total == total:
            converged = True
            break
        total = new_total
    if not converged:
        import warnings

        warnings.warn(
            f"dup_components: no fixpoint after {max_iters} label-"
            "propagation rounds (component diameter exceeds the cap); "
            "falling back to the O(log n) large-star/small-star "
            "algorithm",
            RuntimeWarning,
            stacklevel=2,
        )
        return dup_components_star(pairs)
    w = F.count("*").over(Window.partitionBy("component"))
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        w.cast("long").alias("csize"),
    )


def dup_components_star(pairs: DataFrame, max_iters: int = 40) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    converges in O(log n) rounds regardless of component diameter —
    the web-scale path SCALE.md prescribes when duplicate chains can
    be long. Same interface and output as ``dup_components``
    (doc_id, component = min reachable id, csize); equality between
    the two algorithms is pytest-pinned.

    large-star(u): every strictly larger neighbor of u re-attaches to
    min(Γ(u) ∪ {u}); small-star(u): every smaller-or-equal neighbor
    (and u itself) re-attaches to that minimum. Both are one
    groupBy + join each; the edge set monotonically flattens into
    per-component stars rooted at the minimum id. Raises
    ``RuntimeError`` if no fixpoint is reached within ``max_iters``
    rounds rather than return partial labels.
    """
    from pyspark.sql import functions as F

    def canon(df):
        # undirected edge set, canonical (small, large) orientation
        return (
            df.where(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"),
                F.greatest("u", "v").alias("v"),
            )
            .distinct()
        )

    edges = canon(
        pairs.select(
            F.col("doc_a").cast("long").alias("u"),
            F.col("doc_b").cast("long").alias("v"),
        )
    ).localCheckpoint(eager=True)

    def checksum(df):
        # decimal sum: ANSI mode rejects long-overflowing sums of
        # 64-bit hashes
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def large_star(df):
        sym = df.unionByName(
            df.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        out = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, on=["u"])
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return canon(out)

    def small_star(df):
        # canonical orientation: v <= u when grouping by the larger end
        directed = df.select(F.col("v").alias("u"), F.col("u").alias("v"))
        mins = directed.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        attach = directed.join(mins, on=["u"])
        out = attach.select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).unionByName(attach.select("u", F.col("m").alias("v")))
        return canon(out)

    sig = checksum(edges)
    for _ in range(max_iters):
        # LAZY checkpoints: the checksum action materializes both
        # (large-star then small-star) inside ONE job per iteration
        # instead of three — per-job latency dominates this loop's
        # cost once AQE has coalesced the tiny shuffles. Lineage
        # still truncates at each checkpoint once materialized.
        edges = large_star(edges).localCheckpoint(eager=False)
        edges = small_star(edges).localCheckpoint(eager=False)
        new_sig = checksum(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # the edge set may not be stars yet: its labels would be
        # silently wrong partial components
        raise RuntimeError(
            f"dup_components_star: no fixpoint after {max_iters} rounds"
        )
    # converged: per-component stars rooted at the min id
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("component")
    )
    w = Window.partitionBy("component")
    return labels.select(
        F.col("u").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        F.count("*").over(w).cast("long").alias("csize"),
    )


_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE {_D02_CTES},
    nodes AS (
      SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
    SELECT node AS doc_id,
           CAST(component AS BIGINT) AS component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS csize
    FROM comp
    """


@register("d05_dup_components", _COMPONENTS_ORACLE)
def d05_dup_components(spark, sf_dir):
    """Near-duplicate CLUSTERING: connected components over the d02
    Jaccard pairs (iterative distributed label propagation), exactly
    value-matched against a DuckDB recursive-CTE transitive closure.
    component = min doc_id of the group = the kept representative."""
    return dup_components(
        shingle_jaccard_pairs(load(spark, sf_dir, "documents"))
    )


@register("d06_dup_components_star", _COMPONENTS_ORACLE)
def d06_dup_components_star(spark, sf_dir):
    """d05's clustering via the O(log n) large-star/small-star
    algorithm — same recursive-CTE oracle, so BOTH distributed
    component algorithms are independently value-checked against the
    single-threaded transitive closure."""
    return dup_components_star(
        shingle_jaccard_pairs(load(spark, sf_dir, "documents"))
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>): MinHash over 3-gram shingles.

    Base hashes are JVM-side (``transform(arr, xxhash64)`` — one
    Catalyst expression per shingle, no Python string hashing; the
    earlier per-shingle ``hashlib.blake2b`` loop was the d03 hot
    spot, ~10M interpreter calls at sf0.1). The Python stage then
    only runs the n-hash universal family (a_i·h + b_i) mod p as a
    SEGMENTED numpy op over the whole Arrow batch: one
    ``minimum.reduceat`` per ~200k-shingle chunk, per-doc Python
    limited to an asarray + tolist. This in turn replaced an explode
    + n min()-aggregates JVM plan that cost a shuffle plus 32
    aggregate expressions per shingle (~2x slower at sf0.1 and worse
    with n_hashes)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    with_arr = _with_shingle_arr(docs).select(
        "doc_id", F.transform("arr", lambda s: F.xxhash64(s)).alias("harr")
    )
    # universal family (a·h + b) mod p over 31-bit base hashes with
    # p = 2^31-1: products < 2^62 fit uint64 AND wrap p many times, so
    # the result is uniform mod p. (A larger p against the same
    # product range is NOT uniform — the min then just tracks the
    # smallest base hash and signatures degenerate; caught by the
    # planted-duplicate tests.) Base hash = low 31 bits of xxhash64.
    a, b, m = _minhash_family(n_hashes)
    mod = np.uint64(m)
    mask31 = np.uint64(0x7FFFFFFF)
    # bound the (n_hashes x chunk_shingles) work matrix to ~50 MB
    chunk_shingles = 200_000

    def sign(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": []})
                continue
            arrs = [
                np.asarray(x, dtype=np.int64)
                if x is not None
                else np.empty(0, dtype=np.int64)
                for x in pdf["harr"]
            ]
            sigs: list = [None] * n
            # a shingle-less doc (under 3 tokens) gets the empty-set
            # signature (all-p sentinel, matching min-over-nothing)
            empty_sig = np.full(n_hashes, np.int64(mod)).tolist()
            start = 0
            while start < n:
                end, total = start, 0
                while end < n and (
                    total == 0 or total + len(arrs[end]) <= chunk_shingles
                ):
                    total += len(arrs[end])
                    end += 1
                idx = [i for i in range(start, end) if len(arrs[i])]
                if idx:
                    cat = (
                        np.concatenate([arrs[i] for i in idx]).astype(
                            np.uint64
                        )
                        & mask31
                    )
                    vals = (a[:, None] * cat[None, :] + b[:, None]) % mod
                    lens = np.array([len(arrs[i]) for i in idx])
                    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                    mins = np.minimum.reduceat(vals, starts, axis=1)
                    for j, i in enumerate(idx):
                        sigs[i] = mins[:, j].astype(np.int64).tolist()
                for i in range(start, end):
                    if sigs[i] is None:
                        sigs[i] = empty_sig
                start = end
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return with_arr.mapInPandas(sign, schema="doc_id long, sig array<long>")


def band_table(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, bucket) from MinHash signatures: each band's
    signature slice concat-hashed into one 64-bit bucket key — the
    relation every LSH join (self OR cross-corpus) probes."""
    n_hashes = N_HASHES
    rows_per_band = n_hashes // n_bands
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return banded


def lsh_candidates(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Band the signatures and self-join on (band, bucket) — the LSH
    candidate generator. Returns distinct (doc_a, doc_b)."""
    banded = band_table(sigs, n_bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _minhash_family(n_hashes: int = N_HASHES):
    """The universal-family coefficients (a_k, b_k) d03 uses —
    deterministic (PCG64 seed 0xC0FFEE), shared by the engine and
    the SQL oracle so both see the identical permutations."""
    mod = (1 << 31) - 1
    g = np.random.Generator(np.random.PCG64(0xC0FFEE))
    a = g.integers(1, mod, size=n_hashes, dtype=np.uint64)
    b = g.integers(0, mod, size=n_hashes, dtype=np.uint64)
    return a, b, mod


def _minhash_band_sql(doc_cte: str) -> tuple[str, str]:
    """The full MinHash->band CTE chain in DuckDB SQL, from a
    ``doc_cte(doc_id, text)`` relation to a banded-hash relation
    ``(doc_id, band, h)``; returns (ctes, final_name).

    ONE definition spliced by both the d03 self-join oracle and the
    d10 cross-corpus oracle, so the signature rule cannot silently
    diverge between them. The one piece DuckDB lacks, Spark's
    ``xxhash64``, is unrolled into HUGEINT CTE chains by
    ``functions/xxh64_sql.py`` (bit-exact against the JVM via the
    pinned Python mirror); the universal hash family's 32 (a, b)
    pairs are inlined as literals from the same seeded generator the
    engine uses. Shingling replicates ``_shingles`` (d02's proven
    SQL), signatures are 32 ``min()`` aggregates, banding
    concatenates signature pairs exactly like the engine's
    ``concat_ws(',', ...)`` and rehashes them."""
    a, b, mod = _minhash_family()
    sh_ctes, sh_final = xxh64_ctes("dsh", "shing", ["doc_id"])
    bd_ctes, bd_final = xxh64_ctes("dbb", "bands", ["doc_id", "band"])
    mins = ",\n      ".join(
        f"min(({int(a[k])}*h31 + {int(b[k])}) % {mod}) AS s{k}"
        for k in range(N_HASHES)
    )
    rpb = N_HASHES // N_BANDS
    band_structs = ", ".join(
        "{'band': %d, 's': %s}"
        % (
            bnd,
            " || ',' || ".join(
                f"CAST(s{bnd * rpb + r} AS VARCHAR)" for r in range(rpb)
            ),
        )
        for bnd in range(N_BANDS)
    )
    ctes = f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS l
      FROM {doc_cte}
    ),
    shing AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(l) >= 3
             THEN list_transform(range(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])
             ELSE [l[1]] END) AS s
      FROM toks
    ),
    {sh_ctes},
    hv AS (SELECT doc_id, CAST(h % 2147483648 AS BIGINT) AS h31
           FROM {sh_final}),
    sigs AS (SELECT doc_id, {mins} FROM hv GROUP BY doc_id),
    bstructs AS (SELECT doc_id, unnest([{band_structs}]) AS bb FROM sigs),
    bands AS (SELECT doc_id, bb.band AS band, bb.s AS s FROM bstructs),
    {bd_ctes}"""
    return ctes, bd_final


def _d03_oracle_sql() -> str:
    """Full DuckDB value oracle for d03: the shared MinHash->band
    chain plus the same (band, bucket) self-join the engine runs."""
    ctes, final = _minhash_band_sql("src")
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ),
    {ctes}
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM {final} x JOIN {final} y
      ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id
    ORDER BY doc_a, doc_b
    """


@register("d03_minhash_lsh", _d03_oracle_sql())
def d03_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (shingle→minhash→band→bucket
    join). The scale path for d02: candidates are O(collisions), not
    O(n²); verified against exact Jaccard in tests/test_dedup.py AND
    by a full DuckDB value oracle (xxhash64 unrolled to SQL)."""
    docs = load(spark, sf_dir, "documents")
    # pin the signatures: the band self-join reads them twice
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)
    return lsh_candidates(sigs).orderBy("doc_a", "doc_b")


def _simhash_ctes() -> str:
    """The shared DuckDB CTE chain computing per-doc SimHash: per-token
    XXH64 via the SQL unroll (grouped by (doc, token) so each distinct
    token hashes once, weighted by its count), bit votes as a 64-way
    cross join, the signed fingerprint reassembled from winning bits
    into ``sims(doc_id, simhash)``. Shared by the d04 and d07 oracles."""
    hx, hf = xxh64_ctes("d4h", "tokc", ["doc_id", "cnt"])
    return f"""toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    tokc AS (
      SELECT doc_id, tok AS s, CAST(COUNT(*) AS HUGEINT) AS cnt
      FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    {hx},
    votes AS (
      SELECT f.doc_id, r.i,
             SUM(f.cnt * (2 * ((f.h // CAST(POWER(2, r.i) AS HUGEINT)) % 2)
                          - 1)) AS v
      FROM {hf} f CROSS JOIN range(0, 64) r(i)
      GROUP BY f.doc_id, r.i
    ),
    sims AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN
               CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                    ELSE CAST(POWER(2, i) AS HUGEINT) END
               ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )"""


def _d04_oracle_sql() -> str:
    """Full value oracle for the JVM SimHash (CTE chain above).
    Empty-token docs come back as 0 and NULL text as NULL via the
    final left join — the same edge semantics as the engine
    expression."""
    return f"""
    WITH {_simhash_ctes()}
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE COALESCE(s.simhash, 0) END AS simhash
    FROM documents d LEFT JOIN sims s USING (doc_id)
    ORDER BY doc_id
    """


@register("d04_simhash", _d04_oracle_sql())
def d04_simhash(spark, sf_dir):
    """64-bit SimHash per document, computed entirely JVM-side: one
    Catalyst expression (per-token ``xxhash64`` + ``zip_with`` bit
    voting, ``functions/text.py:simhash64_sql_expr``) — no Python
    workers, no shuffle, a pure map scan at 100 TB. Near-dup = small
    hamming distance; bit-equal to the Python mirror (pytest) and to
    the DuckDB oracle above."""
    from ..functions.text import simhash64_sql_expr

    return (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", simhash64_sql_expr("text") + " AS simhash")
        .orderBy("doc_id")
    )


def _d07_oracle_sql() -> str:
    """Full value oracle for the banded SimHash near-dup join: the
    shared fingerprint CTEs, the four 16-bit bands as an unsigned
    divide (HUGEINT bias for negative fingerprints), the same
    (band, bucket) self-join, and the same ``hamming <= 3`` verify
    via ``bit_count(xor(...))``."""
    return f"""
    WITH {_simhash_ctes()},
    fps AS (
      SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
      FROM documents d LEFT JOIN sims s USING (doc_id)
      WHERE d.text IS NOT NULL AND trim(d.text) <> ''
    ),
    banded AS (
      SELECT doc_id, simhash, r.b AS band,
             CAST(((CAST(simhash AS HUGEINT)
                    + CASE WHEN simhash < 0
                           THEN CAST(POWER(2, 64) AS HUGEINT)
                           ELSE CAST(0 AS HUGEINT) END)
                   // CAST(POWER(2, 16 * r.b) AS HUGEINT)) % 65536
                  AS BIGINT) AS bucket
      FROM fps CROSS JOIN range(0, 4) r(b)
    )
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
    FROM banded x JOIN banded y
      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """


@register("d07_simhash_band_neardup", _d07_oracle_sql())
def d07_simhash_band_neardup(spark, sf_dir):
    """SimHash near-duplicate PAIRS, the scale path that makes d04's
    fingerprint a complete dedup operator: the 64-bit JVM SimHash is
    split into four 16-bit bands, pairs sharing any band are
    candidates, and ``bit_count(x ^ y) <= 3`` verifies them. By
    pigeonhole, any pair within hamming distance 3 has at least one
    intact band, so the output is EXACTLY the set of pairs at
    hamming <= 3 — no recall loss, yet the join is a banded LSH
    shuffle on (band, bucket): O(collisions), never all-pairs, and
    the 4x16-bit key space spreads the shuffle evenly at 100 TB.
    Token-free docs (degenerate fingerprint 0) are excluded up
    front so they cannot form a quadratic all-zeros bucket."""
    from ..functions.text import simhash64_sql_expr

    fps = (
        load(spark, sf_dir, "documents")
        .where("text IS NOT NULL AND trim(text) <> ''")
        .selectExpr("doc_id", simhash64_sql_expr("text") + " AS simhash")
        # pinned: the band self-join reads the fingerprints twice
        .localCheckpoint(eager=True)
    )
    banded = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> struct(b AS band,"
                " shiftright(simhash, 16 * b) & 65535L AS bucket))"
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.expr("bit_count(x.simhash ^ y.simhash)").alias("hamming"),
        )
        .where("hamming <= 3")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# -- d08: chunk-level exact-substring dedup ---------------------------------

CHUNK = 10             # tokens per non-overlapping chunk; the tail
                       # (< CHUNK tokens) is dropped so every chunk
                       # compared is the same width
DUP_FRAC_KEEP = 0.5    # keep verdict threshold on duplicated fraction

_D08_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l
  FROM documents WHERE text IS NOT NULL
),
inst AS (
  SELECT doc_id, unnest(list_transform(range(0, CAST(len(l) // {CHUNK} AS INT)),
         i -> array_to_string(l[i*{CHUNK}+1:i*{CHUNK}+{CHUNK}], ' '))) AS ch
  FROM t WHERE len(l) >= {CHUNK}
),
gcnt AS (SELECT ch, count(*) AS cnt FROM inst GROUP BY ch)
SELECT doc_id,
       count(*) AS n_chunks,
       count(*) FILTER (g.cnt >= 2) AS dup_chunks,
       floor((count(*) FILTER (g.cnt >= 2))::DOUBLE / count(*)
             * 1000000 + 0.5) / 1000000 AS dup_frac,
       (floor((count(*) FILTER (g.cnt >= 2))::DOUBLE / count(*)
             * 1000000 + 0.5) / 1000000) <= {DUP_FRAC_KEEP} AS keep
FROM inst JOIN gcnt g USING (ch)
GROUP BY doc_id
ORDER BY doc_id
"""


@register("d08_exact_substring", _D08_ORACLE)
def d08_exact_substring(spark, sf_dir):
    """Exact-substring dedup at chunk granularity (the scalable
    approximation of Lee et al.'s ExactSubstr, which the reference's
    single-process dedup pass cannot express at all): split each doc
    into non-overlapping CHUNK-token spans, count every span string
    corpus-wide, and report per doc the fraction of its spans that
    occur >= 2 times anywhere (within-doc repeats included — repeated
    boilerplate is duplication wherever it lives) plus a keep verdict
    at DUP_FRAC_KEEP.

    Scale shape: chunks leave the scan as xxhash64 digests, never
    strings, so the global count is a partial-aggregated shuffle of
    64-bit keys; the dup-mark join's build side is only the chunks
    with count >= 2 (heavily reduced — AQE picks broadcast when it
    fits). The DuckDB oracle groups by the chunk STRING — exact
    ground truth — so a hash collision that merged two distinct
    chunks would surface as an engine/oracle mismatch.  Docs with
    NULL text or fewer than CHUNK tokens have no chunks and are
    excluded (mirrored by the oracle)."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    inst = (
        # scale-adaptive spread before the tokenize+hash explode: a
        # small parquet file arrives as ONE input split, serializing
        # the chunk digesting — but only worth the exchange once every
        # core gets >= 1024 docs (A/B: sf1.0 1.91->1.62 s; sf0.1 the
        # unconditional spread read 0.69->0.95 s, hence the gate)
        spread_if_large(docs, sf_dir, "documents", key="doc_id")
        .withColumn("toks", F.split("text", " "))
        .withColumn("nch", F.floor(F.size("toks") / CHUNK).cast("int"))
        .where(F.col("nch") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, nch - 1),"
                    f" i -> xxhash64(concat_ws(' ',"
                    f" slice(toks, i*{CHUNK}+1, {CHUNK}))))"
                )
            ).alias("ch"),
        )
        # pinned: both the global count and the dup-mark join read the
        # exploded chunk digests — without this the tokenize+hash scan
        # runs once per consumer (d02 pins its shingles likewise)
        .localCheckpoint(eager=True)
    )
    gcnt = inst.groupBy("ch").agg(F.count("*").alias("cnt"))
    dup_marked = inst.join(
        gcnt.where(F.col("cnt") >= 2).select("ch", F.lit(1).alias("dup")),
        on="ch",
        how="left",
    )
    return (
        dup_marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count("dup").alias("dup_chunks"),
        )
        .withColumn(
            "dup_frac",
            F.floor(
                F.col("dup_chunks").cast("double") / F.col("n_chunks")
                * 1000000 + F.lit(0.5)
            ) / 1000000,
        )
        .withColumn("keep", F.col("dup_frac") <= DUP_FRAC_KEEP)
        .orderBy("doc_id")
    )


# -- d09: incremental dedup (new batch vs historical corpus) -------------------

_D09_PLANT = 40


def _assert_plant_ids_clear(sf_dir: str) -> None:
    """ADVICE r6 #3: d09/d10 encode the batch/history split as literal
    doc_id offsets (+2,000,000 / +3,000,000). If a corpus ever carries
    natural doc_ids at or above 2,000,000, engine and oracle would
    silently diverge on corpus membership — fail LOUDLY instead. The
    check reads the parquet footer's column statistics (no Spark job)."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "documents.parquet")
    paths = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    )
    mx = None
    for p in paths:
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if "doc_id" not in idx:
            return  # schema without doc_id: nothing to collide with
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["doc_id"]).statistics
            if st is None or not st.has_min_max:
                return  # stats unavailable: cannot check cheaply
            mx = st.max if mx is None else max(mx, st.max)
    if mx is not None and mx >= 2_000_000:
        raise ValueError(
            f"d09/d10 plant-id offsets collide: max natural doc_id {mx} "
            ">= 2,000,000 — the batch/history split would be corrupted"
        )

_D09_ORACLE = f"""
WITH hist AS (
  SELECT DISTINCT md5(text) AS digest FROM documents
  WHERE doc_id % 2 = 0 AND text IS NOT NULL
),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents
  WHERE doc_id % 2 = 0 AND doc_id < {_D09_PLANT}
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents
  WHERE doc_id % 2 = 1 AND doc_id < {_D09_PLANT}
),
b AS (
  SELECT doc_id, md5(text) AS digest FROM batch WHERE text IS NOT NULL
),
firsts AS (
  SELECT doc_id, digest,
         min(doc_id) OVER (PARTITION BY digest) AS first_id
  FROM b
)
SELECT CAST(f.doc_id AS BIGINT) AS doc_id, f.digest,
       CASE WHEN h.digest IS NOT NULL THEN 'dup_history'
            WHEN f.doc_id <> f.first_id THEN 'dup_batch'
            ELSE 'keep' END AS verdict
FROM firsts f LEFT JOIN hist h ON f.digest = h.digest
"""


@register("d09_incremental_dedup", _D09_ORACLE)
def d09_incremental_dedup(spark, sf_dir):
    """Incremental exact dedup: the production shape d01 lacks — a
    NEW crawl batch deduplicated against the HISTORICAL corpus
    without reprocessing history. Even doc_ids play the historical
    corpus, odd ones the new batch, and the batch plants both
    failure modes (copies of history docs under shifted ids ->
    'dup_history'; intra-batch copies of smaller-id batch docs ->
    'dup_batch'; dup_history wins when both apply, since the batch
    copy would not ship regardless of arrival order).

    100 TB shape: history is reduced to DISTINCT content digests
    before anything moves — the join carries 16-byte keys, never
    text — and the within-batch first-occurrence window partitions
    on the same digest key the join uses, so the batch side is
    hash-partitioned once and reused. The dedup is this one digest
    join; a Bloom prefilter in front of it (``crawl/seen.py``'s
    discipline) would return only as the default, together with a
    workload that shows it wins. NULL-text docs carry no content to
    compare and are excluded on both sides, mirroring d02/d08."""
    _assert_plant_ids_clear(sf_dir)
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    hist_digests = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )
    plantable = F.col("doc_id") < _D09_PLANT
    batch = (
        docs.where(F.col("doc_id") % 2 == 1)
        .unionByName(
            docs.where((F.col("doc_id") % 2 == 0) & plantable).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where((F.col("doc_id") % 2 == 1) & plantable).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), "text"
            )
        )
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.md5("text").alias("digest"))
    )
    joined = batch.join(hist_digests, on="digest", how="left")
    w = Window.partitionBy("digest")
    return (
        joined.withColumn("first_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "digest",
            F.when(F.col("in_hist").isNotNull(), F.lit("dup_history"))
            .when(F.col("doc_id") != F.col("first_id"), F.lit("dup_batch"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


# -- d10: incremental near-dup (new batch vs historical band table) ------------

def lsh_candidates_cross(
    sigs_batch: DataFrame, sigs_hist: DataFrame, n_bands: int = N_BANDS
) -> DataFrame:
    """Cross-corpus LSH: batch band table JOINED against the history
    band table on (band, bucket) — distinct (batch_doc, hist_doc)
    candidate pairs. The incremental twin of ``lsh_candidates``:
    history is never self-joined (its internal duplicates were
    settled when it was history's batch), so candidate volume is
    O(batch collisions), independent of history size."""
    bx = band_table(sigs_batch, n_bands).alias("x")
    by = band_table(sigs_hist, n_bands).alias("y")
    return (
        bx.join(
            by,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket")),
        )
        .select(
            F.col("x.doc_id").alias("batch_doc"),
            F.col("y.doc_id").alias("hist_doc"),
        )
        .distinct()
    )


def _d10_variant_expr(text_col: str = "text"):
    """The planted near-duplicate transformation: drop the FIRST
    token, keep the rest — shares all but two 3-gram shingles with
    the original, so MinHash bands still collide for any non-trivial
    doc. Mirrored verbatim by the oracle's DuckDB spelling."""
    toks = F.split(F.col(text_col), " ")
    return F.array_join(
        F.slice(toks, 2, F.greatest(F.size(toks) - F.lit(1), F.lit(0))), " "
    )


def _d10_oracle_sql() -> str:
    ctes, final = _minhash_band_sql("src")
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 2 = 0 AND doc_id < {_D09_PLANT} AND text IS NOT NULL
      UNION ALL
      SELECT doc_id + 3000000,
             -- coalesce: DuckDB's array_to_string([]) is NULL where
             -- Spark's array_join([]) is '' — a 1-token doc's
             -- dropped-first-token variant IS the empty doc
             coalesce(array_to_string((string_split(text, ' '))[2:], ' '),
                      '') AS text
      FROM documents
      WHERE doc_id % 2 = 0 AND doc_id < {_D09_PLANT} AND text IS NOT NULL
    ),
    {ctes}
    SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS hist_doc
    FROM {final} x JOIN {final} y
      ON x.band = y.band AND x.h = y.h
    WHERE (x.doc_id % 2 = 1 OR x.doc_id >= 2000000)
      AND y.doc_id % 2 = 0 AND y.doc_id < 2000000
    ORDER BY batch_doc, hist_doc
    """


@register("d10_incremental_neardup", _d10_oracle_sql())
def d10_incremental_neardup(spark, sf_dir):
    """Incremental NEAR-dup: d09's daily-batch question at d03's
    near-duplicate granularity — which of today's documents are
    near-copies of something already in the historical corpus. Even
    doc_ids play history, odd ones the batch; the batch additionally
    plants exact copies of history docs (ids +2,000,000 — every band
    collides, guaranteed detection) and first-token-dropped near
    variants (ids +3,000,000 — shares all but two shingles).

    100 TB shape: the history BAND TABLE (doc_id, band, bucket) is
    the stored index — computed once when each batch became history,
    16 bands x 8 bytes per doc, never recomputed. A new batch
    computes signatures for ITS OWN docs only and equi-joins the
    band index on (band, bucket); history is never self-joined and
    never re-shingled, so daily cost is O(batch + collisions)
    regardless of corpus age. The small batch side broadcasts;
    verification (exact Jaccard on candidates, d02's verifier) and
    verdicting then follow d09's precedence rule. Oracle: the shared
    ``_minhash_band_sql`` chain over the same union corpus, filtered
    to cross-corpus pairs.

    r7: signatures are computed in ONE mapInPandas pass over the
    union corpus (batch ∪ history ids are disjoint; per-doc MinHash
    is independent of cohort, so the signatures are identical) and
    pinned, then split by the id predicates into the two band-table
    sides — the former two-pass spelling paid the repartition +
    tokenize + Arrow stage setup twice for the same total rows. The
    production contract is unchanged: history's band table is a
    STORED index — the unified pass is purely how this self-contained
    catalog entry derives both sides from the one documents table."""
    _assert_plant_ids_clear(sf_dir)
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    hist_pred = (F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 2000000)
    plantable = F.col("doc_id") < _D09_PLANT
    planted_src = docs.where((F.col("doc_id") % 2 == 0) & plantable)
    union_corpus = (
        docs.unionByName(
            planted_src.select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            planted_src.select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                _d10_variant_expr().alias("text"),
            )
        )
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    sigs = minhash_signatures(union_corpus).localCheckpoint(eager=True)
    return lsh_candidates_cross(
        sigs.where(~hist_pred), sigs.where(hist_pred)
    ).orderBy("batch_doc", "hist_doc")
