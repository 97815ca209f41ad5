"""Similarity search over the ``embeddings`` table (64-dim float
vectors).

- brute-force cosine top-k — oracle-checked (computed in double on
  both sides, rounded to 6 dp before ranking);
- LSH-bucketed ANN (random hyperplane signatures) — the scale path;
  Spark-only, recall-vs-bruteforce asserted in tests;
- embedding-cosine near-duplicate pairs — oracle-checked.

Scale shape: brute force is O(Q·N) with the query side broadcast —
right up to a few thousand queries; the ANN path shuffles once on
the bucket id and compares only within buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import load, register, spread_if_large, table_num_rows

N_QUERIES = 5
TOP_K = 5
N_PLANES = 8
N_TABLES = 6
ANN_SEED = 42


@F.pandas_udf(T.DoubleType())
def cosine_udf(qv: pd.Series, cv: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine: one einsum per batch (float64), ~100x
    a JVM higher-order-function expression (interpreted, ~1 ms/row).
    Callers round with floor(x*1e6+0.5)/1e6 so results hash-match the
    DuckDB double-precision oracle."""
    a = np.stack(qv.to_numpy()).astype(np.float64)
    b = np.stack(cv.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", a, b)
    den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    return pd.Series(num / den)


def r6(col):
    return F.floor(col * 1000000 + F.lit(0.5)) / 1000000


_COSINE_ORACLE = """
    WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < {nq}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS hit_id,
             floor(list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                   * 1000000 + 0.5) / 1000000 AS cosine
      FROM q JOIN c ON q.vec_id <> c.vec_id
    )
    SELECT query_id, hit_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, hit_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
""".format(nq=N_QUERIES, k=TOP_K)


@register("v01_cosine_topk_bruteforce", _COSINE_ORACLE)
def v01_cosine_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k: queries (small side) broadcast against
    the full corpus; per-query top-k via ranking window. Cosines via
    the Arrow-batched einsum UDF (one matmul per batch)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # corpus side spread (r7): the single-split scan funnels the whole
    # Q·N cosine stream (~100 MB Arrow at sf1.0) through ONE task;
    # interleaved A/B at sf1.0: 0.61 s spread vs 0.83 s plain (unlike
    # ivf_topk, where the same hint LOST — see its NOTE). Each corpus
    # row makes N_QUERIES pairs, so spread only at 1024 pairs per core:
    # a small corpus skips the shuffle and a Python task per core.
    c = spread_if_large(
        emb, sf_dir, "embeddings", min_rows_per_task=1024 // N_QUERIES
    ).select(F.col("vec_id").alias("hit_id"), F.col("embedding").alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("hit_id"))
        .select(
            "query_id",
            "hit_id",
            r6(cosine_udf(F.col("qv"), F.col("cv"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("hit_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "hit_id", "cosine")
    )


@register(
    "v02_embedding_near_dup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             floor(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                   * 1000000 + 0.5) / 1000000 AS cosine
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.35
    """,
)
def v02_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, blocked on `label`
    (cluster id) so the pair space is per-block, not global."""
    e = load(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    cos = r6(cosine_udf(F.col("a.embedding"), F.col("b.embedding")))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= 0.35)
    )


def hyperplanes(
    dim: int = 64,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    seed: int = ANN_SEED,
) -> np.ndarray:
    """(n_tables, n_planes, dim) random hyperplane stack."""
    g = np.random.Generator(np.random.PCG64(seed))
    return g.normal(size=(n_tables, n_planes, dim))


def with_lsh_buckets(
    emb: DataFrame, planes: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Multi-table random-hyperplane LSH: one (table, bucket) row per
    input row per table. Signatures computed by an Arrow-vectorized
    pandas UDF (one matmul per batch per table); candidate pairs are
    rows sharing any (table, bucket)."""
    from pyspark.sql import types as T

    n_tables, n_planes, _ = planes.shape
    flat = planes.reshape(n_tables * n_planes, -1)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())
        signs = (mat @ flat.T) > 0  # (n, tables*planes)
        signs = signs.reshape(len(mat), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        codes = (signs @ weights).astype(np.int32)  # (n, tables)
        return pd.Series(list(codes))

    with_codes = emb.withColumn("buckets", buckets_udf(F.col(vec_col)))
    return with_codes.select(
        *emb.columns, F.posexplode("buckets").alias("table", "bucket")
    )


def ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    planes: np.ndarray,
    k: int = TOP_K,
    id_col: str = "vec_id",
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates = any-table bucket
    collision; exact cosine re-rank on candidates only. One shuffle
    keyed by (table, bucket), never all-pairs."""
    b_corpus = with_lsh_buckets(emb, planes).select(
        F.col(id_col).alias("hit_id"),
        F.col("embedding").alias("cv"),
        "table",
        "bucket",
    )
    b_query = with_lsh_buckets(queries, planes).select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("qv"),
        "table",
        "bucket",
    )
    cands = (
        b_corpus.join(b_query, on=["table", "bucket"])
        .where(F.col("query_id") != F.col("hit_id"))
        .select("query_id", "hit_id", "qv", "cv")
        .dropDuplicates(["query_id", "hit_id"])
    )
    scored = cands.select(
        "query_id",
        "hit_id",
        r6(cosine_udf(F.col("qv"), F.col("cv"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("hit_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "hit_id", "cosine")
    )


def _v03_oracle_sql() -> str:
    """Full VALUE oracle for the hyperplane LSH: the plane stack is
    deterministic (seeded PCG64), so every bucket code is a sum of
    dot-product sign bits — unrolled into DuckDB SQL with the 3072
    plane coefficients inlined as double literals (same technique as
    g02's unrolled PageRank). Bit-for-bit safe because both engines
    compute the dots in float64 and the sign threshold is strict >0
    (a flip would need |dot| ~ 1e-13 against O(1) coefficients)."""
    planes = hyperplanes(dim=64)
    vals = ",".join(
        f"({t},{p},[" + ",".join(repr(x) for x in planes[t, p]) + "]::DOUBLE[])"
        for t in range(N_TABLES)
        for p in range(N_PLANES)
    )
    return f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes(tbl, p, pl) AS (SELECT * FROM (VALUES {vals})),
    b AS (
      SELECT c.vec_id, pl.tbl,
             CAST(sum(CASE WHEN list_dot_product(c.v, pl.pl) > 0
                           THEN CAST(power(2, pl.p) AS BIGINT) ELSE 0 END)
                  AS INT) AS bucket
      FROM c CROSS JOIN planes pl
      GROUP BY c.vec_id, pl.tbl
    ),
    q AS (SELECT * FROM b WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, cb.vec_id AS hit_id
      FROM b cb JOIN q ON cb.tbl = q.tbl AND cb.bucket = q.bucket
                       AND cb.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.hit_id,
             floor(list_dot_product(qc.v, cc.v) /
                   (sqrt(list_dot_product(qc.v, qc.v)) *
                    sqrt(list_dot_product(cc.v, cc.v)))
                   * 1000000 + 0.5) / 1000000 AS cosine
      FROM cand
      JOIN c qc ON qc.vec_id = cand.query_id
      JOIN c cc ON cc.vec_id = cand.hit_id
    )
    SELECT query_id, hit_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, hit_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """


@register("v03_ann_lsh_bucketed", _v03_oracle_sql())
def v03_ann_lsh_bucketed(spark, sf_dir):
    """ANN via multi-table random-hyperplane LSH — the 10^10-scale
    variant of v01. tests/test_dedup_similarity.py measures recall ≈ 1
    on planted near-duplicates (the property LSH actually promises);
    the DuckDB oracle (``_v03_oracle_sql``) additionally value-checks
    the full bucket/candidate/re-rank pipeline."""
    emb = load(spark, sf_dir, "embeddings")
    planes = hyperplanes(dim=64)
    q = emb.where(F.col("vec_id") < N_QUERIES)
    return ann_topk(emb, q, planes)


# -- IVF-Flat ---------------------------------------------------------------

N_CELLS_MIN = 16        # codebook floor (small/test corpora)
TARGET_CELL_ROWS = 64   # expected corpus rows per cell; cells GROW
                        # with the corpus so per-cell pair volume
                        # stays bounded (see derived_n_cells)
N_PROBE = 4


def derived_n_cells(n_vectors: int) -> int:
    """Scale-aware codebook size: ``max(floor, n // target_rows)``.

    The r5 audit's one latent scale-killer was a FIXED 16-cell
    codebook — with constant cells, v06's intra-cell self-join pair
    volume is Σ per-cell² ≈ n²/16, quadratic again.  Deriving cells
    from the corpus keeps expected cell size at TARGET_CELL_ROWS, so
    pair volume is ~n·TARGET_CELL_ROWS — linear in n (SemDeDup at
    corpus scale runs ~10^4-10^5 clusters for the same reason; at
    10^9 vectors this rule gives ~1.6·10^7 cells).  Mirrored
    verbatim by the oracle's subquery LIMIT in ``_CENT_ASN_CTES``."""
    return max(N_CELLS_MIN, n_vectors // TARGET_CELL_ROWS)


_R6_COS = (
    "floor(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))) * 1000000 + 0.5) / 1000000"
)

# the deterministic codebook + cell assignment as shared CTE text:
# every centroid-cell oracle (v04 IVF, v06 semantic dedup) splices
# this ONE definition, so the codebook rule (derived cell count, md5
# rank, cid tie-break) cannot silently diverge between oracles; the
# LIMIT subquery is the SQL mirror of ``derived_n_cells``
_CENT_ASN_CTES = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         LIMIT (SELECT greatest({N_CELLS_MIN}, count(*) // {TARGET_CELL_ROWS})
                FROM e)),
asn AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_R6_COS.format(a='e.v', b='cent.cv')} DESC, cent.cid) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
)"""

_IVF_ORACLE = f"""
WITH {_CENT_ASN_CTES},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, cid AS cell FROM (
    SELECT q.query_id, cent.cid,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_R6_COS.format(a='q.qv', b='cent.cv')} DESC, cent.cid) AS rn
    FROM q CROSS JOIN cent
  ) WHERE rn <= {N_PROBE}
),
cands AS (
  SELECT p.query_id, a.vec_id AS hit_id
  FROM probes p JOIN asn a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.hit_id,
         {_R6_COS.format(a='qe.v', b='he.v')} AS cosine
  FROM cands c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e he ON he.vec_id = c.hit_id
)
SELECT query_id, hit_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, hit_id) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
"""


def md5_rank_centroids(emb: DataFrame, n_cells: int | None = None) -> np.ndarray:
    """The deterministic IVF codebook: an ORDER-STABLE UNIFORM SAMPLE
    of ``n_cells`` corpus vectors ranked by md5 of the vector id —
    unlike "first N rows", insertion-order-independent, so a corpus
    whose early rows share structure (one crawl host, one shard)
    cannot bias the codebook. Seed-free and mirrored exactly by
    ``_CENT_ASN_CTES``; the collect stays bounded at n_cells rows
    (TakeOrderedAndProject — no global sort). Shared by v04/v05/v06
    so the codebook rule lives in exactly one place per engine.

    ``n_cells`` defaults to ``derived_n_cells(corpus size)`` — the
    scale-aware rule (one metadata-cheap count job); pass it
    explicitly to pin a codebook size."""
    if n_cells is None:
        n_cells = derived_n_cells(emb.count())
    rows = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_cells)
        .select("vec_id", "embedding")
        .collect()
    )
    # matrix rows ascending by vec_id: the UDF's argmax breaks
    # near-ties by row index, the oracle by cent.cid — same order
    rows.sort(key=lambda r: r[0])
    return np.array([r[1] for r in rows], dtype=np.float64)


def ivf_assign_udfs(centroids: np.ndarray, nprobe: int):
    """(cell_udf, probes_udf) against a fixed centroid matrix.

    Assignment scores are cosine rounded to 6 dp with first-max
    (lowest centroid id) tiebreak — the identical rule the SQL oracle
    expresses with row_number, so both engines agree bit-for-bit even
    under FP near-ties."""
    cmat = centroids.astype(np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)

    def scores(vecs: pd.Series) -> np.ndarray:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        s = (m @ cmat.T) / (np.linalg.norm(m, axis=1)[:, None] * cnorm[None, :])
        return np.floor(s * 1_000_000 + 0.5) / 1_000_000

    @F.pandas_udf(T.IntegerType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        return pd.Series(np.argmax(scores(vecs), axis=1).astype(np.int32))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes_udf(vecs: pd.Series) -> pd.Series:
        s = scores(vecs)
        n, c = s.shape
        order = np.lexsort((np.tile(np.arange(c), (n, 1)), -s), axis=1)
        return pd.Series(list(order[:, :nprobe].astype(np.int32)))

    return cell_udf, probes_udf


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int = N_PROBE,
    k: int = TOP_K,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-Flat approximate top-k: assign every corpus vector to its
    nearest centroid cell (one Arrow pass, centroids broadcast in the
    UDF closure), probe the query's ``nprobe`` nearest cells, exact
    cosine re-rank inside the probed cells only. One shuffle keyed by
    cell; candidate volume is corpus_size * nprobe / n_cells per
    query instead of the full corpus. The 10^10-scale shape is the
    standard IVF-Flat index (centroids from a seeded sample — k-means
    refinement drops in without changing the plan)."""
    cell_udf, probes_udf = ivf_assign_udfs(centroids, nprobe)
    # NOTE (r7): a corpus repartition before the assignment UDF was
    # A/B-measured and REVERTED — at catalog scale the scoring matmul
    # is cheaper than the extra shuffle (0.94 s plain vs 1.55 s
    # spread, interleaved A/B at sf1.0); at true corpus scale the
    # scan arrives in many splits anyway.
    corpus = emb.select(
        F.col(id_col).alias("hit_id"),
        F.col("embedding").alias("cv"),
        cell_udf(F.col("embedding")).alias("cell"),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("qv"),
        F.explode(probes_udf(F.col("embedding"))).alias("cell"),
    )
    cands = corpus.join(probed, on=["cell"]).where(
        F.col("query_id") != F.col("hit_id")
    )
    scored = cands.select(
        "query_id",
        "hit_id",
        r6(cosine_udf(F.col("qv"), F.col("cv"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("hit_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "hit_id", "cosine")
    )


@register("v04_ann_ivf_flat", _IVF_ORACLE)
def v04_ann_ivf_flat(spark, sf_dir):
    """IVF-Flat ANN (the survey's alternative scale path to LSH):
    deterministic codebook via ``md5_rank_centroids`` (seed-free,
    insertion-order-independent — see its docstring), mirrored
    exactly in the DuckDB oracle; k-means refinement drops in without
    changing the plan. nprobe-cell probing, exact re-rank within
    probed cells; assignment, probing, and ranking all use the same
    rounded-cosine + id tiebreak on both engines."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = md5_rank_centroids(
        emb, derived_n_cells(table_num_rows(sf_dir, "embeddings"))
    )
    q = emb.where(F.col("vec_id") < N_QUERIES)
    return ivf_topk(emb, q, centroids)


# -- IVF-Flat with distributed k-means refinement ---------------------------

KMEANS_ITERS = 2


def kmeans_refine(
    emb: DataFrame,
    centroids: np.ndarray,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Spherical k-means refinement of an IVF codebook, distributed:

    per iteration: (1) assign every corpus vector to its nearest
    centroid (the same Arrow-batched rounded-cosine UDF the IVF index
    uses — one scan, centroids broadcast in the closure); (2) new
    centroid = per-dimension mean of its members, computed as
    posexplode → groupBy(cell, pos) avg — a partial-aggregated shuffle
    of bounded width (cells × dim rows reach the driver, never
    vectors), then L2-normalized (spherical); empty cells keep their
    previous centroid.

    The canonical Lloyd loop in Spark terms: iterative driver loop,
    one codegen'd scan + one partial-agg shuffle per iteration,
    driver state bounded at n_cells × dim floats. No oracle: the
    per-cell float means are summation-order-dependent across
    engines, so cross-engine equality is not meaningful — validation
    is the recall/objective pytest
    (``test_dedup_similarity.py::test_v05_kmeans_refinement``)."""
    dim = centroids.shape[1]
    cents = centroids.astype(np.float64)
    # spread once: every iteration's assignment scan then runs on all
    # cores instead of the single input split a small file arrives as
    emb = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    for _ in range(iters):
        cell_udf, _probes = ivf_assign_udfs(cents, 1)
        sums = (
            emb.select(
                cell_udf(F.col("embedding")).alias("cell"),
                F.posexplode(F.col("embedding")),
            )
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("col").cast("double")).alias("m"))
            .collect()
        )
        new = cents.copy()
        acc = np.full((cents.shape[0], dim), np.nan)
        for r in sums:
            acc[r.cell, r.pos] = r.m
        for c in range(cents.shape[0]):
            if not np.isnan(acc[c]).any():
                n = np.linalg.norm(acc[c])
                if n > 0:
                    new[c] = acc[c] / n
        cents = new
    return cents


@register("v05_ann_ivf_kmeans")  # rows-only: see kmeans_refine docstring
def v05_ann_ivf_kmeans(spark, sf_dir):
    """IVF-Flat over a k-means-REFINED codebook: v04's md5-rank
    seeded sample is the init, two distributed Lloyd iterations
    tighten it (assignment scan + partial-agg mean per iteration),
    then the same nprobe/exact-re-rank index answers the queries.
    This is the full production IVF construction (sample → refine →
    index) with every stage in its 100 TB shape: scans are
    Arrow-batched with broadcast centroids, the mean is a
    partial-aggregated shuffle of cells × dim rows, and driver state
    never exceeds the codebook."""
    emb = load(spark, sf_dir, "embeddings")
    init = md5_rank_centroids(
        emb, derived_n_cells(table_num_rows(sf_dir, "embeddings"))
    )
    refined = kmeans_refine(emb, init, iters=KMEANS_ITERS)
    q = emb.where(F.col("vec_id") < N_QUERIES)
    return ivf_topk(emb, q, refined)


# -- v06: semantic dedup (SemDeDup-style) ------------------------------------

SEM_TAU = 0.3  # intra-cell cosine at/above which two docs are
               # semantic duplicates (~top 3% of intra-cell pairs on
               # the sf corpora — tight enough to mean "same content")

_V06_ORACLE = f"""
WITH {_CENT_ASN_CTES},
pairs AS (
  SELECT b.vec_id AS dup_id, a.vec_id AS keep_id,
         {_R6_COS.format(a='ea.v', b='eb.v')} AS cosine
  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
)
SELECT dup_id, keep_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY dup_id ORDER BY keep_id) AS rn
  FROM pairs WHERE cosine >= {SEM_TAU}
) WHERE rn = 1
ORDER BY dup_id
"""


def semantic_dedup(
    emb: DataFrame,
    centroids: np.ndarray | None = None,
    tau: float = SEM_TAU,
) -> DataFrame:
    """SemDeDup core over any embeddings DataFrame: assign every
    vector to its nearest centroid cell, then emit (dup_id, keep_id,
    cosine) for each vector whose cosine to a LOWER-id vector in the
    SAME cell is >= tau. ``centroids`` defaults to the deterministic
    md5-rank codebook (scale-aware cell count); pass v05's
    ``kmeans_refine`` output to run on a refined codebook — same
    plan, tighter cells (the oracle stays pinned to the unrefined
    codebook entry; the refined path is planted-corpus pytest-gated,
    ``test_scale_cells.py::test_v06_refined_codebook``)."""
    if centroids is None:
        centroids = md5_rank_centroids(emb)
    cell_udf, _probes = ivf_assign_udfs(centroids, 1)
    # r7 shape: ONE grouped Arrow pass per cell replaces the former
    # (checkpoint + cell self-join + per-pair cosine UDF + ranking
    # window) chain. The self-join shipped BOTH vectors of every
    # intra-cell pair through Arrow (~n·TARGET_CELL_ROWS KB-sized
    # rows); grouping ships each vector ONCE and computes the pair
    # cosines as numpy batch ops inside the group. Bit-compatibility:
    # the pair cosine is the IDENTICAL einsum/norm float64 sequence
    # cosine_udf runs (per-row results depend only on the row pair),
    # with the same floor(x*1e6+0.5)/1e6 rounding, and a vector whose
    # minimal qualifying partner exists is resolved within its own
    # cell — every candidate pair shares the dup's cell — so the
    # per-dup min-keep_id rule needs no global window. Spark NaN
    # semantics (NaN >= tau is TRUE) are mirrored explicitly. Pair
    # slabs are bounded (PAIR_SLAB) so a skewed cell cannot blow task
    # memory; cells grow with the corpus (derived_n_cells), so groups
    # stay ~TARGET_CELL_ROWS rows at any scale.
    # (no upstream repartition: the groupBy's own exchange spreads the
    # pair work, and an extra shuffle A/B-measured as a wash at sf1.0)
    asn = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        cell_udf(F.col("embedding")).alias("cell"),
    )

    PAIR_SLAB = 200_000

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"dup_id": pd.Series([], dtype="int64"),
                 "keep_id": pd.Series([], dtype="int64"),
                 "cosine": pd.Series([], dtype="float64")}
            )
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        best_keep = np.full(n, -1, dtype=np.int64)
        best_cos = np.full(n, np.nan)
        # i ascending in slabs: the first slab that resolves dup j did
        # so with the smallest qualifying keep index
        rows_per_slab = max(1, PAIR_SLAB // n)
        for s in range(0, n - 1, rows_per_slab):
            e = min(s + rows_per_slab, n - 1)
            counts = n - 1 - np.arange(s, e)
            ii = np.repeat(np.arange(s, e), counts)
            jj = np.concatenate(
                [np.arange(i + 1, n) for i in range(s, e)]
            )
            if not len(ii):
                continue
            a, b = m[ii], m[jj]
            num = np.einsum("ij,ij->i", a, b)
            den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.floor(num / den * 1_000_000 + 0.5) / 1_000_000
            hit = (cos >= tau) | np.isnan(cos)  # Spark: NaN > any value
            hit &= best_keep[jj] < 0  # dup already resolved by smaller i
            if not hit.any():
                continue
            jh, ih, ch = jj[hit], ii[hit], cos[hit]
            # first occurrence per dup = smallest i (i-major order)
            uj, first = np.unique(jh, return_index=True)
            best_keep[uj] = ih[first]
            best_cos[uj] = ch[first]
        got = best_keep >= 0
        return pd.DataFrame(
            {"dup_id": ids[got], "keep_id": ids[best_keep[got]],
             "cosine": best_cos[got]}
        )

    return (
        asn.groupBy("cell")
        .applyInPandas(cell_pairs, "dup_id long, keep_id long, cosine double")
        .orderBy("dup_id")
    )


@register("v06_semantic_dedup", _V06_ORACLE)
def v06_semantic_dedup(spark, sf_dir):
    """Semantic dedup, SemDeDup-style (Abbas et al. 2023): cluster the
    embedding space, then mark as duplicate any vector whose cosine to
    a LOWER-id vector in the SAME cluster is >= SEM_TAU. Each output
    row maps a duplicate to its MINIMAL near partner (the lowest-id
    same-cell vector within SEM_TAU) plus their cosine. The kept set
    is exactly the ids that never appear as dup_id; note keep_id is
    evidence of duplication, NOT a transitive canonical label — in a
    near-dup chain (cos(1,2)>=τ, cos(2,3)>=τ, cos(1,3)<τ) vector 3's
    keep_id is 2, itself a duplicate of 1. A consumer wanting one
    canonical representative per duplicate GROUP composes these pairs
    with ``dedup.dup_components`` (min-id connected components),
    exactly as d02/d03 pairs feed d05. Unlike v02 this needs NO label
    column — the blocking comes from the embedding geometry itself,
    which is what an unlabeled 100 TB corpus actually has.

    Reuses the shared deterministic codebook (``md5_rank_centroids``,
    seed-free, SCALE-AWARE cell count via ``derived_n_cells``,
    mirrored exactly by ``_CENT_ASN_CTES`` in the oracle) and the
    same Arrow-batched rounded-cosine assignment UDF, so cell
    membership is bit-stable across engines. Scale shape: one
    assignment scan (centroids broadcast in the UDF closure), one
    self-join keyed by cell — pair volume is Σ per-cell² ≈
    n·TARGET_CELL_ROWS because cells grow with the corpus, never the
    global n²; a k-means-refined codebook (v05's kmeans_refine) drops
    into ``semantic_dedup(emb, centroids=...)`` without changing the
    plan."""
    return semantic_dedup(load(spark, sf_dir, "embeddings"))


# -- v07: PQ-compressed ANN (product quantization + ADC + exact re-rank) -------

PQ_M = 8        # subspaces
PQ_SUB = 8      # dims per subspace (PQ_M * PQ_SUB == embedding dim)
PQ_K = 16       # codes per subspace codebook -> 4 bits/subspace
PQ_REFINE = 32  # ADC shortlist re-ranked exactly


def _pq_books(centroids: np.ndarray) -> np.ndarray:
    """(PQ_K, dim) sampled codebook -> (PQ_M, PQ_K, PQ_SUB) per-
    subspace codebooks: the SAME md5-rank sample feeds every
    subspace, so the SQL oracle derives all M codebooks from one
    ``cent`` CTE."""
    k, dim = centroids.shape
    if dim != PQ_M * PQ_SUB:
        raise ValueError(
            f"codebook dim {dim} != PQ_M * PQ_SUB = {PQ_M} * {PQ_SUB}"
        )
    return centroids.reshape(k, PQ_M, PQ_SUB).transpose(1, 0, 2).copy()


def _pq_sub_d2(x: np.ndarray, book_m: np.ndarray) -> np.ndarray:
    """Rounded squared-L2 distances (n, PQ_K) of subvectors to one
    subspace codebook, computed as the dot-product expansion
    x·x − 2x·y + y·y — the EXACT formula the DuckDB oracle states,
    so rounding to 6 dp lands both engines on identical values."""
    xx = np.einsum("ij,ij->i", x, x)[:, None]
    yy = np.einsum("kj,kj->k", book_m, book_m)[None, :]
    xy = x @ book_m.T
    return np.floor((xx - 2.0 * xy + yy) * 1_000_000 + 0.5) / 1_000_000


def pq_encode_udf(books: np.ndarray):
    """embedding -> PQ code array (PQ_M ints): per-subspace argmin of
    the rounded distance, first-min = lowest code id — the tiebreak
    the oracle expresses with row_number ORDER BY (d2, cidx)."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((m.shape[0], PQ_M), dtype=np.int32)
        for j in range(PQ_M):
            sub = m[:, j * PQ_SUB : (j + 1) * PQ_SUB]
            codes[:, j] = np.argmin(_pq_sub_d2(sub, books[j]), axis=1)
        return pd.Series(list(codes))

    return enc


def pq_adist_udf(dt: np.ndarray):
    """codes -> rounded ADC distances to ALL queries (array of
    n_queries doubles): table lookups only, the corpus vector itself
    is never touched — the whole point of PQ."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def ad(codes: pd.Series) -> pd.Series:
        c = np.stack(codes.to_numpy())
        out = np.zeros((c.shape[0], dt.shape[0]), dtype=np.float64)
        for j in range(PQ_M):
            out += dt[:, j, c[:, j]].T
        out = np.floor(out * 1_000_000 + 0.5) / 1_000_000
        return pd.Series(list(out))

    return ad


def _v07_oracle_sql() -> str:
    """Full value oracle: codebook sample, per-subspace encoding, ADC
    table, shortlist, and exact re-rank all in SQL — same rounding,
    same tiebreaks, same dot-product-expansion distance formula."""

    def sl(v: str, m: str) -> str:
        return f"{v}[{m}*{PQ_SUB}+1 : {m}*{PQ_SUB}+{PQ_SUB}]"

    def rd2(a: str, b: str, m: str) -> str:
        x, y = sl(a, m), sl(b, m)
        return (
            f"floor((list_dot_product({x},{x}) - 2*list_dot_product({x},{y})"
            f" + list_dot_product({y},{y})) * 1000000 + 0.5) / 1000000"
        )

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, v AS cv FROM (
        SELECT vec_id, v FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K})
    ),
    sub AS (SELECT CAST(m AS INT) AS m FROM range(0, {PQ_M}) t(m)),
    cd AS (
      SELECT vec_id, m, cidx AS code FROM (
        SELECT e.vec_id, s.m, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id, s.m
                 ORDER BY {rd2('e.v', 'c.cv', 's.m')}, c.cidx) AS rn
        FROM e CROSS JOIN sub s CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id < {N_QUERIES}),
    dt AS (
      SELECT q.query_id, s.m, c.cidx, {rd2('q.qv', 'c.cv', 's.m')} AS d
      FROM q CROSS JOIN sub s CROSS JOIN cent c
    ),
    ad AS (
      SELECT dt.query_id, cd.vec_id AS hit_id,
             floor(sum(dt.d) * 1000000 + 0.5) / 1000000 AS adist
      FROM cd JOIN dt ON dt.m = cd.m AND dt.cidx = cd.code
      WHERE dt.query_id <> cd.vec_id
      GROUP BY dt.query_id, cd.vec_id
    ),
    ref AS (
      SELECT query_id, hit_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adist, hit_id) AS rn FROM ad
      ) WHERE rn <= {PQ_REFINE}
    ),
    scored AS (
      SELECT r.query_id, r.hit_id,
             {_R6_COS.format(a='qe.v', b='he.v')} AS cosine
      FROM ref r JOIN e qe ON qe.vec_id = r.query_id
                 JOIN e he ON he.vec_id = r.hit_id
    )
    SELECT query_id, hit_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, hit_id) AS rn FROM scored
    ) WHERE rn <= {TOP_K}
    """


@register("v07_ann_ivf_pq", _v07_oracle_sql())
def v07_ann_ivf_pq(spark, sf_dir):
    """PQ-compressed ANN (Jégou et al., product quantization): the
    memory-bounded scale path the flat indexes (v03/v04) lack. Each
    64-d vector compresses to PQ_M=8 4-bit codes (4 bytes vs 256 —
    a 10^10-vector corpus fits ~40 GB of codes instead of 2.5 TB of
    floats); queries scan CODES via ADC table lookups (one
    (n_queries x M x K) distance table broadcast in the UDF closure,
    corpus vectors never touched), and only the PQ_REFINE-deep
    shortlist is re-ranked with exact cosine against the full
    vectors.

    Determinism/oracle discipline: the codebook is the shared
    md5-rank sample (one ``cent`` CTE feeds all 8 subspace books);
    every distance is the dot-product-expansion formula rounded to
    6 dp with lowest-id tiebreaks in BOTH engines, so encoding, ADC
    ordering, and the final ranking value-match SQL exactly.

    100 TB shape: encoding is one Arrow scan (books in closure); the
    ADC pass emits (hit, query, adist) scalars with NO join; only
    ~PQ_REFINE x n_queries rows ever rejoin the full vectors
    (broadcast). Honest caveat (ADVICE r6): the shortlist window
    partitions by query_id, so with N_QUERIES partitions the exchange
    feeding it funnels n_corpus x n_queries scalar rows into
    N_QUERIES reducers — fine for a handful of queries over scalar
    rows, but a large query workload at corpus scale should
    pre-truncate per task (local top-PQ_REFINE per query per
    partition before the global window) to keep the exchange flat.
    Composes with v04's cells (IVF-PQ) by running the same ADC inside
    probed cells only."""
    emb = load(spark, sf_dir, "embeddings")
    books = _pq_books(md5_rank_centroids(emb, PQ_K))
    qrows = sorted(
        emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r[0],
    )  # bounded: N_QUERIES rows
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    dt = np.stack(
        [
            _pq_sub_d2(qmat[:, j * PQ_SUB : (j + 1) * PQ_SUB], books[j])
            for j in range(PQ_M)
        ],
        axis=1,
    )  # (n_queries, PQ_M, PQ_K)
    enc = pq_encode_udf(books)
    ad = pq_adist_udf(dt)
    qarr = F.array(*[F.lit(int(r[0])) for r in qrows])
    adists = (
        emb.select(
            F.col("vec_id").alias("hit_id"), enc("embedding").alias("codes")
        )
        .select("hit_id", F.posexplode(ad("codes")).alias("qpos", "adist"))
        .select(
            F.element_at(qarr, F.col("qpos") + 1).alias("query_id"),
            "hit_id",
            "adist",
        )
        .where(F.col("query_id") != F.col("hit_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("hit_id"))
    refined = (
        adists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PQ_REFINE)
        .select("query_id", "hit_id")
    )
    qdf = spark.createDataFrame(
        [(int(r[0]), [float(x) for x in r[1]]) for r in qrows],
        "query_id long, qv array<double>",
    )
    hits = emb.select(F.col("vec_id").alias("hit_id"), F.col("embedding").alias("cv"))
    scored = (
        hits.join(F.broadcast(refined), on="hit_id")
        .join(F.broadcast(qdf), on="query_id")
        .select(
            "query_id",
            "hit_id",
            r6(cosine_udf(F.col("qv"), F.col("cv"))).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("hit_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "hit_id", "cosine")
    )
