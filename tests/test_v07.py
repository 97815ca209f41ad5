"""v07 PQ ANN: engine ≡ DuckDB oracle, recall vs the exact
brute-force baseline, the planted-twin guarantee (an exact duplicate
of a query shares its codes, minimizes ADC distance, and wins the
exact re-rank at cosine 1.0), and parallelism invariance."""

import os

import duckdb
import numpy as np
import pytest

from common_crawl___autumn_2025_spark.operators.similarity import (
    _pq_books,
    _v07_oracle_sql,
    v01_cosine_topk_bruteforce,
    v07_ann_ivf_pq,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _oracle_rows(sf):
    con = duckdb.connect()
    path = f"{sf}/embeddings.parquet"
    pat = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pat}')"
    )
    try:
        return sorted(tuple(r) for r in con.sql(_v07_oracle_sql()).fetchall())
    finally:
        con.close()


def test_v07_matches_oracle_on_sf(spark, sf_dir):
    got = _rows(v07_ann_ivf_pq(spark, sf_dir))
    assert got == _oracle_rows(sf_dir)
    assert len(got) > 0


def test_v07_recall_vs_bruteforce(spark, sf_dir):
    """Deterministic engine + corpus => recall is a fixed number;
    the threshold guards regressions (measured 0.28 at sf0.001,
    0.52 at sf0.01 — far above the ~0.064 random-shortlist rate)."""
    pq = {(r.query_id, r.hit_id) for r in v07_ann_ivf_pq(spark, sf_dir).collect()}
    ex = {
        (r.query_id, r.hit_id)
        for r in v01_cosine_topk_bruteforce(spark, sf_dir).collect()
    }
    assert len(pq & ex) / len(ex) >= 0.2


def test_v07_planted_twin_wins(spark, tmp_path):
    """An exact duplicate of query 0 planted in the corpus encodes to
    the same PQ codes, so its ADC distance equals the minimum
    possible for that query; it must survive the shortlist and win
    the exact re-rank at cosine 1.0."""
    rng = np.random.default_rng(42)
    n, dim = 80, 64
    vecs = rng.normal(size=(n, dim))
    twin_id = 60
    vecs[twin_id] = vecs[0]  # exact twin of query 0
    rows = [
        (int(i), [float(x) for x in vecs[i]], int(i % 3)) for i in range(n)
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")
    got = v07_ann_ivf_pq(spark, sf).collect()
    best_for_0 = sorted(
        [(r.cosine, r.hit_id) for r in got if r.query_id == 0], reverse=True
    )[0]
    assert best_for_0[1] == twin_id
    assert abs(best_for_0[0] - 1.0) < 1e-9
    # engine ≡ oracle on the planted corpus too
    assert _rows(v07_ann_ivf_pq(spark, sf)) == _oracle_rows(sf)


def test_v07_parallelism_invariance(spark, sf_dir):
    base = _rows(v07_ann_ivf_pq(spark, sf_dir))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert _rows(v07_ann_ivf_pq(spark, sf_dir)) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_pq_books_rejects_wrong_dim():
    """The codebook-shape precondition is a ValueError, so it still
    holds under ``python -O`` (which strips ``assert``)."""
    with pytest.raises(ValueError):
        _pq_books(np.zeros((16, 63)))
