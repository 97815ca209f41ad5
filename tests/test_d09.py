"""d09 incremental dedup: engine ≡ DuckDB oracle on the sf corpus,
plus a planted corpus pinning each verdict and the precedence rule
(dup_history beats dup_batch when a digest is both in history and
repeated within the batch)."""

import os

import duckdb

from common_crawl___autumn_2025_spark.operators.dedup import (
    _D09_ORACLE,
    d09_incremental_dedup,
)


def _oracle_rows(sf):
    con = duckdb.connect()
    path = f"{sf}/documents.parquet"
    pat = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pat}')"
    )
    try:
        return sorted(tuple(r) for r in con.sql(_D09_ORACLE).fetchall())
    finally:
        con.close()


def _engine_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_d09_matches_oracle_on_sf(spark, sf_dir):
    engine = _engine_rows(d09_incremental_dedup(spark, sf_dir))
    assert engine == _oracle_rows(sf_dir)
    assert len(engine) > 0


def test_d09_planted_verdicts(spark, tmp_path):
    # The operator splits on doc_id parity and plants ids < 40:
    # even = history, odd = batch. Craft texts so every verdict and
    # the precedence rule are each hit by a known doc.
    docs = [
        (0, "alpha alpha"),        # history
        (2, "beta beta"),          # history
        (4, "gamma gamma"),        # history; also repeated in batch
        (1, "alpha alpha"),        # batch: copies history -> dup_history
        (3, "delta delta"),        # batch: fresh -> keep
        (5, "delta delta"),        # batch: copies doc 3 -> dup_batch
        (7, "gamma gamma"),        # batch: in history AND will be
        (9, "gamma gamma"),        # re-planted -> ALL dup_history
        (11, None),                # NULL text: excluded entirely
        (13, "epsilon epsilon"),   # batch: fresh -> keep
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {
        r.doc_id: r.verdict
        for r in d09_incremental_dedup(spark, sf).collect()
    }
    assert out[1] == "dup_history"
    assert out[3] == "keep"
    assert out[5] == "dup_batch"
    # precedence: gamma is in history, so every batch copy (7, 9 and
    # the planted 3000007/3000009) is dup_history, never dup_batch
    for d in (7, 9, 3000007, 3000009):
        assert out[d] == "dup_history", d
    # the plant re-ids ids < 40: even ones (+2e6) copy history
    # verbatim -> dup_history; odd fresh ones (+3e6) duplicate their
    # in-batch original -> dup_batch
    assert out[2000000] == "dup_history"  # copy of doc 0
    assert out[3000003] == "dup_batch"    # copy of doc 3
    assert 11 not in out and 2000011 not in out
    assert out[13] == "keep"
    # engine ≡ oracle on the planted corpus too
    assert _engine_rows(d09_incremental_dedup(spark, sf)) == _oracle_rows(sf)


def test_d09_parallelism_invariance(spark, sf_dir):
    base = _engine_rows(d09_incremental_dedup(spark, sf_dir))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert _engine_rows(d09_incremental_dedup(spark, sf_dir)) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
