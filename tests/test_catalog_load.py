"""Catalog table reads: ``plans.load`` infers each table version's
schema once per session, and later reads run no Spark job; a warm pass
of the benchmark's catalog queries stays within its job budget; v01
gives the same rows with and without its corpus spread."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from common_crawl___autumn_2025_spark import plans
from common_crawl___autumn_2025_spark.plans import load
from common_crawl___autumn_2025_spark.plans.catalog import ORACLE_SQL, QUERIES
from tools.check_oracle import df_to_sorted_rows
from tools.run_crawl import _next_job_id

HEADLINE = [
    "a02_sum_avg_pricing",
    "j07_equi_join_derived_key",
    "w02_topk_per_group",
    "d01_exact_dup",
    "v01_cosine_topk_bruteforce",
    "st01_tumbling_window",
]


def _jobs_of(spark, fn):
    """``fn()`` and the Spark jobs it ran, over every job group."""
    before = _next_job_id(spark.sparkContext)
    out = fn()
    return out, _next_job_id(spark.sparkContext) - before


def test_second_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "s": ["a", "b", None]}),
                   tmp_path / "t.parquet")
    first, jobs = _jobs_of(spark, lambda: load(spark, str(tmp_path), "t"))
    assert jobs == 1  # the footer-inference job
    second, jobs = _jobs_of(spark, lambda: load(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert second.schema == first.schema
    assert second.schema == spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["k"]
    assert load(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": [0.5, 1.5]}), path)
    df, jobs = _jobs_of(spark, lambda: load(spark, str(tmp_path), "t"))
    assert jobs == 1
    assert df.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 0.5), (2, 1.5)]


def test_new_part_file_is_resolved_again(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), table / "part-0.parquet")
    assert load(spark, str(tmp_path), "t").count() == 2
    assert _jobs_of(spark, lambda: load(spark, str(tmp_path), "t"))[1] == 0
    pq.write_table(pa.table({"k": [3]}), table / "part-1.parquet")
    df, jobs = _jobs_of(spark, lambda: load(spark, str(tmp_path), "t"))
    assert jobs == 1
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]


def test_missing_table_raises_until_created(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load(spark, str(tmp_path), "t")
    pq.write_table(pa.table({"k": [7]}), tmp_path / "t.parquet")
    assert [r.k for r in load(spark, str(tmp_path), "t").collect()] == [7]


def test_catalog_job_budget(spark, sf_dir):
    """A warm pass of the benchmark's six catalog queries, counted over
    every job group, stays within its Spark job budget. The budget is
    the most jobs such a pass ran: 14 in each of several passes of one
    session. With a schema-inference job per table read and v01's
    corpus always spread, a pass ran 23."""

    def run_pass():
        for name in HEADLINE:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run_pass()
    for _ in range(2):
        assert 0 < _jobs_of(spark, run_pass)[1] <= 14


def test_v01_spread_and_plain_agree_with_oracle(spark, sf_dir, monkeypatch):
    """v01 spreads its corpus only when the footer row count gives each
    core 1024 cosine pairs. The test tables are below that, so the
    spread side is forced through the row count; both sides give the
    same rows as the DuckDB oracle."""
    name = "v01_cosine_topk_bruteforce"

    def rows(expect_spread: bool):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert ("Repartition" in plan) == expect_spread
        return df_to_sorted_rows(df.columns, [tuple(r) for r in df.collect()])

    plain = rows(expect_spread=False)
    monkeypatch.setattr(plans, "table_num_rows", lambda sf_dir, table: 1 << 40)
    spread = rows(expect_spread=True)
    assert spread == plain

    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "embeddings.parquet")
        pat = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pat}')")
        rel = con.execute(ORACLE_SQL[name])
        want = df_to_sorted_rows([d[0] for d in rel.description], rel.fetchall())
    finally:
        con.close()
    assert plain == want
    assert len(plain[1]) > 0
