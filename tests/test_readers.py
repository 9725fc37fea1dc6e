"""The per-session table memo in ``io.readers.load_table``: a repeated
load of an unchanged table starts no Spark job, a changed table is
resolved again, and building a query stays lazy."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from data_ingestors_spark.io.readers import load_table
from data_ingestors_spark.queries import all_queries

def _last_job_id(spark) -> int:
    # job events reach the status store through the listener bus; drain
    # it so every job started so far is listed
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _jobs_started(spark, fn):
    """(result of fn(), number of Spark jobs it started)."""
    before = _last_job_id(spark)
    out = fn()
    return out, _last_job_id(spark) - before


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_repeat_load_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "t.parquet")
    first = load_table(spark, str(tmp_path), "t")
    again, jobs = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert again is first
    assert _rows(again) == [(1,), (2,), (3,)]


def test_overwritten_file_is_seen(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2]}), tmp_path / "t.parquet")
    assert _rows(load_table(spark, str(tmp_path), "t")) == [(1,), (2,)]
    pq.write_table(pa.table({"k": [7, 8, 9], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v"]
    assert _rows(df) == [(7, "a"), (8, "b"), (9, "c")]


def test_added_part_file_is_seen(spark, tmp_path):
    table = tmp_path / "d.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), table / "part-0.parquet")
    assert load_table(spark, str(tmp_path), "d").count() == 2
    pq.write_table(pa.table({"k": [3]}), table / "part-1.parquet")
    assert _rows(load_table(spark, str(tmp_path), "d")) == [(1,), (2,), (3,)]


def test_new_session_has_its_own_entry(spark, tmp_path):
    pq.write_table(pa.table({"k": [1]}), tmp_path / "t.parquet")
    parent = load_table(spark, str(tmp_path), "t")
    child = spark.newSession()
    df = load_table(child, str(tmp_path), "t")
    assert df is not parent
    assert df.sparkSession is child
    assert load_table(child, str(tmp_path), "t") is df
    assert load_table(spark, str(tmp_path), "t") is parent


def test_missing_table_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")


def test_tpch_query_build_is_lazy(spark, sf_dir):
    """A second build of each TPC-H shape in one session starts no
    Spark job: its tables come from the memo and building stays lazy."""
    from bench import TPCH22

    queries = all_queries()
    for name in TPCH22:
        queries[name](spark, sf_dir)
    started = {
        name: _jobs_started(spark, lambda n=name: queries[n](spark, sf_dir))[1]
        for name in TPCH22
    }
    assert started == dict.fromkeys(TPCH22, 0)
