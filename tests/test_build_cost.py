"""The fixed driver cost of a catalog build.

- A fixture's parquet schema is inferred once per session: a second
  ``views()`` of it runs no Spark job, a rewritten file is inferred
  again and a new session starts cold.
- ``get_spark`` turns off PySpark's per-Column call-site capture.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampType

from amazonredshift_blueprints_spark.plans.catalog import views
from amazonredshift_blueprints_spark.session import load_table

from .test_write_once import _jobs


def _events_copy(sf_dir: str, tmp_path) -> str:
    """A fixture dir holding a fresh copy of ``events.parquet`` (a file
    no earlier test has read)."""
    d = str(tmp_path / "fx")
    os.makedirs(d)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d)
    return d


def test_second_views_call_runs_no_job(spark, sf_dir, tmp_path):
    d = _events_copy(sf_dir, tmp_path)
    _, first = _jobs(spark, lambda: views(spark, d, "events"))
    dfs, second = _jobs(spark, lambda: views(spark, d, "events"))
    assert first >= 1  # the schema inference
    assert second == 0
    assert isinstance(dfs["events"].schema["ts"].dataType, TimestampType)
    assert isinstance(spark.table("events").schema["ts"].dataType, TimestampType)


def test_memoized_read_matches_inferred_read(spark, sf_dir):
    for name in ("events", "lineitem", "embeddings"):
        load_table(spark, sf_dir, name)  # fills the memo
        memo = load_table(spark, sf_dir, name)
        raw = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            assert isinstance(memo.schema["ts"].dataType, TimestampType)
            raw = raw.drop("ts")
            memo = memo.drop("ts")
        assert memo.schema == raw.schema
    assert sorted(load_table(spark, sf_dir, "region").collect()) == sorted(
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).collect()
    )


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, d, "t").columns == ["a"]
    _, jobs = _jobs(spark, lambda: load_table(spark, d, "t"))
    assert jobs == 0
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _jobs(spark, lambda: load_table(spark, d, "t"))
    assert jobs >= 1
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_new_session_starts_cold(spark, sf_dir, tmp_path):
    d = _events_copy(sf_dir, tmp_path)
    views(spark, d, "events")
    other = spark.newSession()
    _, jobs = _jobs(other, lambda: views(other, d, "events"))
    assert jobs >= 1
    _, jobs = _jobs(other, lambda: views(other, d, "events"))
    assert jobs == 0


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
