"""Every ETL write executes its query once, and metadata-only steps run
no Spark job.

- Each sink counts its rows with an observer on the frame it writes, so
  a Python UDF that bumps an accumulator runs once per output row, and
  a nondeterministic export returns exactly the rows it wrote.
- COMMIT of a managed target swaps the staged table in by rename: no job.
- Plain-table DML and COMMIT keep the target's provider, partition
  columns and options; bucketed targets keep their buckets through the
  ``INSERT OVERWRITE`` fallback.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql.types import LongType

from amazonredshift_blueprints_spark import dml, ingest
from amazonredshift_blueprints_spark.dml import _describe_table
from amazonredshift_blueprints_spark.export import store_query_results, write_result
from amazonredshift_blueprints_spark.functions.copy_unload import (
    execute_copy,
    execute_unload,
    parse_copy,
    parse_unload,
)
from amazonredshift_blueprints_spark.sqlrun import execute_sql

N = 200


@pytest.fixture
def bump(spark):
    """``bump(x)``: identity on a BIGINT that adds 1 to an accumulator
    each time a row passes through it; yields the accumulator. The
    queries below filter on it, so every execution of their plan must
    evaluate it — a count re-running the plan would too."""
    acc = spark.sparkContext.accumulator(0)

    def f(x):
        acc.add(1)
        return x

    spark.udf.register("bump", f, LongType())
    spark.range(N).createOrReplaceTempView("wo_src")
    yield acc
    spark.catalog.dropTempView("wo_src")


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    sc = spark.sparkContext
    group = f"wo-{os.urandom(6).hex()}"
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return value, len(sc.statusTracker().getJobIdsForGroup(group))


def _csv_rows(spark, path: str) -> int:
    return spark.read.option("header", True).csv(path).count()


@pytest.mark.parametrize("single_file", [True, False])
def test_store_query_results_evaluates_rows_once(spark, bump, tmp_path, single_file):
    path = str(tmp_path / ("out.csv" if single_file else "out_dir"))
    n = store_query_results(
        spark, "SELECT id FROM wo_src WHERE bump(id) >= 0", path, single_file=single_file
    )
    assert n == bump.value == _csv_rows(spark, path) == N


def test_write_result_json_evaluates_rows_once(spark, bump, tmp_path):
    path = str(tmp_path / "out.json")
    n = write_result(spark.sql("SELECT id FROM wo_src WHERE bump(id) >= 0"), path, format="json")
    assert n == bump.value == spark.read.json(path).count() == N


def test_unload_with_options_evaluates_rows_once(spark, bump, tmp_path):
    path = str(tmp_path / "unload")
    spec = parse_unload(
        f"UNLOAD ('SELECT id FROM wo_src WHERE bump(id) >= 0') TO '{path}' "
        "DELIMITER '|' ADDQUOTES HEADER ALLOWOVERWRITE"
    )
    n = execute_unload(spark, spec)
    files = glob.glob(os.path.join(path, "part-*"))
    out = spark.read.option("header", True).option("sep", "|").csv(files)
    assert n == bump.value == out.count() == N
    assert out.columns == ["id"]
    assert '"' in open(sorted(files)[0]).read()  # ADDQUOTES reached the writer


@pytest.fixture
def csv_source(spark, tmp_path):
    path = str(tmp_path / "src.csv")
    store_query_results(spark, f"SELECT id, id * 2 AS v FROM range({N})", path)
    return path


@pytest.fixture
def bumped_reads(spark, bump, monkeypatch):
    """Route every ingest scan through ``bump`` on its ``id`` column."""
    from pyspark.sql import functions as F

    real = ingest.read_files

    def read_files(*args, **kwargs):
        df = real(*args, **kwargs)
        return df.withColumn("id", F.call_function("bump", F.col("id").cast("bigint")))

    monkeypatch.setattr(ingest, "read_files", read_files)
    return bump


def test_ingest_replace_evaluates_rows_once(spark, csv_source, bumped_reads):
    spark.sql("DROP TABLE IF EXISTS wo_ingest")
    try:
        n, jobs = _jobs(
            spark,
            lambda: ingest.ingest_csv(
                spark, csv_source, "wo_ingest", insert_method="replace",
                schema="id BIGINT, v BIGINT",
            ),
        )
        assert n == bumped_reads.value == spark.table("wo_ingest").count() == N
        assert jobs == 1  # the write; no count job after it
    finally:
        spark.sql("DROP TABLE IF EXISTS wo_ingest")


def test_copy_into_new_table_evaluates_rows_once(spark, csv_source, bumped_reads):
    spark.sql("DROP TABLE IF EXISTS wo_copy")
    try:
        n = execute_copy(
            spark, parse_copy(f"COPY wo_copy FROM '{csv_source}' CSV IGNOREHEADER 1")
        )
        assert n == bumped_reads.value == spark.table("wo_copy").count() == N
    finally:
        spark.sql("DROP TABLE IF EXISTS wo_copy")


@pytest.mark.parametrize("predicate", ["rand() < 0.5", "py_rand() < 0.5"])
def test_nondeterministic_export_returns_rows_written(spark, tmp_path, predicate):
    """``rand()`` keeps one seed per plan; ``py_rand()`` draws from the
    OS on every execution (forked Python workers would share a
    ``random`` state), so only a count taken by the write itself
    matches."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import DoubleType

    def py_rand():
        return int.from_bytes(os.urandom(4), "little") / 2**32

    spark.udf.register("py_rand", udf(py_rand, DoubleType()).asNondeterministic())
    path = str(tmp_path / "rand.csv")
    n = store_query_results(spark, f"SELECT id FROM range(20000) WHERE {predicate}", path)
    assert n == _csv_rows(spark, path)


def test_commit_of_managed_target_runs_no_job(spark):
    spark.sql("DROP TABLE IF EXISTS wo_commit")
    spark.sql("CREATE TABLE wo_commit (k INT, s STRING) USING parquet")
    spark.sql("INSERT INTO wo_commit VALUES (1, 'a'), (2, 'b')")
    try:
        execute_sql(spark, "BEGIN")
        execute_sql(spark, "INSERT INTO wo_commit VALUES (3, 'c')")
        _, jobs = _jobs(spark, lambda: execute_sql(spark, "COMMIT"))
        assert jobs == 0
        rows = sorted(tuple(r) for r in spark.table("wo_commit").collect())
        assert rows == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        spark.sql("DROP TABLE IF EXISTS wo_commit")


def test_execute_sql_runs_no_job_after_a_command(spark):
    """A command (v2 ``DropTable`` or ``ShowTables`` included) already ran
    inside ``spark.sql``; only a query still needs its job."""
    spark.sql("CREATE TABLE IF NOT EXISTS wo_drop (k INT) USING parquet")
    for stmt in ("DROP TABLE IF EXISTS wo_drop", "DROP TABLE IF EXISTS wo_drop", "SHOW TABLES"):
        _, jobs = _jobs(spark, lambda: execute_sql(spark, stmt))
        assert jobs == 0, stmt
    assert not spark.catalog.tableExists("wo_drop")
    _, jobs = _jobs(spark, lambda: execute_sql(spark, "SELECT count(*) FROM range(100)"))
    assert jobs >= 1


LAYOUTS = {
    "wo_part": "USING parquet PARTITIONED BY (p)",
    "wo_orc": "USING orc",
    "wo_bucket": "USING parquet CLUSTERED BY (k) INTO 2 BUCKETS",
    "wo_csv": "USING csv OPTIONS (header 'true', sep '|')",
}


def _layout(spark, table: str):
    info = _describe_table(spark, table)
    keys = ("Type", "Provider", "partition_columns", "Num Buckets", "Storage Properties")
    return {k: info.get(k) for k in keys}


@pytest.mark.parametrize("table", sorted(LAYOUTS))
@pytest.mark.parametrize("write", ["delete", "txn insert"])
def test_plain_table_writes_keep_layout(spark, table, write):
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (k INT, v STRING, p INT) {LAYOUTS[table]}")
    spark.sql(f"INSERT INTO {table} VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 10)")
    before = _layout(spark, table)
    try:
        if write == "delete":
            assert dml.delete_from(spark, table, "k = 2") == 1
            want = [(1, "a", 10), (3, "c", 10)]
        else:
            execute_sql(spark, "BEGIN")
            execute_sql(spark, f"INSERT INTO {table} VALUES (4, 'd', 20)")
            execute_sql(spark, "COMMIT")
            want = [(1, "a", 10), (2, "b", 20), (3, "c", 10), (4, "d", 20)]
        assert _layout(spark, table) == before
        rows = sorted(tuple(r) for r in spark.table(table).select("k", "v", "p").collect())
        assert rows == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
