"""Part A native-layer tests: ingest (upload_file parity), export
(store_query_results parity), sql pass-through (execute_sql parity)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from amazonredshift_blueprints_spark.export import store_query_results, write_csv
from amazonredshift_blueprints_spark.ingest import (
    combine_folder_and_file_name,
    convert_to_boolean,
    find_all_file_matches,
    ingest_csv,
    read_csv,
)
from amazonredshift_blueprints_spark.session import load_table
from amazonredshift_blueprints_spark.sqlrun import execute_sql


def test_combine_folder_and_file_name():
    assert combine_folder_and_file_name("a/b", "c.csv") == os.path.normpath("a/b/c.csv")
    assert combine_folder_and_file_name(None, "c.csv") == "c.csv"
    assert combine_folder_and_file_name("a//", "c.csv") == os.path.normpath("a/c.csv")


def test_convert_to_boolean():
    assert convert_to_boolean("True") and convert_to_boolean("true") and convert_to_boolean(" TRUE ")
    assert not convert_to_boolean("False") and not convert_to_boolean("yes")


def test_find_all_file_matches():
    names = ["/d/data_1.csv", "/d/data_2.csv", "/d/other.txt"]
    assert find_all_file_matches(names, r"data_\d+\.csv$") == names[:2]
    assert find_all_file_matches(names, r"\.txt$") == [names[2]]
    assert find_all_file_matches(names, r"nope") == []


@pytest.fixture()
def customer_csv(spark, sf_dir, tmp_path):
    c = load_table(spark, sf_dir, "customer")
    dest = tmp_path / "customer.csv"
    write_csv(c, str(dest))
    return c, str(dest)


def test_csv_roundtrip_lossless(spark, customer_csv):
    c, path = customer_csv
    back = read_csv(spark, path, schema=c.schema)
    assert back.count() == c.count()
    assert back.schema == c.schema
    # doubles survive CSV round-trip bit-for-bit (shortest-repr write)
    orig = {r["c_custkey"]: r["c_acctbal"] for r in c.collect()}
    for r in back.collect():
        assert orig[r["c_custkey"]] == r["c_acctbal"]


def test_ingest_modes(spark, customer_csv):
    c, path = customer_csv
    n = c.count()
    spark.sql("DROP TABLE IF EXISTS t_modes")
    assert ingest_csv(spark, path, "t_modes", insert_method="replace", schema=c.schema) == n
    # append doubles the rows
    assert ingest_csv(spark, path, "t_modes", insert_method="append", schema=c.schema) == 2 * n
    # replace resets
    assert ingest_csv(spark, path, "t_modes", insert_method="replace", schema=c.schema) == n
    # fail raises on existing table
    with pytest.raises(Exception, match="TABLE_OR_VIEW_ALREADY_EXISTS|already exists"):
        ingest_csv(spark, path, "t_modes", insert_method="fail", schema=c.schema)
    with pytest.raises(ValueError, match="insert_method"):
        ingest_csv(spark, path, "t_modes", insert_method="upsert")
    spark.sql("DROP TABLE t_modes")


def test_ingest_multi_file_replace_keeps_all(spark, sf_dir, tmp_path):
    """Documented divergence from upload_file.py:197 (keep-last): our
    multi-file replace loads ALL matched files."""
    c = load_table(spark, sf_dir, "customer")
    p1, p2 = str(tmp_path / "c1.csv"), str(tmp_path / "c2.csv")
    write_csv(c.filter(F.col("c_custkey") < 50), p1)
    write_csv(c.filter(F.col("c_custkey") >= 50), p2)
    spark.sql("DROP TABLE IF EXISTS t_multi")
    n = ingest_csv(spark, [p1, p2], "t_multi", insert_method="replace", schema=c.schema)
    assert n == c.count()
    spark.sql("DROP TABLE t_multi")


def test_ingest_schema_ddl(spark, customer_csv):
    c, path = customer_csv
    ingest_csv(spark, path, "t_schema", schema_name="staging",
               insert_method="replace", schema=c.schema)
    assert spark.table("staging.t_schema").count() == c.count()
    spark.sql("DROP TABLE staging.t_schema")
    spark.sql("DROP DATABASE staging")


def test_export_header_toggle(spark, sf_dir, tmp_path):
    from amazonredshift_blueprints_spark.session import register_tables

    register_tables(spark, sf_dir)
    q = "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 5"
    with_h = str(tmp_path / "with_header.csv")
    without_h = str(tmp_path / "no_header.csv")
    assert store_query_results(spark, q, with_h, include_header=True) == 5
    assert store_query_results(spark, q, without_h, include_header=False) == 5
    first_line = open(with_h).readline().strip()
    assert first_line == "o_orderkey,o_totalprice"
    assert open(without_h).readline().strip() != "o_orderkey,o_totalprice"


def test_export_dir_mode(spark, sf_dir, tmp_path):
    from amazonredshift_blueprints_spark.session import register_tables

    register_tables(spark, sf_dir)
    dest = str(tmp_path / "out_dir")
    n = store_query_results(
        spark, "SELECT o_orderkey FROM orders", dest, single_file=False
    )
    assert n == spark.table("orders").count()
    assert os.path.isdir(dest)


def test_export_creates_parent_dirs(spark, sf_dir, tmp_path):
    from amazonredshift_blueprints_spark.session import register_tables

    register_tables(spark, sf_dir)
    dest = str(tmp_path / "deep" / "nested" / "out.csv")
    assert store_query_results(spark, "SELECT 1 AS one", dest) == 1


def test_write_csv_count_with_embedded_newlines(spark, tmp_path):
    """Quoted fields containing newlines span multiple physical lines;
    the returned count must be logical rows, not file lines."""
    df = spark.createDataFrame(
        [(1, "one\ntwo"), (2, "plain"), (3, "a\nb\nc")], "k int, v string"
    )
    dest = str(tmp_path / "newlines.csv")
    assert write_csv(df, dest) == 3
    multi = str(tmp_path / "newlines_dir")
    assert write_csv(df, multi, single_file=False) == 3


def test_execute_sql_select_no_driver_collect(spark):
    """A pass-through SELECT must execute (errors surface) without
    materializing rows on the driver; DDL/DML still applies eagerly."""
    execute_sql(spark, "SELECT o_orderkey FROM VALUES (1), (2) AS t(o_orderkey)")
    import pytest as _pytest

    with _pytest.raises(Exception):
        execute_sql(spark, "SELECT * FROM t_does_not_exist_xyz")


def test_execute_sql_ddl_dml(spark, capsys):
    execute_sql(spark, "CREATE TABLE IF NOT EXISTS t_sqlrun (k INT, v STRING) USING PARQUET")
    execute_sql(spark, "INSERT INTO t_sqlrun VALUES (1, 'a'), (2, 'b')")
    assert spark.table("t_sqlrun").count() == 2
    assert "successfully executed" in capsys.readouterr().out
    execute_sql(spark, "DROP TABLE t_sqlrun")


def test_execute_sql_redshift_dialect(spark):
    execute_sql(
        spark,
        """CREATE OR REPLACE TEMPORARY VIEW t_dialect AS
           SELECT DATEDIFF(day, TIMESTAMP '2024-01-01', TIMESTAMP '2024-03-01') AS d""",
    )
    assert spark.table("t_dialect").collect()[0]["d"] == 60


def test_merge_into_upsert(spark, sf_dir):
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.dml import merge_into
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.session import load_table

    nation = load_table(spark, sf_dir, "nation")
    _clean_stale_location(spark, "t_merge_nation", None)
    nation.write.mode("overwrite").saveAsTable("t_merge_nation")

    source = spark.createDataFrame(
        [(0, "RENAMED", 0), (999, "BRAND-NEW", 4)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    n_upd, n_ins, n_del = merge_into(spark, "t_merge_nation", source, keys=["n_nationkey"])
    assert (n_upd, n_ins, n_del) == (1, 1, 0)

    after = spark.table("t_merge_nation")
    assert after.count() == nation.count() + 1
    assert after.filter(F.col("n_nationkey") == 0).collect()[0].n_name == "RENAMED"
    assert after.filter(F.col("n_nationkey") == 999).collect()[0].n_name == "BRAND-NEW"
    # target-only rows untouched
    assert after.filter(F.col("n_nationkey") == 5).collect() == \
        nation.filter(F.col("n_nationkey") == 5).collect()
    spark.sql("DROP TABLE t_merge_nation")


def test_delete_from_null_predicate_keeps_rows(spark):
    """SQL DELETE removes only predicate-TRUE rows; NULL-predicate rows
    must survive (a bare ``~expr`` would silently drop them)."""
    from amazonredshift_blueprints_spark.dml import delete_from
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location

    _clean_stale_location(spark, "t_del_null", None)
    spark.createDataFrame(
        [(1, 10), (2, None), (3, 99)], "k int, x int"
    ).write.mode("overwrite").saveAsTable("t_del_null")
    try:
        n = delete_from(spark, "t_del_null", "x > 50")
        assert n == 1  # only k=3 matches; k=2 (x NULL) must be kept
        kept = {r.k for r in spark.table("t_del_null").collect()}
        assert kept == {1, 2}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_del_null")


def test_merge_into_schema_mismatch(spark, sf_dir):
    from amazonredshift_blueprints_spark.dml import merge_into
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.session import load_table

    _clean_stale_location(spark, "t_merge_region", None)
    load_table(spark, sf_dir, "region").write.mode("overwrite").saveAsTable(
        "t_merge_region"
    )
    bad = spark.createDataFrame([(1, "x")], "r_regionkey int, wrong_col string")
    try:
        merge_into(spark, "t_merge_region", bad, keys=["r_regionkey"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
    finally:
        spark.sql("DROP TABLE IF EXISTS t_merge_region")


def test_export_json_and_parquet(spark, sf_dir, tmp_path):
    from amazonredshift_blueprints_spark.export import write_result
    from amazonredshift_blueprints_spark.session import load_table

    df = load_table(spark, sf_dir, "nation")
    jpath = str(tmp_path / "nation.json")
    n = write_result(df, jpath, format="json")
    assert n == df.count()
    assert spark.read.json(jpath).count() == n

    ppath = str(tmp_path / "nation.parquet")
    n = write_result(df, ppath, format="parquet")
    back = spark.read.parquet(ppath)
    assert back.count() == n and set(back.columns) == set(df.columns)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        write_result(df, str(tmp_path / "x.avro"), format="avro")


def test_ingest_gzip_csv(spark, sf_dir, tmp_path):
    """pandas read_csv decompresses by extension (the reference relies on
    it implicitly); Spark's CSV reader must match."""
    import gzip

    from amazonredshift_blueprints_spark.ingest import ingest_csv
    from amazonredshift_blueprints_spark.session import load_table

    rows = load_table(spark, sf_dir, "region").collect()
    gz = tmp_path / "region.csv.gz"
    with gzip.open(gz, "wt") as f:
        f.write("r_regionkey,r_name\n")
        for r in rows:
            f.write(f"{r.r_regionkey},{r.r_name}\n")

    n = ingest_csv(spark, str(gz), "t_gzip_region", insert_method="replace")
    assert n == len(rows)
    assert spark.table("t_gzip_region").count() == len(rows)
    spark.sql("DROP TABLE t_gzip_region")


def test_ingest_formats_and_delimiter(spark, sf_dir, tmp_path):
    from amazonredshift_blueprints_spark.export import write_result
    from amazonredshift_blueprints_spark.ingest import ingest_files, read_csv
    from amazonredshift_blueprints_spark.session import load_table

    r = load_table(spark, sf_dir, "region")

    # parquet + json round-trips through the generalized ingest
    ppath = str(tmp_path / "r.parquet")
    write_result(r, ppath, format="parquet")
    assert ingest_files(spark, ppath, "t_fmt_p", format="parquet",
                        insert_method="replace") == r.count()
    jpath = str(tmp_path / "r.json")
    write_result(r, jpath, format="json")
    assert ingest_files(spark, jpath, "t_fmt_j", format="json",
                        insert_method="replace") == r.count()

    # pipe-delimited CSV (COPY DELIMITER analog)
    psv = tmp_path / "r.psv"
    rows = r.collect()
    with open(psv, "w") as f:
        f.write("r_regionkey|r_name\n")
        for row in rows:
            f.write(f"{row.r_regionkey}|{row.r_name}\n")
    back = read_csv(spark, str(psv), delimiter="|", schema=r.schema)
    assert back.count() == len(rows) and back.columns == r.columns

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ingest_files(spark, ppath, "t_bad", format="xml")
    for t in ("t_fmt_p", "t_fmt_j"):
        spark.sql(f"DROP TABLE {t}")


def test_export_orc_roundtrip(spark, sf_dir, tmp_path):
    from amazonredshift_blueprints_spark.export import write_result
    from amazonredshift_blueprints_spark.ingest import ingest_files
    from amazonredshift_blueprints_spark.session import load_table

    r = load_table(spark, sf_dir, "region")
    opath = str(tmp_path / "r.orc")
    assert write_result(r, opath, format="orc") == r.count()
    assert ingest_files(spark, opath, "t_orc", format="orc",
                        insert_method="replace") == r.count()
    spark.sql("DROP TABLE t_orc")


def test_csv_parse_modes(spark, tmp_path):
    from amazonredshift_blueprints_spark.ingest import read_csv

    bad = tmp_path / "bad.csv"
    # row 2 is structurally malformed (1 column instead of 2); NB a mere
    # type-coercion failure is NOT "malformed" to Spark — it nulls the
    # field in every mode except FAILFAST
    bad.write_text("k,v\n1,10\noops\n3,30\n")
    schema = "k INT, v INT"

    # PERMISSIVE (default): malformed row → NULL fields, all rows kept
    rows = read_csv(spark, str(bad), schema=schema).collect()
    assert len(rows) == 3 and any(r.v is None for r in rows)

    # DROPMALFORMED: bad row vanishes. Must materialize the columns —
    # count() prunes them all, so nothing parses and nothing drops
    # (documented Spark CSV-pruning interaction).
    assert len(read_csv(spark, str(bad), schema=schema,
                        parse_mode="DROPMALFORMED").collect()) == 2

    # FAILFAST: raises (the pandas/reference behavior)
    import pytest as _pytest
    with _pytest.raises(Exception, match="MALFORMED|FAILFAST|Malformed"):
        read_csv(spark, str(bad), schema=schema, parse_mode="FAILFAST").collect()


def test_events_ts_is_timestamp_regardless_of_reader(spark, sf_dir):
    """Fixture-type contract: events.ts MUST arrive as TimestampType no
    matter how the parquet reader surfaced the INT64(NANOS) column
    (bigint via nanosAsLong, TIMESTAMP_NTZ, or TIMESTAMP). Every
    event-time consumer (asof join, withWatermark, unix_micros) rejects
    NTZ, so a reader-behavior shift must be caught HERE, not in seven
    downstream operators (the round-5 c19/c36 regression)."""
    from pyspark.sql.types import LongType, StructField, StructType, TimestampNTZType, TimestampType

    from amazonredshift_blueprints_spark.session import normalize_events_ts

    e = load_table(spark, sf_dir, "events")
    assert e.schema["ts"].dataType == TimestampType()
    # unix_micros is the canary: analysis fails on NTZ
    assert e.select(F.unix_micros("ts")).limit(1).count() == 1

    # unit-check all three normalization branches on synthetic frames
    for src_type, expr in (
        (LongType(), F.lit(1704067200_123456000).cast("long")),  # nanos
        (TimestampNTZType(), F.lit("2024-01-01 00:00:00.123456").cast("timestamp_ntz")),
        (TimestampType(), F.lit("2024-01-01 00:00:00.123456").cast("timestamp")),
    ):
        df = spark.range(1).select(expr.alias("ts"))
        assert df.schema["ts"].dataType == src_type  # precondition
        out = normalize_events_ts(df)
        assert out.schema["ts"].dataType == TimestampType()
        micros = out.select(F.unix_micros("ts").alias("m")).first()["m"]
        assert micros == 1704067200_123456  # same instant on every path


def test_concurrent_dml_staging_does_not_collide(spark):
    """Two DML statements running simultaneously (distinct target
    tables) must not clobber each other's copy-on-write staging table —
    the stage name is unique per call, so e.g. the streaming upsert
    sink's per-micro-batch MERGE can race an ad-hoc DELETE."""
    import threading

    from amazonredshift_blueprints_spark.dml import merge_into, update_table
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location

    for t in ("t_dml_race_a", "t_dml_race_b"):
        _clean_stale_location(spark, t, None)
    spark.createDataFrame(
        [(i, i * 10) for i in range(200)], "k int, v int"
    ).write.mode("overwrite").saveAsTable("t_dml_race_a")
    spark.createDataFrame(
        [(i, i) for i in range(200)], "k int, v int"
    ).write.mode("overwrite").saveAsTable("t_dml_race_b")

    errs: list[BaseException] = []
    results: dict[str, object] = {}

    def do_merge():
        try:
            src = spark.createDataFrame(
                [(5, -1), (1000, -2)], "k int, v int"
            )
            results["merge"] = merge_into(
                spark, "t_dml_race_a", src, keys=["k"]
            )
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    def do_update():
        try:
            results["update"] = update_table(
                spark, "t_dml_race_b", {"v": "v + 1"}, "k < 50"
            )
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    try:
        # repeat to give the race a few chances to bite
        for _ in range(3):
            ts = [threading.Thread(target=do_merge), threading.Thread(target=do_update)]
            for t in ts:
                t.start()
            for t in ts:
                t.join()
            assert not errs, errs
        # round 1 upserts (1 update, 1 insert); rounds 2-3 both match
        assert results["merge"] == (2, 0, 0)
        a = spark.table("t_dml_race_a")
        assert a.count() == 201
        b = spark.table("t_dml_race_b")
        assert b.filter("k = 0").collect()[0].v == 3  # +1 three times
        # no orphaned staging tables left behind
        stages = [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("_bp_dml_stage")
        ]
        assert stages == [], stages
    finally:
        spark.sql("DROP TABLE IF EXISTS t_dml_race_a")
        spark.sql("DROP TABLE IF EXISTS t_dml_race_b")


def test_export_partition_by_unload_parity(spark, sf_dir, tmp_path):
    """Redshift UNLOAD ... PARTITION BY parity: directory-mode export
    laid out as col=value/ subdirectories, readable back with pruning;
    misuse (single-file or unknown column) raises."""
    import os as _os

    import pytest as _pytest

    from amazonredshift_blueprints_spark.export import write_result
    from amazonredshift_blueprints_spark.session import load_table

    nation = load_table(spark, sf_dir, "nation")
    dest = str(tmp_path / "nation_by_region")
    n = write_result(
        nation, dest, format="parquet", single_file=False,
        partition_by=["n_regionkey"],
    )
    assert n == nation.count()
    dirs = {d for d in _os.listdir(dest) if d.startswith("n_regionkey=")}
    assert len(dirs) == nation.select("n_regionkey").distinct().count()
    back = spark.read.parquet(dest)
    assert back.count() == n
    assert back.filter("n_regionkey = 0").count() == \
        nation.filter("n_regionkey = 0").count()

    with _pytest.raises(ValueError, match="single_file=False"):
        write_result(nation, dest, format="parquet", partition_by=["n_regionkey"])
    with _pytest.raises(ValueError, match="not in result"):
        write_result(
            nation, dest, format="parquet", single_file=False,
            partition_by=["nope"],
        )


def test_compact_small_files_reduces_count_and_sorts(spark, sf_dir, tmp_path):
    import os

    from amazonredshift_blueprints_spark.operators.maintenance import (
        compact_small_files,
    )

    frag, dest = str(tmp_path / "frag"), str(tmp_path / "compact")
    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src.repartition(32).write.parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_frag >= 30  # genuinely fragmented

    out = compact_small_files(
        spark, frag, dest, target_file_bytes=1 << 20, order_cols=["doc_id"]
    )
    n_out = len([f for f in os.listdir(dest) if f.endswith(".parquet")])
    assert n_out < n_frag / 4             # real compaction
    assert out.count() == src.count()     # nothing lost

    # range-sorted layout: per-file doc_id ranges are DISJOINT, the
    # property that makes parquet min/max stats selective
    import pyarrow.parquet as pq
    ranges = []
    for f in sorted(os.listdir(dest)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(dest, f), columns=["doc_id"])
            ids = t.column("doc_id").to_pylist()
            if ids:
                ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file ranges overlap - range partitioning broken"


def test_hll_sketch_table_estimates_within_rsd(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.maintenance import (
        build_sketch_table,
        sketch_distinct_estimates,
    )
    from amazonredshift_blueprints_spark.session import load_table

    e = load_table(spark, sf_dir, "events")
    sk = build_sketch_table(
        e,
        str(tmp_path / "sk"),
        F.date_trunc("month", F.col("ts")).alias("month"),
        "user_id",
    )
    assert dict(sk.dtypes)["sk"] == "binary"  # persisted as plain binary
    got = {
        r["month"]: r["est_distinct"]
        for r in sketch_distinct_estimates(sk, "month").collect()
    }
    exact = {
        str(r["month"]): r["n"]
        for r in e.groupBy(F.date_trunc("month", F.col("ts")).alias("month"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact["<all>"] = e.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (k, est, exact[k])


def test_merge_delete_arm(spark, sf_dir):
    from amazonredshift_blueprints_spark.dml import merge_into
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.session import load_table

    nation = load_table(spark, sf_dir, "nation")
    _clean_stale_location(spark, "t_merge_del", None)
    nation.write.mode("overwrite").saveAsTable("t_merge_del")

    source = spark.createDataFrame(
        [
            (0, "__DEL__", 0),      # matched tombstone -> delete
            (1, "RENAMED", 1),      # matched -> update
            (777, "__DEL__", 7),    # unmatched tombstone -> ignored
            (888, "ADDED", 8),      # unmatched -> insert
        ],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    n_upd, n_ins, n_del = merge_into(
        spark, "t_merge_del", source, keys=["n_nationkey"],
        delete_condition="n_name = '__DEL__'",
    )
    assert (n_upd, n_ins, n_del) == (1, 1, 1)
    after = {r.n_nationkey: r.n_name for r in spark.table("t_merge_del").collect()}
    assert 0 not in after and 777 not in after
    assert after[1] == "RENAMED" and after[888] == "ADDED"
    assert len(after) == nation.count()  # -1 deleted, +1 inserted
    spark.sql("DROP TABLE IF EXISTS t_merge_del")


def test_profile_columns_all_null_column(spark):
    from amazonredshift_blueprints_spark.operators.maintenance import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None)], "k long, v string"
    )
    rows = {r["column"]: r for r in profile_columns(df, ["k", "v"]).collect()}
    assert rows["v"]["n_rows"] == 2 and rows["v"]["n_null"] == 2
    assert rows["v"]["n_distinct"] == 0
    assert rows["v"]["min_value"] is None and rows["v"]["max_value"] is None
    assert rows["k"]["n_distinct"] == 2 and rows["k"]["min_value"] == "1"


def test_concurrent_merge_same_table_loses_no_rows(spark):
    """Two simultaneous MERGEs into the SAME table: without the per-table
    writer lock both read the pre-image and the second INSERT OVERWRITE
    silently drops the first writer's inserts (the lost-update anomaly
    Redshift's serializable isolation prevents at the reference's SQL
    pass-through, execute_sql.py:77). With the lock, all inserts from
    both writers must land."""
    import threading

    from amazonredshift_blueprints_spark.dml import merge_into
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location

    _clean_stale_location(spark, "t_merge_race", None)
    spark.createDataFrame(
        [(i, 0) for i in range(100)], "k int, v int"
    ).write.mode("overwrite").saveAsTable("t_merge_race")

    errs: list[BaseException] = []

    def writer(lo: int) -> None:
        try:
            src = spark.createDataFrame(
                [(k, 1) for k in range(lo, lo + 50)], "k int, v int"
            )
            merge_into(spark, "t_merge_race", src, keys=["k"])
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    try:
        # disjoint insert ranges: every row must survive both commits
        ts = [
            threading.Thread(target=writer, args=(1000,)),
            threading.Thread(target=writer, args=(2000,)),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        got = spark.table("t_merge_race")
        assert got.count() == 200  # 100 base + 50 + 50, none lost
        assert got.filter("k >= 1000 and k < 1050").count() == 50
        assert got.filter("k >= 2000 and k < 2050").count() == 50
        # lock files released (under the normalized qualified key)
        from amazonredshift_blueprints_spark.dml import _lock_dir, _lock_key
        import os

        assert _lock_key(spark, "t_merge_race") == _lock_key(
            spark, "`Default`.T_MERGE_RACE"
        )
        assert not os.path.exists(
            os.path.join(
                _lock_dir(spark), f"{_lock_key(spark, 't_merge_race')}.lock"
            )
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_merge_race")


def test_merge_unmatched_delete_parity_option(spark):
    """Default (CDC): unmatched delete-marked source rows are no-ops.
    insert_unmatched_deletes=True: strict Redshift MERGE parity — the
    delete arm only sees matched rows, so an unmatched delete-marked
    row hits WHEN NOT MATCHED THEN INSERT."""
    from amazonredshift_blueprints_spark.dml import merge_into
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location

    for mode in (False, True):
        _clean_stale_location(spark, "t_merge_parity", None)
        spark.createDataFrame(
            [(1, "a", False), (2, "b", False)], "k int, v string, del boolean"
        ).write.mode("overwrite").saveAsTable("t_merge_parity")
        src = spark.createDataFrame(
            # matched delete, matched update, unmatched insert, unmatched delete-marked
            [(1, "x", True), (2, "y", False), (3, "z", False), (4, "w", True)],
            "k int, v string, del boolean",
        )
        try:
            n_upd, n_ins, n_del = merge_into(
                spark, "t_merge_parity", src, keys=["k"],
                delete_condition="del", insert_unmatched_deletes=mode,
            )
            rows = {r.k: r.v for r in spark.table("t_merge_parity").collect()}
            if mode:  # Redshift parity: k=4 inserted despite its marker
                assert (n_upd, n_ins, n_del) == (1, 2, 1)
                assert rows == {2: "y", 3: "z", 4: "w"}
            else:  # CDC default: k=4 ignored
                assert (n_upd, n_ins, n_del) == (1, 1, 1)
                assert rows == {2: "y", 3: "z"}
        finally:
            spark.sql("DROP TABLE IF EXISTS t_merge_parity")


def test_scd2_apply_full_snapshot_and_null_transitions(spark):
    """SCD2 edge semantics: close_missing=True closes vanished keys;
    NULL->value and value->NULL transitions version correctly (IS
    DISTINCT FROM change detection); counters match."""
    import datetime

    from amazonredshift_blueprints_spark.dml import scd2_apply
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location

    _clean_stale_location(spark, "t_scd2", None)
    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, "a", t0, None, True),      # will change a -> NULL
            (2, None, t0, None, True),     # will change NULL -> b
            (3, "c", t0, None, True),      # unchanged
            (4, "d", t0, None, True),      # vanishes from snapshot
            (5, "old", t0, t0, False),     # history row: must pass through
        ],
        "k int, v string, valid_from timestamp, valid_to timestamp, is_current boolean",
    ).write.mode("overwrite").saveAsTable("t_scd2")
    src = spark.createDataFrame(
        [(1, None), (2, "b"), (3, "c"), (9, "new")], "k int, v string"
    )
    try:
        n_closed, n_opened, n_kept = scd2_apply(
            spark, "t_scd2", src, keys=["k"], tracked=["v"],
            batch_ts="2024-06-01", close_missing=True,
        )
        assert (n_closed, n_opened, n_kept) == (3, 3, 1)  # 1,2 changed + 4 gone; 1,2,9 opened; 3 kept
        rows = {
            (r.k, r.is_current): (r.v, r.valid_to)
            for r in spark.table("t_scd2").collect()
        }
        t1 = datetime.datetime(2024, 6, 1)
        assert rows[(1, True)] == (None, None) and rows[(1, False)] == ("a", t1)
        assert rows[(2, True)] == ("b", None) and rows[(2, False)] == (None, t1)
        assert rows[(3, True)] == ("c", None)
        assert rows[(4, False)] == ("d", t1)  # closed, no new current row
        assert (4, True) not in rows
        assert rows[(9, True)] == ("new", None)
        assert rows[(5, False)] == ("old", t0)  # history untouched
        assert len(rows) == 8 and spark.table("t_scd2").count() == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS t_scd2")


def test_split_statements_quotes_and_comments():
    from amazonredshift_blueprints_spark.sqlrun import split_statements

    # a ';' inside a block comment does not split; a leading block
    # comment is stripped like a leading '--' line
    assert split_statements("SELECT 1 /* a; b */ FROM t") == [
        "SELECT 1 /* a; b */ FROM t"
    ]
    assert split_statements(
        "/* nightly load */ COPY t FROM '/p' CSV; SELECT 1"
    ) == ["COPY t FROM '/p' CSV", "SELECT 1"]

    script = """
    -- setup; this semicolon is a comment
    CREATE TABLE t (s VARCHAR(20));
    INSERT INTO t VALUES ('a;b', 'it''s;fine');
    SELECT * FROM t WHERE s = ";" ;
    COMMIT
    """
    got = split_statements(script)
    assert len(got) == 4
    assert got[0] == "CREATE TABLE t (s VARCHAR(20))"
    assert "'a;b'" in got[1] and "it''s;fine" in got[1]
    assert got[2].endswith('";"')
    assert got[3] == "COMMIT"


def test_execute_sql_dispatch_skips_leading_comments(spark):
    """A statement handed to execute_sql directly, not through a
    script, still dispatches past a leading comment."""
    from amazonredshift_blueprints_spark import transactions

    execute_sql(spark, "-- open one\nBEGIN")
    assert transactions.active(spark) is not None
    execute_sql(spark, "/* undo it */ ROLLBACK")
    assert transactions.active(spark) is None


def test_split_statements_dollar_quoted_bodies():
    """$$-quoted CREATE FUNCTION bodies contain ';' — the split must
    treat $$...$$ (and $tag$...$tag$) as opaque, like string literals
    (ADVICE r8)."""
    from amazonredshift_blueprints_spark.sqlrun import split_statements

    script = (
        "CREATE FUNCTION f_x (x INT) RETURNS INT STABLE AS $$\n"
        "import math; y = x + 1; return y\n"
        "$$ LANGUAGE plpythonu;\n"
        "SELECT f_x(1);"
    )
    got = split_statements(script)
    assert len(got) == 2
    assert "import math; y = x + 1; return y" in got[0]
    assert got[1] == "SELECT f_x(1)"
    # tagged form, with a $$ inside the tagged body staying literal
    tagged = "SELECT $body$a;b $$ c;d$body$ AS s; SELECT 2"
    got2 = split_statements(tagged)
    assert len(got2) == 2 and "a;b $$ c;d" in got2[0]
    # unterminated block swallows to EOF (single malformed statement)
    assert len(split_statements("SELECT $$oops; SELECT 2")) == 1


def test_split_statements_strips_leading_comments():
    """A statement written '-- comment\\nCOPY ...' must still dispatch
    through the ^-anchored COPY/UNLOAD parsers (ADVICE r8): leading
    comment lines are stripped from each split statement."""
    from amazonredshift_blueprints_spark.sqlrun import split_statements

    script = (
        "-- load step\n-- second comment\nCOPY t FROM '/p' CSV;\n"
        "-- only a comment;\n;\nSELECT 1 -- trailing stays\n"
    )
    got = split_statements(script)
    assert len(got) == 2
    assert got[0].startswith("COPY t FROM")
    assert got[1].startswith("SELECT 1")


def test_script_runs_commented_copy_and_dollar_function(spark, tmp_path):
    """End-to-end: a script whose COPY is preceded by a comment line and
    whose CREATE FUNCTION body contains semicolons runs unmodified."""
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql_script

    _clean_stale_location(spark, "t_script_adv", None)
    src = tmp_path / "in.csv"
    src.write_text("k,v\n1,a\n2,b\n")
    spark.sql("DROP TABLE IF EXISTS t_script_adv")
    spark.sql("CREATE TABLE t_script_adv (k INT, v STRING) USING parquet")
    try:
        n = execute_sql_script(
            spark,
            "-- ingest\n"
            f"COPY t_script_adv FROM '{src}' CSV IGNOREHEADER 1;\n"
            "CREATE FUNCTION f_adv9 (x INT) RETURNS INT STABLE AS $$\n"
            "y = x * 2; return y\n"
            "$$ LANGUAGE plpythonu;\n"
            "-- check\nSELECT f_adv9(k) FROM t_script_adv;",
        )
        assert n == 3
        assert spark.table("t_script_adv").count() == 2
        assert spark.sql("SELECT f_adv9(21) AS r").first()["r"] == 42
    finally:
        spark.sql("DROP TABLE IF EXISTS t_script_adv")


def test_execute_sql_script_end_to_end(spark, tmp_path):
    """A Redshift-style script — transaction markers, layout DDL,
    INSERTs, UNLOAD — runs start to finish through one call; a failing
    statement reports its position."""
    import pytest

    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql_script

    _clean_stale_location(spark, "t_script", None)
    out = tmp_path / "script_out.csv"
    n = execute_sql_script(
        spark,
        f"""
        BEGIN;
        CREATE TABLE t_script (k INT, v VARCHAR(10)) SORTKEY(k);
        INSERT INTO t_script VALUES (1, 'a'), (2, 'b;c');
        GRANT SELECT ON t_script TO GROUP analysts;
        UNLOAD ('SELECT * FROM t_script') TO '{out}' CSV HEADER PARALLEL OFF;
        COMMIT;
        """,
    )
    assert n == 6
    got = spark.read.options(header=True).csv(str(out)).collect()
    assert {(r["k"], r["v"]) for r in got} == {("1", "a"), ("2", "b;c")}
    with pytest.raises(Exception, match=r"statement 2/2"):
        execute_sql_script(spark, "SELECT 1; SELECT definitely_wrong FROM nope;")
    spark.sql("DROP TABLE IF EXISTS t_script")


def test_copy_maxerror_tolerates_then_refuses(spark, tmp_path):
    """COPY MAXERROR: unparseable rows are dropped while within budget
    (load succeeds with the good rows), and exceeding the budget fails
    the load naming the count — the Redshift error-tolerance contract."""
    import pytest

    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    _clean_stale_location(spark, "t_maxerr", None)
    _clean_stale_location(spark, "t_maxerr2", None)
    p = tmp_path / "dirty.csv"
    p.write_text(
        "k,v\n"
        "1,10\n"
        "2,twenty\n"   # type error in an int column
        "3,30\n"
        "4,forty\n"    # second bad row
        "5,50\n"
    )
    spark.sql("DROP TABLE IF EXISTS t_maxerr")
    spark.sql("CREATE TABLE t_maxerr (k INT, v INT) USING parquet")
    execute_sql(
        spark, f"COPY t_maxerr FROM '{p}' CSV IGNOREHEADER 1 MAXERROR 2"
    )
    got = {(r.k, r.v) for r in spark.table("t_maxerr").collect()}
    assert got == {(1, 10), (3, 30), (5, 50)}
    spark.sql("DROP TABLE IF EXISTS t_maxerr2")
    spark.sql("CREATE TABLE t_maxerr2 (k INT, v INT) USING parquet")
    with pytest.raises(ValueError, match="2 unparseable row.*MAXERROR 1"):
        execute_sql(
            spark, f"COPY t_maxerr2 FROM '{p}' CSV IGNOREHEADER 1 MAXERROR 1"
        )
    # MAXERROR 0 (default) keeps strict semantics: same failure
    with pytest.raises(Exception):
        execute_sql(
            spark, f"COPY t_maxerr2 FROM '{p}' CSV IGNOREHEADER 1 MAXERROR 0"
        )
    # parquet is structural, not row-wise: MAXERROR there refuses loudly
    from amazonredshift_blueprints_spark.ingest import read_files_tolerant

    with pytest.raises(ValueError, match="row-based formats"):
        read_files_tolerant(
            spark, str(p), format="parquet", header=True, delimiter=",",
            max_error=1,
        )
    spark.sql("DROP TABLE IF EXISTS t_maxerr")


def test_copy_fixedwidth_load_and_refusals(spark, tmp_path):
    """COPY FIXEDWIDTH: fixed slices load by layout (short rows pad to
    empty tails, TRIMBLANKS strips pad spaces), over-long rows fail at
    execution naming the length, and the delimited-parse options refuse
    to combine — the Redshift fixed-width contract."""
    import pytest

    from amazonredshift_blueprints_spark.functions.copy_unload import parse_copy
    from amazonredshift_blueprints_spark.ingest import (
        _clean_stale_location,
        parse_fixedwidth_spec,
        read_fixedwidth,
    )
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    p = tmp_path / "fw.txt"
    p.write_text(
        "1  alpha   42 \n"
        "2  beta      7\n"
        "3  gm\n"          # short row: tail columns read as ''
    )
    # layout: id:3, name:8, qty:4 (total 15)
    df = read_fixedwidth(spark, str(p), "id:3,name:8,qty:4", trim_blanks=True)
    got = {(r.id, r.name, r.qty) for r in df.collect()}
    # TRIMBLANKS strips TRAILING pad spaces only (the Redshift reading);
    # a right-justified field keeps its leading spaces — numeric casts
    # trim those anyway
    assert got == {("1", "alpha", "42"), ("2", "beta", "  7"), ("3", "gm", "")}
    # no TRIMBLANKS: pad spaces survive (raw Redshift reading)
    raw = read_fixedwidth(spark, str(p), "id:3,name:8,qty:4").collect()
    assert any(r.name == "alpha   " for r in raw)
    # over-long row fails at execution, naming the offending length
    bad = tmp_path / "fw_long.txt"
    bad.write_text("1  alpha   42  EXTRA\n")
    with pytest.raises(Exception, match="layout is 15 chars"):
        read_fixedwidth(spark, str(bad), "id:3,name:8,qty:4").collect()
    # ordinal labels become col<n>; spec validation refuses junk
    assert parse_fixedwidth_spec("0:4,1:6") == [("col0", 4), ("col1", 6)]
    for junk in ("a", "a:x", "a:-1", "a:3,a:4", ""):
        with pytest.raises(ValueError):
            parse_fixedwidth_spec(junk)
    # statement face: full COPY round-trip through execute_sql
    _clean_stale_location(spark, "t_fw", None)
    spark.sql("DROP TABLE IF EXISTS t_fw")
    execute_sql(
        spark,
        f"COPY t_fw FROM '{p}' FIXEDWIDTH 'id:3,name:8,qty:4' TRIMBLANKS",
    )
    assert spark.table("t_fw").count() == 3
    assert [f.dataType.simpleString() for f in spark.table("t_fw").schema] == [
        "string", "string", "string"
    ]
    # option conflicts refuse loudly at parse time
    for sql in (
        "COPY t FROM '/x' CSV FIXEDWIDTH 'a:3'",
        "COPY t FROM '/x' FIXEDWIDTH 'a:3' DELIMITER ','",
        "COPY t FROM '/x' FIXEDWIDTH 'a:3' IGNOREHEADER 1",
        "COPY t FROM '/x' FIXEDWIDTH 'a:3' MAXERROR 2",
        "COPY t FROM '/x' TRIMBLANKS",
    ):
        with pytest.raises(ValueError):
            parse_copy(sql)
    spark.sql("DROP TABLE IF EXISTS t_fw")


def test_copy_text_load_options(spark, tmp_path):
    """COPY NULL AS / EMPTYASNULL / DATEFORMAT lower onto the CSV
    reader; the declared target schema drives parsing; a declared-
    schema load is FAILFAST at MAXERROR 0; epoch TIMEFORMAT and
    FIXEDWIDTH combinations refuse at parse time."""
    import pytest

    from amazonredshift_blueprints_spark.functions.copy_unload import parse_copy
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    p = tmp_path / "t.csv"
    p.write_text(
        "1,31/01/2024,10.5,hi\n"
        "2,29/02/2024,NUL,\n"      # NUL -> null price; empty -> null tag
        "3,15/03/2024,7.25,yo\n"
    )
    _clean_stale_location(spark, "t_opts", None)
    spark.sql("DROP TABLE IF EXISTS t_opts")
    spark.sql(
        "CREATE TABLE t_opts (k BIGINT, d DATE, v DOUBLE, tag STRING) "
        "USING parquet"
    )
    execute_sql(
        spark,
        f"COPY t_opts FROM '{p}' CSV NULL AS 'NUL' EMPTYASNULL "
        "DATEFORMAT 'DD/MM/YYYY'",
    )
    got = {r.k: (str(r.d), r.v, r.tag) for r in spark.table("t_opts").collect()}
    assert got == {
        1: ("2024-01-31", 10.5, "hi"),
        2: ("2024-02-29", None, None),
        3: ("2024-03-15", 7.25, "yo"),
    }
    # declared schema + MAXERROR 0 (default): a bad value FAILS the load
    bad = tmp_path / "bad.csv"
    bad.write_text("1,31/01/2024,notanumber,hi\n")
    with pytest.raises(Exception):
        execute_sql(
            spark,
            f"COPY t_opts FROM '{bad}' CSV DATEFORMAT 'DD/MM/YYYY'",
        )
    # epoch TIMEFORMAT (r14): timestamp columns arrive as epoch
    # integers, read as BIGINT and cast after parse; DATEFORMAT epoch
    # refuses (Redshift's own rule), and a missing target table
    # refuses (the declared schema is what names the timestamp cols)
    s_ep = parse_copy("COPY t FROM '/x' CSV TIMEFORMAT 'epochsecs'")
    assert s_ep.time_epoch == "secs"
    assert "timestampFormat" not in s_ep.csv_options
    with pytest.raises(ValueError, match="TIMEFORMAT only"):
        parse_copy("COPY t FROM '/x' CSV DATEFORMAT 'epochsecs'")
    ep = tmp_path / "ep.csv"
    ep.write_text("1,1700000000,a\n2,1700003600,b\n")
    _clean_stale_location(spark, "t_epoch", None)
    spark.sql("DROP TABLE IF EXISTS t_epoch")
    spark.sql(
        "CREATE TABLE t_epoch (k BIGINT, ts TIMESTAMP, tag STRING) "
        "USING parquet"
    )
    execute_sql(spark, f"COPY t_epoch FROM '{ep}' CSV TIMEFORMAT 'epochsecs'")
    got_ep = {
        r.k: str(r.ts) for r in spark.table("t_epoch").collect()
    }
    assert got_ep == {
        1: "2023-11-14 22:13:20",
        2: "2023-11-14 23:13:20",
    }
    spark.sql("DROP TABLE t_epoch")
    spark.sql("DROP TABLE IF EXISTS t_epoch_missing")
    with pytest.raises(ValueError, match="declared target table"):
        execute_sql(
            spark,
            f"COPY t_epoch_missing FROM '{ep}' CSV TIMEFORMAT 'epochmillisecs'",
        )
    with pytest.raises(ValueError, match="unrecognized format"):
        parse_copy("COPY t FROM '/x' CSV DATEFORMAT 'QQQX'")
    with pytest.raises(ValueError, match="text-load options"):
        parse_copy("COPY t FROM '/x' FIXEDWIDTH 'a:3' NULL AS 'x'")
    s = parse_copy(
        "COPY t FROM '/x' CSV REMOVEQUOTES TRUNCATECOLUMNS "
        "ACCEPTINVCHARS '?' STATUPDATE ON COMPUPDATE OFF BLANKSASNULL"
    )
    assert s.csv_options["nullValue"] == ""
    assert s.csv_options["ignoreTrailingWhiteSpace"] == "true"
    # explicit NULL AS wins over EMPTYASNULL
    s2 = parse_copy("COPY t FROM '/x' CSV EMPTYASNULL NULL AS 'NA'")
    assert s2.csv_options["nullValue"] == "NA"
    spark.sql("DROP TABLE IF EXISTS t_opts")


def test_fixedwidth_guard_survives_column_pruning(spark, tmp_path):
    """r11 advisor: the over-long-row guard used to live in the FIRST
    column's expression, so selecting any other column pruned the
    validation away. It is a filter now — projecting only the LAST
    column must still fail on a layout-violating row."""
    import pytest

    from amazonredshift_blueprints_spark.ingest import read_fixedwidth

    bad = tmp_path / "fw_long2.txt"
    bad.write_text("1  alpha   42  EXTRA\n")
    df = read_fixedwidth(spark, str(bad), "id:3,name:8,qty:4")
    with pytest.raises(Exception, match="layout is 15 chars"):
        df.select("qty").collect()  # first column projected away


def test_copy_json_declared_schema_failfast(spark, tmp_path):
    """r11 advisor (medium): a JSON COPY into an existing typed table
    is MAXERROR-0 strict like CSV — one type-mismatched value fails
    the load instead of silently loading NULL; a clean file loads."""
    import pytest

    from amazonredshift_blueprints_spark.ingest import (
        _clean_stale_location,
        ingest_files,
    )

    good = tmp_path / "good.json"
    good.write_text('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
    bad = tmp_path / "bad.json"
    bad.write_text('{"k": "not_an_int", "v": "c"}\n')
    _clean_stale_location(spark, "t_json_strict", None)
    spark.sql("DROP TABLE IF EXISTS t_json_strict")
    spark.sql("CREATE TABLE t_json_strict (k BIGINT, v STRING) USING parquet")
    n = ingest_files(spark, str(good), "t_json_strict", format="json")
    assert n == 2
    with pytest.raises(Exception):
        ingest_files(spark, str(bad), "t_json_strict", format="json")
    # the failed load must not have appended the NULLed row
    assert spark.table("t_json_strict").count() == 2
    assert spark.table("t_json_strict").filter("k IS NULL").count() == 0
    spark.sql("DROP TABLE IF EXISTS t_json_strict")


def test_unload_addquotes_null_escape_gzip(spark, tmp_path):
    """UNLOAD text-shaping options: ADDQUOTES quotes every field,
    NULL AS writes the marker, GZIP actually compresses the output
    (a COPY-side GZIP is a reader no-op, but an unloading user's
    downstream expects .gz), and the COPY round-trip restores the
    rows (REMOVEQUOTES/NULL AS on the way back in)."""
    import gzip
    import os

    from amazonredshift_blueprints_spark.functions.copy_unload import (
        execute_unload,
        parse_unload,
    )
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    spark.sql("DROP TABLE IF EXISTS t_unl_src")
    _clean_stale_location(spark, "t_unl_src", None)
    spark.sql(
        "CREATE TABLE t_unl_src USING parquet AS "
        "SELECT * FROM VALUES (1, 'a|b', CAST(NULL AS STRING)), "
        "(2, 'plain', 'x') AS t(k, s, maybe)"
    )
    out = str(tmp_path / "unl.csv")
    spec = parse_unload(
        f"UNLOAD ('SELECT k, s, maybe FROM t_unl_src ORDER BY k') "
        f"TO '{out}' CSV DELIMITER '|' ADDQUOTES NULL AS '\\N' "
        f"HEADER PARALLEL OFF"
    )
    assert spec.quote_all and spec.null_as == "\\N" and spec.single_file
    n = execute_unload(spark, spec)
    assert n == 2
    text = open(out).read()
    assert '"a|b"' in text       # ADDQUOTES protects the delimiter
    assert "\\N" in text          # NULL marker written
    assert text.splitlines()[0].replace('"', "") == "k|s|maybe"
    # GZIP: the part file must really be gzip-compressed
    gz = str(tmp_path / "unl_gz")
    execute_sql(
        spark,
        f"UNLOAD ('SELECT k, s FROM t_unl_src') TO '{gz}' CSV GZIP",
    )
    parts = [f for f in os.listdir(gz) if f.startswith("part-")]
    assert parts and all(f.endswith(".csv.gz") for f in parts), parts
    with gzip.open(os.path.join(gz, parts[0])) as fh:
        fh.read(10)  # raises if not actually gzip
    # round-trip: quoted+marker file loads back with nulls restored
    spark.sql("DROP TABLE IF EXISTS t_unl_back")
    _clean_stale_location(spark, "t_unl_back", None)
    execute_sql(
        spark,
        f"COPY t_unl_back FROM '{out}' CSV DELIMITER '|' "
        "IGNOREHEADER 1 NULL AS '\\N'",
    )
    got = {(r.k, r.s, r.maybe) for r in spark.table("t_unl_back").collect()}
    assert got == {(1, "a|b", None), (2, "plain", "x")}
    spark.sql("DROP TABLE IF EXISTS t_unl_src")
    spark.sql("DROP TABLE IF EXISTS t_unl_back")
