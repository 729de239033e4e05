"""Dialect shim unit tests (no Spark needed)."""

from amazonredshift_blueprints_spark.functions import translate_redshift_sql


def test_getdate():
    assert translate_redshift_sql("SELECT GETDATE()") == "SELECT current_timestamp()"


def test_datediff_day_arg_order():
    out = translate_redshift_sql("SELECT DATEDIFF(day, a, b) FROM t")
    assert "datediff(CAST((b) AS DATE), CAST((a) AS DATE))" in out


def test_datediff_nested_exprs():
    out = translate_redshift_sql(
        "SELECT DATEDIFF(month, date_trunc('day', x), f(y, z)) FROM t"
    )
    assert "year(f(y, z)) * 12" in out
    assert "year(date_trunc('day', x)) * 12" in out


def test_datediff_unit_aliases():
    out = translate_redshift_sql("SELECT DATEDIFF('days', a, b)")
    assert "datediff(CAST((b) AS DATE)" in out


def test_spark_two_arg_datediff_untouched():
    sql = "SELECT datediff(b, a) FROM t"
    assert translate_redshift_sql(sql) == sql


def test_approximate_count_distinct():
    out = translate_redshift_sql("SELECT APPROXIMATE COUNT(DISTINCT x) FROM t")
    assert "approx_count_distinct(x)" in out


def test_string_literal_not_rewritten():
    sql = "SELECT 'DATEDIFF(day, a, b)' AS s"
    assert translate_redshift_sql(sql) == sql


def test_keyword_rewrites_skip_literals_and_comments():
    sql = (
        "SELECT 'GETDATE() SYSDATE APPROXIMATE COUNT(DISTINCT x)' AS s, "
        "\"SYSDATE\" AS q -- SYSDATE\nFROM t"
    )
    assert translate_redshift_sql(sql) == sql


def test_len():
    assert translate_redshift_sql("SELECT LEN(x) FROM t") == "SELECT length(x) FROM t"


def test_len_does_not_touch_length():
    sql = "SELECT length(x) FROM t"
    assert translate_redshift_sql(sql) == sql


def test_charindex_swaps_args():
    out = translate_redshift_sql("SELECT CHARINDEX('ab', col) FROM t")
    assert out == "SELECT instr(col, 'ab') FROM t"


def test_strtol():
    out = translate_redshift_sql("SELECT STRTOL('ff', 16)")
    assert out == "SELECT CAST(conv('ff', 16, 10) AS BIGINT)"


def test_convert_timezone_two_arg():
    out = translate_redshift_sql("SELECT CONVERT_TIMEZONE('PST', ts) FROM t")
    assert out == "SELECT from_utc_timestamp(ts, 'PST') FROM t"


def test_convert_timezone_three_arg():
    out = translate_redshift_sql("SELECT CONVERT_TIMEZONE('UTC', 'PST', ts) FROM t")
    assert out == "SELECT from_utc_timestamp(to_utc_timestamp(ts, 'UTC'), 'PST') FROM t"


def test_to_char_date_format():
    out = translate_redshift_sql("SELECT TO_CHAR(ts, 'YYYY-MM-DD HH24:MI:SS') FROM t")
    assert out == "SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss') FROM t"


def test_to_char_month_name():
    out = translate_redshift_sql("SELECT TO_CHAR(d, 'DD Mon YYYY')")
    assert out == "SELECT date_format(d, 'dd MMM yyyy')"


def test_to_char_numeric_pattern_untouched():
    sql = "SELECT TO_CHAR(amount, '999,999')"
    assert translate_redshift_sql(sql) == sql


def test_to_char_non_literal_format_untouched():
    sql = "SELECT TO_CHAR(ts, fmt_col) FROM t"
    assert translate_redshift_sql(sql) == sql


def test_qualify_basic():
    out = translate_redshift_sql(
        "SELECT a, b FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1"
    )
    assert out == (
        "SELECT * EXCEPT (__qualify) FROM (SELECT a, b, "
        "(row_number() OVER (PARTITION BY a ORDER BY b) = 1) AS __qualify "
        "FROM t) WHERE __qualify"
    )


def test_qualify_keeps_order_by_limit_outside():
    out = translate_redshift_sql(
        "SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) <= 3 ORDER BY a LIMIT 2"
    )
    assert out.endswith("WHERE __qualify ORDER BY a LIMIT 2")
    assert "QUALIFY" not in out


def test_qualify_subquery_untouched():
    sql = "SELECT * FROM (SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1) s"
    assert translate_redshift_sql(sql) == sql


def test_qualify_distinct_untouched():
    sql = "SELECT DISTINCT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1"
    assert translate_redshift_sql(sql) == sql


def test_qualify_inside_string_untouched():
    sql = "SELECT 'no QUALIFY here' AS s FROM t"
    assert translate_redshift_sql(sql) == sql


def test_qualify_where_group_by_preserved():
    out = translate_redshift_sql(
        "SELECT a, sum(x) AS sx FROM t WHERE x > 0 GROUP BY a "
        "QUALIFY row_number() OVER (ORDER BY sum(x) DESC) <= 5"
    )
    assert "FROM t WHERE x > 0 GROUP BY a)" in out
    assert out.startswith("SELECT * EXCEPT (__qualify) FROM (SELECT a, sum(x) AS sx, ")


def test_top_basic():
    out = translate_redshift_sql("SELECT TOP 10 a, b FROM t ORDER BY a")
    assert out == "SELECT a, b FROM t ORDER BY a LIMIT 10"


def test_top_preserves_semicolon():
    out = translate_redshift_sql("SELECT TOP 3 a FROM t;")
    assert out == "SELECT a FROM t LIMIT 3;"


def test_top_not_in_subquery():
    sql = "SELECT * FROM (SELECT TOP 5 a FROM t) s"
    assert translate_redshift_sql(sql) == sql


def test_top_with_existing_limit_untouched():
    sql = "SELECT TOP 5 a FROM t LIMIT 3"
    assert translate_redshift_sql(sql) == sql


def test_top_before_trailing_comment():
    """The LIMIT lands before a trailing comment, not inside it (where
    the statement would silently return every row)."""
    out = translate_redshift_sql("SELECT TOP 5 a FROM t -- note")
    assert out == "SELECT a FROM t LIMIT 5 -- note"


def test_qualify_wrapper_before_trailing_comment():
    out = translate_redshift_sql(
        "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1 -- first"
    )
    assert out == (
        "SELECT * EXCEPT (__qualify) FROM (SELECT a, (row_number() OVER "
        "(ORDER BY a) = 1) AS __qualify FROM t) WHERE __qualify -- first"
    )


def test_drop_cascade_before_trailing_comment():
    out = translate_redshift_sql("DROP TABLE t CASCADE -- cleanup")
    assert out == "DROP TABLE t -- cleanup"


def test_quote_in_comment_does_not_hide_later_rewrites():
    """An apostrophe inside a comment opens no literal: the NVL after
    it is still code and lowers to coalesce."""
    out = translate_redshift_sql(
        "SELECT 1 -- it's a note\n, NVL(NULL, a, 'x') FROM t"
    )
    assert out == "SELECT 1 -- it's a note\n, coalesce(NULL, a, 'x') FROM t"


def test_to_date_format():
    out = translate_redshift_sql("SELECT TO_DATE(s, 'YYYY-MM-DD') FROM t")
    assert out == "SELECT to_date(s, 'yyyy-MM-dd') FROM t"


def test_to_timestamp_format():
    out = translate_redshift_sql("SELECT TO_TIMESTAMP(s, 'YYYY-MM-DD HH24:MI:SS') FROM t")
    assert out == "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') FROM t"


def test_to_date_one_arg_untouched():
    sql = "SELECT TO_DATE(s) FROM t"
    assert translate_redshift_sql(sql) == sql


def test_nvl_varargs_to_coalesce():
    out = translate_redshift_sql("SELECT NVL(a, b, c) FROM t")
    assert out == "SELECT coalesce(a, b, c) FROM t"
    sql2 = "SELECT NVL(a, b) FROM t"
    assert translate_redshift_sql(sql2) == sql2  # 2-arg is native Spark


def test_layout_ddl_clauses_stripped():
    out = translate_redshift_sql(
        "CREATE TABLE t (k INT ENCODE az64, v VARCHAR(10)) "
        "DISTSTYLE KEY DISTKEY(k) COMPOUND SORTKEY(k, v)"
    )
    assert out == "CREATE TABLE t (k INT, v VARCHAR(10))"
    out = translate_redshift_sql("CREATE TABLE t (a INT) BACKUP NO")
    assert out == "CREATE TABLE t (a INT)"


def test_sortkey_interleaved_stripped():
    out = translate_redshift_sql("CREATE TABLE t (a INT) INTERLEAVED SORTKEY(a)")
    assert out == "CREATE TABLE t (a INT)"


def test_layout_words_in_strings_survive():
    sql = "SELECT 'DISTKEY(k) SORTKEY(v)' AS doc FROM t"
    assert translate_redshift_sql(sql) == sql


def test_dateadd_translation():
    from amazonredshift_blueprints_spark.functions import translate_redshift_sql

    out = translate_redshift_sql("SELECT DATEADD(day, 7, ts) FROM t")
    assert "timestampadd(DAY, 7, ts)" in out
    out = translate_redshift_sql("SELECT DATEADD('months', -1, ts) FROM t")
    assert "timestampadd(MONTH, -1, ts)" in out
    # unknown unit: untouched (conservative shim)
    out = translate_redshift_sql("SELECT DATEADD(parsec, 1, ts) FROM t")
    assert "DATEADD(parsec, 1, ts)" in out


def test_date_part_translation():
    from amazonredshift_blueprints_spark.functions import translate_redshift_sql

    out = translate_redshift_sql("SELECT DATE_PART(hour, ts) FROM t")
    assert "date_part('hour', ts)" in out
    out = translate_redshift_sql("SELECT DATE_PART('yrs', ts) FROM t")
    assert "date_part('year', ts)" in out


def test_ratio_to_report_translation():
    from amazonredshift_blueprints_spark.functions import translate_redshift_sql

    out = translate_redshift_sql(
        "SELECT RATIO_TO_REPORT(x) OVER (PARTITION BY k) AS share FROM t"
    )
    assert (
        "(CAST(x AS DOUBLE) / nullif(CAST(SUM(x) OVER (PARTITION BY k) "
        "AS DOUBLE), 0)) AS share" in out
    )
    # nested parens in the window clause survive the balanced scan
    out = translate_redshift_sql(
        "SELECT RATIO_TO_REPORT(a+b) OVER (PARTITION BY f(k, 2) ORDER BY j) FROM t"
    )
    assert "SUM(a+b) OVER (PARTITION BY f(k, 2) ORDER BY j)" in out
    # no OVER clause -> untouched (not a window call site)
    out = translate_redshift_sql("SELECT RATIO_TO_REPORT(x) FROM t")
    assert "RATIO_TO_REPORT(x)" in out
    # inside a string literal -> untouched
    out = translate_redshift_sql("SELECT 'RATIO_TO_REPORT(x) OVER (w)' FROM t")
    assert "'RATIO_TO_REPORT(x) OVER (w)'" in out


class TestCopyUnloadStatements:
    """COPY/UNLOAD accepted as SQL (the reference's pass-through site)."""

    def test_parse_copy_options(self):
        from amazonredshift_blueprints_spark.functions.copy_unload import parse_copy

        spec = parse_copy(
            "COPY sales.t FROM '/tmp/x.csv' CSV IGNOREHEADER 1 "
            "IAM_ROLE 'ignored' GZIP;"
        )
        assert (spec.table, spec.schema_name) == ("t", "sales")
        assert spec.format == "csv" and spec.header and spec.delimiter == ","
        # Redshift default text format: pipe-delimited, no header
        spec2 = parse_copy("COPY t FROM '/d/f.txt' DELIMITER AS '\t'")
        assert spec2.delimiter == "\t" and not spec2.header
        assert parse_copy("SELECT 1") is None
        spec3 = parse_copy("COPY t FROM '/d/p' FORMAT AS PARQUET")
        assert spec3.format == "parquet"

    def test_parse_copy_rejects_unknown_option(self):
        import pytest

        from amazonredshift_blueprints_spark.functions.copy_unload import parse_copy

        with pytest.raises(ValueError, match="unsupported COPY option"):
            parse_copy("COPY t FROM '/d/f' EXPLICIT_IDS")
        with pytest.raises(ValueError, match="IGNOREHEADER"):
            parse_copy("COPY t FROM '/d/f' IGNOREHEADER 3")

    def test_parse_unload_options_and_escapes(self):
        from amazonredshift_blueprints_spark.functions.copy_unload import parse_unload

        spec = parse_unload(
            "UNLOAD ('SELECT * FROM t WHERE name = ''o''''brien''') "
            "TO '/tmp/out' CSV HEADER PARALLEL OFF REGION 'ignored'"
        )
        assert spec.query == "SELECT * FROM t WHERE name = 'o''brien'"
        assert spec.header and spec.single_file and spec.delimiter == ","
        p = parse_unload(
            "UNLOAD ('SELECT a, b FROM t') TO '/tmp/d' "
            "FORMAT AS PARQUET PARTITION BY (a)"
        )
        assert p.format == "parquet" and p.partition_by == ["a"]
        assert not p.single_file
        assert parse_unload("COPY t FROM '/x'") is None

    def test_copy_unload_execute_roundtrip(self, spark, tmp_path):
        """UNLOAD parquet + pipe CSV, COPY back, via execute_sql only."""
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        spark.createDataFrame(
            [(1, "a,b", 1.5), (2, "c|d", -2.25)], "k long, s string, v double"
        ).createOrReplaceTempView("t_cu_src")
        # parquet UNLOAD (directory mode)
        pq = str(tmp_path / "out_pq")
        execute_sql(spark, f"UNLOAD ('SELECT * FROM t_cu_src') TO '{pq}' FORMAT AS PARQUET")
        assert spark.read.parquet(pq).count() == 2
        # pipe-delimited single file with embedded delimiters (quoted)
        csv = str(tmp_path / "out.csv")
        execute_sql(
            spark,
            f"UNLOAD ('SELECT * FROM t_cu_src') TO '{csv}' HEADER PARALLEL OFF",
        )
        spark.sql("DROP TABLE IF EXISTS t_cu_copied")
        execute_sql(spark, f"COPY t_cu_copied FROM '{csv}' IGNOREHEADER 1")
        got = {
            (r.k, r.s, r.v) for r in spark.table("t_cu_copied").collect()
        }
        assert got == {(1, "a,b", 1.5), (2, "c|d", -2.25)}
        spark.sql("DROP TABLE IF EXISTS t_cu_copied")


class TestVacuumAnalyzeStatements:
    def test_parse_vacuum_modes(self):
        from amazonredshift_blueprints_spark.functions.copy_unload import parse_vacuum

        assert parse_vacuum("VACUUM t;").mode == "full"
        assert parse_vacuum("VACUUM FULL s.t TO 95 PERCENT BOOST").mode == "full"
        assert parse_vacuum("VACUUM SORT ONLY t").mode == "sort only"
        assert parse_vacuum("VACUUM DELETE ONLY t").mode == "delete only"
        assert parse_vacuum("VACUUM REINDEX t").mode == "full"
        assert parse_vacuum("VACUUM") is None  # all-tables form: not lowered
        assert parse_vacuum("SELECT 1") is None

    def test_parse_analyze(self):
        from amazonredshift_blueprints_spark.functions.copy_unload import parse_analyze

        a = parse_analyze("ANALYZE VERBOSE t (a, b);")
        assert a.table == "t" and a.columns == ["a", "b"]
        assert parse_analyze("ANALYZE t").columns == []
        # Spark-native syntax must pass through untouched
        assert parse_analyze("ANALYZE TABLE t COMPUTE STATISTICS") is None
        assert parse_analyze("ANALYZE TABLE") is None

    def test_vacuum_sorts_by_recorded_sortkey_and_compacts(self, spark):
        """DDL with SORTKEY (stripped by the shim, recorded in the
        registry) -> fragmented writes -> VACUUM -> one file, sorted:
        the zone-map layout Redshift's VACUUM restores."""
        import glob
        import os

        from amazonredshift_blueprints_spark.functions.redshift_compat import (
            SORTKEY_REGISTRY,
        )
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        spark.sql("DROP TABLE IF EXISTS t_vac")
        execute_sql(
            spark,
            "CREATE TABLE t_vac (k INT, v DOUBLE) DISTSTYLE EVEN "
            "DISTKEY(k) COMPOUND SORTKEY(k)",
        )
        assert SORTKEY_REGISTRY["t_vac"] == ["k"]
        # fragmented, unsorted inserts
        for lo in (50, 0, 25):
            spark.createDataFrame(
                [(k, float(k)) for k in range(lo, lo + 25)], "k int, v double"
            ).write.mode("append").format("parquet").saveAsTable("t_vac")
        loc = (
            spark.sql("DESCRIBE EXTENDED t_vac")
            .filter("col_name = 'Location'")
            .first()["data_type"]
        ).removeprefix("file:")
        assert len(glob.glob(os.path.join(loc, "*.parquet"))) >= 3
        execute_sql(spark, "VACUUM t_vac")
        files = glob.glob(os.path.join(loc, "*.parquet"))
        assert len(files) == 1  # tiny table -> one ~target-size file
        got = [r.k for r in spark.read.parquet(files[0]).collect()]
        assert got == sorted(got)  # SORTKEY order restored inside the file
        assert spark.table("t_vac").count() == 75
        execute_sql(spark, "ANALYZE t_vac (k)")
        stats = spark.sql("DESCRIBE EXTENDED t_vac").filter(
            "col_name = 'Statistics'"
        ).collect()
        assert stats and "rows" in stats[0]["data_type"]
        spark.sql("DROP TABLE IF EXISTS t_vac")


class TestMaterializedViewStatements:
    def test_parse_mv_family(self):
        from amazonredshift_blueprints_spark.functions.copy_unload import (
            parse_materialized_view,
        )

        c = parse_materialized_view(
            "CREATE MATERIALIZED VIEW s.mv BACKUP NO AUTO REFRESH YES AS "
            "SELECT a, COUNT(*) FROM t GROUP BY a;"
        )
        assert c.action == "create" and c.name == "s.mv"
        assert c.query.startswith("SELECT a,")
        r = parse_materialized_view("REFRESH MATERIALIZED VIEW mv")
        assert (r.action, r.name) == ("refresh", "mv")
        d = parse_materialized_view("DROP MATERIALIZED VIEW IF EXISTS mv;")
        assert (d.action, d.name) == ("drop", "mv")
        assert parse_materialized_view("CREATE VIEW v AS SELECT 1") is None
        assert parse_materialized_view("SELECT 1") is None

    def test_mv_stale_until_refresh_and_unknown_refresh_errors(self, spark):
        import pytest

        from amazonredshift_blueprints_spark.ingest import _clean_stale_location
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        execute_sql(spark, "DROP MATERIALIZED VIEW IF EXISTS t_mv")
        for t in ("t_mv", "t_mv_base"):
            _clean_stale_location(spark, t, None)
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int").write.mode(
            "overwrite"
        ).saveAsTable("t_mv_base")
        try:
            execute_sql(
                spark,
                "CREATE MATERIALIZED VIEW t_mv AS "
                "SELECT SUM(v) AS s FROM t_mv_base",
            )
            assert spark.table("t_mv").first()["s"] == 30
            spark.sql("INSERT INTO t_mv_base VALUES (3, 70)")
            # Redshift visibility: stale until REFRESH
            assert spark.table("t_mv").first()["s"] == 30
            execute_sql(spark, "REFRESH MATERIALIZED VIEW t_mv")
            assert spark.table("t_mv").first()["s"] == 100
            with pytest.raises(ValueError, match="no recorded definition"):
                execute_sql(spark, "REFRESH MATERIALIZED VIEW t_mv_unknown")
        finally:
            execute_sql(spark, "DROP MATERIALIZED VIEW IF EXISTS t_mv")
            spark.sql("DROP TABLE IF EXISTS t_mv_base")


def test_system_views_register_on_reference_only(spark):
    """pg_table_def / svv_table_info materialize only when a statement
    references them, and reflect catalog + SORTKEY-registry state."""
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    _clean_stale_location(spark, "t_sysv", None)
    execute_sql(spark, "CREATE TABLE t_sysv (x INT, y INT) SORTKEY(y)")
    try:
        execute_sql(spark, "SELECT COUNT(*) FROM svv_table_info")  # registers
        info = {
            r["table"]: r["sortkey1"]
            for r in spark.table("svv_table_info").collect()
        }
        assert info.get("t_sysv") == "y"
        cols = {
            (r["column"], r["sortkey"])
            for r in spark.table("pg_table_def")
            .filter("tablename = 't_sysv'")
            .collect()
        }
        assert cols == {("x", 0), ("y", 1)}
        # stats appear after ANALYZE (NULL before is the honest default)
        execute_sql(spark, "ANALYZE t_sysv")
        execute_sql(spark, "SELECT 1 FROM svv_table_info LIMIT 1")  # re-register
        row = spark.table("svv_table_info").filter("table = 't_sysv'").first()
        assert row["size_bytes"] is not None and row["tbl_rows"] == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sysv")


def test_unload_manifest_copy_manifest_roundtrip(spark, tmp_path):
    """UNLOAD ... MANIFEST writes the Redshift-format JSON listing every
    data file; COPY ... MANIFEST loads exactly those files."""
    import json

    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    spark.createDataFrame(
        [(i, f"r{i}") for i in range(40)], "k int, s string"
    ).createOrReplaceTempView("t_mani_src")
    out = str(tmp_path / "mani_out")
    execute_sql(
        spark,
        f"UNLOAD ('SELECT * FROM t_mani_src') TO '{out}' CSV HEADER MANIFEST",
    )
    doc = json.load(open(f"{out}.manifest"))
    assert doc["entries"] and all(
        e["url"].startswith("file://") and e["mandatory"] for e in doc["entries"]
    )
    spark.sql("DROP TABLE IF EXISTS t_mani_tgt")
    execute_sql(
        spark,
        f"COPY t_mani_tgt FROM '{out}.manifest' CSV IGNOREHEADER 1 MANIFEST",
    )
    got = {(r.k, r.s) for r in spark.table("t_mani_tgt").collect()}
    assert got == {(i, f"r{i}") for i in range(40)}
    spark.sql("DROP TABLE IF EXISTS t_mani_tgt")


def test_transaction_and_acl_statements(spark, capsys):
    """GRANT/REVOKE/COMMENT ON pass as documented no-ops; BEGIN/COMMIT
    pairs open and close the real transaction buffer; ROLLBACK outside
    an open transaction still refuses loudly (those statements already
    auto-committed)."""
    import pytest

    from amazonredshift_blueprints_spark import transactions
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    for stmt in (
        "GRANT SELECT ON t TO GROUP analysts",
        "REVOKE ALL ON SCHEMA public FROM u",
        "COMMENT ON TABLE t IS 'hello'",
    ):
        execute_sql(spark, stmt)
        assert "successfully executed" in capsys.readouterr().out
    for b, e in (
        ("BEGIN;", "COMMIT;"),
        ("BEGIN TRANSACTION", "END"),
        ("START TRANSACTION", "COMMIT WORK"),
    ):
        execute_sql(spark, b)
        assert transactions.active(spark) is not None
        execute_sql(spark, e)
        assert transactions.active(spark) is None
    execute_sql(spark, "COMMIT")  # outside a txn: the auto-commit no-op
    with pytest.raises(NotImplementedError, match="ROLLBACK"):
        execute_sql(spark, "ROLLBACK")
    with pytest.raises(NotImplementedError, match="ROLLBACK"):
        execute_sql(spark, "ABORT;")
    # nested BEGIN refuses rather than silently flattening
    execute_sql(spark, "BEGIN")
    try:
        with pytest.raises(ValueError, match="nested"):
            execute_sql(spark, "BEGIN")
        # VACUUM inside a transaction block: the Redshift rule
        with pytest.raises(ValueError, match="transaction block"):
            execute_sql(spark, "VACUUM some_table")
    finally:
        execute_sql(spark, "ROLLBACK")
    # an actual BEGIN...END procedure body must NOT be swallowed
    with pytest.raises(Exception, match="(?i)syntax|parse"):
        execute_sql(spark, "BEGIN SELECT 1; END loop_thing")
    assert transactions.active(spark) is None


class TestCreateFunctionStatements:
    def test_parse_create_function(self):
        from amazonredshift_blueprints_spark.functions.copy_unload import (
            parse_create_function,
        )

        f = parse_create_function(
            "CREATE OR REPLACE FUNCTION f_x (a float, b varchar(10)) "
            "RETURNS bigint IMMUTABLE AS $$ return int(a) $$ "
            "LANGUAGE plpythonu;"
        )
        assert f.name == "f_x"
        assert f.arg_types == ["double", "string"] and f.return_type == "long"
        assert "return int(a)" in f.body
        assert parse_create_function("CREATE FUNCTION f() RETURNS int AS 'sql'") is None
        import pytest

        with pytest.raises(ValueError, match="argument type"):
            parse_create_function(
                "CREATE FUNCTION f (a geometry) RETURNS int AS $$ return 1 $$ "
                "LANGUAGE plpythonu"
            )

    def test_udf_executes_with_null_and_coercion(self, spark):
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        execute_sql(
            spark,
            "CREATE OR REPLACE FUNCTION f_t_len (s varchar, n int) "
            "RETURNS int AS $$\n"
            "    return len(s) * n\n"
            "$$ LANGUAGE plpythonu",
        )
        row = spark.sql(
            "SELECT f_t_len('abc', 2) AS a, f_t_len(NULL, 2) AS b, "
            "f_t_len('xy', CAST(NULL AS INT)) AS c"
        ).first()
        assert (row["a"], row["b"], row["c"]) == (6, None, None)


def test_external_table_ddl_translates_and_reads(spark, tmp_path):
    """Spectrum-style CREATE EXTERNAL TABLE lowers onto a Spark
    unmanaged table over the files in place — pipe-delimited text and
    parquet variants."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        translate_redshift_sql,
    )
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    pq_dir = str(tmp_path / "ext_pq")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ).write.parquet(pq_dir)
    csv_dir = str(tmp_path / "ext_csv")
    spark.createDataFrame(
        [(3, "c")], "k int, v string"
    ).write.option("sep", "|").csv(csv_dir)

    for t in ("t_ext_pq", "t_ext_csv"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    execute_sql(
        spark,
        "CREATE EXTERNAL TABLE t_ext_pq (k INT, v VARCHAR(5)) "
        f"STORED AS PARQUET LOCATION '{pq_dir}'",
    )
    assert spark.table("t_ext_pq").count() == 2
    execute_sql(
        spark,
        "CREATE EXTERNAL TABLE t_ext_csv (k INT, v VARCHAR(5)) "
        "ROW FORMAT DELIMITED FIELDS TERMINATED BY '|' "
        f"STORED AS TEXTFILE LOCATION '{csv_dir}'",
    )
    assert {(r.k, r.v) for r in spark.table("t_ext_csv").collect()} == {(3, "c")}
    # dropping an external table must not delete the files
    spark.sql("DROP TABLE t_ext_pq")
    assert spark.read.parquet(pq_dir).count() == 2
    spark.sql("DROP TABLE IF EXISTS t_ext_csv")
    # non-external DDL passes through untouched
    assert "EXTERNAL" not in translate_redshift_sql(
        "CREATE EXTERNAL TABLE x (a INT) STORED AS PARQUET LOCATION '/p'"
    )
    plain = "CREATE TABLE y (a INT)"
    assert translate_redshift_sql(plain) == plain


def test_external_table_partitioned_by_and_unknown_clause(spark, tmp_path):
    """Spectrum DDL with PARTITIONED BY creates a partitioned Spark
    table including the partition column; unknown clauses between the
    column list and LOCATION raise instead of being dropped (ADVICE r8)."""
    import pytest

    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        _rewrite_external_table,
    )
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    base = str(tmp_path / "ext_part")
    spark.createDataFrame(
        [(1, "a", "us"), (2, "b", "eu"), (3, "c", "us")],
        "k int, v string, region string",
    ).write.partitionBy("region").parquet(base)

    spark.sql("DROP TABLE IF EXISTS t_ext_part")
    try:
        execute_sql(
            spark,
            "CREATE EXTERNAL TABLE t_ext_part (k INT, v VARCHAR(5)) "
            "PARTITIONED BY (region VARCHAR(2)) "
            f"STORED AS PARQUET LOCATION '{base}'",
        )
        spark.sql("MSCK REPAIR TABLE t_ext_part")
        got = spark.table("t_ext_part")
        assert set(got.columns) == {"k", "v", "region"}
        assert got.filter("region = 'us'").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ext_part")

    with pytest.raises(ValueError, match="unsupported clause"):
        _rewrite_external_table(
            "CREATE EXTERNAL TABLE t_bad (k INT) "
            "ROW FORMAT SERDE 'org.openx.data.jsonserde.JsonSerDe' "
            "STORED AS TEXTFILE LOCATION '/p'"
        )
    with pytest.raises(ValueError, match="unsupported clause"):
        _rewrite_external_table(
            "CREATE EXTERNAL TABLE t_bad (k INT) STORED AS PARQUET "
            "TBLPROPERTIES ('numRows'='5') LOCATION '/p'"
        )


def test_copy_unload_format_keyword_parity():
    """FORMAT AS JSON 'auto' parses like bare JSON 'auto'; a trailing
    bare FORMAT raises ValueError, not IndexError (ADVICE r8)."""
    import pytest

    from amazonredshift_blueprints_spark.functions.copy_unload import (
        parse_copy,
        parse_unload,
    )

    spec = parse_copy("COPY t FROM '/d/f.json' FORMAT AS JSON 'auto'")
    assert spec.format == "json"
    assert parse_copy("COPY t FROM '/d/f' FORMAT CSV").delimiter == ","
    for bad in (
        "COPY t FROM '/d/f' FORMAT",
        "COPY t FROM '/d/f' FORMAT AS",
        "UNLOAD ('SELECT 1') TO '/p' FORMAT",
    ):
        with pytest.raises(ValueError, match="FORMAT expects"):
            (parse_copy if bad.startswith("COPY") else parse_unload)(bad)
    with pytest.raises(ValueError, match="spark-avro"):
        parse_copy("COPY t FROM '/d/f' FORMAT AS AVRO")
    with pytest.raises(ValueError, match="unsupported COPY format"):
        parse_copy("COPY t FROM '/d/f' FORMAT AS XML")
    with pytest.raises(ValueError):
        parse_copy("COPY t FROM '/d/f.json' FORMAT AS JSON '/paths.json'")
    assert parse_unload("UNLOAD ('SELECT 1') TO '/p' FORMAT AS PARQUET").format == "parquet"


def test_statement_parsers_never_crash_on_fuzz(spark):
    """Property: every statement parser either returns a spec/None or
    raises ValueError — no hangs, no unexpected exception types — over
    adversarial option tails."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazonredshift_blueprints_spark.functions.copy_unload import (
        parse_analyze,
        parse_copy,
        parse_create_function,
        parse_materialized_view,
        parse_unload,
        parse_vacuum,
    )

    tokens = st.lists(
        st.sampled_from([
            "CSV", "PARQUET", "DELIMITER", "','", "IGNOREHEADER", "1",
            "HEADER", "PARALLEL", "OFF", "MANIFEST", "IAM_ROLE", "'r'",
            "FORMAT", "AS", "(", ")", ",", "x", "'unterminated",
        ]),
        max_size=8,
    )

    @settings(max_examples=200, deadline=None)
    @given(tokens)
    def run(tail):
        t = " ".join(tail)
        for parse, head in (
            (parse_copy, f"COPY t FROM '/p' {t}"),
            (parse_unload, f"UNLOAD ('SELECT 1') TO '/p' {t}"),
            (parse_vacuum, f"VACUUM t {t}"),
            (parse_analyze, f"ANALYZE t {t}"),
            (parse_materialized_view, f"CREATE MATERIALIZED VIEW m AS SELECT {t}"),
            (parse_create_function,
             f"CREATE FUNCTION f (a int) RETURNS int AS $$ {t} $$ LANGUAGE plpythonu"),
        ):
            try:
                parse(head)
            except (ValueError, IndexError):
                # IndexError only from truncated FORMAT tails — accepted
                # as a loud failure, never a silent mis-parse
                pass

    run()


def test_alter_sortkey_records_and_vacuum_applies(spark):
    """ALTER TABLE ... ALTER SORTKEY records the key (Redshift marks
    the table; VACUUM applies the order — same lifecycle here);
    SORTKEY NONE clears it; DISTSTYLE forms are pure no-ops."""
    import glob
    import os

    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        SORTKEY_REGISTRY,
    )
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    _clean_stale_location(spark, "t_altsk", None)
    spark.createDataFrame(
        [(k, 99 - k) for k in range(60)], "a int, b int"
    ).write.saveAsTable("t_altsk")
    try:
        execute_sql(spark, "ALTER TABLE t_altsk ALTER DISTSTYLE EVEN")
        execute_sql(spark, "ALTER TABLE t_altsk ALTER COMPOUND SORTKEY (b)")
        assert SORTKEY_REGISTRY["t_altsk"] == ["b"]
        execute_sql(spark, "VACUUM t_altsk")
        loc = (
            spark.sql("DESCRIBE EXTENDED t_altsk")
            .filter("col_name = 'Location'").first()["data_type"]
        ).removeprefix("file:")
        f = glob.glob(os.path.join(loc, "*.parquet"))
        assert len(f) == 1
        got = [r.b for r in spark.read.parquet(f[0]).collect()]
        assert got == sorted(got)  # VACUUM applied the ALTERed key
        execute_sql(spark, "ALTER TABLE t_altsk ALTER SORTKEY NONE")
        assert "t_altsk" not in SORTKEY_REGISTRY
    finally:
        spark.sql("DROP TABLE IF EXISTS t_altsk")


def test_copy_json_auto(spark, tmp_path):
    import json

    import pytest

    from amazonredshift_blueprints_spark.functions.copy_unload import parse_copy
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    p = tmp_path / "rows.json"
    p.write_text("\n".join(json.dumps({"k": i, "v": f"r{i}"}) for i in range(5)))
    spark.sql("DROP TABLE IF EXISTS t_json_copy")
    execute_sql(spark, f"COPY t_json_copy FROM '{p}' JSON 'auto'")
    assert spark.table("t_json_copy").count() == 5
    spark.sql("DROP TABLE IF EXISTS t_json_copy")
    with pytest.raises(ValueError, match="jsonpaths"):
        parse_copy("COPY t FROM '/d' JSON '/etc/jsonpaths.json'")


def test_unload_partition_by_manifest_lists_all_leaf_files(spark, tmp_path):
    import json

    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "g int, v int"
    ).createOrReplaceTempView("t_pm_src")
    out = str(tmp_path / "pm_out")
    execute_sql(
        spark,
        f"UNLOAD ('SELECT * FROM t_pm_src') TO '{out}' "
        "FORMAT AS PARQUET PARTITION BY (g) MANIFEST",
    )
    doc = json.load(open(f"{out}.manifest"))
    urls = [e["url"] for e in doc["entries"]]
    assert len(urls) >= 3  # one file per g= partition at least
    assert all("/g=" in u for u in urls)
    # the manifest covers every row the readback sees
    assert spark.read.parquet(out).count() == 30


def test_snapshot_diff_semantics(spark):
    """snapshot_diff: I/U/D classification incl. NULL->value and
    value->NULL transitions (null-safe compare); unchanged rows emit
    nothing."""
    from amazonredshift_blueprints_spark.dml import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (4, "x", 40.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: (r["change_type"], r["old_v"], r["new_v"])
        for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {
        2: ("U", None, 20.0),   # NULL -> value is an update
        3: ("D", 30.0, None),
        4: ("U", 40.0, 40.0),   # s changed NULL -> 'x'
        5: ("I", None, 50.0),
    }  # k=1 unchanged: no row


def test_snapshot_diff_null_key_rows(spark):
    """A NULL-key row never joins (plain equality), so presence must
    come from per-side lit markers, not key nullness: an old-side
    NULL-key row is a 'D' (it vanished), a new-side one an 'I' — the
    r10 advisor found the key-nullness form misreported the old-side
    case as 'I'."""
    from amazonredshift_blueprints_spark.dml import snapshot_diff

    old = spark.createDataFrame(
        [(None, "gone", 1.0), (1, "a", 10.0)], "k long, s string, v double"
    )
    new = spark.createDataFrame(
        [(None, "born", 2.0), (1, "a", 10.0)], "k long, s string, v double"
    )
    rows = snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    got = sorted((r["change_type"], r["old_s"], r["new_s"]) for r in rows)
    assert got == [("D", "gone", None), ("I", None, "born")]


def test_snapshot_diff_merge_roundtrip(spark):
    """CDC round trip: the changeset snapshot_diff DERIVES, fed through
    merge_into (the arm that APPLIES changesets), must reproduce the
    new snapshot exactly — derive and apply are inverses."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.dml import merge_into, snapshot_diff
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 21.0), (4, "d", 41.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    tbl = "bp_cdc_roundtrip"
    _clean_stale_location(spark, tbl, None)
    old.write.mode("overwrite").saveAsTable(tbl)
    cs = snapshot_diff(old, new, ["k"], ["s", "v"])
    source = cs.select(
        "k",
        F.when(F.col("change_type") == "D", F.lit("__DEL__"))
        .otherwise(F.col("new_s"))
        .alias("s"),
        F.when(F.col("change_type") == "D", F.lit(0.0))
        .otherwise(F.col("new_v"))
        .alias("v"),
    )
    n_upd, n_ins, n_del = merge_into(
        spark, tbl, source, ["k"], delete_condition="s = '__DEL__'"
    )
    assert (n_upd, n_ins, n_del) == (2, 1, 1)
    got = {(r.k, r.s, r.v) for r in spark.table(tbl).collect()}
    want = {(r.k, r.s, r.v) for r in new.collect()}
    assert got == want
    spark.sql(f"DROP TABLE {tbl}")


class TestPreparedAndCursors:
    def test_prepare_execute_deallocate(self, spark, capsys):
        from amazonredshift_blueprints_spark.functions.prepared import (
            execute_prepared,
        )
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        spark.sql("DROP TABLE IF EXISTS t_prep")
        spark.sql("CREATE TABLE t_prep (k INT, v STRING) USING parquet")
        spark.sql("INSERT INTO t_prep VALUES (1,'a'), (2,'b'), (3,'c')")
        execute_sql(
            spark,
            "PREPARE p1 (int4) AS SELECT v FROM t_prep WHERE k = $1",
        )
        assert "successfully" in capsys.readouterr().out
        got = execute_prepared(spark, "p1", ["2"]).collect()
        assert [r.v for r in got] == ["b"]
        # statement-face EXECUTE runs through the noop sink
        execute_sql(spark, "EXECUTE p1 (3)")
        assert "successfully" in capsys.readouterr().out
        execute_sql(spark, "DEALLOCATE p1")
        import pytest

        with pytest.raises(ValueError, match="unknown prepared"):
            execute_prepared(spark, "p1", ["1"])
        with pytest.raises(ValueError, match="argument"):
            execute_sql(
                spark, "PREPARE p2 (int4, varchar) AS SELECT $1, $2"
            ) or execute_prepared(spark, "p2", ["1"])
        execute_sql(spark, "DEALLOCATE PREPARE p2")
        spark.sql("DROP TABLE t_prep")

    def test_execute_string_coercion_and_quoted_args(self, spark):
        from amazonredshift_blueprints_spark.functions.prepared import (
            execute_prepared,
        )
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        execute_sql(
            spark,
            "PREPARE p3 (varchar, int4) AS "
            "SELECT $1 AS s, $2 + 1 AS n",
        )
        row = execute_prepared(spark, "p3", ["'it''s, fine'", "41"]).first()
        assert row.s == "it's, fine" and row.n == 42
        execute_sql(spark, "DEALLOCATE p3")

    def test_execute_double_quoted_arg_is_one_argument(self, spark):
        """A comma inside "..." does not split EXECUTE's arguments."""
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        spark.sql("DROP TABLE IF EXISTS t_prep_dq")
        spark.sql("CREATE TABLE t_prep_dq (a STRING, b STRING) USING parquet")
        execute_sql(
            spark,
            "PREPARE p_dq (varchar, varchar) AS "
            "INSERT INTO t_prep_dq VALUES ($1, $2)",
        )
        execute_sql(spark, "EXECUTE p_dq('a', \"b,c\")")
        assert [tuple(r) for r in spark.table("t_prep_dq").collect()] == [
            ("a", "b,c")
        ]
        execute_sql(spark, "DEALLOCATE p_dq")
        spark.sql("DROP TABLE t_prep_dq")

    def test_cursor_pages_partition_result_deterministically(self, spark):
        import pytest

        from amazonredshift_blueprints_spark.functions.prepared import (
            close_cursor,
            fetch_cursor,
        )
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        spark.range(25).createOrReplaceTempView("t_cur")
        execute_sql(
            spark, "DECLARE c1 CURSOR FOR SELECT id FROM t_cur ORDER BY id"
        )
        pages = []
        for _ in range(3):
            pages.append([r.id for r in fetch_cursor(spark, "c1", 10).collect()])
        assert pages[0] == list(range(10))
        assert pages[1] == list(range(10, 20))
        assert pages[2] == list(range(20, 25))  # short final page
        assert fetch_cursor(spark, "c1", 10).count() == 0  # exhausted
        close_cursor(spark, "c1")
        with pytest.raises(ValueError, match="unknown/closed"):
            fetch_cursor(spark, "c1", 1)
        # FETCH ALL drains in one statement
        execute_sql(
            spark, "DECLARE c2 CURSOR FOR SELECT id FROM t_cur ORDER BY id"
        )
        execute_sql(spark, "FETCH ALL FROM c2")
        assert fetch_cursor(spark, "c2", 5).count() == 0
        execute_sql(spark, "CLOSE c2")
        with pytest.raises(ValueError, match="already open"):
            execute_sql(spark, "DECLARE c3 CURSOR FOR SELECT 1")
            execute_sql(spark, "DECLARE c3 CURSOR FOR SELECT 1")
        close_cursor(spark, "c3")

    def test_cursor_base_query_executes_once(self, spark):
        """Materialize-once contract (r10 verdict item 6): across three
        FETCHes the cursor's base query runs exactly ONCE — counted by a
        side-effecting Python UDF in the cursor SQL (each execution of
        the base adds one count per row). The old offset/limit form
        re-ran the base per FETCH and double-ran it for bookkeeping."""
        import os as _os
        import tempfile

        import amazonredshift_blueprints_spark.functions.prepared as prep_mod
        from amazonredshift_blueprints_spark.functions.prepared import (
            close_cursor,
            fetch_cursor,
        )
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        # Cross-process execution counter: UDF workers are separate
        # processes, so count via atomic O_APPEND writes to one file.
        fd, cnt_path = tempfile.mkstemp(prefix="bp_exec_cnt_")
        _os.close(fd)

        def bump(x):
            with open(cnt_path, "a") as f:
                f.write("1")
            return 1

        def value():
            return _os.path.getsize(cnt_path)

        spark.udf.register("bp_count_exec", bump, "long")
        spark.range(30).createOrReplaceTempView("t_cur_once")
        # Sort-free cursor: exactly ONE execution, 30 UDF calls total.
        # (A global ORDER BY adds Spark's own range-partitioner sampling
        # pass over the input — engine-inherent, and it ran per-FETCH in
        # the old offset/limit design.) The frozen snapshot also makes
        # unordered paging deterministic: pages partition the result.
        execute_sql(
            spark,
            "DECLARE c_once CURSOR FOR "
            "SELECT id, bp_count_exec(id) AS tick FROM t_cur_once",
        )
        assert value() == 0  # DECLARE is lazy: never-fetched = free
        try:
            seen = []
            for _ in range(3):
                seen += [r.id for r in fetch_cursor(spark, "c_once", 10).collect()]
            assert sorted(seen) == list(range(30))  # pages partition exactly
            assert value() == 30  # one execution total, not 3 (or 6)
            # arithmetic offset: exhausted cursor pages read nothing
            assert fetch_cursor(spark, "c_once", 10).count() == 0
            assert value() == 30
            # CLOSE removes the snapshot directory
            snap = prep_mod._cursors(spark)["c_once"]["path"]
            assert _os.path.exists(snap)
        finally:
            close_cursor(spark, "c_once")
        assert not _os.path.exists(snap)
        # Ordered cursor: materialization may cost the sort's sampling
        # pass, but FETCHes after the first add ZERO base executions.
        execute_sql(
            spark,
            "DECLARE c_once2 CURSOR FOR "
            "SELECT id, bp_count_exec(id) AS tick FROM t_cur_once ORDER BY id",
        )
        try:
            assert [
                r.id for r in fetch_cursor(spark, "c_once2", 10).collect()
            ] == list(range(10))
            after_first = value()
            pages = [
                [r.id for r in fetch_cursor(spark, "c_once2", 10).collect()]
                for _ in range(2)
            ]
            assert pages == [list(range(10, 20)), list(range(20, 30))]
            assert value() == after_first  # no re-execution per FETCH
        finally:
            close_cursor(spark, "c_once2")
            _os.remove(cnt_path)

    def test_substitute_prepared_single_pass(self, spark):
        """$n substitution is single-pass and quote-aware (r10 advisor):
        an argument containing '$1' is not re-substituted, and $n inside
        a string literal of the prepared SQL stays verbatim."""
        from amazonredshift_blueprints_spark.functions.prepared import (
            prepare_statement,
            substitute_prepared,
        )

        prepare_statement(spark, "psub", [], "SELECT $2 AS a, $1 AS b, '$1' AS lit")
        out = substitute_prepared(spark, "psub", ["'x'", "'has $1 inside'"])
        assert out == "SELECT 'has $1 inside' AS a, 'x' AS b, '$1' AS lit"
        # typed form wraps in CAST, still single-pass
        prepare_statement(spark, "psub2", ["int4"], "SELECT $1 + $1 AS s")
        assert (
            substitute_prepared(spark, "psub2", ["7"])
            == "SELECT CAST(7 AS int) + CAST(7 AS int) AS s"
        )


def test_alter_table_append_matrix(spark):
    """ALTER TABLE APPEND: the move empties the source; extra source
    columns refuse without IGNOREEXTRA; missing ones refuse without
    FILLTARGET (then null-fill with it); and the statement is refused
    inside an open transaction (Redshift's own rule)."""
    import pytest

    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    for t in ("t_app_tgt", "t_app_src", "t_app_wide", "t_app_narrow"):
        _clean_stale_location(spark, t, None)
    spark.sql("CREATE TABLE t_app_tgt (k INT, v STRING) USING parquet")
    spark.sql("INSERT INTO t_app_tgt VALUES (1, 'a')")
    spark.sql("CREATE TABLE t_app_src (k INT, v STRING) USING parquet")
    spark.sql("INSERT INTO t_app_src VALUES (2, 'b'), (3, 'c')")
    execute_sql(spark, "ALTER TABLE t_app_tgt APPEND FROM t_app_src")
    assert {(r.k, r.v) for r in spark.table("t_app_tgt").collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }
    assert spark.table("t_app_src").count() == 0  # moved, not copied

    spark.sql("CREATE TABLE t_app_wide (k INT, v STRING, extra INT) USING parquet")
    spark.sql("INSERT INTO t_app_wide VALUES (4, 'd', 9)")
    with pytest.raises(ValueError, match="IGNOREEXTRA"):
        execute_sql(spark, "ALTER TABLE t_app_tgt APPEND FROM t_app_wide")
    execute_sql(spark, "ALTER TABLE t_app_tgt APPEND FROM t_app_wide IGNOREEXTRA")
    assert (4, "d") in {(r.k, r.v) for r in spark.table("t_app_tgt").collect()}

    spark.sql("CREATE TABLE t_app_narrow (k INT) USING parquet")
    spark.sql("INSERT INTO t_app_narrow VALUES (5)")
    with pytest.raises(ValueError, match="FILLTARGET"):
        execute_sql(spark, "ALTER TABLE t_app_tgt APPEND FROM t_app_narrow")
    execute_sql(spark, "ALTER TABLE t_app_tgt APPEND FROM t_app_narrow FILLTARGET")
    assert (5, None) in {(r.k, r.v) for r in spark.table("t_app_tgt").collect()}

    execute_sql(spark, "BEGIN")
    try:
        with pytest.raises(ValueError, match="transaction block"):
            execute_sql(spark, "ALTER TABLE t_app_tgt APPEND FROM t_app_src")
    finally:
        execute_sql(spark, "ROLLBACK")
    for t in ("t_app_tgt", "t_app_src", "t_app_wide", "t_app_narrow"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_create_table_like_paren_form(spark):
    """Redshift's parenthesized CREATE TABLE (LIKE t) — with and
    without the INCLUDING/EXCLUDING DEFAULTS modifier — rewrites to
    Spark's LIKE form and copies the schema; plain SELECT ... LIKE
    patterns are untouched."""
    from amazonredshift_blueprints_spark.functions import translate_redshift_sql
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    assert (
        translate_redshift_sql("CREATE TABLE b (LIKE a)")
        == "CREATE TABLE b LIKE a"
    )
    assert (
        translate_redshift_sql(
            "CREATE TABLE IF NOT EXISTS s.b (LIKE s.a INCLUDING DEFAULTS)"
        )
        == "CREATE TABLE IF NOT EXISTS s.b LIKE s.a"
    )
    untouched = "SELECT * FROM t WHERE c LIKE 'x%'"
    assert translate_redshift_sql(untouched) == untouched

    spark.sql("DROP TABLE IF EXISTS t_like_src")
    spark.sql("DROP TABLE IF EXISTS t_like_dst")
    spark.sql("CREATE TABLE t_like_src (k INT, v STRING) USING parquet")
    execute_sql(spark, "CREATE TABLE t_like_dst (LIKE t_like_src)")
    assert spark.table("t_like_dst").schema == spark.table("t_like_src").schema
    assert spark.table("t_like_dst").count() == 0  # structure only
    spark.sql("DROP TABLE t_like_src")
    spark.sql("DROP TABLE t_like_dst")


def test_identity_clause_stripped(spark):
    """Redshift IDENTITY(seed, step) column DDL parses after the strip;
    the no-auto-generation divergence is documented at the pattern."""
    from amazonredshift_blueprints_spark.functions import translate_redshift_sql
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    out = translate_redshift_sql(
        "CREATE TABLE t_id (id BIGINT IDENTITY(1,1), v VARCHAR(10)) "
        "DISTSTYLE EVEN"
    )
    assert "IDENTITY" not in out and "DISTSTYLE" not in out
    out2 = translate_redshift_sql(
        "CREATE TABLE t_id2 (id BIGINT GENERATED BY DEFAULT AS "
        "IDENTITY(0,1), v INT)"
    )
    assert "IDENTITY" not in out2 and "GENERATED" not in out2
    spark.sql("DROP TABLE IF EXISTS t_id")
    execute_sql(
        spark,
        "CREATE TABLE t_id (id BIGINT IDENTITY(1,1), v VARCHAR(10)) "
        "USING parquet",
    )
    spark.sql("INSERT INTO t_id VALUES (1, 'a')")
    assert spark.table("t_id").count() == 1
    spark.sql("DROP TABLE t_id")


class TestDmlStatementFace:
    """Raw DELETE/UPDATE/MERGE SQL through execute_sql (Spark SQL
    refuses these verbs on v1 parquet tables; the shim lowers them
    onto dml.py's copy-on-write implementations)."""

    def _fresh(self, spark, name, rows, schema):
        from amazonredshift_blueprints_spark.ingest import (
            _clean_stale_location,
        )

        spark.sql(f"DROP TABLE IF EXISTS {name}")
        _clean_stale_location(spark, name, None)
        spark.createDataFrame(rows, schema).write.saveAsTable(name)

    def test_delete_statement(self, spark):
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        self._fresh(
            spark, "t_del_stmt",
            [(1, 5), (2, None), (3, 50)], "k int, v int",
        )
        execute_sql(spark, "DELETE FROM t_del_stmt WHERE v > 10")
        # NULL predicate rows are KEPT (SQL DELETE semantics)
        assert {r.k for r in spark.table("t_del_stmt").collect()} == {1, 2}
        execute_sql(spark, "DELETE FROM t_del_stmt")  # no WHERE: all rows
        assert spark.table("t_del_stmt").count() == 0
        spark.sql("DROP TABLE t_del_stmt")

    def test_update_statement(self, spark):
        import pytest

        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        self._fresh(
            spark, "t_upd_stmt",
            [(1, 10, "a"), (2, 20, "b")], "k int, v int, s string",
        )
        execute_sql(
            spark,
            "UPDATE t_upd_stmt SET v = v * 2, s = upper(s) WHERE k = 2",
        )
        got = {(r.k, r.v, r.s) for r in spark.table("t_upd_stmt").collect()}
        assert got == {(1, 10, "a"), (2, 40, "B")}
        with pytest.raises(ValueError, match="UPDATE ... FROM"):
            execute_sql(
                spark, "UPDATE t_upd_stmt SET v = s.v FROM src s WHERE 1=1"
            )
        spark.sql("DROP TABLE t_upd_stmt")

    def test_merge_statement(self, spark):
        import pytest

        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        self._fresh(
            spark, "t_mrg_tgt",
            [(1, 10, "keep"), (2, 20, "old")], "k int, v int, s string",
        )
        self._fresh(
            spark, "t_mrg_src",
            [(2, 99, "new"), (3, 30, "ins"), (4, 40, "__DEL__")],
            "k int, v int, s string",
        )
        execute_sql(
            spark,
            "MERGE INTO t_mrg_tgt USING t_mrg_src AS s ON t_mrg_tgt.k = s.k "
            "WHEN MATCHED AND s.s = '__DEL__' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET v = s.v, s = s.s "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v, s.s)",
        )
        got = {(r.k, r.v, r.s) for r in spark.table("t_mrg_tgt").collect()}
        # Redshift MERGE: unmatched delete-marked row still INSERTS
        assert got == {
            (1, 10, "keep"), (2, 99, "new"), (3, 30, "ins"),
            (4, 40, "__DEL__"),
        }
        # partial / expression-valued UPDATE arms execute (r16 —
        # Redshift allows both): only the assigned column changes,
        # expressions may mix target and source columns, and the
        # insert arm still takes the source row wholesale
        execute_sql(
            spark,
            "MERGE INTO t_mrg_tgt USING t_mrg_src AS s "
            "ON t_mrg_tgt.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = t_mrg_tgt.v + s.v + 1 "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v, s.s)",
        )
        got = {(r.k, r.v, r.s) for r in spark.table("t_mrg_tgt").collect()}
        # matched rows: k=2 (99+99+1, s KEPT as 'new'), k=3 (30+30+1),
        # k=4 (40+40+1); k=1 untouched (no source match)
        assert got == {
            (1, 10, "keep"), (2, 199, "new"), (3, 61, "ins"),
            (4, 81, "__DEL__"),
        }
        # a join key may only be assigned its own value
        with pytest.raises(ValueError, match="cannot change a join key"):
            execute_sql(
                spark,
                "MERGE INTO t_mrg_tgt USING t_mrg_src AS s "
                "ON t_mrg_tgt.k = s.k "
                "WHEN MATCHED THEN UPDATE SET k = s.k + 1 "
                "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v, s.s)",
            )
        with pytest.raises(ValueError, match="MERGE shape"):
            execute_sql(
                spark,
                "MERGE INTO t_mrg_tgt USING (SELECT 1 AS k) s ON "
                "t_mrg_tgt.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v "
                "WHEN NOT MATCHED THEN INSERT VALUES (s.k)",
            )
        with pytest.raises(ValueError, match="USING shape not lowered"):
            execute_sql(
                spark,
                "DELETE FROM t_mrg_tgt USING (SELECT 1 AS k) s WHERE "
                "t_mrg_tgt.k = s.k",
            )
        spark.sql("DROP TABLE t_mrg_tgt")
        spark.sql("DROP TABLE t_mrg_src")

    def test_delete_using_statement(self, spark):
        """DELETE FROM t USING s WHERE ... (r16 — Redshift's join
        delete, previously a named refusal): target rows matching ANY
        source row under the condition leave; NULL-valued conditions
        keep rows; non-key residual predicates ride the join."""
        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        self._fresh(
            spark, "t_du_tgt",
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
            "k int, v int, s string",
        )
        self._fresh(
            spark, "t_du_src",
            [(2, "drop"), (3, "keep"), (9, "drop")], "k int, act string",
        )
        execute_sql(
            spark,
            "DELETE FROM t_du_tgt USING t_du_src AS u "
            "WHERE t_du_tgt.k = u.k AND u.act = 'drop'",
        )
        got = {(r.k, r.v) for r in spark.table("t_du_tgt").collect()}
        assert got == {(1, 10), (3, 30), (4, 40)}
        # theta condition (no equality at all) also lowers
        execute_sql(
            spark,
            "DELETE FROM t_du_tgt USING t_du_src AS u "
            "WHERE t_du_tgt.k < u.k - 7",
        )
        got = {(r.k, r.v) for r in spark.table("t_du_tgt").collect()}
        assert got == {(3, 30), (4, 40)}
        spark.sql("DROP TABLE t_du_tgt")
        spark.sql("DROP TABLE t_du_src")

    def test_update_from_statement(self, spark):
        """UPDATE t SET ... FROM s WHERE t.k = s.k [AND extra] (r16 —
        Redshift's joined update, previously a named refusal): matched
        rows evaluate SET expressions over the joined row, unmatched
        rows pass through, extra predicates narrow the match, and a
        duplicate-key source refuses by name (the nondeterminism
        Redshift silently permits)."""
        import pytest

        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        self._fresh(
            spark, "t_uf_tgt",
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k int, v int, s string",
        )
        self._fresh(
            spark, "t_uf_src",
            [(1, 100, "go"), (2, 200, "no"), (9, 900, "go")],
            "k int, dv int, flag string",
        )
        execute_sql(
            spark,
            "UPDATE t_uf_tgt SET v = t_uf_tgt.v + u.dv, s = upper(t_uf_tgt.s) "
            "FROM t_uf_src AS u "
            "WHERE t_uf_tgt.k = u.k AND u.flag = 'go'",
        )
        got = {(r.k, r.v, r.s) for r in spark.table("t_uf_tgt").collect()}
        assert got == {(1, 110, "A"), (2, 20, "b"), (3, 30, "c")}
        # no key equality in WHERE refuses by name
        with pytest.raises(ValueError, match="at least one"):
            execute_sql(
                spark,
                "UPDATE t_uf_tgt SET v = u.dv FROM t_uf_src AS u "
                "WHERE u.flag = 'go'",
            )
        # duplicate source keys refuse (nondeterministic update)
        spark.sql("INSERT INTO t_uf_src VALUES (1, 7, 'go')")
        with pytest.raises(ValueError, match="duplicate join keys"):
            execute_sql(
                spark,
                "UPDATE t_uf_tgt SET v = u.dv FROM t_uf_src AS u "
                "WHERE t_uf_tgt.k = u.k",
            )
        # FROM inside a SET-expression call still lowers as plain UPDATE
        execute_sql(
            spark,
            "UPDATE t_uf_tgt SET v = v + extract(day FROM "
            "DATE '1996-03-05') WHERE k = 3",
        )
        assert (
            spark.table("t_uf_tgt").filter("k = 3").collect()[0].v == 35
        )
        spark.sql("DROP TABLE t_uf_tgt")
        spark.sql("DROP TABLE t_uf_src")

    def test_merge_statement_insert_expressions(self, spark):
        """Expression-valued / partial INSERT arms (r16): VALUES may be
        arbitrary expressions over the source row, a partial column
        list inserts NULL for unlisted columns, and — with BOTH arms
        expression-driven — the source may carry a NARROW schema that
        differs from the target's (the CDC shape)."""
        import pytest

        from amazonredshift_blueprints_spark.sqlrun import execute_sql

        self._fresh(
            spark, "t_mix_tgt",
            [(1, 10, "keep"), (2, 20, "old")], "k int, v int, s string",
        )
        # narrow CDC source: no 's' column, an extra 'op' flag column
        self._fresh(
            spark, "t_mix_src",
            [(2, 5, "U"), (3, 30, "I"), (1, 0, "D")], "k int, dv int, op string",
        )
        execute_sql(
            spark,
            "MERGE INTO t_mix_tgt USING t_mix_src AS c ON t_mix_tgt.k = c.k "
            "WHEN MATCHED AND c.op = 'D' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET v = t_mix_tgt.v + c.dv "
            "WHEN NOT MATCHED THEN INSERT (k, v, s) "
            "VALUES (c.k, c.dv * 2, upper(c.op) || ':new')",
        )
        got = {(r.k, r.v, r.s) for r in spark.table("t_mix_tgt").collect()}
        assert got == {(2, 25, "old"), (3, 60, "I:new")}
        # partial column list: unlisted 's' inserts NULL
        execute_sql(
            spark,
            "MERGE INTO t_mix_tgt USING t_mix_src AS c ON t_mix_tgt.k = c.k "
            "WHEN MATCHED THEN UPDATE SET v = c.dv "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (c.k, c.dv + 100)",
        )
        got = {(r.k, r.v, r.s) for r in spark.table("t_mix_tgt").collect()}
        assert got == {(2, 5, "old"), (3, 30, "I:new"), (1, 100, None)}
        # refusals: target references in VALUES; unknown column; arity
        with pytest.raises(ValueError, match="cannot reference the target"):
            execute_sql(
                spark,
                "MERGE INTO t_mix_tgt USING t_mix_src AS c "
                "ON t_mix_tgt.k = c.k "
                "WHEN MATCHED THEN UPDATE SET v = c.dv "
                "WHEN NOT MATCHED THEN INSERT (k, v) "
                "VALUES (c.k, t_mix_tgt.v + 1)",
            )
        with pytest.raises(ValueError, match="unknown target column"):
            execute_sql(
                spark,
                "MERGE INTO t_mix_tgt USING t_mix_src AS c "
                "ON t_mix_tgt.k = c.k "
                "WHEN MATCHED THEN UPDATE SET v = c.dv "
                "WHEN NOT MATCHED THEN INSERT (k, nope) VALUES (c.k, 1)",
            )
        with pytest.raises(ValueError, match="column.s. but"):
            execute_sql(
                spark,
                "MERGE INTO t_mix_tgt USING t_mix_src AS c "
                "ON t_mix_tgt.k = c.k "
                "WHEN MATCHED THEN UPDATE SET v = c.dv "
                "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (c.k)",
            )
        # narrow source + WHOLESALE update arm: refused by merge_into
        # (the wholesale arm needs the target's full schema)
        with pytest.raises(ValueError, match="source schema"):
            execute_sql(
                spark,
                "MERGE INTO t_mix_tgt USING t_mix_src AS c "
                "ON t_mix_tgt.k = c.k "
                "WHEN MATCHED THEN UPDATE SET v = c.v, s = c.s "
                "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (c.k, c.dv)",
            )
        spark.sql("DROP TABLE t_mix_tgt")
        spark.sql("DROP TABLE t_mix_src")


def test_no_schema_binding_stripped():
    from amazonredshift_blueprints_spark.functions import (
        translate_redshift_sql,
    )

    out = translate_redshift_sql(
        "CREATE VIEW v AS SELECT 1 AS x WITH NO SCHEMA BINDING"
    )
    assert out == "CREATE VIEW v AS SELECT 1 AS x"
    out = translate_redshift_sql(
        "CREATE OR REPLACE VIEW s.v AS SELECT a FROM t WITH NO SCHEMA BINDING;"
    )
    assert out == "CREATE OR REPLACE VIEW s.v AS SELECT a FROM t;"
    # only CREATE VIEW statements are touched, and literals survive
    sql = "SELECT 'WITH NO SCHEMA BINDING' AS doc"
    assert translate_redshift_sql(sql) == sql
    sql2 = "CREATE VIEW v AS SELECT 'x WITH NO SCHEMA BINDING'"
    assert translate_redshift_sql(sql2) == sql2


def test_copy_unload_orc_roundtrip(spark, tmp_path):
    """COPY/UNLOAD FORMAT AS ORC: Spark's built-in ORC reader/writer
    backs the statement face end-to-end; AVRO refuses naming the
    missing external module (probe-gated, not silently mis-read)."""
    import pytest

    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    spark.sql("DROP TABLE IF EXISTS t_orc_rt")
    _clean_stale_location(spark, "t_orc_rt", None)
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "k int, s string, v double"
    ).createOrReplaceTempView("t_orc_src")
    out = str(tmp_path / "orc_out")
    execute_sql(
        spark,
        f"UNLOAD ('SELECT k, s, v FROM t_orc_src') TO '{out}' "
        "FORMAT AS ORC PARALLEL ON",
    )
    spark.sql("CREATE TABLE t_orc_rt (k int, s string, v double) USING parquet")
    execute_sql(spark, f"COPY t_orc_rt FROM '{out}' FORMAT AS ORC")
    got = {(r.k, r.s, r.v) for r in spark.table("t_orc_rt").collect()}
    assert got == {(1, "a", 1.5), (2, "b", 2.5)}
    with pytest.raises(ValueError, match="spark-avro"):
        execute_sql(spark, f"COPY t_orc_rt FROM '{out}' FORMAT AS AVRO")
    with pytest.raises(ValueError, match="spark-avro"):
        execute_sql(
            spark,
            f"UNLOAD ('SELECT 1') TO '{out}2' FORMAT AS AVRO",
        )
    spark.sql("DROP TABLE t_orc_rt")


def test_update_set_from_inside_call_not_refused(spark):
    """FROM inside a call or subquery in a SET expression (EXTRACT,
    SUBSTRING ... FROM, scalar subqueries) is a legitimate UPDATE; only
    a TOP-LEVEL FROM (the joined-update clause) refuses."""
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    spark.sql("DROP TABLE IF EXISTS t_upd_extract")
    _clean_stale_location(spark, "t_upd_extract", None)
    spark.createDataFrame(
        [(1, "2026-03-15", 0)], "k int, d string, day int"
    ).write.saveAsTable("t_upd_extract")
    execute_sql(
        spark,
        "UPDATE t_upd_extract SET day = extract(day FROM CAST(d AS DATE)) "
        "WHERE k = 1",
    )
    assert spark.table("t_upd_extract").first().day == 15
    spark.sql("DROP TABLE t_upd_extract")


def test_merge_insert_arm_order_semantics(spark):
    """Pre-r16 the INSERT arm only accepted the source columns
    verbatim in source order (anything else risked silently inserting
    different values than written under the wholesale lowering).
    Since the expression-valued lowering (q114), a reordered list
    inserts EXACTLY what is written — the Redshift semantics — and
    the wholesale spelling keeps its prior plan."""
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    for t in ("t_mrgord_tgt", "t_mrgord_src"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _clean_stale_location(spark, t, None)
    spark.createDataFrame([(1, 10)], "k int, v int").write.saveAsTable(
        "t_mrgord_tgt"
    )
    spark.createDataFrame([(2, 20)], "k int, v int").write.saveAsTable(
        "t_mrgord_src"
    )
    # swapped VALUES insert the swapped values, as written
    execute_sql(
        spark,
        "MERGE INTO t_mrgord_tgt USING t_mrgord_src AS s "
        "ON t_mrgord_tgt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.v, s.k)",
    )
    assert {(r.k, r.v) for r in spark.table("t_mrgord_tgt").collect()} == {
        (1, 10), (20, 2),
    }
    # reordered column list binds by NAME, not position
    execute_sql(
        spark,
        "MERGE INTO t_mrgord_tgt USING t_mrgord_src AS s "
        "ON t_mrgord_tgt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v "
        "WHEN NOT MATCHED THEN INSERT (v, k) VALUES (s.v + 1, s.k)",
    )
    assert {(r.k, r.v) for r in spark.table("t_mrgord_tgt").collect()} == {
        (1, 10), (20, 2), (2, 21),
    }
    # the wholesale spelling still lands (and now matches, no insert)
    execute_sql(
        spark,
        "MERGE INTO t_mrgord_tgt USING t_mrgord_src AS s "
        "ON t_mrgord_tgt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
    )
    assert {(r.k, r.v) for r in spark.table("t_mrgord_tgt").collect()} == {
        (1, 10), (20, 2), (2, 20),
    }
    for t in ("t_mrgord_tgt", "t_mrgord_src"):
        spark.sql(f"DROP TABLE {t}")


def test_similar_to_translation_semantics():
    """SQL-standard pattern language: '.' is a LITERAL (escaped), % and
    _ translate, regex operators pass through, the regex anchors, and
    string-literal/ESCAPE occurrences are untouched."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        _similar_pattern_to_regex,
        translate_redshift_sql,
    )

    assert _similar_pattern_to_regex("v1.2_x%") == r"^(?:v1\.2.x.*)$"
    assert _similar_pattern_to_regex("%(a|b)%") == "^(?:.*(a|b).*)$"
    assert _similar_pattern_to_regex("[A-Z]{3}") == "^(?:[A-Z]{3})$"
    # backslash-quoted % stays a literal percent (re.escape leaves it
    # bare — '%' has no regex meaning), never a wildcard
    assert _similar_pattern_to_regex(r"50\%") == "^(?:50%)$"
    out = translate_redshift_sql(
        "SELECT * FROM t WHERE a SIMILAR TO '%a.b%' AND b NOT SIMILAR TO 'x_'"
    )
    assert "RLIKE '^(?:.*a\\\\.b.*)$'" in out
    assert "NOT RLIKE '^(?:x.)$'" in out
    # inside a string literal: untouched
    s = "SELECT 'SIMILAR TO ''x''' AS s"
    assert translate_redshift_sql(s) == s
    # custom ESCAPE: conservative pass-through
    e = "SELECT * FROM t WHERE a SIMILAR TO '%x%' ESCAPE '#'"
    assert translate_redshift_sql(e) == e


def test_similar_to_runs_on_spark(spark):
    """End-to-end: the translated predicate actually filters — '.' is
    literal, so 'v1.2' matches 'v1.2%' but 'v132' must not."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        translate_redshift_sql,
    )

    spark.createDataFrame(
        [("v1.2-rc",), ("v132-rc",), ("other",)], "s string"
    ).createOrReplaceTempView("simto_t")
    got = spark.sql(
        translate_redshift_sql(
            "SELECT s FROM simto_t WHERE s SIMILAR TO 'v1.2%'"
        )
    ).collect()
    assert [r["s"] for r in got] == ["v1.2-rc"]


def test_connect_by_hierarchy_semantics(spark):
    """CONNECT BY: path multiplicity (a two-parent node appears once
    PER PATH), WHERE applied after hierarchy construction, PRIOR on
    either side of '=', cycle detection, and parse refusals."""
    import pytest

    from amazonredshift_blueprints_spark.functions.hierarchy import (
        connect_by_frame,
        parse_connect_by,
        run_connect_by,
    )

    rows = [
        # id, parent, tag        — diamond: 4 is a child of BOTH 2 and 3
        (1, None, "root"),
        (2, 1, "a"),
        (3, 1, "b"),
        (4, 2, "leaf"),
        (4, 3, "leaf"),
    ]
    spark.createDataFrame(
        rows, "id int, parent int, tag string"
    ).createOrReplaceTempView("bp_diamond")
    out = run_connect_by(
        spark,
        """SELECT id, LEVEL AS lvl FROM bp_diamond
           START WITH parent IS NULL
           CONNECT BY PRIOR id = parent
           ORDER BY lvl, id""",
    )
    got = [(r.id, r.lvl) for r in out.collect()]
    # node 4 reached via 2 AND via 3 → two level-3 rows (per-path)
    assert got == [(1, 1), (2, 2), (3, 2), (4, 3), (4, 3)]
    # PRIOR on the right is the same hierarchy
    flipped = run_connect_by(
        spark,
        """SELECT id, LEVEL AS lvl FROM bp_diamond
           START WITH parent IS NULL
           CONNECT BY parent = PRIOR id
           ORDER BY lvl, id""",
    )
    assert [(r.id, r.lvl) for r in flipped.collect()] == got
    # WHERE filters rows AFTER expansion — children of excluded rows stay
    filtered = run_connect_by(
        spark,
        """SELECT id, LEVEL AS lvl FROM bp_diamond
           WHERE id <> 2
           START WITH parent IS NULL
           CONNECT BY PRIOR id = parent
           ORDER BY lvl, id""",
    )
    ids = [r.id for r in filtered.collect()]
    assert 2 not in ids and ids.count(4) == 2  # subtree NOT pruned
    # cycle: growth past max_levels raises naming the bound
    cyc = spark.createDataFrame(
        [(1, 2), (2, 1)], "id int, parent int"
    )
    with pytest.raises(ValueError, match="exceeded 5 levels"):
        connect_by_frame(cyc, "id", "parent", "id = 1", max_levels=5)
    # parse: non-CONNECT-BY SQL falls through as None; malformed raises
    assert parse_connect_by("SELECT 1") is None
    with pytest.raises(ValueError, match="PRIOR"):
        parse_connect_by(
            "SELECT id FROM t START WITH a CONNECT BY id = parent"
        )
    with pytest.raises(ValueError, match="expected the shape"):
        parse_connect_by(
            "SELECT id FROM t CONNECT BY PRIOR id = parent"
        )


def test_select_into_rewrite_shapes():
    """SELECT INTO → CTAS: permanent vs TEMP targets, and the
    non-matches (INSERT INTO, INTO after FROM, subqueries, string
    literals) pass through untouched."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        translate_redshift_sql as t,
    )

    assert t("SELECT a, b INTO newt FROM src WHERE x > 1").startswith(
        "CREATE TABLE newt USING parquet AS "
    )
    assert t("SELECT a INTO TEMP tt FROM src").startswith(
        "CREATE OR REPLACE TEMPORARY VIEW tt AS "
    )
    assert t("SELECT a INTO TEMPORARY TABLE tt FROM src").startswith(
        "CREATE OR REPLACE TEMPORARY VIEW tt AS "
    )
    for untouched in (
        "INSERT INTO t SELECT 1",
        "SELECT a FROM t WHERE b IN (SELECT c FROM u)",
        "SELECT 'INTO x' AS s FROM t",
        "SELECT a FROM t",  # INTO nowhere
    ):
        assert t(untouched) == untouched


def test_fetch_first_offset_rewrites(spark):
    """ANSI FETCH FIRST/NEXT and OFFSET ... ROWS forms run end-to-end:
    the OFFSET+FETCH pair is REORDERED to LIMIT-then-OFFSET (Spark's
    required clause order) and bare OFFSET drops the ROWS keyword."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        translate_redshift_sql as t,
    )

    spark.createDataFrame(
        [(i,) for i in range(10)], "k long"
    ).createOrReplaceTempView("t_fetch")
    cases = [
        ("SELECT k FROM t_fetch ORDER BY k FETCH FIRST 3 ROWS ONLY",
         [0, 1, 2]),
        ("SELECT k FROM t_fetch ORDER BY k "
         "OFFSET 2 ROWS FETCH NEXT 3 ROWS ONLY", [2, 3, 4]),
        ("SELECT k FROM t_fetch ORDER BY k OFFSET 7 ROWS", [7, 8, 9]),
        ("SELECT k FROM t_fetch ORDER BY k FETCH NEXT 1 ROW ONLY", [0]),
    ]
    for q, want in cases:
        assert [r.k for r in spark.sql(t(q)).collect()] == want, q


def test_apply_changes_roundtrip_with_null_keys(spark):
    """apply_changes(old, snapshot_diff(old, new)) == new, including a
    NULL-key row present only in the old snapshot (delete) and one
    only in the new (insert) — the null-safe key path end to end."""
    from amazonredshift_blueprints_spark.dml import (
        apply_changes,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "stale"), (None, "ghost")],
        "k int, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "new"), (None, "reborn")],
        "k int, v string",
    )
    changes = snapshot_diff(old, new, ["k"], ["v"])
    got = {
        (r.k, r.v)
        for r in apply_changes(old, changes, ["k"], ["v"]).collect()
    }
    assert got == {(1, "a"), (2, "B"), (4, "new"), (None, "reborn")}


def test_unload_overwrite_flags_accepted():
    """ALLOWOVERWRITE / CLEANPATH parse as no-ops (the writers already
    run in overwrite mode); unknown options still refuse."""
    import pytest

    from amazonredshift_blueprints_spark.functions.copy_unload import (
        parse_unload,
    )

    s = parse_unload(
        "UNLOAD ('SELECT 1') TO '/x/o' FORMAT AS PARQUET "
        "ALLOWOVERWRITE CLEANPATH"
    )
    assert s.format == "parquet"
    with pytest.raises(ValueError):
        parse_unload("UNLOAD ('SELECT 1') TO '/x/o' ZEROCOPY")


def test_partiql_unnest_rewrites():
    """FROM-clause PartiQL navigation → LATERAL VIEW: alias-qualified
    items rewrite (explode without AT, posexplode with), chained
    unnests keep resolving, schema.table relations and literal text
    never match."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        _rewrite_partiql_unnest as rw,
    )

    got = rw("SELECT vec_id, v2 FROM embeddings v, v.embedding AS v2")
    assert "LATERAL VIEW explode(v.embedding) _ex_1 AS v2" in got
    assert "," not in got.split("FROM")[1].split("LATERAL")[0]
    got = rw("SELECT 1 FROM t a, a.arr x AT i WHERE x > 0")
    assert "LATERAL VIEW posexplode(a.arr) _pe_1 AS i, x" in got
    assert got.rstrip().endswith("WHERE x > 0")
    # chained: second unnest references the first's alias
    got = rw("SELECT 1 FROM t a, a.arr x, x.sub AS y")
    assert "explode(a.arr) _ex_1 AS x" in got
    assert "explode(x.sub) _ex_2 AS y" in got
    # schema.table is a relation, not navigation
    sql = "SELECT * FROM lineitem, public.orders o WHERE l_orderkey = 1"
    assert rw(sql) == sql
    # string literals and subquery-only FROMs untouched
    sql = "SELECT 'FROM a, a.b c' AS s FROM t"
    assert rw(sql) == sql
    sql = "SELECT * FROM customer c, orders o WHERE c_custkey = o_custkey"
    assert rw(sql) == sql
    # r12 advisor: unnest items inside CTE bodies, subqueries, and the
    # second branch of a UNION rewrite too (not just the first
    # depth-0 FROM)
    got = rw("WITH c AS (SELECT v FROM emb e, e.embedding AS v AT i) "
             "SELECT * FROM c")
    assert "LATERAL VIEW posexplode(e.embedding) _pe_1 AS i, v" in got
    got = rw("SELECT d FROM t1 a, a.arr AS d "
             "UNION ALL SELECT d FROM t2 b, b.arr AS d")
    assert got.count("LATERAL VIEW explode") == 2
    got = rw("SELECT * FROM docs WHERE id IN (SELECT x FROM t a, "
             "a.ids AS x)")
    assert "LATERAL VIEW explode(a.ids) _ex_1 AS x" in got
    got = rw("WITH c AS (SELECT * FROM (SELECT x FROM t a, a.ids AS x) "
             "q) SELECT * FROM c")
    assert "LATERAL VIEW explode(a.ids) _ex_1 AS x" in got
    # FROM inside function args (substring/trim/extract) is inert
    sql = ("SELECT substring(s FROM 1 FOR 2), trim(BOTH ' ' FROM s), "
           "extract(epoch FROM ts) FROM t")
    assert rw(sql) == sql


def test_fetch_first_string_aware():
    """r11 advisor: FETCH FIRST/OFFSET ROWS patterns inside string
    literals must survive the rewrite verbatim; real clauses around
    them still rewrite."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        _rewrite_fetch_first as rw,
    )

    assert (
        rw("SELECT * FROM t OFFSET 5 ROWS FETCH FIRST 3 ROWS ONLY")
        == "SELECT * FROM t LIMIT 3 OFFSET 5"
    )
    got = rw(
        "SELECT 'FETCH FIRST 9 ROWS ONLY' AS doc FROM t "
        "FETCH NEXT 2 ROWS ONLY"
    )
    assert "'FETCH FIRST 9 ROWS ONLY'" in got
    assert got.endswith("LIMIT 2")
    got = rw("SELECT 'OFFSET 7 ROWS' AS doc FROM t OFFSET 1 ROWS")
    assert "'OFFSET 7 ROWS'" in got and got.endswith("OFFSET 1")


def test_regexp_instr_redshift_contract(spark):
    """REGEXP_INSTR: 1-based position of the first match, 0 when none
    — Spark ships it natively with Redshift's contract (oracled
    entries skip it because DuckDB has no positional regexp)."""
    r = spark.sql(
        "SELECT regexp_instr('a1b22c333', '[0-9]+') AS p1, "
        "regexp_instr('abc', '[0-9]+') AS p0"
    ).collect()[0]
    assert (r.p1, r.p0) == (2, 0)


def test_pg_type_and_epoch_trunc_rewrites():
    """PG type spellings rewrite only in type position; EXTRACT(EPOCH)
    and 1-arg TRUNC lower; everything else stays native."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        translate_redshift_sql as tr,
    )

    assert tr("SELECT a::varchar FROM t") == "SELECT a::string FROM t"
    assert tr("SELECT CAST(a AS int8) FROM t") == (
        "SELECT CAST(a AS bigint) FROM t"
    )
    assert "float" in tr("SELECT a::float4 FROM t")
    # sized types and literals stay put
    assert tr("SELECT CAST(a AS VARCHAR(5)) FROM t") == (
        "SELECT CAST(a AS VARCHAR(5)) FROM t"
    )
    assert tr("SELECT 'x::varchar' FROM t") == "SELECT 'x::varchar' FROM t"
    # a column ALIASED "AS text" is an alias, not a cast — untouched
    assert tr("SELECT substr(x,1,5) AS text FROM d") == (
        "SELECT substr(x,1,5) AS text FROM d"
    )
    assert tr("SELECT TRY_CAST(a AS text) FROM t") == (
        "SELECT TRY_CAST(a AS string) FROM t"
    )
    # EXTRACT(EPOCH) lowers; other fields stay native
    assert tr("SELECT EXTRACT(epoch FROM ts) FROM t") == (
        "SELECT unix_timestamp(ts) FROM t"
    )
    assert tr("SELECT EXTRACT(year FROM d) FROM t") == (
        "SELECT EXTRACT(year FROM d) FROM t"
    )
    # 1-arg TRUNC -> date; 2-arg native
    assert tr("SELECT TRUNC(ts) FROM t") == "SELECT CAST(ts AS DATE) FROM t"
    assert tr("SELECT TRUNC(d, 'MM') FROM t") == (
        "SELECT TRUNC(d, 'MM') FROM t"
    )


def test_convert_math_alias_rewrites():
    """CONVERT(type, expr) -> CAST with the PG map applied; DEXP/
    DLOG1/DLOG10 -> EXP/LN/LOG10 over doubles; FUNC_SHA1 -> sha1;
    wrong arities left untouched."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        translate_redshift_sql as tr,
    )

    assert tr("SELECT CONVERT(integer, '42')") == (
        "SELECT CAST('42' AS integer)"
    )
    assert tr("SELECT CONVERT(int8, a) FROM t") == (
        "SELECT CAST(a AS bigint) FROM t"
    )
    assert tr("SELECT DEXP(x) FROM t") == (
        "SELECT EXP(CAST(x AS DOUBLE)) FROM t"
    )
    assert tr("SELECT DLOG1(x) FROM t") == (
        "SELECT LN(CAST(x AS DOUBLE)) FROM t"
    )
    assert tr("SELECT DLOG10(x) FROM t") == (
        "SELECT LOG10(CAST(x AS DOUBLE)) FROM t"
    )
    assert tr("SELECT FUNC_SHA1(b) FROM t") == "SELECT sha1(b) FROM t"
    # arity guards: 1-arg CONVERT (not the RS form) stays put
    assert tr("SELECT CONVERT(x) FROM t") == "SELECT CONVERT(x) FROM t"


def test_pg_width_aliases_in_ddl_and_drop_cascade():
    """Width aliases rewrite in DDL column lists (not just casts);
    DROP TABLE/VIEW CASCADE|RESTRICT strips; literals stay put."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        translate_redshift_sql as tr,
    )

    assert tr("CREATE TABLE t (id INT8 NOT NULL, b FLOAT8, c INT2)") == (
        "CREATE TABLE t (id bigint NOT NULL, b double, c smallint)"
    )
    assert tr("ALTER TABLE t ADD COLUMN x INT4") == (
        "ALTER TABLE t ADD COLUMN x int"
    )
    assert tr("SELECT 'int8 literal' FROM t") == (
        "SELECT 'int8 literal' FROM t"
    )
    assert tr("DROP TABLE big.t1 CASCADE") == "DROP TABLE big.t1"
    assert tr("DROP VIEW IF EXISTS v RESTRICT;") == "DROP VIEW IF EXISTS v;"
    # not a DROP TABLE/VIEW head: untouched
    assert tr("DROP DATABASE d CASCADE") == "DROP DATABASE d CASCADE"


def test_json_varchar_function_rewrites():
    """Pre-SUPER JSON family: path building, literal-index element
    access, validity probes; computed keys/indexes stay untouched."""
    from amazonredshift_blueprints_spark.functions.redshift_compat import (
        translate_redshift_sql as tr,
    )

    assert tr("SELECT JSON_EXTRACT_PATH_TEXT(j, 'a', 'b') FROM t") == (
        "SELECT get_json_object(j, '$.a.b') FROM t"
    )
    # optional null_if_invalid flag drops
    assert tr("SELECT JSON_EXTRACT_PATH_TEXT(j, 'a', true) FROM t") == (
        "SELECT get_json_object(j, '$.a') FROM t"
    )
    assert tr("SELECT JSON_ARRAY_LENGTH(j) FROM t") == (
        "SELECT json_array_length(j) FROM t"
    )
    assert tr(
        "SELECT JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, 2) FROM t"
    ) == "SELECT get_json_object(j, '$[2]') FROM t"
    assert tr("SELECT IS_VALID_JSON(j) FROM t") == (
        "SELECT (get_json_object(j, '$') IS NOT NULL) FROM t"
    )
    assert tr("SELECT IS_VALID_JSON_ARRAY(j) FROM t") == (
        "SELECT (json_array_length(j) IS NOT NULL) FROM t"
    )
    # computed key / index: out of scope, untouched
    s = "SELECT JSON_EXTRACT_PATH_TEXT(j, k) FROM t"
    assert tr(s) == s
    s = "SELECT JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, i) FROM t"
    assert tr(s) == s
    # path-metachar keys stay untranslated (r12 advisor): a quote would
    # make malformed SQL, a literal-dot key would silently become a
    # NESTED path — fail loudly at the parser instead of a wrong answer
    for key in ("'it''s'", "'a.b'", "'a[0]'", "'a$'", "'a*'", '\'a"b\''):
        s = f"SELECT JSON_EXTRACT_PATH_TEXT(j, {key}) FROM t"
        assert tr(s) == s, key


def test_query_log_retention_cap_and_session_keying(spark, monkeypatch):
    """The query-history log is length-capped (Redshift bounds its own
    STL retention) with monotone query ids across the trim, and is
    keyed on the session via weakref — not id(spark), which a recycled
    id could leak into a fresh session (r12 advisor)."""
    import weakref

    from amazonredshift_blueprints_spark.functions import system_tables as st

    assert isinstance(st._QUERY_LOG, weakref.WeakKeyDictionary)
    assert isinstance(st._LOAD_ERRORS, weakref.WeakKeyDictionary)
    monkeypatch.setattr(st, "_QLOG_MAX", 5)
    st.reset_query_log(spark)
    for i in range(9):
        st.record_statement(spark, f"SELECT {i}", aborted=0)
    log = st._QUERY_LOG[spark]
    assert len(log) == 5  # capped, oldest out first
    assert [r[0] for r in log] == [5, 6, 7, 8, 9]  # ids keep increasing
    assert [r[1] for r in log] == [f"SELECT {i}" for i in range(4, 9)]
    st.reset_query_log(spark)
    # load-error log caps the same way
    monkeypatch.setattr(st, "_LOAD_ERR_MAX", 3)
    st.reset_load_errors(spark)
    st.record_load_errors(spark, "t", [f"bad{i}" for i in range(7)])
    assert [r[3] for r in st._LOAD_ERRORS[spark]] == ["bad4", "bad5", "bad6"]
    st.reset_load_errors(spark)
