"""The ``etl_blueprints`` workload: the reference's own traffic.

One cycle is the pipeline below, one op per step, over seeded CSV files
(``fixtures.write_etl_csvs``). Every cycle starts by replacing the
tables it writes, so every cycle does the same work.

1.  ``discover``        ingest.find_all_local_file_names + find_all_file_matches
2.  ``ingest_replace``  ingest.ingest_csv, ``replace``, inferred schema
3.  ``ingest_append``   ingest.ingest_csv, ``append`` against the typed table
4.  ``copy_lines``      sqlrun.execute_sql_script: DROP + ``COPY … FROM``
5.  ``sql_script``      sqlrun.execute_sql_script: DROP, CTAS,
                        ``BEGIN; INSERT …; COMMIT;`` and a Redshift-dialect CTAS
6.  ``unload``          sqlrun.execute_sql: ``UNLOAD (…) TO``
7.  ``delete_plain``    dml.delete_from on a plain table (copy-on-write)
8.  ``merge_plain``     dml.merge_into on a plain table
9.  ``history_enable``  CTAS + timetravel.enable_history
10. ``delete_history``  dml.delete_from on the history table (file-pruned)
11. ``merge_history``   dml.merge_into on the history table
12. ``export_file``     export.store_query_results, one file
13. ``export_dir``      export.store_query_results, a part-file directory

``verify`` replays each step on a DuckDB mirror built from the same CSV
files and compares counts, table contents and exported files; ``check``
compares every timed op's return value with the verified one.
"""

from __future__ import annotations

import glob
import json
import os

from tools.check_correctness import compare
from workloads import Op, Probe

CENTS = "CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT)"
ORDERS_COLS = "order_id, customer_id, status, priority, amount, order_date"
DELETE_PLAIN = "status = 'P' AND amount < 1000"
DELETE_HIST = "priority = '5-LOW' AND amount > 4000"
EXPORT_FILE_SQL = (
    f"SELECT status, priority, count(*) AS n, {CENTS} AS cents "
    "FROM etl_orders GROUP BY status, priority"
)
EXPORT_DIR_SQL = (
    "SELECT o.order_id, o.status, l.line_no, l.sku, l.qty, l.price "
    "FROM etl_orders o JOIN etl_lines l ON o.order_id = l.order_id WHERE l.qty > 40"
)
# embedded in UNLOAD ('...'), so it holds no single quote
UNLOAD_SQL = "SELECT order_id, customer_id, amount FROM etl_orders WHERE amount > 4000"
SCRIPT = """
DROP TABLE IF EXISTS etl_daily;
CREATE TABLE etl_daily AS
  SELECT order_date, status, count(*) AS n_orders, sum(CAST(round(amount * 100) AS BIGINT)) AS cents
  FROM etl_orders GROUP BY order_date, status;
BEGIN;
INSERT INTO etl_daily
  SELECT order_date, 'ALL' AS status, count(*) AS n_orders, sum(CAST(round(amount * 100) AS BIGINT)) AS cents
  FROM etl_orders GROUP BY order_date;
COMMIT;
DROP TABLE IF EXISTS etl_due;
CREATE TABLE etl_due AS
  SELECT order_id, NVL(NULL, priority, 'none') AS pri,
         DATEADD(day, 30, order_date) AS due
  FROM etl_orders WHERE amount > 4500;
"""
DAILY_SQL = f"""
  SELECT CAST(order_date AS VARCHAR) AS order_date, status, count(*) AS n_orders, {CENTS} AS cents
  FROM etl_orders GROUP BY order_date, status
  UNION ALL
  SELECT CAST(order_date AS VARCHAR), 'ALL', count(*), {CENTS}
  FROM etl_orders GROUP BY order_date
"""


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class EtlContext:
    """Paths and the DuckDB mirror of the ETL workload."""

    def __init__(self, ctx, paths: dict[str, list[str]], csv_root: str) -> None:
        self.ctx = ctx
        self.paths = paths
        self.csv_root = csv_root
        self.out_dir = os.path.join(ctx.work, "exports")
        self.input_bytes = sum(os.path.getsize(p) for ps in paths.values() for p in ps)
        self.warehouse = ctx.warehouse
        self.history_root = os.path.join(self.warehouse, "_bp_history")
        self.rows: dict[str, int] = {}  # verified rows moved per step

    def duck_table(self, sql: str):
        return self.ctx.duck.execute(sql).fetchdf()

    def mirror(self, sql: str) -> None:
        self.ctx.duck.execute(sql)

    def storage(self) -> dict[str, float]:
        """Storage read-outs at the end of a cycle."""
        hist = os.path.join(self.history_root, "default.etl_hist")
        with open(os.path.join(hist, "log.json")) as f:
            versions = len(json.load(f))
        return {
            "stored_bytes_per_input_byte": dir_bytes(self.warehouse) / self.input_bytes,
            "timetravel.bytes_per_version": dir_bytes(hist) / versions,
        }

    def csv_list(self, prefix: str) -> str:
        return "[" + ", ".join(f"'{p}'" for p in self.paths[prefix]) + "]"


class EtlOp(Op):
    """One pipeline step. ``verify`` records ``expected``, the return
    value every later (timed) run of the step must reproduce."""

    def __init__(self, name: str, layer: str, fn, verify_fn, moves: str | None = None) -> None:
        self.name, self.layer = name, layer
        self._fn, self._verify_fn = fn, verify_fn
        self.moves = moves  # "load" or "export": counted in that throughput
        self.expected = None

    def run(self, ctx, probe: Probe, warmup: bool = False):
        with probe.phase("call", self.layer):
            return self._fn(ctx.spark, ctx.etl)

    def check(self, ctx, value) -> list[str]:
        if self.expected is not None and value != self.expected:
            return [f"returned {value!r}, verified run returned {self.expected!r}"]
        return []

    def verify(self, ctx, value) -> list[str]:
        self.expected = value
        return self._verify_fn(ctx.spark, ctx.etl, value)

    def rows_moved(self, ctx) -> int:
        """Rows this step loads or exports, as verified."""
        return ctx.etl.rows.get(self.name, 0)


# --- steps ------------------------------------------------------------------


def _discover(spark, etl: EtlContext):
    from amazonredshift_blueprints_spark.ingest import (
        find_all_file_matches,
        find_all_local_file_names,
    )

    names = find_all_local_file_names(os.path.relpath(etl.csv_root))
    return tuple(
        len(find_all_file_matches(names, rf"{prefix}_\d+\.csv$"))
        for prefix in ("orders", "lines", "changes")
    )


def _verify_discover(spark, etl, value):
    want = tuple(len(etl.paths[p]) for p in ("orders", "lines", "changes"))
    return [] if value == want else [f"found {value} files, wrote {want}"]


def _half(etl, first: bool) -> list[str]:
    files = etl.paths["orders"]
    k = len(files) // 2
    return files[:k] if first else files[k:]


def _ingest_replace(spark, etl):
    from amazonredshift_blueprints_spark.ingest import ingest_csv

    return ingest_csv(spark, _half(etl, True), "etl_orders", insert_method="replace")


def _ingest_append(spark, etl):
    from amazonredshift_blueprints_spark.ingest import ingest_csv

    return ingest_csv(spark, _half(etl, False), "etl_orders", insert_method="append")


def _verify_ingest(first: bool):
    def verify(spark, etl, value):
        files = _half(etl, True) + ([] if first else _half(etl, False))
        src = "[" + ", ".join(f"'{p}'" for p in files) + "]"
        etl.mirror(f"CREATE OR REPLACE TABLE etl_orders AS SELECT * FROM read_csv({src}, header=true)")
        sql = f"SELECT count(*) AS n, {CENTS} AS cents FROM etl_orders"
        want, got = etl.duck_table(sql), spark.sql(sql).toPandas()
        loaded = int(want.n[0]) - (0 if first else etl.rows["ingest_replace"])
        etl.rows["ingest_replace" if first else "ingest_append"] = loaded
        problems = [] if value == int(want.n[0]) else [f"rows {value} != {int(want.n[0])}"]
        return problems + compare("etl_orders", got, want)

    return verify


def _copy_lines(spark, etl):
    from amazonredshift_blueprints_spark.sqlrun import execute_sql_script

    lines_dir = os.path.dirname(etl.paths["lines"][0])
    return execute_sql_script(
        spark,
        "DROP TABLE IF EXISTS etl_lines;\n"
        f"COPY etl_lines FROM '{lines_dir}' CSV DELIMITER ',' IGNOREHEADER 1;",
    )


def _verify_copy(spark, etl, value):
    etl.mirror(
        "CREATE OR REPLACE TABLE etl_lines AS SELECT * FROM "
        f"read_csv({etl.csv_list('lines')}, header=true)"
    )
    sql = "SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS q FROM etl_lines"
    etl.rows["copy_lines"] = int(etl.duck_table(sql).n[0])
    return compare("etl_lines", spark.sql(sql).toPandas(), etl.duck_table(sql))


def _sql_script(spark, etl):
    from amazonredshift_blueprints_spark.sqlrun import execute_sql_script

    return execute_sql_script(spark, SCRIPT)


def _verify_script(spark, etl, value):
    got = spark.sql(
        "SELECT CAST(order_date AS STRING) AS order_date, status, n_orders, cents FROM etl_daily"
    ).toPandas()
    problems = compare("etl_daily", got, etl.duck_table(DAILY_SQL))
    want = int(etl.duck_table("SELECT count(*) AS n FROM etl_orders WHERE amount > 4500").n[0])
    n_due = spark.table("etl_due").count()
    return problems + ([] if n_due == want else [f"etl_due rows {n_due} != {want}"])


def _unload(spark, etl):
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    path = os.path.join(etl.out_dir, "unload")
    execute_sql(
        spark,
        f"UNLOAD ('{UNLOAD_SQL}') TO '{path}' "
        "DELIMITER ',' HEADER ALLOWOVERWRITE",
    )


def _csv_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        p for p in glob.glob(os.path.join(path, "*")) if not os.path.basename(p).startswith(("_", "."))
    )


def _read_export(etl, path: str):
    files = [p for p in _csv_files(path) if os.path.getsize(p) > 0]
    return etl.duck_table(
        "SELECT * FROM read_csv([" + ", ".join(f"'{p}'" for p in files) + "], header=true)"
    )


def _delete(table: str, cond: str):
    def step(spark, etl):
        from amazonredshift_blueprints_spark import dml

        return dml.delete_from(spark, table, cond)

    return step


def _verify_delete(table: str, cond: str):
    def verify(spark, etl, value):
        want = int(etl.duck_table(f"SELECT count(*) AS n FROM {table} WHERE {cond}").n[0])
        etl.mirror(f"DELETE FROM {table} WHERE {cond}")
        return _table_matches(spark, etl, table) + (
            [] if value == want else [f"deleted {value} != {want}"]
        )

    return verify


def _table_matches(spark, etl, table: str) -> list[str]:
    sql = (
        f"SELECT count(*) AS n, count(DISTINCT order_id) AS ids, {CENTS} AS cents, "
        f"CAST(min(order_date) AS STRING) AS d0 FROM {table}"
    )
    return compare(table, spark.sql(sql).toPandas(), etl.duck_table(sql))


def _changes(spark, table: str, path: str):
    return spark.read.csv(path, header=True, schema=spark.table(table).schema)


def _merge(table: str, change_file: int):
    def step(spark, etl):
        from amazonredshift_blueprints_spark import dml

        source = _changes(spark, table, etl.paths["changes"][change_file])
        return tuple(dml.merge_into(spark, table, source, ["order_id"]))

    return step


def _verify_merge(table: str, change_file: int):
    def verify(spark, etl, value):
        src = f"read_csv('{etl.paths['changes'][change_file]}', header=true)"
        n_upd = int(etl.duck_table(
            f"SELECT count(*) AS n FROM {src} c WHERE c.order_id IN (SELECT order_id FROM {table})"
        ).n[0])
        n_src = int(etl.duck_table(f"SELECT count(*) AS n FROM {src}").n[0])
        etl.mirror(f"DELETE FROM {table} WHERE order_id IN (SELECT order_id FROM {src})")
        etl.mirror(f"INSERT INTO {table} SELECT {ORDERS_COLS} FROM {src}")
        want = (n_upd, n_src - n_upd, 0)
        return _table_matches(spark, etl, table) + (
            [] if value == want else [f"merge counts {value} != {want}"]
        )

    return verify


def _history_enable(spark, etl):
    from amazonredshift_blueprints_spark import timetravel

    spark.sql("DROP TABLE IF EXISTS etl_hist")
    timetravel.remove_history(spark, "etl_hist")
    spark.sql("CREATE TABLE etl_hist AS SELECT * FROM etl_orders")
    return timetravel.enable_history(spark, "etl_hist")


def _verify_history_enable(spark, etl, value):
    etl.mirror("CREATE OR REPLACE TABLE etl_hist AS SELECT * FROM etl_orders")
    return _table_matches(spark, etl, "etl_hist") + ([] if value == 0 else [f"version {value}"])


def _export(sql: str, name: str, single_file: bool):
    def step(spark, etl):
        from amazonredshift_blueprints_spark.export import store_query_results

        return store_query_results(
            spark, sql, os.path.join(etl.out_dir, name), single_file=single_file
        )

    return step


def _verify_export(step_name: str, sql: str, name: str):
    def verify(spark, etl, value):
        got = _read_export(etl, os.path.join(etl.out_dir, name))
        want = etl.duck_table(sql)
        etl.rows[step_name] = len(want)
        return compare(name, got, want) + (
            [] if value == len(want) else [f"returned {value} rows, expected {len(want)}"]
        )

    return verify


def _verify_unload(spark, etl, value):
    got = _read_export(etl, os.path.join(etl.out_dir, "unload"))
    want = etl.duck_table(UNLOAD_SQL)
    etl.rows["unload"] = len(want)
    return compare("unload", got, want)


def etl_ops(seed: int) -> list[Op]:
    """The cycle's steps, in pipeline order (the seed drives the data)."""
    return [
        EtlOp("discover", "ingest", _discover, _verify_discover),
        EtlOp("ingest_replace", "ingest", _ingest_replace, _verify_ingest(True), "load"),
        EtlOp("ingest_append", "ingest", _ingest_append, _verify_ingest(False), "load"),
        EtlOp("copy_lines", "sqlrun", _copy_lines, _verify_copy, "load"),
        EtlOp("sql_script", "sqlrun", _sql_script, _verify_script),
        EtlOp("unload", "sqlrun", _unload, _verify_unload, "export"),
        EtlOp("delete_plain", "dml", _delete("etl_orders", DELETE_PLAIN),
              _verify_delete("etl_orders", DELETE_PLAIN)),
        EtlOp("merge_plain", "dml", _merge("etl_orders", 0), _verify_merge("etl_orders", 0)),
        EtlOp("history_enable", "timetravel", _history_enable, _verify_history_enable),
        EtlOp("delete_history", "dml", _delete("etl_hist", DELETE_HIST),
              _verify_delete("etl_hist", DELETE_HIST)),
        EtlOp("merge_history", "dml", _merge("etl_hist", 1), _verify_merge("etl_hist", 1)),
        EtlOp("export_file", "export", _export(EXPORT_FILE_SQL, "summary.csv", True),
              _verify_export("export_file", EXPORT_FILE_SQL, "summary.csv"), "export"),
        EtlOp("export_dir", "export", _export(EXPORT_DIR_SQL, "lines_export", False),
              _verify_export("export_dir", EXPORT_DIR_SQL, "lines_export"), "export"),
    ]
