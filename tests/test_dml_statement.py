"""Every DML op gives the same answer on a plain table and on a
history-tracked table, at a pinned number of Spark jobs.

- Each op of dml.py runs on a plain managed table and on an identical
  history table: the return value and the final rows agree.
- The jobs each op runs on each table kind are pinned, so a change of
  the shared copy-on-write statement cannot add a scan unnoticed.
- An AST guard keeps the pre-image read, the touched-file probe, the
  lock and the publish inside the one statement helper of dml.py.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from amazonredshift_blueprints_spark import dml
from amazonredshift_blueprints_spark import timetravel as tt
from amazonredshift_blueprints_spark.ingest import _clean_stale_location

from .test_write_once import _jobs

_DML = Path(__file__).resolve().parent.parent / "amazonredshift_blueprints_spark" / "dml.py"

# every 150th key: keys 0..1950 match one target row each, 2100..2850
# match none (MERGE inserts them, SCD2 opens them); every source key is
# a multiple of 3, so each matched dimension row is current and SCD2
# closes 14 of them
_SOURCE = (
    "SELECT CAST(id * 150 AS INT) AS k, CAST(id + 100 AS INT) AS v, "
    "TIMESTAMP '2024-03-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to, "
    "true AS is_current FROM range(20)"
)

OPS = {
    "delete_from": lambda s, t, src: dml.delete_from(s, t, "k % 100 = 7"),
    "delete_from_all": lambda s, t, src: dml.delete_from(s, t, "1 = 1"),
    "delete_from_no_match": lambda s, t, src: dml.delete_from(s, t, "k < 0"),
    "update_table": lambda s, t, src: dml.update_table(
        s, t, {"v": "v + 1"}, "k % 100 = 7"
    ),
    "delete_using": lambda s, t, src: dml.delete_using(s, t, src, "k = _src_k"),
    "update_from": lambda s, t, src: dml.update_from(
        s, t, src, ["k"], {"v": "_src_v"}
    ),
    "merge_into": lambda s, t, src: dml.merge_into(s, t, src, ["k"]),
    "scd2_apply": lambda s, t, src: dml.scd2_apply(
        s, t, src.select("k", "v"), ["k"], ["v"], batch_ts="2024-06-01"
    ),
}

# Spark jobs per op: (plain table, history table), 2000 rows in 4 files
JOBS = {
    "delete_from": (1, 3),
    "delete_from_all": (1, 3),
    "delete_from_no_match": (1, 1),
    "update_table": (1, 3),
    "delete_using": (2, 2),
    "update_from": (4, 8),
    "merge_into": (3, 7),
    "scd2_apply": (5, 9),
}


def _fresh(spark, name: str, history: bool) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    tt.remove_history(spark, name)
    _clean_stale_location(spark, name, None)
    spark.range(2000, numPartitions=4).selectExpr(
        "CAST(id AS INT) AS k",
        "CAST(id % 7 AS INT) AS v",
        "TIMESTAMP '2024-01-01' AS valid_from",
        "CAST(NULL AS TIMESTAMP) AS valid_to",
        "id % 3 <> 1 AS is_current",
    ).write.format("parquet").saveAsTable(name)
    if history:
        tt.enable_history(spark, name)


@pytest.mark.parametrize("op", sorted(OPS))
def test_plain_and_history_tables_agree(spark, op):
    src = spark.sql(_SOURCE)
    out = {}
    for kind, history in (("plain", False), ("history", True)):
        name = f"dmls_{op}_{kind}"
        _fresh(spark, name, history)
        try:
            value, jobs = _jobs(spark, lambda: OPS[op](spark, name, src))
            rows = sorted(tuple(r) for r in spark.table(name).collect())
            out[kind] = (value, rows, jobs)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            tt.remove_history(spark, name)
    assert out["plain"][0] == out["history"][0]
    assert out["plain"][1] == out["history"][1]
    assert (out["plain"][2], out["history"][2]) == JOBS[op]


@pytest.mark.parametrize("history", [False, True], ids=["plain", "history"])
def test_constant_true_delete_counts_every_row(spark, history):
    """A constant-true condition folds the kept-rows filter; the count
    that rides below it must still arrive, and the table empties."""
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    try:
        _fresh(spark, "dmls_all", history)
        assert dml.delete_from(spark, "dmls_all", "1 = 1") == 2000
        assert spark.table("dmls_all").count() == 0
        for where in (" WHERE 1=1", " WHERE TRUE", ""):
            _fresh(spark, "dmls_all", history)
            execute_sql(spark, f"DELETE FROM dmls_all{where}")
            assert spark.table("dmls_all").count() == 0, where
    finally:
        spark.sql("DROP TABLE IF EXISTS dmls_all")
        tt.remove_history(spark, "dmls_all")


_GUARDED_CALLS = {
    "_read_files",
    "tip_entry",
    "entry_paths",
    "commit_replace",
    "resolve_active",
    "_table_lock",
}
_HELPER = {"_Statement", "_statement"}
_EXEMPT = {"_table_lock", "clean_stale_locks"}


def _sites() -> list[tuple[str, str]]:
    """``(top-level def, site)`` for every pre-image, probe, lock or
    publish site in dml.py: a guarded call, a ``_metadata`` string
    outside docstrings, or a ``by_name`` assignment."""
    tree = ast.parse(_DML.read_text())
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    out = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in _GUARDED_CALLS:
                    out.append((owner, name))
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "_metadata" in node.value
                and id(node) not in docs
            ):
                out.append((owner, "_metadata"))
            elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "by_name" for t in node.targets
            ):
                out.append((owner, "by_name"))
    return out


def test_one_statement_helper_owns_pre_image_probe_and_publish():
    sites = _sites()
    assert [s for s in sites if s[0] not in _HELPER | _EXEMPT] == []
    for what in ("_metadata", "commit_replace", "resolve_active", "by_name"):
        assert len([s for s in sites if s[1] == what]) == 1, what


def test_table_qualified_references_resolve_on_every_pre_image(spark):
    """``t.col`` in a statement resolves whether the pre-image is the
    catalog table, a history table's files or a transaction's stage."""
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    update = "UPDATE dmls_qual SET v = dmls_qual.v + 1 WHERE dmls_qual.k % 100 = 7"
    for history, txn in ((False, False), (True, False), (False, True)):
        _fresh(spark, "dmls_qual", history)
        try:
            if txn:
                execute_sql(spark, "BEGIN")
            try:
                execute_sql(spark, update)
            finally:
                if txn:
                    execute_sql(spark, "COMMIT")
            rows = spark.table("dmls_qual").collect()
        finally:
            spark.sql("DROP TABLE IF EXISTS dmls_qual")
            tt.remove_history(spark, "dmls_qual")
        # sum(k % 7 for k < 2000) = 5995, plus one for each of 20 rows
        assert sum(r.v for r in rows) == 5995 + 20


@pytest.mark.parametrize("kind", ["plain", "history", "transaction"])
def test_database_qualified_references_resolve_on_every_pre_image(spark, kind):
    """``db.t.col`` and ``catalog.db.t.col`` resolve on every pre-image,
    as on the catalog table."""
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    _fresh(spark, "dmls_dbq", kind == "history")
    try:
        if kind == "transaction":
            execute_sql(spark, "BEGIN")
        try:
            execute_sql(
                spark,
                "UPDATE default.dmls_dbq SET v = default.dmls_dbq.v + 1 "
                "WHERE spark_catalog.default.dmls_dbq.k % 100 = 7",
            )
            n = dml.delete_from(spark, "default.dmls_dbq", "default.dmls_dbq.k < 10")
        finally:
            if kind == "transaction":
                execute_sql(spark, "COMMIT")
        rows = spark.table("dmls_dbq").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS dmls_dbq")
        tt.remove_history(spark, "dmls_dbq")
    assert n == 10
    assert len(rows) == 1990
    # sum(k % 7 for 10 <= k < 2000) = 5995 - 24, plus one for each of
    # the 20 updated rows (k = 7 went with the delete)
    assert sum(r.v for r in rows) == 5995 - 24 + 19
