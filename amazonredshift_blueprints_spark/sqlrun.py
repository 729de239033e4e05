"""SQL statement pass-through: Spark-first rebuild of the reference's
``execute_sql.py`` blueprint.

Reference parity map:
- opaque statement execution, result discarded → execute_sql.py:62-79 (A10)
- CLI surface                                  → execute_sql.py:7-42 (A12)

The statement goes through the Redshift-dialect shim first, then
``spark.sql``; catalog mutations (CREATE/DROP/INSERT) apply to the
session catalog — the in-process analog of Redshift executing the DDL.
"""

from __future__ import annotations

import argparse
import re

from pyspark.sql import SparkSession

from .functions import sqllex, translate_redshift_sql

# Access-control statements Redshift scripts carry around their DML:
# GRANT/REVOKE/COMMENT ON are accepted as no-ops because the session
# catalog has no access-control layer to apply them to. BEGIN/COMMIT/
# ROLLBACK are REAL since round 9: they drive the staged-swap
# transaction buffer (transactions.py) — writes between BEGIN and
# COMMIT stage per-table under held writer locks, COMMIT publishes,
# ROLLBACK discards. ROLLBACK outside an open transaction still raises
# (prior statements auto-committed; pretending to undo them would lie).
_NOOP_STMT_RE = re.compile(
    r"^\s*(?:GRANT\b.*|REVOKE\b.*|COMMENT\s+ON\b.*)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_BEGIN_RE = re.compile(
    r"^\s*(?:BEGIN(?:\s+(?:WORK|TRANSACTION))?|START\s+TRANSACTION)\s*;?\s*$",
    re.IGNORECASE,
)
_COMMIT_RE = re.compile(
    r"^\s*(?:COMMIT(?:\s+(?:WORK|TRANSACTION))?|END(?:\s+(?:WORK|TRANSACTION))?)\s*;?\s*$",
    re.IGNORECASE,
)
_ROLLBACK_RE = re.compile(r"^\s*(?:ROLLBACK|ABORT)\b", re.IGNORECASE)
_ALTER_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([`\w.]+)\s+RENAME\s+TO\s+([`\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
# write statements routed through the transaction buffer when one is open
_INSERT_TARGET_RE = re.compile(
    r"^(\s*INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?)([`\w.]+)",
    re.IGNORECASE,
)
# Redshift's own "cannot run inside a transaction block" family: VACUUM,
# CREATE/REFRESH MATERIALIZED VIEW, CREATE EXTERNAL TABLE, ALTER TABLE
# layout changes. Refusing these inside BEGIN...COMMIT matches Redshift.
# TRUNCATE and DROP TABLE are also refused (r9 advisor): they would hit
# the REAL table while bypassing the staging buffer, and if the table
# was already staged, COMMIT's INSERT OVERWRITE would silently resurrect
# the pre-TRUNCATE rows. Redshift instead lets TRUNCATE implicitly
# commit the transaction — a silent commit is worse than a loud refusal,
# so here they must run outside BEGIN...COMMIT (documented divergence).
# Other DDL (CREATE TABLE, CTAS) executes but AUTO-COMMITS here instead
# of joining the transaction — a documented divergence (Redshift rolls
# DDL back; a catalog without a transaction log cannot).
_NON_TXN_STMT_RE = re.compile(
    r"^\s*(?:VACUUM|REFRESH\s+MATERIALIZED|CREATE\s+(?:MATERIALIZED|EXTERNAL)"
    r"|ALTER\s+TABLE|TRUNCATE\b|DROP\s+TABLE)",
    re.IGNORECASE,
)


def execute_sql(spark: SparkSession, query: str) -> None:
    """Execute an arbitrary statement; discard any result
    (execute_sql.py:77). Every completed statement is recorded in the
    session's query-history log (functions/system_tables.py —
    svl_qlog/stl_query views), aborted flag set when it raised."""
    from .functions.system_tables import record_statement

    try:
        _execute_sql_inner(spark, query)
    except BaseException:
        record_statement(spark, query, aborted=1)
        raise
    record_statement(spark, query, aborted=0)


def _execute_sql_inner(spark: SparkSession, query: str) -> None:
    """Dispatch one statement (the body of :func:`execute_sql`).

    ``COPY table FROM 'path'`` / ``UNLOAD ('sql') TO 'path'`` — the two
    Redshift statements the reference's own blueprints package as CLIs —
    are recognized here and lowered onto the native ingest/export layer
    (functions/copy_unload.py), so pass-through SQL that drove Redshift
    loads keeps working.

    Other DML/DDL statements execute eagerly inside ``spark.sql`` itself
    (their analyzed plan is a ``CommandResult``); for plain SELECTs the
    plan is forced through the no-op sink so the query *runs* (reference
    parity: side effects happen, errors surface) without materializing a
    single row on the driver — a ``.collect()`` here would OOM the
    driver on a large pass-through SELECT.
    """
    from . import transactions

    # leading comments would hide the statement from every ^-anchored
    # dispatch pattern below
    query = query[sqllex.skip_blank(query, 0) :]
    if re.search(r"\bAS\s+OF\b", query, re.IGNORECASE) and not re.match(
        r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:PROCEDURE|FUNCTION)\b",
        query,
        re.IGNORECASE,
    ):
        # time-travel SQL face: ``t VERSION AS OF n`` / ``t TIMESTAMP
        # AS OF ts`` resolve onto table_at snapshot views before any
        # dispatch, so SELECT/CTAS/INSERT...SELECT/DML subqueries all
        # read pinned manifests. Procedure/function BODIES are skipped
        # — their leaf statements resolve at CALL time, when each one
        # re-enters this dispatcher (resolving at CREATE would pin the
        # snapshot years early).
        from . import timetravel

        query = timetravel.resolve_time_travel(spark, query)
    if _BEGIN_RE.match(query):
        transactions.begin(spark)
        print("Your query has been successfully executed.")
        return
    if _COMMIT_RE.match(query):
        transactions.commit(spark)  # no-op when none open (auto-commit)
        print("Your query has been successfully executed.")
        return
    if _ROLLBACK_RE.match(query):
        transactions.rollback(spark)  # raises when none open
        print("Your query has been successfully executed.")
        return
    if _NOOP_STMT_RE.match(query):
        # access control: accepted so Redshift scripts run unmodified;
        # the no-ACL divergence is documented at the pattern definition
        print("Your query has been successfully executed.")
        return
    from .functions.prepared import maybe_handle as _prepared_maybe_handle

    if _prepared_maybe_handle(spark, query):
        # PREPARE/EXECUTE/DEALLOCATE + DECLARE CURSOR/FETCH/CLOSE;
        # EXECUTE recurses into execute_sql, so its inner statement
        # still gets COPY/UNLOAD lowering and transaction routing
        print("Your query has been successfully executed.")
        return
    from .functions.procedures import maybe_handle as _proc_maybe_handle

    if _proc_maybe_handle(spark, query):
        # CREATE/DROP PROCEDURE + CALL; CALL executes the registered
        # plpgsql body (statement tree, or execute_sql_script for
        # straight-line bodies) with each SQL leaf routed back through
        # this dispatcher in full (functions/procedures.py); OUT/INOUT
        # result rows surface via call_procedure_returning on the API
        # face — the statement face discards them like any result
        print("Your query has been successfully executed.")
        return
    from .functions.dml_statements import maybe_handle as _dml_maybe_handle

    if _dml_maybe_handle(spark, query):
        # DELETE/UPDATE/MERGE lowered onto dml.py's copy-on-write
        # implementations (Spark SQL refuses these verbs on v1 parquet
        # tables); the dml functions route through the transaction
        # buffer themselves via transactions.resolve_active
        print("Your query has been successfully executed.")
        return
    txn = transactions.active(spark)
    if txn is None:
        m = _ALTER_RENAME_RE.match(query)
        if m is not None:
            from . import timetravel

            if timetravel.is_history_table(spark, m.group(1)):
                # a bare catalog rename would DETACH the commit log
                # (the root is keyed by table name) — route through
                # the log-preserving rename
                timetravel.rename_history_table(
                    spark, m.group(1), m.group(2)
                )
                print("Your query has been successfully executed.")
                return
        m = _INSERT_TARGET_RE.match(query)
        if m is not None:
            from . import timetravel

            if timetravel.is_history_table(spark, m.group(2)):
                # history-tracked target: a native INSERT would append
                # into (or, OVERWRITE, delete files of) the LIVE
                # version directory — the snapshot the commit log's
                # tip points at — so it must publish as a new version
                timetravel.execute_insert(
                    spark,
                    m.group(2),
                    m.group(1),
                    query[m.end():],
                    overwrite=bool(
                        re.search(r"\bOVERWRITE\b", m.group(1), re.IGNORECASE)
                    ),
                )
                print("Your query has been successfully executed.")
                return
    if txn is not None:
        if _NON_TXN_STMT_RE.match(query):
            raise ValueError(
                "statement cannot run inside a transaction block (the "
                "Redshift rule for VACUUM/materialized views/external "
                "tables/ALTER TABLE): run it outside BEGIN...COMMIT: "
                f"{query[:80]!r}"
            )
        m = _INSERT_TARGET_RE.match(query)
        if m is not None:
            # route the INSERT at the transaction's staging table
            stage = txn.resolve_write(m.group(2))
            query = f"{m.group(1)}{stage}{query[m.end():]}"
    from .functions.copy_unload import (
        execute_alter_append,
        execute_alter_layout,
        execute_analyze,
        execute_copy,
        execute_create_function,
        execute_materialized_view,
        execute_unload,
        execute_vacuum,
        parse_alter_append,
        parse_alter_layout,
        parse_analyze,
        parse_copy,
        parse_create_function,
        parse_materialized_view,
        parse_unload,
        parse_vacuum,
    )

    for parse, execute in (
        (parse_copy, execute_copy),
        (parse_unload, execute_unload),
        (parse_vacuum, execute_vacuum),
        (parse_analyze, execute_analyze),
        (parse_materialized_view, execute_materialized_view),
        (parse_create_function, execute_create_function),
        (parse_alter_append, execute_alter_append),
        (parse_alter_layout, execute_alter_layout),
    ):
        spec = parse(query)
        if spec is not None:
            if txn is None and parse is parse_copy:
                from . import timetravel

                full = (
                    f"{spec.schema_name}.{spec.table}"
                    if spec.schema_name
                    else spec.table
                )
                if timetravel.is_history_table(spark, full):
                    # history-tracked COPY target (r14 advisor): the
                    # native path appends files into the LIVE version
                    # directory — the snapshot the commit log's tip
                    # points at — so it must publish as an append
                    # commit (O(new files), like INSERT INTO)
                    timetravel.execute_copy_history(spark, spec, execute)
                    print("Your query has been successfully executed.")
                    return
            if txn is not None and parse is parse_copy:
                # COPY loads stage inside an open transaction
                full = (
                    f"{spec.schema_name}.{spec.table}"
                    if spec.schema_name
                    else spec.table
                )
                spec.table = txn.resolve_write(full)
                spec.schema_name = None
            execute(spark, spec)
            print("Your query has been successfully executed.")
            return
    from .functions.system_tables import maybe_register_system_views

    maybe_register_system_views(spark, query)
    df = spark.sql(translate_redshift_sql(query))
    analyzed = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    if "Command" not in analyzed:
        df.write.format("noop").mode("overwrite").save()
    print("Your query has been successfully executed.")  # execute_sql.py:78-79 analog


def split_statements(text: str) -> list[str]:
    """Split a SQL script into statements at each ``;`` in code
    (:mod:`.functions.sqllex`). Leading blanks and comments are stripped
    from each statement; empty statements are dropped."""
    out, i = [], 0
    while i < len(text):
        stmt, i = sqllex.statement(text, i)
        stmt = stmt[sqllex.skip_blank(stmt, 0) :]
        if stmt:
            out.append(stmt)
    return out


def execute_sql_script(spark: SparkSession, script: str) -> int:
    """Run a multi-statement SQL script — the form Redshift users
    actually keep in files (BEGIN; COPY ...; MERGE ...; COMMIT;) and
    hand to the reference one statement at a time. Statements execute
    sequentially through :func:`execute_sql` (each auto-commits — the
    documented transaction divergence; a mid-script failure leaves the
    earlier statements' effects in place, and the raised error names
    the failing statement index). Returns the number of statements
    executed."""
    from . import transactions

    entered_with = transactions.active(spark)
    stmts = split_statements(script)
    for idx, stmt in enumerate(stmts):
        try:
            execute_sql(spark, stmt)
        except Exception as e:
            # a transaction OPENED BY THIS SCRIPT must not dangle past
            # the failure (the next script would hit "nested BEGIN" and
            # its staged tables/locks would leak) — roll it back, which
            # is also what Redshift does to an aborted transaction
            txn = transactions.active(spark)
            rolled = ""
            if txn is not None and txn is not entered_with:
                txn.rollback()
                rolled = " (open transaction rolled back)"
            # RuntimeError wrapper: PySpark's captured exceptions can't
            # be re-instantiated from a plain message; the original is
            # chained (``from e``) with its full analysis detail
            raise RuntimeError(
                f"statement {idx + 1}/{len(stmts)} failed{rolled}: "
                f"{stmt[:120]!r}: {e}"
            ) from e
    return len(stmts)


def get_args(argv: list[str] | None = None) -> argparse.Namespace:
    """CLI surface mirroring execute_sql.py:7-42, connection args
    included for arg-level parity; see :func:`main` for the documented
    execution boundary."""
    from .sources.jdbc import add_connection_args

    parser = argparse.ArgumentParser(description=__doc__)
    add_connection_args(parser)
    g = parser.add_mutually_exclusive_group(required=True)
    g.add_argument("--query", dest="query")
    g.add_argument(
        "--script-file",
        dest="script_file",
        help="path to a multi-statement .sql script (top-level ';' split)",
    )
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    from .session import get_spark, register_tables
    from .sources.jdbc import connection_options_from_args

    args = get_args(argv)
    jdbc_opts = connection_options_from_args(args)
    if jdbc_opts is not None:
        # Validated for parity, but honestly refused: Spark's JDBC data
        # source reads tables/queries — it cannot execute arbitrary
        # statements server-side (that is a direct-connection feature,
        # execute_sql.py:77). Row-returning queries belong to the export
        # CLI's JDBC path; loads to the ingest CLI's.
        raise NotImplementedError(
            "server-side statement execution needs a direct warehouse "
            "connection, which the Spark JDBC data source does not provide; "
            "use the export CLI (--query + connection args) for warehouse "
            "queries or the ingest CLI for loads"
        )
    spark = get_spark("execute-sql")
    register_tables(spark)
    if args.script_file:
        with open(args.script_file) as fh:
            execute_sql_script(spark, fh.read())
    else:
        execute_sql(spark, args.query)


if __name__ == "__main__":
    main()
