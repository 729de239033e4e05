"""PREPARE/EXECUTE and DECLARE CURSOR/FETCH statement families.

Reference basis: both families are plain Redshift statements that reach
the reference verbatim through its pass-through site (execute_sql.py:77)
— PREPARE/EXECUTE/DEALLOCATE for parameterized reuse, DECLARE ... CURSOR
FOR / FETCH / CLOSE for paged result consumption (the cursor dance
Redshift drivers run under the hood for big result sets; the reference's
own chunked fetch at store_query_results.py:103 is the pandas face of
the same pattern).

Spark-first lowering:
- A prepared statement is a session-scoped (name → (param types, SQL
  text)) registry entry; EXECUTE substitutes ``$n`` placeholders with
  the call's literal arguments — wrapped in ``CAST(arg AS type)`` when
  the PREPARE declared types, so coercion happens in the engine with
  engine semantics, not in Python — and runs the result through the
  normal statement dispatch.
- A cursor is a session-scoped entry that MATERIALIZES ONCE: the first
  FETCH runs the query exactly once, attaches a contiguous ``_rank``
  in result order, and snapshots the ranked result to parquet; every
  FETCH is a rank-range filter over that frozen snapshot and the
  offset advances arithmetically (Redshift's own cursors materialize
  the full result on the leader at DECLARE — same contract, but the
  snapshot is distributed, not driver-resident). Paging is
  deterministic even against concurrent base-table writes, because
  pages read the snapshot, not the table.

Registries are per-session namespaces keyed on the session object via
weakref (sessionstate.py — r13; the old ``id(spark)`` keys outlived
their session and a recycled id could leak state into a new one):
prepared statements and cursors are session state, dropped with the
session (CLOSE removes the snapshot directory). At 100 TB a FETCH page
is one parquet scan whose row-group reads are bounded by the pushed
rank-range predicate; the cursor never materializes on the driver.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..operators import checkpoint, pin, release
from ..sessionstate import session_state


def _prepared(spark: SparkSession) -> dict:
    return session_state(spark, "prepared")


def _cursors(spark: SparkSession) -> dict:
    return session_state(spark, "cursors")

_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+(\w+)\s*(?:\(([^)]*)\))?\s+AS\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*;?\s*$", re.IGNORECASE
)
_DECLARE_RE = re.compile(
    r"^\s*DECLARE\s+(\w+)\s+CURSOR\s+(?:WITHOUT\s+HOLD\s+)?FOR\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_FETCH_RE = re.compile(
    r"^\s*FETCH\s+(?:FORWARD\s+)?(ALL|\d+)\s+(?:FROM|IN)\s+(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_CLOSE_RE = re.compile(r"^\s*CLOSE\s+(\w+)\s*;?\s*$", re.IGNORECASE)

# Redshift parameter-type spellings → Spark CAST targets. Spark rejects
# length-less VARCHAR in CAST, so the string family maps to STRING.
_TYPE_MAP = {
    "varchar": "string",
    "char": "string",
    "text": "string",
    "bpchar": "string",
    "int2": "smallint",
    "int4": "int",
    "integer": "int",
    "int": "int",
    "int8": "bigint",
    "bigint": "bigint",
    "float4": "float",
    "real": "float",
    "float8": "double",
    "double precision": "double",
    "numeric": "decimal(18,2)",
    # a refcursor VALUE is the session-registry cursor NAME — the
    # Redshift result-set-returning idiom (procedures.py OPEN ... FOR)
    "refcursor": "string",
    "bool": "boolean",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
}


def _spark_type(t: str) -> str:
    base = re.sub(r"\(.*\)", "", t).strip().lower()
    if base in ("decimal", "numeric"):
        # precision/scale are semantic for decimals — stripping them
        # (the rule for varchar(n) etc.) silently made decimal(18,2)
        # into Spark's decimal(10,0) and rounded every value (r14)
        m = re.search(r"\(\s*\d+\s*(?:,\s*\d+\s*)?\)", t)
        if m:
            return "decimal" + re.sub(r"\s+", "", m.group(0))
        return "decimal(18,2)"  # bare NUMERIC: the pragmatic default
    return _TYPE_MAP.get(base, base)


def _split_args(arglist: str) -> list[str]:
    """Split EXECUTE's argument list on top-level commas, honoring
    single-quoted literals (with ``''`` doubling) and parentheses."""
    out, buf, depth, i, n = [], [], 0, 0, len(arglist)
    while i < n:
        ch = arglist[i]
        if ch == "'":
            buf.append(ch)
            i += 1
            while i < n:
                buf.append(arglist[i])
                if arglist[i] == "'":
                    if i + 1 < n and arglist[i + 1] == "'":
                        buf.append(arglist[i + 1])
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def prepare_statement(
    spark: SparkSession, name: str, types: list[str], sql: str
) -> None:
    _prepared(spark)[name.lower()] = (types, sql)


def substitute_prepared(spark: SparkSession, name: str, args: list[str]) -> str:
    """Resolve an EXECUTE call to its substituted SQL text."""
    entry = _prepared(spark).get(name.lower())
    if entry is None:
        raise ValueError(f"EXECUTE of unknown prepared statement {name!r}")
    types, sql = entry
    if types and len(args) != len(types):
        raise ValueError(
            f"prepared statement {name!r} takes {len(types)} argument(s), "
            f"got {len(args)}"
        )
    # Single-pass substitution: each $n in the ORIGINAL text is replaced
    # exactly once and substituted argument text is never rescanned (the
    # old sequential str.replace let an argument containing '$1' be
    # re-substituted by a later pass — r10 advisor). Placeholders inside
    # single-quoted literals are left untouched: the text is split into
    # quoted/unquoted segments and only unquoted segments are rewritten.
    def repl(m: re.Match) -> str:
        idx = int(m.group(1))
        if not 1 <= idx <= len(args):
            return m.group(0)  # out-of-range placeholder left verbatim
        arg = args[idx - 1]
        return f"CAST({arg} AS {_spark_type(types[idx - 1])})" if types else arg

    parts = re.split(r"('(?:[^']|'')*')", sql)  # odd indices = quoted
    return "".join(
        p if i % 2 else re.sub(r"\$(\d+)", repl, p)
        for i, p in enumerate(parts)
    )


def execute_prepared(
    spark: SparkSession, name: str, args: list[str]
) -> DataFrame:
    """EXECUTE returning the result DataFrame (the API face; the
    statement face in execute_sql runs it through the noop sink)."""
    from ..functions import translate_redshift_sql

    return spark.sql(translate_redshift_sql(substitute_prepared(spark, name, args)))


def declare_cursor(spark: SparkSession, name: str, select_sql: str) -> None:
    key = name.lower()
    if key in _cursors(spark):
        raise ValueError(f"cursor {name!r} already open (CLOSE it first)")
    _cursors(spark)[key] = {"sql": select_sql, "offset": 0, "path": None, "total": 0}


def _attach_contiguous_rank(df: DataFrame):
    """1-based contiguous ``_rank`` in the DataFrame's current global row
    order WITHOUT re-sorting or a single-partition window: an ordered
    query's output partitions are range-ordered, so rank = per-partition
    cumulative offset (P rows of driver metadata, broadcast-joined back
    on the partition id — the global_rank offset pattern) plus the
    within-partition row_number keyed by ``monotonically_increasing_id``
    (monotone within a partition, so it preserves file row order)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    staged = df.withColumn("_mid", F.monotonically_increasing_id()).withColumn(
        "_pid", F.spark_partition_id()
    )
    staged = pin(staged)
    counts = {
        r["_pid"]: r["cnt"]
        for r in staged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            offsets or [(0, 0)], "`_pid` INT, `_off` BIGINT"
        )
    )
    w = Window.partitionBy("_pid").orderBy("_mid")
    ranked = (
        staged.join(off_df, "_pid", "left")
        .withColumn(
            "_rank",
            (F.coalesce(F.col("_off"), F.lit(0)) + F.row_number().over(w)).cast(
                "long"
            ),
        )
        .drop("_pid", "_mid", "_off")
    )
    return ranked, staged, acc


def fetch_cursor(spark: SparkSession, name: str, count: int | None) -> DataFrame:
    """FETCH the next ``count`` rows (None = ALL remaining).

    Materialize-once paging (Redshift parity, r10 verdict item 6): the
    first FETCH runs the cursor's query exactly ONCE, attaches a
    contiguous 1-based ``_rank`` in result order, and writes the ranked
    result to a session-scoped parquet directory. Every FETCH — including
    the first — is then a rank-range filter over that frozen snapshot
    (``_rank > offset AND _rank <= offset+n``, pushed to the parquet
    scan so only matching row groups are read), and the offset advances
    ARITHMETICALLY from the total captured at materialization — no
    ``page.count()`` re-execution, and a concurrent base-table write can
    no longer desynchronize pages from bookkeeping (r10 advisor).
    Materialization is lazy (first FETCH, not DECLARE) so a never-
    fetched cursor costs nothing. 100 TB: the snapshot lands on
    distributed storage partition-parallel, never the driver; each page
    reads only the row groups its rank range touches."""
    import tempfile

    from pyspark.sql import functions as F

    from ..functions import translate_redshift_sql

    cur = _cursors(spark).get(name.lower())
    if cur is None:
        raise ValueError(f"FETCH from unknown/closed cursor {name!r}")
    if cur["path"] is None:
        base = spark.sql(translate_redshift_sql(cur["sql"]))
        ranked, staged, total = _attach_contiguous_rank(base)
        d = tempfile.mkdtemp(prefix="bp_cursor_")
        path = os.path.join(d, "snapshot")
        ranked.write.mode("overwrite").parquet(path)
        release(staged)
        cur["path"], cur["total"] = path, total
    off = cur["offset"]
    hi = cur["total"] if count is None else min(off + count, cur["total"])
    page = (
        spark.read.parquet(cur["path"])
        .where((F.col("_rank") > off) & (F.col("_rank") <= hi))
        .orderBy("_rank")
        .drop("_rank")
    )
    cur["offset"] = hi
    # Fetched rows belong to the client (Redshift cursor semantics): an
    # eager localCheckpoint makes the page self-contained, so it stays
    # valid after CLOSE removes the snapshot directory. Cost is one
    # page-sized materialization — the page was about to be consumed
    # anyway, and the rank-range parquet filter bounds what it reads.
    return checkpoint(page)


def close_cursor(spark: SparkSession, name: str) -> None:
    import shutil

    cur = _cursors(spark).pop(name.lower(), None)
    if cur is None:
        raise ValueError(f"CLOSE of unknown cursor {name!r}")
    if cur["path"] is not None:
        shutil.rmtree(os.path.dirname(cur["path"]), ignore_errors=True)


def maybe_handle(spark: SparkSession, query: str) -> bool:
    """Statement-face dispatch for both families; returns True when the
    statement was recognized and handled. EXECUTE and FETCH force full
    execution through the noop sink (reference parity: side effects and
    errors surface, no rows land on the driver)."""
    m = _PREPARE_RE.match(query)
    if m:
        name, typelist, sql = m.groups()
        types = (
            [t.strip() for t in typelist.split(",") if t.strip()]
            if typelist
            else []
        )
        prepare_statement(spark, name, types, sql)
        return True
    m = _EXECUTE_RE.match(query)
    if m:
        name, arglist = m.groups()
        args = _split_args(arglist) if arglist else []
        from ..sqlrun import execute_sql

        execute_sql(spark, substitute_prepared(spark, name, args))
        return True
    m = _DEALLOCATE_RE.match(query)
    if m:
        if _prepared(spark).pop(m.group(1).lower(), None) is None:
            raise ValueError(
                f"DEALLOCATE of unknown prepared statement {m.group(1)!r}"
            )
        return True
    m = _DECLARE_RE.match(query)
    if m:
        declare_cursor(spark, m.group(1), m.group(2))
        return True
    m = _FETCH_RE.match(query)
    if m:
        count = None if m.group(1).upper() == "ALL" else int(m.group(1))
        page = fetch_cursor(spark, m.group(2), count)
        page.write.format("noop").mode("overwrite").save()
        return True
    m = _CLOSE_RE.match(query)
    if m:
        close_cursor(spark, m.group(1))
        return True
    return False
