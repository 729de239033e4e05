"""Redshift → Spark SQL dialect translation (string-level shim).

Reference basis: the two SQL pass-through sites
(``store_query_results.py:132→103``, ``execute_sql.py:64→77``) accept any
Redshift SQL. Spark SQL is near-identical; the known deltas we shim:

- ``DATEDIFF(unit, start, end)`` (Redshift arg order, boundary-crossing
  semantics) vs Spark ``datediff(end, start)`` (days only).
- ``GETDATE()`` / ``SYSDATE`` → ``current_timestamp()``.
- ``LEN(x)`` → ``length(x)``.
- ``CHARINDEX(substr, str)`` → ``instr(str, substr)`` (arg swap).
- ``STRTOL(x, base)`` → ``CAST(conv(x, base, 10) AS BIGINT)``.
- ``CONVERT_TIMEZONE([src,] tgt, ts)`` → ``from_utc_timestamp`` /
  ``to_utc_timestamp`` composition (Redshift's src default is UTC).
- ``TO_CHAR(expr, 'datefmt')`` → ``date_format(expr, javafmt)`` for the
  common Oracle-style date patterns (YYYY, MM, DD, HH24, MI, SS, ...).
- ``TO_DATE(str, 'datefmt')`` / ``TO_TIMESTAMP(str, 'datefmt')`` →
  ``to_date``/``to_timestamp`` with the same pattern translation (the
  parse direction of the TO_CHAR mapping).
- ``SELECT TOP n ...`` (Redshift/T-SQL row limit) → ``SELECT ... LIMIT n``
  appended after any ORDER BY. Top-level statements only.
- ``QUALIFY <pred>`` (window-function filter; Spark SQL has no QUALIFY)
  → the predicate is materialized as a hidden column in a subquery and
  filtered in an outer ``SELECT * EXCEPT``. Top-level, non-DISTINCT
  SELECTs only; anything else passes through untouched.
- ``expr [NOT] SIMILAR TO 'pattern'`` (SQL-standard pattern language;
  Spark SQL has no SIMILAR TO) → ``[NOT] RLIKE`` on the anchored regex
  translation (``%``→``.*``, ``_``→``.``, ``.`` escaped — SQL treats it
  as a LITERAL, the divergence naive shims miss); ``ESCAPE`` forms pass
  through untouched.
- ``RATIO_TO_REPORT(x) OVER (w)`` (Redshift-only window function) →
  ``CAST(x AS DOUBLE) / nullif(CAST(SUM(x) OVER (w) AS DOUBLE), 0)``;
  zero/NULL window sums yield NULL, matching Redshift.
- ``NVL(a, b, c, ...)`` with >2 args (Redshift's NVL is variadic) →
  ``coalesce(...)``; 2-arg NVL passes through (Spark has it natively).
- Physical-layout DDL clauses — ``DISTSTYLE ...``, ``DISTKEY(...)``,
  ``[COMPOUND|INTERLEAVED] SORTKEY(...)``, column-level ``ENCODE x`` —
  are stripped: they configure Redshift's distribution/sort/compression,
  which Spark SQL does not parse. The Spark analogs (bucketing via
  ``CLUSTERED BY``, parquet encodings) are writer options, not CREATE
  TABLE clauses; migrating DDL keeps its relational content.

Everything else (NVL, NVL2, DECODE, SPLIT_PART, ILIKE, MEDIAN, LISTAGG,
PERCENTILE_CONT, APPROXIMATE COUNT(DISTINCT) → approx_count_distinct, ...)
either exists in Spark under the same name or is translated here.

The shim is regex-based and intentionally conservative: it only rewrites
call sites it fully parses; anything else passes through untouched so
valid Spark SQL is never corrupted.
"""

from __future__ import annotations

import re

from . import sqllex

# Redshift DATEDIFF counts *boundary crossings* of the unit, not elapsed
# intervals. For each unit, a Spark expression with identical semantics.
_DATEDIFF_TEMPLATES = {
    "day": "datediff(CAST(({end}) AS DATE), CAST(({start}) AS DATE))",
    "week": "CAST(floor(datediff(CAST(({end}) AS DATE), CAST(({start}) AS DATE)) / 7) AS INT)",
    "month": "((year({end}) * 12 + month({end})) - (year({start}) * 12 + month({start})))",
    "quarter": "((year({end}) * 4 + quarter({end})) - (year({start}) * 4 + quarter({start})))",
    "year": "(year({end}) - year({start}))",
    "hour": "CAST((unix_timestamp(date_trunc('hour', {end})) - unix_timestamp(date_trunc('hour', {start}))) / 3600 AS BIGINT)",
    "minute": "CAST((unix_timestamp(date_trunc('minute', {end})) - unix_timestamp(date_trunc('minute', {start}))) / 60 AS BIGINT)",
    "second": "CAST(unix_timestamp(date_trunc('second', {end})) - unix_timestamp(date_trunc('second', {start})) AS BIGINT)",
}

_UNIT_ALIASES = {
    "d": "day", "days": "day",
    "w": "week", "weeks": "week",
    "mon": "month", "mons": "month", "months": "month",
    "qtr": "quarter", "quarters": "quarter",
    "y": "year", "yr": "year", "yrs": "year", "years": "year",
    "h": "hour", "hr": "hour", "hrs": "hour", "hours": "hour",
    "m": "minute", "min": "minute", "mins": "minute", "minutes": "minute",
    "s": "second", "sec": "second", "secs": "second", "seconds": "second",
}


def _find_call(sql: str, func: str, start: int = 0) -> tuple[int, int, str] | None:
    """Locate ``func( ... )`` returning (start, end, inner) with balanced parens."""
    pat = re.compile(rf"\b{func}\s*\(", re.IGNORECASE)
    m = sqllex.find(sql, pat, start, top=False)
    close = None if m is None else sqllex.close_paren(sql, m.end() - 1)
    if close is None:
        return None
    return m.start(), close + 1, sql[m.end() : close]


# Oracle-style TO_CHAR date patterns → java.time format letters. Ordered
# longest-first so e.g. 'MONTH' is consumed before 'MON' and 'MM'. Only
# date/time patterns are mapped; a TO_CHAR with unrecognized pattern
# characters is left untouched (numeric TO_CHAR, e.g. '999,999', is out
# of scope for the shim).
_TO_CHAR_PATTERNS = [
    ("YYYY", "yyyy"),
    ("YY", "yy"),
    ("MONTH", "MMMM"),
    ("MON", "MMM"),
    ("MM", "MM"),
    ("DDD", "DDD"),
    ("DD", "dd"),
    ("DY", "EEE"),
    ("DAY", "EEEE"),
    ("HH24", "HH"),
    ("HH12", "hh"),
    ("HH", "hh"),
    ("MI", "mm"),
    ("SS", "ss"),
    ("MS", "SSS"),
    ("AM", "a"),
    ("PM", "a"),
    ("Q", "Q"),
]
_TO_CHAR_SEPARATORS = set(" -/,.:;")


def _translate_datetime_format(fmt: str) -> str | None:
    """Oracle/Redshift date format → java.time pattern, or None if any
    token is unrecognized (caller then leaves the call site untouched)."""
    out = []
    i = 0
    up = fmt.upper()
    while i < len(fmt):
        if fmt[i] in _TO_CHAR_SEPARATORS:
            out.append(fmt[i])
            i += 1
            continue
        for pat, java in _TO_CHAR_PATTERNS:
            if up.startswith(pat, i):
                out.append(java)
                i += len(pat)
                break
        else:
            return None
    return "".join(out)


def _rewrite_calls(sql: str, func: str, fn) -> str:
    """Rewrite every ``func(...)`` call site with ``fn(args) -> str|None``.

    ``fn`` returns the replacement expression, or None to leave the call
    site untouched (unparseable / out-of-scope arity). Literals and
    comments are never rewritten (_find_call skips them)."""
    pos = 0
    while True:
        hit = _find_call(sql, func, pos)
        if hit is None:
            return sql
        s, e, inner = hit
        repl = fn(sqllex.split(inner))
        if repl is None:
            pos = e
            continue
        sql = sql[:s] + repl + sql[e:]
        pos = s + len(repl)


def _datediff_call(args: list[str]) -> str | None:
    """DATEDIFF(unit, start, end) → the unit's Spark expression; the
    two-arg Spark datediff and unknown units pass through."""
    if len(args) != 3:
        return None
    unit = args[0].strip("'\" ").lower()
    template = _DATEDIFF_TEMPLATES.get(_UNIT_ALIASES.get(unit, unit))
    return template and template.format(start=args[1], end=args[2])


def _len_call(args: list[str]) -> str | None:
    return f"length({args[0]})" if len(args) == 1 else None


def _charindex_call(args: list[str]) -> str | None:
    # CHARINDEX(substring, string) → instr(string, substring): same
    # 1-based, 0-when-absent contract, swapped args.
    return f"instr({args[1]}, {args[0]})" if len(args) == 2 else None


def _strtol_call(args: list[str]) -> str | None:
    return f"CAST(conv({args[0]}, {args[1]}, 10) AS BIGINT)" if len(args) == 2 else None


_TIMESTAMPADD_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
}


def _dateadd_call(args: list[str]) -> str | None:
    """``DATEADD(unit, n, ts)`` → ``timestampadd(UNIT, n, ts)``.

    Redshift accepts the unit bare or quoted and with the same alias set
    as DATEDIFF; Spark's ``timestampadd`` wants a bare keyword."""
    if len(args) != 3:
        return None
    unit = args[0].strip().strip("'\"").lower()
    unit = _UNIT_ALIASES.get(unit, unit)
    if unit not in _TIMESTAMPADD_UNITS:
        return None
    return f"timestampadd({unit.upper()}, {args[1].strip()}, {args[2].strip()})"


def _date_part_call(args: list[str]) -> str | None:
    """``DATE_PART(part, ts)`` (bare or quoted part) → Spark
    ``date_part('part', ts)`` (part must be a string literal)."""
    if len(args) != 2:
        return None
    part = args[0].strip().strip("'\"").lower()
    part = _UNIT_ALIASES.get(part, part)
    return f"date_part('{part}', {args[1].strip()})"


def _convert_timezone_call(args: list[str]) -> str | None:
    if len(args) == 2:  # source defaults to UTC (Redshift doc'd behavior)
        tgt, ts = args
        return f"from_utc_timestamp({ts}, {tgt})"
    if len(args) == 3:
        src, tgt, ts = args
        return f"from_utc_timestamp(to_utc_timestamp({ts}, {src}), {tgt})"
    return None


def _to_char_call(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    fmt = args[1].strip()
    if not (len(fmt) >= 2 and fmt[0] == "'" and fmt[-1] == "'"):
        return None  # non-literal format: can't translate statically
    java = _translate_datetime_format(fmt[1:-1])
    if java is None:
        return None  # numeric/unknown pattern: leave untouched
    return f"date_format({args[0]}, '{java}')"


def _to_parse_call(spark_fn: str):
    """TO_DATE/TO_TIMESTAMP(str, 'fmt') → to_date/to_timestamp: the parse
    direction of the TO_CHAR pattern mapping. One-arg calls (Redshift
    accepts a bare ISO string) pass through — Spark's one-arg forms have
    the same semantics."""

    def call(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        fmt = args[1].strip()
        if not (len(fmt) >= 2 and fmt[0] == "'" and fmt[-1] == "'"):
            return None
        java = _translate_datetime_format(fmt[1:-1])
        if java is None:
            return None
        return f"{spark_fn}({args[0]}, '{java}')"

    return call


_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_FROM_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
_TAIL_RE = re.compile(r"\bORDER\s+BY\b|\bLIMIT\b", re.IGNORECASE)
_DISTINCT_HEAD_RE = re.compile(r"^\s*SELECT\s+DISTINCT\b", re.IGNORECASE)


def _rewrite_qualify(sql: str) -> str:
    """``SELECT ... FROM ... QUALIFY pred [ORDER BY/LIMIT ...]`` →

    ``SELECT * EXCEPT (__qualify) FROM (SELECT ..., (pred) AS __qualify
    FROM ...) WHERE __qualify [ORDER BY/LIMIT ...]``.

    Window expressions are legal in a select list but not in WHERE, so the
    predicate is computed as a column one query level down — the same
    lowering every engine with native QUALIFY performs. Conservative
    scope: top-level QUALIFY only (subqueries pass through), and DISTINCT
    selects are skipped because adding the hidden column would change the
    dedup key.
    """
    m = sqllex.find(sql, _QUALIFY_RE)
    if m is None or _DISTINCT_HEAD_RE.match(sql):
        return sql
    head = sql[: m.start()].rstrip()
    rest = sql[m.end():]
    fm = sqllex.find(head, _FROM_RE)
    if fm is None:
        return sql
    tm = sqllex.find(rest, _TAIL_RE)
    pred = (rest[: tm.start()] if tm else rest).strip()
    tail = " " + rest[tm.start():].strip() if tm else ""
    inner = f"{head[: fm.start()].rstrip()}, ({pred}) AS __qualify {head[fm.start():]}"
    return f"SELECT * EXCEPT (__qualify) FROM ({inner}) WHERE __qualify{tail}"


_TOP_RE = re.compile(r"^(\s*SELECT\s+)TOP\s+(\d+)\s+", re.IGNORECASE)
_TRAILING_LIMIT_RE = re.compile(r"\bLIMIT\s+\d+\s*;?\s*$", re.IGNORECASE)


_CREATE_LIKE_RE = re.compile(
    r"(\bCREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"[\w.]+\s*)\(\s*LIKE\s+([\w.]+)"
    r"(?:\s+(?:INCLUDING|EXCLUDING)\s+DEFAULTS)?\s*\)",
    re.IGNORECASE,
)


def _rewrite_create_like(sql: str) -> str:
    """Redshift/Postgres ``CREATE TABLE t2 (LIKE t1 [INCLUDING|EXCLUDING
    DEFAULTS])`` → Spark's unparenthesized ``CREATE TABLE t2 LIKE t1``.
    The DEFAULTS modifier is dropped: the session catalog has no column
    defaults to copy either way (same no-op class as DISTSTYLE)."""
    return sqllex.sub(_CREATE_LIKE_RE, r"\1LIKE \2", sql)


def _rewrite_top(sql: str) -> str:
    """``SELECT TOP n ...`` → ``SELECT ... LIMIT n`` (whole-statement only).

    LIMIT binds after ORDER BY, so appending at the end preserves
    Redshift's TOP semantics. Skipped if the statement already ends in
    its own LIMIT (TOP and LIMIT are mutually exclusive in Redshift, so
    the combination is malformed input we leave untouched).
    """
    m = _TOP_RE.match(sql)
    if m is None or _TRAILING_LIMIT_RE.search(sql):
        return sql
    body = sql[: m.start(0)] + m.group(1) + sql[m.end(0):]
    stripped = body.rstrip()
    semi = stripped.endswith(";")
    if semi:
        stripped = stripped[:-1].rstrip()
    return f"{stripped} LIMIT {m.group(2)}" + (";" if semi else "")


_SIMILAR_TO_RE = re.compile(
    r"(\bNOT\s+)?\bSIMILAR\s+TO\s+('(?:[^']|'')*')", re.IGNORECASE
)


def _similar_pattern_to_regex(pat: str) -> str:
    """SQL-standard SIMILAR TO pattern → anchored Java/RE2 regex.

    SIMILAR TO semantics (SQL standard / Redshift): ``%`` = any string,
    ``_`` = any char; ``| * + ? ( ) { }`` keep their regex meanings;
    bracket classes pass through; EVERY OTHER character is a literal —
    notably ``.``, which IS special in a true regex, so it must be
    escaped (the one divergence naive LIKE→regex shims miss).
    Backslash quotes the next character (the default escape).
    """
    out: list[str] = []
    i, n = 0, len(pat)
    while i < n:
        ch = pat[i]
        if ch == "\\" and i + 1 < n:
            out.append(re.escape(pat[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        elif ch == "[":
            j = pat.find("]", i + 1)
            if j < 0:
                out.append(re.escape(ch))
            else:
                out.append(pat[i : j + 1])
                i = j
        elif ch in "|*+?(){}":
            out.append(ch)
        else:
            out.append(re.escape(ch))
        i += 1
    return "^(?:" + "".join(out) + ")$"


def _rewrite_similar_to(sql: str) -> str:
    """``expr [NOT] SIMILAR TO '<pattern>'`` → ``expr [NOT] RLIKE
    '<anchored regex>'`` — Spark SQL has no SIMILAR TO at all. Custom
    ``ESCAPE`` clauses are left untouched (conservative pass-through);
    backslashes in the emitted literal are doubled because Spark's
    string parser consumes one level of escaping."""

    def repl(m: re.Match) -> str:
        if re.match(r"\s+ESCAPE\b", sql[m.end():], re.IGNORECASE):
            return m.group(0)  # custom escape char: do not guess
        raw = m.group(2)[1:-1].replace("''", "'")
        rx = _similar_pattern_to_regex(raw)
        lit = rx.replace("\\", "\\\\").replace("'", "''")
        return f"{'NOT ' if m.group(1) else ''}RLIKE '{lit}'"

    return sqllex.sub(_SIMILAR_TO_RE, repl, sql)


_OVER_OPEN_RE = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)


def _rewrite_ratio_to_report(sql: str) -> str:
    """``RATIO_TO_REPORT(x) OVER (w)`` → the share-of-window division
    Spark lacks a native function for::

        (CAST(x AS DOUBLE) / nullif(CAST(SUM(x) OVER (w) AS DOUBLE), 0))

    The window SUM runs in ``x``'s own type — pass a decimal expression
    and the sum is exact/order-independent (both operands then cast to
    double for one deterministic division); pass a double and you get
    Redshift's own float-sum semantics. A zero denominator yields NULL
    (Redshift returns NULL when the window sum is 0 or NULL). Call
    sites without a following OVER clause are left untouched.
    """
    pos = 0
    while True:
        hit = _find_call(sql, "RATIO_TO_REPORT", pos)
        if hit is None:
            return sql
        s, e, inner = hit
        m = _OVER_OPEN_RE.match(sql, e)
        close = None if m is None else sqllex.close_paren(sql, m.end() - 1)
        if close is None:
            pos = e
            continue
        win = sql[m.end() : close]
        x = inner.strip()
        repl = (
            f"(CAST({x} AS DOUBLE) / "
            f"nullif(CAST(SUM({x}) OVER ({win}) AS DOUBLE), 0))"
        )
        sql = sql[:s] + repl + sql[close + 1 :]
        pos = s + len(repl)


def _nvl_call(args: list[str]) -> str | None:
    # Redshift NVL is variadic; Spark's is strictly 2-arg. Leave 2-arg
    # calls alone (native) and lower 3+ to coalesce.
    return f"coalesce({', '.join(args)})" if len(args) > 2 else None


_LAYOUT_CLAUSES = [
    re.compile(r"\bDISTSTYLE\s+(?:EVEN|ALL|KEY|AUTO)\b", re.IGNORECASE),
    re.compile(r"\bDISTKEY\s*\([^)]*\)", re.IGNORECASE),
    re.compile(r"\b(?:COMPOUND\s+|INTERLEAVED\s+)?SORTKEY\s*\([^)]*\)", re.IGNORECASE),
    re.compile(r"\bENCODE\s+\w+\b", re.IGNORECASE),
    # BACKUP YES|NO: Redshift snapshot opt-out — no analog, stripped
    re.compile(r"\bBACKUP\s+(?:YES|NO)\b", re.IGNORECASE),
    # IDENTITY(seed, step): stripped with a documented divergence — the
    # session catalog generates no values, so inserts must supply the
    # column (Redshift auto-generates). GENERATED BY DEFAULT AS IDENTITY
    # is the long-form spelling of the same clause.
    re.compile(
        r"\b(?:GENERATED\s+BY\s+DEFAULT\s+AS\s+)?IDENTITY\s*\(\s*\d+\s*,\s*\d+\s*\)",
        re.IGNORECASE,
    ),
]

# table (lowercased, as written in the DDL) → declared SORTKEY columns.
# Spark has no sort-key table property for parquet tables, so the shim
# records the clause it strips; VACUUM (functions/copy_unload.py) reads
# it back to sort the rewrite — the Redshift behavior where VACUUM
# restores SORTKEY order. Session-scoped, best-effort: a table created
# outside the shim simply has no registered key and VACUUM compacts
# without sorting.
SORTKEY_REGISTRY: dict[str, list[str]] = {}

_CREATE_TABLE_RE = re.compile(
    r"\bCREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_][\w.]*)",
    re.IGNORECASE,
)
_SORTKEY_COLS_RE = re.compile(
    r"\b(?:COMPOUND\s+|INTERLEAVED\s+)?SORTKEY\s*\(([^)]*)\)", re.IGNORECASE
)


def _record_sortkey(sql: str) -> None:
    m = sqllex.find(sql, _CREATE_TABLE_RE, top=False)
    sk = m and sqllex.find(sql, _SORTKEY_COLS_RE, top=False)
    if sk is None:
        return
    cols = [c.strip().strip('"').lower() for c in sk.group(1).split(",") if c.strip()]
    if cols:
        SORTKEY_REGISTRY[m.group(1).lower()] = cols


_BLANKS_RE = re.compile(r"[ \t]{2,}")
_BLANK_BEFORE_RE = re.compile(r"[ \t]+([,)])")
_BLANK_EOL_RE = re.compile(r"[ \t]+(\n|$)")


def _strip_layout_clauses(sql: str) -> str:
    """Remove Redshift physical-layout DDL clauses Spark cannot parse.
    SQL without such clauses passes through byte-identical; a stripped
    SORTKEY is recorded in :data:`SORTKEY_REGISTRY` for VACUUM."""
    _record_sortkey(sql)
    out = sql
    for pat in _LAYOUT_CLAUSES:
        out = sqllex.sub(pat, "", out)
    if out == sql:
        return sql
    out = sqllex.sub(_BLANKS_RE, " ", out)
    out = sqllex.sub(_BLANK_BEFORE_RE, r"\1", out)  # "INT ," after a strip → "INT,"
    return sqllex.sub(_BLANK_EOL_RE, r"\1", out)


_EXTERNAL_TABLE_HEAD_RE = re.compile(
    r"CREATE\s+EXTERNAL\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_][\w.]*)\s*\(",
    re.IGNORECASE,
)
_EXTERNAL_TAIL_RE = re.compile(
    r"\s*(.*?)\s*LOCATION\s+'([^']+)'\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_ROW_DELIM_RE = re.compile(
    r"ROW\s+FORMAT\s+DELIMITED\s+FIELDS\s+TERMINATED\s+BY\s+'((?:[^']|'')*)'",
    re.IGNORECASE,
)
_STORED_AS_RE = re.compile(r"STORED\s+AS\s+(\w+)", re.IGNORECASE)
_PARTITIONED_BY_RE = re.compile(
    # one paren-nesting level inside: column types like VARCHAR(2) /
    # DECIMAL(10,2) appear in the partition column list
    r"PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\)", re.IGNORECASE
)


def _rewrite_external_table(sql: str) -> str:
    """Redshift Spectrum DDL → Spark external-table DDL:
    ``CREATE EXTERNAL TABLE t (cols) [ROW FORMAT DELIMITED FIELDS
    TERMINATED BY 'x'] STORED AS PARQUET|TEXTFILE|ORC|JSON LOCATION
    'path'`` becomes ``CREATE TABLE t (cols) USING <format>
    [OPTIONS (...)] LOCATION 'path'`` — the same unmanaged-files-in-
    place table object, pointed at whatever filesystem Spark reaches.
    TEXTFILE maps to the CSV reader with the declared delimiter
    (Redshift's delimited-text default)."""
    m = sqllex.find(sql, _EXTERNAL_TABLE_HEAD_RE, top=False)
    if m is None:
        return sql
    name = m.group(1)
    close = sqllex.close_paren(sql, m.end() - 1)
    if close is None:
        raise ValueError("CREATE EXTERNAL TABLE: unbalanced column list")
    cols = sql[m.end() - 1 : close + 1]
    tm = _EXTERNAL_TAIL_RE.match(sql[close + 1 :])
    if tm is None:
        raise ValueError("CREATE EXTERNAL TABLE requires LOCATION '<path>'")
    middle, location = tm.groups()
    middle = middle or ""
    fmt_m = _STORED_AS_RE.search(middle)
    fmt = (fmt_m.group(1).upper() if fmt_m else "TEXTFILE")
    delim_m = _ROW_DELIM_RE.search(middle)
    # Hive/Spectrum declares partition columns OUTSIDE the main column
    # list, with types; Spark USING-syntax tables declare them inside
    # the schema and reference names in PARTITIONED BY. Translate.
    part_m = _PARTITIONED_BY_RE.search(middle)
    partitioned_by = ""
    if part_m:
        pcols = [c for c in sqllex.split(part_m.group(1)) if c]
        pnames = [c.split()[0].strip('"') for c in pcols]
        cols = cols.rstrip()[:-1].rstrip() + ", " + ", ".join(pcols) + ")"
        partitioned_by = f" PARTITIONED BY ({', '.join(pnames)})"
    # every clause between the column list and LOCATION must be one we
    # translated — silently dropping SERDE/TBLPROPERTIES would create a
    # table that returns wrong data with no error
    leftover = middle
    for pat in (_STORED_AS_RE, _ROW_DELIM_RE, _PARTITIONED_BY_RE):
        leftover = pat.sub(" ", leftover)
    if leftover.strip():
        raise ValueError(
            "CREATE EXTERNAL TABLE: unsupported clause(s) before "
            f"LOCATION: {leftover.strip()[:120]!r} (supported: ROW FORMAT "
            "DELIMITED FIELDS TERMINATED BY, STORED AS, PARTITIONED BY)"
        )
    options = ""
    if fmt in ("TEXTFILE", "CSV"):
        using = "csv"
        delim = delim_m.group(1).replace("''", "'") if delim_m else "|"
        options = f" OPTIONS (sep '{delim}')"
    elif fmt in ("PARQUET", "ORC", "JSON"):
        using = fmt.lower()
    else:
        raise ValueError(f"unsupported STORED AS format: {fmt}")
    return (
        f"CREATE TABLE {name} {cols} USING {using}{options}"
        f"{partitioned_by} LOCATION '{location}'"
    )


_NO_SCHEMA_BINDING_RE = re.compile(
    r"\s+WITH\s+NO\s+SCHEMA\s+BINDING(\s*;?\s*)$", re.IGNORECASE
)


def _strip_no_schema_binding(sql: str) -> str:
    """Drop Redshift's trailing ``WITH NO SCHEMA BINDING`` from CREATE
    VIEW (the late-binding-view clause on effectively every view over
    an external schema). Spark views resolve at query time against the
    session catalog anyway — late binding is the only binding there —
    so the clause is semantically a no-op, merely unparseable. Only the
    statement-final position is rewritten (the clause cannot appear
    elsewhere), and never inside a literal or comment."""
    if not re.match(r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\b", sql, re.IGNORECASE):
        return sql
    return sqllex.sub(_NO_SCHEMA_BINDING_RE, r"\1", sql)


_SELECT_INTO_HEAD_RE = re.compile(r"^\s*SELECT\b", re.IGNORECASE)
_INTO_RE = re.compile(
    # trailing (?:\s+|$): a FROM-less 'SELECT expr INTO t' (valid
    # PG/Redshift) ends AT the table name — the old \s+ never matched
    # it, leaving the statement to fail at Spark's parser (r13)
    r"\bINTO\s+(TEMP(?:ORARY)?\s+)?(?:TABLE\s+)?([A-Za-z_][\w.]*)(?:\s+|$)",
    re.IGNORECASE,
)
_FROM_TOP_RE = re.compile(r"\bFROM\b", re.IGNORECASE)


def _rewrite_select_into(sql: str) -> str:
    """``SELECT ... INTO [TEMP] t FROM ...`` (the Redshift/PostgreSQL
    table-from-query form) → CTAS. Spark SQL has no SELECT INTO;
    permanent targets become ``CREATE TABLE t USING parquet AS``,
    TEMP targets become ``CREATE OR REPLACE TEMPORARY VIEW t AS``
    (session-scoped, dropped with the session — the same lifetime a
    Redshift temp table has; materialization difference documented
    here). Only a top-level INTO BEFORE the first top-level FROM
    rewrites — ``INSERT INTO`` and subquery text never match."""
    if _SELECT_INTO_HEAD_RE.match(sql) is None:
        return sql
    m = sqllex.find(sql, _INTO_RE)
    if m is None:
        return sql
    f = sqllex.find(sql, _FROM_TOP_RE)
    if f is not None and f.start() < m.start():
        return sql  # INTO belongs to something after FROM; not ours
    is_temp, target = bool(m.group(1)), m.group(2)
    select_list = sql[: m.start()]
    rest = sql[m.end():]
    head = (
        f"CREATE OR REPLACE TEMPORARY VIEW {target} AS "
        if is_temp
        else f"CREATE TABLE {target} USING parquet AS "
    )
    return f"{head}{select_list} {rest}"


_OFFSET_FETCH_RE = re.compile(
    r"\bOFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+"
    r"ROWS?\s+ONLY\b",
    re.IGNORECASE,
)
_FETCH_FIRST_RE = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b", re.IGNORECASE
)
_OFFSET_ROWS_RE = re.compile(r"\bOFFSET\s+(\d+)\s+ROWS?\b", re.IGNORECASE)


def _rewrite_fetch_first(sql: str) -> str:
    """ANSI row-limit spellings Redshift accepts but Spark doesn't:
    ``OFFSET k ROWS FETCH FIRST|NEXT n ROWS ONLY`` → ``LIMIT n OFFSET
    k`` (Spark's parser demands LIMIT before OFFSET, so the clause
    pair is REORDERED, not just substituted); bare ``FETCH FIRST n
    ROWS ONLY`` → ``LIMIT n``; bare ``OFFSET k ROWS`` drops the ROWS
    keyword Spark's OFFSET does not take."""
    sql = sqllex.sub(_OFFSET_FETCH_RE, r"LIMIT \2 OFFSET \1", sql)
    sql = sqllex.sub(_FETCH_FIRST_RE, r"LIMIT \1", sql)
    return sqllex.sub(_OFFSET_ROWS_RE, r"OFFSET \1", sql)


_FROM_CLAUSE_END_RE = re.compile(
    r"\b(WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER|LIMIT|OFFSET|UNION"
    r"|INTERSECT|EXCEPT|FETCH)\b",
    re.IGNORECASE,
)
_UNNEST_ITEM_RE = re.compile(
    r"^\s*(\w+)((?:\.\w+)+)\s+(?:AS\s+)?(\w+)(?:\s+AT\s+(\w+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REL_ALIAS_RE = re.compile(
    r"^\s*([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*$", re.IGNORECASE | re.DOTALL
)


_OPEN_PAREN_RE = re.compile(r"\(")


def _rewrite_partiql_unnest(sql: str) -> str:
    """Redshift PartiQL FROM-clause unnesting → LATERAL VIEW.

    ``FROM t [AS] a, a.arr [AS] x [AT i]`` navigates INTO a SUPER/array
    column of a preceding FROM item — Spark's parser rejects the form
    outright. Rewrite each such comma item (its qualifier must resolve
    to a PRECEDING item's alias or base table name — ``schema.table``
    relations never match) to ``LATERAL VIEW explode(a.arr) _x AS x``,
    or ``posexplode`` when ``AT i`` asks for the 0-based ordinal
    (Redshift's AT and Spark's pos are both 0-based). Lateral views
    are appended after the remaining relation list in original order,
    so chained unnests (``x.sub AS y`` over a previous unnest alias)
    keep resolving. EVERY depth-0 FROM is rewritten (UNION branches),
    and parenthesized bodies — CTE definitions, derived tables, IN/
    EXISTS subqueries — are recursed into (r12 advisor: CTE-heavy SQL
    is the Redshift norm; 'first top-level FROM only' missed those).
    Column TYPE is Spark's business at analysis time: a real
    array explodes; a JSON-string SUPER needs an explicit cast/
    from_json first (the q51 VARIANT path), same as any engine that
    stores SUPER as text."""
    # recurse into each top-level parenthesized body first — a CTE
    # body or subquery is just a smaller statement with its own FROMs
    pieces: list[str] = []
    last = 0
    for m in sqllex.finditer(sql, _OPEN_PAREN_RE):
        j = sqllex.close_paren(sql, m.start())
        if j is None:  # unbalanced: leave the tail untouched
            break
        pieces.append(sql[last : m.end()])
        pieces.append(_rewrite_partiql_unnest(sql[m.end() : j]))
        last = j
    pieces.append(sql[last:])
    sql = "".join(pieces)
    # then rewrite every depth-0 FROM at this level, right-to-left so
    # earlier match offsets stay valid after each splice
    starts = [mm.end() for mm in sqllex.finditer(sql, _FROM_TOP_RE)]
    for start in reversed(starts):
        sql = _rewrite_one_from_clause(sql, start)
    return sql


def _rewrite_one_from_clause(sql: str, start: int) -> str:
    """Rewrite the PartiQL unnest items of the FROM clause beginning at
    ``start`` (the index just past the FROM keyword); returns ``sql``
    unchanged when the clause has none."""
    m = sqllex.find(sql, _FROM_CLAUSE_END_RE, start)
    end = len(sql) if m is None else m.start()
    items = sqllex.split(sql[start:end])
    if len(items) < 2:
        return sql
    known: set[str] = set()
    kept: list[str] = []
    laterals: list[str] = []

    def register(item: str) -> None:
        rm = _REL_ALIAS_RE.match(item)
        if rm:
            name, alias = rm.groups()
            known.add((alias or name.split(".")[-1]).lower())

    register(items[0])
    kept.append(items[0])
    for k, item in enumerate(items[1:], start=1):
        um = _UNNEST_ITEM_RE.match(item)
        if um and um.group(1).lower() in known:
            qual, path, alias, at = um.groups()
            expr = f"{qual}{path}"
            if at:
                laterals.append(
                    f" LATERAL VIEW posexplode({expr}) _pe_{k} "
                    f"AS {at}, {alias}"
                )
            else:
                laterals.append(
                    f" LATERAL VIEW explode({expr}) _ex_{k} AS {alias}"
                )
            known.add(alias.lower())
            if at:
                known.add(at.lower())
        else:
            register(item)
            kept.append(item)
    if not laterals:
        return sql
    new_clause = " " + ", ".join(kept) + "".join(laterals) + " "
    return sql[:start] + new_clause + sql[end:]


# Redshift/PostgreSQL type spellings Spark's parser rejects or sizes
# differently: length-less string types in cast position (Spark
# demands VARCHAR(n)) and the PG width aliases. The string family
# rewrites ONLY after `::` or a cast's `AS` (bare TEXT/CHAR are too
# collision-prone as words, and DDL VARCHAR(n) is native); the width
# aliases (int2/int4/int8/float4/float8/bpchar) rewrite ANYWHERE
# in code — they are type reserved words in every PG
# dialect and also appear in DDL column lists (CREATE TABLE (id
# INT8), ALTER ... ADD COLUMN x FLOAT8), where the cast-position scan
# missed them (round-12 battery finding).
_PG_TYPE_MAP = {
    "varchar": "string", "text": "string", "char": "string",
    "bpchar": "string", "int2": "smallint", "int4": "int",
    "int8": "bigint", "float4": "float", "float8": "double",
}
_PG_COLON_CAST_RE = re.compile(
    r"(::\s*)(varchar|text|char|bpchar)\b(?!\s*\()",
    re.IGNORECASE,
)
_PG_AS_TYPE_RE = re.compile(
    r"(\bAS\s+)(varchar|text|char|bpchar)\b(?!\s*\()",
    re.IGNORECASE,
)
_PG_WIDTH_RE = re.compile(
    r"\b(int2|int4|int8|float4|float8|bpchar)\b(?!\s*\()",
    re.IGNORECASE,
)


def _cast_inner_string_types(fn_name: str):
    """Inside CAST/TRY_CAST(expr AS text|varchar|char|bpchar): map the
    trailing type token. Scoped to the cast's parens so a column
    ALIASED ``AS text`` (the documents fixture has a ``text`` column)
    is never rewritten — the hazard of matching bare ``AS <word>``
    globally."""

    def call(args: list[str]) -> str | None:
        if len(args) != 1 or not _PG_AS_TYPE_RE.search(args[0]):
            return None
        inner = _PG_AS_TYPE_RE.sub(
            lambda m: m.group(1) + _PG_TYPE_MAP[m.group(2).lower()],
            args[0],
        )
        return f"{fn_name}({inner})"

    return call


def _rewrite_pg_types(sql: str) -> str:
    sql = sqllex.sub(
        _PG_COLON_CAST_RE,
        lambda m: m.group(1) + _PG_TYPE_MAP[m.group(2).lower()],
        sql,
    )
    sql = _rewrite_calls(sql, "CAST", _cast_inner_string_types("CAST"))
    sql = _rewrite_calls(
        sql, "TRY_CAST", _cast_inner_string_types("TRY_CAST")
    )
    return sqllex.sub(
        _PG_WIDTH_RE, lambda m: _PG_TYPE_MAP[m.group(1).lower()], sql
    )


def _extract_epoch_call_list(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    m = re.match(r"\s*EPOCH\s+FROM\s+(.+?)\s*$", args[0],
                 re.IGNORECASE | re.DOTALL)
    if m is None:
        return None  # any other EXTRACT field is native Spark
    return f"unix_timestamp({m.group(1)})"


_JSON_FLAG_RE = re.compile(r"^\s*(true|false)\s*$", re.IGNORECASE)
_QUOTED_KEY_RE = re.compile(r"^\s*'((?:[^']|'')*)'\s*$")
_INT_LIT_RE = re.compile(r"^\s*(\d+)\s*$")


def _json_extract_path_call(args: list[str]) -> str | None:
    """``JSON_EXTRACT_PATH_TEXT(j, 'k1', 'k2', ... [, flag])`` →
    ``get_json_object(j, '$.k1.k2')`` — the pre-SUPER Redshift JSON
    workhorse. Keys must be quoted literals (Redshift requires text
    there too); the optional trailing null_if_invalid boolean drops
    (get_json_object already yields NULL on bad JSON).

    Keys containing a quote, dot, bracket, ``$``, ``*`` or backslash
    stay untranslated (r12 advisor): a quote re-embedded into the
    single-quoted Spark path literal would be malformed SQL, and a
    literal-dot key like ``'a.b'`` (one key in Redshift) would silently
    become the NESTED path ``$.a.b`` — wrong answer, not an error.
    Untranslated calls fail loudly at Spark's parser instead."""
    if len(args) < 2:
        return None
    keys = args[1:]
    if _JSON_FLAG_RE.match(keys[-1]):
        keys = keys[:-1]
    if not keys:
        return None
    parts = []
    for k in keys:
        m = _QUOTED_KEY_RE.match(k)
        if m is None:
            return None  # computed key: out of the rewrite's scope
        key = m.group(1).replace("''", "'")
        if any(c in key for c in "'.[]$*\\\""):
            return None  # path-metachar key: no faithful Spark path
        parts.append(key)
    path = "$." + ".".join(parts)
    return f"get_json_object({args[0]}, '{path}')"


def _json_array_len_call(args: list[str]) -> str | None:
    if len(args) == 2 and _JSON_FLAG_RE.match(args[1]):
        args = args[:1]
    if len(args) != 1:
        return None
    return f"json_array_length({args[0]})"


def _json_array_elem_call(args: list[str]) -> str | None:
    """``JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, i [, flag])`` →
    ``get_json_object(j, '$[i]')`` for a literal index (Spark's json
    path must be foldable; a computed index is out of scope)."""
    if len(args) == 3 and _JSON_FLAG_RE.match(args[2]):
        args = args[:2]
    if len(args) != 2:
        return None
    m = _INT_LIT_RE.match(args[1])
    if m is None:
        return None
    return f"get_json_object({args[0]}, '$[{m.group(1)}]')"


def _is_valid_json_call(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"(get_json_object({args[0]}, '$') IS NOT NULL)"


def _is_valid_json_array_call(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"(json_array_length({args[0]}) IS NOT NULL)"


def _convert_call(args: list[str]) -> str | None:
    """Redshift ``CONVERT(type, expr)`` → ``CAST(expr AS type)``; the
    type token goes through the PG spelling map (CONVERT(int8, x)
    must land as bigint). Spark has no CONVERT at all, so a 2-arg
    call site is unambiguous."""
    if len(args) != 2:
        return None
    t = args[0].strip()
    mapped = _PG_TYPE_MAP.get(re.sub(r"\(.*\)", "", t).strip().lower(), t)
    return f"CAST({args[1]} AS {mapped})"


def _one_arg_alias(spark_fn: str, wrap_double: bool = False):
    def call(args: list[str]) -> str | None:
        if len(args) != 1:
            return None
        inner = (
            f"CAST({args[0]} AS DOUBLE)" if wrap_double else args[0]
        )
        return f"{spark_fn}({inner})"

    return call


def _trunc_call(args: list[str]) -> str | None:
    if len(args) != 1:
        return None  # 2-arg trunc(date, fmt) is native Spark
    # Redshift 1-arg TRUNC truncates a TIMESTAMP to a date — by far
    # the common use (TRUNC(sysdate)). The numeric 1-arg overload
    # (truncate toward zero) is NOT translated — divergence stated:
    # spell it CAST(x AS BIGINT).
    return f"CAST({args[0]} AS DATE)"


_DROP_CASCADE_RE = re.compile(
    r"^(\s*DROP\s+(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?[\w.\"]+)\s+"
    r"(?:CASCADE|RESTRICT)\s*(;?\s*)$",
    re.IGNORECASE,
)


def _strip_drop_cascade(sql: str) -> str:
    """Redshift ``DROP TABLE/VIEW ... CASCADE|RESTRICT`` → Spark drops
    take neither keyword (dependent Redshift views have no Spark
    analog to cascade to; RESTRICT is Spark's only behavior anyway)."""
    m = _DROP_CASCADE_RE.match(sql)
    return f"{m.group(1)}{m.group(2)}" if m else sql


# GETDATE() / SYSDATE → current_timestamp()
_NOW_RE = re.compile(r"\bGETDATE\s*\(\s*\)|\bSYSDATE\b", re.IGNORECASE)
# APPROXIMATE COUNT(DISTINCT x) → approx_count_distinct(x)
_APPROX_COUNT_RE = re.compile(
    r"\bAPPROXIMATE\s+COUNT\s*\(\s*DISTINCT\s+(.*?)\)", re.IGNORECASE
)
# APPROXIMATE PERCENTILE_DISC(f) WITHIN GROUP (...) — Redshift's other
# APPROXIMATE form — lowers onto Spark's EXACT percentile_disc:
# APPROXIMATE is an allowance, not a requirement, so the exact
# ordered-set aggregate is a conforming (and oracle-hashable)
# implementation
_APPROX_PERCENTILE_RE = re.compile(
    r"\bAPPROXIMATE\s+PERCENTILE_DISC\b", re.IGNORECASE
)


def translate_redshift_sql(sql: str) -> str:
    """Rewrite Redshift-dialect call sites into Spark SQL equivalents."""
    start, end = sqllex.code_span(sql)
    if sql[:start].strip() or sql[end:].strip():
        # leading/trailing comments stay verbatim around the rewritten
        # code, so end-anchored rewrites (TOP's LIMIT, QUALIFY's
        # wrapper, DROP ... CASCADE) land before them
        return sql[:start] + translate_redshift_sql(sql[start:end]) + sql[end:]
    sql = _strip_drop_cascade(sql)
    sql = _rewrite_partiql_unnest(sql)
    sql = _rewrite_pg_types(sql)
    sql = _rewrite_fetch_first(sql)
    sql = _rewrite_select_into(sql)
    sql = _rewrite_external_table(sql)
    sql = _rewrite_create_like(sql)
    sql = _strip_no_schema_binding(sql)
    sql = _strip_layout_clauses(sql)
    sql = _rewrite_top(sql)
    sql = _rewrite_qualify(sql)
    sql = _rewrite_similar_to(sql)
    sql = _rewrite_ratio_to_report(sql)
    sql = _rewrite_calls(sql, "NVL", _nvl_call)
    sql = sqllex.sub(_NOW_RE, "current_timestamp()", sql)
    sql = _rewrite_calls(sql, "EXTRACT", _extract_epoch_call_list)
    sql = _rewrite_calls(sql, "TRUNC", _trunc_call)
    sql = _rewrite_calls(sql, "CONVERT", _convert_call)
    # Redshift double-precision math aliases + FUNC_SHA1
    sql = _rewrite_calls(sql, "DEXP", _one_arg_alias("EXP", True))
    sql = _rewrite_calls(sql, "DLOG1", _one_arg_alias("LN", True))
    sql = _rewrite_calls(sql, "DLOG10", _one_arg_alias("LOG10", True))
    sql = _rewrite_calls(sql, "FUNC_SHA1", _one_arg_alias("sha1"))
    # pre-SUPER JSON-on-varchar family
    sql = _rewrite_calls(
        sql, "JSON_EXTRACT_PATH_TEXT", _json_extract_path_call
    )
    sql = _rewrite_calls(sql, "JSON_ARRAY_LENGTH", _json_array_len_call)
    sql = _rewrite_calls(
        sql, "JSON_EXTRACT_ARRAY_ELEMENT_TEXT", _json_array_elem_call
    )
    sql = _rewrite_calls(
        sql, "IS_VALID_JSON_ARRAY", _is_valid_json_array_call
    )
    sql = _rewrite_calls(sql, "IS_VALID_JSON", _is_valid_json_call)
    sql = _rewrite_calls(sql, "LEN", _len_call)
    sql = _rewrite_calls(sql, "CHARINDEX", _charindex_call)
    sql = _rewrite_calls(sql, "STRTOL", _strtol_call)
    sql = _rewrite_calls(sql, "DATEADD", _dateadd_call)
    sql = _rewrite_calls(sql, "DATE_PART", _date_part_call)
    sql = _rewrite_calls(sql, "CONVERT_TIMEZONE", _convert_timezone_call)
    sql = _rewrite_calls(sql, "TO_CHAR", _to_char_call)
    sql = _rewrite_calls(sql, "TO_DATE", _to_parse_call("to_date"))
    sql = _rewrite_calls(sql, "TO_TIMESTAMP", _to_parse_call("to_timestamp"))
    sql = sqllex.sub(_APPROX_COUNT_RE, r"approx_count_distinct(\1)", sql)
    sql = sqllex.sub(_APPROX_PERCENTILE_RE, "percentile_disc", sql)
    return _rewrite_calls(sql, "DATEDIFF", _datediff_call)
