"""COPY / UNLOAD statement lowering: the two Redshift SQL statements the
reference's blueprints exist to replace, accepted AS SQL.

Reference basis: users of the reference hand Redshift SQL over verbatim
(execute_sql.py:23,64) — and the statements they run most are exactly
``COPY table FROM path`` (what upload_file.py packages as a CLI) and
``UNLOAD ('sql') TO path`` (what store_query_results.py packages). The
engine's native layer already implements both operations as APIs
(ingest.py / export.py); this module parses the STATEMENT forms and
lowers them onto those APIs, so pass-through SQL that worked against
Redshift keeps working here.

Supported subset (the options the reference's own pipelines generate):

- ``COPY [schema.]table FROM 'path'`` with ``CSV`` / ``FORMAT [AS]
  CSV|PARQUET|JSON|ORC``, ``DELIMITER [AS] 'c'``, ``IGNOREHEADER [AS] n``,
  ``GZIP``/``BZIP2`` (Spark reads .gz/.bz2 transparently — accepted, no-op),
  ``MANIFEST`` (the path names a Redshift-format manifest JSON whose
  listed files load), ``FIXEDWIDTH 'name:width,...'`` (+ optional
  ``TRIMBLANKS``) — the fixed-slice text load, lowered onto
  ``ingest.read_fixedwidth``; incompatible with the delimited-parse
  options (FORMAT/DELIMITER/IGNOREHEADER/MAXERROR), refused loudly.
  Text-load options lower onto Spark CSV reader options: ``NULL [AS]
  'str'`` → nullValue, ``EMPTYASNULL``/``BLANKSASNULL`` → empty/blank
  fields read as NULL (explicit NULL AS wins), ``DATEFORMAT`` /
  ``TIMEFORMAT`` → dateFormat/timestampFormat via the TO_CHAR pattern
  translator ('auto' = Spark default; epoch forms refuse loudly),
  ``ESCAPE`` → backslash escapes; ``REMOVEQUOTES`` / ``TRUNCATECOLUMNS``
  / ``ACCEPTINVCHARS`` / ``STATUPDATE`` / ``COMPUPDATE`` accepted as
  documented no-ops (covered by Spark's quote handling / no declared
  varchar lengths / JVM UTF-8 replacement / ANALYZE being explicit).
- ``UNLOAD ('query') TO 'path'`` with ``FORMAT [AS] CSV|PARQUET|JSON|ORC``,
  ``DELIMITER [AS] 'c'``, ``HEADER``, ``PARALLEL OFF|ON|TRUE|FALSE``
  (OFF → one named file, the reference's single-file contract; ON → a
  part-file directory, the scale path), ``PARTITION BY (cols)``,
  ``MANIFEST`` (writes ``<path>.manifest`` listing every data file —
  the handoff a downstream COPY MANIFEST consumes).
  The inner query goes through the full Redshift-dialect shim.

Authorization clauses (``IAM_ROLE``, ``CREDENTIALS``, ``ACCESS_KEY_ID``
/ ``SECRET_ACCESS_KEY`` / ``SESSION_TOKEN``, ``REGION``) are parsed and
IGNORED: they authorize Redshift's S3 access, which does not apply —
paths here are whatever the Spark filesystem layer can reach, with
credentials configured at the filesystem level. Anything else raises
``ValueError`` naming the option rather than silently mis-loading.

Semantics notes, honestly stated:
- COPY appends to the target (Redshift semantics; the table must exist
  there, here it is created on first COPY — the strictly-more-permissive
  reading).
- Redshift's default text format is pipe-delimited; this lowering keeps
  that default (``DELIMITER '|'``) when no format option is given.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import sqllex


@dataclass
class CopySpec:
    table: str
    schema_name: str | None
    path: str
    format: str = "csv"
    delimiter: str = "|"
    header: bool = False
    manifest: bool = False
    max_error: int = 0  # COPY MAXERROR [AS] n — tolerated bad rows
    fixedwidth: str | None = None  # COPY FIXEDWIDTH 'name:width,...'
    trim_blanks: bool = False  # COPY TRIMBLANKS (strip trailing pad spaces)
    # text-load options lowered onto Spark CSV reader options
    # (NULL AS → nullValue, DATEFORMAT → dateFormat, ...)
    csv_options: dict = field(default_factory=dict)
    # TIMEFORMAT 'epochsecs'|'epochmillisecs': timestamp columns are
    # numeric in the source; read as BIGINT, cast after parse (r14)
    time_epoch: str | None = None


@dataclass
class UnloadSpec:
    query: str
    path: str
    format: str = "csv"
    delimiter: str = "|"
    header: bool = False
    single_file: bool = False  # Redshift PARALLEL defaults ON
    partition_by: list[str] = field(default_factory=list)
    manifest: bool = False
    quote_all: bool = False     # ADDQUOTES: every field quoted
    null_as: str | None = None  # NULL [AS] 'str' on the way OUT
    # ESCAPE: backslash-escape specials. DOCUMENTED DIVERGENCE (r12
    # advisor): Redshift's ESCAPE backslash-escapes delimiters/newlines/
    # quotes inside UNQUOTED fields; Spark's csv `escape` option only
    # escapes inside QUOTED fields, so ESCAPE without ADDQUOTES emits
    # quoted-style output where Redshift would emit bare
    # backslash-escaped text. ESCAPE together with ADDQUOTES matches.
    escape: bool = False
    compression: str | None = None  # GZIP: actually compress the data


_COPY_HEAD_RE = re.compile(
    r"^\s*COPY\s+([A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)?)\s+FROM\s+'([^']+)'",
    re.IGNORECASE,
)
_UNLOAD_HEAD_RE = re.compile(r"^\s*UNLOAD\s*\(\s*'", re.IGNORECASE)
# the rest of the quoted query after its opening quote, '' escapes kept
_QUERY_BODY_RE = re.compile(r"([^']*(?:''[^']*)*)'")

# option tokens that carry a quoted-string argument and are ignored
_IGNORED_STR_OPTS = {
    "IAM_ROLE", "CREDENTIALS", "ACCESS_KEY_ID", "SECRET_ACCESS_KEY",
    "SESSION_TOKEN", "REGION",
}
# bare option tokens that are accepted as no-ops
_IGNORED_BARE_OPTS = {"GZIP", "BZIP2"}


def _tokenize_options(rest: str) -> list[str]:
    """Split an option tail into tokens, keeping quoted strings and
    flat parenthesized lists whole."""
    return re.findall(r"'(?:[^']|'')*'|\([^()]*\)|[(),]|[^\s(),]+", rest)


def _unquote(tok: str) -> str:
    if len(tok) >= 2 and tok[0] == "'" and tok[-1] == "'":
        return tok[1:-1].replace("''", "'")
    return tok


def _take_string(tokens: list[str], i: int, opt: str) -> tuple[str, int]:
    """Consume an optional AS plus the quoted argument of ``opt``."""
    if i < len(tokens) and tokens[i].upper() == "AS":
        i += 1
    if i >= len(tokens):
        raise ValueError(f"{opt} expects an argument")
    return tokens[i], i + 1


def parse_copy(sql: str) -> CopySpec | None:
    """Parse a ``COPY table FROM 'path' [options]`` statement; ``None``
    if the statement is not a COPY (so the caller falls through to
    ``spark.sql``)."""
    m = _COPY_HEAD_RE.match(sql)
    if m is None:
        return None
    qualified, path = m.group(1), m.group(2)
    schema_name, _, table = qualified.rpartition(".")
    spec = CopySpec(table=table, schema_name=schema_name or None, path=path)
    tokens = _tokenize_options(sql[m.end():].rstrip().rstrip(";"))
    i = 0
    explicit_delim = False
    saw_format = False
    while i < len(tokens):
        t = tokens[i].upper()
        i += 1
        if t == "FORMAT":
            # FORMAT [AS] <fmt> routes through the SAME handling as the
            # bare keyword form below (so FORMAT AS JSON 'auto' works),
            # and a trailing bare FORMAT raises ValueError, not IndexError
            if i < len(tokens) and tokens[i].upper() == "AS":
                i += 1
            if i >= len(tokens):
                raise ValueError(
                    "FORMAT expects an argument (CSV|PARQUET|JSON|ORC)"
                )
            t = tokens[i].upper()
            i += 1
            if t == "AVRO":
                raise ValueError(
                    "AVRO needs the external spark-avro module, absent from this "
                    "container's pyspark jars (probed 2026-08-14); on a cluster "
                    "with it deployed, add 'AVRO' to the format whitelists"
                )
            if t not in ("CSV", "PARQUET", "JSON", "ORC"):
                raise ValueError(f"unsupported COPY format: {t.lower()!r}")
        if t in ("CSV", "PARQUET", "JSON", "ORC"):
            spec.format = t.lower()
            saw_format = True
            if t == "JSON" and i < len(tokens) and tokens[i].startswith("'"):
                opt = _unquote(tokens[i]).lower()
                i += 1
                if opt != "auto":
                    raise ValueError(
                        "COPY JSON supports 'auto' (schema inference); "
                        f"jsonpaths files are not implemented: {opt!r}"
                    )
        elif t == "DELIMITER":
            raw, i = _take_string(tokens, i, "DELIMITER")
            spec.delimiter = _unquote(raw)
            explicit_delim = True
        elif t == "IGNOREHEADER":
            raw, i = _take_string(tokens, i, "IGNOREHEADER")
            n = int(_unquote(raw))
            if n > 1:
                raise ValueError(
                    f"IGNOREHEADER {n}: only 0 (no header) or 1 (header row) "
                    "lower onto the CSV reader"
                )
            spec.header = n == 1
        elif t == "MANIFEST":
            spec.manifest = True  # path names a manifest file, not data
        elif t == "FIXEDWIDTH":
            raw, i = _take_string(tokens, i, "FIXEDWIDTH")
            spec.fixedwidth = _unquote(raw)
            # validate the layout at parse time so a bad spec fails the
            # statement, not the distributed job
            from ..ingest import parse_fixedwidth_spec

            parse_fixedwidth_spec(spec.fixedwidth)
        elif t == "TRIMBLANKS":
            spec.trim_blanks = True
        elif t == "MAXERROR":
            raw, i = _take_string(tokens, i, "MAXERROR")
            spec.max_error = int(_unquote(raw))
            if spec.max_error < 0:
                raise ValueError(f"MAXERROR must be >= 0, got {spec.max_error}")
        elif t == "NULL":
            raw, i = _take_string(tokens, i, "NULL")
            spec.csv_options["nullValue"] = _unquote(raw)
        elif t == "EMPTYASNULL":
            # resolved after the loop: explicit NULL AS wins
            spec.csv_options.setdefault("_emptyasnull", "true")
        elif t == "BLANKSASNULL":
            # blank-only fields trim to empty, which EMPTYASNULL-style
            # nullValue='' then reads as NULL — the documented composition
            spec.csv_options["ignoreLeadingWhiteSpace"] = "true"
            spec.csv_options["ignoreTrailingWhiteSpace"] = "true"
            spec.csv_options.setdefault("_emptyasnull", "true")
        elif t in ("DATEFORMAT", "TIMEFORMAT"):
            raw, i = _take_string(tokens, i, t)
            fmt = _unquote(raw)
            if fmt.lower() == "auto":
                continue  # Spark's default parsing IS the auto behavior
            if fmt.lower() in ("epochsecs", "epochmillisecs"):
                if t == "DATEFORMAT":
                    # Redshift itself only accepts epoch forms for
                    # TIMEFORMAT — mirror its refusal
                    raise ValueError(
                        f"DATEFORMAT {fmt!r}: epoch forms apply to "
                        "TIMEFORMAT only (the Redshift rule)"
                    )
                # no CSV-reader equivalent: the load reads timestamp
                # columns as BIGINT and casts after parse (ingest.py)
                spec.time_epoch = (
                    "secs" if fmt.lower() == "epochsecs" else "millis"
                )
                continue
            from .redshift_compat import _translate_datetime_format

            java = _translate_datetime_format(fmt)
            if java is None:
                raise ValueError(f"{t}: unrecognized format {fmt!r}")
            key = "dateFormat" if t == "DATEFORMAT" else "timestampFormat"
            spec.csv_options[key] = java
        elif t == "ESCAPE":
            spec.csv_options["escape"] = "\\"
        elif t == "REMOVEQUOTES":
            # Spark's standard quote handling strips enclosing quotes;
            # Redshift's REMOVEQUOTES intent is covered — accepted
            pass
        elif t == "ACCEPTINVCHARS":
            # optional replacement-char argument
            if i < len(tokens) and tokens[i].startswith("'"):
                i += 1
            # JVM UTF-8 decoding already replaces invalid sequences
        elif t == "TRUNCATECOLUMNS":
            pass  # no declared varchar lengths here — nothing to truncate
        elif t in ("STATUPDATE", "COMPUPDATE"):
            if i < len(tokens) and tokens[i].upper() in (
                "ON", "OFF", "TRUE", "FALSE",
            ):
                i += 1
            # table stats / compression analysis are Redshift-internal;
            # ANALYZE is the explicit statement here
        elif t in _IGNORED_STR_OPTS:
            _, i = _take_string(tokens, i, t)  # authorization: parsed, ignored
        elif t in _IGNORED_BARE_OPTS:
            pass
        else:
            raise ValueError(f"unsupported COPY option: {tokens[i - 1]!r}")
    if spec.csv_options.pop("_emptyasnull", None) is not None:
        # EMPTYASNULL/BLANKSASNULL read empty fields as NULL unless an
        # explicit NULL AS string was given (which wins, per Redshift)
        spec.csv_options.setdefault("nullValue", "")
    if spec.fixedwidth is not None:
        # Redshift: FIXEDWIDTH is its own format and cannot combine with
        # CSV/DELIMITER; IGNOREHEADER/MAXERROR are delimited-parse options
        # this lowering does not apply to fixed slicing — refuse loudly
        bad = [
            name
            for name, flag in (
                ("FORMAT", saw_format),
                ("DELIMITER", explicit_delim),
                ("IGNOREHEADER", spec.header),
                ("MAXERROR", spec.max_error > 0),
                ("text-load options", bool(spec.csv_options)),
            )
            if flag
        ]
        if bad:
            raise ValueError(
                f"FIXEDWIDTH cannot combine with {'/'.join(bad)}"
            )
        spec.format = "fixedwidth"
        return spec
    if spec.trim_blanks:
        raise ValueError("TRIMBLANKS applies to FIXEDWIDTH loads only")
    if spec.format == "csv" and not explicit_delim:
        # bare CSV keyword means comma; Redshift's no-format default is '|'
        spec.delimiter = "," if "csv" in (tok.lower() for tok in tokens) else "|"
    if spec.format not in ("csv", "parquet", "json", "orc"):
        raise ValueError(f"unsupported COPY format: {spec.format!r}")
    return spec


def parse_unload(sql: str) -> UnloadSpec | None:
    """Parse an ``UNLOAD ('query') TO 'path' [options]`` statement;
    ``None`` if not an UNLOAD. The inner query's ``''`` escapes are
    unfolded (Redshift requires doubling quotes inside the literal)."""
    m = _UNLOAD_HEAD_RE.match(sql)
    if m is None:
        return None
    body = _QUERY_BODY_RE.match(sql, m.end())
    if body is None:
        raise ValueError("UNLOAD: unterminated query literal")
    query = body.group(1).replace("''", "'")
    tail = sql[body.end():]
    tm = re.match(r"\s*\)\s*TO\s+'([^']+)'", tail, re.IGNORECASE)
    if tm is None:
        raise ValueError("UNLOAD: expected ('query') TO 'path'")
    spec = UnloadSpec(query=query, path=tm.group(1))
    tokens = _tokenize_options(tail[tm.end():].rstrip().rstrip(";"))
    i = 0
    explicit_delim = False
    saw_csv = False
    while i < len(tokens):
        t = tokens[i].upper()
        i += 1
        if t == "FORMAT":
            # same normalization as parse_copy: bounds-checked, and the
            # FORMAT-selected keyword flows through the bare-keyword branch
            if i < len(tokens) and tokens[i].upper() == "AS":
                i += 1
            if i >= len(tokens):
                raise ValueError(
                    "FORMAT expects an argument (CSV|PARQUET|JSON|ORC)"
                )
            t = tokens[i].upper()
            i += 1
            if t == "AVRO":
                raise ValueError(
                    "AVRO needs the external spark-avro module, absent from this "
                    "container's pyspark jars (probed 2026-08-14); on a cluster "
                    "with it deployed, add 'AVRO' to the format whitelists"
                )
            if t not in ("CSV", "PARQUET", "JSON", "ORC"):
                raise ValueError(f"unsupported UNLOAD format: {t.lower()!r}")
        if t in ("CSV", "PARQUET", "JSON", "ORC"):
            spec.format = t.lower()
            saw_csv = saw_csv or t == "CSV"
        elif t == "DELIMITER":
            raw, i = _take_string(tokens, i, "DELIMITER")
            spec.delimiter = _unquote(raw)
            explicit_delim = True
        elif t == "HEADER":
            spec.header = True
        elif t == "PARALLEL":
            if i < len(tokens) and tokens[i].upper() in ("OFF", "ON", "TRUE", "FALSE"):
                spec.single_file = tokens[i].upper() in ("OFF", "FALSE")
                i += 1
            else:
                raise ValueError("PARALLEL expects OFF|ON|TRUE|FALSE")
        elif t == "PARTITION":
            if i < len(tokens) and tokens[i].upper() == "BY":
                i += 1
            cols = tokens[i] if i < len(tokens) else ""
            if not (cols.startswith("(") and cols.endswith(")")):
                raise ValueError("PARTITION BY expects (col, ...)")
            spec.partition_by = list(filter(None, sqllex.split(cols[1:-1])))
            i += 1
        elif t in ("ALLOWOVERWRITE", "CLEANPATH"):
            # Redshift's overwrite-permission flags: this lowering's
            # writers already run in overwrite mode (ALLOWOVERWRITE is
            # the default behavior here; CLEANPATH's delete-then-write
            # is what mode("overwrite") does) — accepted, no-op
            pass
        elif t == "ADDQUOTES":
            spec.quote_all = True
        elif t == "NULL":
            raw, i = _take_string(tokens, i, "NULL")
            spec.null_as = _unquote(raw)
        elif t == "ESCAPE":
            spec.escape = True
        elif t == "GZIP":
            # on the WAY OUT GZIP must actually compress (a COPY-side
            # GZIP is a reader no-op — extension-driven decompression
            # — but an unloading user's downstream expects .gz files)
            spec.compression = "gzip"
        elif t == "BZIP2":
            # bzip2 IS splittable (unlike gzip) — Hadoop's pure-Java
            # BZip2Codec, so one big .bz2 still scans in parallel
            spec.compression = "bzip2"
        elif t == "MANIFEST":
            spec.manifest = True  # write a JSON manifest listing the files
        elif t in _IGNORED_STR_OPTS:
            _, i = _take_string(tokens, i, t)
        elif t in _IGNORED_BARE_OPTS:
            pass
        else:
            raise ValueError(f"unsupported UNLOAD option: {tokens[i - 1]!r}")
    if spec.format == "csv" and not explicit_delim and saw_csv:
        spec.delimiter = ","
    if spec.format not in ("csv", "json", "parquet", "orc"):
        raise ValueError(f"unsupported UNLOAD format: {spec.format!r}")
    if spec.partition_by and spec.single_file:
        spec.single_file = False  # a partitioned export is many files
    return spec


@dataclass
class VacuumSpec:
    table: str
    mode: str = "full"  # full | "sort only" | "delete only"


@dataclass
class AnalyzeSpec:
    table: str
    columns: list[str] = field(default_factory=list)


_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?:(FULL|SORT\s+ONLY|DELETE\s+ONLY|REINDEX)\s+)?"
    r"([A-Za-z_][\w.]*)\s*"
    r"(?:TO\s+\d+\s+PERCENT\s*)?(?:BOOST\s*)?;?\s*$",
    re.IGNORECASE,
)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+(?:VERBOSE\s+)?([A-Za-z_][\w.]*)\s*"
    r"(?:\(([^)]*)\)\s*)?;?\s*$",
    re.IGNORECASE,
)


def parse_vacuum(sql: str) -> VacuumSpec | None:
    """Parse ``VACUUM [FULL|SORT ONLY|DELETE ONLY|REINDEX] table [TO n
    PERCENT] [BOOST]``. Bare ``VACUUM`` (all tables) is not lowered —
    an all-tables rewrite is an operational decision, not a statement
    side effect. REINDEX (interleaved keys) is accepted as FULL."""
    m = _VACUUM_RE.match(sql)
    if m is None:
        return None
    mode = (m.group(1) or "FULL").upper()
    mode = "full" if mode == "REINDEX" else mode.lower().replace("  ", " ")
    return VacuumSpec(table=m.group(2), mode=" ".join(mode.split()))


def parse_analyze(sql: str) -> AnalyzeSpec | None:
    """Parse ``ANALYZE [VERBOSE] table [(col, ...)]``."""
    m = _ANALYZE_RE.match(sql)
    if m is None:
        return None
    if m.group(1).upper() == "TABLE":
        return None  # Spark-native ANALYZE TABLE syntax: pass through
    cols = [
        c.strip().strip('"') for c in (m.group(2) or "").split(",") if c.strip()
    ]
    return AnalyzeSpec(table=m.group(1), columns=cols)


def execute_vacuum(spark, spec: VacuumSpec) -> None:
    """Lower VACUUM onto a copy-on-write table rewrite (the dml.py
    staging path, under the same per-table writer lock):

    - FULL / SORT ONLY: the rewrite is range-partitioned + sorted on the
      table's recorded SORTKEY (``SORTKEY_REGISTRY`` — captured when the
      dialect shim stripped the clause from the CREATE), restoring the
      zone-map layout Redshift's VACUUM restores; with no recorded key
      the rewrite compacts without sorting (documented best-effort).
    - DELETE ONLY: plain compacting rewrite — copy-on-write tables have
      no unreclaimed deleted rows, so this is the file-count cleanup.

    Output file count targets 128 MiB per file from optimizer-estimated
    table size — small fragmented tables collapse to one file, the
    Redshift "vacuum reclaims space" effect for a file-based catalog.
    """
    import math

    from ..dml import _rewrite, _table_lock
    from .redshift_compat import SORTKEY_REGISTRY

    keys = SORTKEY_REGISTRY.get(spec.table.lower(), [])
    with _table_lock(spark, spec.table):
        df = spark.table(spec.table)
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        n_files = max(1, math.ceil(est / (128 << 20)))
        if keys and spec.mode in ("full", "sort only"):
            out = df.repartitionByRange(n_files, *keys).sortWithinPartitions(*keys)
        else:
            out = df.repartition(n_files)
        _rewrite(spark, spec.table, out)


def execute_analyze(spark, spec: AnalyzeSpec) -> None:
    """Lower ANALYZE onto Spark's native statistics collection: table
    row-count/size stats always, plus column-level stats (ndv, min/max,
    null counts — what feeds CBO join reordering / broadcast choices)
    for the named columns, or all columns when none are named —
    Redshift's default of analyzing every column."""
    target = "FOR ALL COLUMNS" if not spec.columns else (
        "FOR COLUMNS " + ", ".join(spec.columns)
    )
    spark.sql(f"ANALYZE TABLE {spec.table} COMPUTE STATISTICS")
    spark.sql(f"ANALYZE TABLE {spec.table} COMPUTE STATISTICS {target}")


# materialized-view registry: mv name (lowercased) → defining SELECT.
# Session-scoped, like SORTKEY_REGISTRY: Spark's catalog has no MV object
# for parquet tables, so the engine keeps the definition and implements
# REFRESH as a full recompute — Redshift's own fallback when a query is
# not incremental-eligible. (Incremental refresh for the aggregate
# shapes that allow it is operators/maintenance.py's incremental-rollup
# MERGE, c54 — compose it explicitly where the schema is known.)
MV_REGISTRY: dict[str, str] = {}

_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][\w.]*)\s*"
    r"(?:BACKUP\s+(?:YES|NO)\s*)?(?:AUTO\s+REFRESH\s+(?:YES|NO)\s*)?"
    r"AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_MV_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)


@dataclass
class MaterializedViewSpec:
    action: str  # create | refresh | drop
    name: str
    query: str | None = None


def parse_materialized_view(sql: str) -> MaterializedViewSpec | None:
    """Parse the Redshift MV statement family: ``CREATE MATERIALIZED
    VIEW name [BACKUP YES|NO] [AUTO REFRESH YES|NO] AS select``,
    ``REFRESH MATERIALIZED VIEW name``, ``DROP MATERIALIZED VIEW
    [IF EXISTS] name``. BACKUP/AUTO REFRESH are parsed and ignored
    (they configure Redshift-internal behaviors; refresh here is
    always on demand)."""
    m = _CREATE_MV_RE.match(sql)
    if m is not None:
        return MaterializedViewSpec("create", m.group(1), m.group(2).rstrip("; \n"))
    m = _REFRESH_MV_RE.match(sql)
    if m is not None:
        return MaterializedViewSpec("refresh", m.group(1))
    m = _DROP_MV_RE.match(sql)
    if m is not None:
        return MaterializedViewSpec("drop", m.group(1))
    return None


def execute_materialized_view(spark, spec: MaterializedViewSpec) -> None:
    """Lower MV statements onto catalog tables + the registry:

    - CREATE materializes the defining query (through the dialect shim)
      into a table and records the definition;
    - REFRESH recomputes it and swaps via the copy-on-write staging
      under the per-table writer lock — readers see the old content
      until the overwrite commits, Redshift's refresh visibility;
    - DROP drops both.

    A REFRESH of an MV created in another session (registry empty)
    fails loudly rather than guessing the definition.
    """
    from ..dml import _rewrite, _table_lock
    from . import translate_redshift_sql

    key = spec.name.lower()
    if spec.action == "create":
        df = spark.sql(translate_redshift_sql(spec.query))
        df.write.mode("errorifexists").saveAsTable(spec.name)
        MV_REGISTRY[key] = spec.query
        return
    if spec.action == "refresh":
        if key not in MV_REGISTRY:
            raise ValueError(
                f"materialized view {spec.name!r} has no recorded definition "
                "in this session; re-CREATE it (the registry is "
                "session-scoped — Spark's catalog stores no MV objects)"
            )
        with _table_lock(spark, spec.name):
            _rewrite(
                spark, spec.name,
                spark.sql(translate_redshift_sql(MV_REGISTRY[key])),
            )
        return
    if spec.action == "drop":
        spark.sql(f"DROP TABLE IF EXISTS {spec.name}")
        MV_REGISTRY.pop(key, None)
        return
    raise ValueError(f"unknown MV action {spec.action!r}")


def _read_manifest(path: str) -> list[str]:
    """Redshift manifest JSON → list of data-file paths (``url``
    entries; ``file://`` prefixes stripped)."""
    import json

    with open(path) as fh:
        doc = json.load(fh)
    urls = [e["url"] for e in doc.get("entries", [])]
    if not urls:
        raise ValueError(f"manifest {path!r} lists no entries")
    return [u.removeprefix("file://") for u in urls]


_ALTER_LAYOUT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+ALTER\s+"
    r"(?:(?:COMPOUND\s+)?SORTKEY\s*(?:\(([^)]*)\)|(NONE))"
    r"|DISTSTYLE\s+(?:EVEN|ALL|AUTO|KEY\s+DISTKEY\s*\([^)]*\))"
    r"|DISTKEY\s*\([^)]*\))\s*;?\s*$",
    re.IGNORECASE,
)


@dataclass
class AlterLayoutSpec:
    table: str
    sortkey: list[str] | None  # None = diststyle/distkey form (pure no-op)
    drop_sortkey: bool = False


def parse_alter_layout(sql: str) -> AlterLayoutSpec | None:
    """Parse Redshift's physical-layout ALTERs: ``ALTER TABLE t ALTER
    [COMPOUND] SORTKEY (cols) | SORTKEY NONE | DISTSTYLE ... |
    DISTKEY (...)``. Without this route the generic clause-stripper
    would mangle the statement into invalid SQL."""
    m = _ALTER_LAYOUT_RE.match(sql)
    if m is None:
        return None
    cols = m.group(2)
    if cols is not None:
        keys = [c.strip().strip('"').lower() for c in cols.split(",") if c.strip()]
        return AlterLayoutSpec(table=m.group(1), sortkey=keys)
    if m.group(3) is not None:  # SORTKEY NONE
        return AlterLayoutSpec(table=m.group(1), sortkey=None, drop_sortkey=True)
    return AlterLayoutSpec(table=m.group(1), sortkey=None)


def execute_alter_layout(spark, spec: AlterLayoutSpec) -> None:
    """Record the new layout declaration; data is NOT rewritten —
    exactly Redshift's own post-2019 behavior, where ALTER SORTKEY
    marks the table and the background/explicit VACUUM applies the
    order. Here the explicit path is ``VACUUM table`` (execute_vacuum
    reads the registry). DISTSTYLE/DISTKEY forms are pure no-ops
    (Spark has no distribution-style knob to turn)."""
    from .redshift_compat import SORTKEY_REGISTRY

    key = spec.table.lower()
    if spec.drop_sortkey:
        SORTKEY_REGISTRY.pop(key, None)
    elif spec.sortkey is not None:
        SORTKEY_REGISTRY[key] = spec.sortkey


_CREATE_FUNC_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+([A-Za-z_]\w*)\s*"
    r"\((.*?)\)\s*RETURNS\s+(\w+)\s*"  # lazy: arg types may carry (n)
    r"(?:STABLE|VOLATILE|IMMUTABLE)?\s*"
    r"AS\s+\$\$(.*?)\$\$\s*LANGUAGE\s+plpythonu\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_SQL_TO_SPARK_TYPE = {
    "float": "double", "float8": "double", "double": "double",
    "real": "float", "float4": "float",
    "int": "int", "integer": "int", "int4": "int",
    "bigint": "long", "int8": "long", "smallint": "short", "int2": "short",
    "varchar": "string", "text": "string", "char": "string",
    "bool": "boolean", "boolean": "boolean",
    "numeric": "double", "decimal": "double",
}


@dataclass
class PyFunctionSpec:
    name: str
    arg_names: list[str]
    arg_types: list[str]  # Spark type names
    return_type: str      # Spark type name
    body: str


def parse_create_function(sql: str) -> PyFunctionSpec | None:
    """Parse Redshift's Python-UDF DDL: ``CREATE [OR REPLACE] FUNCTION
    name (arg type, ...) RETURNS type [volatility] AS $$ python-body $$
    LANGUAGE plpythonu``."""
    m = _CREATE_FUNC_RE.match(sql)
    if m is None:
        return None
    names, types = [], []
    # decimal(10,2) carries a comma at depth 1
    for raw in filter(None, sqllex.split(m.group(2))):
        parts = raw.split()
        if len(parts) < 2:
            raise ValueError(f"UDF argument needs 'name type': {raw!r}")
        base = parts[1].lower().split("(")[0]
        if base not in _SQL_TO_SPARK_TYPE:
            raise ValueError(f"unsupported UDF argument type: {parts[1]!r}")
        names.append(parts[0])
        types.append(_SQL_TO_SPARK_TYPE[base])
    ret = m.group(3).lower().split("(")[0]
    if ret not in _SQL_TO_SPARK_TYPE:
        raise ValueError(f"unsupported UDF return type: {m.group(3)!r}")
    return PyFunctionSpec(
        name=m.group(1),
        arg_names=names,
        arg_types=types,
        return_type=_SQL_TO_SPARK_TYPE[ret],
        body=m.group(4),
    )


def execute_create_function(spark, spec: PyFunctionSpec) -> None:
    """Compile the UDF body and register it with the session, so
    pass-through SQL can call it — Redshift's ``LANGUAGE plpythonu``
    scalar UDF surface. The body is arbitrary Python executed per row
    INSIDE Arrow batches (``pandas_udf`` transport, Python-per-row
    compute — the sanctioned slow path for user-defined logic; keep
    UDFs off hot paths, same advice Redshift gives for its own Python
    UDFs). The body executes with the trust of the caller, exactly as
    on Redshift, where CREATE FUNCTION requires its own privilege.

    Engine-honesty note: NULL handling matches Redshift (any NULL
    argument → NULL result without invoking the body, which is also
    what makes the Arrow path simple).
    """
    import textwrap

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    src = (
        f"def _bp_udf({', '.join(spec.arg_names)}):\n"
        + textwrap.indent(textwrap.dedent(spec.body).strip() or "return None", "    ")
    )
    ns: dict = {}
    exec(compile(src, f"<udf:{spec.name}>", "exec"), ns)  # noqa: S102
    fn = ns["_bp_udf"]

    # coerce each argument to its DECLARED type before the body runs:
    # callers may pass literals that arrive as decimal.Decimal / numpy
    # scalars, and Redshift's UDFs see plain python types
    _coerce = {
        "double": float, "float": float, "int": int, "long": int,
        "short": int, "string": str, "boolean": bool,
    }
    casts = [_coerce[t] for t in spec.arg_types]

    def _impl(*cols: pd.Series) -> pd.Series:
        out = []
        for row in zip(*cols):
            if any(pd.isna(v) for v in row):
                out.append(None)
            else:
                out.append(fn(*(c(v) for c, v in zip(casts, row))))
        return pd.Series(out, dtype="object")

    # pandas_udf infers the eval type from the signature, which must
    # name one pd.Series parameter per SQL argument — generate it
    argl = ", ".join(f"c{i}" for i in range(len(spec.arg_names)))
    hints = ", ".join(f"c{i}: pd.Series" for i in range(len(spec.arg_names)))
    wrap_ns = {"_impl": _impl, "pd": pd}
    exec(  # noqa: S102
        f"def _batch({hints}) -> pd.Series:\n    return _impl({argl})", wrap_ns
    )
    spark.udf.register(
        spec.name, pandas_udf(wrap_ns["_batch"], returnType=spec.return_type)
    )


def execute_copy(spark, spec: CopySpec) -> int:
    """Lower a parsed COPY onto the native ingest layer (A1/A5);
    returns rows in the target after the load. With MANIFEST the path
    names a Redshift-format manifest JSON and the listed files load.
    FIXEDWIDTH routes to the fixed-slice text reader."""
    from ..ingest import ingest_files, ingest_fixedwidth

    if spec.format == "fixedwidth":
        return ingest_fixedwidth(
            spark,
            _read_manifest(spec.path) if spec.manifest else spec.path,
            spec.table,
            spec.fixedwidth,
            schema_name=spec.schema_name,
            insert_method="append",
            trim_blanks=spec.trim_blanks,
        )
    return ingest_files(
        spark,
        _read_manifest(spec.path) if spec.manifest else spec.path,
        spec.table,
        format=spec.format,
        schema_name=spec.schema_name,
        insert_method="append",
        header=spec.header,
        delimiter=spec.delimiter,
        max_error=spec.max_error,
        csv_options=spec.csv_options or None,
        time_epoch=spec.time_epoch,
    )


def _write_unload_manifest(spec: UnloadSpec) -> None:
    """Write the Redshift-format manifest JSON at ``<path>.manifest``:
    one ``{"url": ..., "mandatory": true}`` entry per written data file
    — the handoff contract downstream COPY MANIFEST consumes."""
    import glob
    import json
    import os

    if spec.single_file:
        files = [spec.path]
    elif spec.partition_by:
        files = sorted(
            glob.glob(os.path.join(spec.path, "**", "part-*"), recursive=True)
        )
    else:
        files = sorted(glob.glob(os.path.join(spec.path, "part-*")))
    doc = {
        "entries": [
            {"url": f"file://{os.path.abspath(f)}", "mandatory": True}
            for f in files
        ]
    }
    with open(f"{spec.path}.manifest", "w") as fh:
        json.dump(doc, fh, indent=1)


def execute_unload(spark, spec: UnloadSpec) -> int:
    """Lower a parsed UNLOAD onto the native export layer (A7/A8);
    returns rows written. The inner query passes through the dialect
    shim, same as any pass-through SELECT. With MANIFEST a JSON file
    listing every written data file lands at ``<path>.manifest``.

    ESCAPE divergence (r12 advisor, stated on ``UnloadSpec.escape``):
    Spark's csv writer only applies the escape character inside quoted
    fields, so ESCAPE without ADDQUOTES produces quoted-style output
    rather than Redshift's bare backslash-escaped unquoted text; pair
    ESCAPE with ADDQUOTES for matching bytes."""
    from ..export import write_result
    from . import translate_redshift_sql

    df = spark.sql(translate_redshift_sql(spec.query))
    # text-shaping writer options (the UNLOAD option surface):
    # DELIMITER -> sep, ADDQUOTES -> quoteAll, NULL AS -> nullValue,
    # ESCAPE -> backslash escapes, GZIP -> real output compression
    csv_opts: dict[str, str] = {}
    if spec.format == "csv":
        if spec.delimiter != ",":
            csv_opts["sep"] = spec.delimiter
        if spec.quote_all:
            csv_opts["quoteAll"] = "true"
        if spec.null_as is not None:
            csv_opts["nullValue"] = spec.null_as
        if spec.escape:
            csv_opts["escape"] = "\\"
    if spec.compression:
        csv_opts["compression"] = spec.compression
    n = write_result(
        df,
        spec.path,
        format=spec.format,
        include_header=spec.header,
        single_file=spec.single_file,
        partition_by=spec.partition_by or None,
        options=csv_opts,
    )
    if spec.manifest:
        _write_unload_manifest(spec)
    return n


@dataclass
class AlterAppendSpec:
    target: str
    source: str
    ignore_extra: bool = False
    fill_target: bool = False


_ALTER_APPEND_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+APPEND\s+FROM\s+([\w.]+)"
    r"\s*(IGNOREEXTRA|FILLTARGET)?\s*;?\s*$",
    re.IGNORECASE,
)


def parse_alter_append(sql: str) -> AlterAppendSpec | None:
    """Parse Redshift's ``ALTER TABLE target APPEND FROM source
    [IGNOREEXTRA | FILLTARGET]`` — the move-rows statement (appends the
    source's rows to the target and empties the source, without the
    write amplification of INSERT+TRUNCATE in Redshift's storage; the
    reference passes it through verbatim at execute_sql.py:77)."""
    m = _ALTER_APPEND_RE.match(sql)
    if m is None:
        return None
    opt = (m.group(3) or "").upper()
    return AlterAppendSpec(
        target=m.group(1),
        source=m.group(2),
        ignore_extra=opt == "IGNOREEXTRA",
        fill_target=opt == "FILLTARGET",
    )


def execute_alter_append(spark, spec: AlterAppendSpec) -> None:
    """Lower the move as append-then-truncate under BOTH tables' writer
    locks (the move must be atomic against concurrent writers on either
    side; Redshift gets this from serializable isolation). Column-set
    mismatches follow Redshift's contract: extra source columns need
    IGNOREEXTRA, missing ones need FILLTARGET (null-filled) — otherwise
    the statement refuses. Spark note: parquet tables get a real
    append + truncate (two jobs), not a metadata move — the data copy
    is the price of a format without a manifest; with a partitioned
    target the append lands only in touched partitions."""
    from pyspark.sql import functions as F

    from ..dml import _table_lock

    from .. import timetravel

    with _table_lock(spark, spec.target), _table_lock(spark, spec.source):
        for side in (spec.target, spec.source):
            if timetravel.is_history_table(spark, side):
                # post-crash pointer lag heals under the lock, before
                # the pre-image reads below (timetravel._heal_pointer)
                timetravel._heal_pointer(spark, side)
        tgt = spark.table(spec.target)
        src = spark.table(spec.source)
        tcols = tgt.columns
        scols = set(src.columns)
        extra = sorted(scols - set(tcols))
        missing = [c for c in tcols if c not in scols]
        if extra and not spec.ignore_extra:
            raise ValueError(
                f"ALTER TABLE APPEND: source has extra column(s) {extra}; "
                "add IGNOREEXTRA to drop them"
            )
        if missing and not spec.fill_target:
            raise ValueError(
                f"ALTER TABLE APPEND: source lacks column(s) {missing}; "
                "add FILLTARGET to null-fill them"
            )
        types = dict(tgt.dtypes)
        aligned = src.select(
            *[
                F.col(c) if c in scols else F.lit(None).cast(types[c]).alias(c)
                for c in tcols
            ]
        )
        if timetravel.is_history_table(spark, spec.target):
            # history-tracked target (r14 advisor): a native append
            # would add files to the live version directory, silently
            # mutating the snapshot the log's tip points at — publish
            # as an append commit instead (O(moved files); this lock
            # is the writer lock commit_append requires)
            timetravel.commit_append(
                spark, spec.target, aligned, op="alter append in"
            )
        else:
            aligned.write.mode("append").format("parquet").saveAsTable(
                spec.target
            )
        if timetravel.is_history_table(spark, spec.source):
            # the move-out half: TRUNCATE would delete the live
            # version directory's files — commit an empty full state
            timetravel.commit_version(
                spark,
                spec.source,
                src.filter(F.lit(False)),
                op="alter append out",
            )
        else:
            spark.sql(f"TRUNCATE TABLE {spec.source}")
