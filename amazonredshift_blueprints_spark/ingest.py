"""CSV → table ingest: Spark-first rebuild of the reference's
``upload_file.py`` blueprint.

Reference parity map (all cites into /root/reference/amazonredshift_blueprints):
- file discovery exact/regex  → upload_file.py:85-115 (A2, A3)
- schema DDL                  → upload_file.py:122-124 (A4)
- chunked CSV scan            → upload_file.py:118-126 (A1) — subsumed by
  Spark's partitioned, whole-input-inferred ``spark.read.csv``
- 3 write modes               → upload_file.py:44-52,131-151 (A5)
- multi-file load loop        → upload_file.py:193-200 (A6)
- CLI surface + bool coercion → upload_file.py:11-76 (A12, A13)

Deliberate divergences from reference quirks (SURVEY.md §2 A6/A8):
- The reference re-applies the user's ``replace`` mode per file, so a
  multi-file replace keeps only the LAST file (upload_file.py:197). We read
  all matched files as one distributed scan and write once — all files land.
- Schema inference is global (one pass over the whole input), not
  per-10000-row-chunk, so dtypes cannot drift mid-load.

Scale notes (100 TB): one ``spark.read.csv(paths)`` scan distributes across
executors; there is no driver-side chunk loop and no per-chunk INSERT
round-trip. Write modes map onto Spark's atomic-enough ``saveAsTable``.
"""

from __future__ import annotations

import argparse
import glob
import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from .operators import pin, release

# Reference arg choices upload_file.py:44-52 → Spark writer modes.
INSERT_METHODS = {
    "fail": "errorifexists",
    "replace": "overwrite",
    "append": "append",
}


def combine_folder_and_file_name(folder_name: str | None, file_name: str) -> str:
    """Join folder and file into one normalized path (upload_file.py:108-115)."""
    combined = os.path.join(folder_name or "", file_name)
    return os.path.normpath(combined)


def find_all_local_file_names(source_folder_name: str | None) -> list[str]:
    """Recursively list files under cwd/source_folder (upload_file.py:85-93)."""
    cwd = os.getcwd()
    cwd_extension = os.path.normpath(f"{cwd}/{source_folder_name or ''}/**")
    return [f for f in glob.glob(cwd_extension, recursive=True) if os.path.isfile(f)]


def find_all_file_matches(file_names: list[str], file_name_re: str) -> list[str]:
    """Filter a path list by ``re.search`` (upload_file.py:96-105)."""
    matching = []
    for name in file_names:
        if re.search(file_name_re, name):
            matching.append(name)
    return matching


def convert_to_boolean(string: str) -> bool:
    """'True'/'true'/'TRUE' → True (store_query_results.py:76-85)."""
    return string.strip().lower() == "true"


def _observe_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter riding its own execution, and the
    counter: ``int(obs.get["n"])`` after the one action that runs the
    returned frame (a write) is the number of rows it produced. The
    same ``DataFrame.observe`` idiom as dml.py's DML counts — no second
    job re-running the plan to count it."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _clean_stale_location(
    spark: SparkSession, table_name: str, schema_name: str | None
) -> None:
    """Remove a leftover managed-table directory with no catalog entry.

    The session catalog is in-memory but ``spark-warehouse/`` persists, so
    a table written in a previous session exists on disk yet not in the
    catalog — any CREATE then fails with LOCATION_ALREADY_EXISTS. Only
    paths under the session's own warehouse dir are ever removed.
    """
    import shutil
    from urllib.parse import urlparse

    qualified = f"{schema_name}.{table_name}" if schema_name else table_name
    if spark.catalog.tableExists(qualified):
        return
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if not warehouse:
        return
    sub = f"{schema_name}.db/{table_name}" if schema_name else table_name
    stale = os.path.join(warehouse, sub)
    if os.path.isdir(stale):
        shutil.rmtree(stale, ignore_errors=True)


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    *,
    header: bool = True,
    schema: StructType | str | None = None,
    delimiter: str = ",",
    parse_mode: str = "PERMISSIVE",
    csv_options: dict[str, str] | None = None,
) -> DataFrame:
    """Distributed CSV scan. With no explicit schema, infer over the whole
    input once (strictly better than the reference's per-chunk inference,
    SURVEY.md §1.2). ``delimiter`` is the COPY ``DELIMITER`` analog
    (TSV/pipe files). ``parse_mode``: PERMISSIVE (malformed fields →
    NULL, the COPY MAXERROR-tolerant analog), DROPMALFORMED, or FAILFAST
    (raise on first bad row — pandas' behavior, hence the reference's).
    ``csv_options`` passes extra Spark CSV reader options through — the
    COPY text-load option lowering (NULL AS → nullValue, DATEFORMAT →
    dateFormat, ...) produces these."""
    reader = (
        spark.read.option("header", header)
        .option("sep", delimiter)
        .option("mode", parse_mode)
    )
    for k, v in (csv_options or {}).items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(paths)


def read_files(
    spark: SparkSession,
    paths: str | list[str],
    *,
    format: str = "csv",
    header: bool = True,
    schema: StructType | str | None = None,
    delimiter: str = ",",
    csv_options: dict[str, str] | None = None,
    parse_mode: str = "PERMISSIVE",
) -> DataFrame:
    """Format-generalized scan: the reference only reads CSV
    (upload_file.py:118-126); JSON/parquet/ORC are the Spark-native
    upgrades (all splittable, parquet/ORC with pushdown + pruning)."""
    if format == "csv":
        return read_csv(
            spark, paths, header=header, schema=schema,
            delimiter=delimiter, csv_options=csv_options,
            parse_mode=parse_mode,
        )
    if format not in ("json", "parquet", "orc"):
        raise ValueError(f"format must be csv/json/parquet/orc, got {format!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if format == "json":
        # the record format honors the parse contract like CSV does —
        # a declared-schema MAXERROR-0 load must FAIL on a
        # type-mismatched value, not NULL it (r11 advisor: the json
        # branch stayed PERMISSIVE and silently loaded NULLs)
        reader = reader.option("mode", parse_mode)
    return reader.format(format).load(paths)


def ingest_csv(
    spark: SparkSession,
    source: str | list[str],
    table_name: str,
    *,
    schema_name: str | None = None,
    insert_method: str = "append",
    header: bool = True,
    schema: StructType | str | None = None,
) -> int:
    """Load CSV file(s) into a catalog table (upload_file.py:118-155).

    Returns the table's row count after the load: the rows written for
    ``replace``/``fail`` or a new table, the table's total rows for an
    ``append`` into an existing one (:func:`ingest_files`). One
    distributed read + one distributed write replace the reference's
    10 000-row chunk loop and its mode-demotion bookkeeping
    (upload_file.py:131-132).
    """
    return ingest_files(
        spark,
        source,
        table_name,
        format="csv",
        schema_name=schema_name,
        insert_method=insert_method,
        header=header,
        schema=schema,
    )


_CORRUPT_COL = "_bp_corrupt_record"


def read_files_tolerant(
    spark: SparkSession,
    paths: str | list[str],
    *,
    format: str,
    header: bool,
    delimiter: str,
    max_error: int,
    schema: StructType | None = None,
    csv_options: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Bad-row-tolerant scan for COPY MAXERROR: rows that fail parsing
    (type mismatch, column-count drift, malformed JSON) are dropped —
    raising if they exceed ``max_error`` — instead of failing the load.

    ``schema`` should be the TARGET TABLE's schema when it exists —
    Redshift COPY parses against the declared table schema, and that is
    what makes a type error an error; without it (first load into a
    fresh table) the schema is inferred, and inference WIDENS dirty
    columns to string rather than failing them, so only structural
    errors (column-count drift, malformed JSON) count — divergence
    stated here, not hidden. Pass 2 re-reads with the schema in
    PERMISSIVE mode and a corrupt-record capture column, counts the
    captured rows, and filters them out; count and load share one
    pinned scan (required, see the inline note). Row-wise tolerance
    only makes sense for record formats (csv/json); parquet/orc
    corruption is structural and keeps fail-fast semantics.

    Returns ``(clean, raw, load_errors)``: the parsed good rows, the
    pinned raw scan (``release`` it once ``clean`` is consumed), and
    the dropped raw lines for ``stl_load_errors``.
    """
    if format not in ("csv", "json"):
        raise ValueError(
            f"MAXERROR applies to row-based formats (csv/json), not {format!r}"
        )
    inferred = schema or read_files(
        spark, paths, format=format, header=header, delimiter=delimiter,
        csv_options=csv_options,
    ).schema
    capture = StructType(
        inferred.fields + [StructField(_CORRUPT_COL, StringType())]
    )
    reader = (
        spark.read.schema(capture)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT_COL)
    )
    if format == "csv":
        reader = (
            reader.option("header", header).option("sep", delimiter)
        )
        for k, v in (csv_options or {}).items():
            reader = reader.option(k, v)
    # The cache is REQUIRED, not an optimization: Spark refuses queries
    # that reference only the corrupt-record column on an uncached raw
    # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the bad-row count is
    # exactly such a query.
    df = pin(reader.format(format).load(paths), StorageLevel.MEMORY_AND_DISK)
    n_bad = df.filter(F.col(_CORRUPT_COL).isNotNull()).count()
    if n_bad > max_error:
        release(df)
        raise ValueError(
            f"load found {n_bad} unparseable row(s), exceeding MAXERROR "
            f"{max_error} (the Redshift COPY error-tolerance contract)"
        )
    clean = df.filter(F.col(_CORRUPT_COL).isNull()).drop(_CORRUPT_COL)
    # the dropped raw lines, for stl_load_errors: <= max_error rows of
    # driver metadata BY THE GATE ABOVE (that bound is what makes this
    # collect legal); sorted for deterministic registration order
    load_errors = [
        r[0]
        for r in df.filter(F.col(_CORRUPT_COL).isNotNull())
        .select(_CORRUPT_COL)
        .orderBy(_CORRUPT_COL)
        .collect()
    ]
    return clean, df, load_errors


def ingest_files(
    spark: SparkSession,
    source: str | list[str],
    table_name: str,
    *,
    format: str = "csv",
    schema_name: str | None = None,
    insert_method: str = "append",
    header: bool = True,
    schema: StructType | str | None = None,
    delimiter: str = ",",
    max_error: int = 0,
    csv_options: dict[str, str] | None = None,
    time_epoch: str | None = None,
) -> int:
    """Format-generalized table load (csv/json/parquet/orc) with the
    reference's fail/replace/append mode vocabulary. ``max_error > 0``
    tolerates up to that many unparseable rows (COPY MAXERROR).
    ``csv_options`` are extra Spark CSV reader options (the COPY
    text-load option lowering). ``time_epoch`` ('secs'|'millis', the
    COPY TIMEFORMAT epoch forms, r14) declares that the source stores
    timestamp columns as epoch integers: those columns read as BIGINT
    (Spark's CSV reader has no epoch-numeric timestamp parse) and cast
    back via timestamp_seconds/timestamp_millis after the parse —
    which needs the declared target schema to know WHICH columns are
    timestamps, so it refuses on a first load into a missing table.

    Returns the table's row count after the load. When the load creates
    or replaces the table, that is the rows written, counted by an
    observer riding the write itself (:func:`_observe_count`); an
    ``append`` into an existing table counts the table afterwards, one
    more job, since its contract is the table's total rows."""
    if insert_method not in INSERT_METHODS:
        raise ValueError(
            f"insert_method must be one of {sorted(INSERT_METHODS)}, got {insert_method!r}"
        )
    _clean_stale_location(spark, table_name, schema_name)
    if schema_name:
        # Reference emits CREATE SCHEMA IF NOT EXISTS (upload_file.py:122-124).
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema_name}")
        qualified = f"{schema_name}.{table_name}"
    else:
        qualified = table_name
    existed = spark.catalog.tableExists(qualified)
    if schema is None and existed:
        # Redshift COPY parses against the declared TABLE schema; when
        # the target exists, its types ARE the parse contract (this is
        # what makes DATEFORMAT/NULL-AS load typed columns instead of
        # inferring strings). Fresh-table loads keep whole-input
        # inference.
        schema = spark.table(qualified).schema
    epoch_cols: list[str] = []
    if time_epoch is not None:
        from pyspark.sql.types import LongType, TimestampType

        if time_epoch not in ("secs", "millis"):
            raise ValueError(
                f"time_epoch must be 'secs' or 'millis', got {time_epoch!r}"
            )
        if not isinstance(schema, StructType):
            raise ValueError(
                "TIMEFORMAT 'epochsecs'/'epochmillisecs' needs the "
                "declared target table schema to know which columns "
                "are timestamps — create the table before the COPY"
            )
        epoch_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, TimestampType)
        ]
        # parse those columns as the epoch integers they are
        schema = StructType(
            [
                StructField(f.name, LongType(), f.nullable)
                if f.name in set(epoch_cols)
                else f
                for f in schema.fields
            ]
        )
    raw = load_errors = None
    if max_error > 0:
        target_schema = schema if isinstance(schema, StructType) else None
        df, raw, load_errors = read_files_tolerant(
            spark, source, format=format, header=header,
            delimiter=delimiter, max_error=max_error, schema=target_schema,
            csv_options=csv_options,
        )
    else:
        # Parsing against a DECLARED schema is strict (Redshift MAXERROR 0
        # semantics: one bad value fails the load) — PERMISSIVE would
        # silently NULL type errors the user asked to be errors. Both
        # record formats (csv AND json — r11 advisor) take the contract;
        # parquet/orc carry their own types.
        strict = format in ("csv", "json") and schema is not None
        df = read_files(
            spark, source, format=format, header=header, schema=schema,
            delimiter=delimiter, csv_options=csv_options,
            parse_mode="FAILFAST" if strict else "PERMISSIVE",
        )
    if epoch_cols:
        # the epoch integers parsed as BIGINT; cast to the declared
        # timestamp type now
        caster = F.timestamp_seconds if time_epoch == "secs" else F.timestamp_millis
        for c in epoch_cols:
            df = df.withColumn(c, caster(F.col(c)))
    df, obs = _observe_count(df)
    try:
        df.write.mode(INSERT_METHODS[insert_method]).format("parquet").saveAsTable(
            qualified
        )
    finally:
        release(raw)  # the tolerant read's pinned scan
    if load_errors:
        # queryable afterwards as stl_load_errors (system_tables.py)
        from .functions.system_tables import record_load_errors

        record_load_errors(spark, qualified, load_errors)
    return _loaded_rows(spark, qualified, insert_method, existed, obs)


def _loaded_rows(
    spark: SparkSession,
    qualified: str,
    insert_method: str,
    existed: bool,
    obs: Observation,
) -> int:
    """The ingest contract's return value: the table's rows after the
    load — the observed rows written, unless an append added them to
    rows already there."""
    if insert_method == "append" and existed:
        return spark.table(qualified).count()
    return int(obs.get["n"])


def parse_fixedwidth_spec(spec: str) -> list[tuple[str, int]]:
    """Parse a Redshift COPY ``FIXEDWIDTH 'name1:width1,name2:width2,...'``
    layout string into ``[(column_name, width), ...]``.

    Redshift accepts either column NAMES or 0-based ORDINALS as labels;
    a bare integer label becomes ``col<n>`` here so the loaded frame
    always has addressable names. Widths must be positive integers."""
    out: list[tuple[str, int]] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        label, sep, width_s = part.rpartition(":")
        if not sep or not label.strip():
            raise ValueError(
                f"FIXEDWIDTH entry {part!r}: expected 'label:width'"
            )
        label = label.strip()
        try:
            width = int(width_s)
        except ValueError:
            raise ValueError(
                f"FIXEDWIDTH entry {part!r}: width must be an integer"
            ) from None
        if width <= 0:
            raise ValueError(f"FIXEDWIDTH entry {part!r}: width must be > 0")
        if label.isdigit():  # Redshift ordinal label form
            label = f"col{label}"
        out.append((label, width))
    if not out:
        raise ValueError("FIXEDWIDTH spec names no columns")
    seen = set()
    for name, _ in out:
        if name in seen:
            raise ValueError(f"FIXEDWIDTH spec repeats column {name!r}")
        seen.add(name)
    return out


def read_fixedwidth(
    spark: SparkSession,
    paths: str | list[str],
    spec: str | list[tuple[str, int]],
    *,
    trim_blanks: bool = False,
) -> DataFrame:
    """Fixed-width text scan (the COPY ``FIXEDWIDTH`` layout, the one
    Redshift load format with no Spark reader): one distributed
    ``spark.read.text`` scan, then each column is a JVM-side
    ``substring`` slice at its 1-based offset — no Python in the row
    path, and the line scan is splittable exactly like CSV.

    All columns land as STRING (Redshift casts them to the declared
    target-table types; here the target is created on first COPY, so
    typing is the caller's cast — divergence stated, not hidden).
    ``trim_blanks`` is COPY TRIMBLANKS: strip trailing spaces, the pad
    bytes a fixed-width writer adds. Rows shorter than the layout yield
    empty-string tails (substring past end is '' — same as Redshift's
    pad-with-blank reading); rows LONGER than the layout raise AT
    EXECUTION via ``raise_error`` inside a FILTER on the line scan —
    a filter survives column pruning, where the former fold into the
    first column's expression vanished for any consumer projecting
    that column away (r11 advisor) — because silently dropping
    trailing bytes would mis-load every following column of a
    mis-declared layout, and a separate validation pass would double
    the scan at 100 TB."""
    cols = parse_fixedwidth_spec(spec) if isinstance(spec, str) else list(spec)
    total = sum(w for _, w in cols)
    raw = spark.read.text(paths).filter(
        F.when(F.length("value") <= total, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"FIXEDWIDTH layout is {total} chars but a row "
                        "has "
                    ),
                    F.length("value").cast("string"),
                    F.lit(" — layout does not match the file"),
                )
            ).cast("boolean")
        )
    )
    fields = []
    start = 1  # substring is 1-based
    for name, width in cols:
        c = F.substring(F.col("value"), start, width)
        if trim_blanks:
            c = F.rtrim(c)
        fields.append(c.alias(name))
        start += width
    return raw.select(*fields)


def ingest_fixedwidth(
    spark: SparkSession,
    source: str | list[str],
    table_name: str,
    spec: str | list[tuple[str, int]],
    *,
    schema_name: str | None = None,
    insert_method: str = "append",
    trim_blanks: bool = False,
) -> int:
    """Fixed-width file(s) → catalog table: the COPY FIXEDWIDTH load
    path, sharing the fail/replace/append vocabulary of ``ingest_files``
    and its return value (the table's rows after the load). All columns
    land as STRING (see ``read_fixedwidth``)."""
    if insert_method not in INSERT_METHODS:
        raise ValueError(
            f"insert_method must be one of {sorted(INSERT_METHODS)}, "
            f"got {insert_method!r}"
        )
    _clean_stale_location(spark, table_name, schema_name)
    if schema_name:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema_name}")
        qualified = f"{schema_name}.{table_name}"
    else:
        qualified = table_name
    existed = spark.catalog.tableExists(qualified)
    df, obs = _observe_count(
        read_fixedwidth(spark, source, spec, trim_blanks=trim_blanks)
    )
    df.write.mode(INSERT_METHODS[insert_method]).format("parquet").saveAsTable(
        qualified
    )
    return _loaded_rows(spark, qualified, insert_method, existed, obs)


def ingest_matching_files(
    spark: SparkSession,
    source_folder_name: str | None,
    file_name_regex: str,
    table_name: str,
    **kwargs,
) -> int:
    """Regex-discovery ingest (upload_file.py:187-200): all matches load as
    ONE scan, so ``replace`` keeps every matched file (divergence note in
    the module docstring)."""
    matches = find_all_file_matches(
        find_all_local_file_names(source_folder_name), file_name_regex
    )
    if not matches:
        raise FileNotFoundError(
            f"no files matching {file_name_regex!r} under {source_folder_name or '.'}"
        )
    return ingest_files(spark, matches, table_name, **kwargs)


def get_args(argv: list[str] | None = None) -> argparse.Namespace:
    """CLI surface mirroring upload_file.py:11-76, connection args
    included: when any of --db-connection-url / --host / --database /
    --username is given (or resolution falls through to the
    DB_CONNECTION_URL env var), the sink is the warehouse over JDBC with
    the reference's tri-mode precedence + validation; with no connection
    args the sink is the local session catalog (documented divergence —
    the reference always requires a warehouse)."""
    from .sources.jdbc import add_connection_args

    parser = argparse.ArgumentParser(description=__doc__)
    add_connection_args(parser)
    parser.add_argument("--source-file-name", dest="source_file_name", required=True)
    parser.add_argument("--source-folder-name", dest="source_folder_name", default="")
    parser.add_argument(
        "--source-file-name-match-type",
        dest="match_type",
        choices=("exact_match", "regex_match"),
        default="exact_match",
    )
    parser.add_argument("--table-name", dest="table_name", required=True)
    parser.add_argument("--schema", dest="schema_name", default=None)
    parser.add_argument(
        "--insert-method",
        dest="insert_method",
        choices=tuple(INSERT_METHODS),
        default="append",
    )
    parser.add_argument("--header", dest="header", default="True")
    parser.add_argument(
        "--file-format",
        dest="file_format",
        choices=("csv", "json", "parquet", "orc"),
        default="csv",
        help="source file format (reference is CSV-only; the rest are "
        "the free Spark upgrades)",
    )
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    from .session import get_spark

    args = get_args(argv)
    from .sources.jdbc import connection_options_from_args, jdbc_writer

    jdbc_opts = connection_options_from_args(args)
    spark = get_spark("ingest")
    header = convert_to_boolean(args.header)
    if jdbc_opts is not None:
        # Warehouse sink (upload_file.py:118-155): distributed CSV read →
        # batched JDBC write. Needs the Redshift JDBC driver jar on the
        # Spark classpath at runtime.
        if args.match_type == "regex_match":
            source: str | list[str] = find_all_file_matches(
                find_all_local_file_names(args.source_folder_name),
                args.source_file_name,
            )
            if not source:
                raise FileNotFoundError(
                    f"no files matching {args.source_file_name!r}"
                )
        else:
            source = combine_folder_and_file_name(
                args.source_folder_name, args.source_file_name
            )
        df = read_files(spark, source, format=args.file_format, header=header)
        qualified = (
            f"{args.schema_name}.{args.table_name}"
            if args.schema_name
            else args.table_name
        )
        jdbc_writer(df, jdbc_opts, qualified, mode=args.insert_method).save()
        print(f"uploaded {args.source_file_name} to {qualified}")
        return
    if args.match_type == "regex_match":
        n = ingest_matching_files(
            spark,
            args.source_folder_name,
            args.source_file_name,
            args.table_name,
            format=args.file_format,
            schema_name=args.schema_name,
            insert_method=args.insert_method,
            header=header,
        )
    else:
        path = combine_folder_and_file_name(args.source_folder_name, args.source_file_name)
        n = ingest_files(
            spark,
            path,
            args.table_name,
            format=args.file_format,
            schema_name=args.schema_name,
            insert_method=args.insert_method,
            header=header,
        )
    print(f"loaded {n} rows into {args.table_name}")


if __name__ == "__main__":
    main()
