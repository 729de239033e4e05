"""Query → CSV export: Spark-first rebuild of the reference's
``store_query_results.py`` blueprint.

Reference parity map:
- query execution + streamed fetch → store_query_results.py:98-103 (A7) —
  subsumed by ``spark.sql`` (lazy, distributed; no cursor management)
- CSV sink with header toggle      → store_query_results.py:98-118 (A8)
- sink directory creation          → store_query_results.py:147-149 (A9)
- header-string coercion           → store_query_results.py:76-85 (A13)

Deliberate divergence (SURVEY.md §2 A8): the reference appends to a
pre-existing destination file (``mode='a'``, store_query_results.py:107);
we overwrite — the sane semantics for a sink named "store these results".

Scale notes (100 TB): the default path writes a DIRECTORY of part files —
executors write in parallel and no single node materializes the result.
``single_file=True`` (the reference's exact contract: one named CSV file)
coalesces to one writer task; use it only when the result is known small,
it serializes the write. Neither path collects rows to the driver.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .functions import translate_redshift_sql
from .ingest import _observe_count, combine_folder_and_file_name, convert_to_boolean


def store_query_results(
    spark: SparkSession,
    query: str,
    destination_path: str,
    *,
    include_header: bool = True,
    single_file: bool = True,
) -> int:
    """Run ``query`` and write the result as CSV; returns rows written.

    ``single_file=True`` reproduces the reference's one-named-file contract
    (store_query_results.py:105-115); ``False`` writes a part-file
    directory at ``destination_path`` (the scale path).
    """
    from .functions.system_tables import maybe_register_system_views

    maybe_register_system_views(spark, query)
    df = spark.sql(translate_redshift_sql(query))
    return write_csv(
        df, destination_path, include_header=include_header, single_file=single_file
    )


def write_csv(
    df: DataFrame,
    destination_path: str,
    *,
    include_header: bool = True,
    single_file: bool = True,
) -> int:
    """CSV sink for an arbitrary DataFrame (A8/A9); returns rows written.

    The count rides the write itself (:func:`write_result`): counting
    physical lines in the output would over-count quoted fields with
    embedded newlines, and a separate ``df.count()`` or re-read of the
    written CSV would run the query a second time just for the return
    value.
    """
    return write_result(
        df, destination_path, include_header=include_header, single_file=single_file
    )


def write_result(
    df: DataFrame,
    destination_path: str,
    *,
    format: str = "csv",
    include_header: bool = True,
    single_file: bool = True,
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> int:
    """Format-generalized sink: the reference only emits CSV
    (store_query_results.py:98-118); JSON and parquet are the free Spark
    upgrades a warehouse-export user reaches for next. Returns rows
    written, counted by an observer on the written frame
    (``ingest._observe_count``), so the query executes exactly once.

    ``single_file=True`` (the reference's one-named-file contract)
    writes through one task into a temp dir and moves the part file to
    ``destination_path``; ``False`` writes a part-file directory there.
    ``options`` are extra writer options (UNLOAD's DELIMITER, ADDQUOTES,
    NULL AS, ESCAPE and GZIP lower to these).

    ``partition_by`` mirrors Redshift ``UNLOAD ... PARTITION BY``:
    directory-mode output laid out as ``col=value/`` subdirectories, so
    downstream readers partition-prune on the export (see
    operators/layout.py for the read side). Requires
    ``single_file=False`` — a partitioned export is by definition many
    files.
    """
    if partition_by:
        if single_file:
            raise ValueError(
                "partition_by requires single_file=False: a partitioned "
                "export is a directory tree, not one file"
            )
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(f"partition_by column(s) not in result: {missing}")
    if format not in ("csv", "json", "parquet", "orc"):
        raise ValueError(f"format must be csv/json/parquet/orc, got {format!r}")
    parent = os.path.dirname(os.path.abspath(destination_path))
    os.makedirs(parent, exist_ok=True)  # A9, store_query_results.py:147-149
    df, obs = _observe_count(df)
    if single_file:
        df = df.coalesce(1)
    w = df.write.mode("overwrite").format(format)
    if format == "csv":
        w = w.option("header", include_header)
    if options:
        w = w.options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if not single_file:
        w.save(destination_path)
        return int(obs.get["n"])
    # One named file: single writer task into a temp dir, then move the
    # part file to the requested path.
    tmp_dir = tempfile.mkdtemp(prefix="bp_export_", dir=parent)
    try:
        w.save(tmp_dir)
        parts = glob.glob(os.path.join(tmp_dir, "part-*"))
        if len(parts) != 1:
            raise RuntimeError(f"expected exactly one part file, found {parts}")
        shutil.move(parts[0], destination_path)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return int(obs.get["n"])


def get_args(argv: list[str] | None = None) -> argparse.Namespace:
    """CLI surface mirroring store_query_results.py:10-59, connection
    args included (tri-mode JDBC source when any is given; local session
    catalog otherwise — documented divergence)."""
    from .sources.jdbc import add_connection_args

    parser = argparse.ArgumentParser(description=__doc__)
    add_connection_args(parser)
    parser.add_argument("--query", dest="query", required=True)
    parser.add_argument(
        "--destination-file-name", dest="destination_file_name", required=True
    )
    parser.add_argument("--destination-folder-name", dest="destination_folder_name", default="")
    parser.add_argument("--file-header", dest="file_header", default="True")
    parser.add_argument(
        "--destination-file-format",
        dest="file_format",
        choices=("csv", "json", "parquet", "orc"),
        default="csv",
        help="sink format (reference emits CSV only; the rest are the "
        "free Spark upgrades)",
    )
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    from .session import get_spark, register_tables

    args = get_args(argv)
    from .sources.jdbc import connection_options_from_args, jdbc_reader

    jdbc_opts = connection_options_from_args(args)
    spark = get_spark("export")
    dest = combine_folder_and_file_name(
        args.destination_folder_name, args.destination_file_name
    )
    if jdbc_opts is not None:
        # Warehouse source (store_query_results.py:98-103): the query
        # runs server-side via the JDBC pushdown `query` option; Spark
        # streams the result straight into the sink. Needs the Redshift
        # JDBC driver jar at runtime.
        df = jdbc_reader(spark, jdbc_opts, query=args.query).load()
    else:
        register_tables(spark)
        df = spark.sql(translate_redshift_sql(args.query))
    n = write_result(
        df,
        dest,
        format=args.file_format,
        include_header=convert_to_boolean(args.file_header),
    )
    print(f"wrote {n} rows to {dest}")


if __name__ == "__main__":
    main()
