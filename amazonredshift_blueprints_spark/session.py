"""SparkSession factory + catalog registration.

The reference resolves a connection/catalog from host/port/database args
(amazonredshift_blueprints/upload_file.py:79-82, execute_sql.py:58-60); here
the "catalog" is the Spark session catalog with one temp view per fixture
parquet table.

Scale notes (100 TB design):
- AQE on: runtime join-strategy re-planning, skew-join splitting, and
  partition coalescing replace any hand-tuned shuffle counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE ceiling; AQE
  coalesces small post-shuffle partitions automatically.
- Timezone pinned to UTC so timestamp semantics match the DuckDB oracle
  and are cluster-location independent.
- ``events.parquet`` stores INT64 TIMESTAMP(NANOS) which Spark 4.x refuses
  to read natively; we read it as long (``nanosAsLong``) and cast back to a
  microsecond timestamp — the exact value DuckDB produces for the same file
  (the fixture's nanos are all whole microseconds).

Per-build driver cost (an entry's ``build()`` on a small fixture is
bound by it, not by execution):
- Schema inference on ``spark.read.parquet`` runs a Spark job to read
  the footer. :func:`read_parquet` memoizes the raw (pre-
  normalization) schema per session in
  ``session_state(spark, "parquet_schemas")``, keyed on the absolute
  path plus the file identity ``(st_ino, st_mtime_ns, st_size)``, so a
  rewritten file is inferred again and a new session starts cold. A
  hit reads with ``spark.read.schema(s)``, which runs no job;
  ``register_tables`` fills the memo, so ``views()`` never infers.
- PySpark's DataFrame debugging
  (``spark.python.sql.dataFrameDebugging.enabled``, a static conf)
  walks the Python stack and makes JVM origin calls on every Column
  method to record its ``file:line``. :func:`get_spark` turns it off:
  ANSI error messages keep their SQL context and jobs keep their call
  site names; only the Python "DataFrame context" of an error is lost.
  PySpark reads the conf once per process, from the first session that
  builds a Column.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sessionstate import session_state

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable confs every query relies on. Applied both when we build
# the session (get_spark) and when we receive one we didn't build
# (configure_runtime) — the driver harness constructs its own SparkSession.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet has INT64 TIMESTAMP(NANOS,false); without this Spark
    # 4.x raises PARQUET_TYPE_ILLEGAL on read. With it, ts arrives as a
    # long we convert in load_tables().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r16: let AQE re-plan under InMemoryRelation too (default false).
    # The operator suite persists multi-consumer intermediates (guide
    # §5); without this every cached subtree materializes at the raw
    # pre-AQE shuffle-partition count — no coalescing, no skew splits —
    # so each persist paid a fixed per-task overhead locally and loses
    # AQE's size-adaptive partitioning at scale. Purely physical:
    # affects partitioning of cached plans, never values.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def _cpu_spec() -> str:
    """SPARK_GRAFT_CPUS may be an int or '*'; both are valid local[] specs."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if raw == "*" or raw.isdigit():
        return raw
    return str(os.cpu_count() or 8)


def _shuffle_partitions(cpu_spec: str) -> int:
    n = int(cpu_spec) if cpu_spec.isdigit() else (os.cpu_count() or 8)
    return max(n, 8)


def get_spark(app_name: str = "amazonredshift-blueprints-spark") -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-oriented defaults."""
    cpus = _cpu_spec()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(_shuffle_partitions(cpus)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # per-Column call-site capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # SPARK_GRAFT_WAREHOUSE isolates managed-table data per process so
    # concurrent gate runs (pytest + an oracle sweep) can't race each
    # other's CREATE/DROP in a shared ./spark-warehouse — the q95
    # RF1/RF2 flake class (tools/check_correctness.py --warehouse).
    # Static conf: effective only on the session that builds the JVM.
    warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if warehouse:
        builder = builder.config("spark.sql.warehouse.dir", warehouse)
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    configure_runtime(spark)
    return spark


def configure_runtime(spark: SparkSession) -> None:
    """Pin runtime confs we rely on, even on a session we didn't build."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # static conf on some builds; get_spark sets it at build time


def normalize_events_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize ``events.ts`` to TimestampType whatever the reader produced.

    The fixture parquet stores INT64 TIMESTAMP(NANOS). Depending on the
    Spark build and whether ``nanosAsLong`` took effect before the read,
    the column arrives as one of:

    - ``bigint`` (nanosAsLong path): integer-divide to micros and cast.
      Integer division matters — double division loses precision on
      ~1.7e18 nano values (53-bit mantissa) and shifts timestamps ±1 µs.
    - ``timestamp_ntz``: cast to TIMESTAMP. The session timezone is
      pinned to UTC (_RUNTIME_CONFS), so the wall-clock values are
      reinterpreted as UTC instants — bit-identical to DuckDB's read.
    - ``timestamp``: already the logical type; leave untouched.

    Every consumer (batch ``load_table``, streaming ``read_events_stream``)
    goes through here so downstream code can rely on TimestampType
    unconditionally — ``unix_micros`` and ``withWatermark`` both reject NTZ.
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema of a regular
    file once per session: the memo keys on the absolute path and the
    file's ``(st_ino, st_mtime_ns, st_size)``, so a rewritten file is
    inferred again (module docstring). Directories and paths ``os.stat``
    cannot see are inferred on every call."""
    try:
        st = os.stat(path)
        ident = (st.st_ino, st.st_mtime_ns, st.st_size) if stat.S_ISREG(st.st_mode) else None
    except OSError:
        ident = None
    memo, key = session_state(spark, "parquet_schemas"), os.path.abspath(path)
    hit = memo.get(key)
    if ident is not None and hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if ident is not None:
        memo[key] = (ident, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing types to the logical schema.

    The file is read with :func:`read_parquet`: after the first read of
    a file in a session, the read runs no Spark job.
    ``events.ts`` is normalized on every read to a microsecond
    TimestampType whatever the parquet reader yields (see
    normalize_events_ts) — bit-identical to DuckDB's read of the same
    file.
    """
    configure_runtime(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, *, strict: bool = False
) -> dict[str, DataFrame]:
    """Load every fixture table; optionally raise on missing files."""
    missing = []
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            missing.append(path)
            continue
        dfs[name] = load_table(spark, sf_dir, name)
    if missing:
        msg = f"missing fixture tables under {sf_dir}: {missing}"
        if strict:
            raise FileNotFoundError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    return dfs


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, *, strict: bool = False
) -> dict[str, DataFrame]:
    """Register every fixture parquet table as a temp view; return the dfs.

    Mirrors the reference's catalog resolution (a Redshift schema of named
    tables, upload_file.py:79-82) onto the Spark session catalog. Parquet
    scans get predicate pushdown + column pruning from Catalyst for free.
    Fills the session's schema memo (:func:`read_parquet`), so later
    reads of the same files run no inference job.
    """
    dfs = load_tables(spark, sf_dir, strict=strict)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
