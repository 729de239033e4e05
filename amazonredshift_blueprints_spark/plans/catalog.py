"""Named-query catalog: every operator family from SURVEY.md §2 as a
(Spark builder, DuckDB oracle SQL) pair.

Reference basis: the reference's whole relational surface is the verbatim
SQL hand-off at ``store_query_results.py:103`` / ``execute_sql.py:77``;
each entry here exercises one family of that delegated surface (SURVEY.md
§2 Part B) or a native/extension operator (Parts A/C), Spark-first.

Determinism contract with the DuckDB oracle (the driver hashes values):
- Money/quantity SUMs go through ``CAST(x AS DECIMAL(18,2))`` before
  summing: the decimal sum is exact, so it is identical regardless of
  partition/aggregation order or engine. The result is cast back to
  DOUBLE so both engines report the same type.
- AVGs are computed as exact decimal SUM / COUNT — one deterministic
  double division instead of an order-dependent running mean.
- Window orderings always carry a unique tiebreaker key.
- Transcendentals (ln, log10) are rounded to 6 decimals: libm last-ulp
  differences between the JVM and DuckDB would otherwise flip value
  hashes.
- Integer-ish derived scalars are cast to BIGINT on both sides (Spark
  ``hour()`` is INT, DuckDB ``extract`` is BIGINT, ...).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import translate_redshift_sql
from ..operators import pin
from ..session import configure_runtime, load_table, read_parquet


@dataclass(frozen=True)
class QuerySpec:
    """One catalog entry: a Spark plan builder plus its DuckDB oracle."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None → driver does a rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
):
    """Register a builder function under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(name, fn, oracle, doc, bench, tags)
        return fn

    return deco


def views(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load the named fixture tables and register them as temp views.

    Each read takes its schema from the session's memo
    (session.read_parquet), so once ``register_tables`` or an earlier
    build has read a fixture, this runs no Spark job."""
    out = {}
    for n in names:
        df = load_table(spark, sf_dir, n)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def dsum(col, alias: str):
    """Order-independent money sum: exact decimal sum, reported as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double").alias(alias)


def davg(col, alias: str):
    """Deterministic mean: exact decimal sum / count, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast("decimal(18,2)")).cast("double") / F.count(c)
    ).alias(alias)


_DSUM_SQL = "CAST(SUM(CAST({x} AS DECIMAL(18,2))) AS DOUBLE)"
_DAVG_SQL = "CAST(SUM(CAST({x} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({x})"

# price * (1 - discount) [* (1 + tax)] computed wholly in the decimal
# domain: casting the *product* of doubles to decimal is engine-dependent
# (Spark rounds the shortest decimal repr, DuckDB the exact binary value),
# but casting the raw 2-decimal-valued inputs is unambiguous, and decimal
# arithmetic after that is exact in both engines. (Functions, not module
# constants: Column construction needs an active SparkContext.)


def _disc_price():
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )


def _charge():
    return _disc_price() * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))


_DISC_PRICE_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
_CHARGE_SQL = f"({_DISC_PRICE_SQL}) * (1 + CAST(l_tax AS DECIMAL(4,2)))"


def dsum_exact(expr, alias: str):
    """Sum an already-exact decimal expression; report as double."""
    return F.sum(expr).cast("double").alias(alias)


# --------------------------------------------------------------------------
# Flagship (Phase 0): TPC-H Q1-style pricing summary.
# scan → filter (pushed to parquet) → project → partial+final hash agg → sort
# --------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_DSUM_SQL.format(x='l_quantity')} AS sum_qty,
           {_DSUM_SQL.format(x='l_extendedprice')} AS sum_base_price,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_CHARGE_SQL}) AS DOUBLE) AS sum_charge,
           {_DAVG_SQL.format(x='l_quantity')} AS avg_qty,
           {_DAVG_SQL.format(x='l_extendedprice')} AS avg_price,
           {_DAVG_SQL.format(x='l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: filter→hash-agg→sort (SURVEY §7 Phase 0)",
    bench=True,
    tags=("agg", "flagship"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = views(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum_exact(_disc_price(), "sum_disc_price"),
            dsum_exact(_charge(), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Part B: projection / filter / string scalars
# --------------------------------------------------------------------------

@query(
    "q02_filter_project_string",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           concat(c_mktsegment, '-', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           replace(lower(c_name), 'customer', 'cust') AS name_replaced,
           CAST(length(c_name) AS BIGINT) AS name_len,
           split_part(c_name, '#', 2) AS name_num,
           CAST(instr(c_name, '#') AS BIGINT) AS hash_pos
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND c_acctbal BETWEEN 0 AND 5000
      AND c_name LIKE '%1%'
      AND c_acctbal IS NOT NULL
    """,
    doc="WHERE (IN/BETWEEN/LIKE/IS NULL) + string scalar functions",
    tags=("scalar", "filter"),
)
def q02_filter_project_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = views(spark, sf_dir, "customer")["customer"]
    return (
        c.filter(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
            & F.col("c_acctbal").between(0, 5000)
            & F.col("c_name").like("%1%")
            & F.col("c_acctbal").isNotNull()
        )
        .select(
            "c_custkey",
            F.upper("c_name").alias("name_upper"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.concat_ws("-", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_nation"),
            F.replace(F.lower("c_name"), F.lit("customer"), F.lit("cust")).alias("name_replaced"),
            F.length("c_name").cast("long").alias("name_len"),
            F.split_part("c_name", F.lit("#"), F.lit(2)).alias("name_num"),
            F.instr("c_name", "#").cast("long").alias("hash_pos"),
        )
    )


# --------------------------------------------------------------------------
# Part B: joins
# --------------------------------------------------------------------------

@query(
    "q03_join_revenue_by_nation",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
    doc="TPC-H Q5-style 6-way equi join; dims broadcast, fact shuffles once",
    bench=True,
    tags=("join", "agg"),
)
def q03_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region")
    # Dimension sides are tiny relative to lineitem at any SF — broadcast
    # them explicitly so the fact table never shuffles for the dim joins.
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(dsum_exact(_disc_price(), "revenue"))
        .orderBy(F.desc("revenue"))
    )


@query(
    "q04_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    """,
    doc="left-semi join (EXISTS); Spark plans a broadcast/shuffled semi join",
    tags=("join",),
)
def q04_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "customer", "orders")
    big = t["orders"].filter(F.col("o_totalprice") > 100000)
    return t["customer"].join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q05_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
    doc="left-anti join (NOT EXISTS): customers with no urgent order",
    tags=("join",),
)
def q05_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "customer", "orders")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return t["customer"].join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q06_join_left_outer",
    oracle="""
    SELECT o_orderkey,
           COUNT(l_orderkey) AS n_items,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_qty
    FROM orders
    LEFT JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
    """,
    doc="left outer join preserving empty orders; COUNT(col) null semantics",
    tags=("join", "agg"),
)
def q06_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "orders", "lineitem")
    return (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_items"),
            F.coalesce(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")), F.lit(0)
            ).cast("double").alias("total_qty"),
        )
    )


@query(
    "q07_join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    doc="full outer join of two aggregates with COALESCE key merge",
    tags=("join",),
)
def q07_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "customer", "supplier")
    c = t["customer"].groupBy(F.col("c_nationkey").alias("nk")).agg(F.count("*").alias("n_cust"))
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("nk")).agg(F.count("*").alias("n_supp"))
    return c.join(s, "nk", "full_outer").select(
        F.coalesce(c["nk"], s["nk"]).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "q08_join_theta",
    oracle="""
    SELECT n_name, COUNT(*) AS n_pairs
    FROM supplier
    JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="equi join with non-equi (theta) residual predicate",
    tags=("join",),
)
def q08_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "supplier", "customer", "nation")
    return (
        t["supplier"]
        .join(
            t["customer"],
            (F.col("s_nationkey") == F.col("c_nationkey"))
            & (F.col("s_acctbal") > F.col("c_acctbal")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "q09_join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    WHERE n_nationkey < 10
    """,
    doc="cross join (broadcast nested loop); bounded by dimension sizes",
    tags=("join",),
)
def q09_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "region", "nation")
    return t["region"].crossJoin(
        t["nation"].filter(F.col("n_nationkey") < 10)
    ).select("r_name", "n_name")


# --------------------------------------------------------------------------
# Part B: aggregation
# --------------------------------------------------------------------------

@query(
    "q10_agg_hash",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           {_DSUM_SQL.format(x='o_totalprice')} AS sum_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           {_DAVG_SQL.format(x='o_totalprice')} AS avg_price
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
    doc="multi-key hash aggregate; Spark plans partial+final HashAggregate",
    tags=("agg",),
)
def q10_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = views(spark, sf_dir, "orders")["orders"]
    return o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice", "sum_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        davg("o_totalprice", "avg_price"),
    )


@query(
    "q11_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="multiple COUNT(DISTINCT) in one aggregate (expand+two-phase in Spark)",
    tags=("agg",),
)
def q11_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = views(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q12_agg_approx_distinct",
    oracle=None,  # HLL implementations differ across engines → rows-only gate;
    # exactness is covered by q11; the pytest suite asserts the approx result
    # is within rsd of the exact count.
    doc="approx_count_distinct (HLL++): the 100 TB path for distinct counts",
    tags=("agg",),
)
def q12_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = views(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q13_agg_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n_orders,
           {_DSUM_SQL.format(x='o_totalprice')} AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="GROUP BY ROLLUP with GROUPING() flags",
    tags=("agg",),
)
def q13_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = views(spark, sf_dir, "orders")["orders"]
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count("*").alias("n_orders"),
        dsum("o_totalprice", "sum_price"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n_orders", "sum_price"
    )


@query(
    "q14_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="GROUP BY CUBE (all grouping-set combinations)",
    tags=("agg",),
)
def q14_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = views(spark, sf_dir, "lineitem")["lineitem"]
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n_rows"))


# --------------------------------------------------------------------------
# Part B: windows
# --------------------------------------------------------------------------

@query(
    "q15_window_rank",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(rank()       OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               CAST(ntile(4)     OVER w AS BIGINT) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
    doc="ranking window functions, top-3 orders per customer",
    bench=True,
    tags=("window",),
)
def q15_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = views(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q16_window_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3,
           lag(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
           lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
           first_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
    FROM orders
    """,
    doc="analytic window functions with explicit ROWS frames",
    tags=("window",),
)
def q16_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = views(spark, sf_dir, "orders")["orders"]
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = order_w.rowsBetween(-2, Window.currentRow)
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(price_dec).over(run).cast("double").alias("running_total"),
        F.sum(price_dec).over(mov).cast("double").alias("moving_sum3"),
        F.lag("o_totalprice").over(order_w).alias("prev_price"),
        F.lead("o_totalprice").over(order_w).alias("next_price"),
        F.first("o_totalprice").over(run).alias("first_price"),
    )


# --------------------------------------------------------------------------
# Part B: sort / top-k / set ops
# --------------------------------------------------------------------------

@query(
    "q17_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="ORDER BY + LIMIT → TakeOrderedAndProject (true distributed top-k)",
    tags=("sort",),
)
def q17_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "orders", "customer")
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "c_name")
    )


_SETOPS_SQL = """
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT 'both' AS op, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
    UNION ALL
    SELECT 'cust_only' AS op, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
    UNION ALL
    SELECT 'either' AS op, nk FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
"""


@query(
    "q18_setops",
    oracle=_SETOPS_SQL,
    doc="INTERSECT / EXCEPT / UNION [ALL] — identical SQL both engines",
    tags=("setops",),
)
def q18_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "customer", "supplier")
    return spark.sql(_SETOPS_SQL)


# --------------------------------------------------------------------------
# Part B: scalar function families
# --------------------------------------------------------------------------

@query(
    "q19_scalar_dates",
    oracle="""
    SELECT event_id,
           date_trunc('day', ts) AS day_ts,
           CAST(extract(hour FROM ts) AS BIGINT) AS hr,
           ts + INTERVAL 7 DAY AS ts_plus7,
           CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT) AS days_since,
           strftime(ts, '%Y-%m') AS month_str,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS d
    FROM events
    WHERE event_type IN ('view', 'click')
    """,
    doc="date/time scalars over the nanos-fixed events table",
    tags=("scalar", "events"),
)
def q19_scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = views(spark, sf_dir, "events")["events"]
    return e.filter(F.col("event_type").isin("view", "click")).select(
        "event_id",
        F.date_trunc("day", "ts").alias("day_ts"),
        F.hour("ts").cast("long").alias("hr"),
        (F.col("ts") + F.expr("INTERVAL 7 DAY")).alias("ts_plus7"),
        F.datediff(F.col("ts"), F.lit("2024-01-01").cast("date")).cast("long").alias("days_since"),
        F.date_format("ts", "yyyy-MM").alias("month_str"),
        # DATE rendered as string: pandas/arrow date-vs-timestamp coercion
        # differs between engines even when the values agree.
        F.col("ts").cast("date").cast("string").alias("d"),
    )


@query(
    "q20_scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS abs_disc,
           -- BIGINT casts: DuckDB ceil/floor return DOUBLE while Spark's
           -- return LONG; a value hash over 123.0 vs 123 diverges even
           -- though every value compares equal (CORRECTNESS_r02 q20).
           CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           round(ln(l_extendedprice), 6) AS ln_price,
           round(log10(l_extendedprice), 6) AS log10_price,
           sqrt(l_quantity) AS sqrt_qty,
           l_quantity * l_quantity AS qty_sq,
           CAST(mod(l_orderkey, 7) AS BIGINT) AS key_mod7
    FROM lineitem
    WHERE l_linenumber = 1
    """,
    doc="math scalars; ln/log10 rounded (libm last-ulp divergence across engines)",
    tags=("scalar",),
)
def q20_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = views(spark, sf_dir, "lineitem")["lineitem"]
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.log10("l_extendedprice"), 6).alias("log10_price"),
        F.sqrt("l_quantity").alias("sqrt_qty"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod7"),
    )


@query(
    "q21_scalar_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS price_bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
           CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 ELSE 9 END AS prio_rank
    FROM orders
    """,
    doc="CASE WHEN / COALESCE / NULLIF / DECODE-style mapping",
    tags=("scalar",),
)
def q21_scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = views(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("price_bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias("status_label"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .otherwise(9)
        .alias("prio_rank"),
    )


@query(
    "q22_scalar_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                THEN 'high' ELSE 'low' END AS k_bucket
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="JSON extraction over events.props (Redshift JSON_EXTRACT_PATH_TEXT analog)",
    tags=("scalar", "events", "json"),
)
def q22_scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = views(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        k.alias("k"),
        F.when(k >= 50, "high").otherwise("low").alias("k_bucket"),
    )


# --------------------------------------------------------------------------
# Part B: CTE / subqueries / DDL / DML / dialect
# --------------------------------------------------------------------------

@query(
    "q23_cte_subquery",
    oracle="""
    WITH cust_tot AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, tot
    FROM customer JOIN cust_tot ON c_custkey = o_custkey
    WHERE tot > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                        / COUNT(DISTINCT o_custkey)
                 FROM orders)
    """,
    doc="CTE + scalar subquery threshold (decimal-exact for determinism)",
    tags=("subquery",),
)
def q23_cte_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "customer", "orders")
    return spark.sql("""
        WITH cust_tot AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
            FROM orders GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, tot
        FROM customer JOIN cust_tot ON c_custkey = o_custkey
        WHERE tot > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                            / COUNT(DISTINCT o_custkey)
                     FROM orders)
    """)


@query(
    "q24_ddl_ctas_insert",
    oracle=f"""
    WITH unioned AS (
        SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT o_orderpriority, COUNT(*) AS n, {_DSUM_SQL.format(x='o_totalprice')} AS total
    FROM unioned GROUP BY o_orderpriority
    """,
    doc="CREATE TABLE AS SELECT + INSERT INTO ... SELECT on the session catalog "
        "(reference analog: execute_sql.py:77 DDL/DML pass-through)",
    tags=("ddl",),
)
def q24_ddl_ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    loc = tempfile.mkdtemp(prefix="bp_ctas_")
    shutil.rmtree(loc, ignore_errors=True)  # CTAS wants a fresh location
    spark.sql("DROP TABLE IF EXISTS bp_ctas_demo")
    spark.sql(f"""
        CREATE TABLE bp_ctas_demo USING PARQUET LOCATION '{loc}' AS
        SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    """)
    spark.sql("""
        INSERT INTO bp_ctas_demo
        SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    """)
    return spark.sql("""
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM bp_ctas_demo GROUP BY o_orderpriority
    """)


_REDSHIFT_DIALECT_SQL = """
    SELECT o_orderkey,
           DATEDIFF(day, o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS age_days,
           DATEDIFF(month, o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS age_months,
           DATEDIFF(year, o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS age_years,
           NVL(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_label
    FROM orders
    WHERE o_orderstatus <> 'O'
"""


@query(
    "q25_redshift_dialect",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS BIGINT) AS age_days,
           CAST(date_diff('month', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS BIGINT) AS age_months,
           CAST(date_diff('year', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS BIGINT) AS age_years,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_label
    FROM orders
    WHERE o_orderstatus <> 'O'
    """,
    doc="Redshift-dialect SQL (DATEDIFF arg order, NVL) through the translation shim",
    tags=("dialect",),
)
def q25_redshift_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    translated = translate_redshift_sql(_REDSHIFT_DIALECT_SQL)
    df = spark.sql(translated)
    # Redshift DATEDIFF returns BIGINT; normalize the shim's INT days.
    return df.select(
        "o_orderkey",
        F.col("age_days").cast("long").alias("age_days"),
        F.col("age_months").cast("long").alias("age_months"),
        F.col("age_years").cast("long").alias("age_years"),
        "status_label",
    )


@query(
    "q26_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q3-style: selective join + agg + top-k with deterministic ties",
    bench=True,
    tags=("join", "agg", "sort"),
)
def q26_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = views(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") > cutoff)
        .join(t["orders"].filter(F.col("o_orderdate") < cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"].filter(F.col("c_mktsegment") == "BUILDING")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum_exact(_disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(20)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# --------------------------------------------------------------------------
# Part A: native-layer operators (ingest / export / SQL pass-through),
# exercised end-to-end and checked against the same oracle tables.
# --------------------------------------------------------------------------

@query(
    "a01_ingest_csv_roundtrip",
    oracle="SELECT * FROM customer",
    doc="CSV→table ingest parity (upload_file.py:118-155): fixture → CSV "
        "files → regex discovery → replace-mode load → table scan",
    tags=("native", "ingest"),
)
def a01_ingest_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..export import write_csv
    from ..ingest import find_all_file_matches, ingest_csv

    c = views(spark, sf_dir, "customer")["customer"]
    tmp = tempfile.mkdtemp(prefix="bp_ingest_")
    # Split into two CSV files to exercise the multi-file union-read path
    # (divergence from upload_file.py:197's keep-last-file replace).
    lo = c.filter(F.col("c_custkey") % 2 == 0)
    hi = c.filter(F.col("c_custkey") % 2 == 1)
    write_csv(lo, os.path.join(tmp, "customer_part_0.csv"))
    write_csv(hi, os.path.join(tmp, "customer_part_1.csv"))
    matches = find_all_file_matches(
        [os.path.join(tmp, f) for f in os.listdir(tmp)], r"customer_part_\d+\.csv$"
    )
    # Explicit schema: CSV carries no types; the catalog's contract does.
    ingest_csv(
        spark,
        sorted(matches),
        "bp_ingested_customer",
        insert_method="replace",
        schema=c.schema,
    )
    return spark.table("bp_ingested_customer")


@query(
    "a04_copy_maxerror",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey % 50 <> 0
    """,
    doc="COPY MAXERROR error tolerance (the Redshift COPY option for "
        "dirty feeds): the fixture is exported to CSV with every 50th "
        "customer's balance corrupted to a non-numeric token, then "
        "COPY'd back into a TYPED table with MAXERROR — the corrupt "
        "rows are counted against the budget and dropped, the clean "
        "rows load, and the oracle is simply the fixture minus the "
        "corrupted keys. Parsing runs against the declared table "
        "schema (Redshift semantics — type errors only EXIST relative "
        "to a declared type); budget-exceeded and parquet-format "
        "refusal paths are pytest-pinned (ingest.read_files_tolerant)",
    tags=("native", "ingest"),
)
def a04_copy_maxerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..export import write_csv
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    c = views(spark, sf_dir, "customer")["customer"]
    tmp = tempfile.mkdtemp(prefix="bp_maxerror_")
    dirty = c.select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 50 == 0, F.lit("oops"))
        .otherwise(F.col("c_acctbal").cast("string"))
        .alias("c_acctbal"),
    )
    path = os.path.join(tmp, "dirty_customer.csv")
    write_csv(dirty, path)
    tbl = "bp_maxerror_customer"
    _clean_stale_location(spark, tbl, None)
    spark.sql(
        f"CREATE TABLE {tbl} (c_custkey BIGINT, c_name STRING, "
        "c_acctbal DOUBLE) USING parquet"
    )
    n_bad = dirty.filter(F.col("c_custkey") % 50 == 0).count()
    execute_sql(
        spark,
        f"COPY {tbl} FROM '{path}' CSV IGNOREHEADER 1 MAXERROR {n_bad}",
    )
    return spark.table(tbl)


@query(
    "a05_schema_evolution_load",
    oracle="""
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey % 2 = 1
    """,
    doc="schema-evolution load: two parquet batches with DIFFERENT "
        "schemas (the second adds a column — the routine drift of any "
        "long-lived feed) land in one directory and read as one table "
        "via mergeSchema, old-batch rows null-filled for the new "
        "column. The reference's pandas chunk inference would have "
        "made this a silent dtype flip mid-load (SURVEY §1.2's known "
        "hazard); Spark merges footers per file and unions by name. "
        "100 TB: footer-only schema merge, no data rewrite — the "
        "cheap half of evolution (type CHANGES need a rewrite; that "
        "path stays fail-fast)",
    tags=("native", "ingest"),
)
def a05_schema_evolution_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    c = views(spark, sf_dir, "customer")["customer"]
    tmp = tempfile.mkdtemp(prefix="bp_evolve_")
    c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "batch=1"))
    c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", "c_acctbal"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "batch=2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(tmp, "batch=1"), os.path.join(tmp, "batch=2"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "a02_export_csv_roundtrip",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="query→CSV export parity (store_query_results.py:98-118): single "
        "named file with header, read back losslessly",
    tags=("native", "export"),
)
def a02_export_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..export import write_csv

    top = QUERIES["q17_topk"].build(spark, sf_dir)
    dest = os.path.join(tempfile.mkdtemp(prefix="bp_export_"), "top_orders.csv")
    write_csv(top, dest, include_header=True, single_file=True)
    return spark.read.option("header", True).schema(top.schema).csv(dest)


@query(
    "a03_sql_passthrough",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
    """,
    doc="statement pass-through parity (execute_sql.py:62-79): DDL via "
        "execute_sql, then scan the created view",
    tags=("native", "sql"),
)
def a03_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    execute_sql(
        spark,
        """CREATE OR REPLACE TEMPORARY VIEW bp_big_orders AS
           SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000""",
    )
    return spark.table("bp_big_orders")


@query(
    "q57_copy_unload_sql",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal
    FROM customer WHERE c_acctbal > 1000
    """,
    doc="COPY / UNLOAD accepted AS SQL statements (execute_sql.py:23,64 "
        "— the two Redshift statements the reference's blueprints "
        "package as CLIs, lowered onto the native ingest/export layer "
        "by functions/copy_unload.py): UNLOAD the fixture to a "
        "pipe-delimited file, COPY it into a catalog table "
        "(IGNOREHEADER, Redshift default delimiter), UNLOAD a filtered "
        "query over that table with HEADER PARALLEL OFF, read back — "
        "two full statement round-trips, type-exact through the CSV "
        "(shortest-round-trip doubles)",
    tags=("native", "sql", "dialect"),
)
def q57_copy_unload_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sqlrun import execute_sql

    views(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="bp_cu_")
    src = os.path.join(tmp, "customer_pipe.csv")
    execute_sql(
        spark,
        f"UNLOAD ('SELECT c_custkey, c_name, c_acctbal FROM customer') "
        f"TO '{src}' HEADER PARALLEL OFF",
    )
    spark.sql("DROP TABLE IF EXISTS bp_copy_customer")
    execute_sql(
        spark, f"COPY bp_copy_customer FROM '{src}' IGNOREHEADER 1"
    )
    out = os.path.join(tmp, "balances.csv")
    execute_sql(
        spark,
        "UNLOAD ('SELECT c_custkey, c_name, c_acctbal "
        "FROM bp_copy_customer WHERE c_acctbal > 1000') "
        f"TO '{out}' HEADER PARALLEL OFF",
    )
    return spark.read.options(header=True, sep="|").schema(
        "c_custkey long, c_name string, c_acctbal double"
    ).csv(out)


@query(
    "q58_vacuum_analyze_sql",
    oracle="""
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_custkey
    """,
    doc="VACUUM / ANALYZE accepted as SQL (the two maintenance "
        "statements every Redshift operator runs, execute_sql.py "
        "pass-through site): CREATE TABLE with DISTKEY/SORTKEY (shim "
        "strips the layout clauses, records the SORTKEY), fragmented "
        "multi-statement INSERT loads, VACUUM (copy-on-write rewrite "
        "range-sorted on the recorded SORTKEY under the DML writer "
        "lock -> zone-map layout, compacted files), ANALYZE (Spark "
        "native table+column statistics feeding CBO). Result is the "
        "post-maintenance table aggregated — VACUUM/ANALYZE must be "
        "value-neutral, which is exactly what the oracle checks",
    tags=("native", "sql", "dialect", "maintenance"),
)
def q58_vacuum_analyze_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sqlrun import execute_sql

    from ..ingest import _clean_stale_location

    views(spark, sf_dir, "orders")
    _clean_stale_location(spark, "bp_vac_orders", None)
    execute_sql(
        spark,
        "CREATE TABLE bp_vac_orders (o_custkey BIGINT, o_totalprice DOUBLE) "
        "DISTSTYLE KEY DISTKEY(o_custkey) COMPOUND SORTKEY(o_custkey)",
    )
    # three fragmented loads (the small-append pattern VACUUM cleans up)
    for bucket in (0, 1, 2):
        execute_sql(
            spark,
            "INSERT INTO bp_vac_orders "
            "SELECT o_custkey, o_totalprice FROM orders "
            f"WHERE o_orderstatus = 'F' AND o_orderkey % 3 = {bucket}",
        )
    execute_sql(spark, "VACUUM bp_vac_orders")
    execute_sql(spark, "ANALYZE bp_vac_orders")
    return (
        spark.table("bp_vac_orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total"),
        )
    )


# --------------------------------------------------------------------------
# Part C: LLM-data-pipeline operators — dedup + similarity search
# (SURVEY.md §2 Part C; BASELINE.json north star).
# --------------------------------------------------------------------------

# Shared DuckDB fragments mirroring operators/dedup.py tokenization:
# whitespace split, empties dropped, word n-grams, distinct.
_DUCK_TOKS = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
_DUCK_GRAMS3 = (
    "list_distinct(CASE WHEN len(toks) >= 3 THEN "
    "list_transform(generate_series(1, len(toks) - 2), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) "
    "ELSE [] END)"
)


@query(
    "c01_dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS fp,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="exact dedup: hash-groupBy on normalized-content fingerprint, "
        "min-id keeper; one shuffle at any scale",
    tags=("dedup",),
)
def c01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup

    d = views(spark, sf_dir, "documents")["documents"]
    return exact_dedup(d, "doc_id", "text")


@query(
    "c02_dedup_minhash",
    oracle=None,  # LSH banding is not SQL-expressible in DuckDB; exactness
    # is enforced by tests/test_dedup.py against brute-force Jaccard, and
    # the verified pairs are a subset of oracle-checked c04's output.
    doc="MinHash-LSH near-dup pairs: banded signatures → bucket equi-join "
        "→ exact Jaccard verify; no |docs|² stage at any scale",
    bench=True,
    tags=("dedup",),
)
def c02_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_near_duplicates

    d = views(spark, sf_dir, "documents")["documents"]
    return minhash_near_duplicates(
        d, "doc_id", "text", shingle_size=3, num_hashes=64, bands=16,
        threshold_pct=60,
    )


@query(
    "c03_dedup_simhash",
    oracle=None,  # 64-bit simhash bit-votes are not expressible in DuckDB
    # SQL; verified in tests/test_dedup.py against a NumPy reimplementation.
    doc="SimHash near-dup pairs: 64-bit bit-vote signature, pigeonhole "
        "block join, bit_count(xor) verify",
    tags=("dedup",),
)
def c03_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_duplicates

    d = views(spark, sf_dir, "documents")["documents"]
    return simhash_near_duplicates(d, "doc_id", "text", max_distance=3)


@query(
    "c04_dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    grams AS (
        SELECT doc_id, {_DUCK_GRAMS3} AS grams FROM toks
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS gram FROM grams),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM exploded a JOIN exploded b ON a.gram = b.gram
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(grams) AS ng FROM grams)
    SELECT id_a, id_b, n_common,
           sa.ng + sb.ng - n_common AS n_union,
           CAST(n_common AS DOUBLE) / (sa.ng + sb.ng - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE sa.ng + sb.ng - n_common > 0
      AND n_common * 100 >= (sa.ng + sb.ng - n_common) * 40
    """,
    doc="exact n-gram Jaccard pairs via inverted-index join (the LSH "
        "verification path); integer threshold predicate",
    tags=("dedup",),
)
def c04_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    d = views(spark, sf_dir, "documents")["documents"]
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold_pct=40)


_DUCK_QUANT = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
_DUCK_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
)
_DUCK_L2 = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _duck_kmeans_ctes(
    *, n_cells: int, iters: int, train_pred: str | None = None
) -> tuple[list[str], str]:
    """Shared CTE chain for the deterministic integer Lloyd loop (the
    coarse quantizer of c28 and c74): unrolls ``iters`` E/M steps and
    returns (ctes, name-of-final-centroid-CTE). Every rule matches
    operators/similarity.py exactly: lowest-id init, argmin over exact
    int64 L2² with ties to the lowest cell id, per-cell integer mean
    with round-half-away-from-zero (_div_round), empty cells keeping
    their previous centroid. SUM over BIGINT is HUGEINT in DuckDB, so
    the sums are exact too.

    ``train_pred`` (c82): a SQL predicate selecting the training subset
    — init seeds become the n_cells lowest sampled ids and every Lloyd
    E/M step runs over the sample only (mirroring
    ``ivf_pq_residual_topk(train_fraction=...)``).
    """
    round_expr = "CASE WHEN s >= 0 THEN (2*s + n) // (2*n) ELSE -((2*(-s) + n) // (2*n)) END"
    ctes = [f"v AS (SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings)"]
    if train_pred is None:
        tv = "v"
        ctes.append(
            f"c0 AS (SELECT vec_id AS cent_id, qv AS cq FROM v WHERE vec_id < {n_cells})"
        )
    else:
        tv = "tv"
        ctes.append(f"tv AS (SELECT vec_id, qv FROM v WHERE {train_pred})")
        ctes.append(
            "c0 AS (SELECT vec_id AS cent_id, qv AS cq FROM tv "
            f"ORDER BY vec_id LIMIT {n_cells})"
        )
    prev = "c0"
    for it in range(1, iters + 1):
        a, m, c = f"a{it}", f"m{it}", f"c{it}"
        ctes.append(f"""{a} AS (
        SELECT vec_id, qv, cent_id FROM (
            SELECT v.vec_id, v.qv, c.cent_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_DUCK_L2.format(a='v.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM {tv} v CROSS JOIN {prev} c
        ) WHERE rn = 1
    )""")
        ctes.append(f"""{m} AS (
        SELECT cent_id,
               list(CAST({round_expr} AS BIGINT) ORDER BY pos) AS cq
        FROM (
            SELECT cent_id, pos, SUM(val) AS s, COUNT(*) AS n FROM (
                SELECT cent_id,
                       unnest(range(len(qv))) AS pos,
                       unnest(qv) AS val
                FROM {a}
            ) GROUP BY cent_id, pos
        ) GROUP BY cent_id
    )""")
        ctes.append(
            f"{c} AS (SELECT p.cent_id, COALESCE(m.cq, p.cq) AS cq "
            f"FROM {prev} p LEFT JOIN {m} m USING (cent_id))"
        )
        prev = c
    return ctes, prev


def _duck_kmeans_ivf_oracle(*, n_cells: int, iters: int, nprobe: int, k: int,
                            n_queries: int) -> str:
    """DuckDB replay of integer-Lloyd IVF (c28): the shared k-means CTE
    chain (:func:`_duck_kmeans_ctes`) + cell assignment, probe, and
    exact cosine re-rank."""
    ctes, prev = _duck_kmeans_ctes(n_cells=n_cells, iters=iters)
    ctes.append(f"""n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    )""")
    ctes.append(f"""cells AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN {prev} c
        ) WHERE rn = 1
    )""")
    ctes.append(f"""probed AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN {prev} c
            WHERE n.vec_id < {n_queries}
        ) WHERE rn <= {nprobe}
    )""")
    ctes.append(f"""scored AS (
        SELECT p.vec_id AS query_id, s.vec_id AS neighbor_id,
               CAST({_DUCK_DOT.format(a='p.qv', b='s.qv')} AS DOUBLE)
                 / (sqrt(CAST(p.norm AS DOUBLE)) * sqrt(CAST(s.norm AS DOUBLE))) AS cosine
        FROM probed p JOIN cells s ON p.cell = s.cell
        WHERE p.vec_id <> s.vec_id
    )""")
    return "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """

# LSH parameters for c27 — shared by the Spark operator call and the
# DuckDB oracle below, which replays candidate generation bit-for-bit
# from the same md5-derived ±1 hyperplanes (the c24/c26 portability
# pattern applied to vectors).
_C05_BITS, _C05_TABLES, _C05_DIM = 6, 4, 64


def _duck_bucket(table: int, *, bits: int = _C05_BITS, dim: int = _C05_DIM) -> str:
    """DuckDB expression for the portable sign-bit bucket id of ``qv``
    under table ``table`` — literal sign lists, exact BIGINT arithmetic,
    identical to :func:`operators.similarity.portable_bucket`."""
    from ..operators.similarity import portable_hyperplane_signs

    terms = []
    for bit in range(bits):
        signs = portable_hyperplane_signs(table, bit, dim)
        arr = "[" + ",".join(str(s) for s in signs) + "]"
        proj = (
            f"list_sum(list_transform(generate_series(1, {dim}),"
            f" i -> qv[i] * ({arr})[i]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << bit} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


_C05_SKETCH_SQL = "\n        UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_duck_bucket(t)} AS bucket FROM n"
    for t in range(_C05_TABLES)
)


@query(
    "c05_dedup_embedding",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM q
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
             / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE))) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
            / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
          * 1000000 >= 400000
    """,
    doc="embedding cosine near-dup pairs, EXACT contract: all pairs with "
        "cosine >= 0.4 (auto-exact generator — LSH recall is ~0.23 down "
        "here, so the operator refuses the approximate path). The "
        "exactness baseline; the scale path is c27's LSH variant",
    tags=("dedup", "similarity"),
)
def c05_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_duplicates

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return embedding_near_duplicates(e, threshold_microcos=400_000, exact=True)


@query(
    "c27_dedup_embedding_lsh",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM q
    ),
    sk AS (
        {_C05_SKETCH_SQL}
    ),
    cand AS (
        SELECT DISTINCT s.vec_id AS ia, t.vec_id AS ib
        FROM sk s JOIN sk t ON s.tbl = t.tbl AND s.bucket = t.bucket
        WHERE s.vec_id < t.vec_id
    )
    SELECT c.ia AS id_a, c.ib AS id_b,
           CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
             / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE))) AS cosine
    FROM cand c
    JOIN n a ON a.vec_id = c.ia
    JOIN n b ON b.vec_id = c.ib
    WHERE CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
            / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
          * 1000000 >= 400000
    """,
    doc="embedding near-dup, APPROXIMATE scale path: portable-LSH bucket "
        "candidates (no all-pairs stage) + exact quantized-cosine verify. "
        "Precision is exact; recall follows the hyperplane-LSH curve "
        "(lsh_pair_recall — ~0.95 at cosine 0.95, bounded by "
        "tests/test_similarity.py's planted-near-dup recall test). The "
        "oracle replays the identical md5-hyperplane buckets, so this row "
        "certifies candidate generation + verify consistency; the exact "
        "contract is c05's row",
    bench=True,
    tags=("dedup", "similarity", "approx"),
)
def c27_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_duplicates

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return embedding_near_duplicates(
        e,
        threshold_microcos=400_000,
        exact=False,
        bits=_C05_BITS,
        n_tables=_C05_TABLES,
        dim=_C05_DIM,
    )


@query(
    "c38_ann_lsh_portable_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM q
    ),
    sk AS (
        {_C05_SKETCH_SQL}
    ),
    cand AS (
        SELECT DISTINCT s.vec_id AS qid, t.vec_id AS nid
        FROM sk s JOIN sk t ON s.tbl = t.tbl AND s.bucket = t.bucket
        WHERE s.vec_id < 10 AND s.vec_id <> t.vec_id
    ),
    scored AS (
        SELECT c.qid AS query_id, c.nid AS neighbor_id,
               CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
                 / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE))) AS cosine
        FROM cand c
        JOIN n a ON a.vec_id = c.qid
        JOIN n b ON b.vec_id = c.nid
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="ANN top-k via portable-hyperplane LSH: md5-derived sign "
        "sketches bucket corpus and queries, candidates come from the "
        "(table, bucket) equi-join — never an all-pairs stage — then "
        "exact quantized-cosine re-rank of candidates only. Closes the "
        "oracle gap for the LSH top-k family the way c24/c26/c27 do for "
        "MinHash/SimHash/near-dup: the DuckDB oracle re-derives the "
        "identical buckets from pure literals, so candidate generation "
        "is hash-verified, not recall-bounded (c07 keeps the xxhash64 "
        "fast path)",
    bench=True,
    tags=("similarity", "approx", "portable"),
)
def c38_ann_lsh_portable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_topk_portable

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return lsh_topk_portable(
        e, e.filter(F.col("vec_id") < 10),
        k=5, bits=_C05_BITS, n_tables=_C05_TABLES, dim=_C05_DIM,
    )


@query(
    "c28_ann_ivf_kmeans_topk",
    # The Lloyd loop is exact integer arithmetic end-to-end (int64 L2^2,
    # HUGEINT-exact sums, integer round-half-away-from-zero means), so the
    # whole iterative algorithm unrolls into replayable ANSI SQL — a HARD
    # oracle, equality not tolerance. A NumPy bit-identical replay also
    # runs in tests/test_similarity.py::test_kmeans_centroids_bitwise_numpy_replay.
    oracle=_duck_kmeans_ivf_oracle(n_cells=16, iters=2, nprobe=4, k=5,
                                   n_queries=10),
    doc="IVF-Flat top-k with a k-means coarse quantizer: two "
        "deterministic Lloyd iterations (exact integer sums, lowest-id "
        "init, ties to lowest cell, integer half-away-from-zero means) "
        "refine the cells before the probe/re-rank stages shared with "
        "c17. On clustered data the learned quantizer lifts recall "
        "0.63 -> 0.89 at nprobe=2; each iteration is one map-only "
        "assignment pass + one hash aggregate, only the kxdim centroid "
        "table returns to the driver",
    tags=("similarity", "approx"),
)
def c28_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, n_cells=16, nprobe=4,
        kmeans_iters=2,
    )


@query(
    "c32_pipeline_neardup_stratified",
    oracle=r"""
    WITH RECURSIVE t AS (
        SELECT doc_id, text AS _text,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(nullif(len(toks), 0) AS DOUBLE) AS uniq_ratio,
               CAST(length(_text) - length(regexp_replace(_text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                 / CAST(nullif(length(_text), 0) AS DOUBLE) AS punct_ratio,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / CAST(nullif(len(toks), 0) AS DOUBLE) AS mean_token_len
        FROM t
    ),
    q AS (
        SELECT doc_id,
               CAST(
                 (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 30 ELSE 0 END)
               + (CASE WHEN uniq_ratio * 100 >= 30 THEN 25 ELSE 0 END)
               + (CASE WHEN punct_ratio * 100 <= 15 THEN 25 ELSE 0 END)
               + (CASE WHEN mean_token_len >= 2 AND mean_token_len <= 12 THEN 20 ELSE 0 END)
               AS BIGINT) AS quality
        FROM s
    ),
    surv AS (
        SELECT d.doc_id, d.text, d.lang
        FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 80
    ),
    stoks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM surv
    ),
    grams AS (SELECT doc_id, """ + _DUCK_GRAMS3 + r""" AS grams FROM stoks),
    exploded AS (SELECT doc_id, unnest(grams) AS gram FROM grams),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM exploded a JOIN exploded b ON a.gram = b.gram
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(grams) AS ng FROM grams),
    pairs AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE sa.ng + sb.ng - n_common > 0
          AND n_common * 100 >= (sa.ng + sb.ng - n_common) * 40
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT src AS id, src AS label FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    grp AS (SELECT id AS doc_id, MIN(label) AS group_id FROM reach GROUP BY id),
    kept AS (
        SELECT doc_id, lang FROM surv
        WHERE doc_id NOT IN (SELECT doc_id FROM grp WHERE doc_id <> group_id)
    ),
    samp AS (
        SELECT doc_id, lang,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 6),
                            doc_id
               ) AS BIGINT) AS samp_rank
        FROM kept
    )
    SELECT doc_id, lang, samp_rank,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':r4'), 1, 6)
                     <= 'e66666'
                THEN 'train' ELSE 'val' END AS split
    FROM samp WHERE samp_rank <= 15
    """,
    doc="the full training-data pipeline with NEAR-dup resolution, "
        "composed from catalog operators: quality gate (c08 score) -> "
        "n-gram-Jaccard pair graph (c04) -> connected-component group "
        "resolution keeping each group's min id (c29) -> stratified "
        "per-language sample (c30) -> portable 90/10 split (c22). "
        "Everything except the bounded label-propagation loop is one "
        "Catalyst plan; the DuckDB oracle independently replays every "
        "stage including the components (recursive CTE)",
    bench=True,
    tags=("pipeline", "documents"),
)
def c32_pipeline_neardup_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicate_groups, ngram_jaccard_pairs
    from ..operators.sampling import hash_split, stratified_sample
    from ..operators.text import quality_score, text_stats

    from pyspark.storagelevel import StorageLevel

    d = views(spark, sf_dir, "documents")["documents"]
    quality = quality_score(text_stats(d, "doc_id", "text")).select(
        "doc_id", "quality"
    )
    # persisted (r16): the quality-gated survivor set feeds the n-gram
    # pair generator (materialized inside the components loop) AND the
    # keep-side anti-join — unpersisted, the scan + text_stats + gate
    # join re-ran per consumer (guide §5)
    surv = pin(
        d.join(quality.filter(F.col("quality") >= 80), "doc_id").select(
            "doc_id", "text", "lang"
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    pairs = ngram_jaccard_pairs(surv, "doc_id", "text", n=3, threshold_pct=40)
    dupes = (
        duplicate_groups(pairs)
        .filter(F.col("doc_id") != F.col("group_id"))
        .select("doc_id")
    )
    kept = surv.join(dupes, "doc_id", "left_anti").select("doc_id", "lang")
    samp = stratified_sample(kept, ["lang"], key="doc_id", n_per_stratum=15)
    return hash_split(
        samp, key="doc_id", splits={"train": 0.9, "val": 0.1}, salt="r4"
    ).select("doc_id", "lang", "samp_rank", "split")


_WINDOW_DEDUP_SQL = """
    SELECT o_custkey, o_orderkey, o_orderdate
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    ) WHERE rn = 1
"""


@query(
    "q49_window_dedup",
    oracle=_WINDOW_DEDUP_SQL,
    doc="keep-latest-row-per-key via ROW_NUMBER() = 1 — the standard "
        "warehouse dedup/upsert-read idiom. Identical ANSI SQL text runs "
        "on both engines; Spark lowers it to WindowGroupLimit (per-"
        "partition top-1, no full sort of each key group)",
    tags=("window", "dedup"),
)
def q49_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    return spark.sql(_WINDOW_DEDUP_SQL)


@query(
    "c34_funnel_counts",
    oracle="""
    WITH s0 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
           CAST(COUNT(*) AS BIGINT) AS n_users FROM s0
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'click', CAST(COUNT(*) AS BIGINT) FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'purchase', CAST(COUNT(*) AS BIGINT) FROM s2
    """,
    doc="first-touch ordered funnel (view -> click -> purchase): each "
        "step counts users with that event strictly after their "
        "earliest completion of the previous step. Per step: pushed "
        "type filter, user-keyed equi-join to the shrinking previous "
        "stage, groupBy-min — shuffles on user_id only",
    tags=("events", "analytics"),
)
def c34_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import funnel_counts

    e = views(spark, sf_dir, "events")["events"]
    return funnel_counts(e, ["view", "click", "purchase"])


@query(
    "c33_retention_cohorts",
    oracle="""
    WITH first AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) / 7 AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="weekly retention cohorts over the event log: first-seen week "
        "per user (groupBy-min), distinct (user, active-week), equi-join "
        "on user_id, final (cohort, offset) rollup. All stages partial-"
        "aggregate map-side and shuffle on user_id only; output is at "
        "most |weeks|^2 rows",
    tags=("events", "analytics"),
)
def c33_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import retention_cohorts

    e = views(spark, sf_dir, "events")["events"]
    return retention_cohorts(e)


@query(
    "c35_frame_sample",
    oracle="""
    WITH f AS (
        SELECT doc_id, text,
               unnest(list_filter(
                   generate_series(0, CAST(ceil(length(text) / 64.0) AS BIGINT) - 1),
                   i -> i % 4 = 0
               )) AS i
        FROM documents
        WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS frame_idx,
           CAST(length(substr(text, CAST(1 + i * 64 AS INT), 64)) AS BIGINT)
             AS n_frame_bytes,
           md5(substr(text, CAST(1 + i * 64 AS INT), 64)) AS frame_md5
    FROM f
    """,
    doc="multimodal frame-sampling plumbing: payload split into 64-byte "
        "frames, every 4th kept, via the row-exploding mapInPandas shape "
        "a real video sampler needs (1 input row -> many frames, no "
        "shuffle, Arrow-bounded memory). Deterministic byte slicing "
        "stands in for the codec, so the DuckDB oracle replays frames "
        "and digests exactly (fixture text is ASCII: char slices == "
        "byte slices)",
    tags=("multimodal",),
)
def c35_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, sample_frames

    d = views(spark, sf_dir, "documents")["documents"]
    return sample_frames(attach_binary_payload(d, "doc_id", "text"))


@query(
    "c30_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source, samp_rank FROM (
        SELECT doc_id, lang, source,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 6),
                            doc_id
               ) AS BIGINT) AS samp_rank
        FROM documents
    ) WHERE samp_rank <= 20
    """,
    doc="stratified sampling: exactly min(20, |stratum|) docs per lang, "
        "ranked by the portable salted-md5 order (partition-independent, "
        "engine-replayable) — the per-language balancing step of a "
        "training-data pipeline. One shuffle on the strata key",
    tags=("sampling",),
)
def c30_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    d = views(spark, sf_dir, "documents")["documents"]
    return stratified_sample(
        d.select("doc_id", "lang", "source"),
        ["lang"],
        key="doc_id",
        n_per_stratum=20,
    )


@query(
    "c31_top_tokens",
    oracle="""
    SELECT token, n_occurrences FROM (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS token
            FROM documents
        )
        GROUP BY token
    )
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """,
    doc="corpus heavy hitters: top-20 tokens by exact occurrence count "
        "(explode -> partial+final hash agg bounded by |vocab|, then "
        "TakeOrderedAndProject top-k — no global sort). The "
        "vocabulary/stopword-discovery pass of a corpus pipeline",
    tags=("text",),
)
def c31_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import top_tokens

    d = views(spark, sf_dir, "documents")["documents"]
    return top_tokens(d, "text", k=20)


@query(
    "c29_dedup_groups",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, """ + _DUCK_TOKS + """ AS toks FROM documents
    ),
    grams AS (
        SELECT doc_id, """ + _DUCK_GRAMS3 + """ AS grams FROM toks
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS gram FROM grams),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM exploded a JOIN exploded b ON a.gram = b.gram
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(grams) AS ng FROM grams),
    pairs AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE sa.ng + sb.ng - n_common > 0
          AND n_common * 100 >= (sa.ng + sb.ng - n_common) * 40
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT src AS id, src AS label FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS group_id
    FROM reach GROUP BY id
    """,
    doc="duplicate-group resolution: connected components over the "
        "verified n-gram-Jaccard pair graph (c04's pairs), labeled by "
        "component-min id — 'keep doc_id = group_id, drop the rest' is "
        "the dedup pipeline's final step. Spark side is Pregel-style "
        "min-label propagation (equi-join + groupBy-min per round, "
        "BIGINT-sum convergence probe); the DuckDB oracle independently "
        "recomputes components via a recursive CTE",
    bench=True,
    tags=("dedup", "graph"),
)
def c29_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicate_groups, ngram_jaccard_pairs

    d = views(spark, sf_dir, "documents")["documents"]
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold_pct=40)
    return duplicate_groups(pairs)


@query(
    "c06_ann_bruteforce_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')} AS DOUBLE)
                 / (sqrt(CAST(q.norm AS DOUBLE)) * sqrt(CAST(c.norm AS DOUBLE))) AS cosine
        FROM n q CROSS JOIN n c
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="brute-force cosine top-k (exactness baseline for ANN); windowed "
        "row_number per query",
    bench=True,
    tags=("similarity",),
)
def c06_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return brute_force_topk(e, e.filter(F.col("vec_id") < 10), k=5)


@query(
    "c85_range_search_cosine",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')} AS DOUBLE)
             / (sqrt(CAST(q.norm AS DOUBLE)) * sqrt(CAST(c.norm AS DOUBLE)))
               AS cosine
    FROM n q CROSS JOIN n c
    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
      AND CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')} AS DOUBLE)
            / (sqrt(CAST(q.norm AS DOUBLE)) * sqrt(CAST(c.norm AS DOUBLE)))
          >= 0.25
    """,
    doc="cosine radius (range) search: every neighbor above a "
        "similarity threshold, uncapped — the all-matches complement "
        "of top-k that near-duplicate audits and contamination sweeps "
        "ask for (FAISS range_search). Exact baseline: query batch "
        "broadcast against the corpus, quantized-integer dots, one "
        "double division, threshold filter; the scale path swaps in "
        "LSH/IVF candidate pruning (c07/c17/c37) ahead of the SAME "
        "final filter (operators/similarity.range_search)",
    tags=("similarity",),
)
def c85_range_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import range_search

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return range_search(e, e.filter(F.col("vec_id") < 10), threshold=0.25)


@query(
    "c94_ivf_range_search",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    cents AS (SELECT vec_id AS cent_id, qv AS cq FROM v WHERE vec_id < 16),
    cells AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probed AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN cents c
            WHERE n.vec_id < 10
        ) WHERE rn <= 4
    )
    SELECT p.vec_id AS query_id, s.vec_id AS neighbor_id,
           CAST({_DUCK_DOT.format(a='p.qv', b='s.qv')} AS DOUBLE)
             / (sqrt(CAST(p.norm AS DOUBLE)) * sqrt(CAST(s.norm AS DOUBLE)))
               AS cosine
    FROM probed p JOIN cells s ON p.cell = s.cell
    WHERE p.vec_id <> s.vec_id
      AND CAST({_DUCK_DOT.format(a='p.qv', b='s.qv')} AS DOUBLE)
            / (sqrt(CAST(p.norm AS DOUBLE)) * sqrt(CAST(s.norm AS DOUBLE)))
          >= 0.25
    """,
    doc="IVF-pruned radius search — the scale path c85's exact range "
        "search documents, now a real entry: candidates from the "
        "nprobe nearest coarse cells only (~nprobe/n_cells of the "
        "corpus per query), the same cosine threshold re-ranks. The "
        "oracle replays candidate generation (deterministic lowest-id "
        "centroids, argmin-L2 assignment), so the recall loss vs c85 "
        "is itself deterministic and checkable by diffing the two "
        "entries (operators/similarity.ivf_range_search)",
    tags=("similarity", "approx"),
)
def c94_ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_range_search

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_range_search(
        e, e.filter(F.col("vec_id") < 10), threshold=0.25, n_cells=16,
        nprobe=4,
    )


@query(
    "c07_ann_lsh_topk",
    oracle=None,  # hyperplane sketches use xxhash64 (no DuckDB equivalent);
    # recall vs the exact top-k is asserted in tests/test_similarity.py.
    doc="random-hyperplane LSH top-k: bucket equi-join candidates, exact "
        "re-rank of candidates only — the 100 TB ANN path",
    tags=("similarity",),
)
def c07_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return lsh_topk(e, e.filter(F.col("vec_id") < 10), k=5, bits=6, n_tables=8)


# --------------------------------------------------------------------------
# Part C: text analysis, sessionization, multimodal plumbing, event rollup
# --------------------------------------------------------------------------

from ..operators.text import STOPWORDS as _STOPWORDS  # noqa: E402


def _duck_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"CAST(len(list_filter(toks, t -> t in ({words}))) AS BIGINT)"


_LANGS = sorted(_STOPWORDS)


@query(
    "c08_text_stats",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, text AS _text,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               CAST(length(_text) AS BIGINT) AS n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
               CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(nullif(len(toks), 0) AS DOUBLE) AS uniq_ratio,
               CAST(length(_text) - length(regexp_replace(_text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                 / CAST(nullif(length(_text), 0) AS DOUBLE) AS punct_ratio,
               CAST(len(list_filter(toks, t -> t in ('the','and','of','to','a','in','is','it','that','for'))) AS DOUBLE)
                 / CAST(nullif(len(toks), 0) AS DOUBLE) AS stopword_ratio,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / CAST(nullif(len(toks), 0) AS DOUBLE) AS mean_token_len
        FROM t
    )
    SELECT *,
           CAST(
             (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 30 ELSE 0 END)
           + (CASE WHEN uniq_ratio * 100 >= 30 THEN 25 ELSE 0 END)
           + (CASE WHEN punct_ratio * 100 <= 15 THEN 25 ELSE 0 END)
           + (CASE WHEN mean_token_len >= 2 AND mean_token_len <= 12 THEN 20 ELSE 0 END)
           AS BIGINT) AS quality
    FROM s
    """,
    doc="per-document quality signals + composite score (pre-training "
        "corpus filters); one columnar scan, no shuffle",
    bench=True,
    tags=("text",),
)
def c08_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_score, text_stats

    d = views(spark, sf_dir, "documents")["documents"]
    return quality_score(text_stats(d, "doc_id", "text"))


@query(
    "c09_text_langid",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               {", ".join(f"{_duck_hits(lang)} AS {lang}_hits" for lang in _LANGS)}
        FROM t
    )
    SELECT doc_id, {", ".join(f"{lang}_hits" for lang in _LANGS)},
           CASE
             WHEN greatest({", ".join(f"{lang}_hits" for lang in _LANGS)}) = 0 THEN 'und'
             {" ".join(f"WHEN {lang}_hits = greatest({', '.join(f'{x}_hits' for x in _LANGS)}) THEN '{lang}'" for lang in _LANGS)}
           END AS lang_pred
    FROM h
    """,
    doc="language-ID heuristic: stopword hits per language, argmax with "
        "deterministic tie-break",
    tags=("text",),
)
def c09_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import language_id

    d = views(spark, sf_dir, "documents")["documents"]
    return language_id(d, "doc_id", "text")


@query(
    "c10_text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish regex pre-tokenization",
    tags=("text",),
)
def c10_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count_bpe

    d = views(spark, sf_dir, "documents")["documents"]
    return token_count_bpe(d, "doc_id", "text")


@query(
    "c11_text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents
    """,
    doc="document fingerprint: normalize (lower/strip/collapse) + md5",
    tags=("text",),
)
def c11_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint

    d = views(spark, sf_dir, "documents")["documents"]
    return fingerprint(d, "doc_id", "text")


@query(
    "c12_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(date_trunc('second', ts))
                            - epoch(date_trunc('second', lag(ts) OVER w)) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    idx AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged
    )
    SELECT user_id,
           -- BIGINT cast: DuckDB SUM(int) yields HUGEINT -> float64 in the
           -- fetched frame while Spark emits LONG; the driver's value hash
           -- sees 1.0 vs 1 (CORRECTNESS_r02 c12).
           CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(epoch(date_trunc('second', MAX(ts)))
                - epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS duration_secs
    FROM idx
    GROUP BY user_id, session_idx
    """,
    doc="gap-and-islands sessionization (30-min gap): lag-flag + running "
        "sum; one shuffle on user_id",
    bench=True,
    tags=("events", "sessions"),
)
def c12_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import sessionize

    e = views(spark, sf_dir, "events")["events"]
    return sessionize(e, gap_minutes=30)


@query(
    "c13_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    idx AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS last_event,
           COUNT(*) AS n_events
    FROM idx
    GROUP BY user_id, session_idx
    """,
    doc="Spark-native session_window grouping (streaming-capable form; "
        "boundary: a gap of exactly 30min starts a NEW session, hence the "
        ">= in the oracle)",
    tags=("events", "sessions"),
)
def c13_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import session_window_agg

    e = views(spark, sf_dir, "events")["events"]
    return session_window_agg(e, gap_minutes=30)


@query(
    "c14_multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           lower(hex(substring(text, 1, 8))) AS head_hex,
           substring(sha256(text), 1, 16) AS feature
    FROM documents
    """,
    doc="multimodal binary-column plumbing: payload bytes through an "
        "Arrow-batched mapInPandas featureizer (decode step stubbed); "
        "oracle valid because fixture text is pure ASCII",
    tags=("multimodal",),
)
def c14_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, extract_features

    d = views(spark, sf_dir, "documents")["documents"]
    return extract_features(attach_binary_payload(d, "doc_id", "text"))


@query(
    "c15_event_window_rollup",
    oracle=f"""
    SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 * 1000000) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {_DSUM_SQL.format(x='value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="tumbling 6-hour event rollup (batch twin of the streaming "
        "windowed agg in streaming/sessions.py)",
    tags=("events",),
)
def c15_event_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = views(spark, sf_dir, "events")["events"]
    return (
        e.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Part B (continued): array/map functions, grouping sets, extended dialect,
# ordered-set / listagg aggregates.
# --------------------------------------------------------------------------

@query(
    "q27_array_map",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           toks[1] AS first_token,
           array_to_string(list_slice(toks, 1, 3), ' ') AS first3,
           array_to_string(list_slice(list_sort(toks), 1, 3), ' ') AS sorted3,
           list_contains(toks, 'the') AS has_the,
           list_max(toks) AS max_token,
           CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT)
             AS total_token_chars,
           CAST(len(list_filter(toks, t -> length(t) > 5)) AS BIGINT) AS long_token_count,
           CAST(len(list_distinct(toks)) AS BIGINT) AS uniq_via_map,
           CAST(2 AS BIGINT) AS n_map_keys
    FROM t
    """,
    doc="array/map function family (SURVEY §2 Part B 'Array/map functions'): "
        "transform/filter/aggregate/slice/sort_array/array_contains/"
        "element_at + map_from_arrays/map_keys; oracle computes the same "
        "values with DuckDB list functions (maps are Spark-side richness)",
    tags=("array", "map"),
)
def q27_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tokens

    d = views(spark, sf_dir, "documents")["documents"]
    staged = d.select("doc_id", tokens("text").alias("toks"))
    toks = F.col("toks")
    n_tokens = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    stats_map = F.map_from_arrays(
        F.array(F.lit("n_tokens"), F.lit("n_uniq")), F.array(n_tokens, n_uniq)
    )
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.try_element_at(toks, F.lit(1)).alias("first_token"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("first3"),
        F.concat_ws(" ", F.slice(F.sort_array(toks), 1, 3)).alias("sorted3"),
        F.array_contains(toks, "the").alias("has_the"),
        F.array_max(toks).alias("max_token"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
        ).cast("long").alias("total_token_chars"),
        F.size(F.filter(toks, lambda t: F.length(t) > 5)).cast("long").alias("long_token_count"),
        F.element_at(stats_map, F.lit("n_uniq")).alias("uniq_via_map"),
        F.size(F.map_keys(stats_map)).cast("long").alias("n_map_keys"),
    )


_GROUPING_SETS_SQL = f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n,
           {_DSUM_SQL.format(x='o_totalprice')} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
"""


@query(
    "q28_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    doc="explicit GROUP BY GROUPING SETS (beyond q13 rollup / q14 cube): "
        "identical SQL text in both engines, GROUPING() disambiguates "
        "aggregation NULLs from data NULLs",
    tags=("agg", "grouping"),
)
def q28_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    return spark.sql(_GROUPING_SETS_SQL)


_DIALECT_FUNCS_SQL = """
    SELECT event_id,
           TO_CHAR(ts, 'YYYY-MM-DD HH24:MI') AS ts_str,
           LEN(event_type) AS type_len,
           CHARINDEX('i', event_type) AS i_pos,
           NVL2(NULLIF(event_type, 'view'), 'other', 'is_view') AS view_flag,
           DECODE(event_type, 'view', 1, 'click', 2, 0) AS type_code,
           STRTOL('ff', 16) AS const_255,
           CAST(TO_DATE(TO_CHAR(ts, 'YYYY-MM-DD'), 'YYYY-MM-DD') AS TIMESTAMP)
             AS day_parsed,
           DATEADD(day, 7, ts) AS ts_plus_week,
           DATE_PART(hour, ts) AS ts_hour
    FROM events
"""


@query(
    "q29_dialect_functions",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M') AS ts_str,
           CAST(length(event_type) AS BIGINT) AS type_len,
           CAST(strpos(event_type, 'i') AS BIGINT) AS i_pos,
           CASE WHEN NULLIF(event_type, 'view') IS NOT NULL
                THEN 'other' ELSE 'is_view' END AS view_flag,
           CAST(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                ELSE 0 END AS BIGINT) AS type_code,
           CAST(255 AS BIGINT) AS const_255,
           CAST(strptime(strftime(ts, '%Y-%m-%d'), '%Y-%m-%d') AS TIMESTAMP)
             AS day_parsed,
           ts + INTERVAL 7 DAY AS ts_plus_week,
           CAST(date_part('hour', ts) AS BIGINT) AS ts_hour
    FROM events
    """,
    doc="extended Redshift dialect through the translation shim: TO_CHAR "
        "date formats, LEN, CHARINDEX arg swap, NVL2, Oracle-style DECODE, "
        "STRTOL, TO_DATE/TO_CHAR round-trip, DATEADD -> timestampadd, "
        "DATE_PART (CONVERT_TIMEZONE is shimmed too; unit-tested, not "
        "oracle-checked because DuckDB lacks a matching tz primitive)",
    tags=("dialect",),
)
def q29_dialect_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "events")
    df = spark.sql(translate_redshift_sql(_DIALECT_FUNCS_SQL))
    return df.select(
        "event_id",
        "ts_str",
        F.col("type_len").cast("long").alias("type_len"),
        F.col("i_pos").cast("long").alias("i_pos"),
        "view_flag",
        F.col("type_code").cast("long").alias("type_code"),
        F.col("const_255").cast("long").alias("const_255"),
        "day_parsed",
        "ts_plus_week",
        F.col("ts_hour").cast("long").alias("ts_hour"),
    )


_LISTAGG_SPARK_SQL = """
    SELECT r_regionkey,
           listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
           CAST(median(n_nationkey) AS DOUBLE) AS med_nationkey,
           ROUND(CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY n_nationkey) AS DOUBLE), 3)
             AS p25_nationkey,
           COUNT(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
"""


@query(
    "q30_listagg_ordered_agg",
    oracle="""
    SELECT r_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(median(n_nationkey) AS DOUBLE) AS med_nationkey,
           ROUND(CAST(quantile_cont(n_nationkey, 0.25) AS DOUBLE), 3) AS p25_nationkey,
           COUNT(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
    doc="ordered-set aggregates: LISTAGG WITHIN GROUP (Redshift's ordered "
        "string agg), MEDIAN, PERCENTILE_CONT — all native in Spark 4",
    tags=("agg", "dialect"),
)
def q30_listagg_ordered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "nation", "region")
    return spark.sql(_LISTAGG_SPARK_SQL)


# --------------------------------------------------------------------------
# Part B (continued): the Python UDF / UDAF surface — Arrow-vectorized.
# --------------------------------------------------------------------------

@query(
    "q31_pandas_udf_scalar",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    )
    SELECT vec_id,
           sqrt(CAST(list_sum(list_transform(qv, v -> v * v)) AS DOUBLE)) AS l2_norm_q
    FROM q
    """,
    doc="scalar pandas_udf (Arrow-batched, the sanctioned Python hot "
        "path): quantized-exact L2 norm per embedding — the UDF surface "
        "Redshift exposes as Python UDFs (reference pass-through sites "
        "store_query_results.py:103 / execute_sql.py:77)",
    tags=("udf",),
)
def q31_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import embedding_norms

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return embedding_norms(e)


@query(
    "q32_grouped_applyinpandas",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_q,
           (CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)
             / COUNT(*) AS mean_value
    FROM events
    GROUP BY user_id
    """,
    doc="grouped applyInPandas (the UDAF surface): one shuffle on the "
        "group key, each group one pandas frame; sums exact over "
        "quantized int64",
    tags=("udf", "events"),
)
def q32_grouped_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import user_event_stats

    e = views(spark, sf_dir, "events")["events"]
    return user_event_stats(e)


# --------------------------------------------------------------------------
# Part C (continued): custom stateful streaming operator.
# --------------------------------------------------------------------------

@query(
    "c16_stateful_stream_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_q
    FROM events
    GROUP BY user_id
    """,
    doc="custom stateful streaming op (applyInPandasWithState): per-user "
        "running count/sum state, update-mode emissions collapsed by "
        "max() (monotone, so batch-count independent); the fixture is "
        "split at its time midpoint into two files consumed one per "
        "micro-batch, so batch 2 genuinely merges into batch-1 state "
        "(the path where GroupState.get is read — a property, not a "
        "method; c65's harness caught the latent crash a single-batch "
        "run never exercised); availableNow run equals the batch "
        "aggregate",
    tags=("streaming", "udf", "events"),
)
def c16_stateful_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.sessions import (
        await_finished,
        read_events_stream,
        stateful_user_counts,
    )

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    views(spark, sf_dir, "events")  # oracle side reads the same fixture
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = read_parquet(spark, src).schema
    d = tempfile.mkdtemp(prefix="bp_stateful_stream_")
    t = pq.read_table(src)
    ts_i = pc.cast(t.column("ts"), "int64")
    mm = pc.min_max(ts_i).as_py()
    mid = mm["min"] + (mm["max"] - mm["min"]) // 2
    early = pc.less(ts_i, mid)
    pq.write_table(t.filter(early), os.path.join(d, "part-0.parquet"))
    pq.write_table(t.filter(pc.invert(early)), os.path.join(d, "part-1.parquet"))
    now = os.path.getmtime(os.path.join(d, "part-1.parquet"))
    os.utime(os.path.join(d, "part-0.parquet"), (now - 100, now - 100))
    stream = read_events_stream(spark, d, raw_schema, max_files_per_trigger=1)
    name = "bp_stateful_counts"
    q = (
        stateful_user_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_value_q").alias("sum_value_q"),
        )
    )


@query(
    "c36_stream_dedup",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
    doc="streaming deduplication via dropDuplicatesWithinWatermark: the "
        "fixture is fed to the stream TWICE (every event duplicated) and "
        "the streaming dedup must emit each event exactly once — the "
        "oracle is simply the original table. State is keyed on event_id "
        "and EVICTED past the watermark, so it stays O(keys within the "
        "window), runnable forever; late duplicates beyond the watermark "
        "fall to the batch exact-dedup backstop (c01)",
    tags=("streaming", "dedup"),
)
def c36_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh

    from ..streaming.sessions import (
        await_finished,
        read_events_stream,
        start_sized,
        stream_dedup_events,
    )

    views(spark, sf_dir, "events")  # oracle side reads the same fixture
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    d = tempfile.mkdtemp(prefix="bp_stream_dedup_")
    for part in ("part-0.parquet", "part-1.parquet"):  # every event twice
        _sh.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(d, part))
    stream = read_events_stream(spark, d, raw_schema)
    name = "bp_stream_dedup"
    q = (
        stream_dedup_events(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    q = start_sized(q, spark, d)
    await_finished(q)
    return spark.table(name).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "c95_stream_dedup_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket, user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_q_sum
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
    """,
    doc="composed streaming ingest pipeline: watermark dedup (the c36 "
        "stage) -> stateless hourly projection -> foreachBatch ADDITIVE "
        "rollup maintenance into a catalog table (c54's incremental "
        "rollup, stream-fed) — one streaming query, fed every event "
        "TWICE, whose final table must equal the batch hourly aggregate "
        "over distinct clicks. The rollup is batch-side per micro-batch "
        "(not a second streaming agg: chained stateful ops force append "
        "mode, which would never finalize trailing windows on a bounded "
        "run — divergence documented in the operator); additivity is "
        "safe exactly because dedup upstream counts each event once. "
        "Value sums in integer micro-units (streaming/sessions."
        "stream_dedup_rollup_into); multi-batch additivity is pinned by "
        "a time-split two-batch pytest",
    tags=("streaming", "dedup", "events"),
)
def c95_stream_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh

    from ..ingest import _clean_stale_location
    from ..streaming.sessions import (
        read_events_stream,
        stream_dedup_rollup_into,
    )

    views(spark, sf_dir, "events")  # oracle side reads the same fixture
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    d = tempfile.mkdtemp(prefix="bp_stream_rollup_")
    for part in ("part-0.parquet", "part-1.parquet"):  # every event twice
        _sh.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(d, part))
    tbl = "bp_stream_rollup_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # re-entrant: rebuild, not resume
    _clean_stale_location(spark, tbl, None)
    stream = read_events_stream(spark, d, raw_schema)
    stream_dedup_rollup_into(stream, tbl, source_dir=d)
    return spark.table(tbl)


@query(
    "c17_ann_ivf_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    cents AS (SELECT vec_id AS cent_id, qv AS cq FROM v WHERE vec_id < 16),
    cells AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probed AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN cents c
            WHERE n.vec_id < 10
        ) WHERE rn <= 4
    ),
    scored AS (
        SELECT p.vec_id AS query_id, s.vec_id AS neighbor_id,
               CAST({_DUCK_DOT.format(a='p.qv', b='s.qv')} AS DOUBLE)
                 / (sqrt(CAST(p.norm AS DOUBLE)) * sqrt(CAST(s.norm AS DOUBLE))) AS cosine
        FROM probed p JOIN cells s ON p.cell = s.cell
        WHERE p.vec_id <> s.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="IVF-Flat approximate top-k: deterministic coarse-quantizer "
        "cells, nprobe nearest cells per query, exact re-rank of probed "
        "cells only — ~nprobe/n_cells of the corpus scanned per query; "
        "the FAISS-style scale path next to LSH (c07)",
    bench=True,
    tags=("similarity",),
)
def c17_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, n_cells=16, nprobe=4
    )


@query(
    "c37_ann_ivf_stored",
    # Deterministic fixed-rule cells -> identical semantics to the
    # in-memory IVF path, so c17's oracle replays the stored index too.
    # What c37 adds over c17 is the persistence contract: the index is
    # a cell=-partitioned parquet table and the probe join must read it
    # back (partition-pruned) rather than recompute assignments.
    oracle=QUERIES["c17_ann_ivf_topk"].oracle,
    doc="stored IVF index round-trip: build_ivf_index materializes the "
        "cell-partitioned parquet index (map-only assignment, one "
        "partitionBy write), query_ivf_index routes each query to its "
        "nprobe cells row-locally and scans ONLY those cell= partitions "
        "(pruning asserted in tests/test_similarity.py) — at 100 TB the "
        "build runs once and every query batch reads nprobe/n_cells of "
        "the corpus",
    tags=("similarity", "approx", "storage"),
)
def c37_ann_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.similarity import build_ivf_index, query_ivf_index

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    d = os.path.join(tempfile.mkdtemp(prefix="bp_ivf_index_"), "index")
    cents = build_ivf_index(e, d, n_cells=16)
    return query_ivf_index(
        spark, d, cents, e.filter(F.col("vec_id") < 10), k=5, nprobe=4
    )


@query(
    "q33_bucketed_colocated_join",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_items,
           {_DSUM_SQL.format(x='l_extendedprice')} AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
    doc="co-located join via bucketed tables: both sides bucketed on the "
        "join key with equal bucket counts, so the sort-merge join needs "
        "NO shuffle (asserted in tests/test_catalog_oracle.py; a linear "
        "per-bucket sort remains — Spark ≥3 ignores bucket sortBy "
        "metadata on read by default) — the pre-partitioning technique "
        "that amortizes one shuffle across every downstream join at 100 TB",
    bench=True,
    tags=("join", "bucketing"),
)
def q33_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re

    from ..ingest import _clean_stale_location

    t = views(spark, sf_dir, "orders", "lineitem")
    # Build the bucketed layout ONCE per (session, sf): the managed-table
    # write is the one-time shuffle that bucketing amortizes over every
    # downstream join — rebuilding it per query would charge that shuffle
    # to each run, which is exactly the cost model bucketing exists to
    # avoid. Tables are sf-tagged so sf0.01 correctness runs and sf0.1
    # bench runs never read each other's layout; fixtures are immutable,
    # so an existing table is always current. Stale warehouse dirs from
    # prior sessions still need cleaning before a fresh write (a new
    # derby metastore doesn't know about them).
    sf_tag = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    o_tbl, li_tbl = f"bp_orders_bkt_{sf_tag}", f"bp_lineitem_bkt_{sf_tag}"
    if not (spark.catalog.tableExists(o_tbl) and spark.catalog.tableExists(li_tbl)):
        for name in (o_tbl, li_tbl):
            _clean_stale_location(spark, name, None)
        (
            t["orders"].select("o_orderkey", "o_orderstatus")
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable(o_tbl)
        )
        (
            t["lineitem"].select("l_orderkey", "l_extendedprice")
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .mode("overwrite").saveAsTable(li_tbl)
        )
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    return (
        li.hint("merge")  # force SMJ so the bucketed co-location is load-bearing
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice", "total_price"))
    )


@query(
    "q34_salted_skew_join",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_items,
           {_DSUM_SQL.format(x='l_quantity')} AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
    doc="explicit salting for single-hot-key skew (operators/skew.py): "
        "the skewed side's rows spread over n_salts reducers via a "
        "widened (key, salt) join key, the uniform side replicated per "
        "salt; result provably equals the plain join (oracle + "
        "tests/test_skew.py). Complements AQE skew-join, which splits "
        "partitions but cannot split one key",
    tags=("join", "skew"),
)
def q34_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    t = views(spark, sf_dir, "orders", "lineitem")
    joined = salted_join(
        t["lineitem"].select("l_orderkey", "l_quantity"),
        t["orders"].select("o_orderkey", "o_orderstatus"),
        "l_orderkey",
        "o_orderkey",
        n_salts=8,
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"), dsum("l_quantity", "total_qty")
    )


@query(
    "q35_dml_delete_update",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderstatus <> 'F'
    """,
    doc="DML parity (dml.py): DELETE + UPDATE as copy-on-write rewrites "
        "of a managed table — the format-agnostic equivalent of what "
        "Delta/Iceberg do under the hood (Redshift DML reaches the "
        "reference via execute_sql.py:64,77). Doubling a double is "
        "exponent-exact, so no rounding guard is needed",
    tags=("dml", "native"),
)
def q35_dml_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dml import delete_from, update_table
    from ..ingest import _clean_stale_location

    t = views(spark, sf_dir, "orders")
    _clean_stale_location(spark, "bp_dml_orders", None)
    t["orders"].write.mode("overwrite").saveAsTable("bp_dml_orders")
    delete_from(spark, "bp_dml_orders", "o_orderstatus = 'F'")
    update_table(
        spark,
        "bp_dml_orders",
        {"o_totalprice": "o_totalprice * 2"},
        "o_orderpriority = '1-URGENT'",
    )
    return spark.table("bp_dml_orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )


@query(
    "c18_text_tfidf",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS docfreq FROM ex GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
               CAST(docfreq AS BIGINT) AS docfreq,
               round(tf * (ln((n_docs + 1.0) / (docfreq + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, docfreq, tfidf, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token
        ) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="top-k TF-IDF terms per document, pure DataFrame inverted-index "
        "shape (no MLlib): per-doc tf shuffle + corpus df shuffle + "
        "token join; score rounded to 6dp (ln is transcendental) and "
        "ranked on the rounded value so ranks are engine-exact",
    tags=("text",),
)
def c18_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tf_idf_topk

    d = views(spark, sf_dir, "documents")["documents"]
    return tf_idf_topk(d, "doc_id", "text", k=5)


@query(
    "c19_asof_join",
    oracle="""
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    r AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    u AS (
        SELECT user_id, ts AS _ts, 1 AS _tag, NULL::BIGINT AS _tie,
               event_id AS l_event_id,
               NULL::BIGINT AS r_event_id, NULL::TIMESTAMP AS r_ts
        FROM l
        UNION ALL
        SELECT user_id, ts, 0, event_id, NULL, event_id, ts FROM r
    ),
    m AS (
        SELECT *,
               last_value(r_event_id IGNORE NULLS) OVER w AS view_event_id,
               last_value(r_ts IGNORE NULLS) OVER w AS view_ts
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY _ts, _tag, _tie NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT l_event_id AS event_id, user_id, _ts AS ts, view_event_id, view_ts,
           CAST(epoch_us(_ts) - epoch_us(view_ts) AS BIGINT) AS gap_us
    FROM m WHERE _tag = 1
    """,
    doc="as-of join (latest view at-or-before each click, per user) via "
        "the union + running-last trick — one shuffle, O(n log n), no "
        "|L|x|R| range explosion; the custom-operator answer to a join "
        "Spark SQL lacks (DuckDB's native ASOF JOIN exists for the same "
        "reason; the oracle mirrors the union form for exact tie parity)",
    tags=("join", "events", "asof"),
)
def c19_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    e = views(spark, sf_dir, "events")["events"]
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    eviews = e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    joined = asof_join(
        clicks,
        eviews,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"view_event_id": "event_id", "view_ts": "ts"},
        tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "view_event_id",
        "view_ts",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


@query(
    "q36_json_typed_struct",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
    GROUP BY event_type
    """,
    doc="typed JSON: from_json with an explicit StructType (the "
        "SUPER/PartiQL analog beyond q22's string extraction) — parse "
        "once into a struct column, then filter/aggregate on the typed "
        "field; at scale this beats per-expression get_json_object "
        "because the document parses once per row, not once per path",
    tags=("scalar", "events", "json"),
)
def q36_json_typed_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField as SF_, StructType as ST_

    e = views(spark, sf_dir, "events")["events"]
    parsed = e.select(
        "event_type",
        F.from_json("props", ST_([SF_("k", LongType())])).alias("p"),
    )
    return (
        parsed.filter(F.col("p.k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("p.k").cast("long").alias("sum_k"),
            F.max("p.k").cast("long").alias("max_k"),
        )
    )


# --------------------------------------------------------------------------
# Part B (continued): statistical aggregates, correlated scalar subqueries,
# null-aware anti join, PIVOT — the remaining Redshift-SQL families a user
# could pass through the reference's hand-off sites
# (store_query_results.py:103 / execute_sql.py:77).


@query(
    "q37_stats_aggregates",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT)                                AS n,
           ROUND(stddev_samp(c_acctbal), 4)                        AS sd_samp,
           ROUND(stddev_pop(c_acctbal), 4)                         AS sd_pop,
           ROUND(var_samp(c_acctbal), 2)                           AS v_samp,
           ROUND(var_pop(c_acctbal), 2)                            AS v_pop,
           ROUND(corr(c_acctbal, CAST(c_custkey AS DOUBLE)), 6)    AS corr_bal_key,
           ROUND(covar_samp(c_acctbal, CAST(c_custkey AS DOUBLE)), 2) AS covar_bk,
           bool_and(c_acctbal > -1000)                             AS all_above,
           bool_or(c_acctbal < 0)                                  AS any_negative
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="statistical aggregate family (Redshift STDDEV_SAMP/POP, "
        "VAR_SAMP/POP, CORR, COVAR_SAMP, BOOL_AND/BOOL_OR) over "
        "customer balances; moments are rounded (4dp stddev / 2dp "
        "variance / 6dp corr) because partial-aggregate merge order "
        "differs between engines by ~1e-10 relative — rounding "
        "absorbs it; partial aggregation keeps the shuffle at "
        "|segments| x |partitions| rows at any scale",
    tags=("agg", "stats"),
)
def q37_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = views(spark, sf_dir, "customer")["customer"]
    key_d = F.col("c_custkey").cast("double")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_samp"),
        F.round(F.stddev_pop("c_acctbal"), 4).alias("sd_pop"),
        F.round(F.var_samp("c_acctbal"), 2).alias("v_samp"),
        F.round(F.var_pop("c_acctbal"), 2).alias("v_pop"),
        F.round(F.corr("c_acctbal", key_d), 6).alias("corr_bal_key"),
        F.round(F.covar_samp("c_acctbal", key_d), 2).alias("covar_bk"),
        F.bool_and(F.col("c_acctbal") > -1000).alias("all_above"),
        F.bool_or(F.col("c_acctbal") < 0).alias("any_negative"),
    )


@query(
    "q38_correlated_scalar_subquery",
    oracle=f"""
    SELECT ROUND({_DSUM_SQL.format(x='l_extendedprice')} / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = part.p_partkey
      )
    """,
    doc="TPC-H Q17 shape: correlated scalar subquery (per-part average "
        "quantity threshold). Catalyst decorrelates the subquery into "
        "an aggregate + join — no per-row re-execution; the inner AVG "
        "is over exact small-integer sums so the threshold is bitwise "
        "identical across engines. At scale the decorrelated aggregate "
        "shuffles once on l_partkey and joins the (tiny) filtered "
        "brand slice, which AQE broadcasts.",
    tags=("subquery", "join"),
)
def q38_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "lineitem", "part")
    return spark.sql(f"""
        SELECT ROUND({_DSUM_SQL.format(x='l_extendedprice')} / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13'
          AND l_quantity < (
              SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = part.p_partkey
          )
    """)


@query(
    "q39_null_aware_anti_join",
    oracle="""
    SELECT c_custkey, c_name, CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS acctbal
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    doc="NOT IN (subquery): Spark plans this as a *null-aware* anti "
        "join (BroadcastHashJoin ... NAAJ) because o_custkey is "
        "nullable in the parquet schema — distinct from q05's "
        "NOT EXISTS anti join, which is null-blind. Correct SQL "
        "three-valued logic: one NULL in the subquery empties the "
        "result; the build side must reach every partition whole, so "
        "Spark requires broadcast for NAAJ — fixture dims stay under "
        "the threshold and at 100 TB the rewrite to NOT EXISTS (q05) "
        "is the documented escape hatch.",
    tags=("join", "anti", "nulls"),
)
def q39_null_aware_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "customer", "orders")
    return spark.sql("""
        SELECT c_custkey, c_name,
               CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS acctbal
        FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        )
    """)


@query(
    "q40_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="PIVOT (Redshift 2022+ syntax; Spark SQL PIVOT clause): "
        "long->wide by order status with exact decimal sums. Catalyst "
        "lowers PIVOT to a single hash aggregate with conditional "
        "partials (the same plan as the oracle's CASE form) — one "
        "shuffle of |priorities| x |statuses| cells regardless of "
        "input size. The oracle uses conditional aggregation because "
        "DuckDB's PIVOT statement cannot be embedded as a subquery.",
    tags=("agg", "pivot"),
)
def q40_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT * FROM (
            SELECT o_orderpriority, o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price
            FROM orders
        )
        PIVOT (CAST(SUM(price) AS DOUBLE)
               FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
    """)


@query(
    "c20_range_join_bucketed",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('b1', 900.0, 925.0), ('b2', 925.0, 950.0),
               ('b3', 950.0, 975.0), ('b4', 975.0, 1000.0)
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    doc="interval/range join via the bucketed-banding rewrite "
        "(operators/rangejoin.py): intervals explode into the integer "
        "buckets they overlap, facts tag their single bucket, the join "
        "becomes a hash equi-join on bucket id with an exact residual "
        "filter. Candidate pairs are O(|fact| + sum(width/W)) instead "
        "of BroadcastNestedLoopJoin's O(|fact| x |bands|); the oracle "
        "is the naive theta join, proving the rewrite is exact.",
    tags=("join", "range"),
)
def c20_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import range_join

    p = views(spark, sf_dir, "part")["part"]
    bands = spark.createDataFrame(
        [("b1", 900.0, 925.0), ("b2", 925.0, 950.0),
         ("b3", 950.0, 975.0), ("b4", 975.0, 1000.0)],
        "band string, lo double, hi double",
    )
    joined = range_join(p, bands, value="p_retailprice",
                        lo="lo", hi="hi", bucket_width=25.0)
    return joined.groupBy("band").agg(
        F.count("*").alias("n_parts"),
        dsum("p_retailprice", "sum_price"),
    )


_QUALIFY_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS totalprice
FROM orders
QUALIFY row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey
) = 1
"""


@query(
    "q41_qualify",
    oracle=_QUALIFY_SQL,
    doc="Redshift QUALIFY clause (latest order per customer): Spark SQL "
        "has no QUALIFY, so the dialect shim lowers it to the hidden-"
        "column subquery + SELECT * EXCEPT form "
        "(redshift_compat._rewrite_qualify) — the same lowering engines "
        "with native QUALIFY perform internally. DuckDB runs the "
        "original text unmodified as the oracle. The plan is one "
        "window over a single o_custkey shuffle; Spark 4's "
        "WindowGroupLimit pushes the rn=1 filter below the sort.",
    tags=("window", "dialect"),
)
def q41_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    return spark.sql(translate_redshift_sql(_QUALIFY_SQL))


@query(
    "q42_dml_merge",
    oracle="""
    WITH upd AS (
        -- decimal-domain multiply: ROUND(double * 1.1, 2) hits half-cent
        -- ties that Spark (HALF_UP on the exact binary value) and DuckDB
        -- break differently; decimal arithmetic is exact and both engines
        -- round decimal ties away from zero
        SELECT c_custkey,
               CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2))
                          * CAST('1.1' AS DECIMAL(2,1)), 2) AS DOUBLE) AS new_bal
        FROM customer WHERE c_custkey % 3 = 0
    ),
    merged AS (
        SELECT c.c_custkey, c.c_name, c.c_nationkey,
               COALESCE(u.new_bal, c.c_acctbal) AS c_acctbal, c.c_mktsegment
        FROM customer c LEFT JOIN upd u USING (c_custkey)
        UNION ALL
        SELECT c_custkey + 100000, 'NEW#' || CAST(c_custkey AS VARCHAR),
               CAST(0 AS INT), 0.0, 'NEW'
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM merged GROUP BY c_mktsegment
    """,
    doc="MERGE upsert (dml.merge_into): matched rows take source values, "
        "unmatched source rows insert, target-only rows pass through — "
        "one full-outer hash join on the merge key plus the copy-on-"
        "write rewrite, the same cost profile as Delta/Iceberg CoW "
        "MERGE (Redshift MERGE reaches the reference via "
        "execute_sql.py:64,77). The oracle replays the merge "
        "algebraically: LEFT JOIN for the update branch, UNION ALL for "
        "the insert branch.",
    bench=True,
    tags=("dml", "native"),
)
def q42_dml_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dml import merge_into
    from ..ingest import _clean_stale_location

    c = views(spark, sf_dir, "customer")["customer"]
    _clean_stale_location(spark, "bp_merge_customer", None)
    c.write.mode("overwrite").saveAsTable("bp_merge_customer")

    # decimal-domain multiply — see the oracle comment on tie-breaking
    updates = c.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "c_acctbal",
        F.round(
            F.col("c_acctbal").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(2,1)"),
            2,
        ).cast("double"),
    )
    inserts = c.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        F.concat(F.lit("NEW#"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.lit(0).cast("int").alias("c_nationkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    merge_into(
        spark, "bp_merge_customer",
        updates.unionByName(inserts), keys=["c_custkey"],
    )
    return (
        spark.table("bp_merge_customer")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), dsum("c_acctbal", "total_bal"))
    )


@query(
    "c21_gapfill_locf",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM hourly GROUP BY 1
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM bounds
    ),
    j AS (
        SELECT g.user_id, g.bucket, h.n, h.sum_value
        FROM grid g LEFT JOIN hourly h USING (user_id, bucket)
    )
    SELECT user_id, bucket, n, sum_value,
           last_value(sum_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sum_value_filled
    FROM j
    """,
    doc="time-series gap fill (operators/timeseries.py): per-user hourly "
        "grid built distributed via sequence()+explode (each key's span "
        "only — sparse keys stay cheap), left-join of observed hourly "
        "aggregates, LOCF via last(ignorenulls) over a running row "
        "frame. Grid build, join, and window all hash on user_id, so "
        "one shuffle partitioning serves all three; sums are decimal-"
        "exact so carried values hash identically.",
    tags=("timeseries", "events", "window"),
)
def c21_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import gap_fill_locf

    e = views(spark, sf_dir, "events")["events"]
    hourly = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").alias("n"), dsum("value", "sum_value"))
    )
    return gap_fill_locf(
        hourly, key="user_id", bucket="bucket",
        step="interval 1 hour", fill_cols=["sum_value"],
    )


@query(
    "c22_hash_split",
    oracle="""
    WITH b AS (
        SELECT doc_id, lang, n_chars,
               substring(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 6) AS bucket
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket <= 'cccccc' THEN 'train'
                WHEN bucket <= 'e66666' THEN 'val'
                ELSE 'test' END AS split,
           n_chars
    FROM b
    """,
    doc="deterministic 80/10/10 train/val/test split "
        "(operators/sampling.py): salted md5 of the key compared "
        "against hex thresholds — bit-identical in every engine (the "
        "oracle recomputes it independently in DuckDB), stable under "
        "any partitioning or row order, unlike rand(seed). Pure "
        "map-side projection: no shuffle at any scale.",
    tags=("sampling", "documents", "pipeline"),
)
def c22_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    d = views(spark, sf_dir, "documents")["documents"]
    return hash_split(
        d.select("doc_id", "lang", "n_chars"),
        key="doc_id",
        splits={"train": 0.8, "val": 0.1, "test": 0.1},
        salt="v1",
    ).select("doc_id", "lang", "split", "n_chars")


@query(
    "q43_unpivot",
    oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'price', p_retailprice FROM part
    """,
    doc="UNPIVOT (wide->long; Redshift 2022+ and Spark 3.4+ share the "
        "syntax): lowered by Catalyst to Expand — each input row emits "
        "one output row per measure in a single pass, no join, no "
        "shuffle; the oracle is the portable UNION ALL form, which "
        "DuckDB folds to the same shape.",
    tags=("reshape",),
)
def q43_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "part")
    return spark.sql("""
        SELECT p_partkey, metric, val FROM (
            SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
                   p_retailprice AS price
            FROM part
        )
        UNPIVOT (val FOR metric IN (size, price))
    """)


_RECURSIVE_MONTHS_SQL = """
WITH RECURSIVE months(m, mx) AS (
    SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
           CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
    FROM orders
    UNION ALL
    SELECT CAST(m + INTERVAL '1' MONTH AS DATE), mx FROM months WHERE m < mx
)
SELECT CAST(m AS TIMESTAMP) AS month,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM months LEFT JOIN orders
    ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
GROUP BY m
"""


@query(
    "q44_recursive_cte",
    oracle=_RECURSIVE_MONTHS_SQL,
    doc="WITH RECURSIVE (Redshift 2021+; Spark 4.0+): calendar-spine "
        "generation — anchor computes the month bounds, the recursive "
        "step extends one month per iteration, and a LEFT JOIN "
        "aggregates orders onto the spine so empty months appear with "
        "n_orders=0. Recursion depth = #months (tiny, driver-side "
        "iterations); the data-sized work — the join and aggregate — "
        "stays fully distributed per iteration-free Spark plan.",
    tags=("cte", "recursive", "dates"),
)
def q44_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    return spark.sql(_RECURSIVE_MONTHS_SQL)


@query(
    "q45_window_analytic_extra",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(percent_rank() OVER w, 9) AS pr,
           ROUND(cume_dist() OVER w, 9)    AS cd,
           nth_value(o_orderkey, 2) OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_best
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="remaining analytic window functions (Redshift PERCENT_RANK, "
        "CUME_DIST, NTH_VALUE): rank-based rationals are exact integer "
        "divisions (rounded 9dp as a guard), nth_value runs over the "
        "full-partition row frame. Same single o_custkey shuffle as "
        "q15/q16 — all five window specs collapse onto one sort.",
    tags=("window",),
)
def q45_window_analytic_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = views(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_best"),
    )


@query(
    "c23_embedding_centroids",
    oracle="""
    WITH ex AS (
        -- parallel unnests zip element-wise in DuckDB
        SELECT label,
               unnest(range(len(embedding))) AS pos,
               ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS v
        FROM embeddings
    )
    SELECT label, CAST(pos AS INT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid
    FROM ex GROUP BY label, pos
    """,
    doc="per-label embedding centroids (k-means M-step / class "
        "prototypes): posexplode to (label, dim, value) long form, then "
        "one decimal-exact partial+final aggregate — the scalable "
        "shape for vector averaging (no collect_list of whole vectors, "
        "no driver-side math). Elements are rounded to 6dp *before* "
        "summing so the decimal sums are order- and engine-exact; "
        "output stays long-form (label, pos, centroid) because value "
        "hashing is defined on scalars.",
    tags=("vector", "embeddings", "pipeline"),
)
def c23_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = views(spark, sf_dir, "embeddings")["embeddings"]
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "raw")
    ).select("label", "pos", F.round(F.col("raw").cast("double"), 6).alias("v"))
    return ex.groupBy("label", "pos").agg(
        F.count("*").alias("n"),
        (F.sum(F.col("v").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("centroid"),
    )


def _portable_minhash_oracle(num_perms: int, bands: int, threshold_pct: int) -> str:
    """DuckDB replay of the portable md5 MinHash-LSH pipeline (c24)."""
    rows = num_perms // bands
    sigs = ",\n           ".join(
        f"list_aggregate(list_transform(grams, s -> md5('{p}:' || s)), 'min') AS h{p}"
        for p in range(num_perms)
    )
    bkeys = ", ".join(
        "md5(" + " || '|' || ".join(f"h{b * rows + j}" for j in range(rows)) + f") AS bk{b}"
        for b in range(bands)
    )
    bkarr = ", ".join(f"bk{b}" for b in range(bands))
    bidxs = ", ".join(str(b) for b in range(bands))
    return f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g0 AS (SELECT doc_id, {_DUCK_GRAMS3} AS grams FROM toks),
    g AS (SELECT doc_id, grams FROM g0 WHERE len(grams) > 0),
    sig AS (SELECT doc_id, grams,
           {sigs}
           FROM g),
    keyed AS (SELECT doc_id, {bkeys} FROM sig),
    banded AS (SELECT doc_id, unnest([{bidxs}]) AS band_idx,
                      unnest([{bkarr}]) AS band_key FROM keyed),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    j AS (
        SELECT id_a, id_b,
               len(list_intersect(ga.grams, gb.grams)) AS n_common,
               len(ga.grams) + len(gb.grams)
                 - len(list_intersect(ga.grams, gb.grams)) AS n_union
        FROM cand
        JOIN g ga ON id_a = ga.doc_id
        JOIN g gb ON id_b = gb.doc_id
    )
    SELECT id_a, id_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(n_common AS DOUBLE) / n_union AS jaccard
    FROM j
    WHERE n_union > 0 AND n_common * 100 >= n_union * {threshold_pct}
    """


def _minhash_eval_oracle(num_perms: int, bands: int, threshold_pct: int) -> str:
    """Wrap the c24 replay: same CTE chain, but aggregate candidate /
    predicted counts against an all-pairs exact-Jaccard ground truth."""
    base = _portable_minhash_oracle(num_perms, bands, threshold_pct)
    idx = base.rindex("SELECT id_a")
    ctes, pred_select = base[:idx].rstrip().rstrip(","), base[idx:]
    return f"""{ctes},
    pred AS ({pred_select}),
    truth AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE (len(a.grams) + len(b.grams)
               - len(list_intersect(a.grams, b.grams))) > 0
          AND len(list_intersect(a.grams, b.grams)) * 100
              >= (len(a.grams) + len(b.grams)
                  - len(list_intersect(a.grams, b.grams))) * {threshold_pct}
    )
    SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM pred) AS BIGINT) AS n_predicted,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM truth)
                - (SELECT count(*) FROM pred) AS BIGINT) AS n_missed,
           CAST((SELECT count(*) FROM pred) AS DOUBLE)
               / nullif(CAST((SELECT count(*) FROM truth) AS BIGINT), 0)
               AS recall,
           CAST((SELECT count(*) FROM pred) AS DOUBLE)
               / nullif(CAST((SELECT count(*) FROM cand) AS BIGINT), 0)
               AS candidate_precision
    """


def _split_leakage_oracle(num_perms: int, bands: int, threshold_pct: int) -> str:
    """Wrap the c24 replay once more: near-dup pairs whose endpoints
    land in DIFFERENT hash splits — train/test contamination."""
    base = _portable_minhash_oracle(num_perms, bands, threshold_pct)
    idx = base.rindex("SELECT id_a")
    ctes, pred_select = base[:idx].rstrip().rstrip(","), base[idx:]
    split = (
        "CASE WHEN substring(md5(CAST({k} AS VARCHAR) || ':v1'), 1, 6) "
        "<= 'cccccc' THEN 'train' "
        "WHEN substring(md5(CAST({k} AS VARCHAR) || ':v1'), 1, 6) "
        "<= 'e66666' THEN 'val' ELSE 'test' END"
    )
    return f"""{ctes},
    pred AS ({pred_select})
    SELECT id_a, id_b,
           {split.format(k='id_a')} AS split_a,
           {split.format(k='id_b')} AS split_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_union AS BIGINT) AS n_union
    FROM pred
    WHERE {split.format(k='id_a')} <> {split.format(k='id_b')}
    """


@query(
    "c97_split_leakage_audit",
    oracle=_split_leakage_oracle(num_perms=8, bands=4, threshold_pct=60),
    doc="train/test leakage audit: near-duplicate pairs (the portable "
        "MinHash-LSH path, candidates oracle-replayed) whose endpoints "
        "fall in DIFFERENT splits of the deterministic 80/10/10 hash "
        "split — exactly the contamination a random split inflicts on "
        "a dedup-less corpus and the reason production pipelines dedup "
        "BEFORE splitting (or split by group id). Composes c24 x c22; "
        "emits the offending pairs with their split labels so the fix "
        "(drop one side, or re-split by dedup group c29) is actionable. "
        "Same banded scale shape as c24 — no all-pairs stage",
    tags=("dedup", "sampling", "eval"),
)
def c97_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import portable_minhash_pairs
    from ..operators.sampling import hash_split

    d = views(spark, sf_dir, "documents")["documents"]
    pairs = portable_minhash_pairs(
        d, "doc_id", "text", shingle_size=3, num_perms=8, bands=4,
        threshold_pct=60,
    )
    splits = hash_split(
        d.select("doc_id"), key="doc_id",
        splits={"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1",
    )
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            "id_a", "id_b", "split_a", "split_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_union").cast("long").alias("n_union"),
        )
    )


@query(
    "c93_minhash_recall_eval",
    oracle=_minhash_eval_oracle(num_perms=8, bands=4, threshold_pct=60),
    doc="evaluation harness for the approximate dedup path: the c24 "
        "MinHash-LSH pipeline's band-candidate count, verified-pair "
        "count, and RECALL against the exact all-pairs Jaccard truth "
        "at the same threshold, as one queryable row — the quality of "
        "the approximation measured inside the engine instead of "
        "asserted in prose. Predicted pairs are a subset of truth by "
        "construction (same exact verify), so LSH costs only recall; "
        "ground truth is all-pairs and therefore sample-bounded BY "
        "DESIGN (you evaluate on a sample, then trust the banded path "
        "at scale). operators/dedup.minhash_recall_eval",
    bench=True,
    tags=("dedup", "eval"),
)
def c93_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_recall_eval

    d = views(spark, sf_dir, "documents")["documents"]
    return minhash_recall_eval(
        d, "doc_id", "text", shingle_size=3, num_perms=8, bands=4,
        threshold_pct=60,
    )


@query(
    "c24_dedup_minhash_portable",
    oracle=_portable_minhash_oracle(num_perms=8, bands=4, threshold_pct=60),
    doc="MinHash-LSH near-dup in a portable hash domain: md5 per "
        "(permutation, shingle), signature = lexicographic min of hex "
        "digests, band keys = md5 of concatenated signature slices. "
        "Unlike xxhash64-based c02 (rows-only check), every stage — "
        "including candidate generation — is re-derived independently "
        "by the DuckDB oracle, closing the verification gap for the "
        "LSH family. Same banded scale shape as c02: bucket equi-join, "
        "exact-Jaccard verify, no |docs|^2 stage.",
    bench=True,
    tags=("dedup", "portable"),
)
def c24_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import portable_minhash_pairs

    d = views(spark, sf_dir, "documents")["documents"]
    return portable_minhash_pairs(
        d, "doc_id", "text", shingle_size=3, num_perms=8, bands=4,
        threshold_pct=60,
    )


_SETOPS_ALL_SQL = """
SELECT 'i_all' AS op, k FROM (
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
)
UNION ALL
SELECT 'e_all' AS op, k FROM (
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'
)
"""


@query(
    "q46_setops_all",
    oracle=_SETOPS_ALL_SQL,
    doc="multiset set ops (INTERSECT ALL / EXCEPT ALL — q18 covers the "
        "distinct forms): bag semantics preserve duplicate multiplicity, "
        "which Spark plans as a count-compare aggregate join rather than "
        "a dedup — one shuffle per operand on the compare key.",
    tags=("setops",),
)
def q46_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    return spark.sql(_SETOPS_ALL_SQL)


@query(
    "c25_pipeline_e2e",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, text AS _text,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(nullif(len(toks), 0) AS DOUBLE) AS uniq_ratio,
               CAST(length(_text) - length(regexp_replace(_text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                 / CAST(nullif(length(_text), 0) AS DOUBLE) AS punct_ratio,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / CAST(nullif(len(toks), 0) AS DOUBLE) AS mean_token_len
        FROM t
    ),
    q AS (
        SELECT doc_id, n_tokens,
               CAST(
                 (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 30 ELSE 0 END)
               + (CASE WHEN uniq_ratio * 100 >= 30 THEN 25 ELSE 0 END)
               + (CASE WHEN punct_ratio * 100 <= 15 THEN 25 ELSE 0 END)
               + (CASE WHEN mean_token_len >= 2 AND mean_token_len <= 12 THEN 20 ELSE 0 END)
               AS BIGINT) AS quality
        FROM s
    ),
    keep AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents GROUP BY md5(lower(trim(text)))
    ),
    surv AS (
        SELECT q.doc_id, q.n_tokens, q.quality
        FROM q JOIN keep USING (doc_id)
        WHERE q.quality >= 80
    )
    SELECT doc_id, n_tokens, quality,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':r2'), 1, 6)
                     <= 'e66666'
                THEN 'train' ELSE 'val' END AS split
    FROM surv
    """,
    doc="the end-to-end training-data pipeline, composed from the "
        "catalog's own operators: quality gate (integer-banded score, "
        "c08) -> exact-dedup keeper set (c01) -> portable 90/10 "
        "train/val split (c22). Three map-or-single-shuffle stages; "
        "the whole pipeline is one Catalyst plan, so column pruning "
        "and filter pushdown cross stage boundaries (quality gate "
        "prunes before the dedup join). The oracle replays every "
        "stage independently in DuckDB.",
    tags=("pipeline", "documents"),
)
def c25_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup
    from ..operators.sampling import hash_split
    from ..operators.text import quality_score, text_stats

    d = views(spark, sf_dir, "documents")["documents"]
    quality = quality_score(text_stats(d, "doc_id", "text")).select(
        "doc_id", "n_tokens", "quality"
    )
    keepers = exact_dedup(d, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    surviving = quality.filter(F.col("quality") >= 80).join(keepers, "doc_id")
    return hash_split(
        surviving, key="doc_id", splits={"train": 0.9, "val": 0.1}, salt="r2"
    ).select("doc_id", "n_tokens", "quality", "split")


_LATERAL_SQL = """
SELECT n_name, c.c_custkey, c.acctbal
FROM nation, LATERAL (
    SELECT c_custkey, CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS acctbal
    FROM customer WHERE c_nationkey = n_nationkey
    ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) c
"""


@query(
    "q47_lateral_topn",
    oracle=_LATERAL_SQL,
    doc="LATERAL correlated subquery (top-2 customers per nation): the "
        "per-row-subquery syntax both engines share. Catalyst "
        "decorrelates the lateral into a ranked window over one "
        "customer shuffle (DomainJoin rewrite) — no per-nation "
        "re-execution; same plan family as q41's QUALIFY lowering.",
    tags=("join", "lateral", "subquery"),
)
def q47_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "nation", "customer")
    return spark.sql(_LATERAL_SQL)


@query(
    "q48_regex_functions",
    oracle=r"""
    SELECT p_partkey,
           regexp_extract(p_brand, '[0-9]+') AS brand_num,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_name, '^(red|blue) ') AS is_colored,
           split_part(p_brand, '#', 2) AS brand_suffix
    FROM part
    """,
    doc="Redshift regex scalar family: REGEXP_SUBSTR -> regexp_substr "
        "(oracle: regexp_extract), REGEXP_COUNT -> regexp_count (oracle: "
        "len of extract_all), REGEXP_REPLACE (NB: Spark replaces all "
        "matches by default, DuckDB needs the explicit 'g' flag), "
        "pattern match via rlike/regexp_matches, SPLIT_PART. All "
        "JVM-side, codegen'd, zero-shuffle map work.",
    tags=("scalar", "string", "regex"),
)
def q48_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = views(spark, sf_dir, "part")["part"]
    return p.select(
        "p_partkey",
        F.regexp_substr("p_brand", F.lit("[0-9]+")).alias("brand_num"),
        F.regexp_count("p_name", F.lit("[aeiou]")).cast("long").alias("n_vowels"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("^(red|blue) ").alias("is_colored"),
        F.split_part("p_brand", F.lit("#"), F.lit(2)).alias("brand_suffix"),
    )


_SIMHASH_PORTABLE_ORACLE = r"""
WITH t AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
),
ex AS (SELECT doc_id, md5(unnest(toks)) AS h FROM t),
nib AS (
    SELECT doc_id, i, strpos('0123456789abcdef', substr(h, i + 1, 1)) - 1 AS val
    FROM ex CROSS JOIN generate_series(0, 15) AS g(i)
),
votes AS (
    SELECT doc_id, i,
           SUM(CASE WHEN (val >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS v0,
           SUM(CASE WHEN (val >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
           SUM(CASE WHEN (val >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS v2,
           SUM(CASE WHEN (val >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS v3
    FROM nib GROUP BY doc_id, i
),
nibs AS (
    SELECT doc_id, i,
           (CASE WHEN v0 > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN v1 > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN v2 > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN v3 > 0 THEN 8 ELSE 0 END) AS nibv
    FROM votes
),
sig AS (
    SELECT doc_id,
           string_agg(substr('0123456789abcdef', nibv + 1, 1), '' ORDER BY i) AS sig
    FROM nibs GROUP BY doc_id
),
banded AS (
    SELECT doc_id, sig,
           unnest([0, 1, 2, 3]) AS block_idx,
           unnest([substr(sig,1,4), substr(sig,5,4),
                   substr(sig,9,4), substr(sig,13,4)]) AS block_key
    FROM sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a, b.doc_id AS id_b, b.sig AS sig_b
    FROM banded a JOIN banded b
      ON a.block_idx = b.block_idx AND a.block_key = b.block_key
     AND a.doc_id < b.doc_id
),
dist AS (
    SELECT id_a, id_b,
           CAST(list_sum(list_transform(range(16), i ->
               bit_count(xor(strpos('0123456789abcdef', substr(sig_a, i + 1, 1)) - 1,
                             strpos('0123456789abcdef', substr(sig_b, i + 1, 1)) - 1))))
               AS BIGINT) AS distance
    FROM cand
)
SELECT id_a, id_b, distance FROM dist WHERE distance <= 3
"""


@query(
    "c26_dedup_simhash_portable",
    oracle=_SIMHASH_PORTABLE_ORACLE,
    doc="SimHash near-dup in a portable hash domain: per-token hash = "
        "first 16 hex nibbles of md5, bit votes computed nibble-wise "
        "(integer sums, vote==0 -> bit 0), 4-block pigeonhole candidate "
        "join, exact Hamming verify. Closes the verification gap for "
        "the SimHash family the way c24 does for MinHash: the DuckDB "
        "oracle independently re-derives signatures, candidates, and "
        "distances. Same scale shape as c03 — vote aggregation is two "
        "hash aggregates, candidates an equi-join, never |docs|^2.",
    tags=("dedup", "portable"),
)
def c26_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import portable_simhash_pairs

    d = views(spark, sf_dir, "documents")["documents"]
    return portable_simhash_pairs(d, "doc_id", "text", max_distance=3)


@query(
    "c44_stream_upsert",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
    doc="foreachBatch MERGE sink: the stream upserts every event into a "
        "catalog table seeded with STALE rows (even event_ids, value "
        "corrupted to -1) — matched rows update to true values, "
        "unmatched insert, so the final table must equal the events "
        "fixture exactly (the oracle). Idempotent over at-least-once "
        "replays: per batch one keyed full-outer join + copy-on-write "
        "rewrite, the streaming-MERGE materialization pattern",
    tags=("streaming", "dml", "events"),
)
def c44_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh

    from ..ingest import _clean_stale_location
    from ..session import load_table
    from ..streaming.sessions import read_events_stream, stream_upsert_into

    views(spark, sf_dir, "events")  # oracle side
    tbl = "bp_stream_upsert_tgt"
    _clean_stale_location(spark, tbl, None)
    seed = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .withColumn("value", F.lit(-1.0))
    )
    seed.write.mode("overwrite").saveAsTable(tbl)

    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    d = tempfile.mkdtemp(prefix="bp_stream_upsert_")
    _sh.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(d, "part-0.parquet"))
    stream = read_events_stream(spark, d, raw_schema)
    stream_upsert_into(stream, tbl, ["event_id"])  # blocks; raises on timeout
    return spark.table(tbl).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "c43_stream_stream_join",
    oracle="""
    SELECT a.user_id, a.event_id AS first_id, b.event_id AS then_id,
           a.ts AS first_ts, b.ts AS then_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 360 MINUTE
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
    doc="watermarked stream-stream interval join (view -> purchase "
        "attribution within 6 h): both sides watermarked and the "
        "condition bounds event time on both ends, so buffered state "
        "EVICTS once the watermark passes ts + interval — O(events in "
        "the window), runnable forever. availableNow over the fixture "
        "equals the batch interval join, which is the oracle",
    tags=("streaming", "join", "events"),
)
def c43_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh

    from ..streaming.sessions import (
        await_finished,
        read_events_stream,
        start_sized,
        stream_attribution_join,
    )

    views(spark, sf_dir, "events")  # oracle side
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    d = tempfile.mkdtemp(prefix="bp_stream_attr_")
    _sh.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(d, "part-0.parquet"))
    stream = read_events_stream(spark, d, raw_schema)
    name = "bp_stream_attr"
    q = (
        stream_attribution_join(stream, within_minutes=360)
        .select("user_id", "first_id", "then_id", "first_ts", "then_ts")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    q = start_sized(q, spark, d)
    await_finished(q)
    return spark.table(name)


@query(
    "c42_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.value, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="stream-static enrichment join (append mode, stateless): every "
        "arriving event picks up its customer attributes; the static "
        "side broadcasts per micro-batch and refreshes without a query "
        "restart. availableNow over the whole fixture must equal the "
        "batch join — the oracle is exactly that batch join",
    tags=("streaming", "join", "events"),
)
def c42_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh

    from ..session import load_table
    from ..streaming.sessions import (
        await_finished,
        read_events_stream,
        stream_enrich_events,
    )

    views(spark, sf_dir, "events", "customer")  # oracle side
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    d = tempfile.mkdtemp(prefix="bp_stream_enrich_")
    _sh.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(d, "part-0.parquet"))
    stream = read_events_stream(spark, d, raw_schema)
    cust = load_table(spark, sf_dir, "customer")
    name = "bp_stream_enrich"
    q = (
        stream_enrich_events(stream, cust)
        .select("event_id", "user_id", "value", "c_name", "c_mktsegment")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    return spark.table(name)


def _duck_grams(n: int) -> str:
    """Parametric cousin of _DUCK_GRAMS3: distinct word n-grams of `toks`."""
    parts = ", ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"list_distinct(CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) ELSE [] END)"
    )


@query(
    "c39_decontaminate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, {_duck_grams(3)} AS grams FROM toks),
    ex AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE len(grams) > 0),
    t AS (SELECT doc_id, gram FROM ex WHERE doc_id % 97 <> 0),
    e AS (SELECT doc_id AS eval_id, gram FROM ex WHERE doc_id % 97 = 0)
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
    FROM t JOIN e ON t.gram = e.gram
    GROUP BY t.doc_id
    HAVING COUNT(DISTINCT t.gram) >= 1
    """,
    doc="benchmark decontamination (GPT-3/PaLM-style n-gram overlap "
        "rule): training docs sharing >=1 distinct n-gram with any "
        "eval-set doc (eval set = doc_id % 97 == 0; n=3 here — real "
        "deployments use 8-13-grams, but the synthetic fixture's random "
        "text shares almost no 5-grams, and 3-grams exercise the "
        "identical plan with a 170x denser result to hash). Both sides "
        "explode to (gram, id) and meet in one equi-join — never "
        "train x eval; the benchmark-sized eval side broadcasts",
    bench=True,
    tags=("text", "pipeline", "dedup"),
)
def c39_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import decontaminate

    d = views(spark, sf_dir, "documents")["documents"]
    return decontaminate(
        d.filter(F.col("doc_id") % 97 != 0),
        d.filter(F.col("doc_id") % 97 == 0),
        "doc_id", "text", ngram=3, min_shared=1,
    )


@query(
    "c40_pack_documents",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(doc_id % 32 AS BIGINT) AS shard,
               CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    w AS (
        SELECT doc_id, shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS bin_start_offset
        FROM s
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor(bin_start_offset / 512) AS BIGINT) AS bin_id,
           bin_start_offset
    FROM w
    """,
    doc="sequence packing: docs assigned in id order to contiguous "
        "~512-token bins (floor of the exclusive prefix sum; streaming "
        "first-fit, no doc split). Sharded by doc_id % 32 so the "
        "running-sum window parallelizes instead of serializing on one "
        "global reducer — bins are independent training sequences, so "
        "cross-shard packing buys nothing",
    bench=True,
    tags=("text", "pipeline", "window"),
)
def c40_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pack_documents

    d = views(spark, sf_dir, "documents")["documents"]
    return pack_documents(d, "doc_id", "text", budget_tokens=512, n_shards=32)


_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_SQL = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


@query(
    "c41_redact_pii",
    oracle="""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text, '""" + _PII_EMAIL_SQL + """', '<EMAIL>', 'g'),
               '""" + _PII_PHONE_SQL + """', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '""" + _PII_EMAIL_SQL + """')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '""" + _PII_PHONE_SQL + """')) AS BIGINT) AS n_phones
    FROM documents
    """,
    doc="PII scrubbing: email/phone patterns replaced with typed "
        "placeholders + per-doc counts. Pure regexp projections (one "
        "columnar scan, no shuffle, whole-stage codegen); patterns kept "
        "RE2-safe so the oracle replays them exactly",
    bench=True,
    tags=("text", "pipeline"),
)
def c41_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import redact_pii

    d = views(spark, sf_dir, "documents")["documents"]
    return redact_pii(d, "doc_id", "text")


_DUCK_TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


@query(
    "c45_repetition_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2 THEN
                 list_transform(generate_series(1, len(toks) - 1),
                                i -> concat_ws(' ', toks[i], toks[i+1]))
               ELSE [] END AS grams
        FROM t
    ),
    u AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    pg AS (SELECT doc_id, gram, count(*) AS cnt FROM u GROUP BY 1, 2),
    pd AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_grams,
               CAST(count(*) AS BIGINT) AS n_distinct_grams,
               CAST(max(cnt) AS BIGINT) AS n_top_gram
        FROM pg GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(pd.n_grams, 0) AS n_grams,
           COALESCE(pd.n_distinct_grams, 0) AS n_distinct_grams,
           COALESCE(pd.n_top_gram, 0) AS n_top_gram,
           CASE WHEN COALESCE(pd.n_grams, 0) > 0
                THEN CAST(pd.n_grams - pd.n_distinct_grams AS DOUBLE) / pd.n_grams
                ELSE 0.0 END AS dup_fraction,
           CASE WHEN COALESCE(pd.n_grams, 0) > 0
                THEN CAST(pd.n_top_gram AS DOUBLE) / pd.n_grams
                ELSE 0.0 END AS top_share,
           (CASE WHEN COALESCE(pd.n_grams, 0) > 0
                 THEN CAST(pd.n_grams - pd.n_distinct_grams AS DOUBLE) / pd.n_grams
                 ELSE 0.0 END) > 0.2 AS flagged
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    """,
    doc="within-document repetition filter (Gopher-style): duplicate "
        "2-gram fraction and top-gram share per doc, flagged above 20% "
        "duplication. Explode -> two-level hash aggregate (corpus-token-"
        "bounded shuffle with map-side partials, same shape as the c31 "
        "heavy hitters) -> left join keeps gram-less short docs; all "
        "counts integer, each ratio one double division",
    bench=True,
    tags=("text", "dedup", "quality"),
)
def c45_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import repetition_stats

    d = views(spark, sf_dir, "documents")["documents"]
    return repetition_stats(d, "doc_id", "text", n=2, flag_dup_fraction=0.2)


@query(
    "c46_length_histogram",
    oracle=f"""
    WITH t AS (
        SELECT CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens FROM documents
    ),
    b AS (
        SELECT (n_tokens // 8) * 8 AS bucket_lo,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               min(n_tokens) AS min_tokens,
               max(n_tokens) AS max_tokens
        FROM t GROUP BY 1
    )
    SELECT bucket_lo, n_docs, total_tokens, min_tokens, max_tokens,
           CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS doc_share
    FROM b
    """,
    doc="corpus token-length histogram (truncation/padding planning): "
        "docs bucketed by floor(n_tokens/8), per-bucket doc count, token "
        "mass, min/max and document share. One hash aggregate over the "
        "scan; the share window runs over the aggregated bucket table — "
        "dozens of metadata rows, free at any corpus size",
    tags=("text", "stats"),
)
def c46_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import length_histogram

    d = views(spark, sf_dir, "documents")["documents"]
    return length_histogram(d, "doc_id", "text", bucket_tokens=8)


@query(
    "c47_token_budget_sample",
    oracle=f"""
    WITH t AS (
        SELECT lang AS stratum, doc_id AS id,
               CAST(len({_DUCK_TOKS}) AS BIGINT) AS weight
        FROM documents
    ),
    c AS (
        SELECT stratum, id, weight,
               CAST(sum(weight) OVER (
                   PARTITION BY stratum ORDER BY weight DESC, id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_weight
        FROM t
    )
    SELECT stratum, id, weight, cum_weight FROM c WHERE cum_weight <= 2000
    """,
    doc="per-language token-budget curation: take docs heaviest-first "
        "until each language's cumulative tokens reach the budget. The "
        "oracle replays it as one window per stratum; the Spark plan is "
        "a TWO-LEVEL prefix sum (per-(stratum, weight-band) totals -> "
        "exclusive band offsets over a metadata-sized table -> within-"
        "band windows), so reducer parallelism is strata x bands, not "
        "strata — the 5-language window would otherwise serialize on 5 "
        "reducers at 100 TB",
    bench=True,
    tags=("sampling", "text"),
)
def c47_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tokens
    from ..operators.sampling import token_budget_sample

    d = views(spark, sf_dir, "documents")["documents"]
    staged = d.select(
        "lang", "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return token_budget_sample(
        staged,
        strata_col="lang",
        id_col="doc_id",
        weight_col="n_tokens",
        budget=2000,
    )


@query(
    "c48_cross_corpus_dedup",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM q
    ),
    sk AS (
        {_C05_SKETCH_SQL}
    ),
    cand AS (
        SELECT DISTINCT s.vec_id AS na, t.vec_id AS rb
        FROM sk s JOIN sk t ON s.tbl = t.tbl AND s.bucket = t.bucket
        WHERE s.vec_id % 10 = 0 AND t.vec_id % 10 <> 0
    )
    SELECT c.na AS new_id, c.rb AS ref_id,
           CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
             / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE))) AS cosine
    FROM cand c
    JOIN n a ON a.vec_id = c.na
    JOIN n b ON b.vec_id = c.rb
    WHERE CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
            / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
          * 1000000 >= 400000
    """,
    doc="incremental (cross-corpus) embedding dedup: the new batch "
        "(vec_id % 10 = 0) deduped against the existing reference corpus "
        "(the rest) via portable md5-hyperplane bucket candidates — "
        "never a new x ref product — id-pair distinct, exact quantized-"
        "cosine verify at 0.4. The continuously-growing-corpus companion "
        "to c27's self-join; the oracle replays the identical buckets",
    bench=True,
    tags=("dedup", "similarity", "approx"),
)
def c48_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cross_corpus_near_duplicates

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return cross_corpus_near_duplicates(
        e.filter(F.col("vec_id") % 10 == 0),
        e.filter(F.col("vec_id") % 10 != 0),
        threshold_microcos=400_000,
        bits=_C05_BITS,
        n_tables=_C05_TABLES,
        dim=_C05_DIM,
    )


@query(
    "c49_bloom_pruned_join",
    oracle=f"""
    SELECT l.l_returnflag,
           {_DSUM_SQL.format(x='l.l_extendedprice')} AS sum_price,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    doc="explicit Bloom-pruned selective join: urgent orders reduce to a "
        "collected 1024-bit bitmap (metadata, 16 longs) and the fact "
        "scan gains a row-local might-contain filter BEFORE the join "
        "shuffle — at 100 TB with a ~20%-selective dim this keeps most "
        "of the fact table out of the exchange even when Spark's own "
        "runtime bloom heuristics don't fire. False positives are "
        "removed by the real join, so the result — and the oracle — is "
        "exactly the plain join. Honesty note: at fixture scale the "
        "bitmap-build job costs more than the shuffle it saves (the "
        "entry benches ~3x the plain join); the trade flips when the "
        "fact side is large enough that exchange volume dominates — "
        "the regime this operator exists for",
    bench=True,
    tags=("join", "bloom", "scale"),
)
def c49_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_semi_prune

    t = views(spark, sf_dir, "lineitem", "orders")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    pruned = bloom_semi_prune(
        t["lineitem"], urgent, "l_orderkey", "o_orderkey"
    )
    return (
        pruned.join(urgent, pruned["l_orderkey"] == urgent["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            dsum("l_extendedprice", "sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "c50_partitioned_layout_pruning",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
      AND CAST(ts AS DATE) <  DATE '2024-01-15'
    GROUP BY 1, 2
    """,
    doc="date-partitioned storage layout with partition-pruned readback: "
        "events materialize once as event_date= directories, then a "
        "5-day query scans ONLY those directories (the range filter "
        "lands in PartitionFilters — asserted in tests/test_plans.py — "
        "so pruning happens at file listing, not row filtering). The "
        "date-layout twin of the c37 stored-IVF cell pruning; at 100 TB "
        "this is the difference between a 5-day scan and a full-history "
        "scan",
    tags=("layout", "scale", "events"),
)
def c50_partitioned_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.layout import read_date_pruned, write_date_partitioned
    from ..session import load_table

    views(spark, sf_dir, "events")  # oracle side
    events = load_table(spark, sf_dir, "events")
    path = os.path.join(
        tempfile.mkdtemp(prefix="bp_layout_"), "events_by_date"
    )
    write_date_partitioned(events, path)
    pruned = read_date_pruned(spark, path, "2024-01-10", "2024-01-15")
    return (
        pruned.groupBy(
            F.col("event_date").cast("string").alias("event_date"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "c51_length_quantiles",
    oracle=f"""
    WITH t AS (
        SELECT lang AS stratum,
               CAST(len({_DUCK_TOKS}) AS BIGINT) AS n
        FROM documents
    )
    SELECT stratum, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(quantile_cont(n, 0.25) AS DOUBLE) AS q_0_25,
           CAST(quantile_cont(n, 0.5)  AS DOUBLE) AS q_0_5,
           CAST(quantile_cont(n, 0.75) AS DOUBLE) AS q_0_75,
           CAST(quantile_cont(n, 0.9)  AS DOUBLE) AS q_0_9,
           CAST(quantile_cont(n, 0.99) AS DOUBLE) AS q_0_99
    FROM t GROUP BY stratum
    """,
    doc="per-language token-length quantiles (exact interpolated "
        "percentile — DuckDB's quantile_cont computes the identical "
        "interpolation, verified value-equal). The exact aggregator "
        "buffers each group's values, so this entry is the AUDIT/oracle "
        "form; the 100 TB path is the same operator with "
        "approximate=True (Greenwald-Khanna approx_percentile, bounded "
        "memory), rank-error-bounded against exact in "
        "tests/test_text_sessions.py",
    tags=("text", "stats"),
)
def c51_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import length_quantiles

    d = views(spark, sf_dir, "documents")["documents"]
    # explicit exact engine: this entry IS the oracle audit form; the
    # operator's default is AUTO (approx above its size threshold)
    return length_quantiles(d, "text", strata_col="lang", approximate=False)


@query(
    "c52_chunk_documents",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    s AS (
        SELECT doc_id, toks, len(toks) AS n,
               unnest(generate_series(0, len(toks) - 1, 48)) AS st
        FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(st // 48 AS BIGINT) AS chunk_id,
           CAST(st AS BIGINT) AS start_token,
           CAST(least(64, n - st) AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(toks, st + 1, least(st + 64, n)), ' ')
             AS chunk_text
    FROM s
    """,
    doc="document chunking into overlapping token windows (64-token "
        "window, 48-token stride -> 16 tokens of overlap): the step "
        "ahead of embedding/indexing or fixed-context training. Pure "
        "map-side array expressions + posexplode — row multiplication "
        "~n/stride with zero shuffles; the final short chunk is kept "
        "unpadded, empty docs emit nothing",
    tags=("text", "pipeline"),
)
def c52_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import chunk_documents

    d = views(spark, sf_dir, "documents")["documents"]
    return chunk_documents(d, "doc_id", "text", window_tokens=64, stride_tokens=48)


@query(
    "c53_corpus_mix",
    oracle="""
    WITH b AS (
        SELECT doc_id, text, lang, source, n_chars,
               substring(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 6) AS bucket
        FROM documents
    )
    SELECT doc_id, text, lang, source, n_chars,
           CASE lang WHEN 'en' THEN CAST(1.0 AS DOUBLE)
                     WHEN 'de' THEN CAST(0.5 AS DOUBLE)
                     WHEN 'zh' THEN CAST(0.2 AS DOUBLE) END AS mix_rate
    FROM b
    WHERE (lang = 'en')
       OR (lang = 'de' AND bucket <= '800000')
       OR (lang = 'zh' AND bucket <= '333333')
    """,
    doc="corpus mixing: per-stratum deterministic downsampling to a "
        "target training mix (keep all en, half de, a fifth of zh; "
        "strata without a rate are dropped — explicit mixes only). The "
        "same salted-md5 bucket as the c22 split, so the mix is stable "
        "under reruns/partitioning and independently replayable (the "
        "oracle recomputes it). One map-side CASE filter: no shuffle at "
        "any scale",
    tags=("sampling", "documents", "pipeline"),
)
def c53_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import mix_corpus

    d = views(spark, sf_dir, "documents")["documents"]
    return mix_corpus(d, "lang", "doc_id", {"en": 1.0, "de": 0.5, "zh": 0.2})


# Last MERGE-target table created by c54, per Spark application — dropped
# on the NEXT invocation (not in a finally: the returned DataFrame is lazy,
# so the table must outlive the call for the caller's collect).
_C54_LAST_TABLE: dict[str, str] = {}


@query(
    "c54_incremental_rollup",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_value_q
    FROM events
    GROUP BY 1, 2
    """,
    doc="incremental rollup maintenance — the daily-ETL pattern: a "
        "(date, type) rollup table is first built from history up to a "
        "mid-day cutoff (day 21 deliberately PARTIAL), then one "
        "incremental MERGE of the re-aggregated open days corrects the "
        "partial day and appends the new ones. Per increment the cost "
        "is aggregate-the-delta + one keyed merge — never a recompute "
        "of history — and the final table must equal the full rollup "
        "(the oracle). Value sums are 1e-6-quantized BIGINTs, exact in "
        "any engine",
    tags=("dml", "events", "pipeline"),
)
def c54_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dml import merge_into
    from ..ingest import _clean_stale_location
    from ..session import load_table

    views(spark, sf_dir, "events")  # oracle side

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.to_date("ts").cast("string").alias("event_date"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                    "sum_value_q"
                ),
            )
        )

    events = load_table(spark, sf_dir, "events")
    # Hermetic MERGE target (r12 verdict item 2): a per-invocation unique
    # table name means no other test/entry can contend on this table's
    # DML lock or leave a stale warehouse directory under the same name
    # (the source of an in-suite flake). The previous invocation's table
    # is dropped here rather than in a finally, because the returned
    # DataFrame is lazy — the caller collects it after we return.
    prev = _C54_LAST_TABLE.pop(spark.sparkContext.applicationId, None)
    if prev is not None:
        spark.sql(f"DROP TABLE IF EXISTS {prev}")
    # a PREVIOUS session's final table is never dropped (its catalog
    # entry died with that session) — sweep the uuid-prefixed leftovers
    # so warehouse disk stays bounded across sessions. Driver-side
    # directory listing of our own prefix only, never table data.
    import os
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if warehouse and os.path.isdir(warehouse):
        for d in os.listdir(warehouse):
            if d.startswith("bp_incr_rollup") and not spark.catalog.tableExists(d):
                shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)
    tbl = f"bp_incr_rollup_{uuid.uuid4().hex[:8]}"
    _C54_LAST_TABLE[spark.sparkContext.applicationId] = tbl
    _clean_stale_location(spark, tbl, None)
    cutoff = "2024-01-21 12:00:00"
    rollup(events.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))).write.mode(
        "overwrite"
    ).saveAsTable(tbl)
    delta = rollup(
        events.filter(F.to_date("ts") >= F.lit("2024-01-21").cast("date"))
    )
    merge_into(spark, tbl, delta, keys=["event_date", "event_type"])
    return spark.table(tbl)


@query(
    "c56_hopping_window_rollup",
    oracle="""
    WITH w AS (
        SELECT unnest(generate_series(
            TIMESTAMP '2023-12-31 21:00:00',
            TIMESTAMP '2024-01-31 00:00:00',
            INTERVAL 3 HOUR
        )) AS ws
    )
    SELECT CAST(w.ws AS VARCHAR) AS window_start, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events e JOIN w
      ON e.ts >= w.ws AND e.ts < w.ws + INTERVAL 6 HOUR
    GROUP BY 1, 2
    """,
    doc="hopping (sliding) window rollup: 6-hour windows every 3 hours, "
        "so each event lands in exactly size/slide = 2 windows — the "
        "overlapping-window semantics tumbling (c15) can't express. "
        "Spark's window(ts, '6 hours', '3 hours') explodes each row to "
        "its member windows map-side then hash-aggregates (shuffle "
        "bounded by windows x types, not events); the oracle replays "
        "membership as a range join against the generated window-start "
        "grid. Window starts are epoch-aligned in both engines",
    tags=("window", "events", "streaming"),
)
def c56_hopping_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "events")
    return (
        spark.table("events")
        .groupBy(F.window("ts", "6 hours", "3 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "q50_window_range_frame",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_90d_spend
    FROM orders
    """,
    doc="value-based RANGE window frame (Redshift RANGE BETWEEN ... "
        "PRECEDING): per customer, each order's trailing-90-day spend. "
        "The frame is keyed on the ORDER BY VALUE (epoch seconds), not "
        "row position — peers at the same instant aggregate together, "
        "which a ROWS frame gets wrong. Both engines window over the "
        "identical epoch integers, so the frame boundaries replay "
        "exactly; money sums are decimal-cast. One shuffle on the "
        "partition key; frame state per reducer is the in-window rows",
    tags=("window", "frames"),
)
def q50_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, 0)
    )
    return spark.table("orders").select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_90d_spend"),
    )


@query(
    "c55_pipeline_curation",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2 THEN
                 list_transform(generate_series(1, len(toks) - 1),
                                i -> concat_ws(' ', toks[i], toks[i+1]))
               ELSE [] END AS grams
        FROM t
    ),
    u AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    pg AS (SELECT doc_id, gram, count(*) AS cnt FROM u GROUP BY 1, 2),
    rep AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_grams,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM pg GROUP BY 1
    ),
    clean AS (
        SELECT t.doc_id, t.lang, t.toks
        FROM t LEFT JOIN rep ON t.doc_id = rep.doc_id
        WHERE COALESCE(rep.n_grams, 0) = 0
           OR CAST(rep.n_grams - rep.n_distinct AS DOUBLE) / rep.n_grams <= 0.2
    ),
    mixed AS (
        SELECT doc_id, lang, toks, CAST(len(toks) AS BIGINT) AS weight
        FROM clean
        WHERE (lang = 'en')
           OR (lang IN ('de', 'es')
               AND substring(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 6)
                   <= '800000')
    ),
    budgeted AS (
        SELECT doc_id, lang, toks, weight,
               CAST(sum(weight) OVER (
                   PARTITION BY lang ORDER BY weight DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_weight
        FROM mixed
    ),
    sel AS (SELECT * FROM budgeted WHERE cum_weight <= 3000),
    chunks AS (
        SELECT doc_id, lang, toks, len(toks) AS n,
               unnest(generate_series(0, len(toks) - 1, 48)) AS st
        FROM sel WHERE len(toks) > 0
    )
    SELECT lang, doc_id,
           CAST(st // 48 AS BIGINT) AS chunk_id,
           CAST(least(64, n - st) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, st + 1, least(st + 64, n)), ' '))
             AS chunk_fp
    FROM chunks
    """,
    doc="end-to-end curation pipeline over the ROUND-7 operator set: "
        "repetition filter (keep dup-2-gram fraction <= 0.2) -> corpus "
        "mix (all en, half de/es, drop the rest) -> per-language "
        "3000-token budget (heaviest-first) -> 64/48 chunking, emitting "
        "md5 chunk fingerprints. Composes c45/c53/c47/c52 exactly as a "
        "user would; every stage keeps its audited plan shape (token-"
        "bounded aggregate, map-side mix filter, banded prefix sum, "
        "map-side chunk explode), so the pipeline adds no new shuffle "
        "classes — and the whole thing replays in the DuckDB oracle",
    bench=True,
    tags=("pipeline", "text", "sampling"),
)
def c55_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import mix_corpus, token_budget_sample
    from ..operators.text import chunk_documents, repetition_stats

    d = views(spark, sf_dir, "documents")["documents"]
    rep = repetition_stats(d, "doc_id", "text", n=2, flag_dup_fraction=0.2)
    clean = (
        d.join(rep.select("doc_id", "flagged"), "doc_id", "left")
        .filter(~F.coalesce(F.col("flagged"), F.lit(False)))
        .drop("flagged")
    )
    mixed = mix_corpus(clean, "lang", "doc_id", {"en": 1.0, "de": 0.5, "es": 0.5})
    from ..operators.dedup import tokens

    from pyspark.storagelevel import StorageLevel

    # persisted (r16): `weighted` feeds both the budget sampler and the
    # picked join, and `picked` feeds both the chunker and the final
    # lang join — unpersisted, the repetition-filter + mix + tokenize
    # subtree executed four times (plan before: 10 SortMergeJoin /
    # 8 Window; guide §5 multi-consumer subtrees)
    weighted = pin(
        mixed.select(
            "doc_id", "lang", "text",
            F.size(tokens("text")).cast("long").alias("n_tokens"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    sel = token_budget_sample(
        weighted, strata_col="lang", id_col="doc_id",
        weight_col="n_tokens", budget=3000,
    )
    picked = pin(
        weighted.join(sel.select(F.col("id").alias("doc_id")), "doc_id"),
        StorageLevel.MEMORY_AND_DISK,
    )
    chunks = chunk_documents(
        picked, "doc_id", "text", window_tokens=64, stride_tokens=48
    )
    return (
        chunks.join(picked.select("doc_id", "lang"), "doc_id")
        .select(
            "lang",
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            F.md5("chunk_text").alias("chunk_fp"),
        )
    )


@query(
    "c57_stream_sessions",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    idx AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS last_event,
           COUNT(*) AS n_events
    FROM idx
    GROUP BY user_id, session_idx
    """,
    doc="STREAMING sessionization (session_window + watermark, APPEND "
        "mode — each session emits exactly once, when the watermark "
        "finalizes it) over a genuinely multi-batch run: the fixture is "
        "split at its time midpoint into two files consumed oldest-first "
        "with maxFilesPerTrigger=1, so batch 1 opens sessions and batch "
        "2 extends the still-open ones from state; a third far-future "
        "sentinel file (+30 days, user -1) then drags the watermark past "
        "every real event so the tail sessions flush before termination "
        "(the sentinel's own open session is the only state left "
        "unemitted, and that user never appears in the oracle). Safe "
        "under the 1h watermark: any session still extendable at the "
        "split has end+gap past the batch-1 watermark, so its state "
        "cannot have been evicted early. Oracle = the batch "
        "gap-and-islands replay (c13's, plus last_event). State is "
        "(active users x open sessions), watermark-bounded — the shape "
        "that runs forever at 100 TB/day",
    tags=("streaming", "sessions", "events"),
)
def c57_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..streaming.sessions import (
        await_finished,
        read_events_stream,
        start_sized,
        stream_session_counts,
    )

    views(spark, sf_dir, "events")  # oracle side reads the same fixture
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = read_parquet(spark, src).schema
    d = tempfile.mkdtemp(prefix="bp_stream_sessions_")
    t = pq.read_table(src)
    ts_i = pc.cast(t.column("ts"), "int64")
    mm = pc.min_max(ts_i).as_py()
    mid = mm["min"] + (mm["max"] - mm["min"]) // 2
    early = pc.less(ts_i, mid)
    pq.write_table(t.filter(early), os.path.join(d, "part-0.parquet"))
    pq.write_table(t.filter(pc.invert(early)), os.path.join(d, "part-1.parquet"))
    one = t.slice(0, 1)
    sentinel = pa.table(
        [
            pa.array([mm["max"] + 30 * 86400 * 1_000_000_000], pa.int64()).cast(
                fld.type
            )
            if fld.name == "ts"
            else pa.array([-1], pa.int64()).cast(fld.type)
            if fld.name == "user_id"
            else one.column(fld.name).combine_chunks()
            for fld in t.schema
        ],
        schema=t.schema,
    )
    pq.write_table(sentinel, os.path.join(d, "part-2.parquet"))
    # FileStreamSource orders by modification time: pin the batch order
    # early half → late half → sentinel.
    now = os.path.getmtime(os.path.join(d, "part-2.parquet"))
    for i, part in enumerate(["part-0.parquet", "part-1.parquet", "part-2.parquet"]):
        os.utime(os.path.join(d, part), (now - 100 + i * 50, now - 100 + i * 50))
    stream = read_events_stream(spark, d, raw_schema, max_files_per_trigger=1)
    name = "bp_stream_sessions"
    q = (
        stream_session_counts(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    q = start_sized(q, spark, d)
    await_finished(q)
    return spark.table(name).filter(F.col("user_id") >= 0)


@query(
    "c58_bm25_search",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM ex WHERE token IN ('join', 'spark', 'stream')
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS docfreq FROM tf GROUP BY 1),
    units AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln(1.0 + (stats.n_docs - dfreq.docfreq + 0.5) / (dfreq.docfreq + 0.5))
                   * (CAST(tf.tf AS DOUBLE) * 2.2)
                   / (CAST(tf.tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl)))
                   * 1000000) AS BIGINT) AS u
        FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(SUM(u) AS DOUBLE) / 1000000 AS score
    FROM units GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
    doc="Okapi BM25 keyword ranking (k1=1.2, b=0.75) for the query "
        "{join, spark, stream}: the inverted-index search scorer. "
        "Tokens are filtered to the query vocabulary BEFORE the tf "
        "aggregate (postings-sized shuffle, not corpus-sized); doc "
        "length is a map-side size(); N/avgdl/df are broadcast "
        "metadata; top-k is TakeOrderedAndProject. Per-term "
        "contributions quantize to integer micro-units before the "
        "cross-term sum, so the transcendental idf can't make the sum "
        "order-dependent — the engine-exact analog of c18's 6-dp round",
    bench=True,
    tags=("text", "search"),
)
def c58_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bm25_topk

    d = views(spark, sf_dir, "documents")["documents"]
    return bm25_topk(d, "doc_id", "text", ["join", "spark", "stream"], k=10)


@query(
    "c59_robust_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, m.med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type, m.med
    )
    SELECT e.event_id, e.event_type, e.value, s.med, s.mad,
           round(0.6745 * (e.value - s.med) / nullif(s.mad, 0.0), 6) AS z
    FROM events e JOIN mad s USING (event_type)
    WHERE abs(0.6745 * (e.value - s.med) / nullif(s.mad, 0.0)) > 2.5
    """,
    doc="robust per-group outlier detection: median/MAD z-score "
        "(|z| > 2.5) per event_type — the anomaly detector whose "
        "threshold an outlier cannot inflate (50% breakdown point, vs "
        "mean/stddev's 0%). Exact interpolated percentile on both "
        "engines (the c51-verified aggregate); the z filter is a fixed "
        "order of IEEE double ops so the boundary replays exactly. Two "
        "metadata-sized aggregates broadcast back onto the fact scan — "
        "the events table is never row-shuffled",
    tags=("events", "stats"),
)
def c59_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import robust_outliers

    e = views(spark, sf_dir, "events")["events"]
    return robust_outliers(
        e.select("event_id", "event_type", "value"),
        "event_type",
        "value",
        threshold=2.5,
    ).select("event_id", "event_type", "value", "med", "mad", "z")


@query(
    "q51_super_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           CAST(NULL AS BIGINT) AS missing_val,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    """,
    doc="Redshift SUPER / PartiQL parity via the Spark 4 VARIANT type: "
        "parse_json(props) produces a VARIANT and try_variant_get "
        "extracts typed paths ($.k as BIGINT; a missing path yields "
        "NULL, not an error — SUPER's lax navigation semantics). "
        "Complements the string-path (q22) and typed-struct (q36) JSON "
        "entries: VARIANT keeps the open-schema document WITHOUT "
        "committing to a struct schema, the closest Spark analog to "
        "SUPER columns. Columnar scan, zero shuffles",
    tags=("dialect", "json", "events"),
)
def q51_super_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = views(spark, sf_dir, "events")["events"]
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return e.select(
        "event_id",
        k.alias("k_val"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing_val"),
        (k % 10).alias("k_bucket"),
    )


@query(
    "c60_ann_ivf_append",
    # Same fixed-rule cells and probe semantics as c17/c37 — the oracle
    # replays top-k over the WHOLE corpus, which is exactly what the
    # queries must see after the incremental append (initial build on
    # vec_id < 400, append of vec_id >= 400 against the FROZEN
    # centroids).
    oracle=QUERIES["c17_ann_ivf_topk"].oracle,
    doc="incremental IVF index maintenance: build_ivf_index on the "
        "initial corpus slice, then append_to_ivf_index adds the new "
        "batch cell-assigned against the SAME frozen centroids "
        "(routing geometry must not drift between increments) with a "
        "partitioned parquet append that never rewrites existing "
        "files. query_ivf_index then sees old + new rows in one "
        "partition-pruned scan and must equal the full-corpus result. "
        "At 100 TB: the full-corpus build runs once, every ingest "
        "increment costs O(batch) — the ANN twin of c54's "
        "aggregate-the-delta rollup maintenance",
    tags=("similarity", "approx", "storage"),
)
def c60_ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    d = os.path.join(tempfile.mkdtemp(prefix="bp_ivf_append_"), "index")
    cents = build_ivf_index(e.filter(F.col("vec_id") < 400), d, n_cells=16)
    append_to_ivf_index(e.filter(F.col("vec_id") >= 400), d, cents)
    return query_ivf_index(
        spark, d, cents, e.filter(F.col("vec_id") < 10), k=5, nprobe=4
    )


@query(
    "c61_semantic_dedup",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    cents AS (SELECT vec_id AS cent_id, qv AS cq FROM v WHERE vec_id < 16),
    cells AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    drops AS (
        SELECT DISTINCT b.vec_id AS drop_id
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
              / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
              >= 0.4
    )
    SELECT vec_id, cell FROM cells
    WHERE vec_id NOT IN (SELECT drop_id FROM drops)
    """,
    doc="SemDeDup-style semantic deduplication (arXiv:2303.09540): "
        "cluster the embedding space (map-only Arrow cell assignment), "
        "compare pairs ONLY within each cluster, drop every vector with "
        "a >= 0.4-cosine neighbor of smaller id, keep one "
        "representative per semantic group. The embedding-space "
        "complement of lexical near-dup: exact at ANY threshold "
        "(unlike LSH, whose recall collapses below ~0.9 cosine) "
        "because the quadratic stage is bounded by cell sizes "
        "(corpus^2/k for balanced cells), never corpus size. Exact "
        "integer dot products; the oracle replays cells, pair scan, "
        "and drop rule verbatim",
    bench=True,
    tags=("similarity", "dedup"),
)
def c61_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return semantic_dedup(e, n_cells=16, threshold_microcos=400_000)


@query(
    "c62_feature_hashing",
    oracle="""
    WITH ex AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                   AS token
        FROM documents
    )
    SELECT doc_id,
           CAST('0x' || substring(md5(token), 1, 6) AS BIGINT) % 64 AS bucket,
           CAST(count(*) AS BIGINT) AS tf
    FROM ex GROUP BY 1, 2
    """,
    doc="feature-hashing vectorizer (the HashingTF 'hashing trick', "
        "MLlib-free): tokens map to md5-derived buckets mod 64 and "
        "documents become bucket-count vectors — the vocabulary-free, "
        "fixed-width featurizer a linear quality classifier trains on "
        "at corpus scale (no fit step, no OOV). The bucket hash is "
        "portable (Spark conv(substring(md5..)) == ANSI "
        "CAST('0x'||.. AS BIGINT), replayed verbatim by the oracle). "
        "One hash aggregate; shuffle width bounded by n_features per "
        "doc, unlike tf-idf's vocabulary-wide keys. Dense array "
        "assembly (map_from_entries reshape) is pinned by unit test",
    tags=("text", "features"),
)
def c62_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import hashing_vectorizer

    d = views(spark, sf_dir, "documents")["documents"]
    return hashing_vectorizer(d, "doc_id", "text", n_features=64)


@query(
    "c63_unigram_logprob",
    oracle="""
    WITH ex AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                   AS token
        FROM documents
    ),
    uni AS (SELECT token, count(*) AS c FROM ex GROUP BY 1),
    n AS (SELECT SUM(c) AS n_total FROM uni),
    lp AS (
        SELECT ex.doc_id,
               CAST(round(ln(CAST(uni.c AS DOUBLE) / n.n_total) * 1000000)
                    AS BIGINT) AS lp_q
        FROM ex JOIN uni USING (token) CROSS JOIN n
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lp_q) AS BIGINT) AS logprob_q_sum,
           CAST(SUM(lp_q) AS DOUBLE) / 1000000 / count(*) AS avg_logprob
    FROM lp GROUP BY doc_id
    """,
    doc="per-document average unigram log-probability under the "
        "corpus's own MLE model — the KenLM-style LM quality signal "
        "(CCNet/Dolma): improbable-token documents score low and get "
        "filtered before training. Per-token ln quantized to integer "
        "micro-units so the per-doc sum is exact and order-independent "
        "(the c58 contract); vocabulary-sized unigram table broadcast "
        "onto the exploded token stream; one doc-keyed hash aggregate",
    tags=("text", "quality"),
)
def c63_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import unigram_logprob

    d = views(spark, sf_dir, "documents")["documents"]
    return unigram_logprob(d, "doc_id", "text")


@query(
    "c64_image_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c
        FROM documents d, range(8) g1(r), range(8) g2(c)
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(64 AS BIGINT) AS n_pixels,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 0) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 1) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 2) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="REAL image decode, end-to-end verified: synthetic RGB images "
        "are ENCODED to genuine binary PPM (P6) payloads whose pixel "
        "(r,c,ch) value is the closed form (id*31+r*7+c*3+ch)%256, then "
        "DECODED back by the numpy P6 parser (actual pixels — not a "
        "hash stand-in) and reduced to exact integer channel sums "
        "inside an Arrow-batched mapInPandas pass. The oracle recomputes "
        "the sums from the formula alone, so a single mangled byte in "
        "encoder or decoder fails the hash. Upgrades the multimodal "
        "family from plumbing-verified to codec-verified for the "
        "uncompressed format; compressed formats still honestly raise "
        "without pillow. Decode runs inside the scan's partitions — "
        "no shuffle before the final doc-keyed aggregate-free output",
    tags=("multimodal",),
)
def c64_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_channel_stats, synthesize_ppm_images

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_ppm_images(d, "doc_id", side=8))


@query(
    "c65_stream_stateful_topk",
    oracle="""
    WITH q AS (
        SELECT user_id, CAST(round(value * 1000000) AS BIGINT) AS vq
        FROM events
    ),
    r AS (
        SELECT user_id, vq,
               row_number() OVER (PARTITION BY user_id ORDER BY vq DESC) AS rn
        FROM q
    ),
    n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen FROM q GROUP BY 1)
    SELECT n.user_id, n.n_seen,
           MAX(CASE WHEN rn = 1 THEN vq END) AS top1_q,
           MAX(CASE WHEN rn = 2 THEN vq END) AS top2_q,
           MAX(CASE WHEN rn = 3 THEN vq END) AS top3_q
    FROM n JOIN r USING (user_id) GROUP BY 1, 2
    """,
    doc="custom stateful streaming top-k: per-user top-3 values held "
        "in BOUNDED state (k+1 int64s per user — a shape groupBy().agg "
        "cannot express incrementally without buffering every value), "
        "fed a genuinely multi-batch run (midpoint-split files, "
        "maxFilesPerTrigger=1) so batch 2 merges into batch-1 state, "
        "under the RocksDB state store provider. Values quantized to "
        "int64 micro-units (c16 contract); n_seen is monotone so "
        "max_by collapses update-mode re-emissions deterministically. "
        "Runs on applyInPandasWithState; Spark 4's "
        "transformWithStateInPandas successor needs google.protobuf, "
        "absent from this container (documented in the operator)",
    tags=("streaming", "udf", "events"),
)
def c65_stream_stateful_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..streaming.sessions import (
        ROCKSDB_STATE_PROVIDER,
        await_finished,
        enable_rocksdb_state_store,
        read_events_stream,
        start_sized,
        stateful_topk_values,
    )

    views(spark, sf_dir, "events")  # oracle side reads the same fixture
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = read_parquet(spark, src).schema
    d = tempfile.mkdtemp(prefix="bp_stream_topk_")
    t = pq.read_table(src)
    ts_i = pc.cast(t.column("ts"), "int64")
    mm = pc.min_max(ts_i).as_py()
    mid = mm["min"] + (mm["max"] - mm["min"]) // 2
    early = pc.less(ts_i, mid)
    pq.write_table(t.filter(early), os.path.join(d, "part-0.parquet"))
    pq.write_table(t.filter(pc.invert(early)), os.path.join(d, "part-1.parquet"))
    now = os.path.getmtime(os.path.join(d, "part-1.parquet"))
    os.utime(os.path.join(d, "part-0.parquet"), (now - 100, now - 100))
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    enable_rocksdb_state_store(spark)  # transformWithState requires RocksDB
    try:
        stream = read_events_stream(spark, d, raw_schema, max_files_per_trigger=1)
        name = "bp_stream_topk"
        q = (
            stateful_topk_values(stream, k=3)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
        )
        q = start_sized(q, spark, d)
        await_finished(q)
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_seen").alias("n_seen"),
            F.max_by("top1_q", "n_seen").alias("top1_q"),
            F.max_by("top2_q", "n_seen").alias("top2_q"),
            F.max_by("top3_q", "n_seen").alias("top3_q"),
        )
    )


@query(
    "c66_compact_small_files",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    doc="small-file compaction (the VACUUM analog for lake tables): the "
        "fixture is deliberately fragmented into 64 tiny parquet files "
        "(the trickle-ingest shape the reference's chunked INSERTs "
        "produce), then compacted into near-target-size files "
        "range-sorted on doc_id — every output file/row-group covers a "
        "narrow id range, so parquet min/max zone maps make later id "
        "filters row-group-selective (the sort-key benefit Redshift "
        "VACUUM maintains). Content is byte-identical through the "
        "rewrite: the oracle is simply the original table. File-count "
        "reduction and per-file disjoint ranges are pinned in "
        "tests/test_native_layer.py",
    tags=("storage", "maintenance"),
)
def c66_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.maintenance import compact_small_files

    views(spark, sf_dir, "documents")  # oracle side reads the same fixture
    base = tempfile.mkdtemp(prefix="bp_compact_")
    frag, dest = os.path.join(base, "frag"), os.path.join(base, "compact")
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).repartition(
        64
    ).write.mode("overwrite").parquet(frag)
    return compact_small_files(
        spark, frag, dest, target_file_bytes=1 << 20, order_cols=["doc_id"]
    ).select("doc_id", "text", "lang", "source", "n_chars")


@query(
    "c67_column_profile",
    oracle="""
    SELECT 'o_orderstatus' AS column, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (o_orderstatus IS NULL) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
           CAST(min(o_orderstatus) AS VARCHAR) AS min_value,
           CAST(max(o_orderstatus) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           count(*) FILTER (o_custkey IS NULL),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           count(*) FILTER (o_orderpriority IS NULL),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*),
           count(*) FILTER (o_orderdate IS NULL),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
    FROM orders
    """,
    doc="single-pass column profiling (the ANALYZE / source-trust "
        "summary): row count, nulls, exact distincts, min/max for four "
        "columns of orders, computed in ONE aggregate over ONE scan "
        "(Spark's multi-distinct expand) and unpivoted to long form via "
        "an array-of-structs explode — the naive per-column loop costs "
        "k scans of 100 TB; this costs one. The oracle replays the "
        "metrics as per-column aggregates; min/max stringify "
        "identically for string/long/timestamp columns (doubles would "
        "diverge in E-notation and are profiled numerically instead)",
    tags=("stats", "maintenance"),
)
def c67_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import profile_columns

    o = views(spark, sf_dir, "orders")["orders"]
    return profile_columns(
        o, ["o_orderstatus", "o_custkey", "o_orderpriority", "o_orderdate"]
    )


@query(
    "c68_hll_sketch_table",
    # No SQL oracle BY DESIGN (rows-only, the q12 precedent): the
    # estimates are DataSketches-HLL-specific values no other engine
    # reproduces bit-for-bit. The accuracy contract is pinned instead in
    # tests/test_native_layer.py: every per-month estimate and the
    # merged total within 5% of the exact distinct (lgK=12 → ~1.6% rsd).
    oracle=None,
    doc="Redshift HLLSKETCH-column parity (hll_create_sketch / store / "
        "hll_combine / hll_cardinality) via Spark's DataSketches trio: "
        "per-month user sketches MATERIALIZED to parquet as a binary "
        "column, read back, and queried — per-month estimates plus one "
        "hll_union_agg merged total — WITHOUT touching the raw events "
        "again. At 100 TB the raw table is scanned once at build time; "
        "every later distinct-count over any month combination answers "
        "from the kilobyte sketch table. Rows-only by design (estimates "
        "are sketch-implementation-specific); 5%-accuracy bound pinned "
        "by test, exact-distinct twin is q11",
    tags=("dialect", "approx", "events", "storage"),
)
def c68_hll_sketch_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.maintenance import build_sketch_table, sketch_distinct_estimates

    e = views(spark, sf_dir, "events")["events"]
    d = os.path.join(tempfile.mkdtemp(prefix="bp_hll_"), "sketches")
    sk = build_sketch_table(
        e, d, F.date_trunc("month", F.col("ts")).alias("month"), "user_id"
    )
    return sketch_distinct_estimates(sk, "month")


@query(
    "c69_dsir_importance",
    oracle="""
    WITH ex AS (
        SELECT doc_id, lang = 'en' AS is_tgt,
               CAST('0x' || substring(md5(unnest(
                   list_filter(string_split(lower(text), ' '), x -> x <> '')
               )), 1, 6) AS BIGINT) % 1024 AS bucket
        FROM documents
    ),
    counts AS (
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS c_src,
               CAST(count(*) FILTER (is_tgt) AS BIGINT) AS c_tgt
        FROM ex GROUP BY 1
    ),
    totals AS (SELECT SUM(c_src) AS n_src, SUM(c_tgt) AS n_tgt FROM counts),
    w AS (
        SELECT bucket,
               CAST(round((
                   ln((c_tgt + 1.0) / (n_tgt + 1024.0))
                 - ln((c_src + 1.0) / (n_src + 1024.0))
               ) * 1000000) AS BIGINT) AS w_q
        FROM counts CROSS JOIN totals
    )
    SELECT ex.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w.w_q) AS BIGINT) AS importance_q,
           CAST(SUM(w.w_q) AS DOUBLE) / 1000000 / count(*) AS avg_importance
    FROM ex JOIN w USING (bucket)
    GROUP BY ex.doc_id
    """,
    doc="DSIR-style hashed importance weights (arXiv:2302.03169): "
        "score documents by ln p_target - ln p_source under hashed "
        "unigram models (target = lang='en', source = whole corpus, "
        "1024 md5-portable buckets, add-one smoothing) — the "
        "model-free data-selection scorer for 'pick pretraining data "
        "that looks like the target'. Both models are "
        "n_features-bounded hash aggregates; the weight table is a "
        "1024-row broadcast dim; per-bucket weights quantize to "
        "integer micro-units before the per-doc sum (the c58/c63 "
        "contract) so scores replay exactly in the oracle",
    tags=("text", "quality", "sampling"),
)
def c69_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import dsir_importance

    d = views(spark, sf_dir, "documents")["documents"]
    return dsir_importance(
        d, "doc_id", "text", target_col="lang", target_value="en",
        n_features=1024,
    )


def _minhash_store_oracle(num_perms: int, bands: int, min_match: int) -> str:
    """DuckDB replay of the stored-signature incremental dedup (c70):
    signatures for every doc, reference = even ids, new batch = odd
    ids, band-key candidates, signature-agreement verify."""
    rows = num_perms // bands
    sigs = ",\n           ".join(
        f"list_aggregate(list_transform(grams, s -> md5('{p}:' || s)), 'min') AS h{p}"
        for p in range(num_perms)
    )
    bkeys = ", ".join(
        "md5(" + " || '|' || ".join(f"h{b * rows + j}" for j in range(rows)) + f") AS bk{b}"
        for b in range(bands)
    )
    bkarr = ", ".join(f"bk{b}" for b in range(bands))
    bidxs = ", ".join(str(b) for b in range(bands))
    nmatch = " + ".join(
        f"CASE WHEN a.h{p} = b.h{p} THEN 1 ELSE 0 END" for p in range(num_perms)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g0 AS (SELECT doc_id, {_DUCK_GRAMS3} AS grams FROM toks),
    g AS (SELECT doc_id, grams FROM g0 WHERE len(grams) > 0),
    sig AS (SELECT doc_id, {sigs} FROM g),
    keyed AS (SELECT doc_id, {bkeys} FROM sig),
    banded AS (SELECT doc_id, unnest([{bidxs}]) AS band_idx,
                      unnest([{bkarr}]) AS band_key FROM keyed),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
        FROM banded n JOIN banded r
          ON n.band_idx = r.band_idx AND n.band_key = r.band_key
        WHERE n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
    ),
    verified AS (
        SELECT c.new_id, c.ref_id, CAST({nmatch} AS BIGINT) AS n_sig_match
        FROM cand c
        JOIN sig a ON c.new_id = a.doc_id
        JOIN sig b ON c.ref_id = b.doc_id
    )
    SELECT new_id, ref_id, n_sig_match,
           CAST(n_sig_match AS DOUBLE) / {num_perms} AS est_jaccard
    FROM verified WHERE n_sig_match >= {min_match}
    """


@query(
    "c70_minhash_signature_store",
    oracle=_minhash_store_oracle(num_perms=8, bands=4, min_match=4),
    doc="INCREMENTAL text near-dup against a stored signature table — "
        "the c60 frozen-index story for MinHash: the reference corpus "
        "(even doc ids) is sketched ONCE into a persisted parquet "
        "signature table (~0.3 KB/doc, portable md5 domain), then the "
        "new batch (odd ids) sketches itself, candidate-joins on band "
        "keys derived from the STORED signatures, and verifies by "
        "signature agreement (the unbiased Jaccard estimator) — the "
        "reference text is never re-read, unlike c48 which re-sketches "
        "both corpora every run. Never a new x ref product; the oracle "
        "re-derives signatures, band candidates, and the agreement "
        "verify from the raw fixture",
    tags=("dedup", "portable", "storage"),
)
def c70_minhash_signature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.dedup import build_minhash_store, dedup_against_minhash_store

    d = views(spark, sf_dir, "documents")["documents"]
    path = os.path.join(tempfile.mkdtemp(prefix="bp_mh_store_"), "sigs")
    build_minhash_store(
        d.filter(F.col("doc_id") % 2 == 0), path, "doc_id", "text",
        shingle_size=3, num_perms=8,
    )
    return dedup_against_minhash_store(
        spark, path, d.filter(F.col("doc_id") % 2 == 1), "doc_id", "text",
        shingle_size=3, num_perms=8, bands=4, min_sig_match=4,
    )


@query(
    "q53_merge_delete",
    oracle="""
    WITH tomb AS (SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0),
    upd AS (
        SELECT c_custkey,
               CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2))
                          * CAST('1.1' AS DECIMAL(2,1)), 2) AS DOUBLE) AS new_bal
        FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 5 <> 0
    ),
    merged AS (
        SELECT c.c_custkey, c.c_name, c.c_nationkey,
               COALESCE(u.new_bal, c.c_acctbal) AS c_acctbal,
               CASE WHEN u.c_custkey IS NOT NULL THEN 'UPD'
                    ELSE c.c_mktsegment END AS c_mktsegment
        FROM customer c
        LEFT JOIN upd u USING (c_custkey)
        WHERE c.c_custkey NOT IN (SELECT c_custkey FROM tomb)
        UNION ALL
        SELECT c_custkey + 100000, 'NEW#' || CAST(c_custkey AS VARCHAR),
               CAST(0 AS INT), 100.0, 'NEW'
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM merged GROUP BY 1
    """,
    doc="MERGE with the WHEN MATCHED THEN DELETE arm (Redshift MERGE's "
        "delete action; q42 covers update+insert): a CDC-style source "
        "carries in-band tombstones (a sentinel balance no real row "
        "can hold — TPC-H balances go negative, so a plain <0 test "
        "would delete legitimate updates) for "
        "every fifth customer, updates for every third, inserts for "
        "every seventh — one statement applies all three. Matched "
        "tombstones delete; unmatched tombstones are ignored (not "
        "inserted). Same single full-outer-join copy-on-write rewrite "
        "as q42, with all three counters observed on the one join",
    tags=("dml",),
)
def q53_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dml import merge_into
    from ..ingest import _clean_stale_location

    t = views(spark, sf_dir, "customer")["customer"]
    tbl = "bp_q53_customer"
    _clean_stale_location(spark, tbl, None)
    t.write.mode("overwrite").saveAsTable(tbl)

    upd = (
        t.filter((F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 5 != 0))
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.round(
                F.col("c_acctbal").cast("decimal(18,2)")
                * F.lit("1.1").cast("decimal(2,1)"),
                2,
            )
            .cast("double")
            .alias("c_acctbal"),
            F.lit("UPD").alias("c_mktsegment"),
        )
    )
    tomb = t.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.lit(-999999.0).alias("c_acctbal"),  # in-band tombstone sentinel
        "c_mktsegment",
    )
    # an unmatched tombstone: must be IGNORED, not inserted
    ghost = spark.createDataFrame(
        [(999999, "GHOST", 0, -999999.0, "GONE")], t.schema
    )
    new = t.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        F.concat(F.lit("NEW#"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.lit(0).cast("int").alias("c_nationkey"),
        F.lit(100.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    source = upd.unionByName(tomb).unionByName(ghost).unionByName(new)
    merge_into(
        spark, tbl, source, keys=["c_custkey"],
        delete_condition="c_acctbal = -999999",
    )
    return (
        spark.table(tbl)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), dsum("c_acctbal", "total_bal"))
    )


@query(
    "q54_ordered_set_disc_mode",
    oracle="""
    WITH seg AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        FROM customer GROUP BY 1, 2
    ),
    modal AS (
        SELECT c_nationkey, c_mktsegment AS modal_segment FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_nationkey ORDER BY cnt DESC, c_mktsegment
            ) AS rn FROM seg
        ) WHERE rn = 1
    ),
    pct AS (
        SELECT c_nationkey,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal)
                    AS DOUBLE) AS p25_bal,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal)
                    AS DOUBLE) AS p75_bal,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1
    )
    SELECT p.c_nationkey, p.n, p.p25_bal, p.p75_bal, m.modal_segment
    FROM pct p JOIN modal m USING (c_nationkey)
    """,
    doc="PERCENTILE_DISC WITHIN GROUP + per-group MODE (the ordered-set "
        "aggregates q30's PERCENTILE_CONT/MEDIAN family lacks): "
        "discrete percentiles return an ACTUAL data value (engine-exact "
        "by construction, no interpolation to diverge), and the modal "
        "segment is computed as count + row_number with a value "
        "tiebreak rather than the built-in mode() — whose tie choice "
        "is engine-arbitrary and would flake the hash. Two hash "
        "aggregates + a 25-row join; Spark's disc percentile buffers "
        "per group (audit form; approx_percentile is the 100 TB swap)",
    tags=("agg", "dialect"),
)
def q54_ordered_set_disc_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "customer")
    return spark.sql("""
        WITH seg AS (
            SELECT c_nationkey, c_mktsegment, count(*) AS cnt
            FROM customer GROUP BY 1, 2
        ),
        modal AS (
            SELECT c_nationkey, c_mktsegment AS modal_segment FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY c_nationkey ORDER BY cnt DESC, c_mktsegment
                ) AS rn FROM seg
            ) WHERE rn = 1
        ),
        pct AS (
            SELECT c_nationkey,
                   CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal)
                        AS DOUBLE) AS p25_bal,
                   CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal)
                        AS DOUBLE) AS p75_bal,
                   CAST(count(*) AS BIGINT) AS n
            FROM customer GROUP BY 1
        )
        SELECT p.c_nationkey, p.n, p.p25_bal, p.p75_bal, m.modal_segment
        FROM pct p JOIN modal m USING (c_nationkey)
    """)


@query(
    "q55_spatial_within_join",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               (c_custkey * 7919) % 100000 AS x,
               (c_custkey * 104729) % 100000 AS y
        FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 2500 * 2500
    """,
    doc="spatial within-radius self-join (Redshift ST_DWithin parity, "
        "rebuilt from relational primitives — Spark has no native "
        "spatial ops): points on an integer metric plane (what "
        "ST_Transform to a metric SRID yields; synthesized here from "
        "customer keys), bucketed into radius-sized grid cells, one "
        "side exploded to its 3x3 neighborhood, equi-joined on the "
        "cell key, exact integer dx^2+dy^2 <= r^2 verify on candidates "
        "only — candidate count bounded by local density, never "
        "|points|^2 (the oracle allows itself the tiny cross join; the "
        "Spark plan must not, asserted in tests/test_plans.py). No "
        "transcendentals anywhere, so the radius boundary replays "
        "exactly; the haversine variant is the same plan with a trig "
        "verify, documented in operators/geo.py",
    bench=True,
    tags=("join", "spatial"),
)
def q55_spatial_within_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import spatial_self_join_within

    c = views(spark, sf_dir, "customer")["customer"]
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919) % 100000).alias("x"),
        ((F.col("c_custkey") * 104729) % 100000).alias("y"),
    )
    return spatial_self_join_within(pts, "id", "x", "y", radius=2500)


def _pq_oracle(*, n_subspaces: int, n_codes: int, k: int, n_queries: int) -> str:
    """DuckDB replay of the fixed-codebook PQ/ADC pipeline (c71)."""
    d_sub_expr = f"(len(n.qv) // {n_subspaces})"
    sub_l2 = (
        "list_sum(list_transform(generate_series(1, {d}), "
        "i -> ({a}[s.s * {d} + i] - {b}[s.s * {d} + i]) "
        "* ({a}[s.s * {d} + i] - {b}[s.s * {d} + i])))"
    )
    return f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    cb AS (SELECT vec_id AS cid, qv FROM v WHERE vec_id < {n_codes}),
    codes AS (
        SELECT vec_id, s, cid AS code FROM (
            SELECT n.vec_id, s.s, c.cid,
                   row_number() OVER (
                       PARTITION BY n.vec_id, s.s
                       ORDER BY {sub_l2.format(a='n.qv', b='c.qv', d=d_sub_expr)}, c.cid
                   ) AS rn
            FROM v n
            CROSS JOIN (SELECT unnest(range({n_subspaces})) AS s) s
            CROSS JOIN cb c
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT n.vec_id AS query_id, s.s, c.cid,
               {sub_l2.format(a='n.qv', b='c.qv', d=d_sub_expr)} AS d
        FROM v n
        CROSS JOIN (SELECT unnest(range({n_subspaces})) AS s) s
        CROSS JOIN cb c
        WHERE n.vec_id < {n_queries}
    ),
    adc AS (
        SELECT qd.query_id, codes.vec_id AS neighbor_id,
               CAST(SUM(qd.d) AS BIGINT) AS adc_dist2
        FROM codes JOIN qd ON codes.s = qd.s AND codes.code = qd.cid
        WHERE codes.vec_id <> qd.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist2, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist2, neighbor_id
        ) AS BIGINT) AS rank
        FROM adc
    ) WHERE rank <= {k}
    """


@query(
    "c71_ann_pq_topk",
    oracle=_pq_oracle(n_subspaces=8, n_codes=16, k=5, n_queries=10),
    doc="product-quantization ANN with asymmetric distance computation "
        "(the FAISS-PQ memory-compression path, completing the family "
        "next to brute/LSH/IVF): corpus vectors stored as 8 subspace "
        "codes (~32x smaller than the floats at dim 64), query-time "
        "distance = exact integer sum of per-subspace table lookups "
        "against a fixed-rule codebook (ids < 16, oracle-replayable "
        "like c17's cells). Encoding is one map-only Arrow pass; "
        "scoring scans CODES, not vectors, with the metadata-sized "
        "query tables in the kernel closure; compose with IVF pruning "
        "for the full IVF-PQ config. Approximate by construction (ADC "
        "measures distance to the reconstructed vector) — but the "
        "approximation itself replays bit-for-bit in the oracle",
    tags=("similarity", "approx"),
)
def c71_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return pq_topk(
        e, e.filter(F.col("vec_id") < 10),
        n_subspaces=8, n_codes=16, k=5,
    )


def _ivfpq_oracle(
    *, n_cells: int, nprobe: int, n_subspaces: int, n_codes: int, k: int,
    n_queries: int,
) -> str:
    """DuckDB replay of IVF-PQ (c72): c17's coarse cells + c71's codes,
    ADC restricted to each query's probed cells."""
    d_sub_expr = f"(len(n.qv) // {n_subspaces})"
    sub_l2 = (
        "list_sum(list_transform(generate_series(1, {d}), "
        "i -> ({a}[s.s * {d} + i] - {b}[s.s * {d} + i]) "
        "* ({a}[s.s * {d} + i] - {b}[s.s * {d} + i])))"
    )
    return f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    cents AS (SELECT vec_id AS cent_id, qv AS cq FROM v WHERE vec_id < {n_cells}),
    cells AS (
        SELECT vec_id, cell FROM (
            SELECT n.vec_id, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM v n CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probed AS (
        SELECT vec_id, cell FROM (
            SELECT n.vec_id, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM v n CROSS JOIN cents c
            WHERE n.vec_id < {n_queries}
        ) WHERE rn <= {nprobe}
    ),
    cb AS (SELECT vec_id AS cid, qv FROM v WHERE vec_id < {n_codes}),
    codes AS (
        SELECT vec_id, s, cid AS code FROM (
            SELECT n.vec_id, s.s, c.cid,
                   row_number() OVER (
                       PARTITION BY n.vec_id, s.s
                       ORDER BY {sub_l2.format(a='n.qv', b='c.qv', d=d_sub_expr)}, c.cid
                   ) AS rn
            FROM v n
            CROSS JOIN (SELECT unnest(range({n_subspaces})) AS s) s
            CROSS JOIN cb c
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT n.vec_id AS query_id, s.s, c.cid,
               {sub_l2.format(a='n.qv', b='c.qv', d=d_sub_expr)} AS d
        FROM v n
        CROSS JOIN (SELECT unnest(range({n_subspaces})) AS s) s
        CROSS JOIN cb c
        WHERE n.vec_id < {n_queries}
    ),
    adc AS (
        SELECT p.vec_id AS query_id, cl.vec_id AS neighbor_id,
               CAST(SUM(qd.d) AS BIGINT) AS adc_dist2
        FROM probed p
        JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.vec_id
        JOIN codes c ON c.vec_id = cl.vec_id
        JOIN qd ON qd.query_id = p.vec_id AND qd.s = c.s AND qd.cid = c.code
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist2, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist2, neighbor_id
        ) AS BIGINT) AS rank
        FROM adc
    ) WHERE rank <= {k}
    """


@query(
    "c72_ann_ivfpq_topk",
    oracle=_ivfpq_oracle(
        n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5, n_queries=10
    ),
    doc="IVF-PQ — the production FAISS configuration, composing the two "
        "independently verified halves: IVF coarse cells prune WHICH "
        "vectors are scored (nprobe/n_cells of the corpus, c17's "
        "routing) and PQ codes compress WHAT is scored (8 int64 codes "
        "instead of 64 floats, c71's ADC). Cell assignment + encoding "
        "run as chained Arrow kernels in one shuffle-free pass; the "
        "probe join carries (id, cell, codes) rows only. Codes encode "
        "the raw vector (production IVF-PQ encodes the residual — an "
        "integer subtraction away, same plan shape; documented). The "
        "whole composition replays bit-for-bit in the oracle",
    bench=True,
    tags=("similarity", "approx"),
)
def c72_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_pq_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_pq_topk(
        e, e.filter(F.col("vec_id") < 10),
        n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5,
    )


def _ivfpq_residual_ctes(
    *, n_cells: int, nprobe: int, n_subspaces: int, n_codes: int,
    n_queries: int, coarse_iters: int, pq_iters: int,
    train_pred: str | None = None,
) -> list[str]:
    """DuckDB replay of trained residual IVF-PQ (c74, FAISS IVFADC):
    the shared coarse k-means chain (:func:`_duck_kmeans_ctes`), cell
    assignment, residuals, ``pq_iters`` unrolled per-subspace integer
    Lloyd steps over the residual subvectors (same deterministic rules
    — lowest-id init, ties to lowest code, integer-mean update, empty
    codes keep their entry), then per-(query, probed-cell) ADC."""
    M = n_subspaces
    # per-subspace L2^2 between a full residual list and a d_sub codebook
    # list; D = d_sub derived from the list length, s.s is the 0-based
    # subspace index, lists are 1-based
    def dist(rv: str, cv: str) -> str:
        D = f"(len({rv}) // {M})"
        return (
            f"list_sum(list_transform(generate_series(1, {D}), "
            f"i -> ({rv}[s.s * {D} + i] - {cv}[i]) "
            f"* ({rv}[s.s * {D} + i] - {cv}[i])))"
        )

    round_expr = (
        "CASE WHEN sm >= 0 THEN (2*sm + n) // (2*n) "
        "ELSE -((2*(-sm) + n) // (2*n)) END"
    )
    ctes, prev = _duck_kmeans_ctes(
        n_cells=n_cells, iters=coarse_iters, train_pred=train_pred
    )
    ctes.append(f"cents AS (SELECT cent_id, cq FROM {prev})")
    ctes.append(f"""cells AS (
        SELECT vec_id, cell FROM (
            SELECT n.vec_id, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM v n CROSS JOIN cents c
        ) WHERE rn = 1
    )""")
    ctes.append("""res AS (
        SELECT n.vec_id, cl.cell,
               list_transform(generate_series(1, len(n.qv)),
                              i -> n.qv[i] - c.cq[i]) AS rv
        FROM v n
        JOIN cells cl ON cl.vec_id = n.vec_id
        JOIN cents c ON c.cent_id = cl.cell
    )""")
    ctes.append(f"sub AS (SELECT unnest(range({M})) AS s)")
    D0 = f"(len(r.rv) // {M})"
    if train_pred is None:
        tres = "res"
        cb0_where = f"WHERE r.vec_id < {n_codes}"
    else:
        # codebook trains on the SAME sampled subset; init = the n_codes
        # lowest sampled ids (train_pq_codebook's generalized rule)
        tres = "tres"
        ctes.append(f"tres AS (SELECT * FROM res WHERE {train_pred})")
        ctes.append(
            f"cbinit AS (SELECT vec_id FROM tres ORDER BY vec_id LIMIT {n_codes})"
        )
        cb0_where = "WHERE r.vec_id IN (SELECT vec_id FROM cbinit)"
    ctes.append(f"""cb0 AS (
        SELECT s.s AS s, r.vec_id AS cid,
               list_slice(r.rv, s.s * {D0} + 1, (s.s + 1) * {D0}) AS cv
        FROM res r CROSS JOIN sub s
        {cb0_where}
    )""")
    cb_prev = "cb0"
    for it in range(1, pq_iters + 1):
        pa, pm, cb = f"pa{it}", f"pm{it}", f"cb{it}"
        ctes.append(f"""{pa} AS (
        SELECT vec_id, s, sv, code FROM (
            SELECT r.vec_id, s.s AS s,
                   list_slice(r.rv, s.s * {D0} + 1, (s.s + 1) * {D0}) AS sv,
                   c.cid AS code,
                   row_number() OVER (
                       PARTITION BY r.vec_id, s.s
                       ORDER BY {dist('r.rv', 'c.cv')}, c.cid
                   ) AS rn
            FROM {tres} r
            CROSS JOIN sub s
            JOIN {cb_prev} c ON c.s = s.s
        ) WHERE rn = 1
    )""")
        ctes.append(f"""{pm} AS (
        SELECT s, code, list(CAST({round_expr} AS BIGINT) ORDER BY pos) AS cv
        FROM (
            SELECT s, code, pos, SUM(val) AS sm, COUNT(*) AS n FROM (
                SELECT s, code,
                       unnest(range(len(sv))) AS pos,
                       unnest(sv) AS val
                FROM {pa}
            ) GROUP BY s, code, pos
        ) GROUP BY s, code
    )""")
        ctes.append(
            f"{cb} AS (SELECT p.s, p.cid, COALESCE(m.cv, p.cv) AS cv "
            f"FROM {cb_prev} p LEFT JOIN {pm} m ON m.s = p.s AND m.code = p.cid)"
        )
        cb_prev = cb
    ctes.append(f"""codes AS (
        SELECT vec_id, s, code FROM (
            SELECT r.vec_id, s.s AS s, c.cid AS code,
                   row_number() OVER (
                       PARTITION BY r.vec_id, s.s
                       ORDER BY {dist('r.rv', 'c.cv')}, c.cid
                   ) AS rn
            FROM res r
            CROSS JOIN sub s
            JOIN {cb_prev} c ON c.s = s.s
        ) WHERE rn = 1
    )""")
    ctes.append(f"""probed AS (
        SELECT vec_id, cell FROM (
            SELECT n.vec_id, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM v n CROSS JOIN cents c
            WHERE n.vec_id < {n_queries}
        ) WHERE rn <= {nprobe}
    )""")
    ctes.append("""qres AS (
        SELECT p.vec_id AS query_id, p.cell,
               list_transform(generate_series(1, len(n.qv)),
                              i -> n.qv[i] - c.cq[i]) AS qrv
        FROM probed p
        JOIN v n ON n.vec_id = p.vec_id
        JOIN cents c ON c.cent_id = p.cell
    )""")
    ctes.append(f"""qd AS (
        SELECT q.query_id, q.cell, s.s AS s, c.cid,
               {dist('q.qrv', 'c.cv')} AS d
        FROM qres q
        CROSS JOIN sub s
        JOIN {cb_prev} c ON c.s = s.s
    )""")
    ctes.append("""adc AS (
        SELECT p.vec_id AS query_id, cl.vec_id AS neighbor_id,
               CAST(SUM(qd.d) AS BIGINT) AS adc_dist2
        FROM probed p
        JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.vec_id
        JOIN codes c ON c.vec_id = cl.vec_id
        JOIN qd ON qd.query_id = p.vec_id AND qd.cell = p.cell
               AND qd.s = c.s AND qd.cid = c.code
        GROUP BY 1, 2
    )""")
    return ctes


def _ivfpq_residual_oracle(
    *, n_cells: int, nprobe: int, n_subspaces: int, n_codes: int, k: int,
    n_queries: int, coarse_iters: int, pq_iters: int,
    train_pred: str | None = None,
) -> str:
    ctes = _ivfpq_residual_ctes(
        n_cells=n_cells, nprobe=nprobe, n_subspaces=n_subspaces,
        n_codes=n_codes, n_queries=n_queries,
        coarse_iters=coarse_iters, pq_iters=pq_iters,
        train_pred=train_pred,
    )
    return "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, adc_dist2, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist2, neighbor_id
        ) AS BIGINT) AS rank
        FROM adc
    ) WHERE rank <= {k}
    """


def _ivfpq_refine_oracle(
    *, n_cells: int, nprobe: int, n_subspaces: int, n_codes: int, k: int,
    refine_factor: int, n_queries: int, coarse_iters: int, pq_iters: int,
) -> str:
    """DuckDB replay of IVF-PQ + exact re-rank (c75, FAISS
    IndexRefineFlat): the full c74 CTE chain cut at rank <= k*refine
    by ADC, then exact quantized cosine over ONLY those candidates."""
    ctes = _ivfpq_residual_ctes(
        n_cells=n_cells, nprobe=nprobe, n_subspaces=n_subspaces,
        n_codes=n_codes, n_queries=n_queries,
        coarse_iters=coarse_iters, pq_iters=pq_iters,
    )
    ctes.append(f"""cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist2, neighbor_id
            ) AS rn FROM adc
        ) WHERE rn <= {k * refine_factor}
    )""")
    ctes.append(f"""nrm AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    )""")
    ctes.append(f"""rer AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST({_DUCK_DOT.format(a='q.qv', b='n.qv')} AS DOUBLE)
                 / (sqrt(CAST(q.norm AS DOUBLE)) * sqrt(CAST(n.norm AS DOUBLE))) AS cosine
        FROM cand
        JOIN nrm n ON n.vec_id = cand.neighbor_id
        JOIN nrm q ON q.vec_id = cand.query_id
    )""")
    return "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS BIGINT) AS rank
        FROM rer
    ) WHERE rank <= {k}
    """


@query(
    "c74_ann_ivfpq_residual_topk",
    oracle=_ivfpq_residual_oracle(
        n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5, n_queries=10,
        coarse_iters=2, pq_iters=2,
    ),
    doc="trained residual IVF-PQ — FAISS's production IVFADC (Jégou "
        "et al. TPAMI 2011 §IV.A): k-means coarse centroids (2 integer "
        "Lloyd steps, c28's loop), PQ codes encoding the RESIDUAL "
        "x − centroid(cell(x)), and per-subspace codebooks TRAINED on "
        "those residuals (2 more integer Lloyd steps per subspace). "
        "Residuals against trained means center near zero, and a "
        "codebook trained on that distribution quantizes it with far "
        "lower error than any fixed rule — recall@5 beats raw-code "
        "c72 by ~1.5x on the fixtures (pinned in pytest). ADC tables "
        "are per (query, probed cell), both sides centered on the same "
        "centroid; search plan identical to c72. Training AND search "
        "are exact int64 with fixed tie rules, so the entire pipeline "
        "— 4 Lloyd loops included — replays bit-for-bit in the oracle",
    bench=True,
    tags=("similarity", "approx"),
)
def c74_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_pq_residual_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_pq_residual_topk(
        e, e.filter(F.col("vec_id") < 10),
        n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5,
        coarse_iters=2, pq_iters=2,
    )


@query(
    "q59_scd2_dimension",
    oracle="""
    WITH dim0 AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ),
    src AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey < 5
    ),
    changed AS (
        SELECT d.c_custkey FROM dim0 d JOIN src s USING (c_custkey)
        WHERE d.c_acctbal IS DISTINCT FROM s.c_acctbal
           OR d.c_mktsegment IS DISTINCT FROM s.c_mktsegment
    )
    SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal,
           TIMESTAMP '2024-01-01' AS valid_from,
           TIMESTAMP '2024-06-01' AS valid_to,
           FALSE AS is_current
    FROM dim0 d WHERE d.c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal,
           TIMESTAMP '2024-06-01', NULL, TRUE
    FROM src s WHERE s.c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal,
           TIMESTAMP '2024-06-01', NULL, TRUE
    FROM src s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM dim0)
    UNION ALL
    SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal,
           TIMESTAMP '2024-01-01', NULL, TRUE
    FROM dim0 d WHERE d.c_custkey NOT IN (SELECT c_custkey FROM changed)
    """,
    doc="SCD Type-2 dimension apply (dml.py scd2_apply): fold a source "
        "snapshot into a history-keeping dimension — changed keys close "
        "the current row (valid_to = batch ts) and open a new one, new "
        "keys open, unchanged and absent keys pass through (incremental "
        "feed; close_missing=True handles full-snapshot feeds). "
        "NULL-safe change detection (IS DISTINCT FROM). Plan: history "
        "rows never join — only the CURRENT slice left-joins the "
        "source on the keys — then one copy-on-write rewrite under the "
        "per-table writer lock. The warehouse pattern Redshift users "
        "hand-roll as MERGE + INSERT through the reference pass-through",
    tags=("dml", "dialect"),
)
def q59_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dml import scd2_apply
    from ..ingest import _clean_stale_location

    c = views(spark, sf_dir, "customer")["customer"]
    _clean_stale_location(spark, "bp_scd_dim", None)
    (
        c.select(
            "c_custkey", "c_mktsegment", "c_acctbal",
            F.lit("2024-01-01").cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .write.mode("overwrite").saveAsTable("bp_scd_dim")
    )
    src = c.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    ).unionByName(
        c.filter(F.col("c_custkey") < 5).select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            "c_mktsegment",
            "c_acctbal",
        )
    )
    scd2_apply(
        spark, "bp_scd_dim", src,
        keys=["c_custkey"], tracked=["c_mktsegment", "c_acctbal"],
        batch_ts="2024-06-01",
    )
    return spark.table("bp_scd_dim")


@query(
    "c75_ann_ivfpq_refine_topk",
    oracle=_ivfpq_refine_oracle(
        n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5,
        refine_factor=4, n_queries=10, coarse_iters=2, pq_iters=2,
    ),
    doc="IVF-PQ + exact re-rank (FAISS IndexRefineFlat, the last piece "
        "of the production ANN stack): c74's trained compressed index "
        "generates k*4 candidates per query by approximate ADC, then "
        "ONLY those rows are re-scored against full-precision vectors "
        "and the exact-cosine top-k returned — quantization error "
        "decides which ~20 rows get READ, never the final ranking. The "
        "candidate id table broadcasts against the corpus (one "
        "broadcast-hash join, no corpus shuffle, no second index); "
        "recall converges to the probed-cells ceiling as the refine "
        "factor grows (pinned vs c74 in pytest)",
    bench=True,
    tags=("similarity", "approx"),
)
def c75_ann_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_pq_refine_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_pq_refine_topk(
        e, e.filter(F.col("vec_id") < 10),
        n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5,
        refine_factor=4, coarse_iters=2, pq_iters=2,
    )


@query(
    "q60_materialized_view_sql",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM base GROUP BY o_custkey
    """,
    doc="CREATE / REFRESH / DROP MATERIALIZED VIEW accepted as SQL "
        "(the Redshift MV statement family, execute_sql pass-through "
        "site): CREATE materializes the defining query into a table "
        "and records the definition (session registry — Spark has no "
        "MV catalog object); base-table INSERTs leave the MV stale "
        "(Redshift visibility); REFRESH recomputes through the "
        "copy-on-write staging under the per-table writer lock. Full "
        "recompute is Redshift's own non-incremental fallback; the "
        "incremental path for eligible aggregates is c54's rollup "
        "MERGE. Oracle checks the post-refresh content",
    tags=("native", "sql", "dialect"),
)
def q60_materialized_view_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    execute_sql(spark, "DROP MATERIALIZED VIEW IF EXISTS bp_mv_rev")
    _clean_stale_location(spark, "bp_mv_rev", None)
    _clean_stale_location(spark, "bp_mv_base", None)
    execute_sql(
        spark,
        "CREATE TABLE bp_mv_base AS "
        "SELECT o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
    )
    execute_sql(
        spark,
        "CREATE MATERIALIZED VIEW bp_mv_rev AUTO REFRESH NO AS "
        "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM bp_mv_base GROUP BY o_custkey",
    )
    execute_sql(
        spark,
        "INSERT INTO bp_mv_base "
        "SELECT o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'",
    )
    execute_sql(spark, "REFRESH MATERIALIZED VIEW bp_mv_rev")
    return spark.table("bp_mv_rev")


@query(
    "q61_system_tables",
    oracle="""
    SELECT * FROM (VALUES
        ('bp_sysdb', 'sys_t1', 'a', 'int', 1),
        ('bp_sysdb', 'sys_t1', 'b', 'string', 0),
        ('bp_sysdb', 'sys_t1', 'c', 'double', 2),
        ('bp_sysdb', 'sys_t2', 'k', 'bigint', 0),
        ('bp_sysdb', 'sys_t2', 'v', 'string', 0)
    ) AS t(schemaname, tablename, col_name, type, sortkey)
    """,
    doc="Redshift system-table shims (functions/system_tables.py): "
        "pg_table_def / svv_table_info materialized on demand from the "
        "session catalog + the shim's SORTKEY registry whenever "
        "pass-through SQL references them — the what-tables/what-"
        "columns/what-sortkey introspection every Redshift client runs "
        "first. Entry creates a schema with layout-DDL tables through "
        "execute_sql and reads pg_table_def back for that schema; "
        "Spark type names reported as-is (string, not character "
        "varying — documented divergence). Stats columns come from "
        "ANALYZE when present, NULL otherwise (absent, not guessed)",
    tags=("native", "sql", "dialect"),
)
def q61_system_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sqlrun import execute_sql

    spark.sql("CREATE DATABASE IF NOT EXISTS bp_sysdb")
    spark.sql("DROP TABLE IF EXISTS bp_sysdb.sys_t1")
    spark.sql("DROP TABLE IF EXISTS bp_sysdb.sys_t2")
    execute_sql(
        spark,
        "CREATE TABLE bp_sysdb.sys_t1 (a INT, b VARCHAR(10), c DOUBLE) "
        "DISTSTYLE EVEN COMPOUND SORTKEY(a, c)",
    )
    execute_sql(spark, "CREATE TABLE bp_sysdb.sys_t2 (k BIGINT, v VARCHAR(5))")
    from ..functions.system_tables import register_system_views

    register_system_views(spark)
    return spark.sql(
        "SELECT schemaname, tablename, `column` AS col_name, type, sortkey "
        "FROM pg_table_def WHERE schemaname = 'bp_sysdb'"
    )


@query(
    "c77_weighted_sample",
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               CAST(len(""" + _DUCK_TOKS + """) AS BIGINT) AS w
        FROM documents
    ),
    pos AS (
        SELECT doc_id, w,
               COALESCE(SUM(w) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS lo
        FROM docs WHERE w > 0
    ),
    tot AS (SELECT SUM(w) AS total FROM docs WHERE w > 0),
    targets AS (
        SELECT j AS sample_idx,
               CAST(CAST('0x' || substring(
                   md5('wswr:v1:' || CAST(j AS VARCHAR)), 1, 12
               ) AS BIGINT) % CAST((SELECT total FROM tot) AS BIGINT)
               AS BIGINT) AS target
        FROM (SELECT unnest(range(200)) AS j)
    )
    SELECT t.sample_idx, p.doc_id AS id, t.target
    FROM targets t
    JOIN pos p ON t.target >= p.lo AND t.target < p.lo + p.w
    """,
    doc="deterministic token-weighted corpus sampling WITH replacement "
        "(the sample-documents-by-token-mass draw of corpus mixing / "
        "eval-set construction): each doc owns [lo, lo+w) of the "
        "integer cumulative-weight line (BANDED exclusive prefix sums, "
        "c47's two-level shape — parallelism is n_bands, never 1); "
        "draw j is the portable md5 integer hash mod total weight; "
        "interval lookup is a bucketed range join (c20 shape, never a "
        "targets x docs product). Integer DIV throughout — at 100 TB "
        "the weight line exceeds 2^53 and float division would "
        "misroute boundary targets. No float randomness anywhere: the "
        "draw replays bit-for-bit in the oracle",
    bench=True,
    tags=("sampling", "llm"),
)
def c77_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tokens
    from ..operators.sampling import weighted_sample_with_replacement

    d = views(spark, sf_dir, "documents")["documents"]
    weighted = d.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return weighted_sample_with_replacement(
        weighted, id_col="doc_id", weight_col="n_tokens", n_samples=200
    )


@query(
    "c76_zorder_keys",
    oracle="""
    WITH cuts AS (
        SELECT quantile_cont(o_totalprice, [0.0625, 0.125, 0.1875, 0.25, 0.3125, 0.375, 0.4375, 0.5, 0.5625, 0.625, 0.6875, 0.75, 0.8125, 0.875, 0.9375]) AS ct,
               quantile_cont(CAST(o_custkey AS DOUBLE), [0.0625, 0.125, 0.1875, 0.25, 0.3125, 0.375, 0.4375, 0.5, 0.5625, 0.625, 0.6875, 0.75, 0.8125, 0.875, 0.9375]) AS ck
        FROM orders
    ),
    b AS (
        SELECT o.o_orderkey,
               CAST(list_sum(list_transform(c.ct,
                   x -> CASE WHEN o.o_totalprice > x THEN 1 ELSE 0 END)) AS BIGINT) AS bt,
               CAST(list_sum(list_transform(c.ck,
                   x -> CASE WHEN CAST(o.o_custkey AS DOUBLE) > x THEN 1 ELSE 0 END)) AS BIGINT) AS bk
        FROM orders o CROSS JOIN cuts c
    )
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST((((bt >> 0) & 1) << 0) + (((bk >> 0) & 1) << 1) + (((bt >> 1) & 1) << 2) + (((bk >> 1) & 1) << 3) + (((bt >> 2) & 1) << 4) + (((bk >> 2) & 1) << 5) + (((bt >> 3) & 1) << 6) + (((bk >> 3) & 1) << 7) AS BIGINT) AS zvalue
    FROM b
    """,
    doc="Z-order (Morton) clustering keys — the Spark-native rebuild of "
        "Redshift's INTERLEAVED SORTKEY (the layout DDL the dialect "
        "shim strips) and Delta OPTIMIZE ZORDER: each clustered "
        "column's 4-bit quantile bucket (exact-percentile cut points, "
        "the c51-verified interpolation; rank-based so skew fills "
        "buckets evenly) is bit-interleaved into one sort key, so "
        "files pruned by min/max zone maps serve predicates on ANY "
        "clustered column. Cut computation is one aggregate pass of "
        "driver metadata; bucketing + interleave are row-local unrolled "
        "arithmetic in whole-stage codegen. zorder_layout writes the "
        "clustered files; the pruning benefit is measured in "
        "tests/test_plans.py via parquet row-group statistics",
    bench=True,
    tags=("layout",),
)
def c76_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import zorder_keys

    o = views(spark, sf_dir, "orders")["orders"]
    return zorder_keys(o, ["o_totalprice", "o_custkey"], bits=4).select(
        "o_orderkey", F.col("_zvalue").alias("zvalue")
    )


# --------------------------------------------------------------------------
# Classic TPC-H queries adapted to the fixture schema (no partsupp /
# comment / phone columns — adaptations noted per entry). One SQL
# string per entry, executed VERBATIM by both engines: the Spark side
# is spark.sql over the registered views, the oracle is the same text.
# --------------------------------------------------------------------------

_Q62_SQL = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           {_DISC_PRICE_SQL} AS volume
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query(
    "q62_tpch_q7_volume_shipping",
    oracle=_Q62_SQL,
    doc="TPC-H Q7 (volume shipping between two nations): five-way join "
        "with the symmetric nation-pair OR predicate, year extraction, "
        "decimal-domain revenue — the multi-join + disjunctive-filter "
        "shape. One SQL text runs verbatim on both engines",
    bench=True,
    tags=("sql", "tpch"),
)
def q62_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    return spark.sql(_Q62_SQL)


_Q63_SQL = f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           {_DISC_PRICE_SQL} AS volume,
           n2.n_name AS nation
    FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
         region
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
      AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
"""


@query(
    "q63_tpch_q8_market_share",
    oracle=_Q63_SQL,
    doc="TPC-H Q8 (national market share): eight-way star join through "
        "two nation roles and region, share-of-total via a NULL-else "
        "CASE sum (SUM skips NULLs — no cross-engine CASE-type-"
        "unification hazard), exact decimal sums divided once as "
        "doubles. The widest join in the catalog",
    bench=True,
    tags=("sql", "tpch"),
)
def q63_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(
        spark, sf_dir,
        "part", "supplier", "lineitem", "orders", "customer", "nation",
        "region",
    )
    return spark.sql(_Q63_SQL)


_Q64_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@query(
    "q64_tpch_q13_order_distribution",
    oracle=_Q64_SQL,
    doc="TPC-H Q13 (customer order-count distribution): LEFT OUTER join "
        "with a filter INSIDE the join condition (customers with zero "
        "qualifying orders must still appear, count 0) then a "
        "count-of-counts regroup. Adaptation: the exclusion predicate "
        "is o_orderpriority NOT LIKE '1-%' (fixtures carry no "
        "o_comment column)",
    tags=("sql", "tpch"),
)
def q64_tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q64_SQL)


_Q65_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


@query(
    "q65_tpch_q18_large_volume",
    oracle=_Q65_SQL,
    doc="TPC-H Q18 (large-volume customers): IN over a grouped HAVING "
        "subquery on the same fact table (the aggregate-semi-join "
        "shape; Catalyst plans the IN as a left-semi against the "
        "aggregated subquery, scanning lineitem twice — the documented "
        "TPC-H trade), then a re-aggregate over the joined rows. "
        "l_quantity sums are exact (integral values in doubles)",
    bench=True,
    tags=("sql", "tpch"),
)
def q65_tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_Q65_SQL)


_Q66_SQL = """
SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
    SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, c_acctbal
    FROM customer, (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(28,2))
                   AS total,
               COUNT(*) AS cnt
        FROM customer
        WHERE c_acctbal > 0.00 AND c_nationkey % 10 IN (1, 3, 5, 7, 9)
    ) t
    WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
      AND CAST(c_acctbal AS DECIMAL(18,2)) * t.cnt > t.total
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 300000
      )
) custsale
GROUP BY cntrycode
"""


@query(
    "q66_tpch_q22_global_sales",
    oracle=_Q66_SQL,
    doc="TPC-H Q22 (global sales opportunity): anti-join (NOT EXISTS) "
        "against orders plus an above-average-balance threshold. The "
        "average is compared EXACTLY — c_acctbal * count > sum in the "
        "decimal domain — instead of AVG, whose return type differs "
        "across engines (Spark widens decimals, DuckDB returns DOUBLE) "
        "and would make boundary rows engine-dependent. Adaptations: "
        "cntrycode is c_nationkey % 10 (no c_phone column); the NOT "
        "EXISTS is restricted to orders over 300k (every fixture customer "
        "has some order)",
    tags=("sql", "tpch"),
)
def q66_tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q66_SQL)


@query(
    "q67_python_udf_ddl",
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_extendedprice * (1.0 + l_tax) AS charged
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
    doc="Redshift Python-UDF DDL as SQL (functions/copy_unload.py "
        "parse_create_function): CREATE FUNCTION ... AS $$ python $$ "
        "LANGUAGE plpythonu compiles the body and registers a "
        "pandas_udf under the given name, so pass-through SQL calls it "
        "— the reference's users' pre-existing UDFs keep working. "
        "Arguments coerce to their declared SQL types (Redshift's "
        "plain-python contract); any NULL argument returns NULL "
        "without invoking the body (Redshift semantics). Python-per-"
        "row inside Arrow batches — the sanctioned slow path, kept off "
        "hot paths. Oracle inlines the body's arithmetic (identical "
        "IEEE double ops, same order)",
    tags=("sql", "dialect", "udf"),
)
def q67_python_udf_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "lineitem")
    execute_sql(
        spark,
        "CREATE OR REPLACE FUNCTION f_charged (price float, tax float) "
        "RETURNS float STABLE AS $$\n"
        "    return price * (1.0 + tax)\n"
        "$$ LANGUAGE plpythonu",
    )
    return spark.sql(
        "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
        "CAST(l_linenumber AS BIGINT) AS l_linenumber, "
        "f_charged(l_extendedprice, l_tax) AS charged "
        "FROM lineitem WHERE l_orderkey % 100 = 0"
    )


@query(
    "c78_bigram_logprob",
    oracle="""
    WITH ex AS (
        SELECT doc_id,
               unnest(range(len(""" + _DUCK_TOKS + """))) AS pos,
               unnest(""" + _DUCK_TOKS + """) AS token
        FROM documents
    ),
    pairs AS (
        SELECT doc_id, pos, token,
               LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM ex
    ),
    uni AS (SELECT token, count(*) AS c1 FROM ex GROUP BY 1),
    big AS (
        SELECT prev, token, count(*) AS c2 FROM pairs
        WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    n AS (SELECT SUM(c1) AS n_total FROM uni),
    lp AS (
        SELECT p.doc_id,
               CAST(round(CASE
                   WHEN p.prev IS NULL THEN
                       ln(CAST(cu.c1 AS DOUBLE) / n.n_total)
                   WHEN b.c2 IS NOT NULL THEN
                       ln(CAST(b.c2 AS DOUBLE) / pu.c1)
                   ELSE ln(0.4 * CAST(cu.c1 AS DOUBLE) / n.n_total)
               END * 1000000) AS BIGINT) AS lp_q
        FROM pairs p
        JOIN uni cu ON cu.token = p.token
        LEFT JOIN uni pu ON pu.token = p.prev
        LEFT JOIN big b ON b.prev = p.prev AND b.token = p.token
        CROSS JOIN n
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lp_q) AS BIGINT) AS logprob_q_sum,
           CAST(SUM(lp_q) AS DOUBLE) / 1000000 / count(*) AS avg_logprob
    FROM lp GROUP BY doc_id
    """,
    doc="per-document average BIGRAM log-probability with stupid "
        "backoff (Brants et al. 2007) — the quality signal above "
        "c63's unigram: real sentences beat shuffled token soup with "
        "the same unigram profile. First token scores unigram MLE, "
        "seen bigrams score c2/c1(prev), unseen back off to "
        "0.4*unigram; every term quantized to integer micro-units so "
        "per-doc sums are exact and order-independent. Vocab-sized "
        "count tables broadcast onto the token stream; prev-token via "
        "per-document LAG windows; one doc-keyed sum",
    tags=("text", "llm"),
)
def c78_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bigram_logprob

    d = views(spark, sf_dir, "documents")["documents"]
    return bigram_logprob(d, "doc_id", "text")


def _bpe_ctes(*, n_merges: int) -> str:
    """Shared CTE chain for word-level BPE (c79 training / c80 apply):
    the word-count base, then ``n_merges`` unrolled (pair-count →
    argmax → replace) MATERIALIZED CTE rounds with the identical tie
    rule (count DESC, pair ASC, binary collation) and the identical
    left-to-right SQL-replace merge application."""
    ctes = [f"""w0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(string_split(word, ''), ' ') AS seq
        FROM (
            SELECT token AS word, COUNT(*) AS cnt FROM (
                SELECT unnest({_DUCK_TOKS}) AS token FROM documents
            ) GROUP BY 1
        )
    )"""]
    for r in range(1, n_merges + 1):
        ctes.append(f"""p{r} AS MATERIALIZED (
        SELECT pair, SUM(cnt) AS c FROM (
            SELECT cnt,
                   unnest(CASE WHEN len(sym) >= 2 THEN
                       list_transform(range(1, len(sym)),
                                      i -> sym[i] || ' ' || sym[i+1])
                   ELSE [] END) AS pair
            FROM (SELECT string_split(seq, ' ') AS sym, cnt FROM w{r-1})
        ) GROUP BY 1
    )""")
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT pair, c FROM p{r} "
            f"ORDER BY c DESC, pair LIMIT 1)"
        )
        ctes.append(f"""w{r} AS MATERIALIZED (
        SELECT word, cnt,
               trim(replace(' ' || seq || ' ',
                            ' ' || (SELECT pair FROM b{r}) || ' ',
                            ' ' || replace((SELECT pair FROM b{r}), ' ', '')
                                || ' ')) AS seq
        FROM w{r-1}
    )""")
    return "WITH " + ",\n    ".join(ctes)


def _bpe_oracle(*, n_merges: int) -> str:
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, pair, "
        f"replace(pair, ' ', '') AS merged, CAST(c AS BIGINT) AS pair_count "
        f"FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return _bpe_ctes(n_merges=n_merges) + f"""
    {finals}
    """


@query(
    "c79_bpe_train",
    oracle=_bpe_oracle(n_merges=8),
    doc="REAL BPE vocabulary training (Sennrich et al. 2016): 8 "
        "rounds of count-adjacent-pairs -> merge-the-most-frequent "
        "over the corpus, returning the merge table a tokenizer ships. "
        "The scale trick is standard: iteration runs on the WORD "
        "VOCABULARY with counts (one corpus aggregate up front), so "
        "each round is a vocab-sized pair aggregate + a 1-row argmax "
        "collect + a row-local string rewrite — 100 TB of text trains "
        "against a few-million-row table. Ties break (count DESC, "
        "pair ASC, binary collation); merge application is SQL "
        "replace, identical left-to-right rule in both engines; all "
        "8 rounds replay bit-for-bit in the unrolled-CTE oracle",
    tags=("text", "llm"),
)
def c79_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import train_bpe_merges

    d = views(spark, sf_dir, "documents")["documents"]
    return train_bpe_merges(d, "doc_id", "text", n_merges=8)


def _bpe_apply_oracle(*, n_merges: int) -> str:
    """DuckDB replay of train-then-tokenize (c80): the c79 training CTE
    chain to its final word segmentation, joined back onto the exploded
    documents for per-doc subword counts."""
    return _bpe_ctes(n_merges=n_merges) + f"""
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(len(string_split(w.seq, ' '))) AS BIGINT) AS n_bpe_tokens
    FROM (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS word FROM documents
    ) t
    JOIN w{n_merges} w ON w.word = t.word
    GROUP BY t.doc_id
    """


@query(
    "c80_bpe_tokenize",
    oracle=_bpe_apply_oracle(n_merges=8),
    doc="BPE tokenizer APPLICATION (the other half of c79): the 8 "
        "trained merges apply to the word VOCABULARY (one row-local "
        "replace chain per distinct word — the corpus is never "
        "rewritten), and documents join the word -> n_subwords table "
        "on the token for per-doc trained-subword counts — what token "
        "budgets, packing lengths, and cost estimates actually need. "
        "One oracle replays training AND application end-to-end: the "
        "c79 CTE chain to its final segmentation, joined back onto "
        "the exploded documents",
    tags=("text", "llm"),
)
def c80_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_token_counts, train_bpe_merges

    d = views(spark, sf_dir, "documents")["documents"]
    merges = [
        tuple(r) for r in train_bpe_merges(d, "doc_id", "text", n_merges=8).collect()
    ]
    return bpe_token_counts(d, "doc_id", "text", merges)


@query(
    "c73_dup_span_coverage",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    gpos AS (
        SELECT doc_id, n_tokens, i - 1 AS s, i + 6 AS e,
               array_to_string(toks[i:i+7], ' ') AS gram
        FROM (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks,
                   unnest(CASE WHEN len(toks) >= 8
                          THEN generate_series(1, len(toks) - 7)
                          ELSE [] END) AS i
            FROM t
        )
    ),
    counts AS (SELECT gram, count(*) AS n FROM gpos GROUP BY 1),
    marked AS (
        SELECT g.doc_id, g.n_tokens, g.s, g.e
        FROM gpos g JOIN counts c USING (gram) WHERE c.n > 1
    ),
    isl AS (
        SELECT *, SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM (
            SELECT *, CASE WHEN s > coalesce(MAX(e) OVER (
                               PARTITION BY doc_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                           ), -1) THEN 1 ELSE 0 END AS new_island
            FROM marked
        )
    ),
    cov AS (
        SELECT doc_id, SUM(span) AS covered FROM (
            SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS span
            FROM isl GROUP BY 1, 2
        ) GROUP BY 1
    )
    SELECT t2.doc_id, t2.n_tokens,
           CAST(coalesce(c.covered, 0) AS BIGINT) AS dup_covered_tokens,
           CAST(coalesce(c.covered, 0) AS DOUBLE)
               / greatest(t2.n_tokens, 1) AS dup_fraction
    FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t) t2
    LEFT JOIN cov c USING (doc_id)
    """,
    doc="duplicated-span coverage — the fixed-gram approximation of "
        "exact-substring dedup (Lee et al. 2022, arXiv:2107.06499): "
        "every 8-token window occurring more than once CORPUS-WIDE "
        "marks its token interval, and each document scores the length "
        "of the UNION of its marked intervals (gaps-and-islands window "
        "— sorted starts, running max-end, per-island spans — never an "
        "exploded token-index set). Catches boilerplate/license/"
        "template spans that document-level near-dup cannot see. Gram "
        "counts are one corpus-token-bounded hash aggregate; only "
        "DUPLICATED grams flow further; pure integer interval "
        "arithmetic, replayed verbatim by the oracle",
    tags=("dedup", "text"),
)
def c73_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import dup_span_coverage

    d = views(spark, sf_dir, "documents")["documents"]
    return dup_span_coverage(d, "doc_id", "text", gram_len=8)


_Q56_SQL = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name
"""


@query(
    "q56_multi_exists_decorrelation",
    oracle=_Q56_SQL,
    doc="TPC-H Q21 shape (suppliers who alone held up multi-supplier "
        "orders): EXISTS and NOT EXISTS over the SAME fact table under "
        "different aliases, the NOT EXISTS correlated on TWO outer "
        "relations (l1's key and o's date) — the classic multi-subquery "
        "decorrelation stress test. Catalyst rewrites both into "
        "semi/anti joins on the order key (no per-row subquery "
        "execution; the same decorrelation q38 proves for scalar "
        "subqueries, here for existential ones); the date-lateness "
        "predicate is integer-exact timestamp arithmetic in both "
        "engines. At 100 TB: three keyed joins on l_orderkey plus one "
        "small group-by — no shape a correlated rewrite could worsen",
    tags=("join", "subquery"),
)
def q56_multi_exists_decorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(_Q56_SQL)


_RATIO_SQL = """
SELECT o_orderkey, o_custkey,
       RATIO_TO_REPORT(CAST(o_totalprice AS DECIMAL(18,2)))
           OVER (PARTITION BY o_custkey) AS spend_share
FROM orders
"""


@query(
    "q52_ratio_to_report",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) /
           nullif(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       OVER (PARTITION BY o_custkey) AS DOUBLE), 0)
               AS spend_share
    FROM orders
    """,
    doc="Redshift-only RATIO_TO_REPORT window function (each order's "
        "share of its customer's total spend): the dialect shim lowers "
        "it to x / SUM(x) OVER (w) with a NULL-on-zero-denominator "
        "guard (redshift_compat._rewrite_ratio_to_report); DuckDB runs "
        "the expanded form as the oracle. Passing a decimal expression "
        "makes the window sum exact/order-independent, so the single "
        "double division is bit-identical across engines — no rounding "
        "needed. One shuffle on the partition key",
    tags=("window", "dialect"),
)
def q52_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    return spark.sql(translate_redshift_sql(_RATIO_SQL))


# --------------------------------------------------------------------------
# TPC-H verbatim completion, part 2 (VERDICT r8 #7): Q2 / Q11 / Q15 / Q20.
# The fixtures carry no partsupp table, so each query derives it as a CTE
# over lineitem (ps_supplycost = MIN extendedprice, ps_availqty = SUM
# quantity per (partkey, suppkey)) — the query SHAPES (correlated min-cost
# subquery, group-vs-global HAVING, view + max-over-aggregate, nested IN
# with correlated per-pair quantities) are preserved, and one SQL text
# runs verbatim on both engines.
# --------------------------------------------------------------------------

_Q69_SQL = """
WITH partsupp AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
       p_partkey, p_name, CAST(ps_supplycost AS DOUBLE) AS supplycost
FROM part, supplier, partsupp, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size <= 15 AND p_type = 'LARGE'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
      SELECT MIN(ps2.ps_supplycost)
      FROM partsupp ps2, supplier s2, nation n2, region r2
      WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
        AND s2.s_nationkey = n2.n_nationkey
        AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@query(
    "q69_tpch_q2_min_cost_supplier",
    oracle=_Q69_SQL,
    doc="TPC-H Q2 (minimum-cost supplier): correlated scalar MIN "
        "subquery over the same dimension chain as the outer query — "
        "the decorrelate-to-aggregate-join shape — with a totally "
        "ordered LIMIT (s_name, p_partkey unique per row, so the cut "
        "is deterministic). MIN over the decimal domain makes the "
        "equality exact on both engines. ps_supplycost = MIN "
        "l_extendedprice per (part, supplier) pair (no partsupp "
        "fixture)",
    bench=True,
    tags=("sql", "tpch"),
)
def q69_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "part", "supplier", "lineitem", "nation", "region")
    return spark.sql(_Q69_SQL)


_Q70_SQL = """
WITH partsupp AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(28,2)) AS ps_value
    FROM lineitem, supplier, nation
    WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND n_name IN ('NATION_3', 'NATION_8')
    GROUP BY l_partkey, l_suppkey
)
SELECT ps_partkey, CAST(SUM(ps_value) AS DOUBLE) AS part_value
FROM partsupp
GROUP BY ps_partkey
HAVING SUM(ps_value) * (SELECT COUNT(DISTINCT ps_partkey) FROM partsupp) * 10
     > (SELECT SUM(ps_value) FROM partsupp) * 11
"""


@query(
    "q70_tpch_q11_important_stock",
    oracle=_Q70_SQL,
    doc="TPC-H Q11 (important stock): per-group sum compared against a "
        "scalar subquery over the SAME derived table — group-sum vs "
        "global-sum HAVING. TPC-H's FRACTION param is a fixed share "
        "that zeroes out as part count grows, so the threshold here is "
        "share > 1.1x the average part (sum * n_parts * 10 > total * "
        "11) — ~37% selective at every fixture SF — expressed as "
        "integer multiplies so the boundary comparison stays in the "
        "exact decimal domain on both engines",
    tags=("sql", "tpch"),
)
def q70_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "lineitem", "supplier", "nation")
    return spark.sql(_Q70_SQL)


_Q71_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM({_DISC_PRICE_SQL}) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query(
    "q71_tpch_q15_top_supplier",
    oracle=_Q71_SQL,
    doc="TPC-H Q15 (top supplier): the CREATE VIEW step becomes a CTE "
        "referenced twice — once joined, once under MAX — the "
        "max-over-aggregate shape. Revenue is summed in the exact "
        "decimal domain, so the MAX equality selects identical rows on "
        "both engines (ties all surface, per the spec)",
    bench=True,
    tags=("sql", "tpch"),
)
def q71_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_Q71_SQL)


_Q72_SQL = """
WITH partsupp AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           CAST(SUM(l_quantity) AS DOUBLE) AS ps_availqty
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT ps_suppkey
    FROM partsupp
    WHERE ps_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    )
    AND ps_availqty > (
        SELECT 0.5 * SUM(l_quantity)
        FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    )
)
AND s_nationkey = n_nationkey AND n_name IN ('NATION_3', 'NATION_13')
"""


@query(
    "q72_tpch_q20_potential_promotion",
    oracle=_Q72_SQL,
    doc="TPC-H Q20 (potential part promotion): nested IN subqueries "
        "(supplier IN pairs IN parts) with a CORRELATED aggregate "
        "threshold per (part, supplier) pair — half that pair's "
        "quantity shipped since a date. quantities are integral "
        "doubles, so 0.5 * SUM and the > comparison are exact; an "
        "empty correlated group yields NULL > which filters "
        "identically on both engines",
    tags=("sql", "tpch"),
)
def q72_tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "supplier", "nation", "lineitem", "part")
    return spark.sql(_Q72_SQL)


# --------------------------------------------------------------------------
# TPC-H verbatim completion, part 3 (VERDICT r9 #5): Q9 / Q10 / Q12 /
# Q14 / Q16 / Q19 — the six classic shapes still absent. Fixture
# adaptations (no partsupp table, no l_shipmode/commitdate/receiptdate,
# no p_container/s_comment) follow the part-2 convention: partsupp is
# derived as a CTE over lineitem, and missing predicate columns are
# replaced by existing columns that preserve the query SHAPE (the thing
# the optimizer sees), documented per entry. One SQL text runs verbatim
# on both engines.
# --------------------------------------------------------------------------

_Q73_SQL = f"""
WITH partsupp AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           {_DISC_PRICE_SQL}
             - ps_supplycost * CAST(l_quantity AS DECIMAL(12,2)) AS amount
    FROM part, supplier, lineitem, partsupp, orders, nation
    WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
      AND ps_partkey = l_partkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query(
    "q73_tpch_q9_product_profit",
    oracle=_Q73_SQL,
    doc="TPC-H Q9 (product-type profit): the heaviest verbatim join "
        "tree — lineitem x part x supplier x orders x nation plus the "
        "derived partsupp CTE, five equi-joins feeding one two-key "
        "rollup. amount stays wholly in the decimal domain "
        "(disc_price(24,4) - supplycost(18,2)*quantity(12,2)) so the "
        "SUM is exact/order-independent on both engines; EXTRACT YEAR "
        "is cast BIGINT for dtype parity. p_name LIKE '%red%' stands "
        "in for '%green%' (fixture colors). Color filter prunes part "
        "first; AQE broadcasts the surviving dims",
    bench=True,
    tags=("sql", "tpch"),
)
def q73_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation")
    return spark.sql(_Q73_SQL)


_Q74_SQL = f"""
SELECT c_custkey, c_name, CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query(
    "q74_tpch_q10_returned_items",
    oracle=_Q74_SQL,
    doc="TPC-H Q10 (returned-item revenue): three-fact join with a "
        "quarter date window, wide GROUP BY carrying customer "
        "attributes through the aggregate, top-20 by revenue. The spec "
        "orders by revenue alone, which is ambiguous at the LIMIT cut; "
        "c_custkey is appended as a deterministic tiebreaker "
        "(documented deviation). Revenue summed in the decimal domain, "
        "reported as double. TakeOrderedAndProject caps the sort at "
        "20 rows per partition",
    tags=("sql", "tpch"),
)
def q74_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_Q74_SQL)


_Q75_SQL = """
SELECT l_returnflag AS l_shipmode,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                       OR o_orderpriority = '2-HIGH'
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                      AND o_orderpriority <> '2-HIGH'
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_returnflag IN ('R', 'A')
  AND l_shipdate > o_orderdate
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_shipmode
"""


@query(
    "q75_tpch_q12_shipmode_priority",
    oracle=_Q75_SQL,
    doc="TPC-H Q12 (shipmode / order-priority): orders x lineitem with "
        "a cross-table column comparison plus a one-year window, "
        "grouped CASE-counts splitting urgent from non-urgent orders. "
        "Fixture adaptation: l_returnflag IN ('R','A') stands in for "
        "l_shipmode IN ('MAIL','SHIP') and the late-delivery chain "
        "l_commitdate < l_receiptdate AND l_shipdate < l_commitdate "
        "becomes l_shipdate > o_orderdate (the columns don't exist; "
        "the shape — join + cross-table inequality + IN + range — is "
        "preserved). CASE sums cast BIGINT for dtype parity (DuckDB "
        "sums INTEGER into HUGEINT)",
    tags=("sql", "tpch"),
)
def q75_tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_Q75_SQL)


_Q76_SQL = f"""
SELECT (CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE_SQL}
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0)
       / CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@query(
    "q76_tpch_q14_promo_revenue",
    oracle=_Q76_SQL,
    doc="TPC-H Q14 (promotion effect): single-row global aggregate — "
        "conditional revenue share of PROMO-type parts in one ship "
        "month. p_type = 'PROMO' equality stands in for LIKE 'PROMO%%' "
        "(fixture types are single words). Both sums are exact "
        "decimals; each is cast to double once and the *100/division "
        "is a fixed IEEE expression, so the quotient is bit-identical "
        "across engines. The month filter prunes lineitem before the "
        "broadcast-joined part lookup",
    tags=("sql", "tpch"),
)
def q76_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q76_SQL)


_Q77_SQL = """
WITH partsupp AS (
    SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
    FROM lineitem
)
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp, part
WHERE p_partkey = ps_partkey
  AND p_brand <> 'Brand#13'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND ps_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query(
    "q77_tpch_q16_supplier_cnt",
    oracle=_Q77_SQL,
    doc="TPC-H Q16 (parts/supplier relationship): COUNT(DISTINCT) over "
        "a three-column group, negated predicates (<>, NOT LIKE, and a "
        "NOT IN subquery that must compile to a null-aware anti-join), "
        "IN-list partition-style filter. Fixture adaptation: suppliers "
        "with s_acctbal < 0 stand in for the '%Customer%Complaints%' "
        "comment filter (no s_comment column); partsupp is the "
        "DISTINCT (part, supplier) pair set from lineitem. s_suppkey "
        "is never NULL so the anti-join is semantically plain",
    tags=("sql", "tpch"),
)
def q77_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_Q77_SQL)


_Q78_SQL = f"""
SELECT CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE (
    p_partkey = l_partkey AND p_brand = 'Brand#12'
    AND p_type IN ('SMALL', 'MEDIUM')
    AND l_quantity >= 1 AND l_quantity <= 11
    AND p_size BETWEEN 1 AND 5
) OR (
    p_partkey = l_partkey AND p_brand = 'Brand#23'
    AND p_type IN ('MEDIUM', 'STANDARD')
    AND l_quantity >= 10 AND l_quantity <= 20
    AND p_size BETWEEN 1 AND 10
) OR (
    p_partkey = l_partkey AND p_brand = 'Brand#9'
    AND p_type IN ('LARGE', 'ECONOMY', 'PROMO')
    AND l_quantity >= 20 AND l_quantity <= 30
    AND p_size BETWEEN 1 AND 15
)
"""


@query(
    "q78_tpch_q19_disjunctive_pushdown",
    oracle=_Q78_SQL,
    doc="TPC-H Q19 (discounted revenue): the OR-of-ANDs stress test — "
        "three conjunct groups each repeating the p_partkey = "
        "l_partkey equality. Catalyst's CNF conversion must factor the "
        "common equality out of the disjunction so the join stays an "
        "equi-join (hash/broadcast) with the brand/type/quantity/size "
        "residual as a post-join filter — NOT a nested-loop cartesian. "
        "Plan-asserted in tests/test_plans.py. p_type IN lists stand "
        "in for p_container IN (no container column); l_shipmode/"
        "shipinstruct conjuncts dropped with them. Single-row global "
        "decimal sum reported as double",
    bench=True,
    tags=("sql", "tpch"),
)
def q78_tpch_q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q78_SQL)


@query(
    "c81_png_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c
        FROM documents d, range(8) g1(r), range(8) g2(c)
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(64 AS BIGINT) AS n_pixels,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 0) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 1) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 2) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="REAL compressed-image decode (VERDICT r8 #2): the c64 pixel "
        "formula is encoded to genuine zlib-compressed PNG payloads "
        "(stdlib zlib + numpy, no pillow) with row filters cycling "
        "through all five PNG filter types, then decoded back — "
        "inflate, CRC verification, per-row unfiltering incl. Paeth — "
        "and reduced to exact integer channel sums in one Arrow-batched "
        "mapInPandas pass. The oracle recomputes the sums from the "
        "closed form alone, so a single wrong byte anywhere in the "
        "codec fails the hash. Decode stays inside the scan's "
        "partitions — no shuffle. Baseline JPEG decodes for real "
        "since r14 (grayscale c211, 4:4:4 color c213; progressive/"
        "subsampled refuse) "
        "(multimodal.py); truncated/corrupt PNGs raise ValueError "
        "(property-tested)",
    tags=("multimodal",),
)
def c81_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_channel_stats, synthesize_png_images

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_png_images(d, "doc_id", side=8))


@query(
    "c83_png_variant_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c
        FROM documents d, range(9) g1(r), range(9) g2(c)
    )
    SELECT doc_id,
           CAST(9 AS BIGINT) AS width,
           CAST(9 AS BIGINT) AS height,
           CAST(81 AS BIGINT) AS n_pixels,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 0) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 1) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id*31 + r*7 + c*3 + 2) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="PNG variant-matrix decode (VERDICT r9 #6): c81's closed-form "
        "pixels encoded per doc_id %% 4 as sequential truecolor, Adam7-"
        "interlaced truecolor, PLTE-indexed, and Adam7 PLTE-indexed — "
        "the two most common real-corpus PNG variants the r8 decoder "
        "raised on, now decoded for real (per-pass unfilter + scatter, "
        "palette lookup; multimodal.decode_png). side=9 makes every "
        "Adam7 pass ragged. The palette maps index i to (i, i+1, i+2) "
        "mod 256, so one channel-sum oracle verifies all four codecs "
        "bit-exactly. Decode stays inside the scan's partitions — no "
        "shuffle; sub-byte palette depths (1/2/4) are property-tested "
        "in pytest",
    tags=("multimodal",),
)
def c83_png_variant_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        image_channel_stats,
        synthesize_png_variant_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_png_variant_images(d, "doc_id", side=9))


@query(
    "q68_txn_commit_rollback",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_mktsegment = 'BUILDING'
                THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM customer
    """,
    doc="real BEGIN/COMMIT/ROLLBACK (transactions.py, VERDICT r8 #4): "
        "an UPDATE inside BEGIN...COMMIT publishes via the staged-swap "
        "buffer (writes go to a per-transaction staging table under the "
        "held per-table writer lock; COMMIT swaps it in), then a DELETE "
        "of nearly every row inside BEGIN...ROLLBACK is discarded — the "
        "oracle checks the table is byte-identical to the committed "
        "state, i.e. the rollback genuinely undid the delete. Redshift "
        "gave the reference serializable transactions at its "
        "pass-through site (execute_sql.py:77); this is the "
        "format-agnostic copy-on-write equivalent (one extra table copy "
        "per touched table; a transaction log — Delta/Iceberg — "
        "amortizes that at 100 TB)",
    tags=("dml", "native", "txn"),
)
def q68_txn_commit_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dml import delete_from, update_table
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    t = views(spark, sf_dir, "customer")["customer"]
    _clean_stale_location(spark, "bp_txn_cust", None)
    t.write.mode("overwrite").saveAsTable("bp_txn_cust")
    execute_sql(spark, "BEGIN")
    update_table(
        spark,
        "bp_txn_cust",
        {"c_acctbal": "c_acctbal + 10.0"},
        "c_mktsegment = 'BUILDING'",
    )
    execute_sql(spark, "COMMIT")
    execute_sql(spark, "BEGIN TRANSACTION")
    delete_from(spark, "bp_txn_cust", "c_acctbal > -1e18")  # nearly all rows
    execute_sql(spark, "ROLLBACK")
    return spark.table("bp_txn_cust").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


def _train_sample_pred(fraction: float, salt: str = "v1") -> str:
    """The SQL form of operators/sampling.deterministic_sample's filter
    (portable salted-md5 bucket — identical bytes in Spark and DuckDB)."""
    from ..operators.sampling import _threshold, sql_bucket_expr

    return f"{sql_bucket_expr('vec_id', salt)} <= '{_threshold(fraction)}'"


@query(
    "c82_ann_ivfpq_sample_trained",
    oracle=_ivfpq_residual_oracle(
        n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5, n_queries=10,
        coarse_iters=2, pq_iters=2, train_pred=_train_sample_pred(0.5),
    ),
    doc="sample-trained residual IVF-PQ (VERDICT r8 #3, FAISS practice: "
        "train quantizers on a bounded sample, encode the full corpus "
        "once): c74's pipeline with train_fraction=0.5 — both Lloyd "
        "loops (coarse centroids and residual codebooks) run on the "
        "deterministic salted-md5 half of the corpus (portable, "
        "partition-independent — the oracle replays the same subset), "
        "while assignment/encoding/search cover every row. Training "
        "scans drop from 4 full-corpus passes per build to 4 sample "
        "passes; at 100 TB the sample fraction shrinks with corpus "
        "size (faiss trains on ~k*256 points). Recall vs full-trained "
        "c74 is pinned >= 0.9x in pytest",
    bench=True,
    tags=("similarity", "approx"),
)
def c82_ann_ivfpq_sample_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_pq_residual_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_pq_residual_topk(
        e, e.filter(F.col("vec_id") < 10),
        n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5,
        coarse_iters=2, pq_iters=2, train_fraction=0.5,
    )


@query(
    "c84_gopher_quality_rules",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                   / nullif(CAST(len(toks) AS BIGINT), 0) AS mean_word_len,
               CAST(len(list_filter(toks,
                    x -> starts_with(x, '#') OR contains(x, '...')))
                    AS BIGINT) AS n_sym,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_intersect(list_distinct(toks),
                    ['the','be','to','of','and','that','have','with']))
                    AS BIGINT) AS stopword_hits
        FROM t
    )
    SELECT doc_id, n_words, mean_word_len,
           CAST(n_sym AS DOUBLE) / nullif(n_words, 0) AS symbol_ratio,
           CAST(n_alpha AS DOUBLE) / nullif(n_words, 0)
               AS alpha_word_fraction,
           stopword_hits,
           n_words BETWEEN 50 AND 100000 AS pass_word_count,
           COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, FALSE)
               AS pass_mean_word_len,
           COALESCE(CAST(n_sym AS DOUBLE) / nullif(n_words, 0) <= 0.1,
                    FALSE) AS pass_symbol_ratio,
           COALESCE(CAST(n_alpha AS DOUBLE) / nullif(n_words, 0) >= 0.9,
                    FALSE) AS pass_alpha_words,
           stopword_hits >= 2 AS pass_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, FALSE)
             AND COALESCE(CAST(n_sym AS DOUBLE) / nullif(n_words, 0) <= 0.1,
                          FALSE)
             AND COALESCE(CAST(n_alpha AS DOUBLE) / nullif(n_words, 0) >= 0.9,
                          FALSE)
             AND stopword_hits >= 2 AS keep
    FROM s
    """,
    doc="the Gopher document-quality rule set (Rae et al. 2021 table "
        "A1): word-count bounds, mean-word-length band, #/ellipsis "
        "symbol ratio, alphabetic-word fraction, and >=2 distinct "
        "stopwords from the fixed 8-word list, conjoined into one keep "
        "flag — the standard first-pass pre-training curation filter "
        "(the duplicate-n-gram half of Gopher's rules is c45). Map-only "
        "projection over the scan, zero shuffles, whole-stage codegen; "
        "all counts integer, each ratio one double division (operators/"
        "text.gopher_quality_rules)",
    bench=True,
    tags=("text", "quality"),
)
def c84_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import gopher_quality_rules

    d = views(spark, sf_dir, "documents")["documents"]
    return gopher_quality_rules(d, "doc_id", "text")


@query(
    "c96_corpus_divergence_topk",
    oracle="""
    WITH ta AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents WHERE doc_id % 2 = 0
    ),
    tb AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents WHERE doc_id % 2 = 1
    ),
    ca AS (SELECT token, count(*) AS cnt_a FROM ta GROUP BY 1),
    cb AS (SELECT token, count(*) AS cnt_b FROM tb GROUP BY 1),
    tot AS (
        SELECT (SELECT SUM(cnt_a) FROM ca) AS tot_a,
               (SELECT SUM(cnt_b) FROM cb) AS tot_b
    ),
    j AS (
        SELECT COALESCE(ca.token, cb.token) AS token,
               CAST(COALESCE(cnt_a, 0) AS BIGINT) AS cnt_a,
               CAST(COALESCE(cnt_b, 0) AS BIGINT) AS cnt_b,
               tot_a, tot_b
        FROM ca FULL OUTER JOIN cb ON ca.token = cb.token
        CROSS JOIN tot
    ),
    scored AS (
        SELECT token, cnt_a, cnt_b,
               CAST(round(((CASE WHEN CAST(cnt_a AS DOUBLE) / tot_a > 0
                     THEN (CAST(cnt_a AS DOUBLE) / tot_a)
                          * ln((CAST(cnt_a AS DOUBLE) / tot_a)
                               / ((CAST(cnt_a AS DOUBLE) / tot_a
                                   + CAST(cnt_b AS DOUBLE) / tot_b) / 2.0))
                     ELSE 0.0 END
                + CASE WHEN CAST(cnt_b AS DOUBLE) / tot_b > 0
                     THEN (CAST(cnt_b AS DOUBLE) / tot_b)
                          * ln((CAST(cnt_b AS DOUBLE) / tot_b)
                               / ((CAST(cnt_a AS DOUBLE) / tot_a
                                   + CAST(cnt_b AS DOUBLE) / tot_b) / 2.0))
                     ELSE 0.0 END) / 2.0) * 1e12) AS BIGINT)
                   AS jsd_contrib_q
        FROM j
    )
    SELECT token, cnt_a, cnt_b, jsd_contrib_q,
           CAST(row_number() OVER (
               ORDER BY jsd_contrib_q DESC, token) AS BIGINT) AS rank
    FROM scored
    ORDER BY jsd_contrib_q DESC, token
    LIMIT 20
    """,
    doc="corpus drift report: per-token Jensen-Shannon divergence "
        "contributions between two snapshots (even vs odd doc ids "
        "stand in for old vs new crawl), top-20 movers — the which-"
        "tokens-shifted diagnostic run when a new data drop lands. "
        "Each contribution is ONE fixed-order IEEE expression "
        "quantized to 1e-12 units (no accumulation -> engine-exact, "
        "the c63 contract); vocabulary-keyed aggregates + one "
        "full-outer token join, totals broadcast, top-k via "
        "TakeOrderedAndProject — never a vocabulary-wide single-"
        "partition window (operators/text.corpus_divergence_topk)",
    bench=True,
    tags=("text", "quality", "eval"),
)
def c96_corpus_divergence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import corpus_divergence_topk

    d = views(spark, sf_dir, "documents")["documents"]
    return corpus_divergence_topk(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
        k=20,
    )


@query(
    "c92_ccnet_perplexity_buckets",
    oracle="""
    WITH ex AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                   AS token
        FROM documents
    ),
    uni AS (SELECT token, count(*) AS c FROM ex GROUP BY 1),
    n AS (SELECT SUM(c) AS n_total FROM uni),
    lp AS (
        SELECT ex.doc_id,
               CAST(round(ln(CAST(uni.c AS DOUBLE) / n.n_total) * 1000000)
                    AS BIGINT) AS lp_q
        FROM ex JOIN uni USING (token) CROSS JOIN n
    ),
    docs AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(SUM(lp_q) AS BIGINT) AS logprob_q_sum,
               CAST(SUM(lp_q) AS DOUBLE) / 1000000 / count(*) AS avg_logprob
        FROM lp GROUP BY doc_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY avg_logprob DESC, doc_id) AS rk,
               count(*) OVER () AS n_docs
        FROM docs
    )
    SELECT doc_id, n_tokens, logprob_q_sum, avg_logprob,
           CAST(FLOOR((rk - 1) * 3.0 / n_docs) AS BIGINT) + 1 AS bucket
    FROM ranked
    """,
    doc="CCNet perplexity bucketing: rank documents by their LM score "
        "(c63's micro-unit-exact unigram avg log-prob — higher = more "
        "fluent) and cut the corpus into head/middle/tail terciles "
        "(bucket = floor((rank-1)*3/N)+1, the exact ntile formula) — "
        "the standard quality-stratified mix where head feeds training "
        "and tail is dropped or downsampled. The rank comes from the "
        "distributed global_rank (c86's range-sort + offset pass), NOT "
        "a single-partition ntile window; the oracle's local window "
        "replays the identical total order (avg desc, doc_id)",
    tags=("text", "quality", "sampling"),
)
def c92_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import global_rank
    from ..operators.text import unigram_logprob

    from pyspark.storagelevel import StorageLevel

    d = views(spark, sf_dir, "documents")["documents"]
    # persisted (r16): the LM-scoring lineage (model join + corpus token
    # aggregate) feeds BOTH the bucket-count action and the global rank;
    # unpersisted it executed twice (guide §5). The cache holds one
    # narrow row per document.
    lp = pin(unigram_logprob(d, "doc_id", "text"), StorageLevel.MEMORY_AND_DISK)
    ranked = global_rank(
        lp, [F.desc("avg_logprob"), F.asc("doc_id")], out_col="_rk"
    )
    n_docs = lp.count()
    return ranked.select(
        "doc_id",
        "n_tokens",
        "logprob_q_sum",
        "avg_logprob",
        (
            F.floor((F.col("_rk") - 1) * 3 / F.lit(n_docs)).cast("long") + 1
        ).alias("bucket"),
    )


@query(
    "c91_phrase_match",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks
        FROM documents
    ),
    p AS (
        SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.token AS token
        FROM (
            SELECT doc_id,
                   unnest(list_transform(toks,
                          (x, i) -> {'pos': i - 1, 'token': x})) AS u
            FROM t
        )
    )
    SELECT a.doc_id, a.pos AS match_pos
    FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.token = 'value' AND b.token = 'table'
    """,
    doc="exact phrase search via positional postings (the adjacency "
        "query bag-of-words BM25 c58 cannot answer): posexplode builds "
        "(doc, pos, token) postings, each phrase word filters its own "
        "copy scan-side (join inputs are word-frequency-sized), "
        "adjacency is an equi-join on (doc, pos+1) — the positional "
        "posting-list intersection every search engine runs; emits one "
        "row per occurrence (operators/text.phrase_match)",
    tags=("text", "search"),
)
def c91_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import phrase_match

    d = views(spark, sf_dir, "documents")["documents"]
    return phrase_match(d, "doc_id", "text", ["value", "table"]).select(
        "doc_id", F.col("match_pos").cast("long").alias("match_pos")
    )


@query(
    "c90_pagerank_bipartite",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id AS u,
               1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT)
                   AS it
        FROM events WHERE event_type = 'click'
    ),
    edges AS (
        SELECT u AS src, it AS dst FROM pairs
        UNION ALL
        SELECT it AS src, u AS dst FROM pairs
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
    c1 AS (
        SELECT e.dst AS node,
               SUM(CAST(FLOOR(CAST(r.rank * 85 AS DOUBLE)
                              / CAST(d.outdeg * 100 AS DOUBLE))
                        AS BIGINT)) AS received
        FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON r.node = e.src
        GROUP BY 1
    ),
    r1 AS (SELECT n.node, CAST(150000 + COALESCE(c.received, 0) AS BIGINT)
                      AS rank
           FROM nodes n LEFT JOIN c1 c ON c.node = n.node),
    c2 AS (
        SELECT e.dst AS node,
               SUM(CAST(FLOOR(CAST(r.rank * 85 AS DOUBLE)
                              / CAST(d.outdeg * 100 AS DOUBLE))
                        AS BIGINT)) AS received
        FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON r.node = e.src
        GROUP BY 1
    ),
    r2 AS (SELECT n.node, CAST(150000 + COALESCE(c.received, 0) AS BIGINT)
                      AS rank
           FROM nodes n LEFT JOIN c2 c ON c.node = n.node),
    c3 AS (
        SELECT e.dst AS node,
               SUM(CAST(FLOOR(CAST(r.rank * 85 AS DOUBLE)
                              / CAST(d.outdeg * 100 AS DOUBLE))
                        AS BIGINT)) AS received
        FROM edges e JOIN deg d ON e.src = d.src JOIN r2 r ON r.node = e.src
        GROUP BY 1
    )
    SELECT n.node, CAST(150000 + COALESCE(c.received, 0) AS BIGINT) AS rank
    FROM nodes n LEFT JOIN c3 c ON c.node = n.node
    """,
    doc="fixed-iteration integer PageRank (operators/graph.pagerank) "
        "over the user-item click graph (item nodes offset by 1e6, "
        "edges symmetric so no node dangles): 3 power-iteration rounds, "
        "ranks in micro-units, per-edge contribution floor(r*85/"
        "(100*outdeg)) — deterministic integer mass flow, so the "
        "3-round unrolled-CTE oracle is bit-exact. Each round is ONE "
        "shuffle (contributions grouped by dst on the same key "
        "partitioning); the rank vector is node-sized. Completes the "
        "graph family next to c29's connected components",
    bench=True,
    tags=("graph", "events"),
)
def c90_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    e = views(spark, sf_dir, "events")["events"]
    pairs = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("u"),
            (
                F.lit(1000000)
                + F.get_json_object("props", "$.k").cast("long")
            ).alias("it"),
        )
        .distinct()
    )
    # symmetrize in ONE pass (explode both orientations): the unionAll
    # form planned the scan+JSON-parse+distinct subtree twice (r16)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("it").alias("dst")),
                F.struct(F.col("it").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    return pagerank(edges, iterations=3, damping=85)


@query(
    "c89_count_min_sketch",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    truec AS (
        SELECT token, CAST(count(*) AS BIGINT) AS true_cnt
        FROM toks GROUP BY 1
    ),
    sketch AS (
        SELECT g.j,
               CAST('0x' || substring(
                    md5(token || ':cms' || CAST(g.j AS VARCHAR)), 1, 6)
                    AS BIGINT) % 256 AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM toks CROSS JOIN range(4) g(j)
        GROUP BY 1, 2
    ),
    q AS (SELECT DISTINCT token FROM toks WHERE doc_id < 5),
    est AS (
        SELECT q.token, min(s.cnt) AS est_cnt
        FROM q CROSS JOIN range(4) g(j)
        JOIN sketch s
          ON s.j = g.j
         AND s.bucket = CAST('0x' || substring(
                 md5(q.token || ':cms' || CAST(g.j AS VARCHAR)), 1, 6)
                 AS BIGINT) % 256
        GROUP BY 1
    )
    SELECT e.token, e.est_cnt, t.true_cnt,
           e.est_cnt >= t.true_cnt AS never_underestimates
    FROM est e JOIN truec t USING (token)
    """,
    doc="count-min sketch (Cormode-Muthukrishnan): depth x width "
        "counter table built in ONE scan whose shuffle is SKETCH-sized "
        "(1024 counters) regardless of distinct-item count — the "
        "frequency complement of c68's HLL cardinality sketch (c31's "
        "exact heavy hitters shuffle every distinct token; at 100 TB "
        "that is the difference). Buckets are portable salted-md5 "
        "(the c62 equivalence), so the oracle replays build AND point "
        "queries exactly; estimates are min-over-rows, queried tokens "
        "joined back to true counts to witness the one-sided error "
        "bound in the output itself (operators/maintenance.cms_build/"
        "cms_estimate)",
    tags=("sketch", "text"),
)
def c89_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tokens
    from ..operators.maintenance import cms_build, cms_estimate

    d = views(spark, sf_dir, "documents")["documents"]
    toks = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    sketch = cms_build(toks, "token", depth=4, width=256)
    queries_df = toks.filter(F.col("doc_id") < 5).select("token").distinct()
    est = cms_estimate(sketch, queries_df, "token", depth=4, width=256)
    truec = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    return est.join(truec, "token").select(
        "token",
        "est_cnt",
        "true_cnt",
        (F.col("est_cnt") >= F.col("true_cnt")).alias("never_underestimates"),
    )


@query(
    "c88_gapfill_interpolate",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
        FROM hourly GROUP BY 1
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM bounds
    ),
    j AS (
        SELECT g.user_id, g.bucket, h.sum_value
        FROM grid g LEFT JOIN hourly h USING (user_id, bucket)
    ),
    n AS (
        SELECT user_id, bucket, sum_value,
               last_value(sum_value IGNORE NULLS) OVER back AS v0,
               CAST(epoch(last_value(CASE WHEN sum_value IS NOT NULL
                                          THEN bucket END IGNORE NULLS)
                          OVER back) AS BIGINT) AS t0,
               first_value(sum_value IGNORE NULLS) OVER fwd AS v1,
               CAST(epoch(first_value(CASE WHEN sum_value IS NOT NULL
                                           THEN bucket END IGNORE NULLS)
                          OVER fwd) AS BIGINT) AS t1,
               CAST(epoch(bucket) AS BIGINT) AS t
        FROM j
        WINDOW back AS (PARTITION BY user_id ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               fwd AS (PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket, sum_value,
           CASE WHEN sum_value IS NOT NULL THEN sum_value
                ELSE v0 + (v1 - v0)
                     * (CAST(t - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
           END AS sum_value_interp
    FROM n
    """,
    doc="linear-interpolation gap fill (the trending-series complement "
        "of c21's LOCF): per-user hourly grid, then each gap filled as "
        "v0 + (v1-v0)*(t-t0)/(t1-t0) between its surrounding "
        "observations — backward last + forward first windows, both "
        "running frames on the same key partitioning (one shuffle "
        "serves grid join and both windows). Epochs are integral hour "
        "buckets and the interpolation is one fixed-order IEEE "
        "expression, so both engines replay it bit-identically; the "
        "grid spans each key's own observed range, so no gap lacks a "
        "neighbor (operators/timeseries.gap_fill_interpolate)",
    tags=("timeseries", "events", "window"),
)
def c88_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import gap_fill_interpolate

    e = views(spark, sf_dir, "events")["events"]
    hourly = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(dsum("value", "sum_value"))
    )
    return gap_fill_interpolate(
        hourly, key="user_id", bucket="bucket",
        step="interval 1 hour", value_col="sum_value",
    )


@query(
    "c87_source_frequency_cap",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':v1'),
                                      1, 6),
                            doc_id
               ) AS rk,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
                   AS n_in_group
        FROM documents
    )
    SELECT doc_id, source, n_in_group
    FROM ranked WHERE rk <= 10
    """,
    doc="per-source frequency capping (domain capping, CCNet/RefinedWeb "
        "practice: giant domains must not dominate the mix): keep at "
        "most N docs per source, chosen by the portable salted-md5 "
        "order (unbiased within source, engine-replayable, partition-"
        "independent) with doc_id tiebreak; pre-cap group size kept "
        "for audit. One hash shuffle on source + bounded window "
        "(operators/sampling.frequency_cap)",
    tags=("sampling", "quality"),
)
def c87_source_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import frequency_cap

    d = views(spark, sf_dir, "documents")["documents"]
    return frequency_cap(d, "doc_id", "source", max_per_group=10).select(
        "doc_id", "source", "n_in_group"
    )


@query(
    "c86_token_balanced_shards",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % 8
                AS BIGINT) AS shard
    FROM t
    """,
    doc="token-balanced shard assignment (training-data export): "
        "longest-first round-robin over the token-count total order — "
        "shard = (rank-1) mod S, skew bounded by one maximal document, "
        "deterministic and SQL-replayable (unlike sequential greedy "
        "bin-packing). The global rank is computed WITHOUT the single-"
        "partition ORDER BY window: distributed range-sort, per-"
        "partition counts to the driver (metadata, not data), offsets "
        "broadcast back, per-partition row_number — the scalable "
        "global-rank pattern (operators/sampling.global_rank); the "
        "oracle replays the same rank because the order is total",
    bench=True,
    tags=("sampling", "text"),
)
def c86_token_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_balanced_shards

    d = views(spark, sf_dir, "documents")["documents"]
    return token_balanced_shards(d, "doc_id", "text", n_shards=8)


# --------------------------------------------------------------------------
# TPC-H verbatim completion, part 4: Q4 / Q5 / Q6 / Q17 — with these,
# every one of the 22 TPC-H query shapes has a catalog entry (verbatim
# where the fixtures allow, documented adaptation otherwise; Q1≈q01,
# Q3≈q26, Q21≈q56 carry the remaining three shapes from earlier rounds).
# --------------------------------------------------------------------------

_Q79_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (
      SELECT * FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query(
    "q79_tpch_q4_order_priority",
    oracle=_Q79_SQL,
    doc="TPC-H Q4 (order-priority checking): correlated EXISTS whose "
        "predicate references BOTH tables (l_shipdate > o_orderdate) — "
        "decorrelates to a left-semi join with a non-equi conjunct "
        "riding the equi key, then a small priority rollup. Fixture "
        "adaptation: the late-delivery test l_commitdate < "
        "l_receiptdate becomes shipped-after-order (columns absent). "
        "COUNT cast BIGINT for dtype parity",
    tags=("sql", "tpch"),
)
def q79_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_Q79_SQL)


_Q80_SQL = f"""
SELECT n_name, CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC
"""


@query(
    "q80_tpch_q5_local_supplier_volume",
    oracle=_Q80_SQL,
    doc="TPC-H Q5 verbatim (local supplier volume): the distinctive "
        "constraint q03's Q5-STYLE entry lacks is c_nationkey = "
        "s_nationkey — customer and supplier must share a nation, "
        "which links the two dimension chains and forces the optimizer "
        "to pick a join order that carries both nationkeys to one "
        "comparison site. Six-way join, dims broadcast, lineitem "
        "shuffles once; exact-decimal revenue",
    tags=("sql", "tpch"),
)
def q80_tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    return spark.sql(_Q80_SQL)


_Q81_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query(
    "q81_tpch_q6_forecast_revenue",
    oracle=_Q81_SQL,
    doc="TPC-H Q6 verbatim (forecasting revenue change): the pure "
        "scan-filter-aggregate — no join at all — whose entire value "
        "is predicate pushdown: all three range predicates reach the "
        "parquet scan and ReadSchema carries only the four touched "
        "columns. The discount BETWEEN on fixed 2-decimal values "
        "compares identically as doubles on both engines; the product "
        "is summed in the exact decimal domain",
    tags=("sql", "tpch"),
)
def q81_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "lineitem")
    return spark.sql(_Q81_SQL)


_Q82_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
           AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#23' AND p_type = 'MEDIUM'
  AND l_quantity < (
      SELECT 0.2 * AVG(l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = p_partkey
  )
"""


@query(
    "q82_tpch_q17_small_quantity_order",
    oracle=_Q82_SQL,
    doc="TPC-H Q17 verbatim (small-quantity-order revenue): correlated "
        "scalar AVG subquery per part — decorrelates to an aggregate "
        "join on l_partkey (q38 carries the same shape on events; this "
        "is the canonical text). l_quantity is integral, so the double "
        "AVG is exact (integer sums are representable), making 0.2*avg "
        "and the < cut engine-identical; the outer sum is decimal-"
        "exact with one final /7.0 in double. p_type = 'MEDIUM' stands "
        "in for the container predicate",
    tags=("sql", "tpch"),
)
def q82_tpch_q17_small_quantity_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q82_SQL)


@query(
    "q83_snapshot_diff_cdc",
    oracle="""
    WITH old_snap AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new_snap AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 83 = 0
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS change_type,
           o.o_orderstatus AS old_o_orderstatus,
           o.o_totalprice  AS old_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus,
           n.o_totalprice  AS new_o_totalprice
    FROM old_snap o FULL OUTER JOIN new_snap n
      ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice  IS DISTINCT FROM n.o_totalprice
    """,
    doc="snapshot-diff CDC: derive the I/U/D changeset between two "
        "table snapshots — the inverse of MERGE (q42/q53 apply a "
        "changeset; this computes one), the full-outer-join dance every "
        "warehouse without a change log runs for CDC export. Old = "
        "orders; new = orders with deterministic deletes (keys % 97), "
        "price updates (% 89), and synthesized inserts (% 83). "
        "Null-safe comparisons; unchanged keys emit nothing. One "
        "full outer join, both sides shuffled on the key once "
        "(dml.snapshot_diff)",
    bench=True,
    tags=("sql", "dml"),
)
def q83_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dml import snapshot_diff

    views(spark, sf_dir, "orders")
    old = spark.sql(
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"
    )
    new = spark.sql(
        """
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 83 = 0
        """
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@query(
    "q87_alter_table_append",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    """,
    doc="ALTER TABLE APPEND (Redshift's move-rows statement, passed "
        "verbatim through execute_sql.py:77): the fixture is split "
        "into a target (even keys, full schema) and a staging source "
        "(odd keys, MISSING the balance column), then moved with "
        "FILLTARGET — missing columns null-fill... except here the "
        "source carries all three columns and the target gets every "
        "row back, so the oracle is the whole fixture; the "
        "IGNOREEXTRA/FILLTARGET refusal matrix and the source-emptied "
        "postcondition are pytest-pinned. Lowered as append + TRUNCATE "
        "under BOTH tables' writer locks (copy_unload."
        "execute_alter_append)",
    tags=("sql", "dml", "native"),
)
def q87_alter_table_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    c = views(spark, sf_dir, "customer")["customer"]
    tgt, src = "bp_q87_target", "bp_q87_staging"
    for t in (tgt, src):
        _clean_stale_location(spark, t, None)
    c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_acctbal"
    ).write.mode("overwrite").saveAsTable(tgt)
    c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", "c_acctbal"
    ).write.mode("overwrite").saveAsTable(src)
    execute_sql(spark, f"ALTER TABLE {tgt} APPEND FROM {src}")
    return spark.table(tgt)


_Q86_SQL = """
WITH t AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_totalprice END AS price
    FROM orders
)
SELECT o_orderkey, o_orderstatus, price,
       CAST(row_number() OVER (
           PARTITION BY o_orderstatus
           ORDER BY price ASC NULLS LAST, o_orderkey
       ) AS BIGINT) AS rn_nulls_last,
       CAST(row_number() OVER (
           PARTITION BY o_orderstatus
           ORDER BY price DESC NULLS FIRST, o_orderkey
       ) AS BIGINT) AS rn_nulls_first
FROM t
"""


@query(
    "q86_nulls_ordering",
    oracle=_Q86_SQL,
    doc="explicit NULLS FIRST/LAST ordering in window sorts — load-"
        "bearing because the ENGINE DEFAULTS DIVERGE (Spark sorts "
        "ASC NULLS FIRST, DuckDB/Redshift ASC NULLS LAST): any ranking "
        "over a nullable key that omits the clause silently ranks "
        "differently across engines, so the dialect contract here is "
        "'always explicit'. Both rankings share one partitioning "
        "(per-status) and a total tiebreak; one SQL text runs verbatim "
        "on both engines",
    tags=("window", "dialect"),
)
def q86_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "orders")
    return spark.sql(_Q86_SQL)


@query(
    "q84_prepare_execute",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderdate >= CAST('1997-01-01 00:00:00' AS TIMESTAMP)
      AND o_totalprice > CAST(50000 AS DOUBLE)
    GROUP BY o_orderstatus
    """,
    doc="PREPARE / EXECUTE (Redshift parameterized statements, passed "
        "verbatim through the reference's execute_sql.py:77): PREPARE "
        "registers (param types, SQL text) session-scoped; EXECUTE "
        "substitutes $n with CAST(arg AS type) — coercion happens in "
        "the engine, not Python — and dispatches through the normal "
        "statement path (so an EXECUTE'd COPY still lowers, and "
        "in-transaction EXECUTE routes through the buffer). The entry "
        "PREPAREs a two-parameter aggregate and EXECUTEs it; the "
        "oracle inlines the same literals (functions/prepared.py)",
    tags=("sql", "dialect"),
)
def q84_prepare_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.prepared import execute_prepared
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    execute_sql(
        spark,
        "PREPARE q84_rev (timestamp, float8) AS "
        "SELECT o_orderstatus, "
        "CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
        "AS total_price "
        "FROM orders WHERE o_orderdate >= $1 AND o_totalprice > $2 "
        "GROUP BY o_orderstatus",
    )
    try:
        return execute_prepared(
            spark, "q84_rev", ["'1997-01-01 00:00:00'", "50000"]
        )
    finally:
        execute_sql(spark, "DEALLOCATE q84_rev")


@query(
    "q85_cursor_fetch_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 10
    """,
    doc="DECLARE CURSOR / FETCH (the paged-result statements Redshift "
        "drivers run for big result sets; the reference's chunked "
        "fetch at store_query_results.py:103 is the same pattern): the "
        "cursor stores (SQL, offset) session-scoped, each FETCH runs "
        "OFFSET/LIMIT natively in Spark — no driver-side buffering of "
        "the full result — and advances by the rows returned. The "
        "entry fetches page 1 then returns page 2 of a totally ORDERED "
        "cursor (paging over an unordered query is nondeterministic in "
        "any engine; documented). Oracle = the same page via LIMIT/"
        "OFFSET (functions/prepared.py)",
    tags=("sql", "dialect"),
)
def q85_cursor_fetch_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.prepared import close_cursor, fetch_cursor
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    try:
        close_cursor(spark, "q85_cur")  # re-entrant builds
    except ValueError:
        pass
    execute_sql(
        spark,
        "DECLARE q85_cur CURSOR FOR "
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey",
    )
    try:
        execute_sql(spark, "FETCH FORWARD 10 FROM q85_cur")  # page 1, discarded
        return fetch_cursor(spark, "q85_cur", 10)  # page 2
    finally:
        close_cursor(spark, "q85_cur")


@query(
    "c98_pagerank_dangling",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id AS u,
               1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT)
                   AS it
        FROM events WHERE event_type = 'click'
    ),
    edges AS (SELECT u AS src, it AS dst FROM pairs),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    dang AS (SELECT node FROM nodes
             WHERE node NOT IN (SELECT src FROM edges)),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
    s1 AS (SELECT CAST(COALESCE((SELECT SUM(r.rank) FROM r0 r
                                 JOIN dang d ON d.node = r.node), 0) * 85
                       // (100 * (SELECT n FROM nn)) AS BIGINT) AS share),
    c1 AS (
        SELECT e.dst AS node,
               SUM(CAST(FLOOR(CAST(r.rank * 85 AS DOUBLE)
                              / CAST(d.outdeg * 100 AS DOUBLE))
                        AS BIGINT)) AS received
        FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON r.node = e.src
        GROUP BY 1
    ),
    r1 AS (SELECT n.node,
                  CAST(150000 + (SELECT share FROM s1)
                       + COALESCE(c.received, 0) AS BIGINT) AS rank
           FROM nodes n LEFT JOIN c1 c ON c.node = n.node),
    s2 AS (SELECT CAST(COALESCE((SELECT SUM(r.rank) FROM r1 r
                                 JOIN dang d ON d.node = r.node), 0) * 85
                       // (100 * (SELECT n FROM nn)) AS BIGINT) AS share),
    c2 AS (
        SELECT e.dst AS node,
               SUM(CAST(FLOOR(CAST(r.rank * 85 AS DOUBLE)
                              / CAST(d.outdeg * 100 AS DOUBLE))
                        AS BIGINT)) AS received
        FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON r.node = e.src
        GROUP BY 1
    ),
    r2 AS (SELECT n.node,
                  CAST(150000 + (SELECT share FROM s2)
                       + COALESCE(c.received, 0) AS BIGINT) AS rank
           FROM nodes n LEFT JOIN c2 c ON c.node = n.node),
    s3 AS (SELECT CAST(COALESCE((SELECT SUM(r.rank) FROM r2 r
                                 JOIN dang d ON d.node = r.node), 0) * 85
                       // (100 * (SELECT n FROM nn)) AS BIGINT) AS share),
    c3 AS (
        SELECT e.dst AS node,
               SUM(CAST(FLOOR(CAST(r.rank * 85 AS DOUBLE)
                              / CAST(d.outdeg * 100 AS DOUBLE))
                        AS BIGINT)) AS received
        FROM edges e JOIN deg d ON e.src = d.src JOIN r2 r ON r.node = e.src
        GROUP BY 1
    )
    SELECT n.node,
           CAST(150000 + (SELECT share FROM s3)
                + COALESCE(c.received, 0) AS BIGINT) AS rank
    FROM nodes n LEFT JOIN c3 c ON c.node = n.node
    """,
    doc="c90's integer PageRank on the DIRECTED (un-symmetrized) "
        "user->item click graph, where every item node dangles (outdeg "
        "0): dangling='redistribute' spreads each round's dangling mass "
        "as floor(mass*85/(100*N)) to every node — the mass is ONE "
        "scalar aggregate per round (operators/graph.pagerank, r10 "
        "verdict item 9), never a per-node driver loop, and integer "
        "floor keeps the 3-round unrolled-CTE oracle bit-exact "
        "(DuckDB's BIGINT // truncation == Python's positive floor "
        "division). The 'error' and 'self' policies are pinned by "
        "pytest (tests/test_skew.py::test_pagerank_dangling_policies)",
    tags=("graph", "events"),
)
def c98_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    e = views(spark, sf_dir, "events")["events"]
    pairs = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("u"),
            (
                F.lit(1000000)
                + F.get_json_object("props", "$.k").cast("long")
            ).alias("it"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("u").alias("src"), F.col("it").alias("dst"))
    return pagerank(edges, iterations=3, damping=85, dangling="redistribute")


@query(
    "c99_dedup_keep_best",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' '
                                   || toks[i+2]) AS grams
        FROM toks
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS gram FROM grams),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM exploded a JOIN exploded b ON a.gram = b.gram
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(grams) AS ng FROM grams),
    pairs AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE sa.ng + sb.ng - n_common > 0
          AND n_common * 100 >= (sa.ng + sb.ng - n_common) * 40
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT src AS id, src AS label FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    grouped AS (
        SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS group_id
        FROM reach GROUP BY id
    ),
    ranked AS (
        SELECT g.group_id, g.doc_id, d.n_chars,
               row_number() OVER (
                   PARTITION BY g.group_id
                   ORDER BY d.n_chars DESC, g.doc_id ASC) AS rn
        FROM grouped g JOIN documents d ON d.doc_id = g.doc_id
    )
    SELECT group_id,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM ranked GROUP BY group_id
    """,
    doc="quality-aware canonical selection for duplicate clusters: "
        "real curation keeps the BEST copy of each near-dup group, not "
        "the arbitrary min-id — here 'best' = longest (n_chars) with "
        "smallest-id tiebreak, one max_by over a lexicographic struct "
        "key per group on top of c29's connected components (c04's "
        "verified n-gram-Jaccard pairs -> min-label propagation). "
        "100 TB: the only new cost over c29 is a doc-metadata join + "
        "one hash aggregate keyed by group_id — no new quadratic "
        "stage; the quality key swaps freely (Gopher score, LM "
        "quality) without touching the plan shape. Oracle replays "
        "components via recursive CTE then arg-maxes by window rank",
    bench=True,
    tags=("dedup", "graph"),
)
def c99_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicate_groups, ngram_jaccard_pairs

    d = views(spark, sf_dir, "documents")["documents"]
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold_pct=40)
    groups = duplicate_groups(pairs)
    joined = groups.join(d.select("doc_id", "n_chars"), "doc_id")
    return joined.groupBy("group_id").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
        ).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "c100_bpe_fertility",
    oracle=_bpe_ctes(n_merges=8) + """
    SELECT doc_id, n_ws_tokens, n_bpe_tokens,
           CAST(n_bpe_tokens * 1000000 // n_ws_tokens AS BIGINT)
               AS fertility_q,
           (n_bpe_tokens * 1000000 // n_ws_tokens) >= 1500000
               AS high_fertility
    FROM (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
               CAST(SUM(len(string_split(w.seq, ' '))) AS BIGINT)
                   AS n_bpe_tokens
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS word
            FROM documents
        ) t
        JOIN w8 w ON w.word = t.word
        GROUP BY t.doc_id
    )
    """,
    doc="tokenizer-fertility quality signal: subwords-per-word under "
        "the corpus's own trained BPE (c79 merges via c80's "
        "vocabulary-level application) in integer micro-units — "
        "gibberish/wrong-script text fragments into near-character "
        "pieces (high fertility) while in-distribution text compresses, "
        "the standard cheap gibberish detector run before LM scoring. "
        "fertility_q = n_bpe*1e6 DIV n_ws (Spark DIV and DuckDB // "
        "both truncate non-negative ints — the shared-bucket-arithmetic "
        "rule), flag at >= 1.5 subwords/word. 100 TB: merges train "
        "once on the word-count table; application is vocab-sized; "
        "the per-doc pass is c80's broadcast join + one aggregate",
    bench=True,
    tags=("text", "llm"),
)
def c100_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from ..operators.text import (
        bpe_token_counts,
        train_bpe_merges,
        word_count_vocab,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    # one persisted (word, cnt) vocabulary feeds BOTH BPE halves —
    # training's word-count base and application's vocab — instead of
    # two corpus-sized explode+aggregate passes (guide §2.4)
    wc = pin(word_count_vocab(d, "text"), StorageLevel.MEMORY_AND_DISK)
    merges = [
        tuple(r)
        for r in train_bpe_merges(
            d, "doc_id", "text", n_merges=8, word_counts=wc
        ).collect()
    ]
    counts = bpe_token_counts(d, "doc_id", "text", merges, word_counts=wc)
    fert = F.expr("(n_bpe_tokens * 1000000) DIV n_ws_tokens")
    return counts.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        fert.alias("fertility_q"),
        (fert >= F.lit(1_500_000)).alias("high_fertility"),
    )


@query(
    "c101_unimax_mixing",
    oracle="""
    WITH t AS (
        SELECT lang AS stratum, doc_id AS id,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    t -> t <> '')) AS BIGINT) AS weight
        FROM documents
    ),
    avail AS (
        SELECT stratum, CAST(SUM(weight) AS BIGINT) AS avail
        FROM t GROUP BY 1
    ),
    ordered AS (
        SELECT stratum, avail, CAST(avail * 2 AS BIGINT) AS a,
               CAST(row_number() OVER (
                   ORDER BY avail * 2 ASC, stratum ASC) AS BIGINT) AS idx,
               CAST(SUM(avail * 2) OVER (
                   ORDER BY avail * 2 ASC, stratum ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS p
        FROM avail
    ),
    nstat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ordered),
    kstat AS (
        SELECT CAST(COALESCE(MAX(idx), 0) AS BIGINT) AS k
        FROM ordered
        WHERE p + ((SELECT n FROM nstat) - idx) * a <= 6000
    ),
    pk AS (
        SELECT CAST(COALESCE((SELECT p FROM ordered
                              WHERE idx = (SELECT k FROM kstat)), 0)
                    AS BIGINT) AS pkv
    ),
    alloc AS (
        SELECT stratum,
               CAST(CASE WHEN (SELECT k FROM kstat) >= (SELECT n FROM nstat)
                         THEN a
                         ELSE LEAST(a, (6000 - (SELECT pkv FROM pk))
                                       // ((SELECT n FROM nstat)
                                           - (SELECT k FROM kstat)))
                    END AS BIGINT) AS alloc
        FROM ordered
    ),
    c AS (
        SELECT stratum, id, weight,
               CAST(SUM(weight) OVER (
                   PARTITION BY stratum ORDER BY weight DESC, id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_weight
        FROM t
    )
    SELECT c.stratum, c.id, c.weight, c.cum_weight, a.alloc
    FROM c JOIN alloc a ON a.stratum = c.stratum
    WHERE c.cum_weight <= a.alloc
    """,
    doc="UniMax language-balanced mixing (Chung et al. 2023, "
        "arXiv:2304.09151): split a total token budget (6000) across "
        "languages as uniformly as possible with no language repeated "
        "past epochs_cap=2 x its available tokens — the principled "
        "answer to temperature sampling's tail-language repetition. "
        "Closed-form integer waterfilling over the per-language stats "
        "(operators/sampling.unimax_budgets — the stats table is one "
        "row per language, so the solve is a metadata collect, the "
        "global_rank convention), then c47's two-level banded "
        "prefix-sum selection under the PER-STRATUM allocations "
        "(token_budget_sample_per_stratum). The oracle replays the "
        "waterfilling with window CTEs (DuckDB BIGINT // == Python "
        "positive floor) and the selection as one window per stratum",
    tags=("sampling", "text", "llm"),
)
def c101_unimax_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tokens
    from ..operators.sampling import (
        token_budget_sample_per_stratum,
        unimax_budgets,
    )

    from pyspark.storagelevel import StorageLevel

    d = views(spark, sf_dir, "documents")["documents"]
    # persisted (r16): the tokenize+size scan feeds the avail aggregate
    # (collected for the waterfilling), the band totals AND the cum join
    # — three executions unpersisted (guide §5); the cache is 3 narrow
    # columns per document.
    staged = pin(
        d.select(
            "lang", "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    stats = staged.groupBy(F.col("lang").alias("stratum")).agg(
        F.sum("n_tokens").alias("avail")
    )
    budgets = unimax_budgets(stats, budget=6000, epochs_cap=2)
    picked = token_budget_sample_per_stratum(
        staged,
        budgets.select("stratum", "alloc"),
        strata_col="lang",
        id_col="doc_id",
        weight_col="n_tokens",
    )
    return picked.join(
        F.broadcast(budgets.select("stratum", "alloc")), "stratum"
    ).select("stratum", "id", "weight", "cum_weight", "alloc")


@query(
    "c102_pmi_collocations",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks
        FROM documents
    ),
    big AS (
        SELECT p.w1, p.w2, CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM (
            SELECT unnest(list_transform(
                       range(1, greatest(len(toks) - 1, 0) + 1),
                       i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS p
            FROM t
        )
        GROUP BY 1, 2
    ),
    uni AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(toks) AS token FROM t)
        GROUP BY 1
    ),
    n1 AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1 FROM uni),
    n2 AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n2 FROM big),
    scored AS (
        SELECT b.w1, b.w2, b.n_pair,
               CAST(round(ln(
                   CAST(b.n_pair * n1.n1 * n1.n1 AS DOUBLE)
                   / CAST(n2.n2 * ua.c1 * ub.c1 AS DOUBLE)) * 1000000)
                   AS BIGINT) AS pmi_q
        FROM big b
        JOIN uni ua ON ua.token = b.w1
        JOIN uni ub ON ub.token = b.w2
        CROSS JOIN n1 CROSS JOIN n2
        WHERE b.n_pair >= 5
    )
    SELECT w1, w2, n_pair, pmi_q,
           CAST(row_number() OVER (
               ORDER BY pmi_q DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
    FROM scored
    ORDER BY pmi_q DESC, w1 ASC, w2 ASC
    LIMIT 50
    """,
    doc="top-50 adjacent-token collocations by pointwise mutual "
        "information (Church & Hanks 1990) with a min-count-5 floor — "
        "phrase discovery / tokenizer merge seeding by ASSOCIATION "
        "where c79's BPE picks by raw frequency. PMI quantizes to "
        "integer micro-units through one fixed IEEE expression "
        "(round(ln(c2*N1*N1 / (N2*c1a*c1b))*1e6), the c63 ln "
        "contract) so values and ranking replay exactly. Plan: "
        "bigram extraction is MAP-ONLY (index-zip over the token "
        "array, no per-doc window shuffle); counts are vocab-sized "
        "aggregates; unigram dims broadcast; TakeOrderedAndProject "
        "top-k (operators/text.pmi_collocations)",
    bench=True,
    tags=("text", "llm"),
)
def c102_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pmi_collocations

    d = views(spark, sf_dir, "documents")["documents"]
    return pmi_collocations(d, "doc_id", "text", min_count=5, k=50)


@query(
    "c103_audio_decode_stats",
    oracle="""
    WITH fr AS (
        SELECT d.doc_id, g.s, c.ch,
               (d.doc_id * 37 + g.s * 11 + c.ch * 5) % 65536 - 32768 AS v
        FROM documents d, range(64) g(s), range(2) c(ch)
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(2 AS BIGINT) AS n_channels,
           CAST(64 AS BIGINT) AS n_samples,
           CAST(SUM(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS sum_ch0,
           CAST(SUM(CASE WHEN ch = 1 THEN v END) AS BIGINT) AS sum_ch1,
           CAST(SUM(abs(v)) AS BIGINT) AS sum_abs
    FROM fr GROUP BY doc_id
    """,
    doc="REAL audio decode, end-to-end verified (the audio twin of "
        "c64's PPM / c81's PNG contract): synthetic stereo clips are "
        "ENCODED to genuine RIFF/WAVE PCM16 payloads whose sample "
        "(s, ch) of id i is ((i*37+s*11+ch*5) % 65536) - 32768 — full "
        "int16 range — then DECODED back by the chunk-walking RIFF "
        "parser (skips LIST/metadata chunks by declared size, refuses "
        "compressed format tags the way JPEG refuses without pillow) "
        "and reduced to exact integer per-channel sums + total "
        "absolute amplitude (the loudness/energy screen of audio "
        "curation). The oracle recomputes the sums from the closed "
        "form alone, so one mangled byte anywhere in encoder or "
        "decoder fails the hash. Decode is Arrow-batched mapInPandas "
        "inside the scan's partitions — no shuffle "
        "(operators/multimodal.py decode_wav/audio_channel_stats)",
    tags=("multimodal",),
)
def c103_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_channel_stats, synthesize_wav_audio

    d = views(spark, sf_dir, "documents")["documents"]
    return audio_channel_stats(synthesize_wav_audio(d, "doc_id", n_samples=64))


@query(
    "c104_data_quality_audit",
    oracle="""
    WITH dirt AS (
        SELECT o_orderkey,
               o_custkey + 1000000000 AS o_custkey,
               'X' AS o_orderstatus,
               -o_totalprice AS o_totalprice
        FROM orders WHERE o_orderkey % 997 = 1
    ),
    aud AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        UNION ALL SELECT * FROM dirt
    )
    SELECT 'not_null:o_totalprice' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM aud
    UNION ALL
    SELECT 'accepted_values:o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                         OR o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM aud
    UNION ALL
    SELECT 'positive:o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT (o_totalprice > 0)
                         OR o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM aud
    UNION ALL
    SELECT 'unique:o_orderkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM aud
    UNION ALL
    SELECT 'fk:o_custkey', CAST((SELECT COUNT(*) FROM aud) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM aud
    WHERE o_custkey IS NOT NULL
      AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
    doc="declarative data-quality audit (operators/maintenance."
        "data_quality_audit — the dbt-test / Great-Expectations check "
        "family the reference's Redshift users run as post-load SQL "
        "through execute_sql.py:77): NOT-NULL, accepted-values, "
        "positivity, uniqueness, and FK referential integrity over a "
        "deterministically dirtied orders set (every key%997==1 row "
        "re-unioned with bad status, negated price, and an orphan "
        "custkey — so every check fires nonzero). Plan contract: ALL "
        "row-local checks + the distinct count run in ONE aggregate "
        "over ONE scan (k checks never cost k scans, the c67 rule); "
        "the FK screen is one LEFT ANTI join against the dimension's "
        "distinct keys (broadcast-sized here). Exact integer counts",
    tags=("quality", "sql"),
)
def c104_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import data_quality_audit

    t = views(spark, sf_dir, "orders", "customer")
    o = t["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    dirt = o.filter(F.col("o_orderkey") % 997 == 1).select(
        "o_orderkey",
        (F.col("o_custkey") + 1000000000).alias("o_custkey"),
        F.lit("X").alias("o_orderstatus"),
        (-F.col("o_totalprice")).alias("o_totalprice"),
    )
    aud = o.unionByName(dirt)
    return data_quality_audit(
        aud,
        not_null=["o_totalprice"],
        unique=["o_orderkey"],
        accepted_values={"o_orderstatus": ["F", "O", "P"]},
        positive=["o_totalprice"],
        fk=[("o_custkey", t["customer"], "c_custkey")],
    )


@query(
    "q88_window_ignore_nulls",
    oracle="""
    SELECT user_id, event_id,
           CAST(round(value * 1000000) AS BIGINT) AS value_q,
           LAST_VALUE(CASE WHEN event_type = 'click'
                           THEN CAST(round(value * 1000000) AS BIGINT)
                      END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_q,
           LEAD(CASE WHEN event_type = 'click'
                     THEN CAST(round(value * 1000000) AS BIGINT)
                END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)
               AS next_click_q
    FROM events
    """,
    doc="IGNORE NULLS window variants (Redshift LAST_VALUE/LEAD ... "
        "IGNORE NULLS, passed verbatim through execute_sql.py:77): "
        "carry the last click value forward and look ahead to the "
        "next one across interleaved non-click events — the pure-SQL "
        "gap-fill idiom (c21's LOCF as a window modifier instead of "
        "an operator). Dialect note the entry pins: Spark puts the "
        "modifier AFTER the call (LAST_VALUE(x) IGNORE NULLS OVER), "
        "DuckDB/Redshift inside it (LAST_VALUE(x IGNORE NULLS) OVER) "
        "— same semantics, divergent spelling, so the two texts "
        "differ syntactically on purpose. Values in integer "
        "micro-units; ordering totalized by (ts, event_id)",
    tags=("window", "dialect", "events"),
)
def q88_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "events")
    return spark.sql("""
        SELECT user_id, event_id,
               CAST(round(value * 1000000) AS BIGINT) AS value_q,
               LAST_VALUE(CASE WHEN event_type = 'click'
                               THEN CAST(round(value * 1000000) AS BIGINT)
                          END) IGNORE NULLS OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_click_q,
               LEAD(CASE WHEN event_type = 'click'
                         THEN CAST(round(value * 1000000) AS BIGINT)
                    END) IGNORE NULLS OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_click_q
        FROM events
    """)



@query(
    "q89_dml_statement_face",
    oracle="""
    WITH delta AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 6 = 0 THEN '__DEL__' ELSE 'X' END
                   AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', 1000.5
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    d1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
    ),
    d2 AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM d1
    )
    SELECT COALESCE(d.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice
    FROM d2 t FULL JOIN delta d ON t.o_orderkey = d.o_orderkey
    WHERE NOT (t.o_orderkey IS NOT NULL AND d.o_orderkey IS NOT NULL
               AND d.o_orderstatus = '__DEL__')
    """,
    doc="raw DELETE / UPDATE / MERGE SQL through execute_sql "
        "(functions/dml_statements.py): Spark SQL refuses these verbs "
        "on v1 parquet tables, so a migrated Redshift script's DML "
        "died in the analyzer before this shim — now the standard "
        "statement shapes lower onto dml.py's copy-on-write "
        "implementations (per-table writer lock, transaction-buffer "
        "routing intact). The entry runs a conditional DELETE, an "
        "expression UPDATE, and a three-arm MERGE (DELETE-marked "
        "matches, wholesale UPDATE, INSERT — Redshift semantics: an "
        "UNMATCHED delete-marked source row still inserts) and the "
        "oracle replays all three statements as CTEs. Non-wholesale "
        "arms / DELETE USING / UPDATE FROM refuse loudly by design "
        "(pytest-pinned) rather than mis-executing. All arithmetic "
        "stays in exact binary doubles (*2, literals)",
    tags=("sql", "dml", "dialect"),
)
def q89_dml_statement_face(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tbl, delta = "bp_stmt_orders", "bp_stmt_delta"
    for t in (tbl, delta):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_orderstatus, "
        "o_totalprice FROM orders",
    )
    execute_sql(
        spark,
        f"CREATE TABLE {delta} AS "
        "SELECT o_orderkey, CASE WHEN o_orderkey % 6 = 0 THEN '__DEL__' "
        "ELSE 'X' END AS o_orderstatus, o_totalprice * 2 AS o_totalprice "
        "FROM orders WHERE o_orderkey % 3 = 0 "
        "UNION ALL SELECT o_orderkey + 10000000, 'N', 1000.5 "
        "FROM orders WHERE o_orderkey % 10 = 0",
    )
    execute_sql(
        spark,
        f"DELETE FROM {tbl} WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0",
    )
    execute_sql(
        spark,
        f"UPDATE {tbl} SET o_totalprice = o_totalprice * 2 "
        "WHERE o_orderkey % 5 = 0",
    )
    execute_sql(
        spark,
        f"MERGE INTO {tbl} USING {delta} AS d "
        f"ON {tbl}.o_orderkey = d.o_orderkey "
        "WHEN MATCHED AND d.o_orderstatus = '__DEL__' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET o_orderkey = d.o_orderkey, "
        "o_orderstatus = d.o_orderstatus, o_totalprice = d.o_totalprice "
        "WHEN NOT MATCHED THEN INSERT VALUES "
        "(d.o_orderkey, d.o_orderstatus, d.o_totalprice)",
    )
    return spark.table(tbl)


@query(
    "c105_ngram_novelty",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    grams AS (SELECT doc_id, {_DUCK_GRAMS3} AS grams FROM toks),
    exploded AS (
        SELECT doc_id, unnest(grams) AS gram FROM grams
        WHERE len(grams) > 0
    ),
    first_seen AS (
        SELECT gram, MIN(doc_id) AS first_doc FROM exploded GROUP BY gram
    ),
    per_doc AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_doc = e.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM exploded e JOIN first_seen f ON e.gram = f.gram
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           CAST(n_novel AS DOUBLE) * 100.0 / CAST(n_grams AS DOUBLE)
               AS novelty_pct
    FROM per_doc
    """,
    doc="per-document n-gram novelty (operators/text.ngram_novelty): "
        "fraction of a doc's distinct 3-grams whose FIRST corpus "
        "appearance (MIN doc_id) is this doc — the marginal-contribution "
        "curation signal (inverse of the Carlini-style memorization "
        "overlap); near-dups and boilerplate score ~0, fresh content "
        "~100. Plan contract (r16): ONE tokenize pass (persisted gram "
        "arrays), ONE gram-keyed shuffle for the first-appearance "
        "table (MIN combines map-side), then a doc-keyed regroup of "
        "that table and a doc-level left join — n_novel falls out of "
        "first_seen directly since distinct-per-doc grams make 'first "
        "seen in d' imply 'gram of d'; nothing corpus-sized joins "
        "back. Never |docs|². novelty_pct is one double division of "
        "exact integer counts (davg contract)",
    bench=True,
    tags=("text", "dedup", "curation"),
)
def c105_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import ngram_novelty

    d = views(spark, sf_dir, "documents")["documents"]
    return ngram_novelty(d, "doc_id", "text", ngram=3)


@query(
    "c106_fuzzy_blocked_match",
    oracle="""
    WITH k AS (
        SELECT p_name AS nm, MIN(p_partkey) AS rep_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               string_split(p_name, ' ')[-1] AS blk
        FROM part GROUP BY p_name
    )
    SELECT a.rep_id AS id_a, b.rep_id AS id_b,
           a.nm AS name_a, b.nm AS name_b,
           CAST(levenshtein(a.nm, b.nm) AS INT) AS distance,
           a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
    FROM k a JOIN k b ON a.blk = b.blk AND a.rep_id < b.rep_id
    WHERE levenshtein(a.nm, b.nm) <= 2
    """,
    doc="blocked fuzzy record linkage (operators/linkage."
        "blocked_fuzzy_match — the entity-resolution family; Redshift "
        "users run it as a self-join on a blocking key through "
        "execute_sql.py:77): DICTIONARY-FIRST — collapse rows to "
        "distinct names with counts (one hash agg; the dictionary is "
        "vocabulary-sized, not corpus-sized), then one self-equi-join "
        "on the blocking key (last name token) with a JVM-codegen "
        "levenshtein <= 2 verify. Σ block² on the dictionary, never "
        "|rows|²; support counts rejoin by broadcast. Recall tradeoff "
        "(cross-block matches missed) is the documented blocking "
        "contract; multi-pass blocking unions more keys",
    tags=("linkage", "dedup", "join"),
)
def c106_fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import blocked_fuzzy_match

    p = views(spark, sf_dir, "part")["part"]
    names = p.groupBy("p_name").agg(
        F.min("p_partkey").alias("rep_id"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    pairs = blocked_fuzzy_match(
        names,
        "rep_id",
        "p_name",
        F.element_at(F.split(F.col("p_name"), " "), -1),
        max_distance=2,
    )
    cnt_a = names.select(
        F.col("p_name").alias("name_a"), F.col("n_rows").alias("n_rows_a")
    )
    cnt_b = names.select(
        F.col("p_name").alias("name_b"), F.col("n_rows").alias("n_rows_b")
    )
    return (
        pairs.join(F.broadcast(cnt_a), "name_a")
        .join(F.broadcast(cnt_b), "name_b")
        .select(
            "id_a", "id_b", "name_a", "name_b", "distance",
            "n_rows_a", "n_rows_b",
        )
    )


@query(
    "c107_skyline_pareto",
    oracle="""
    WITH agg AS (
        SELECT p_size AS s, MIN(p_retailprice) AS mn
        FROM part GROUP BY p_size
    )
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM agg q
        WHERE q.mn <= p.p_retailprice AND q.s <= p.p_size
          AND (q.mn < p.p_retailprice OR q.s < p.p_size)
    )
    """,
    doc="skyline / Pareto frontier (operators/skyline.skyline_2d; "
        "Börzsönyi et al. ICDE'01 — the multi-criteria SELECT Redshift "
        "users spell as a NOT EXISTS dominance anti-join through "
        "execute_sql.py:77): parts minimizing (retailprice, size). "
        "Grid-pruned plan: one 4-scalar bounds agg, map-only 64×64 "
        "cell binning, cell-LIST staircase prune on the driver "
        "(metadata-sized, <= bins² rows), broadcast semi-join of "
        "surviving cells, exact dominance only among the staircase "
        "band's candidates (broadcast anti theta-join) — the Vlachou "
        "grid-partition scheme, never |T|² on the data. Oracle reduces "
        "the dominator side to the per-size min-price table (any "
        "dominating row implies its (size, min-price) representative "
        "also dominates), so the spec join is |T|×|sizes|",
    tags=("skyline", "olap"),
)
def c107_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline_2d

    p = views(spark, sf_dir, "part")["part"]
    return skyline_2d(p, "p_retailprice", "p_size").select(
        "p_partkey", "p_retailprice", "p_size"
    )


@query(
    "c108_ann_sq8_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings),
    comp AS (
        SELECT vec_id, unnest(generate_series(1, len(qv))) AS dim, qv
        FROM v
    ),
    comp2 AS (SELECT vec_id, dim, qv[dim] AS x FROM comp),
    bounds AS (
        SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM comp2 GROUP BY dim
    ),
    recon AS (
        SELECT c.vec_id, c.dim,
               b.lo * 255 + (CASE WHEN b.hi = b.lo THEN 0
                                  ELSE ((c.x - b.lo) * 255) // (b.hi - b.lo)
                             END) * (b.hi - b.lo) AS r
        FROM comp2 c JOIN bounds b USING (dim)
    ),
    scored AS (
        SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
               CAST(SUM(q.x * r.r) AS BIGINT) AS score_q
        FROM comp2 q
        JOIN recon r ON q.dim = r.dim AND q.vec_id <> r.vec_id
        WHERE q.vec_id < 10
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, score_q, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY score_q DESC, neighbor_id
        ) AS BIGINT) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="scalar-quantization SQ8 ANN (operators/similarity.sq8_topk — "
        "the remaining FAISS compression rung next to brute c06, LSH "
        "c07/c38, IVF c17, PQ c71, IVF-PQ c72/c74): one 8-bit code PER "
        "DIMENSION against per-dim (min, max) bounds — 4x smaller than "
        "float32, trained by ONE dim-keyed MIN/MAX aggregate (no "
        "k-means). Encoding is map-only with the bounds as literal "
        "arrays (codes scan, no join); scoring is asymmetric — exact "
        "query vs 255x-scaled integer reconstruction — entirely in "
        "BIGINT, so the approximation replays bit-for-bit in the "
        "oracle. Floor-of-double division == integer // here (proof in "
        "the operator docstring)",
    tags=("similarity", "approx"),
)
def c108_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import sq8_topk

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return sq8_topk(e, e.filter(F.col("vec_id") < 10), k=5)


@query(
    "c109_event_pattern_regex",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(event_type, ',' ORDER BY ts, event_id) AS seq,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(seq, 'view,purchase'))
                AS BIGINT) AS n_direct,
           CAST(len(regexp_extract_all(seq, 'view(,error)*,purchase'))
                AS BIGINT) AS n_tolerant
    FROM seqs
    """,
    doc="sequential pattern matching over per-user event streams (the "
        "MATCH_RECOGNIZE / funnel-with-adjacency family, distinct from "
        "c34's stage-count funnel): order each user's events by "
        "(ts, event_id), join the type sequence into one string, and "
        "count regex occurrences — exact adjacency 'view,purchase' "
        "and error-tolerant 'view(,error)*,purchase' (conversions "
        "interrupted only by errors). Plan: ONE user-keyed shuffle "
        "(sort_array over collect_list — per-user state bounded by "
        "activity history, the sessionization contract; compose with "
        "c12 session splitting to bound it harder), regex runs "
        "JVM-side per user row. Both engines scan non-overlapping "
        "greedy matches, so counts replay exactly",
    tags=("events", "pattern", "text"),
)
def c109_event_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import event_pattern_counts

    t = views(spark, sf_dir, "events")["events"]
    return event_pattern_counts(
        t,
        "user_id",
        "event_type",
        ["ts", "event_id"],
        {
            "n_direct": "view,purchase",
            "n_tolerant": "view(,error)*,purchase",
        },
    )


@query(
    "c110_setsim_prefix_join",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    toks AS (SELECT doc_id, {_DUCK_GRAMS3} AS t FROM tk),
    e AS (SELECT doc_id, unnest(t) AS token FROM toks WHERE len(t) > 0),
    sized AS (SELECT doc_id, len(t) AS L FROM toks WHERE len(t) > 0),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM e a JOIN e b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_inter,
           CAST(sa.L + sb.L - n_inter AS BIGINT) AS n_union
    FROM pairs
    JOIN sized sa ON sa.doc_id = id_a
    JOIN sized sb ON sb.doc_id = id_b
    WHERE 100 * n_inter >= 60 * (sa.L + sb.L - n_inter)
    """,
    doc="exact set-similarity self-join by PREFIX FILTERING "
        "(operators/dedup.setsim_prefix_join; PPJoin/AllPairs, Xiao "
        "WWW'08 / Bayardo WWW'07): all pairs with 3-gram-shingle "
        "Jaccard >= 0.6 (the c02/c04 set domain), computed EXACTLY — "
        "the lossless deterministic alternative to MinHash-LSH c02. "
        "Candidates come only from each doc's L-ceil(tL)+1 RAREST "
        "shingles (ascending doc-frequency order), so posting lists "
        "at the join are short by construction; verify joins the "
        "shingle ARRAYS back (array_intersect in codegen). "
        "All-integer thresholding (ceil via (60L+99) div 100; filter "
        "100·inter >= 60·union) — no floats anywhere. The ORACLE is "
        "the naive all-shared-shingle spec, so the hash match PROVES "
        "the prefix filter lossless on this corpus",
    bench=True,
    tags=("dedup", "join"),
)
def c110_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import setsim_prefix_join

    d = views(spark, sf_dir, "documents")["documents"]
    return setsim_prefix_join(d, "doc_id", "text", threshold_pct=60, ngram=3)


@query(
    "c111_triangle_count",
    oracle="""
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT DISTINCT a.p AS lo, b.p AS hi
        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
    JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
    """,
    doc="global triangle count by degree orientation (operators/graph."
        "triangle_count; Suri-Vassilvitskii WWW'11) over the "
        "co-purchase graph — parts sharing an order in lineitem. "
        "Orientation from the lower-(degree, id) endpoint bounds the "
        "wedge self-join by O(m^1.5) total instead of Σ deg² (a hub "
        "keeps ~no out-edges as a wedge center), then one semi-join "
        "closes wedges against the canonical edge set — three "
        "equi-joins, nothing driver-side. The ORACLE is the naive "
        "ordered-triple spec (e1=(a,b), e2=(a,c), e3=(b,c)), so the "
        "match proves the orientation counts each triangle exactly "
        "once",
    tags=("graph",),
)
def c111_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from ..operators.graph import triangle_count

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    # lp sits on BOTH sides of the edge-building self-join; without a
    # persist each side re-runs the lineitem scan + distinct shuffle
    # (the static plan shows the subtree twice and ReuseExchange does
    # not fire across the aliased sides).
    lp = pin(
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    edges = (
        lp.alias("a")
        .join(lp.alias("b"), "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    )
    return triangle_count(edges)


@query(
    "c112_naive_bayes_langid",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, lang, unnest(toks) AS token FROM t),
    ct AS (
        SELECT lang AS cls, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY 1, 2
    ),
    tot AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS tot FROM ct GROUP BY 1),
    vocab AS (SELECT DISTINCT token FROM tok),
    vd AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    pri AS (
        SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    nd AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM pri),
    priq AS (
        SELECT cls,
               CAST(round(ln(CAST(n_docs AS DOUBLE)
                             / CAST(n_total AS DOUBLE)) * 1000000)
                   AS BIGINT) AS prior_q
        FROM pri CROSS JOIN nd
    ),
    grid AS (
        SELECT tt.cls, vb.token,
               CAST(round(ln(CAST(COALESCE(ct.cnt, 0) + 1 AS DOUBLE)
                             / CAST(tt.tot + vd.v AS DOUBLE)) * 1000000)
                   AS BIGINT) AS lp_q
        FROM tot tt
        CROSS JOIN vocab vb
        CROSS JOIN vd
        LEFT JOIN ct ON ct.cls = tt.cls AND ct.token = vb.token
    ),
    sc AS (
        SELECT tk.doc_id, tk.lang AS label, g.cls,
               CAST(SUM(g.lp_q) AS BIGINT) AS tok_q
        FROM tok tk JOIN grid g ON g.token = tk.token
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT s.doc_id, s.label, s.cls,
               s.tok_q + p.prior_q AS score_q
        FROM sc s JOIN priq p ON p.cls = s.cls
    )
    SELECT doc_id, label, cls AS pred_label, score_q
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id
              ORDER BY score_q DESC, cls ASC) AS rn
          FROM scored)
    WHERE rn = 1
    """,
    doc="multinomial Naive Bayes trained and applied in ONE plan "
        "(operators/ml.naive_bayes_classify): learn per-lang token "
        "log-probabilities with add-one smoothing from the labeled "
        "corpus, score every document under every lang, keep the "
        "argmax — the fastText/CCNet-style cheap classifier pass of a "
        "curation pipeline. Every model term quantizes to integer "
        "micro-units through the fixed c58/c63 ln expression, so "
        "per-doc sums are order-independent and the argmax replays "
        "exactly (ties break to the lexically smallest lang via ONE "
        "min-of-(-score, cls)-struct aggregate — no corpus window). "
        "100 TB: the model grid is |langs|xV — VOCABULARY-sized — "
        "built from two hash aggregates, then broadcast onto the "
        "exploded token stream; scoring is two more hash aggregates. "
        "The corpus is read once and never joins itself",
    bench=True,
    tags=("ml", "text", "llm"),
)
def c112_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import naive_bayes_classify

    d = views(spark, sf_dir, "documents")["documents"]
    return naive_bayes_classify(d, "doc_id", "text", "lang")


@query(
    "c113_bottomk_hash_sample",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang, source, n_chars,
               md5(CAST(doc_id AS VARCHAR) || ':v1') AS sample_hash
        FROM documents
    ),
    top AS (SELECT * FROM h ORDER BY sample_hash ASC, doc_id ASC LIMIT 60)
    SELECT doc_id, lang, source, n_chars, sample_hash,
           CAST(row_number() OVER (ORDER BY sample_hash ASC, doc_id ASC)
               AS BIGINT) AS sample_rank
    FROM top
    """,
    doc="bottom-k / KMV consistent sample of 60 documents "
        "(operators/sampling.bottomk_hash_sample): keep the k rows "
        "with the smallest salted md5 of the key — EXACT sample size "
        "(vs Bernoulli's binomial jitter), COORDINATED across corpus "
        "versions (growing the corpus only evicts the largest-hash "
        "members, so samples stay member-comparable across snapshots "
        "— Bar-Yossef et al. 2002 KMV; the k-th hash doubles as a "
        "distinct-count estimator). Plan: orderBy(hash).limit(k) "
        "lowers to TakeOrderedAndProject — each partition ships only "
        "its own k smallest, NO global range sort of the data; the "
        "rank window then runs on k rows",
    tags=("sampling", "llm"),
)
def c113_bottomk_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import bottomk_hash_sample

    d = views(spark, sf_dir, "documents")["documents"]
    return bottomk_hash_sample(
        d.select("doc_id", "lang", "source", "n_chars"), "doc_id", k=60
    )


@query(
    "c114_rrf_hybrid_search",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM ex WHERE token IN ('join', 'spark', 'stream')
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS docfreq FROM tf GROUP BY 1),
    units AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln(1.0 + (stats.n_docs - dfreq.docfreq + 0.5) / (dfreq.docfreq + 0.5))
                   * (CAST(tf.tf AS DOUBLE) * 2.2)
                   / (CAST(tf.tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl)))
                   * 1000000) AS BIGINT) AS u
        FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    bm AS (
        SELECT doc_id, CAST(SUM(u) AS DOUBLE) / 1000000 AS score
        FROM units GROUP BY doc_id
    ),
    lex AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id, CAST(row_number() OVER (
                ORDER BY score DESC, doc_id) AS BIGINT) AS rank
            FROM bm
        ) WHERE rank <= 20
    ),
    v AS (SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    cos AS (
        SELECT c.vec_id AS doc_id,
               CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')} AS DOUBLE)
                 / (sqrt(CAST(q.norm AS DOUBLE)) * sqrt(CAST(c.norm AS DOUBLE)))
                   AS cosine
        FROM n q CROSS JOIN n c
        WHERE q.vec_id = 0 AND c.vec_id <> 0
    ),
    sem AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id, CAST(row_number() OVER (
                ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank
            FROM cos
        ) WHERE rank <= 20
    ),
    uni AS (
        SELECT doc_id, CAST(1000000 // (60 + rank) AS BIGINT) AS c FROM lex
        UNION ALL
        SELECT doc_id, CAST(1000000 // (60 + rank) AS BIGINT) FROM sem
    ),
    agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_systems,
               CAST(SUM(c) AS BIGINT) AS rrf_q
        FROM uni GROUP BY 1
    )
    SELECT doc_id, n_systems, rrf_q,
           CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS BIGINT)
               AS fused_rank
    FROM agg ORDER BY rrf_q DESC, doc_id LIMIT 10
    """,
    doc="hybrid search by reciprocal-rank fusion (Cormack et al. SIGIR "
        "2009; operators/text.rrf_fuse): fuse c58's BM25 lexical "
        "top-20 for {{join, spark, stream}} with c06's exact-cosine "
        "top-20 for query vector 0 — the canonical RAG retrieval "
        "merge, score-free so BM25 units and cosine never need "
        "calibrating; only ranks enter. Contributions are integer "
        "micro-units (1e6 DIV (60+rank)) so the fused order replays "
        "exactly. Plan: both inputs are the upstream operators' own "
        "top-N outputs (k-sized), so fusion's union + hash aggregate "
        "+ window run at METADATA scale; the corpus-scale work stays "
        "in BM25 (postings-sized shuffle) and cosine (broadcast query "
        "block) where it is already plan-audited",
    bench=True,
    tags=("search", "similarity", "llm"),
)
def c114_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk
    from ..operators.text import bm25_topk, rrf_fuse

    t = views(spark, sf_dir, "documents", "embeddings")
    lex = (
        bm25_topk(
            t["documents"], "doc_id", "text",
            ["join", "spark", "stream"], k=20,
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .cast("long"),
        )
        .select("doc_id", "rank")
    )
    sem = brute_force_topk(
        t["embeddings"], t["embeddings"].filter(F.col("vec_id") == 0), k=20
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], k=10)


@query(
    "c115_loo_target_encoding",
    oracle="""
    WITH r AS (
        SELECT o_custkey AS key,
               CAST(round(CAST(o_totalprice AS DOUBLE) * 1000000)
                   AS BIGINT) AS target_q
        FROM orders
    ),
    s AS (
        SELECT key, CAST(SUM(target_q) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM r GROUP BY 1
    )
    SELECT r.key, r.target_q,
           CASE WHEN s.n > 1
                THEN CAST(s.s - r.target_q AS DOUBLE) / (s.n - 1)
           END AS enc_micro
    FROM r JOIN s USING (key)
    """,
    doc="leave-one-out target encoding of o_custkey against "
        "o_totalprice (operators/ml.loo_target_encoding): each order's "
        "customer becomes the mean price of the customer's OTHER "
        "orders — the leakage-resistant encoding for high-cardinality "
        "categoricals (a plain per-key mean leaks the row's own "
        "target). Targets quantize once to integer micro-units, the "
        "per-key (sum, count) is ONE hash aggregate, the encoding is "
        "an exact integer subtraction + one double division; "
        "singleton keys encode NULL (no peer evidence) by contract. "
        "100 TB: the stats table is key-cardinality-sized and "
        "broadcasts back onto the row stream — the data-sized side "
        "never shuffles",
    tags=("ml", "feature"),
)
def c115_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import loo_target_encoding

    o = views(spark, sf_dir, "orders")["orders"]
    return loo_target_encoding(o, "o_custkey", "o_totalprice")


@query(
    "c116_ab_ztest",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS variant,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x
        FROM events GROUP BY 1
    )
    SELECT a.variant AS variant_a, b.variant AS variant_b,
           a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b,
           ROUND(
               (CAST(a.x AS DOUBLE) / a.n - CAST(b.x AS DOUBLE) / b.n)
               / sqrt(
                   (CAST(a.x + b.x AS DOUBLE) / (a.n + b.n))
                   * (1.0 - CAST(a.x + b.x AS DOUBLE) / (a.n + b.n))
                   * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))
               ), 6) AS z
    FROM s a JOIN s b ON a.variant < b.variant
    """,
    doc="two-proportion z-test A/B readout (operators/ml."
        "two_proportion_ztest): variants = user_id parity, success = "
        "purchase events; per-variant (trials, successes) reduce to "
        "ONE hash aggregate over the event stream (variant-cardinality "
        "rows out), then every ordered variant pair gets the "
        "pooled-variance z statistic from those exact BIGINTs through "
        "one fixed double expression ROUNDed to 6 dp (the catalog's "
        "transcendental contract; sqrt is correctly-rounded IEEE). "
        "100 TB: the data is read exactly once; the pair join runs on "
        "the metadata-sized stats table",
    tags=("ml", "events"),
)
def c116_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import two_proportion_ztest

    e = views(spark, sf_dir, "events")["events"]
    tagged = e.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("variant"),
        (F.col("event_type") == "purchase").cast("int").alias("converted"),
    )
    return two_proportion_ztest(tagged, "variant", "converted")


@query(
    "c117_ewma_spikes",
    oracle="""
    WITH RECURSIVE r AS (
        SELECT user_id,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS BIGINT) AS rn,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS x
        FROM events
    ),
    cnt AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1
    ),
    step AS (
        SELECT user_id, rn, x AS s, CAST(0 AS BIGINT) AS spikes
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.user_id, r.rn,
               CAST((3 * step.s + r.x) // 4 AS BIGINT),
               step.spikes
                   + CASE WHEN r.x > 2 * step.s THEN 1 ELSE 0 END
        FROM step JOIN r
          ON r.user_id = step.user_id AND r.rn = step.rn + 1
    )
    SELECT c.user_id, c.n_events, s.s AS ewma_q,
           CAST(s.spikes AS BIGINT) AS n_spikes
    FROM cnt c
    JOIN step s ON s.user_id = c.user_id AND s.rn = c.n_events
    """,
    doc="per-user EWMA (alpha=1/4) with spike detection over the "
        "ordered event-value series (operators/timeseries.ewma_fold) — "
        "a LINEAR RECURRENCE s_t = (3*s_{t-1} + x_t) div 4 that window "
        "functions cannot express, computed as ONE JVM-side "
        "array_sort + aggregate() fold per user: no Python UDF, no "
        "driver loop, no iterative job. All-integer state (values "
        "quantized to cents; exact (tot - tot%4)/4 floor division) so "
        "the fold replays bit-exactly — the ORACLE is a recursive CTE "
        "walking the same recurrence row by row, so one wrong fold "
        "step anywhere fails the hash. Spikes: x_t > 2*s_{t-1}. "
        "100 TB: one user-keyed exchange (the groupBy), fold is "
        "map-side codegen; memory bounds by the largest single user's "
        "history, the bound every sessionization already carries",
    bench=True,
    tags=("timeseries", "events"),
)
def c117_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ewma_fold

    e = views(spark, sf_dir, "events")["events"]
    return ewma_fold(e, "user_id", "ts", "event_id", "value")


@query(
    "c118_markov_transitions",
    oracle="""
    WITH p AS (
        SELECT event_type AS prev_state,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_state
        FROM events
    ),
    c AS (
        SELECT prev_state, next_state, CAST(COUNT(*) AS BIGINT) AS n
        FROM p WHERE next_state IS NOT NULL
        GROUP BY 1, 2
    ),
    t AS (SELECT prev_state, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
    SELECT c.prev_state, c.next_state, c.n,
           CAST(c.n * 1000000 // t.tot AS BIGINT) AS p_micro
    FROM c JOIN t USING (prev_state)
    """,
    doc="first-order Markov transition model over per-user event-type "
        "sequences (operators/sessions.transition_model): count every "
        "consecutive state pair, report MLE probabilities in integer "
        "micro-units (n*1e6 DIV total — exact integer division, no "
        "floats anywhere) — the what-happens-after-an-error "
        "behavioral readout and the generative twin of c109's pattern "
        "matcher. 100 TB: one user-keyed exchange for the lead() "
        "window, then a |states|^2-sized hash aggregate with map-side "
        "partials; the totals dim broadcasts",
    tags=("events", "sessionization"),
)
def c118_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import transition_model

    e = views(spark, sf_dir, "events")["events"]
    return transition_model(e, "user_id", "ts", "event_id", "event_type")


@query(
    "c119_containment_join",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    toks AS (SELECT doc_id, {_DUCK_GRAMS3} AS t FROM tk),
    e AS (SELECT doc_id, unnest(t) AS token FROM toks WHERE len(t) > 0),
    sized AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS L
        FROM toks WHERE len(t) > 0
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM e a JOIN e b ON a.token = b.token AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_inter, sa.L AS n_a
    FROM pairs JOIN sized sa ON sa.doc_id = id_a
    WHERE 100 * n_inter >= 80 * sa.L
    """,
    doc="exact DIRECTED containment self-join (operators/dedup."
        "containment_prefix_join): ordered pairs where >= 80% of "
        "id_a's distinct 3-gram shingles appear in id_b — the "
        "quote/boilerplate/subset detector symmetric Jaccard (c110) "
        "cannot see (a short doc quoted inside a long one has high "
        "containment, low Jaccard). Candidates come only from id_a's "
        "L-ceil(tL)+1 RAREST shingles probed against FULL postings "
        "(containment is one-sided); all-integer thresholds "
        "(ceil via (80L+99) div 100; verify 100·inter >= 80·|A|). "
        "The ORACLE is the naive any-shared-shingle spec, so the hash "
        "match proves the one-sided prefix filter lossless on this "
        "corpus",
    bench=True,
    tags=("dedup", "join", "llm"),
)
def c119_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_prefix_join

    d = views(spark, sf_dir, "documents")["documents"]
    return containment_prefix_join(
        d, "doc_id", "text", threshold_pct=80, ngram=3
    )


@query(
    "c120_groupwise_ols",
    oracle="""
    WITH d AS (
        SELECT event_type AS key,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) AS x,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS y
        FROM events
    ),
    a AS (
        SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM d GROUP BY 1
    )
    SELECT key, n,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           END AS slope,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN ROUND(CAST(sy AS DOUBLE) / n
                           - (CAST(n * sxy - sx * sy AS DOUBLE)
                              / CAST(n * sxx - sx * sx AS DOUBLE))
                             * (CAST(sx AS DOUBLE) / n), 6)
           END AS intercept
    FROM a
    """,
    doc="per-event-type OLS trend (operators/ml.groupwise_ols): "
        "regress value-in-cents on days-since-2024-01-01 in CLOSED "
        "FORM — five exact BIGINT sufficient statistics from ONE hash "
        "aggregate (map-side partials), slope/intercept as fixed IEEE "
        "double expressions over them, ROUND 6 dp; degenerate-x "
        "groups emit NULL. The is-this-metric-drifting readout with "
        "no iterative solver. 100 TB: one pass, one exchange, "
        "group-cardinality rows out; integer quantization (days, "
        "cents) keeps every sum under 2^63 at trillion-row scale",
    tags=("ml", "events", "timeseries"),
)
def c120_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import groupwise_ols

    e = views(spark, sf_dir, "events")["events"]
    d = e.select(
        F.col("event_type"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("value").cast("double") * 100).cast("long").alias("y"),
    )
    return groupwise_ols(d, "event_type", "x", "y")


@query(
    "c121_embedding_corr_matrix",
    oracle="""
    WITH x AS (
        SELECT vec_id, i.i AS i,
               CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS x
        FROM embeddings, range(1, 9) i(i)
    ),
    p AS (
        SELECT a.i AS i, b.i AS j, a.x AS xi, b.x AS xj
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
    ),
    a AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xi) AS BIGINT) AS sx,
               CAST(SUM(xj) AS BIGINT) AS sy,
               CAST(SUM(xi * xj) AS BIGINT) AS sxy,
               CAST(SUM(xi * xi) AS BIGINT) AS sxx,
               CAST(SUM(xj * xj) AS BIGINT) AS syy
        FROM p GROUP BY 1, 2
    )
    SELECT i, j, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS corr
    FROM a
    """,
    doc="Pearson correlation matrix of the leading 8 embedding "
        "dimensions (operators/ml.pairwise_correlation) — the "
        "embedding-health audit (correlated dims = wasted capacity / "
        "collapsed encoder). NO self-join: each vector map-side "
        "expands to its 36 upper-triangle pairs (index-zip over the "
        "quantized array), then ONE hash aggregate per cell "
        "accumulates five exact BIGINT sufficient statistics; corr is "
        "a fixed IEEE expression over them, ROUND 6 dp. 100 TB: the "
        "dims^2/2 blowup collapses to dims^2/2 groups per partition "
        "via map-side partials — the single exchange carries "
        "O(partitions x dims^2) rows regardless of corpus size",
    bench=True,
    tags=("ml", "similarity"),
)
def c121_embedding_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import pairwise_correlation

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return pairwise_correlation(e, "embedding", dims=8)


@query(
    "c122_bfs_hops",
    oracle="""
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT DISTINCT a.p AS s, b.p AS d
        FROM lp a JOIN lp b ON a.o = b.o AND a.p <> b.p
    ),
    src AS (SELECT MIN(l_partkey) AS s FROM lineitem),
    d0 AS (SELECT s AS node FROM src),
    d1 AS (
        SELECT DISTINCT e.d AS node FROM e JOIN d0 ON e.s = d0.node
        WHERE e.d NOT IN (SELECT node FROM d0)
    ),
    d2 AS (
        SELECT DISTINCT e.d AS node FROM e JOIN d1 ON e.s = d1.node
        WHERE e.d NOT IN (SELECT node FROM d0 UNION ALL
                          SELECT node FROM d1)
    ),
    d3 AS (
        SELECT DISTINCT e.d AS node FROM e JOIN d2 ON e.s = d2.node
        WHERE e.d NOT IN (SELECT node FROM d0 UNION ALL
                          SELECT node FROM d1 UNION ALL
                          SELECT node FROM d2)
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops FROM d0
    UNION ALL
    SELECT CAST(node AS BIGINT), CAST(1 AS BIGINT) FROM d1
    UNION ALL
    SELECT CAST(node AS BIGINT), CAST(2 AS BIGINT) FROM d2
    UNION ALL
    SELECT CAST(node AS BIGINT), CAST(3 AS BIGINT) FROM d3
    """,
    doc="bounded BFS (operators/graph.bfs_hops): minimum hop distance "
        "<= 3 from the smallest part key over the DIRECTED "
        "(symmetrically constructed) co-purchase graph of c111 — the "
        "k-hop neighborhood / related-items primitive. Frontier "
        "iteration: each round is frontier-x-edges equi-join "
        "(broadcast while the frontier is small) + distinct + "
        "anti-join vs visited, with per-round persist hygiene (c90's "
        "discipline: new state materialized before old caches "
        "release, round caches dropped at exit). Fixed 3-round "
        "unroll = the chained-CTE oracle replays it exactly. The one "
        "driver-side value is the SOURCE scalar (a 1-row min "
        "aggregate — metadata, not data)",
    bench=True,
    tags=("graph",),
)
def c122_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_hops

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    lp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = (
        lp.alias("a")
        .join(lp.alias("b"), "o")
        .filter(F.col("a.p") != F.col("b.p"))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    )
    source = li.agg(F.min("l_partkey")).collect()[0][0]
    return bfs_hops(edges, int(source), max_hops=3)


@query(
    "c123_greedy_coverage_select",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    toks AS (SELECT doc_id, {_DUCK_GRAMS3} AS t FROM tk),
    e AS (SELECT doc_id, unnest(t) AS token FROM toks WHERE len(t) > 0),
    m1 AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
        FROM e GROUP BY 1
    ),
    s1 AS (SELECT doc_id, gain FROM m1 ORDER BY gain DESC, doc_id LIMIT 1),
    cov1 AS (SELECT DISTINCT e.token FROM e JOIN s1 USING (doc_id)),
    m2 AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
        FROM e
        WHERE token NOT IN (SELECT token FROM cov1)
          AND doc_id NOT IN (SELECT doc_id FROM s1)
        GROUP BY 1
    ),
    s2 AS (SELECT doc_id, gain FROM m2 ORDER BY gain DESC, doc_id LIMIT 1),
    cov2 AS (
        SELECT token FROM cov1
        UNION
        SELECT DISTINCT e.token FROM e JOIN s2 USING (doc_id)
    ),
    m3 AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
        FROM e
        WHERE token NOT IN (SELECT token FROM cov2)
          AND doc_id NOT IN (SELECT doc_id FROM s1
                             UNION ALL SELECT doc_id FROM s2)
        GROUP BY 1
    ),
    s3 AS (SELECT doc_id, gain FROM m3 ORDER BY gain DESC, doc_id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS round, doc_id, gain FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT), doc_id, gain FROM s2
    UNION ALL
    SELECT CAST(3 AS BIGINT), doc_id, gain FROM s3
    """,
    doc="greedy maximum-coverage exemplar selection, k=3 "
        "(operators/text.greedy_coverage_select): each round picks "
        "the document adding the most NOT-YET-COVERED distinct "
        "3-gram shingles — the (1-1/e)-optimal submodular greedy "
        "(coreset / representative-subset selection), deterministic "
        "via exact integer gains + smallest-id tiebreak. Per round: "
        "one broadcast anti-join vs the covered set, one doc-keyed "
        "aggregate, one TakeOrdered top-1; the only driver value is "
        "the argmax scalar (the c122/c90 iterative contract). The "
        "ORACLE unrolls the same 3 rounds as chained CTEs — one "
        "wrong marginal anywhere flips a pick and fails the hash",
    bench=True,
    tags=("text", "llm", "sampling"),
)
def c123_greedy_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import greedy_coverage_select

    d = views(spark, sf_dir, "documents")["documents"]
    return greedy_coverage_select(d, "doc_id", "text", k=3, ngram=3)


@query(
    "c124_itemitem_cf",
    oracle="""
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    ni AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM lp GROUP BY 1),
    p AS (
        SELECT a.i AS item_a, b.i AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM lp a JOIN lp b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    s AS (
        SELECT item_a, item_b, n_ab,
               ROUND(CAST(n_ab AS DOUBLE)
                     / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)),
                     6) AS cosine
        FROM p
        JOIN ni na ON na.i = item_a
        JOIN ni nb ON nb.i = item_b
    ),
    top AS (
        SELECT * FROM s ORDER BY cosine DESC, item_a, item_b LIMIT 20
    )
    SELECT item_a, item_b, n_ab, cosine,
           CAST(row_number() OVER (
               ORDER BY cosine DESC, item_a, item_b) AS BIGINT) AS rank
    FROM top
    """,
    doc="item-item collaborative filtering "
        "(operators/similarity.cooccurrence_topk; Sarwar WWW'01): "
        "top-20 part pairs by co-purchase cosine "
        "n(a,b)/sqrt(n(a)·n(b)) with min-support 2 — the "
        "customers-who-bought-X recommender over the same basket "
        "relation c111 counts triangles on. Exact BIGINT counts; "
        "cosine is one fixed IEEE expression ROUND 6. 100 TB: pair "
        "generation is the basket-keyed self-join bounded by Σ "
        "basket-width² (never |items|²); item marginals broadcast; "
        "top-k is TakeOrderedAndProject",
    bench=True,
    tags=("similarity", "join"),
)
def c124_itemitem_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cooccurrence_topk

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    return cooccurrence_topk(
        li, "l_orderkey", "l_partkey", k=20, min_support=2
    )


@query(
    "c125_psi_drift",
    oracle="""
    WITH d AS (
        SELECT CAST(least(CAST(floor(CAST(value AS DOUBLE) / 50)
                               AS BIGINT), 11) AS BIGINT) AS bucket,
               (ts < TIMESTAMP '2024-01-15') AS is_ref
        FROM events
    ),
    c AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ref,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_cur
        FROM d GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
               CAST(SUM(n_cur) AS BIGINT) AS tc,
               CAST(COUNT(*) AS BIGINT) AS nb
        FROM c
    ),
    per AS (
        SELECT bucket, n_ref, n_cur,
               CAST(round(
                   (CAST(n_ref + 1 AS DOUBLE) / CAST(tr + nb AS DOUBLE)
                    - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + nb AS DOUBLE))
                   * ln((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + nb AS DOUBLE))
                        / (CAST(n_cur + 1 AS DOUBLE)
                           / CAST(tc + nb AS DOUBLE)))
                   * 1000000000) AS BIGINT) AS contrib_q
        FROM c CROSS JOIN t
    )
    SELECT bucket, n_ref, n_cur, contrib_q,
           (SELECT CAST(SUM(contrib_q) AS BIGINT) FROM per) AS psi_q
    FROM per
    """,
    doc="Population Stability Index drift monitor (operators/ml."
        "psi_drift): event values bucketed into fixed 50-unit bands "
        "(capped at 12 buckets), reference slice = first half of "
        "January vs current = rest; per-bucket (p_ref - p_cur)·"
        "ln(p_ref/p_cur) with add-one smoothing over the joint bucket "
        "list, quantized to NANO-units through one fixed IEEE "
        "expression so the cross-bucket PSI total is an exact integer "
        "sum — the model-monitoring alarm (0.1 watch / 0.25 act). "
        "100 TB: one hash aggregate over the stream; everything after "
        "runs on the metadata-sized bucket table",
    tags=("ml", "events", "quality"),
)
def c125_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import psi_drift

    e = views(spark, sf_dir, "events")["events"]
    d = e.select(
        F.least(
            F.floor(F.col("value").cast("double") / 50).cast("long"),
            F.lit(11).cast("long"),
        ).alias("bucket"),
        (F.col("ts") < F.lit("2024-01-15").cast("timestamp")).alias("is_ref"),
    )
    return psi_drift(d, "is_ref", "bucket")


@query(
    "c126_hits_hubs_authorities",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id AS u,
               1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT)
                   AS it
        FROM events WHERE event_type = 'click'
    ),
    e AS (SELECT u AS src, it AS dst FROM pairs),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    a1 AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS s
           FROM e GROUP BY 1),
    a1f AS (SELECT n.node, CAST(COALESCE(a1.s, 0) AS BIGINT) AS s
            FROM nodes n LEFT JOIN a1 ON a1.node = n.node),
    h1 AS (SELECT e.src AS node, CAST(SUM(a.s) AS BIGINT) AS s
           FROM e JOIN a1f a ON a.node = e.dst GROUP BY 1),
    h1f AS (SELECT n.node, CAST(COALESCE(h1.s, 0) AS BIGINT) AS s
            FROM nodes n LEFT JOIN h1 ON h1.node = n.node),
    a2 AS (SELECT e.dst AS node, CAST(SUM(h.s) AS BIGINT) AS s
           FROM e JOIN h1f h ON h.node = e.src GROUP BY 1),
    a2f AS (SELECT n.node, CAST(COALESCE(a2.s, 0) AS BIGINT) AS s
            FROM nodes n LEFT JOIN a2 ON a2.node = n.node),
    h2 AS (SELECT e.src AS node, CAST(SUM(a.s) AS BIGINT) AS s
           FROM e JOIN a2f a ON a.node = e.dst GROUP BY 1),
    h2f AS (SELECT n.node, CAST(COALESCE(h2.s, 0) AS BIGINT) AS s
            FROM nodes n LEFT JOIN h2 ON h2.node = n.node)
    SELECT n.node, h2f.s AS hub_q, a2f.s AS auth_q
    FROM nodes n
    JOIN h2f ON h2f.node = n.node
    JOIN a2f ON a2f.node = n.node
    """,
    doc="HITS hubs & authorities (operators/graph.hits; Kleinberg "
        "1999), 2 iterations over the directed user->item click graph "
        "(c90/c98's graph): users score as POINTERS (hubs), items as "
        "TARGETS (authorities) — the complement of PageRank's single "
        "endorsement score, and the natural bipartite reading. "
        "ALL-INTEGER: h0=1, each half-round is exact BIGINT sums "
        "(unnormalized — for a fixed iteration count the ranking "
        "equals classic HITS, normalization being a positive scalar "
        "per round), so the 4-half-round unrolled-CTE oracle replays "
        "bit-exactly. Same shuffle-per-round + persist-hygiene "
        "discipline as pagerank (caches rotated, released at exit)",
    bench=True,
    tags=("graph", "events"),
)
def c126_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hits

    e = views(spark, sf_dir, "events")["events"]
    pairs = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("src"),
            (
                F.lit(1000000)
                + F.get_json_object("props", "$.k").cast("long")
            ).alias("dst"),
        )
        .distinct()
    )
    return hits(pairs, iterations=2)


@query(
    "c127_churn_labels",
    oracle="""
    SELECT user_id AS key,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-24'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-24'
                          AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
           CAST(COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-24'
                                    THEN CAST(ts AS DATE) END)
               AS BIGINT) AS days_active,
           (SUM(CASE WHEN ts >= TIMESTAMP '2024-01-24'
                     THEN 1 ELSE 0 END) = 0) AS churned
    FROM events
    GROUP BY 1
    HAVING SUM(CASE WHEN ts < TIMESTAMP '2024-01-24'
                    THEN 1 ELSE 0 END) > 0
    """,
    doc="point-in-time-correct churn label generation (operators/ml."
        "churn_labels): features (event count, purchase count, "
        "distinct active days) STRICTLY before the 2024-01-24 cutoff, "
        "label = zero events at/after it — the leakage boundary every "
        "supervised pipeline on event data must enforce, computed as "
        "ONE conditional aggregate over ONE scan (the time split is "
        "per-row CASE, never a self-join of slices); entities first "
        "seen after the cutoff are excluded. 100 TB: one hash "
        "aggregate, key-cardinality rows out",
    tags=("ml", "events"),
)
def c127_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import churn_labels

    e = views(spark, sf_dir, "events")["events"]
    return churn_labels(
        e, "user_id", "ts", "event_type", cutoff="2024-01-24"
    )


@query(
    "c128_percentile_scaling",
    oracle="""
    WITH r AS (
        SELECT event_id,
               CAST(row_number() OVER (ORDER BY value, event_id)
                   AS BIGINT) AS rank
        FROM events
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events)
    SELECT event_id, rank,
           CAST((rank - 1) * 1000000 // (n.n - 1) AS BIGINT) AS pct_micro
    FROM r CROSS JOIN n
    """,
    doc="global percentile-rank feature scaling (rank-based "
        "normalization, the quantile-transform preprocessing step): "
        "every event's value mapped to its exact corpus percentile in "
        "integer micro-units, (rank-1)*1e6 DIV (N-1). The global rank "
        "comes from operators/sampling.global_rank — range-partition "
        "+ within-partition sort + BROADCAST-JOINED per-partition "
        "offsets (never the single-partition ORDER BY window, never a "
        "P-branch CASE: the r10-verdict scale fix) — so the plan "
        "holds at the 1e4-1e5 partition counts a 100 TB sort implies; "
        "ties broken by event_id make the order total and the rank "
        "unique",
    tags=("ml", "feature", "events"),
)
def c128_percentile_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import global_rank

    e = views(spark, sf_dir, "events")["events"]
    ranked = global_rank(
        e.select("event_id", "value"),
        [F.col("value"), F.col("event_id")],
    )
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "event_id",
            "rank",
            F.expr(
                "CAST((rank - 1) * 1000000 DIV (n - 1) AS BIGINT)"
            ).alias("pct_micro"),
        )
    )


@query(
    "c129_negative_sampling",
    oracle="""
    WITH pos AS (
        SELECT DISTINCT user_id AS "user",
               1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT)
                   AS pos_item
        FROM events WHERE event_type = 'click'
    ),
    items AS (SELECT DISTINCT pos_item AS item FROM pos),
    dic AS (
        SELECT item,
               CAST(row_number() OVER (ORDER BY item) AS BIGINT) AS rk
        FROM items
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM dic),
    cands AS (
        SELECT p."user", p.pos_item, CAST(s.s AS BIGINT) AS slot,
               ("user" * 2654435761 + pos_item * 97 + s.s * 40503)
                   % n.n_items + 1 AS rk
        FROM pos p CROSS JOIN n CROSS JOIN range(1, 3) s(s)
    )
    SELECT c."user", c.pos_item, c.slot, d.item AS neg_item
    FROM cands c
    JOIN dic d ON d.rk = c.rk
    WHERE NOT EXISTS (
        SELECT 1 FROM pos p
        WHERE p."user" = c."user" AND p.pos_item = d.item
    )
    """,
    doc="deterministic negative sampling for implicit-feedback "
        "training (operators/sampling.negative_sampling): 2 proposed "
        "negatives per (user, clicked-item) positive via a "
        "pure-arithmetic mix ((u·2654435761 + i·97 + slot·40503) mod "
        "N, Knuth multiplicative hashing — no RNG state, no engine "
        "hash, exact BIGINT) mapped through the item dictionary's "
        "rank; proposals colliding with a true positive are dropped "
        "(anti-join), the documented bias. 100 TB: dictionary and "
        "count broadcast; the expansion is a map-side explode; the "
        "only data-sized exchange is the (user, item) anti-join",
    tags=("sampling", "ml", "events"),
)
def c129_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import negative_sampling

    e = views(spark, sf_dir, "events")["events"]
    pos = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("u"),
            (
                F.lit(1000000)
                + F.get_json_object("props", "$.k").cast("long")
            ).alias("it"),
        )
    )
    return negative_sampling(pos, "u", "it", k=2)


@query(
    "c130_gif_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id,
               (d.doc_id * 7 + y.y * 5 + x.x * 3) % 16 AS c
        FROM documents d, range(8) y(y), range(8) x(x)
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(64 AS BIGINT) AS n_pixels,
           CAST(SUM((c * 11) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((c * 7) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((c * 3) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="REAL GIF decode, end-to-end verified — the LZW rung of the "
        "codec ladder (c64 PPM raw, c81/c83 PNG zlib+filters, c103 "
        "WAV PCM): synthetic 8x8 palette images are ENCODED to "
        "genuine GIF87a payloads (header, global color table, "
        "variable-width LSB-first LZW with the spec's early-change "
        "bump timing and KwKwK case, 255-byte sub-blocks) whose pixel "
        "index (x,y) of id i is (i*7+y*5+x*3) mod 16 and palette c = "
        "((c*11)%256,(c*7)%256,(c*3)%256), then DECODED back by the "
        "chunk-walking parser (89a extension skip, interlace/local-"
        "table refusal) and reduced to exact integer channel sums. "
        "The oracle recomputes the sums from the closed form alone, "
        "so one wrong bit in compressor or decompressor fails the "
        "hash (operators/multimodal.encode_gif/decode_gif; LZW "
        "round-trip also pytest-stressed on 200 random streams "
        "through multiple width bumps). Arrow-batched mapInPandas in "
        "the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c130_gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_channel_stats, synthesize_gif_images

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_gif_images(d, "doc_id", side=8))


@query(
    "c131_stream_ewma",
    oracle="""
    WITH RECURSIVE r AS (
        SELECT user_id,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS BIGINT) AS rn,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS x
        FROM events
    ),
    cnt AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1
    ),
    step AS (
        SELECT user_id, rn, x AS s, CAST(0 AS BIGINT) AS spikes
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.user_id, r.rn,
               CAST((3 * step.s + r.x) // 4 AS BIGINT),
               step.spikes
                   + CASE WHEN r.x > 2 * step.s THEN 1 ELSE 0 END
        FROM step JOIN r
          ON r.user_id = step.user_id AND r.rn = step.rn + 1
    )
    SELECT c.user_id, c.n_events, s.s AS ewma_q,
           CAST(s.spikes AS BIGINT) AS n_spikes
    FROM cnt c
    JOIN step s ON s.user_id = c.user_id AND s.rn = c.n_events
    """,
    doc="STREAMING twin of c117's EWMA recurrence (streaming/sessions."
        "stateful_ewma, applyInPandasWithState): the fixture is split "
        "into two TIME-ORDERED files fed as separate micro-batches "
        "(maxFilesPerTrigger=1, mtime-ordered), so the per-user "
        "(s, spikes, n) state genuinely crosses a batch boundary — "
        "and the final update per user must equal the batch fold AND "
        "the recursive-CTE oracle bit-for-bit (update-mode emissions "
        "collapse by the monotone n_events max, the c16 contract). "
        "The boundary is documented: exact parity requires time-"
        "ordered batch delivery; out-of-order streams need a "
        "watermark buffer first. State: three int64s per active user",
    tags=("streaming", "timeseries", "events"),
)
def c131_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil as _sh

    from ..session import load_table
    from ..streaming.sessions import (
        await_finished,
        read_events_stream,
        stateful_ewma,
    )

    views(spark, sf_dir, "events")  # oracle reads the same fixture
    e = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="bp_stream_ewma_")
    cut = F.lit("2024-01-15").cast("timestamp")
    for i, pred in enumerate(
        [F.col("ts") < cut, F.col("ts") >= cut]
    ):
        tmp = os.path.join(d, f"_w{i}")
        e.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(d, f"part-{i}.parquet")
        _sh.copy(src, dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))
        _sh.rmtree(tmp)
    schema = spark.read.parquet(os.path.join(d, "part-0.parquet")).schema
    stream = read_events_stream(spark, d, schema, max_files_per_trigger=1)
    name = "bp_stream_ewma"
    q = (
        stateful_ewma(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    t = spark.table(name)
    return (
        t.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "ewma_q", "n_spikes")).alias("b"))
        .select(
            "user_id",
            F.col("b.n_events").alias("n_events"),
            F.col("b.ewma_q").alias("ewma_q"),
            F.col("b.n_spikes").alias("n_spikes"),
        )
    )


_BM25_UNIT_SQL = """CAST(round(
    ln(1.0 + (stats.n_docs - d.docfreq + 0.5) / (d.docfreq + 0.5))
    * (CAST(f.tf AS DOUBLE) * 2.2)
    / (CAST(f.tf AS DOUBLE)
       + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl)))
    * 1000000) AS BIGINT)"""


@query(
    "c132_prf_query_expansion",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks
        FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
    tf1 AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM ex WHERE token IN ('join', 'spark', 'stream')
        GROUP BY 1, 2
    ),
    df1 AS (SELECT token, CAST(count(*) AS BIGINT) AS docfreq
            FROM tf1 GROUP BY 1),
    u1 AS (
        SELECT f.doc_id, {{u}} AS u
        FROM tf1 f JOIN df1 d USING (token) JOIN dl USING (doc_id)
        CROSS JOIN stats
    ),
    s1 AS (SELECT doc_id, CAST(SUM(u) AS DOUBLE) / 1000000 AS score
           FROM u1 GROUP BY doc_id),
    fb AS (SELECT doc_id FROM s1 ORDER BY score DESC, doc_id LIMIT 10),
    cand AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ,
               CAST(COUNT(DISTINCT ex.doc_id) AS BIGINT) AS df_fb
        FROM ex JOIN fb USING (doc_id)
        WHERE token NOT IN ('join', 'spark', 'stream')
        GROUP BY 1
    ),
    expn AS (SELECT token FROM cand WHERE df_fb >= 2
             ORDER BY n_occ DESC, token LIMIT 3),
    terms AS (
        SELECT 'join' AS token UNION ALL SELECT 'spark'
        UNION ALL SELECT 'stream' UNION ALL SELECT token FROM expn
    ),
    tf2 AS (
        SELECT doc_id, ex.token, CAST(count(*) AS BIGINT) AS tf
        FROM ex JOIN terms USING (token)
        GROUP BY 1, 2
    ),
    df2 AS (SELECT token, CAST(count(*) AS BIGINT) AS docfreq
            FROM tf2 GROUP BY 1),
    u2 AS (
        SELECT f.doc_id, {{u}} AS u
        FROM tf2 f JOIN df2 d USING (token) JOIN dl USING (doc_id)
        CROSS JOIN stats
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(SUM(u) AS DOUBLE) / 1000000 AS score
    FROM u2 GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """.format(u=_BM25_UNIT_SQL),
    doc="pseudo-relevance-feedback retrieval (RM3-lite; operators/"
        "text.bm25_prf_search): BM25 round 1 for {{join, spark, "
        "stream}}, assume the top-10 relevant, mine them for the 3 "
        "strongest expansion terms (>= 2 feedback docs, total-"
        "occurrence order, integer counts — no relevance-model "
        "floats), rerun BM25 with the expanded query — the classic "
        "one-round recall booster. The oracle replays BOTH rounds "
        "and the term mining, so a drifted expansion pick anywhere "
        "flips the final ranking and fails the hash. 100 TB: two "
        "postings-sized BM25 plans; the feedback list broadcasts; "
        "only the 3 chosen terms reach the driver (the c123 argmax "
        "contract) and parameterize round 2's pushed-down token "
        "filter",
    bench=True,
    tags=("text", "search", "llm"),
)
def c132_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bm25_prf_search

    d = views(spark, sf_dir, "documents")["documents"]
    return bm25_prf_search(
        d, "doc_id", "text", ["join", "spark", "stream"],
        fb_k=10, min_fb_df=2, n_expand=3, k=10,
    )


@query(
    "c133_benford_screen",
    oracle="""
    WITH c AS (
        SELECT CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
            AS cents
        FROM orders
    ),
    d AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
            AS digit
        FROM c WHERE cents >= 1
    ),
    cnt AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM d GROUP BY 1),
    n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cnt),
    per AS (
        SELECT digit, n_obs,
               CAST(round(ln(1.0 + 1.0 / digit) / ln(10.0) * 1000000)
                   AS BIGINT) AS exp_micro,
               CAST(round(
                   (CAST(n_obs AS DOUBLE)
                    - CAST(n.n AS DOUBLE) * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                   * (CAST(n_obs AS DOUBLE)
                      - CAST(n.n AS DOUBLE) * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                   / (CAST(n.n AS DOUBLE) * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                   * 1000000) AS BIGINT) AS contrib_q
        FROM cnt CROSS JOIN n
    )
    SELECT digit, n_obs, exp_micro, contrib_q,
           (SELECT CAST(SUM(contrib_q) AS BIGINT) FROM per) AS chi2_q
    FROM per
    """,
    doc="Benford first-digit screen on order totals (operators/ml."
        "benford_screen) — the fraud / fabricated-data test: digit "
        "extraction is FLOAT-FREE (integer cents -> decimal string -> "
        "first char; a log10/floor extraction can flip at power-of-ten "
        "boundaries on last-ulp libm differences), chi-square "
        "contributions quantize to micro-units through one fixed IEEE "
        "expression, total chi2_q is an exact integer sum (df=8: "
        ">> 15.5 flags). 100 TB: one 9-group hash aggregate over the "
        "stream; everything after runs on 9 rows",
    tags=("ml", "quality"),
)
def c133_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import benford_screen

    o = views(spark, sf_dir, "orders")["orders"]
    return benford_screen(o, "o_totalprice")


@query(
    "q90_mapinarrow_norms",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings)
    SELECT vec_id,
           CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS dot_q,
           ROUND(sqrt(CAST({_DUCK_DOT.format(a='qv', b='qv')} AS DOUBLE)),
                 6) AS norm6
    FROM v
    """,
    doc="raw-Arrow Python surface (functions/udfs.arrow_dot_norms, "
        "mapInArrow): the third rung of the UDF ladder after q31's "
        "scalar pandas UDF and q32's applyInPandas — batches arrive "
        "as pyarrow.RecordBatch with ZERO pandas materialization, the "
        "closest Python gets to the JVM columnar layout (worth the "
        "lower-level API when per-batch conversion overhead "
        "dominates). Same quantized-exact contract: integer self-dot, "
        "one sqrt ROUND 6. Runs inside the scan's partitions — no "
        "shuffle",
    tags=("udf", "similarity"),
)
def q90_mapinarrow_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import arrow_dot_norms

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return arrow_dot_norms(e)


@query(
    "c134_tfidf_doc_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                   list_transform(generate_series(1, len(toks) - 2),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
               ELSE [] END AS t
        FROM tk
    ),
    raw AS (SELECT doc_id, unnest(t) AS token FROM g WHERE len(t) > 0),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM raw GROUP BY 1, 2
    ),
    dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY 1),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
           FROM documents),
    w AS (
        SELECT tf.doc_id, tf.token,
               tf.tf * CAST(round(
                   ln(CAST(nd.n + 1 AS DOUBLE)
                      / CAST(dfq.df + 1 AS DOUBLE)) * 1000000)
                   AS BIGINT) AS w
        FROM tf JOIN dfq USING (token) CROSS JOIN nd
        WHERE dfq.df <= 20
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared,
               CAST(SUM(a.w * b.w) AS BIGINT) AS dot_q
        FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    top AS (SELECT * FROM p ORDER BY dot_q DESC, id_a, id_b LIMIT 20)
    SELECT id_a, id_b, n_shared, dot_q,
           CAST(row_number() OVER (ORDER BY dot_q DESC, id_a, id_b)
               AS BIGINT) AS rank
    FROM top
    """,
    doc="sparse TF-IDF weighted document-pair similarity "
        "(operators/text.tfidf_doc_pairs): top-20 pairs by the exact "
        "integer dot product of 3-gram-shingle TF-IDF vectors — the "
        "WEIGHTED rung of the self-similarity ladder (c110 counts "
        "shared shingles equally; a rare shared shingle here outvotes "
        "ten common ones). Micro-unit idf (c18 contract) x raw tf -> "
        "exact BIGINT products; shingles with df > 20 are dropped "
        "BEFORE the pair join — the posting cap that bounds the join "
        "at Σ min(df,cap)² and keeps boilerplate from scoring. "
        "100 TB: map-side partial sums collapse the pair stream "
        "before the single (id_a,id_b) exchange; top-k is "
        "TakeOrderedAndProject",
    bench=True,
    tags=("text", "similarity", "dedup", "llm"),
)
def c134_tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tfidf_doc_pairs

    d = views(spark, sf_dir, "documents")["documents"]
    return tfidf_doc_pairs(d, "doc_id", "text", ngram=3, df_cap=20, k=20)


@query(
    "c135_kmv_join_cardinality",
    oracle="""
    WITH sl AS (
        SELECT CAST(('0x' || substr(md5(CAST(_k AS VARCHAR) || ':v1'),
                                    1, 8)) AS BIGINT) AS hv
        FROM (SELECT DISTINCT o_custkey AS _k FROM orders)
        ORDER BY hv LIMIT 256
    ),
    sr AS (
        SELECT CAST(('0x' || substr(md5(CAST(_k AS VARCHAR) || ':v1'),
                                    1, 8)) AS BIGINT) AS hv
        FROM (SELECT DISTINCT c_custkey AS _k FROM customer)
        ORDER BY hv LIMIT 256
    ),
    su AS (
        SELECT hv FROM (
            SELECT DISTINCT hv FROM (
                SELECT hv FROM sl UNION ALL SELECT hv FROM sr)
        ) ORDER BY hv LIMIT 256
    ),
    el AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used_l,
                  CAST(MAX(hv) AS BIGINT) AS hk FROM sl),
    er AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used_r,
                  CAST(MAX(hv) AS BIGINT) AS hk FROM sr),
    eu AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used_u,
                  CAST(MAX(hv) AS BIGINT) AS hk FROM su),
    dd AS (
        SELECT el.k_used_l, er.k_used_r, eu.k_used_u,
               ROUND(CASE WHEN el.k_used_l < 256
                          THEN CAST(el.k_used_l AS DOUBLE)
                          ELSE CAST(el.k_used_l - 1 AS DOUBLE)
                               * 4294967296.0 / CAST(el.hk AS DOUBLE)
                     END, 6) AS d_l,
               ROUND(CASE WHEN er.k_used_r < 256
                          THEN CAST(er.k_used_r AS DOUBLE)
                          ELSE CAST(er.k_used_r - 1 AS DOUBLE)
                               * 4294967296.0 / CAST(er.hk AS DOUBLE)
                     END, 6) AS d_r,
               ROUND(CASE WHEN eu.k_used_u < 256
                          THEN CAST(eu.k_used_u AS DOUBLE)
                          ELSE CAST(eu.k_used_u - 1 AS DOUBLE)
                               * 4294967296.0 / CAST(eu.hk AS DOUBLE)
                     END, 6) AS d_u
        FROM el CROSS JOIN er CROSS JOIN eu
    )
    SELECT k_used_l, k_used_r, k_used_u, d_l, d_r, d_u,
           ROUND(d_l + d_r - d_u, 6) AS overlap
    FROM dd
    """,
    doc="join-key cardinality estimation from KMV sketches "
        "(operators/maintenance.kmv_overlap_estimate; Bar-Yossef 2002 "
        "+ Beyer SIGMOD'07 set ops): distinct o_custkey, distinct "
        "c_custkey, and their overlap estimated WITHOUT joining the "
        "tables — the before-you-fire-a-100TB-join planner check. "
        "Each sketch = the 256 smallest salted-md5 32-bit hashes "
        "(portable hex parse: Spark conv(,16,10) == DuckDB "
        "'0x'||substr cast), union sketch = bottom-k of the merged "
        "sketches, D-hat = (k-1)·2^32/h_k with exact-count fallback "
        "under k distinct; the ESTIMATE replays bit-for-bit (accuracy "
        "±O(1/sqrt k) pinned by pytest against exact counts). "
        "100 TB: one distinct + per-partition top-k per table, "
        "<= 3k metadata rows after; the tables never meet",
    tags=("maintenance", "sketch", "join"),
)
def c135_kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import kmv_overlap_estimate

    t = views(spark, sf_dir, "orders", "customer")
    return kmv_overlap_estimate(
        t["orders"], "o_custkey", t["customer"], "c_custkey", k=256
    )


@query(
    "c136_golden_record",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' '
                                   || toks[i+2]) AS grams
        FROM toks
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS gram FROM grams),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM exploded a JOIN exploded b ON a.gram = b.gram
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(grams) AS ng FROM grams),
    pairs AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE sa.ng + sb.ng - n_common > 0
          AND n_common * 100 >= (sa.ng + sb.ng - n_common) * 40
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT src AS id, src AS label FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    grouped AS (
        SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS group_id
        FROM reach GROUP BY id
    ),
    j AS (
        SELECT g.group_id, g.doc_id, d.n_chars, d.lang, d.source
        FROM grouped g JOIN documents d ON d.doc_id = g.doc_id
    ),
    base AS (
        SELECT group_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MAX(n_chars) AS BIGINT) AS max_n_chars
        FROM j GROUP BY 1
    ),
    canon AS (
        SELECT group_id, doc_id AS canonical_id FROM (
            SELECT group_id, doc_id,
                   row_number() OVER (
                       PARTITION BY group_id
                       ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM j
        ) WHERE rn = 1
    ),
    lang_m AS (
        SELECT group_id, lang AS lang_modal FROM (
            SELECT group_id, lang,
                   row_number() OVER (
                       PARTITION BY group_id
                       ORDER BY COUNT(*) DESC, lang ASC) AS rn
            FROM j GROUP BY group_id, lang
        ) WHERE rn = 1
    ),
    src_m AS (
        SELECT group_id, source AS source_modal FROM (
            SELECT group_id, source,
                   row_number() OVER (
                       PARTITION BY group_id
                       ORDER BY COUNT(*) DESC, source ASC) AS rn
            FROM j GROUP BY group_id, source
        ) WHERE rn = 1
    )
    SELECT b.group_id, c.canonical_id, b.n_members, b.max_n_chars,
           l.lang_modal, s.source_modal
    FROM base b
    JOIN canon c USING (group_id)
    JOIN lang_m l USING (group_id)
    JOIN src_m s USING (group_id)
    """,
    doc="MDM golden-record construction (operators/linkage."
        "survivorship_golden_record) over c99's near-dup clusters "
        "(c04 Jaccard-40 pairs -> c29 connected components): the "
        "canonical id is the best single member (longest, id "
        "tiebreak) but each FIELD takes the cluster's MODAL value "
        "((-count, value) struct-min — count-based, float-free, "
        "lexical tiebreak), the fusion step after matching and "
        "clustering — the majority usually has the right field value "
        "even when the longest record doesn't. 100 TB: per field one "
        "(group, value) aggregate + one group-keyed struct-min, all "
        "cluster-scale; modal dims broadcast back on group_id",
    tags=("dedup", "linkage", "graph"),
)
def c136_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicate_groups, ngram_jaccard_pairs
    from ..operators.linkage import survivorship_golden_record

    d = views(spark, sf_dir, "documents")["documents"]
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold_pct=40)
    groups = duplicate_groups(pairs)
    return survivorship_golden_record(
        groups, d, "doc_id", quality_col="n_chars",
        fields=["lang", "source"],
    )


@query(
    "c137_association_rules",
    oracle="""
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    ni AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM lp GROUP BY 1),
    nbk AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM lp),
    half AS (
        SELECT a.i AS item_a, b.i AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM lp a JOIN lp b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    dir2 AS (
        SELECT item_a, item_b, n_ab FROM half
        UNION ALL
        SELECT item_b, item_a, n_ab FROM half
    ),
    s AS (
        SELECT item_a, item_b, n_ab,
               CAST(n_ab * 1000000 // na.n AS BIGINT) AS conf_micro,
               CAST(n_ab * nbk.nb * 1000000 // (na.n * nb2.n) AS BIGINT)
                   AS lift_micro
        FROM dir2
        JOIN ni na ON na.i = item_a
        JOIN ni nb2 ON nb2.i = item_b
        CROSS JOIN nbk
    ),
    top AS (
        SELECT * FROM s
        ORDER BY lift_micro DESC, conf_micro DESC, item_a, item_b
        LIMIT 20
    )
    SELECT item_a, item_b, n_ab, conf_micro, lift_micro,
           CAST(row_number() OVER (
               ORDER BY lift_micro DESC, conf_micro DESC, item_a, item_b)
               AS BIGINT) AS rank
    FROM top
    """,
    doc="directional association rules a -> b over order baskets "
        "(operators/similarity.association_rules; Agrawal VLDB'94 "
        "depth-1): support/confidence/lift in integer micro-units "
        "(exact DIV — no float probabilities), min-support 2, top-20 "
        "by (lift, confidence). Where c124 scores symmetric cosine, "
        "rules are DIRECTIONAL (diapers->beer != beer->diapers): both "
        "orientations emit from ONE canonical pair count (no second "
        "pair join). Same scale skeleton as c124: basket-keyed pair "
        "join bounded by Σ width², broadcast marginals + 1-row basket "
        "count, TakeOrderedAndProject",
    bench=True,
    tags=("similarity", "events", "join"),
)
def c137_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import association_rules

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    return association_rules(
        li, "l_orderkey", "l_partkey", min_support=2, k=20
    )


@query(
    "c138_token_entropy",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(toks) AS token FROM t)
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM c GROUP BY 1
    )
    SELECT c.doc_id, tot.n_tokens, tot.n_types,
           CAST(SUM(CAST(round(
               CAST(c.c AS DOUBLE) / tot.n_tokens
               * ln(CAST(tot.n_tokens AS DOUBLE) / c.c)
               * 1000000) AS BIGINT)) AS BIGINT) AS entropy_q
    FROM c JOIN tot USING (doc_id)
    GROUP BY 1, 2, 3
    """,
    doc="per-document token-distribution Shannon entropy "
        "(operators/text.token_entropy) — the information-density "
        "quality signal (keyword-stuffing / copy-paste loops score "
        "low; the distributional complement of c45's positional "
        "repetition masks). Per-TYPE contributions quantize to "
        "micro-nats through one fixed IEEE expression (ln contract) "
        "so the per-doc sum is exact. Plan: one (doc, token) hash "
        "aggregate + one doc-keyed sum — c08/c63's shape",
    tags=("text", "llm", "quality"),
)
def c138_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_entropy

    d = views(spark, sf_dir, "documents")["documents"]
    return token_entropy(d, "doc_id", "text")


@query(
    "a06_multifile_regex_ingest",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    UNION ALL
    SELECT n_nationkey, n_name FROM nation
    """,
    doc="multi-file regex-discovery ingest parity (the reference's "
        "core upload path, upload_file.py:85-105 + 187-200 — "
        "recursive glob, re.search filter, all matches loaded as ONE "
        "table): three CSVs are written (region keys, nation keys, "
        "and a DECOY whose name misses the regex), "
        "ingest_matching_files loads exactly the two matches under "
        "pattern 'bp_keys_(region|nation)', and the oracle is the "
        "union of the two matched sources — a decoy row appearing or "
        "a match dropped fails the hash. Exercises A2 (exact "
        "discovery), A3 (regex filter), A5/A6 (one-scan multi-file "
        "load) as a driver-visible row, not only tests",
    tags=("native", "ingest"),
)
def a06_multifile_regex_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..export import write_csv
    from ..ingest import ingest_matching_files

    t = views(spark, sf_dir, "region", "nation")
    d = tempfile.mkdtemp(prefix="bp_regex_ingest_")
    write_csv(
        t["region"].select(
            F.col("r_regionkey").alias("k"), F.col("r_name").alias("v")
        ),
        os.path.join(d, "bp_keys_region.csv"),
    )
    write_csv(
        t["nation"].select(
            F.col("n_nationkey").alias("k"), F.col("n_name").alias("v")
        ),
        os.path.join(d, "bp_keys_nation.csv"),
    )
    write_csv(
        t["nation"].select(
            F.col("n_nationkey").alias("k"), F.col("n_name").alias("v")
        ),
        os.path.join(d, "bp_decoy_nation.csv"),
    )
    spark.sql("DROP TABLE IF EXISTS bp_regex_ingested")
    from ..ingest import _clean_stale_location

    _clean_stale_location(spark, "bp_regex_ingested", None)
    # discovery is CWD-relative by reference contract
    # (upload_file.py:85-93); reach the temp dir via a relative path
    ingest_matching_files(
        spark,
        os.path.relpath(d, os.getcwd()),
        r"bp_keys_(region|nation)",
        "bp_regex_ingested",
    )
    return spark.table("bp_regex_ingested").select(
        F.col("k").cast("long").alias("r_regionkey"),
        F.col("v").alias("r_name"),
    )


@query(
    "c139_holt_trend",
    oracle="""
    WITH RECURSIVE r AS (
        SELECT user_id,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS BIGINT) AS rn,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS x
        FROM events
    ),
    cnt AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1
    ),
    step AS (
        SELECT user_id, rn, x AS l, CAST(0 AS BIGINT) AS b
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.user_id, r.rn,
               CAST(floor(CAST(r.x + 3 * (step.l + step.b) AS DOUBLE) / 4)
                   AS BIGINT),
               CAST(floor(CAST(
                   (CAST(floor(CAST(r.x + 3 * (step.l + step.b) AS DOUBLE)
                               / 4) AS BIGINT) - step.l)
                   + 3 * step.b AS DOUBLE) / 4) AS BIGINT)
        FROM step JOIN r
          ON r.user_id = step.user_id AND r.rn = step.rn + 1
    )
    SELECT c.user_id, c.n_events, s.l AS level_q, s.b AS trend_q,
           CAST(s.l + s.b AS BIGINT) AS forecast_q
    FROM cnt c
    JOIN step s ON s.user_id = c.user_id AND s.rn = c.n_events
    """,
    doc="per-user Holt double-exponential smoothing (operators/"
        "timeseries.holt_fold) — the TWO-state recurrence (level + "
        "trend, alpha=beta=1/4) extending c117's one-state EWMA fold: "
        "still ONE JVM-side array_sort + aggregate() per user, no "
        "UDF, no window. Divisions are explicit double-floor (exact "
        "below 2^53) because the TREND goes negative and "
        "truncation-vs-floor would diverge between engines there — "
        "the boundary c117's positive-only modular trick cannot "
        "cross. Oracle = recursive CTE carrying (l, b) through the "
        "same floors; one-step forecast = l + b",
    bench=True,
    tags=("timeseries", "events"),
)
def c139_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_fold

    e = views(spark, sf_dir, "events")["events"]
    return holt_fold(e, "user_id", "ts", "event_id", "value")


@query(
    "c140_matryoshka_prefix_recall",
    oracle=f"""
    WITH vf AS (SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings),
    nf AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM vf
    ),
    full_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')}
                                    AS DOUBLE)
                                / (sqrt(CAST(q.norm AS DOUBLE))
                                   * sqrt(CAST(c.norm AS DOUBLE))) DESC,
                                c.vec_id) AS BIGINT) AS rank
            FROM nf q CROSS JOIN nf c
            WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        ) WHERE rank <= 5
    ),
    vp AS (
        SELECT vec_id,
               list_transform(embedding[1:16],
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                             AS BIGINT)) AS qv
        FROM embeddings
    ),
    np AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM vp
    ),
    pref_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')}
                                    AS DOUBLE)
                                / (sqrt(CAST(q.norm AS DOUBLE))
                                   * sqrt(CAST(c.norm AS DOUBLE))) DESC,
                                c.vec_id) AS BIGINT) AS rank
            FROM np q CROSS JOIN np c
            WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        ) WHERE rank <= 5
    ),
    hits AS (
        SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM full_top f
        JOIN pref_top p
          ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
        GROUP BY 1
    )
    SELECT b.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) * 1000000 // 5 AS BIGINT)
               AS recall_micro
    FROM (SELECT DISTINCT query_id FROM full_top) b
    LEFT JOIN hits h USING (query_id)
    """,
    doc="Matryoshka prefix-dimension retrieval evaluation "
        "(operators/similarity.prefix_dim_recall; MRL, Kusupati "
        "NeurIPS'22): recall@5 of exact cosine over the FIRST 16 of "
        "64 dims vs full-vector truth, per query — the "
        "is-prefix-truncation-safe measurement before shipping the "
        "4x cheaper index; the truncation-axis twin of c93's LSH "
        "recall eval. Both rankings are c06's quantized-exact "
        "arithmetic, so the oracle replays BOTH and the per-query "
        "hit counts are exact integers. Production swaps either side "
        "for IVF/PQ unchanged — the evaluation join runs on k-sized "
        "lists per query",
    tags=("similarity", "llm"),
)
def c140_matryoshka_prefix_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import prefix_dim_recall

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return prefix_dim_recall(
        e, e.filter(F.col("vec_id") < 10), prefix_dims=16, k=5
    )


@query(
    "c141_clustering_coefficients",
    oracle="""
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT DISTINCT a.p AS lo, b.p AS hi
        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
        FROM (SELECT lo AS v FROM e UNION ALL SELECT hi FROM e)
        GROUP BY 1
    ),
    tris AS (
        SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        FROM e e1
        JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
        JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
    ),
    tr AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (SELECT a AS node FROM tris
              UNION ALL SELECT b FROM tris
              UNION ALL SELECT c FROM tris)
        GROUP BY 1
    )
    SELECT d.v AS node, d.deg AS degree,
           CAST(COALESCE(tr.n_tri, 0) AS BIGINT) AS n_tri,
           CAST(2 * COALESCE(tr.n_tri, 0) * 1000000
                // (d.deg * (d.deg - 1)) AS BIGINT) AS lcc_micro
    FROM deg d LEFT JOIN tr ON tr.node = d.v
    WHERE d.deg >= 2
    """,
    doc="per-node local clustering coefficient (operators/graph."
        "clustering_coefficients; Watts-Strogatz) over the "
        "co-purchase graph — lcc = 2·tri(v)/(deg(deg-1)) in exact "
        "micro-units, the community-vs-bridge structural signal "
        "c111's single global count aggregates away. Same "
        "degree-oriented O(m^1.5) wedge machinery (shared "
        "_oriented_wedges helper); the close step is an inner "
        "equi-join (1:1 with c111's semi on the distinct edge set) so "
        "the (u,v,w) triple survives to a map-side explode + one "
        "node-keyed aggregate. Oracle = naive ordered-triple triples "
        "+ per-node unnest counts",
    bench=True,
    tags=("graph",),
)
def c141_clustering_coefficients(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.graph import clustering_coefficients

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    lp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = (
        lp.alias("a")
        .join(lp.alias("b"), "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    )
    return clustering_coefficients(edges)


@query(
    "c142_median_imputation",
    oracle="""
    WITH r AS (
        SELECT event_type AS key,
               CASE WHEN event_id % 97 = 1 THEN NULL
                    ELSE CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
               END AS value_q
        FROM events
    ),
    med AS (
        SELECT key, quantile_cont(value_q, 0.5) AS m
        FROM r WHERE value_q IS NOT NULL GROUP BY 1
    )
    SELECT r.key, r.value_q, (r.value_q IS NULL) AS was_null,
           COALESCE(CAST(r.value_q AS DOUBLE), med.m) AS filled_q
    FROM r LEFT JOIN med USING (key)
    """,
    doc="per-group median imputation (operators/ml.median_impute): "
        "values deterministically nulled (event_id % 97 = 1) then "
        "filled with the exact per-event-type median — the robust "
        "fill (mean imputation drags toward outliers). Median = ONE "
        "percentile(·, 0.5) typed aggregate per group over integer "
        "cents (both engines interpolate identically on integers: an "
        "even group's median is a half-integer, exactly "
        "representable); medians broadcast back, one scan total",
    tags=("ml", "feature", "quality"),
)
def c142_median_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import median_impute

    e = views(spark, sf_dir, "events")["events"]
    d = e.select(
        F.col("event_type"),
        F.when(F.col("event_id") % 97 == 1, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    return median_impute(d, "event_type", "v")


@query(
    "c143_woe_encoding",
    oracle="""
    WITH d AS (
        SELECT CAST(least(CAST(floor(CAST(value AS DOUBLE) / 100)
                               AS BIGINT), 5) AS BIGINT) AS bucket,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    c AS (
        SELECT bucket, CAST(SUM(y) AS BIGINT) AS n_good,
               CAST(SUM(1 - y) AS BIGINT) AS n_bad
        FROM d GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(n_good) AS BIGINT) AS goods,
               CAST(SUM(n_bad) AS BIGINT) AS bads
        FROM c
    ),
    per AS (
        SELECT bucket, n_good, n_bad,
               CAST(round(ln(
                   ((CAST(n_good AS DOUBLE) + 0.5) / CAST(goods AS DOUBLE))
                   / ((CAST(n_bad AS DOUBLE) + 0.5) / CAST(bads AS DOUBLE)))
                   * 1000000) AS BIGINT) AS woe_q,
               CAST(round(
                   (CAST(n_good AS DOUBLE) / goods
                    - CAST(n_bad AS DOUBLE) / bads)
                   * ln(
                   ((CAST(n_good AS DOUBLE) + 0.5) / CAST(goods AS DOUBLE))
                   / ((CAST(n_bad AS DOUBLE) + 0.5) / CAST(bads AS DOUBLE)))
                   * 1000000) AS BIGINT) AS iv_contrib_q
        FROM c CROSS JOIN t
    )
    SELECT bucket, n_good, n_bad, woe_q, iv_contrib_q,
           (SELECT CAST(SUM(iv_contrib_q) AS BIGINT) FROM per) AS iv_q
    FROM per
    """,
    doc="weight-of-evidence encoding + information value "
        "(operators/ml.woe_encoding) — the credit-scoring scorecard "
        "classic, target = purchase, feature = 100-unit value bands: "
        "woe(b) = ln(smoothed good share / bad share), IV = Σ "
        "(Δshare)·woe, all quantized to micro-units through fixed "
        "IEEE expressions (0.5 smoothing keeps single-class buckets "
        "finite; explicit double casts because bare n+0.5 is DOUBLE "
        "in Spark but DECIMAL in DuckDB). One stream aggregate, "
        "metadata-sized arithmetic after — the PSI/Benford shape, "
        "completing the encoding trio with c115's LOO and c128's "
        "percentile scaling",
    tags=("ml", "feature", "events"),
)
def c143_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import woe_encoding

    e = views(spark, sf_dir, "events")["events"]
    d = e.select(
        F.least(
            F.floor(F.col("value").cast("double") / 100).cast("long"),
            F.lit(5).cast("long"),
        ).alias("bucket"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return woe_encoding(d, "bucket", "y")


@query(
    "c144_knn_classifier",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    te AS (SELECT * FROM n WHERE vec_id % 10 = 0),
    tr AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               c.label AS nb_label,
               CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')} AS DOUBLE)
                 / (sqrt(CAST(q.norm AS DOUBLE)) * sqrt(CAST(c.norm AS DOUBLE)))
                   AS cosine
        FROM te q CROSS JOIN tr c
    ),
    nb AS (
        SELECT query_id, nb_label, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
            ) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= 5
    ),
    votes AS (
        SELECT query_id, nb_label, CAST(COUNT(*) AS BIGINT) AS votes,
               MIN(rank) AS best
        FROM nb GROUP BY 1, 2
    ),
    win AS (
        SELECT query_id, nb_label, votes,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY votes DESC, best ASC, nb_label ASC
               ) AS rn
        FROM votes
    )
    SELECT w.query_id AS vec_id, t.label AS true_label,
           w.nb_label AS pred_label, w.votes,
           w.nb_label = t.label AS correct
    FROM win w JOIN te t ON t.vec_id = w.query_id
    WHERE w.rn = 1
    """,
    doc="k-NN majority-vote classification over the embedding column "
        "(operators/ml.knn_classify): held-out queries (vec_id % 10 = "
        "0) take the modal label of their 5 cosine-nearest labeled "
        "neighbors, ties broken (votes DESC, best-rank ASC, label ASC) "
        "— the classic label-transfer / auto-labeling primitive for "
        "training-data curation, composed from the SAME candidate "
        "stage as every ANN entry (brute-force exactness anchor here; "
        "ivf_topk/lsh_topk swap in for the 100 TB candidate path with "
        "the vote unchanged). Quantized-integer dots make the cosine "
        "ordering engine-exact; the vote is pure BIGINT. 100 TB: the "
        "vote table is queries-by-labels-sized; the corpus moves only "
        "through the ANN stage",
    tags=("ml", "similarity"),
)
def c144_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import knn_classify

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return knn_classify(e, F.col("vec_id") % 10 == 0, k=5)


@query(
    "c145_auc_ranksum",
    oracle="""
    WITH s AS (
        SELECT 'seg' || CAST(user_id % 4 AS VARCHAR) AS grp,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    r AS (
        SELECT grp, y,
               2 * CAST(rank() OVER (
                   PARTITION BY grp ORDER BY score ASC) AS BIGINT)
                 + CAST(COUNT(*) OVER (PARTITION BY grp, score) AS BIGINT)
                 - 1 AS r2
        FROM s
    ),
    a AS (
        SELECT grp, CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
               CAST(SUM(r2 * y) AS BIGINT) AS sr2
        FROM r GROUP BY 1
    )
    SELECT grp, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               CAST((sr2 - n_pos * (n_pos + 1)) * 1000000
                    // (2 * n_pos * n_neg) AS BIGINT)
           END AS auc_micro
    FROM a
    """,
    doc="per-segment ROC AUC via the Mann-Whitney rank-sum identity "
        "(operators/ml.auc_ranksum): does the event value rank "
        "purchases above non-purchases? EXACT midrank tie handling "
        "(2*midrank = 2*rank() + tie_count - 1 is always an integer), "
        "scores quantized to cents, AUC reported in integer "
        "micro-units through one exact BIGINT division — no floats "
        "anywhere, so the oracle replays bit-identically. The "
        "model-quality readout every training-data quality classifier "
        "needs. 100 TB: ONE hash aggregate to the distinct "
        "(grp,score) table, midranks as a closed form of the per-group "
        "prefix count via sampling.grouped_cumsum (range-partition + "
        "broadcast span offsets — survives one group holding the "
        "whole corpus, where partitionBy(grp) is one task), then ONE "
        "aggregate to group cardinality; BIGINT-exact to ~2e9-row "
        "groups (docstring bound)",
    tags=("ml", "events"),
)
def c145_auc_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import auc_ranksum

    e = views(spark, sf_dir, "events")["events"]
    d = e.select(
        F.concat(F.lit("seg"), (F.col("user_id") % 4).cast("string")).alias(
            "grp"
        ),
        F.round(F.col("value").cast("double") * 100).cast("long").alias(
            "score"
        ),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return auc_ranksum(d, "grp", "score", "y")


@query(
    "c146_attribution_credit",
    oracle="""
    WITH b AS (
        SELECT user_id AS k, ts, event_id AS tie, event_type AS channel,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS epoch
        FROM events
    ),
    tou AS (
        SELECT k, epoch, channel,
               row_number() OVER (
                   PARTITION BY k, epoch ORDER BY ts ASC, tie ASC
               ) AS rn_first,
               row_number() OVER (
                   PARTITION BY k, epoch ORDER BY ts DESC, tie DESC
               ) AS rn_last
        FROM b WHERE channel IN ('click', 'view')
    ),
    conv AS (SELECT k, epoch FROM b WHERE channel = 'purchase'),
    cc AS (
        SELECT k, epoch, channel, CAST(COUNT(*) AS BIGINT) AS n_ch,
               MIN(rn_first) AS best_first
        FROM tou GROUP BY 1, 2, 3
    ),
    tt AS (
        SELECT k, epoch, CAST(COUNT(*) AS BIGINT) AS n_touch
        FROM tou GROUP BY 1, 2
    ),
    lf AS (SELECT k, epoch, channel AS last_ch FROM tou WHERE rn_last = 1),
    j AS (
        SELECT cc.channel, cc.n_ch, cc.best_first, tt.n_touch, lf.last_ch
        FROM cc
        JOIN tt USING (k, epoch)
        JOIN conv USING (k, epoch)
        JOIN lf USING (k, epoch)
    )
    SELECT channel,
           CAST(SUM(CASE WHEN best_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS first_touch_convs,
           CAST(SUM(CASE WHEN channel = last_ch THEN 1 ELSE 0 END) AS BIGINT)
               AS last_touch_convs,
           CAST(SUM(n_ch * 1000000 // n_touch) AS BIGINT) AS linear_micro
    FROM j GROUP BY 1
    """,
    doc="multi-touch marketing attribution (operators/sessions."
        "attribution_credit): an exclusive running count of prior "
        "purchases splits each user's stream into epochs; the "
        "click/view touches inside a converted epoch earn first-touch, "
        "last-touch, and linear credit (count*1e6 DIV n_touches — "
        "exact integer division) per channel, all three models from "
        "ONE epoch pass. Conversions with no preceding touch earn "
        "nothing (standard convention). 100 TB: one user-keyed window "
        "exchange builds epochs, every later group key is "
        "(user, epoch)-prefixed so the aggregates reuse that "
        "partitioning; the final rollup is channel-cardinality-sized",
    tags=("events", "sessionization"),
)
def c146_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import attribution_credit

    e = views(spark, sf_dir, "events")["events"]
    return attribution_credit(e, "user_id", "ts", "event_id", "event_type")


@query(
    "c147_cusum_alarms",
    oracle="""
    WITH RECURSIVE r AS (
        SELECT user_id,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS BIGINT) AS rn,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS x
        FROM events
    ),
    cnt AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1
    ),
    step AS (
        SELECT user_id, rn,
               CASE WHEN greatest(CAST(0 AS BIGINT), x - 6000) >= 20000
                    THEN CAST(0 AS BIGINT)
                    ELSE greatest(CAST(0 AS BIGINT), x - 6000) END AS s,
               CAST(CASE WHEN greatest(CAST(0 AS BIGINT), x - 6000) >= 20000
                         THEN 1 ELSE 0 END AS BIGINT) AS alarms
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.user_id, r.rn,
               CASE WHEN greatest(CAST(0 AS BIGINT), step.s + r.x - 6000)
                         >= 20000
                    THEN CAST(0 AS BIGINT)
                    ELSE greatest(CAST(0 AS BIGINT), step.s + r.x - 6000)
               END,
               step.alarms
                   + CASE WHEN greatest(CAST(0 AS BIGINT),
                                        step.s + r.x - 6000) >= 20000
                          THEN 1 ELSE 0 END
        FROM step JOIN r
          ON r.user_id = step.user_id AND r.rn = step.rn + 1
    )
    SELECT c.user_id, c.n_events, CAST(s.s AS BIGINT) AS cusum_q,
           CAST(s.alarms AS BIGINT) AS n_alarms
    FROM cnt c
    JOIN step s ON s.user_id = c.user_id AND s.rn = c.n_events
    """,
    doc="per-user one-sided CUSUM change detection (operators/"
        "timeseries.cusum_fold, Page 1954): s_t = max(0, s_{t-1} + x_t "
        "- drift) with reset-on-alarm at the threshold — a NON-LINEAR "
        "recurrence (clamp + reset) no window function expresses, run "
        "as ONE JVM-side array_sort + aggregate() fold per user "
        "(c117's machinery with a different step), all-integer state "
        "(cents; drift 60.00, threshold 200.00) so the recursive-CTE "
        "oracle replays every fold step bit-exactly. The "
        "sequential-analysis twin of c117's EWMA spikes: CUSUM "
        "accumulates small sustained drifts EWMA smooths away. "
        "100 TB: one user-keyed exchange; fold is map-side codegen; "
        "memory bounds by the largest single user's history",
    tags=("timeseries", "events"),
)
def c147_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import cusum_fold

    e = views(spark, sf_dir, "events")["events"]
    return cusum_fold(
        e, "user_id", "ts", "event_id", "value",
        drift_q=6000, threshold_q=20000,
    )


@query(
    "c148_ndcg_eval",
    oracle="""
    WITH clicks AS (
        SELECT user_id AS u,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               CAST(COUNT(*) AS BIGINT) AS score
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purch AS (
        SELECT user_id AS u,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               CAST(COUNT(*) AS BIGINT) AS rel
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    cand AS (
        SELECT c.u, c.item, c.score, COALESCE(p.rel, 0) AS rel
        FROM clicks c LEFT JOIN purch p ON p.u = c.u AND p.item = c.item
    ),
    ranked AS (
        SELECT u, rel,
               row_number() OVER (PARTITION BY u
                                  ORDER BY score DESC, item) AS pos,
               row_number() OVER (PARTITION BY u
                                  ORDER BY rel DESC, item) AS ipos
        FROM cand
    ),
    agg AS (
        SELECT u,
               CAST(COUNT(*) AS BIGINT) AS n_retrieved,
               CAST(SUM(rel * CASE pos WHEN 1 THEN 1000000
                                       WHEN 2 THEN 630930
                                       WHEN 3 THEN 500000
                                       WHEN 4 THEN 430677
                                       WHEN 5 THEN 386853
                                       ELSE 0 END) AS BIGINT) AS dcg_q,
               CAST(SUM(rel * CASE ipos WHEN 1 THEN 1000000
                                        WHEN 2 THEN 630930
                                        WHEN 3 THEN 500000
                                        WHEN 4 THEN 430677
                                        WHEN 5 THEN 386853
                                        ELSE 0 END) AS BIGINT) AS idcg_q
        FROM ranked GROUP BY 1
    )
    SELECT u AS user_id, n_retrieved, dcg_q, idcg_q,
           CASE WHEN idcg_q > 0
                THEN CAST(dcg_q * 1000000 // idcg_q AS BIGINT) END
               AS ndcg_micro
    FROM agg
    """,
    doc="per-user nDCG@5 retrieval evaluation (operators/ml.ndcg_eval, "
        "Järvelin & Kekäläinen 2002) of the implicit-feedback ranking "
        "'order items by click count' against graded purchase-count "
        "relevance — the quality twin of the recall evals c93/c140 and "
        "the ranking complement of c145's AUC. Position discounts "
        "1/log2(i+1) are PRE-quantized integer micro-weights "
        "(round(1e6/log2(i+1)) = 1000000, 630930, 500000, 430677, "
        "386853), so every gain is an exact BIGINT product — zero "
        "runtime transcendentals, bit-exact in any engine; the ideal "
        "ranking is over the same retrieved set (fixed-run convention). "
        "100 TB: one exchange on user feeds both row_number windows "
        "(same partitioning, exchange reuse) and the closing hash agg; "
        "the discount array is a literal, never a join",
    tags=("ml", "eval", "events"),
)
def c148_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import ndcg_eval

    e = views(spark, sf_dir, "events")["events"]
    item = F.get_json_object("props", "$.k").cast("long")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("u"), item.alias("item"))
        .agg(F.count(F.lit(1)).alias("score"))
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("u"), item.alias("item"))
        .agg(F.count(F.lit(1)).alias("rel"))
    )
    cand = clicks.join(purch, ["u", "item"], "left").select(
        "u", "item", "score", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    out = ndcg_eval(cand, "u", "item", "score", "rel", k=5)
    return out.select(
        F.col("grp").alias("user_id"),
        "n_retrieved",
        "dcg_q",
        "idcg_q",
        "ndcg_micro",
    )


@query(
    "c149_weighted_median",
    oracle="""
    WITH q AS (
        SELECT l_returnflag AS grp,
               CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)
                   AS v,
               CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT) AS w
        FROM lineitem
    ),
    byv AS (SELECT grp, v, SUM(w) AS wv FROM q GROUP BY 1, 2),
    cum AS (
        SELECT grp, v,
               SUM(wv) OVER (PARTITION BY grp ORDER BY v) AS cw,
               SUM(wv) OVER (PARTITION BY grp) AS tw
        FROM byv
    )
    SELECT grp,
           CAST(MAX(tw) AS BIGINT) AS total_w,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT)
               AS wmedian_q
    FROM cum GROUP BY 1
    """,
    doc="per-returnflag weighted (lower) median of extended price with "
        "quantity weights (operators/ml.weighted_median): the smallest "
        "value whose cumulative weight reaches half the group total — "
        "the robust weighted center (volume-weighted price, "
        "count-weighted latency). Cents-quantized BIGINT throughout; "
        "weight is PRE-aggregated per distinct value so the window "
        "cumsum runs over the value spectrum, not raw rows — both "
        "smaller and deterministic without a row tiebreaker. 100 TB: "
        "map-side-partial hash agg shrinks the shuffle to distinct "
        "values per group; the cumsum window and closing min-filter "
        "agg reuse the same partitioning; skewed groups bound memory "
        "by distinct-value count only",
    tags=("stats", "lineitem"),
)
def c149_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import weighted_median

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    return weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity", scale=100
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Chained-CTE replay of :func:`operators.graph.kcore`'s fixed-round
    peeling (one non-recursive stage per round — recursive CTEs cannot
    reference the recursion table twice, which the both-endpoints-alive
    join needs)."""
    stages = ["a0 AS (SELECT DISTINCT src AS node FROM e)"]
    for r in range(1, rounds + 1):
        stages.append(
            f"a{r} AS (SELECT e.src AS node FROM e "
            f"JOIN a{r - 1} s ON s.node = e.src "
            f"JOIN a{r - 1} t ON t.node = e.dst "
            f"GROUP BY 1 HAVING COUNT(*) >= {k})"
        )
    joined = ",\n    ".join(stages)
    return f"""
    WITH c AS (
        SELECT DISTINCT user_id * 2 AS u,
               CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 + 1 AS v
        FROM events WHERE event_type = 'click'
    ),
    e AS (SELECT u AS src, v AS dst FROM c UNION ALL SELECT v, u FROM c),
    {joined}
    SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e
    JOIN a{rounds} s ON s.node = e.src
    JOIN a{rounds} t ON t.node = e.dst
    GROUP BY 1
    """


@query(
    "c150_kcore_decomposition",
    oracle=_kcore_oracle(k=3, rounds=4),
    doc="k-core extraction (operators/graph.kcore) over the symmetrized "
        "user-item click graph (user nodes 2u, item nodes 2k+1 — "
        "disjoint id spaces): 4 fixed peel rounds each dropping nodes "
        "with degree < 3 inside the surviving subgraph, then the "
        "survivors' final degrees — the density filter run before "
        "expensive graph analytics (spam/fringe removal). Fixed-unroll "
        "contract: the oracle chains one CTE stage per round (recursive "
        "CTEs cannot join the recursion table twice), so one mis-peeled "
        "node fails the hash. All-integer. 100 TB: per round two "
        "node-set equi-joins + one map-side-combinable hash agg; edge "
        "set persists once, alive caches released round-over-round "
        "(pagerank hygiene); the alive set shrinks monotonically",
    bench=True,
    tags=("graph", "events"),
)
def c150_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    e = views(spark, sf_dir, "events")["events"]
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            (F.col("user_id") * 2).alias("u"),
            (
                F.get_json_object("props", "$.k").cast("long") * 2 + 1
            ).alias("v"),
        )
        .distinct()
    )
    # symmetrize in ONE pass: explode both orientations of each row —
    # the unionAll form planned the scan+JSON-parse+distinct subtree
    # twice (r16, guide §2.4: remove duplicate work feeding a shuffle)
    edges = clicks.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    return kcore(edges, k=3, rounds=4)


@query(
    "c151_rfm_segments",
    oracle="""
    WITH per AS (
        SELECT o_custkey AS key,
               MAX(CAST(o_orderdate AS DATE)) AS last_d,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
                   AS BIGINT)) AS BIGINT) AS monetary_q
        FROM orders GROUP BY 1
    ),
    g AS (
        SELECT key, frequency, monetary_q,
               CAST(date_diff('day', last_d,
                   MAX(last_d) OVER ()) AS BIGINT) AS recency_days,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM per
    ),
    s AS (
        SELECT key, recency_days, frequency, monetary_q, n,
               CAST(row_number() OVER (ORDER BY recency_days DESC, key)
                   AS BIGINT) AS rk_r,
               CAST(row_number() OVER (ORDER BY frequency, key)
                   AS BIGINT) AS rk_f,
               CAST(row_number() OVER (ORDER BY monetary_q, key)
                   AS BIGINT) AS rk_m
        FROM g
    )
    SELECT key, recency_days, frequency, monetary_q,
           CAST((rk_r - 1) * 5 // n + 1 AS BIGINT) AS r_score,
           CAST((rk_f - 1) * 5 // n + 1 AS BIGINT) AS f_score,
           CAST((rk_m - 1) * 5 // n + 1 AS BIGINT) AS m_score,
           CAST(((rk_r - 1) * 5 // n + 1) * 100
              + ((rk_f - 1) * 5 // n + 1) * 10
              + ((rk_m - 1) * 5 // n + 1) AS BIGINT) AS segment
    FROM s
    """,
    doc="RFM customer segmentation (operators/ml.rfm_segments): per "
        "customer, days since last order (vs the corpus max date — "
        "deterministic, no wall clock), order count, and cents-"
        "quantized spend, each mapped to a 1..5 score by the exact "
        "total-order rank formula (rank-1)*5 DIV n + 1 with the key as "
        "tiebreaker — NOT engine NTILE, whose remainder rules differ "
        "between Spark and DuckDB — then the 3-digit segment code. "
        "100 TB: one customer-cardinality hash agg, then three "
        "global_rank passes (distributed range sort + broadcast "
        "offsets, the r10-verdict scale form) over the aggregate and "
        "key-joins back; nothing event-sized past the first agg and "
        "no single-partition window anywhere",
    bench=True,
    tags=("ml", "analytics", "orders"),
)
def c151_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import rfm_segments

    o = views(spark, sf_dir, "orders")["orders"]
    return rfm_segments(o, "o_custkey", "o_orderdate", "o_totalprice")


@query(
    "c152_seasonal_dow_profile",
    oracle="""
    WITH b AS (
        SELECT event_type AS key,
               CAST(date_diff('day', DATE '1970-01-01',
                   CAST(ts AS DATE)) % 7 AS BIGINT) AS dow,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vq
        FROM events
    ),
    per AS (
        SELECT key, dow, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(vq) AS BIGINT) AS sum_q
        FROM b GROUP BY 1, 2
    )
    SELECT key, dow, n, sum_q,
           CAST(sum_q * 1000000 // n AS BIGINT) AS mean_micro,
           CAST(sum_q * 1000000 //
               (SUM(sum_q) OVER (PARTITION BY key)) AS BIGINT)
               AS share_micro
    FROM per
    """,
    doc="day-of-week seasonal profile per event type (operators/"
        "timeseries.seasonal_profile): observation count, exact cents "
        "sum, integer-micro mean and weekday share per (type, weekday) "
        "— the decomposition behind seasonal-naive forecasts and "
        "weekday-effect dashboards. Weekday is days-since-epoch mod 7 "
        "(0=Thursday), pure integer arithmetic — Spark dayofweek is "
        "1-based-Sunday, DuckDB 0-based-Sunday, and the mod-7 form "
        "sidesteps that locale/off-by-one family entirely. 100 TB: one "
        "map-side-combinable hash agg to (key, dow) = 7 rows per key, "
        "then a key-partitioned window over those 7 rows; no "
        "data-sized shuffle after the aggregate",
    tags=("timeseries", "events"),
)
def c152_seasonal_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import seasonal_profile

    e = views(spark, sf_dir, "events")["events"]
    return seasonal_profile(e, "event_type", "ts", "value")


@query(
    "c153_bmp_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id,
               (d.doc_id * 13 + y.y * 3 + x.x * 7) % 16 AS c
        FROM documents d, range(5) y(y), range(6) x(x)
    )
    SELECT doc_id,
           CAST(6 AS BIGINT) AS width,
           CAST(5 AS BIGINT) AS height,
           CAST(30 AS BIGINT) AS n_pixels,
           CAST(SUM((c * 5) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((c * 9) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((c * 13) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="REAL BMP decode, end-to-end verified — the uncompressed-"
        "container rung of the codec ladder (c64 PPM, c81/c83 PNG, "
        "c130 GIF LZW, c103 WAV): 6x5 images are ENCODED to genuine "
        "Windows BMPs — even ids 8-bit PALETTIZED bottom-up with a "
        "BGRA(0) color table, odd ids 24-bit BGR TOP-DOWN via the "
        "spec's negative-height convention, both exercising the "
        "4-byte row padding (18- and 6-byte rows each pad by 2) — "
        "then DECODED back (operators/multimodal.encode_bmp/"
        "encode_bmp_palette/decode_bmp) and reduced to exact integer "
        "channel sums. Pixel (x,y) of id i is (i*13+y*3+x*7) mod 16, "
        "color ((c*5)%256,(c*9)%256,(c*13)%256); the oracle recomputes "
        "the sums from that closed form alone, so one wrong byte in "
        "either path (palette order, row direction, padding, BGR "
        "swap) fails the hash. Arrow-batched mapInPandas in the "
        "scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c153_bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_channel_stats, synthesize_bmp_images

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_bmp_images(d, "doc_id", w=6, h=5))


@query(
    "c154_chi2_terms",
    oracle="""
    WITH pres AS (
        SELECT DISTINCT doc_id AS doc, lang AS label,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    n_total AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
                FROM documents),
    lab AS (SELECT lang AS label,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_lab
            FROM documents GROUP BY 1),
    term AS (SELECT term, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_term
             FROM pres GROUP BY 1),
    tl AS (SELECT label, term, CAST(COUNT(DISTINCT doc) AS BIGINT) AS a
           FROM pres GROUP BY 1, 2),
    j AS (
        SELECT tl.label, tl.term, tl.a,
               t.n_term - tl.a AS b,
               l.n_lab - tl.a AS c,
               nt.n - l.n_lab - t.n_term + tl.a AS d,
               l.n_lab, t.n_term, nt.n
        FROM tl JOIN lab l USING (label)
        JOIN term t USING (term) CROSS JOIN n_total nt
    ),
    s AS (
        SELECT label, term, a,
               ROUND(CAST(n * (a * d - b * c) * (a * d - b * c) AS DOUBLE)
                   / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE),
                   6) AS chi2_r6
        FROM j WHERE a * n > n_term * n_lab
    )
    SELECT label, term, a AS n_docs_term_label, chi2_r6,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT s.*, row_number() OVER (
              PARTITION BY label ORDER BY chi2_r6 DESC, term) AS rk
          FROM s)
    WHERE rk <= 3
    """,
    doc="chi-square term selection per language (operators/text."
        "chi2_terms; Yang-Pedersen ICML'97): top-3 positively-"
        "associated terms per class from the 2x2 presence contingency, "
        "N(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)). Counts and the numerator "
        "are exact BIGINT (inside int64 through ~1e6-doc evaluation "
        "samples — the documented boundary; the op targets a class-"
        "balanced sample, not the raw corpus); the one double division "
        "is rounded to 6 decimals on both engines; the positive-"
        "association gate a*N > n_term*n_lab is exact integer, which "
        "also excludes the term-in-every-doc 0/0 row by identity. "
        "100 TB: presence = one distinct inside the scan partitions; "
        "everything after is vocabulary-sized; label totals broadcast; "
        "the top-k window partitions by label over vocab-sized input",
    tags=("text", "ml", "documents"),
)
def c154_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import chi2_terms

    d = views(spark, sf_dir, "documents")["documents"]
    return chi2_terms(d, "doc_id", "text", "lang", top_k=3)


@query(
    "c155_ohlc_bars",
    oracle="""
    WITH b AS (
        SELECT user_id AS key, ts, event_id AS tie,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vq
        FROM events
    ),
    s AS (
        SELECT key, day, vq,
               row_number() OVER (PARTITION BY key, day
                   ORDER BY ts, tie) AS rn_a,
               row_number() OVER (PARTITION BY key, day
                   ORDER BY ts DESC, tie DESC) AS rn_d
        FROM b
    )
    SELECT key, day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn_a = 1 THEN vq END) AS BIGINT) AS open_q,
           CAST(MAX(vq) AS BIGINT) AS high_q,
           CAST(MIN(vq) AS BIGINT) AS low_q,
           CAST(MAX(CASE WHEN rn_d = 1 THEN vq END) AS BIGINT) AS close_q,
           CAST(SUM(vq) AS BIGINT) AS sum_q
    FROM s GROUP BY 1, 2
    """,
    doc="OHLC candle downsampling per (user, day) (operators/"
        "timeseries.ohlc_bars): open/close are the first/last "
        "observation in (ts, event_id) total order — the tiebreaker "
        "makes same-timestamp ticks deterministic — high/low/sum/count "
        "plain aggregates, all over cents-quantized integers. The "
        "tick-stream -> bar rollup every charting/feature pipeline "
        "runs. 100 TB: two row_number windows over the SAME (key, day) "
        "partitioning (one Exchange, reused) feeding one map-side-"
        "combinable hash agg; output shrinks to keys x days",
    tags=("timeseries", "events"),
)
def c155_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ohlc_bars

    e = views(spark, sf_dir, "events")["events"]
    out = ohlc_bars(e, "user_id", "ts", "event_id", "value")
    return out.withColumn("day", F.col("day").cast("string"))


@query(
    "c156_funnel_latency",
    oracle="""
    WITH f AS (
        SELECT user_id AS u, MIN(ts) AS t0
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id AS u, f.t0, MIN(e.ts) AS t1
        FROM events e JOIN f ON f.u = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= f.t0
        GROUP BY 1, 2
    ),
    lat AS (
        SELECT u,
               CAST(date_diff('day', DATE '1970-01-01',
                   CAST(t0 AS DATE)) % 7 AS BIGINT) AS cohort_dow,
               CAST(epoch_us(t1) - epoch_us(t0) AS BIGINT) AS lat_us
        FROM c
    ),
    r AS (
        SELECT cohort_dow, lat_us,
               row_number() OVER (PARTITION BY cohort_dow
                   ORDER BY lat_us, u) AS rk,
               COUNT(*) OVER (PARTITION BY cohort_dow) AS n
        FROM lat
    )
    SELECT cohort_dow,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MAX(CASE WHEN rk = (25 * n + 99) // 100
               THEN lat_us END) AS BIGINT) AS p25_us,
           CAST(MAX(CASE WHEN rk = (50 * n + 99) // 100
               THEN lat_us END) AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rk = (75 * n + 99) // 100
               THEN lat_us END) AS BIGINT) AS p75_us
    FROM r GROUP BY 1
    """,
    doc="view->purchase time-to-convert percentiles per exposure-"
        "weekday cohort (operators/sessions.funnel_latency): first "
        "view to FIRST subsequent purchase in exact integer "
        "MICROSECONDS (unix_micros/epoch_us — second truncation would "
        "alias sub-second funnels), percentile = the order statistic "
        "at rank ceil(q*n/100) (inverted-CDF, integer DIV — no "
        "interpolation semantics to diverge between engines), weekday "
        "= days-since-epoch mod 7. The follow-on distribution question "
        "after c34's funnel counts. 100 TB: two user-keyed hash aggs "
        "+ one user-keyed join; the rank window partitions by cohort "
        "over USER-level rows (swap approx_percentile in for "
        "beyond-memory cohorts, same shape)",
    tags=("events", "analytics", "sessions"),
)
def c156_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import funnel_latency

    e = views(spark, sf_dir, "events")["events"]
    return funnel_latency(e, "user_id", "ts", "event_type", "view", "purchase")


@query(
    "c157_lag_features",
    oracle="""
    WITH b AS (
        SELECT user_id AS key, ts, event_id AS tie,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vq
        FROM events
    ),
    w AS (
        SELECT key, ts, tie, vq,
               lag(vq, 1) OVER o AS lag1_q,
               lag(vq, 2) OVER o AS lag2_q,
               SUM(vq) OVER (o ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                   AS roll_sum_q,
               CAST(COUNT(vq) OVER
                   (o ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                   AS BIGINT) AS roll_n,
               MAX(vq) OVER (o ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                   AS roll_max_q
        FROM b
        WINDOW o AS (PARTITION BY key ORDER BY ts, tie)
    )
    SELECT key, ts, tie, vq, lag1_q, lag2_q,
           vq - lag1_q AS delta_q,
           roll_sum_q, roll_n,
           CASE WHEN roll_n > 0
                THEN CAST(roll_sum_q * 1000000 // roll_n AS BIGINT)
           END AS roll_mean_micro,
           roll_max_q
    FROM w
    """,
    doc="leakage-safe lag/rolling featurization per user (operators/"
        "ml.lag_features): lag1/lag2, delta, and trailing-window "
        "sum/count/mean/max where the frame ends at the PREVIOUS row — "
        "the current value never feeds its own features (the "
        "train-time leakage bug this frame rules out by construction). "
        "Cents-quantized integers; rolling mean in micro-quanta via "
        "integer DIV with an explicit empty-frame guard (DIV-by-zero "
        "semantics differ across engines); series-head lags stay NULL "
        "(the model's masking decision). 100 TB: every feature rides "
        "ONE key-partitioned ordering — a single Exchange + sort "
        "serves all lags and the frame; no joins, no Python",
    tags=("ml", "feature", "events"),
)
def c157_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import lag_features

    e = views(spark, sf_dir, "events")["events"]
    return lag_features(e, "user_id", "ts", "event_id", "value")


@query(
    "c158_stream_ohlc",
    oracle="""
    WITH b AS (
        SELECT user_id AS key, ts, event_id AS tie,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vq
        FROM events
    ),
    s AS (
        SELECT key, day, vq,
               row_number() OVER (PARTITION BY key, day
                   ORDER BY ts, tie) AS rn_a,
               row_number() OVER (PARTITION BY key, day
                   ORDER BY ts DESC, tie DESC) AS rn_d
        FROM b
    )
    SELECT key, day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn_a = 1 THEN vq END) AS BIGINT) AS open_q,
           CAST(MAX(vq) AS BIGINT) AS high_q,
           CAST(MIN(vq) AS BIGINT) AS low_q,
           CAST(MAX(CASE WHEN rn_d = 1 THEN vq END) AS BIGINT) AS close_q,
           CAST(SUM(vq) AS BIGINT) AS sum_q
    FROM s GROUP BY 1, 2
    """,
    doc="STREAMING twin of c155's OHLC bars (streaming/sessions."
        "stream_ohlc_into): candles maintained incrementally across "
        "micro-batches — the fixture splits events into two TIME-"
        "ORDERED files cut at 2024-01-15 NOON, so the boundary day's "
        "bars exist in BOTH batches and the cross-batch merge is "
        "actually exercised. Open/close are order-sensitive, so bar "
        "state carries its (ts, tie) endpoints and the merge picks "
        "winners by lexicographic struct min/max — associative AND "
        "commutative (batch-order independence pinned by an out-of-"
        "order pytest), which additive rollup counters (c54/c95) "
        "cannot express. Replay-idempotent via the (run_token, "
        "batch_id) marker protocol; final table must equal the batch "
        "oracle over the whole fixture",
    tags=("streaming", "timeseries", "events"),
)
def c158_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil as _sh

    from ..ingest import _clean_stale_location
    from ..session import load_table
    from ..streaming.sessions import read_events_stream, stream_ohlc_into

    views(spark, sf_dir, "events")  # oracle reads the same fixture
    e = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="bp_stream_ohlc_")
    cut = F.lit("2024-01-15 12:00:00").cast("timestamp")
    for i, pred in enumerate([F.col("ts") < cut, F.col("ts") >= cut]):
        tmp = os.path.join(d, f"_w{i}")
        e.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(d, f"part-{i}.parquet")
        _sh.copy(src, dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))
        _sh.rmtree(tmp)
    schema = spark.read.parquet(os.path.join(d, "part-0.parquet")).schema
    stream = read_events_stream(spark, d, schema, max_files_per_trigger=1)
    tbl = "bp_stream_ohlc_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # re-entrant: rebuild, not resume
    _clean_stale_location(spark, tbl, None)
    stream_ohlc_into(stream, tbl, source_dir=d)
    return spark.table(tbl).select(
        "key", "day", "n", "open_q", "high_q", "low_q", "close_q", "sum_q"
    )


@query(
    "c159_confusion_matrix",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, lang, unnest(toks) AS token FROM t),
    ct AS (
        SELECT lang AS cls, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY 1, 2
    ),
    tot AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS tot FROM ct GROUP BY 1),
    vocab AS (SELECT DISTINCT token FROM tok),
    vd AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    pri AS (
        SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    nd AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM pri),
    priq AS (
        SELECT cls,
               CAST(round(ln(CAST(n_docs AS DOUBLE)
                             / CAST(n_total AS DOUBLE)) * 1000000)
                   AS BIGINT) AS prior_q
        FROM pri CROSS JOIN nd
    ),
    grid AS (
        SELECT tt.cls, vb.token,
               CAST(round(ln(CAST(COALESCE(ct.cnt, 0) + 1 AS DOUBLE)
                             / CAST(tt.tot + vd.v AS DOUBLE)) * 1000000)
                   AS BIGINT) AS lp_q
        FROM tot tt
        CROSS JOIN vocab vb
        CROSS JOIN vd
        LEFT JOIN ct ON ct.cls = tt.cls AND ct.token = vb.token
    ),
    sc AS (
        SELECT tk.doc_id, tk.lang AS label, g.cls,
               CAST(SUM(g.lp_q) AS BIGINT) AS tok_q
        FROM tok tk JOIN grid g ON g.token = tk.token
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT s.doc_id, s.label, s.cls,
               s.tok_q + p.prior_q AS score_q
        FROM sc s JOIN priq p ON p.cls = s.cls
    ),
    pred AS (
        SELECT doc_id, label, cls AS pred_label
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY score_q DESC, cls ASC) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    cells AS (
        SELECT label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ),
    sized AS (
        SELECT label, pred_label, n,
               CAST(SUM(n) OVER (PARTITION BY label) AS BIGINT) AS row_tot,
               CAST(SUM(n) OVER (PARTITION BY pred_label) AS BIGINT)
                   AS col_tot
        FROM cells
    )
    SELECT label, pred_label, n, row_tot, col_tot,
           CASE WHEN label = pred_label
                THEN CAST(n * 1000000 // row_tot AS BIGINT) END
               AS recall_micro,
           CASE WHEN label = pred_label
                THEN CAST(n * 1000000 // col_tot AS BIGINT) END
               AS precision_micro
    FROM sized
    """,
    doc="classifier evaluation: confusion matrix with per-class "
        "precision/recall of the c112 Naive Bayes language classifier "
        "(operators/ml.confusion_matrix over naive_bayes_classify) — "
        "the readout aggregate every classifier pipeline ends with. "
        "Diagonal cells carry recall = n*1e6 DIV true-class total and "
        "precision = n*1e6 DIV predicted-class total as exact integer "
        "micro-units; off-diagonal cells carry the error mass. The "
        "oracle replays the ENTIRE classifier (same micro-unit NB "
        "chain as c112) plus the evaluation, so a drift in either "
        "fails the hash. 100 TB: evaluation is one hash aggregate to "
        "classes-squared cells + two window sums over that tiny grid; "
        "the classifier dominates, never the readout",
    tags=("ml", "eval", "documents"),
)
def c159_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import confusion_matrix, naive_bayes_classify

    d = views(spark, sf_dir, "documents")["documents"]
    return confusion_matrix(
        naive_bayes_classify(d, "doc_id", "text", "lang"),
        "label",
        "pred_label",
    )


@query(
    "c160_twap",
    oracle="""
    WITH b AS (
        SELECT user_id AS key, ts, event_id AS tie,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vq
        FROM events
    ),
    s AS (
        SELECT key, day, vq,
               epoch_ms(lead(ts) OVER (PARTITION BY key, day
                   ORDER BY ts, tie)) - epoch_ms(ts) AS dt_ms
        FROM b
    )
    SELECT key, day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(dt_ms), 0) AS BIGINT) AS dur_ms,
           CASE WHEN COALESCE(SUM(dt_ms), 0) > 0
                THEN ROUND(CAST(SUM(vq * dt_ms) AS DOUBLE)
                           / CAST(SUM(dt_ms) AS DOUBLE), 6)
           END AS twap_r6
    FROM s GROUP BY 1, 2
    """,
    doc="time-weighted average value per (user, day) (operators/"
        "timeseries.twap): each observation weighted by the integer "
        "MILLISECONDS it held until the next one (lead window, (ts, "
        "event_id) total order); the day's last observation carries no "
        "weight — the finance/metering mean where irregular spacing "
        "makes the plain average wrong. Numerator and denominator are "
        "exact BIGINTs, the one closing division is double rounded to "
        "6 decimals; single-observation days yield NULL explicitly. "
        "100 TB: the lead window and closing hash agg share ONE "
        "(key, day) Exchange; int64-safe through ~1e3-observation "
        "days at cent precision (coarser dt unit past that)",
    tags=("timeseries", "events"),
)
def c160_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import twap

    e = views(spark, sf_dir, "events")["events"]
    return twap(e, "user_id", "ts", "event_id", "value")


@query(
    "c161_user_growth_daily",
    oracle="""
    WITH b AS (
        SELECT user_id AS u, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
        FROM events
    ),
    daily AS (
        SELECT day, CAST(COUNT(DISTINCT u) AS BIGINT) AS n_active,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM b GROUP BY 1
    ),
    fd AS (SELECT u, MIN(day) AS day FROM b GROUP BY 1),
    nb AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new FROM fd GROUP BY 1)
    SELECT d.day, d.n_active, d.n_events,
           CAST(COALESCE(nb.n_new, 0) AS BIGINT) AS n_new,
           CAST(SUM(COALESCE(nb.n_new, 0)) OVER (ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_distinct_users
    FROM daily d LEFT JOIN nb ON nb.day = d.day
    """,
    doc="daily active / new / cumulative-distinct user curve "
        "(operators/sessions.user_growth_daily): DAU and event volume "
        "per day plus growth via the FIRST-SEEN identity — cumulative "
        "distinct users = running sum of per-day first-appearances, "
        "which replaces the O(days x corpus) COUNT(DISTINCT) OVER "
        "rescan with one user-cardinality min-aggregate and a running "
        "sum over the DAY-level table (the single-partition window is "
        "over calendar days — dozens of rows, not data). 100 TB: one "
        "(day,user) distinct rollup + one user-keyed min; nothing "
        "rescans history",
    tags=("events", "analytics"),
)
def c161_user_growth_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import user_growth_daily

    e = views(spark, sf_dir, "events")["events"]
    return user_growth_daily(e, "user_id", "ts")


@query(
    "c162_embedding_standardize",
    oracle="""
    WITH x AS (
        SELECT vec_id, CAST(i.i - 1 AS BIGINT) AS dim,
               CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS xq
        FROM embeddings, range(1, 65) i(i)
    ),
    st AS (
        SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS s,
               CAST(SUM(xq * xq) AS BIGINT) AS ssq
        FROM x GROUP BY 1
    ),
    ms AS (
        SELECT dim,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
               sqrt(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS std_q
        FROM st
    )
    SELECT x.vec_id, x.dim,
           CASE WHEN ms.std_q > 0
                THEN ROUND((CAST(x.xq AS DOUBLE) - ms.mean_q) / ms.std_q, 6)
           END AS z_r6
    FROM x JOIN ms USING (dim)
    """,
    doc="per-dimension z-score standardization of the embedding "
        "column (operators/similarity.embedding_standardize) — the "
        "whitening-lite preprocessing before k-means/IVF training when "
        "dimensions carry different scales. Components quantize to "
        "micro-units once, so per-dim sums and sums-of-squares are "
        "exact BIGINTs; mean/variance derive in a FIXED IEEE order "
        "(ssq/n - (s/n)^2 — never the int64-overflowing s^2), std is "
        "one correctly-rounded sqrt, z rounds to 6 dp; zero-variance "
        "dims yield NULL, not Inf. LONG-format output (vec_id, dim, "
        "z_r6). 100 TB: posexplode inside the scan partitions; the "
        "stats table is 64 rows and broadcasts back; the data-sized "
        "side shuffles once for its own aggregate",
    tags=("similarity", "feature", "embeddings"),
)
def c162_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_standardize

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return embedding_standardize(e)


@query(
    "c163_source_lang_diversity",
    oracle="""
    WITH c AS (
        SELECT source AS grp, lang AS cat,
               CAST(COUNT(*) AS BIGINT) AS ni
        FROM documents GROUP BY 1, 2
    ),
    g AS (
        SELECT grp, CAST(SUM(ni) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_cats,
               CAST(MAX(ni) AS BIGINT) AS top,
               CAST(SUM(ni * ni) AS BIGINT) AS ss
        FROM c GROUP BY 1
    )
    SELECT grp, n, n_cats,
           CAST(top * 1000000 // n AS BIGINT) AS top_share_micro,
           CAST((n * n - ss) * 1000000 // (n * n) AS BIGINT) AS gini_micro
    FROM g
    """,
    doc="per-source language diversity (operators/text."
        "group_diversity): Gini-Simpson index 1 - sum(p_i^2) and "
        "majority share, FULLY integer (no logs — the no-"
        "transcendental twin of c138's token entropy): (N^2 - sum "
        "n_i^2)*1e6 DIV N^2. The curation audit flagging mixed-"
        "language sources (often scraped junk). 100 TB: two stacked "
        "map-side-combinable hash aggregates, group-cardinality "
        "output; int64-safe through ~3e6 rows per group (drop the "
        "micro factor past that)",
    tags=("text", "analytics", "documents"),
)
def c163_source_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import group_diversity

    d = views(spark, sf_dir, "documents")["documents"]
    return group_diversity(d, "source", "lang")


@query(
    "c164_ivf_probe_recall",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    cents AS (SELECT vec_id AS cent_id, qv AS cq FROM v WHERE vec_id < 16),
    cells AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (SELECT * FROM (VALUES (1), (2), (4)) t(p)),
    qcells AS (
        SELECT vec_id, qv, norm, cent_id, rn FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN cents c
            WHERE n.vec_id < 10
        )
    ),
    ivf AS (
        SELECT pr.p, q.vec_id AS query_id, s.vec_id AS neighbor_id,
               CAST({_DUCK_DOT.format(a='q.qv', b='s.qv')} AS DOUBLE)
                 / (sqrt(CAST(q.norm AS DOUBLE))
                    * sqrt(CAST(s.norm AS DOUBLE))) AS cosine
        FROM probes pr
        JOIN qcells q ON q.rn <= pr.p
        JOIN cells s ON s.cell = q.cent_id
        WHERE q.vec_id <> s.vec_id
    ),
    ivf_topk AS (
        SELECT p, query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY p, query_id
                ORDER BY cosine DESC, neighbor_id) AS rk
            FROM ivf
        ) WHERE rk <= 5
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY
                           CAST({_DUCK_DOT.format(a='q.qv', b='s.qv')}
                               AS DOUBLE)
                             / (sqrt(CAST(q.norm AS DOUBLE))
                                * sqrt(CAST(s.norm AS DOUBLE))) DESC,
                           s.vec_id) AS rk
            FROM n q CROSS JOIN n s
            WHERE q.vec_id < 10 AND q.vec_id <> s.vec_id
        ) WHERE rk <= 5
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
    h AS (
        SELECT t.p, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM ivf_topk t JOIN truth u
          ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
        GROUP BY 1
    )
    SELECT CAST(pr.p AS BIGINT) AS nprobe,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           nt.n_truth,
           CAST(COALESCE(h.n_hits, 0) * 1000000 // nt.n_truth AS BIGINT)
               AS recall_micro
    FROM probes pr LEFT JOIN h ON h.p = pr.p CROSS JOIN nt
    """,
    doc="nprobe sweep for the IVF index (operators/similarity."
        "ivf_probe_recall): recall@5 of c17's IVF at nprobe 1/2/4 "
        "against the exact brute-force truth on the same queries — the "
        "tuning curve read before fixing the recall/latency trade-off, "
        "and the IVF-axis member of the eval family (c93 = LSH axis, "
        "c140 = Matryoshka truncation axis). Recall in exact integer "
        "micro-units; monotone in nprobe by construction (nested "
        "probed-cell sets) and nprobe=n_cells ⇒ recall=1e6, both "
        "pytest-pinned. 100 TB: truth is the deliberately quadratic "
        "baseline — sweep on a QUERY SAMPLE (the c93 contract); each "
        "IVF pass scans ~nprobe/n_cells of the corpus",
    tags=("similarity", "eval", "embeddings"),
)
def c164_ivf_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_probe_recall

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_probe_recall(
        e, e.filter(F.col("vec_id") < 10), k=5, n_cells=16, probes=(1, 2, 4)
    )


_SIMILAR_TO_SQL = """
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name SIMILAR TO '%(green|blue)%'
      AND p_type NOT SIMILAR TO 'ECONOMY%'
      AND p_type SIMILAR TO '%[A-Z]{5}%'
    ORDER BY p_partkey
"""


@query(
    "q91_similar_to",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE regexp_full_match(p_name, '(?:.*(green|blue).*)')
      AND NOT regexp_full_match(p_type, '(?:ECONOMY.*)')
      AND regexp_full_match(p_type, '(?:.*[A-Z]{5}.*)')
    ORDER BY p_partkey
    """,
    doc="Redshift/SQL-standard SIMILAR TO pattern matching "
        "(functions/redshift_compat._rewrite_similar_to): Spark SQL "
        "has no SIMILAR TO, so the shim translates the SQL pattern "
        "language to an anchored RLIKE regex — % -> .*, _ -> ., "
        "alternation/classes/quantifiers pass through, and regex "
        "metacharacters that SQL treats as LITERALS (notably '.') are "
        "escaped. NOT SIMILAR TO and mixed predicates covered; ESCAPE "
        "forms pass through untouched by design. The ORACLE encodes "
        "the intended semantics as explicit regexp_full_match (DuckDB "
        "implements SIMILAR TO as raw regex, NOT the SQL standard — "
        "using it would test the wrong thing). 100 TB: the rewritten "
        "predicate is a plain pushable string filter",
    tags=("dialect", "part"),
)
def q91_similar_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "part")
    return spark.sql(translate_redshift_sql(_SIMILAR_TO_SQL))


@query(
    "c165_dup_rate_by_source",
    oracle="""
    WITH b AS (
        SELECT source AS grp, md5(lower(trim(text))) AS fp
        FROM documents
    ),
    m AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_copies
          FROM b GROUP BY 1)
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT b.fp) AS BIGINT) AS n_unique_texts,
           CAST(SUM(CASE WHEN m.n_copies >= 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dup_docs,
           CAST(SUM(CASE WHEN m.n_copies >= 2 THEN 1 ELSE 0 END)
               * 1000000 // COUNT(*) AS BIGINT) AS dup_rate_micro
    FROM b JOIN m ON m.fp = b.fp
    GROUP BY 1
    """,
    doc="duplication-rate audit per source (operators/dedup."
        "dup_rate_by_group): share of each source's documents whose "
        "c01-normalized fingerprint has CORPUS-wide multiplicity >= 2 "
        "— the triage view that routes mirror/scraper-loop sources to "
        "the expensive near-dup pass and reconciles exactly with "
        "c01's groups (same md5(lower(trim)) normalization). Exact "
        "integer micro rate. 100 TB: one fingerprint hash agg + one "
        "fingerprint-keyed join back + one group agg — the same "
        "single-shuffle shape as exact dedup itself",
    tags=("dedup", "analytics", "documents"),
)
def c165_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_rate_by_group

    d = views(spark, sf_dir, "documents")["documents"]
    return dup_rate_by_group(d, "doc_id", "text", "source")


@query(
    "a07_copy_fixedwidth",
    oracle="""
    SELECT c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS sum_acctbal_cents,
           CAST(MIN(c_custkey) AS BIGINT) AS min_custkey,
           CAST(MAX(c_custkey) AS BIGINT) AS max_custkey
    FROM customer
    GROUP BY 1
    ORDER BY 1
    """,
    doc="COPY FIXEDWIDTH load parity (the one Redshift COPY format with "
        "no Spark reader; functions/copy_unload.py parse + "
        "ingest.read_fixedwidth): the fixture is rendered to "
        "fixed-width text lines (format_string pads, exact decimal "
        "cents for the money column), COPY'd back with FIXEDWIDTH "
        "'name:width,...' TRIMBLANKS, and the typed aggregate over the "
        "loaded strings must reproduce the source table exactly — key "
        "range, counts, and cent-exact balances per segment. The scan "
        "is one spark.read.text + JVM substring slices (splittable "
        "like CSV, no Python in the row path); over-long rows fail AT "
        "EXECUTION via raise_error folded into the first column so "
        "layout validation never costs a second 100 TB pass. "
        "Option-conflict refusals (FORMAT/DELIMITER/IGNOREHEADER/"
        "MAXERROR) and short-row pad semantics are pytest-pinned",
    tags=("native", "ingest", "dialect"),
)
def a07_copy_fixedwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    c = views(spark, sf_dir, "customer")["customer"]
    tmp = tempfile.mkdtemp(prefix="bp_fixedwidth_")
    lines = c.select(
        F.format_string(
            "%-12d%-14s%-16d",
            F.col("c_custkey"),
            F.col("c_mktsegment"),
            (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint"),
        ).alias("value")
    )
    data_dir = os.path.join(tmp, "customer_fw")
    lines.write.mode("overwrite").text(data_dir)
    tbl = "bp_fixedwidth_customer"
    _clean_stale_location(spark, tbl, None)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    execute_sql(
        spark,
        f"COPY {tbl} FROM '{data_dir}' FIXEDWIDTH "
        "'c_custkey:12,c_mktsegment:14,acctbal_cents:16' TRIMBLANKS",
    )
    return (
        spark.table(tbl)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("acctbal_cents").cast("bigint")).alias(
                "sum_acctbal_cents"
            ),
            F.min(F.col("c_custkey").cast("bigint")).alias("min_custkey"),
            F.max(F.col("c_custkey").cast("bigint")).alias("max_custkey"),
        )
        .orderBy("mktsegment")
    )


@query(
    "q92_connect_by",
    oracle="""
    WITH RECURSIVE tree AS (
        SELECT c_custkey AS id,
               CAST(NULL AS BIGINT) AS parent_id,
               c_mktsegment AS segment,
               CAST(1 AS BIGINT) AS lvl
        FROM customer
        WHERE c_custkey < 10
        UNION ALL
        SELECT c.c_custkey,
               CAST(c.c_custkey // 10 AS BIGINT),
               c.c_mktsegment,
               t.lvl + 1
        FROM customer c
        JOIN tree t ON c.c_custkey // 10 = t.id AND c.c_custkey >= 10
    )
    SELECT CAST(id AS BIGINT) AS id,
           parent_id,
           lvl,
           segment
    FROM tree
    ORDER BY id
    """,
    doc="Redshift CONNECT BY hierarchical query "
        "(functions/hierarchy.py): SELECT ... START WITH pred CONNECT "
        "BY PRIOR key = parent with the LEVEL pseudo-column — the "
        "Oracle-style dialect form Spark SQL lacks. Lowered to "
        "iterative frontier joins (level k+1 = rows whose parent "
        "matches a level-k key, one row PER PATH — no distinct, the "
        "hierarchical multiplicity semantics, pinned by a "
        "two-parents unit test), LEVEL exposed as a column so select "
        "list / WHERE-after-hierarchy / ORDER BY run as plain SQL "
        "over the expansion. Cycle growth past max_levels raises "
        "(Redshift errors on loops). The fixture hierarchy is "
        "custkey -> custkey DIV 10 (digit-depth tree over the whole "
        "table); the oracle is the recursive CTE this desugars to. "
        "100 TB: per level ONE equi-join, frontier broadcast while "
        "dimension-sized (broadcast_frontier=False falls back to "
        "AQE), base relation cached once — never re-read per level",
    tags=("dialect", "customer"),
)
def q92_connect_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hierarchy import run_connect_by

    views(spark, sf_dir, "customer")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW bp_cust_tree AS
           SELECT c_custkey AS id,
                  CASE WHEN c_custkey < 10 THEN CAST(NULL AS BIGINT)
                       ELSE c_custkey DIV 10 END AS parent_id,
                  c_mktsegment AS segment
           FROM customer"""
    )
    return run_connect_by(
        spark,
        """SELECT id, parent_id, LEVEL AS lvl, segment
           FROM bp_cust_tree
           START WITH parent_id IS NULL
           CONNECT BY PRIOR id = parent_id
           ORDER BY id""",
    )


@query(
    "c166_decision_stump",
    oracle="""
    WITH pv AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS threshold,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) AS BIGINT) AS pos
        FROM events
        GROUP BY 1
    ),
    cum AS (
        SELECT threshold,
               CAST(SUM(n) OVER (ORDER BY threshold) AS BIGINT) AS n_left,
               CAST(SUM(pos) OVER (ORDER BY threshold) AS BIGINT)
                   AS pos_left,
               CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
               CAST(SUM(pos) OVER () AS BIGINT) AS pos_tot
        FROM pv
    ),
    sides AS (
        SELECT threshold, n_left, pos_left,
               n_tot - n_left AS n_right,
               pos_tot - pos_left AS pos_right
        FROM cum WHERE n_left < n_tot
    )
    SELECT threshold,
           CAST((pos_left*pos_left + (n_left-pos_left)*(n_left-pos_left))
                    * 1000000 // n_left
              + (pos_right*pos_right
                 + (n_right-pos_right)*(n_right-pos_right))
                    * 1000000 // n_right AS BIGINT) AS score_micro,
           n_left, pos_left, n_right, pos_right
    FROM sides
    ORDER BY score_micro DESC, threshold
    LIMIT 5
    """,
    doc="decision stump / exact best-split search (operators/ml."
        "decision_stump): the CART building block — over every "
        "distinct feature value v, score the split x<=v against the "
        "purchase label by weighted Gini, all-integer. Algebra: "
        "N*sum_gini = N - [(posL²+negL²)/nL + (posR²+negR²)/nR], so "
        "minimizing Gini = maximizing the bracket; each rational term "
        "quantizes as num*1e6 DIV n (exact BIGINT to ~2e6 rows, bound "
        "documented). Ties to smallest threshold; empty-right split "
        "excluded; top-5 reported. 100 TB: ONE hash aggregate to the "
        "distinct-cents table (map-side partials), then prefix sums "
        "via sampling.global_cumsum — range-partition + broadcast "
        "offsets, NO partition-less window (a continuous feature's "
        "value table is corpus-sized; VERDICT r11 item 2) — totals as "
        "exact literals, TakeOrdered winner; the corpus is read once",
    tags=("ml", "events"),
    bench=True,
)
def c166_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import decision_stump

    e = views(spark, sf_dir, "events")["events"]
    labeled = e.select(
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return decision_stump(labeled, "x", "y", top_k=5)


@query(
    "c167_link_prediction",
    oracle="""
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT a.p AS lo, b.p AS hi
        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    adj AS (
        SELECT lo AS u, hi AS v FROM e
        UNION ALL SELECT hi, lo FROM e
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
    adjw AS (
        SELECT a.u, a.v,
               CAST(1000000000000
                    // CAST(round(ln(CAST(d.deg AS DOUBLE)) * 1000000)
                            AS BIGINT) AS BIGINT) AS w
        FROM adj a JOIN deg d ON d.u = a.u
        WHERE d.deg >= 2
    ),
    pairs AS (
        SELECT x.v AS a, y.v AS b,
               CAST(COUNT(*) AS BIGINT) AS cn,
               CAST(SUM(x.w) AS BIGINT) AS aa_micro
        FROM adjw x JOIN adj y ON y.u = x.u AND x.v < y.v
        GROUP BY 1, 2
    ),
    nonedge AS (
        SELECT p.* FROM pairs p
        WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.lo = p.a AND e.hi = p.b
        )
    )
    SELECT n.a, n.b, n.cn,
           CAST(n.cn * 1000000 // (da.deg + db.deg - n.cn) AS BIGINT)
               AS jaccard_micro,
           n.aa_micro
    FROM nonedge n
    JOIN deg da ON da.u = n.a
    JOIN deg db ON db.u = n.b
    ORDER BY jaccard_micro DESC, aa_micro DESC, a, b
    LIMIT 20
    """,
    doc="neighborhood link prediction (operators/graph."
        "link_prediction; Liben-Nowell-Kleinberg CIKM'03) over the "
        "support->=2 co-purchase graph (part pairs sharing >= 2 "
        "orders — the min-support that keeps co-occurrence signal and "
        "not one-basket noise): score every non-edge sharing a "
        "neighbor by common-neighbor count, integer Jaccard "
        "(cn*1e6 DIV (da+db-cn)) and Adamic-Adar (sum of 1e12 DIV "
        "ln_micro(deg z) — the fixed-IEEE ln contract), top-20 "
        "deterministic (jaccard, aa, pair). Wedge centers need "
        "deg >= 2 (a deg-1 center forms no wedge AND ln(1)=0 would "
        "divide by zero under ANSI). 100 TB: the wedge self-join is "
        "SUM(deg_z^2) — link prediction needs EVERY wedge so degree "
        "orientation cannot bound it; the levers are the edge "
        "min-support and max_center_degree (hub-cap, c106 "
        "discipline). All equi-joins + one hash agg; TakeOrdered exit",
    tags=("graph", "similarity"),
    bench=True,
)
def c167_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import link_prediction

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    lp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = (
        lp.alias("a")
        .join(lp.alias("b"), "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("src", "dst")
    )
    return link_prediction(edges, k=20)


@query(
    "a08_copy_unload_json",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_totalprice,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    doc="JSON COPY/UNLOAD round-trip (functions/copy_unload.py JSON "
        "branch — the Redshift FORMAT AS JSON / COPY ... JSON 'auto' "
        "feed shape): UNLOAD the fixture to JSON-lines, COPY it back "
        "with schema auto-inference, and the typed aggregate over the "
        "reloaded table must reproduce the source exactly — doubles "
        "survive the text round-trip via shortest-repr (the a02 CSV "
        "contract), keys and counts exactly. jsonpaths files refuse "
        "loudly (only 'auto' lowers onto Spark's reader). 100 TB: "
        "JSON-lines is splittable, so both directions stay one "
        "distributed scan/write; the schema inference pass is the "
        "known extra read (PLANS note), avoided in production by "
        "COPY-ing into a declared table",
    tags=("native", "ingest", "export", "json"),
)
def a08_copy_unload_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="bp_json_")
    out_dir = os.path.join(tmp, "orders_json")
    execute_sql(
        spark,
        f"""UNLOAD ('SELECT o_orderkey, o_orderstatus, o_totalprice
                     FROM orders')
            TO '{out_dir}' FORMAT AS JSON""",
    )
    tbl = "bp_json_orders"
    _clean_stale_location(spark, tbl, None)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    execute_sql(spark, f"COPY {tbl} FROM '{out_dir}' FORMAT AS JSON 'auto'")
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "sum_totalprice"),
            F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "c168_calibration_brier",
    oracle="""
    WITH base AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000
                   AS band,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               ts < TIMESTAMP '2024-01-16' AS is_train
        FROM events
    ),
    bands AS (
        SELECT band,
               CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS band_p
        FROM base WHERE is_train GROUP BY 1
    ),
    prior AS (
        SELECT CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS prior_p
        FROM base WHERE is_train
    ),
    scored AS (
        SELECT t.y, COALESCE(b.band_p, p.prior_p) AS p_micro
        FROM base t
        LEFT JOIN bands b ON b.band = t.band
        CROSS JOIN prior p
        WHERE NOT t.is_train
    )
    SELECT LEAST(CAST(p_micro // 100000 AS BIGINT), CAST(9 AS BIGINT))
               AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS avg_pred_micro,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS emp_rate_micro,
           CAST(SUM((p_micro - y * 1000000) * (p_micro - y * 1000000))
               AS BIGINT) AS brier_sum
    FROM scored
    GROUP BY 1
    ORDER BY 1
    """,
    doc="probability calibration + Brier evaluation (operators/ml."
        "banded_rate_score + calibration_report): train a histogram "
        "model (empirical purchase rate per 50-unit value band, exact "
        "pos*1e6 DIV n) on pre-cutoff events, score post-cutoff events "
        "(unseen bands fall back to the training prior — no silent row "
        "drops), then bucket predictions into deciles and report per "
        "bin the count, mean predicted probability, empirical rate "
        "(equal iff calibrated) and summed squared error in micro² "
        "(total Brier = SUM(brier_sum)/SUM(n)). Completes the eval "
        "family (AUC c145, nDCG c148, confusion c159, PSI c125) with "
        "the PROBABILITY-quality axis. All integer; per-row sqerr "
        "<= 1e12 so BIGINT-safe to ~9e6 test rows (documented). "
        "100 TB: model = one band-sized aggregate broadcast back; "
        "report = ONE aggregate to 10 bins with map-side partials; "
        "the corpus is read twice (train agg, test score) and never "
        "shuffles row-wise",
    tags=("ml", "events"),
    bench=True,
)
def c168_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import banded_rate_score, calibration_report

    e = views(spark, sf_dir, "events")["events"]
    base = e.select(
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 5000"
        ).alias("band"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias(
            "is_train"
        ),
    )
    train = base.filter("is_train")
    test = base.filter("NOT is_train")
    return calibration_report(banded_rate_score(train, test, "band", "y"))


@query(
    "c169_xcorr_lags",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    paired AS (
        SELECT l.lag, a.x, b.y AS y_lead
        FROM daily a
        CROSS JOIN generate_series(0, 7) AS l(lag)
        JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
    ),
    agg AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y_lead) AS BIGINT) AS sy,
               CAST(SUM(x * y_lead) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y_lead * y_lead) AS BIGINT) AS syy
        FROM paired GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           n_days,
           CASE WHEN n_days * sxx - sx * sx > 0
                 AND n_days * syy - sy * sy > 0
                THEN ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
                                  * CAST(n_days * syy - sy * sy
                                         AS DOUBLE)), 6)
           END AS corr
    FROM agg
    ORDER BY lag
    """,
    doc="cross-correlation lag scan (operators/timeseries.xcorr_lags): "
        "Pearson corr of (views_t, purchases_t+lag) for lag 0..7 — "
        "does view volume LEAD purchase volume, the lead-lag discovery "
        "primitive behind attribution windows and forecast features. "
        "Exact BIGINT sufficient stats per lag, corr as the c120/c121 "
        "fixed-IEEE ROUND-6 expression, zero-variance lags NULL, "
        "shrinking overlap reported as n_days. 100 TB: the corpus "
        "collapses to the DAYS table in ONE aggregate (c161 "
        "discipline); the lag explode (8 copies), shifted self "
        "equi-join and lags-sized agg are all metadata-sized — no "
        "corpus shuffle, no unbounded window",
    tags=("timeseries", "events"),
    bench=True,
)
def c169_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import xcorr_lags

    e = views(spark, sf_dir, "events")["events"]
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "view").cast("int")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("y"),
    )
    return xcorr_lags(daily, "day", "x", "y", max_lag=7)


@query(
    "c170_semantic_decontaminate",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv,
               vec_id % 20 = 0 AS is_eval
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv, is_eval,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    scored AS (
        SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
               CAST({_DUCK_DOT.format(a='t.qv', b='e.qv')} AS DOUBLE)
                 / (sqrt(CAST(t.norm AS DOUBLE))
                    * sqrt(CAST(e.norm AS DOUBLE))) AS cosine
        FROM n t CROSS JOIN n e
        WHERE NOT t.is_eval AND e.is_eval
    ),
    hits AS (SELECT * FROM scored WHERE cosine >= 0.3)
    SELECT train_id AS vec_id, eval_id AS matched_eval_id,
           cosine AS max_cosine
    FROM (SELECT *, row_number() OVER (
              PARTITION BY train_id
              ORDER BY cosine DESC, eval_id) AS rn
          FROM hits)
    WHERE rn = 1
    ORDER BY vec_id
    """,
    doc="semantic decontamination (operators/similarity."
        "semantic_decontaminate): flag train vectors whose cosine to "
        "ANY held-out eval vector (vec_id % 20 = 0 — the frozen "
        "benchmark suite) reaches 0.3 — the embedding-space complement "
        "of c39's n-gram decontamination, catching paraphrases that "
        "share no surface n-grams (standard second hygiene pass for "
        "LLM training data). Quantized-integer dot/norms, one "
        "deterministic double cosine (the c06 contract) so the "
        "threshold compare is bit-reproducible; best match per flagged "
        "vector via struct-max (ties to smallest eval id), no window "
        "over the pair stream. 100 TB: eval suites are small+frozen — "
        "broadcast them, stream the corpus through map-side scoring "
        "ONCE, one corpus-keyed agg; scale path if eval outgrows "
        "broadcast = IVF cell-prune (c17/c94) feeding this scorer",
    tags=("similarity", "dedup", "embeddings"),
    bench=True,
)
def c170_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_decontaminate

    emb = views(spark, sf_dir, "embeddings")["embeddings"]
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0),
        threshold=0.3,
    )


@query(
    "a09_copy_gzip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem
    WHERE l_linenumber = 1
    GROUP BY 1
    ORDER BY 1
    """,
    doc="gzip-compressed COPY (the flag on practically every real "
        "Redshift COPY — feeds arrive gzipped): the fixture is written "
        "as .csv.gz part files (Spark's gzip codec), COPY'd back with "
        "the GZIP option (accepted; Spark's text readers decompress "
        "by extension, so the option is parse-parity — documented "
        "no-op at copy_unload.py), and the typed aggregate must "
        "reproduce the source exactly through the compressed text "
        "round-trip. 100 TB note, stated not hidden: gzip is NOT "
        "splittable — each .gz file is one task, so the writer side "
        "controls load parallelism via file count (here Spark's "
        "default partitioning writes many part files; a single "
        "100 GB .gz would serialize its scan — prefer zstd/bzip2 or "
        "many parts for big feeds)",
    tags=("native", "ingest", "lineitem"),
)
def a09_copy_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    tmp = tempfile.mkdtemp(prefix="bp_gzip_")
    out_dir = os.path.join(tmp, "lineitem_gz")
    (
        li.filter(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("header", True)
        .csv(out_dir)
    )
    assert any(f.endswith(".csv.gz") for f in os.listdir(out_dir)), (
        "expected gzip part files"
    )
    tbl = "bp_gzip_lineitem"
    _clean_stale_location(spark, tbl, None)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    execute_sql(
        spark,
        f"COPY {tbl} FROM '{out_dir}' CSV IGNOREHEADER 1 GZIP "
        "DELIMITER ','",
    )
    return (
        spark.table(tbl)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "a10_copy_text_options",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN o_orderkey % 10 <> 0 THEN 1 END)
               AS BIGINT) AS n_price,
           CAST(COUNT(CASE WHEN o_orderkey % 7 = 0 THEN 1 END)
               AS BIGINT) AS n_null_prio,
           CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
           CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date,
           CAST(SUM(CASE WHEN o_orderkey % 10 <> 0
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
               AS DOUBLE) AS sum_price
    FROM orders
    """,
    doc="COPY text-load options (functions/copy_unload.py → Spark CSV "
        "reader options): the fixture is rendered to CSV with 'NUL' "
        "price markers (every 10th key), EMPTY priority fields (every "
        "7th) and DD/MM/YYYY dates, then COPY'd into a DECLARED typed "
        "table with NULL AS 'NUL' EMPTYASNULL DATEFORMAT 'DD/MM/YYYY' "
        "— markers land as real NULLs, dates parse into a DATE column "
        "through the TO_CHAR-pattern translator, and doubles survive "
        "shortest-repr. Exercises the Redshift parse contract landed "
        "with this option set: an existing target's DECLARED schema "
        "drives parsing (that is what makes DATEFORMAT/NULL-AS load "
        "types instead of inferring strings) and declared-schema loads "
        "are FAILFAST at MAXERROR 0 (one bad value fails the load — "
        "pytest-pinned). STATUPDATE/COMPUPDATE/TRUNCATECOLUMNS/"
        "REMOVEQUOTES/ACCEPTINVCHARS accepted as documented no-ops; "
        "TIMEFORMAT epoch forms refuse loudly",
    tags=("native", "ingest", "dialect"),
)
def a10_copy_text_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    o = views(spark, sf_dir, "orders")["orders"]
    tmp = tempfile.mkdtemp(prefix="bp_textopts_")
    lines = o.select(
        F.format_string(
            "%d,%s,%s,%s",
            F.col("o_orderkey"),
            F.date_format("o_orderdate", "dd/MM/yyyy"),
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("NUL")).otherwise(
                F.col("o_totalprice").cast("string")
            ),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("")).otherwise(
                F.col("o_orderpriority")
            ),
        ).alias("value")
    )
    data_dir = os.path.join(tmp, "orders_txt")
    lines.write.mode("overwrite").text(data_dir)
    tbl = "bp_textopts_orders"
    _clean_stale_location(spark, tbl, None)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} (o_orderkey BIGINT, o_orderdate DATE, "
        "o_totalprice DOUBLE, o_orderpriority STRING) USING parquet"
    )
    execute_sql(
        spark,
        f"COPY {tbl} FROM '{data_dir}' CSV NULL AS 'NUL' EMPTYASNULL "
        "DATEFORMAT 'DD/MM/YYYY' STATUPDATE OFF COMPUPDATE OFF",
    )
    return spark.table(tbl).agg(
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("n_price"),
        F.count(F.when(F.col("o_orderpriority").isNull(), 1)).alias(
            "n_null_prio"
        ),
        F.min("o_orderdate").cast("string").alias("min_date"),
        F.max("o_orderdate").cast("string").alias("max_date"),
        dsum("o_totalprice", "sum_price"),
    )


@query(
    "q93_sql_script",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 0
    GROUP BY 1
    ORDER BY 1
    """,
    doc="multi-statement SQL script execution (sqlrun."
        "execute_sql_script — the .sql-file form Redshift users hand "
        "to the reference one statement at a time, execute_sql.py:62): "
        "a BEGIN/COPY-free four-statement script (CREATE VIEW, CTAS "
        "with a dialect TOP rewrite, INSERT INTO, GRANT no-op) runs "
        "through the full statement dispatcher — each statement gets "
        "COPY/UNLOAD lowering, dialect translation, and transaction "
        "routing exactly as if submitted alone; a failure names the "
        "1-based statement index and rolls back a script-opened "
        "transaction (pytest-pinned in test_native_layer). The result "
        "scans the table the script built",
    tags=("native", "sql", "dialect"),
)
def q93_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql_script

    views(spark, sf_dir, "customer", "nation")
    _clean_stale_location(spark, "bp_script_out", None)
    n = execute_sql_script(
        spark,
        """
        CREATE OR REPLACE TEMPORARY VIEW bp_script_pos AS
            SELECT * FROM customer WHERE c_acctbal > 0;
        DROP TABLE IF EXISTS bp_script_out;
        CREATE TABLE bp_script_out USING parquet AS
            SELECT n_name,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_acctbal
            FROM bp_script_pos JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name;
        GRANT SELECT ON bp_script_out TO GROUP analysts;
        """,
    )
    assert n == 4, f"script should run 4 statements, ran {n}"
    return spark.table("bp_script_out").orderBy("n_name")


@query(
    "q94_select_into",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY 1
    ORDER BY 1
    """,
    doc="SELECT INTO dialect rewrite (functions/redshift_compat."
        "_rewrite_select_into — the Redshift/PostgreSQL "
        "table-from-query form Spark SQL lacks): a top-level INTO "
        "before the first top-level FROM becomes CTAS (permanent → "
        "CREATE TABLE USING parquet AS; TEMP → CREATE OR REPLACE "
        "TEMPORARY VIEW, the same session lifetime a Redshift temp "
        "table has — materialization divergence documented at the "
        "rewrite). INSERT INTO, subquery text, and string literals "
        "never match (paren-depth + string-aware scan, pytest-pinned). "
        "The entry runs both the permanent and TEMP forms through "
        "execute_sql and scans the created table",
    tags=("dialect", "orders"),
)
def q94_select_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    _clean_stale_location(spark, "bp_sel_into", None)
    spark.sql("DROP TABLE IF EXISTS bp_sel_into")
    execute_sql(
        spark,
        """SELECT o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                      AS sum_price
           INTO bp_sel_into
           FROM orders
           WHERE o_orderstatus = 'F'
           GROUP BY o_orderpriority""",
    )
    execute_sql(
        spark,
        "SELECT o_orderkey INTO TEMP bp_sel_into_tmp FROM orders",
    )
    assert spark.table("bp_sel_into_tmp").count() > 0
    return spark.table("bp_sel_into").orderBy("o_orderpriority")


from ..operators.sampling import POISSON1_CDF_HEX as _P1_HEX  # noqa: E402

_P1_CASE_SQL = " + ".join(
    f"(CASE WHEN h8 >= '{t}' THEN 1 ELSE 0 END)" for t in _P1_HEX
)


@query(
    "c171_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (
        SELECT CAST(r AS BIGINT) AS rep FROM generate_series(0, 39) g(r)
    ),
    amp AS (
        SELECT r.rep,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x,
               substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
                          || CAST(r.rep AS VARCHAR) || ':v1'), 1, 8) AS h8
        FROM orders CROSS JOIN reps r
    ),
    wt AS (SELECT rep, x, {_P1_CASE_SQL} AS w FROM amp)
    SELECT rep,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * x) // (CASE WHEN SUM(w) > 0 THEN SUM(w) END)
               AS BIGINT) AS wmean
    FROM wt
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Poisson bootstrap (operators/sampling.poisson_bootstrap_means; "
        "Chamandy et al. 2012 — Google's estimator for massive "
        "streams): 40 deterministic bootstrap replicates of mean order "
        "price in cents. Resampling-with-replacement needs coordinated "
        "multinomial draws; the Poisson(1)-weight form is what a "
        "share-nothing scan CAN produce — here made fully replayable "
        "by pushing md5(key:rep:salt) through the 2^32-quantized "
        "Poisson CDF as HEX-STRING threshold compares (lowercase-hex "
        "order == uniform-integer order; no RNG, no base conversion, "
        "identical in every engine; weights capped at 9, P~1e-7, part "
        "of the contract). Replicate means are exact SUM(w*x) DIV "
        "SUM(w); CI = order statistics of the 40 means (pinned in the "
        "unit test). 100 TB: the 40x amplification is map-only and "
        "collapses to 40 groups per partition BEFORE the one shuffle "
        "(exchange carries O(partitions*reps) rows); one scan total",
    tags=("ml", "sampling", "orders"),
    bench=True,
)
def c171_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import poisson_bootstrap_means

    o = views(spark, sf_dir, "orders")["orders"]
    cents = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return poisson_bootstrap_means(cents, "o_orderkey", "cents", reps=40)


@query(
    "c172_mi_feature_ranking",
    oracle="""
    WITH base AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000
                   AS band,
               CAST(hour(ts) AS BIGINT) AS hr,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    % 7 AS BIGINT) AS dw,
               event_type AS label
        FROM events
    ),
    melt AS (
        SELECT 'band' AS feature, band AS x, label FROM base
        UNION ALL SELECT 'hr', hr, label FROM base
        UNION ALL SELECT 'dw', dw, label FROM base
    ),
    cells AS (
        SELECT feature, x, label, CAST(COUNT(*) AS BIGINT) AS n
        FROM melt GROUP BY 1, 2, 3
    ),
    nx AS (SELECT feature, x, CAST(SUM(n) AS BIGINT) AS n_x
           FROM cells GROUP BY 1, 2),
    nl AS (SELECT feature, label, CAST(SUM(n) AS BIGINT) AS n_l
           FROM cells GROUP BY 1, 2),
    nt AS (SELECT feature, CAST(SUM(n) AS BIGINT) AS n_tot
           FROM cells GROUP BY 1),
    contrib AS (
        SELECT c.feature, t.n_tot,
               c.n * CAST(round(ln(CAST(c.n * t.n_tot AS DOUBLE)
                                   / CAST(x.n_x * l.n_l AS DOUBLE))
                                * 1000000) AS BIGINT) AS q
        FROM cells c
        JOIN nx x ON x.feature = c.feature AND x.x = c.x
        JOIN nl l ON l.feature = c.feature AND l.label = c.label
        JOIN nt t ON t.feature = c.feature
    )
    SELECT feature,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(GREATEST(SUM(q), 0) // ANY_VALUE(n_tot) AS BIGINT)
               AS mi_micro
    FROM contrib
    GROUP BY 1
    ORDER BY mi_micro DESC, feature
    """,
    doc="mutual-information feature ranking (operators/ml."
        "mutual_information): I(X; event_type) in micro-nats for three "
        "discretized candidates — value band, hour, arithmetic weekday "
        "(c152's engine-neutral dow) — the info-theoretic sibling of "
        "chi² term selection (c154), multiclass in one pass. Per-cell "
        "contribution n_xy*ln_micro(n_xy*N/(n_x*n_y)) (fixed-IEEE ln; "
        "products exact doubles to ~9.4e7 rows, documented), total "
        "clamped GREATEST(.,0) BEFORE the integer division — "
        "quantization can push an independent feature a few "
        "micro-units negative, and negative division is where engines "
        "disagree (Spark DIV truncates, DuckDB // floors). 100 TB: "
        "melt is map-only into the cells aggregate (partials collapse "
        "per partition before the ONE shuffle); margins are window "
        "sums over the CELLS table — one scan, join-free in Spark",
    tags=("ml", "text", "events"),
    bench=True,
)
def c172_mi_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import mutual_information

    e = views(spark, sf_dir, "events")["events"]
    base = e.select(
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 5000"
        ).alias("band"),
        F.hour("ts").cast("long").alias("hr"),
        (
            F.datediff(F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01")))
            % 7
        ).cast("long").alias("dw"),
        F.col("event_type").alias("label"),
    )
    return mutual_information(base, ["band", "hr", "dw"], "label")


@query(
    "c173_conformal_intervals",
    oracle="""
    WITH base AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
               CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 0
                    WHEN ts < TIMESTAMP '2024-01-21' THEN 1
                    ELSE 2 END AS part
        FROM events
    ),
    model AS (
        SELECT g, CAST(SUM(y) // COUNT(*) AS BIGINT) AS pred
        FROM base WHERE part = 0 GROUP BY 1
    ),
    res AS (
        SELECT b.g, m.pred, ABS(b.y - m.pred) AS r
        FROM base b JOIN model m ON m.g = b.g
        WHERE b.part = 1
    ),
    ranked AS (
        SELECT g, pred, r,
               row_number() OVER (PARTITION BY g ORDER BY r) AS rk,
               COUNT(*) OVER (PARTITION BY g) AS n_cal
        FROM res
    ),
    qh AS (
        SELECT g, pred, CAST(n_cal AS BIGINT) AS n_cal, r AS qhat
        FROM ranked
        WHERE rk = LEAST(((n_cal + 1) * 90 + 99) // 100, n_cal)
    )
    SELECT t.g AS grp,
           CAST(ANY_VALUE(q.n_cal) AS BIGINT) AS n_cal,
           CAST(ANY_VALUE(q.pred) AS BIGINT) AS pred,
           CAST(ANY_VALUE(q.qhat) AS BIGINT) AS qhat,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN ABS(t.y - q.pred) <= q.qhat
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
               AS BIGINT) AS coverage_micro
    FROM base t JOIN qh q ON q.g = t.g
    WHERE t.part = 2
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Mondrian split-conformal prediction intervals (operators/ml."
        "conformal_intervals; Lei et al. JASA'18): per event type, "
        "point predictor = training mean (cents, SUM DIV n), "
        "q̂ = ceil((n_cal+1)·0.9)-th smallest calibration residual "
        "computed as an ORDER STATISTIC with the ceiling in PURE "
        "integer arithmetic ((a·90+99) DIV 100 — no float ceil to "
        "disagree on), test coverage = hits*1e6 DIV n — the "
        "distribution-free uncertainty wrapper with finite-sample "
        "coverage >= 90% by construction (residual ties at rank k "
        "don't matter: the k-th sorted VALUE is unique even when "
        "row_number ties aren't). Time-split 3 ways (train <11th, "
        "cal 11-21, test >=21). 100 TB: train/test sides are "
        "group-sized hash aggregates; the one per-group sort runs on "
        "the CALIBRATION SPLIT (small by the method's own design); "
        "models broadcast back",
    tags=("ml", "events", "timeseries"),
    bench=True,
)
def c173_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import conformal_intervals

    e = views(spark, sf_dir, "events")["events"]
    base = e.select(
        F.col("event_type").alias("g"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
        F.when(F.col("ts") < F.lit("2024-01-11").cast("timestamp"), 0)
        .when(F.col("ts") < F.lit("2024-01-21").cast("timestamp"), 1)
        .otherwise(2)
        .alias("part"),
    )
    out = conformal_intervals(
        base.filter("part = 0"),
        base.filter("part = 1"),
        base.filter("part = 2"),
        "g",
        "y",
        coverage_pct=90,
    )
    return out.withColumnRenamed("group", "grp")


@query(
    "c174_sprt_sequential",
    oracle="""
    WITH daily AS (
        SELECT user_id % 2 AS grp, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    sc AS (
        SELECT grp, d, n, x,
               x * CAST(round(ln(CAST(220 AS DOUBLE) / 180) * 1000000)
                        AS BIGINT)
               + (n - x)
                 * CAST(round(ln(CAST(780 AS DOUBLE) / 820) * 1000000)
                        AS BIGINT) AS llr_day_micro
        FROM daily
    ),
    cum AS (
        SELECT grp, d, n, x, llr_day_micro,
               CAST(SUM(llr_day_micro)
                    OVER (PARTITION BY grp ORDER BY d) AS BIGINT)
                   AS llr_cum_micro
        FROM sc
    )
    SELECT CAST(grp AS BIGINT) AS grp,
           CAST(d AS VARCHAR) AS day,
           n, x, llr_day_micro, llr_cum_micro,
           CASE WHEN llr_cum_micro >=
                     CAST(round(ln(CAST(950 AS DOUBLE) / 50) * 1000000)
                          AS BIGINT) THEN 'accept_h1'
                WHEN llr_cum_micro <=
                     -CAST(round(ln(CAST(950 AS DOUBLE) / 50) * 1000000)
                           AS BIGINT) THEN 'accept_h0'
                ELSE 'continue' END AS state
    FROM cum
    ORDER BY grp, day
    """,
    doc="Wald SPRT sequential experiment monitoring (operators/ml."
        "sprt_monitor): per variant (user parity — c116's A/B "
        "convention), daily cumulative log-likelihood ratio of "
        "H1: purchase rate 0.22 vs H0: 0.18 against the Wald "
        "boundaries ±ln(0.95/0.05) — the peeking-safe daily readout "
        "(type-I/II error holds however often you look, unlike "
        "repeated z-tests). Every ln is the fixed-IEEE micro "
        "quantization of INTEGER LITERAL ratios (220/180, 780/820, "
        "950/50) so increments, running sums and the crossing day "
        "replay bit-exactly. Day out as STRING (c155 convention). "
        "100 TB: one corpus aggregate to (variant, day) cells; the "
        "cumulative window runs on that DAYS-sized table (c161 "
        "discipline) — nothing corpus-sized after the first exchange",
    tags=("ml", "events", "timeseries"),
    bench=True,
)
def c174_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import sprt_monitor

    e = views(spark, sf_dir, "events")["events"]
    base = e.select(
        (F.col("user_id") % 2).alias("variant"),
        F.col("ts"),
        (F.col("event_type") == "purchase").cast("int").alias("converted"),
    )
    return sprt_monitor(
        base, "variant", "ts", "converted",
        p0_milli=180, p1_milli=220, alpha_milli=50,
    )


@query(
    "c175_changepoint_scan",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100)
                         AS BIGINT) // COUNT(*) AS BIGINT) AS mean_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    cum AS (
        SELECT d,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS n_left,
               CAST(SUM(mean_cents) OVER (ORDER BY d) AS BIGINT)
                   AS s_left,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_tot,
               CAST(SUM(mean_cents) OVER () AS BIGINT) AS s_tot
        FROM daily
    )
    SELECT CAST(d AS VARCHAR) AS day,
           n_left,
           n_tot - n_left AS n_right,
           CAST((s_left * (n_tot - n_left) - (s_tot - s_left) * n_left)
                * (s_left * (n_tot - n_left) - (s_tot - s_left) * n_left)
                // (n_left * (n_tot - n_left)) AS BIGINT) AS delta_q
    FROM cum
    WHERE n_left < n_tot
    ORDER BY day
    """,
    doc="single-changepoint localization (operators/timeseries."
        "changepoint_scan — binary segmentation's first split): score "
        "every boundary of the daily mean-purchase-value series by the "
        "exact SSE reduction (sL*nR - sR*nL)^2 DIV (nL*nR) (N constant "
        "dropped; BIGINT-exact while |s|*n < ~3e9 — ~1e3 daily points "
        "at micro scale, documented) — the offline WHERE-did-the-level-"
        "shift complement of CUSUM's online WHEN (c147). Argmax row = "
        "the changepoint, ties to earliest day; day out as STRING. "
        "DuckDB SUM(1) OVER cumulative is HUGEINT+nondeterministic-"
        "looking — row_number() is the portable cumulative count. "
        "100 TB: corpus collapses to days in ONE aggregate; both scans "
        "are windows over the DAYS table (c161 discipline)",
    tags=("timeseries", "events"),
    bench=True,
)
def c175_changepoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import changepoint_scan

    e = views(spark, sf_dir, "events")["events"]
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) "
                "AS BIGINT) DIV COUNT(*) AS BIGINT)"
            ).alias("mean_cents")
        )
    )
    return changepoint_scan(daily, "day", "mean_cents")


@query(
    "c176_power_planner",
    oracle="""
    WITH arms AS (
        SELECT user_id % 2 AS arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                   AS days_obs
        FROM events GROUP BY 1
    ),
    a AS (SELECT arm AS arm_a, n AS n_a, x AS x_a, days_obs AS days_a
          FROM arms ORDER BY arm LIMIT 1),
    b AS (SELECT arm AS arm_b, n AS n_b, x AS x_b, days_obs AS days_b
          FROM arms ORDER BY arm DESC LIMIT 1),
    c AS (SELECT *,
                 CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
                     AS p1
          FROM a CROSS JOIN b),
    d AS (SELECT *, p1 * 1.1 AS p2 FROM c),
    e AS (SELECT *,
                 CEIL((1.959964 * sqrt(2.0 * p1 * (1.0 - p1))
                       + 0.841621 * sqrt(p1 * (1.0 - p1)
                                         + p2 * (1.0 - p2)))
                      * (1.959964 * sqrt(2.0 * p1 * (1.0 - p1))
                         + 0.841621 * sqrt(p1 * (1.0 - p1)
                                           + p2 * (1.0 - p2)))
                      / ((p2 - p1) * (p2 - p1))) AS n_arm_d
          FROM d)
    SELECT arm_a, n_a, x_a, arm_b, n_b, x_b,
           CAST((x_a + x_b) * 1000000 // (n_a + n_b) AS BIGINT)
               AS p_pool_micro,
           CAST((x_a + x_b) * 1000000 // (n_a + n_b) * 100 // 1000
               AS BIGINT) AS mde_micro,
           CAST(n_arm_d AS BIGINT) AS n_per_arm,
           CAST((CAST(n_arm_d AS BIGINT) * days_a + n_a - 1) // n_a
               AS BIGINT) AS days_needed_a,
           CAST((CAST(n_arm_d AS BIGINT) * days_b + n_b - 1) // n_b
               AS BIGINT) AS days_needed_b
    FROM e
    """,
    doc="experiment power / duration planning from observed traffic "
        "(operators/ml.power_planner): subjects per arm — and days at "
        "each arm's observed rate — to detect a +10% relative lift on "
        "the pooled conversion rate at two-sided alpha=.05, power .80 "
        "(the standard two-proportion formula). z quantiles are fixed "
        "micro-unit literals of the METHOD (Phi^-1(.975)=1.959964, "
        "Phi^-1(.80)=0.841621); all data inputs are exact BIGINT "
        "counts, so the one double expression is fixed-IEEE and its "
        "CEIL plus the pure-integer ceiling day arithmetic replay "
        "everywhere. Completes the experimentation family: plan "
        "(c176) -> monitor peeking-safe (c174) -> read out (c116). "
        "100 TB: one map-side-partial aggregate to a TWO-row table; "
        "scalars after",
    tags=("ml", "events"),
)
def c176_power_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import power_planner

    e = views(spark, sf_dir, "events")["events"]
    base = e.select(
        (F.col("user_id") % 2).alias("variant"),
        F.col("ts"),
        (F.col("event_type") == "purchase").cast("int").alias("converted"),
    )
    return power_planner(base, "variant", "converted", "ts", lift_milli=100)


@query(
    "c177_welch_ttest",
    oracle="""
    WITH arms AS (
        SELECT user_id % 2 AS arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)
                        * CAST(CAST(value AS DECIMAL(18,2)) * 100
                               AS BIGINT)) AS BIGINT) AS ss
        FROM events GROUP BY 1
    ),
    a AS (SELECT arm AS group_a, n AS n_a, s AS s_a, ss AS ss_a
          FROM arms ORDER BY arm LIMIT 1),
    b AS (SELECT arm AS group_b, n AS n_b, s AS s_b, ss AS ss_b
          FROM arms ORDER BY arm DESC LIMIT 1),
    j AS (SELECT * FROM a CROSS JOIN b),
    v AS (SELECT *,
                 (CAST(ss_a AS DOUBLE)
                  - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                    / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)
                     / CAST(n_a AS DOUBLE) AS se_a,
                 (CAST(ss_b AS DOUBLE)
                  - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                    / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)
                     / CAST(n_b AS DOUBLE) AS se_b
          FROM j)
    SELECT group_a, n_a, CAST(s_a // n_a AS BIGINT) AS mean_a,
           group_b, n_b, CAST(s_b // n_b AS BIGINT) AS mean_b,
           ROUND((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt(se_a + se_b), 6) AS t,
           ROUND((se_a + se_b) * (se_a + se_b)
                 / (se_a * se_a / (CAST(n_a AS DOUBLE) - 1.0)
                    + se_b * se_b / (CAST(n_b AS DOUBLE) - 1.0)), 3)
               AS df
    FROM v
    """,
    doc="Welch unequal-variance t-test (operators/ml.welch_ttest): the "
        "continuous-metric A/B readout (value cents per user-parity "
        "variant) completing the experimentation family — plan c176, "
        "monitor c174, proportions c116, means c177. Exact BIGINT "
        "(n, sum, sum-of-squares) from ONE map-side-partial aggregate; "
        "t ROUND 6 and Welch-Satterthwaite df ROUND 3 as fixed-IEEE "
        "doubles over exact integers (the c116 contract), variance in "
        "the pinned order (ss - s^2/n)/(n-1). Means as exact s DIV n. "
        "100 TB: corpus -> two rows in one exchange; scalars after. "
        "Sum-of-squares bound documented (cents-scale safe past 1e9 "
        "rows)",
    tags=("ml", "events"),
    bench=True,
)
def c177_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import welch_ttest

    e = views(spark, sf_dir, "events")["events"]
    base = e.select(
        (F.col("user_id") % 2).alias("variant"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return welch_ttest(base, "variant", "cents")


@query(
    "c178_srm_guardrail",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_b
        FROM events GROUP BY 1
    ),
    sc AS (
        SELECT d, n_a, n_b,
               CAST(round(
                   ((CAST(n_a AS DOUBLE)
                     - CAST(n_a + n_b AS DOUBLE) * 500 / 1000.0)
                    * (CAST(n_a AS DOUBLE)
                       - CAST(n_a + n_b AS DOUBLE) * 500 / 1000.0)
                    / (CAST(n_a + n_b AS DOUBLE) * 500 / 1000.0)
                    + (CAST(n_b AS DOUBLE)
                       - CAST(n_a + n_b AS DOUBLE) * 500 / 1000.0)
                      * (CAST(n_b AS DOUBLE)
                         - CAST(n_a + n_b AS DOUBLE) * 500 / 1000.0)
                      / (CAST(n_a + n_b AS DOUBLE) * 500 / 1000.0))
                   * 1000000) AS BIGINT) AS chi2_micro
        FROM daily
    )
    SELECT CAST(d AS VARCHAR) AS day, n_a, n_b, chi2_micro,
           chi2_micro >= 3841459 AS srm_alarm
    FROM sc
    ORDER BY day
    """,
    doc="sample-ratio-mismatch guardrail (operators/ml.srm_guardrail; "
        "Fabijan KDD'19 — the most common A/B infrastructure bug): "
        "per-day chi-square of observed two-arm counts vs the "
        "configured 50/50 split, alarm at the chi2_1 95th percentile "
        "(3.841459 — a method constant like c176's z quantiles). A "
        "triggered SRM invalidates the experiment regardless of how "
        "significant the readouts look — this runs BEFORE c116/c174/"
        "c177. One fixed-IEEE double per day from exact BIGINT "
        "counts, round(chi2*1e6); >2 arms refuse loudly (the arm "
        "dictionary is a metadata collect). 100 TB: one map-side-"
        "partial aggregate to (day, arm); days-sized after",
    tags=("ml", "events"),
)
def c178_srm_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import srm_guardrail

    e = views(spark, sf_dir, "events")["events"]
    base = e.select((F.col("user_id") % 2).alias("variant"), F.col("ts"))
    return srm_guardrail(base, "variant", "ts")


@query(
    "c179_hard_negative_mining",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
               CAST(q.label AS BIGINT) AS label,
               CAST(c.label AS BIGINT) AS neg_label,
               CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')} AS DOUBLE)
                 / (sqrt(CAST(q.norm AS DOUBLE))
                    * sqrt(CAST(c.norm AS DOUBLE))) AS cosine
        FROM n q CROSS JOIN n c
        WHERE q.vec_id < 10
          AND q.vec_id <> c.vec_id
          AND q.label <> c.label
    )
    SELECT query_id, neg_id, label, neg_label, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neg_id
        ) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="hard-negative mining for contrastive training (operators/"
        "similarity.hard_negative_mining; DPR, Karpukhin EMNLP'20): "
        "per query vector, the top-5 nearest corpus vectors with a "
        "DIFFERENT label — the most-confusable negatives that train "
        "far stronger encoders than c129's random negatives. Same "
        "exactness contract as c06 (quantized-integer dot/norms, one "
        "deterministic double cosine, (cosine DESC, id) ranking); "
        "same-label rows and self excluded BEFORE ranking. 100 TB: "
        "broadcast query block over ONE corpus scan with the label "
        "filter riding the map side; IVF cell-pruning (c17) slots in "
        "front unchanged at scale",
    tags=("similarity", "ml", "embeddings"),
    bench=True,
)
def c179_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negative_mining

    emb = views(spark, sf_dir, "embeddings")["embeddings"]
    e = emb.select("vec_id", "embedding", F.col("label").cast("long").alias("label"))
    return hard_negative_mining(
        e, e.filter(F.col("vec_id") < 10), k=5
    )


@query(
    "q95_tpch_refresh",
    oracle="""
    WITH o_new AS (
        SELECT o_orderkey, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice FROM orders
        WHERE o_orderkey % 1000 = 7
    ),
    o_fin AS (SELECT * FROM o_new WHERE o_orderkey % 1000 <> 13),
    l_new AS (
        SELECT l_orderkey FROM lineitem
        UNION ALL
        SELECT l_orderkey + 10000000 FROM lineitem
        WHERE l_orderkey % 1000 = 7
    ),
    l_fin AS (SELECT * FROM l_new WHERE l_orderkey % 1000 <> 13)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM o_fin) AS n_orders,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM l_fin) AS n_lineitems,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM o_fin
            WHERE o_orderkey >= 10000000) AS n_inserted,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM l_fin l
            LEFT JOIN o_fin o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderkey IS NULL) AS n_orphans,
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) FROM o_fin) AS sum_price
    """,
    doc="TPC-H refresh streams RF1/RF2 (the forgotten half of the "
        "benchmark — inserts of new orders+lineitems and paired "
        "deletes, spec clause 2.27): applied through the statement "
        "faces onto copy-on-write DML (INSERT INTO ... SELECT with "
        "shifted keys; DELETE FROM ... WHERE via q89's lowering, "
        "Spark SQL refusing those verbs on v1 parquet). The paired "
        "insert/delete keeps referential integrity — n_orphans "
        "(lineitems with no parent order) must be 0, and the oracle "
        "recomputes the whole post-refresh state from set algebra on "
        "the untouched base tables. Key offset 10,000,000 is 0 mod "
        "1000, so the RF2 modular delete hits originals and inserts "
        "consistently in both engines. 100 TB: the refresh is one "
        "insert scan + one copy-on-write rewrite per table — the COW "
        "boundary (vs a delete-vector table format) is dml.py's "
        "documented honest divergence",
    tags=("dml", "tpch", "orders", "lineitem"),
)
def q95_tpch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders", "lineitem")
    for t in ("bp_rf_orders", "bp_rf_lineitem"):
        _clean_stale_location(spark, t, None)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(
        "CREATE TABLE bp_rf_orders USING parquet AS SELECT * FROM orders"
    )
    spark.sql(
        "CREATE TABLE bp_rf_lineitem USING parquet AS "
        "SELECT * FROM lineitem"
    )
    execute_sql(
        spark,
        """INSERT INTO bp_rf_orders
           SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                  o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 1000 = 7""",
    )
    execute_sql(
        spark,
        """INSERT INTO bp_rf_lineitem
           SELECT l_orderkey + 10000000, l_partkey, l_suppkey,
                  l_linenumber, l_quantity, l_extendedprice, l_discount,
                  l_tax, l_returnflag, l_linestatus, l_shipdate
           FROM lineitem WHERE l_orderkey % 1000 = 7""",
    )
    execute_sql(spark, "DELETE FROM bp_rf_orders WHERE o_orderkey % 1000 = 13")
    execute_sql(
        spark, "DELETE FROM bp_rf_lineitem WHERE l_orderkey % 1000 = 13"
    )
    o = spark.table("bp_rf_orders")
    li = spark.table("bp_rf_lineitem")
    orphans = li.join(
        o.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_anti",
    )
    return (
        o.agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("o_orderkey") >= 10000000, 1).otherwise(0))
            .cast("long")
            .alias("n_inserted"),
            dsum("o_totalprice", "sum_price"),
        )
        .crossJoin(li.agg(F.count("*").alias("n_lineitems")))
        .crossJoin(orphans.agg(F.count("*").alias("n_orphans")))
        .select(
            "n_orders", "n_lineitems", "n_inserted", "n_orphans", "sum_price"
        )
    )


@query(
    "c180_qoi_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, y.y, x.x,
               (d.doc_id * 13 + y.y * 3 + (x.x // 4) * 7) % 16 AS k
        FROM documents d, range(4) y(y), range(8) x(x)
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           CAST(32 AS BIGINT) AS n_pixels,
           CAST(SUM(CASE WHEN y % 2 = 0 THEN (doc_id * 7 + x) % 256
                         ELSE (k * 5) % 256 END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN y % 2 = 0 THEN (doc_id * 11 + x) % 256
                         ELSE (k * 9) % 256 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN y % 2 = 0 THEN (doc_id * 13 + x) % 256
                         ELSE (k * 13) % 256 END) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="REAL QOI decode, end-to-end verified — the modern-lossless "
        "rung of the codec ladder (c64 PPM, c153 BMP, c81/c83 PNG, "
        "c130 GIF LZW, c103 WAV): 8x4 images are ENCODED to genuine "
        "QOI streams (qoiformat.org spec — 64-entry hash-indexed color "
        "cache, 2-bit channel diffs, luma diffs, run-length, raw RGB, "
        "end marker) and DECODED back (operators/multimodal."
        "encode_qoi/decode_qoi), reduced to exact channel sums. The "
        "fixture exercises EVERY op family by construction: even rows "
        "are +1/+1/+1 gradients (DIFF), odd rows 4-pixel palette "
        "blocks (RUN + INDEX + RGB/LUMA). The oracle recomputes sums "
        "from the closed-form pixel formula alone, so one wrong byte "
        "in either direction (hash function, diff bias, run-length "
        "bias, wraparound) fails the hash; a 300-image random "
        "round-trip pytest stresses the op space. Arrow-batched "
        "mapInPandas in the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c180_qoi_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_channel_stats, synthesize_qoi_images

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_qoi_images(d, "doc_id", w=8, h=4))


@query(
    "c181_ips_offline_eval",
    oracle="""
    WITH logged AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000
                   AS ctx,
               user_id % 2 AS act,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS r
        FROM events
    ),
    j AS (
        SELECT CASE WHEN l.act = l.ctx % 2 THEN 1 ELSE 0 END AS m, l.r
        FROM logged l
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(m) AS BIGINT) AS n_matched,
           CAST(SUM(m) * 1000000 // COUNT(*) AS BIGINT)
               AS match_rate_micro,
           CAST(SUM(m * r) * 1000000000 // (500 * COUNT(*)) AS BIGINT)
               AS ips_value_micro,
           CAST(SUM(m * r) * 1000000
                // (CASE WHEN SUM(m) > 0 THEN SUM(m) END) AS BIGINT)
               AS snips_value_micro
    FROM j
    """,
    doc="off-policy evaluation via inverse propensity scoring "
        "(operators/ml.ips_policy_value; Horvitz-Thompson / Li "
        "WSDM'11): grade the deterministic target policy 'serve "
        "action = band parity' on logs collected under the 50/50 "
        "user-parity randomization — the counterfactual readout that "
        "values a policy WITHOUT deploying it. Both estimators exact "
        "integers: unbiased IPS = matched-reward*1e9 DIV (p_milli*N); "
        "self-normalized SNIPS = matched-reward*1e6 DIV n_matched "
        "(constant propensity makes the weight sum the match count). "
        "Contexts absent from the policy table count in N and "
        "contribute 0 (conservative, documented). 100 TB: policy "
        "table broadcasts; ONE map-side-partial aggregate over the "
        "log stream",
    tags=("ml", "events"),
)
def c181_ips_offline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import ips_policy_value

    e = views(spark, sf_dir, "events")["events"]
    logged = e.select(
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 5000"
        ).alias("ctx"),
        (F.col("user_id") % 2).alias("act"),
        (F.col("event_type") == "purchase").cast("int").alias("r"),
    )
    policy = (
        logged.select("ctx")
        .distinct()
        .select("ctx", (F.col("ctx") % 2).alias("act"))
    )
    return ips_policy_value(logged, policy, "ctx", "act", "r")


@query(
    "c182_cdc_apply",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           o_totalprice,
           o_orderpriority
    FROM orders
    ORDER BY o_orderkey
    """,
    doc="CDC apply — the consumer half q83's snapshot-diff produces "
        "for (dml.apply_changes): an OLD replica is deterministically "
        "damaged three ways (rows with okey%1000=13 dropped → 'I', "
        "synthetic okey+20M rows added → 'D', priority overwritten "
        "where okey%50=0 → 'U'), snapshot_diff derives the changeset, "
        "apply_changes replays it, and the result must BE the true "
        "table — the oracle is literally SELECT * FROM orders, so the "
        "hash pins the round-trip identity diff∘apply == identity "
        "over every change type at once. Key matching is null-safe "
        "(the r10-advisor NULL-key semantics carry through to apply). "
        "100 TB: diff = one full-outer key join; apply = one "
        "null-safe anti-join + delta-sized union — base scanned once "
        "each side, co-partitioned when chained",
    tags=("dml", "orders"),
    bench=True,
)
def c182_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dml import apply_changes, snapshot_diff

    o = views(spark, sf_dir, "orders")["orders"]
    cols = ["o_orderstatus", "o_totalprice", "o_orderpriority"]
    new = o.select("o_orderkey", *cols)
    old = (
        new.filter(F.col("o_orderkey") % 1000 != 13)
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 50 == 0, F.lit("X-OLD")
            ).otherwise(F.col("o_orderpriority")),
        )
        .unionByName(
            new.filter(F.col("o_orderkey") % 500 == 0).select(
                (F.col("o_orderkey") + 20000000).alias("o_orderkey"), *cols
            )
        )
    )
    changes = snapshot_diff(old, new, ["o_orderkey"], cols)
    return apply_changes(old, changes, ["o_orderkey"], cols).orderBy(
        "o_orderkey"
    )


@query(
    "c183_ks_two_sample",
    oracle="""
    WITH base AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    pv AS (
        SELECT v,
               CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS a,
               CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS b
        FROM base GROUP BY 1
    ),
    cumt AS (
        SELECT v,
               CAST(SUM(a) OVER (ORDER BY v) AS BIGINT) AS c1,
               CAST(SUM(b) OVER (ORDER BY v) AS BIGINT) AS c2,
               CAST(SUM(a) OVER () AS BIGINT) AS n1,
               CAST(SUM(b) OVER () AS BIGINT) AS n2
        FROM pv
    ),
    gaps AS (
        SELECT v, n1, n2, ABS(c1 * n2 - c2 * n1) AS num FROM cumt
    ),
    m AS (SELECT * FROM gaps ORDER BY num DESC, v ASC LIMIT 1)
    SELECT n1, n2,
           CAST(num * 1000000 // (n1 * n2) AS BIGINT) AS ks_d_micro,
           CAST(v AS BIGINT) AS at_value,
           CAST(round(1358100 * sqrt(CAST(n1 + n2 AS DOUBLE)
                                     / CAST(n1 * n2 AS DOUBLE)))
               AS BIGINT) AS crit_micro,
           CAST(num * 1000000 // (n1 * n2) AS BIGINT)
               >= CAST(round(1358100 * sqrt(CAST(n1 + n2 AS DOUBLE)
                                            / CAST(n1 * n2 AS DOUBLE)))
                      AS BIGINT) AS reject
    FROM m
    """,
    doc="exact two-sample Kolmogorov-Smirnov test (operators/ml."
        "ks_two_sample): D = max ECDF gap between click and purchase "
        "value distributions, found ENTIRELY in BIGINT — the gap at v "
        "is the rational |c1·n2 − c2·n1|/(n1·n2), so numerators "
        "compare exactly and only the final report divides "
        "(num*1e6 DIV n1·n2); location = smallest argmax value; "
        "α=.05 threshold = 1.3581 (micro literal, a method constant) "
        "times ONE fixed-IEEE sqrt. Completes the testing family: "
        "means c177, proportions c116, ranks/AUC c145, distributions "
        "c183. 100 TB: one corpus aggregate to the distinct-cents "
        "table (map-side partials), both ECDFs via "
        "sampling.global_cumsum (range-partition + broadcast offsets, "
        "no partition-less window; n1/n2 exact literals from the same "
        "offset pass), one tiny max-struct aggregate out",
    tags=("ml", "events"),
    bench=True,
)
def c183_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import ks_two_sample

    e = views(spark, sf_dir, "events")["events"]
    base = e.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("g"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    return ks_two_sample(base, "g", "v")


@query(
    "c184_uplift_curve",
    oracle="""
    WITH base AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000
                   AS band,
               user_id % 2 AS t,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               ts < TIMESTAMP '2024-01-16' AS is_train
        FROM events
    ),
    model AS (
        SELECT band,
               CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) * 1000000
                    // (CASE WHEN SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END)
                             > 0
                        THEN SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) END)
                   AS BIGINT)
               - CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) * 1000000
                      // (CASE WHEN SUM(CASE WHEN t = 0 THEN 1 ELSE 0
                                            END) > 0
                          THEN SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END)
                          END) AS BIGINT) AS score_micro
        FROM base WHERE is_train GROUP BY 1
    ),
    cells AS (
        SELECT band,
               CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_t,
               CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
                   AS x_t,
               CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_c,
               CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
                   AS x_c
        FROM base WHERE NOT is_train GROUP BY 1
    ),
    ranked AS (
        SELECT c.*, m.score_micro,
               row_number() OVER (
                   ORDER BY m.score_micro DESC NULLS LAST, c.band
               ) AS rank
        FROM cells c LEFT JOIN model m USING (band)
    ),
    cum AS (
        SELECT *,
               CAST(SUM(x_t) OVER w AS BIGINT) AS cxt,
               CAST(SUM(n_t) OVER w AS BIGINT) AS cnt,
               CAST(SUM(x_c) OVER w AS BIGINT) AS cxc,
               CAST(SUM(n_c) OVER w AS BIGINT) AS cnc
        FROM ranked
        WINDOW w AS (ORDER BY rank)
    )
    SELECT CAST(rank AS BIGINT) AS rank, band, score_micro,
           n_t, x_t, n_c, x_c,
           CAST((cxt * cnc - cxc * cnt) * 1000000
                // (CASE WHEN cnc > 0 THEN cnc END) AS BIGINT)
               AS qini_micro
    FROM cum
    ORDER BY rank
    """,
    doc="uplift / Qini curve (operators/ml.uplift_curve; Radcliffe "
        "2007): two-model per-band uplift scores (treated rate minus "
        "control rate, micro integers) fit on the pre-cutoff slice, "
        "test-slice bands ranked by score, and the cumulative "
        "incremental conversions of targeting the top-k bands "
        "reported as the exact rational cum_xt - cum_xc*(cum_nt/"
        "cum_nc), carried as (cxt*cnc - cxc*cnt)*1e6 DIV cnc — the "
        "'whom to treat' readout the average-effect tests (c116/c177) "
        "can't give. Unscored bands sort NULLS LAST then band "
        "(deterministic). 100 TB: two map-side-combinable corpus "
        "aggregates to band tables; ranking + cumulative scan are "
        "windows over BANDS",
    tags=("ml", "events"),
    bench=True,
)
def c184_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import uplift_curve

    e = views(spark, sf_dir, "events")["events"]
    base = e.select(
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 5000"
        ).alias("band"),
        (F.col("user_id") % 2).cast("int").alias("t"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias(
            "is_train"
        ),
    )
    return uplift_curve(
        base.filter("is_train"), base.filter("NOT is_train"), "band", "t", "y"
    )


@query(
    "c185_theil_sen_trend",
    oracle="""
    WITH pts AS (
        SELECT o_custkey AS key,
               CAST(datediff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS y
        FROM orders
    ),
    np AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_points
           FROM pts GROUP BY 1),
    pairs AS (
        SELECT a.key,
               CAST((b.y - a.y) * 1000000 // (b.x - a.x) AS BIGINT)
                   AS slope_micro
        FROM pts a JOIN pts b ON a.key = b.key AND a.x < b.x
    ),
    ranked AS (
        SELECT key, slope_micro,
               row_number() OVER (PARTITION BY key
                                  ORDER BY slope_micro) AS rk,
               COUNT(*) OVER (PARTITION BY key) AS m
        FROM pairs
    ),
    med AS (
        SELECT key, CAST(m AS BIGINT) AS n_pairs, slope_micro
        FROM ranked WHERE rk = (m + 1) // 2
    )
    SELECT p.key, p.n_points, m.n_pairs, m.slope_micro
    FROM np p JOIN med m USING (key)
    ORDER BY key
    """,
    doc="Theil-Sen robust trend per customer (operators/ml."
        "theil_sen_trend): median of all pairwise spend-vs-day slopes "
        "— tolerates ~29% gross corruption where c120's OLS line "
        "chases one outlier. Slopes are (dy*1e6) DIV dx — TRUNCATING "
        "division, which Spark DIV and DuckDB // both do (verified "
        "-7//2 = -3; the c172 floor-vs-trunc worry does not apply, "
        "both engines truncate), so negative slopes quantize "
        "identically; median = lower order statistic at (m+1) DIV 2 "
        "(no interpolation); equal-x pairs excluded (undefined "
        "slope). 100 TB: the per-group n² pair join is "
        "Theil-Sen's inherent cost — run on business-bounded series "
        "(orders per customer), one key-keyed join + per-group "
        "windows",
    tags=("ml", "timeseries", "orders"),
    bench=True,
)
def c185_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import theil_sen_trend

    o = views(spark, sf_dir, "orders")["orders"]
    pts = o.select(
        F.col("o_custkey").alias("key"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        )
        .cast("long")
        .alias("x"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    return theil_sen_trend(pts, "key", "x", "y")


@query(
    "c186_cuped_adjustment",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS arm,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
        FROM u GROUP BY 1
    ),
    a AS (SELECT n AS n_a, sx AS sx_a, sy AS sy_a FROM arms
          ORDER BY arm LIMIT 1),
    b AS (SELECT n AS n_b, sx AS sx_b, sy AS sy_b FROM arms
          ORDER BY arm DESC LIMIT 1),
    p AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM u
    ),
    j AS (SELECT * FROM a CROSS JOIN b CROSS JOIN p),
    k AS (
        SELECT *,
               CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS covn,
               CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS varx,
               CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vary
        FROM j
    )
    SELECT n_a, n_b,
           ROUND(covn / varx, 6) AS theta_r6,
           ROUND(CAST(sy_a AS DOUBLE) / n_a
                 - CAST(sy_b AS DOUBLE) / n_b, 6) AS raw_diff_r6,
           ROUND((CAST(sy_a AS DOUBLE) / n_a
                  - (covn / varx) * (CAST(sx_a AS DOUBLE) / n_a
                                     - CAST(sx AS DOUBLE) / n))
                 - (CAST(sy_b AS DOUBLE) / n_b
                    - (covn / varx) * (CAST(sx_b AS DOUBLE) / n_b
                                       - CAST(sx AS DOUBLE) / n)), 6)
               AS cuped_diff_r6,
           ROUND(covn * covn / (varx * vary), 6) AS rho2_r6
    FROM k
    """,
    doc="CUPED variance reduction (operators/ml.cuped_adjustment; "
        "Deng WSDM'13 — the industry-standard pre-experiment covariate "
        "adjustment): theta = cov(pre,post)/var(pre) from pooled "
        "per-user cents totals, adjusted between-arm difference via "
        "the algebraic identity mean(Y'_g) = mean(Y_g) - "
        "theta*(mean(X_g) - Xbar) (no per-user second pass), and the "
        "rho-squared variance-reduction factor — typically 30-50% "
        "tighter CIs for free. Exact BIGINT sufficient stats; theta/"
        "diffs/rho2 are fixed-IEEE ROUND-6 doubles (the c177 "
        "contract). Completes the experimentation family: plan c176, "
        "guard c178, monitor c174, read out c116/c177, target c184, "
        "counterfactual c181, tighten c186. 100 TB: one corpus agg to "
        "the USER table, one more to two rows + a pooled row; "
        "scalars after",
    tags=("ml", "events"),
    bench=True,
)
def c186_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import cuped_adjustment

    e = views(spark, sf_dir, "events")["events"]
    cut = F.lit("2024-01-16").cast("timestamp")
    cents = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    users = e.groupBy(
        F.col("user_id"), (F.col("user_id") % 2).alias("arm")
    ).agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(0)).alias("y"),
    )
    return cuped_adjustment(users, "arm", "x", "y")


@query(
    "c187_grid_density_smooth",
    oracle="""
    WITH pts AS (
        SELECT (c_custkey * 7919) % 100000 AS x,
               (c_custkey * 104729) % 100000 AS y
        FROM customer
    ),
    off AS (
        SELECT t1.dx, t2.dy
        FROM generate_series(-1, 1) t1(dx)
        CROSS JOIN generate_series(-1, 1) t2(dy)
    ),
    contrib AS (
        SELECT x // 2500 + dx AS cx, y // 2500 + dy AS cy,
               CAST((2 - abs(dx)) * (2 - abs(dy)) AS BIGINT) AS w,
               dx = 0 AND dy = 0 AS ic
        FROM pts CROSS JOIN off
    )
    SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
           CAST(SUM(CASE WHEN ic THEN 1 ELSE 0 END) AS BIGINT)
               AS n_points,
           CAST(SUM(w) AS BIGINT) AS smooth_q
    FROM contrib
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="grid density with 3x3 binomial-kernel smoothing (operators/"
        "geo.grid_density_smooth): the hotspot/heatmap aggregate on "
        "q55's synthetic metric plane — every point contributes "
        "(2-|dx|)(2-|dy|) weight (4/2/1, mass 16) to its cell's "
        "neighborhood, giving KDE-lite local density without grid "
        "cliffs. Distributed convolution WITHOUT a join: the 9x "
        "(cell, weight) explode is MAP-ONLY and one hash aggregate "
        "folds raw count + smoothed mass together (is_center rides "
        "the explode); the classic 8-offset self-join shape would "
        "shuffle the grid 8 times, this shuffles contributions once "
        "(map-side partials collapse to cells-sized groups first). "
        "Kernel mass conservation (sum smooth_q = 16N) pytest-pinned",
    tags=("spatial", "customer"),
    bench=True,
)
def c187_grid_density_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import grid_density_smooth

    c = views(spark, sf_dir, "customer")["customer"]
    pts = c.select(
        ((F.col("c_custkey") * 7919) % 100000).alias("x"),
        ((F.col("c_custkey") * 104729) % 100000).alias("y"),
    )
    return grid_density_smooth(pts, "x", "y", cell=2500)


@query(
    "c188_windowed_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id AS u, MIN(ts) AS a FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id AS u, MIN(e.ts) AS a
        FROM events e JOIN s1 ON s1.u = e.user_id
        WHERE e.event_type = 'click'
          AND e.ts > s1.a AND e.ts <= s1.a + INTERVAL 3 DAY
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id AS u, MIN(e.ts) AS a
        FROM events e JOIN s2 ON s2.u = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > s2.a AND e.ts <= s2.a + INTERVAL 3 DAY
        GROUP BY 1
    ),
    c AS (
        SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
               CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n2,
               CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n3
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
               n1 AS n_users,
               CAST(n1 * 1000000 // n1 AS BIGINT)
                   AS conv_from_prev_micro,
               CAST(n1 * 1000000 // n1 AS BIGINT)
                   AS conv_from_first_micro
        FROM c
        UNION ALL
        SELECT 2, 'click', n2,
               CAST(n2 * 1000000 // n1 AS BIGINT),
               CAST(n2 * 1000000 // n1 AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'purchase', n3,
               CAST(n3 * 1000000 // n2 AS BIGINT),
               CAST(n3 * 1000000 // n1 AS BIGINT) FROM c
    )
    ORDER BY step_idx
    """,
    doc="strict-order funnel with per-step conversion windows "
        "(operators/sessions.windowed_funnel): view -> click -> "
        "purchase where each step must land strictly AFTER the "
        "previous step's FIRST qualifying event and within 3 days of "
        "it (earliest-chain semantics) — the conversion-window funnel "
        "c34's unordered counts and c156's single hop don't express. "
        "Shape: one per-user MIN aggregate per step, each step's join "
        "right side being the PREVIOUS step's converters (anchor "
        "tables shrink by the funnel's own attrition); only the k "
        "step counts reach the driver (the c123 scalar convention). "
        "100 TB: k user-keyed aggregates/joins reusing one hash "
        "partitioning; no corpus window, no per-user explode",
    tags=("sessions", "events"),
    bench=True,
)
def c188_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import windowed_funnel

    e = views(spark, sf_dir, "events")["events"]
    return windowed_funnel(
        e, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], max_gap_days=3,
    )


@query(
    "c189_neyman_allocation",
    oracle="""
    WITH stats AS (
        SELECT source AS stratum,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(n_chars) AS BIGINT) AS s,
               CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
        FROM documents GROUP BY 1
    ),
    wt AS (
        SELECT stratum, n_rows,
               CASE WHEN n_rows > 1 THEN ROUND(sqrt(
                   (CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * s / n_rows)
                   / (CAST(n_rows AS DOUBLE) - 1)), 6) END AS sd_r6,
               CASE WHEN n_rows > 1 THEN CAST(n_rows AS DOUBLE) * sqrt(
                   (CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * s / n_rows)
                   / (CAST(n_rows AS DOUBLE) - 1)) ELSE 0.0 END AS w
        FROM stats
    ),
    q AS (
        SELECT stratum, n_rows, sd_r6,
               1000.0 * w / SUM(w) OVER () AS quota
        FROM wt
    ),
    seats AS (
        SELECT stratum, n_rows, sd_r6,
               CAST(FLOOR(quota) AS BIGINT) AS base,
               quota - FLOOR(quota) AS rem
        FROM q
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, stratum) AS rk,
               CAST(SUM(base) OVER () AS BIGINT) AS used
        FROM seats
    )
    SELECT stratum, n_rows, sd_r6,
           CAST(base + (CASE WHEN rk <= 1000 - used THEN 1 ELSE 0 END)
               AS BIGINT) AS alloc
    FROM ranked
    ORDER BY stratum
    """,
    doc="Neyman optimal allocation of a 1000-row sample budget across "
        "document sources (operators/sampling.neyman_allocation; "
        "Neyman 1934): seats proportional to N_h*S_h of n_chars — the "
        "DESIGN step in front of the stratified take (c30) and the "
        "budgeted selections (c47/c101), minimizing estimator variance "
        "for the budget. Exact BIGINT sufficient stats; S_h is one "
        "fixed-IEEE sqrt (c177's pinned variance order); fractional "
        "seats settled by LARGEST-REMAINDER (Hamilton) apportionment "
        "(floors + top-remainder seats, ties to smaller stratum) so "
        "allocations are integers summing EXACTLY to the budget "
        "(pytest invariant); single-row strata weight 0. 100 TB: one "
        "map-side-partial aggregate to strata; windows over STRATA "
        "after",
    tags=("sampling", "documents"),
)
def c189_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import neyman_allocation

    dcs = views(spark, sf_dir, "documents")["documents"]
    return neyman_allocation(dcs, "source", "n_chars", n_total=1000)


@query(
    "c190_isotonic_calibration",
    oracle="""
    WITH b AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000
                   AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) AS BIGINT) AS num,
               CAST(COUNT(*) AS BIGINT) AS den
        FROM events GROUP BY 1
    ),
    pre AS (
        SELECT x, num, den,
               CAST(SUM(num) OVER (ORDER BY x) AS BIGINT) AS cs,
               CAST(SUM(den) OVER (ORDER BY x) AS BIGINT) AS cn
        FROM b
    ),
    intervals AS (
        SELECT lo.x AS jx, hi.x AS kx,
               CAST((hi.cs - (lo.cs - lo.num)) * 1000000000
                    // (hi.cn - (lo.cn - lo.den)) AS BIGINT) AS avg_q
        FROM pre lo JOIN pre hi ON lo.x <= hi.x
    ),
    inner_min AS (
        SELECT p.x, p.num, p.den, i.jx,
               CAST(MIN(i.avg_q) AS BIGINT) AS m
        FROM b p JOIN intervals i ON i.jx <= p.x AND i.kx >= p.x
        GROUP BY 1, 2, 3, 4
    )
    SELECT x, den AS n,
           CAST(num * 1000000000 // den AS BIGINT) AS rate_q,
           CAST(MAX(m) AS BIGINT) AS fit_q
    FROM inner_min
    GROUP BY x, num, den
    ORDER BY x
    """,
    doc="isotonic calibration (operators/ml.isotonic_fit): weighted "
        "isotonic regression of purchase rate over value bands — the "
        "FIX for the miscalibration c168 diagnoses — via the exact "
        "MINIMAX identity fit(i) = max_{j<=i} min_{k>=i} wavg(j..k) "
        "instead of PAV's sequential stack (hostile to set engines). "
        "Interval averages are integer nano-units from prefix sums; "
        "the minimax over ANY fixed integer matrix is monotone in i "
        "(j-range grows, k-range shrinks), so quantization CANNOT "
        "break the isotonic contract — monotonicity pytest-pinned on "
        "a violating fixture alongside a pure-python PAV replay. "
        "100 TB: runs on the BAND table (the corpus aggregated first); "
        "B² intervals, B³ minimax tuples — metadata-sized by the "
        "method's own construction, never pointed at raw rows",
    tags=("ml", "events"),
)
def c190_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import isotonic_fit

    e = views(spark, sf_dir, "events")["events"]
    bands = e.groupBy(
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 5000"
        ).alias("x")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("num"),
        F.count(F.lit(1)).alias("den"),
    )
    return isotonic_fit(bands, "x", "num", "den")


@query(
    "c191_semdedup_cell_capped",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    cents AS (
        SELECT vec_id AS cent_id, qv AS cq,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS cn
        FROM v WHERE vec_id < 16
    ),
    cells AS (
        SELECT vec_id, qv, norm, cent_id AS cell FROM (
            SELECT n.vec_id, n.qv, n.norm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DUCK_L2.format(a='n.qv', b='c.cq')}, c.cent_id
                   ) AS rn
            FROM n CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    sizes AS (SELECT cell, COUNT(*) AS pop FROM cells GROUP BY 1),
    small AS (
        SELECT c.* FROM cells c JOIN sizes s USING (cell) WHERE s.pop <= 30
    ),
    bigr AS (
        SELECT c.*, row_number() OVER (
                   PARTITION BY c.cell ORDER BY
                       c.norm - 2 * {_DUCK_DOT.format(a='c.qv', b='ct.cq')}
                           + ct.cn,
                       c.vec_id
               ) AS rnk
        FROM cells c
        JOIN sizes s USING (cell)
        JOIN cents ct ON ct.cent_id = c.cell
        WHERE s.pop > 30
    ),
    drops_small AS (
        SELECT DISTINCT b.vec_id AS drop_id
        FROM small a JOIN small b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
              / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
              >= 0.4
    ),
    drops_big AS (
        SELECT DISTINCT b.vec_id AS drop_id
        FROM bigr a JOIN bigr b
          ON a.cell = b.cell AND b.rnk > a.rnk AND b.rnk <= a.rnk + 4
        WHERE CAST({_DUCK_DOT.format(a='a.qv', b='b.qv')} AS DOUBLE)
              / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
              >= 0.4
    ),
    drops AS (
        SELECT drop_id FROM drops_small
        UNION SELECT drop_id FROM drops_big
    )
    SELECT vec_id, cell FROM cells
    WHERE vec_id NOT IN (SELECT drop_id FROM drops)
    """,
    doc="SemDeDup with the cell-SKEW guard (VERDICT r11 item 3) — "
        "c61's \"bounded by cell sizes\" is corpus^2/k only for "
        "BALANCED cells; one giant semantic cluster re-creates the "
        "quadratic. Cells above max_cell_rows=30 switch to a windowed "
        "pair scan: members ranked within the cell by (L2-to-centroid, "
        "id) — the rank rides sampling.grouped_cumsum, no per-cell "
        "single-task window — and each member compares only to its 4 "
        "rank-predecessors via a banded equi-join on rank blocks: a "
        "HARD pop*4 pair bound however self-similar the cell. "
        "Distance ties break by id, so identical-vector chains stay "
        "rank-adjacent and collapse to one survivor; pairs further "
        "apart in the distance ordering are the documented recall "
        "price. Cells at/under the cap keep c61's exact full scan. "
        "The oracle replays cells, the pop split, both pair rules, "
        "and the union verbatim",
    bench=True,
    tags=("similarity", "dedup"),
)
def c191_semdedup_cell_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return semantic_dedup(
        e,
        n_cells=16,
        threshold_microcos=400_000,
        max_cell_rows=30,
        pair_window=4,
    )


@query(
    "q96_stored_procedure",
    oracle="""
    WITH one AS (
        SELECT 'high' AS band, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders WHERE o_totalprice > 100000 GROUP BY 2
    ),
    two AS (
        SELECT 'vhigh' AS band, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders WHERE o_totalprice > 200000 GROUP BY 2
    )
    SELECT * FROM one UNION ALL SELECT * FROM two
    ORDER BY band, o_orderpriority
    """,
    doc="stored procedures, SQL-body subset (functions/procedures.py "
        "— VERDICT r11 missing #1): CREATE [OR REPLACE] PROCEDURE "
        "name(args) AS $$ BEGIN sql; sql; END; $$ LANGUAGE plpgsql "
        "registers the statement list; CALL substitutes named IN "
        "arguments (quote-aware single pass, CAST to the declared "
        "type) and replays the body through execute_sql_script, so "
        "every body statement gets COPY/UNLOAD lowering, dialect "
        "translation, and transaction routing; DROP PROCEDURE [IF "
        "EXISTS] unregisters. OUT/INOUT args and procedural plpgsql "
        "(DECLARE/IF/LOOP) refuse honestly with NotImplementedError. "
        "Reference basis: the pass-through at execute_sql.py:77 is "
        "where Redshift users submit CALL today. The entry CREATEs a "
        "create-if-absent + INSERT-append procedure, CALLs it twice "
        "with different (cutoff, label) arguments, and scans the "
        "table both calls built",
    tags=("native", "sql", "dialect", "orders"),
)
def q96_stored_procedure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    # idempotent per invocation: the procedure INSERT-appends, so a
    # second call in the same session (bench full sweep + oracle run)
    # would double the rows without this drop
    execute_sql(spark, "DROP TABLE IF EXISTS bp_proc_summary")
    _clean_stale_location(spark, "bp_proc_summary", None)
    execute_sql(spark, "DROP PROCEDURE IF EXISTS bp_refresh_summary")
    execute_sql(
        spark,
        """
        CREATE OR REPLACE PROCEDURE bp_refresh_summary(
            minprice int, label varchar(10))
        AS $$
        BEGIN
          CREATE TABLE IF NOT EXISTS bp_proc_summary (
              band STRING, o_orderpriority STRING,
              n_orders BIGINT, sum_price DOUBLE) USING parquet;
          INSERT INTO bp_proc_summary
            SELECT label, o_orderpriority, COUNT(*),
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE)
            FROM orders WHERE o_totalprice > minprice
            GROUP BY o_orderpriority;
        END;
        $$ LANGUAGE plpgsql
        """,
    )
    execute_sql(spark, "CALL bp_refresh_summary(100000, 'high')")
    execute_sql(spark, "CALL bp_refresh_summary(200000, 'vhigh')")
    return spark.table("bp_proc_summary").orderBy(
        "band", "o_orderpriority"
    )


@query(
    "q97_partiql_unnest",
    oracle="""
    SELECT vec_id,
           unnest(generate_series(0, len(embedding) - 1)) AS idx,
           unnest(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
               AS val_micro
    FROM embeddings
    WHERE vec_id < 50
    ORDER BY vec_id, idx
    """,
    doc="PartiQL FROM-clause unnesting (functions/redshift_compat."
        "_rewrite_partiql_unnest — VERDICT r11 missing #2): Redshift "
        "``FROM t AS a, a.arr AS x AT i`` navigates into a SUPER/array "
        "column; Spark's parser rejects it, so the dialect layer "
        "rewrites the comma item whose qualifier resolves to a "
        "preceding item's alias into ``LATERAL VIEW posexplode(a.arr) "
        "AS i, x`` (``explode`` without AT; Redshift AT and Spark pos "
        "are both 0-based; schema.table relations never match; "
        "chained unnests over a previous unnest alias keep resolving; "
        "paren-depth + string-aware, pytest-pinned). The entry "
        "unnests the embedding array with ordinals through the full "
        "dialect face and micro-quantizes the element for the hash "
        "compare",
    tags=("dialect", "embeddings"),
)
def q97_partiql_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import translate_redshift_sql

    views(spark, sf_dir, "embeddings")
    return spark.sql(
        translate_redshift_sql(
            """
            SELECT vec_id, idx,
                   CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT)
                       AS val_micro
            FROM embeddings v, v.embedding AS val AT idx
            WHERE vec_id < 50
            ORDER BY vec_id, idx
            """
        )
    )


@query(
    "a11_unload_single_file_header",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_bal
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY 1
    ORDER BY 1
    """,
    doc="UNLOAD HEADER + PARALLEL OFF single-file contract (VERDICT "
        "r11 missing #4): PARALLEL OFF coalesces to ONE writer task "
        "and publishes the part file AT the target path itself (a "
        "FILE, not a directory — the Redshift single-file contract "
        "downstream non-Spark consumers rely on), HEADER emits the "
        "column-name first row. The entry UNLOADs a customer "
        "projection pipe-delimited, asserts the target is a single "
        "regular file whose first line is the header, COPYs it back "
        "with IGNOREHEADER 1, and the typed aggregate must reproduce "
        "the source exactly. 100 TB note, stated not hidden: "
        "PARALLEL OFF is a one-task write by definition — use it for "
        "small handoff extracts only; big exports keep PARALLEL ON "
        "(many part files) or PARTITION BY",
    tags=("native", "export", "ingest", "customer"),
)
def a11_unload_single_file_header(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="bp_unload1_")
    out = os.path.join(tmp, "cust_extract.csv")
    execute_sql(
        spark,
        "UNLOAD ('SELECT c_custkey, c_mktsegment, c_acctbal FROM "
        "customer WHERE c_acctbal > 0') "
        f"TO '{out}' CSV DELIMITER '|' HEADER PARALLEL OFF",
    )
    assert os.path.isfile(out), "PARALLEL OFF must publish ONE file"
    with open(out) as fh:
        first = fh.readline().strip()
    assert first == "c_custkey|c_mktsegment|c_acctbal", first
    tbl = "bp_unload1_cust"
    _clean_stale_location(spark, tbl, None)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    execute_sql(
        spark,
        f"COPY {tbl} FROM '{out}' CSV DELIMITER '|' IGNOREHEADER 1",
    )
    return (
        spark.table(tbl)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("c_acctbal", "sum_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q98_query_history",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT),
         'CREATE OR REPLACE TEMPORARY VIEW bp_q98 AS SELECT 1 one', 0),
        (CAST(2 AS BIGINT), 'SELECT one FROM bp_q98', 0),
        (CAST(3 AS BIGINT), 'SELECT * FROM bp_q98_missing', 1)
    ) AS t(qno, substring, aborted)
    ORDER BY qno
    """,
    doc="query-history system views svl_qlog / stl_query (functions/"
        "system_tables.py — VERDICT r11 missing #3): every statement "
        "execute_sql completes is recorded per session (sequential "
        "query id, 60-char substring / full querytxt, starttime, "
        "aborted flag set when the statement raised) and the views "
        "register on demand like pg_table_def. Divergences stated in "
        "the module: completed statements only, no xid/pid/elapsed. "
        "The entry runs a DDL, a SELECT, and a failing statement, "
        "then reads its own marker-scoped slice of svl_qlog with a "
        "stable renumbering (the session log is shared, so absolute "
        "query ids depend on what ran before; the global row_number "
        "runs on a 3-row marker slice of driver metadata — "
        "constant-bound by construction, not a data window)",
    tags=("native", "sql", "system"),
)
def q98_query_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.system_tables import (
        register_query_log_views,
        reset_query_log,
    )
    from ..sqlrun import execute_sql

    # idempotence when bench replays the builder in one session
    reset_query_log(spark, like="bp_q98")
    execute_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW bp_q98 AS SELECT 1 one",
    )
    execute_sql(spark, "SELECT one FROM bp_q98")
    try:
        execute_sql(spark, "SELECT * FROM bp_q98_missing")
    except RuntimeError:
        pass  # the aborted row is the point
    except Exception:
        pass
    register_query_log_views(spark)
    return spark.sql(
        """
        SELECT CAST(row_number() OVER (ORDER BY query) AS BIGINT)
                   AS qno,
               substring, aborted
        FROM svl_qlog
        WHERE substring LIKE '%bp_q98%'
        ORDER BY qno
        """
    )


@query(
    "c192_gini_concentration",
    oracle="""
    WITH r AS (
        SELECT CAST(n_chars AS BIGINT) AS w,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                   AS BIGINT) AS rnk
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(w) AS BIGINT) AS total_w,
           CAST((2 * SUM(rnk * w) - (COUNT(*) + 1) * SUM(w)) * 1000000
                // (COUNT(*) * SUM(w)) AS BIGINT) AS gini_micro
    FROM r
    """,
    doc="Gini coefficient of corpus mass (operators/ml."
        "gini_concentration): how concentrated is the character budget "
        "across documents — the corpus-skew audit next to per-source "
        "caps (c87) and mixing weights (c53/c101). Exact rank form "
        "G = (2*SUM(i*w_i) - (n+1)*SUM(w)) / (n*SUM(w)) in micro-units, "
        "every term BIGINT (bound n^2*avg_w < 9.2e18 documented). The "
        "rank rides sampling.global_rank — distributed range sort + "
        "broadcast offsets, no single-partition ORDER BY window — then "
        "ONE map-side-partial aggregate to one row",
    bench=True,
    tags=("ml", "sampling", "documents"),
)
def c192_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import gini_concentration

    d = views(spark, sf_dir, "documents")["documents"]
    return gini_concentration(d, "n_chars", "doc_id")


@query(
    "c193_label_propagation",
    oracle="""
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT DISTINCT a.p AS s, b.p AS d
        FROM lp a JOIN lp b ON a.o = b.o AND a.p <> b.p
    ),
    l0 AS (
        SELECT p AS node, p % 3 AS label
        FROM (SELECT DISTINCT p FROM lp ORDER BY p LIMIT 10)
    ),
    v1 AS (
        SELECT e.s AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM e JOIN l0 l ON e.d = l.node GROUP BY 1, 2
    ),
    w1 AS (
        SELECT node, label FROM (
            SELECT node, label, row_number() OVER (
                PARTITION BY node ORDER BY c DESC, label ASC) AS rn
            FROM v1
        ) WHERE rn = 1
    ),
    l1 AS (
        SELECT * FROM l0
        UNION ALL
        SELECT w.node, w.label FROM w1 w
        WHERE w.node NOT IN (SELECT node FROM l0)
    ),
    v2 AS (
        SELECT e.s AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM e JOIN l1 l ON e.d = l.node GROUP BY 1, 2
    ),
    w2 AS (
        SELECT node, label FROM (
            SELECT node, label, row_number() OVER (
                PARTITION BY node ORDER BY c DESC, label ASC) AS rn
            FROM v2
        ) WHERE rn = 1
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
    FROM l0
    UNION ALL
    SELECT CAST(w.node AS BIGINT), CAST(w.label AS BIGINT) FROM w2 w
    WHERE w.node NOT IN (SELECT node FROM l0)
    """,
    doc="semi-supervised label propagation with clamped seeds "
        "(operators/graph.label_propagation; Zhu/Ghahramani 2002, "
        "integer-vote form): seed the 10 smallest part keys of the "
        "c111 co-purchase graph with label p%3, then 2 synchronous "
        "rounds where every non-seed node takes the MAJORITY label "
        "among its labeled in-neighbors (ties -> smallest label), "
        "recomputed from the seed set each round — 'label 10 "
        "products, infer the rest'. Fixed 2-round unroll = the "
        "chained-CTE oracle replays it exactly; all-integer votes, "
        "no float scores to drift. Per round: ONE edges-x-labels "
        "equi-join, ONE vote aggregate, ONE max-struct winner "
        "aggregate, anti-join vs seeds; c90 persist hygiene",
    bench=True,
    tags=("graph", "lineitem"),
)
def c193_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    li = views(spark, sf_dir, "lineitem")["lineitem"]
    lp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    e = (
        lp.alias("a")
        .join(lp.alias("b"), F.col("a.o") == F.col("b.o"))
        .filter(F.col("a.p") != F.col("b.p"))
        .select(
            F.col("a.p").alias("src"), F.col("b.p").alias("dst")
        )
        .distinct()
    )
    seeds = (
        lp.select("p")
        .distinct()
        .orderBy("p")
        .limit(10)
        .select(
            F.col("p").alias("node"), (F.col("p") % 3).alias("label")
        )
    )
    return label_propagation(e, seeds, iterations=2)


@query(
    "c194_cohens_kappa",
    oracle="""
    WITH r AS (
        SELECT CASE WHEN CAST(value AS DOUBLE) > 50 THEN 1 ELSE 0 END
                   AS a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM events
    ),
    c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM r
    )
    SELECT n, n11, n10, n01, n00,
           CASE WHEN n * n - (n11 + n10) * (n11 + n01)
                    - (n01 + n00) * (n10 + n00) <> 0 THEN
               CAST(((n11 + n00) * n - (n11 + n10) * (n11 + n01)
                     - (n01 + n00) * (n10 + n00)) * 1000000
                    // (n * n - (n11 + n10) * (n11 + n01)
                        - (n01 + n00) * (n10 + n00)) AS BIGINT)
           END AS kappa_micro
    FROM c
    """,
    doc="Cohen's kappa (operators/ml.cohens_kappa): chance-corrected "
        "agreement between two binary raters — here 'value > 50' vs "
        "'is purchase' as the rater pair — the labeling-QA readout "
        "before trusting annotations (c159's confusion matrix grades "
        "a model vs truth; kappa grades two LABELERS vs each other). "
        "Single BIGINT rational ((po-pe)/(1-pe) cleared of "
        "denominators), one exact integer division to micro-units, "
        "NULL on the pe=1 degenerate; exact to ~3e9 rows (n^2 bound "
        "documented). ONE map-side-partial aggregate to four cells",
    tags=("ml", "events"),
)
def c194_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import cohens_kappa

    e = views(spark, sf_dir, "events")["events"]
    r = e.select(
        (F.col("value").cast("double") > 50).cast("int").alias("a"),
        (F.col("event_type") == "purchase").cast("int").alias("b"),
    )
    return cohens_kappa(r, "a", "b")


@query(
    "c195_tga_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id,
               (d.doc_id * 11 + y.y * 5 + (x.x // 4) * 3) % 32 AS c
        FROM documents d, range(5) y(y), range(8) x(x)
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(5 AS BIGINT) AS height,
           CAST(40 AS BIGINT) AS n_pixels,
           CAST(SUM((c * 7) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((c * 11) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((c * 3) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="REAL TGA decode, end-to-end verified — the RLE-packet rung "
        "of the codec ladder (c64 PPM raw, c153 BMP container, c81/"
        "c83 PNG zlib+filters, c130 GIF LZW, c103 WAV PCM, c180 QOI "
        "ops): 8x5 images are ENCODED to genuine Truevision TGAs — "
        "even ids type 2 uncompressed bottom-up, odd ids type 10 RLE "
        "top-down (descriptor bit 5), detection via the TGA 2.0 "
        "TRUEVISION-XFILE. tail footer since the format has no front "
        "magic — then DECODED back (operators/multimodal.encode_tga/"
        "decode_tga) and reduced to exact integer channel sums. The "
        "x DIV 4 plateau in the pixel rule makes real repeat packets "
        "AND literal packets at plateau boundaries; pixel (x,y) of id "
        "i is (i*11+y*5+(x DIV 4)*3) mod 32, color ((c*7)%256,"
        "(c*11)%256,(c*3)%256), and the oracle recomputes the sums "
        "from that closed form alone — one wrong byte (BGR swap, row "
        "order, packet count) fails the hash. Arrow-batched "
        "mapInPandas in the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c195_tga_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        image_channel_stats,
        synthesize_tga_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_tga_images(d, "doc_id", w=8, h=5))


@query(
    "c196_stratified_kfold",
    oracle="""
    WITH r AS (
        SELECT doc_id AS id, lang AS stratum,
               (row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substring(md5(CAST(doc_id AS VARCHAR)
                                          || ':v1'), 1, 6),
                            doc_id
               ) - 1) % 5 AS fold
        FROM documents
    )
    SELECT stratum, CAST(fold AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(SUM(id) AS BIGINT) AS sum_id
    FROM r GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="deterministic stratified k-fold assignment (operators/"
        "sampling.stratified_kfold): within every language stratum, "
        "documents are ordered by their salted md5 bucket (the "
        "hash_split portable shuffle) with doc_id tiebreak and fold = "
        "(rank-1) mod 5 — each fold gets floor/ceil(n_h/5) rows per "
        "stratum, the BALANCED folds cross-validation needs (c22's "
        "hash_split is binomially noisy per stratum). The rank rides "
        "sampling.grouped_cumsum (range-partition + broadcast span "
        "offsets — survives one stratum holding the whole corpus); "
        "fold arithmetic is map-side. The entry aggregates per "
        "(stratum, fold) counts + id checksums so one misplaced row "
        "fails the hash",
    bench=True,
    tags=("sampling", "documents"),
)
def c196_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_kfold

    d = views(spark, sf_dir, "documents")["documents"]
    folds = stratified_kfold(d, "lang", "doc_id", k=5)
    return (
        folds.groupBy("stratum", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("id").cast("long").alias("min_id"),
            F.sum("id").cast("long").alias("sum_id"),
        )
        .orderBy("stratum", "fold")
    )


@query(
    "c197_asof_forward_tolerance",
    oracle="""
    WITH c AS (
        SELECT user_id AS u, epoch_us(ts) AS tsu, event_id FROM events
        WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id AS u, epoch_us(ts) AS tsu, event_id,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
                   AS value_cents
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT c.event_id AS ce, p.event_id AS p_event,
               CAST(p.tsu - c.tsu AS BIGINT) AS latency_us,
               p.value_cents,
               row_number() OVER (
                   PARTITION BY c.event_id
                   ORDER BY p.tsu, p.event_id) AS rn
        FROM c JOIN p ON c.u = p.u AND p.tsu >= c.tsu
             AND p.tsu - c.tsu <= 86400000000
    )
    SELECT c.event_id, m.p_event, m.latency_us,
           m.value_cents AS p_value_cents
    FROM c LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      ON m.ce = c.event_id
    ORDER BY c.event_id
    """,
    doc="FORWARD as-of join with tolerance (operators/asof.asof_join "
        "direction/tolerance — the pandas merge_asof parameter "
        "surface on the union+window engine): for every click, the "
        "EARLIEST purchase by the same user at-or-after it, voided "
        "beyond 24h — time-to-conversion, the mirror of c19's "
        "quote-before-trade backward join. Same one-shuffle "
        "union+window shape (first-non-null over [current, "
        "unbounded), left-before-right tag order at equal ts, "
        "smallest-tiebreak wins forward), NO |L|x|R| theta "
        "explosion; timestamps pre-converted to exact epoch "
        "MICROSECONDS (unix_micros / epoch_us) so the tolerance "
        "compare and the latency are integer-exact in both engines "
        "(the events table is nanosecond-precision — second-level "
        "casts truncate differently). The oracle replays it as a "
        "min-per-click filtered join",
    bench=True,
    tags=("asof", "events"),
)
def c197_asof_forward_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.asof import asof_join

    e = views(spark, sf_dir, "events")["events"]
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("tsu"), "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("tsu"),
        "event_id",
        F.round(F.col("value").cast("double") * 100)
        .cast("long")
        .alias("value_cents"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="tsu",
        right_ts="tsu",
        payload={
            "p_event": "event_id",
            "p_tsu": "tsu",
            "p_value_cents": "value_cents",
        },
        tiebreak="event_id",
        direction="forward",
        tolerance=86400 * 1_000_000,
    )
    return joined.select(
        "event_id",
        "p_event",
        (F.col("p_tsu") - F.col("tsu")).cast("long").alias("latency_us"),
        "p_value_cents",
    ).orderBy("event_id")


@query(
    "c198_mrr_eval",
    oracle="""
    WITH clicks AS (
        SELECT user_id AS u,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               CAST(COUNT(*) AS BIGINT) AS score
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purch AS (
        SELECT user_id AS u,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               CAST(COUNT(*) AS BIGINT) AS rel
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    cand AS (
        SELECT c.u, c.item, c.score, COALESCE(p.rel, 0) AS rel,
               row_number() OVER (
                   PARTITION BY c.u
                   ORDER BY c.score DESC, c.item ASC) AS pos
        FROM clicks c LEFT JOIN purch p
          ON p.u = c.u AND p.item = c.item
    ),
    fr AS (
        SELECT u, CAST(MIN(pos) AS BIGINT) AS first_rel_rank
        FROM cand WHERE rel > 0 AND pos <= 5 GROUP BY 1
    ),
    base AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS n_retrieved
        FROM cand GROUP BY 1
    )
    SELECT base.u AS user_id, n_retrieved, first_rel_rank,
           COALESCE(CAST(1000000 // first_rel_rank AS BIGINT),
                    CAST(0 AS BIGINT)) AS rr_micro
    FROM base LEFT JOIN fr ON fr.u = base.u
    ORDER BY 1
    """,
    doc="MRR@5 retrieval evaluation (operators/ml.mrr_eval): the "
        "reciprocal rank of the FIRST purchased item in each user's "
        "click-ranked list — the binary-relevance readout next to "
        "graded nDCG (c148), graded on the IDENTICAL ranking (same "
        "score desc / item asc tie rule), so the two evals "
        "corroborate. Exact 1e6 DIV rank; no-hit users score 0 (the "
        "averageable convention). ONE group-key exchange feeds the "
        "rank window and both aggregates",
    tags=("ml", "events"),
)
def c198_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import mrr_eval

    e = views(spark, sf_dir, "events")["events"]
    item = F.get_json_object("props", "$.k").cast("long")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("u"), item.alias("item"))
        .agg(F.count(F.lit(1)).alias("score"))
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("u"), item.alias("item"))
        .agg(F.count(F.lit(1)).alias("rel"))
    )
    cand = clicks.join(purch, ["u", "item"], "left").select(
        "u", "item", "score", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    out = mrr_eval(cand, "u", "item", "score", "rel", k=5)
    return out.select(
        F.col("grp").alias("user_id"),
        "n_retrieved",
        "first_rel_rank",
        "rr_micro",
    ).orderBy("user_id")


@query(
    "c199_random_projection",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
        WHERE vec_id < 50
    )
    SELECT v.vec_id, j.j,
           CAST(list_sum(list_transform(
               generate_series(1, len(v.qv)),
               d -> v.qv[d] * (CASE WHEN
                   (1103515245 * (j.j * 64 + (d - 1)) + 12345)
                       % 2147483648 % 2 = 0
                   THEN 1 ELSE -1 END)
           )) AS BIGINT) AS proj_q
    FROM v, range(16) j(j)
    ORDER BY 1, 2
    """,
    doc="Johnson-Lindenstrauss random projection with a DETERMINISTIC "
        "Rademacher sign matrix (operators/similarity."
        "random_project_signs; Achlioptas 2001): 64-dim embeddings -> "
        "16 exact BIGINT coordinates, sign(j,d) = parity of one LCG "
        "step (1103515245*(j*64+d)+12345 mod 2^31) so any engine "
        "replays the matrix without RNG state — the cheap-projection "
        "rung under Matryoshka (c140) and PQ/SQ (c71/c108) for "
        "shrinking 100 TB of embeddings before ANY index is built. "
        "One Arrow-batched map-only pass (int64 matmul per batch, the "
        "assign_cells rationale); no shuffle, scan-shaped plan. The "
        "entry unnests the projection so every coordinate is "
        "hash-compared",
    tags=("similarity", "embeddings"),
)
def c199_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import random_project_signs

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    proj = random_project_signs(
        e.filter(F.col("vec_id") < 50), out_dim=16
    )
    return proj.select(
        "vec_id", F.posexplode("proj").alias("j", "proj_q")
    ).orderBy("vec_id", "j")


@query(
    "q99_regexp_functions",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '[a-z]+') AS first_word,
           CAST(len(regexp_extract_all(p_name, 'a')) AS BIGINT) AS n_a,
           regexp_replace(p_type, '[aeiou]', '_', 'g') AS devowel,
           CASE WHEN regexp_matches(p_brand, '#[0-9]+$')
                THEN 1 ELSE 0 END AS has_brand_num
    FROM part
    WHERE p_partkey <= 200
    ORDER BY p_partkey
    """,
    doc="Redshift REGEXP_* scalar family (REGEXP_SUBSTR, "
        "REGEXP_COUNT, REGEXP_REPLACE, pattern predicate): Spark 4 "
        "ships the same names natively (regexp_substr/regexp_count/"
        "regexp_replace — Redshift and Spark both replace ALL "
        "occurrences by default, DuckDB needs the explicit 'g' flag, "
        "mirrored in the oracle; DuckDB spells extraction "
        "regexp_extract and counting len(regexp_extract_all)). "
        "REGEXP_INSTR also exists in Spark with Redshift's 1-based/"
        "0-if-none contract — pytest-pinned rather than oracled "
        "because DuckDB has no positional regexp function to replay "
        "it with. Pure scalar projection: pushdown-friendly, "
        "whole-stage codegen, no shuffle beyond the ORDER BY",
    tags=("dialect", "part"),
)
def q99_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir, "part")
    return spark.sql(
        """
        SELECT p_partkey,
               regexp_substr(p_name, '[a-z]+') AS first_word,
               CAST(regexp_count(p_name, 'a') AS BIGINT) AS n_a,
               regexp_replace(p_type, '[aeiou]', '_') AS devowel,
               CASE WHEN p_brand RLIKE '#[0-9]+$'
                    THEN 1 ELSE 0 END AS has_brand_num
        FROM part
        WHERE p_partkey <= 200
        ORDER BY p_partkey
        """
    )


@query(
    "q100_pg_type_dialect",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(o_custkey AS INT8) AS cust_i8,
           CAST(o_totalprice AS FLOAT8) AS price_f8,
           CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               AS epoch_s,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS od
    FROM orders
    WHERE o_orderkey <= 400
    ORDER BY o_orderkey
    """,
    doc="PostgreSQL/Redshift type-spelling dialect (redshift_compat."
        "_rewrite_pg_types + EXTRACT(EPOCH)/1-arg TRUNC rewrites): "
        "::varchar and length-less CAST AS VARCHAR become STRING "
        "(Spark demands a length), the PG width aliases int2/int4/"
        "int8/float4/float8/bpchar map to Spark types — string types "
        "rewrite only in cast position (after :: or AS, quote-aware), "
        "width aliases rewrite anywhere outside literals since they "
        "are PG type reserved words and appear in DDL column lists "
        "(CREATE TABLE (id INT8) / ALTER ADD COLUMN x FLOAT8 — "
        "battery finding); sized VARCHAR(n) stays native; DROP "
        "TABLE/VIEW ... CASCADE|RESTRICT strips; "
        "EXTRACT(EPOCH FROM x) lowers to "
        "unix_timestamp (other EXTRACT fields are native), and "
        "Redshift's 1-arg TRUNC(timestamp) becomes CAST(x AS DATE) "
        "(the numeric 1-arg overload is NOT translated — stated "
        "divergence, spell CAST AS BIGINT). The entry runs the whole "
        "family through the full dialect face",
    tags=("dialect", "orders"),
)
def q100_pg_type_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import translate_redshift_sql

    views(spark, sf_dir, "orders")
    return spark.sql(
        translate_redshift_sql(
            """
            SELECT o_orderkey,
                   o_orderkey::varchar AS key_str,
                   CAST(o_custkey AS int8) AS cust_i8,
                   o_totalprice::float8 AS price_f8,
                   EXTRACT(epoch FROM CAST(o_orderdate AS TIMESTAMP))
                       AS epoch_s,
                   TRUNC(CAST(o_orderdate AS TIMESTAMP))::varchar AS od
            FROM orders
            WHERE o_orderkey <= 400
            ORDER BY o_orderkey
            """
        )
    )


@query(
    "c209_rmst",
    oracle="""
    WITH RECURSIVE u AS (
        SELECT user_id, user_id % 3 AS grp,
               MIN(CAST(ts AS DATE)) AS first_d,
               MAX(CAST(ts AS DATE)) AS last_d,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS conv_d
        FROM events GROUP BY 1, 2
    ),
    subj AS (
        SELECT grp,
               CAST(date_diff('day', first_d, COALESCE(conv_d, last_d))
                   AS BIGINT) AS dur,
               CASE WHEN conv_d IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM u
    ),
    day AS (
        SELECT grp, dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leave
        FROM subj GROUP BY 1, 2
    ),
    r AS (
        SELECT grp, t, d,
               CAST(SUM(leave) OVER (PARTITION BY grp)
                    - COALESCE(SUM(leave) OVER (
                          PARTITION BY grp ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_risk,
               CAST(row_number() OVER (
                   PARTITION BY grp ORDER BY t) AS BIGINT) AS rn
        FROM day
    ),
    step AS (
        SELECT grp, t, n_risk, d, rn,
               CAST((1000000 * (n_risk - d)) // n_risk AS BIGINT) AS s
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.grp, r.t, r.n_risk, r.d, r.rn,
               CAST((step.s * (r.n_risk - r.d)) // r.n_risk AS BIGINT)
        FROM step JOIN r ON r.grp = step.grp AND r.rn = step.rn + 1
    ),
    widths AS (
        SELECT grp, t, s, rn,
               GREATEST(CAST(0 AS BIGINT),
                   LEAST(COALESCE(lead(t) OVER (
                             PARTITION BY grp ORDER BY t),
                         CAST(14 AS BIGINT)), CAST(14 AS BIGINT)) - t)
                   AS width
        FROM step
    )
    SELECT CAST(grp AS BIGINT) AS grp, CAST(14 AS BIGINT) AS horizon,
           CAST(SUM(CASE WHEN rn = 1
                         THEN 1000000 * LEAST(t, CAST(14 AS BIGINT))
                         ELSE 0 END
                    + s * width) AS BIGINT) AS rmst_micro_days
    FROM widths GROUP BY 1 ORDER BY 1
    """,
    doc="restricted mean survival time at a 14-day horizon (operators/"
        "ml.rmst over c207's Kaplan-Meier curve): the area under the "
        "step curve — 'average conversion-free days in the first two "
        "weeks' per cohort, the single-number summary the curves "
        "reduce to. All-integer over the micro-quantized curve "
        "(survival is 1e6 before the first event day, S_i on "
        "[t_i, t_{i+1}), widths clipped at the horizon); one lead() "
        "window + one aggregate over the metadata-sized curve table",
    tags=("ml", "events"),
)
def c209_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import kaplan_meier, rmst

    e = views(spark, sf_dir, "events")["events"]
    u = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.col("ts").cast("date"),
            )
        ).alias("conv_d"),
    )
    subj = u.select(
        (F.col("user_id") % 3).alias("grp"),
        F.datediff(F.coalesce("conv_d", "last_d"), F.col("first_d"))
        .cast("long")
        .alias("dur"),
        F.col("conv_d").isNotNull().cast("int").alias("ev"),
    )
    km = kaplan_meier(subj, "grp", "dur", "ev")
    return rmst(km, horizon=14).orderBy("grp")


@query(
    "c210_average_precision",
    oracle="""
    WITH clicks AS (
        SELECT user_id AS u,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               CAST(COUNT(*) AS BIGINT) AS score
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purch AS (
        SELECT DISTINCT user_id AS u,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events WHERE event_type = 'purchase'
    ),
    cand AS (
        SELECT c.u, c.item, c.score,
               CASE WHEN p.u IS NULL THEN 0 ELSE 1 END AS pos_flag
        FROM clicks c LEFT JOIN purch p ON p.u = c.u AND p.item = c.item
    ),
    ranked AS (
        SELECT u, pos_flag,
               row_number() OVER (PARTITION BY u
                                  ORDER BY score DESC, item) AS pos,
               SUM(pos_flag) OVER (PARTITION BY u
                                   ORDER BY score DESC, item
                                   ROWS UNBOUNDED PRECEDING) AS cum_pos
        FROM cand
    ),
    agg AS (
        SELECT u,
               CAST(COUNT(*) AS BIGINT) AS n_retrieved,
               CAST(SUM(pos_flag) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN pos <= 10 AND pos_flag = 1
                             THEN cum_pos * 1000000 // pos
                             ELSE 0 END) AS BIGINT) AS sum_prec_q
        FROM ranked GROUP BY 1
    )
    SELECT u AS user_id, n_retrieved, n_pos, sum_prec_q,
           CASE WHEN n_pos > 0
                THEN CAST(sum_prec_q // least(n_pos, 10) AS BIGINT) END
               AS ap_micro
    FROM agg
    """,
    doc="per-user average precision at 10 (operators/ml."
        "average_precision_eval): AP@k over the implicit-feedback "
        "ranking 'order items by click count' against BINARY purchase "
        "relevance — the precision-oriented member the eval family "
        "lacked (AUC c145 is threshold-free but position-blind; nDCG "
        "c148 needs graded labels; MRR c198 only scores the FIRST "
        "hit). Each Precision@i is quantized independently "
        "(cum_pos * 1e6 DIV i) so the terms sum as exact BIGINTs and "
        "the final DIV by min(R, k) replays bit-exactly in any engine "
        "(within k micro of real-valued AP); users with no purchased "
        "item emit NULL (AP is undefined without positives, not "
        "zero). 100 TB: one exchange on user feeds the row_number and "
        "running-positive windows (same partitioning — exchange "
        "reuse) and the closing hash agg; per-user candidate lists "
        "bound every window, nothing global sorts",
    tags=("ml", "eval", "events"),
)
def c210_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import average_precision_eval

    e = views(spark, sf_dir, "events")["events"]
    item = F.get_json_object("props", "$.k").cast("long")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("u"), item.alias("item"))
        .agg(F.count(F.lit(1)).alias("score"))
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("u"), item.alias("item"))
        .distinct()
        .withColumn("pos_flag", F.lit(1))
    )
    cand = clicks.join(purch, ["u", "item"], "left").select(
        "u", "item", "score", F.coalesce("pos_flag", F.lit(0)).alias("pos_flag")
    )
    out = average_precision_eval(cand, "u", "item", "score", "pos_flag", k=10)
    return out.select(
        F.col("grp").alias("user_id"),
        "n_retrieved",
        "n_pos",
        "sum_prec_q",
        "ap_micro",
    )


@query(
    "c208_logrank_test",
    oracle="""
    WITH u AS (
        SELECT user_id, user_id % 2 AS grp,
               MIN(CAST(ts AS DATE)) AS first_d,
               MAX(CAST(ts AS DATE)) AS last_d,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS conv_d
        FROM events GROUP BY 1, 2
    ),
    subj AS (
        SELECT grp,
               CAST(date_diff('day', first_d, COALESCE(conv_d, last_d))
                   AS BIGINT) AS dur,
               CASE WHEN conv_d IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM u
    ),
    day AS (
        SELECT dur AS t,
               CAST(SUM(CASE WHEN grp = 0 THEN ev ELSE 0 END)
                   AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN grp = 1 THEN ev ELSE 0 END)
                   AS BIGINT) AS d2,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS l1,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS l2
        FROM subj GROUP BY 1
    ),
    risk AS (
        SELECT t, d1, d2,
               CAST(SUM(l1) OVER ()
                    - COALESCE(SUM(l1) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n1t,
               CAST(SUM(l2) OVER ()
                    - COALESCE(SUM(l2) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n2t
        FROM day
    ),
    terms AS (
        SELECT d1,
               CAST((d1 + d2) * n1t * 1000000 // (n1t + n2t) AS BIGINT)
                   AS e1_t_micro,
               CASE WHEN n1t + n2t > 1 THEN
                   CAST(round(CAST(d1 + d2 AS DOUBLE) * CAST(n1t AS DOUBLE)
                        * CAST(n2t AS DOUBLE)
                        * CAST(n1t + n2t - d1 - d2 AS DOUBLE)
                        / (CAST(n1t + n2t AS DOUBLE)
                           * CAST(n1t + n2t AS DOUBLE)
                           * CAST(n1t + n2t - 1 AS DOUBLE)) * 1e6)
                       AS BIGINT)
               ELSE 0 END AS v_t_micro
        FROM risk WHERE d1 + d2 > 0
    ),
    c AS (
        SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2
        FROM subj
    ),
    a AS (
        SELECT CAST(SUM(d1) AS BIGINT) AS o1,
               CAST(SUM(e1_t_micro) AS BIGINT) AS e1_micro,
               CAST(SUM(v_t_micro) AS BIGINT) AS v_micro
        FROM terms
    )
    SELECT n1, n2, o1, e1_micro, v_micro,
           CASE WHEN v_micro > 0 THEN
               CAST(round((CAST(o1 AS DOUBLE) - CAST(e1_micro AS DOUBLE)/1e6)
                    * (CAST(o1 AS DOUBLE) - CAST(e1_micro AS DOUBLE)/1e6)
                    / (CAST(v_micro AS DOUBLE)/1e6) * 1e6) AS BIGINT)
           END AS chi2_micro,
           COALESCE(CASE WHEN v_micro > 0 THEN
               CAST(round((CAST(o1 AS DOUBLE) - CAST(e1_micro AS DOUBLE)/1e6)
                    * (CAST(o1 AS DOUBLE) - CAST(e1_micro AS DOUBLE)/1e6)
                    / (CAST(v_micro AS DOUBLE)/1e6) * 1e6) AS BIGINT)
               >= 3841000 END, FALSE) AS reject
    FROM c CROSS JOIN a
    """,
    doc="log-rank test between two conversion-survival cohorts "
        "(operators/ml.logrank_test) — the significance companion of "
        "c207's Kaplan-Meier curves and the survival sibling of the "
        "c177/c183 tests: Mantel-Haenszel O1-E1 over the pooled event "
        "days with the hypergeometric variance. Quantization contract "
        "stated: E1's day term is the exact BIGINT D*n1*1e6 DIV N, "
        "V's day term one fixed-IEEE double ROUNDed to micro, both "
        "then summed exactly; chi-square in micro vs the 3.841 (1 df) "
        "critical. Multi-arm inputs raise (the srm/ks contract). "
        "Subject table -> per-day table in ONE aggregate; risk sets "
        "are cumulative sums on that days-sized table (c161 "
        "discipline); one tiny fold out",
    tags=("ml", "events"),
)
def c208_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import logrank_test

    e = views(spark, sf_dir, "events")["events"]
    u = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.col("ts").cast("date"),
            )
        ).alias("conv_d"),
    )
    subj = u.select(
        (F.col("user_id") % 2).alias("grp"),
        F.datediff(F.coalesce("conv_d", "last_d"), F.col("first_d"))
        .cast("long")
        .alias("dur"),
        F.col("conv_d").isNotNull().cast("int").alias("ev"),
    )
    return logrank_test(subj, "grp", "dur", "ev")


@query(
    "c207_kaplan_meier",
    oracle="""
    WITH RECURSIVE u AS (
        SELECT user_id, user_id % 3 AS grp,
               MIN(CAST(ts AS DATE)) AS first_d,
               MAX(CAST(ts AS DATE)) AS last_d,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS conv_d
        FROM events GROUP BY 1, 2
    ),
    subj AS (
        SELECT grp,
               CAST(date_diff('day', first_d, COALESCE(conv_d, last_d))
                   AS BIGINT) AS dur,
               CASE WHEN conv_d IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM u
    ),
    day AS (
        SELECT grp, dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leave
        FROM subj GROUP BY 1, 2
    ),
    r AS (
        SELECT grp, t, d,
               CAST(SUM(leave) OVER (PARTITION BY grp)
                    - COALESCE(SUM(leave) OVER (
                          PARTITION BY grp ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_risk,
               CAST(row_number() OVER (
                   PARTITION BY grp ORDER BY t) AS BIGINT) AS rn
        FROM day
    ),
    step AS (
        SELECT grp, t, n_risk, d, rn,
               CAST((1000000 * (n_risk - d)) // n_risk AS BIGINT) AS s
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.grp, r.t, r.n_risk, r.d, r.rn,
               CAST((step.s * (r.n_risk - r.d)) // r.n_risk AS BIGINT)
        FROM step JOIN r ON r.grp = step.grp AND r.rn = step.rn + 1
    )
    SELECT CAST(grp AS BIGINT) AS grp, t, n_risk, d, s AS s_micro
    FROM step ORDER BY grp, t
    """,
    doc="Kaplan-Meier time-to-conversion survival per user cohort "
        "(operators/ml.kaplan_meier): each user's duration runs from "
        "first activity to first purchase (event) or last activity "
        "(right-censored — honest risk-set exit, not a forever "
        "denominator); S(t) = prod (n_s - d_s)/n_s carried as the "
        "integer micro recurrence S <- S*(n-d) DIV n, each step "
        "floored, so the whole curve replays bit-exactly (the "
        "ewma_fold quantization contract; the oracle is a recursive "
        "CTE over per-group day indexes). The subject table collapses "
        "to a per-(cohort, duration) DAY table in ONE aggregate; the "
        "risk-set cumulative and the survival fold run on that "
        "metadata-sized table (c161 days discipline), the fold a "
        "JVM-side aggregate over each cohort's collected day array",
    bench=True,
    tags=("ml", "events", "sessionization"),
)
def c207_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import kaplan_meier

    e = views(spark, sf_dir, "events")["events"]
    u = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.col("ts").cast("date"),
            )
        ).alias("conv_d"),
    )
    subj = u.select(
        (F.col("user_id") % 3).alias("grp"),
        F.datediff(
            F.coalesce("conv_d", "last_d"), F.col("first_d")
        )
        .cast("long")
        .alias("dur"),
        F.col("conv_d").isNotNull().cast("int").alias("ev"),
    )
    return kaplan_meier(subj, "grp", "dur", "ev").orderBy("grp", "t")


@query(
    "c206_sliding_distinct_users",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT d AS day FROM pairs)
    SELECT CAST(dy.day AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT p.u) AS BIGINT) AS wau
    FROM days dy JOIN pairs p
      ON p.d <= dy.day AND p.d > dy.day - 7
    GROUP BY 1
    ORDER BY 1
    """,
    doc="exact trailing-7-day distinct users per day — WAU, the "
        "sliding COUNT DISTINCT a window frame cannot express "
        "(distinct is not frame-decomposable) and sketches only "
        "approximate (c68) — operators/sessions."
        "sliding_distinct_users. Exact shape: distinct (user, day) "
        "pairs, each EXPLODED to the 7 report days it supports, "
        "distinct again, ONE count per day — the explosion is "
        "7 x |user-days| (the DAU table, metadata-sized next to the "
        "event stream), both distincts are map-side-partial hash "
        "aggregates, no window function at all. The oracle replays "
        "it as the literal range join + COUNT DISTINCT spec. Days "
        "with an empty window are honestly absent (c21's spine "
        "densifies). Note the output starts mid-window: early days "
        "have partial trailing windows by definition",
    bench=True,
    tags=("sessionization", "events"),
)
def c206_sliding_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.sessions import sliding_distinct_users

    e = views(spark, sf_dir, "events")["events"]
    out = sliding_distinct_users(e, "user_id", "ts", window_days=7)
    return out.select(
        F.col("day").cast("string").alias("day"), "wau"
    ).orderBy("day")


@query(
    "q101_json_varchar_functions",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_text,
           CASE WHEN json_valid(props) THEN 1 ELSE 0 END AS is_json,
           json_array_length('[1,2,3]') IS NOT NULL AS arr3_valid,
           CAST(json_array_length('[1,2,3]') AS BIGINT) AS arr3_len,
           json_extract_string('[10,20,30]', '$[1]') AS elem1
    FROM events
    WHERE event_id <= 200
    ORDER BY event_id
    """,
    doc="pre-SUPER JSON-on-varchar family (redshift_compat: "
        "JSON_EXTRACT_PATH_TEXT -> get_json_object with a built '$.k1"
        ".k2' path, JSON_ARRAY_LENGTH -> json_array_length, "
        "JSON_EXTRACT_ARRAY_ELEMENT_TEXT -> '$[i]' for literal "
        "indexes, IS_VALID_JSON[_ARRAY] -> NULL-probing "
        "get_json_object/json_array_length): what every Redshift shop "
        "used on VARCHAR JSON columns before SUPER existed, and still "
        "runs daily. Optional null_if_invalid flags drop (NULL on bad "
        "JSON is already the Spark behavior); computed keys/indexes "
        "are out of the string rewrite's scope (stated — Spark's json "
        "path must be foldable). Pure scalar projection over the "
        "events props column",
    tags=("dialect", "events"),
)
def q101_json_varchar_functions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions import translate_redshift_sql

    views(spark, sf_dir, "events")
    return spark.sql(
        translate_redshift_sql(
            """
            SELECT event_id,
                   JSON_EXTRACT_PATH_TEXT(props, 'k') AS k_text,
                   CASE WHEN IS_VALID_JSON(props) THEN 1 ELSE 0 END
                       AS is_json,
                   IS_VALID_JSON_ARRAY('[1,2,3]') AS arr3_valid,
                   JSON_ARRAY_LENGTH('[1,2,3]', true) AS arr3_len,
                   JSON_EXTRACT_ARRAY_ELEMENT_TEXT('[10,20,30]', 1)
                       AS elem1
            FROM events
            WHERE event_id <= 200
            ORDER BY event_id
            """
        )
    )


@query(
    "q102_procedure_control_flow",
    oracle="""
    WITH d AS (SELECT unnest(generate_series(0, 6)) AS day_no)
    SELECT 'wk1' AS tag, CAST(d.day_no AS BIGINT) AS day_no,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_events
    FROM d LEFT JOIN events e
      ON date_diff('day', DATE '2024-01-01', CAST(e.ts AS DATE)) = d.day_no
    GROUP BY 1, 2
    UNION ALL
    SELECT 'zero' AS tag, CAST(-1 AS BIGINT) AS day_no,
           CAST(0 AS BIGINT) AS n_events
    ORDER BY tag, day_no
    """,
    doc="stored-procedure control flow (functions/procedures.py — "
        "VERDICT r12 item 3): plpgsql IF/ELSIF/ELSE and WHILE ... "
        "LOOP now execute — bodies parse into a statement tree at "
        "CREATE (quote/comment-aware; CASE..THEN inside a condition "
        "does not end it), conditions evaluate as dialect-translated "
        "SQL boolean expressions with scalar subqueries (NULL=false, "
        "the plpgsql rule), and WHILE is capped at 10k iterations "
        "since variable-free loop progress must come from table "
        "state. The entry is the idiomatic day-by-day backfill a "
        "Redshift shop keeps in a procedure: each iteration derives "
        "the next day from the rows already backfilled and inserts "
        "that day's event count; a second CALL with a non-positive "
        "day count takes the IF's sentinel branch instead. (DECLARE "
        "variables and FOR ranges landed later this round — q103; "
        "RAISE/RETURN landed with q103, and r14 closed dynamic "
        "EXECUTE q105, EXCEPTION blocks q104, FOR-over-query/cursors "
        "q106, OUT/INOUT q107.) Reference basis: arbitrary plpgsql "
        "reaches "
        "the pass-through at execute_sql.py:77 verbatim. Scale note: "
        "each iteration is one filtered scan — on a date-partitioned "
        "table the DATEDIFF-day predicate prunes to one partition; "
        "the loop itself is driver-side control, not a data shuffle",
    tags=("native", "sql", "dialect", "events"),
)
def q102_procedure_control_flow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "events")
    execute_sql(spark, "DROP TABLE IF EXISTS bp_proc_backfill")
    _clean_stale_location(spark, "bp_proc_backfill", None)
    execute_sql(spark, "DROP PROCEDURE IF EXISTS bp_backfill_days")
    execute_sql(
        spark,
        """
        CREATE OR REPLACE PROCEDURE bp_backfill_days(
            p_days int, p_tag varchar(8))
        AS $$
        BEGIN
          CREATE TABLE IF NOT EXISTS bp_proc_backfill (
              tag STRING, day_no BIGINT, n_events BIGINT) USING parquet;
          IF p_days <= 0 THEN
            INSERT INTO bp_proc_backfill
              SELECT p_tag, CAST(-1 AS BIGINT), CAST(0 AS BIGINT);
          ELSE
            WHILE (SELECT COUNT(*) FROM bp_proc_backfill
                    WHERE tag = p_tag) < p_days
            LOOP
              INSERT INTO bp_proc_backfill
                SELECT p_tag,
                       (SELECT COUNT(*) FROM bp_proc_backfill
                         WHERE tag = p_tag),
                       (SELECT COUNT(*) FROM events
                         WHERE DATEDIFF(day, DATE '2024-01-01',
                                        CAST(ts AS DATE))
                           = (SELECT COUNT(*) FROM bp_proc_backfill
                               WHERE tag = p_tag));
            END LOOP;
          END IF;
        END;
        $$ LANGUAGE plpgsql
        """,
    )
    execute_sql(spark, "CALL bp_backfill_days(7, 'wk1')")
    execute_sql(spark, "CALL bp_backfill_days(0, 'zero')")
    return spark.table("bp_proc_backfill").orderBy("tag", "day_no")


@query(
    "q103_procedure_variables",
    oracle="""
    WITH mx AS (
        SELECT CAST(CEIL(MAX(o_totalprice)) AS BIGINT) AS v FROM orders
    ),
    steps AS (
        SELECT 'q4' AS tag, unnest(generate_series(1, 4)) AS step,
               4 AS k
        UNION ALL
        SELECT 'h2', unnest(generate_series(1, 2)), 2
    )
    SELECT s.tag, CAST(s.step AS BIGINT) AS step,
           CAST(mx.v * s.step // s.k AS BIGINT) AS cutoff,
           CAST((SELECT COUNT(*) FROM orders o
                  WHERE o.o_totalprice <= mx.v * s.step // s.k)
               AS BIGINT) AS n_below
    FROM steps s, mx
    ORDER BY tag, step
    """,
    doc="stored-procedure VARIABLES (functions/procedures.py, r13 — "
        "the next rung of the plpgsql ladder after q102's IF/WHILE): "
        "a DECLARE header declares typed variables with optional "
        "defaults (cursor/record/constant declarations refuse), "
        "v := expr assigns via scalar SQL, SELECT ... INTO v captures "
        "the first row (non-STRICT NULL on empty — plpgsql's rule; an "
        "INTO whose target is NOT a declared variable stays the "
        "Redshift CTAS statement, the q94 form), and FOR i IN "
        "[REVERSE] lo .. hi LOOP iterates an integer range with the "
        "loop variable scoped to the loop. References substitute as "
        "typed literals at each step — quote-aware, never in string "
        "literals; variables shadow columns textually, so the entry "
        "uses the v_* naming plpgsql's own docs mandate. The entry is "
        "the threshold-ladder report pattern: capture a corpus "
        "aggregate into a variable once, then loop a parameterized "
        "tier report off it. All arithmetic integer (CEIL/DIV), so "
        "the final table replays bit-exactly in DuckDB",
    tags=("native", "sql", "dialect", "orders"),
)
def q103_procedure_variables(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    execute_sql(spark, "DROP TABLE IF EXISTS bp_proc_ladder")
    _clean_stale_location(spark, "bp_proc_ladder", None)
    execute_sql(spark, "DROP PROCEDURE IF EXISTS bp_price_ladder")
    execute_sql(
        spark,
        """
        CREATE OR REPLACE PROCEDURE bp_price_ladder(
            p_steps int, p_tag varchar(8))
        AS $$
        DECLARE
          v_max bigint;
          v_cut bigint := 0;
        BEGIN
          CREATE TABLE IF NOT EXISTS bp_proc_ladder (
              tag STRING, step BIGINT, cutoff BIGINT, n_below BIGINT)
              USING parquet;
          SELECT CAST(CEIL(MAX(o_totalprice)) AS BIGINT) INTO v_max
            FROM orders;
          FOR i IN 1 .. p_steps LOOP
            v_cut := v_max * i DIV p_steps;
            INSERT INTO bp_proc_ladder
              SELECT p_tag, CAST(i AS BIGINT), v_cut,
                     (SELECT COUNT(*) FROM orders
                       WHERE o_totalprice <= v_cut);
          END LOOP;
        END;
        $$ LANGUAGE plpgsql
        """,
    )
    execute_sql(spark, "CALL bp_price_ladder(4, 'q4')")
    execute_sql(spark, "CALL bp_price_ladder(2, 'h2')")
    return spark.table("bp_proc_ladder").orderBy("tag", "step")


@query(
    "q104_procedure_exception",
    oracle="""
    SELECT 'rollup' AS phase, 'F' AS status,
           CAST((SELECT COUNT(*) FROM orders
                  WHERE o_orderstatus = 'F') AS BIGINT) AS n
    UNION ALL
    SELECT 'rollup', 'O',
           CAST((SELECT COUNT(*) FROM orders
                  WHERE o_orderstatus = 'O') AS BIGINT)
    UNION ALL
    SELECT 'recovered', 'XX000',
           CAST((SELECT COUNT(*) FROM orders
                  WHERE o_orderstatus = 'P') AS BIGINT)
    UNION ALL
    SELECT 'final', 'all',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    ORDER BY phase, status
    """,
    doc="stored-procedure EXCEPTION blocks (functions/procedures.py, "
        "r14 — the r13 verdict's top-ranked refusal, now executing): "
        "BEGIN ... EXCEPTION WHEN OTHERS THEN ... END runs with "
        "Redshift's NONATOMIC-mode semantics — leaf statements here "
        "auto-commit, so only the FAILED statement rolls back, "
        "earlier block statements stand, and sqlerrm/sqlstate bind "
        "inside the handler (sqlstate parsed from Spark's error "
        "text). Only WHEN OTHERS is accepted — the Redshift rule. "
        "The entry is the raise-and-recover backfill the verdict "
        "prescribed: per-status rollups where the unimplemented "
        "tier RAISEs mid-block (after capturing its count into a "
        "variable — NONATOMIC keeps that write), the handler logs a "
        "recovery row carrying sqlstate and the captured count, and "
        "the procedure continues to the final rollup. Oracle "
        "replays the four rows in plain SQL (RAISE EXCEPTION "
        "carries no engine SQLSTATE, hence the documented XX000). "
        "Reference basis: plpgsql bodies reach the pass-through at "
        "execute_sql.py:77 verbatim. Scale: each statement is one "
        "pushed-down filtered scan; the handler is driver-side "
        "control flow, no data moves on error",
    tags=("native", "sql", "dialect", "orders"),
)
def q104_procedure_exception(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    execute_sql(spark, "DROP TABLE IF EXISTS bp_exc_out")
    _clean_stale_location(spark, "bp_exc_out", None)
    execute_sql(spark, "DROP PROCEDURE IF EXISTS bp_exc_backfill")
    execute_sql(
        spark,
        """
        CREATE OR REPLACE PROCEDURE bp_exc_backfill() AS $$
        DECLARE v_n bigint := -1;
        BEGIN
          CREATE TABLE IF NOT EXISTS bp_exc_out (
              phase STRING, status STRING, n BIGINT) USING parquet;
          INSERT INTO bp_exc_out
            SELECT 'rollup', 'F', (SELECT COUNT(*) FROM orders
                                    WHERE o_orderstatus = 'F');
          BEGIN
            INSERT INTO bp_exc_out
              SELECT 'rollup', 'O', (SELECT COUNT(*) FROM orders
                                      WHERE o_orderstatus = 'O');
            SELECT COUNT(*) INTO v_n FROM orders
              WHERE o_orderstatus = 'P';
            IF v_n >= 0 THEN
              RAISE EXCEPTION 'P backfill unimplemented: % rows', v_n;
            END IF;
            INSERT INTO bp_exc_out SELECT 'rollup', 'P', v_n;
          EXCEPTION WHEN OTHERS THEN
            INSERT INTO bp_exc_out SELECT 'recovered', sqlstate, v_n;
          END;
          INSERT INTO bp_exc_out
            SELECT 'final', 'all', (SELECT COUNT(*) FROM orders);
        END;
        $$ LANGUAGE plpgsql
        """,
    )
    execute_sql(spark, "CALL bp_exc_backfill()")
    return spark.table("bp_exc_out").orderBy("phase", "status")


@query(
    "q105_dynamic_execute",
    oracle="""
    SELECT 'f' AS suffix, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 'o', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DOUBLE)
    FROM orders WHERE o_orderstatus = 'O'
    ORDER BY suffix
    """,
    doc="dynamic EXECUTE in stored procedures (functions/"
        "procedures.py, r14 — r13 verdict item 3): EXECUTE <string "
        "expr> evaluates the expression as scalar SQL (variables "
        "substitute into the EXPRESSION, never into the resulting "
        "command — the plpgsql rule) and routes the constructed "
        "statement through the full dispatcher, so dynamic DDL/DML "
        "gets COPY lowering, dialect translation and transaction "
        "routing like static text; EXECUTE ... INTO captures the "
        "first result row into variables (take(1)-bounded). The "
        "entry is the templated-maintenance idiom the refusal used "
        "to block: a procedure that derives a table name from its "
        "arguments, EXECUTEs DROP + CTAS for that name, reads the "
        "build back with EXECUTE ... INTO, and logs a summary row — "
        "called twice for two status partitions. Oracle replays "
        "both summaries straight off orders. Scale: the CTAS is a "
        "pushed-down filtered scan writing distributed parquet; "
        "only the 2-value summary takes the driver path",
    tags=("native", "sql", "dialect", "orders"),
)
def q105_dynamic_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    for t in ("bp_dyn_summary", "bp_dyn_f", "bp_dyn_o"):
        execute_sql(spark, f"DROP TABLE IF EXISTS {t}")
        _clean_stale_location(spark, t, None)
    execute_sql(spark, "DROP PROCEDURE IF EXISTS bp_dyn_build")
    body = (
        "CREATE OR REPLACE PROCEDURE bp_dyn_build(\n"
        "    p_suffix varchar(10), p_status varchar(1)) AS $$\n"
        "DECLARE\n"
        "  v_tbl varchar(64);\n"
        "  v_n bigint;\n"
        "  v_sum decimal(18,2);\n"
        "BEGIN\n"
        "  CREATE TABLE IF NOT EXISTS bp_dyn_summary (\n"
        "      suffix STRING, n_orders BIGINT, total DOUBLE)\n"
        "      USING parquet;\n"
        "  v_tbl := 'bp_dyn_' || p_suffix;\n"
        "  EXECUTE 'DROP TABLE IF EXISTS ' || v_tbl;\n"
        "  EXECUTE 'CREATE TABLE ' || v_tbl ||\n"
        "          ' USING parquet AS SELECT o_orderkey, o_totalprice'\n"
        "          || ' FROM orders WHERE o_orderstatus = '''\n"
        "          || p_status || '''';\n"
        "  EXECUTE 'SELECT COUNT(*), CAST(SUM(CAST(o_totalprice AS '\n"
        "          || 'DECIMAL(18,2))) AS DECIMAL(18,2)) FROM ' || v_tbl\n"
        "    INTO v_n, v_sum;\n"
        "  INSERT INTO bp_dyn_summary\n"
        "    SELECT p_suffix, v_n, CAST(v_sum AS DOUBLE);\n"
        "END;\n"
        "$$ LANGUAGE plpgsql"
    )
    execute_sql(spark, body)
    execute_sql(spark, "CALL bp_dyn_build('f', 'F')")
    execute_sql(spark, "CALL bp_dyn_build('o', 'O')")
    return spark.table("bp_dyn_summary").orderBy("suffix")


@query(
    "q106_procedure_for_query",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT pri, n,
               CAST(SUM(n) OVER (ORDER BY pri) AS BIGINT) AS running
        FROM g
    )
    SELECT pri, n AS n_orders, running FROM r
    UNION ALL
    SELECT 'TOTAL: ' || pri, n, running FROM (
        SELECT pri, n, running FROM r ORDER BY running DESC, pri LIMIT 1
    )
    ORDER BY running, pri
    """,
    doc="FOR-over-query record loops + bound cursors in stored "
        "procedures (functions/procedures.py, r14 — r13 verdict item "
        "4): FOR r IN <query> LOOP binds each result row as a record "
        "whose r.field references substitute per iteration "
        "(driver-side by nature — each row drives statements — and "
        "capped at 10k rows via a bounded take()); DECLARE c CURSOR "
        "FOR <query> + OPEN/FETCH INTO/CLOSE lower onto the q85 "
        "session cursor registry (materialize-once paging), binding "
        "variables at OPEN and closing leaked cursors at procedure "
        "exit. The entry is the row-driven report the refusal used "
        "to block: a FOR loop accumulates a running total across "
        "priority rollups (record + variable interplay), then a "
        "cursor over the finished report FETCHes its top row to "
        "append a TOTAL line. Oracle replays the loop as a window "
        "cumsum and the cursor as ORDER BY ... LIMIT 1. Scale: the "
        "looped query is one 5-group aggregate; per-row work is "
        "driver-side control flow, the scans stay distributed",
    tags=("native", "sql", "dialect", "orders"),
)
def q106_procedure_for_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    execute_sql(spark, "DROP TABLE IF EXISTS bp_pri_out")
    _clean_stale_location(spark, "bp_pri_out", None)
    execute_sql(spark, "DROP PROCEDURE IF EXISTS bp_pri_report")
    execute_sql(
        spark,
        """
        CREATE OR REPLACE PROCEDURE bp_pri_report() AS $$
        DECLARE
          c CURSOR FOR SELECT pri, n_orders, running FROM bp_pri_out
            ORDER BY running DESC, pri;
          v_run bigint := 0;
          v_pri varchar(40);
          v_n bigint;
          v_top bigint;
        BEGIN
          CREATE TABLE IF NOT EXISTS bp_pri_out (
              pri STRING, n_orders BIGINT, running BIGINT)
              USING parquet;
          FOR r IN SELECT o_orderpriority AS pri, COUNT(*) AS n
                   FROM orders GROUP BY o_orderpriority
                   ORDER BY o_orderpriority LOOP
            v_run := v_run + r.n;
            INSERT INTO bp_pri_out SELECT r.pri, r.n, v_run;
          END LOOP;
          OPEN c;
          FETCH c INTO v_pri, v_n, v_top;
          CLOSE c;
          INSERT INTO bp_pri_out
            SELECT 'TOTAL: ' || v_pri, v_n, v_top;
        END;
        $$ LANGUAGE plpgsql
        """,
    )
    execute_sql(spark, "CALL bp_pri_report()")
    return spark.table("bp_pri_out").orderBy("running", "pri")


@query(
    "q107_procedure_out_args",
    oracle="""
    SELECT CAST(1000000 + COUNT(*) AS BIGINT) AS io_scaled,
           CAST(COUNT(*) AS BIGINT) AS o_cnt,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DOUBLE) AS o_max
    FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="OUT / INOUT procedure arguments (functions/procedures.py, "
        "r14 — r13 verdict item 5, the last ranked refusal): OUT "
        "args are OMITTED from the CALL argument list and INOUT args "
        "passed (Redshift's documented CALL rule); both execute as "
        "variables (OUT starts NULL, INOUT from its CALL expression, "
        "in scope before DECLARE defaults — plpgsql argument scope), "
        "and call_procedure_returning surfaces their exit values as "
        "the one-row result set Redshift returns from CALL, one "
        "column per OUT/INOUT argument in declaration order. The "
        "entry captures an aggregate pair into OUT args via SELECT "
        "INTO and scales an INOUT accumulator, returning the one-row "
        "surface directly; the oracle computes the same row in plain "
        "SQL. Scale: the aggregate is one pushed-down scan; only the "
        "3-value result row touches the driver",
    tags=("native", "sql", "dialect", "orders"),
)
def q107_procedure_out_args(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.procedures import call_procedure_returning
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    execute_sql(spark, "DROP PROCEDURE IF EXISTS bp_order_stats")
    execute_sql(
        spark,
        """
        CREATE OR REPLACE PROCEDURE bp_order_stats(
            p_status IN varchar(1), io_scaled INOUT bigint,
            o_cnt OUT bigint, o_max OUT double precision) AS $$
        BEGIN
          SELECT COUNT(*),
                 CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE)
            INTO o_cnt, o_max
            FROM orders WHERE o_orderstatus = p_status;
          io_scaled := io_scaled + o_cnt;
        END;
        $$ LANGUAGE plpgsql
        """,
    )
    _, res = call_procedure_returning(
        spark, "bp_order_stats", ["'F'", "1000000"]
    )
    return res


@query(
    "c211_jpeg_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c,
               CAST(2 * ((d.doc_id * 31 + (g1.r // 8) * 7
                          + (g2.c // 8) * 3) % 128) AS BIGINT) AS v
        FROM documents d, range(24) g1(r), range(21) g2(c)
        WHERE g1.r < (1 + d.doc_id % 3) * 8 - 1
          AND g2.c < (2 + d.doc_id % 2) * 8 - 3
    )
    SELECT doc_id,
           CAST((2 + doc_id % 2) * 8 - 3 AS BIGINT) AS width,
           CAST((1 + doc_id % 3) * 8 - 1 AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS BIGINT) AS px_min,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """,
    doc="REAL baseline JPEG decode (operators/multimodal.py, r14 — "
        "the first DCT-family codec on the ladder, closing the "
        "'compressed image codecs' residue named since r8): the "
        "synthesizer emits spec-standard baseline JFIF grayscale "
        "(Annex K.1 quantization, Annex K.3.1 canonical Huffman, "
        "byte-stuffed entropy data; pytest cross-validates the bytes "
        "against the JVM's independent javax.imageio decoder) and the "
        "decoder walks markers, Huffman-decodes, dequantizes and "
        "IDCTs back. The oracle trick that makes a LOSSY codec "
        "hash-checkable: 8x8-aligned constant EVEN-valued tiles have "
        "one nonzero DCT coefficient whose Annex-K quantization is "
        "exact, so those images round-trip bit-identically and the "
        "decoded pixel stats replay from the closed tile form in "
        "plain SQL; per-image sizes vary and are cropped off the 8-"
        "grid so edge-replicate padding runs everywhere. Fidelity on "
        "non-constant content is PSNR-bounded in pytest; progressive/"
        "color/restart-interval files refuse with the reason. Decode "
        "is Arrow-batched inside the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c211_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_gray_stats, synthesize_jpeg_images

    d = views(spark, sf_dir, "documents")["documents"]
    return image_gray_stats(synthesize_jpeg_images(d, "doc_id"))


@query(
    "c213_jpeg_color_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c,
               CAST(2 * ((d.doc_id * 37 + (g1.r // 8) * 11
                          + (g2.c // 8) * 5) % 128) AS BIGINT) AS v
        FROM documents d, range(24) g1(r), range(24) g2(c)
        WHERE g1.r < (1 + d.doc_id % 3) * 8 - 2
          AND g2.c < (2 + d.doc_id % 2) * 8 - 1
    )
    SELECT doc_id,
           CAST((2 + doc_id % 2) * 8 - 1 AS BIGINT) AS width,
           CAST((1 + doc_id % 3) * 8 - 2 AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_r,
           CAST(SUM(v) AS BIGINT) AS sum_g,
           CAST(SUM(v) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="REAL baseline COLOR JPEG decode (operators/multimodal.py, "
        "r14 — extends c211's grayscale DCT codec to the full "
        "3-component 4:4:4 pipeline: JFIF YCbCr conversion, dual "
        "Annex K.1/K.2 quantization tables, K.3.2 chroma Huffman "
        "tables, interleaved MCU scan; pytest cross-validates the "
        "color bitstream bit-for-bit against the JVM's independent "
        "javax.imageio decoder). The lossy-codec oracle trick, color "
        "edition: GRAY-valued even tiles give Y=v and Cb=Cr=128 to "
        "float rounding, so chroma blocks quantize to exactly zero "
        "and the whole color pipeline round-trips bit-identically — "
        "per-channel sums replay from the closed tile form in SQL. "
        "Chroma-SUBSAMPLED (4:2:0/4:2:2) and CMYK files refuse with "
        "the reason. Decode is Arrow-batched inside the scan's "
        "partitions — no shuffle",
    tags=("multimodal",),
)
def c213_jpeg_color_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        image_channel_stats,
        synthesize_color_jpeg_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_color_jpeg_images(d, "doc_id"))


@query(
    "c214_jpeg_subsampled_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c,
               CAST(2 * ((d.doc_id * 41 + (g1.r // 8) * 13
                          + (g2.c // 8) * 7) % 128) AS BIGINT) AS v
        FROM documents d, range(24) g1(r), range(24) g2(c)
        WHERE g1.r < (1 + d.doc_id % 3) * 8 - 1
          AND g2.c < (2 + d.doc_id % 2) * 8 - 2
    )
    SELECT doc_id,
           CAST((2 + doc_id % 2) * 8 - 2 AS BIGINT) AS width,
           CAST((1 + doc_id % 3) * 8 - 1 AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_r,
           CAST(SUM(v) AS BIGINT) AS sum_g,
           CAST(SUM(v) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="REAL chroma-SUBSAMPLED baseline JPEG decode — 4:2:0 and "
        "4:2:2 (operators/multimodal.py, r15, closing the highest-"
        "frequency refusal left on the codec ladder: nearly every "
        "camera/web JPEG is 4:2:0): the encoder gains selectable "
        "sampling (Y 2x2 or 2x1 blocks per MCU, box-averaged chroma, "
        "16-pixel MCU padding) and the decoder a general sampling-"
        "factor MCU walk with per-component block grids and "
        "replication chroma upsampling (T.81 leaves the upsampling "
        "filter to the decoder). pytest cross-validates encoder "
        "bytes bit-for-bit against the JVM's independent "
        "javax.imageio decoder on the exactness class and within "
        "quantization rounding on solid colors. The lossy-codec "
        "oracle trick, subsampled edition: GRAY-valued even tiles "
        "put the CENTERED chroma at exactly zero — box-averaging "
        "zero is zero and replication-upsampling zero is zero — so "
        "subsampling is LOSSLESS on this class, the whole 4:2:0/"
        "4:2:2 pipeline round-trips bit-identically (each id uses "
        "4:2:0 when even, 4:2:2 when odd), and per-channel sums "
        "replay from the closed tile form in SQL. Progressive, "
        "non-integer sampling grids and CMYK still refuse loudly. "
        "Decode is Arrow-batched inside the scan's partitions — no "
        "shuffle",
    tags=("multimodal",),
)
def c214_jpeg_subsampled_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        image_channel_stats,
        synthesize_subsampled_jpeg_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_subsampled_jpeg_images(d, "doc_id"))


@query(
    "c215_jpeg_restart_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c,
               CAST(2 * ((d.doc_id * 43 + (g1.r // 8) * 17
                          + (g2.c // 8) * 9) % 128) AS BIGINT) AS v
        FROM documents d, range(32) g1(r), range(32) g2(c)
        WHERE g1.r < (2 + d.doc_id % 3) * 8 - 1
          AND g2.c < (3 + d.doc_id % 2) * 8 - 2
    )
    SELECT doc_id,
           CAST((3 + doc_id % 2) * 8 - 2 AS BIGINT) AS width,
           CAST((2 + doc_id % 3) * 8 - 1 AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_r,
           CAST(SUM(v) AS BIGINT) AS sum_g,
           CAST(SUM(v) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="JPEG RESTART INTERVALS decode for real (operators/"
        "multimodal.py, r15 — the next rung after c214 on the codec "
        "ladder: DRI/RSTn is T.81's error-resilience feature and "
        "libjpeg streams carry it routinely): the encoder gains "
        "restart_interval (DRI segment + byte-aligned RSTm every N "
        "MCUs with all DC predictors reset, m cycling 0..7 per "
        "E.2.4), and the decoder consumes each RSTm exactly at its "
        "declared boundary, verifies the mod-8 sequence, and resets "
        "predictors — a marker anywhere else, or out of sequence, "
        "raises instead of silently mis-decoding (the failure mode "
        "DRI exists to bound). pytest cross-validates DRI-bearing "
        "bytes bit-for-bit against the JVM's independent "
        "javax.imageio decoder in grayscale and color, and pins "
        "that restart_interval=0 keeps the pre-r15 bitstream "
        "byte-identical. Restarts change only the bitstream "
        "segmentation, never the pixels, so the c213/c214 exactness "
        "class carries over unchanged: each id encodes gray-valued "
        "even tiles with restart_interval = 1 + id%2 and sampling "
        "cycling 444/422/420 (every grid has >= 4 MCUs, so restarts "
        "always occur), round-trips bit-identically, and per-channel "
        "sums replay from the closed tile form in SQL. Decode is "
        "Arrow-batched inside the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c215_jpeg_restart_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        image_channel_stats,
        synthesize_restart_jpeg_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(synthesize_restart_jpeg_images(d, "doc_id"))


@query(
    "c216_jpeg_progressive_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c,
               CAST(2 * ((d.doc_id * 47 + (g1.r // 8) * 19
                          + (g2.c // 8) * 11) % 128) AS BIGINT) AS v
        FROM documents d, range(32) g1(r), range(32) g2(c)
        WHERE g1.r < (1 + d.doc_id % 4) * 8 - 3
          AND g2.c < (2 + d.doc_id % 3) * 8 - 1
    )
    SELECT doc_id,
           CAST((2 + doc_id % 3) * 8 - 1 AS BIGINT) AS width,
           CAST((1 + doc_id % 4) * 8 - 3 AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_r,
           CAST(SUM(v) AS BIGINT) AS sum_g,
           CAST(SUM(v) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    doc="PROGRESSIVE JPEG (SOF2) decodes for real (operators/"
        "multimodal.py, r15 — the top rung of the codec ladder and "
        "its last major refusal: most web JPEGs above thumbnail size "
        "are progressive): a full multi-scan marker walk accumulating "
        "quantized coefficients per component with all four T.81 "
        "Annex G scan kinds — first/refinement DC (interleaved or "
        "not) and spectral-selection AC with EOB-run coding and "
        "successive-approximation refinement — plus a spectral-"
        "selection progressive ENCODER whose coefficients are "
        "identical to the baseline encoder's. Validated three ways "
        "in pytest: (1) real libjpeg-script streams WRITTEN BY "
        "javax.imageio (10 scans, DC+AC refinement, per-scan DHTs) "
        "decode exactly on flat tiles and within integer-IDCT "
        "rounding on grayscale noise; (2) on noise, progressive "
        "decode == baseline decode of the same image bit-for-bit "
        "(identical coefficients); (3) the JVM decodes our "
        "progressive and baseline bytes identically. Finding this "
        "rung also exposed and fixed a latent TRANSPOSED-ZIGZAG bug "
        "the whole JPEG codec carried since r14: internal round "
        "trips and block-transpose-invariant test images (constant "
        "tiles, solid colors) hide it perfectly; real interchange "
        "content decoded per-block transposed. The exactness class "
        "is transpose-invariant, so every prior oracle value was and "
        "stays correct — the INTERCHANGE bytes are now right too, "
        "pinned by new noise cross-validation tests. Entry: each id "
        "encodes gray-valued even tiles progressively (sampling "
        "cycling 444/422/420), round-trips bit-identically, and "
        "per-channel sums replay from the closed tile form in SQL. "
        "Decode is Arrow-batched inside the scan's partitions — no "
        "shuffle",
    tags=("multimodal",),
)
def c216_jpeg_progressive_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        image_channel_stats,
        synthesize_progressive_jpeg_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return image_channel_stats(
        synthesize_progressive_jpeg_images(d, "doc_id")
    )


@query(
    "c217_g711_audio_decode_stats",
    oracle="""
    WITH s AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END
                   AS law,
               (d.doc_id * 7 + k.k * 13) % 256 AS b
        FROM documents d, range(128) k(k)
        WHERE k.k < 96 + d.doc_id % 32
    ),
    v AS (
        SELECT doc_id, law,
               CASE WHEN law = 'ulaw' THEN
                   CASE WHEN ((255 - b) & 128) != 0
                        THEN 132 - (((((255 - b) & 15) << 3) + 132)
                                    << (((255 - b) & 112) >> 4))
                        ELSE (((((255 - b) & 15) << 3) + 132)
                              << (((255 - b) & 112) >> 4)) - 132
                   END
               ELSE
                   CASE WHEN (xor(b, 85) & 128) != 0 THEN 1 ELSE -1 END
                   * CASE WHEN ((xor(b, 85) & 112) >> 4) = 0
                          THEN ((xor(b, 85) & 15) << 4) + 8
                          WHEN ((xor(b, 85) & 112) >> 4) = 1
                          THEN ((xor(b, 85) & 15) << 4) + 264
                          ELSE (((xor(b, 85) & 15) << 4) + 264)
                               << (((xor(b, 85) & 112) >> 4) - 1)
                     END
               END AS pcm
        FROM s
    )
    SELECT doc_id, law,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(pcm) AS BIGINT) AS sum_pcm,
           CAST(SUM(ABS(pcm)) AS BIGINT) AS sum_abs,
           CAST(MIN(pcm) AS BIGINT) AS min_pcm,
           CAST(MAX(pcm) AS BIGINT) AS max_pcm
    FROM v GROUP BY doc_id, law
    """,
    doc="G.711 mu-law/A-law telephony audio decodes for real "
        "(operators/multimodal.py, r15 — the byte-per-sample "
        "companding format VOIP/call-center corpora arrive in, "
        "extending the audio ladder beyond PCM WAV): vectorized "
        "numpy encode AND decode for both laws, bit-exact against "
        "CPython's independent C reference (audioop) over the ENTIRE "
        "int16 domain and all 256 code bytes in pytest — including "
        "A-law's -pcm-1 negative magnitudes and mu-law's double zero "
        "(0x7F re-encodes as 0xFF, the one non-idempotent codebook "
        "byte, pinned). The decode laws are pure integer arithmetic, "
        "so the oracle replays them in SQL: each id carries 96+id%32 "
        "closed-form code bytes (mu-law even ids, A-law odd), the "
        "operator decodes to PCM16 and reduces to exact integer "
        "loudness/energy stats, and DuckDB regenerates the bytes and "
        "applies the same formulas. Decode is Arrow-batched inside "
        "the scan's partitions — no shuffle, byte-per-sample IO",
    tags=("multimodal",),
)
def c217_g711_audio_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        g711_audio_stats,
        synthesize_g711_audio,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return g711_audio_stats(synthesize_g711_audio(d, "doc_id"))


_ADPCM_STEP_SQL = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,"
    "66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,"
    "371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,"
    "1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,"
    "5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,"
    "16818,18500,20350,22385,24623,27086,29794,32767]"
)
_ADPCM_IDX_SQL = "[-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8]"
_ADPCM_VPDIFF_SQL = (
    "((list_extract({S}, d.idx + 1) >> 3)"
    " + CASE WHEN n.delta & 4 != 0"
    "        THEN list_extract({S}, d.idx + 1) ELSE 0 END"
    " + CASE WHEN n.delta & 2 != 0"
    "        THEN list_extract({S}, d.idx + 1) >> 1 ELSE 0 END"
    " + CASE WHEN n.delta & 1 != 0"
    "        THEN list_extract({S}, d.idx + 1) >> 2 ELSE 0 END)"
).format(S=_ADPCM_STEP_SQL)
_ADPCM_PRED_SQL = (
    "GREATEST(-32768, LEAST(32767, d.pred"
    " + CASE WHEN n.delta & 8 != 0 THEN -1 ELSE 1 END * "
    + _ADPCM_VPDIFF_SQL + "))"
)


@query(
    "c218_adpcm_audio_decode_stats",
    oracle=f"""
    WITH RECURSIVE nib AS (
        SELECT d.doc_id, k.k,
               CAST(((d.doc_id % 97) * (k.k + 1) + k.k * k.k) % 16
                    AS INTEGER) AS delta
        FROM documents d, range(96) k(k)
        WHERE k.k < 64 + 2 * (d.doc_id % 16)
    ),
    dec AS (
        SELECT doc_id, -1 AS k, 0 AS pred, 0 AS idx,
               CAST(NULL AS INTEGER) AS pcm
        FROM (SELECT DISTINCT doc_id FROM nib)
        UNION ALL
        SELECT n.doc_id, n.k,
               {_ADPCM_PRED_SQL} AS pred,
               GREATEST(0, LEAST(88,
                   d.idx + list_extract({_ADPCM_IDX_SQL}, n.delta + 1)
               )) AS idx,
               {_ADPCM_PRED_SQL} AS pcm
        FROM dec d JOIN nib n ON n.doc_id = d.doc_id AND n.k = d.k + 1
    )
    SELECT doc_id,
           CAST(COUNT(pcm) AS BIGINT) AS n_samples,
           CAST(SUM(pcm) AS BIGINT) AS sum_pcm,
           CAST(SUM(ABS(pcm)) AS BIGINT) AS sum_abs,
           CAST(MIN(pcm) AS BIGINT) AS min_pcm,
           CAST(MAX(pcm) AS BIGINT) AS max_pcm
    FROM dec WHERE k >= 0 GROUP BY doc_id
    """,
    doc="IMA/DVI ADPCM (4-bit) telephony/game audio decodes for real "
        "(operators/multimodal.py, r15 — the STATEFUL rung of the "
        "audio ladder: unlike G.711's per-byte laws, every sample "
        "depends on the running (predictor, step-index) state, so "
        "this entry also demonstrates a new oracle pattern): encode "
        "AND decode bit-exact against CPython's independent C "
        "reference (audioop.adpcm2lin / lin2adpcm, pinned in pytest "
        "over random PCM and all-regime code streams), and the "
        "oracle replays the ENTIRE stateful decode in SQL as a "
        "RECURSIVE CTE — per iteration it joins the next closed-form "
        "code nibble, reads the step at the old index, reconstructs "
        "vpdiff bit by bit, clamps the predictor to int16 and the "
        "index to [0,88] — the step and index tables embedded as SQL "
        "list literals. Each id carries 64+2*(id%16) codes spanning "
        "small-wander, mid-range and full-rail regimes. Decode is "
        "Arrow-batched inside the scan's partitions — no shuffle; "
        "the per-sample loop is per-payload (stateful codec), many "
        "payloads per Arrow batch",
    tags=("multimodal",),
)
def c218_adpcm_audio_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        adpcm_audio_stats,
        synthesize_adpcm_audio,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return adpcm_audio_stats(synthesize_adpcm_audio(d, "doc_id"))


@query(
    "c219_png_deep_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c, ch.ch,
               (d.doc_id * 131 + g1.r * 17 + g2.c * 7 + ch.ch * 3)
               % (CASE WHEN d.doc_id % 4 IN (0, 2)
                       THEN 65536 ELSE 256 END) AS v
        FROM documents d, range(9) g1(r), range(9) g2(c),
             range(4) ch(ch)
        WHERE g1.r < 5 + d.doc_id % 4
          AND g2.c < 6 + d.doc_id % 3
          AND ch.ch < CASE WHEN d.doc_id % 4 = 0 THEN 3 ELSE 4 END
    )
    SELECT doc_id,
           CAST(6 + doc_id % 3 AS BIGINT) AS width,
           CAST(5 + doc_id % 4 AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 4 END AS BIGINT)
               AS n_channels,
           CAST(SUM(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT)
               AS sum_r,
           CAST(SUM(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT)
               AS sum_g,
           CAST(SUM(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT)
               AS sum_b,
           CAST(SUM(CASE WHEN ch = 3 THEN v ELSE 0 END) AS BIGINT)
               AS sum_a,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """,
    doc="16-BIT and ALPHA-channel PNG decode for real (operators/"
        "multimodal.py, r15 — closing the PNG ladder's remaining "
        "real-world variants: RGBA is the web's default transparent "
        "format and 16-bit the scientific/scanner depth): encoder "
        "and decoder generalize to color types 2/6 at depths 8/16 "
        "(big-endian sample pairs on the wire) plus decode-side "
        "gray+alpha (type 4) — PNG filters are byte-oriented, so the "
        "same filter/unfilter core runs at bpp 4/6/8, sequential or "
        "Adam7. pytest cross-validates every (depth, alpha, "
        "interlace) combination bit-for-bit against the JVM's "
        "independent javax.imageio PNG reader, and uint8 RGB bytes "
        "stay byte-identical to the pre-r15 encoder. PNG is "
        "LOSSLESS, so no exactness-class trick is needed: each id "
        "encodes closed-form pixels in variant id%4 (RGB16, RGBA8, "
        "RGBA16+Adam7, RGBA8+Adam7, filter-cycled), and per-channel "
        "sums replay directly in SQL. Decode is Arrow-batched inside "
        "the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c219_png_deep_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        image_deep_stats,
        synthesize_deep_png_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return image_deep_stats(synthesize_deep_png_images(d, "doc_id"))


@query(
    "c220_tiff_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c, ch.ch,
               (d.doc_id * 151 + g1.r * 13 + g2.c * 11 + ch.ch * 5)
               % (CASE WHEN d.doc_id % 4 = 3 THEN 65536 ELSE 256 END)
                   AS v
        FROM documents d, range(9) g1(r), range(9) g2(c),
             range(4) ch(ch)
        WHERE g1.r < 4 + d.doc_id % 5
          AND g2.c < 5 + d.doc_id % 4
          AND ch.ch < CASE d.doc_id % 4 WHEN 0 THEN 1 WHEN 2 THEN 4
                      ELSE 3 END
    )
    SELECT doc_id,
           CAST(5 + doc_id % 4 AS BIGINT) AS width,
           CAST(4 + doc_id % 5 AS BIGINT) AS height,
           CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 2 THEN 4 ELSE 3 END
                AS BIGINT) AS n_channels,
           CAST(SUM(CASE WHEN ch = 0 OR doc_id % 4 = 0
                         THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN ch = 1 OR doc_id % 4 = 0
                         THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN ch = 2 OR doc_id % 4 = 0
                         THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(SUM(CASE WHEN ch = 3 THEN v ELSE 0 END) AS BIGINT)
               AS sum_a,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """,
    doc="Baseline TIFF decodes for real (operators/multimodal.py, "
        "r15 — the scanner/scientific container, completing the "
        "uncompressed-image family): encoder and decoder are "
        "independent IFD implementations covering BOTH byte orders "
        "(II little / MM big — sample bytes and tag values flip "
        "together), grayscale/RGB/RGBA at 8 and 16 bits, single- or "
        "multi-strip, inline and out-of-line tag values. pytest "
        "cross-validates every (channels, depth, byte-order) "
        "combination bit-for-bit against the JVM's independent "
        "com.sun.imageio TIFF plugin in BOTH directions — it decodes "
        "our files, we decode its writer's files. Compressed, tiled "
        "and planar TIFFs refuse by name. Lossless, so the oracle "
        "replays the closed pixel form in SQL (variant id%4: gray8 "
        "II, RGB8 MM, RGBA8 II, RGB16 MM; gray fills sum_r/g/b with "
        "the single channel). Decode is Arrow-batched inside the "
        "scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c220_tiff_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        synthesize_tiff_images,
        tiff_image_stats,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return tiff_image_stats(synthesize_tiff_images(d, "doc_id"))


@query(
    "c221_tiff_compressed_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c, ch.ch,
               CASE WHEN d.doc_id % 4 = 0
                    THEN (d.doc_id * 157 + g1.r * 17 + (g2.c // 3) * 21)
                         % 256
                    ELSE (d.doc_id * 157 + g1.r * 17 + g2.c * 7
                          + ch.ch * 3)
                         % (CASE WHEN d.doc_id % 4 = 3
                            THEN 65536 ELSE 256 END)
               END AS v
        FROM documents d, range(12) g1(r), range(10) g2(c),
             range(4) ch(ch)
        WHERE g1.r < 6 + d.doc_id % 6
          AND g2.c < 5 + d.doc_id % 5
          AND ch.ch < CASE d.doc_id % 4 WHEN 0 THEN 1 WHEN 2 THEN 4
                      ELSE 3 END
    )
    SELECT doc_id,
           CAST(5 + doc_id % 5 AS BIGINT) AS width,
           CAST(6 + doc_id % 6 AS BIGINT) AS height,
           CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 2 THEN 4 ELSE 3 END
                AS BIGINT) AS n_channels,
           CAST(SUM(CASE WHEN ch = 0 OR doc_id % 4 = 0
                         THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN ch = 1 OR doc_id % 4 = 0
                         THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN ch = 2 OR doc_id % 4 = 0
                         THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(SUM(CASE WHEN ch = 3 THEN v ELSE 0 END) AS BIGINT)
               AS sum_a,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """,
    doc="TIFF PackBits + LZW decode for real (operators/multimodal."
        "py, r16 — the r15 verdict's next codec rung: the two "
        "compressions that dominate real-world TIFF, previously "
        "named refusals): PackBits is the spec's §9 RLE packed per "
        "row; TIFF LZW is §13 MSB-first variable-width over the "
        "256-byte alphabet with the spec's EARLY width change — the "
        "encoder widens after assigning slot 511/1023/2047, one slot "
        "earlier than the GIF LSB-first core already in the ladder, "
        "and the decoder one slot earlier still — plus Predictor=2 "
        "horizontal differencing undone on samples. The pytest "
        "cross-validation against com.sun.imageio caught a LATENT "
        "width-timing off-by-one the pure round-trip tests were "
        "blind to (the r15 zigzag lesson repeating: self-consistent "
        "codecs hide transposed conventions until an independent "
        "implementation reads the bytes); both directions now "
        "interchange bit-for-bit, including our LZW+predictor files. "
        "Deflate (zlib strips, Compression=8/32946) decodes too, "
        "JVM-cross-validated both directions. Variant id%4: gray8 "
        "PackBits II with run-friendly pixels, RGB8 LZW MM, RGBA8 "
        "LZW+predictor II, RGB16 Deflate MM. "
        "Lossless, so the oracle replays the closed pixel forms in "
        "SQL. Decode is Arrow-batched inside the scan's partitions — "
        "no shuffle",
    tags=("multimodal",),
)
def c221_tiff_compressed_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        synthesize_tiff_compressed_images,
        tiff_image_stats,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return tiff_image_stats(synthesize_tiff_compressed_images(d, "doc_id"))


@query(
    "c222_gif_animation_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id, 2 + doc_id % 3 AS nf,
               5 + doc_id % 4 AS h, 6 + doc_id % 3 AS w
        FROM documents
    ),
    cells AS (
        SELECT d.doc_id, d.nf, g1.r, g2.c, f.f,
               (d.doc_id * 31 + g1.r * 5 + g2.c * 3 + f.f * 7) % 16
                   AS idx,
               (f.f = 0 OR (d.doc_id * 31 + g1.r * 5 + g2.c * 3
                            + f.f * 7) % 16
                           <> (d.doc_id + f.f) % 16) AS painted
        FROM dims d, range(9) g1(r), range(9) g2(c), range(5) f(f)
        WHERE g1.r < d.h AND g2.c < d.w AND f.f < d.nf
    ),
    last_f AS (
        SELECT doc_id, r, c, MAX(f) FILTER (WHERE painted) AS f
        FROM cells GROUP BY doc_id, r, c
    ),
    final AS (
        SELECT p.doc_id, p.idx
        FROM cells p JOIN last_f l
          ON p.doc_id = l.doc_id AND p.r = l.r AND p.c = l.c
         AND p.f = l.f
    ),
    sums AS (
        SELECT doc_id,
               SUM((idx * 11) % 256) AS sum_r,
               SUM((idx * 7) % 256) AS sum_g,
               SUM((idx * 3) % 256) AS sum_b
        FROM final GROUP BY doc_id
    ),
    transp AS (
        SELECT doc_id,
               SUM(CASE WHEN f > 0 AND NOT painted THEN 1 ELSE 0 END)
                   AS n_transparent
        FROM cells GROUP BY doc_id
    ),
    delays AS (
        SELECT doc_id, SUM((doc_id + 3 * f) % 50 + 2) AS total_delay
        FROM (SELECT DISTINCT doc_id, f FROM cells)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(d.nf AS BIGINT) AS n_frames,
           CAST(d.w AS BIGINT) AS width,
           CAST(d.h AS BIGINT) AS height,
           CAST(dl.total_delay AS BIGINT) AS total_delay,
           CAST(t.n_transparent AS BIGINT) AS n_transparent,
           CAST(d.doc_id % 4 AS BIGINT) AS n_loops,
           CAST(s.sum_r AS BIGINT) AS sum_r,
           CAST(s.sum_g AS BIGINT) AS sum_g,
           CAST(s.sum_b AS BIGINT) AS sum_b
    FROM dims d
    JOIN sums s ON s.doc_id = d.doc_id
    JOIN transp t ON t.doc_id = d.doc_id
    JOIN delays dl ON dl.doc_id = d.doc_id
    """,
    doc="GIF89a ANIMATION decodes for real (operators/multimodal.py, "
        "r16 — the r15 verdict's GIF rung: Graphic Control Extension "
        "transparency, multi-frame compositing, Netscape looping): "
        "decode_gif_animation walks every block, parses per-frame "
        "GCEs (disposal method, centisecond delay, transparent "
        "index), supports frame sub-rectangles and LOCAL color "
        "tables, and composites the animation per the §23 disposal "
        "semantics over a transparent canvas (0/1 keep, 2 restores "
        "the rect, 3 restores the pre-frame canvas); transparent "
        "pixels leave the canvas through. pytest pins disposal-2/3 "
        "compositing against a hand-computed reference, "
        "cross-validates raw frames + GCE metadata against "
        "javax.imageio's independent GIF reader, and decodes the JVM "
        "writer's multi-frame sequences. The entry synthesizes "
        "2-4-frame animations (frame 0 opaque, later frames "
        "GCE-transparent at a closed-form index, disposal 1) and "
        "reduces the FINAL COMPOSITED canvas plus delay/transparency/"
        "loop metadata; the oracle replays the last-opaque-frame-wins "
        "compositing in SQL via a per-pixel argmax. Decode is "
        "Arrow-batched inside the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c222_gif_animation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        gif_animation_stats,
        synthesize_gif_animations,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return gif_animation_stats(synthesize_gif_animations(d, "doc_id"))


@query(
    "c223_wav_telephony_stats",
    oracle=f"""
    WITH RECURSIVE g AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 3 = 0 THEN 'ulaw' ELSE 'alaw' END
                   AS law,
               (d.doc_id * 11 + k.k * 29) % 256 AS b
        FROM documents d, range(120) k(k)
        WHERE d.doc_id % 3 < 2 AND k.k < 80 + d.doc_id % 40
    ),
    gv AS (
        SELECT doc_id,
               CASE WHEN law = 'ulaw' THEN
                   CASE WHEN ((255 - b) & 128) != 0
                        THEN 132 - (((((255 - b) & 15) << 3) + 132)
                                    << (((255 - b) & 112) >> 4))
                        ELSE (((((255 - b) & 15) << 3) + 132)
                              << (((255 - b) & 112) >> 4)) - 132
                   END
               ELSE
                   CASE WHEN (xor(b, 85) & 128) != 0 THEN 1 ELSE -1 END
                   * CASE WHEN ((xor(b, 85) & 112) >> 4) = 0
                          THEN ((xor(b, 85) & 15) << 4) + 8
                          WHEN ((xor(b, 85) & 112) >> 4) = 1
                          THEN ((xor(b, 85) & 15) << 4) + 264
                          ELSE (((xor(b, 85) & 15) << 4) + 264)
                               << (((xor(b, 85) & 112) >> 4) - 1)
                     END
               END AS pcm
        FROM g
    ),
    nib AS (
        SELECT d.doc_id, k.k,
               CAST((d.doc_id * 13 + k.k * 7 + k.k * k.k) % 16
                    AS INTEGER) AS delta
        FROM documents d, range(80) k(k)
        WHERE d.doc_id % 3 = 2 AND k.k < 60 + 2 * (d.doc_id % 10)
    ),
    dec AS (
        SELECT doc_id, -1 AS k,
               CAST((doc_id * 37) % 1025 - 512 AS INTEGER) AS pred,
               CAST(doc_id % 89 AS INTEGER) AS idx,
               CAST((doc_id * 37) % 1025 - 512 AS INTEGER) AS pcm
        FROM (SELECT DISTINCT doc_id FROM nib)
        UNION ALL
        SELECT n.doc_id, n.k,
               {_ADPCM_PRED_SQL} AS pred,
               GREATEST(0, LEAST(88,
                   d.idx + list_extract({_ADPCM_IDX_SQL}, n.delta + 1)
               )) AS idx,
               {_ADPCM_PRED_SQL} AS pcm
        FROM dec d JOIN nib n ON n.doc_id = d.doc_id AND n.k = d.k + 1
    ),
    allpcm AS (
        SELECT doc_id, pcm FROM gv
        UNION ALL
        SELECT doc_id, pcm FROM dec
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(pcm) AS BIGINT) AS sum_pcm,
           CAST(SUM(ABS(pcm)) AS BIGINT) AS sum_abs,
           CAST(MIN(pcm) AS BIGINT) AS min_pcm,
           CAST(MAX(pcm) AS BIGINT) AS max_pcm
    FROM allpcm GROUP BY doc_id
    """,
    doc="Telephony WAV CONTAINERS decode for real (operators/"
        "multimodal.py, r16 — the format real call-center corpora "
        "ship in: RIFF/WAVE wrapping G.711 or IMA ADPCM rather than "
        "raw code streams): decode_wav now dispatches on the format "
        "tag — PCM16 (1, the c103 path), A-law (6) and mu-law (7) "
        "byte-per-sample via the r15 G.711 laws, and mono IMA ADPCM "
        "(0x11) whose data blocks each carry their initial "
        "(predictor, step-index) state in a 4-byte header with "
        "nibbles packed LOW-first — the WAV convention, opposite to "
        "audioop/DVI's high-first zero-state raw stream of c218 "
        "(both real, pinned apart in pytest); fact-chunk trimming "
        "and word-aligned chunk padding handled. Variant id%3: "
        "mu-law, A-law, single-block ADPCM. Every payload byte is "
        "closed-form, so the oracle regenerates them in SQL and "
        "replays the laws arithmetically and the stateful block "
        "decode as a RECURSIVE CTE seeded from the block header "
        "(the header predictor IS the first output sample). Decode "
        "is Arrow-batched inside the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c223_wav_telephony_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        synthesize_wav_telephony,
        wav_telephony_stats,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return wav_telephony_stats(synthesize_wav_telephony(d, "doc_id"))


@query(
    "c224_warc_extract_stats",
    oracle="""
    WITH recs AS (
        SELECT d.doc_id, r.r
        FROM documents d, range(5) r(r)
        WHERE r.r < 2 + d.doc_id % 3
    ),
    toks AS (
        SELECT rc.doc_id, rc.r,
               CASE WHEN (rc.doc_id * 7 + rc.r * 3 + j.j) % 13 < 10
                    THEN 2 ELSE 3 END AS tl
        FROM recs rc, range(17) j(j)
        WHERE j.j < 10 + (rc.doc_id + rc.r) % 7
    ),
    per_rec AS (
        SELECT doc_id, r, COUNT(*) AS n_tok,
               SUM(tl) + COUNT(*) - 1 AS text_len
        FROM toks GROUP BY doc_id, r
    )
    SELECT doc_id,
           CAST(3 + doc_id % 3 AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN (doc_id + r) % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_conversion,
           CAST(SUM(CASE WHEN (doc_id + r) % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_response,
           CAST(SUM(text_len) AS BIGINT) AS sum_text_len,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM per_rec GROUP BY doc_id
    """,
    doc="WARC ingestion containers decode for real (operators/warc.py,"
        " r16 — the ISO 28500 format web-scale LLM corpora actually "
        "arrive in; Common Crawl ships WARC/WET): a spec-framed "
        "record walker (version line, CRLF header block, "
        "Content-Length framing, double-CRLF terminators — every "
        "violation refuses by name), the MULTI-MEMBER gzip packaging "
        ".warc.gz uses (each record its own gzip member so a reader "
        "can inflate one record at a time; member splitting "
        "cross-checked against CPython's gzip on the concatenated "
        "stream), HTTP-response payload splitting for response "
        "records, and the WET-style text extraction over conversion "
        "+ response records. Files are opaque binary payloads "
        "(binaryFile-source shape); parsing is Arrow-batched "
        "mapInPandas inside the scan's partitions — no shuffle. Each "
        "id carries a warcinfo record plus 2+id%3 closed-form "
        "records alternating conversion/HTTP-response with identical "
        "token text (odd ids gzip-membered), so the oracle replays "
        "the whole extraction arithmetically in SQL",
    tags=("multimodal", "text"),
)
def c224_warc_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warc import synthesize_warc_files, warc_extract_stats

    d = views(spark, sf_dir, "documents")["documents"]
    return warc_extract_stats(synthesize_warc_files(d, "doc_id"))


@query(
    "c225_webdataset_stats",
    oracle="""
    WITH smp AS (
        SELECT d.doc_id, s.s
        FROM documents d, range(5) s(s)
        WHERE s.s < 2 + d.doc_id % 3
    ),
    toks AS (
        SELECT m.doc_id, m.s,
               CASE WHEN (m.doc_id * 5 + m.s * 7 + j.j) % 11 < 10
                    THEN 2 ELSE 3 END AS tl
        FROM smp m, range(9) j(j)
        WHERE j.j < 5 + (m.doc_id + m.s) % 4
    ),
    txt AS (
        SELECT doc_id, s, COUNT(*) AS n_tok,
               SUM(tl) + COUNT(*) - 1 AS tlen
        FROM toks GROUP BY doc_id, s
    ),
    pix AS (
        SELECT m.doc_id, m.s,
               SUM((m.doc_id * 29 + m.s * 13 + r.r * 7 + c.c * 3) % 256)
                   AS psum
        FROM smp m, range(4) r(r), range(4) c(c)
        WHERE r.r < 3 + m.s % 2
        GROUP BY m.doc_id, m.s
    )
    SELECT m.doc_id,
           CAST(2 + m.doc_id % 3 AS BIGINT) AS n_samples,
           CAST(SUM((m.doc_id + m.s) % 10) AS BIGINT) AS label_sum,
           CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(t.tlen) AS BIGINT) AS text_len,
           CAST(SUM(p.psum) AS BIGINT) AS px_sum
    FROM smp m
    JOIN txt t ON t.doc_id = m.doc_id AND t.s = m.s
    JOIN pix p ON p.doc_id = m.doc_id AND p.s = m.s
    GROUP BY m.doc_id
    """,
    doc="WebDataset tar shards decode for real (operators/warc.py, "
        "r16 — the de-facto multimodal training-shard format: tar "
        "members <key>.<ext>, one sample's members adjacent, sharded "
        "for sequential-streaming IO): encode_webdataset writes "
        "deterministic USTAR shards; parse_webdataset groups members "
        "back into samples by WebDataset's first-dot-of-basename key "
        "rule and REFUSES non-contiguous samples by name (the "
        "format's streaming contract). Each synthesized sample "
        "carries all three modalities — a .cls label, a .txt token "
        "string, and a REAL 8-bit grayscale PNG through the r14 "
        "codec — and the stats operator decodes all of them (the "
        ".png through decode_png, not a stub). Every byte is "
        "closed-form, so the oracle replays label/token/pixel sums "
        "arithmetically in SQL. Parsing is Arrow-batched mapInPandas "
        "over opaque binary payloads (binaryFile-source shape) — no "
        "shuffle, many shards per task",
    tags=("multimodal", "text"),
)
def c225_webdataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warc import (
        synthesize_webdataset_shards,
        webdataset_stats,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return webdataset_stats(synthesize_webdataset_shards(d, "doc_id"))


@query(
    "c226_jpeg_cmyk_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id, g1.r, g2.c,
               CAST(2 * ((d.doc_id * 47 + (g1.r // 8) * 19
                          + (g2.c // 8) * 11) % 128) + 1 AS BIGINT) AS vc,
               CAST(2 * ((d.doc_id * 53 + (g1.r // 8) * 7
                          + (g2.c // 8) * 3) % 128) + 1 AS BIGINT) AS vk
        FROM documents d, range(24) g1(r), range(32) g2(c)
        WHERE g1.r < (2 + d.doc_id % 2) * 8 - 1
          AND g2.c < (2 + d.doc_id % 3) * 8 - 2
    )
    SELECT doc_id,
           CAST((2 + doc_id % 3) * 8 - 2 AS BIGINT) AS width,
           CAST((2 + doc_id % 2) * 8 - 1 AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(vc) AS BIGINT) AS sum_c,
           CAST(SUM(vc) AS BIGINT) AS sum_m,
           CAST(SUM(vc) AS BIGINT) AS sum_y,
           CAST(SUM(vk) AS BIGINT) AS sum_k
    FROM px GROUP BY doc_id
    """,
    doc="REAL 4-component Adobe CMYK/YCCK JPEG decode (operators/"
        "multimodal.py, r16 — the print-pipeline class, the last "
        "common real-world JPEG refusal on the codec ladder): "
        "encode_jpeg_cmyk writes transform-0 CMYK (four independent "
        "ink planes) and transform-2 YCCK (inverted CMY through the "
        "JFIF matrix, K at Y's sampling factors — a 4:2:0 YCCK MCU "
        "is 4+1+1+4 = 10 blocks, T.81's exact interleave ceiling) "
        "with the Adobe APP14 marker and INVERTED samples per the "
        "de-facto Adobe convention; decode_jpeg dispatches on the "
        "APP14 transform byte, re-inverts, and returns TRUE CMYK. "
        "4-component streams without APP14 refuse by name "
        "(ambiguous), as do unknown transform bytes. pytest "
        "cross-validates BOTH directions against the JVM's "
        "independent codec: javax.imageio readRaster returns our "
        "files' stored-domain samples exactly on the oracle class "
        "and within IDCT rounding on noise, and the JVM's own "
        "4-band raster writer's noise streams decode through our "
        "path. The lossy-codec oracle trick, ink edition: ODD "
        "true-ink tiles invert to EVEN stored samples (every DC "
        "quantizes exactly) and equal CMY zeroes the YCCK chroma, "
        "so both transforms round-trip bit-identically (each id "
        "cycles CMYK / YCCK 4:2:0 / YCCK 4:2:2) and per-ink sums "
        "replay from the closed tile form in SQL. Decode is "
        "Arrow-batched inside the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c226_jpeg_cmyk_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        image_cmyk_stats,
        synthesize_cmyk_jpeg_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return image_cmyk_stats(synthesize_cmyk_jpeg_images(d, "doc_id"))


@query(
    "c229_pnm_decode_stats",
    oracle="""
    WITH px AS (
        SELECT d.doc_id,
               (d.doc_id * 31 + r.r * 17 + c.c * 7 + ch.ch * 5)
               % (CASE WHEN d.doc_id % 5 IN (0, 3) THEN 2
                       WHEN d.doc_id % 5 = 4 THEN 60000
                       ELSE 256 END) AS v
        FROM documents d, range(9) r(r), range(11) c(c), range(3) ch(ch)
        WHERE r.r < 5 + d.doc_id % 4
          AND c.c < 6 + d.doc_id % 5
          AND ch.ch < CASE WHEN d.doc_id % 5 = 2 THEN 3 ELSE 1 END
    )
    SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'P1' WHEN 1 THEN 'P2'
                WHEN 2 THEN 'P3' WHEN 3 THEN 'P4' ELSE 'P5' END
               AS variant,
           CAST(6 + doc_id % 5 AS BIGINT) AS width,
           CAST(5 + doc_id % 4 AS BIGINT) AS height,
           CAST((5 + doc_id % 4) * (6 + doc_id % 5) AS BIGINT)
               AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sample_sum
    FROM px GROUP BY doc_id
    """,
    doc="FULL netpbm family decode — P1/P2/P3 ASCII and P4/P5 binary "
        "(operators/multimodal.py, r16; the original PPM rung was "
        "P6-only, leaving the other five magic numbers of the "
        "simplest interchange family on the floor): ASCII rasters "
        "tokenize with #-comment handling and per-sample range "
        "checks, P4 bitmaps unpack MSB-first with row byte-padding "
        "discarded (dimensions are deliberate non-multiples of 8), "
        "and P5 graymaps carry 16-BIT BIG-ENDIAN samples per the "
        "netpbm maxval>255 rule. pytest pins ASCII<->binary "
        "cross-form equality (the same raster through P1 and P4, P2 "
        "and P5 decodes identically), round trips for every variant, "
        "header comments, and truncation refusals. Lossless formats "
        "-> the oracle replays per-sample sums arithmetically from "
        "the closed fixture form. Decode is Arrow-batched inside the "
        "scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c229_pnm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        pnm_image_stats,
        synthesize_pnm_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return pnm_image_stats(synthesize_pnm_images(d, "doc_id"))


@query(
    "c230_wav_pcm_stats",
    oracle="""
    WITH s AS (
        SELECT d.doc_id,
               CASE d.doc_id % 3
                    WHEN 0 THEN
                        ((d.doc_id * 13 + j.j * 7) % 256 - 128) * 256
                    WHEN 1 THEN
                        ((d.doc_id * 29 + j.j * 11 + ch.ch * 3) % 60000)
                        - 30000
                    ELSE ((d.doc_id * 37 + j.j * 17) % 1000000) - 500000
               END AS v
        FROM documents d, range(56) j(j), range(2) ch(ch)
        WHERE j.j < 40 + d.doc_id % 17
          AND ch.ch < CASE WHEN d.doc_id % 3 = 1 THEN 2 ELSE 1 END
    )
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS BIGINT)
               AS n_channels,
           CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                ELSE 44100 END AS BIGINT) AS sample_rate,
           CAST(40 + doc_id % 17 AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(MIN(v) AS BIGINT) AS sample_min,
           CAST(MAX(v) AS BIGINT) AS sample_max
    FROM s GROUP BY doc_id
    """,
    doc="PCM WAVE decode across the three real-world sample widths "
        "(operators/multimodal.py, r16 — decode_wav was PCM16-only "
        "for tag 1; consumer/archive corpora carry 8-bit unsigned "
        "and 24-bit studio masters too): 8-bit samples are UNSIGNED "
        "excess-128 per the WAV rule and promote to full-scale int16 "
        "so downstream stats are width-blind, 16-bit decodes stereo "
        "interleaved frames, 24-bit unpacks 3-byte little-endian "
        "signed with exact sign extension into int32; a 12-bit fmt "
        "chunk refuses by name. pytest pins round trips at every "
        "width plus corner samples, and cross-validates the RIFF "
        "structure and raw frame packing against the JVM's "
        "independent javax.sound.sampled parser (format fields + "
        "frame bytes bit-for-bit at all three widths). Lossless PCM "
        "-> the oracle replays decoded-domain sums/min/max "
        "arithmetically from the closed fixture form. Decode is "
        "Arrow-batched inside the scan's partitions — no shuffle",
    tags=("multimodal",),
)
def c230_wav_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        synthesize_pcm_variant_wavs,
        wav_pcm_stats,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return wav_pcm_stats(synthesize_pcm_variant_wavs(d, "doc_id"))


@query(
    "c244_apng_stats",
    oracle="""
    WITH g AS (
        SELECT doc_id, 1 + doc_id % 3 AS nf FROM documents
    ),
    px AS (
        SELECT g.doc_id, g.nf, r.r, c.c,
               GREATEST(1,
                   CAST(CEIL((r.r - 5) / 2.0) AS INTEGER),
                   CAST(CEIL((c.c - 5) / 2.0) AS INTEGER)) AS lo,
               LEAST(r.r // 2, c.c // 2, g.nf) AS up
        FROM g, range(16) r(r), range(16) c(c)
    ),
    v AS (
        SELECT doc_id, nf,
               CASE WHEN up >= lo THEN (doc_id * 5 + up * 7) % 256
                    ELSE (doc_id * 3 + r + c) % 256 END AS pix
        FROM px
    )
    SELECT doc_id,
           CAST(MAX(nf) + 1 AS BIGINT) AS n_frames,
           CAST(doc_id % 4 AS BIGINT) AS num_plays,
           CAST(1 + (MAX(nf) * (MAX(nf) + 3)) // 2 AS BIGINT)
               AS delay_num_sum,
           CAST(SUM(3 * pix) AS BIGINT) AS canvas_sum
    FROM v GROUP BY doc_id
    """,
    doc="APNG — animated PNG decode (operators/multimodal.py, r16; "
        "the PNG third edition's acTL/fcTL/fdAT animation chunks, "
        "the format modern emoji/sticker pipelines ship): the chunk "
        "walk validates CONSECUTIVE sequence numbers and the "
        "acTL-declared frame count, each frame's stream re-wraps as "
        "a minimal PNG through the REAL r14/r15 PNG decoder, and "
        "SSECTION-ANIMATION compositing runs SOURCE/OVER blends "
        "with none/background/previous disposals (incl. the spec's "
        "PREVIOUS-on-frame-0 downgrade) onto an RGBA canvas. The "
        "container stays a valid STATIC PNG — pytest confirms both "
        "our still decoder AND javax.imageio read the default image "
        "from the animated bytes (the degradation contract the "
        "format was designed for). Entry frames are a gradient base "
        "plus offset constant sub-frames; the final canvas reduces "
        "to a closed LAST-COVERING-FRAME form (verified against the "
        "compositor before the oracle was written) replayed with "
        "integer interval arithmetic in SQL. Arrow-batched "
        "mapInPandas — no shuffle",
    tags=("multimodal",),
)
def c244_apng_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import apng_stats, synthesize_apng_images

    d = views(spark, sf_dir, "documents")["documents"]
    return apng_stats(synthesize_apng_images(d, "doc_id"))


@query(
    "c243_html_table_extract",
    oracle="""
    WITH t AS (
        SELECT d.doc_id, tt.t, 2 + (d.doc_id + tt.t) % 3 AS nd
        FROM documents d, range(2) tt(t)
        WHERE tt.t < 1 + d.doc_id % 2
    ),
    cells AS (
        SELECT t.doc_id,
               SUM((t.doc_id * 7 + t.t * 5 + r.r * 3 + c.c) % 100) AS s
        FROM t, range(4) r(r), range(3) c(c)
        WHERE r.r < t.nd
        GROUP BY t.doc_id
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_tables, SUM(1 + nd) AS n_rows
        FROM t GROUP BY doc_id
    )
    SELECT a.doc_id, CAST(a.n_tables AS BIGINT) AS n_tables,
           CAST(a.n_rows AS BIGINT) AS n_rows,
           CAST(3 * a.n_rows AS BIGINT) AS n_cells,
           CAST(c.s AS BIGINT) AS cell_sum
    FROM agg a JOIN cells c ON a.doc_id = c.doc_id
    """,
    doc="structured HTML <table> extraction (operators/text.py "
        "html_tables, r16 — the web-tables pass behind WDC-style "
        "table corpora, the relational complement of c239's prose "
        "extraction): nested regexp_extract_all/transform arrays "
        "pull table bodies -> <tr> rows -> <td>/<th> cells "
        "case-insensitively, and integer-valued cells sum via "
        "try_cast (headers and prose cells contribute zero, not "
        "errors). All row-local JVM lambda expressions over arrays "
        "— zero Python, zero shuffles, the nested arrays never "
        "escape the row (pytest asserts no Python stage). The "
        "entry's fixture embeds 1-2 tables per doc with <th> header "
        "rows and numeric <td> grids; table/row/cell counts and "
        "numeric sums replay closed-form",
    tags=("text", "documents"),
)
def c243_html_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import html_tables

    d = views(spark, sf_dir, "documents")["documents"]
    html = F.expr(
        "concat_ws('', transform(sequence(0, CAST(doc_id % 2 AS INT)), "
        "t -> concat('<table><tr><th>h0</th><th>h1</th><th>h2</th>"
        "</tr>', concat_ws('', transform(sequence(0, 1 + "
        "CAST((doc_id + t) % 3 AS INT)), r -> concat('<tr>', "
        "concat_ws('', transform(sequence(0, 2), c -> "
        "concat('<td>', CAST((doc_id * 7 + t * 5 + r * 3 + c) % 100 "
        "AS STRING), '</td>'))), '</tr>'))), '</table>')))"
    )
    corpus = d.select(F.col("doc_id"), html.alias("html"))
    return html_tables(corpus).select(
        "doc_id", "n_tables", "n_rows", "n_cells", "cell_sum"
    )


@query(
    "c242_sentence_split",
    oracle="""
    WITH u AS (
        SELECT doc_id, 2 + doc_id % 3 AS k,
               LENGTH(CAST(doc_id AS VARCHAR)) AS idlen
        FROM documents
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS n_sentences,
           'Dr. No' || doc_id || ' saw 0 items worth 3.5 coins.'
               AS first_sentence,
           CAST(k * (35 + idlen) + (k - 1) AS BIGINT) AS n_chars
    FROM u
    """,
    doc="rule-based sentence splitting (operators/text.py "
        "split_sentences, r16 — the segmentation pass quality "
        "filters and context-window packers run per document): "
        "decimal points and common abbreviations (Mr./Dr./Prof./"
        "e.g./i.e. ...) are sentinel-protected before the "
        "terminator-then-whitespace split (lookbehind keeps each "
        "terminator with its sentence) and restored after — so "
        "'Dr. Smith met Mr. Jones at 3.14 units.' is ONE sentence, "
        "not four. regexp/split/transform are row-local JVM "
        "expressions — zero Python, zero shuffles (pytest asserts); "
        "the sentence array stays lazy until a consumer explodes "
        "it. The entry's fixture packs an abbreviation AND a "
        "decimal into every sentence with cycling ./!/? "
        "terminators; counts, the exact first sentence and total "
        "text lengths replay closed-form",
    tags=("text", "documents"),
)
def c242_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import split_sentences

    d = views(spark, sf_dir, "documents")["documents"]
    text = F.expr(
        "concat_ws(' ', transform(sequence(0, 1 + CAST(doc_id % 3 AS "
        "INT)), j -> concat('Dr. No', CAST(doc_id AS STRING), "
        "' saw ', CAST(j AS STRING), ' items worth 3.5 coins', "
        "CASE j % 3 WHEN 0 THEN '.' WHEN 1 THEN '!' ELSE '?' END)))"
    )
    corpus = d.select(
        F.col("doc_id"), text.alias("text")
    )
    out = split_sentences(corpus)
    return out.select(
        "doc_id",
        "n_sentences",
        F.element_at("sentences", 1).alias("first_sentence"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "c241_cdx_index_stats",
    oracle="""
    WITH u AS (
        SELECT doc_id, doc_id % 7 AS f,
               CASE WHEN doc_id % 3 != 0 AND doc_id % 5 != 4
                    THEN 1 ELSE 0 END AS ok,
               100 + doc_id % 900 AS length,
               doc_id * 1000 AS seek_off
        FROM documents
    )
    SELECT 'crawl-' || f || '.warc.gz' AS filename,
           CAST(COUNT(*) AS BIGINT) AS n_captures,
           CAST(SUM(ok) AS BIGINT) AS n_html_ok,
           CAST(SUM(length) AS BIGINT) AS total_length,
           CAST(MIN(seek_off) AS BIGINT) AS min_offset
    FROM u GROUP BY f ORDER BY filename
    """,
    doc="CDXJ capture-index parsing (operators/warc.py parse_cdxj, "
        "r16 — the per-crawl URL index Common Crawl publishes next "
        "to its WARCs; a fetch planner reads THIS to decide which "
        "(filename, offset, length) ranges to pull before touching "
        "a single archive byte): each line is '<SURT key> <14-digit "
        "timestamp> <JSON>' with the JSON carrying url/mime/status/"
        "digest and the WARC coordinates. Parsing is one split "
        "(limit 3 — the JSON may contain spaces) + from_json "
        "projection, entirely JVM-side, zero Python (pytest "
        "asserts). The entry synthesizes an index over the c234 URL "
        "universe (SURT keys, mixed mime/status) and plans the "
        "fetch: per-WARC-file capture counts, fetchable "
        "html-200 counts, total byte lengths and minimum seek "
        "offsets — all replayed closed-form. At 100 TB the index "
        "scan is the cheap planning pass that makes the archive "
        "reads selective",
    tags=("text", "documents"),
)
def c241_cdx_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warc import parse_cdxj

    d = views(spark, sf_dir, "documents")["documents"]
    i = F.col("doc_id")
    json_blob = F.concat(
        F.lit('{"url":"https://site'), i % 13,
        F.lit(".com/p"), i % 7, F.lit("/q"), i % 5,
        F.lit('","mime":"'),
        F.when(i % 3 != 0, F.lit("text/html")).otherwise(
            F.lit("application/pdf")
        ),
        F.lit('","status":"'),
        F.when(i % 5 != 4, F.lit("200")).otherwise(F.lit("404")),
        F.lit('","digest":"sha1:D'), i,
        F.lit('","length":"'), 100 + i % 900,
        F.lit('","offset":"'), i * 1000,
        F.lit('","filename":"crawl-'), i % 7,
        F.lit('.warc.gz"}'),
    )
    line = F.concat(
        F.lit("com,site"), i % 13, F.lit(")/p"), i % 7, F.lit("/q"),
        i % 5, F.lit(" 2026081"), i % 10, F.lit("000000 "), json_blob,
    )
    idx = parse_cdxj(d.select(i, line.alias("line")))
    return (
        idx.groupBy("filename")
        .agg(
            F.count(F.lit(1)).alias("n_captures"),
            F.sum(
                (
                    (F.col("mime") == "text/html")
                    & (F.col("status") == "200")
                ).cast("long")
            ).alias("n_html_ok"),
            F.sum("length").alias("total_length"),
            F.min("offset").alias("min_offset"),
        )
        .orderBy("filename")
    )


@query(
    "q119_history_rename",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 4 = 1
    ),
    v1 AS (SELECT * FROM base WHERE NOT (o_orderkey % 6 = 3)),
    ins AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 4 = 2
    ),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM ins),
    snaps AS (
        SELECT 0 AS v, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM base
        UNION ALL
        SELECT 1, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM v1
        UNION ALL
        SELECT 2, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM v2
    )
    SELECT CAST(v AS INTEGER) AS version,
           CAST(n_rows AS BIGINT) AS n_rows, total_price
    FROM snaps ORDER BY version
    """,
    doc="history-preserving ALTER TABLE RENAME "
        "(timetravel.rename_history_table + sqlrun dispatch, r16 — "
        "closes a REAL hazard this round's probe demonstrated: a "
        "bare catalog rename succeeds but silently DETACHES the "
        "commit log, since the log root is keyed by table name — "
        "is_history_table goes false, future DML bypasses "
        "versioning, and the old log strands as an orphan): the "
        "dispatcher intercepts ALTER TABLE t RENAME TO t2 on "
        "history tables and (1) moves the root directory atomically, "
        "(2) rewrites the log entries' locations (tmp+replace), "
        "(3) renames the catalog table, (4) re-points it at the tip "
        "— each prefix of that order is crash-recoverable "
        "(docstring). Non-history renames pass through to Spark "
        "untouched. The entry certifies enable(v0) -> DELETE(v1) -> "
        "RENAME -> INSERT under the NEW name (v2, append commit) "
        "with every version read back via table_at on the new name. "
        "Scale: the rename is O(#versions) path rewrites + one "
        "directory move — metadata only, no data bytes at any size",
    tags=("native", "sql", "dml", "orders"),
)
def q119_history_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from .. import timetravel as tt
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    old, new = "bp_ren_orders", "bp_ren_orders2"
    for t in (old, new):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        tt.remove_history(spark, t)
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {old} AS SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 4 = 1",
    )
    tt.enable_history(spark, old)  # v0
    execute_sql(spark, f"DELETE FROM {old} WHERE o_orderkey % 6 = 3")  # v1
    execute_sql(spark, f"ALTER TABLE {old} RENAME TO {new}")
    execute_sql(
        spark,
        f"INSERT INTO {new} SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 4 = 2",
    )  # v2: append commit under the new name

    def snap(v: int) -> DataFrame:
        return (
            tt.table_at(spark, new, version=v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                "total_price",
            )
        )

    return reduce(DataFrame.unionAll, [snap(v) for v in range(3)]).orderBy(
        "version"
    )


@query(
    "c240_web_curation_e2e",
    oracle="""
    WITH u AS (
        SELECT doc_id, doc_id % 13 AS d, doc_id % 7 AS pj,
               doc_id % 5 AS qk,
               CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS moji,
               8 + doc_id % 4 AS ntok
        FROM documents
    ),
    allowed AS (
        SELECT * FROM u
        WHERE NOT ((pj % 3 = d % 3) AND qk != 0)
    )
    SELECT 'site' || d || '.com' AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(moji) AS BIGINT) AS n_repaired,
           CAST(SUM(ntok) AS BIGINT) AS token_sum
    FROM allowed GROUP BY d ORDER BY domain
    """,
    doc="END-TO-END web-curation pipeline — the r16 web family "
        "composed as one flow, the way a real crawl-to-corpus job "
        "runs (operators/warc.py + text.py): WARC response records "
        "(c224's framing, gzip members for odd ids) -> the ONE "
        "Python stage extracting (url, html) pairs -> "
        "c239's html_extract (script noise with embedded markup, "
        "entities, link lists) -> c237's repair_mojibake (every "
        "id%4==0 page's paragraph arrives UTF-8-as-Latin-1 "
        "corrupted and must come back clean) -> c227's "
        "canonicalize_url + registered_domain (www./:443/utm_ noise "
        "stripped) -> c234's robots_filter (13-domain fixture, "
        "longest-match + Allow-tie rules, badbot group that must "
        "not apply) -> per-domain corpus stats over the ALLOWED "
        "pages. The oracle replays the whole composition "
        "closed-form: page counts after robots filtering, repaired "
        "counts, whitespace-token sums of the final clean text. "
        "Plan shape: one mapInPandas container stage, then pure "
        "JVM projections and ONE broadcast rules join + per-URL "
        "max_by, then the domain aggregate — the 100 TB crawl "
        "stays the probe side throughout",
    tags=("text", "multimodal", "documents"),
)
def c240_web_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import (
        canonicalize_url,
        html_extract,
        parse_robots_rules,
        registered_domain,
        repair_mojibake,
        robots_filter,
    )
    from ..operators.warc import synthesize_web_warc_files, warc_pages

    d = views(spark, sf_dir, "documents")["documents"]
    pages = warc_pages(synthesize_web_warc_files(d, "doc_id"))
    pages = html_extract(pages, html_col="html")
    pages = repair_mojibake(pages, text_col="text")
    canon = canonicalize_url(F.col("url"))
    urls = pages.select(
        F.col("doc_id"),
        registered_domain(canon).alias("domain"),
        F.regexp_extract(canon, "^https?://[^/]+(/.*)$", 1).alias("path"),
        F.col("was_mojibake"),
        F.size(F.split(F.col("text_fixed"), " ")).cast("long").alias(
            "n_tokens"
        ),
    )
    rows = []
    for dd in range(13):  # c234's robots fixture — metadata-sized
        lines = ["User-agent: badbot", "Disallow: /", "",
                 "User-agent: *"]
        for j in range(7):
            if j % 3 == dd % 3:
                lines.append(f"Disallow: /p{j}")
                lines.append(f"Allow: /p{j}/q0")
        rows.append((f"site{dd}.com", "\n".join(lines)))
    rules = parse_robots_rules(
        spark.createDataFrame(rows, "domain string, robots_txt string")
    )
    return (
        robots_filter(urls, rules, agent="trainbot")
        .filter(F.col("allowed"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.col("was_mojibake").cast("long")).alias("n_repaired"),
            F.sum("n_tokens").alias("token_sum"),
        )
        .orderBy("domain")
    )


@query(
    "c239_html_extract",
    oracle="""
    WITH links AS (
        SELECT d.doc_id,
               STRING_AGG('l' || j.j, ' ' ORDER BY j.j) AS s
        FROM documents d, range(4) j(j)
        WHERE j.j < 1 + d.doc_id % 4
        GROUP BY d.doc_id
    )
    SELECT d.doc_id,
           'Doc ' || d.doc_id AS title,
           'Doc ' || d.doc_id || ' ' || links.s
               || ' tok' || (d.doc_id % 50)
               || ' & tok' || ((d.doc_id + 1) % 50) AS text,
           CAST(1 + d.doc_id % 4 AS BIGINT) AS n_links
    FROM documents d JOIN links ON links.doc_id = d.doc_id
    """,
    doc="HTML boilerplate-strip text extraction (operators/text.py "
        "html_extract, r16 — the WET/trafilatura-lite step that is "
        "the FIRST transform of every web corpus, and the natural "
        "consumer of c224's WARC response bodies): drop script/style "
        "blocks and comments (dotall, case-insensitive — a script "
        "containing '</p>' markup must not leak), strip remaining "
        "tags, unescape the six ubiquitous entities with &amp; LAST "
        "(earlier and '&amp;lt;' would double-unescape), collapse "
        "whitespace; title and <a>-count extracted alongside. One "
        "sequential regexp_replace projection — row-local "
        "whole-stage codegen, zero Python, zero shuffles (pytest "
        "asserts no Python stage). The entry's fixture HTML carries "
        "script noise with embedded markup, entity-encoded text and "
        "a variable link list; the oracle states the expected "
        "EXTRACTED text closed-form, so the driver row certifies "
        "the intended extraction, not a replay of the regex chain",
    tags=("text", "documents"),
)
def c239_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import html_extract

    d = views(spark, sf_dir, "documents")["documents"]
    links = F.expr(
        "concat_ws('', transform(sequence(0, CAST(doc_id % 4 AS INT)), "
        "j -> concat('<a href=\"/p', CAST(j AS STRING), '\">l', "
        "CAST(j AS STRING), '</a> ')))"
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id"),
        F.lit("</title><style>p {color: red}</style>"
              "<script>if (1<2) { var s = \"</p>\"; }</script>"
              "</head><body><!-- boilerplate -->"),
        links,
        F.lit("<p>tok"),
        F.col("doc_id") % 50,
        F.lit(" &amp; tok"),
        (F.col("doc_id") + 1) % 50,
        F.lit("</p></body></html>"),
    )
    corpus = d.select(F.col("doc_id"), html.alias("html"))
    return html_extract(corpus).select(
        "doc_id", "title", "text", "n_links"
    )


@query(
    "a13_copy_unload_bzip2",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY 1
    ORDER BY 1
    """,
    doc="BZIP2 COPY/UNLOAD (functions/copy_unload.py, r16 — the "
        "OTHER compression flag on Redshift's load/unload surface "
        "next to a09's GZIP): UNLOAD ... BZIP2 actually compresses "
        "the part files (Hadoop's pure-Java BZip2Codec via the "
        "writer's compression option — verified .csv.bz2 on disk), "
        "COPY ... BZIP2 reads them back (reader-side the option is "
        "parse-parity: Spark decompresses by extension), and the "
        "typed aggregate must reproduce the source exactly through "
        "the compressed round trip. 100 TB note: unlike gzip, bzip2 "
        "IS splittable — one large .bz2 still scans in parallel "
        "tasks, which is why big compressed text feeds prefer it",
    tags=("native", "ingest", "export", "orders"),
)
def a13_copy_unload_bzip2(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="bp_bzip2_")
    out_dir = os.path.join(tmp, "orders_bz2")
    execute_sql(
        spark,
        f"UNLOAD ('SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM orders WHERE o_orderkey % 3 = 0') TO '{out_dir}' "
        "DELIMITER '|' BZIP2",
    )
    assert any(
        f.endswith(".bz2") for f in os.listdir(out_dir)
    ), "expected bzip2 part files"
    tbl = "bp_bzip2_orders"
    _clean_stale_location(spark, tbl, None)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    execute_sql(
        spark,
        f"COPY {tbl} FROM '{out_dir}' CSV BZIP2 DELIMITER '|'",
    )
    return (
        spark.table(tbl)
        .groupBy(F.col("_c1").alias("o_orderstatus"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("_c2").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "c238_sitemap_stats",
    oracle="""
    WITH u AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 5 = 0 THEN 'index'
                    ELSE 'urlset' END AS kind,
               CASE WHEN d.doc_id % 5 = 0 THEN 2 + d.doc_id % 2
                    ELSE 3 + d.doc_id % 4 END AS n_locs
        FROM documents d
    ),
    pr AS (
        SELECT d.doc_id, SUM((d.doc_id + j.j) % 10) AS tenths
        FROM documents d, range(7) j(j)
        WHERE d.doc_id % 5 != 0 AND j.j < 3 + d.doc_id % 4
        GROUP BY d.doc_id
    )
    SELECT u.doc_id, u.kind, CAST(u.n_locs AS BIGINT) AS n_locs,
           CAST(pr.tenths AS BIGINT) AS priority_tenths
    FROM u LEFT JOIN pr ON u.doc_id = pr.doc_id
    """,
    doc="sitemap-protocol XML parsing through Spark's BUILT-IN Hive "
        "xpath expressions (operators/text.py sitemap_stats, r16 — "
        "the discovery layer of every crawl pipeline, completing the "
        "c227-canonicalize / c234-robots web-curation family): "
        "xpath_boolean dispatches <urlset> vs <sitemapindex>, xpath "
        "node lists count <url><loc> / <sitemap><loc> children, and "
        "<priority> values sum as integer TENTHS (one-decimal "
        "protocol values — integer arithmetic keeps the oracle "
        "bitwise; index files carry NULL). Entirely JVM-side "
        "row-local expressions — zero Python, zero shuffles (pytest "
        "asserts no Python stage); the fixture XML itself is "
        "generated by a sequence/transform/concat_ws projection, so "
        "the whole entry is one codegen'd pass over the scan. Oracle "
        "replays kinds, child counts and priority sums closed-form",
    tags=("text", "documents"),
)
def c238_sitemap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import sitemap_stats

    d = views(spark, sf_dir, "documents")["documents"]
    xml = F.expr(
        "CASE WHEN doc_id % 5 = 0 THEN "
        "concat('<?xml version=\"1.0\"?><sitemapindex>', "
        "concat_ws('', transform(sequence(0, 1 + CAST(doc_id % 2 AS "
        "INT)), k -> concat('<sitemap><loc>https://site', "
        "CAST(doc_id % 13 AS STRING), '.com/s', CAST(k AS STRING), "
        "'.xml</loc></sitemap>'))), '</sitemapindex>') "
        "ELSE concat('<?xml version=\"1.0\"?><urlset>', "
        "concat_ws('', transform(sequence(0, 2 + CAST(doc_id % 4 AS "
        "INT)), j -> concat('<url><loc>https://site', "
        "CAST(doc_id % 13 AS STRING), '.com/p', CAST(j AS STRING), "
        "'</loc><priority>0.', CAST((doc_id + j) % 10 AS STRING), "
        "'</priority></url>'))), '</urlset>') END"
    )
    corpus = d.select(F.col("doc_id"), xml.alias("xml"))
    return sitemap_stats(corpus).select(
        "doc_id", "kind", "n_locs", "priority_tenths"
    )


@query(
    "c237_mojibake_repair",
    oracle="""
    SELECT doc_id,
           doc_id % 4 IN (0, 3) AS was_mojibake,
           CASE WHEN doc_id % 4 = 2
                THEN 'plain text ' || (doc_id % 50)
                ELSE 'café número ' || (doc_id % 50) END AS text_fixed
    FROM documents
    """,
    doc="mojibake repair (operators/text.py repair_mojibake, r16 — "
        "the ftfy fix every web-scale text pipeline runs: UTF-8 "
        "bytes misread as Latin-1 and re-encoded, the single most "
        "common encoding corruption in crawled corpora): a string "
        "whose bytes-under-Latin-1 form VALID UTF-8 and that carries "
        "the telltale lead sequences re-decodes; genuinely-Latin-1 "
        "accents encode to INVALID UTF-8 so the is_valid_utf8 guard "
        "passes them through untouched (the false-positive class "
        "naive fixes corrupt), and two fix rounds converge "
        "TWICE-encoded text. Entirely JVM-side — encode/"
        "is_valid_utf8/decode/contains are row-local codegen'd "
        "expressions, zero Python, zero shuffles (pytest asserts no "
        "Python stage in the executed plan). Entry corpus mixes "
        "single-encoded, twice-encoded, clean-accented and plain "
        "rows; the oracle states the expected REPAIRED text "
        "closed-form, so the driver row certifies the intended fix, "
        "not a replay of the expression chain",
    tags=("text", "documents"),
)
def c237_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import repair_mojibake

    d = views(spark, sf_dir, "documents")["documents"]
    good = "café número "
    bad = good.encode("utf-8").decode("latin-1")
    double = bad.encode("utf-8").decode("latin-1")
    corpus = d.select(
        F.col("doc_id"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(bad), F.col("doc_id") % 50),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(good), F.col("doc_id") % 50),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("plain text "), F.col("doc_id") % 50),
        )
        .otherwise(F.concat(F.lit(double), F.col("doc_id") % 50))
        .alias("text"),
    )
    return repair_mojibake(corpus).select(
        "doc_id", "was_mojibake", "text_fixed"
    )


@query(
    "c236_ico_stats",
    oracle="""
    WITH fr AS (
        SELECT d.doc_id, f.f,
               8 + 8 * ((d.doc_id + f.f) % 2) AS n,
               (d.doc_id + f.f) % 3 AS kind
        FROM documents d, range(3) f(f)
        WHERE f.f < 1 + d.doc_id % 3
    ),
    px AS (
        SELECT fr.doc_id, fr.f, fr.kind, fr.n,
               ((fr.doc_id * 7 + fr.f * 13 + r.r * 5 + c.c * 3) % 256)
               + ((fr.doc_id * 7 + fr.f * 13 + r.r * 5 + c.c * 3 + 11)
                  % 256)
               + ((fr.doc_id * 7 + fr.f * 13 + r.r * 5 + c.c * 3 + 22)
                  % 256) AS v3,
               CASE WHEN fr.kind = 2
                    THEN ((fr.doc_id + r.r + c.c) % 2) * 255
                    ELSE 255 END AS av
        FROM fr, range(16) r(r), range(16) c(c)
        WHERE r.r < fr.n AND c.c < fr.n
    ),
    perfr AS (
        SELECT doc_id, f, MAX(kind) AS kind, MAX(n) AS n,
               SUM(v3) AS vsum, SUM(av) AS asum
        FROM px GROUP BY doc_id, f
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_png,
           CAST(SUM(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bmp,
           CAST(SUM(CASE WHEN kind = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bmp32,
           CAST(SUM(n * n) AS BIGINT) AS n_pixels,
           CAST(SUM(vsum) AS BIGINT) AS pixel_sum,
           CAST(SUM(asum) AS BIGINT) AS alpha_sum
    FROM perfr GROUP BY doc_id
    """,
    doc="ICO favicon containers (operators/multimodal.py, r16 — the "
        "multi-resolution icon format every site root serves; a "
        "crawl pipeline meets millions of them): decode_ico walks "
        "the ICONDIR and dispatches each member on its bytes — "
        "embedded PNG (the modern layout, through the real r14/r15 "
        "PNG codec) or a HEADERLESS DIB with the spec's DOUBLED "
        "height: bottom-up 24-bit BGR XOR image + 1-bit MSB-first "
        "AND transparency mask, or 32-bit BGRA with channel alpha. "
        "The 256-pixel ICONDIR zero-byte rule, mask-bit transparency "
        "semantics and V5-header/odd-height refusals are "
        "pytest-pinned (the PNG/BMP cores underneath carry their own "
        "JVM cross-validation from c81/c153). Entry icons mix all "
        "three member kinds at two sizes; frame counts by kind, "
        "pixel sums and AND-mask/channel alpha sums replay "
        "closed-form. Arrow-batched mapInPandas inside the scan's "
        "partitions — no shuffle",
    tags=("multimodal",),
)
def c236_ico_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import ico_stats, synthesize_ico_files

    d = views(spark, sf_dir, "documents")["documents"]
    return ico_stats(synthesize_ico_files(d, "doc_id"))


@query(
    "c235_zip_extract_stats",
    oracle="""
    WITH m AS (
        SELECT d.doc_id, k.k, 8 + (d.doc_id + k.k) % 9 AS nt
        FROM documents d, range(4) k(k)
        WHERE k.k < 2 + d.doc_id % 3
    ),
    t AS (
        SELECT m.doc_id, m.k, m.nt, j.j,
               (m.doc_id * 7 + m.k * 5 + j.j * 3) % 97 AS v
        FROM m, range(16) j(j)
        WHERE j.j < m.nt
    ),
    per_member AS (
        SELECT doc_id, k, MAX(nt) AS nt, SUM(v) AS vsum,
               SUM(1 + LENGTH(CAST(v AS VARCHAR))) AS tchars
        FROM t GROUP BY doc_id, k
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stored,
           CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deflated,
           CAST(SUM(tchars + nt - 1) AS BIGINT) AS total_bytes,
           CAST(SUM(vsum) AS BIGINT) AS token_sum
    FROM per_member GROUP BY doc_id
    """,
    doc="ZIP archive ingestion (operators/warc.py, r16 — the other "
        "container document dumps actually arrive in, next to c224's "
        "WARC and c225's WebDataset tar): encode_zip writes local "
        "headers + central directory + EOCD from the APPNOTE spec "
        "(NOT via zipfile, so the pytest interchange against "
        "CPython's zipfile is independent in BOTH directions); "
        "parse_zip walks the robust path — EOCD located by a "
        "BACKWARD tail scan validated against the comment length "
        "(a bare rfind bites on signature bytes inside comments or "
        "deflate streams), the CENTRAL directory as the "
        "authoritative member list (data-descriptor streams parse "
        "fine), stored + raw-deflate members CRC32-verified; "
        "encrypted members, ZIP64 and other methods refuse by name. "
        "Entry archives alternate stored/deflate text members whose "
        "token numbers replay arithmetically (member counts by "
        "method, exact uncompressed byte totals incl. the "
        "string-length arithmetic, token sums). Arrow-batched "
        "mapInPandas inside the scan's partitions — no shuffle; on a "
        "cluster the same walker runs over binaryFile scans "
        "unchanged",
    tags=("multimodal", "documents"),
)
def c235_zip_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warc import synthesize_zip_archives, zip_extract_stats

    d = views(spark, sf_dir, "documents")["documents"]
    return zip_extract_stats(synthesize_zip_archives(d, "doc_id"))


@query(
    "c234_robots_filter",
    oracle="""
    WITH u AS (
        SELECT doc_id, doc_id % 13 AS d, doc_id % 7 AS pj,
               doc_id % 5 AS qk
        FROM documents
    ),
    dec AS (
        SELECT doc_id, d,
               CASE WHEN (pj % 3 = d % 3) AND qk != 0 THEN 0 ELSE 1 END
                   AS allowed
        FROM u
    )
    SELECT 'site' || d || '.com' AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(allowed) AS BIGINT) AS n_allowed,
           CAST(COUNT(*) - SUM(allowed) AS BIGINT) AS n_blocked
    FROM dec GROUP BY d ORDER BY domain
    """,
    doc="robots.txt crawl filtering (operators/text.py, r16 — the "
        "RFC 9309 compliance gate every responsible web-scale corpus "
        "runs between URL collection and fetch/ingest; pairs with "
        "c227's canonicalization): parse_robots_rules walks each "
        "domain's robots.txt per spec — #-comments, case-insensitive "
        "fields, consecutive User-agent lines sharing a group, a "
        "later User-agent after rules opening a NEW group, empty "
        "Disallow (allow-all) dropped — into a rules table that is "
        "metadata-sized next to any crawl; robots_filter applies one "
        "crawler identity: the EXACT agent group when the domain "
        "defines one else '*', longest matching pattern wins with "
        "Allow beating Disallow on ties, * and $ pattern forms as "
        "anchored regexes, and no-match = allowed. Plan: the rules "
        "broadcast twice (group choice, URL x rule match); the crawl "
        "is never shuffled beyond a per-URL max_by — at 100 TB the "
        "URL corpus stays the probe side throughout. pytest pins the "
        "spec semantics on hand-built robots files incl. the "
        "$-anchor, exact-agent-replaces-* and badbot cases; the "
        "entry's 13-domain fixture (Disallow /p<j> where j%3 = "
        "domain%3, Allow /p<j>/q0 exceptions, a badbot full block "
        "that must NOT apply to the queried agent) replays "
        "closed-form in SQL",
    tags=("text", "documents"),
)
def c234_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import parse_robots_rules, robots_filter

    d = views(spark, sf_dir, "documents")["documents"]
    urls = d.select(
        F.col("doc_id"),
        F.concat(
            F.lit("site"), F.col("doc_id") % 13, F.lit(".com")
        ).alias("domain"),
        F.concat(
            F.lit("/p"), F.col("doc_id") % 7,
            F.lit("/q"), F.col("doc_id") % 5,
        ).alias("path"),
    )
    rows = []
    for dd in range(13):  # 13-row fixture — metadata-sized
        lines = ["User-agent: badbot", "Disallow: /", "",
                 "User-agent: *"]
        for j in range(7):
            if j % 3 == dd % 3:
                lines.append(f"Disallow: /p{j}")
                lines.append(f"Allow: /p{j}/q0")
        rows.append((f"site{dd}.com", "\n".join(lines)))
    robots = spark.createDataFrame(
        rows, "domain string, robots_txt string"
    )
    rules = parse_robots_rules(robots)
    return (
        robots_filter(urls, rules, agent="trainbot")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.col("allowed").cast("long")).alias("n_allowed"),
            F.sum((~F.col("allowed")).cast("long")).alias("n_blocked"),
        )
        .orderBy("domain")
    )


@query(
    "q118_zero_copy_clone",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders
    ),
    v1 AS (SELECT * FROM base WHERE NOT (o_orderkey % 7 = 0)),
    src_live AS (SELECT * FROM v1 WHERE NOT (o_orderkey % 3 = 0)),
    dst_live AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM v1
    ),
    snaps AS (
        SELECT 'dst_live' AS branch, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM dst_live
        UNION ALL
        SELECT 'dst_v0', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM v1
        UNION ALL
        SELECT 'src_live', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM src_live
        UNION ALL
        SELECT 'src_v1', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM v1
    )
    SELECT branch, CAST(n_rows AS BIGINT) AS n_rows, total_price
    FROM snaps ORDER BY branch
    """,
    doc="ZERO-COPY table clone over the manifest commit log "
        "(timetravel.clone_history_table, r16 — the Delta/Iceberg "
        "SHALLOW CLONE operation, strengthened: the clone's v0 "
        "materializes the source tip's manifest by HARD LINK, "
        "O(#files) inode metadata and zero data bytes at any table "
        "size, and because the links are real names on the shared "
        "inodes, vacuuming the SOURCE can never dangle the clone — "
        "the failure mode Delta's path-referencing shallow clones "
        "document). The two tables evolve fully independently from "
        "the clone point: separate commit logs, separate pointers, "
        "copy-on-write divergence; the clone's log opens with a "
        "provenance entry ('clone <src> v<n>'). Entry: source "
        "enable(v0) -> DELETE (v1) -> CLONE -> UPDATE the clone / "
        "DELETE more from the source -> aggregate all four views "
        "(both live tables, the clone's v0, the source's v1 — the "
        "last two provably identical). pytest additionally pins the "
        "inode equality, the provenance op, the vacuum-source-"
        "then-read-clone guarantee, and the exists/self/non-history "
        "refusals. Scale: clone cost is #files link syscalls — "
        "cloning a 100 TB table is instant; on an object store the "
        "manifest itself is the share (the log already records it)",
    tags=("native", "sql", "dml", "orders"),
)
def q118_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from .. import timetravel as tt
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    src, dst = "bp_clone_src", "bp_clone_dst"
    for t in (src, dst):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        tt.remove_history(spark, t)
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {src} AS SELECT o_orderkey, o_totalprice "
        "FROM orders",
    )
    tt.enable_history(spark, src)  # v0
    execute_sql(spark, f"DELETE FROM {src} WHERE o_orderkey % 7 = 0")  # v1
    tt.clone_history_table(spark, src, dst)
    execute_sql(
        spark,
        f"UPDATE {dst} SET o_totalprice = o_totalprice * 2 "
        "WHERE o_orderkey % 5 = 0",
    )
    execute_sql(spark, f"DELETE FROM {src} WHERE o_orderkey % 3 = 0")

    def agg(df: DataFrame, branch: str) -> DataFrame:
        return df.agg(
            F.lit(branch).alias("branch"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )

    return reduce(
        DataFrame.unionAll,
        [
            agg(spark.table(dst), "dst_live"),
            agg(tt.table_at(spark, dst, version=0), "dst_v0"),
            agg(spark.table(src), "src_live"),
            agg(tt.table_at(spark, src, version=1), "src_v1"),
        ],
    ).orderBy("branch")


@query(
    "c233_exif_orientation_stats",
    oracle="""
    WITH g AS (
        SELECT d.doc_id, 1 + d.doc_id % 8 AS o,
               1 + d.doc_id % 3 AS th, 2 + d.doc_id % 2 AS tw
        FROM documents d
    ),
    px AS (
        SELECT g.doc_id, g.o, g.th, g.tw, tr.tr, tc.tc,
               2 * ((g.doc_id * 31 + tr.tr * 7 + tc.tc * 3) % 128) AS v,
               (CASE WHEN tr.tr = g.th - 1 THEN 7 ELSE 8 END)
               * (CASE WHEN tc.tc = g.tw - 1 THEN 5 ELSE 8 END) AS npix
        FROM g, range(3) tr(tr), range(3) tc(tc)
        WHERE tr.tr < g.th AND tc.tc < g.tw
    )
    SELECT doc_id,
           CAST(o AS BIGINT) AS orientation,
           CAST(CASE WHEN o >= 5 THEN th * 8 - 1 ELSE tw * 8 - 3 END
                AS BIGINT) AS width,
           CAST(CASE WHEN o >= 5 THEN tw * 8 - 3 ELSE th * 8 - 1 END
                AS BIGINT) AS height,
           CAST(MAX(CASE WHEN
                    tr = (CASE WHEN o IN (3, 4, 6, 7) THEN th - 1
                          ELSE 0 END)
                AND tc = (CASE WHEN o IN (2, 3, 7, 8) THEN tw - 1
                          ELSE 0 END)
                THEN v END) AS BIGINT) AS topleft,
           CAST(SUM(CAST(v AS BIGINT) * npix) AS BIGINT) AS pixel_sum
    FROM px GROUP BY doc_id, o, th, tw
    """,
    doc="EXIF orientation metadata + orientation-aware decode "
        "(operators/multimodal.py, r16 — the APP1 sidecar nearly "
        "every camera/phone JPEG carries; a pipeline that ignores it "
        "feeds sideways images to training): build_exif_app1/"
        "parse_exif write and walk the APP1 TIFF structure in BOTH "
        "byte orders (IFD0 entry scan, SHORT orientation inline, "
        "ASCII description through out-of-line offsets), "
        "apply_exif_orientation maps stored pixels to the upright "
        "view for all EIGHT flip/rotate states as pure numpy index "
        "views, and a JPEG with no EXIF yields the spec default "
        "(orientation 1) rather than an error. pytest pins the "
        "builder/parser round trip both-endian, every orientation's "
        "upright transform on a hand-checked grid, corrupt-EXIF "
        "refusals by name, and — externally — that javax.imageio's "
        "independent marker parser exposes our APP1 verbatim "
        "(unknown-marker node, tag 225) in the dual JFIF+EXIF "
        "layout while the stream still decodes to the same pixels. "
        "Entry: the c211 exactness-class tile JPEGs with all eight "
        "orientations spliced in; upright dims + the "
        "orientation-SENSITIVE top-left pixel + the "
        "rotation-INVARIANT pixel sum replay from the closed tile "
        "form in SQL. Arrow-batched mapInPandas inside the scan's "
        "partitions — no shuffle",
    tags=("multimodal",),
)
def c233_exif_orientation_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        exif_image_stats,
        synthesize_exif_jpeg_images,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return exif_image_stats(synthesize_exif_jpeg_images(d, "doc_id"))


@query(
    "c232_stream_history_versions",
    oracle="""
    SELECT CAST(4 AS BIGINT) AS n_versions,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(user_id) AS BIGINT) AS sum_user_id
    FROM events
    """,
    doc="streaming ingest into a TIME-TRAVEL table "
        "(streaming/sessions.stream_append_history, r16 — the "
        "transaction-per-micro-batch contract Delta's streaming sink "
        "provides, here over the native manifest commit log): every "
        "micro-batch publishes one O(new-files) APPEND commit through "
        "the statement face (INSERT INTO -> timetravel.commit_append "
        "— the batch's own parquet files plus O(#files) hard-link "
        "metadata for the carried manifest, never an O(table) "
        "rewrite), so a continuously-ingesting table stays fully "
        "time-travelable: each batch is a pinned queryable version, "
        "readers see versions atomically via "
        "log-append-then-pointer-swap, and a crash between batches "
        "leaves a valid tip. The entry seeds a history table with the "
        "event_id%4==0 slice (v0), streams the remaining rows as "
        "THREE files under maxFilesPerTrigger=1 (3 genuine "
        "micro-batches -> versions 1-3), and certifies the commit "
        "count plus the exact final state against the events fixture. "
        "Scale: state is the file-source's seen-files log only — no "
        "shuffle, no stateful operator; per-batch cost is the batch "
        "write itself",
    tags=("streaming", "dml", "events"),
)
def c232_stream_history_versions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import os
    import shutil as _sh

    from .. import timetravel as tt
    from ..ingest import _clean_stale_location
    from ..session import load_table
    from ..streaming.sessions import (
        read_events_stream,
        stream_append_history,
    )

    views(spark, sf_dir, "events")  # oracle side
    tbl = "bp_stream_hist_tgt"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    tt.remove_history(spark, tbl)
    _clean_stale_location(spark, tbl, None)
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 4 == 0).write.saveAsTable(tbl)
    tt.enable_history(spark, tbl)  # v0
    rest = ev.filter(F.col("event_id") % 4 != 0)
    d = tempfile.mkdtemp(prefix="bp_stream_hist_")
    for k in range(3):
        tmp = os.path.join(d, f"_slice{k}")
        rest.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        _sh.move(part, os.path.join(d, f"part-{k}.parquet"))
        _sh.rmtree(tmp)
    cols = spark.table(tbl).columns
    stream = read_events_stream(
        spark, d, spark.table(tbl).schema, max_files_per_trigger=1
    ).select(*cols)
    stream_append_history(stream, tbl, source_dir=d)  # blocks; raises on timeout
    n_versions = tt.history(spark, tbl).count()  # metadata-sized
    return spark.table(tbl).agg(
        F.lit(int(n_versions)).cast("long").alias("n_versions"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.sum("user_id").cast("long").alias("sum_user_id"),
    )


@query(
    "c231_bigendian_audio_stats",
    oracle="""
    WITH raw AS (
        SELECT d.doc_id, j.j, ch.ch,
               (d.doc_id * 7 + j.j * 13) % 256 AS mb
        FROM documents d, range(45) j(j), range(2) ch(ch)
        WHERE j.j < 30 + d.doc_id % 15
          AND ch.ch < CASE WHEN d.doc_id % 5 IN (1, 3) THEN 2 ELSE 1 END
    ),
    s AS (
        SELECT doc_id,
               CASE doc_id % 5
                    WHEN 0 THEN
                        (((doc_id * 11 + j * 5) % 256) - 128) * 256
                    WHEN 1 THEN
                        ((doc_id * 29 + j * 13 + ch * 7) % 60000) - 30000
                    WHEN 2 THEN
                        ((doc_id * 31 + j * 17) % 1000000) - 500000
                    WHEN 3 THEN
                        ((doc_id * 23 + j * 19 + ch * 3) % 60000) - 30000
                    ELSE CASE WHEN ((255 - mb) & 128) != 0
                         THEN 132 - (((((255 - mb) & 15) << 3) + 132)
                                     << (((255 - mb) & 112) >> 4))
                         ELSE (((((255 - mb) & 15) << 3) + 132)
                               << (((255 - mb) & 112) >> 4)) - 132
                    END
               END AS pcm
        FROM raw
    )
    SELECT doc_id,
           CASE WHEN doc_id % 5 <= 2 THEN 'aiff' ELSE 'au' END
               AS container,
           CAST(CASE WHEN doc_id % 5 IN (1, 3) THEN 2 ELSE 1 END
                AS BIGINT) AS n_channels,
           CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 44100
                WHEN 2 THEN 48000 WHEN 3 THEN 16000 ELSE 8000 END
                AS BIGINT) AS sample_rate,
           CAST(30 + doc_id % 15 AS BIGINT) AS n_samples,
           CAST(SUM(pcm) AS BIGINT) AS sample_sum,
           CAST(MIN(pcm) AS BIGINT) AS sample_min,
           CAST(MAX(pcm) AS BIGINT) AS sample_max
    FROM s GROUP BY doc_id
    """,
    doc="AIFF + Sun-AU big-endian audio containers decode "
        "(operators/multimodal.py, r16 — the two classic non-RIFF "
        "audio wrappers: AIFF is the IFF FORM sibling of WAVE that "
        "Mac-originated corpora carry, AU the voice-mail/Unix "
        "default): decode_aiff walks the IFF chunk list (word "
        "alignment, unknown chunks skipped), parses COMM incl. the "
        "80-BIT IEEE-EXTENDED sampleRate field (explicit integer "
        "bit), honors the SSND offset, and reads SIGNED big-endian "
        "PCM at 8 (AIFF's signed convention, unlike WAV's "
        "excess-128), 16 and 24 bits; AIFC refuses by name. "
        "decode_au reads the .snd header (annotation-shifted data "
        "offset, 0xFFFFFFFF unknown-size) and dispatches encoding "
        "1/2/3 = G.711 mu-law (the r15 law tables) / int8 / int16be. "
        "pytest cross-validates BOTH directions against the JVM's "
        "independent javax.sound.sampled stack: our containers parse "
        "with bit-identical frames at every width, and the JVM's own "
        "AIFF/AU writers' files (PCM and ULAW) decode through our "
        "path. Lossless containers -> the oracle replays decoded "
        "sums arithmetically, mu-law via the closed-form G.711 "
        "expansion. Arrow-batched mapInPandas inside the scan's "
        "partitions — no shuffle",
    tags=("multimodal",),
)
def c231_bigendian_audio_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        bigendian_audio_stats,
        synthesize_bigendian_audio,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    return bigendian_audio_stats(synthesize_bigendian_audio(d, "doc_id"))


@query(
    "c227_url_canonicalize",
    oracle="""
    WITH u AS (
        SELECT doc_id, doc_id % 150 AS m FROM documents
    ),
    canon AS (
        SELECT doc_id,
               (CASE WHEN m % 2 = 1 THEN 'http' ELSE 'https' END)
               || '://'
               || (CASE WHEN m % 8 = 5 THEN 'blog.' ELSE '' END)
               || 'site' || (m % 29) || '.'
               || (CASE WHEN m % 7 = 0 THEN 'co.uk'
                        WHEN m % 3 = 0 THEN 'com'
                        WHEN m % 3 = 1 THEN 'org' ELSE 'net' END)
               || (CASE WHEN m % 11 = 7 THEN ':8080' ELSE '' END)
               || '/a' || (m % 13)
               || (CASE WHEN m % 6 IN (0, 3)
                        THEN '?q=' || (m % 10) ELSE '' END) AS canon,
               'site' || (m % 29) || '.'
               || (CASE WHEN m % 7 = 0 THEN 'co.uk'
                        WHEN m % 3 = 0 THEN 'com'
                        WHEN m % 3 = 1 THEN 'org' ELSE 'net' END) AS domain
        FROM u
    ),
    dedup AS (
        SELECT canon, MIN(domain) AS domain, MIN(doc_id) AS first_doc,
               COUNT(*) AS n_docs
        FROM canon GROUP BY canon
    )
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(MIN(first_doc) AS BIGINT) AS first_doc
    FROM dedup
    WHERE domain NOT IN (
        SELECT 'site' || k || '.' || t
        FROM range(29) r(k),
             (VALUES ('com'), ('org'), ('net'), ('co.uk')) tl(t)
        WHERE k % 10 = 3
    )
    GROUP BY domain ORDER BY domain
    """,
    doc="URL canonicalization + registered-domain blocklist filtering "
        "(operators/text.py, r16 — the RefinedWeb/Common-Crawl cleanup "
        "every web-scale corpus runs BEFORE URL-level dedup, and the "
        "reference's users run as SQL string munging through "
        "execute_sql.py:77): raw URLs carry www. prefixes, default "
        ":80/:443 ports, utm_* tracking params, fragments, "
        "/index.html vs trailing-slash path spellings and case noise; "
        "canonicalize_url collapses all of it in one sequential "
        "regexp_replace projection (row-local, codegen'd, zero "
        "shuffles — lookaround-free patterns), registered_domain "
        "derives the pay-level domain incl. a co.uk multi-label "
        "public-suffix case, a broadcast anti-join drops blocklisted "
        "domains, and URL-level dedup keeps the first doc per "
        "canonical URL. THE ORACLE DERIVES THE CANONICAL FORM "
        "INDEPENDENTLY from the fixture's closed form (not by "
        "replaying the regex chain), so the driver row certifies the "
        "INTENDED cleanup semantics. Plan: projection -> one "
        "canonical-URL hash aggregate -> broadcast anti-join -> one "
        "domain aggregate; at 100 TB the only data shuffle is the "
        "canonical-URL group-by, the blocklist stays broadcast-sized",
    tags=("text",),
)
def c227_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import (
        canonicalize_url,
        registered_domain,
        synthesize_urls,
    )

    d = views(spark, sf_dir, "documents")["documents"]
    c = synthesize_urls(d, "doc_id").select(
        "doc_id", canonicalize_url(F.col("url")).alias("canon")
    )
    c = c.withColumn("domain", registered_domain(F.col("canon")))
    dedup = c.groupBy("canon").agg(
        F.min("domain").alias("domain"),
        F.min("doc_id").alias("first_doc"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    blocklist = (
        spark.range(29)
        .filter("id % 10 = 3")
        .select(
            F.explode(
                F.array(
                    *[
                        F.concat(F.lit("site"), F.col("id"), F.lit("." + t))
                        for t in ("com", "org", "net", "co.uk")
                    ]
                )
            ).alias("domain")
        )
    )
    return (
        dedup.join(F.broadcast(blocklist), on="domain", how="left_anti")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("n_docs").alias("n_docs"),
            F.min("first_doc").alias("first_doc"),
        )
        .orderBy("domain")
    )


@query(
    "c228_paragraph_dedup",
    oracle="""
    WITH lst AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    toks AS (
        SELECT lst.doc_id, r.i + 1 AS ord,
               lst.l[CAST(r.i + 1 AS INT)] AS tok
        FROM lst, range(256) r(i)
        WHERE r.i < len(lst.l)
    ),
    paras AS (
        SELECT doc_id, CAST((ord - 1) // 3 AS BIGINT) AS para_idx,
               string_agg(tok, ' ' ORDER BY ord) AS para
        FROM toks GROUP BY doc_id, (ord - 1) // 3
    ),
    ranked AS (
        SELECT doc_id, para_idx, para,
               row_number() OVER (
                   PARTITION BY para ORDER BY doc_id, para_idx
               ) AS rn
        FROM paras
    ),
    kept AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(para, ' ' ORDER BY para_idx) AS kept_text
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    spine AS (
        SELECT doc_id,
               CAST(CEIL(len(string_split(text, ' ')) / 3.0) AS BIGINT)
                   AS n_paras
        FROM documents
    )
    SELECT s.doc_id, s.n_paras,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(length(COALESCE(k.kept_text, '')) AS BIGINT) AS kept_len,
           COALESCE(k.kept_text, '') AS kept_text
    FROM spine s LEFT JOIN kept k ON k.doc_id = s.doc_id
    """,
    doc="Paragraph-level exact dedup with document REASSEMBLY "
        "(operators/dedup.py paragraph_dedup, r16 — the MassiveText/"
        "Gopher recipe: duplicated PASSAGES — boilerplate, licenses, "
        "navigation chrome — recur across documents that are not "
        "themselves duplicates, so the c01 document-level pass misses "
        "them): each document splits into paragraphs (3-token runs on "
        "this newline-free fixture; the splitter is the only knob), "
        "only the globally FIRST occurrence of each distinct "
        "paragraph survives (deterministic (doc_id, position) order), "
        "and every document is rebuilt from its surviving paragraphs "
        "in order — all-duplicate documents emit n_kept=0. The full "
        "reassembled text rides the output so the value hash "
        "certifies the rebuild, not just the counts. Plan: map-side "
        "sequence+slice chunking (the c52 shape), ONE window over "
        "paragraphs (keyed shuffle bounded by corpus token count — "
        "the c73 class; a mega-duplicated paragraph is one hot KEY, "
        "AQE-splittable), one doc-keyed reassembly aggregate, one "
        "spine left join",
    tags=("dedup", "text"),
)
def c228_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import paragraph_dedup

    d = views(spark, sf_dir, "documents")["documents"]
    return paragraph_dedup(d, "doc_id", "text", chunk_tokens=3).orderBy(
        "doc_id"
    )


@query(
    "q111_time_travel_append",
    oracle="""
    WITH p0 AS (SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_orderkey % 4 = 0),
    p1 AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 4 = 1),
    p2 AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 4 = 2),
    p3 AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 4 = 3),
    v1 AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM p2),
    v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM p3),
    v4 AS (SELECT * FROM v3 WHERE NOT (o_orderkey % 10 = 3)),
    snaps AS (
        SELECT 0 AS v, 'enable_history' AS op, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_price FROM p0
        UNION ALL
        SELECT 1, 'insert', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v1
        UNION ALL
        SELECT 2, 'alter append in', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v2
        UNION ALL
        SELECT 3, 'copy', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v3
        UNION ALL
        SELECT 4, 'delete', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v4
    )
    SELECT CAST(v AS INTEGER) AS version, op,
           CAST(n_rows AS BIGINT) AS n_rows, total_price
    FROM snaps ORDER BY version
    """,
    doc="O(new-files) APPEND commits on history tables (timetravel.py, "
        "r15 — the manifest-of-files log): INSERT INTO, ALTER TABLE "
        "APPEND, and COPY on a history-enabled table each publish a "
        "new version that writes ONLY the new rows' parquet files and "
        "carries the previous manifest by hard link — O(batch), not "
        "the full copy-on-write rewrite of the r14 design (pytest "
        "pins the inode behavior; this entry driver-certifies the "
        "statement interceptions end-to-end, r14 advisor's high "
        "finding: COPY and ALTER APPEND previously mutated the live "
        "snapshot in place with no log entry). The entry runs CREATE "
        "-> enable(v0) -> INSERT INTO(v1) -> ALTER TABLE APPEND(v2) "
        "-> UNLOAD+COPY round trip(v3) -> SQL DELETE(v4, a file-pruned "
        "selective commit, r16), then aggregates EVERY version via table_at() "
        "manifest reads joined with the commit log's op strings; the "
        "oracle replays the version states as CTEs. Scale: append "
        "commits write O(batch) data + O(#files) link metadata; "
        "snapshot reads are plain distributed parquet scans over the "
        "manifest with pushdown intact",
    tags=("native", "sql", "dml", "orders"),
)
def q111_time_travel_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    from functools import reduce

    from .. import timetravel as tt
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tbl, side = "bp_tta_orders", "bp_tta_side"
    for t in (tbl, side):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        tt.remove_history(spark, t)  # re-entrant builds
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 4 = 0",
    )
    tt.enable_history(spark, tbl)  # v0
    execute_sql(
        spark,
        f"INSERT INTO {tbl} SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 4 = 1",
    )  # v1: append commit
    execute_sql(
        spark,
        f"CREATE TABLE {side} AS SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 4 = 2",
    )
    execute_sql(spark, f"ALTER TABLE {tbl} APPEND FROM {side}")  # v2
    tmp = tempfile.mkdtemp(prefix="bp_tta_")
    src = os.path.join(tmp, "part3.csv")
    execute_sql(
        spark,
        "UNLOAD ('SELECT o_orderkey, o_totalprice FROM orders "
        f"WHERE o_orderkey % 4 = 3') TO '{src}' PARALLEL OFF",
    )
    execute_sql(spark, f"COPY {tbl} FROM '{src}'")  # v3: append commit
    execute_sql(spark, f"DELETE FROM {tbl} WHERE o_orderkey % 10 = 3")  # v4
    ops = {
        r["version"]: r["op"] for r in tt.history(spark, tbl).collect()
    }  # commit log: metadata-sized collect (one row per version)

    def snap(v: int) -> DataFrame:
        return (
            tt.table_at(spark, tbl, version=v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                # decimal-cast the float sum (catalog convention): the
                # cents-exact decimal sum agrees bit-for-bit across
                # engines regardless of summation order
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                F.lit(ops[v]).alias("op"),
                "n_rows",
                "total_price",
            )
        )

    return reduce(DataFrame.unionAll, [snap(v) for v in range(5)]).orderBy(
        "version"
    )


@query(
    "q112_time_travel_selective_dml",
    oracle="""
    WITH p0 AS (SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_orderkey % 3 = 0),
    p1 AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 3 = 1),
    p2 AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 3 = 2),
    v1 AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM p2),
    v3 AS (SELECT * FROM v2 WHERE NOT (o_orderkey % 10 = 7)),
    v4 AS (SELECT o_orderkey,
                  CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 2
                       ELSE o_totalprice END AS o_totalprice
           FROM v3),
    v5 AS (SELECT o_orderkey,
                  CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 1000
                       ELSE o_totalprice END AS o_totalprice
           FROM v4
           UNION ALL
           SELECT o_orderkey + 50000000, 99.5 FROM orders
           WHERE o_orderkey % 100 = 0),
    snaps AS (
        SELECT 0 AS v, 'enable_history' AS op, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_price FROM p0
        UNION ALL
        SELECT 1, 'insert', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v1
        UNION ALL
        SELECT 2, 'insert', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v2
        UNION ALL
        SELECT 3, 'delete', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v3
        UNION ALL
        SELECT 4, 'update', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v4
        UNION ALL
        SELECT 5, 'merge', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM v5
    )
    SELECT CAST(v AS INTEGER) AS version, op,
           CASE WHEN v = 0 THEN CAST(NULL AS INTEGER)
                ELSE CAST(v - 1 AS INTEGER) END AS parent,
           FALSE AS superseded,
           CAST(n_rows AS BIGINT) AS n_rows, total_price
    FROM snaps ORDER BY version
    """,
    doc="FILE-PRUNED selective DML on history tables (timetravel."
        "commit_replace + dml._Statement.prune, r16 — the r15 "
        "verdict's headline item: DELETE/UPDATE/MERGE previously "
        "published O(table) full-state rewrites): the statement finds "
        "exactly which manifest files contain affected rows via ONE "
        "pushdown-pruned scan projecting only the predicate columns "
        "plus Spark's _metadata.file_name (parquet row-group stats "
        "prune at the footer), rewrites ONLY those files' rows, and "
        "carries every untouched file into the new version by hard "
        "link — O(affected files), the Delta/Iceberg copy-on-write "
        "cost class (pytest pins the inode carry; this entry "
        "driver-certifies the statement path end-to-end). The entry "
        "runs CREATE -> enable(v0) -> two INSERT INTO appends (v1,v2 "
        "— a multi-file manifest for the pruning to bite) -> "
        "selective DELETE(v3) -> selective UPDATE(v4) -> selective "
        "SQL MERGE(v5, updates + inserts), then aggregates EVERY "
        "version via table_at() manifest reads joined with the "
        "commit log's op/parent/superseded lineage columns (r15 "
        "verdict item 6: dead branches and restore-bypassed versions "
        "are observable); the oracle replays the six version states "
        "as CTEs and the linear lineage as literals. Scale: the "
        "detection scan reads predicate columns only; touched-file "
        "rewrite bytes are O(matched files); snapshot reads stay "
        "plain distributed parquet scans",
    tags=("native", "sql", "dml", "orders"),
)
def q112_time_travel_selective_dml(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from functools import reduce

    from .. import timetravel as tt
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tbl, side = "bp_tts_orders", "bp_tts_side"
    for t in (tbl, side):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        tt.remove_history(spark, t)  # re-entrant builds
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 3 = 0",
    )
    tt.enable_history(spark, tbl)  # v0
    execute_sql(
        spark,
        f"INSERT INTO {tbl} SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 3 = 1",
    )  # v1: append — second file set
    execute_sql(
        spark,
        f"INSERT INTO {tbl} SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 3 = 2",
    )  # v2: append — third file set
    execute_sql(
        spark, f"DELETE FROM {tbl} WHERE o_orderkey % 10 = 7"
    )  # v3: selective
    execute_sql(
        spark,
        f"UPDATE {tbl} SET o_totalprice = o_totalprice * 2 "
        "WHERE o_orderkey % 10 = 4",
    )  # v4: selective
    execute_sql(
        spark,
        f"CREATE TABLE {side} AS "
        "SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice "
        "FROM orders WHERE o_orderkey % 10 = 1 "
        "UNION ALL "
        "SELECT o_orderkey + 50000000, 99.5 FROM orders "
        "WHERE o_orderkey % 100 = 0",
    )
    execute_sql(
        spark,
        f"MERGE INTO {tbl} USING {side} AS d "
        f"ON {tbl}.o_orderkey = d.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_orderkey = d.o_orderkey, "
        "o_totalprice = d.o_totalprice "
        "WHEN NOT MATCHED THEN INSERT VALUES "
        "(d.o_orderkey, d.o_totalprice)",
    )  # v5: selective merge
    lineage = {
        r["version"]: r for r in tt.history(spark, tbl).collect()
    }  # commit log: metadata-sized collect (one row per version)

    def snap(v: int) -> DataFrame:
        e = lineage[v]
        return (
            tt.table_at(spark, tbl, version=v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                # decimal-cast the float sum (catalog convention)
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                F.lit(e["op"]).alias("op"),
                F.lit(e["parent"]).cast("int").alias("parent"),
                F.lit(e["superseded"]).alias("superseded"),
                "n_rows",
                "total_price",
            )
        )

    return reduce(DataFrame.unionAll, [snap(v) for v in range(6)]).orderBy(
        "version"
    )


@query(
    "q113_merge_partial_update",
    oracle="""
    WITH merged AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS p
        FROM orders
        UNION ALL
        SELECT 'Z', 77.5 FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="MERGE with PARTIAL, expression-valued UPDATE arms (functions/"
        "dml_statements.py + dml.merge_into update_exprs, r16 — "
        "Redshift's documented SET form, previously a named refusal "
        "that demanded wholesale source assignment): the UPDATE arm "
        "assigns only o_totalprice, as an expression mixing TARGET "
        "and SOURCE columns (tbl.o_totalprice + d.o_totalprice); "
        "unassigned columns (o_orderstatus) KEEP their target values "
        "on matched rows — certified because the source carries a "
        "poisoned status 'X' that must NOT surface — while the "
        "insert arm still takes the source row wholesale ('Z' rows). "
        "Expressions requalify outside string literals "
        "(alias.col -> _src_col source-side, target alias stripped); "
        "join-key assignments beyond the no-op self-assignment "
        "refuse by name. Wholesale statements keep the exact prior "
        "plan (update_exprs=None). Plan: the same ONE full-outer "
        "hash join + observe counters; on history tables the same "
        "file-pruned selective commit",
    tags=("native", "sql", "dml", "orders"),
)
def q113_merge_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tbl, side = "bp_mpu_orders", "bp_mpu_side"
    for t in (tbl, side):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_orderstatus, "
        "o_totalprice FROM orders",
    )
    execute_sql(
        spark,
        f"CREATE TABLE {side} AS "
        "SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey % 3 = 0 "
        "UNION ALL "
        "SELECT o_orderkey + 60000000, 'Z', 77.5 FROM orders "
        "WHERE o_orderkey % 50 = 0",
    )
    execute_sql(
        spark,
        f"MERGE INTO {tbl} USING {side} AS d "
        f"ON {tbl}.o_orderkey = d.o_orderkey "
        f"WHEN MATCHED THEN UPDATE SET o_totalprice = "
        f"{tbl}.o_totalprice + d.o_totalprice "
        "WHEN NOT MATCHED THEN INSERT VALUES "
        "(d.o_orderkey, d.o_orderstatus, d.o_totalprice)",
    )
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q114_merge_insert_expressions",
    oracle="""
    WITH merged AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS p
        FROM orders
        WHERE NOT (o_orderkey % 21 = 0)
        UNION ALL
        SELECT 'ZZ', 22.5 FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="MERGE with EXPRESSION-VALUED INSERT arms over a NARROW CDC "
        "source (functions/dml_statements.py + dml.merge_into "
        "insert_exprs, r16 — the q113 partial-SET machinery "
        "generalized to the insert side, completing Redshift's MERGE "
        "statement surface): the source carries a DIFFERENT schema "
        "than the target (key + delta + note + op flag — the change-"
        "record shape), which the wholesale lowering could never "
        "accept; the delete arm consumes the op flag (matched 'D' "
        "rows leave), the UPDATE arm is a partial target+source "
        "expression, and the INSERT arm's VALUES are arbitrary "
        "expressions (upper(c.note), c.delta * 2) with the column "
        "list naming target columns. Unlisted INSERT columns take "
        "NULL; target references in VALUES refuse by name (every "
        "target column is NULL on an insert row); join keys ride the "
        "USING join. Plan: identical to wholesale MERGE — ONE "
        "full-outer hash join on the key, counters via observe, "
        "expression projection inside the same codegen stage; on "
        "history tables the same file-pruned selective commit. The "
        "oracle replays delete/update/insert arithmetic over orders",
    tags=("native", "sql", "dml", "orders"),
)
def q114_merge_insert_expressions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tbl, side = "bp_mie_orders", "bp_mie_side"
    for t in (tbl, side):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_orderstatus, "
        "o_totalprice FROM orders",
    )
    execute_sql(
        spark,
        f"CREATE TABLE {side} AS "
        "SELECT o_orderkey, o_totalprice AS delta, 'up' AS note, "
        "CASE WHEN o_orderkey % 21 = 0 THEN 'D' ELSE 'U' END AS op "
        "FROM orders WHERE o_orderkey % 3 = 0 "
        "UNION ALL "
        "SELECT o_orderkey + 60000000, 11.25, 'zz', 'I' FROM orders "
        "WHERE o_orderkey % 50 = 0",
    )
    execute_sql(
        spark,
        f"MERGE INTO {tbl} USING {side} AS c "
        f"ON {tbl}.o_orderkey = c.o_orderkey "
        "WHEN MATCHED AND c.op = 'D' THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET o_totalprice = "
        f"{tbl}.o_totalprice + c.delta "
        "WHEN NOT MATCHED THEN INSERT "
        "(o_orderkey, o_orderstatus, o_totalprice) "
        "VALUES (c.o_orderkey, upper(c.note), c.delta * 2)",
    )
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q115_delete_using",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM customer c
        WHERE c.c_custkey = o.o_custkey
          AND c.c_mktsegment = 'BUILDING'
          AND c.c_acctbal < 0
    )
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="DELETE ... USING — Redshift's join-delete statement "
        "(functions/dml_statements.py + dml.delete_using, r16; "
        "previously a named refusal that told users to rewrite their "
        "SQL): target rows matching ANY source row under the WHERE "
        "condition are removed — here orders of BUILDING-segment "
        "customers with negative account balance, driven by a "
        "customer-derived deletion table. Aliases requalify outside "
        "string literals (u.col -> _src_col, target refs bare); "
        "conditions are arbitrary (equi-conjuncts become the hash "
        "join, the rest residual — a pure theta condition also "
        "lowers). Plan: ONE left-anti join + the rewrite; both "
        "counters ride the same job via two observe nodes (target "
        "scan + kept side), no second scan. The oracle replays as "
        "NOT EXISTS. At 100 TB the deletion driver is the small "
        "broadcast side and the fact table scans once",
    tags=("native", "sql", "dml", "orders"),
)
def q115_delete_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders", "customer")
    tbl, side = "bp_du_orders", "bp_du_side"
    for t in (tbl, side):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_custkey, "
        "o_orderstatus, o_totalprice FROM orders",
    )
    execute_sql(
        spark,
        f"CREATE TABLE {side} AS SELECT c_custkey, c_acctbal "
        "FROM customer WHERE c_mktsegment = 'BUILDING'",
    )
    execute_sql(
        spark,
        f"DELETE FROM {tbl} USING {side} AS u "
        f"WHERE {tbl}.o_custkey = u.c_custkey AND u.c_acctbal < 0",
    )
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q116_update_from",
    oracle="""
    WITH upd AS (
        SELECT o.o_orderstatus,
               o.o_totalprice + COALESCE(
                   (SELECT CASE WHEN c.c_mktsegment = 'MACHINERY'
                                THEN c.c_acctbal END
                    FROM customer c WHERE c.c_custkey = o.o_custkey),
                   0) AS p
        FROM orders o
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM upd GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="UPDATE ... FROM — Redshift's joined update statement "
        "(functions/dml_statements.py + dml.update_from, r16; "
        "previously a named refusal): matched target rows evaluate "
        "SET expressions over the joined row (target columns bare, "
        "source columns qualified), the WHERE clause's same-named "
        "key equalities become the join and every other predicate "
        "rides as an extra match condition (here the MACHINERY "
        "segment filter), unmatched rows pass through. A source with "
        "DUPLICATE join keys REFUSES by name — Redshift silently "
        "picks an arbitrary matching row there; this engine makes "
        "the nondeterminism an error (one count-aggregate probe). "
        "FROM inside a SET-expression call (extract(day FROM ts)) "
        "still parses as plain UPDATE — the splitter is paren- and "
        "quote-aware. Plan: ONE left hash join on the key + the "
        "rewrite, counter via observe; history tables take the "
        "merge-style file-pruned selective commit. Oracle replays as "
        "a correlated scalar lookup",
    tags=("native", "sql", "dml", "orders"),
)
def q116_update_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders", "customer")
    tbl, side = "bp_uf_orders", "bp_uf_side"
    for t in (tbl, side):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_custkey, "
        "o_orderstatus, o_totalprice FROM orders",
    )
    execute_sql(
        spark,
        f"CREATE TABLE {side} AS SELECT c_custkey, c_acctbal, "
        "c_mktsegment FROM customer",
    )
    execute_sql(
        spark,
        f"UPDATE {tbl} SET o_totalprice = {tbl}.o_totalprice "
        f"+ u.c_acctbal FROM {side} AS u "
        f"WHERE {tbl}.o_custkey = u.c_custkey "
        "AND u.c_mktsegment = 'MACHINERY'",
    )
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q117_time_travel_sql_face",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 3 = 0
    ),
    ins AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 3 = 1
    ),
    v1 AS (SELECT * FROM base UNION ALL SELECT * FROM ins),
    v2 AS (SELECT * FROM v1 WHERE NOT (o_orderkey % 10 = 4)),
    snaps AS (
        SELECT 0 AS v, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM base
        UNION ALL
        SELECT 1, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM v1
        UNION ALL
        SELECT 2, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM v2
        UNION ALL
        SELECT 3, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM v2
    )
    SELECT CAST(v AS INTEGER) AS version,
           CAST(n_rows AS BIGINT) AS n_rows, total_price
    FROM snaps ORDER BY version
    """,
    doc="time-travel SQL face (timetravel.resolve_time_travel + "
        "sqlrun wiring, r16 — the r16-candidates note's 'expose "
        "table_at through SQL once a dialect precedent exists'; the "
        "precedent is Spark's OWN ``VERSION AS OF`` / ``TIMESTAMP AS "
        "OF`` syntax for Delta/Iceberg tables, plus the SQL-2011 "
        "``FOR SYSTEM_VERSION/SYSTEM_TIME AS OF`` spellings, all "
        "accepted here): the statement dispatcher resolves each "
        "``t VERSION AS OF n`` / ``t TIMESTAMP AS OF ts`` span "
        "(outside string literals — a quoted mention never rewrites) "
        "onto a table_at manifest-snapshot temp view before "
        "spark.sql, so SELECT / CTAS / INSERT..SELECT / DML "
        "subqueries and joins MIXING versions with the live table "
        "all read pinned snapshots; procedure bodies resolve at CALL "
        "time, not CREATE (pinning at CREATE would freeze the "
        "snapshot years early). Timestamps take a unix epoch or a "
        "quoted ISO datetime (naive = UTC, the log's committed_at "
        "convention); a non-history table raises table_at's error "
        "loudly instead of silently reading live data. The entry "
        "drives the face end-to-end through execute_sql: enable(v0) "
        "-> INSERT INTO (v1, O(new-files) append commit) -> SQL "
        "DELETE (v2, file-pruned commit) -> ONE CTAS whose branches "
        "read VERSION AS OF 0, FOR SYSTEM_VERSION AS OF 1, the live "
        "table, and a far-future TIMESTAMP AS OF. Scale: resolution "
        "is a driver-side string rewrite + one temp-view "
        "registration per clause; every snapshot read stays a plain "
        "distributed parquet manifest scan with pushdown intact",
    tags=("native", "sql", "dml", "orders"),
)
def q117_time_travel_sql_face(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import timetravel as tt
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tbl, out = "bp_ttsql_orders", "bp_ttsql_out"
    for t in (tbl, out):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        tt.remove_history(spark, t)
        _clean_stale_location(spark, t, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 3 = 0",
    )
    tt.enable_history(spark, tbl)  # v0
    execute_sql(
        spark,
        f"INSERT INTO {tbl} SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 3 = 1",
    )  # v1: append commit
    execute_sql(spark, f"DELETE FROM {tbl} WHERE o_orderkey % 10 = 4")  # v2
    agg = (
        "COUNT(*) AS n_rows, CAST(SUM(CAST(o_totalprice AS "
        "DECIMAL(18,2))) AS DOUBLE) AS total_price"
    )
    execute_sql(
        spark,
        f"CREATE TABLE {out} AS "
        f"SELECT 0 AS version, {agg} FROM {tbl} VERSION AS OF 0 "
        f"UNION ALL SELECT 1, {agg} FROM {tbl} FOR SYSTEM_VERSION AS OF 1 "
        f"UNION ALL SELECT 2, {agg} FROM {tbl} "
        f"UNION ALL SELECT 3, {agg} FROM {tbl} TIMESTAMP AS OF "
        "'9999-12-31 23:59:59'",
    )
    return (
        spark.table(out)
        .select(
            F.col("version").cast("int").alias("version"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("total_price"),
        )
        .orderBy("version")
    )


@query(
    "q108_procedure_refcursor",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    WHERE o_orderstatus = 'O'
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="procedures returning RESULT SETS via refcursor (functions/"
        "procedures.py, r14): Redshift's documented idiom — an INOUT "
        "refcursor argument carries the portal NAME, OPEN rs FOR "
        "<query> registers that name as a session cursor, and the "
        "cursor deliberately OUTLIVES the CALL so the caller runs "
        "CALL get_rs(..., 'mycur'); FETCH ALL FROM mycur;. The entry "
        "calls such a procedure (the query parameterized by the IN "
        "argument, bound at OPEN) and fetches the first page from the "
        "portal via the same q85 registry machinery (materialize-once "
        "paging: the snapshot is distributed parquet, pages are "
        "rank-range scans, nothing driver-resident). Oracle = the "
        "equivalent ORDER BY ... LIMIT page. Scale: the OPEN is "
        "metadata (SQL registration); the single materialization at "
        "first FETCH is one distributed write",
    tags=("native", "sql", "dialect", "orders"),
)
def q108_procedure_refcursor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.prepared import close_cursor, fetch_cursor
    from ..functions.procedures import call_procedure_returning
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    try:
        close_cursor(spark, "q108_cur")  # re-entrant builds
    except ValueError:
        pass
    execute_sql(spark, "DROP PROCEDURE IF EXISTS bp_q108_get_rs")
    execute_sql(
        spark,
        """
        CREATE OR REPLACE PROCEDURE bp_q108_get_rs(
            p_status IN varchar(1), rs INOUT refcursor) AS $$
        BEGIN
          OPEN rs FOR SELECT o_orderkey,
                             CAST(o_totalprice AS DOUBLE) AS price
                      FROM orders WHERE o_orderstatus = p_status
                      ORDER BY o_totalprice DESC, o_orderkey;
        END;
        $$ LANGUAGE plpgsql
        """,
    )
    call_procedure_returning(
        spark, "bp_q108_get_rs", ["'O'", "'q108_cur'"]
    )
    try:
        return fetch_cursor(spark, "q108_cur", 10)
    finally:
        close_cursor(spark, "q108_cur")


@query(
    "q109_time_travel",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    v1 AS (SELECT * FROM base WHERE NOT (o_orderkey % 7 = 0)),
    v2 AS (SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                       ELSE o_totalprice END AS o_totalprice
           FROM v1),
    snaps AS (
        SELECT 0 AS v, COUNT(*) AS n_rows,
               CAST(SUM(o_totalprice) AS DOUBLE) AS total_price FROM base
        UNION ALL
        SELECT 1, COUNT(*), CAST(SUM(o_totalprice) AS DOUBLE) FROM v1
        UNION ALL
        SELECT 2, COUNT(*), CAST(SUM(o_totalprice) AS DOUBLE) FROM v2
        UNION ALL
        SELECT 3, COUNT(*), CAST(SUM(o_totalprice) AS DOUBLE) FROM v1
    )
    SELECT CAST(v AS INTEGER) AS version,
           CAST(n_rows AS BIGINT) AS n_rows, total_price
    FROM snaps ORDER BY version
    """,
    doc="snapshot history + TIME TRAVEL over plain parquet "
        "(timetravel.py, r14; r15 moved the log to MANIFEST-OF-FILES "
        "entries — closes the 'time travel needs Delta/Iceberg' "
        "residue tracked since r10): enable_history converts a table "
        "to immutable data files + a JSON commit log whose entries "
        "are file manifests; every copy-on-write DML rewrite (dml.py "
        "_rewrite) and transaction COMMIT publishes a FRESH version "
        "(log append THEN catalog pointer swap via ALTER TABLE SET "
        "LOCATION — metadata-only, atomic, zero write amplification "
        "vs the non-history staging rewrite), while INSERT INTO / "
        "COPY / ALTER TABLE APPEND publish APPEND commits that write "
        "only the new rows' files and carry the previous manifest by "
        "hard link — O(batch), not O(table). The entry runs CREATE -> "
        "enable(v0) -> SQL DELETE(v1) -> SQL UPDATE(v2) -> "
        "restore_table(v1)=v3 (a Delta-RESTORE-style metadata-only "
        "commit), then aggregates EVERY version via table_at(); the "
        "oracle replays the version states as CTEs. Scale: each "
        "snapshot read is a plain distributed parquet scan with "
        "pushdown intact; vacuum_history bounds retention with "
        "location refcounting so restores never dangle",
    tags=("native", "sql", "dml", "orders"),
)
def q109_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from .. import timetravel as tt
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    views(spark, sf_dir, "orders")
    tbl = "bp_tt_orders"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    tt.remove_history(spark, tbl)  # re-entrant builds
    _clean_stale_location(spark, tbl, None)
    execute_sql(
        spark,
        f"CREATE TABLE {tbl} AS SELECT o_orderkey, o_orderstatus, "
        "o_totalprice FROM orders",
    )
    tt.enable_history(spark, tbl)
    execute_sql(spark, f"DELETE FROM {tbl} WHERE o_orderkey % 7 = 0")
    execute_sql(
        spark,
        f"UPDATE {tbl} SET o_totalprice = o_totalprice * 2 "
        "WHERE o_orderkey % 5 = 0",
    )
    tt.restore_table(spark, tbl, 1)

    def snap(v: int) -> DataFrame:
        return (
            tt.table_at(spark, tbl, version=v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_totalprice").cast("double").alias("total_price"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                "total_price",
            )
        )

    return reduce(DataFrame.unionAll, [snap(v) for v in range(4)]).orderBy(
        "version"
    )


@query(
    "q110_approximate_percentile",
    oracle="""
    SELECT o_orderpriority,
           CAST(percentile_disc(0.25)
                WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p25,
           CAST(percentile_disc(0.5)
                WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p50,
           CAST(percentile_disc(0.9)
                WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Redshift's APPROXIMATE PERCENTILE_DISC(f) WITHIN GROUP "
        "spelling (functions/redshift_compat.py, r14 — the dialect's "
        "other APPROXIMATE form next to APPROXIMATE COUNT(DISTINCT)): "
        "lowered onto Spark's EXACT percentile_disc ordered-set "
        "aggregate — APPROXIMATE is an allowance, not a requirement, "
        "so the exact aggregate is conforming AND hash-checkable "
        "(unlike the HLL count path, which stays rows-only via "
        "q12/q11). Scale: percentile_disc per group is Spark's "
        "built-in ordered-set aggregate over the group's sorted "
        "values; for the sketch-sized alternative at extreme "
        "cardinality the approx_percentile GK path exists in the "
        "same dialect shim",
    tags=("native", "sql", "dialect", "orders"),
)
def q110_approximate_percentile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    views(spark, sf_dir, "orders")
    translated = translate_redshift_sql(
        """
        SELECT o_orderpriority,
               APPROXIMATE PERCENTILE_DISC(0.25)
                   WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               APPROXIMATE PERCENTILE_DISC(0.5)
                   WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               APPROXIMATE PERCENTILE_DISC(0.9)
                   WITHIN GROUP (ORDER BY o_totalprice) AS p90
        FROM orders GROUP BY o_orderpriority
        """
    )
    df = spark.sql(translated)
    return df.select(
        "o_orderpriority",
        F.col("p25").cast("double").alias("p25"),
        F.col("p50").cast("double").alias("p50"),
        F.col("p90").cast("double").alias("p90"),
    )


@query(
    "c212_winnowing_similarity",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS st
        FROM documents
    ),
    b AS (
        SELECT doc_id, st, length(st) - 7 AS n
        FROM s WHERE length(st) >= 11
    ),
    gp AS (
        SELECT doc_id, n, st,
               CAST(unnest(range(1, n + 1)) AS INTEGER) AS p
        FROM b
    ),
    g AS (
        SELECT doc_id, n, p,
               CAST('0x' || substring(md5(substr(st, p, 8)), 1, 8)
                 AS BIGINT) * 1073741824
                 + (1073741823 - p) AS key
        FROM gp
    ),
    sel AS (
        SELECT doc_id, n, p,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN CURRENT ROW
                              AND 3 FOLLOWING) AS sk
        FROM g
    ),
    fps AS (
        SELECT DISTINCT doc_id, sk >> 30 AS fp
        FROM sel WHERE p <= n - 3
    ),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50),
    fr AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS t
            FROM fps GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT sh.doc_a, sh.doc_b, sh.n_shared,
           CAST(sh.n_shared AS DOUBLE) * 100.0
             / CAST(LEAST(ta.t, tb.t) AS DOUBLE) AS overlap_pct
    FROM shared sh
    JOIN tot ta ON sh.doc_a = ta.doc_id
    JOIN tot tb ON sh.doc_b = tb.doc_id
    WHERE sh.n_shared >= 15
    """,
    doc="winnowing fingerprint similarity (operators/text."
        "winnow_fingerprints, r14 — Schleimer/Wilkerson/Aiken "
        "SIGMOD'03, the MOSS scheme): hash every character 8-gram, "
        "window-of-4 minimum selection with the rightmost tie-break "
        "packed into ONE int64 window-min key (hash*2^30 + (2^30-1-"
        "pos)) so selection is a single bounded JVM window expression "
        "— guarantees a shared fingerprint for any match >= k+w-1 "
        "chars at ~2/(w+1) density; the local complement of c11's "
        "whole-document fingerprint (one edit no longer flips the "
        "signature). Pairs form by fingerprint-bucket self-join with "
        "a document-frequency cap (df <= 50 drops boilerplate grams "
        "— the c87-style skew guard), never all-pairs; overlap_pct "
        "normalizes by the smaller document's UNCAPPED fingerprint "
        "count. The md5 hash is portable, so the DuckDB oracle "
        "replays the selection bit-for-bit. 100 TB: one shuffle by "
        "doc for the window, fp-bucketed join bounded by cap^2 per "
        "bucket",
    tags=("text", "dedup", "documents"),
)
def c212_winnowing_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..operators.text import winnow_fingerprints

    d = views(spark, sf_dir, "documents")["documents"]
    # the winnowing subtree feeds FIVE consumers (cap counts, both
    # pair-join sides, both totals) — persist it once or the explode+
    # window pipeline (the dominant cost) re-runs per consumer
    fps = pin(
        winnow_fingerprints(d, "doc_id", "text", k=8, w=4)
        .select("doc_id", "fp")
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= 50)
        .select("fp")
    )
    fr = fps.join(rare, "fp")
    tot = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("t"))
    a = fr.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fr.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 15)
    )
    ta = tot.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("_ta"))
    tb = tot.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("_tb"))
    return (
        shared.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                * F.lit(100.0)
                / F.least("_ta", "_tb").cast("double")
            ).alias("overlap_pct"),
        )
    )


@query(
    "c205_knn_label_agreement",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {_DUCK_QUANT} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, qv,
               CAST({_DUCK_DOT.format(a='qv', b='qv')} AS BIGINT) AS norm
        FROM v
    ),
    te AS (SELECT * FROM n WHERE vec_id % 10 = 0),
    tr AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
    scored AS (
        SELECT q.vec_id AS query_id, q.label, c.label AS nb_label,
               c.vec_id AS neighbor_id,
               CAST({_DUCK_DOT.format(a='q.qv', b='c.qv')} AS DOUBLE)
                 / (sqrt(CAST(q.norm AS DOUBLE))
                    * sqrt(CAST(c.norm AS DOUBLE))) AS cosine
        FROM te q CROSS JOIN tr c
    ),
    nb AS (
        SELECT query_id, label, nb_label FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
            ) AS rank
            FROM scored
        ) WHERE rank <= 5
    )
    SELECT query_id AS vec_id, CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS k_found,
           CAST(SUM(CASE WHEN nb_label = label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_same,
           CAST(SUM(CASE WHEN nb_label = label THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS agree_micro
    FROM nb GROUP BY 1, 2
    """,
    doc="label-noise audit by neighborhood agreement (operators/ml."
        "knn_label_agreement): for each audited vector (vec_id%10=0), "
        "the fraction of its 5 cosine-nearest reference neighbors "
        "sharing its label — the confident-learning-style mislabel "
        "screen a labeled corpus needs before training (low agreement "
        "= candidate mislabel; the QA sibling of c144's label-"
        "transfer vote, same candidate stage, ANN-swappable at "
        "100 TB). Quantized-integer dots make the neighbor ordering "
        "engine-exact; agreement is one BIGINT division. The "
        "agreement table is queries-sized — the corpus moves only "
        "through the ANN stage",
    tags=("ml", "similarity", "embeddings"),
)
def c205_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import knn_label_agreement

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    out = knn_label_agreement(e, F.col("vec_id") % 10 == 0, k=5)
    return out.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        "k_found",
        "n_same",
        "agree_micro",
    ).orderBy("vec_id")


@query(
    "c204_fisher_scores",
    oracle="""
    WITH e AS (
        SELECT label AS lbl,
               unnest(generate_series(0, len(embedding) - 1)) AS dim,
               unnest(list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
                   AS q
        FROM embeddings
    ),
    per_label AS (
        SELECT lbl, dim, CAST(COUNT(*) AS BIGINT) AS n_l,
               CAST(SUM(q) AS BIGINT) AS s_l,
               CAST(SUM(q * q) AS BIGINT) AS ss_l
        FROM e GROUP BY 1, 2
    ),
    per_dim AS (
        SELECT dim, CAST(SUM(n_l) AS BIGINT) AS n,
               CAST(SUM(s_l) AS BIGINT) AS s,
               CAST(SUM(ss_l) AS BIGINT) AS ss,
               CAST(SUM(s_l * s_l // n_l) AS BIGINT) AS t
        FROM per_label GROUP BY 1
    )
    SELECT CAST(dim AS BIGINT) AS dim, n,
           CAST(t - s * s // n AS BIGINT) AS between_q,
           CAST(ss - t AS BIGINT) AS within_q,
           CASE WHEN ss - t > 0 THEN
               CAST((t - s * s // n) * 1000000 // (ss - t) AS BIGINT)
           END AS fisher_micro
    FROM per_dim ORDER BY dim
    """,
    doc="Fisher discriminant score per embedding dimension (operators/"
        "ml.fisher_scores): between-class over within-class scatter "
        "from exact integer sufficient stats on milli-quantized "
        "coordinates — which coordinates separate the labels, the "
        "embedding-space sibling of c172's mutual information. The "
        "per-label DIV floors ARE the contract (engine-replayable); "
        "overflow bound n_l*|mean q| < 3e9 documented (~1e7 rows per "
        "label at milli quantization — quantize coarser and shard "
        "beyond). ONE aggregate over the posexploded stream with "
        "map-side partials bounding the shuffle by labels x dims, "
        "then a labels*dims -> dims fold; nothing collected",
    bench=True,
    tags=("ml", "similarity", "embeddings"),
)
def c204_fisher_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import fisher_scores

    e = views(spark, sf_dir, "embeddings")["embeddings"]
    return fisher_scores(e, "label", "embedding", quant=1000)


@query(
    "c203_markov_holdout_accuracy",
    oracle="""
    WITH tr AS (
        SELECT event_type AS prev_state,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_state
        FROM events WHERE ts < TIMESTAMP '2024-01-16'
    ),
    te AS (
        SELECT event_type AS prev_state,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_state
        FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    ),
    c AS (
        SELECT prev_state, next_state, CAST(COUNT(*) AS BIGINT) AS n
        FROM tr WHERE next_state IS NOT NULL GROUP BY 1, 2
    ),
    model AS (
        SELECT prev_state, next_state AS predicted FROM (
            SELECT prev_state, next_state, row_number() OVER (
                PARTITION BY prev_state
                ORDER BY n DESC, next_state ASC) AS rn
            FROM c
        ) WHERE rn = 1
    )
    SELECT t.prev_state,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.next_state = m.predicted
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN t.next_state = m.predicted
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
               AS BIGINT) AS acc_micro
    FROM te t LEFT JOIN model m USING (prev_state)
    WHERE t.next_state IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
    doc="out-of-sample Markov top-1 accuracy (operators/sessions."
        "markov_holdout_accuracy): train c118's transition model on "
        "pre-cutoff events, predict each post-cutoff transition with "
        "the modal next state (ties -> smallest), report per-prev-"
        "state accuracy — 'is the behavioral model actually "
        "predictive'. Split rule stated: halves split FIRST, pairs "
        "form within each half (boundary pairs belong to neither — "
        "no leakage through a shared pair); unseen prev states score "
        "honest zeros. Two sessionization exchanges, a states^2 "
        "model aggregate with a min-struct argmax, the model "
        "BROADCAST over test pairs, ONE aggregate to |states| rows; "
        "accuracy is exact integer micro-units",
    tags=("events", "sessionization", "ml"),
)
def c203_markov_holdout_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.sessions import markov_holdout_accuracy

    e = views(spark, sf_dir, "events")["events"]
    return markov_holdout_accuracy(
        e, "user_id", "ts", "event_id", "event_type",
        F.lit("2024-01-16").cast("timestamp"),
    ).orderBy("prev_state")


@query(
    "a12_stl_load_errors",
    oracle="""
    SELECT * FROM (VALUES
        ('7,gamma,not_a_number',
         'row did not conform to the declared parse contract'),
        ('9,delta,oops',
         'row did not conform to the declared parse contract')
    ) AS t(raw_line, err_reason)
    ORDER BY raw_line
    """,
    doc="stl_load_errors — the table every Redshift operator queries "
        "after a COPY with errors (functions/system_tables."
        "record_load_errors): a MAXERROR-tolerant load records the "
        "raw lines it dropped (bounded by MAXERROR — the same gate "
        "that made the driver-side capture legal), and the view "
        "registers on demand like svl_qlog. Honest subset: Spark's "
        "corrupt-record capture carries no line numbers or column "
        "attribution, so those Redshift columns are absent rather "
        "than faked. The entry loads a 6-row fixture with two "
        "type-broken rows under MAXERROR 3 and reads its own error "
        "slice back",
    tags=("native", "ingest", "system"),
)
def a12_stl_load_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..functions.system_tables import (
        register_load_error_view,
        reset_load_errors,
    )
    from ..ingest import _clean_stale_location
    from ..sqlrun import execute_sql

    tmp = tempfile.mkdtemp(prefix="bp_stl_err_")
    path = os.path.join(tmp, "dirty.csv")
    with open(path, "w") as fh:
        fh.write(
            "k,name,bal\n"
            "1,alpha,10.5\n"
            "7,gamma,not_a_number\n"
            "2,beta,20.25\n"
            "9,delta,oops\n"
            "3,epsilon,30.75\n"
            "4,zeta,40.0\n"
        )
    tbl = "bp_stl_err_t"
    _clean_stale_location(spark, tbl, None)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} (k BIGINT, name STRING, bal DOUBLE) "
        "USING parquet"
    )
    reset_load_errors(spark, tbl)  # idempotent under bench replays
    execute_sql(
        spark, f"COPY {tbl} FROM '{path}' CSV IGNOREHEADER 1 MAXERROR 3"
    )
    assert spark.table(tbl).count() == 4
    register_load_error_view(spark)
    return spark.sql(
        f"""
        SELECT raw_line, err_reason FROM stl_load_errors
        WHERE tbl = '{tbl}'
        ORDER BY raw_line
        """
    )


@query(
    "c202_dedup_span_removal",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks
        FROM documents
    ),
    gpos AS (
        SELECT doc_id, i - 1 AS s, i + 6 AS e,
               array_to_string(toks[i:i+7], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(CASE WHEN len(toks) >= 8
                          THEN generate_series(1, len(toks) - 7)
                          ELSE [] END) AS i
            FROM t
        )
    ),
    counts AS (SELECT gram, count(*) AS n FROM gpos GROUP BY 1),
    marked AS (
        SELECT g.doc_id, g.s, g.e
        FROM gpos g JOIN counts c USING (gram) WHERE c.n > 1
    ),
    isl AS (
        SELECT *, SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM (
            SELECT *, CASE WHEN s > coalesce(MAX(e) OVER (
                               PARTITION BY doc_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING
                           ), -1) THEN 1 ELSE 0 END AS new_island
            FROM marked
        )
    ),
    merged AS (
        SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
        FROM isl GROUP BY 1, 2
    ),
    removed AS (
        SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM merged
    ),
    words AS (
        SELECT doc_id,
               unnest(generate_series(0, len(toks) - 1)) AS pos,
               unnest(toks) AS word
        FROM t WHERE len(toks) > 0
    ),
    kept AS (
        SELECT w.doc_id, w.pos, w.word
        FROM words w LEFT JOIN removed r
          ON r.doc_id = w.doc_id AND r.pos = w.pos
        WHERE r.pos IS NULL
    ),
    rebuilt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(word, ' ' ORDER BY pos) AS cleaned_text
        FROM kept GROUP BY 1
    )
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT)
               AS n_removed,
           coalesce(r.cleaned_text, '') AS cleaned_text
    FROM t LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="duplicated-span REMOVAL — the rewrite sibling of c73's "
        "coverage scorer (operators/text.dedup_span_removal; Lee et "
        "al. 2022: cutting repeated substrings, not just flagging "
        "them, is what improves the trained model): every token "
        "covered by an 8-token window occurring more than once "
        "corpus-wide is cut and the survivors re-join in order. Same "
        "shapes as c73 through the merged-interval islands; the "
        "removed set explodes the DISJOINT islands (= covered tokens "
        "exactly, never the gram_len-x overlap blowup), an anti-join "
        "keeps survivors, reconstruction is one per-document "
        "sort_array(collect_list) bounded by the document itself. "
        "Fully-removed documents come back empty, not missing",
    bench=True,
    tags=("text", "dedup", "documents"),
)
def c202_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import dedup_span_removal

    d = views(spark, sf_dir, "documents")["documents"]
    return dedup_span_removal(d, "doc_id", "text", gram_len=8)


@query(
    "c201_trimmed_mean",
    oracle="""
    WITH base AS (
        SELECT event_type AS grp,
               CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v
        FROM events
    ),
    pv AS (
        SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT grp, v, n,
               CAST(SUM(n) OVER (
                   PARTITION BY grp ORDER BY v) AS BIGINT) AS n_cum,
               CAST(SUM(n) OVER (PARTITION BY grp) AS BIGINT) AS n_tot
        FROM pv
    ),
    k AS (
        SELECT grp, n_tot,
               CAST(n_tot * 50 // 1000 AS BIGINT) AS lo,
               n_tot - CAST(n_tot * 50 // 1000 AS BIGINT) AS hi,
               v,
               GREATEST(CAST(0 AS BIGINT),
                   LEAST(n_cum, n_tot - CAST(n_tot * 50 // 1000
                                             AS BIGINT))
                   - GREATEST(n_cum - n,
                              CAST(n_tot * 50 // 1000 AS BIGINT)))
                   AS kept_n
        FROM cum
    )
    SELECT grp, MIN(n_tot) AS n, MIN(lo) AS lo_cut, MIN(hi) AS hi_cut,
           CASE WHEN SUM(kept_n) > 0 THEN
               CAST(SUM(v * kept_n) * 1000000 // SUM(kept_n) AS BIGINT)
           END AS mean_micro
    FROM k GROUP BY 1 ORDER BY 1
    """,
    doc="exact per-group 5%-trimmed mean (operators/ml.trimmed_mean): "
        "drop the lowest and highest 5% of rows by COUNT and average "
        "the rest — the robust aggregate between mean and median for "
        "latency/revenue metrics. Exact under ties: a value's kept "
        "multiplicity is the overlap of its rank interval "
        "(cum_n-n, cum_n] with the kept band (lo, hi]. ONE hash "
        "aggregate to the distinct (group, cents) table, prefix "
        "counts via sampling.grouped_cumsum (range-partition + "
        "broadcast span offsets — a continuous metric's value table "
        "is corpus-sized and one group may hold everything), ONE "
        "aggregate back to group cardinality; all BIGINT",
    bench=True,
    tags=("ml", "events"),
)
def c201_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import trimmed_mean

    e = views(spark, sf_dir, "events")["events"]
    base = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value").cast("double") * 100)
        .cast("long")
        .alias("cents"),
    )
    return trimmed_mean(base, "g", "cents", trim_milli=50).orderBy("grp")


@query(
    "c200_mase_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type AS k,
               CAST(date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    j AS (
        SELECT a.k, ABS(a.v - b.v) AS ae
        FROM daily a JOIN daily b
          ON a.k = b.k AND b.t = a.t - 7
    )
    SELECT k AS key, CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(ae) AS BIGINT) AS sae,
           CAST(SUM(ae) * 1000000 // COUNT(*) AS BIGINT)
               AS mean_ae_micro
    FROM j GROUP BY 1 ORDER BY 1
    """,
    doc="seasonal-naive MASE backtest (operators/timeseries."
        "mase_backtest; Hyndman-Koehler 2006): per event-type daily "
        "series, the absolute error of forecasting each day with the "
        "same weekday one week back — the scale every candidate "
        "forecaster must beat (its MASE = cand_sae*1e6 DIV this sae), "
        "the sanity bar before Holt (c139) or the dow profile "
        "(c152). All BIGINT; missing-lag days drop from both sums "
        "(stated LEFT-lag semantics). ONE co-partitioned self-equi-"
        "join on (key, t-7) — no window, no range explosion — then "
        "ONE per-series aggregate",
    bench=True,
    tags=("timeseries", "events"),
)
def c200_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import mase_backtest

    e = views(spark, sf_dir, "events")["events"]
    daily = e.groupBy(
        F.col("event_type").alias("k"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("long")
        .alias("t"),
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    return mase_backtest(daily, "k", "t", "v", season=7).orderBy("key")


# --------------------------------------------------------------------------
# Driver-window registration order (rotated each round).
#
# The round driver hard-verifies (DuckDB value-hash compare at sf0.01) the
# FIRST 50 entries of this registry in iteration order; every entry beyond
# that window is still verified by the identical local comparison in
# tests/test_catalog_oracle.py at sf0.001, but gets no per-round
# CORRECTNESS row.
#
# Round-13 rotation (VERDICT r12 item 1, set as the FIRST commit of the
# round so late-round additions cannot bump it): the window holds the
# first 50 of the 83 never-driver-rowed entries, in catalog order —
# c148..c190 (43) + q88..q94 (7). (The previous comment's "73" count
# was stale: it predated round 12's post-gate additions c203-c209,
# q101, a12 and the late c200-c202; the true never-rowed set after
# r12 is 83 = c148-c190 (43) + q88-q94 (7) + q95-q101 (7) +
# a06-a12 (7) + c191-c209 (19).) All 83 were judge-certified
# hash-green at sf0.01 in round 12, so the exposure being retired is
# certification recency, not correctness. None of the five rows-only
# entries (q12/c02/c03/c07/c68) is in this window, so all 50 slots
# are full DuckDB value-hash comparisons. Entries outside the window
# remain covered on unchanged code by the parametrized DuckDB-oracle
# mirror tests/test_catalog_oracle.py at sf0.001.
# A guard test (tests/test_driver_window.py) fails if the window is
# ever left un-rotated: >=40 window entries already rowed in the two
# newest committed CORRECTNESS files means someone forgot this edit.
#
# ROTATION RULE (r17, kept since): pure recency — the 50 oldest-rowed
# entries of the CORRECTNESS_r* union by (latest_round, catalog_index),
# where catalog_index is the entry's registration order, co-windowing
# rows-only picks with their oracle twins (q12<->q11, c02<->c24,
# c03<->c26, c07<->c38, c68<->q11) and APPENDING any entry added during
# the round itself. Re-derive the list from the committed
# CORRECTNESS_r*.json files whenever a new one lands.
# --------------------------------------------------------------------------

_DRIVER_WINDOW = [
    # Rotation after CORRECTNESS_r17 (the r17 window is now rowed): the
    # 50 oldest-rowed entries by the rule above — every entry still
    # last rowed r10, then the oldest r11 tier, each in catalog order.
    # No rows-only entry made the cut, so no twin is co-windowed; no
    # entry was added since r17.
    # --- the 29 entries last rowed r10, in catalog order ---
    "c30_stratified_sample",
    "c31_top_tokens",
    "c06_ann_bruteforce_topk",
    "c08_text_stats",
    "c09_text_langid",
    "q33_bucketed_colocated_join",
    "q34_salted_skew_join",
    "c18_text_tfidf",
    "q36_json_typed_struct",
    "q37_stats_aggregates",
    "q38_correlated_scalar_subquery",
    "q39_null_aware_anti_join",
    "q40_pivot",
    "c22_hash_split",
    "q43_unpivot",
    "q44_recursive_cte",
    "q45_window_analytic_extra",
    "c23_embedding_centroids",
    "q46_setops_all",
    "c25_pipeline_e2e",
    "q47_lateral_topn",
    "q48_regex_functions",
    "q69_tpch_q2_min_cost_supplier",
    "q70_tpch_q11_important_stock",
    "q71_tpch_q15_top_supplier",
    "q72_tpch_q20_potential_promotion",
    "c81_png_decode_stats",
    "q68_txn_commit_rollback",
    "c82_ann_ivfpq_sample_trained",
    # --- the 21 oldest r11-rowed entries, in catalog order ---
    "a04_copy_maxerror",
    "a05_schema_evolution_load",
    "c05_dedup_embedding",
    "c85_range_search_cosine",
    "c94_ivf_range_search",
    "c10_text_tokens",
    "c11_text_fingerprint",
    "c12_sessionize",
    "c13_session_window",
    "c15_event_window_rollup",
    "q27_array_map",
    "q28_grouping_sets",
    "q29_dialect_functions",
    "q30_listagg_ordered_agg",
    "q31_pandas_udf_scalar",
    "q32_grouped_applyinpandas",
    "c95_stream_dedup_rollup",
    "c19_asof_join",
    "c20_range_join_bucketed",
    "c21_gapfill_locf",
    "c97_split_leakage_audit",
]



def _apply_driver_window() -> None:
    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    assert not missing, f"driver-window names not registered: {missing}"
    rest = [n for n in QUERIES if n not in set(_DRIVER_WINDOW)]
    ordered = {n: QUERIES[n] for n in [*_DRIVER_WINDOW, *rest]}
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_driver_window()
