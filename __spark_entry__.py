"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()``
exposes one callable per implemented operator from SURVEY.md §2 via the
``QuerySpec`` registry in ``amazonredshift_blueprints_spark.plans``;
``oracle_sql()`` returns each entry's DuckDB-equivalent SQL (entries
without one get the driver's rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from amazonredshift_blueprints_spark.operators import release_pins
from amazonredshift_blueprints_spark.plans import QUERIES

QueryFn = Callable[[SparkSession, str], DataFrame]


def _released(build: QueryFn) -> QueryFn:
    """``build`` that first frees every frame the session's previous
    builds pinned. The release runs before a build, never after one: a
    result may read checkpointed blocks until its caller is done."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_pins(spark)
        return build(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    release_pins(spark)
    return QUERIES["q01_pricing_summary"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, QueryFn]:
    """One entry per implemented operator from SURVEY.md §2; each call
    releases the pins of the previous one."""
    return {name: _released(spec.build) for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted → rows-only check."""
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }
