"""Every catalog entry with an oracle must match DuckDB bit-for-bit at
sf0.001 — a fast local mirror of the driver's t2 gate (which runs the
same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from amazonredshift_blueprints_spark.operators import release_pins
from amazonredshift_blueprints_spark.plans import QUERIES
from tools.check_correctness import compare


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = QUERIES[name]
    release_pins(spark)
    before = _persisted(spark)
    sdf = spec.build(spark, sf_dir).toPandas()
    # nothing the entry cached — persisted or checkpointed — outlives
    # the release of its pins
    release_pins(spark)
    assert _persisted(spark) == before, name
    if spec.oracle is None:
        # rows-only contract: must run and produce a stable schema
        assert sdf.columns.tolist(), name
        return
    ddf = duck.execute(spec.oracle).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """q33's point: with both sides bucketed on the join key, the
    sort-merge join takes its inputs straight from the bucketed scans —
    no Exchange below the join. (A linear per-bucket Sort remains:
    Spark ≥3.0 ignores bucket sortBy metadata on read by default,
    spark.sql.legacy.bucketedTableScan.outputOrdering.)"""
    df = QUERIES["q33_bucketed_colocated_join"].build(spark, sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # render full plan
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    join_at = plan.index("SortMergeJoin")
    below_join = plan[join_at:]
    agg_exchanges = plan[:join_at].count("Exchange")  # group-by shuffle: expected
    assert "Exchange" not in below_join, below_join[:500]
    assert "Bucketed: true" in below_join
    assert agg_exchanges >= 1  # sanity: we looked at the right plan


def test_approx_distinct_within_rsd(spark, sf_dir, duck):
    """q12's promise: approx_count_distinct(rsd=0.01) stays within a few
    rsd of the exact per-group distinct count."""
    from amazonredshift_blueprints_spark.plans import QUERIES

    got = {
        r["l_returnflag"]: r["approx_parts"]
        for r in QUERIES["q12_agg_approx_distinct"].build(spark, sf_dir).collect()
    }
    exact = dict(
        duck.execute(
            "SELECT l_returnflag, COUNT(DISTINCT l_partkey) FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    assert set(got) == set(exact)
    for flag, approx in got.items():
        assert abs(approx - exact[flag]) <= max(5, 0.05 * exact[flag]), (
            flag, approx, exact[flag],
        )


def test_driver_window_is_exactly_50_and_leads_registry():
    """The round driver hard-verifies the FIRST 50 registry entries; the
    rotation list must fill that window exactly — a silent off-by-a-few
    would quietly drop fresh-this-round entries from driver verification."""
    from amazonredshift_blueprints_spark.plans.catalog import _DRIVER_WINDOW, QUERIES

    assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
    assert len(set(_DRIVER_WINDOW)) == 50  # no duplicates eating slots
    assert list(QUERIES)[:50] == _DRIVER_WINDOW
