"""The driver gate (``operators.driver_edges``): below a hard row bound
connected components and PageRank collect their edge list once and run
their rounds on the driver. The gated path must return the distributed
loop's exact rows and schema, and its result must be an Arrow-built
``LocalRelation`` that leaves nothing pinned. Above the bound the probe
must cost the loop no second run of the caller's edge lineage."""

from __future__ import annotations

import pytest

from amazonredshift_blueprints_spark.operators import release_pins

GATE = "SPARK_GRAFT_CC_DRIVER_EDGES"

# 4 dangles; 5 has no in-edge; (2, 3) is a duplicate edge; 1 -> 1 a self-loop
_PR_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 1), (1, 1), (2, 3), (6, 4)]


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _both_paths(monkeypatch, run):
    """(gated, distributed) results of ``run()``."""
    monkeypatch.setenv(GATE, "0")
    dist = run()
    monkeypatch.setenv(GATE, "200000")
    return run(), dist


def _assert_same(local, dist):
    assert local.schema == dist.schema
    assert local._jdf.schema().json() == dist._jdf.schema().json()
    got = sorted((tuple(r) for r in local.collect()), key=repr)
    assert got == sorted((tuple(r) for r in dist.collect()), key=repr)
    return got


@pytest.mark.parametrize("nullable", [True, False], ids=["nullable", "not_null"])
@pytest.mark.parametrize("id_type", ["int", "bigint"])
@pytest.mark.parametrize("dangling", ["redistribute", "self"])
def test_pagerank_driver_gate_matches_distributed(
    spark, monkeypatch, dangling, id_type, nullable
):
    """Bit-identical ranks and an equal schema (nullability included)
    with the gate on and off, for both policies that accept dangling
    nodes, int and bigint ids, nullable and non-nullable inputs."""
    from amazonredshift_blueprints_spark.operators.graph import pagerank

    null = "" if nullable else " NOT NULL"
    edges = spark.createDataFrame(
        _PR_EDGES, f"a {id_type}{null}, b {id_type}{null}"
    )
    local, dist = _both_paths(
        monkeypatch,
        lambda: pagerank(
            edges, iterations=3, src_col="a", dst_col="b", dangling=dangling
        ),
    )
    assert "LocalRelation" in _optimized(local)
    got = _assert_same(local, dist)
    assert sorted(n for n, _ in got) == [1, 2, 3, 4, 5, 6]
    release_pins(spark)


@pytest.mark.parametrize("iterations", [0, 1])
def test_pagerank_driver_gate_edge_shapes(spark, monkeypatch, iterations):
    """Zero and one round, mixed int/bigint endpoint types (the node
    column takes their common type), and an empty edge list."""
    from amazonredshift_blueprints_spark.operators.graph import pagerank

    mixed = spark.createDataFrame(_PR_EDGES, "src int, dst bigint")
    empty = spark.createDataFrame([], "src long, dst long")
    for edges in (mixed, empty):
        local, dist = _both_paths(
            monkeypatch,
            lambda: pagerank(edges, iterations=iterations, dangling="redistribute"),
        )
        _assert_same(local, dist)
    release_pins(spark)


def test_pagerank_null_endpoint_falls_through(spark, monkeypatch):
    """A NULL endpoint is the distributed loop's to define: the gate
    steps aside and the result is the loop's own checkpointed vector."""
    from amazonredshift_blueprints_spark.operators.graph import pagerank

    edges = spark.createDataFrame(_PR_EDGES + [(7, None)], "src long, dst long")
    local, dist = _both_paths(
        monkeypatch, lambda: pagerank(edges, iterations=2, dangling="self")
    )
    assert "LocalRelation" not in _optimized(local)
    _assert_same(local, dist)
    release_pins(spark)


@pytest.mark.parametrize("op", ["duplicate_groups", "pagerank"])
def test_probe_above_the_gate_runs_the_edge_lineage_once(spark, monkeypatch, op):
    """With the gate one edge short, the probe reads the loop's pinned
    edge frame and falls through: the caller's edge lineage is evaluated
    exactly as often as with the gate off, and the rows are the same."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.dedup import duplicate_groups
    from amazonredshift_blueprints_spark.operators.graph import pagerank

    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    edges = (
        spark.createDataFrame(_PR_EDGES, "src long, dst long")
        .repartition(4)
        .select(F.udf(bump, "long")("src").alias("src"), "dst")
    )

    def run():
        if op == "pagerank":
            return pagerank(edges, dangling="redistribute")
        return duplicate_groups(edges, a_col="src", b_col="dst")

    evaluations, results = [], []
    for gate in ("0", str(len(_PR_EDGES) - 1)):
        monkeypatch.setenv(GATE, gate)
        acc.value = 0
        out = run()
        assert "LocalRelation" not in _optimized(out)
        results.append(sorted(tuple(r) for r in out.collect()))
        evaluations.append(acc.value)
        release_pins(spark)
    assert results[0] == results[1]
    assert evaluations[0] == evaluations[1] > 0


def test_pagerank_error_policy_same_message_on_both_paths(spark, monkeypatch):
    from amazonredshift_blueprints_spark.operators.graph import pagerank

    edges = spark.createDataFrame(_PR_EDGES, "src long, dst long")
    messages = []
    for gate in ("0", "200000"):
        monkeypatch.setenv(GATE, gate)
        with pytest.raises(ValueError, match="dangling") as err:
            pagerank(edges, dangling="error")
        messages.append(str(err.value))
    assert messages[0] == messages[1]
    assert messages[0].startswith("1 dangling node(s)")
    release_pins(spark)


@pytest.mark.parametrize("op", ["duplicate_groups", "pagerank"])
def test_driver_path_result_is_a_local_relation_and_pins_nothing(
    spark, monkeypatch, op
):
    """Arrow-built, the result optimizes to a ``LocalRelation`` (no
    Python worker to execute it), never a ``LogicalRDD``; and the edge
    pin the probe reads is released before the result returns."""
    from amazonredshift_blueprints_spark.operators.dedup import duplicate_groups
    from amazonredshift_blueprints_spark.operators.graph import pagerank

    monkeypatch.setenv(GATE, "200000")
    release_pins(spark)
    baseline = _persisted(spark)
    edges = spark.createDataFrame(_PR_EDGES, "src long, dst long")
    if op == "pagerank":
        out = pagerank(edges, dangling="redistribute")
    else:
        out = duplicate_groups(edges, a_col="src", b_col="dst")
    plan = _optimized(out)
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, plan
    assert _persisted(spark) == baseline
    out.collect()
    assert _persisted(spark) == baseline


@pytest.mark.parametrize("name", ["c29_dedup_groups", "c98_pagerank_dangling"])
def test_gated_catalog_entries_return_local_relations(spark, sf_dir, name):
    """At fixture scale c29 and c98 take the driver path end to end."""
    from amazonredshift_blueprints_spark.plans import QUERIES

    release_pins(spark)
    baseline = _persisted(spark)
    out = QUERIES[name].build(spark, sf_dir)
    plan = _optimized(out)
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, plan
    assert _persisted(spark) == baseline
