"""The pin registry (``operators.pin`` / ``checkpoint`` / ``release`` /
``release_pins``): the one cache lifecycle every operator and catalog
entry goes through."""

from __future__ import annotations

import ast
import os

import pytest

from amazonredshift_blueprints_spark.operators import (
    checkpoint,
    pin,
    release,
    release_pins,
)

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "amazonredshift_blueprints_spark",
)
REGISTRY = os.path.join(PACKAGE, "operators", "__init__.py")
CACHE_CALLS = {"persist", "cache", "localCheckpoint", "unpersist"}


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def baseline(spark) -> int:
    release_pins(spark)
    return _persisted(spark)


def test_release_pins_frees_persisted_and_checkpointed(spark, baseline):
    """Both kinds are freed — including the checkpoint, whose blocks
    ``DataFrame.unpersist`` and ``catalog.clearCache`` leave behind."""
    kept = pin(spark.range(100))
    kept.count()
    cut = checkpoint(spark.range(50).selectExpr("id * 2 AS x"))
    assert _persisted(spark) == baseline + 2
    spark.catalog.clearCache()
    assert _persisted(spark) == baseline + 1  # the checkpoint survives it
    release_pins(spark)
    assert _persisted(spark) == baseline
    assert not kept.storageLevel.useMemory
    assert cut.columns == ["x"]  # the frame object itself stays usable


def test_release_is_idempotent(spark, baseline):
    kept = pin(spark.range(10))
    kept.count()
    cut = checkpoint(spark.range(5))
    release(kept, cut)
    assert _persisted(spark) == baseline
    release(kept, cut, None)  # already released, and None: no-ops
    release_pins(spark)
    assert _persisted(spark) == baseline


def test_pins_of_a_failed_build_are_freed_by_the_next_release(
    spark, baseline, monkeypatch
):
    """An exception mid-build unwinds past every operator-local release;
    whatever the operator pinned until then is still recorded. (The
    driver gate is off: below it PageRank frees its one pin before
    iterating.)"""
    from amazonredshift_blueprints_spark.operators.graph import pagerank

    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges, dangling="error")  # node 3 dangles
    assert _persisted(spark) > baseline
    release_pins(spark)
    assert _persisted(spark) == baseline


def test_driver_path_releases_the_previous_entry(
    spark, sf_dir, baseline, monkeypatch
):
    """``queries()`` callables release the previous entry's pins before
    building: c98's checkpointed rank vectors (which no clearCache can
    free) are gone once the next entry is requested. (The driver gate
    is off, so c98 runs its distributed, checkpointing loop.)"""
    import __spark_entry__ as m

    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    qs = m.queries()
    qs["c98_pagerank_dangling"](spark, sf_dir).toPandas()
    assert _persisted(spark) > baseline
    qs["q01_pricing_summary"](spark, sf_dir)
    assert _persisted(spark) == baseline


def _cache_calls(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return [
        f"{os.path.relpath(path, PACKAGE)}:{node.lineno} .{node.func.attr}()"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in CACHE_CALLS
    ]


def test_only_the_registry_touches_spark_cache_apis():
    """Every persist/cache/localCheckpoint/unpersist goes through the
    registry, so ``release_pins`` sees every frame the package pins."""
    offenders = []
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != REGISTRY:
                offenders += _cache_calls(path)
    assert not offenders, offenders
    assert _cache_calls(REGISTRY)  # the guard looks at real call sites
