"""The pin registry (``operators.pin`` / ``checkpoint`` / ``release`` /
``release_pins``): the one cache lifecycle every operator and catalog
entry goes through."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from amazonredshift_blueprints_spark.operators import (
    checkpoint,
    iterate,
    pin,
    release,
    release_pins,
)
from amazonredshift_blueprints_spark.operators.dedup import duplicate_groups
from amazonredshift_blueprints_spark.operators.graph import (
    bfs_hops,
    hits,
    kcore,
    label_propagation,
    pagerank,
)

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "amazonredshift_blueprints_spark",
)
REGISTRY = os.path.join(PACKAGE, "operators", "__init__.py")
CACHE_CALLS = {"persist", "cache", "localCheckpoint", "unpersist"}
GRAPH = os.path.join(PACKAGE, "operators", "graph.py")
DEDUP = os.path.join(PACKAGE, "operators", "dedup.py")
ROUND_CALLS = {"checkpoint", "pin", "release", "count", "first", "isEmpty", "collect"}
ROUND_LOOPS = {
    GRAPH: ["pagerank", "hits", "bfs_hops", "kcore", "label_propagation"],
    DEDUP: ["duplicate_groups"],
}


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


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def _sym(spark, pairs):
    return _edges(spark, pairs + [(b, a) for a, b in pairs])


_DANGLING = [(1, 2), (2, 3), (3, 1), (3, 4)]  # node 4 has no out-edge

# name -> (call, its expected rows, checked by hand)
ROUND_LOOP_CASES = {
    "pagerank_error": (
        lambda s: pagerank(_edges(s, [(1, 2), (2, 3), (3, 1), (1, 3)])),
        [(1, 1054187), (2, 728531), (3, 1217281)],
    ),
    "pagerank_self": (
        lambda s: pagerank(_edges(s, _DANGLING), dangling="self"),
        [(1, 575000), (2, 638750), (3, 692937), (4, 2093312)],
    ),
    "pagerank_redistribute": (
        lambda s: pagerank(_edges(s, _DANGLING), dangling="redistribute"),
        [(1, 899825), (2, 1034695), (3, 1165649), (4, 899825)],
    ),
    "hits": (
        lambda s: hits(_edges(s, [(1, 10), (1, 11), (2, 10), (3, 11), (3, 12)])),
        [(1, 13, 0), (2, 6, 0), (3, 10, 0), (10, 0, 6), (11, 0, 7), (12, 0, 3)],
    ),
    "bfs_hops": (
        lambda s: bfs_hops(_edges(s, [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6)]), 1),
        [(1, 0), (2, 1), (3, 2), (4, 3), (6, 1)],
    ),
    # a triangle with a 2-edge tail: node 5 peels in round 1, 4 in round 2
    "kcore": (
        lambda s: kcore(_sym(s, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]), 2),
        [(1, 2), (2, 2), (3, 2)],
    ),
    "label_propagation": (
        lambda s: label_propagation(
            _sym(s, [(1, 2), (2, 3), (3, 4), (4, 5)]),
            s.createDataFrame([(1, 100), (5, 200)], "node long, label long"),
        ),
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200)],
    ),
    "duplicate_groups": (
        lambda s: duplicate_groups(
            s.createDataFrame(
                [(1, 2), (2, 3), (3, 9), (5, 7), (20, 11), (11, 4)],
                "id_a long, id_b long",
            )
        ),
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (7, 5), (9, 1), (11, 4), (20, 4)],
    ),
}


@pytest.mark.parametrize("name", list(ROUND_LOOP_CASES))
def test_iterative_operators_leave_only_their_result_pinned(
    spark, baseline, monkeypatch, name
):
    """Each superseded round is released as the next materializes: right
    after the call at most one RDD (the result's own materialization)
    sits above baseline. The driver gate is off, so the distributed
    round loops run."""
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    run, expected = ROUND_LOOP_CASES[name]
    out = run(spark)
    assert _persisted(spark) <= baseline + 1
    assert sorted(tuple(r) for r in out.collect()) == expected
    release_pins(spark)


@pytest.mark.parametrize("start, rounds_run", [([0, 1, 2], [0, 1]), ([0, 0], [])])
def test_iterate_probe_rides_the_checkpoint_job(spark, baseline, start, rounds_run):
    """The convergence probe costs no job: the initial state and each
    round take exactly one (narrow) job each, the loop stops at the
    first fixpoint — before any round when the input already is one —
    and only the last state stays pinned."""
    sc = spark.sparkContext
    group = f"iterate-probe-{start}"
    ran = []

    def countdown(state, r):
        ran.append(r)
        return state.select(F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    sc.setJobGroup(group, group)
    try:
        out = iterate(
            spark.createDataFrame([(x,) for x in start], "x long"),
            countdown,
            rounds=10,
            converged=F.count_if(F.col("x") > 0) == 0,
        )
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert ran == rounds_run
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == len(ran) + 1
    assert _persisted(spark) == baseline + 1
    assert sorted(r.x for r in out.collect()) == [0] * len(start)
    release_pins(spark)


def _loop_round_calls(loops) -> list[str]:
    return [
        f"line {node.lineno} .{name}()"
        for loop in loops
        for stmt in loop.body + loop.orelse
        for node in ast.walk(stmt)
        if isinstance(node, ast.Call)
        and (name := getattr(node.func, "attr", getattr(node.func, "id", None)))
        in ROUND_CALLS
    ]


def test_only_iterate_runs_rounds():
    """No loop in the graph operators or in ``duplicate_groups`` runs a
    job or touches a pin itself: each iterative operator hands its rounds
    to ``operators.iterate``, which owns the checkpoint, the release and
    the convergence probe. (PageRank's NumPy loop and the union-find
    below the driver gate call none of these.)"""
    offenders, missing = [], []
    for path, names in ROUND_LOOPS.items():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        scopes = [tree] if path == GRAPH else [funcs[n] for n in names]
        loops = [
            n for scope in scopes for n in ast.walk(scope)
            if isinstance(n, (ast.For, ast.While))
        ]
        offenders += [f"{os.path.basename(path)} {c}" for c in _loop_round_calls(loops)]
        missing += [
            name
            for name in names
            if not any(
                isinstance(n, ast.Call) and getattr(n.func, "id", None) == "iterate"
                for n in ast.walk(funcs[name])
            )
        ]
    assert not offenders, offenders
    assert not missing, f"not run through iterate: {missing}"
