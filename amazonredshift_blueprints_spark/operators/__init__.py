"""LLM-data-pipeline extension operators (SURVEY.md §2 Part C).

- ``dedup``       — exact, MinHash-LSH (self-join + stored-signature
  incremental), SimHash, n-gram Jaccard, embedding cosine near-dup,
  connected-component duplicate groups.
- ``similarity``  — vector search: brute-force, LSH, IVF (in-memory /
  stored / appendable), k-means quantizer, PQ and composed IVF-PQ,
  SemDeDup semantic dedup.
- ``text``        — language ID, quality scoring, token counting,
  fingerprinting, TF-IDF, BM25, decontamination, packing, PII
  redaction, repetition stats, chunking, feature hashing, unigram LM
  and DSIR importance scoring.
- ``sessions``    — event sessionization (gap-and-islands).
- ``timeseries``  — bucket grids, LOCF gap-fill, robust outliers.
- ``sampling``    — deterministic splits, stratified samples, corpus mix.
- ``multimodal``  — binary-column plumbing; real PPM decode, stubs for
  codec formats absent from the container.
- ``maintenance`` — small-file compaction, column profiling, HLL
  sketch tables.
- ``geo``         — grid-bucketed spatial within-radius join.
- ``asof`` / ``rangejoin`` — ordered joins Spark SQL lacks natively.
"""


from __future__ import annotations

import os
from typing import TYPE_CHECKING, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from ..sessionstate import session_state

if TYPE_CHECKING:
    import pyarrow as pa

# Pin registry: the ONE module that touches Spark's cache APIs. Every
# frame an operator (or catalog entry) persists or checkpoints is
# recorded in a session-scoped dict, so whatever the caller does with
# the result — select from it, drop it, let an exception unwind the
# build — ``release_pins(spark)`` frees everything the session pinned.
# Checkpoints need their own path: on Spark 4.1 ``DataFrame.unpersist``
# and ``catalog.clearCache`` leave a ``localCheckpoint`` result's
# blocks in place; unpersisting the checkpointed RDD under its
# ``LogicalRDD`` frees them.


def _pins(spark: SparkSession) -> dict:
    return session_state(spark, "pins")


def pin(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """Persist ``df`` at ``level`` (``DataFrame.persist``'s default
    when omitted) and record it for :func:`release_pins`."""
    df.persist(level)
    _pins(df.sparkSession)[id(df)] = (df, False)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` — materialized AND
    lineage-truncated — recorded for :func:`release_pins`."""
    out = df.localCheckpoint(eager=True)
    _pins(out.sparkSession)[id(out)] = (out, True)
    return out


def _free(df: DataFrame, checkpointed: bool) -> None:
    if checkpointed:
        df._jdf.logicalPlan().rdd().unpersist(False)
    else:
        df.unpersist()


def release(*dfs: DataFrame | None) -> None:
    """Free these pinned frames now. Frames never pinned (or already
    released) and ``None`` are ignored, so a release is idempotent."""
    for df in dfs:
        if df is not None:
            entry = _pins(df.sparkSession).pop(id(df), None)
            if entry is not None:
                _free(*entry)


def release_pins(spark: SparkSession) -> None:
    """Free every frame pinned in this session. A checkpointed frame is
    unreadable afterwards, so call this before the NEXT build, never
    while a previous result may still be consumed."""
    pins = _pins(spark)
    while pins:
        _free(*pins.popitem()[1])


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    rounds: int,
    converged: Column | None = None,
) -> DataFrame:
    """Run up to ``rounds`` rounds of ``state = step(state, r)`` (``r``
    counts from 0) — the one round driver of the iterative graph
    operators. ``step`` only builds the next state's plan; the driver
    owns its lifecycle:

    - Each round's state is :func:`checkpoint`-ed: one job materializes
      it and cuts its lineage. Persisting it instead would leave round
      t's plan nesting every earlier round, so analysis and planning
      would grow with t (and double per round where a step reads its
      state twice); a checkpointed state plans in O(1) per round and is
      re-derivable, so its fault tolerance is not needed.
    - The superseded state is released once the next one has
      materialized, so at most two generations are cached at a time.
      The caller's own initial ``state`` is never released here: it may
      be an input every round reads (e.g. clamped seeds).
    - ``converged``, when given, is a boolean aggregate over a state,
      true when the next round would change nothing. It is attached with
      ``DataFrame.observe`` to the frame being checkpointed, so it rides
      that round's job — no probe job of its own; the ``Observation`` is
      only filled once the checkpoint has run. The initial state is then
      checkpointed and probed too, so a fixpoint input runs no round.
      Stopping at a fixpoint is output-identical to running the
      remaining rounds as no-ops.

    The returned state stays pinned until the session's next
    ``release_pins``: it is (or feeds) the caller's result, so the
    caller must not release it. With no round run and no ``converged``
    it is the initial ``state`` itself.
    """
    start = state
    # With a probe, round -1 checkpoints and probes the initial state.
    for r in range(0 if converged is None else -1, rounds):
        prev = state
        if r >= 0:
            state = step(state, r)
        if converged is not None:
            probe = Observation()
            state = state.observe(probe, converged.alias("converged"))
        state = checkpoint(state)
        if prev is not start:
            release(prev)
        if converged is not None and probe.get["converged"]:
            break
    return state


# Driver gate: below a hard row bound, an iterative graph loop's whole
# input is metadata-sized (default 200k rows ≈ ~3 MB of id pairs — the
# broadcast-threshold class), and its 3-5 distributed join+agg rounds
# are pure job and shuffle overhead. One bounded collect plus a local
# loop computes the identical output. At any real scale the distributed
# loop runs exactly as before. SPARK_GRAFT_CC_DRIVER_EDGES sets the
# bound (0 disables); connected components and PageRank share it.
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def driver_edges(edges: DataFrame) -> pa.Table | None:
    """All of ``edges`` as one Arrow table when it is below the driver
    gate, else ``None`` (the caller runs its distributed loop).

    Pass the loop's PINNED edge frame and release it when a table comes
    back. The probe is ONE bounded ``limit(gate + 1).collect()``, an
    incremental take: below the gate it is the edge list itself; above
    it, it stops after the first partitions that hold gate + 1 rows,
    and those stay cached, so the loop does not run the edge lineage
    again (``toArrow`` would run the limit on every partition and
    gather up to gate + 1 rows from each). Only frames whose columns
    are all integral and hold no NULL pass — the local loops order and
    index ids as integers, and the distributed loop defines what a NULL
    endpoint does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    gate = int(os.environ.get("SPARK_GRAFT_CC_DRIVER_EDGES", "200000"))
    if gate <= 0 or any(t not in _INTEGRAL for _, t in edges.dtypes):
        return None
    rows = edges.limit(gate + 1).collect()
    if len(rows) > gate or any(v is None for row in rows for v in row):
        return None
    schema = to_arrow_schema(edges.schema)
    return pa.table(
        [pa.array([row[i] for row in rows], f.type) for i, f in enumerate(schema)],
        schema=schema,
    )


def local_frame(spark: SparkSession, columns: list, schema: StructType) -> DataFrame:
    """A driver-computed result (one array per field of ``schema``) as
    a DataFrame. Built from an Arrow table it plans as a
    ``LocalRelation`` (below ``spark.sql.execution.arrow.
    localRelationThreshold``), which needs no Python worker to execute —
    a ``createDataFrame(list)`` result is a ``LogicalRDD`` that starts
    one every time it runs."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns, names=schema.names), schema)
