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

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from ..sessionstate import session_state

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
