"""Record linkage: blocked fuzzy matching by edit distance.

Entity resolution's candidate-generation problem is the same one dedup
solves (``operators/dedup.py``): never compare all |rows|² pairs. The
standard answer is *blocking* — a cheap deterministic key (a name token,
a phonetic code, a sorted-neighborhood prefix) under which true matches
almost always collide — followed by an exact pairwise similarity check
inside each block.

100 TB design notes:
- Candidate generation is ONE self-equi-join on the block key; cost is
  bounded by Σ block_size², never |rows|². The block key chooser owns
  the recall/cost tradeoff.
- ``levenshtein`` is a JVM built-in (whole-stage codegen), so the
  verify step never leaves the JVM; no Python in the hot path.
- Skewed blocks (a very common name token) are exactly the AQE
  skew-join case; additionally ``max_block`` drops blocks too large to
  be useful match evidence (a block shared by 10⁶ rows identifies
  nothing), mirroring the doc-frequency cap in ``text.decontaminate``.
- Recall path at scale is multi-pass blocking (union candidates from
  several independent keys) — expressible here by calling the operator
  once per key and unioning; each pass stays an equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import pin


def blocked_fuzzy_match(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block: Column,
    *,
    max_distance: int = 2,
    max_block: int | None = None,
) -> DataFrame:
    """Candidate match pairs ``(id_a, id_b, name_a, name_b, distance)``
    with ``levenshtein(name_a, name_b) <= max_distance``, generated only
    within equal ``block`` keys, ``id_a < id_b``, exact-equal names kept
    (distance 0 is the strongest match evidence, not an exclusion).

    ``max_block`` (optional) drops blocks with more members than the
    cap before pairing — the skew/usefulness guard.
    """
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        block.alias("_blk"),
    ).filter(F.col("_blk").isNotNull())

    if max_block is not None:
        sizes = keyed.groupBy("_blk").count().filter(F.col("count") <= max_block)
        keyed = keyed.join(F.broadcast(sizes.select("_blk")), "_blk")

    a = keyed.select(
        F.col("_blk"),
        F.col("_id").alias("id_a"),
        F.col("_name").alias("name_a"),
    )
    b = keyed.select(
        F.col("_blk"),
        F.col("_id").alias("id_b"),
        F.col("_name").alias("name_b"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "name_a", "name_b", "distance")
    )


def survivorship_golden_record(
    groups: DataFrame,
    df: DataFrame,
    id_col: str,
    *,
    quality_col: str,
    fields: list[str],
) -> DataFrame:
    """Field-level survivorship (MDM golden-record construction): for
    every duplicate cluster, fuse the members into ONE record — the
    canonical id comes from the best single member (highest
    ``quality_col``, smallest-id tiebreak, c99's rule), but each
    listed field takes its cluster-wise MODAL value (most frequent;
    lexically smallest on ties) — the fusion step after matching
    (c106) and clustering (c29): a cluster's majority usually has the
    right country code even when the longest record doesn't.

    ``groups`` is (doc_id, group_id) membership; ``df`` the source
    records. All-integer/count-based decisions — no floats anywhere —
    via one min-of-struct aggregate per field ((-count, value) struct
    ordering), so the fusion replays exactly.

    Returns (group_id, canonical_id, n_members, max_<quality_col>,
    <field>_modal ...).

    100 TB: one membership join (group table is cluster-sized), then
    per field ONE (group, value) hash aggregate plus ONE group-keyed
    min-struct — all group-cardinality-scale; fields join back on
    group_id (broadcastable). No window over the corpus, no
    re-reading of members per field.
    """
    from pyspark.storagelevel import StorageLevel

    # The membership join is consumed by the base aggregate plus one
    # modal aggregate PER FIELD; ``groups`` is typically the output of
    # an iterative clustering (c136: Jaccard pairs -> connected
    # components), so without a persist every consumer re-executes
    # that whole lineage (measured on c136: 115 broadcast joins / 300
    # exchanges in the plan, one full pairs+CC replay per consumer).
    # Cluster-membership-sized — safe to cache.
    j = pin(
        groups.join(
            df.select(F.col(id_col).alias("doc_id"), F.col(quality_col), *fields),
            "doc_id",
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    base = j.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(
            F.struct(
                (-F.col(quality_col)).alias("negq"), F.col("doc_id")
            )
        ).alias("_b"),
        F.max(quality_col).alias(f"max_{quality_col}"),
    ).select(
        "group_id",
        F.col("_b.doc_id").alias("canonical_id"),
        "n_members",
        f"max_{quality_col}",
    )
    out = base
    for f in fields:
        modal = (
            j.groupBy("group_id", f)
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("group_id")
            .agg(
                F.min(
                    F.struct((-F.col("_c")).alias("negc"), F.col(f))
                ).alias("_m")
            )
            .select("group_id", F.col(f"_m.{f}").alias(f"{f}_modal"))
        )
        out = out.join(F.broadcast(modal), "group_id")
    return out
