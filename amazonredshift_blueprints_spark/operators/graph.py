"""Iterative graph algorithms over edge DataFrames.

Reference basis: Redshift users run fixed-iteration PageRank/label-
propagation as unrolled self-join SQL through the reference's
pass-through site (execute_sql.py:77); GraphFrames is the usual Spark
add-on but is not a dependency here — the operators below are plain
DataFrame joins, which is also what GraphFrames lowers to.

Connected components (the other graph op this engine ships) lives in
operators/dedup.py (c29); this module holds the fixed-point score
propagation family.

Determinism contract: ranks live in integer micro-units and every
per-edge contribution is ``floor(rank * damping / outdeg)`` — a fixed
IEEE expression both engines evaluate identically — so a T-iteration
run is bit-exact against an oracle that unrolls the same T iterations
as chained CTEs. (Float PageRank would drift across summation orders;
integer floor-division mass loss is deterministic and bounded by one
micro-unit per edge per iteration.)

100 TB: each iteration is one shuffle — contributions group by dst on
the same key partitioning every round; the rank vector is node-sized
(broadcastable for dimension-like graphs, co-partitioned joins
otherwise). Iteration count is fixed and small (power iteration
converges geometrically at rate = damping). Small graphs skip the
rounds: below the driver gate (``operators.driver_edges``, a hard row
bound shared by connected components and PageRank) the edge list is
collected once and PageRank's rounds run in NumPy with the same
integer arithmetic, so a few-hundred-edge graph costs one bounded
collect instead of a job per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from . import driver_edges, iterate, local_frame, pin, release

RANK_SCALE = 1_000_000  # micro-units per unit of rank


def _long_edges(edges: DataFrame) -> DataFrame:
    """(src, dst) cast to BIGINT — the directed edge input of the
    frontier/score loops."""
    return edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """One (lo, hi) row per undirected edge, self-loops dropped."""
    return (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
        .distinct()
    )


def _dangling_error(n_dangle: int) -> ValueError:
    return ValueError(
        f"{n_dangle} dangling node(s) (outdeg 0); pass "
        "dangling='self' or 'redistribute', or symmetrize edges"
    )


def _pagerank_local(src, dst, *, iterations: int, damping: int, dangling: str):
    """The distributed loop's integer arithmetic in NumPy, for an edge
    list below the driver gate: returns (node ids, ranks). Per edge
    ``floor(double(rank * damping) / double(outdeg * 100))``, summed
    per dst in int64 (``np.add.at``, never float weights), so every
    rank equals the distributed path's bit for bit."""
    import numpy as np

    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    s, d = idx[: len(src)], idx[len(src) :]
    outdeg = np.bincount(s, minlength=n)
    is_dangling = outdeg == 0
    if dangling == "error" and is_dangling.any():
        raise _dangling_error(int(is_dangling.sum()))
    if dangling == "self":  # dangling nodes link to themselves
        loops = np.flatnonzero(is_dangling)
        s, d = np.concatenate([s, loops]), np.concatenate([d, loops])
        outdeg[loops] = 1
    denom = (outdeg[s] * 100).astype(np.float64)
    teleport = RANK_SCALE * (100 - damping) // 100
    rank = np.full(n, RANK_SCALE, dtype=np.int64)
    for _ in range(iterations):
        c = np.floor((rank[s] * damping).astype(np.float64) / denom).astype(np.int64)
        received = np.zeros(n, dtype=np.int64)
        np.add.at(received, d, c)
        share = 0
        if dangling == "redistribute" and n:
            share = int(rank[is_dangling].sum()) * damping // (100 * n)
        rank = teleport + share + received
    return ids, rank


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 3,
    damping: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    dangling: str = "error",
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list.

    ``damping`` is in percent (85 = the classic 0.85). Every node that
    appears as src or dst starts at RANK_SCALE micro-units; each
    iteration a node keeps ``(100 - damping)%`` of RANK_SCALE as
    teleport mass and receives ``floor(r_src * damping / (100 *
    outdeg(src)))`` from each in-edge.

    ``dangling`` picks the out-degree-0 policy (r10 verdict item 9 —
    previously a caller precondition):

    - ``'error'`` (default): raise if any node dangles — the explicit
      form of the old contract (symmetrize edges yourself).
    - ``'self'``: add a self-loop per dangling node, so it keeps its
      own damped mass — the "page links to itself" model.
    - ``'redistribute'``: the classic random-surfer model — each
      round's total dangling mass is ONE scalar aggregate (a
      node-count-sized reduce, collected as one number, never a
      per-node driver loop) and every node receives
      ``floor(dangling_mass * damping / (100 * N))`` extra. Integer
      floor keeps it bit-exact replayable.

    Returns (node, rank) with rank in micro-units after ``iterations``
    rounds — bit-exact replayable (module docstring).

    Small graphs: an integral, NULL-free edge list below the driver
    gate (``operators.driver_edges``, shared with connected components)
    is collected once and all ``iterations`` run in NumPy with the same
    integer arithmetic; the result is an Arrow-built ``LocalRelation``
    with the distributed path's schema. Above the gate, or with
    ``damping`` outside 0-100, the distributed loop below runs.

    Overflow bound (``'redistribute'``): the round's BIGINT share is
    ``coalesce(_bp_m, 0) * damping DIV (100 * _bp_n)`` (``_bp_n`` = N,
    counted by the same 1-row aggregate), so the product must
    fit — total dangling mass × damping < 2^63. Dangling mass is at most
    the whole rank vector, N × RANK_SCALE, which caps N at about 1.08e11
    nodes at damping 85. Under the driver gate it cannot be reached: at
    most 400k nodes × 1e6 × 100 ≪ 2^63.
    """
    if dangling not in ("error", "self", "redistribute"):
        raise ValueError(f"unknown dangling policy {dangling!r}")
    # Persist the edge projection FIRST: the setup phase alone reads it
    # from up to five consumers (node enumeration, the dangling check's
    # two sides, outdeg, the e_deg join), and without the cache each one
    # re-executes the caller's full edge-build lineage (for c90 that is
    # a scan + JSON-parse + distinct per consumer — guide §5 persist
    # rule: reused AND expensive to recompute). The driver gate's probe
    # reads it too.
    e_pinned = e = pin(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        StorageLevel.MEMORY_AND_DISK,
    )
    # One cached pass enumerates both endpoint roles (explode, map-side)
    # instead of a union of two scans.
    nodes = (
        e.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
    )
    local = driver_edges(e) if 0 <= damping <= 100 else None
    if local is not None:
        release(e_pinned)
        ids, ranks = _pagerank_local(
            local.column(0).to_numpy(),
            local.column(1).to_numpy(),
            iterations=iterations,
            damping=damping,
            dangling=dangling,
        )
        # The loop's output schema: ``node`` as the node set types it;
        # ``rank`` is nullable only after a 'redistribute' round, whose
        # share is a BIGINT DIV (Spark types DIV nullable).
        schema = StructType([
            nodes.schema["node"],
            StructField(
                "rank", LongType(), iterations > 0 and dangling == "redistribute"
            ),
        ])
        return local_frame(edges.sparkSession, [ids, ranks], schema)
    dangling_nodes = None
    if dangling != "redistribute":
        dangle = nodes.join(
            e.select(F.col("src").alias("node")).distinct(), "node", "left_anti"
        )
        if dangling == "error":
            n_dangle = dangle.count()
            if n_dangle:
                raise _dangling_error(n_dangle)
        else:  # 'self': dangling nodes link to themselves
            e = e.union(
                dangle.select(F.col("node").alias("src"), F.col("node").alias("dst"))
            )
    else:
        dangling_nodes = pin(
            nodes.join(
                e.select(F.col("src").alias("node")).distinct(), "node", "left_anti"
            ).select("node", F.lit(True).alias("_bp_d")),
            StorageLevel.MEMORY_AND_DISK,
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "src")
    # Iterative-DataFrame hygiene: the static graph side (edges+degrees,
    # node set) is persisted — every round reads it, and unpersisted,
    # round t re-executes its full build lineage.
    nodes = pin(nodes, StorageLevel.MEMORY_AND_DISK)
    e_deg = pin(e_deg, StorageLevel.MEMORY_AND_DISK)
    teleport = RANK_SCALE * (100 - damping) // 100

    def rank_round(rank: DataFrame, _) -> DataFrame:
        contrib = (
            e_deg.join(rank, e_deg["src"] == rank["node"])
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.col("rank") * F.lit(damping)).cast("double")
                    / (F.col("outdeg") * F.lit(100)).cast("double")
                ).cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("received"))
        )
        updated = nodes.join(contrib, "node", "left")
        if dangling == "redistribute":
            # ONE scalar per round: total rank sitting on dangling
            # nodes, split evenly (integer floor) across all N nodes.
            # Folded INTO the round's plan as a broadcast 1-row
            # aggregate (r17): the round's checkpoint already runs one
            # job, and a driver collect of the mass here added a
            # second — the crossJoin form computes mass and the new
            # vector in the same job, zero driver round trips. The
            # rank vector has one row per node, so the same aggregate
            # counts N — no count job before the rounds.
            # BIGINT DIV == Python // for these non-negative operands,
            # so the shares are bit-identical to the collected form.
            mass_df = F.broadcast(
                rank.join(dangling_nodes, "node", "left").agg(
                    F.sum(F.when(F.col("_bp_d"), F.col("rank"))).alias("_bp_m"),
                    F.count(F.lit(1)).alias("_bp_n"),
                )
            )
            share_col = F.expr(
                f"CAST(coalesce(_bp_m, 0) * {damping} "
                "DIV (100 * _bp_n) AS BIGINT)"
            )
            return updated.crossJoin(mass_df).select(
                "node",
                (
                    F.lit(teleport).cast("long")
                    + share_col
                    + F.coalesce(F.col("received"), F.lit(0))
                ).alias("rank"),
            )
        return updated.select(
            "node",
            (
                F.lit(teleport).cast("long")
                + F.coalesce(F.col("received"), F.lit(0))
            ).alias("rank"),
        )

    rank = iterate(
        nodes.select("node", F.lit(RANK_SCALE).cast("long").alias("rank")),
        rank_round,
        rounds=iterations,
    )
    # The static graph side is only needed while iterating; the final
    # rank is materialized, so consumers read its blocks, never the
    # lineage.
    release(dangling_nodes, nodes, e_deg, e_pinned)
    return rank


def triangle_count(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle count of an UNDIRECTED graph given as an edge
    list (either orientation, duplicates/self-loops tolerated), by
    degree orientation — the classic distributed formulation (Cohen
    2009; Suri & Vassilvitskii WWW'11 "MapReduce triangles"):

    1. Canonicalize: drop self-loops, dedupe to one (lo, hi) row per
       undirected edge.
    2. Orient each edge from the LOWER-(degree, id) endpoint to the
       higher — every triangle then has exactly ONE wedge whose center
       is its minimum-degree vertex, so it is counted exactly once.
    3. Wedges: self-join oriented edges on the center (u→v, u→w with
       v < w by the same order); close: semi-join the wedge's (v, w)
       pair against the oriented edge set.

    Returns a single row (n_triangles BIGINT).

    Why this scales: the wedge join's fanout is Σ outdeg(u)² under the
    ORIENTED degree, which degree-ordering bounds by O(m^{3/2}) total —
    a hub of raw degree d contributes ~0 wedges as a center because
    high-degree vertices come LAST in the order and keep almost no
    out-edges. Without orientation the same join is Σ deg² and one
    celebrity node explodes it. All three steps are equi-joins
    (shuffle by vertex key); nothing driver-side.
    """
    # The canonical edge set feeds FOUR consumers (both degree unions,
    # the orientation join, the wedge-closing semi-join); without a
    # persist each re-executes the full dedup lineage (measured 44
    # exchanges at fixture scale vs 12 persisted).
    e = pin(_canonical_edges(edges, src_col, dst_col), StorageLevel.MEMORY_AND_DISK)
    deg, wedges = _oriented_wedges(e)
    # close the wedge: (v, w) must be an oriented edge in EITHER
    # direction of the (deg, id) order; since v < w only by ID here, try
    # both orientations via a canonical (lo, hi) compare against e.
    # shuffle_hash on the EDGE side (guide §3.1, deliberate strategy):
    # the wedge stream is O(m^1.5) rows and the edge set m rows, so a
    # sort-merge join would sort the strictly larger side; a shuffled
    # hash join builds on the per-partition slice of the edge set and
    # streams the wedges unsorted.
    closed = wedges.join(
        e.select(F.col("lo").alias("v"), F.col("hi").alias("w")).hint(
            "shuffle_hash"
        ),
        ["v", "w"],
        "semi",
    )
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def bfs_hops(
    edges: DataFrame,
    source: int,
    *,
    max_hops: int = 3,
) -> DataFrame:
    """Bounded breadth-first search: minimum hop distance from
    ``source`` to every node reachable within ``max_hops`` — the
    neighborhood-expansion primitive (related items, blast-radius,
    k-hop feature extraction). Edges are treated as DIRECTED; pass a
    symmetrized edge set for undirected semantics.

    Frontier iteration, all-integer, no scores to drift: round k joins
    the current frontier against the edge list, anti-joins the visited
    set, and tags survivors with hop k. Exactly ``max_hops`` rounds —
    the fixed-unroll contract every iterative operator here shares, so
    an oracle that chains k CTEs replays it bit-for-bit.

    Returns (node, hops), hops in 0..max_hops, one row per reached
    node at its MINIMUM distance.

    100 TB: each round is one equi-join (frontier x edges, frontier
    side broadcastable while small — the common case for k-hop
    queries) plus one distinct and one anti-join against the visited
    set, whose last hop is the next frontier; edges are persisted once.
    Frontier size is the real cost driver (neighborhood growth), not
    round count.
    """
    e = pin(_long_edges(edges))

    def hop(visited: DataFrame, k: int) -> DataFrame:
        frontier = visited.filter(F.col("hops") == k).select(
            F.col("node").alias("src")
        )
        reached = (
            e.join(F.broadcast(frontier), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        return visited.unionAll(reached.select("node", F.lit(k + 1).alias("hops")))

    seed = StructType([StructField("node", LongType()), StructField("hops", IntegerType())])
    visited = iterate(
        local_frame(edges.sparkSession, [[int(source)], [0]], seed),
        hop,
        rounds=max_hops,
    )
    release(e)
    return visited.select("node", F.col("hops").cast("long").alias("hops"))


def hits(edges: DataFrame, *, iterations: int = 2) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999), fixed small
    iteration count, ALL-INTEGER — the link-analysis complement of
    :func:`pagerank` (PageRank finds globally endorsed nodes; HITS
    separates good POINTERS from good TARGETS, the natural reading of
    a bipartite user->item graph):

        a_t(v) = Σ over edges u->v of h_{t-1}(u)
        h_t(v) = Σ over edges v->w of a_t(w)

    starting from h_0 = 1. No normalization (classic HITS normalizes
    each round; exact integer sums replay bit-for-bit instead, and for
    a FIXED iteration count the unnormalized ranking is identical —
    normalization is a positive per-round scalar). Overflow grows like
    (max degree)^(2·iterations): fine through int64 for the 2-3
    rounds HITS needs.

    Returns (node, hub_q, auth_q) for every node incident to an edge.

    100 TB: each half-iteration is one equi-join of the edge list with
    the node-sized score vector plus one hash aggregate — the same
    shuffle-per-round shape as pagerank; both half-iterations form one
    round of ``operators.iterate``. Scores are node-sized,
    broadcastable for dimension-like graphs.
    """
    e = pin(_long_edges(edges))
    # r16: score vectors carry only NONZERO entries while iterating —
    # a zero-score node contributes nothing to either half-round sum,
    # so the per-half-round right-join that re-attached every node
    # (two extra node-sized joins per iteration) moved to ONE restore
    # join at the end; intermediate vectors also shrink to the nodes
    # actually reachable. h_0 = 1 on nodes WITH out-edges (others can
    # never receive hub mass from themselves and contribute nothing).
    # One round's state is a tagged union (node, s, t) of the node set
    # ("n"), the authority ("a") and the hub ("h") vector, so both
    # half-rounds and the restore join read one checkpoint.
    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            "node", F.col("s").cast("long").alias("s"), F.lit(tag).alias("t")
        )

    def vector(state: DataFrame, tag: str, name: str = "s") -> DataFrame:
        return state.filter(F.col("t") == tag).select("node", F.col("s").alias(name))

    def half(vec: DataFrame, on: str, to: str, tag: str) -> DataFrame:
        sums = e.join(vec.withColumnRenamed("node", on), on).groupBy(
            F.col(to).alias("node")
        )
        return tagged(sums.agg(F.sum("s").alias("s")), tag)

    def hits_round(state: DataFrame, _) -> DataFrame:
        a = half(vector(state, "h"), "src", "dst", "a")
        h = half(a, "dst", "src", "h")
        return state.filter(F.col("t") == "n").unionAll(a).unionAll(h)

    nodes = e.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
    hubs = e.select(F.col("src").alias("node")).distinct()
    state = iterate(
        tagged(nodes.withColumn("s", F.lit(None)), "n").unionAll(
            tagged(hubs.withColumn("s", F.lit(1)), "h")
        ),
        hits_round,
        rounds=iterations,
    )
    release(e)
    return (
        vector(state, "n")
        .join(vector(state, "h", "hub_q"), "node", "left")
        .join(vector(state, "a", "auth_q"), "node", "left")
        .select(
            "node",
            F.coalesce("hub_q", F.lit(0)).cast("long").alias("hub_q"),
            F.coalesce("auth_q", F.lit(0)).cast("long").alias("auth_q"),
        )
    )


def _oriented_wedges(e: DataFrame):
    """Degree-orient the canonical (lo, hi) edge set and build wedges
    (u, v, w), v < w — shared by :func:`triangle_count` (global count
    via semi-join close) and :func:`clustering_coefficients` (per-node
    counts via inner-join close). Returns (deg, wedges).

    r16: ``deg`` (node-sized) and the oriented edge list ``keyed``
    (edge-sized) are persisted — ``deg`` has up to three consumers
    (both orientation joins, the callers' final output join) and
    ``keyed`` two (both wedge sides); unpersisted, each consumer
    re-ran the whole union+aggregate+two-join orientation lineage
    (the final c141 plan carried 70 Exchange nodes, ~5 copies of the
    deg subtree)."""
    deg = pin(
        e.select(F.explode(F.array("lo", "hi")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, id): src = smaller endpoint under that order
    keyed = pin(
        e.join(deg.select(F.col("v").alias("lo"), F.col("deg").alias("dlo")), "lo")
        .join(deg.select(F.col("v").alias("hi"), F.col("deg").alias("dhi")), "hi")
        .select(
            F.when(
                (F.col("dlo") < F.col("dhi"))
                | ((F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))),
                F.struct(F.col("lo").alias("src"), F.col("hi").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("hi").alias("src"), F.col("lo").alias("dst"))
            )
            .alias("o"),
            F.col("dlo"), F.col("dhi"),
        )
        .select("o.src", "o.dst")
    )
    w1 = keyed.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    w2 = keyed.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    return deg, wedges


def clustering_coefficients(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient of an undirected graph —
    Watts-Strogatz: how close a node's neighborhood is to a clique,

        lcc(v) = 2 · tri(v) / (deg(v) · (deg(v) − 1))

    in integer micro-units (exact DIV), for nodes with deg >= 2 (below
    that the coefficient is undefined). The community-vs-bridge
    structural signal :func:`triangle_count` aggregates away.

    Per-node triangle counts come from the SAME degree-oriented wedge
    machinery (``_oriented_wedges``): each closed wedge is one
    triangle (u, v, w) counted once; exploding the triple and one hash
    aggregate gives tri(v) exactly. Degrees are over the canonical
    deduped edge set (self-loops dropped).

    Returns (node, degree, n_tri, lcc_micro).

    100 TB: identical O(m^1.5) wedge bound as triangle_count; the
    close step is an inner equi-join (the distinct edge set makes it
    1:1 with the semi-join) so the triple survives to the explode;
    per-node counts are one node-keyed hash aggregate.
    """
    e = pin(_canonical_edges(edges, src_col, dst_col), StorageLevel.MEMORY_AND_DISK)
    deg, wedges = _oriented_wedges(e)
    # shuffle_hash on the edge side: same rationale as triangle_count's
    # semi close — never sort the O(m^1.5) wedge stream to join it
    # against the m-row edge set (guide §3.1).
    closed = wedges.join(
        e.select(F.col("lo").alias("v"), F.col("hi").alias("w")).hint(
            "shuffle_hash"
        ),
        ["v", "w"],
    )
    tri = (
        closed.select(
            F.explode(F.array("u", "v", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri.withColumnRenamed("node", "v"), "v", "left")
        .select(
            F.col("v").alias("node"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "CAST(2 * COALESCE(n_tri, 0) * 1000000 "
                "DIV (deg * (deg - 1)) AS BIGINT)"
            ).alias("lcc_micro"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    *,
    rounds: int = 4,
) -> DataFrame:
    """k-core peeling, fixed round count: repeatedly drop nodes whose
    degree within the SURVIVING subgraph is below ``k`` — the standard
    density filter for graph cleanup (spam/fringe-account removal,
    community-core extraction) before expensive downstream analytics.

    Edges must be the SYMMETRIZED directed form of an undirected graph
    (every node appears as ``src``), matching :func:`bfs_hops`'s
    contract. Exactly ``rounds`` peels run — the fixed-unroll contract
    every iterative operator here shares, so an oracle that chains
    ``rounds`` CTE stages replays it bit-for-bit; at convergence extra
    rounds are no-ops, so a ``rounds`` generous enough to converge
    yields the true k-core.

    Returns (node, deg): survivors with their degree inside the
    surviving subgraph. All-integer — nothing to drift.

    100 TB (r16 rewrite — incremental peeling): the naive form
    recounts degrees over the FULL surviving edge set every round
    (two edge-sized equi-joins + one edge-sized aggregate × rounds).
    This form maintains the degree table incrementally instead — the
    standard k-core decrement scheme: one full-degree aggregate up
    front (edges are the symmetrized form, so ``groupBy(src)`` counts
    every node's degree in one map-side-combinable pass), then each
    round only touches edges INCIDENT TO THE JUST-REMOVED nodes:

        removed_r = {v alive : deg(v) < k}
        deg(v)   -= |edges (v, u), u ∈ removed_r|   for surviving v

    which is exactly the induced-subgraph degree by induction. Per
    round that is one equi-join of the cached edge set against the
    (shrinking, usually tiny) removed set plus one node-sized left
    join — O(edges incident to removed), not O(edges). A state with no
    node below ``k`` is the fixpoint (degrees can never drop again):
    ``operators.iterate`` reads that from a probe riding each state's
    checkpoint and skips the remaining rounds — output-identical to
    running them as no-ops.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = pin(_long_edges(edges), StorageLevel.MEMORY_AND_DISK)

    def peel(deg: DataFrame, _) -> DataFrame:
        removed = deg.filter(F.col("deg") < k).select(F.col("node").alias("dst"))
        dec = (
            e.join(removed, "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("_d"))
            .select(F.col("src").alias("node"), "_d")
        )
        return (
            deg.filter(F.col("deg") >= k)
            .join(dec, "node", "left")
            .select(
                "node",
                (F.col("deg") - F.coalesce("_d", F.lit(0)))
                .cast("long")
                .alias("deg"),
            )
        )

    # Full degree once: symmetrized input ⇒ every node appears as src.
    deg = iterate(
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .select(F.col("src").alias("node"), "deg"),
        peel,
        rounds=rounds,
        converged=F.count_if(F.col("deg") < k) == 0,
    )
    # Survivors whose degree inside the surviving subgraph is zero have
    # no incident surviving edge; the naive groupBy form emitted no row
    # for them, so filter them out to match exactly.
    release(e)
    return deg.filter(F.col("deg") >= 1)


def link_prediction(
    edges: DataFrame,
    *,
    k: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
    max_center_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-based link prediction (Liben-Nowell & Kleinberg
    CIKM'03): score every NON-edge pair that shares at least one
    neighbor by common-neighbor count, Jaccard, and Adamic-Adar, and
    return the top-``k`` — "customers who bought these parts together
    will likely co-buy those" / related-item candidates.

    Scores, all integer:
    - ``cn``             — |Γ(a) ∩ Γ(b)|;
    - ``jaccard_micro``  — ``cn * 1e6 DIV (deg(a)+deg(b)-cn)``;
    - ``aa_micro``       — Σ over common neighbors z of
      ``1e12 DIV round(ln(deg(z))*1e6)`` (Adamic-Adar's 1/ln(deg),
      micro-scaled through the catalog's fixed-IEEE ln contract; every
      wedge center has deg >= 2, so ln > 0 — no guard needed).

    Ranking: jaccard DESC, then aa DESC, then (a, b) — fully
    deterministic.

    100 TB: the wedge self-join on the center vertex is the whole
    cost, Σ deg(z)² — unlike triangle counting, link prediction needs
    EVERY wedge, so degree orientation cannot bound it. The lever is
    ``max_center_degree``: drop hub centers above the cap (the c106
    doc-frequency-cap discipline) — a node connected to everything
    contributes near-zero Adamic-Adar weight and pure noise as
    evidence anyway. Everything else is equi-joins and one hash
    aggregate; the result exits through TakeOrdered, no global sort.
    """
    e = pin(_canonical_edges(edges, src_col, dst_col), StorageLevel.MEMORY_AND_DISK)
    adj = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionAll(
        e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    # persisted (r16): the degree table has three consumers (centers,
    # deg_a, deg_b) and is node-sized; unpersisted each re-ran the
    # adjacency aggregate over the cached edge set
    deg = pin(adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg")))
    # per-center Adamic-Adar weight, attached once to the adjacency rows.
    # deg >= 2 is both semantics and safety: a degree-1 center forms no
    # wedge, and ln(1) = 0 would make its weight a division by zero
    # (an ANSI-mode runtime error, not just a NULL).
    centers = deg.filter(F.col("deg") >= 2)
    if max_center_degree is not None:
        centers = centers.filter(F.col("deg") <= max_center_degree)
    adjw = adj.join(centers, "u").select(
        "u",
        "v",
        F.expr(
            "CAST(1000000000000 DIV "
            "CAST(round(ln(CAST(deg AS DOUBLE)) * 1000000) AS BIGINT) "
            "AS BIGINT)"
        ).alias("w"),
    )
    pairs = (
        adjw.alias("x")
        .join(adj.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.v") < F.col("y.v"))
        .groupBy(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum("w").cast("long").alias("aa_micro"),
        )
        .join(
            e.select(F.col("lo").alias("a"), F.col("hi").alias("b")),
            ["a", "b"],
            "left_anti",  # existing edges out: predict NEW links only
        )
    )
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            F.expr(
                "CAST(cn * 1000000 DIV (deg_a + deg_b - cn) AS BIGINT)"
            ).alias("jaccard_micro"),
            "aa_micro",
        )
    )
    return scored.orderBy(
        F.col("jaccard_micro").desc(),
        F.col("aa_micro").desc(),
        "a",
        "b",
    ).limit(k)


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iterations: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation with clamped seeds (the
    Zhu/Ghahramani 2002 scheme, integer-vote form): each synchronous
    round, every NON-seed node takes the majority label among its
    currently-labeled in-neighbors (ties → smallest label); seed nodes
    never change. Community/category spreading over a co-occurrence
    graph — "label 10 products, infer the rest".

    Exactly ``iterations`` rounds, recomputed from the seed set each
    round (the classic clamped sync update) — the fixed-unroll
    contract every iterative operator here shares, so a chained-CTE
    oracle replays it bit-for-bit. All-integer votes, deterministic
    tie rule, no scores to drift.

    ``edges`` (src, dst) are DIRECTED (pass a symmetrized set for
    undirected semantics); ``seeds`` is (node, label). Returns
    (node, label) for every node labeled after the final round.

    100 TB: each round is ONE equi-join (edges × current labels on
    dst — label table grows toward node cardinality, stays far under
    edge cardinality) + ONE hash aggregate to (node, label) votes +
    ONE max-struct aggregate to winners + an anti-join vs seeds;
    ``operators.iterate`` keeps two label generations at most in
    cache.
    """
    e = pin(_long_edges(edges))
    sd = pin(
        seeds.select(
            F.col("node").cast("long").alias("node"),
            F.col("label").cast("long").alias("label"),
        )
    )

    def vote(labels: DataFrame, _) -> DataFrame:
        votes = (
            e.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("label"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        winners = (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("neg")
                    )
                ).alias("m")
            )
            .select("node", (-F.col("m.neg")).cast("long").alias("label"))
            .join(sd.select("node"), "node", "left_anti")
        )
        return sd.unionAll(winners)

    labels = iterate(sd, vote, rounds=iterations)
    release(e, sd)
    return labels.select("node", "label")
