"""Vector similarity search over an embedding column (ArrayType(FloatType)).

Two paths, per SURVEY.md §2 Part C and the top-k literature in PAPERS.md:

- **Brute-force cosine top-k** — the exactness baseline. Query set ⋈
  corpus with a JVM-side quantized-integer dot product, then windowed
  ``row_number() <= k``. Cost |Q|·|C|: right for small query sets or as
  the verifier for the approximate path.
- **Random-hyperplane LSH top-k** — the scale path. Sign-bit sketches
  bucket the corpus; candidates come from an equi-join on bucket keys
  (multi-probe over several independent tables), then exact re-ranking of
  candidates only. Cost ~ |Q|·bucket_size·n_tables.

Determinism: float dot products differ across engines/SIMD orders, so
components are quantized to integers (``round(x * 10^6)``) and summed as
BIGINT — exact, associative, engine-independent. Cosine over the
quantized integers changes by <1e-5 vs float — irrelevant for ranking at
near-dup/topk granularity, and tie-broken by id for full determinism.

100 TB notes: the corpus side is the big relation — it is never
collected, never crossed with itself, and the LSH bucket join shuffles
on bucket keys only. Window top-k partitions by query id, so the state
per reducer is k rows per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import checkpoint, pin, release

QUANT_SCALE = 1_000_000  # 1e-6 component resolution


def _ref(name: str) -> str:
    """Column ``name`` as a SQL reference, parsed as ``F.col`` parses
    it: dots separate the parts, and a name holding a backtick is
    already quoted."""
    if "`" in name:
        return name
    return ".".join(f"`{p}`" for p in name.split("."))


# The vector kernels are one SQL expression each, built with one py4j
# call. The Column HOF API (F.transform/zip_with/aggregate with Python
# lambdas) builds the same analyzed plan one round trip per node, on
# every operator build.


def quantize(vec: str) -> Column:
    """array<float> column ``vec`` → array<bigint> at 1e-6 resolution
    (exact arithmetic).

    The float→double cast is exact and float×10^6 fits in a double's
    mantissa, so the product — and therefore the rounding — is identical
    in every engine. (float-domain multiply would not be.)
    """
    return F.expr(
        f"transform({_ref(vec)}, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
    )


def dot_q(a: str, b: str) -> Column:
    """Exact integer dot product of two quantized vector columns (BIGINT)."""
    return F.expr(
        f"aggregate(zip_with({_ref(a)}, {_ref(b)}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def norm_sq_q(a: str) -> Column:
    return dot_q(a, a)


def cosine_q(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from integer dot/norms; one deterministic double expression."""
    return (
        dot.cast("double")
        / (F.sqrt(norm_a.cast("double")) * F.sqrt(norm_b.cast("double")))
    )


def _with_quant(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    q = quantize(vec_col)
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        q.alias(f"{prefix}_q"),
    ).withColumn(f"{prefix}_norm", norm_sq_q(f"{prefix}_q"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for each row of ``queries``.

    Returns (query_id, neighbor_id, cosine, rank), self-matches excluded.
    """
    from .dedup import rebalance_for_compute

    q = _with_quant(queries, id_col, vec_col, "query")
    c = _with_quant(rebalance_for_compute(corpus), id_col, vec_col, "neighbor")
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q("query_q", "neighbor_q"),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
) -> DataFrame:
    """Radius (range) search: EVERY corpus neighbor with cosine >=
    ``threshold`` per query — the all-matches complement of
    :func:`brute_force_topk` (top-k caps the result; range search is
    what near-duplicate audits and contamination sweeps actually ask:
    "everything closer than X").

    Returns (query_id, neighbor_id, cosine), self-matches excluded, no
    per-query cap. Exact semantics, quantized-integer dot products, one
    double division per pair — engine-exact.

    100 TB: this exact form is the correctness baseline (query-batch x
    corpus, broadcast the small query side, corpus never shuffles). The
    scale path is candidate pruning with the SAME final filter: LSH
    buckets (c07/c38) or IVF probes (c17/c37) generate candidates, then
    this cosine threshold re-ranks — recall bounds live with those
    entries; the threshold filter itself is unchanged.
    """
    from .dedup import rebalance_for_compute

    q = _with_quant(queries, id_col, vec_col, "query")
    c = _with_quant(rebalance_for_compute(corpus), id_col, vec_col, "neighbor")
    return (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q("query_q", "neighbor_q"),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def hyperplane_sketch(vec_q: Column, *, bits: int, table: int) -> Column:
    """Sign-bit sketch: one bit per pseudo-random hyperplane.

    The hyperplane for (table, bit, component) is a deterministic ±1
    drawn from xxhash64 — no stored projection matrix, reproducible on
    any cluster.
    """
    sketch = F.lit(0).cast("long")
    for bit in range(bits):
        # ±1 per component: parity of a per-(table,bit,index) hash.
        proj = F.aggregate(
            F.zip_with(
                vec_q,
                F.sequence(F.lit(0), F.size(vec_q) - 1),
                lambda x, i: F.when(
                    F.pmod(F.xxhash64(F.lit(table), F.lit(bit), i), F.lit(2)) == 1, x
                ).otherwise(-x),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sketch = sketch.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), bit)).otherwise(F.lit(0).cast("long"))
        )
    return sketch


def xxhash_hyperplane_signs(
    spark, *, n_tables: int, bits: int, dim: int
) -> list[list[int]]:
    """The xxhash64-derived ±1 sign matrix as driver-side metadata.

    The sign for (table, bit, component) in :func:`hyperplane_sketch`
    is ``xxhash64(table, bit, i) % 2 ? +1 : -1`` — a function of the
    INDICES only, never the data. So instead of paying
    n_tables·bits·dim interpreted hash calls per ROW (the HOF
    expression form, ~3000 lambda steps at the 12-bit × 4-table × dim
    64 default — measured ~10 s just to sketch sf0.1), evaluate the
    matrix ONCE with one tiny Spark job (n_tables·bits·dim rows of
    int32 triples through the same JVM xxhash64, collected as
    metadata) and sketch with the Arrow matmul kernel. Buckets are
    bit-identical to the expression form — same hash, same parity
    rule, same proj>0 bit rule (parity-tested in
    tests/test_similarity.py).
    """
    triples = [
        (t, b, i)
        for t in range(n_tables)
        for b in range(bits)
        for i in range(dim)
    ]
    rows = (
        spark.createDataFrame(triples, "t int, b int, i int")
        .select(
            "t", "b", "i",
            F.when(F.pmod(F.xxhash64("t", "b", "i"), F.lit(2)) == 1, 1)
            .otherwise(-1)
            .alias("s"),
        )
        .collect()
    )
    sign_at = {(r["t"], r["b"], r["i"]): int(r["s"]) for r in rows}
    return [
        [sign_at[(t, b, i)] for i in range(dim)]
        for t in range(n_tables)
        for b in range(bits)
    ]


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 12,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane buckets → candidate
    equi-join → exact re-rank of candidates only.

    Returns (query_id, neighbor_id, cosine, rank). Recall grows with
    ``n_tables`` (independent bucketings); bucket size shrinks with
    ``bits``. 2^bits buckets per table ⇒ expected bucket size |C|/2^bits.

    Sketching runs through the Arrow matmul kernel against the
    xxhash64-derived sign matrix (:func:`xxhash_hyperplane_signs` —
    computed once as metadata, bit-identical buckets to the HOF
    expression form, ~7× faster end-to-end at sf0.1).

    Tuning note: iid-random vectors (like the synthetic fixture) are the
    LSH *worst case* — top-k neighbors are barely above the noise floor,
    so recall demands more tables / fewer bits than a real, clustered
    embedding corpus would.
    """
    from .dedup import rebalance_for_compute

    if dim is None:
        dim = corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    corpus = rebalance_for_compute(corpus)
    signs = xxhash_hyperplane_signs(
        corpus.sparkSession, n_tables=n_tables, bits=bits, dim=dim
    )
    q = _with_quant(queries, id_col, vec_col, "query")
    c = _with_quant(corpus, id_col, vec_col, "neighbor")
    q_sk = _sketch_arrow_with_signs(
        queries, signs, id_col=id_col, vec_col=vec_col, prefix="query",
        n_tables=n_tables, bits=bits,
    )
    c_sk = _sketch_arrow_with_signs(
        corpus, signs, id_col=id_col, vec_col=vec_col, prefix="neighbor",
        n_tables=n_tables, bits=bits,
    )
    # Candidate dedup carries ONLY the (query_id, neighbor_id) pair —
    # the quantized vectors (~dim×8 B each) are re-joined AFTER the
    # distinct, so the widest shuffle in the plan hashes 16-byte id
    # pairs instead of multi-KB vector payloads (~100× narrower at
    # dim=768; same shape as the c05/c27 near-dup candidate stage).
    cand = (
        q_sk.select("query_id", "tbl", "bucket")
        .join(c_sk.select("neighbor_id", "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q("query_q", "neighbor_q"),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def l2_sq_q(a: Column, b: Column) -> Column:
    """Exact squared L2 distance of two quantized vectors (BIGINT)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# Upper bound on n_cells*dim for the collected-centroid path. The centroid
# table is collected to the driver and shipped to every task inside the
# Arrow kernel's closure as a k×dim int64 NumPy matrix
# (:func:`_arrow_cell_pass`), so this bounds driver memory and serialized
# task-closure size — not Catalyst/Janino limits (the kernel is NumPy, not
# codegen). 16×32 defaults = 512 entries; the 65,536 cap ≈ a 0.5 MiB
# matrix, well under Spark's 1 GiB closure ceiling but large enough that
# going past it signals the wrong design: quantizers bigger than this
# should keep the centroid table DISTRIBUTED and assign cells via an
# equi-join on a precomputed coarse key instead of a collected matrix.
MAX_LITERAL_CENTROID_CELLS = 65_536


def _collect_centroids(cents: DataFrame) -> list[tuple[int, list[int]]]:
    """Centroid table → driver-side [(cent_id, cent_q)], sorted by id.

    NOTE this is an EAGER driver-side collect at call time (ivf_topk /
    build_ivf_index / query_ivf_index are therefore not fully lazy) — but
    of k×dim METADATA (16×32 longs at the defaults), not data: the same
    driver-side footprint MLlib's k-means keeps between iterations. The
    list becomes the NumPy centroid matrix inside
    :func:`_arrow_cell_pass`'s closure, which is what lets cell
    assignment run row-locally with zero exchanges.
    """
    rows = cents.select("cent_id", "cent_q").collect()
    out = sorted((int(r["cent_id"]), [int(x) for x in r["cent_q"]]) for r in rows)
    if not out:
        raise ValueError(
            "empty centroid table: an IVF index cannot be built/probed with "
            "zero cells (argmin over no centroids would route every vector "
            "to a null cell)"
        )
    total = len(out) * len(out[0][1])
    if total > MAX_LITERAL_CENTROID_CELLS:
        raise ValueError(
            f"n_cells*dim = {total} exceeds the collected-centroid bound "
            f"({MAX_LITERAL_CENTROID_CELLS}); quantizers this large should "
            "keep the centroid table distributed and assign cells via an "
            "equi-join on a precomputed coarse key, not a driver-collected "
            "matrix"
        )
    return out


def _balanced_sum(terms: list[Column]) -> Column:
    """Sum a term list as a balanced Add tree (depth log n, not n) so
    codegen never hits Janino's nesting limits at larger dims."""
    while len(terms) > 1:
        terms = [
            terms[j] + terms[j + 1] if j + 1 < len(terms) else terms[j]
            for j in range(0, len(terms), 2)
        ]
    return terms[0]


def dot_q_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Exact integer dot product, unrolled over a known ``dim``.

    Semantically identical to :func:`dot_q`, but expressed as plain
    ``getItem``/multiply/add expressions — these stay inside
    WholeStageCodegen and JIT to straight-line arithmetic, where the
    generic ``zip_with``+``aggregate`` form is a CodegenFallback that
    evaluates ~2·dim interpreted lambda steps per row (measured ~1000×
    slower per row at dim=64). Use whenever the dimension is known
    (IVF knows it from the centroid table); keep :func:`dot_q` for
    dimension-generic callers.
    """
    return _balanced_sum([a[i].cast("long") * b[i].cast("long") for i in range(dim)])


def _np_quantize(mat) -> "object":
    """NumPy replica of :func:`quantize`'s exact rule: float32 → float64
    (exact), ×10⁶ (exact in the double mantissa at embedding
    magnitudes), then ROUND_HALF_UP away from zero — the same rounding
    Spark's ``F.round`` and DuckDB's ``round()`` apply. ``floor(x+0.5)``
    is exact HALF_UP here because |x| < 2⁵² keeps the addition
    representable."""
    import numpy as np

    x = mat.astype(np.float64) * QUANT_SCALE
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)


def _pq_dist(X, CB):
    """The one distance rule of every quantizer here (IVF cells, k-means,
    PQ codes, ADC tables): the exact int64 (n, M, k) matrix of
    per-subspace squared L2 distances ``‖x_s − c_s‖²`` between the rows
    of ``X`` (n, M·d_sub) and the codebook ``CB`` (k, M, d_sub). A
    full-vector quantizer is M = 1.

    Exact: computed in int64 as ``‖x‖² − 2x·c + ‖c‖²`` — no float
    accumulation, so it equals the diff-square form the DuckDB oracles
    use, bit for bit. No term overflows while ``4·d_sub·B² < 2⁶³``, B
    the largest |component| of X or CB (B = QUANT_SCALE for quantized
    unit vectors and 2·QUANT_SCALE for their residuals: d_sub up to
    ~576k). Ties go to the lowest id: callers take ``argmin`` (the first
    minimum) or a stable ``argsort`` along the id-ordered last axis.
    """
    Xs = X.reshape(len(X), CB.shape[1], CB.shape[2]).transpose(1, 0, 2)
    Ct = CB.transpose(1, 2, 0)  # (M, d_sub, k)
    d = (
        (Xs * Xs).sum(axis=2)[:, :, None]
        - 2 * (Xs @ Ct)
        + (Ct * Ct).sum(axis=1)[:, None, :]
    )
    return d.transpose(1, 0, 2)


def assign_cells_arrow_schema(prefix: str) -> str:
    return (
        f"{prefix}_id long, {prefix}_q array<long>, "
        f"{prefix}_norm long, cell long"
    )


def _arrow_cell_pass(
    df: DataFrame,
    cents: list[tuple[int, list[int]]],
    *,
    id_col: str,
    vec_col: str,
    prefix: str,
    nprobe: int | None,
) -> DataFrame:
    """Shared Arrow kernel for IVF cell assignment (``nprobe=None``) and
    query probing (``nprobe=n``): one ``mapInPandas`` pass computing the
    quantized vector, its norm, and the argmin / nprobe-nearest cells
    against the broadcast-small centroid matrix.

    Why Arrow and not built-in expressions: the natural DataFrame forms
    are all orders-of-magnitude off for fixed-dim vector math —
    ``zip_with``/``aggregate`` lambdas are CodegenFallback (measured
    ~1 ms/row interpreted at k=16, dim=64), unrolling k×dim literal
    arithmetic explodes the plan (5 MiB task binaries, past Janino's
    method limit, whole-stage codegen bails), and a crossJoin+window
    argmin shuffles an n_cells×-expanded corpus (~PBs at 100 TB). A
    vectorized :func:`_pq_dist` (M = 1) per Arrow batch keeps the
    map-only shape: no join, no shuffle, no row expansion (plan asserted
    Exchange-free in tests/test_plans.py).
    """
    import numpy as np
    import pandas as pd

    C = np.array([cq for _, cq in cents], dtype=np.int64)[:, None, :]

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _np_quantize(np.stack(pdf[vec_col].to_numpy()))
            norms = (M * M).sum(axis=1)
            d = _pq_dist(M, C)[:, 0, :]
            ids = pdf[id_col].to_numpy()
            if nprobe is None:
                yield pd.DataFrame(
                    {
                        f"{prefix}_id": ids,
                        f"{prefix}_q": list(M),
                        f"{prefix}_norm": norms,
                        "cell": d.argmin(axis=1).astype(np.int64),
                    }
                )
            else:
                near = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
                n = near.shape[1]
                yield pd.DataFrame(
                    {
                        f"{prefix}_id": np.repeat(ids, n),
                        f"{prefix}_q": [m for m in M for _ in range(n)],
                        f"{prefix}_norm": np.repeat(norms, n),
                        "cell": near.reshape(-1).astype(np.int64),
                    }
                )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, assign_cells_arrow_schema(prefix)
    )


def assign_cells(
    corpus: DataFrame,
    cents: list[tuple[int, list[int]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → (neighbor_id, neighbor_q, neighbor_norm, cell): each
    vector tagged with its argmin-L2 centroid cell. One Arrow-batched
    map-only pass over the scan — the plan contains no Exchange, so at
    100 TB the index build is a single scan-shaped job (asserted in
    ``tests/test_plans.py``). Replaces the former crossJoin +
    ``row_number()`` argmin, which expanded the corpus n_cells× and
    shuffled the expansion (~1.6 PB at 100 TB × 16 cells)."""
    return _arrow_cell_pass(
        corpus, cents, id_col=id_col, vec_col=vec_col,
        prefix="neighbor", nprobe=None,
    )


def probe_cells(
    queries: DataFrame,
    cents: list[tuple[int, list[int]]],
    nprobe: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Queries → (query_id, query_q, query_norm, cell), one row per
    (query, probed cell): each query routed to its ``nprobe`` nearest
    cells by (L2², cell id) — the routing half of IVF, same map-only
    Arrow pass as :func:`assign_cells`."""
    return _arrow_cell_pass(
        queries, cents, id_col=id_col, vec_col=vec_col,
        prefix="query", nprobe=nprobe,
    )


def _div_round(s: int, n: int) -> int:
    """Exact integer round-half-away-from-zero of s/n (n > 0).

    Python's float ``round()`` is banker's rounding on a lossy double
    quotient — neither property replays in SQL. This rule is pure
    integer arithmetic: DuckDB replays it as
    ``CASE WHEN s >= 0 THEN (2*s + n) // (2*n) ELSE -((2*(-s) + n) // (2*n)) END``
    and NumPy as the same formula on int64.
    """
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((2 * (-s) + n) // (2 * n))


def _lloyd(points: DataFrame, col: str, CB, iters: int):
    """The one integer Lloyd loop of every trained quantizer here:
    ``iters`` rounds over the ``array<long>`` column ``col`` of
    ``points`` from the (k, M, d_sub) int64 codebook ``CB``; returns the
    trained codebook. k-means is M = 1; a PQ codebook trains all M
    subspaces in the same round.

    A round is one map-only ``mapInPandas`` pass plus one metadata
    collect. Each Arrow batch assigns every subvector to its
    :func:`_pq_dist` argmin and emits only its partial (sum, count) per
    (slot = subspace·k + code, position) — at most k·M·d_sub rows, never
    the vectors. One ``groupBy(slot, pos)`` brings the k·dim totals to
    the driver, and each entry becomes the integer mean rounded half
    away from zero (:func:`_div_round`). A code no vector chose
    keeps its previous entry. int64 sums are exact and order-free, so
    the rule replays bit for bit in NumPy (tests/test_similarity.py)
    and ANSI SQL (the c28/c74 DuckDB oracles).
    """
    import numpy as np
    import pandas as pd

    k, M, d_sub = CB.shape
    for _ in range(max(0, iters)):

        def assign(batches, CB=CB):
            sub = np.arange(M) * k
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf[col].to_numpy()).astype(np.int64)
                slot = (_pq_dist(X, CB).argmin(axis=2) + sub).ravel()
                S = np.zeros((M * k, d_sub), dtype=np.int64)
                np.add.at(S, slot, X.reshape(-1, d_sub))
                cnt = np.bincount(slot, minlength=M * k).astype(np.int64)
                nz = np.flatnonzero(cnt)
                yield pd.DataFrame(
                    {
                        "slot": np.repeat(nz, d_sub),
                        "pos": np.tile(np.arange(d_sub), len(nz)),
                        "sm": S[nz].ravel(),
                        "n": np.repeat(cnt[nz], d_sub),
                    }
                )

        sums = (
            points.select(col)
            .mapInPandas(assign, "slot long, pos long, sm long, n long")
            .groupBy("slot", "pos")
            .agg(F.sum("sm").alias("sm"), F.sum("n").alias("n"))
        )
        CB = CB.copy()
        for r in sums.collect():  # k·dim metadata rows, not data
            s, code = divmod(r["slot"], k)
            CB[code, s, r["pos"]] = _div_round(int(r["sm"]), int(r["n"]))
    return CB


def _kmeans_rows(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
) -> list[tuple[int, list[int]]]:
    """Lloyd's k-means over quantized vectors: the coarse-quantizer
    upgrade for :func:`ivf_topk`. Returns the driver-side [(cent_id,
    cent_q)] list (ids 0..n_cells-1), i.e. the :func:`_collect_centroids`
    shape without a round trip through a DataFrame.

    Deterministic by construction: the init is the ``n_cells``
    lowest-id corpus vectors — any id domain works (TakeOrdered seed
    selection), and on a 0-based corpus this coincides with the plain
    IVF entry's ``id < n_cells`` rule — and the rounds are
    :func:`_lloyd` with M = 1 over the corpus quantized once.
    """
    # init = the n_cells LOWEST-DISTINCT-id vectors present, each id
    # represented by the lexicographically smallest quantized vector for
    # that id (struct-min, not dropDuplicates' arbitrary row) so
    # duplicate ids can neither consume seed slots nor make the
    # selection order-dependent. On a 0-based unique-id corpus this is
    # exactly ids 0..k-1, which is what the c28 DuckDB oracle replays.
    #
    # Fast path (r16): TakeOrdered by (id, vector) — per-partition local
    # top-k merged on the driver, NO exchange of the vector table (the
    # previous groupBy(id)+orderBy shuffled every quantized vector just
    # to pick k seed rows; guide §2.4). In the (id, q)-sorted stream the
    # first row of each id IS its struct-min representative, so taking
    # the first row per distinct id from the collected top-k is exact.
    # Only when duplicate ids consume slots (fewer than n_cells distinct
    # ids in the k rows) does the exact distinct-id path run.
    q_sorted = (
        _with_quant(corpus, id_col, vec_col, "neighbor")
        .select("neighbor_id", "neighbor_q")
        .orderBy("neighbor_id", "neighbor_q")
        .limit(n_cells)
        .collect()
    )
    cents = []
    _seen: set[int] = set()
    for r in q_sorted:
        i = int(r["neighbor_id"])
        if i not in _seen:
            _seen.add(i)
            cents.append((i, [int(x) for x in r["neighbor_q"]]))
    if len(cents) < n_cells and len(q_sorted) == n_cells:
        # duplicate ids present among the lowest rows: fall back to the
        # shuffle-based exact min-per-distinct-id selection
        seeds = (
            _with_quant(corpus, id_col, vec_col, "neighbor")
            .groupBy("neighbor_id")
            .agg(F.min(F.struct("neighbor_q")).alias("_rep"))
            .select(
                "neighbor_id", F.col("_rep.neighbor_q").alias("neighbor_q")
            )
            .orderBy("neighbor_id")
            .limit(n_cells)
        )
        cents = [
            (int(r["neighbor_id"]), [int(x) for x in r["neighbor_q"]])
            for r in seeds.select("neighbor_id", "neighbor_q").collect()
        ]
    cents.sort()
    seed_ids = [cid for cid, _ in cents]
    if len(seed_ids) != n_cells or len(set(seed_ids)) != n_cells:
        raise ValueError(
            f"k-means init needs n_cells={n_cells} distinct {id_col} seed "
            f"vectors; corpus yielded {len(set(seed_ids))} distinct ids "
            f"({seed_ids[:8]}{'...' if len(seed_ids) > 8 else ''})"
        )
    dim = len(cents[0][1])
    if n_cells * dim > MAX_LITERAL_CENTROID_CELLS:
        # same driver-metadata bound _collect_centroids enforces, checked
        # before the corpus is pinned and any round runs
        raise ValueError(
            f"n_cells*dim = {n_cells * dim} exceeds the collected-centroid "
            f"bound ({MAX_LITERAL_CENTROID_CELLS}); quantizers this large "
            "should keep the centroid table distributed and assign cells "
            "via an equi-join on a precomputed coarse key, not a "
            "driver-collected matrix"
        )
    # Quantize ONCE and persist: every Lloyd round re-reading and
    # re-quantizing the corpus pays the scan iters× over; the cached
    # (quantized ints) projection is the same bytes as the input
    # embeddings and is released when training ends.
    import numpy as np
    from pyspark.storagelevel import StorageLevel

    seeds = np.array([q for _, q in cents], dtype=np.int64)[:, None, :]
    quant = pin(
        corpus.select(quantize(vec_col).alias("q")),
        StorageLevel.MEMORY_AND_DISK,
    )
    try:
        C = _lloyd(quant, "q", seeds, iters)
    finally:
        release(quant)
    return list(enumerate(C[:, 0, :].tolist()))


def kmeans_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
) -> DataFrame:
    """DataFrame wrapper over :func:`_kmeans_rows` (see its doc): the
    trained (cent_id, cent_q, cent_norm) table for :func:`ivf_topk`'s
    ``centroids`` parameter. Internal callers that immediately need the
    driver-side row list (cell assignment closures) use
    :func:`_kmeans_rows` directly and skip the
    createDataFrame → collect round trip."""
    rows = _kmeans_rows(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells, iters=iters
    )
    out = corpus.sparkSession.createDataFrame(
        rows, "cent_id: long, cent_q: array<long>"
    )
    return out.withColumn("cent_norm", norm_sq_q("cent_q"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantizer cells →
    probe the ``nprobe`` nearest cells per query → exact re-rank of the
    probed cells' members only.

    The classic ANN index layout (FAISS-style IVF-Flat) as pure
    DataFrame ops:
    - **coarse centroids**: ``n_cells`` corpus vectors picked by a
      deterministic rule (lowest ids), or — with ``kmeans_iters > 0`` —
      refined by that many deterministic Lloyd iterations
      (:func:`kmeans_centroids`). The cell-assignment / probe / re-rank
      mechanics — the part that must scale — are identical either way;
      the fixed rule keeps the oracle-checked entry exactly replayable
      in ANSI SQL, the k-means path buys recall.
    - **assignment**: each corpus vector computes its argmin-L2 cell
      row-locally against the literal centroid array (|C|·n_cells
      integer ops in one map-only projection — no join, no row
      expansion, no shuffle; see :func:`assign_cells`).
    - **probe + re-rank**: each query routes to its ``nprobe`` nearest
      cells row-locally (:func:`probe_cells`), then scans only those
      cells' members: ~|Q| · nprobe/n_cells of the corpus instead of
      |Q|·|C|.

    100 TB: the corpus-side cell table is the stored "index" — write it
    partitioned by cell and the probe join becomes a partition-pruned
    scan; distances are exact int64 (deterministic), only the final
    cosine is a double.

    Cardinality caveat for the in-memory path: ``cell`` has only
    ``n_cells`` distinct values, so when BOTH join sides are large
    (a big query batch against a big corpus) a shuffled join on it
    caps out at n_cells reducers. Small query batches broadcast (AQE
    picks this — no corpus shuffle at all); large batches should go
    through :func:`query_ivf_index`, whose probe is a partition-pruned
    SCAN of the stored index rather than a shuffle on the cell key, or
    raise n_cells so cells outnumber cores.
    """
    if kmeans_iters > 0:
        # _kmeans_rows: the trained centroid list is already driver-side
        # metadata — no createDataFrame → collect round trip (one fewer
        # job on the training path)
        cent_rows = _kmeans_rows(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            iters=kmeans_iters,
        )
    else:
        cent_rows = _collect_centroids(
            _with_quant(
                corpus.filter(F.col(id_col) < n_cells), id_col, vec_col, "cent"
            )
        )
    cells = assign_cells(corpus, cent_rows, id_col=id_col, vec_col=vec_col)
    return _ivf_rank(
        cells, queries, cent_rows, nprobe=nprobe, k=k,
        id_col=id_col, vec_col=vec_col,
    )


def _ivf_rank(
    cells: DataFrame,
    queries: DataFrame,
    cent_rows: list[tuple[int, list[int]]],
    *,
    nprobe: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe + re-rank half of :func:`ivf_topk` over an ALREADY-built
    cell table — the seam that lets a probe sweep (:func:`ivf_probe_recall`)
    assign the corpus to cells once and reuse it for every nprobe,
    instead of re-running the |C|·n_cells assignment pass per sweep
    point (the probed cell sets are nested; the assignment is identical
    by construction)."""
    dim = len(cent_rows[0][1])
    probed = probe_cells(queries, cent_rows, nprobe, id_col=id_col, vec_col=vec_col)
    scored = (
        probed.join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q_unrolled(F.col("query_q"), F.col("neighbor_q"), dim),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def portable_hyperplane_signs(table: int, bit: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane for (table, bit): one sign per vector
    component, drawn from md5 so ANY engine (Spark expr, DuckDB oracle,
    numpy test) can re-derive the identical matrix from pure literals —
    no stored projection state, no engine-specific hash function.
    """
    import hashlib

    return [
        1 if int(hashlib.md5(f"{table}:{bit}:{i}".encode()).hexdigest()[0], 16) % 2
        else -1
        for i in range(dim)
    ]


def portable_projections(qvec: Column, *, n_tables: int, bits: int, dim: int) -> Column:
    """All ``n_tables × bits`` hyperplane projections of a quantized
    vector in one pass: a single nested-array literal of sign rows and
    one transform/aggregate template — exact BIGINT arithmetic, and a
    small analyzed tree (one aggregate node, not one per plane)."""
    planes = [
        portable_hyperplane_signs(t, b, dim)
        for t in range(n_tables)
        for b in range(bits)
    ]
    return F.transform(
        F.lit(planes),
        lambda plane: F.aggregate(
            F.zip_with(qvec, plane, lambda x, s: x * s.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def buckets_from_projections(projs: Column, *, n_tables: int, bits: int) -> Column:
    """array of per-table bucket ids from the flat projection array
    (tie ``proj == 0`` maps to bit 0 in every engine)."""
    out = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for b in range(bits):
            bucket = bucket + F.when(
                projs[t * bits + b] > 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        out.append(bucket)
    return F.array(*out)


def portable_sketch_arrow(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    prefix: str,
    n_tables: int,
    bits: int,
    dim: int,
) -> DataFrame:
    """Arrow-batched portable LSH sketching: (id, q, norm, tbl, bucket)
    with ``n_tables`` rows per vector.

    Bit-identical to the expression form (:func:`portable_projections` +
    :func:`buckets_from_projections`): the ±1 sign matrix re-derives
    from the same md5 literals, projections are exact int64 matmuls of
    the quantized vector (NumPy replica of :func:`quantize`'s rounding),
    and the ``proj == 0 → bit 0`` tie rule matches — so the DuckDB
    oracles that replay the buckets keep passing. Vectorized because the
    HOF form pays ~n_tables·bits·2·dim interpreted lambda steps per row
    (≈3000 at the 4×6×64 default — the dominant cost of the c27/c38
    entries); one int64 matmul per batch does the same arithmetic at
    native speed. Map-only: no join, no shuffle, no row expansion beyond
    the n_tables explode.
    """
    signs = [
        portable_hyperplane_signs(t, b, dim)
        for t in range(n_tables)
        for b in range(bits)
    ]
    return _sketch_arrow_with_signs(
        df, signs, id_col=id_col, vec_col=vec_col, prefix=prefix,
        n_tables=n_tables, bits=bits,
    )


def _sketch_arrow_with_signs(
    df: DataFrame,
    signs: list[list[int]],
    *,
    id_col: str,
    vec_col: str,
    prefix: str,
    n_tables: int,
    bits: int,
) -> DataFrame:
    """Shared Arrow sketching kernel over an arbitrary ±1 sign matrix
    (``n_tables*bits`` rows × dim): one int64 matmul per batch, bucket
    bit set when proj > 0 (ties → bit 0). Sign-source-agnostic — the
    portable path feeds md5-derived rows, the fast path feeds
    xxhash64-derived rows (:func:`xxhash_hyperplane_signs`)."""
    import numpy as np
    import pandas as pd

    S = np.array(signs, dtype=np.int64)  # (n_tables*bits, dim)
    weights = np.array([1 << b for b in range(bits)], dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _np_quantize(np.stack(pdf[vec_col].to_numpy()))
            norms = (M * M).sum(axis=1)
            projs = M @ S.T  # (n, n_tables*bits), exact int64
            bits3d = (projs > 0).reshape(len(pdf), n_tables, bits)
            buckets = (bits3d * weights[None, None, :]).sum(axis=2)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    f"{prefix}_id": np.repeat(ids, n_tables),
                    f"{prefix}_q": [m for m in M for _ in range(n_tables)],
                    f"{prefix}_norm": np.repeat(norms, n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int64), len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel,
        f"{prefix}_id long, {prefix}_q array<long>, "
        f"{prefix}_norm long, tbl int, bucket long",
    )


def lsh_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 6,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """:func:`lsh_topk` with md5-portable hyperplanes instead of
    xxhash64: identical bucket-join/re-rank shape, but the sign matrix
    re-derives from pure literals in ANY engine, so candidate generation
    replays bit-for-bit in the DuckDB oracle (the c24/c26/c27
    portability pattern applied to top-k). Use this variant when results
    must be reproducible outside Spark; the xxhash64 variant when sketch
    throughput matters more (one JVM hash vs dim multiplies per bit).

    Returns (query_id, neighbor_id, cosine, rank) — for queries whose
    buckets contain fewer than ``k`` candidates, fewer than ``k`` rows
    (the honest answer; recall follows :func:`lsh_pair_recall`).
    """
    if dim is None:
        dim = corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"]

    q_sk = portable_sketch_arrow(
        queries, id_col=id_col, vec_col=vec_col, prefix="query",
        n_tables=n_tables, bits=bits, dim=dim,
    )
    c_sk = portable_sketch_arrow(
        corpus, id_col=id_col, vec_col=vec_col, prefix="neighbor",
        n_tables=n_tables, bits=bits, dim=dim,
    )
    # Same narrow-distinct shape as :func:`lsh_topk`: dedup id pairs
    # only, re-rank after re-joining the quantized vectors (computed by
    # the expression-form quantizer, bit-identical to the Arrow sketch
    # kernel's) — the distinct exchange hashes 16-byte pairs, not
    # dim-sized arrays.
    cand = (
        q_sk.select("query_id", "tbl", "bucket")
        .join(c_sk.select("neighbor_id", "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = _with_quant(queries, id_col, vec_col, "query")
    c = _with_quant(corpus, id_col, vec_col, "neighbor")
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q("query_q", "neighbor_q"),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# Below this cosine, hyperplane-LSH per-pair recall at the default
# 6-bit × 4-table setting drops under ~0.5 — the operator refuses to
# silently miss pairs there and auto-selects the exact generator.
AUTO_EXACT_BELOW_MICROCOS = 900_000


def lsh_pair_recall(cosine: float, *, bits: int = 6, n_tables: int = 4) -> float:
    """Collision probability of a pair at ``cosine`` under random-
    hyperplane LSH: ``1 - (1 - (1 - θ/π)^bits)^n_tables``. The honest
    recall curve for :func:`embedding_near_duplicates`'s approximate
    path — e.g. ≈0.95 at cosine 0.95 and only ≈0.23 at cosine 0.4 with
    the 6-bit × 4-table default.
    """
    import math

    theta = math.acos(max(-1.0, min(1.0, cosine)))
    return 1.0 - (1.0 - (1.0 - theta / math.pi) ** bits) ** n_tables


def embedding_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_microcos: int = 950_000,
    exact: bool | None = None,
    bits: int = 6,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold (threshold in millionths so the cut
    is an integer-ish comparison on a deterministic double).

    Two pair generators; ``exact=None`` (default) auto-selects:

    - **LSH-bucketed** (``exact=False``; auto when ``threshold_microcos
      >= 900_000``) — the scale path. Portable sign-bit sketches
      (``n_tables`` independent ``bits``-bit tables) bucket the corpus;
      candidates come from an equi-join on (table, bucket) keys — never
      an all-pairs stage — then the exact quantized cosine verifies each
      candidate. Precision is exact (the verify filter) but recall is
      APPROXIMATE: per-pair recall follows :func:`lsh_pair_recall` —
      ≈0.95 at cosine 0.95 with the defaults, collapsing to ≈0.23 at
      cosine 0.4. Raise ``n_tables`` to push recall up.
    - **Exact all-pairs** (``exact=True``; auto when the threshold is
      below 0.9 cosine, where LSH recall is honestly poor) — the |rows|²
      brute-force scan. The exactness baseline for tests/oracles and for
      low thresholds; never the 100 TB path — at scale, pre-cluster or
      raise the threshold instead.

    100 TB (LSH path): sketches cost one narrow projection per row; the
    candidate join shuffles on (tbl, bucket) only; verification touches
    candidate pairs only. The hyperplanes are pure literals (md5-derived
    ±1), so an external oracle can replay candidate generation
    bit-for-bit.
    """
    from .dedup import rebalance_for_compute

    if exact is None:
        exact = threshold_microcos < AUTO_EXACT_BELOW_MICROCOS
    df = rebalance_for_compute(df)
    a = _with_quant(df, id_col, vec_col, "a")
    b = _with_quant(df, id_col, vec_col, "b")
    if exact:
        pairs = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
        cos = cosine_q(
            dot_q("a_q", "b_q"), F.col("a_norm"), F.col("b_norm")
        )
    else:
        if dim is None:
            dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
        from pyspark.storagelevel import StorageLevel

        # persisted: the sketch feeds BOTH sides of the bucket self-join;
        # without the persist the Arrow kernel executes twice (no
        # ReuseExchange below a shuffle for map-only subtrees)
        sk = pin(
            portable_sketch_arrow(
                df, id_col=id_col, vec_col=vec_col, prefix="s",
                n_tables=n_tables, bits=bits, dim=dim,
            ).select("s_id", "tbl", "bucket"),
            StorageLevel.MEMORY_AND_DISK,
        )
        cand = (
            sk.alias("l")
            .join(sk.alias("r"), ["tbl", "bucket"])
            .filter(F.col("l.s_id") < F.col("r.s_id"))
            .select(
                F.col("l.s_id").alias("a_id"), F.col("r.s_id").alias("b_id")
            )
            .distinct()
        )
        pairs = cand.join(a, "a_id").join(b, "b_id")
        # HOF dot, not dot_q_unrolled: at candidate-set row counts the
        # unrolled form's per-query codegen compile outweighs its faster
        # per-row arithmetic (measured 3.9 s vs 2.0 s on 132k pairs)
        cos = cosine_q(
            dot_q("a_q", "b_q"), F.col("a_norm"), F.col("b_norm")
        )
    return (
        pairs.select(
            F.col("a_id").alias("id_a"),
            F.col("b_id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") * 1_000_000 >= threshold_microcos)
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    kmeans_iters: int = 0,
) -> DataFrame:
    """Materialize the IVF index as a cell-partitioned parquet table:
    each corpus vector stored (quantized + pre-normed) under
    ``path/cell=<i>/``. Returns the centroid table (cent_id, cent_q,
    cent_norm) — persist it next to the index; it is the k×dim metadata
    needed to route queries.

    This is the "stored index" half of the IVF design: at 100 TB the
    assignment job runs once — and is a map-only pass (row-local argmin
    against the literal centroid array, zero exchanges before the
    partitioned write; see :func:`assign_cells`) — and every subsequent
    query batch reads ONLY its probed cells — Spark prunes `cell=`
    partitions from the scan (asserted in tests via the scan's
    partition filters), so probe I/O is nprobe/n_cells of the corpus
    instead of a full scan.
    """
    if kmeans_iters > 0:
        cents = kmeans_centroids(
            corpus, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, iters=kmeans_iters,
        )
    else:
        cents = _with_quant(
            corpus.filter(F.col(id_col) < n_cells), id_col, vec_col, "cent"
        )
    cells = assign_cells(
        corpus, _collect_centroids(cents), id_col=id_col, vec_col=vec_col
    )
    cells.write.mode("overwrite").partitionBy("cell").parquet(path)
    return cents


def query_ivf_index(
    spark,
    path: str,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k against a stored IVF index (see :func:`build_ivf_index`).

    Routes each query to its ``nprobe`` nearest centroids row-locally
    (:func:`probe_cells` — no join, no window), then joins against the
    index ON THE CELL KEY — because the index is partitioned by
    ``cell``, Catalyst prunes every unprobed ``cell=`` directory from
    the parquet scan (dynamic partition pruning at cluster scale; with a
    small probe set the cell filter is even static). Same exact-integer
    re-rank as :func:`ivf_topk`.
    """
    cent_rows = _collect_centroids(centroids)
    dim = len(cent_rows[0][1])
    probed = probe_cells(queries, cent_rows, nprobe, id_col=id_col, vec_col=vec_col)
    index = spark.read.parquet(path)
    scored = (
        probed.join(index, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q_unrolled(F.col("query_q"), F.col("neighbor_q"), dim),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def append_to_ivf_index(
    new_batch: DataFrame,
    path: str,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally extend a stored IVF index (:func:`build_ivf_index`)
    with a new vector batch — the daily-ingest maintenance operation,
    WITHOUT rebuilding or rewriting the existing index.

    The batch is cell-assigned against the SAME frozen centroid table
    the index was built with (an index's routing geometry must never
    drift between builds, or stored vectors become unreachable by
    probes), then appended under the matching ``cell=`` partitions.
    Append touches only the new rows: a map-only Arrow assignment pass
    plus a partitioned append — existing parquet files are untouched,
    and subsequent :func:`query_ivf_index` probes see old + new rows in
    one pruned scan. At 100 TB this is how the index keeps up with
    ingest: the build's full-corpus pass runs once, every increment
    costs O(batch). Re-run :func:`build_ivf_index` only when drift
    makes the frozen centroids a poor quantizer (the c54 incremental-
    rollup trade-off, applied to ANN).
    """
    cells = assign_cells(
        new_batch, _collect_centroids(centroids), id_col=id_col, vec_col=vec_col
    )
    cells.write.mode("append").partitionBy("cell").parquet(path)


def _windowed_cell_pairs(ranked: DataFrame, pair_window: int) -> DataFrame:
    """Candidate pairs for the cell-capped SemDeDup path: rows ranked
    ``rnk`` within their cell pair ONLY with the ``pair_window``
    rank-predecessors — a HARD bound of ``pop × pair_window`` pairs
    per cell regardless of how similar the cell's members are (the
    full scan is pop², unbounded by anything but the cell size).

    Banded equi-join, no window over the data: with block =
    ``(rnk-1) div w``, a predecessor within w ranks lives in the same
    block or the previous one, so the a-side (predecessor) explodes to
    its own block and the next and the join is an equi-join on
    ``(cell, blk)`` followed by the exact rank-range filter. Returns
    (cell, a_id/a_q/a_norm/a_rnk, b_id/b_q/b_norm/b_rnk, cos_ok input
    columns) for the caller's threshold filter."""
    w = int(pair_window)
    a = ranked.select(
        "cell",
        F.col("neighbor_id").alias("a_id"),
        F.col("neighbor_q").alias("a_q"),
        F.col("neighbor_norm").alias("a_norm"),
        F.col("rnk").alias("a_rnk"),
    ).withColumn(
        "blk",
        F.explode(
            F.array(
                ((F.col("a_rnk") - 1) / w).cast("long"),
                ((F.col("a_rnk") - 1) / w).cast("long") + 1,
            )
        ),
    )
    b = ranked.select(
        "cell",
        F.col("neighbor_id").alias("b_id"),
        F.col("neighbor_q").alias("b_q"),
        F.col("neighbor_norm").alias("b_norm"),
        F.col("rnk").alias("b_rnk"),
        ((F.col("rnk") - 1) / w).cast("long").alias("blk"),
    )
    return a.join(b, ["cell", "blk"]).filter(
        (F.col("b_rnk") > F.col("a_rnk"))
        & (F.col("b_rnk") <= F.col("a_rnk") + w)
    )


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold_microcos: int = 400_000,
    eager: bool = True,
    max_cell_rows: int | None = None,
    pair_window: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare pairs ONLY
    within each cluster, and drop every vector that has a more-similar-
    than-threshold neighbor with a smaller id (the paper keeps one
    representative per semantic duplicate group; lowest id is the
    deterministic choice). Returns the SURVIVORS as (vec_id, cell).

    This is the embedding-space complement of lexical near-dup (c02-c04):
    it removes semantically redundant training examples even when their
    text differs. Unlike :func:`embedding_near_duplicates`'s LSH path
    (recall collapses below ~0.9 cosine), the cluster-bounded scan stays
    EXACT at any threshold — the quadratic term is bounded by cell
    sizes, not corpus size.

    100 TB: cell assignment is the map-only Arrow pass (zero exchanges);
    the pair stage shuffles on the cell key and its output is
    sum(cell_i²) pairs — with balanced k-means cells that is corpus²/k,
    tuned by ``n_cells``, never an unbounded cross-join. The drop set
    is id-only (16 B/row) and the final filter is a broadcast-able
    left-anti join. Deterministic: exact integer dot products, fixed
    tie rule.

    ``eager`` (default): the survivors — (id, cell), 16 B/row — are
    materialized via localCheckpoint while the cell table is cached
    (every stage reads the cache, the pipeline runs once) and the
    cell cache is released before returning, so long-lived sessions
    don't accumulate cached embedding tables. ``eager=False`` returns
    the lazy plan with the cell table still pinned — for plan audits,
    or callers that compose further; ``release_pins`` frees it.

    ``max_cell_rows`` is the 100 TB cell-SKEW guard (VERDICT r11 item
    3): "bounded by cell sizes" is corpus²/k only for BALANCED cells —
    one giant semantic cluster re-creates the quadratic. When set,
    cells whose population exceeds the cap switch to a windowed pair
    scan: members are ranked within the cell by (L2-distance-to-
    centroid, id) — the rank rides
    :func:`..operators.sampling.grouped_cumsum`, so no per-cell
    single-task window — and each member is compared ONLY to its
    ``pair_window`` rank-predecessors (a banded equi-join on rank
    blocks), a HARD ``pop × pair_window`` pair bound. Identical or
    near-identical members are rank-adjacent (distance ties break by
    id), so duplicate chains still collapse to one survivor; the
    recall trade is that a ≥θ pair further than ``pair_window`` apart
    in the distance ordering is missed — the documented price of the
    bound. Cells at or under the cap keep the exact full pair scan;
    the drop rule there stays "larger id loses", while capped cells
    drop the later-in-rank member (the first representative in scan
    order survives). Deterministic and engine-replayable end to end.
    """
    cents = _with_quant(
        df.filter(F.col(id_col) < n_cells), id_col, vec_col, "cent"
    )
    from pyspark.storagelevel import StorageLevel

    cent_rows = _collect_centroids(cents)
    dim = len(cent_rows[0][1])
    # persisted: the Arrow cell pass feeds BOTH pair-join sides and the
    # final anti-join — without the persist the kernel executes three
    # times (the embedding_near_duplicates sketch-persist rationale)
    cells = pin(
        assign_cells(df, cent_rows, id_col=id_col, vec_col=vec_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    a = cells.select(
        F.col("neighbor_id").alias("a_id"),
        F.col("neighbor_q").alias("a_q"),
        F.col("neighbor_norm").alias("a_norm"),
        "cell",
    )
    b = cells.select(
        F.col("neighbor_id").alias("b_id"),
        F.col("neighbor_q").alias("b_q"),
        F.col("neighbor_norm").alias("b_norm"),
        "cell",
    )
    def _cos_ok(cols_a: str, cols_b: str):
        # r16: HOF dot, not dot_q_unrolled — measured 2.3x faster here
        # (c61 4.75s -> 2.08s, c191 5.23s -> 3.49s): at dim 64 the
        # unrolled balanced product tree pays a per-plan codegen/
        # planning tax that dwarfs the interpreted HOF's per-row cost
        # (the embedding_near_duplicates comment's finding). Exact
        # int64 sum either way - identical values.
        return (
            cosine_q(
                dot_q(f"{cols_a}_q", f"{cols_b}_q"),
                F.col(f"{cols_a}_norm"),
                F.col(f"{cols_b}_norm"),
            )
            >= threshold_microcos / 1_000_000
        )

    if max_cell_rows is None:
        over: list[int] = []
    else:
        # ONE tiny aggregate: n_cells rows of metadata to the driver
        over = sorted(
            int(r["cell"])
            for r in cells.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("pop"))
            .collect()
            if r["pop"] > max_cell_rows
        )
    small_pred = ~F.col("cell").isin(over) if over else F.lit(True)
    drops = (
        a.filter(small_pred)
        .join(b.filter(small_pred), "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(_cos_ok("a", "b"))
        .select(F.col("b_id").alias("_drop_id"))
    )
    if over:
        from .sampling import grouped_cumsum

        cent_df = F.broadcast(
            df.sparkSession.createDataFrame(
                [
                    (cid, cq, sum(x * x for x in cq))
                    for cid, cq in cent_rows
                ],
                "cell long, cent_q array<bigint>, cent_norm bigint",
            )
        )
        big = (
            cells.filter(F.col("cell").isin(over))
            .join(cent_df, "cell")
            .withColumn(
                "dist",
                F.col("neighbor_norm")
                - 2 * dot_q_unrolled(F.col("neighbor_q"), F.col("cent_q"), dim)
                + F.col("cent_norm"),
            )
            .drop("cent_q", "cent_norm")
            .withColumn("one", F.lit(1).cast("long"))
        )
        cum = grouped_cumsum(big, ["cell"], ["dist", "neighbor_id"], ["one"])
        ranked = cum.withColumnRenamed("one_cum", "rnk")
        drops_big = (
            _windowed_cell_pairs(ranked, pair_window)
            .filter(_cos_ok("a", "b"))
            .select(F.col("b_id").alias("_drop_id"))
        )
        drops = drops.union(drops_big)
    drops = drops.distinct()
    # Materialize the SURVIVORS eagerly while the cell table is still
    # cached — the pair scan and the anti-join each read the cache, the
    # whole pipeline runs exactly once — then release the cache before
    # returning: a long-lived session calling semantic_dedup repeatedly
    # must not accumulate cached embedding tables. The checkpointed
    # result is (id, cell) only, 16 B/row — narrow even at corpus
    # scale, and orders of magnitude smaller than the embedding cache
    # it replaces.
    survivors = cells.join(
        drops, cells["neighbor_id"] == drops["_drop_id"], "left_anti"
    ).select(F.col("neighbor_id").alias(id_col), "cell")
    if not eager:
        return survivors  # full lineage visible, for plan audits
    out = checkpoint(survivors)
    release(cells)
    return out


def _pq_codebook(
    corpus: DataFrame, id_col: str, vec_col: str, n_subspaces: int, n_codes: int
):
    """Fixed-rule PQ codebook: the (n_codes, M, d_sub) int64 matrix whose
    code ``c`` in subspace ``s`` is the s-th subvector of the corpus
    vector with id ``c`` — driver-side metadata, oracle-replayable."""
    import numpy as np

    cb_rows = sorted(
        (int(r["cent_id"]), [int(x) for x in r["cent_q"]])
        for r in _with_quant(
            corpus.filter(F.col(id_col) < n_codes), id_col, vec_col, "cent"
        )
        .select("cent_id", "cent_q")
        .collect()
    )
    if len(cb_rows) != n_codes:
        raise ValueError(
            f"codebook needs ids 0..{n_codes - 1} present; got {len(cb_rows)}"
        )
    dim = len(cb_rows[0][1])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    return np.array([cq for _, cq in cb_rows], dtype=np.int64).reshape(
        n_codes, n_subspaces, dim // n_subspaces
    )


def _pq_query_tables(
    queries: DataFrame, id_col: str, vec_col: str, CB, cents=None
):
    """Collected, id-sorted query batch → (qids, ADC tables): the
    :func:`_pq_dist` (n_queries, M, n_codes) lookup tables of the
    queries, or — given the (n_cells, dim) coarse centroids ``cents`` —
    the (n_queries, n_cells, M, n_codes) tables of each query's residual
    against every cell."""
    import numpy as np

    q_rows = sorted(
        (int(r["query_id"]), [int(x) for x in r["query_q"]])
        for r in _with_quant(queries, id_col, vec_col, "query")
        .select("query_id", "query_q")
        .collect()
    )
    if not q_rows:
        raise ValueError("empty query batch")
    Q = np.array([qv for _, qv in q_rows], dtype=np.int64)
    qids = np.array([qid for qid, _ in q_rows], dtype=np.int64)
    if cents is None:
        return qids, _pq_dist(Q, CB)
    n_codes, n_subspaces, _ = CB.shape
    n_tab = len(Q) * len(cents) * n_subspaces * n_codes
    if n_tab > MAX_LITERAL_CENTROID_CELLS * 64:
        raise ValueError(
            f"per-(query, cell) ADC tables hold {n_tab} entries — beyond the "
            "driver-metadata bound; batch the queries, or precompute tables "
            "for the probed cells only (nprobe/n_cells of this size)"
        )
    QR = (Q[:, None, :] - cents[None, :, :]).reshape(-1, Q.shape[1])
    return qids, _pq_dist(QR, CB).reshape(len(Q), len(cents), n_subspaces, n_codes)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the FAISS-PQ memory-compression path that completes the
    family next to brute-force (c06), LSH (c07/c38), and IVF
    (c17/c28/c37): each corpus vector is stored as ``n_subspaces``
    one-byte-ish codes instead of ``dim`` floats (~dim·4 / M bytes →
    32× at dim 64, M 8), and query-time distance is a table lookup per
    subspace, not a dot product.

    Codebook (fixed rule, oracle-replayable like c17's cells): the
    sub-centroid ``c`` of subspace ``s`` is the s-th subvector of the
    corpus vector with id ``c`` (ids < n_codes), in the exact
    quantized-integer domain. Encoding takes argmin sub-L2 per
    subspace (ties → lowest code id); ADC distance is the exact
    integer sum of per-subspace table entries, so the whole pipeline
    replays bit-for-bit in SQL. Returns (query_id, neighbor_id,
    adc_dist2, rank), rank ≤ k by (adc asc, id asc) — APPROXIMATE by
    construction: ADC measures distance to the RECONSTRUCTED corpus
    vector; the honest error is the quantization residual.

    Scale: encoding is one map-only Arrow pass (same shape as
    :func:`assign_cells`); scoring scans the CODES (M int64s/row, not
    dim), with the query distance tables (n_queries × M × n_codes
    ints — metadata) living in the kernel closure; top-k is a per-query
    window. Compose with IVF cell pruning for the full IVF-PQ config —
    this operator is the compression half. The query batch is
    collected driver-side (the FAISS client contract: queries are the
    small side); corpus data never is.
    """
    import numpy as np
    import pandas as pd

    CB = _pq_codebook(corpus, id_col, vec_col, n_subspaces, n_codes)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _np_quantize(np.stack(pdf[vec_col].to_numpy()))
            codes = _pq_dist(X, CB).argmin(axis=2)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "codes": list(codes),
                }
            )

    encoded = corpus.select(id_col, vec_col).mapInPandas(
        encode, "neighbor_id long, codes array<long>"
    )

    qids, T = _pq_query_tables(queries, id_col, vec_col, CB)

    def score(batches):
        m_idx = np.arange(n_subspaces)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            nids = pdf["neighbor_id"].to_numpy()
            frames = []
            for qi in range(len(qids)):
                adc = T[qi][m_idx[None, :], codes].sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(nids), qids[qi]),
                            "neighbor_id": nids,
                            "adc_dist2": adc,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = encoded.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist2 long"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ: the production FAISS configuration — IVF's coarse cells
    prune WHICH vectors are scored (nprobe/n_cells of the corpus) and
    PQ's codes compress WHAT is scored (M int64 codes instead of dim
    floats) — composing the two independently-verified halves (c17's
    cell routing, c71's ADC) into one pipeline.

    Both quantizers use the fixed oracle-replayable rules (coarse
    centroids = full vectors with id < n_cells; PQ codebook = subvectors
    of ids < n_codes). Codes here encode the RAW vector, not the
    residual — the honest simplification; production IVF-PQ encodes
    ``x − centroid`` for a tighter codebook, an integer subtraction
    away with the same plan shape.

    Scale: cell assignment and PQ encoding are two chained Arrow
    kernels in ONE shuffle-free pass over the corpus scan (same stage,
    no exchange between them); the probe join is the c17 cell equi-join
    but carrying only (id, cell, codes) rows (~70 B, not vectors); ADC
    tables are kernel-closure metadata. Per query the work is
    nprobe/n_cells of the corpus × a table lookup — the product of both
    savings.
    """
    import numpy as np
    import pandas as pd

    cents = _with_quant(
        corpus.filter(F.col(id_col) < n_cells), id_col, vec_col, "cent"
    )
    cent_rows = _collect_centroids(cents)
    CB = _pq_codebook(corpus, id_col, vec_col, n_subspaces, n_codes)
    cells = assign_cells(corpus, cent_rows, id_col=id_col, vec_col=vec_col)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["neighbor_q"].to_numpy()).astype(np.int64)
            codes = _pq_dist(X, CB).argmin(axis=2)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cell": pdf["cell"].to_numpy(),
                    "codes": list(codes),
                }
            )

    encoded = cells.mapInPandas(
        encode, "neighbor_id long, cell long, codes array<long>"
    )
    probed = probe_cells(
        queries, cent_rows, nprobe, id_col=id_col, vec_col=vec_col
    ).select("query_id", "cell")
    qids, T = _pq_query_tables(queries, id_col, vec_col, CB)
    qpos = {int(q): i for i, q in enumerate(qids)}

    def score(batches):
        m_idx = np.arange(n_subspaces)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            qix = pdf["query_id"].map(qpos).to_numpy(dtype=np.int64)
            adc = T[qix[:, None], m_idx[None, :], codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "adc_dist2": adc,
                }
            )

    scored = (
        probed.join(encoded, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "codes")
        .mapInPandas(score, "query_id long, neighbor_id long, adc_dist2 long")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def _residuals(
    cells: DataFrame, CENT, *, prefix: str = "neighbor"
) -> DataFrame:
    """Cell-assigned vectors → (id, cell, rv) residual rows, where
    ``rv = x_q − centroid_q(cell)`` in exact int64 — one map-only Arrow
    kernel chained onto the assignment pass (same stage, no exchange)."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[f"{prefix}_q"].to_numpy()).astype(np.int64)
            cell_ix = pdf["cell"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[f"{prefix}_id"].to_numpy(),
                    "cell": cell_ix,
                    "rv": list(X - CENT[cell_ix]),
                }
            )

    return cells.mapInPandas(kernel, "vec_id long, cell long, rv array<long>")


def train_pq_codebook(
    residuals: DataFrame,
    *,
    id_col: str = "vec_id",
    rv_col: str = "rv",
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 2,
):
    """Per-subspace PQ codebook training: :func:`_lloyd` with M =
    ``n_subspaces``, from the subvectors of the ``n_codes`` lowest-id
    input rows. Returns the (n_codes, M, d_sub) int64 codebook matrix +
    d_sub; ``iters=0`` degenerates to the fixed-rule codebook.
    """
    import numpy as np

    # init = the n_codes LOWEST-id residual rows present (ids are unique
    # per vector, so orderBy+limit is deterministic). On a dense 0-based
    # corpus this is exactly ids 0..n_codes-1 (the c74 oracle's rule);
    # stated this way it also works on a hash-sampled training subset
    # whose surviving ids are arbitrary (c82).
    init_rows = sorted(
        (int(r[id_col]), [int(x) for x in r[rv_col]])
        for r in residuals.select(id_col, rv_col)
        .orderBy(id_col)
        .limit(n_codes)
        .collect()
    )
    if len(init_rows) != n_codes:
        raise ValueError(
            f"codebook init needs {n_codes} rows; got {len(init_rows)}"
        )
    dim = len(init_rows[0][1])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    d_sub = dim // n_subspaces
    CB = np.array([q for _, q in init_rows], dtype=np.int64).reshape(
        n_codes, n_subspaces, d_sub
    )
    return _lloyd(residuals, rv_col, CB, iters), d_sub


def ivf_pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    train_fraction: float | None = None,
    train_salt: str = "v1",
) -> DataFrame:
    """Residual-encoded IVF-PQ with trained quantizers — FAISS's
    production "IVFADC" configuration (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", IEEE TPAMI 2011,
    §IV.A), refining :func:`ivf_pq_topk`: PQ codes encode the RESIDUAL
    ``r = x − centroid(cell(x))``, the coarse centroids are k-means
    means (``coarse_iters`` Lloyd steps, :func:`kmeans_centroids`),
    and the per-subspace codebooks are trained on the residuals
    (``pq_iters`` integer Lloyd steps, :func:`train_pq_codebook`).

    Why all three pieces: residuals against TRAINED cell means center
    near zero with smaller spread than raw vectors, and a codebook
    TRAINED on that residual distribution quantizes it with much lower
    reconstruction error than any fixed rule — measured on the test
    fixtures, trained-residual recall@5 beats trained-raw by ~1.5×
    (pinned in tests/test_similarity.py); with untrained fixed-rule
    quantizers the residual trick does NOT pay (near-orthogonal unit
    vectors make ||x − c|| > ||x||), which is why c72 documents raw
    encoding and this operator owns the trained path.

    Query-time ADC is per (query, PROBED cell): the query's residual
    against that cell's centroid is tabled against the codebook, so
    distance ≈ ||(q − cent) − code(x − cent)||² — both sides centered
    on the same centroid. Every distance is :func:`_pq_dist` and both
    trainings are :func:`_lloyd`, so training AND search replay
    bit-for-bit in the DuckDB oracle (c74).

    Scale: the search plan is identical to :func:`ivf_pq_topk` —
    assignment + residual + encoding are chained Arrow kernels in one
    shuffle-free corpus pass, the probe join
    carries (id, cell, codes) rows, and the per-(query, cell) ADC
    tables are kernel-closure metadata, guarded below.

    ``train_fraction`` (c82, FAISS practice — faiss trains any index on
    ``min(n, k * 256)``-ish samples and encodes the full corpus once):
    when set, BOTH training loops (coarse Lloyd and residual codebook
    Lloyd) run only on the deterministic salted-md5 sample of the
    corpus (operators/sampling.py — portable, partition-independent,
    so the DuckDB oracle replays the same subset), while assignment,
    residuals, encoding, and search still cover every corpus row.
    Training cost then scales with the SAMPLE (each Lloyd pass scans
    fraction·N rows instead of N — at 100 TB that is the difference
    between 4 extra full-corpus scans per build and 4 scans of a
    bounded sample); init seeds are the lowest sampled ids.

    Without ``train_fraction``, Lloyd passes re-read the full corpus
    per iteration (same trade as MLlib k-means caching).
    """
    import numpy as np
    import pandas as pd

    from .sampling import deterministic_sample

    train_corpus = (
        corpus
        if train_fraction is None
        else deterministic_sample(corpus, id_col, train_fraction, train_salt)
    )
    if coarse_iters > 0 or train_fraction is not None:
        # _kmeans_rows: centroid list stays driver-side — no
        # createDataFrame → collect round trip (one fewer job per build)
        cent_rows = _kmeans_rows(
            train_corpus, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, iters=coarse_iters,
        )
    else:
        cent_rows = _collect_centroids(
            _with_quant(
                corpus.filter(F.col(id_col) < n_cells), id_col, vec_col, "cent"
            )
        )
    if len(cent_rows) != n_cells or cent_rows[-1][0] != n_cells - 1:
        raise ValueError(f"coarse quantizer needs cell ids 0..{n_cells - 1}")
    CENT = np.array([cq for _, cq in cent_rows], dtype=np.int64)  # id-sorted
    dim = CENT.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")

    from pyspark.storagelevel import StorageLevel

    cells = assign_cells(corpus, cent_rows, id_col=id_col, vec_col=vec_col)
    # persisted: the residual table feeds the codebook init collect,
    # every training iteration, and the final encode — without the
    # persist the scan+quantize+assign+residual chain re-executes
    # pq_iters+2 times. Released below once the (tiny, ≤ n_queries·k
    # rows) result is materialized, so repeated calls in a long session
    # do not accumulate cached corpus tables (the c61 pattern).
    residuals = pin(_residuals(cells, CENT), StorageLevel.MEMORY_AND_DISK)
    # codebook training input: the SAME deterministic sample, filtered
    # from the already-persisted full residual table (no extra scan)
    train_res = (
        residuals
        if train_fraction is None
        else deterministic_sample(residuals, "vec_id", train_fraction, train_salt)
    )
    R, _ = train_pq_codebook(
        train_res, n_subspaces=n_subspaces, n_codes=n_codes, iters=pq_iters
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            res = np.stack(pdf["rv"].to_numpy()).astype(np.int64)
            codes = _pq_dist(res, R).argmin(axis=2)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "cell": pdf["cell"].to_numpy(),
                    "codes": list(codes),
                }
            )

    encoded = residuals.mapInPandas(
        encode, "neighbor_id long, cell long, codes array<long>"
    )

    # T[qi, cell, s, c] = ||query-residual subvector − codebook entry||²
    qids, T = _pq_query_tables(queries, id_col, vec_col, R, CENT)
    qpos = {int(q): i for i, q in enumerate(qids)}

    probed = probe_cells(
        queries, cent_rows, nprobe, id_col=id_col, vec_col=vec_col
    ).select("query_id", "cell")

    def score(batches):
        m_idx = np.arange(n_subspaces)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            qix = pdf["query_id"].map(qpos).to_numpy(dtype=np.int64)
            cellv = pdf["cell"].to_numpy(dtype=np.int64)
            adc = T[qix[:, None], cellv[:, None], m_idx[None, :], codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "adc_dist2": adc,
                }
            )

    scored = (
        probed.join(encoded, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "cell", "neighbor_id", "codes")
        .mapInPandas(score, "query_id long, neighbor_id long, adc_dist2 long")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("neighbor_id")
    )
    # eager: the result is ≤ n_queries·k rows — materializing it here
    # lets the corpus-sized residual cache be released immediately
    out = checkpoint(
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    release(residuals)
    return out


def ivf_pq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
    refine_factor: int = 4,
    coarse_iters: int = 2,
    pq_iters: int = 2,
) -> DataFrame:
    """IVF-PQ + exact re-rank — FAISS's ``IndexRefineFlat`` pattern, the
    last piece of the production ANN stack: the compressed index
    (:func:`ivf_pq_residual_topk`) generates ``k·refine_factor``
    candidates per query by approximate ADC distance, then ONLY those
    candidates are re-scored against their full-precision vectors and
    the exact-cosine top-k is returned. ADC's quantization error decides
    which ~R rows get read, never the final ranking — recall converges
    to the probed-cells ceiling as refine_factor grows, while the full
    vectors are fetched for R rows per query instead of the whole
    corpus.

    Returns (query_id, neighbor_id, cosine, rank ≤ k) — the same
    contract as :func:`brute_force_topk`, which is the fallback this
    replaces at scale.

    100 TB: the candidate table is n_queries·R ids (tiny) — it
    BROADCASTS against the corpus vector table, so the refine step is
    one broadcast-hash join + R exact dot products per query; no
    shuffle of corpus vectors, no second index. Deterministic: ADC
    candidate cut and final cosine rank both tie-break on neighbor_id.
    """
    cand = ivf_pq_residual_topk(
        corpus, queries,
        id_col=id_col, vec_col=vec_col,
        n_cells=n_cells, nprobe=nprobe,
        n_subspaces=n_subspaces, n_codes=n_codes,
        k=k * refine_factor,
        coarse_iters=coarse_iters, pq_iters=pq_iters,
    ).select("query_id", "neighbor_id")
    c = _with_quant(corpus, id_col, vec_col, "neighbor")
    q = _with_quant(queries, id_col, vec_col, "query")
    scored = (
        F.broadcast(cand)
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q("query_q", "neighbor_q"),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def cross_corpus_near_duplicates(
    new_df: DataFrame,
    ref_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_microcos: int = 950_000,
    bits: int = 6,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Incremental (cross-corpus) embedding dedup: pairs (new, ref) with
    cosine >= threshold, where ``new_df`` is an incoming batch and
    ``ref_df`` the existing corpus — the dedup-the-new-crawl-against-
    what-we-already-have step of a continuously growing training set.
    The self-join variant is :func:`embedding_near_duplicates`.

    Candidates come from the portable md5-hyperplane bucket equi-join
    on (table, bucket) — never a new x ref product — deduped as id
    pairs only (the narrow-distinct shape), then verified with the
    exact quantized cosine. Precision is exact; recall follows
    :func:`lsh_pair_recall` at the chosen operating point.

    100 TB: the reference side is the big relation — it is sketched in
    one Arrow map-only pass and shuffled only on (tbl, bucket); the new
    batch is typically orders of magnitude smaller, so its side of the
    join broadcasts or hashes cheaply. State between batches is
    nothing: the sketch is recomputed per run (or persist the reference
    sketch table once and reuse — same columns, same join).
    """
    from .dedup import rebalance_for_compute

    if dim is None:
        dim = ref_df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    new_df = rebalance_for_compute(new_df)
    ref_df = rebalance_for_compute(ref_df)
    n_sk = portable_sketch_arrow(
        new_df, id_col=id_col, vec_col=vec_col, prefix="new",
        n_tables=n_tables, bits=bits, dim=dim,
    )
    r_sk = portable_sketch_arrow(
        ref_df, id_col=id_col, vec_col=vec_col, prefix="ref",
        n_tables=n_tables, bits=bits, dim=dim,
    )
    cand = (
        n_sk.select("new_id", "tbl", "bucket")
        .join(r_sk.select("ref_id", "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("new_id") != F.col("ref_id"))
        .select("new_id", "ref_id")
        .distinct()
    )
    a = _with_quant(new_df, id_col, vec_col, "new")
    b = _with_quant(ref_df, id_col, vec_col, "ref")
    return (
        cand.join(a, "new_id")
        .join(b, "ref_id")
        .select(
            "new_id",
            "ref_id",
            cosine_q(
                dot_q("new_q", "ref_q"),
                F.col("new_norm"),
                F.col("ref_norm"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") * 1_000_000 >= threshold_microcos)
    )


def ivf_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-pruned radius search — the scale path c85's exact
    range search documents: candidates come from the ``nprobe`` nearest
    cells only (~nprobe/n_cells of the corpus scanned per query), the
    SAME cosine >= threshold filter re-ranks them. Recall < 1 exactly
    when a qualifying neighbor lives outside every probed cell; the
    trade is the c17/c85 relationship (approximate candidates, exact
    filter), and the oracle replays candidate generation, so even the
    recall loss is deterministic and engine-checkable.

    Same coarse-quantizer mechanics as :func:`ivf_topk` (deterministic
    lowest-id centroids for the oracle-checked entry; k-means buys
    recall), same row-local assignment/probing, same stored-index
    partition-pruning note at 100 TB.
    """
    cents = _with_quant(
        corpus.filter(F.col(id_col) < n_cells), id_col, vec_col, "cent"
    )
    cent_rows = _collect_centroids(cents)
    dim = len(cent_rows[0][1])
    cells = assign_cells(corpus, cent_rows, id_col=id_col, vec_col=vec_col)
    probed = probe_cells(
        queries, cent_rows, nprobe, id_col=id_col, vec_col=vec_col
    )
    return (
        probed.join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q_unrolled(F.col("query_q"), F.col("neighbor_q"), dim),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def sq8_train_bounds(
    corpus: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, int]]:
    """Per-dimension (lo, hi) integer bounds of the quantized corpus —
    the SQ8 "codebook". One posexplode → dim-keyed MIN/MAX aggregate
    (partial-agg friendly); the result is DIMS rows, collected to the
    driver like every other codebook (metadata-sized by construction).
    """
    comp = corpus.select(
        F.posexplode(quantize(vec_col)).alias("dim", "x")
    )
    rows = (
        comp.groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("dim")
        .collect()
    )
    return [(int(r["lo"]), int(r["hi"])) for r in rows]


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Scalar-quantization (SQ8) ANN — the remaining FAISS compression
    rung next to brute (c06), LSH (c07/c38), IVF (c17/c28/c37), PQ
    (c71), and IVF-PQ (c72/c74): every corpus vector is stored as one
    8-bit code PER DIMENSION against per-dimension (min, max) bounds —
    4× smaller than float32, far cheaper to train than PQ (two scalars
    per dimension, no k-means), and the standard first step down from
    exact search.

    Metric is INNER PRODUCT (FAISS ``IndexScalarQuantizer`` with
    ``METRIC_INNER_PRODUCT``) — ranking by the raw dot against the
    reconstruction, not norm-corrected cosine; c06 stays the cosine
    exactness anchor.

    All arithmetic is exact integer so the oracle replays bit-for-bit:
    bounds (lo, hi) live in the 1e-6 quantized domain; the code is
    ``((x - lo) * 255) div (hi - lo)`` (floor division of non-negative
    ints — identical in Spark ``div`` and DuckDB ``//``); scoring is
    asymmetric (exact query vs reconstructed corpus) with the
    reconstruction kept 255×-scaled to stay integral:
    ``recon_d = lo_d * 255 + code_d * (hi_d - lo_d)`` and
    ``score = Σ_d q_d · recon_d`` (BIGINT; |x| ≤ 0.53 at dim 64 keeps
    every term < 2^53). Returns (query_id, neighbor_id, score_q, rank),
    rank ≤ k by (score desc, id asc), self-matches excluded.

    Scale: training is one dim-keyed aggregate; encoding is MAP-ONLY
    with the bounds as literal arrays in the expression (codes scan,
    no join); scoring broadcasts the query block over the CODES scan
    and reconstructs inline in JVM codegen — the corpus floats are
    read once at encode time and never again.
    """
    bounds = sq8_train_bounds(corpus, id_col=id_col, vec_col=vec_col)
    lo_arr = F.array(*[F.lit(lo) for lo, _ in bounds])
    span_arr = F.array(*[F.lit(hi - lo) for lo, hi in bounds])

    # code = ((x - lo) * 255) div span. floor-of-double-division is safe
    # here: a non-integer quotient sits >= 1/span >= ~5e-7 away from any
    # integer while half-ulp at the numerator's magnitude (<= ~2.7e8) is
    # ~1.5e-8 — division can never round across the floor boundary, so
    # this equals DuckDB's integer `//` exactly.
    def codes_of(qv):
        shifted = F.zip_with(qv, lo_arr, lambda x, lo: x - lo)
        return F.zip_with(
            shifted,
            span_arr,
            lambda s, sp: F.when(sp == 0, F.lit(0).cast("long")).otherwise(
                F.floor((s * 255) / sp).cast("long")
            ),
        )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        codes_of(quantize(vec_col)).alias("codes"),
    )
    recon = F.zip_with(
        F.zip_with(F.col("codes"), span_arr, lambda code, sp: code * sp),
        lo_arr,
        lambda scaled, lo: lo * 255 + scaled,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col).alias("query_q"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(F.col("query_q"), recon, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cooccurrence_topk(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    k: int = 20,
    min_support: int = 2,
) -> DataFrame:
    """Item-item collaborative filtering by co-occurrence cosine: for
    every item pair sharing at least ``min_support`` baskets,

        cosine(a, b) = n(a, b) / sqrt(n(a) · n(b))

    — the classic "customers who bought X also bought Y" similarity
    (Sarwar et al. WWW'01), computed from exact BIGINT co-occurrence
    counts with the cosine as one fixed IEEE expression ROUNDed to 6
    dp. Top-``k`` pairs by (cosine DESC, item_a, item_b).

    Input rows are (basket, item) memberships (duplicates tolerated —
    deduped internally). Returns (item_a, item_b, n_ab, cosine, rank),
    item_a < item_b.

    100 TB: the pair generation is a basket-keyed self-join whose cost
    is Σ per-basket-size² — bounded by basket width, never |items|²
    (the c111 wedge bound); item marginals are an item-sized aggregate
    broadcast onto the pair counts; final top-k is
    TakeOrderedAndProject. Degenerate mega-baskets (a basket holding
    half the catalog) are the skew to cap upstream, same as c87's
    domain cap.
    """
    # NOT persisted (measured, r16): the membership table feeds three
    # consumers (item marginals + both self-join sides), but it is a
    # 2-column projection + distinct — re-running it is cheaper than
    # columnar cache populate + three InMemoryTableScans at bench scale
    # (persisting regressed c124 1.74 → 2.46 s at sf0.1). At 100 TB the
    # caller can persist the input; the operator keeps the lean shape.
    lp = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    n_item = lp.groupBy(F.col("i")).agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        lp.alias("a")
        .join(lp.alias("b"), "b")
        .filter(F.col("a.i") < F.col("b.i"))
        .groupBy(
            F.col("a.i").alias("item_a"), F.col("b.i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    scored = (
        pairs.join(
            F.broadcast(n_item.select(F.col("i").alias("item_a"),
                                      F.col("n").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(n_item.select(F.col("i").alias("item_b"),
                                      F.col("n").alias("n_b"))),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                / F.sqrt(
                    F.col("n_a").cast("double") * F.col("n_b").cast("double")
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("item_a"), F.asc("item_b"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long"))


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int = 2,
    k: int = 20,
) -> DataFrame:
    """Directional association rules a -> b over basket memberships —
    the market-basket classic (Agrawal & Srikant VLDB'94, depth-1):
    for every ordered item pair co-occurring in >= ``min_support``
    baskets,

        support    = n(a, b)                       (basket count)
        confidence = n(a, b) / n(a)
        lift       = n(a, b) · N / (n(a) · n(b))

    reported in INTEGER MICRO-UNITS (·1e6, exact integer division) so
    ranking and values replay exactly — where c124 scores symmetric
    similarity, a rule is directional (diapers -> beer is not
    beer -> diapers). Top-``k`` by (lift DESC, confidence DESC, a, b).

    Returns (item_a, item_b, n_ab, conf_micro, lift_micro, rank).

    100 TB: identical plan skeleton to c124 — basket-keyed pair join
    bounded by Σ basket-width², broadcast item marginals and the
    1-row basket count, TakeOrderedAndProject — the directional pairs
    simply skip c124's a < b filter (both orders emitted from one
    canonical pair count, no second join).
    """
    # NOT persisted (measured, r16): same call as c124 — caching the
    # cheap 2-column distinct regressed the entry (2.04 → 2.86 s at
    # sf0.1); recompute beats cache populate for this projection.
    lp = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    n_item = lp.groupBy(F.col("i")).agg(F.count(F.lit(1)).alias("n"))
    n_baskets = lp.select("b").distinct().agg(
        F.count(F.lit(1)).alias("nb")
    )
    half = (
        lp.alias("a")
        .join(lp.alias("b"), "b")
        .filter(F.col("a.i") < F.col("b.i"))
        .groupBy(
            F.col("a.i").alias("item_a"), F.col("b.i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    both = half.unionAll(
        half.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "n_ab",
        )
    )
    scored = (
        both.join(
            F.broadcast(n_item.select(F.col("i").alias("item_a"),
                                      F.col("n").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(n_item.select(F.col("i").alias("item_b"),
                                      F.col("n").alias("n_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.expr("CAST(n_ab * 1000000 DIV n_a AS BIGINT)").alias(
                "conf_micro"
            ),
            F.expr(
                "CAST(n_ab * nb * 1000000 DIV (n_a * n_b) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy(
            F.desc("lift_micro"), F.desc("conf_micro"),
            F.asc("item_a"), F.asc("item_b"),
        )
        .limit(k)
    )
    w = Window.orderBy(
        F.desc("lift_micro"), F.desc("conf_micro"),
        F.asc("item_a"), F.asc("item_b"),
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long"))


def prefix_dim_recall(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_dims: int = 16,
    k: int = 5,
) -> DataFrame:
    """Matryoshka-style prefix-dimension retrieval evaluation: how much
    recall@k survives truncating embeddings to their first
    ``prefix_dims`` components? (MRL, Kusupati et al. NeurIPS'22 —
    prefix truncation is the zero-cost compression if the encoder was
    trained for it; this measures whether YOURS was.) The evaluation
    twin of c93's LSH recall, for the truncation axis.

    Both rankings are exact quantized cosine (c06's arithmetic) —
    truth on full vectors, candidate on ``slice(vec, 1, prefix_dims)``
    — joined per query:

        recall@k = |truth_topk ∩ prefix_topk| / k   (micro-units)

    Returns (query_id, n_hits, recall_micro).

    100 TB: two brute-force scans at fixture scale; the production
    path swaps either side for the IVF/PQ operators unchanged (the
    ranking join runs on k-sized lists per query either way).
    """
    full = brute_force_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k
    ).select("query_id", "neighbor_id")
    pref_corpus = corpus.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, prefix_dims).alias(vec_col)
    )
    pref_queries = queries.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, prefix_dims).alias(vec_col)
    )
    pref = brute_force_topk(
        pref_corpus, pref_queries, id_col=id_col, vec_col=vec_col, k=k
    ).select(
        F.col("query_id"), F.col("neighbor_id")
    )
    hits = (
        full.join(pref, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = full.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                f"CAST(COALESCE(n_hits, 0) * 1000000 DIV {k} AS BIGINT)"
            ).alias("recall_micro"),
        )
    )


def embedding_standardize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-DIMENSION z-score standardization of an embedding column —
    the whitening-lite preprocessing before distance-based methods
    (k-means, IVF training, Mahalanobis-ish scoring) when dimensions
    carry different scales.

    Exactness recipe: components quantize once (``round(x*quant)`` →
    BIGINT), so per-dim sums and sums-of-squares are EXACT integers;
    mean and variance derive from them in a FIXED order of IEEE double
    ops (``ssq/n - (sum/n)²`` — never the int64-overflowing ``sum²``),
    std is one correctly-rounded IEEE sqrt, and the z-score is rounded
    to 6 decimals (the catalog contract). Output is LONG format
    (vec_id, dim, z_r6): no float-array comparisons, and downstream
    re-assembly is one collect_list away.

    100 TB: posexplode inside the scan's partitions; the stats table
    is DIMENSION-sized (one hash aggregate, 64 rows here) and
    broadcasts back onto the exploded stream — the data-sized side
    shuffles only for its own aggregate, and zero-variance dimensions
    yield NULL z (constant column, no signal) rather than Inf.
    """
    parts = df.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x").cast("double") * quant).cast("long").alias("xq"),
    )
    stats = parts.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("s"),
        F.sum(F.col("xq") * F.col("xq")).alias("ssq"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("ssq").cast("double") / F.col("n").cast("double")
        - mean * mean
    )
    enriched = parts.join(
        F.broadcast(
            stats.select(
                "dim",
                mean.alias("mean_q"),
                F.sqrt(var).alias("std_q"),
            )
        ),
        "dim",
    )
    return enriched.select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.when(
            F.col("std_q") > 0,
            F.round(
                (F.col("xq").cast("double") - F.col("mean_q"))
                / F.col("std_q"),
                6,
            ),
        ).alias("z_r6"),
    )


def ivf_probe_recall(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    probes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """nprobe sweep evaluation for the IVF index — the tuning curve an
    operator reads before fixing the recall/latency trade-off: for each
    probe count, recall@k of :func:`ivf_topk` against the exact
    :func:`brute_force_topk` truth on the same queries. The IVF-axis
    member of the eval family (c93 sweeps the LSH axis, c140 the
    Matryoshka truncation axis).

    Returns one row per probe count: (nprobe, n_hits, n_truth,
    recall_micro) with recall in exact integer micro-units
    (hits·1e6 DIV truth). Recall is monotone in nprobe by construction
    (probed cell sets are nested) — pinned by a pytest, along with the
    nprobe = n_cells ⇒ recall = 1e6 identity.

    100 TB: truth is the deliberately quadratic baseline — run the
    sweep on a QUERY SAMPLE (the c93 contract: evaluate on a sample,
    trust the index at scale); each IVF pass scans ~nprobe/n_cells of
    the corpus, and the final comparison joins k·|Q|-sized lists.
    """
    from pyspark.storagelevel import StorageLevel

    # persisted (r16): truth feeds BOTH the hits join and the n_truth
    # aggregate — unpersisted, the deliberately-quadratic brute-force
    # baseline (the most expensive subtree here) executed twice; the
    # cache holds only k·|Q| id pairs (guide §5).
    truth = pin(
        brute_force_topk(corpus, queries, id_col=id_col, vec_col=vec_col, k=k)
        .select("query_id", "neighbor_id"),
        StorageLevel.MEMORY_AND_DISK,
    )
    spark = corpus.sparkSession
    # one centroid collect + ONE corpus cell-assignment pass shared by
    # every sweep point (r16): each ivf_topk call re-derived the exact
    # same centroid rule and re-ran the |C|·n_cells Arrow assignment
    # over the whole corpus — len(probes)× identical map work. The cell
    # table is persisted because every per-probe join consumes it.
    cent_rows = _collect_centroids(
        _with_quant(
            corpus.filter(F.col(id_col) < n_cells), id_col, vec_col, "cent"
        )
    )
    cells = pin(
        assign_cells(corpus, cent_rows, id_col=id_col, vec_col=vec_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    approx = None
    for p in probes:
        part = _ivf_rank(
            cells,
            queries,
            cent_rows,
            nprobe=p,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
        ).select(
            F.lit(p).cast("long").alias("nprobe"),
            "query_id",
            "neighbor_id",
        )
        approx = part if approx is None else approx.unionAll(part)
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    hits = (
        approx.join(truth, ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    # a probe count could in principle hit nothing: keep its row
    base = spark.createDataFrame(
        [(int(p),) for p in probes], "`nprobe` BIGINT"
    )
    return (
        base.join(hits, "nprobe", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(n_truth))
        .select(
            "nprobe",
            "n_hits",
            F.col("n_truth").cast("long").alias("n_truth"),
            F.expr("CAST(n_hits * 1000000 DIV n_truth AS BIGINT)").alias(
                "recall_micro"
            ),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus vector whose
    cosine similarity to ANY held-out eval vector reaches ``threshold``
    — the semantic complement of n-gram decontamination (c39), catching
    paraphrases and translations that share no surface n-grams (the
    standard second pass in LLM training-data hygiene).

    Exact arithmetic end to end: vectors quantize to 1e-6-unit BIGINTs
    (the catalog's similarity contract), cosines are one deterministic
    double expression over integer dot/norms, and the threshold
    comparison is therefore bit-reproducible in any engine. Per flagged
    vector the single best eval match is reported, ties broken to the
    smallest eval id (struct-max aggregate — no window over the pair
    stream).

    Returns (vec_id, matched_eval_id, max_cosine) for flagged corpus
    rows only.

    100 TB: eval suites are small and FROZEN — the eval side broadcasts
    and the corpus streams through map-side scoring once, then one
    corpus-keyed aggregate collapses the surviving (above-threshold)
    pairs. No corpus self-join, no shuffle of raw vectors. If the eval
    side ever outgrows broadcast, the IVF probe path (c17/c94) replaces
    the broadcast scan — cell-prune, then this same scoring.
    """
    c = _with_quant(corpus, id_col, vec_col, "train")
    e = _with_quant(eval_set, id_col, vec_col, "eval")
    scored = (
        c.crossJoin(F.broadcast(e))
        .select(
            "train_id",
            "eval_id",
            cosine_q(
                dot_q("train_q", "eval_q"),
                F.col("train_norm"),
                F.col("eval_norm"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    best = scored.groupBy("train_id").agg(
        F.max(F.struct(F.col("cosine"), (-F.col("eval_id")).alias("neg")))
        .alias("m")
    )
    return best.select(
        F.col("train_id").alias("vec_id"),
        (-F.col("m.neg")).cast("long").alias("matched_eval_id"),
        F.col("m.cosine").alias("max_cosine"),
    ).orderBy("vec_id")


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR, Karpukhin
    EMNLP'20; SimCLR-family samplers): for each query vector, the k
    nearest corpus vectors with a DIFFERENT label — the
    most-confusable negatives, which train far stronger encoders than
    the random negatives of c129. The label is whatever supervision
    exists (topic, source, duplicate-cluster id).

    Same exactness contract as c06: quantized-integer dot/norms, one
    deterministic double cosine, rank by (cosine DESC, id) — the whole
    ranking replays in any engine. Same-label rows (and the query
    itself) are excluded BEFORE ranking, so every returned row is a
    genuine negative.

    Returns (query_id, neg_id, label, neg_label, cosine, rank).

    100 TB: the query block broadcasts over one corpus scan (the c06
    shape); the label filter rides inside that map-side join, and the
    top-k window runs per query over k·|corpus-partition| candidates.
    IVF cell-pruning (c17) slots in front unchanged when the corpus
    outgrows brute force.
    """
    from pyspark.sql.window import Window

    q = _with_quant(queries, id_col, vec_col, "query").join(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("label"),
        ),
        "query_id",
    )
    c = _with_quant(corpus, id_col, vec_col, "neighbor").join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neg_label"),
        ),
        "neighbor_id",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("label") != F.col("neg_label"))
        )
        .select(
            "query_id",
            "label",
            F.col("neighbor_id").alias("neg_id"),
            "neg_label",
            cosine_q(
                dot_q("query_q", "neighbor_q"),
                F.col("query_norm"),
                F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neg_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neg_id", "label", "neg_label", "cosine", "rank"
        )
        .orderBy("query_id", "rank")
    )


def random_project_signs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a
    DETERMINISTIC ±1 sign matrix (Achlioptas 2001: Rademacher entries
    preserve pairwise distances like Gaussians do, and a sign matrix
    is exact integer arithmetic): projected[j] = Σ_d q(v[d])·s(j,d)
    over the quantized vector — the cheap-projection rung under the
    Matryoshka prefix study (c140) and the PQ/SQ codecs (c71/c108),
    for when 100 TB of float64 embeddings should become out_dim
    integers per row before ANY index is built.

    The sign is a fixed LCG bit, s(j,d) = +1 iff
    ``(1103515245·(j·dim+d) + 12345) mod 2³¹`` is even — pure integer
    arithmetic any engine replays exactly (no RNG state, no float
    transcendentals), and the whole projection is exact BIGINT.

    Returns (id, proj array<long>) via one Arrow-batched map-only pass
    (the assign_cells rationale: a dim×out_dim int64 matmul per batch
    beats both unrolled expressions and per-element lambdas). No
    shuffle; the plan stays scan-shaped.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        S = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _np_quantize(np.stack(pdf[vec_col].to_numpy()))
            if S is None:
                dim = M.shape[1]
                idx = (
                    np.arange(out_dim)[:, None] * dim
                    + np.arange(dim)[None, :]
                )
                h = (1103515245 * idx.astype(np.int64) + 12345) % (2**31)
                S = np.where(h % 2 == 0, 1, -1).astype(np.int64)
            proj = M @ S.T  # (n, out_dim) exact int64
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "proj": list(proj),
                }
            )

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        kernel, f"{id_col} long, proj array<long>"
    )
