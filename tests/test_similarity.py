"""Similarity-search operators vs NumPy brute force at sf0.001."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from amazonredshift_blueprints_spark.operators.similarity import (
    QUANT_SCALE,
    brute_force_topk,
    embedding_near_duplicates,
    lsh_topk,
)
from amazonredshift_blueprints_spark.session import load_table


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = np.round(m * QUANT_SCALE)  # the operator's quantization, exactly
    order = np.argsort(ids)
    return ids[order], q[order]


def _np_topk(ids, q, query_ids, k):
    norms = np.sqrt((q * q).sum(axis=1))
    out = {}
    for qi in query_ids:
        i = int(np.where(ids == qi)[0][0])
        cos = (q @ q[i]) / (norms * norms[i])
        cand = [(c, int(ids[j])) for j, c in enumerate(cos) if ids[j] != qi]
        cand.sort(key=lambda t: (-t[0], t[1]))
        out[qi] = cand[:k]
    return out


def test_brute_force_topk_matches_numpy(spark, sf_dir, vecs):
    ids, q = vecs
    e = load_table(spark, sf_dir, "embeddings")
    got = brute_force_topk(e, e.filter(F.col("vec_id") < 10), k=5).collect()
    want = _np_topk(ids, q, range(10), 5)
    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == set(range(10))
    for qi, rows in by_query.items():
        rows.sort(key=lambda r: r["rank"])
        for r, (cos, nid) in zip(rows, want[qi]):
            assert r["neighbor_id"] == nid
            assert abs(r["cosine"] - cos) < 1e-9


def test_lsh_topk_recall(spark, sf_dir, vecs):
    ids, q = vecs
    e = load_table(spark, sf_dir, "embeddings")
    got = lsh_topk(e, e.filter(F.col("vec_id") < 20), k=5, bits=4, n_tables=16).collect()
    want = _np_topk(ids, q, range(20), 5)
    hits = total = 0
    for qi in range(20):
        exact = {nid for _, nid in want[qi]}
        approx = {r["neighbor_id"] for r in got if r["query_id"] == qi}
        hits += len(exact & approx)
        total += len(exact)
    recall = hits / total
    assert recall >= 0.8, f"LSH recall {recall:.2f} too low"


def test_ivf_topk_structure_and_recall(spark, sf_dir, vecs):
    from amazonredshift_blueprints_spark.operators.similarity import ivf_topk

    ids, q = vecs
    e = load_table(spark, sf_dir, "embeddings")
    got = ivf_topk(e, e.filter(F.col("vec_id") < 20), k=5, n_cells=8, nprobe=4).collect()
    # Shape: per query, at most k neighbors, ranked 1..n, no self-matches,
    # cosine non-increasing in rank.
    by_query = {}
    for r in got:
        assert r["query_id"] != r["neighbor_id"]
        by_query.setdefault(r["query_id"], []).append(r)
    for qi, rows in by_query.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 5
        for a, b in zip(rows, rows[1:]):
            assert (a["cosine"], -a["neighbor_id"]) >= (b["cosine"], -b["neighbor_id"])
    # Recall vs exact top-k: iid-random fixture vectors are the ANN worst
    # case (SURVEY notes); probing half the cells should still recover a
    # meaningful share of true neighbors.
    want = _np_topk(ids, q, range(20), 5)
    hits = total = 0
    for qi in range(20):
        exact = {nid for _, nid in want[qi]}
        approx = {r["neighbor_id"] for r in got if r["query_id"] == qi}
        hits += len(exact & approx)
        total += len(exact)
    assert hits / total >= 0.4, f"IVF recall {hits / total:.2f} too low"


def test_ivf_kmeans_quantizer_improves_clustered_recall(spark):
    # The fixture's iid-random vectors are k-means-proof (no structure),
    # so build a genuinely clustered corpus: 8 Gaussian clusters x 50
    # vectors. All 8 lowest-id init centroids land in cluster 0, so the
    # fixed-rule quantizer probes blindly (recall ~0.63 at nprobe=2);
    # two deterministic Lloyd iterations recover the true clusters.
    from amazonredshift_blueprints_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(11)
    centers = rng.normal(0, 1, (8, 32))
    rows = []
    for ci in range(8):
        for j in range(50):
            v = centers[ci] + rng.normal(0, 0.15, 32)
            rows.append((ci * 50 + j, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    m = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    q = np.round(m * QUANT_SCALE)
    norms = np.sqrt((q * q).sum(axis=1))
    rid = [r[0] for r in rows]

    def np_topk(i, k=5):
        cos = (q @ q[i]) / (norms * norms[i])
        cand = [(c, rid[j]) for j, c in enumerate(cos) if rid[j] != rid[i]]
        cand.sort(key=lambda t: (-t[0], t[1]))
        return {nid for _, nid in cand[:k]}

    def recall(iters):
        got = ivf_topk(
            e, e.filter(F.col("vec_id") < 20),
            k=5, n_cells=8, nprobe=2, kmeans_iters=iters,
        ).collect()
        hits = total = 0
        for qi in range(20):
            exact = np_topk(qi)
            approx = {r["neighbor_id"] for r in got if r["query_id"] == qi}
            hits += len(exact & approx)
            total += len(exact)
        return hits / total

    fixed, kmeans = recall(0), recall(2)
    assert kmeans >= 0.85, f"k-means IVF recall {kmeans:.2f} too low"
    assert kmeans >= fixed + 0.15, (
        f"k-means quantizer should clearly beat fixed-rule init on "
        f"clustered data: {kmeans:.2f} vs {fixed:.2f}"
    )


def test_embedding_near_duplicates_threshold_exact(spark, sf_dir, vecs):
    # exact=True is the exactness contract; exact=None auto-selects the
    # exact generator below cosine 0.9 (LSH recall is poor there), so
    # the default call at 0.4 must give the identical pair set.
    ids, q = vecs
    e = load_table(spark, sf_dir, "embeddings")
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in embedding_near_duplicates(
               e, threshold_microcos=400_000, exact=True).collect()}
    norms = np.sqrt((q * q).sum(axis=1))
    cos = (q @ q.T) / np.outer(norms, norms)
    want = {}
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if cos[i, j] * 1_000_000 >= 400_000:
                want[(int(ids[i]), int(ids[j]))] = cos[i, j]
    assert set(got) == set(want)
    for p in got:
        assert abs(got[p] - want[p]) < 1e-9
    auto = {(r["id_a"], r["id_b"])
            for r in embedding_near_duplicates(e, threshold_microcos=400_000).collect()}
    assert auto == set(want)


def test_embedding_near_duplicates_lsh_recall(spark, sf_dir, vecs):
    # The fixture has no pairs above cosine ~0.5, so plant genuine
    # near-duplicates: each base vector gets a lightly-noised twin
    # (cosine ≈ 0.995+). The LSH path at the 0.95 near-dup threshold
    # must recover ≥90% of the true pairs (per-pair collision prob
    # ≈ 0.999 at the 6-bit × 4-table default).
    ids, q = vecs
    rng = np.random.default_rng(7)
    base = q[:40] / 1_000_000.0
    noisy = base + rng.normal(0.0, 0.01 * np.abs(base).mean(), base.shape)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(40)]
    rows += [(int(i + 1000), [float(x) for x in noisy[i]]) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    # NumPy truth over the operator's own quantization.
    m = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    qq = np.round(m * QUANT_SCALE)
    norms = np.sqrt((qq * qq).sum(axis=1))
    cos = (qq @ qq.T) / np.outer(norms, norms)
    rid = [r[0] for r in rows]
    want = {
        (rid[i], rid[j])
        for i in range(len(rid))
        for j in range(len(rid))
        if rid[i] < rid[j] and cos[i, j] * 1_000_000 >= 950_000
    }
    assert len(want) >= 30  # the planted twins are genuinely near-dup

    got = {(r["id_a"], r["id_b"])
           for r in embedding_near_duplicates(
               e, threshold_microcos=950_000, exact=False).collect()}
    assert not got - want  # precision exact: verify filter admits no false pair
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"LSH near-dup recall {recall:.2f} too low"


def test_ivf_index_build_query_and_partition_pruning(spark, sf_dir, tmp_path):
    from amazonredshift_blueprints_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        query_ivf_index,
    )
    from amazonredshift_blueprints_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_index")
    cents = build_ivf_index(e, path, n_cells=16)
    queries = e.filter(F.col("vec_id") < 10)

    got = query_ivf_index(spark, path, cents, queries, k=5, nprobe=4)
    want = ivf_topk(e, queries, k=5, n_cells=16, nprobe=4)
    gm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    wm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in want.collect()}
    assert gm == wm  # stored index reproduces the in-memory operator

    # The probe join must prune cell= partitions from the index scan:
    # the physical scan carries a partition filter on `cell`, so probe
    # I/O is nprobe/n_cells of the corpus, not a full scan.
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "ivf_index" in ln]
    assert scan_lines, plan
    assert any(
        "dynamicpruning" in ln.lower() or "PartitionFilters: [" in ln
        for ln in scan_lines
    ), "\n".join(scan_lines)


@pytest.mark.parametrize("n_sub", [1, 8], ids=["kmeans", "pq"])
def test_kmeans_centroids_bitwise_numpy_replay(spark, sf_dir, vecs, n_sub):
    """Hard correctness oracle for the trained quantizers: the Lloyd loop
    is exact integer arithmetic (int64 L2 distances, int sums, integer
    round-half-away-from-zero means), so a NumPy replay must produce
    BIT-IDENTICAL k-means centroids and cell assignments (one subspace)
    and PQ codebooks (8 subspaces, one loop each) — equality, not
    tolerance."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        assign_cells,
        kmeans_centroids,
        quantize,
        train_pq_codebook,
    )

    ids, q = vecs
    qi = q.astype(np.int64)  # exact: quantized values fit in int64
    n_codes, iters = 16, 2
    X = qi.reshape(len(qi), n_sub, -1)  # (n, M, d_sub)

    # -- NumPy replay of the documented rules ---------------------------
    # init = the rows of ids 0..15
    id_pos = {int(v): i for i, v in enumerate(ids)}
    cb = np.stack([X[id_pos[c]] for c in range(n_codes)])  # (k, M, d_sub)

    def np_assign(cb):
        # per-subspace argmin over exact int64 L2^2; ties -> lowest code
        # id (argmin returns the first minimum, and codes are id-ordered)
        d = ((X[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        return d.argmin(axis=1)  # (n, M)

    for _ in range(iters):
        code = np_assign(cb)
        new = cb.copy()
        for s in range(n_sub):
            for c in range(n_codes):
                members = X[code[:, s] == c, s]
                if len(members) == 0:
                    continue  # empty code keeps its previous entry
                sm, n = members.sum(axis=0), len(members)
                # integer round-half-away-from-zero, same as _div_round
                new[c, s] = np.where(
                    sm >= 0, (2 * sm + n) // (2 * n), -((2 * -sm + n) // (2 * n))
                )
        cb = new

    # -- Spark result ---------------------------------------------------
    e = load_table(spark, sf_dir, "embeddings")
    if n_sub > 1:
        got_cb, d_sub = train_pq_codebook(
            e.select("vec_id", quantize("embedding").alias("rv")),
            n_subspaces=n_sub, n_codes=n_codes, iters=iters,
        )
        assert d_sub == X.shape[2]
        assert got_cb.shape == cb.shape
        assert (got_cb == cb).all(), "codebook differs"
        return
    got_c = kmeans_centroids(e, n_cells=n_codes, iters=iters).collect()
    got = {int(r["cent_id"]): [int(x) for x in r["cent_q"]] for r in got_c}
    assert len(got) == n_codes
    for ci in range(n_codes):
        assert got[ci] == [int(x) for x in cb[ci, 0]], f"centroid {ci} differs"

    want_cells = np_assign(cb)[:, 0]
    assigned = assign_cells(
        e, sorted((c, v) for c, v in got.items())
    ).select("neighbor_id", "cell").collect()
    got_cells = {int(r["neighbor_id"]): int(r["cell"]) for r in assigned}
    for i, vid in enumerate(ids):
        assert got_cells[int(vid)] == int(want_cells[i]), f"vec {vid} cell differs"


# -- guard-rail / failure-mode tests (VERDICT r6 items 2a-2c) -------------


def _tiny_corpus(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_seeds_deterministic_under_duplicate_ids(spark):
    """Duplicate ids must not consume seed slots, and each id's
    representative must be deterministic (struct-min of the quantized
    vector), not whichever row a shuffle surfaces first."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        kmeans_centroids,
    )

    rows = [
        (0, [0.5, 0.1]), (0, [0.1, 0.9]),   # dup id 0: min-rep is [0.1, 0.9]
        (1, [0.3, 0.3]),
        (2, [0.9, 0.2]), (2, [0.2, 0.8]),   # dup id 2: min-rep is [0.2, 0.8]
        (3, [0.4, 0.6]),
    ]
    got = kmeans_centroids(
        _tiny_corpus(spark, rows), n_cells=4, iters=0
    ).collect()
    cents = {int(r["cent_id"]): [int(x) for x in r["cent_q"]] for r in got}
    assert len(cents) == 4
    assert cents[0] == [100_000, 900_000]   # id 0's lexicographic min rep
    assert cents[2] == [200_000, 800_000]   # id 2's lexicographic min rep
    assert cents[1] == [300_000, 300_000]
    assert cents[3] == [400_000, 600_000]


def test_kmeans_seed_shortage_names_distinct_ids(spark):
    from amazonredshift_blueprints_spark.operators.similarity import (
        kmeans_centroids,
    )

    rows = [(7, [0.5, 0.1]), (7, [0.1, 0.9]), (9, [0.3, 0.3])]
    with pytest.raises(ValueError, match="2 distinct ids"):
        kmeans_centroids(_tiny_corpus(spark, rows), n_cells=4, iters=1)


def test_ivf_empty_centroid_set_fails_fast(spark, tmp_path):
    """A corpus whose ids never satisfy the id < n_cells seed rule must
    raise at centroid collect — never write vectors into a null cell."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
    )

    rows = [(1000 + i, [0.1 * i, 0.2]) for i in range(6)]
    corpus = _tiny_corpus(spark, rows)
    with pytest.raises(ValueError, match="empty centroid"):
        ivf_topk(corpus, corpus.limit(2), k=2, n_cells=4, nprobe=2)
    with pytest.raises(ValueError, match="empty centroid"):
        build_ivf_index(corpus, str(tmp_path / "ivf_idx"), n_cells=4)


def test_collected_centroid_size_guard(spark, monkeypatch):
    from amazonredshift_blueprints_spark.operators import similarity

    rows = [(i, [0.1, 0.2, 0.3, 0.4]) for i in range(4)]
    corpus = _tiny_corpus(spark, rows)
    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # inside the bound and with no round, k-means runs its seed collect
    seed_jobs = jobs_of(
        "kmeans-seed-only",
        lambda: similarity.kmeans_centroids(corpus, n_cells=4, iters=0),
    )
    monkeypatch.setattr(similarity, "MAX_LITERAL_CENTROID_CELLS", 8)
    with pytest.raises(ValueError, match="collected-centroid bound"):
        similarity.ivf_topk(corpus, corpus.limit(2), k=2, n_cells=4, nprobe=2)

    def over_bound_training():
        with pytest.raises(ValueError, match="collected-centroid bound"):
            similarity.kmeans_centroids(corpus, n_cells=4, iters=2)

    # the bound is checked before any Lloyd round runs
    assert jobs_of("kmeans-over-bound", over_bound_training) == seed_jobs


def test_cross_corpus_near_duplicates_finds_planted_pair(spark):
    """A new-batch vector planted as a near-copy of a reference vector
    must surface (LSH recall at cosine ~1 is ~1); output must only pair
    new x ref (never ref x ref or new x new)."""
    import numpy as np

    from amazonredshift_blueprints_spark.operators.similarity import (
        cross_corpus_near_duplicates,
    )

    rng = np.random.default_rng(7)
    ref_rows = [
        (int(i), [float(x) for x in rng.normal(size=16)]) for i in range(1, 40)
    ]
    # new id 1000 = ref id 5's vector nudged; new id 1001 = fresh random
    near = [v + 1e-4 for v in ref_rows[4][1]]
    new_rows = [(1000, near), (1001, [float(x) for x in rng.normal(size=16)])]
    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cross_corpus_near_duplicates(
        mk(new_rows), mk(ref_rows), threshold_microcos=990_000, dim=16,
    ).collect()
    pairs = {(r["new_id"], r["ref_id"]) for r in got}
    assert (1000, 5) in pairs
    assert all(n >= 1000 and r < 1000 for n, r in pairs)


def test_xxhash_sign_kernel_matches_expression_sketch(spark, sf_dir):
    """lsh_topk's Arrow fast path must bucket BIT-IDENTICALLY to the
    original HOF expression form: same xxhash64 parity signs, same
    proj>0 bit rule. Checked over real fixture vectors for every
    (vector, table) pair."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.similarity import (
        _sketch_arrow_with_signs,
        _with_quant,
        hyperplane_sketch,
        xxhash_hyperplane_signs,
    )
    from amazonredshift_blueprints_spark.session import load_table

    bits, n_tables = 5, 3
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    dim = e.select(F.size("embedding").alias("d")).first()["d"]

    q = _with_quant(e, "vec_id", "embedding", "x")
    want = {}
    for t in range(n_tables):
        for r in q.select(
            "x_id", hyperplane_sketch(F.col("x_q"), bits=bits, table=t).alias("b")
        ).collect():
            want[(int(r["x_id"]), t)] = int(r["b"])

    signs = xxhash_hyperplane_signs(spark, n_tables=n_tables, bits=bits, dim=dim)
    got = {
        (int(r["x_id"]), int(r["tbl"])): int(r["bucket"])
        for r in _sketch_arrow_with_signs(
            e, signs, id_col="vec_id", vec_col="embedding", prefix="x",
            n_tables=n_tables, bits=bits,
        ).collect()
    }
    assert got == want and len(got) == 40 * n_tables


def test_ivf_append_equals_full_build(spark, sf_dir, tmp_path):
    """Append-maintained index must answer queries identically to an
    index built from the full corpus in one shot."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )
    from amazonredshift_blueprints_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 5)

    full_p = str(tmp_path / "full")
    cents_full = build_ivf_index(e, full_p, n_cells=16)
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in query_ivf_index(spark, full_p, cents_full, qs, k=5, nprobe=4).collect()
    }

    inc_p = str(tmp_path / "inc")
    cents = build_ivf_index(e.filter(F.col("vec_id") < 300), inc_p, n_cells=16)
    append_to_ivf_index(e.filter(F.col("vec_id") >= 300), inc_p, cents)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in query_ivf_index(spark, inc_p, cents, qs, k=5, nprobe=4).collect()
    }
    assert got == want and len(got) == 25


def test_semantic_dedup_drop_rule(spark):
    """Within a cell, every vector with a >=threshold neighbor of
    smaller id is dropped; the smallest of each group survives."""
    from amazonredshift_blueprints_spark.operators.similarity import semantic_dedup

    # ids 0/1 are the (orthogonal) cell centroids; 2 duplicates 0's
    # direction (cell 0), 3 duplicates 1's (cell 1), 4 sits in cell 0
    # but below the threshold vs both 0 and 2.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.0, 0.999, 0.01, 0.0]),
        (4, [0.6, 0.55, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {
        r["vec_id"]
        for r in semantic_dedup(
            df, n_cells=2, threshold_microcos=950_000
        ).collect()
    }
    assert kept == {0, 1, 4}  # 2 dropped (dup of 0), 3 dropped (dup of 1)


def test_semantic_dedup_cell_cap_bounds_adversarial_giant_cluster(spark):
    """The cell-skew guard (VERDICT r11 item 3): one giant cluster of
    near-identical vectors lands in ONE cell — the regime where the
    full pair scan is pop² — and the capped path must (a) still
    collapse the duplicate chain to one survivor (distance ties break
    by id, so identical members are rank-adjacent), and (b) generate
    at most pop × pair_window candidate pairs (the HARD bound the cap
    exists for)."""
    import pyspark.sql.functions as F

    from amazonredshift_blueprints_spark.operators.sampling import (
        grouped_cumsum,
    )
    from amazonredshift_blueprints_spark.operators.similarity import (
        _collect_centroids,
        _windowed_cell_pairs,
        _with_quant,
        assign_cells,
        dot_q_unrolled,
        semantic_dedup,
    )

    # ids 0/1 = orthogonal centroids; ids 2..201 all duplicate id 0's
    # direction — a 201-member cluster in cell 0, 1 lonely row in cell 1
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])] + [
        (i, [1.0, 0.0, 0.0, 0.0]) for i in range(2, 202)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {
        r["vec_id"]
        for r in semantic_dedup(
            df,
            n_cells=2,
            threshold_microcos=950_000,
            max_cell_rows=50,
            pair_window=3,
        ).collect()
    }
    assert kept == {0, 1}  # whole chain collapsed through rank adjacency

    # candidate-pair bound, measured on the factored generator itself
    cents = _collect_centroids(
        _with_quant(
            df.filter(F.col("vec_id") < 2), "vec_id", "embedding", "cent"
        )
    )
    cells = assign_cells(df, cents)
    big = (
        cells.filter(F.col("cell") == 0)
        .withColumn("dist", F.lit(0).cast("long"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = grouped_cumsum(
        big, ["cell"], ["dist", "neighbor_id"], ["one"]
    ).withColumnRenamed("one_cum", "rnk")
    n_pairs = _windowed_cell_pairs(ranked, 3).count()
    pop = 201
    assert n_pairs <= pop * 3, n_pairs
    # and the bound is tight-ish: every member but the first w has
    # exactly w predecessors
    assert n_pairs == sum(min(3, r - 1) for r in range(1, pop + 1))


def test_pq_adc_exact_on_codebook_combinations(spark):
    """When every corpus vector is an exact per-subspace combination of
    codebook entries, the quantization residual is zero and ADC equals
    the true squared distance — the sanity anchor for the PQ path."""
    from amazonredshift_blueprints_spark.operators.similarity import pq_topk

    # dim 4, M=2 subspaces of 2 dims; codebook = ids 0..3
    cb = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 1.0, 0.0],
        2: [0.0, 0.0, 0.0, 1.0],
        3: [1.0, 1.0, 1.0, 1.0],
    }
    # ids 4/5: mix subvectors of different codes -> still residual-free
    rows = list(cb.items()) + [
        (4, cb[0][:2] + cb[1][2:]),   # = [1,0] ++ [1,0]
        (5, cb[2][:2] + cb[3][2:]),   # = [0,0] ++ [1,1]
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist2"])
        for r in pq_topk(
            df, df.filter("vec_id = 4"), n_subspaces=2, n_codes=4, k=5
        ).collect()
    }
    # true squared distances (micro-unit domain, scale 1e6) from id 4:
    q = 1_000_000
    truth = sorted(
        (
            sum((a - b) ** 2 for a, b in zip(
                [x * q for x in dict(rows)[4]], [x * q for x in dict(rows)[n]]
            )),
            n,
        )
        for n in (0, 1, 2, 3, 5)
    )
    for rank, (true_d, n) in enumerate(truth, start=1):
        assert got[(4, rank)] == (n, true_d), (rank, got[(4, rank)], (n, true_d))


def test_ivfpq_with_full_probe_equals_pq(spark, sf_dir):
    """With nprobe = n_cells (no pruning), IVF-PQ must return exactly
    plain PQ's answer — pruning and compression are orthogonal."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        ivf_pq_topk,
        pq_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 5)
    plain = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist2"])
        for r in pq_topk(e, qs, n_subspaces=8, n_codes=16, k=5).collect()
    }
    full_probe = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist2"])
        for r in ivf_pq_topk(
            e, qs, n_cells=16, nprobe=16, n_subspaces=8, n_codes=16, k=5
        ).collect()
    }
    assert full_probe == plain and len(plain) == 25


def test_ivfpq_residual_training_beats_raw_codes(spark, sf_dir, vecs):
    """The c74 claim, pinned: trained residual encoding (FAISS IVFADC)
    must beat c72's raw-code recall against the exact L2 ground truth,
    at the same (n_cells, nprobe, M, n_codes) budget — the accuracy
    step residual encoding + codebook training buys. Deterministic:
    every stage is exact int64 with fixed tie rules."""
    import numpy as np

    from amazonredshift_blueprints_spark.operators.similarity import (
        _np_quantize,
        ivf_pq_residual_topk,
        ivf_pq_topk,
    )

    ids, q = vecs
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10)
    X = _np_quantize(q).astype(np.int64)
    pos = {int(v): i for i, v in enumerate(ids)}

    def l2_truth(qi, k=5):
        d = ((X.astype(float) - X[pos[qi]].astype(float)) ** 2).sum(axis=1)
        cand = sorted(
            (d[j], int(ids[j])) for j in range(len(ids)) if ids[j] != qi
        )
        return {n for _, n in cand[:k]}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(qi, set()) & l2_truth(qi)) for qi in range(10)
        ) / 50.0

    kw = dict(n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5)
    raw = recall(ivf_pq_topk(e, qs, **kw))
    res = recall(
        ivf_pq_residual_topk(e, qs, coarse_iters=2, pq_iters=2, **kw)
    )
    # measured on these fixtures: raw 0.28, trained-residual 0.36 —
    # pin the ordering plus a floor with slack for fixture regeneration
    assert res > raw, (res, raw)
    assert res >= 0.30, res


def test_sample_trained_ivfpq_recall_within_budget(spark):
    """c82: training the quantizers on the deterministic half-sample
    must keep >= 0.9x the recall of full-corpus training at the same
    (n_cells, nprobe, M, n_codes) budget — the FAISS sample-training
    trade, pinned so a sampling bug that degrades the codebooks shows
    up as recall collapse, not silence.

    Like the k-means quantizer test above, this needs a corpus with
    actual cluster structure: on the fixtures' iid-random vectors a
    half-sample of ~250 points genuinely under-trains 16x16 codebooks
    (FAISS's own guidance is >= n_codes*39 train points per quantizer),
    so the 0.9x premise only holds where sampling is statistically
    sufficient — 8 Gaussian clusters x 50 points here."""
    import numpy as np

    from amazonredshift_blueprints_spark.operators.similarity import (
        ivf_pq_residual_topk,
    )

    rng = np.random.default_rng(23)
    centers = rng.normal(0, 1, (8, 32))
    rows = []
    for ci in range(8):
        for j in range(50):
            v = centers[ci] + rng.normal(0, 0.15, 32)
            rows.append((ci * 50 + j, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    qs = e.filter(F.col("vec_id") < 10)

    m = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    q = np.round(m * QUANT_SCALE)
    rid = [r[0] for r in rows]

    def l2_truth(qi, k=5):
        d = ((q - q[qi]) ** 2).sum(axis=1)
        cand = sorted(
            (d[j], rid[j]) for j in range(len(rid)) if rid[j] != qi
        )
        return {n for _, n in cand[:k]}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(qi, set()) & l2_truth(qi)) for qi in range(10)
        ) / 50.0

    kw = dict(
        n_cells=8, nprobe=2, n_subspaces=8, n_codes=16, k=5,
        coarse_iters=2, pq_iters=2,
    )
    full = recall(ivf_pq_residual_topk(e, qs, **kw))
    sampled = recall(ivf_pq_residual_topk(e, qs, train_fraction=0.5, **kw))
    assert sampled >= 0.9 * full, (sampled, full)
    # determinism: the same fraction+salt retrains identically
    a = {
        (r["query_id"], r["neighbor_id"], r["adc_dist2"], r["rank"])
        for r in ivf_pq_residual_topk(e, qs, train_fraction=0.5, **kw).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["adc_dist2"], r["rank"])
        for r in ivf_pq_residual_topk(e, qs, train_fraction=0.5, **kw).collect()
    }
    assert a == b


def test_pq_codebook_training_is_deterministic_and_improves_mse(spark, sf_dir):
    """Two independent trainings must produce the identical codebook
    (integer Lloyd, no float/order dependence), and each training
    iteration must not increase the residual reconstruction error
    (Lloyd's monotonicity, preserved by the integer rounding up to the
    grid step)."""
    import numpy as np

    from amazonredshift_blueprints_spark.operators.similarity import (
        _collect_centroids,
        _residuals,
        assign_cells,
        kmeans_centroids,
        train_pq_codebook,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(e, n_cells=16, iters=2)
    cent_rows = _collect_centroids(cents)
    CENT = np.array([cq for _, cq in cent_rows], dtype=np.int64)
    res = _residuals(assign_cells(e, cent_rows), CENT)

    def mse(CB, d_sub):
        rows = sorted(
            (int(r["vec_id"]), [int(x) for x in r["rv"]]) for r in res.collect()
        )
        R = np.array([rv for _, rv in rows], dtype=np.int64)
        T = R.reshape(len(R), 8, d_sub).astype(float)
        CBf = CB.astype(float)
        err = 0.0
        for s in range(8):
            d = ((T[:, None, s, :] - CBf[None, :, s, :]) ** 2).sum(axis=2)
            err += d.min(axis=1).sum()
        return err / len(R)

    cb1, d_sub = train_pq_codebook(res, n_subspaces=8, n_codes=16, iters=2)
    cb2, _ = train_pq_codebook(res, n_subspaces=8, n_codes=16, iters=2)
    assert (cb1 == cb2).all()
    cb0, _ = train_pq_codebook(res, n_subspaces=8, n_codes=16, iters=0)
    # trained strictly better than the fixed-rule init on these fixtures
    assert mse(cb1, d_sub) < mse(cb0, d_sub)


def test_ivfpq_refine_recall_at_least_unrefined(spark, sf_dir):
    """c75: exact re-rank of k*4 ADC candidates must recall at least as
    much of the true cosine top-k as c74's direct ADC top-k — refinement
    re-orders candidates by exact distance, so it can only keep or gain
    true neighbors within the probed-cell ceiling."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_refine_topk,
        ivf_pq_residual_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10)
    kw = dict(n_cells=16, nprobe=4, n_subspaces=8, n_codes=16, k=5,
              coarse_iters=2, pq_iters=2)

    def sets(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return got

    truth = sets(brute_force_topk(e, qs, k=5))
    base = sets(ivf_pq_residual_topk(e, qs, **kw))
    refined = sets(ivf_pq_refine_topk(e, qs, refine_factor=4, **kw))
    r_base = sum(len(base.get(q, set()) & t) for q, t in truth.items())
    r_ref = sum(len(refined.get(q, set()) & t) for q, t in truth.items())
    assert r_ref >= r_base, (r_ref, r_base)
    assert all(len(v) == 5 for v in refined.values())


def test_ivf_range_search_subset_and_recall(spark, sf_dir):
    """IVF-pruned radius search returns a SUBSET of the exact range
    search's matches (same threshold, candidates only pruned) and keeps
    recall >= 0.8 at nprobe=4/16 on the fixture corpus."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.similarity import (
        ivf_range_search,
        range_search,
    )
    from amazonredshift_blueprints_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in range_search(e, q, threshold=0.25).collect()
    }
    pruned = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_range_search(
            e, q, threshold=0.25, n_cells=16, nprobe=4
        ).collect()
    }
    assert pruned <= exact
    assert exact  # fixture yields matches at this threshold
    assert len(pruned) / len(exact) >= 0.8


def test_sq8_topk_numpy_replay_and_dot_recall(spark, sf_dir, vecs):
    """SQ8 scores replay exactly in int64 numpy; top-5 by the quantized
    inner product recalls >= 0.8 of the EXACT inner-product top-5 (the
    operator's metric — c06's cosine anchor is a different metric)."""
    from amazonredshift_blueprints_spark.operators.similarity import sq8_topk

    ids, q = vecs
    e = load_table(spark, sf_dir, "embeddings")
    got = sq8_topk(e, e.filter(F.col("vec_id") < 10), k=5).collect()

    qi = q.astype(np.int64)
    lo, hi = qi.min(axis=0), qi.max(axis=0)
    span = hi - lo
    safe = np.where(span == 0, 1, span)
    codes = np.where(span == 0, 0, ((qi - lo) * 255) // safe)
    recon = lo * 255 + codes * span

    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == set(range(10))
    hits = tot = 0
    for qid, rows in by_query.items():
        i = int(np.where(ids == qid)[0][0])
        sq_scores = recon @ qi[i]
        cand = sorted(
            ((int(s), int(ids[j])) for j, s in enumerate(sq_scores)
             if ids[j] != qid),
            key=lambda t: (-t[0], t[1]),
        )
        rows.sort(key=lambda r: r["rank"])
        assert len(rows) == 5
        for r, (s, nid) in zip(rows, cand[:5]):
            assert (r["neighbor_id"], r["score_q"]) == (nid, s)
        exact = sorted(
            ((int(s), int(ids[j])) for j, s in enumerate(qi @ qi[i])
             if ids[j] != qid),
            key=lambda t: (-t[0], t[1]),
        )
        hits += len({n for _, n in cand[:5]} & {n for _, n in exact[:5]})
        tot += 5
    assert hits / tot >= 0.8


def test_sq8_flat_dimension_codes_zero(spark):
    """A constant dimension (span 0) must encode to code 0 everywhere,
    not divide by zero."""
    from amazonredshift_blueprints_spark.operators.similarity import sq8_topk

    rows = [(i, [float(i), 7.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = sq8_topk(df, df.filter(F.col("vec_id") < 2), k=3).collect()
    assert len(out) == 6  # 2 queries x top-3
    # dim 2 is constant: recon there is lo*255 for every vector, so the
    # score ordering is driven by dim 1 alone. Query 0's dim-1 component
    # is 0 -> every score ties -> lowest neighbor id wins; query 1's is
    # positive -> the largest dim-1 vector (id 5) ranks first.
    top0 = [r for r in out if r["query_id"] == 0 and r["rank"] == 1][0]
    assert top0["neighbor_id"] == 1
    top1 = [r for r in out if r["query_id"] == 1 and r["rank"] == 1][0]
    assert top1["neighbor_id"] == 5


def test_cooccurrence_topk_hand_cosine(spark):
    """Items 1,2 co-occur in both baskets (cosine 1.0); pair (1,3)
    appears once -> filtered by min_support=2."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        cooccurrence_topk,
    )

    rows = [(10, 1), (10, 2), (10, 3), (20, 1), (20, 2)]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = cooccurrence_topk(df, "basket", "item", k=5, min_support=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["n_ab"], r["cosine"], r["rank"]) == (
        1, 2, 2, 1.0, 1,
    )


def test_association_rules_directional_confidence(spark):
    """Item 2 appears in 2 baskets, both with item 1 (conf(2->1)=1.0);
    item 1 appears in 3 baskets (conf(1->2)=2/3). Lift symmetric."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        association_rules,
    )

    rows = [(10, 1), (10, 2), (20, 1), (20, 2), (30, 1), (30, 3)]
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = {
        (r["item_a"], r["item_b"]): (r["n_ab"], r["conf_micro"], r["lift_micro"])
        for r in association_rules(
            df, "basket", "item", min_support=2, k=10
        ).collect()
    }
    # N=3 baskets, n(1)=3, n(2)=2, n(1,2)=2
    assert got[(2, 1)] == (2, 1_000_000, 2 * 3 * 1_000_000 // (2 * 3))
    assert got[(1, 2)] == (2, 2 * 1_000_000 // 3, 1_000_000)
    assert (1, 3) not in got  # support 1 < min_support


def test_prefix_dim_recall_bounds_and_identity(spark):
    """Prefix == full dims -> recall exactly 1.0 for every query;
    recall is always in [0, 1e6] micro-units."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        prefix_dim_recall,
    )
    from amazonredshift_blueprints_spark.session import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ident = prefix_dim_recall(e, q, prefix_dims=64, k=5).collect()
    assert len(ident) == 5
    assert all(r["recall_micro"] == 1_000_000 for r in ident)
    part = prefix_dim_recall(e, q, prefix_dims=8, k=5).collect()
    assert all(0 <= r["recall_micro"] <= 1_000_000 for r in part)


def test_embedding_standardize_hand_stats(spark):
    """dim 0 has values (1.0, 3.0): mean 2, std 1 -> z = ±1; dim 1 is
    constant -> NULL z (never Inf)."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        embedding_standardize,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [3.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["vec_id"], r["dim"]): r["z_r6"]
        for r in embedding_standardize(df).collect()
    }
    assert got[(1, 0)] == -1.0 and got[(2, 0)] == 1.0
    assert got[(1, 1)] is None and got[(2, 1)] is None


def test_ivf_probe_recall_monotone_and_full_probe_identity(spark, sf_dir):
    """Recall is monotone in nprobe (probed cell sets are nested) and
    probing EVERY cell recovers the exact truth: recall = 1e6."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.similarity import (
        ivf_probe_recall,
    )
    from amazonredshift_blueprints_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    out = {
        r["nprobe"]: r
        for r in ivf_probe_recall(
            e,
            e.filter(F.col("vec_id") < 6),
            k=3,
            n_cells=8,
            probes=(1, 2, 8),
        ).collect()
    }
    assert out[1]["recall_micro"] <= out[2]["recall_micro"] <= out[8]["recall_micro"]
    assert out[8]["recall_micro"] == 1000000
    assert out[8]["n_hits"] == out[8]["n_truth"]


def test_semantic_decontaminate_flags_paraphrase(spark):
    """A train vector colinear with an eval vector is flagged at its
    exact cosine (1.0); an orthogonal one is not; ties on cosine break
    to the smallest eval id."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        semantic_decontaminate,
    )

    train = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),   # colinear with eval 100 AND 102
            (2, [0.0, 1.0, 0.0]),   # orthogonal to all eval vectors
            (3, [0.6, 0.0, 0.8]),   # cosine 0.6 to eval 100/102
        ],
        "vec_id long, embedding array<float>",
    )
    ev = spark.createDataFrame(
        [(100, [2.0, 0.0, 0.0]), (102, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.matched_eval_id, r.max_cosine)
        for r in semantic_decontaminate(train, ev, threshold=0.5).collect()
    }
    assert set(got) == {1, 3}
    assert got[1] == (100, 1.0)       # tie at cosine 1.0 -> smallest id
    assert got[3][0] in (100, 102) and abs(got[3][1] - 0.6) < 1e-9
    # threshold above every cosine flags nothing
    assert semantic_decontaminate(train, ev, threshold=1.1).count() == 0


def test_hard_negative_mining_excludes_same_label(spark):
    """Every mined negative has a different label than its query, the
    nearest same-label vector is skipped, and ranking is exact."""
    from amazonredshift_blueprints_spark.operators.similarity import (
        hard_negative_mining,
    )

    rows = [
        (1, [1.0, 0.0], 0),   # query
        (2, [0.99, 0.14], 0),  # nearest overall but SAME label -> skipped
        (3, [0.9, 0.44], 1),   # nearest different-label
        (4, [0.0, 1.0], 1),    # orthogonal different-label
        (5, [0.8, 0.6], 0),    # same label -> skipped
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    out = hard_negative_mining(
        df, df.filter("vec_id = 1"), k=3
    ).collect()
    assert [r.neg_id for r in out] == [3, 4]
    assert all(r.label == 0 and r.neg_label == 1 for r in out)
    assert [r.rank for r in out] == [1, 2]
    assert out[0].cosine > out[1].cosine


def test_one_quantizer_core():
    """Every quantizer distance is ``_pq_dist`` and every Lloyd update
    runs in ``_lloyd``: no ``** 2`` outside ``_pq_dist``, ``_div_round``
    called only by ``_lloyd``, and both trainers call ``_lloyd``."""
    import ast
    import inspect

    from amazonredshift_blueprints_spark.operators import similarity

    tree = ast.parse(inspect.getsource(similarity))
    squares, div_round_callers, lloyd_callers = set(), set(), set()
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Pow)
                and isinstance(node.right, ast.Constant)
                and node.right.value == 2
            ):
                squares.add(owner)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                if node.func.id == "_div_round":
                    div_round_callers.add(owner)
                elif node.func.id == "_lloyd":
                    lloyd_callers.add(owner)
    assert squares <= {"_pq_dist"}, squares
    assert div_round_callers == {"_lloyd"}, div_round_callers
    assert {"_kmeans_rows", "train_pq_codebook"} <= lloyd_callers, lloyd_callers
