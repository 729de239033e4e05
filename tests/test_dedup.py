"""Dedup operators vs brute-force reimplementations at sf0.001."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from amazonredshift_blueprints_spark.operators.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    token_hashes,
    tokens,
)
from amazonredshift_blueprints_spark.session import load_table


def _brute_jaccard_pairs(spark, sf_dir, n=3):
    """All-pairs word-n-gram Jaccard, computed driver-side in Python."""
    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    grams = {}
    for r in rows:
        toks = [t for t in r["text"].lower().split() if t]
        grams[r["doc_id"]] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    ids = sorted(grams)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(grams[a] & grams[b])
            union = len(grams[a] | grams[b])
            if union:
                out[(a, b)] = inter / union
    return out


@pytest.fixture(scope="module")
def brute(spark, sf_dir):
    return _brute_jaccard_pairs(spark, sf_dir)


def test_exact_dedup_with_injected_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello world"), (3, "  hello world  "), (4, "other")],
        ["doc_id", "text"],
    )
    got = {r["keep_id"]: r["n_copies"] for r in exact_dedup(df, "doc_id", "text").collect()}
    # 1,2,3 normalize to the same content; keeper is the min id
    assert got == {1: 3, 4: 1}


def test_ngram_jaccard_matches_bruteforce(spark, sf_dir, brute):
    d = load_table(spark, sf_dir, "documents")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold_pct=40).collect()
    }
    want = {p: j for p, j in brute.items() if j * 100 >= 40}
    assert set(got) == set(want)
    for p in got:
        assert abs(got[p] - want[p]) < 1e-12


def test_minhash_verified_pairs_are_exact_and_recall_high(spark, sf_dir, brute):
    d = load_table(spark, sf_dir, "documents")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(
            d, "doc_id", "text", num_hashes=64, bands=16, threshold_pct=60
        ).collect()
    }
    # Precision is exact by construction (candidates are re-verified):
    for (a, b), j in got.items():
        assert j >= 0.6 and abs(brute[(a, b)] - j) < 1e-12
    # Recall: every strongly-similar pair (j >= 0.8) must be caught —
    # P(miss) = (1-j^4)^16 <= 2e-4 per pair, and the seed is fixed.
    strong = {p for p, j in brute.items() if j >= 0.8}
    assert strong <= set(got)


def test_simhash_signature_matches_numpy(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(20)
    staged = (
        d.select("doc_id", tokens("text").alias("_toks"))
        .select("doc_id", token_hashes(F.col("_toks")).alias("_h"))
    )
    from amazonredshift_blueprints_spark.operators.dedup import simhash

    rows = staged.select("doc_id", "_h", simhash(F.col("_h")).alias("sig")).collect()
    for r in rows:
        # int64 first, then view as uint64: direct uint64 conversion of
        # negative Python ints is a numpy deprecation → future error
        hs = np.array(r["_h"], dtype=np.int64).astype(np.uint64)
        votes = np.zeros(64, dtype=np.int64)
        for b in range(64):
            bits = (hs >> np.uint64(b)) & np.uint64(1)
            votes[b] = int(bits.sum()) * 2 - len(hs)
        expected = np.uint64(0)
        for b in range(64):
            if votes[b] > 0:
                expected |= np.uint64(1) << np.uint64(b)
        assert np.uint64(r["sig"] & 0xFFFFFFFFFFFFFFFF) == expected, r["doc_id"]


def test_simhash_pairs_complete_within_radius(spark, sf_dir):
    """Pigeonhole blocking must find EVERY pair within the radius."""
    d = load_table(spark, sf_dir, "documents")
    staged = (
        d.select("doc_id", tokens("text").alias("_toks"))
        .select("doc_id", token_hashes(F.col("_toks")).alias("_h"))
    )
    from amazonredshift_blueprints_spark.operators.dedup import simhash

    sigs = {
        r["doc_id"]: r["sig"]
        for r in staged.select("doc_id", simhash(F.col("_h")).alias("sig")).collect()
    }
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= 3:
                want.add((a, b))
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(d, "doc_id", "text", max_distance=3).collect()
    }
    assert got == want


def test_portable_minhash_subset_of_exact(spark, sf_dir):
    from amazonredshift_blueprints_spark.operators.dedup import (
        ngram_jaccard_pairs,
        portable_minhash_pairs,
    )
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in portable_minhash_pairs(
            d, "doc_id", "text", num_perms=8, bands=4, threshold_pct=60
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold_pct=60).collect()
    }
    assert set(got) <= exact  # LSH never invents a pair the verify stage rejects
    assert all(j >= 0.6 for j in got.values())


def test_portable_minhash_bad_bands(spark, sf_dir):
    import pytest as _pytest

    from amazonredshift_blueprints_spark.operators.dedup import portable_minhash_pairs
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        portable_minhash_pairs(d, "doc_id", "text", num_perms=7, bands=4)


def test_portable_simhash_determinism_and_block_guarantee(spark, sf_dir):
    from amazonredshift_blueprints_spark.operators.dedup import portable_simhash_pairs
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    a = {(r.id_a, r.id_b): r.distance
         for r in portable_simhash_pairs(d, "doc_id", "text").collect()}
    b = {(r.id_a, r.id_b): r.distance
         for r in portable_simhash_pairs(d, "doc_id", "text").collect()}
    assert a == b  # rebuild-deterministic (the c24 regression class)
    assert all(0 <= dist <= 3 for dist in a.values())
    import pytest as _pytest
    with _pytest.raises(ValueError):
        portable_simhash_pairs(d, "doc_id", "text", blocks=5)  # 5 ∤ 64


def test_simhash_radius_validation(spark, sf_dir):
    import pytest as _pytest

    from amazonredshift_blueprints_spark.operators.dedup import (
        portable_simhash_pairs,
        simhash_near_duplicates,
    )
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    # Portable variant: pigeonhole needs max_distance < blocks.
    with _pytest.raises(ValueError, match="must be < blocks"):
        portable_simhash_pairs(d, "doc_id", "text", max_distance=5, blocks=4)
    # Fast variant: block width must stay >= 1 bit.
    with _pytest.raises(ValueError, match="max_distance"):
        simhash_near_duplicates(d, "doc_id", "text", max_distance=64)


def test_duplicate_groups_connected_components(spark):
    from amazonredshift_blueprints_spark.operators.dedup import duplicate_groups

    # Two components: a 4-node chain {1,2,3,9} (diameter 3 — needs
    # multiple propagation rounds) and a pair {5,7}; node 8 isolated
    # (appears in no pair, so it must NOT appear in the output).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], "id_a: long, id_b: long"
    )
    got = {(r["doc_id"], r["group_id"])
           for r in duplicate_groups(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (7, 5)}


def test_minhash_bucket_cap_drops_degenerate_buckets(spark):
    from amazonredshift_blueprints_spark.operators.dedup import minhash_near_duplicates

    # 60 identical docs = one degenerate bucket per band (60^2/2 pairs);
    # two genuinely near-dup docs must survive the cap.
    boiler = "lorem ipsum dolor sit amet " * 10
    near_a = "the quick brown fox jumps over the lazy dog again and again today"
    near_b = "the quick brown fox jumps over the lazy dog again and again tonight"
    rows = [(i, boiler) for i in range(60)]
    rows += [(100, near_a), (101, near_b)]
    d = spark.createDataFrame(rows, "doc_id: long, text: string")

    capped = minhash_near_duplicates(
        d, "doc_id", "text", threshold_pct=50, max_bucket_size=10
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in got          # real near-dups survive
    assert not any(a < 60 and b < 60 for a, b in got)  # boilerplate bucket dropped

    uncapped = minhash_near_duplicates(d, "doc_id", "text", threshold_pct=50).collect()
    assert len(uncapped) > len(capped)  # the cap actually pruned work


def test_ngram_jaccard_doc_freq_cap_is_precision_safe(spark):
    from amazonredshift_blueprints_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "terms of service apply here"  # shared by every doc
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta epsilon {boiler}"),
            (2, f"alpha beta gamma delta epsilon {boiler}"),  # true near-dup of 1
            (3, f"totally different words entirely unrelated {boiler}"),
            (4, f"another separate unique document content {boiler}"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold_pct=30).collect()
    }
    capped_rows = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold_pct=30, max_doc_freq=2
    ).collect()
    capped = {(r["id_a"], r["id_b"]) for r in capped_rows}
    # precision-safe: capped output never contains a pair the exact run
    # rejected (jaccard is a lower bound under the cap)
    assert capped <= exact
    # the true near-dup (1,2) survives: its shared grams are rare
    assert (1, 2) in capped
    # boilerplate-only pairs (3,4 share ONLY the capped grams) are dropped
    assert (3, 4) not in capped
    # and the capped jaccard is a lower bound of the true one
    exact_j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold_pct=0).collect()
    }
    for r in capped_rows:
        assert r["jaccard"] <= exact_j[(r["id_a"], r["id_b"])] + 1e-12


def test_rebalance_guard_noop_on_well_split_input(spark):
    """The 100-TB contract of rebalance_for_compute: it may only add an
    Exchange when scan parallelism is far below the cluster's; a
    well-split input must pass through UNTOUCHED (same plan object, no
    added shuffle)."""
    from amazonredshift_blueprints_spark.operators.dedup import rebalance_for_compute

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, numPartitions=max(target, 2))
    assert rebalance_for_compute(wide) is wide  # no-op, not even a new DF

    narrow = spark.range(0, 10_000, numPartitions=1)
    out = rebalance_for_compute(narrow)
    if target >= 4:  # guard fires only when the gap is >= factor
        assert out.rdd.getNumPartitions() == target
        assert out.count() == narrow.count()
    else:
        assert out is narrow


@pytest.mark.parametrize(
    "n, max_iters",
    [(64, None), (64, 8), (1024, 12)],
    ids=["64_default", "64_in_8", "1024_in_12"],
)
def test_duplicate_groups_long_chain_logarithmic_rounds(spark, monkeypatch, n, max_iters):
    """An n-node chain (diameter n - 1) must fully resolve to one group —
    with pointer jumping within O(log n) rounds (plain neighbor
    propagation would need n - 1). The 64-node chain resolves within
    the default max_iters=20; 8 rounds for 64 nodes and 12 for 1024 are
    the exact minima of 4 plain rounds followed by pointer jumping, so
    an extra round or a later start of pointer jumping fails here. The
    driver union-find gate is disabled so this pins the DISTRIBUTED
    loop."""
    from amazonredshift_blueprints_spark.operators.dedup import duplicate_groups

    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a: long, id_b: long"
    )
    kw = {} if max_iters is None else {"max_iters": max_iters}
    got = {(r["doc_id"], r["group_id"]) for r in duplicate_groups(pairs, **kw).collect()}
    assert got == {(i, 0) for i in range(n)}


_CC_PAIRS = [(1, 2), (2, 3), (3, 9), (5, 7), (20, 11), (11, 4)]
_CC_GROUPS = {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (7, 5), (20, 4), (11, 4), (4, 4)}
_NOT_NULL_IDS = "id_a long NOT NULL, id_b long NOT NULL"


@pytest.mark.parametrize(
    "rows, schema, expected",
    [
        (_CC_PAIRS, "id_a: long, id_b: long", _CC_GROUPS),
        # a NULL endpoint: the union-find cannot order it (None < int
        # raises), so the gate falls through to the distributed loop
        ([(1, 2), (2, None), (5, 7)], "id_a: long, id_b: long", None),
        # non-nullable ids: the local path keeps the loop's nullability
        (_CC_PAIRS, _NOT_NULL_IDS, _CC_GROUPS),
        # no pairs at all: an empty frame with the loop's schema
        ([], "id_a: int, id_b: int", set()),
    ],
    ids=["long_pairs", "null_id", "non_nullable", "empty"],
)
def test_duplicate_groups_driver_gate_matches_distributed(
    spark, monkeypatch, rows, schema, expected
):
    """The metadata-size-gated local union-find must return the exact
    rows AND schema of the distributed min-label loop (r17: the gate
    replaces 3-5 rounds of pure job overhead on tiny graphs)."""
    from amazonredshift_blueprints_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame(rows, schema)
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    dist = duplicate_groups(pairs)
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "200000")
    local = duplicate_groups(pairs)
    assert local.schema == dist.schema
    got = {tuple(r) for r in local.collect()}
    assert got == {tuple(r) for r in dist.collect()}
    if expected is not None:
        assert got == expected


def test_minhash_store_matches_recompute(spark, sf_dir, tmp_path):
    """Dedup against the STORED signature table must equal the same
    pipeline with both sides sketched fresh (the store adds persistence,
    never different answers)."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.dedup import (
        build_minhash_store,
        dedup_against_minhash_store,
    )
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    ref, new = d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)

    path = str(tmp_path / "sigs")
    stored = build_minhash_store(ref, path, "doc_id", "text")
    assert dict(stored.dtypes)["h0"] == "string"  # hex digests as plain columns

    got = {
        (r["new_id"], r["ref_id"]): r["n_sig_match"]
        for r in dedup_against_minhash_store(
            spark, path, new, "doc_id", "text", min_sig_match=4
        ).collect()
    }
    # fresh-store round trip: rebuilding from the same ref yields the same
    path2 = str(tmp_path / "sigs2")
    build_minhash_store(ref, path2, "doc_id", "text")
    again = {
        (r["new_id"], r["ref_id"]): r["n_sig_match"]
        for r in dedup_against_minhash_store(
            spark, path2, new, "doc_id", "text", min_sig_match=4
        ).collect()
    }
    assert got == again and got  # deterministic and non-empty
    for (n, r), m in got.items():
        assert n % 2 == 1 and r % 2 == 0 and 4 <= m <= 8


def test_minhash_store_sidecar_validates_params(spark, sf_dir, tmp_path):
    """The store records (shingle_size, num_perms) in a sidecar; querying
    with mismatched sketch parameters must fail loudly — signatures from
    different shingle sizes hash-disagree silently otherwise."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.dedup import (
        build_minhash_store,
        dedup_against_minhash_store,
    )
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").limit(40)
    path = str(tmp_path / "sigs_meta")
    build_minhash_store(d, path, "doc_id", "text", shingle_size=3, num_perms=8)
    meta = json.load(open(os.path.join(path, "_minhash_meta.json")))
    assert meta == {"shingle_size": 3, "num_perms": 8}
    with pytest.raises(ValueError, match="shingle_size"):
        dedup_against_minhash_store(
            spark, path, d.filter(F.col("doc_id") % 2 == 1), "doc_id", "text",
            shingle_size=5,
        )
    # matching params still work (non-raising is the contract here)
    dedup_against_minhash_store(
        spark, path, d.filter(F.col("doc_id") % 2 == 1), "doc_id", "text",
        shingle_size=3, num_perms=8,
    ).collect()


def test_containment_join_directed_asymmetry(spark):
    """A ⊂ B at the shingle level: (A in B) qualifies at 0.8, the
    reverse direction does not — the asymmetry Jaccard cannot express."""
    from amazonredshift_blueprints_spark.operators.dedup import (
        containment_prefix_join,
    )

    rows = [
        (1, "a b c d"),              # grams: {a b c, b c d}
        (2, "a b c d e f"),          # superset of doc 1's grams
        (3, "x y z w"),              # unrelated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["n_a"])
        for r in containment_prefix_join(
            df, "doc_id", "text", threshold_pct=80, ngram=3
        ).collect()
    }
    assert got == {(1, 2): (2, 2)}  # both of doc 1's grams inside doc 2


def test_dup_rate_by_group_corpus_wide_multiplicity(spark):
    """A doc duplicated ACROSS sources counts as dup in both groups
    (corpus-wide fingerprint multiplicity, not within-group)."""
    from amazonredshift_blueprints_spark.operators.dedup import (
        dup_rate_by_group,
    )

    rows = [
        (1, "Same Text ", "a"),   # normalizes equal to doc 3
        (2, "unique one", "a"),
        (3, "  same text", "b"),  # cross-source dup of doc 1
        (4, "another", "b"),
        (5, "another", "b"),      # within-source dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    got = {
        r["grp"]: r for r in dup_rate_by_group(df, "doc_id", "text", "src").collect()
    }
    a, b = got["a"], got["b"]
    assert (a["n_docs"], a["n_unique_texts"], a["n_dup_docs"]) == (2, 2, 1)
    assert a["dup_rate_micro"] == 500000
    assert (b["n_docs"], b["n_unique_texts"], b["n_dup_docs"]) == (3, 2, 3)
    assert b["dup_rate_micro"] == 1000000


def test_minhash_recall_eval_owner_releases_all_caches(spark, sf_dir):
    """``release_pins`` must free EVERY frame the evaluator pinned (r16
    advisor: sig was the sole release handle, cand leaked in long-lived
    sessions)."""
    from amazonredshift_blueprints_spark.operators import release_pins
    from amazonredshift_blueprints_spark.operators.dedup import (
        minhash_recall_eval,
    )

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    release_pins(spark)
    before = persisted()
    df = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
    minhash_recall_eval(df, "doc_id", "text").collect()
    assert persisted() == before + 2  # sig and cand
    release_pins(spark)
    assert persisted() == before
