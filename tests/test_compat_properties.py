"""Property tests for the dialect shim (pure string functions, no JVM):
identity on SQL without dialect constructs, idempotence on rewritten
output, and no corruption of string literals."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from amazonredshift_blueprints_spark.functions.redshift_compat import (
    translate_redshift_sql,
)

_DIALECT_TOKENS = re.compile(
    r"\b(GETDATE|SYSDATE|LEN|CHARINDEX|STRTOL|CONVERT_TIMEZONE|TO_CHAR|"
    r"DATEDIFF|APPROXIMATE|QUALIFY|TOP)\b",
    re.IGNORECASE,
)

ident = st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True).filter(
    lambda s: not _DIALECT_TOKENS.search(s)
)


@st.composite
def plain_select(draw):
    cols = ", ".join(draw(st.lists(ident, min_size=1, max_size=4)))
    table = draw(ident)
    where = draw(st.sampled_from(["", " WHERE {} > 0"])).format(draw(ident))
    order = draw(st.sampled_from(["", " ORDER BY {}"])).format(draw(ident))
    return f"SELECT {cols} FROM {table}{where}{order}"


@given(plain_select())
@settings(max_examples=200, deadline=None)
def test_identity_without_dialect_constructs(sql):
    assert translate_redshift_sql(sql) == sql


@given(plain_select())
@settings(max_examples=100, deadline=None)
def test_dialect_words_inside_literals_untouched(sql):
    salted = sql.replace(
        "SELECT ", "SELECT 'use QUALIFY and DATEDIFF and TOP 5 here' AS lit, ", 1
    )
    out = translate_redshift_sql(salted)
    assert "'use QUALIFY and DATEDIFF and TOP 5 here'" in out


_DIALECT_EXAMPLES = [
    "SELECT TOP 10 a FROM t ORDER BY a",
    "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1",
    "SELECT DATEDIFF(day, a, b) FROM t",
    "SELECT DATEDIFF(hour, a, b), LEN(x), CHARINDEX('q', y) FROM t",
    "SELECT TO_CHAR(ts, 'YYYY-MM-DD'), GETDATE() FROM t",
    "SELECT APPROXIMATE COUNT(DISTINCT x) FROM t",
    "SELECT CONVERT_TIMEZONE('PST', ts) FROM t",
    "SELECT STRTOL(h, 16) FROM t",
]


def test_idempotent_on_rewritten_output():
    for sql in _DIALECT_EXAMPLES:
        once = translate_redshift_sql(sql)
        assert translate_redshift_sql(once) == once, sql


@given(st.one_of(plain_select(), st.sampled_from(_DIALECT_EXAMPLES)))
@settings(max_examples=100, deadline=None)
def test_trailing_comment_is_opaque(sql):
    """A trailing comment — even one holding a quote and a paren —
    changes no rewrite and comes back verbatim."""
    tail = "\n-- it's ("
    assert translate_redshift_sql(sql + tail) == translate_redshift_sql(sql) + tail


# -- operator invariants (round 7) ----------------------------------------
# Property subjects that need a SparkSession use module-scoped sampling of
# the hypothesis-generated inputs through ONE job per example set — the
# per-example strategy keeps data tiny so the property run stays fast.


@settings(max_examples=20, deadline=None)
@given(
    keys=st.sets(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=60),
    probes=st.sets(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=60),
)
def test_bloom_superset_property(keys, probes):
    """Pure-python replay of the Bloom build/probe pair is impossible
    (xxhash64 is JVM-side), but the SUPERSET property is checkable
    end-to-end: every inserted key must test positive. Uses one shared
    SparkSession; each example is two tiny jobs."""
    from amazonredshift_blueprints_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )
    from amazonredshift_blueprints_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("pytest")
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    words = bloom_build(df, "k", n_bits=256, n_hashes=2)
    test_set = keys | probes
    got = {
        r["k"]
        for r in spark.createDataFrame([(k,) for k in test_set], "k long")
        .filter(bloom_might_contain("k", words, n_hashes=2))
        .collect()
    }
    assert keys <= got  # no false negatives, ever


@settings(max_examples=15, deadline=None)
@given(
    n_tokens=st.integers(min_value=0, max_value=40),
    window=st.integers(min_value=1, max_value=12),
    stride=st.integers(min_value=1, max_value=12),
)
def test_chunk_coverage_property(n_tokens, window, stride):
    """Chunking invariants for any (window, stride): chunk k starts at
    k*stride; every token position is covered when stride <= window;
    concatenating stride-sized prefixes of each chunk (plus the last
    chunk's tail) reconstructs the document exactly."""
    from amazonredshift_blueprints_spark.operators.text import chunk_documents
    from amazonredshift_blueprints_spark.session import get_spark

    spark = get_spark("pytest")
    toks = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        (r["chunk_id"], r["start_token"], r["chunk_text"])
        for r in chunk_documents(
            df, "doc_id", "text", window_tokens=window, stride_tokens=stride
        ).collect()
    )
    if n_tokens == 0:
        assert rows == []
        return
    assert [r[1] for r in rows] == list(range(0, n_tokens, stride))
    for cid, start, text in rows:
        assert cid == start // stride
        expect = toks[start : start + window]
        assert text.split(" ") == expect
    if stride <= window:
        covered = set()
        for _, start, text in rows:
            covered.update(range(start, start + len(text.split(" "))))
        assert covered == set(range(n_tokens))


@given(plain_select())
@settings(max_examples=100, deadline=None)
def test_ratio_to_report_rewrite_idempotent(sql):
    """After the RATIO_TO_REPORT lowering fires once, the rewritten
    text contains no trigger token, so a second pass is identity."""
    salted = sql.replace(
        "SELECT ",
        "SELECT RATIO_TO_REPORT(x) OVER (PARTITION BY k) AS share, ",
        1,
    )
    once = translate_redshift_sql(salted)
    assert "RATIO_TO_REPORT" not in once
    assert "nullif(CAST(SUM(x) OVER (PARTITION BY k) AS DOUBLE), 0)" in once
    assert translate_redshift_sql(once) == once


# ---------------------------------------------------------------------------
# Round-11 operator properties (pure Python / numpy — no JVM).
# ---------------------------------------------------------------------------


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=50, deadline=None)
def test_wav_roundtrip_property(n_samples, channels, seed):
    """Any int16 sample matrix survives encode→decode bit-exactly, at
    any (frames, channels) shape — incl. odd data sizes that exercise
    the RIFF word-alignment padding rule."""
    import numpy as np

    from amazonredshift_blueprints_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(-32768, 32768, size=(n_samples, channels)).astype("<i2")
    rate, ch, out = decode_wav(encode_wav(arr, sample_rate=16000))
    assert rate == 16000 and ch == channels and (out == arr).all()


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefgh", min_size=1, max_size=4),
            st.integers(min_value=0, max_value=10**9),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=10**10),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_unimax_waterfilling_invariants(strata, budget, cap):
    """UniMax allocation invariants for ANY stats/budget/cap: every
    allocation is within [0, cap*avail]; the total never exceeds the
    budget; and when the budget covers the capped total, every stratum
    saturates exactly (replicates the operator's driver-side solve,
    which the Spark function wraps verbatim)."""
    n = len(strata)
    capped = sorted((av * cap, s, av) for s, av in strata)
    prefix, k, pk = 0, 0, 0
    for idx, (a_i, _s, _av) in enumerate(capped, 1):
        prefix += a_i
        if prefix + (n - idx) * a_i <= budget:
            k, pk = idx, prefix
    theta = None if k >= n else (budget - pk) // (n - k)
    allocs = {
        s: (a_i if theta is None else min(a_i, theta))
        for a_i, s, _av in capped
    }
    total_capped = sum(a for a, _, _ in capped)
    for (s, av) in strata:
        assert 0 <= allocs[s] <= av * cap
    if theta is not None:
        assert sum(allocs.values()) <= budget
    if budget >= total_capped:
        assert all(allocs[s] == av * cap for s, av in strata)
