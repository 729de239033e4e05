"""Text-analysis operators for LLM training-data pipelines.

Everything is built-in-function SQL (JVM-side, whole-stage codegen) — no
Python in the hot path. Each operator is a narrow projection over the
documents table, so at 100 TB the cost is one columnar scan; nothing
shuffles except explicit aggregations.

Operators (SURVEY.md §2 Part C / BASELINE.json north star):
- ``text_stats``        — length/token/punctuation/uniqueness quality
  signals (the usual pre-training corpus filters).
- ``quality_score``     — a deterministic 0..100 composite of the stats.
- ``language_id``       — stopword-hit n-gram heuristic over a fixed
  5-language lexicon; pure CASE/array logic.
- ``token_count_bpe``   — BPE-ish regex token count (letters runs,
  digit runs, punctuation singletons).
- ``fingerprint``       — md5 over aggressively normalized text (the
  cheap exact-dedup / provenance key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import pin, release
from .dedup import rebalance_for_compute, tokens

# Tiny per-language stopword lexicons. Deliberately small and fixed:
# the operator contract is determinism and shape, not linguistic SOTA —
# swap in real lexicons (still broadcast-size) for production use.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"),
}

# BPE-ish pre-tokenization: letter runs | digit runs | single non-space
# symbol. Kept to portable regex (same semantics in Java regex and RE2).
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# BPE training re-materializes its lazily-chained vocab rewrite every
# this many merge rounds so expression depth stays bounded (see
# train_bpe_merges); small enough to clear analyzer/codegen limits
# with wide margin, large enough that short trainings never flush.
_BPE_FLUSH_EVERY = 48


def _stopword_hits(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality signals per document.

    Returns (id, n_chars, n_tokens, n_uniq_tokens, uniq_ratio,
    punct_ratio, stopword_ratio, mean_token_len).
    """
    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        tokens(text_col).alias("_toks"),
    )
    n_chars = F.length("_text").cast("long")
    n_tokens = F.size("_toks").cast("long")
    n_uniq = F.size(F.array_distinct("_toks")).cast("long")
    n_punct = (
        F.length("_text") - F.length(F.regexp_replace("_text", r"[^A-Za-z0-9\s]", ""))
    ).cast("long")
    n_stop = _stopword_hits(F.col("_toks"), "en").cast("long")
    total_tok_chars = F.aggregate(
        F.transform(F.col("_toks"), lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    return staged.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        (n_uniq.cast("double") / F.nullif(n_tokens, F.lit(0)).cast("double")).alias("uniq_ratio"),
        (n_punct.cast("double") / F.nullif(n_chars, F.lit(0)).cast("double")).alias("punct_ratio"),
        (n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)).cast("double")).alias("stopword_ratio"),
        (total_tok_chars.cast("double") / F.nullif(n_tokens, F.lit(0)).cast("double")).alias("mean_token_len"),
    )


def quality_score(stats: DataFrame) -> DataFrame:
    """0..100 composite: integer point blocks per signal band — exact
    arithmetic, so engines agree bit-for-bit."""
    points = (
        F.when(F.col("n_tokens").between(20, 10_000), F.lit(30)).otherwise(F.lit(0))
        + F.when(F.col("uniq_ratio") * 100 >= 30, F.lit(25)).otherwise(F.lit(0))
        + F.when(F.col("punct_ratio") * 100 <= 15, F.lit(25)).otherwise(F.lit(0))
        + F.when(
            (F.col("mean_token_len") >= 2) & (F.col("mean_token_len") <= 12),
            F.lit(20),
        ).otherwise(F.lit(0))
    )
    return stats.select("*", points.cast("long").alias("quality"))


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-hit language guess over the fixed 5-language lexicon.

    Returns (id, <lang>_hits ..., lang_pred). Ties break by language
    code order (deterministic). All CASE/array built-ins.
    """
    staged = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    hit_cols = {
        lang: _stopword_hits(F.col("_toks"), lang).cast("long").alias(f"{lang}_hits")
        for lang in sorted(STOPWORDS)
    }
    with_hits = staged.select(F.col(id_col), *hit_cols.values())
    best = F.greatest(*[F.col(f"{lang}_hits") for lang in sorted(STOPWORDS)])
    pred = F.lit("und")
    # Reverse order + when-chains: the FIRST lang in sorted order wins ties.
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when((F.col(f"{lang}_hits") == best) & (best > 0), lang).otherwise(pred)
    return with_hits.select(F.col(id_col), *[F.col(f"{lang}_hits") for lang in sorted(STOPWORDS)], pred.alias("lang_pred"))


def token_count_bpe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """BPE-ish token count via regexp_extract_all (letters/digits/symbol)."""
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(tokens(text_col)).cast("long").alias("n_ws_tokens"),
    )


def tf_idf_topk(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 5
) -> DataFrame:
    """Top-k TF-IDF terms per document, pure DataFrame ops (no MLlib).

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (smoothed);
    score = round(tf * idf, 6) — rounded because ln is transcendental
    and engines differ in the last ulp. Ranking orders by the ROUNDED
    score (ties → token ascending), so rank is engine-exact too.

    Returns (doc_id, token, tf, docfreq, tfidf, rank), rank <= k.

    100 TB: two shuffles (per-doc tf, corpus df) + one join keyed on
    token — the inverted-index shape. The document-frequency table is
    vocabulary-sized; Catalyst broadcasts it while it fits, shuffles
    otherwise. Window state is k rows per doc.
    """
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = (
        toks.distinct().groupBy("token").agg(F.count("*").alias("docfreq"))
    )
    n = df.select(F.count("*").alias("n_docs"))  # 1-row broadcast dim
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("docfreq") + 1.0)) + 1.0
    scored = tf.join(dfreq, "token").crossJoin(F.broadcast(n)).select(
        F.col(id_col),
        "token",
        F.col("tf").cast("long").alias("tf"),
        F.col("docfreq").cast("long").alias("docfreq"),
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stable content fingerprint: lowercase, strip non-alnum, collapse
    whitespace, md5. The cheap key for exact dedup and provenance."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp"),
        F.length(norm).cast("long").alias("norm_len"),
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    — the MOSS local fingerprinting scheme): hash every character
    ``k``-gram of the normalized text, slide a window of ``w``
    consecutive hashes, select each window's minimum (rightmost on
    ties), and deduplicate the selections. Returns
    ``(id_col, pos, fp)`` — the selected positions and 32-bit k-gram
    hashes. Guarantee (the paper's): any substring match of length
    >= k + w - 1 between two documents yields at least one SHARED
    fingerprint, while expected density is only 2/(w+1) of positions
    — a sparse, position-robust signature (unlike whole-document
    ``fingerprint``, a single edit does not change it globally).

    Distributed shape (r16): ZERO-shuffle, document-local array
    expressions — the k-gram keys, the per-window minima, and the
    selection dedup all stay inside one row. The key array packs the
    rightmost-tie-break INSIDE the min by combining ``(hash, -pos)``
    into a single int64 — ``hash * 2^30 + (2^30-1-pos)`` — so each
    window's selection is ``array_min(slice(keys, p, w))`` (identical
    to the former ROWS-frame window min: same int64 values, same
    min), and ``array_distinct`` over the selections equals the
    former global ``.distinct()`` because the packed key is bijective
    with (fp, pos) and rows carry the document id. The r15 form —
    posexplode to one row per character + window min per document —
    shuffled and SORTED the whole character-gram stream (by far the
    largest intermediate of any consumer); the array form does the
    same O(n·w) comparisons map-side and ships only the ~2/(w+1)
    surviving fingerprints. The md5-derived hash is portable
    (Spark ``conv(substring(md5..))`` == ANSI ``CAST('0x'||..)``),
    so a SQL oracle replays selections bit-for-bit. 100 TB: no
    shuffle at all in this operator; downstream pair joins bucket by
    fp hash (see c212) — never all-pairs.

    Documents shorter than ``k + w - 1`` normalized characters have
    no full window and emit no fingerprints (the paper's noise-
    threshold semantics). Positions are capped by the packing at
    2^30 characters per document.
    """
    m = 1 << 30
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]", "")
    base = df.select(F.col(id_col), norm.alias("_s")).filter(
        F.length("_s") >= k + w - 1
    )
    # key(p) for the 1-based gram position p: hash * 2^30 + (2^30-1-p).
    # Staged selects keep _keys a bound attribute so the window lambdas
    # never re-inline the md5 pipeline (the _ngrams_expr capture trap).
    # rebalance_for_compute: the r15 window min ran AFTER an exchange,
    # so the md5 pipeline inherited full cluster parallelism for free;
    # map-only winnowing inherits the SCAN's split instead, which on an
    # under-split input serializes the expensive part (measured: c212
    # 7.7 → 10.7 s without the guard, 3.0 s with it).
    keys = rebalance_for_compute(base).select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(1, length(_s) - {k} + 1), "
            f"p -> CAST(conv(substring(md5(substring(_s, p, {k})), 1, 8), "
            f"16, 10) AS BIGINT) * CAST({m} AS BIGINT) + ({m - 1} - p))"
        ).alias("_keys"),
    )
    sels = keys.select(
        F.col(id_col),
        F.expr(
            f"array_distinct(transform(sequence(1, size(_keys) - {w - 1}), "
            f"p -> array_min(slice(_keys, p, {w}))))"
        ).alias("_sels"),
    )
    # explode_outer, NOT explode: the inner explode makes the optimizer
    # infer a ``size(_sels) > 0`` filter and push it below the project —
    # re-running the whole md5/slice pipeline a second time per row
    # (measured: the query never finished at sf0.1). _sels is never
    # empty anyway (the length filter guarantees >= 1 window), so the
    # post-generate null filter is a no-op that only blocks the rule.
    return (
        sels.select(F.col(id_col), F.explode_outer("_sels").alias("_sel"))
        .filter(F.col("_sel").isNotNull())
        .select(
            id_col,
            (F.lit(m - 1) - (F.col("_sel") % m)).cast("int").alias("pos"),
            F.shiftright("_sel", 30).alias("fp"),
        )
    )


def top_tokens(df: DataFrame, text_col: str, *, k: int = 20) -> DataFrame:
    """Corpus-wide heavy hitters: the ``k`` most frequent tokens by
    occurrence count — the vocabulary-inspection / stopword-discovery
    pass of a corpus pipeline.

    Exact counts via explode → hash aggregate: partial (map-side)
    aggregation means the shuffle carries at most |vocab| rows per
    partition, not |tokens|; the final ``TakeOrderedAndProject`` keeps
    k rows per partition — no global sort. Deterministic: ties break on
    the token string. At 100 TB the same plan holds (vocabulary, not
    corpus, bounds the shuffle); swap in a count-min sketch only if the
    vocabulary itself stops fitting — for word-like tokens it fits.
    """
    toks = df.select(F.explode(tokens(text_col)).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    ≥ ``min_shared`` distinct word ``ngram``-grams with ANY eval-set
    document — the standard guard against test-set leakage into a
    pre-training corpus (the n-gram-overlap rule used by GPT-3/PaLM-style
    dataset reports).

    Returns (doc_id, n_shared_grams, n_eval_docs) for contaminated
    training docs only.

    Scale shape: both sides explode to (gram, id) and meet in ONE
    equi-join on the gram — never train×eval. The eval side of the join
    is benchmark-sized (thousands of docs), so the join broadcasts;
    doc-frequency caps (drop grams appearing in > X% of training docs,
    e.g. boilerplate) bolt on as one aggregate before the join.
    """
    from .dedup import rebalance_for_compute, tokens, word_ngrams

    def grams_of(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(out_id),
                word_ngrams(tokens(text_col), ngram).alias("_g"),
            )
            .filter(F.size("_g") > 0)
            .select(out_id, F.explode("_g").alias("gram"))
        )

    t = grams_of(rebalance_for_compute(train), "doc_id")
    e = grams_of(evalset, "eval_id")
    return (
        t.join(e, "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_shared_grams") >= min_shared)
    )


def pack_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    budget_tokens: int = 512,
    n_shards: int = 32,
) -> DataFrame:
    """Sequence packing: assign documents (in id order) to contiguous
    bins of ~``budget_tokens`` whitespace tokens — the batching step
    that turns a filtered corpus into fixed-size training sequences.

    Bin rule: ``bin_id = floor(exclusive_prefix_sum(tokens) / budget)``
    — a document whose tokens cross a bin boundary goes wholly into the
    bin its first token falls in, so bins can overflow by at most one
    document (streaming first-fit; no doc is ever split). Deterministic:
    ordering is by id, token counts are integers.

    Returns (doc_id, shard, n_tokens, bin_id, bin_start_offset).

    Scale: a single global running sum would serialize on one reducer,
    so packing is sharded — ``shard = doc_id % n_shards`` and the window
    runs per shard (packing across shard boundaries is unnecessary: bins
    are independent training sequences). At 100 TB pick n_shards ≈
    cluster parallelism; each shard's window state is one running long.
    """
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % n_shards).cast("long").alias("shard"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return staged.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(excl / budget_tokens).cast("long").alias("bin_id"),
        excl.alias("bin_start_offset"),
    )


# Portable regexes (identical semantics in Java regex and RE2/DuckDB):
# no backrefs, no lookaround, explicit character classes.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing: replace email addresses and phone-shaped numbers
    with typed placeholders; report per-document counts — the minimal
    redaction pass a public-corpus pipeline runs before anything else.

    Returns (doc_id, redacted, n_emails, n_phones). Pure
    ``regexp_replace``/``regexp_count`` projections: one columnar scan,
    no shuffle, whole-stage codegen. The patterns are deliberately
    RE2-safe so external engines replay them exactly; real deployments
    swap in their compliance team's pattern pack (same plan shape).
    """
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ).alias("redacted"),
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    flag_dup_fraction: float = 0.2,
) -> DataFrame:
    """Within-document repetition signals: the "repetitious text" filter
    family of pre-training pipelines (Rae et al.'s Gopher rules measure
    duplicate n-gram fractions; boilerplate and spam score high).

    Per document over word ``n``-grams:
    - ``n_grams`` / ``n_distinct_grams`` — total vs distinct gram count;
    - ``dup_fraction``   — (total - distinct) / total, 0.0 for short docs;
    - ``top_share``      — occurrences of the most frequent gram / total;
    - ``flagged``        — dup_fraction > ``flag_dup_fraction``.

    Plan: explode grams → two-level hash aggregate ((doc, gram) counts,
    then per-doc total/distinct/max) → left join back to keep gram-less
    short docs. All counts are integers and each ratio is one double
    division, so any engine replays bit-for-bit.

    Scale: the explode is map-side; the (doc_id, gram) aggregate is the
    same corpus-token-bounded shuffle as the heavy-hitters operator
    (c31) with map-side partial aggregation, and the per-doc rollup
    shuffles one small row per document. No self-joins, no windows.
    """
    from .dedup import _ngrams_expr, tokens

    ids = df.select(F.col(id_col).alias("doc_id"))
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_ngrams_expr(tokens(text_col), n)).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.max("cnt").alias("n_top_gram"),
    )
    joined = ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_distinct_grams", F.lit(0)).cast("long").alias(
            "n_distinct_grams"
        ),
        F.coalesce("n_top_gram", F.lit(0)).cast("long").alias("n_top_gram"),
    )
    dup = F.when(
        F.col("n_grams") > 0,
        (F.col("n_grams") - F.col("n_distinct_grams")).cast("double")
        / F.col("n_grams"),
    ).otherwise(F.lit(0.0))
    top = F.when(
        F.col("n_grams") > 0,
        F.col("n_top_gram").cast("double") / F.col("n_grams"),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        "n_top_gram",
        dup.alias("dup_fraction"),
        top.alias("top_share"),
        (dup > flag_dup_fraction).alias("flagged"),
    )


def length_histogram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bucket_tokens: int = 8,
) -> DataFrame:
    """Token-length histogram of a corpus — the first chart of any
    corpus audit (truncation/padding planning, length-filter tuning).

    Buckets documents by ``floor(n_tokens / bucket_tokens)`` and reports
    per bucket: doc count, token mass, min/max length, and each
    bucket's share of documents. One hash aggregate over the scan
    (shuffle bounded by the bucket count); the share is computed with a
    window over the AGGREGATED bucket table — dozens of rows of
    metadata, so its single-partition window is free at any corpus
    size.
    """
    staged = df.select(
        F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    agg = (
        staged.withColumn(
            "bucket_lo",
            (F.floor(F.col("n_tokens") / bucket_tokens) * bucket_tokens).cast(
                "long"
            ),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return agg.select(
        "bucket_lo",
        "n_docs",
        "total_tokens",
        "min_tokens",
        "max_tokens",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(total)).alias(
            "doc_share"
        ),
    )


# Quantile probes for corpus audits; the list every truncation/padding
# decision actually asks for.
QUANTILE_PROBS = (0.25, 0.5, 0.75, 0.9, 0.99)


# Auto-engine cutover for length_quantiles: inputs whose optimizer-
# estimated size exceeds this choose approx_percentile. 1 GiB of text is
# far beyond any audit/oracle use and far below where the exact
# aggregator's per-group buffering hurts — the advertised contract is
# simply "small inputs audit exactly, big inputs cannot buffer by
# accident".
AUTO_APPROX_THRESHOLD_BYTES = 1 << 30


def length_quantiles(
    df: DataFrame,
    text_col: str,
    *,
    strata_col: str | None = None,
    probs: tuple[float, ...] = QUANTILE_PROBS,
    approximate: bool | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """Token-length quantiles of a corpus, optionally per stratum
    (language, source) — the summary behind every max-sequence-length
    decision.

    Two engines, same output shape (stratum?, n_docs, q_0, q_1, ...):

    - ``approximate=False`` — exact interpolated ``percentile``. The
      aggregator buffers each group's values, so memory is O(group
      size): right for fixture-scale audits and for the DuckDB oracle
      (DuckDB's ``quantile_cont`` computes the identical interpolation
      — verified value-equal), WRONG at 100 TB.
    - ``approximate=True`` — ``approx_percentile`` (Greenwald-Khanna,
      bounded memory ~O(accuracy·log n) per group): the 100 TB path,
      rank error ≤ 1/accuracy. Same plan shape, partial-aggregating,
      no buffering. Bounded against the exact path in tests.
    - ``approximate=None`` (default) — AUTO: exact below
      ``AUTO_APPROX_THRESHOLD_BYTES`` of optimizer-estimated input
      (plan statistics — free, no extra scan), approximate above it,
      so a naive 100 TB caller cannot buffer groups by accident.
      Callers that need a specific engine (the c51 oracle audit, a
      bound check) pass it explicitly.
    """
    from .dedup import tokens

    if approximate is None:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        approximate = est > AUTO_APPROX_THRESHOLD_BYTES
    fn = "approx_percentile" if approximate else "percentile"
    prob_sql = ", ".join(str(p) for p in probs)
    extra = f", {accuracy}" if approximate else ""
    staged = df.select(
        *( [F.col(strata_col).alias("stratum")] if strata_col else [] ),
        F.size(tokens(text_col)).cast("long").alias("_n"),
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")] + [
        F.expr(f"CAST({fn}(_n, array({prob_sql}){extra})[{j}] AS DOUBLE)").alias(
            f"q_{str(p).replace('.', '_')}"
        )
        for j, p in enumerate(probs)
    ]
    grouped = staged.groupBy("stratum") if strata_col else staged.groupBy()
    return grouped.agg(*aggs)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_tokens: int = 64,
    stride_tokens: int = 48,
) -> DataFrame:
    """Split documents into (overlapping) token windows — the chunking
    step ahead of embedding/indexing or fixed-context training, with
    ``window_tokens - stride_tokens`` tokens of overlap between
    consecutive chunks.

    Chunk rule (deterministic, engine-replayable): token starts at
    0, stride, 2·stride, … while start < n_tokens; chunk k covers
    tokens [k·stride, k·stride + window). The final chunk is short
    rather than padded; empty docs emit no chunks.

    Returns (doc_id, chunk_id, start_token, n_chunk_tokens, chunk_text).

    Scale: pure map-side — tokens, starts (`sequence` with step), and
    slices are array expressions; `posexplode` multiplies rows by
    ~n/stride with no shuffle anywhere. The let-binding through a
    one-element transform keeps the token array from re-evaluating per
    chunk (the `_ngrams_expr` lesson).
    """
    if window_tokens <= 0 or stride_tokens <= 0:
        raise ValueError(
            f"window/stride must be positive, got {window_tokens}/{stride_tokens}"
        )

    def chunks_of(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride_tokens)))\
            .otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda s: F.struct(
                s.cast("long").alias("start_token"),
                F.slice(toks, s + 1, window_tokens).alias("_ctoks"),
            ),
        )

    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.array(tokens(text_col)), chunks_of)[0].alias("_chunks"),
    )
    return staged.select(
        "doc_id", F.posexplode("_chunks").alias("chunk_id", "_c")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("_c.start_token").alias("start_token"),
        F.size("_c._ctoks").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("_c._ctoks")).alias("chunk_text"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's
    own MLE unigram model — the KenLM-style language-model quality
    signal (CCNet / Dolma pipelines): documents of improbable tokens
    (noise, boilerplate codes, wrong-language fragments) score low and
    get filtered or bucketed before training.

    Per token ``ln(count(t)/N)`` quantized to integer micro-units
    (``round(.. * 1e6)`` → BIGINT) so the per-doc sum is exact and
    order-independent despite the transcendental ln (the c58 contract);
    the average is one deterministic double division at the end.

    Returns (doc_id, n_tokens, logprob_q_sum, avg_logprob).

    100 TB: the unigram table is vocabulary-sized (one hash aggregate,
    map-side partials) and broadcasts onto the exploded token stream
    while it fits, falling back to a token-keyed shuffle join; the
    per-doc sum is one hash aggregate on doc_id. Empty docs are
    dropped (no tokens → no probability mass to average).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.sum("c").alias("n_total"))  # 1-row broadcast dim
    lp_q = F.round(
        F.log(F.col("c").cast("double") / F.col("n_total")) * 1_000_000
    ).cast("long")
    return (
        toks.join(F.broadcast(uni), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", lp_q.alias("_lp_q"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lp_q").alias("logprob_q_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logprob_q_sum",
            (
                F.col("logprob_q_sum").cast("double")
                / 1_000_000
                / F.col("n_tokens")
            ).alias("avg_logprob"),
        )
    )


def dup_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram_len: int = 10,
) -> DataFrame:
    """Per-document coverage by CORPUS-DUPLICATED token spans — the
    fixed-length approximation of exact-substring dedup (Lee et al.
    2022, arXiv:2107.06499: suffix-array spans ≥ N tokens repeated
    anywhere in the corpus mark memorization-prone text). Every
    ``gram_len``-token window that occurs more than once corpus-wide
    marks its token interval; a document's score is the length of the
    UNION of its marked intervals — the filter/flag signal for
    boilerplate, licenses, and templated spam that document-level
    near-dup (c02-c04) cannot see.

    Returns (doc_id, n_tokens, dup_covered_tokens, dup_fraction).
    Documents with no duplicated span report zero coverage.

    Determinism: pure integer interval arithmetic end-to-end.

    100 TB: gram occurrence counts are one hash aggregate on the gram
    (corpus-token-bounded shuffle with map-side partials, the c31
    shape — swap the join key for xxhash64(gram) to shrink the shuffle
    8x when the 1-in-2^64 collision risk is acceptable); only
    DUPLICATED grams flow further (boilerplate-bounded);
    interval union is the gaps-and-islands window per doc — sorted
    positions, running max-end, island sums — never an exploded
    token-index set. The suffix array finds variable-length spans;
    the fixed-gram form trades that for distributed-join shapes, the
    standard engineering compromise (same trade as MinHash vs exact
    Jaccard).
    """
    from pyspark.storagelevel import StorageLevel

    from .dedup import _ngrams_expr

    toks = tokens(text_col)
    # Persisted: tokenize + n-grams feed the gram explode AND the final
    # doc restore join; unpersisted each re-runs the projection (r16).
    base = pin(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).cast("long").alias("n_tokens"),
            _ngrams_expr(toks, gram_len).alias("_grams"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    pos_grams = base.select(
        "doc_id",
        "n_tokens",
        F.posexplode("_grams").alias("pos", "gram"),
    )
    counts = pos_grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_n"))
    marked = (
        pos_grams.join(counts.filter(F.col("_n") > 1), "gram")
        .select(
            "doc_id",
            "n_tokens",
            F.col("pos").cast("long").alias("start"),
            (F.col("pos") + gram_len - 1).cast("long").alias("end"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marked.withColumn(
        "_new_island",
        (F.col("start") > F.coalesce(prev_max_end, F.lit(-1))).cast("long"),
    ).withColumn(
        "_island",
        F.sum("_new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    covered = (
        islands.groupBy("doc_id", "n_tokens", "_island")
        .agg((F.max("end") - F.min("start") + 1).alias("_span"))
        .groupBy("doc_id", "n_tokens")
        .agg(F.sum("_span").alias("dup_covered_tokens"))
    )
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(base.select("doc_id", "n_tokens"), "doc_id")
        .join(covered.drop("n_tokens"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_covered_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_covered_tokens"),
            (
                F.coalesce(F.col("dup_covered_tokens"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1))
            ).alias("dup_fraction"),
        )
    )
    return out


def dedup_span_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram_len: int = 10,
) -> DataFrame:
    """REMOVE corpus-duplicated token spans from every document — the
    rewrite sibling of :func:`dup_span_coverage` (Lee et al. 2022:
    deduplicating repeated substrings, not just flagging them, is what
    improves the trained model). Every token covered by a
    ``gram_len``-window that occurs more than once corpus-wide is cut;
    the surviving tokens re-join in order.

    Returns (doc_id, n_tokens, n_removed, cleaned_text); documents
    with nothing duplicated come back intact (modulo the
    whitespace/lowercase normalization of :func:`..operators.dedup.
    tokens` — stated, the same contract as every gram operator here).

    100 TB: identical shapes to the coverage scorer up through the
    merged-interval islands (gram hash aggregate → duplicated grams
    only → gaps-and-islands per doc); the removed-position set then
    explodes the DISJOINT islands (exactly covered_tokens rows, never
    the gram_len× overlap blowup of exploding raw gram intervals), an
    anti-join keeps the survivors, and reconstruction is one
    per-document sort_array(collect_list(struct(pos, word))) — row
    width bounded by the document itself.
    """
    from pyspark.storagelevel import StorageLevel

    from .dedup import _ngrams_expr, tokens

    toks = tokens(text_col)
    # Persisted: the tokenize + n-gram projection (the expensive
    # map-side work here) feeds THREE consumers — the gram explode,
    # the word explode, and the final doc restore join — and without
    # the cache each consumer re-runs it from the scan (r16; guide §5).
    base = pin(
        df.select(
            F.col(id_col).alias("doc_id"),
            toks.alias("_toks"),
            F.size(toks).cast("long").alias("n_tokens"),
            _ngrams_expr(toks, gram_len).alias("_grams"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    pos_grams = base.select(
        "doc_id", F.posexplode("_grams").alias("pos", "gram")
    )
    counts = pos_grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_n"))
    marked = pos_grams.join(counts.filter(F.col("_n") > 1), "gram").select(
        "doc_id",
        F.col("pos").cast("long").alias("start"),
        (F.col("pos") + gram_len - 1).cast("long").alias("end"),
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        marked.withColumn(
            "_new_island",
            (F.col("start") > F.coalesce(prev_max_end, F.lit(-1))).cast(
                "long"
            ),
        )
        .withColumn(
            "_island",
            F.sum("_new_island").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "_island")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"))
    )
    removed = islands.select(
        "doc_id",
        F.explode(F.sequence(F.col("s"), F.col("e"))).alias("pos"),
    )
    words = base.select(
        "doc_id", "n_tokens", F.posexplode("_toks").alias("pos", "word")
    )
    kept = words.join(removed, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("word")))
                ),
                lambda x: x["word"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    # fully-removed documents vanish from `kept`; restore them empty
    out = (
        base.select("doc_id", "n_tokens")
        .join(rebuilt.drop("n_tokens"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias(
                "cleaned_text"
            ),
        )
    )
    return out


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    target_col: str = "lang",
    target_value: str = "en",
    n_features: int = 1024,
) -> DataFrame:
    """DSIR-style hashed importance weights (Xie et al. 2023,
    arXiv:2302.03169): score every document by how target-like it is
    under hashed unigram bag-of-words models — the data-selection
    scorer for "pick pretraining data that looks like the target
    distribution", computed without any trained model.

    Per hashed feature bucket b: ``w(b) = ln p_target(b) - ln
    p_source(b)`` with add-one smoothing over ``n_features`` buckets
    (target = rows where ``target_col == target_value``; source = the
    whole corpus). Per document: ``importance = Σ_tokens w(bucket)``.
    Positive → more target-like than the corpus average.

    Determinism: the bucket hash is the portable md5 form
    (:func:`hashing_vectorizer`), and per-bucket weights quantize to
    integer micro-units BEFORE the per-doc sum (the c58/c63 contract),
    so scores replay exactly in any engine.

    Returns (doc_id, n_tokens, importance_q, avg_importance).

    100 TB: both unigram models are ``n_features``-bounded hash
    aggregates (map-side partials; shuffle ≤ n_features rows per
    partition) and the weight table is a broadcast dim of n_features
    rows; the only corpus-keyed shuffle is the final per-doc sum. The
    raw corpus is scanned twice (model pass + scoring pass) — persist
    the token stream to make it one at the cost of shuffle-ing tokens.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 6), 16, 10).cast("long")
        % n_features
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(target_col) == target_value).alias("_is_tgt"),
        F.explode(tokens(text_col)).alias("token"),
    ).select("doc_id", "_is_tgt", bucket.alias("bucket"))

    counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_src"),
        F.count_if(F.col("_is_tgt")).alias("c_tgt"),
    )
    totals = counts.agg(
        F.sum("c_src").alias("n_src"), F.sum("c_tgt").alias("n_tgt")
    )
    w_q = F.round(
        (
            F.log(
                (F.col("c_tgt") + 1.0) / (F.col("n_tgt") + float(n_features))
            )
            - F.log(
                (F.col("c_src") + 1.0) / (F.col("n_src") + float(n_features))
            )
        )
        * 1_000_000
    ).cast("long")
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket", w_q.alias("_w_q")
    )
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_w_q").alias("importance_q"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "importance_q",
            (
                F.col("importance_q").cast("double")
                / 1_000_000
                / F.col("n_tokens")
            ).alias("avg_importance"),
        )
    )


def hashing_vectorizer(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_features: int = 64,
    dense: bool = False,
) -> DataFrame:
    """Feature-hashing document vectorizer (the HashingTF / "hashing
    trick" featurizer, MLlib-free): every token maps to
    ``int(md5(token)[:6], 16) % n_features`` and the document becomes
    its bucket-count vector — the fixed-width, vocabulary-free input a
    linear quality classifier or n-gram LM trains on.

    The bucket hash is PORTABLE: ``conv(substring(md5(t),1,6),16,10)``
    in Spark equals ``CAST('0x' || substring(md5(t),1,6) AS BIGINT)``
    in DuckDB/ANSI engines, so features replay bit-for-bit outside
    Spark (same portability contract as the c24/c38 sketches). No
    vocabulary table, no fit step, no OOV problem — the properties that
    make the hashing trick the at-scale featurizer.

    Returns sparse (doc_id, bucket, tf) by default; ``dense=True``
    assembles array<bigint> vectors of length ``n_features`` via a
    map lookup (``map_from_entries`` + ``transform(sequence(...))``) —
    a per-doc map-side reshape of the same aggregate.

    100 TB: explode → one hash aggregate on (doc, bucket); the shuffle
    carries at most n_features rows per doc (bounded width, unlike
    tf-idf's vocabulary-wide key space). Dense assembly adds zero
    exchanges on top of the aggregate.
    """
    if n_features <= 0:
        raise ValueError(f"n_features must be positive, got {n_features}")
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 6), 16, 10).cast("long")
        % n_features
    )
    sparse = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if not dense:
        return sparse
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("bucket"), F.col("tf")))
    )
    return sparse.groupBy("doc_id").agg(m.alias("_m")).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_features - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("_m"), i.cast("long")), F.lit(0)
            ).cast("long"),
        ).alias("tf_vector"),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Okapi BM25 keyword search: top-``k`` documents for a bag of query
    terms — the ranking function behind every inverted-index search
    engine, and the missing sibling of :func:`tf_idf_topk`.

    Per term t and doc d::

        idf(t)  = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
        c(t, d) = idf(t) * tf * (k1+1) / (tf + k1*((1-b) + b*(dl/avgdl)))

    Determinism contract: each per-term contribution is quantized to
    integer micro-units (``round(c * 1e6)`` → BIGINT) and the per-doc
    score is the exact integer sum of those units — the cross-term sum
    is order-independent and engine-exact even though idf is
    transcendental (same 6-dp rationale as :func:`tf_idf_topk`, made
    sum-safe). Ties break on doc id.

    Returns (doc_id, n_terms, score) with score = units / 1e6.

    Scale: tokens are FILTERED to the query vocabulary before the tf
    aggregate, so the shuffle carries only query-term postings —
    |terms| × |matching docs| rows, not the corpus. Doc lengths come
    from a map-side ``size()`` (no explode); N/avgdl and the per-term
    df table are metadata-sized broadcast dims. Final top-k is
    ``TakeOrderedAndProject`` — k rows per partition, no global sort.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qt = sorted({t.lower() for t in query_terms})

    dl = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).cast("long").alias("dl"),
    )
    # exact integer token-count sum → one deterministic double division
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token").isin(qt))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("docfreq"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("docfreq") + 0.5) / (F.col("docfreq") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    contrib = (
        idf
        * (tf_d * (k1 + 1.0))
        / (tf_d + k1 * ((1.0 - b) + b * (dl_d / F.col("avgdl"))))
    )
    units = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(contrib * 1_000_000).cast("long").alias("_units"),
        )
    )
    return (
        units.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("_units").alias("_score_units"),
        )
        .select(
            "doc_id",
            "n_terms",
            (F.col("_score_units").cast("double") / 1_000_000).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document average BIGRAM log-probability with stupid backoff
    (Brants et al. 2007, "Large Language Models in Machine
    Translation") — the next quality signal up from
    :func:`unigram_logprob`: a document of real sentences scores far
    better under the bigram model than shuffled or templated token
    soup with the same unigram profile.

    Scoring rule, deterministic and engine-replayable:
    - first token of a document: ``ln(c1(w)/N)`` (unigram MLE);
    - seen bigram: ``ln(c2(prev, w) / c1(prev))``;
    - unseen bigram: ``ln(0.4 · c1(w)/N)`` (the standard 0.4 backoff).
    Each term quantizes to integer micro-units (``round(·×1e6)`` →
    BIGINT, the c58/c63 contract) so per-doc sums are exact and
    order-independent.

    Returns (doc_id, n_tokens, logprob_q_sum, avg_logprob).

    100 TB: the bigram/unigram tables are vocabulary-sized hash
    aggregates (map-side partials; bigram vocab ~|V|·avg-branching,
    still corpus-independent) broadcast onto the token stream while
    they fit, falling back to keyed shuffle joins; the prev-token LAG
    windows per document (parallelism = documents); one doc-keyed sum.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.withColumn("prev", F.lag("token").over(w))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c1"))
    big = (
        pairs.filter(F.col("prev").isNotNull())
        .groupBy("prev", "token")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    n = uni.agg(F.sum("c1").alias("n_total"))
    cur = uni.select(
        F.col("token"), F.col("c1").alias("c1_cur")
    )
    prv = uni.select(
        F.col("token").alias("prev"), F.col("c1").alias("c1_prev")
    )
    lp = (
        F.when(
            F.col("prev").isNull(),
            F.log(F.col("c1_cur").cast("double") / F.col("n_total")),
        )
        .when(
            F.col("c2").isNotNull(),
            F.log(F.col("c2").cast("double") / F.col("c1_prev")),
        )
        .otherwise(
            F.log(0.4 * F.col("c1_cur").cast("double") / F.col("n_total"))
        )
    )
    return (
        pairs.join(F.broadcast(cur), "token")
        .join(F.broadcast(prv), "prev", "left")
        .join(F.broadcast(big), ["prev", "token"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.round(lp * 1_000_000).cast("long").alias("_lp_q"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lp_q").alias("logprob_q_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logprob_q_sum",
            (
                F.col("logprob_q_sum").cast("double")
                / 1_000_000
                / F.col("n_tokens")
            ).alias("avg_logprob"),
        )
    )


def word_count_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """The (word, cnt) vocabulary table both BPE halves run on — one
    corpus-sized explode + hash aggregate. Exposed so a train-then-apply
    pipeline (c100) computes and persists it ONCE instead of paying the
    corpus pass twice (training's word count + application's distinct)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bpe_merges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_merges: int = 12,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """REAL byte-pair-encoding vocabulary training (Sennrich et al.
    2016, subword-nmt) — upgrading :data:`BPE_PATTERN`'s regex
    pre-tokenizer to an actually TRAINED merge list: repeatedly count
    adjacent symbol pairs over the corpus and merge the most frequent,
    ``n_merges`` times. Returns the merge table
    (rank, pair, merged, pair_count) — the artifact a tokenizer ships.

    The scale trick (the standard one): iteration happens on the WORD
    VOCABULARY with counts, never the corpus — one corpus-sized
    aggregate builds (word, count), then every Lloyd-like round is a
    vocab-sized pair-count aggregate (explode adjacent pairs weighted
    by word count) + a 1-row driver collect of the argmax + a row-local
    string rewrite. 100 TB of text still trains against a
    few-million-row vocab table.

    Deterministic and engine-replayable: ties break (count DESC, pair
    ASC, binary collation); pair merging is SQL ``replace`` on the
    space-padded symbol string — left-to-right non-overlapping, the
    identical rule in Spark and ANSI SQL (on degenerate repeats like
    ``a a a`` this differs from subword-nmt's regex scan by at most
    the overlap convention; both engines agree with each other, which
    is the oracle contract). No end-of-word marker (documented
    simplification; add one by suffixing words before the char split).
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    spark = df.sparkSession
    # word_counts: a caller-supplied (word, cnt) table (persist it!) so
    # train + apply pipelines pay the corpus explode once (c100)
    from pyspark.storagelevel import StorageLevel

    words = pin(
        (
            word_counts
            if word_counts is not None
            else word_count_vocab(df, text_col)
        ).withColumn("seq", F.array_join(F.split(F.col("word"), ""), " ")),
        StorageLevel.MEMORY_AND_DISK,
    )
    # Round r recomputes the replace chain 1..r-1 LAZILY over the one
    # persisted base vocabulary instead of persisting a rewritten copy
    # per round: the chain is row-local string work over vocab rows
    # (microseconds), while the old per-round persist paid a cache
    # materialization + unpersist per merge — measured 2.3x slower for
    # 12 merges at sf0.1, and at scale it wrote a vocab-sized cache copy
    # per round for no reuse (guide §5: cache only when recomputing
    # costs more than the cache does).
    merges = []
    try:
        seq_expr = F.col("seq")
        for rank in range(1, n_merges + 1):
            sym = F.split(F.col("seq"), " ")
            pairs = F.when(
                F.size(sym) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(sym) - 2),
                    lambda i: F.concat(
                        F.element_at(sym, i + 1),
                        F.lit(" "),
                        F.element_at(sym, i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
            best = (
                words.select(seq_expr.alias("seq"), "cnt")
                .select(F.explode(pairs).alias("pair"), "cnt")
                .groupBy("pair")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:  # every word fully merged: stop early
                break
            pair, count = best[0]["pair"], int(best[0]["c"])
            merged = pair.replace(" ", "")
            merges.append((rank, pair, merged, count))
            seq_expr = F.trim(
                F.replace(
                    F.concat(F.lit(" "), seq_expr, F.lit(" ")),
                    F.lit(f" {pair} "),
                    F.lit(f" {merged} "),
                )
            )
            # Flush the lazy replace chain periodically: each round
            # nests one more trim(replace(concat(...))) layer, so an
            # unbounded chain is O(n_merges²) analyzer work per vocab
            # row and eventually hits codegen/stack-depth limits for
            # real vocab sizes (thousands of merges). Re-materializing
            # the rewritten vocab every _BPE_FLUSH_EVERY rounds bounds
            # the depth while keeping the per-round persist savings
            # (the flush never fires for the default 12 merges).
            if rank % _BPE_FLUSH_EVERY == 0 and rank < n_merges:
                flushed = pin(
                    words.select("word", "cnt", seq_expr.alias("seq")),
                    StorageLevel.MEMORY_AND_DISK,
                )
                # hand the new cache to the outer finally first, so a
                # failing materialization cannot leak it
                old, words = words, flushed
                try:
                    flushed.count()  # materialize before releasing the old cache
                finally:
                    release(old)
                seq_expr = F.col("seq")
    finally:
        release(words)
    return spark.createDataFrame(
        merges, "rank long, pair string, merged string, pair_count long"
    )


def bpe_token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple],
    *,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """Apply a TRAINED BPE merge list (:func:`train_bpe_merges`) and
    count each document's subword tokens — the application half of the
    tokenizer: corpus token budgets, packing lengths, and cost
    estimates all run off trained-BPE counts, not whitespace counts.

    The scale trick mirrors training: merges apply to the WORD
    VOCABULARY (each distinct word's character sequence runs the merge
    replace-chain once — a row-local expression chain over vocab rows,
    no corpus rewrite), and documents join the resulting
    word → n_subwords table on the token (vocabulary-sized, broadcast
    while it fits). Returns (doc_id, n_ws_tokens, n_bpe_tokens).

    The merge application is the SQL-replace rule of training — the
    same left-to-right semantics in Spark and ANSI SQL, so the whole
    train-then-tokenize pipeline replays in the c80 oracle.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("word")
    )
    # word_counts: reuse a caller-supplied (persisted) vocabulary table
    # instead of re-running the corpus-sized explode + distinct — a
    # train-then-apply pipeline (c100) otherwise pays that pass twice
    vocab = (
        toks.select("word").distinct()
        if word_counts is None
        else word_counts.select("word")
    ).withColumn("seq", F.array_join(F.split(F.col("word"), ""), " "))
    seq = F.col("seq")
    for _, pair, merged, _cnt in merges:
        seq = F.trim(
            F.replace(
                F.concat(F.lit(" "), seq, F.lit(" ")),
                F.lit(f" {pair} "),
                F.lit(f" {merged} "),
            )
        )
    word_len = vocab.select(
        "word", F.size(F.split(seq, " ")).cast("long").alias("n_sub")
    )
    return (
        toks.join(F.broadcast(word_len), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ws_tokens"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models", table A1 — the document-level heuristics most pre-training
# curation pipelines start from). All rule arithmetic is exact (integer
# counts, one double division per ratio) so engines agree bit-for-bit.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_fraction: float = 0.9,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher document-quality rule set as one narrow projection.

    Per document: word count bounds, mean word length band, symbol
    (#/ellipsis) to word ratio, fraction of words containing at least
    one alphabetic character, and presence of ``min_stopword_hits``
    DISTINCT stopwords from the fixed 8-word Gopher list — plus one
    ``keep`` conjunction. Complements ``repetition_stats`` (the
    duplicate-n-gram half of Gopher's rules lives there).

    100 TB: map-only over the scan — one projection, zero shuffles,
    whole-stage codegen end to end (array exprs over the token split);
    the downstream filter is sargable on ``keep``.
    """
    toks = tokens(text_col)
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    n_words = F.size("_toks").cast("long")
    total_chars = F.aggregate(
        F.transform(F.col("_toks"), lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    mean_word_len = total_chars.cast("double") / F.nullif(
        n_words, F.lit(0)
    ).cast("double")
    n_symbol_words = F.size(
        F.filter(
            F.col("_toks"),
            lambda t: t.startswith("#") | t.contains("..."),
        )
    ).cast("long")
    symbol_ratio = n_symbol_words.cast("double") / F.nullif(
        n_words, F.lit(0)
    ).cast("double")
    n_alpha_words = F.size(
        F.filter(F.col("_toks"), lambda t: t.rlike("[a-z]"))
    ).cast("long")
    alpha_fraction = n_alpha_words.cast("double") / F.nullif(
        n_words, F.lit(0)
    ).cast("double")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct("_toks"),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    r_words = n_words.between(min_words, max_words)
    r_wordlen = F.coalesce(
        mean_word_len.between(min_mean_word_len, max_mean_word_len),
        F.lit(False),
    )
    r_symbol = F.coalesce(
        symbol_ratio <= F.lit(max_symbol_ratio), F.lit(False)
    )
    r_alpha = F.coalesce(
        alpha_fraction >= F.lit(min_alpha_word_fraction), F.lit(False)
    )
    r_stop = stop_hits >= F.lit(min_stopword_hits)
    return staged.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_fraction.alias("alpha_word_fraction"),
        stop_hits.alias("stopword_hits"),
        r_words.alias("pass_word_count"),
        r_wordlen.alias("pass_mean_word_len"),
        r_symbol.alias("pass_symbol_ratio"),
        r_alpha.alias("pass_alpha_words"),
        r_stop.alias("pass_stopwords"),
        (r_words & r_wordlen & r_symbol & r_alpha & r_stop).alias("keep"),
    )


def phrase_match(
    df: DataFrame,
    id_col: str,
    text_col: str,
    phrase: list[str],
) -> DataFrame:
    """Exact phrase search via positional postings — the inverted-index
    query BM25 (c58) cannot answer (bag-of-words scoring loses
    adjacency). Emits one row per occurrence: (id, match_pos) with
    match_pos the 0-based token position where the phrase starts.

    Plan: one posexplode builds (id, pos, token) postings, each phrase
    word filters its OWN copy of the postings scan-side (so the join
    inputs are word-frequency-sized, not corpus-sized), and adjacency
    is an equi-join on (id, pos + offset) — n-1 co-keyed joins for an
    n-word phrase, all hashing on the same id key. 100 TB: identical
    to how a search engine intersects positional posting lists; the
    dominant cost is the postings explode, shared across queries when
    postings are materialized (the c70 signature-store pattern).
    """
    if not phrase:
        raise ValueError("phrase must have at least one word")
    postings = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    )
    out = (
        postings.filter(F.col("token") == phrase[0].lower())
        .select(F.col(id_col), F.col("pos").alias("match_pos"))
    )
    for i, word in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("token") == word.lower()).select(
            F.col(id_col).alias("_nid"), F.col("pos").alias("_npos")
        )
        out = out.join(
            nxt,
            (out[id_col] == nxt["_nid"])
            & (nxt["_npos"] == out["match_pos"] + i),
        ).select(out[id_col], out["match_pos"])
    return out


def corpus_divergence_topk(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 20,
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots: the
    per-token Jensen-Shannon divergence contributions, top-k — the
    drift report a training-data pipeline runs when a new crawl lands
    (did the token mix shift, and WHICH tokens moved it).

    Per token t with unigram probabilities p (corpus A), q (corpus B),
    m = (p+q)/2:  contrib(t) = (p*ln(p/m) + q*ln(q/m)) / 2, with the
    0-probability terms dropping out naturally (x*ln(x/..) -> 0).
    Contributions are quantized to 1e-12 units (BIGINT) — each is ONE
    fixed-order IEEE expression per token (no accumulation), so the
    quantized value is engine-exact; summing them (the total JSD) is
    then exact integer addition (the c63 contract).

    Scale: two vocabulary-keyed aggregates + one full-outer join on the
    token — vocabulary-sized, not corpus-sized; totals are 1-row
    broadcasts. Top-k via TakeOrdered semantics.
    """
    from pyspark.sql.window import Window

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(name))
        )

    a = counts(df_a, "cnt_a")
    b = counts(df_b, "cnt_b")
    tot_a = a.agg(F.sum("cnt_a").alias("tot_a"))
    tot_b = b.agg(F.sum("cnt_b").alias("tot_b"))
    joined = (
        a.join(b, "token", "full_outer")
        .select(
            "token",
            F.coalesce("cnt_a", F.lit(0)).cast("long").alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).cast("long").alias("cnt_b"),
        )
        .crossJoin(F.broadcast(tot_a))
        .crossJoin(F.broadcast(tot_b))
    )
    p = F.col("cnt_a").cast("double") / F.col("tot_a").cast("double")
    q = F.col("cnt_b").cast("double") / F.col("tot_b").cast("double")
    m = (p + q) / F.lit(2.0)
    term = lambda x: F.when(x > 0, x * F.log(x / m)).otherwise(F.lit(0.0))  # noqa: E731
    contrib_q = F.round(((term(p) + term(q)) / F.lit(2.0)) * 1e12).cast("long")
    # orderBy+limit plans as TakeOrderedAndProject (per-partition heap,
    # k rows to the driver side of the exchange) — no vocabulary-wide
    # single-partition window; the rank is re-derived over the k rows.
    topk = (
        joined.select("token", "cnt_a", "cnt_b", contrib_q.alias("jsd_contrib_q"))
        .orderBy(F.desc("jsd_contrib_q"), F.asc("token"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("jsd_contrib_q"), F.asc("token"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` adjacent-token collocations by pointwise mutual
    information — the classic phrase-discovery signal (Church & Hanks
    1990): PMI(a,b) = ln(p(a,b) / (p(a)·p(b))) with p(a,b) over the
    bigram stream and p(·) over the unigram stream, floored by
    ``min_count`` occurrences (raw PMI without a count floor surfaces
    hapax pairs first). Collocation mining is the precursor to phrase
    vocabularies and tokenizer merge seeding (c79's BPE picks by raw
    frequency; PMI picks by association).

    Determinism: PMI quantizes to integer micro-units via ONE fixed
    IEEE expression — ``round(ln(CAST(c2·N1·N1 AS DOUBLE) /
    CAST(N2·c1a·c1b AS DOUBLE)) · 1e6)`` — the c63 ln contract, so
    ranking and values replay exactly in any engine. Integer products
    stay exact in doubles below 2^53 (fine through SF 1).

    Returns (w1, w2, n_pair, pmi_q, rank), rank 1-based by pmi_q DESC
    with (w1, w2) tiebreak.

    100 TB: bigram extraction is MAP-ONLY (an index-zip over the token
    array — no per-document window shuffle); both count tables are
    vocabulary-sized hash aggregates with map-side partials; the two
    scalar totals broadcast; final top-k is TakeOrderedAndProject.
    """
    from pyspark.sql.window import Window

    from .dedup import tokens

    toks = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    big = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(t) - 1, 0)), "
                    "i -> struct(element_at(t, i) AS w1, "
                    "element_at(t, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    uni = (
        toks.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n1 = uni.agg(F.sum("c1").alias("n1"))  # 1-row dims
    n2 = big.agg(F.sum("n_pair").alias("n2"))
    pmi_q = F.round(
        F.log(
            (F.col("n_pair") * F.col("n1") * F.col("n1")).cast("double")
            / (F.col("n2") * F.col("c1a") * F.col("c1b")).cast("double")
        )
        * 1_000_000
    ).cast("long")
    scored = (
        big.filter(F.col("n_pair") >= min_count)
        .join(
            F.broadcast(
                uni.select(F.col("token").alias("w1"), F.col("c1").alias("c1a"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                uni.select(F.col("token").alias("w2"), F.col("c1").alias("c1b"))
            ),
            "w2",
        )
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select("w1", "w2", "n_pair", pmi_q.alias("pmi_q"))
        .orderBy(F.desc("pmi_q"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("pmi_q"), F.asc("w1"), F.asc("w2"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long"))


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    word ``ngram``-grams whose FIRST corpus appearance (lowest document
    id) is this document. Ingestion-ordered ids make this the standard
    "marginal contribution" curation signal — a document whose grams all
    appeared earlier adds little (near-duplicate, boilerplate, template),
    one full of first-seen grams carries new content; the same statistic
    over a reference corpus is an n-gram memorization probe (Carlini et
    al. 2022 measure the inverse: how much of the sample is NOT novel).

    Returns (doc_id, n_grams, n_novel, novelty_pct); documents with
    fewer than ``ngram`` tokens carry no grams and are omitted.

    Determinism: counts are exact integers; ``novelty_pct`` is ONE
    double division of exact integers (the catalog's davg contract).

    100 TB: one tokenize pass → ONE gram-keyed shuffle for the
    MIN(doc_id) first-appearance table (partial-agg friendly: MIN
    combines map-side) → a doc-keyed regroup of THAT table (n_novel
    falls out of first_seen directly, because distinct-per-doc grams
    make "first seen in d" imply "gram of d") → one doc-level left
    join. Nothing corpus-sized is ever joined back or broadcast.
    Head grams (boilerplate) are the skew case → AQE skew-join; a
    doc-frequency cap before the first_seen aggregate bolts on exactly
    as in ``decontaminate``. Never |docs|² and never a driver-side
    pass.
    """
    from pyspark.storagelevel import StorageLevel

    from .dedup import rebalance_for_compute, tokens, word_ngrams

    # Per-doc DISTINCT gram arrays (word_ngrams dedups), persisted: both
    # branches below read it, and unpersisted the tokenize+md5-free but
    # still expensive split/transform pipeline ran twice (r16, guide §5).
    grams_arr = pin(
        rebalance_for_compute(df)
        .select(
            F.col(id_col).alias("doc_id"),
            word_ngrams(tokens(text_col), ngram).alias("_g"),
        )
        .filter(F.size("_g") > 0),
        StorageLevel.MEMORY_AND_DISK,
    )
    per_doc = grams_arr.select("doc_id", F.size("_g").alias("n_grams"))
    # Because grams are distinct per doc, a gram whose corpus-min doc is
    # d is BY DEFINITION one of d's grams — so n_novel(d) is just the
    # count of first-seen rows grouped by that min doc. The r15 form
    # joined the corpus-sized first_seen table back onto the full
    # exploded stream to rediscover this; the regroup makes the join a
    # doc-level left join and drops the corpus-sized broadcast (r16,
    # guide §2.3/§2.4 — exact integer equivalence).
    novel = (
        grams_arr.select("doc_id", F.explode("_g").alias("gram"))
        .groupBy("gram")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel, per_doc["doc_id"] == novel["first_doc"], "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double") * 100.0
                / F.col("n_grams").cast("double")
            ).alias("novelty_pct"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    rrf_k: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of several retrieval rankings — the standard hybrid-search merge
    (lexical BM25 + vector ANN in every RAG stack): score-free, so
    incomparable scoring scales (BM25 units vs cosine) never matter;
    only ranks do.

        rrf(d) = sum over systems ranking d of 1 / (rrf_k + rank_s(d))

    computed in integer micro-units (``1_000_000 DIV (rrf_k + rank)``)
    so the sum is exact and the fused order replays on any engine.
    Each input DataFrame must carry (doc_id, rank) with rank 1-based.

    Returns (doc_id, n_systems, rrf_q, fused_rank), top-``k`` by
    (rrf_q DESC, doc_id).

    100 TB: the inputs are already top-N lists (systems' own output,
    k-sized, not corpus-sized), so the union + hash aggregate +
    final window all run on |systems| x N rows — metadata scale. The
    expensive parts (the retrieval itself) stay in the upstream
    operators where their own scale stories live.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    from pyspark.sql.window import Window

    contrib = F.expr(f"CAST(1000000 DIV ({rrf_k} + rank) AS BIGINT)")
    parts = [
        r.select(F.col("doc_id"), contrib.alias("c")) for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    agg = u.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_systems"),
        F.sum("c").alias("rrf_q"),
    )
    top = agg.orderBy(F.desc("rrf_q"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("rrf_q"), F.asc("doc_id"))
    return top.withColumn("fused_rank", F.row_number().over(w).cast("long"))


def greedy_coverage_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    ngram: int = 3,
) -> DataFrame:
    """Greedy maximum-coverage data selection: pick ``k`` documents,
    each round choosing the one whose distinct word-``ngram`` set adds
    the most NOT-YET-COVERED shingles — the classic (1 - 1/e)-optimal
    greedy for submodular coverage (facility location / coreset
    selection): the principled "which k docs best represent the
    corpus" answer, vs frequency or random picks.

    Deterministic: gains are exact integer counts; ties break to the
    smallest doc id. Returns (round, doc_id, gain), round 1-based.

    100 TB: per round — one anti-join of the doc-shingle postings
    against the covered set (covered is selected-docs-sized, broadcast
    while small), one doc-keyed hash aggregate, one TakeOrdered top-1;
    the ONLY driver-side value per round is the argmax (doc_id, gain)
    scalar. The postings table is built once and persisted; covered
    grows by one doc's shingles per round. k is small by construction
    (you are choosing exemplars); for large k switch to the stochastic
    lazy-greedy variant (same plan per round, sampled candidates).
    """
    from .dedup import tokens as _tokens
    from .dedup import word_ngrams

    items = (
        F.array_distinct(_tokens(text_col))
        if ngram <= 1
        else word_ngrams(_tokens(text_col), ngram)
    )
    e = pin(
        df.select(F.col(id_col).alias("doc_id"), items.alias("t"))
        .filter(F.size("t") > 0)
        .select("doc_id", F.explode("t").alias("token"))
    )
    spark = df.sparkSession
    chosen: list[tuple[int, int, int]] = []
    chosen_ids: list[int] = []
    for rnd in range(1, k + 1):
        cand = e
        if chosen_ids:
            cand = cand.filter(~F.col("doc_id").isin(chosen_ids))
            # covered = the union of the chosen docs' shingles, derived
            # directly from the cached postings by the chosen-id list —
            # no recursive covered-table lineage, no per-round
            # persist+count materialization job: the broadcast build is
            # one filtered pass over the SAME cache the gain aggregate
            # reads, executed inside the argmax job below.
            covered = (
                e.filter(F.col("doc_id").isin(chosen_ids))
                .select("token")
                .distinct()
            )
            cand = cand.join(F.broadcast(covered), "token", "left_anti")
        top = (
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not top:  # everything already covered
            break
        doc_id, gain = int(top[0]["doc_id"]), int(top[0]["gain"])
        chosen.append((rnd, doc_id, gain))
        chosen_ids.append(doc_id)
    release(e)
    return spark.createDataFrame(
        chosen, "round long, doc_id long, gain long"
    )


def bm25_prf_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    fb_k: int = 10,
    min_fb_df: int = 2,
    n_expand: int = 3,
    k: int = 10,
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (RM3-lite, Lavrenko &
    Croft's idea in integer form): run BM25, assume the top ``fb_k``
    documents are relevant, mine them for expansion terms, and rerun
    BM25 with the expanded query — the classic one-round recall
    booster every search stack ships.

    Expansion-term selection is all-integer and deterministic: a
    candidate must appear in >= ``min_fb_df`` feedback docs, must not
    be an original query term, and the top ``n_expand`` are taken by
    (total feedback occurrences DESC, term ASC). Both BM25 rounds are
    :func:`bm25_topk` (micro-unit idf quantization).

    Returns the round-2 BM25 result (doc_id, n_terms, score).

    100 TB: round 1 is BM25's own postings-sized plan; the feedback
    doc list (fb_k ids) broadcasts onto the token stream; candidate
    scoring is a vocabulary-sized aggregate; the ONLY driver-side
    values are the ``n_expand`` chosen terms (metadata, the c123
    argmax contract) which parameterize round 2's pushed-down token
    filter.
    """
    from .dedup import tokens as _tokens

    fb = bm25_topk(
        df, id_col, text_col, query_terms, k=fb_k
    ).select("doc_id")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(text_col)).alias("token"),
    )
    qt = sorted({t.lower() for t in query_terms})
    cand = (
        toks.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("token").isin(qt))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("doc_id").alias("df_fb"),
        )
        .filter(F.col("df_fb") >= min_fb_df)
        .orderBy(F.desc("n_occ"), F.asc("token"))
        .limit(n_expand)
    )
    expansion = [r["token"] for r in cand.collect()]  # n_expand scalars
    return bm25_topk(
        df, id_col, text_col, qt + expansion, k=k
    )


def tfidf_doc_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
    df_cap: int = 20,
    k: int = 20,
) -> DataFrame:
    """Sparse TF-IDF document-pair similarity: top-``k`` doc pairs by
    the integer dot product of their shingle TF-IDF vectors — the
    WEIGHTED rung of the self-similarity ladder (c110 counts shared
    shingles equally; here a rare shared shingle outvotes ten common
    ones), i.e. the classic sparse-vector-join formulation of
    near-duplicate / related-document detection.

    Weights are micro-unit integers, w(t, d) = tf · round(ln((N+1)/
    (df+1)) · 1e6) (the c18 smoothed-idf contract), so every pair
    score is an EXACT integer sum of products. Shingles with document
    frequency above ``df_cap`` are dropped BEFORE the pair join — the
    posting-list bound that keeps the join Σ df² instead of |docs|²
    (and a stopword-shingle can't dominate a score it shouldn't).

    Returns (id_a, id_b, n_shared, dot_q, rank), id_a < id_b, rank by
    (dot_q DESC, id_a, id_b).

    100 TB: one shingle-keyed aggregate for df; the pair join runs on
    capped postings only (Σ min(df, cap)² per shingle); map-side
    partial sums collapse the pair stream before the (id_a, id_b)
    exchange; top-k is TakeOrderedAndProject.
    """
    from pyspark.sql.window import Window

    from .dedup import _ngrams_expr
    from .dedup import tokens as _tokens

    # tf over the RAW (non-distinct) shingle stream — word_ngrams would
    # dedupe and flatten every tf to 1
    items = (
        _tokens(text_col)
        if ngram <= 1
        else _ngrams_expr(_tokens(text_col), ngram)
    )
    raw = (
        df.select(F.col(id_col).alias("doc_id"), items.alias("t"))
        .filter(F.size("t") > 0)
        .select("doc_id", F.explode("t").alias("token"))
    )
    tf = raw.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    idf_q = F.round(
        F.log(
            (F.col("n") + 1).cast("double") / (F.col("df") + 1).cast("double")
        )
        * 1_000_000
    ).cast("long")
    from pyspark.storagelevel import StorageLevel

    # Persisted: both sides of the pair self-join consume this table,
    # and without the persist the explode + (doc, token) aggregate +
    # df/N broadcast-join subtree executes twice (the c110/c32 pattern;
    # guide §5 multi-consumer subtrees). The cached projection is the
    # capped posting list — (doc_id, token, w) — far smaller than the
    # raw shingle stream.
    w = pin(
        tf.join(F.broadcast(dfreq.filter(F.col("df") <= df_cap)), "token")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "token", (F.col("tf") * idf_q).alias("w")),
        StorageLevel.MEMORY_AND_DISK,
    )
    pairs = (
        w.alias("a")
        .join(w.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot_q"),
        )
        .orderBy(F.desc("dot_q"), F.asc("id_a"), F.asc("id_b"))
        .limit(k)
    )
    win = Window.orderBy(F.desc("dot_q"), F.asc("id_a"), F.asc("id_b"))
    return pairs.withColumn("rank", F.row_number().over(win).cast("long"))


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    information-density quality signal: spam keyword-stuffing and
    copy-paste loops score LOW (mass on few types), natural prose
    scores near ln(n_types); the distributional complement of c45's
    positional repetition masks.

        H(d) = Σ over types t of (c_t/N)·ln(N/c_t)

    Each TYPE's contribution quantizes to integer micro-units through
    one fixed IEEE expression (the ln contract), so the per-doc sum is
    exact and order-independent.

    Returns (doc_id, n_tokens, n_types, entropy_q) — entropy_q in
    micro-nats; entropy_q == 0 iff the doc is a single repeated token.

    100 TB: one (doc, token) hash aggregate over the exploded stream
    (map-side partials), contributions map-side, one doc-keyed sum —
    the c08/c63 plan shape exactly.
    """
    from .dedup import tokens as _tokens

    counts = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_tokens(text_col)).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
    )
    contrib = F.round(
        F.col("c").cast("double")
        / F.col("n_tokens")
        * F.log(F.col("n_tokens").cast("double") / F.col("c"))
        * 1_000_000
    ).cast("long")
    return (
        counts.join(totals, "doc_id")
        .select("doc_id", "n_tokens", "n_types", contrib.alias("_q"))
        .groupBy("doc_id", "n_tokens", "n_types")
        .agg(F.sum("_q").alias("entropy_q"))
    )


def chi2_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    top_k: int = 3,
) -> DataFrame:
    """Chi-square term selection — the classic feature-selection
    statistic for text classification (Yang & Pedersen, ICML'97): for
    each (class, term), the chi² of the 2x2 presence contingency

        a = docs of the class containing the term
        b = other docs containing it,  c = class docs without it,
        d = everything else;   chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))

    keeping the ``top_k`` POSITIVELY-associated terms per class
    (observed a above expectation, exact integer test a·N > (a+b)(a+c)
    — chi² alone is two-sided and would also select anti-features).

    Determinism: all counts and the numerator ``N(ad-bc)²`` are exact
    BIGINT (ad-bc is bounded by N²/4, so the numerator stays inside
    int64 through N ≈ 1e6 docs per evaluation sample; the operator is
    meant to run on a class-balanced sample, not the raw corpus), the
    single double division is rounded to 6 decimals on both engines
    (the catalog's transcendental contract), ranking ties break on the
    term.

    Returns (label, term, n_docs_term_label, chi2_r6, rk).

    100 TB: presence is one distinct over (doc, label, token) — the
    tokenizer explode stays in the scan's partitions; everything after
    is vocabulary-sized (term and term-label aggregates, label totals
    broadcast); the top-k window partitions by label over
    vocabulary-sized input.
    """
    from .dedup import tokens

    pres = (
        df.select(
            F.col(id_col).alias("doc"),
            F.col(label_col).alias("label"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .distinct()
    )
    n_total = df.select(F.countDistinct(id_col).alias("n"))
    lab_tot = df.groupBy(F.col(label_col).alias("label")).agg(
        F.countDistinct(id_col).alias("n_lab")
    )
    term_tot = pres.groupBy("term").agg(
        F.countDistinct("doc").alias("n_term")
    )
    tl = pres.groupBy("label", "term").agg(
        F.countDistinct("doc").alias("a")
    )
    joined = (
        tl.join(F.broadcast(lab_tot), "label")
        .join(term_tot, "term")
        .crossJoin(F.broadcast(n_total))
        .withColumn("b", F.col("n_term") - F.col("a"))
        .withColumn("c", F.col("n_lab") - F.col("a"))
        .withColumn(
            "d", F.col("n") - F.col("n_lab") - F.col("n_term") + F.col("a")
        )
    )
    scored = (
        joined.filter(F.col("a") * F.col("n") > F.col("n_term") * F.col("n_lab"))
        .withColumn(
            "chi2_r6",
            F.round(
                (
                    F.col("n")
                    * (F.col("a") * F.col("d") - F.col("b") * F.col("c"))
                    * (F.col("a") * F.col("d") - F.col("b") * F.col("c"))
                ).cast("double")
                / (
                    (F.col("a") + F.col("b"))
                    * (F.col("c") + F.col("d"))
                    * (F.col("a") + F.col("c"))
                    * (F.col("b") + F.col("d"))
                ).cast("double"),
                6,
            ),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("label").orderBy(
        F.desc("chi2_r6"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select(
            "label",
            "term",
            F.col("a").cast("long").alias("n_docs_term_label"),
            "chi2_r6",
            "rk",
        )
    )


def group_diversity(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Categorical diversity per group — Gini-Simpson index
    ``1 - Σ pᵢ²`` plus the majority share, FULLY integer (no logs): the
    curation audit that flags mixed-language sources (often scraped
    junk) and single-language ones (safe to route to one pipeline),
    the no-transcendental twin of per-doc token entropy (c138).

        gini_micro = (N² - Σ nᵢ²) · 1e6 DIV N²
        top_share_micro = max(nᵢ) · 1e6 DIV N

    Returns (grp, n, n_cats, top_share_micro, gini_micro); 0 gini ⇔
    single category, approaching 1e6 ⇔ uniform over many.

    100 TB: two stacked hash aggregates — (group, category) counts,
    then per-group reduction — both map-side combinable; output is
    group-cardinality. ``N²·1e6`` stays inside int64 through ~3e6 rows
    per group; past that drop the micro factor to 1e3 or compute the
    ratio in DOUBLE (the shares, not the counts, are what matter).
    """
    cats = df.groupBy(
        F.col(group_col).alias("grp"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).alias("ni"))
    return (
        cats.groupBy("grp")
        .agg(
            F.sum("ni").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_cats"),
            F.max("ni").alias("_top"),
            F.sum(F.col("ni") * F.col("ni")).alias("_ss"),
        )
        .select(
            "grp",
            F.col("n").cast("long").alias("n"),
            "n_cats",
            F.expr("CAST(_top * 1000000 DIV n AS BIGINT)").alias(
                "top_share_micro"
            ),
            F.expr(
                "CAST((n * n - _ss) * 1000000 DIV (n * n) AS BIGINT)"
            ).alias("gini_micro"),
        )
    )


def synthesize_urls(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic raw-URL fixtures for the canonicalization entry
    (c227): every URL component is closed-form. ``m = id % 150`` fixes
    everything CANONICAL (scheme, optional ``blog.`` subdomain,
    ``site<n>`` host label, TLD incl. a ``co.uk`` public-suffix case,
    a kept non-default ``:8080`` port, path, the real ``q=`` query) so
    ids 150 apart are true duplicates after cleaning; id-derived NOISE
    rides on top — ``www.`` prefixes, default ``:80``/``:443`` ports,
    ``utm_*`` tracking params, fragments, an ``/index.html`` or
    trailing-slash path spelling, and whole-URL UPPERCASING — exactly
    the variance canonicalization exists to collapse. Pure projection
    (whole-stage codegen), zero shuffles."""
    i = F.col(id_col)
    m = i % 150
    scheme = F.when(m % 2 == 1, F.lit("http")).otherwise(F.lit("https"))
    tld = (
        F.when(m % 7 == 0, F.lit("co.uk"))
        .when(m % 3 == 0, F.lit("com"))
        .when(m % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net"))
    )
    port = (
        F.when(m % 11 == 7, F.lit(":8080"))
        .when((i % 4 == 0) & (m % 2 == 1), F.lit(":80"))
        .when((i % 4 == 0) & (m % 2 == 0), F.lit(":443"))
        .otherwise(F.lit(""))
    )
    sfx = (
        F.when(i % 4 == 2, F.lit("/index.html"))
        .when(i % 4 == 3, F.lit("/"))
        .otherwise(F.lit(""))
    )
    has_q = (m % 6 == 0) | (m % 6 == 3)
    utm = i % 6 == 0
    query = (
        F.when(utm & has_q, F.concat(F.lit("?utm_source=x&q="), m % 10))
        .when(has_q, F.concat(F.lit("?q="), m % 10))
        .when(utm, F.lit("?utm_source=x"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        scheme,
        F.lit("://"),
        F.when(i % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(m % 8 == 5, F.lit("blog.")).otherwise(F.lit("")),
        F.lit("site"), m % 29, F.lit("."), tld,
        port,
        F.lit("/a"), m % 13, sfx,
        query,
        F.when(i % 9 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    url = F.when(i % 5 == 0, F.upper(url)).otherwise(url)
    return df.select(F.col(id_col).alias("doc_id"), url.alias("url"))


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization (r16 — the RefinedWeb/Common-Crawl cleanup
    every web-scale corpus runs before URL-level dedup): lowercase;
    strip the fragment; strip ``utm_*`` tracking parameters (and any
    separator they leave dangling); strip a leading ``www.``; strip
    scheme-default ``:80``/``:443`` ports (non-default ports are
    IDENTITY-BEARING and stay); collapse ``/index.html`` and
    trailing-slash path spellings. Pure sequential ``regexp_replace``
    projection — row-local, codegen'd, zero shuffles at any scale; the
    patterns avoid lookaround so the same semantics replay in RE2
    engines (the DuckDB oracle re-derives the canonical form
    independently from the closed fixture form, so the c227 driver row
    certifies the INTENDED cleanup, not merely a replay of this
    chain)."""
    c = F.lower(url)
    c = F.regexp_replace(c, "#.*$", "")
    c = F.regexp_replace(c, "utm_[a-z]+=[^&]*&?", "")
    c = F.regexp_replace(c, "[?&]$", "")
    c = F.regexp_replace(c, r"^(https?)://www\.", "$1://")
    c = F.regexp_replace(c, r"^(http://[^/:]+):80/", "$1/")
    c = F.regexp_replace(c, r"^(https://[^/:]+):443/", "$1/")
    c = F.regexp_replace(c, r"/index\.html(\?|$)", "$1")
    c = F.regexp_replace(c, r"/(\?|$)", "$1")
    return c


def registered_domain(canonical: Column) -> Column:
    """Registered (pay-level) domain of a canonical URL: the host's
    last two labels, or three under a multi-label public suffix (the
    fixture carries ``co.uk``; production swaps in the full Public
    Suffix List, still a row-local lookup). Subdomains (``blog.``)
    fall away — the blocklist/grouping key web-curation pipelines
    actually use."""
    host = F.regexp_extract(canonical, "^https?://([^/:?]+)", 1)
    return F.when(
        host.endswith(".co.uk"),
        F.regexp_extract(host, r"([^.]+\.co\.uk)$", 1),
    ).otherwise(F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1))


def _robots_pattern_to_regex(path: str) -> str:
    """RFC 9309 path pattern → anchored Java regex: ``*`` matches any
    span, a TRAILING ``$`` anchors the end, every other char is
    literal."""
    import re as _re

    anchored = path.endswith("$")
    body = path[:-1] if anchored else path
    out = []
    for ch in body:
        out.append(".*" if ch == "*" else _re.escape(ch))
    return "^" + "".join(out) + ("$" if anchored else "")


def parse_robots_rules(
    robots: DataFrame, *, domain_col: str = "domain", txt_col: str = "robots_txt"
) -> DataFrame:
    """Parse per-domain ``robots.txt`` payloads into rule rows
    ``(domain, agent, rule, path, plen, pattern)`` per RFC 9309:
    ``#`` comments stripped, field names case-insensitive, consecutive
    ``User-agent`` lines open a GROUP that the following Allow/
    Disallow lines attach to (a later ``User-agent`` after rules have
    started opens a new group), empty-path rules dropped (an empty
    ``Disallow:`` means allow-all — it matches nothing). Arrow-batched
    ``mapInPandas`` — parsing stays inside the scan's partitions; the
    output is a rules table that is tiny relative to any URL corpus
    (one row per rule line) and broadcasts."""
    from typing import Iterator as _It

    import pandas as _pd

    def parse(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            rows = {"domain": [], "agent": [], "rule": [], "path": [],
                    "plen": [], "pattern": []}
            for dom, txt in zip(pdf[domain_col], pdf[txt_col]):
                agents, in_rules = [], False
                for line in str(txt).splitlines():
                    line = line.split("#", 1)[0].strip()
                    if not line or ":" not in line:
                        continue
                    field, val = line.split(":", 1)
                    field, val = field.strip().lower(), val.strip()
                    if field == "user-agent":
                        if in_rules:
                            agents, in_rules = [], False
                        agents.append(val.lower())
                    elif field in ("allow", "disallow"):
                        in_rules = True
                        if not val or not agents:
                            continue  # empty pattern matches nothing
                        for a in agents:
                            rows["domain"].append(dom)
                            rows["agent"].append(a)
                            rows["rule"].append(field)
                            rows["path"].append(val)
                            rows["plen"].append(len(val))
                            rows["pattern"].append(
                                _robots_pattern_to_regex(val)
                            )
            yield _pd.DataFrame(rows)

    return robots.select(
        F.col(domain_col), F.col(txt_col)
    ).mapInPandas(
        parse,
        "domain string, agent string, rule string, path string, "
        "plen long, pattern string",
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    *,
    agent: str,
    domain_col: str = "domain",
    path_col: str = "path",
) -> DataFrame:
    """Apply parsed robots rules to a URL corpus for one crawler
    identity: per RFC 9309, the EXACT user-agent group applies when
    the domain defines one, else the ``*`` group; within the group the
    LONGEST matching pattern wins and Allow beats Disallow on ties; a
    URL matching no rule is allowed. Adds a boolean ``allowed``.

    Plan shape: the rules table (one row per robots line — metadata-
    sized next to any crawl) broadcasts twice: once for the per-domain
    group choice, once for the URL x applicable-rule match join; the
    match runs RLIKE row-locally and one ``max_by`` per URL picks the
    winning rule. The URL corpus itself is never shuffled beyond the
    final per-URL aggregate keyed on its own row id — at 100 TB the
    crawl stays the probe side of broadcast joins."""
    a = agent.lower()
    picked = rules.filter(
        (F.col("agent") == a) | (F.col("agent") == "*")
    )
    has_exact = picked.groupBy("domain").agg(
        F.max(F.col("agent") == a).alias("_has_exact")
    )
    applicable = picked.join(F.broadcast(has_exact), "domain").filter(
        (F.col("agent") == a)
        | (~F.col("_has_exact") & (F.col("agent") == "*"))
    )
    u = urls.withColumn("_uid", F.monotonically_increasing_id())
    r = applicable.select(
        F.col("domain").alias("_rdom"),
        F.col("rule"),
        F.col("plen"),
        F.col("pattern").alias("_rpat"),
    )
    out_cols = urls.columns
    return (
        u.join(
            F.broadcast(r),
            on=(F.col(domain_col) == F.col("_rdom"))
            & F.expr(f"rlike({path_col}, _rpat)"),
            how="left",
        )
        # keep the URL columns as grouping keys (functionally
        # determined by _uid) — ONE pass, no join-back second scan
        .groupBy("_uid", *out_cols)
        .agg(
            F.coalesce(
                F.max_by(
                    F.col("rule") == "allow",
                    F.struct(F.col("plen"), F.col("rule") == "allow"),
                ),
                F.lit(True),  # no matching rule -> allowed
            ).alias("allowed")
        )
        .select(*out_cols, "allowed")
    )


def repair_mojibake(
    df: DataFrame, *, text_col: str = "text", rounds: int = 2
) -> DataFrame:
    """Repair UTF-8-as-Latin-1 double encoding (mojibake — the ftfy
    fix, run entirely JVM-side): a string whose bytes-under-Latin-1
    form VALID UTF-8 and that carries the telltale lead sequences
    (``Ã`` ``Â`` ``â€`` ``Î`` — UTF-8 lead bytes misread as Latin-1)
    is re-decoded; everything else passes through untouched, because
    genuinely-Latin-1 text (``café``) encodes to INVALID UTF-8 and the
    ``is_valid_utf8`` guard rejects it. ``rounds`` iterates the fix
    toward a fixed point for N-times-encoded text (ftfy's loop; two
    rounds cover real corpora). Adds ``<text_col>_fixed`` and
    ``was_mojibake``.

    Scale: a pure whole-stage-codegen projection —
    ``encode``/``is_valid_utf8``/``decode``/``contains`` are all
    JVM-side row-local expressions, zero Python, zero shuffles."""
    work = f"{text_col}_cand"
    out = df.withColumn(work, F.col(text_col)).withColumn(
        "was_mojibake", F.lit(False)
    )
    for _ in range(rounds):
        suspicious = (
            F.col(work).contains("Ã")
            | F.col(work).contains("Â")
            | F.col(work).contains("â€")
            | F.col(work).contains("Î")
        )
        repaired = F.expr(
            f"CASE WHEN is_valid_utf8(encode({work}, 'ISO-8859-1')) "
            f"THEN decode(encode({work}, 'ISO-8859-1'), 'UTF-8') "
            f"ELSE {work} END"
        )
        hit = suspicious & (repaired != F.col(work))
        out = out.withColumn(
            "was_mojibake", F.col("was_mojibake") | hit
        ).withColumn(work, F.when(hit, repaired).otherwise(F.col(work)))
    return out.withColumn(f"{text_col}_fixed", F.col(work)).drop(work)


def sitemap_stats(
    df: DataFrame, *, xml_col: str = "xml"
) -> DataFrame:
    """Sitemap-protocol XML featurize, entirely through Spark's
    built-in Hive ``xpath_*`` expressions (JVM-side, row-local, no
    Python): dispatch ``<urlset>`` vs ``<sitemapindex>`` on an xpath
    boolean, count ``<url><loc>`` / ``<sitemap><loc>`` children, and
    sum ``<priority>`` values as integer TENTHS (sitemap priorities
    are 0.0-1.0 one-decimal values; integer arithmetic keeps the
    oracle bitwise). Malformed XML surfaces as the expression error —
    crawl pipelines gate upstream."""
    is_idx = F.expr(
        f"xpath_boolean({xml_col}, 'boolean(/sitemapindex)')"
    )
    locs = F.expr(f"xpath({xml_col}, '/urlset/url/loc/text()')")
    slocs = F.expr(
        f"xpath({xml_col}, '/sitemapindex/sitemap/loc/text()')"
    )
    tenths = F.expr(
        f"aggregate(transform(xpath({xml_col}, "
        f"'/urlset/url/priority/text()'), "
        "x -> CAST(CAST(x AS DECIMAL(2,1)) * 10 AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return df.select(
        "*",
        F.when(is_idx, F.lit("index")).otherwise(F.lit("urlset")).alias(
            "kind"
        ),
        F.when(is_idx, F.size(slocs)).otherwise(F.size(locs)).cast(
            "long"
        ).alias("n_locs"),
        F.when(is_idx, F.lit(None).cast("long")).otherwise(tenths).alias(
            "priority_tenths"
        ),
    )


def html_extract(df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """Boilerplate-strip HTML text extraction — the first transform of
    every web-scale corpus pipeline (the WET/trafilatura-lite step),
    run entirely JVM-side: drop ``<script>``/``<style>`` blocks and
    comments (dotall, case-insensitive), strip the remaining tags,
    unescape the six ubiquitous entities, collapse whitespace. Adds
    ``title`` (first ``<title>`` text), ``text`` (visible text) and
    ``n_links`` (``<a`` tag count).

    Scale: one sequential ``regexp_replace``/``regexp_extract``
    projection — row-local, whole-stage codegen, zero Python, zero
    shuffles; lookaround-free patterns."""
    h = F.col(html_col)
    title = F.regexp_extract(h, r"(?is)<title[^>]*>([^<]*)</title>", 1)
    n_links = F.size(
        F.expr(f"regexp_extract_all({html_col}, '(?is)<a\\\\s', 0)")
    )
    t = F.regexp_replace(h, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(rep))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return df.select(
        "*",
        title.alias("title"),
        t.alias("text"),
        n_links.cast("long").alias("n_links"),
    )


def split_sentences(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Rule-based sentence splitting — the segmentation pass quality
    filters and context-window packers run per document: protect
    decimal points and common abbreviations (``Mr./Dr./Prof./e.g.``
    ...) with a control-char sentinel, split on
    terminator-then-whitespace (``[.!?]\\s+`` with a lookbehind so
    the terminator stays with its sentence), restore the sentinel.
    Adds ``sentences`` (array<string>) and ``n_sentences``.

    Scale: regexp/split/transform are row-local JVM expressions —
    zero Python, zero shuffles; the sentence array explodes lazily
    downstream only where a consumer asks."""
    snt = "\u0001"
    t = F.col(text_col)
    t = F.regexp_replace(t, r"(?<=\d)\.(?=\d)", snt)
    t = F.regexp_replace(
        t,
        r"\b(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|Jr|Sr|Inc|Co)\.",
        "$1" + snt,
    )
    t = F.regexp_replace(t, r"\b(e\.g|i\.e)\.", "$1" + snt)
    arr = F.split(t, r"(?<=[.!?])\s+")
    arr = F.transform(
        arr, lambda s: F.replace(s, F.lit(snt), F.lit("."))
    )
    return df.select(
        "*",
        arr.alias("sentences"),
        F.size(arr).cast("long").alias("n_sentences"),
    )


def html_tables(df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """Structured ``<table>`` extraction — the web-tables pass
    (WDC-corpus style) that turns embedded HTML tables into queryable
    counts: nested ``regexp_extract_all``/``transform`` arrays pull
    table bodies, their ``<tr>`` rows and ``<td>/<th>`` cells;
    integer-valued cells sum via ``try_cast``. Adds ``n_tables``,
    ``n_rows``, ``n_cells`` and ``cell_sum``. All row-local JVM
    lambda expressions over arrays — zero Python, zero shuffles; the
    nested arrays never escape the row."""
    cells3 = (
        f"transform(regexp_extract_all({html_col}, "
        "'(?is)<table[^>]*>(.*?)</table>', 1), "
        "t -> transform(regexp_extract_all(t, "
        "'(?is)<tr[^>]*>(.*?)</tr>', 1), "
        "r -> regexp_extract_all(r, "
        "'(?is)<t[dh][^>]*>(.*?)</t[dh]>', 1)))"
    )
    return (
        df.withColumn("_t3", F.expr(cells3))
        .select(
            "*",
            F.size("_t3").cast("long").alias("n_tables"),
            F.expr(
                "aggregate(_t3, CAST(0 AS BIGINT), "
                "(a, t) -> a + size(t))"
            ).alias("n_rows"),
            F.expr(
                "aggregate(_t3, CAST(0 AS BIGINT), (a, t) -> a + "
                "aggregate(t, CAST(0 AS BIGINT), "
                "(b, r) -> b + size(r)))"
            ).alias("n_cells"),
            F.expr(
                "aggregate(_t3, CAST(0 AS BIGINT), (a, t) -> a + "
                "aggregate(t, CAST(0 AS BIGINT), (b, r) -> b + "
                "aggregate(r, CAST(0 AS BIGINT), (c, x) -> c + "
                "coalesce(try_cast(trim(x) AS BIGINT), "
                "CAST(0 AS BIGINT)))))"
            ).alias("cell_sum"),
        )
        .drop("_t3")
    )


def parse_robots_directives(
    robots: DataFrame, *, domain_col: str = "domain", txt_col: str = "robots_txt"
) -> DataFrame:
    """The NON-rule robots.txt directives crawl schedulers read:
    ``Sitemap:`` (group-independent per RFC 9309 — ``agent`` is NULL)
    and ``Crawl-delay:`` (the de-facto politeness extension, attached
    to its user-agent group like Allow/Disallow). Returns
    ``(domain, agent, directive, value)`` rows; malformed
    Crawl-delay values are skipped (the lenient reading real
    crawlers use). Same Arrow-batched shape as
    :func:`parse_robots_rules`."""
    from typing import Iterator as _It

    import pandas as _pd

    def parse(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            rows = {"domain": [], "agent": [], "directive": [],
                    "value": []}
            for dom, txt in zip(pdf[domain_col], pdf[txt_col]):
                agents, in_rules = [], False
                for line in str(txt).splitlines():
                    line = line.split("#", 1)[0].strip()
                    if not line or ":" not in line:
                        continue
                    field, val = line.split(":", 1)
                    field, val = field.strip().lower(), val.strip()
                    if field == "user-agent":
                        if in_rules:
                            agents, in_rules = [], False
                        agents.append(val.lower())
                    elif field in ("allow", "disallow", "crawl-delay"):
                        in_rules = True
                        if field == "crawl-delay" and val:
                            try:
                                float(val)
                            except ValueError:
                                continue  # lenient: skip malformed
                            for a in agents:
                                rows["domain"].append(dom)
                                rows["agent"].append(a)
                                rows["directive"].append("crawl-delay")
                                rows["value"].append(val)
                    elif field == "sitemap" and val:
                        rows["domain"].append(dom)
                        rows["agent"].append(None)
                        rows["directive"].append("sitemap")
                        rows["value"].append(val)
            yield _pd.DataFrame(rows)

    return robots.select(
        F.col(domain_col), F.col(txt_col)
    ).mapInPandas(
        parse, "domain string, agent string, directive string, value string"
    )
