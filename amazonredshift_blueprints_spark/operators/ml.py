"""Counts-based ML primitives over DataFrames: multinomial Naive Bayes,
leave-one-out target encoding, two-proportion z-tests.

Everything here is deliberately *aggregate-shaped* — each "model" is a
small counts table produced by hash aggregates (map-side partials free),
broadcast back onto the event/token stream for scoring. No gradient
loops, no driver-side math over data-sized collections; the only
transcendentals (ln, sqrt) go through the catalog's fixed-IEEE
micro-unit quantization contract so results replay bit-exactly in any
engine.

Reference basis: the reference (shipyardapp/amazonredshift-blueprints)
delegates all analytics to SQL (`execute_sql.py:77`); these are the
training-data-curation extensions SURVEY.md §2C calls for (quality
classifiers, feature encodings, experiment readouts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import pin
from .dedup import tokens

_MICRO = 1_000_000


def _ln_q(num: Column, den: Column) -> Column:
    """round(ln(num/den) * 1e6) as BIGINT — ONE fixed IEEE expression
    (the c58/c63 ln contract) so Spark and any replaying engine agree
    bit-for-bit: integer→double casts are exact below 2^53, the double
    division and ln are single IEEE ops, and rounding to micro-units
    absorbs nothing (it IS the value)."""
    return F.round(F.log(num.cast("double") / den.cast("double")) * _MICRO).cast(
        "long"
    )


def naive_bayes_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
) -> DataFrame:
    """Multinomial Naive Bayes, trained and applied in one plan: learn
    per-label token log-probabilities with add-one (Laplace) smoothing
    from the labeled corpus itself, then score every document under
    every label and keep the argmax — the classic cheap text
    classifier (language ID, quality buckets, topic routing) that
    CCNet/fastText-style curation pipelines run before anything
    expensive.

    Model:
        prior(c)  = ln(n_docs(c) / N_docs)
        lp(c, t)  = ln((count(c, t) + 1) / (tokens(c) + V))
        score(d, c) = prior(c) + sum over token OCCURRENCES of lp(c, t)
    with V = corpus vocabulary size. Every term is quantized to integer
    micro-units BEFORE summing (``_ln_q``), so the per-document sum is
    exact and order-independent and the argmax is replayable. Ties
    break toward the lexically smallest label (min over
    (-score, label) structs — one aggregate, no window).

    Returns (doc_id, label, pred_label, score_q) — ``label`` is the
    true label so accuracy is one downstream aggregate. Documents with
    zero tokens are dropped (no evidence to score).

    100 TB: the model grid is |labels| x V rows — VOCABULARY-sized, not
    corpus-sized — built by two hash aggregates and a broadcast-able
    cross of the label dim with the vocab dim; scoring joins the
    broadcast grid onto the exploded token stream (map-side), then two
    hash aggregates: (doc, label) partial sums, then the per-doc argmax
    via one min(struct) — no window over the corpus, no shuffle of the
    model. |labels| is small by construction (languages, buckets), so
    the token-stream blowup factor is bounded.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("label"),
        F.explode(tokens(text_col)).alias("token"),
    )
    # --- training aggregates (all vocabulary- or label-sized) ---
    class_tok = toks.groupBy("label", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    class_tot = class_tok.groupBy("label").agg(F.sum("cnt").alias("tot"))
    vocab = toks.select("token").distinct()
    v_dim = vocab.agg(F.count(F.lit(1)).alias("v"))  # 1-row dim
    docs = df.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).alias("label")
    )
    priors = docs.groupBy(F.col("label").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_dim = priors.agg(F.sum("n_docs").alias("n_total"))  # 1-row dim
    prior_q = priors.crossJoin(F.broadcast(n_dim)).select(
        "cls", _ln_q(F.col("n_docs"), F.col("n_total")).alias("prior_q")
    )
    # --- model grid: |labels| x V, Laplace-smoothed ---
    grid = (
        class_tot.select(F.col("label").alias("cls"), "tot")
        .crossJoin(F.broadcast(vocab))
        .join(
            class_tok.select(
                F.col("label").alias("cls"), "token", "cnt"
            ),
            ["cls", "token"],
            "left",
        )
        .crossJoin(F.broadcast(v_dim))
        .select(
            "cls",
            "token",
            _ln_q(
                F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1),
                F.col("tot") + F.col("v"),
            ).alias("lp_q"),
        )
    )
    # --- scoring: token stream x broadcast grid -> (doc, cls) sums ---
    scored = (
        toks.select("doc_id", "label", "token")
        .join(F.broadcast(grid), "token")
        .groupBy("doc_id", "label", "cls")
        .agg(F.sum("lp_q").alias("tok_q"))
        .join(F.broadcast(prior_q), "cls")
        .select(
            "doc_id",
            "label",
            "cls",
            (F.col("tok_q") + F.col("prior_q")).alias("score_q"),
        )
    )
    best = (
        scored.groupBy("doc_id", "label")
        .agg(
            F.min(F.struct((-F.col("score_q")).alias("neg"), F.col("cls"))).alias(
                "b"
            )
        )
        .select(
            "doc_id",
            "label",
            F.col("b.cls").alias("pred_label"),
            (-F.col("b.neg")).alias("score_q"),
        )
    )
    return best


def loo_target_encoding(
    df: DataFrame,
    key_col: str,
    target_col: str,
    *,
    scale: int = _MICRO,
) -> DataFrame:
    """Leave-one-out target encoding: each row's categorical ``key_col``
    becomes the mean of ``target_col`` over every OTHER row sharing the
    key — the standard leakage-resistant encoding for high-cardinality
    categoricals (a naive per-key mean leaks the row's own target into
    its feature; LOO subtracts it).

        enc(row) = (sum(key) - target(row)) / (count(key) - 1)

    computed in integer micro-units: targets are quantized once
    (``round(t * scale)`` → BIGINT), the per-key (sum, count) table is
    one hash aggregate, and the per-row encoding is one exact integer
    subtraction and one deterministic double division. Singleton keys
    (count = 1) encode NULL — no peer evidence — rather than a global
    fallback, so the caller chooses the imputation.

    Returns the input keys plus (target_q, enc_micro) where
    ``enc_micro`` is the LOO mean still in micro-units (DOUBLE).

    100 TB: the stats table is KEY-CARDINALITY-sized (hash aggregate,
    map-side partials) and broadcasts back onto the row stream — the
    data-sized side never shuffles; with a billion-key categorical the
    join degrades to a key-keyed shuffle join, still one exchange.
    """
    q = F.round(F.col(target_col).cast("double") * scale).cast("long")
    rows = df.select(
        F.col(key_col).alias("key"), q.alias("target_q")
    )
    stats = rows.groupBy("key").agg(
        F.sum("target_q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return rows.join(F.broadcast(stats), "key").select(
        "key",
        "target_q",
        F.when(
            F.col("n") > 1,
            (F.col("s") - F.col("target_q")).cast("double")
            / (F.col("n") - 1),
        ).alias("enc_micro"),
    )


def two_proportion_ztest(
    df: DataFrame,
    variant_col: str,
    success_col: str,
) -> DataFrame:
    """Two-proportion z-test between every variant pair (a < b) — the
    A/B-experiment readout: per-variant trials and successes reduce to
    one tiny aggregate, then each ordered pair gets the pooled-variance
    z statistic

        z = (p_a - p_b) / sqrt(p_pool (1 - p_pool) (1/n_a + 1/n_b))

    ``success_col`` must be 0/1 (an integer indicator). Counts are
    exact BIGINTs; the z statistic is computed in doubles from those
    exact integers through one fixed expression and ROUNDed to 6
    decimals (the catalog's transcendental contract — sqrt is
    correctly-rounded IEEE but the division chain is guarded anyway).

    Returns (variant_a, variant_b, n_a, x_a, n_b, x_b, z) for each
    unordered pair, variant_a < variant_b lexically.

    100 TB: ONE hash aggregate over the event stream (variant
    cardinality rows out), then a variant x variant self-join on the
    metadata-sized stats table — the data is read exactly once.
    """
    stats = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(success_col).cast("long")).alias("x"),
    )
    a = stats.select(
        F.col("variant").alias("variant_a"),
        F.col("n").alias("n_a"),
        F.col("x").alias("x_a"),
    )
    b = stats.select(
        F.col("variant").alias("variant_b"),
        F.col("n").alias("n_b"),
        F.col("x").alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pa - pb) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return (
        a.join(b, F.col("variant_a") < F.col("variant_b"))
        .select(
            "variant_a",
            "variant_b",
            "n_a",
            "x_a",
            "n_b",
            "x_b",
            F.round(z, 6).alias("z"),
        )
    )


def groupwise_ols(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (ordinary least squares) in
    closed form — the trend readout (is this metric drifting up?) that
    needs no iterative solver:

        slope     = (n·Sxy - Sx·Sy) / (n·Sxx - Sx²)
        intercept = Sy/n - slope · Sx/n

    ``x_col`` and ``y_col`` MUST be integer-valued (the caller
    quantizes — days, cents, micro-units): the five sufficient
    statistics (n, Sx, Sy, Sxy, Sxx) are then EXACT BIGINTs from one
    hash aggregate, and slope/intercept are single fixed IEEE double
    expressions over those exact integers, ROUNDed to 6 dp — the
    catalog's transcendental-free determinism contract. Groups with a
    degenerate x spread (n·Sxx = Sx², e.g. all x equal) emit NULLs.

    Returns (key, n, slope, intercept).

    100 TB: ONE pass, ONE hash aggregate with map-side partials —
    group-cardinality rows out; nothing else moves. Overflow bound:
    |x| ≤ ~4e5 and |y| ≤ ~4e5 keep n·Sxy under 2^63 at a trillion
    rows; quantize coarser (days not seconds) when x spans are long.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("sy").cast("double") / F.col("n")
        - slope * (F.col("sx").cast("double") / F.col("n"))
    )
    return agg.select(
        "key",
        "n",
        F.when(den != 0, F.round(slope, 6)).alias("slope"),
        F.when(den != 0, F.round(intercept, 6)).alias("intercept"),
    )


def pairwise_correlation(
    df: DataFrame,
    vec_col: str,
    *,
    dims: int,
    scale: int = _MICRO,
) -> DataFrame:
    """Pearson correlation matrix of the leading ``dims`` components of
    an array column — the embedding-health / feature-redundancy readout
    (highly correlated dimensions mean wasted representation capacity;
    near-one off-diagonals reveal collapsed encoders).

    Matrix aggregation without a self-join: each row MAP-SIDE expands
    into its dims·(dims+1)/2 upper-triangle pairs (an index-zip over
    the quantized array — no join, no shuffle of the vectors), then ONE
    hash aggregate per (i, j) cell accumulates the five exact BIGINT
    sufficient statistics (components quantized to ``scale`` units
    first), and the correlation is a fixed IEEE double expression over
    them, ROUNDed to 6 dp. Zero-variance dimensions emit NULL.

    Returns (i, j, n, corr) for 1 <= i <= j <= dims.

    100 TB: the expansion factor is dims²/2 per row but map-side
    partial aggregation collapses it to dims²/2 groups per partition
    before the (only) shuffle — the exchange carries
    O(partitions · dims²) rows regardless of data size. Overflow: with
    micro-unit components, n·Sxy stays under 2^63 up to ~10k vectors
    per 1e6-unit scale — quantize coarser (1e3) for billion-row
    corpora, the docstring contract every integer operator here
    carries.
    """
    xq = F.expr(
        f"transform(slice({vec_col}, 1, {dims}), "
        f"v -> CAST(round(CAST(v AS DOUBLE) * {scale}) AS BIGINT))"
    )
    pairs = F.expr(
        f"flatten(transform(sequence(1, {dims}), "
        f"i -> transform(sequence(i, {dims}), "
        f"j -> struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, "
        f"element_at(_xq, i) AS xi, element_at(_xq, j) AS xj))))"
    )
    cells = (
        df.select(xq.alias("_xq"))
        .select(F.explode(pairs).alias("p"))
        .select("p.i", "p.j", "p.xi", "p.xj")
    )
    a = cells.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("xj").alias("sy"),
        F.sum(F.col("xi") * F.col("xj")).alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
        F.sum(F.col("xj") * F.col("xj")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double"))
    return a.select(
        "i",
        "j",
        "n",
        F.when((vx > 0) & (vy > 0), F.round(corr, 6)).alias("corr"),
    )


def psi_drift(
    df: DataFrame,
    ref_col: str,
    bucket_col: str,
) -> DataFrame:
    """Population Stability Index between a reference slice and a
    current slice of one bucketed feature — the model-monitoring drift
    alarm (PSI < 0.1 stable, > 0.25 action):

        PSI = Σ_buckets (p_ref - p_cur) · ln(p_ref / p_cur)

    ``ref_col`` is a boolean slice flag; ``bucket_col`` an integer
    bucket. Shares use add-one smoothing over the JOINT bucket list
    (p = (n_b + 1) / (n + B), B = distinct buckets), so a bucket
    present in only one slice contributes finitely instead of ln(0).
    Each bucket's contribution quantizes to integer NANO-units through
    one fixed IEEE expression (the ln contract, 1e9 because per-bucket
    terms are small), so the cross-bucket sum is exact and
    order-independent.

    Returns one row per bucket: (bucket, n_ref, n_cur, contrib_q,
    psi_q) with psi_q the exact total repeated on every row (nano
    units).

    100 TB: ONE hash aggregate over the stream (bucket x slice
    cardinality rows out), then all arithmetic on the metadata-sized
    bucket table; the two totals and the bucket count broadcast.
    """
    counts = df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.sum(F.when(F.col(ref_col), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col(ref_col), 0).otherwise(1)).alias("n_cur"),
    )
    dims = counts.agg(
        F.sum("n_ref").alias("tr"),
        F.sum("n_cur").alias("tc"),
        F.count(F.lit(1)).alias("nb"),
    )
    pr = (F.col("n_ref") + 1).cast("double") / (F.col("tr") + F.col("nb")).cast(
        "double"
    )
    pc = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + F.col("nb")).cast(
        "double"
    )
    contrib = F.round((pr - pc) * F.log(pr / pc) * 1_000_000_000).cast("long")
    per = counts.crossJoin(F.broadcast(dims)).select(
        "bucket",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        contrib.alias("contrib_q"),
    )
    tot = per.agg(F.sum("contrib_q").alias("psi_q"))
    return per.crossJoin(F.broadcast(tot))


def churn_labels(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    *,
    cutoff: str,
    positive_type: str = "purchase",
) -> DataFrame:
    """Point-in-time-correct training-label generation for churn: for
    every entity active BEFORE ``cutoff``, build features from the
    pre-cutoff window only and the label ("churned") from the
    post-cutoff window only — the leakage boundary every supervised
    pipeline on event data must enforce (a feature computed over the
    label window is the classic target leak).

    Features: pre-cutoff event count, pre-cutoff ``positive_type``
    count, distinct active days pre-cutoff. Label: TRUE iff the entity
    has ZERO events at/after the cutoff. Entities first seen after the
    cutoff are excluded (nothing to featurize at prediction time).

    All from ONE conditional aggregate over ONE scan — the cutoff
    split is per-row CASE, not a self-join of two time slices.

    Returns (key, n_events, n_positive, days_active, churned).

    100 TB: one hash aggregate, key-cardinality rows out; the distinct
    count is per-group (count distinct inside the aggregate —
    Spark expands it to a two-phase aggregate on the same key
    partitioning, still one scan).
    """
    c = F.lit(cutoff).cast("timestamp")
    pre = F.col(ts_col) < c
    return (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.sum(F.when(pre, 1).otherwise(0)).cast("long").alias("n_events"),
            F.sum(
                F.when(pre & (F.col(type_col) == positive_type), 1).otherwise(0)
            ).cast("long").alias("n_positive"),
            F.count_distinct(
                F.when(pre, F.col(ts_col).cast("date"))
            ).cast("long").alias("days_active"),
            (F.sum(F.when(~pre, 1).otherwise(0)) == 0).alias("churned"),
        )
        .filter(F.col("n_events") > 0)
        .select("key", "n_events", "n_positive", "days_active", "churned")
    )


def benford_screen(
    df: DataFrame,
    value_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Benford's-law first-digit screen — the classic fraud /
    fabricated-data test for positive numeric populations spanning
    several orders of magnitude: natural amounts follow
    P(d) = log10(1 + 1/d); fabricated ones usually don't.

    Digit extraction is ARITHMETIC-FREE of floats: values quantize to
    integer units (``round(v·scale)``), and the leading digit is the
    first character of the INTEGER's decimal string — identical in
    every engine, where a float log10/floor extraction can flip at
    power-of-ten boundaries on last-ulp libm differences. Rows whose
    quantized value is < 1 unit are excluded (no leading digit).

    Per digit d: observed count, expected share, and the chi-square
    contribution (obs - n·p)²/(n·p) quantized to integer micro-units
    through one fixed IEEE expression; the total chi2_q (exact integer
    sum) rides on every row. chi2 >> 15.5 (df=8, alpha=.05) flags the
    population.

    Returns (digit, n_obs, exp_micro, contrib_q, chi2_q).

    100 TB: ONE hash aggregate over the stream (9 groups, map-side
    partials); everything after is on 9 rows.
    """
    cents = F.round(F.col(value_col).cast("double") * scale).cast("long")
    counts = (
        df.select(cents.alias("_c"))
        .filter(F.col("_c") >= 1)
        .select(
            F.substring(F.col("_c").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    n = counts.agg(F.sum("n_obs").alias("n"))
    p = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    diff = F.col("n_obs").cast("double") - F.col("n").cast("double") * p
    per = counts.crossJoin(F.broadcast(n)).select(
        "digit",
        "n_obs",
        F.round(p * 1_000_000).cast("long").alias("exp_micro"),
        F.round(
            diff * diff / (F.col("n").cast("double") * p) * 1_000_000
        ).cast("long").alias("contrib_q"),
    )
    tot = per.agg(F.sum("contrib_q").alias("chi2_q"))
    return per.crossJoin(F.broadcast(tot))


def median_impute(
    df: DataFrame,
    key_col: str,
    value_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Per-group median imputation of missing values — the standard
    robust fill for a numeric feature (mean imputation drags toward
    outliers; the median doesn't):

        filled(row) = value            if present
                    = median(group)    if NULL

    Values quantize to integer units; the exact median comes from ONE
    ``percentile(col, 0.5)`` per group over those integers (both
    engines interpolate the same way on integer inputs: mean of the
    two middle values when even — a half-integer, exactly
    representable). Groups that are entirely NULL stay NULL.

    Returns (key, value_q, was_null, filled_q) with filled_q DOUBLE
    (the median of an even group is a .5 value).

    100 TB: one hash aggregate for the medians (group-cardinality rows
    — Spark's percentile is a single-pass typed aggregate, no sort of
    the data), broadcast back onto the stream; one scan total.
    """
    q = F.round(F.col(value_col).cast("double") * scale).cast("long")
    rows = df.select(F.col(key_col).alias("key"), q.alias("value_q"))
    med = rows.filter(F.col("value_q").isNotNull()).groupBy("key").agg(
        F.expr("percentile(value_q, 0.5)").alias("_med")
    )
    return rows.join(F.broadcast(med), "key", "left").select(
        "key",
        "value_q",
        F.col("value_q").isNull().alias("was_null"),
        F.coalesce(F.col("value_q").cast("double"), F.col("_med")).alias(
            "filled_q"
        ),
    )


def woe_encoding(
    df: DataFrame,
    bucket_col: str,
    target_col: str,
) -> DataFrame:
    """Weight-of-evidence encoding of a bucketed feature against a
    binary target — the credit-scoring / scorecard classic (paired
    with information value for feature selection):

        woe(b) = ln( (good_b + 0.5)/goods  /  ((bad_b + 0.5)/bads) )
        iv     = Σ_b (good_b/goods − bad_b/bads) · woe(b)

    with 0.5 smoothing so single-class buckets stay finite. Counts are
    exact BIGINTs; woe and the per-bucket IV contribution quantize to
    integer micro-units through fixed IEEE expressions (the ln
    contract), so the total IV is an exact integer sum.

    ``target_col`` must be 0/1. Returns one row per bucket:
    (bucket, n_good, n_bad, woe_q, iv_contrib_q, iv_q) with iv_q the
    exact total repeated per row.

    100 TB: ONE hash aggregate over the stream (bucket-cardinality
    rows), then metadata-sized arithmetic — the PSI/Benford shape.
    """
    counts = df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.sum(F.col(target_col).cast("long")).alias("n_good"),
        F.sum(F.lit(1) - F.col(target_col).cast("long")).alias("n_bad"),
    )
    tot = counts.agg(
        F.sum("n_good").alias("goods"), F.sum("n_bad").alias("bads")
    )
    # explicit double +0.5 on both engines: a bare `n + 0.5` is DOUBLE
    # in Spark but DECIMAL in DuckDB — the casts make the IEEE op chain
    # identical
    pg = (F.col("n_good").cast("double") + F.lit(0.5)) / F.col("goods").cast(
        "double"
    )
    pb = (F.col("n_bad").cast("double") + F.lit(0.5)) / F.col("bads").cast(
        "double"
    )
    woe = F.log(pg / pb)
    iv_c = (
        F.col("n_good").cast("double") / F.col("goods")
        - F.col("n_bad").cast("double") / F.col("bads")
    ) * woe
    per = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.col("n_good").cast("long").alias("n_good"),
        F.col("n_bad").cast("long").alias("n_bad"),
        F.round(woe * 1_000_000).cast("long").alias("woe_q"),
        F.round(iv_c * 1_000_000).cast("long").alias("iv_contrib_q"),
    )
    tot2 = per.agg(F.sum("iv_contrib_q").alias("iv_q"))
    return per.crossJoin(F.broadcast(tot2))


def auc_ranksum(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Per-group ROC AUC via the Mann-Whitney rank-sum identity — the
    standard "does this score actually rank positives above negatives?"
    model/feature readout, with EXACT tie handling (midranks):

        AUC = (R⁺ - n⁺(n⁺+1)/2) / (n⁺ · n⁻)

    where R⁺ is the sum of midranks of the positive class.  Scores MUST
    be integer-valued (caller quantizes — cents, micro-units): midranks
    then come from ``2·midrank = 2·rank() + tie_count - 1`` (always an
    integer), every sufficient statistic is an exact BIGINT, and the
    AUC is reported in integer micro-units via one exact integer
    division — no floats anywhere, bit-identical in any engine.

    Returns (grp, n_pos, n_neg, auc_micro); groups with a single class
    emit NULL auc_micro.

    100 TB: ONE hash aggregate first collapses the corpus to the
    distinct ``(grp, score)`` table (map-side partials) — on the value
    table, every score's midrank is a closed form of the per-group
    inclusive prefix count: ``2·midrank = 2·cum_n − n + 1`` (rank =
    cum_n − n + 1, tie_count = n), so ``R⁺`` contributions become
    ``pos · (2·cum_n − n + 1)``.  The prefix count itself rides
    :func:`..operators.sampling.grouped_cumsum` — range-partitioned
    per-group prefix sums with broadcast span offsets — because
    ``Window.partitionBy(grp)`` collapses to ONE task exactly when one
    experiment group holds the whole corpus (VERDICT r11 "What's
    wrong" #2).  Then ONE hash aggregate to group cardinality.
    BIGINT bound: the numerator is ≤ 2·n·n⁺·1e6, so groups up to
    ~2e9 rows are exact; beyond that quantize scores coarser and
    shard groups.
    """
    from .sampling import grouped_cumsum

    y = F.col(label_col).cast("long")
    per_value = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(score_col).alias("score"),
            y.alias("y"),
        )
        .groupBy("grp", "score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    cum = grouped_cumsum(per_value, ["grp"], ["score"], ["n"])
    agg = cum.groupBy("grp").agg(
        F.sum("pos").alias("n_pos"),
        (F.sum("n") - F.sum("pos")).cast("long").alias("n_neg"),
        F.sum(
            F.col("pos") * (2 * F.col("n_cum") - F.col("n") + 1)
        ).alias("sr2"),
    )
    return agg.select(
        "grp",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "CAST((sr2 - n_pos * (n_pos + 1)) * 1000000"
                " DIV (2 * n_pos * n_neg) AS BIGINT)"
            ),
        ).alias("auc_micro"),
    )


def knn_classify(
    emb: DataFrame,
    test_pred: Column,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """k-nearest-neighbor majority-vote classification over an
    embedding column: rows matching ``test_pred`` are the held-out
    queries, the rest are the labeled corpus; each query takes the
    modal label of its ``k`` nearest (cosine) corpus neighbors.

    Composes :func:`..operators.similarity.brute_force_topk` (the
    exactness anchor — swap in `ivf_topk`/`lsh_topk` for the 100 TB
    candidate path, the vote is identical) with one vote aggregate.
    Ties break deterministically: more votes, then better best-rank,
    then smaller label.

    Returns (vec_id, true_label, pred_label, votes, correct).

    100 TB: the vote table is (queries × ≤k·labels)-sized; the corpus
    never shuffles beyond what the ANN stage needs, and the label
    lookup broadcasts the corpus id→label pairs only for the ≤ q·k
    neighbor ids actually retrieved (semi-join pruned).
    """
    from pyspark.sql.window import Window

    from .similarity import brute_force_topk

    test = emb.filter(test_pred)
    train = emb.filter(~test_pred)
    nb = brute_force_topk(train, test, id_col=id_col, vec_col=vec_col, k=k)
    lab = train.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nb_label")
    )
    votes = (
        nb.join(lab, "neighbor_id")
        .groupBy("query_id", "nb_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("votes"),
            F.min("rank").alias("best_rank"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("best_rank"), F.asc("nb_label")
    )
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            F.col("nb_label").alias("pred_label"),
            "votes",
        )
    )
    truth = test.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        F.col("query_id").alias(id_col),
        "true_label",
        "pred_label",
        "votes",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


def ndcg_eval(
    df: DataFrame,
    group_col: str,
    item_col: str,
    score_col: str,
    rel_col: str,
    *,
    k: int = 5,
    weights_q: list[int] | None = None,
) -> DataFrame:
    """Per-group nDCG@k retrieval evaluation over a scored candidate
    list — the standard graded-relevance ranking readout (Järvelin &
    Kekäläinen 2002), the quality twin of the recall evals c93/c140:

        DCG@k  = Σ_{i<=k} rel_i / log2(i+1)      (predicted order)
        IDCG@k = the same sum with rels sorted descending
        nDCG   = DCG / IDCG                       (1.0 = perfect order)

    The ideal ranking is taken over the SAME candidate set (the
    retrieved list), the usual convention for evaluating a fixed run.
    The per-position discounts 1/log2(i+1) are pre-quantized to integer
    micro-units (``weights_q[i] = round(1e6 / log2(i+2))``) so every
    gain is an exact BIGINT product and the whole metric replays
    bit-exactly in any engine — no runtime transcendentals at all.

    Returns (grp, n_retrieved, dcg_q, idcg_q, ndcg_micro); groups whose
    candidates are all irrelevant (IDCG = 0) emit NULL ndcg_micro.

    100 TB: ONE exchange on the group key feeds both row_number windows
    (predicted and ideal order are two sorts over the same partitioning,
    Spark reuses the exchange) and the closing hash aggregate; the
    discount array is a tiny literal, never a join.
    """
    import math

    from pyspark.sql.window import Window

    if weights_q is None:
        weights_q = [
            int(round(_MICRO / math.log2(i + 1))) for i in range(1, k + 1)
        ]
    w_pred = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(item_col).asc()
    )
    w_ideal = Window.partitionBy(group_col).orderBy(
        F.col(rel_col).desc(), F.col(item_col).asc()
    )
    wmap = F.array(*[F.lit(int(w)).cast("long") for w in weights_q])
    # The group column keeps its ORIGINAL name through the windows and
    # the aggregate (renamed only in the final projection): aliasing it
    # before the agg made Spark plan a second exchange on the aliased
    # key when the input came from a join — alias-aware partitioning
    # propagation does not survive that shape (r13 plan audit; same fix
    # as average_precision_eval).
    scored = df.select(
        F.col(group_col),
        F.col(rel_col).cast("long").alias("rel"),
        F.row_number().over(w_pred).alias("pos"),
        F.row_number().over(w_ideal).alias("ipos"),
    )
    # F.get is NULL-safe past the array end (unlike element_at under
    # ANSI), so positions beyond k fold to 0 gain via coalesce.
    gain = F.coalesce(F.col("rel") * F.get(wmap, F.col("pos") - 1), F.lit(0))
    igain = F.coalesce(F.col("rel") * F.get(wmap, F.col("ipos") - 1), F.lit(0))
    agg = scored.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_retrieved"),
        F.sum(gain).cast("long").alias("dcg_q"),
        F.sum(igain).cast("long").alias("idcg_q"),
    )
    return agg.select(
        F.col(group_col).alias("grp"),
        "n_retrieved",
        "dcg_q",
        "idcg_q",
        F.when(
            F.col("idcg_q") > 0,
            F.expr(f"CAST(dcg_q * {_MICRO} DIV idcg_q AS BIGINT)"),
        ).alias("ndcg_micro"),
    )


def average_precision_eval(
    df: DataFrame,
    group_col: str,
    item_col: str,
    score_col: str,
    label_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Per-group average precision at k (MAP's per-query term) over a
    scored candidate list with BINARY relevance — the precision-
    oriented complement of the rank-sum AUC (c145, threshold-free but
    position-blind) and graded nDCG (c148, needs graded labels):

        AP@k = (1/min(R, k)) * Σ_{i<=k, rel_i=1} Precision@i

    with Precision@i = (positives among the top i) / i, ranked by
    (score DESC, item ASC), and R the number of relevant items in the
    retrieved list (fixed-run convention, same as ndcg_eval's ideal).

    Every term is exact integer arithmetic: each Precision@i is
    quantized independently (``cum_pos * 1e6 DIV i``) and the terms sum
    as BIGINTs before the final DIV by min(R, k) — the engine-portable
    quantization used across the eval family (one floor per term, so
    any engine replays the value bit-exactly; the quantized metric is
    within k micro of the real-valued AP). Returns (grp, n_retrieved,
    n_pos, sum_prec_q, ap_micro); groups with no relevant item emit
    NULL ap_micro (AP is undefined, not zero, without positives).

    100 TB: ONE exchange on the group key feeds the row_number and the
    running-positive-count windows (same partitioning — exchange
    reuse) and the closing hash aggregate; group cardinality bounds
    every window, nothing global sorts.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(item_col).asc()
    )
    pos_flag = (F.col(label_col) > 0).cast("long")
    # Both windows share ONE spec (same partitioning AND ordering) so
    # they compile to a single WindowExec, and the group column keeps
    # its ORIGINAL name through the window and the aggregate (renamed
    # only in the final projection): aliasing it before the agg made
    # Spark plan a second exchange on the aliased key when the input
    # came from a join — alias-aware partitioning propagation does not
    # survive that shape. One exchange feeds window + agg.
    ranked = df.select(
        F.col(group_col),
        pos_flag.alias("_pos"),
        F.row_number().over(w).alias("pos"),
        F.sum(pos_flag)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_pos"),
    )
    term = F.when(
        (F.col("pos") <= k) & (F.col("_pos") == 1),
        F.expr(f"CAST(cum_pos * {_MICRO} DIV pos AS BIGINT)"),
    ).otherwise(F.lit(0).cast("long"))
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_retrieved"),
        F.sum("_pos").cast("long").alias("n_pos"),
        F.sum(term).cast("long").alias("sum_prec_q"),
    )
    return agg.select(
        F.col(group_col).alias("grp"),
        "n_retrieved",
        "n_pos",
        "sum_prec_q",
        F.when(
            F.col("n_pos") > 0,
            F.expr(
                f"CAST(sum_prec_q DIV least(n_pos, CAST({k} AS BIGINT)) "
                "AS BIGINT)"
            ),
        ).alias("ap_micro"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Per-group weighted (lower) median: the smallest value v whose
    cumulative weight reaches half the group's total weight — the
    robust center for weighted observations (price weighted by volume,
    latency weighted by request count).

    Values and weights are quantized to integer units (``round(x *
    scale)``), so the cumulative sums and the crossing test are exact
    BIGINT arithmetic.  Computation pre-aggregates weight per DISTINCT
    value first — the window cumsum then runs over the (group, value)
    spectrum, not the raw rows, which both shrinks the sort and makes
    the cumulative weight well-defined without a row tiebreaker.

    Returns (grp, total_w, wmedian_q).

    100 TB: the pre-aggregate is a hash agg with map-side partials
    (shuffle width = distinct values per group, not rows); the cumsum
    window and final min-filter agg reuse the same group partitioning.
    Skewed groups bound memory by their distinct-value count only.
    """
    from pyspark.sql.window import Window

    vq = F.round(F.col(value_col).cast("double") * scale).cast("long")
    wq = F.round(F.col(weight_col).cast("double") * scale).cast("long")
    byv = (
        df.select(F.col(group_col).alias("grp"), vq.alias("v"), wq.alias("w"))
        .groupBy("grp", "v")
        .agg(F.sum("w").alias("wv"))
    )
    w_cum = Window.partitionBy("grp").orderBy("v")
    w_all = Window.partitionBy("grp")
    cum = byv.select(
        "grp",
        "v",
        F.sum("wv").over(w_cum).alias("cw"),
        F.sum("wv").over(w_all).alias("tw"),
    )
    return cum.groupBy("grp").agg(
        F.max("tw").cast("long").alias("total_w"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v")))
        .cast("long")
        .alias("wmedian_q"),
    )


def rfm_segments(
    df: DataFrame,
    key_col: str,
    date_col: str,
    amount_col: str,
    *,
    n_bins: int = 5,
    scale: int = 100,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic marketing-analytics scoring: each entity gets three 1..n_bins
    scores from its rank on how recently, how often, and how much it
    transacted, concatenated to a segment code (``555`` = best).

    Exact and engine-portable by construction: amounts are quantized to
    integer ``scale``-ths before summing (order-independent), recency is
    whole days against the CORPUS max date (one broadcastable scalar,
    not a wall clock — reruns are deterministic), and scores come from
    the total-order rank formula ``(rank-1)*n_bins DIV n + 1`` (ranks
    tiebroken by key), NOT engine NTILE, whose remainder-distribution
    rules differ across engines. Higher frequency/monetary rank higher;
    LOWER recency ranks higher (most-recent = n_bins).

    Returns (key, recency_days, frequency, monetary_q, r_score,
    f_score, m_score, segment).

    100 TB: one key-cardinality hash aggregate, then three
    :func:`..operators.sampling.global_rank` passes over the AGGREGATE
    (distributed range sort + broadcast per-partition offsets — never a
    single-partition NTILE window), joined back on the key; every
    structure after the first aggregate is customer-sized, not
    event-sized.
    """
    from .sampling import global_rank

    # Persist the key-cardinality aggregate: it feeds SIX consumers
    # (the as-of scalar, the row count, all three global_rank passes,
    # and the final join) and each one otherwise re-runs the
    # event-sized scan+aggregate (r16; guide §5 persist rule). The
    # cache is key-sized, not event-sized.
    per0 = pin(
        df.groupBy(F.col(key_col).alias("key")).agg(
            F.max(F.col(date_col).cast("date")).alias("_last"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.round(F.col(amount_col).cast("double") * scale).cast("long")
            ).alias("monetary_q"),
        )
    )
    asof = per0.agg(F.max("_last").alias("_asof"))
    per = (
        per0.crossJoin(F.broadcast(asof))
        .withColumn(
            "recency_days", F.datediff(F.col("_asof"), F.col("_last")).cast("long")
        )
        .drop("_asof", "_last")
    )
    nrows = per.agg(F.count(F.lit(1)).alias("_n"))

    def _score(order_cols, out: str) -> DataFrame:
        ranked = global_rank(per, order_cols, out_col="_rk")
        return ranked.crossJoin(F.broadcast(nrows)).select(
            "key",
            F.expr(f"CAST((_rk - 1) * {n_bins} DIV _n + 1 AS BIGINT)").alias(
                out
            ),
        )

    r = _score([F.desc("recency_days"), F.asc("key")], "r_score")
    f_ = _score([F.asc("frequency"), F.asc("key")], "f_score")
    m = _score([F.asc("monetary_q"), F.asc("key")], "m_score")
    return (
        per.join(r, "key")
        .join(f_, "key")
        .join(m, "key")
        .select(
            "key",
            "recency_days",
            "frequency",
            "monetary_q",
            "r_score",
            "f_score",
            "m_score",
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            ).cast("long").alias("segment"),
        )
    )


def lag_features(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    value_col: str,
    *,
    lags: tuple[int, ...] = (1, 2),
    window_n: int = 3,
    scale: int = 100,
) -> DataFrame:
    """Supervised-learning feature generation over an ordered event
    stream — the lag/rolling block every tabular-ML pipeline derives
    before training (demand forecasting, churn, fraud): per key in
    (ts, tie) total order, emit each row's previous values, the delta
    to the last one, and trailing-window statistics.

    All features are exact integers: values quantize to ``scale``-ths
    first; the rolling mean is ``sum*1e6 DIV count`` in micro-quanta
    (engine-exact, no float accumulation). NULL lags at the series
    head stay NULL — the model's masking decision, not the engine's.

    Returns (key, ts, tie, vq, lag<k>_q ..., delta_q, roll_sum_q,
    roll_n, roll_mean_micro, roll_max_q) where the rolling frame is
    the ``window_n`` PRECEDING rows ending at the PREVIOUS row (a
    leakage-safe frame: the current value never feeds its own
    features).

    100 TB: every window shares ONE key-partitioned ordering — a
    single Exchange + sort serves all lags and the rolling frame; no
    joins, no Python. Skewed keys bound by per-key history length.
    """
    if 1 not in lags:
        raise ValueError("lags must include 1 (delta_q is vq - lag1_q)")
    from pyspark.sql.window import Window

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.col(tie_col).alias("tie"),
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long")
        .alias("vq"),
    )
    order = Window.partitionBy("key").orderBy(F.asc("ts"), F.asc("tie"))
    frame = order.rowsBetween(-window_n, -1)
    out = base
    for k in lags:
        out = out.withColumn(f"lag{k}_q", F.lag("vq", k).over(order))
    out = (
        out.withColumn("delta_q", F.col("vq") - F.col("lag1_q"))
        .withColumn("roll_sum_q", F.sum("vq").over(frame))
        .withColumn("roll_n", F.count("vq").over(frame).cast("long"))
        .withColumn(
            "roll_mean_micro",
            # explicit empty-frame guard: series heads have roll_n = 0,
            # and integer-DIV-by-zero semantics differ across engines
            F.expr(
                "CASE WHEN roll_n > 0 THEN "
                "CAST(roll_sum_q * 1000000 DIV roll_n AS BIGINT) END"
            ),
        )
        .withColumn("roll_max_q", F.max("vq").over(frame))
    )
    return out


def confusion_matrix(
    pred_df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Confusion matrix with per-class precision/recall — the
    evaluation aggregate every classifier entry (c112 Naive Bayes,
    c144 kNN) needs downstream: one row per (true, predicted) cell
    with the cell count, the true-class and predicted-class totals,
    and — on DIAGONAL cells, where they are defined — recall and
    precision in integer micro-units (``n*1e6 DIV total``; exact, no
    float ratios to drift).

    Returns (label, pred_label, n, row_tot, col_tot, recall_micro,
    precision_micro).

    100 TB: one hash aggregate to classes² cells, then two window sums
    over that TINY grid (classes², not corpus) — the expensive part is
    whatever produced the predictions, never this.
    """
    from pyspark.sql.window import Window

    cells = pred_df.groupBy(
        F.col(label_col).alias("label"), F.col(pred_col).alias("pred_label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return cells.select(
        "label",
        "pred_label",
        "n",
        F.sum("n").over(Window.partitionBy("label")).cast("long").alias(
            "row_tot"
        ),
        F.sum("n").over(Window.partitionBy("pred_label"))
        .cast("long")
        .alias("col_tot"),
    ).select(
        "*",
        F.expr(
            "CASE WHEN label = pred_label "
            "THEN CAST(n * 1000000 DIV row_tot AS BIGINT) END"
        ).alias("recall_micro"),
        F.expr(
            "CASE WHEN label = pred_label "
            "THEN CAST(n * 1000000 DIV col_tot AS BIGINT) END"
        ).alias("precision_micro"),
    )


def decision_stump(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    top_k: int = 1,
) -> DataFrame:
    """Exact best-split search for a one-level decision tree (a
    "decision stump"): over every distinct value ``v`` of the integer
    feature ``x_col``, score the split ``x <= v`` by weighted Gini
    impurity against the 0/1 label ``y_col`` and return the best
    ``top_k`` thresholds — the CART building block, and the quality
    screen for "is this feature predictive at all".

    All-integer scoring: minimizing weighted Gini is equivalent to
    maximizing ``(pos_l²+neg_l²)/n_l + (pos_r²+neg_r²)/n_r`` (the
    constant-N algebra is in the entry doc), and each of the two
    rational terms is quantized as ``num * 1e6 DIV n`` — exact BIGINT
    up to ~2e6-row inputs (pos² * 1e6 < 2^63), documented bound.
    Ties break to the SMALLEST threshold. The max-value split (empty
    right side) is excluded.

    Returns (threshold, score_micro, n_left, pos_left, n_right,
    pos_right), score DESCENDING.

    100 TB: ONE hash aggregate collapses the corpus to the distinct
    feature values (map-side partials make the shuffle value-sized);
    the cumulative scan then runs on that VALUE table via
    :func:`..operators.sampling.global_cumsum` — range-partitioned
    prefix sums with broadcast per-partition offsets, NOT a
    partition-less window, because for continuous features the
    distinct-value table approaches corpus cardinality and a bare
    ``Window.orderBy`` would funnel it through one task (VERDICT r11
    item 2). Grand totals come back as exact literals from the same
    offset pass. The winner exits through a TakeOrdered top-k, no
    global sort.
    """
    from .sampling import global_cumsum

    per_value = df.groupBy(F.col(x_col).alias("threshold")).agg(
        F.count("*").alias("n"),
        F.sum(F.col(y_col).cast("long")).alias("pos"),
    )
    cum = global_cumsum(per_value, ["threshold"], ["n", "pos"])
    n_tot, pos_tot = cum._bp_totals["n"], cum._bp_totals["pos"]
    scored = (
        cum.select(
            "threshold",
            F.col("n_cum").alias("n_left"),
            F.col("pos_cum").alias("pos_left"),
            F.lit(n_tot).cast("long").alias("n_tot"),
            F.lit(pos_tot).cast("long").alias("pos_tot"),
        )
        .filter(F.col("n_left") < F.col("n_tot"))  # empty-right split out
        .select(
            "threshold",
            "n_left",
            "pos_left",
            (F.col("n_tot") - F.col("n_left")).alias("n_right"),
            (F.col("pos_tot") - F.col("pos_left")).alias("pos_right"),
        )
        .select(
            "threshold",
            (
                F.expr(
                    "(pos_left*pos_left + (n_left-pos_left)*(n_left-pos_left))"
                    " * 1000000 DIV n_left"
                )
                + F.expr(
                    "(pos_right*pos_right + (n_right-pos_right)"
                    "*(n_right-pos_right)) * 1000000 DIV n_right"
                )
            ).alias("score_micro"),
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
        )
    )
    return scored.orderBy(
        F.col("score_micro").desc(), F.col("threshold")
    ).limit(top_k)


def banded_rate_score(
    train: DataFrame,
    test: DataFrame,
    band_col: str,
    y_col: str,
) -> DataFrame:
    """Score ``test`` rows with the empirical positive rate of their
    ``band_col`` group in ``train`` — the honest baseline probabilistic
    classifier (a histogram model), and the natural producer for
    calibration evaluation. Rates are exact integer micro-units
    (``pos * 1e6 DIV n``); bands unseen in training fall back to the
    global training prior (same quantization), so no test row is
    silently dropped.

    Returns ``test`` plus ``p_micro``.

    100 TB: the model is ONE hash aggregate collapsed to the band table
    (group-count-sized), broadcast back onto the test stream; the prior
    is a one-row aggregate cross-joined (broadcast). The test corpus is
    read once and never shuffles.
    """
    bands = train.groupBy(band_col).agg(
        F.expr(f"CAST(SUM({y_col}) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "_bp_band_p"
        )
    )
    prior = train.agg(
        F.expr(f"CAST(SUM({y_col}) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "_bp_prior_p"
        )
    )
    return (
        test.join(F.broadcast(bands), band_col, "left")
        .crossJoin(F.broadcast(prior))
        .withColumn(
            "p_micro", F.coalesce(F.col("_bp_band_p"), F.col("_bp_prior_p"))
        )
        .drop("_bp_band_p", "_bp_prior_p")
    )


def calibration_report(
    scored: DataFrame,
    *,
    p_col: str = "p_micro",
    y_col: str = "y",
    n_bins: int = 10,
) -> DataFrame:
    """Calibration curve + Brier decomposition inputs for a
    probabilistic classifier whose predictions are integer micro-unit
    probabilities: bucket predictions into ``n_bins`` equal-width bins
    and report, per bin, the count, the mean PREDICTED probability,
    the EMPIRICAL positive rate (a calibrated model has these equal),
    and the bin's summed squared error (micro² units — the Brier
    numerator; total Brier = SUM(brier_sum) / SUM(n) over bins).

    All integer: mean prediction is ``SUM(p) DIV n``, empirical rate
    ``pos * 1e6 DIV n``, per-row squared error ``(p - y*1e6)²``
    (≤ 1e12 per row — BIGINT-safe to ~9e6-row test sets, documented).

    Binning: ``LEAST(p DIV ceil(1e6/n_bins), n_bins-1)`` — the clamp
    puts a prediction of exactly 1.0 (p = 1e6, which banded_rate_score
    emits for all-positive bands) in the LAST bin instead of an
    overflow bin, and the ceil keeps the edges aligned when n_bins
    does not divide 1e6 (r11 advisor: floor width under-covered the
    top of the unit interval, clamping more than the boundary value).

    100 TB: ONE hash aggregate over the scored stream straight to
    ``n_bins`` groups; map-side partials make the shuffle bins-sized.
    """
    bin_w = -(-1_000_000 // n_bins)  # ceil: edges cover the full unit
    return (
        scored.groupBy(
            F.expr(
                f"LEAST(CAST({p_col} DIV {bin_w} AS BIGINT), "
                f"CAST({n_bins - 1} AS BIGINT))"
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(f"CAST(SUM({p_col}) DIV COUNT(*) AS BIGINT)").alias(
                "avg_pred_micro"
            ),
            F.expr(
                f"CAST(SUM({y_col}) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("emp_rate_micro"),
            F.expr(
                f"CAST(SUM(({p_col} - {y_col} * 1000000) "
                f"* ({p_col} - {y_col} * 1000000)) AS BIGINT)"
            ).alias("brier_sum"),
        )
        .orderBy("bin")
    )


def mutual_information(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Mutual information I(X; label) in micro-nats for each candidate
    feature column — the information-theoretic feature-ranking sibling
    of chi-square term selection (c154): which discretized feature
    carries the most bits about the label, across ALL classes at once
    (chi² is per-term/binary; MI handles the full multiclass joint).

    Exact-replayable arithmetic: per joint cell the contribution is
    ``n_xy * round(ln(n_xy·N / (n_x·n_y)) * 1e6)`` (the catalog's
    fixed-IEEE ln contract; the products are exact doubles below 2^53,
    so valid to ~9.4e7 input rows — the usual documented bound) and
    ``mi_micro = SUM(contrib) DIV N``. Independent features score ~0;
    negative per-cell terms are real (MI total is always >= 0 up to
    quantization).

    Returns (feature, n_cells, mi_micro), best first (ties by name).

    100 TB: the melt (one row per feature per input row) is MAP-ONLY
    into the cells aggregate — map-side partials collapse each
    partition to |features|·|cells| groups before the single shuffle;
    margins are window sums OVER THE CELLS table (features·cells rows,
    metadata-sized), never a second corpus pass. One scan, one
    cells-sized shuffle, join-free.
    """
    from pyspark.sql.window import Window

    stack_args = ", ".join(f"'{c}', {c}" for c in feature_cols)
    melted = df.select(
        F.expr(
            f"stack({len(feature_cols)}, {stack_args}) AS (feature, x)"
        ),
        F.col(label_col).alias("label"),
    )
    cells = melted.groupBy("feature", "x", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wx = Window.partitionBy("feature", "x")
    wl = Window.partitionBy("feature", "label")
    wf = Window.partitionBy("feature")
    scored = cells.select(
        "feature",
        "n",
        F.sum("n").over(wx).alias("n_x"),
        F.sum("n").over(wl).alias("n_l"),
        F.sum("n").over(wf).alias("n_tot"),
    ).select(
        "feature",
        "n_tot",
        (
            F.col("n")
            * F.round(
                F.log(
                    (F.col("n") * F.col("n_tot")).cast("double")
                    / (F.col("n_x") * F.col("n_l")).cast("double")
                )
                * 1_000_000
            ).cast("long")
        ).alias("contrib"),
    )
    # GREATEST(·, 0): MI is mathematically >= 0 but per-cell ln
    # quantization can push an independent feature's sum a few
    # micro-units negative — and negative integer division is where
    # engines disagree (Spark DIV truncates toward zero, DuckDB //
    # floors), so the clamp is correctness, not cosmetics.
    return (
        scored.groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.expr(
                "CAST(GREATEST(SUM(contrib), 0) DIV ANY_VALUE(n_tot) "
                "AS BIGINT)"
            ).alias("mi_micro"),
        )
        .orderBy(F.col("mi_micro").desc(), "feature")
    )


def conformal_intervals(
    train: DataFrame,
    calib: DataFrame,
    test: DataFrame,
    group_col: str,
    y_col: str,
    *,
    coverage_pct: int = 90,
) -> DataFrame:
    """Mondrian split-conformal prediction intervals (Vovk; Lei et al.
    JASA'18): per group, fit the point predictor (here the training
    mean), take q̂ = the ceil((n_cal+1)·coverage/100)-th smallest
    absolute calibration residual, and report how often the test value
    actually lands inside prediction ± q̂ — the distribution-free
    uncertainty wrapper every deployed regressor needs, with
    finite-sample marginal coverage >= the target by construction.

    All integer: the predictor is ``SUM(y) DIV n`` per group, residuals
    are integer distances, the quantile is an ORDER STATISTIC (integer
    rank arithmetic — no interpolation semantics to disagree on, the
    c156 convention), clamped to n_cal, and coverage is
    ``hits * 1e6 DIV n_test``.

    Returns (group, n_cal, pred, qhat, n_test, coverage_micro).

    100 TB: train and test sides are single hash aggregates (group-
    sized). The calibration residual rank is the one per-group sort —
    run conformal calibration on a calibration SPLIT (the method's own
    requirement), not the corpus; the window is calibration-sized by
    construction. Models join back by broadcast (group-sized).
    """
    from pyspark.sql.window import Window

    model = train.groupBy(F.col(group_col).alias("_bp_g")).agg(
        F.expr(f"CAST(SUM({y_col}) DIV COUNT(*) AS BIGINT)").alias("pred")
    )
    res = (
        calib.join(
            F.broadcast(model), calib[group_col] == F.col("_bp_g")
        )
        .select(
            "_bp_g",
            "pred",
            F.abs(F.col(y_col) - F.col("pred")).cast("long").alias("r"),
        )
    )
    w = Window.partitionBy("_bp_g").orderBy("r")
    ranked = res.select(
        "_bp_g",
        "pred",
        "r",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("_bp_g")).alias("n_cal"),
    )
    # ceil((n_cal+1)·cov/100) in PURE integer arithmetic —
    # (a + 99) DIV 100 — so there is no float ceil for engines to
    # disagree on; clamped to n_cal (tiny calibration sets).
    qhat = ranked.filter(
        F.col("rk")
        == F.least(
            F.expr(
                f"CAST(((n_cal + 1) * {coverage_pct} + 99) DIV 100 AS INT)"
            ),
            F.col("n_cal"),
        )
    ).select(
        "_bp_g",
        "pred",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("r").alias("qhat"),
    )
    return (
        test.join(F.broadcast(qhat), test[group_col] == F.col("_bp_g"))
        .groupBy(F.col("_bp_g").alias("group"))
        .agg(
            F.first("n_cal").alias("n_cal"),
            F.first("pred").alias("pred"),
            F.first("qhat").alias("qhat"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                f"CAST(SUM(CASE WHEN ABS({y_col} - pred) <= qhat "
                "THEN 1 ELSE 0 END) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("coverage_micro"),
        )
        .orderBy("group")
    )


def sprt_monitor(
    df: DataFrame,
    group_col: str,
    day_col: str,
    success_col: str,
    *,
    p0_milli: int = 180,
    p1_milli: int = 220,
    alpha_milli: int = 50,
) -> DataFrame:
    """Wald's sequential probability ratio test (SPRT), the
    peeking-safe way to monitor a conversion experiment daily: per
    group, accumulate the log-likelihood ratio of H1 (rate =
    ``p1_milli``/1000) against H0 (``p0_milli``/1000) over the daily
    (trials, successes) stream and compare against the Wald boundaries
    ±ln((1-α)/α) (α = β = ``alpha_milli``/1000) — cross above and you
    accept H1 NOW, with the type-I/II guarantee intact no matter how
    often you looked (the fix for the industry's peeking problem).

    Every ln is the catalog's fixed-IEEE micro quantization OF INTEGER
    LITERAL RATIOS (ln(p1/p0), ln((1000-p1)/(1000-p0)), ln((1000-α)/α))
    so the per-day increments, the running sum, and the crossing day
    replay bit-exactly in any engine.

    Returns per (group, day): trials n, successes x, llr_day_micro,
    llr_cum_micro, state ('accept_h1' / 'accept_h0' / 'continue'),
    days ordered, day as STRING (the c155 date-output convention).

    100 TB: ONE hash aggregate corpus → (group, day) cells; the
    cumulative scan is a window over that DAYS-sized table (c161
    discipline). Nothing corpus-sized moves after the first exchange.
    """
    from pyspark.sql.window import Window

    lr1 = f"CAST(round(ln(CAST({p1_milli} AS DOUBLE) / {p0_milli}) * 1000000) AS BIGINT)"
    lr0 = (
        f"CAST(round(ln(CAST({1000 - p1_milli} AS DOUBLE) / "
        f"{1000 - p0_milli}) * 1000000) AS BIGINT)"
    )
    bound = (
        f"CAST(round(ln(CAST({1000 - alpha_milli} AS DOUBLE) / "
        f"{alpha_milli}) * 1000000) AS BIGINT)"
    )
    daily = df.groupBy(
        F.col(group_col).alias("grp"),
        F.col(day_col).cast("date").alias("_bp_day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(success_col).cast("long")).alias("x"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("_bp_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = daily.withColumn(
        "llr_day_micro", F.expr(f"x * {lr1} + (n - x) * {lr0}")
    ).withColumn("llr_cum_micro", F.sum("llr_day_micro").over(w))
    return scored.select(
        "grp",
        F.col("_bp_day").cast("string").alias("day"),
        "n",
        "x",
        "llr_day_micro",
        "llr_cum_micro",
        F.expr(
            f"CASE WHEN llr_cum_micro >= {bound} THEN 'accept_h1' "
            f"WHEN llr_cum_micro <= -{bound} THEN 'accept_h0' "
            "ELSE 'continue' END"
        ).alias("state"),
    ).orderBy("grp", "day")


def power_planner(
    df: DataFrame,
    group_col: str,
    success_col: str,
    day_col: str,
    *,
    lift_milli: int = 100,
    z_alpha_micro: int = 1_959_964,
    z_power_micro: int = 841_621,
) -> DataFrame:
    """Experiment sample-size / duration planning FROM OBSERVED DATA:
    given the running A/B stream, how many subjects per arm — and at
    each arm's observed daily traffic, how many days — to detect a
    relative lift of ``lift_milli``/1000 on the pooled baseline rate at
    two-sided α=0.05 with 80% power. The planning complement of the
    z-test readout (c116) and the SPRT monitor (c174): run BEFORE the
    experiment, not after.

    Standard two-proportion formula:
        n/arm = (z_α·√(2·p̄q̄) + z_β·√(p₁q₁ + p₂q₂))² / (p₁-p₂)²
    with p₁ = pooled observed rate, p₂ = p₁·(1+lift). The z quantiles
    are fixed micro-unit literals (Φ⁻¹(0.975), Φ⁻¹(0.80) — constants of
    the method, not data); every other input is an exact BIGINT count,
    so the one double expression is fixed-IEEE and both its CEIL and
    the integer day arithmetic replay in any engine.

    Returns ONE row: per-arm observed (n, x), the pooled rate in
    micro-units, the target absolute delta in micro-units, n_per_arm,
    and per-arm days_needed = ceil(n_per_arm · days_observed / n_arm)
    in pure integer ceiling arithmetic.

    100 TB: one hash aggregate over the stream (map-side partials) to
    a two-row table; everything after is scalar expressions.
    Multi-arm inputs raise (the srm/ks two-arm contract, r11 advisor).
    """
    _require_two_arms(df, group_col, "power planner")
    arms = (
        df.groupBy(F.col(group_col).alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(success_col).cast("long")).alias("x"),
            F.countDistinct(F.col(day_col).cast("date"))
            .cast("long")
            .alias("days_obs"),
        )
        .orderBy("arm")
    )
    a = arms.limit(1).select(
        F.col("arm").alias("arm_a"),
        F.col("n").alias("n_a"),
        F.col("x").alias("x_a"),
        F.col("days_obs").alias("days_a"),
    )
    b = arms.orderBy(F.col("arm").desc()).limit(1).select(
        F.col("arm").alias("arm_b"),
        F.col("n").alias("n_b"),
        F.col("x").alias("x_b"),
        F.col("days_obs").alias("days_b"),
    )
    za = z_alpha_micro / 1e6
    zb = z_power_micro / 1e6
    lift = 1.0 + lift_milli / 1000.0
    return (
        a.crossJoin(b)
        .withColumn(
            "p_pool_micro",
            F.expr("CAST((x_a + x_b) * 1000000 DIV (n_a + n_b) AS BIGINT)"),
        )
        .withColumn(
            "_p1", (F.col("x_a") + F.col("x_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double"),
        )
        .withColumn("_p2", F.col("_p1") * F.lit(lift))
        .withColumn(
            "n_per_arm",
            F.ceil(
                (
                    F.lit(za)
                    * F.sqrt(
                        F.lit(2.0) * F.col("_p1") * (F.lit(1.0) - F.col("_p1"))
                    )
                    + F.lit(zb)
                    * F.sqrt(
                        F.col("_p1") * (F.lit(1.0) - F.col("_p1"))
                        + F.col("_p2") * (F.lit(1.0) - F.col("_p2"))
                    )
                )
                * (
                    F.lit(za) * F.sqrt(
                        F.lit(2.0) * F.col("_p1") * (F.lit(1.0) - F.col("_p1"))
                    )
                    + F.lit(zb)
                    * F.sqrt(
                        F.col("_p1") * (F.lit(1.0) - F.col("_p1"))
                        + F.col("_p2") * (F.lit(1.0) - F.col("_p2"))
                    )
                )
                / ((F.col("_p2") - F.col("_p1")) * (F.col("_p2") - F.col("_p1")))
            ).cast("long"),
        )
        .withColumn(
            "mde_micro",
            F.expr(
                f"CAST((x_a + x_b) * 1000000 DIV (n_a + n_b) "
                f"* {lift_milli} DIV 1000 AS BIGINT)"
            ),
        )
        .select(
            "arm_a",
            "n_a",
            "x_a",
            "arm_b",
            "n_b",
            "x_b",
            "p_pool_micro",
            "mde_micro",
            "n_per_arm",
            F.expr(
                "CAST((n_per_arm * days_a + n_a - 1) DIV n_a AS BIGINT)"
            ).alias("days_needed_a"),
            F.expr(
                "CAST((n_per_arm * days_b + n_b - 1) DIV n_b AS BIGINT)"
            ).alias("days_needed_b"),
        )
    )


def _require_two_arms(df: DataFrame, group_col: str, what: str) -> None:
    """Validate the exactly-2-groups contract the two-arm tests share
    (r11 advisor: welch/cuped/power silently used only the min- and
    max-keyed arms of a multi-arm input, where siblings srm_guardrail
    and ks_two_sample raise). One metadata-sized distinct collect."""
    arms = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col).collect()
    ]
    if len(arms) != 2:
        raise ValueError(
            f"{what} expects exactly 2 groups, got {len(arms)}: {arms[:5]}"
        )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between the two groups of
    ``group_col`` on the integer metric ``value_col`` — the
    continuous-metric A/B readout completing the proportion z-test
    (c116): revenue per user, latency, list length.

    Sufficient statistics (n, Σv, Σv²) are exact BIGINTs from ONE
    aggregate; t and the Welch-Satterthwaite degrees of freedom are
    fixed-IEEE double expressions over them, ROUNDed (t to 6 dp, df to
    3 dp — the c116 contract). Sample variance uses the numerically
    fixed order (Σv² − (Σv)²/n)/(n−1) evaluated in doubles from exact
    integers. Groups with n < 2 yield NULL statistics.

    Returns ONE row: (group_a, n_a, mean_a, group_b, n_b, mean_b, t,
    df); means are reported as the exact integer division ``sum DIV n``
    in the metric's own unit.

    100 TB: one map-side-partial hash aggregate to two rows; scalar
    math after. Overflow: Σv² bounds value·√rows — cents-scale metrics
    are safe past 1e9 rows (documented). Multi-arm inputs raise (the
    srm/ks two-arm contract, r11 advisor).
    """
    _require_two_arms(df, group_col, "Welch t-test")
    arms = (
        df.groupBy(F.col(group_col).alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(value_col).cast("long")).alias("s"),
            F.sum(
                F.col(value_col).cast("long") * F.col(value_col).cast("long")
            ).alias("ss"),
        )
    )
    a = arms.orderBy("arm").limit(1).select(
        F.col("arm").alias("group_a"),
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = arms.orderBy(F.col("arm").desc()).limit(1).select(
        F.col("arm").alias("group_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    j = a.crossJoin(b)
    var_a = (
        F.col("ss_a").cast("double")
        - F.col("s_a").cast("double") * F.col("s_a").cast("double")
        / F.col("n_a").cast("double")
    ) / (F.col("n_a").cast("double") - F.lit(1.0))
    var_b = (
        F.col("ss_b").cast("double")
        - F.col("s_b").cast("double") * F.col("s_b").cast("double")
        / F.col("n_b").cast("double")
    ) / (F.col("n_b").cast("double") - F.lit(1.0))
    se_a = var_a / F.col("n_a").cast("double")
    se_b = var_b / F.col("n_b").cast("double")
    t = (
        F.col("s_a").cast("double") / F.col("n_a").cast("double")
        - F.col("s_b").cast("double") / F.col("n_b").cast("double")
    ) / F.sqrt(se_a + se_b)
    dof = (se_a + se_b) * (se_a + se_b) / (
        se_a * se_a / (F.col("n_a").cast("double") - F.lit(1.0))
        + se_b * se_b / (F.col("n_b").cast("double") - F.lit(1.0))
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1)
    return j.select(
        "group_a",
        "n_a",
        F.expr("CAST(s_a DIV n_a AS BIGINT)").alias("mean_a"),
        "group_b",
        "n_b",
        F.expr("CAST(s_b DIV n_b AS BIGINT)").alias("mean_b"),
        F.when(ok, F.round(t, 6)).alias("t"),
        F.when(ok, F.round(dof, 3)).alias("df"),
    )


def srm_guardrail(
    df: DataFrame,
    group_col: str,
    day_col: str,
    *,
    expected_milli: tuple[int, int] = (500, 500),
    chi2_alarm_micro: int = 3_841_459,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail (Fabijan et al. KDD'19 — the
    single most common A/B infrastructure bug): per day, chi-square of
    the observed two-arm assignment counts against the configured
    split. A triggered SRM invalidates the experiment's stats no
    matter how significant they look — this is the check that runs
    BEFORE anyone reads c116/c174/c177.

    χ² = Σ (obs − exp)²/exp with exp_i = n_day · share_i, computed as
    ONE fixed-IEEE double from exact BIGINT counts and reported in
    micro-units (ROUND 6 then scaled — equivalently round(χ²·1e6)).
    The default alarm is the χ²₁ 95th percentile (3.841459 — a method
    constant, like c176's z quantiles). Day out as STRING.

    Returns per day: (day, n_a, n_b, chi2_micro, srm_alarm).

    100 TB: one map-side-partial aggregate to (day, arm) cells, one
    pivot-shaped days-sized reshape; nothing corpus-sized after.
    """
    ea, eb = expected_milli
    cells = df.groupBy(
        F.col(day_col).cast("date").alias("_bp_day"),
        F.col(group_col).alias("arm"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # the arm dictionary is assignment-arms-sized (metadata); collected
    # to validate the two-arm contract loudly rather than silently
    # folding extra arms into the chi-square
    arm_list = [
        r.arm for r in cells.select("arm").distinct().orderBy("arm").collect()
    ]
    if len(arm_list) != 2:
        raise ValueError(
            f"SRM guardrail expects exactly 2 assignment arms, got "
            f"{len(arm_list)}: {arm_list[:5]}"
        )
    lo, hi = arm_list
    daily = cells.groupBy("_bp_day").agg(
        F.sum(F.when(F.col("arm") == lo, F.col("n")).otherwise(0)).alias(
            "n_a"
        ),
        F.sum(F.when(F.col("arm") == hi, F.col("n")).otherwise(0)).alias(
            "n_b"
        ),
    )
    exp_a = (
        (F.col("n_a") + F.col("n_b")).cast("double")
        * F.lit(ea)
        / F.lit(1000.0)
    )
    exp_b = (
        (F.col("n_a") + F.col("n_b")).cast("double")
        * F.lit(eb)
        / F.lit(1000.0)
    )
    chi2 = (
        (F.col("n_a").cast("double") - exp_a)
        * (F.col("n_a").cast("double") - exp_a)
        / exp_a
        + (F.col("n_b").cast("double") - exp_b)
        * (F.col("n_b").cast("double") - exp_b)
        / exp_b
    )
    return daily.select(
        F.col("_bp_day").cast("string").alias("day"),
        "n_a",
        "n_b",
        F.round(chi2 * 1_000_000).cast("long").alias("chi2_micro"),
        (F.round(chi2 * 1_000_000).cast("long") >= chi2_alarm_micro).alias(
            "srm_alarm"
        ),
    ).orderBy("day")


def ips_policy_value(
    logged: DataFrame,
    policy: DataFrame,
    ctx_col: str,
    action_col: str,
    reward_col: str,
    *,
    propensity_milli: int = 500,
) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring (Horvitz-
    Thompson; Li et al. WSDM'11): estimate the value a DETERMINISTIC
    target policy (a broadcast ctx → action table) WOULD have earned,
    from logs collected under uniform randomization with known
    propensity ``propensity_milli``/1000 — the counterfactual readout
    that lets you grade a new policy without deploying it.

    Estimators, both exact integers:
    - ``ips_value_micro``   = Σ_matched r · 1e9 DIV (p_milli · N)
      (the unbiased IPS estimate, since 1/p = 1000/p_milli);
    - ``snips_value_micro`` = Σ_matched r · 1e6 DIV n_matched
      (self-normalized IPS — biased but far lower variance; with a
      constant propensity the weight sum is just the match count).
    A context absent from the policy table never matches (counts in N,
    contributes 0 — the conservative reading, stated not hidden).

    Returns ONE row: (n, n_matched, match_rate_micro, ips_value_micro,
    snips_value_micro).

    100 TB: the policy table is context-cardinality-sized and
    broadcasts; the log stream aggregates once with map-side partials.
    """
    pol = policy.select(
        F.col(ctx_col).alias("_bp_ctx"),
        F.col(action_col).alias("_bp_pi_action"),
    )
    joined = logged.join(
        F.broadcast(pol), logged[ctx_col] == F.col("_bp_ctx"), "left"
    ).select(
        (F.col(action_col) == F.col("_bp_pi_action"))
        .cast("int")
        .alias("m"),
        F.col(reward_col).cast("long").alias("r"),
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("m").cast("long").alias("n_matched"),
        F.expr(
            "CAST(SUM(m) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("match_rate_micro"),
        F.expr(
            f"CAST(SUM(m * r) * 1000000000 DIV "
            f"({propensity_milli} * COUNT(*)) AS BIGINT)"
        ).alias("ips_value_micro"),
        F.expr(
            "CAST(SUM(m * r) * 1000000 DIV "
            "(CASE WHEN SUM(m) > 0 THEN SUM(m) END) AS BIGINT)"
        ).alias("snips_value_micro"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    crit_micro_coeff: int = 1_358_100,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test: D = max |F1(v) - F2(v)|
    over the empirical CDFs of the two groups — the nonparametric
    "are these two distributions the same" readout completing the
    testing family (means c177, proportions c116, ranks c145).

    Exactness: with cumulative counts c1(v), c2(v) the gap is the
    RATIONAL |c1·n2 − c2·n1| / (n1·n2), so the max is found entirely in
    BIGINT (numerators compared directly — no float CDFs) and reported
    as ``ks_d_micro = num · 1e6 DIV (n1·n2)`` with the smallest
    achieving value as the location. The α=0.05 rejection threshold is
    ``c(α)·√((n1+n2)/(n1·n2))`` with c = 1.3581 carried as the integer
    micro literal ``crit_micro_coeff`` (a method constant, like c176's
    z quantiles); the single √ is one fixed-IEEE double expression.

    Returns ONE row: (n1, n2, ks_d_micro, at_value, crit_micro,
    reject).

    100 TB: ONE hash aggregate collapses the corpus to the distinct
    VALUE table (map-side partials); both cumulative scans ride
    :func:`..operators.sampling.global_cumsum` — range-partitioned
    prefix sums with broadcast offsets, not a partition-less window,
    since a continuous metric's distinct-value table approaches corpus
    cardinality (VERDICT r11 item 2); n1/n2 come back as exact
    literals from the same offset pass; the max exits via one tiny
    aggregate. Overflow: c·n < 2^63 needs n1·n2 < 9e18 — any
    realistic pair.
    """
    groups = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col).collect()
    ]
    if len(groups) != 2:
        raise ValueError(
            f"KS two-sample test expects exactly 2 groups, got "
            f"{len(groups)}: {groups[:5]}"
        )
    lo, hi = groups
    per_value = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(group_col) == lo, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col(group_col) == hi, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    from .sampling import global_cumsum

    cum = global_cumsum(per_value, ["v"], ["a", "b"])
    gaps = cum.select(
        "v",
        F.col("a_cum").alias("c1"),
        F.col("b_cum").alias("c2"),
        F.lit(cum._bp_totals["a"]).cast("long").alias("n1"),
        F.lit(cum._bp_totals["b"]).cast("long").alias("n2"),
    ).select(
        "v",
        "n1",
        "n2",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias(
            "num"
        ),
    )
    best = gaps.groupBy().agg(
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.max(F.struct(F.col("num"), (-F.col("v")).alias("negv"))).alias("m"),
    )
    return best.select(
        "n1",
        "n2",
        F.expr("CAST(m.num * 1000000 DIV (n1 * n2) AS BIGINT)").alias(
            "ks_d_micro"
        ),
        (-F.col("m.negv")).cast("long").alias("at_value"),
        F.round(
            F.lit(crit_micro_coeff)
            * F.sqrt(
                (F.col("n1") + F.col("n2")).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            )
        )
        .cast("long")
        .alias("crit_micro"),
        (
            F.expr("CAST(m.num * 1000000 DIV (n1 * n2) AS BIGINT)")
            >= F.round(
                F.lit(crit_micro_coeff)
                * F.sqrt(
                    (F.col("n1") + F.col("n2")).cast("double")
                    / (F.col("n1") * F.col("n2")).cast("double")
                )
            ).cast("long")
        ).alias("reject"),
    )


def uplift_curve(
    train: DataFrame,
    test: DataFrame,
    band_col: str,
    treat_col: str,
    y_col: str,
) -> DataFrame:
    """Uplift evaluation by the Qini construction (Radcliffe 2007):
    fit the two-model uplift score on the TRAINING slice (treated rate
    minus control rate per band, exact micro integers), rank test-slice
    bands by that score, and report the cumulative incremental
    conversions a campaign targeting the top-k bands would earn —
    the readout for "whom should we treat", where plain A/B readouts
    (c116/c177) only answer "does treating help on average".

    All integer: band scores are differences of ``x·1e6 DIV n``;
    the Qini value after each band is the rational
    ``cum_xt − cum_xc·(cum_nt/cum_nc)`` carried as
    ``(cum_xt·cum_nc − cum_xc·cum_nt) · 1e6 DIV cum_nc`` (micro
    conversions, exact BIGINT to ~3e6-row slices — documented bound).
    Bands missing a side in training score NULL and sort last
    (NULLS LAST, then band asc — deterministic).

    Returns per band in targeting order: (rank, band, score_micro,
    n_t, x_t, n_c, x_c, qini_micro).

    100 TB: two corpus aggregates (train model, test cells), both
    map-side combinable to band-sized tables; the ranking and the
    cumulative scan are windows over BANDS. Nothing corpus-sized after
    the two exchanges.
    """
    from pyspark.sql.window import Window

    model = train.groupBy(F.col(band_col).alias("band")).agg(
        F.expr(
            f"CAST(SUM(CASE WHEN {treat_col} = 1 THEN {y_col} ELSE 0 END) "
            f"* 1000000 DIV (CASE WHEN SUM(CASE WHEN {treat_col} = 1 "
            f"THEN 1 ELSE 0 END) > 0 THEN SUM(CASE WHEN {treat_col} = 1 "
            f"THEN 1 ELSE 0 END) END) AS BIGINT)"
        ).alias("rate_t"),
        F.expr(
            f"CAST(SUM(CASE WHEN {treat_col} = 0 THEN {y_col} ELSE 0 END) "
            f"* 1000000 DIV (CASE WHEN SUM(CASE WHEN {treat_col} = 0 "
            f"THEN 1 ELSE 0 END) > 0 THEN SUM(CASE WHEN {treat_col} = 0 "
            f"THEN 1 ELSE 0 END) END) AS BIGINT)"
        ).alias("rate_c"),
    )
    cells = test.groupBy(F.col(band_col).alias("band")).agg(
        F.expr(
            f"CAST(SUM(CASE WHEN {treat_col} = 1 THEN 1 ELSE 0 END) "
            "AS BIGINT)"
        ).alias("n_t"),
        F.expr(
            f"CAST(SUM(CASE WHEN {treat_col} = 1 THEN {y_col} ELSE 0 END) "
            "AS BIGINT)"
        ).alias("x_t"),
        F.expr(
            f"CAST(SUM(CASE WHEN {treat_col} = 0 THEN 1 ELSE 0 END) "
            "AS BIGINT)"
        ).alias("n_c"),
        F.expr(
            f"CAST(SUM(CASE WHEN {treat_col} = 0 THEN {y_col} ELSE 0 END) "
            "AS BIGINT)"
        ).alias("x_c"),
    )
    scored = cells.join(
        F.broadcast(
            model.select(
                "band", (F.col("rate_t") - F.col("rate_c")).alias("score_micro")
            )
        ),
        "band",
        "left",
    )
    order = Window.orderBy(
        F.col("score_micro").desc_nulls_last(), F.col("band")
    )
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        scored.select(
            F.row_number().over(order).cast("long").alias("rank"),
            "band",
            "score_micro",
            "n_t",
            "x_t",
            "n_c",
            "x_c",
            F.sum("x_t").over(cum).alias("_cxt"),
            F.sum("n_t").over(cum).alias("_cnt"),
            F.sum("x_c").over(cum).alias("_cxc"),
            F.sum("n_c").over(cum).alias("_cnc"),
        )
        .select(
            "rank",
            "band",
            "score_micro",
            "n_t",
            "x_t",
            "n_c",
            "x_c",
            F.expr(
                "CAST((_cxt * _cnc - _cxc * _cnt) * 1000000 DIV "
                "(CASE WHEN _cnc > 0 THEN _cnc END) AS BIGINT)"
            ).alias("qini_micro"),
        )
        .orderBy("rank")
    )


def theil_sen_trend(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Theil-Sen trend: the MEDIAN of all pairwise slopes —
    the robust counterpart of c120's least-squares line (one wild
    outlier moves OLS arbitrarily; Theil-Sen tolerates ~29% gross
    corruption). The slope estimate behind tamper-resistant KPIs and
    sensor drift checks.

    Exactness: each pairwise slope is ``(y2-y1)·1e6 DIV (x2-x1)`` —
    integer division TRUNCATING toward zero, which is what BOTH Spark
    DIV and DuckDB ``//`` do (verified: -7//2 = -3 in DuckDB), so
    negative slopes quantize identically with no floor emulation
    needed — the convention is truncation and it is engine-shared.
    The median is the order statistic at rank ``(m+1) DIV 2`` (lower
    median — a deterministic integer convention, no interpolation).
    Pairs with equal x are excluded (slope undefined); groups left
    with no valid pair drop out.

    Returns (key, n_points, n_pairs, slope_micro).

    100 TB: the pair self-join is per-group n² — Theil-Sen's inherent
    cost; run it on per-entity series whose length is business-bounded
    (orders per customer), never on an unbounded stream. One key-keyed
    join + one window over each group's pair list.
    """
    from pyspark.sql.window import Window

    pts = df.select(
        F.col(key_col).alias("key"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    n_pts = pts.groupBy("key").agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    a = pts.alias("a")
    b = pts.alias("b")
    pairs = (
        a.join(b, "key")
        .filter(F.col("a.x") < F.col("b.x"))  # one row per distinct-x pair
        .select(
            "key",
            F.expr(
                "CAST((b.y - a.y) * 1000000 DIV (b.x - a.x) AS BIGINT)"
            ).alias("slope_micro"),
        )
    )
    w = Window.partitionBy("key").orderBy("slope_micro")
    wc = Window.partitionBy("key")
    med = (
        pairs.select(
            "key",
            "slope_micro",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).alias("m"),
        )
        .filter(F.col("rk") == F.expr("(m + 1) DIV 2"))
        .select(
            "key",
            F.col("m").cast("long").alias("n_pairs"),
            "slope_micro",
        )
    )
    return (
        n_pts.join(med, "key")
        .select("key", "n_points", "n_pairs", "slope_micro")
        .orderBy("key")
    )


def cuped_adjustment(
    users: DataFrame,
    group_col: str,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. WSDM'13 — the industry-
    standard pre-experiment covariate adjustment): estimate
    θ = cov(X, Y)/var(X) from the pooled per-user (pre, post) metric
    pairs, adjust Y' = Y − θ(X − X̄), and report the raw and adjusted
    between-group mean differences plus the variance-reduction factor
    ρ² — typically 30-50% smaller confidence intervals for free,
    because pre-period behavior explains that much of the post-period
    variance.

    All sufficient statistics (n, Σx, Σy, Σxy, Σx², per group and
    pooled) are exact BIGINTs from ONE aggregate over the user table;
    θ, the adjusted means, and ρ² are fixed-IEEE double expressions
    over them (the c177 contract), ROUNDed to 6 dp. The adjusted
    difference needs no per-user second pass: mean(Y'_g) =
    mean(Y_g) − θ·(mean(X_g) − X̄), an algebraic identity of the
    linear adjustment.

    Returns ONE row: (n_a, n_b, theta_r6, raw_diff_r6, cuped_diff_r6,
    rho2_r6).

    100 TB: build the per-user (pre, post) table with one corpus
    aggregate (users-sized), then this is one more map-side-partial
    aggregate to two rows + scalars. Nothing shuffles twice.
    Multi-arm inputs raise (the srm/ks two-arm contract, r11 advisor).
    """
    _require_two_arms(users, group_col, "CUPED adjustment")
    arms = users.groupBy(F.col(group_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(pre_col).cast("long")).alias("sx"),
        F.sum(F.col(post_col).cast("long")).alias("sy"),
    )
    a = arms.orderBy("arm").limit(1).select(
        F.col("n").alias("n_a"), F.col("sx").alias("sx_a"),
        F.col("sy").alias("sy_a"),
    )
    b = arms.orderBy(F.col("arm").desc()).limit(1).select(
        F.col("n").alias("n_b"), F.col("sx").alias("sx_b"),
        F.col("sy").alias("sy_b"),
    )
    pooled = users.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(pre_col).cast("long")).alias("sx"),
        F.sum(F.col(post_col).cast("long")).alias("sy"),
        F.sum(
            F.col(pre_col).cast("long") * F.col(post_col).cast("long")
        ).alias("sxy"),
        F.sum(
            F.col(pre_col).cast("long") * F.col(pre_col).cast("long")
        ).alias("sxx"),
        F.sum(
            F.col(post_col).cast("long") * F.col(post_col).cast("long")
        ).alias("syy"),
    )
    j = a.crossJoin(b).crossJoin(F.broadcast(pooled))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov_n = d("n") * d("sxy") - d("sx") * d("sy")  # n²·cov scale
    var_x = d("n") * d("sxx") - d("sx") * d("sx")
    var_y = d("n") * d("syy") - d("sy") * d("sy")
    theta = cov_n / var_x
    xbar = d("sx") / d("n")
    raw = d("sy_a") / d("n_a") - d("sy_b") / d("n_b")
    adj = (
        d("sy_a") / d("n_a") - theta * (d("sx_a") / d("n_a") - xbar)
    ) - (d("sy_b") / d("n_b") - theta * (d("sx_b") / d("n_b") - xbar))
    rho2 = cov_n * cov_n / (var_x * var_y)
    ok = (var_x > 0) & (var_y > 0)
    return j.select(
        "n_a",
        "n_b",
        F.when(ok, F.round(theta, 6)).alias("theta_r6"),
        F.round(raw, 6).alias("raw_diff_r6"),
        F.when(ok, F.round(adj, 6)).alias("cuped_diff_r6"),
        F.when(ok, F.round(rho2, 6)).alias("rho2_r6"),
    )


def isotonic_fit(
    bands: DataFrame,
    x_col: str,
    num_col: str,
    den_col: str,
    *,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Weighted isotonic regression over an ordered band table — the
    FIX for the miscalibration c168 diagnoses (isotonic/PAV is the
    standard calibrator when the reliability curve is monotone-ish but
    warped). Instead of the sequential pool-adjacent-violators stack —
    hostile to set-oriented engines — this uses the exact MINIMAX
    identity: fit(i) = max_{j<=i} min_{k>=i} wavg(j..k), computed over
    interval averages built from prefix sums.

    Quantization note, load-bearing: each interval average is
    ``(S_k − S_{j-1})·scale DIV (N_k − N_{j-1})`` and the minimax runs
    over those INTEGERS. For ANY fixed matrix M, i ↦ max_{j<=i}
    min_{k>=i} M[j,k] is monotone (the j-range grows, the k-range
    shrinks — both push the value up), so the quantized fit is STILL
    guaranteed monotone — quantization cannot break the isotonic
    contract, it only rounds the levels.

    Returns (x, n, rate_q, fit_q) ordered by x, rate/fit in ``scale``
    units.

    100 TB: runs on the BAND table (metadata-sized by construction —
    the corpus was aggregated before calling this); the interval
    expansion is B² rows and the minimax join B³ tuples, trivial for
    the tens-of-bands calibration uses. Never point this at raw rows.
    """
    from pyspark.sql.window import Window

    b = bands.select(
        F.col(x_col).alias("x"),
        F.col(num_col).cast("long").alias("num"),
        F.col(den_col).cast("long").alias("den"),
    )
    cum = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = b.select(
        "x",
        "num",
        "den",
        F.sum("num").over(cum).alias("cs"),
        F.sum("den").over(cum).alias("cn"),
    )
    lo = pre.select(
        F.col("x").alias("jx"),
        (F.col("cs") - F.col("num")).alias("s_lo"),
        (F.col("cn") - F.col("den")).alias("n_lo"),
    )
    hi = pre.select(
        F.col("x").alias("kx"), F.col("cs").alias("s_hi"),
        F.col("cn").alias("n_hi"),
    )
    intervals = (
        lo.crossJoin(hi)
        .filter(F.col("jx") <= F.col("kx"))
        .select(
            "jx",
            "kx",
            F.expr(
                f"CAST((s_hi - s_lo) * {scale} DIV (n_hi - n_lo) AS BIGINT)"
            ).alias("avg_q"),
        )
    )
    pts = b.select(F.col("x"), "num", "den")
    inner = (
        pts.join(
            intervals,
            (F.col("jx") <= F.col("x")) & (F.col("kx") >= F.col("x")),
        )
        .groupBy("x", "num", "den", "jx")
        .agg(F.min("avg_q").alias("m"))
    )
    return (
        inner.groupBy("x", "num", "den")
        .agg(F.max("m").alias("fit_q"))
        .select(
            "x",
            F.col("den").alias("n"),
            F.expr(f"CAST(num * {scale} DIV den AS BIGINT)").alias("rate_q"),
            "fit_q",
        )
        .orderBy("x")
    )


def gini_concentration(
    df: DataFrame, weight_col: str, id_col: str
) -> DataFrame:
    """Gini coefficient of a non-negative weight column — "how
    concentrated is the training-data mass?" (token budget per source,
    characters per document): 0 = perfectly uniform, →1 = one document
    holds everything. The standard corpus-skew audit next to the
    per-source caps (c87) and mixing weights (c53/c101).

    Exact rank form on sorted weights (w ascending, ``id_col`` as the
    total-order tiebreaker, ranks 1..n):

        G = (2·Σ i·wᵢ − (n+1)·Σw) / (n·Σw)

    reported as ``gini_micro = num · 1e6 DIV (n·Σw)`` — every term an
    exact BIGINT. Overflow bound, documented: Σ i·wᵢ ≤ n²·w̄, so
    n²·w̄ < 9.2e18 (≈3e6 rows at character-scale weights; quantize
    weights coarser or shard above that).

    Returns ONE row: (n, total_w, gini_micro).

    100 TB: the rank rides :func:`..operators.sampling.global_rank`
    (distributed range sort + broadcast offsets — NO single-partition
    ORDER BY window), then ONE map-side-partial aggregate to a single
    row.
    """
    from .sampling import global_rank

    ranked = global_rank(
        df.select(
            F.col(weight_col).cast("long").alias("w"),
            F.col(id_col).alias("_gid"),
        ),
        [F.asc("w"), F.asc("_gid")],
        out_col="rnk",
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").cast("long").alias("total_w"),
        F.expr(
            "CAST((2 * SUM(rnk * w) - (COUNT(*) + 1) * SUM(w)) * 1000000"
            " DIV (COUNT(*) * SUM(w)) AS BIGINT)"
        ).alias("gini_micro"),
    )


def cohens_kappa(
    df: DataFrame, rater_a_col: str, rater_b_col: str
) -> DataFrame:
    """Cohen's kappa between two binary raters — the inter-annotator
    agreement readout every labeling/QA pipeline needs before trusting
    its labels (c159's confusion matrix measures a model against
    truth; kappa measures two LABELERS against each other, chance-
    corrected).

    Exact integer form: with the 2×2 table (n11, n10, n01, n00),
    observed agreement po = (n11+n00)/n and chance agreement
    pe = (a1·b1 + a0·b0)/n² (a/b = marginals), so

        κ = (po − pe)/(1 − pe)
          = ((n11+n00)·n − a1·b1 − a0·b0) / (n² − a1·b1 − a0·b0)

    — a single BIGINT rational, reported as ``kappa_micro`` via one
    exact integer division (negative for worse-than-chance, the full
    Landis-Koch range). Overflow: n² < 9.2e18 → exact to ~3e9 rows.

    Returns ONE row: (n, n11, n10, n01, n00, kappa_micro);
    a degenerate table where pe = 1 (both raters constant) yields
    NULL kappa_micro.

    100 TB: ONE map-side-partial hash aggregate over the stream to
    four cells; scalar arithmetic after.
    """
    a = F.col(rater_a_col).cast("long")
    b = F.col(rater_b_col).cast("long")
    cells = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a * b).alias("n11"),
        F.sum(a * (1 - b)).alias("n10"),
        F.sum((1 - a) * b).alias("n01"),
        F.sum((1 - a) * (1 - b)).alias("n00"),
    )
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            "CASE WHEN n * n - (n11 + n10) * (n11 + n01)"
            " - (n01 + n00) * (n10 + n00) <> 0 THEN"
            " CAST(((n11 + n00) * n - (n11 + n10) * (n11 + n01)"
            " - (n01 + n00) * (n10 + n00)) * 1000000"
            " DIV (n * n - (n11 + n10) * (n11 + n01)"
            " - (n01 + n00) * (n10 + n00)) AS BIGINT) END"
        ).alias("kappa_micro"),
    )


def mrr_eval(
    df: DataFrame,
    group_col: str,
    item_col: str,
    score_col: str,
    rel_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Per-group MRR@k (reciprocal rank of the FIRST relevant item in
    the predicted order) — the binary-relevance retrieval readout next
    to graded nDCG (c148): "how far down is the first right answer".

    Rank = row_number over (score desc, item asc) — the c148 tie rule,
    so both evals grade the identical ranking. Reciprocal rank is the
    exact integer ``1e6 DIV rank`` (micro-units); groups with no
    relevant item in the top k score 0 (the convention that makes MRR
    averageable).

    Returns (grp, n_retrieved, first_rel_rank, rr_micro);
    first_rel_rank is NULL when nothing relevant ranked.

    100 TB: ONE exchange on the group key feeds the rank window and
    both aggregates (Spark reuses the partitioning); per-group
    candidate lists are retrieval-sized (k·fanout), never corpus-sized.
    """
    from pyspark.sql.window import Window

    w_pred = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(item_col).asc()
    )
    scored = df.select(
        F.col(group_col).alias("grp"),
        F.col(rel_col).cast("long").alias("rel"),
        F.row_number().over(w_pred).alias("pos"),
    )
    first_rel = (
        scored.filter((F.col("rel") > 0) & (F.col("pos") <= k))
        .groupBy("grp")
        .agg(F.min("pos").cast("long").alias("first_rel_rank"))
    )
    base = scored.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_retrieved")
    )
    return base.join(first_rel, "grp", "left").select(
        "grp",
        "n_retrieved",
        "first_rel_rank",
        F.coalesce(
            F.expr("CAST(1000000 DIV first_rel_rank AS BIGINT)"),
            F.lit(0).cast("long"),
        ).alias("rr_micro"),
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    trim_milli: int = 50,
) -> DataFrame:
    """Exact per-group trimmed mean: drop the lowest and highest
    ``trim_milli``/1000 fraction of ROWS (by count, not value mass)
    and average the rest — the robust aggregate between the plain mean
    (outlier-hostile) and the median (throws away too much), standard
    for latency/revenue metrics.

    Exact integer rule: with per-(group, value) counts and inclusive
    prefix counts ``cum_n``, a value's kept multiplicity is the
    overlap of its rank interval ``(cum_n − n, cum_n]`` with the kept
    band ``(lo, hi]`` where ``lo = floor(n_g·trim/1000)``,
    ``hi = n_g − lo`` — well-defined under ties because equal values
    are interchangeable. Reported as ``mean_micro = Σ v·kept · 1e6
    DIV (hi − lo)``; groups whose band is empty emit NULL.

    Returns (grp, n, lo_cut, hi_cut, mean_micro).

    100 TB: ONE hash aggregate to the distinct (group, value) table,
    prefix counts via :func:`..operators.sampling.grouped_cumsum`
    (range-partition + broadcast span offsets — a continuous metric's
    value table is corpus-sized and one group may hold everything; no
    per-group single-task window), then ONE aggregate back to group
    cardinality. Overflow: Σ v·kept ≤ n·v_max — cents-scale metrics
    exact past 1e9 rows.
    """
    if not 0 <= trim_milli < 500:
        raise ValueError(f"trim_milli must be in [0, 500), got {trim_milli}")
    from .sampling import grouped_cumsum

    per_value = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("grp", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # NOT persisted (measured, r16): grouped_cumsum already persists its
    # range-partitioned base, so the two consumers (totals + kept-band
    # join) only re-run the offset join + window over that cache;
    # caching `cum` on top regressed c201 1.17 → 1.85 s at sf0.1.
    cum = grouped_cumsum(per_value, ["grp"], ["v"], ["n"])
    totals = cum.groupBy("grp").agg(F.max("n_cum").alias("n_tot"))
    j = cum.join(totals, "grp").select(
        "grp",
        "v",
        "n",
        "n_cum",
        "n_tot",
        F.expr(f"CAST(n_tot * {trim_milli} DIV 1000 AS BIGINT)").alias(
            "lo"
        ),
    )
    kept = j.select(
        "grp",
        "n_tot",
        "lo",
        (F.col("n_tot") - F.col("lo")).alias("hi"),
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.col("n_cum"), F.col("n_tot") - F.col("lo"))
            - F.greatest(F.col("n_cum") - F.col("n"), F.col("lo")),
        ).alias("kept_n"),
        F.col("v"),
    )
    agg = kept.groupBy("grp").agg(
        F.first("n_tot").alias("n"),
        F.first("lo").alias("lo_cut"),
        F.first("hi").alias("hi_cut"),
        F.sum(F.col("v") * F.col("kept_n")).alias("ksum"),
        F.sum("kept_n").alias("kn"),
    )
    return agg.select(
        "grp",
        "n",
        "lo_cut",
        "hi_cut",
        F.when(
            F.col("kn") > 0,
            F.expr("CAST(ksum * 1000000 DIV kn AS BIGINT)"),
        ).alias("mean_micro"),
    )


def fisher_scores(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    *,
    quant: int = 1000,
) -> DataFrame:
    """Fisher discriminant score per embedding DIMENSION — which
    coordinates separate the classes: between-class scatter over
    within-class scatter, the classic filter-style feature ranking
    for labeled embeddings (the embedding-space sibling of c172's
    mutual information over discrete features).

    All-integer contract: coordinates quantize to ``quant`` units
    (milli by default), and with per-(label, dim) sufficient stats
    (n_l, S_l = Σq, and per-dim SS = Σq²):

        T   = Σ_l (S_l² DIV n_l)          (exact BIGINT floors)
        B_q = T − S² DIV n                (between, quantized)
        W_q = SS − T                      (within, quantized)
        fisher_micro = B_q · 1e6 DIV W_q  (NULL when W_q ≤ 0)

    The DIV floors ARE the contract (replayable in any engine);
    overflow bound, documented: S_l² < 2⁶³ needs n_l·|q̄| < 3e9 —
    at milli quantization of unit-scale embeddings that is ~1e7 rows
    per label; quantize coarser and shard labels beyond.

    Returns (dim, n, between_q, within_q, fisher_micro) sorted by dim.

    100 TB: ONE aggregate over the posexploded (label, dim, q) stream
    — map-side partials bound the shuffle by labels×dims — then a
    labels×dims → dims fold; nothing is collected.
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * quant).cast("long"),
    )
    exploded = df.select(
        F.col(label_col).alias("lbl"), F.posexplode(q).alias("dim", "q")
    )
    per_label = exploded.groupBy("lbl", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_l"),
        F.sum("q").alias("s_l"),
        F.sum(F.col("q") * F.col("q")).alias("ss_l"),
    )
    per_dim = per_label.groupBy("dim").agg(
        F.sum("n_l").cast("long").alias("n"),
        F.sum("s_l").alias("s"),
        F.sum("ss_l").alias("ss"),
        F.sum(F.expr("s_l * s_l DIV n_l")).alias("t"),
    )
    return per_dim.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        F.expr("t - s * s DIV n").cast("long").alias("between_q"),
        (F.col("ss") - F.col("t")).cast("long").alias("within_q"),
        F.expr(
            "CASE WHEN ss - t > 0 THEN CAST((t - s * s DIV n) * 1000000"
            " DIV (ss - t) AS BIGINT) END"
        ).alias("fisher_micro"),
    ).orderBy("dim")


def knn_label_agreement(
    emb: DataFrame,
    query_pred: Column,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Label-noise audit by neighborhood agreement: for each audited
    vector, the fraction of its ``k`` cosine-nearest reference
    neighbors sharing its label — the confident-learning-style "this
    label disagrees with its neighborhood" screen a labeled corpus
    needs before training (low agreement = candidate mislabel, the
    QA sibling of c144's label-transfer vote).

    Rows matching ``query_pred`` are audited against the remaining
    reference corpus (the c144 split semantics — an audited row's
    neighbors never include other audited rows; stated). Composes the
    same candidate stage as every ANN entry
    (:func:`..operators.similarity.brute_force_topk` here as the
    exactness anchor; ivf/lsh swap in at 100 TB with the agreement
    unchanged). Exact integer agreement: ``n_same * 1e6 DIV k_found``.

    Returns (vec_id, label, k_found, n_same, agree_micro) — k_found
    < k only when the reference corpus is smaller than k.

    100 TB: the agreement table is queries-sized; the corpus moves
    only through the ANN candidate stage.
    """
    from .similarity import brute_force_topk

    queries = emb.filter(query_pred)
    ref = emb.filter(~query_pred)
    nb = brute_force_topk(ref, queries, id_col=id_col, vec_col=vec_col, k=k)
    lab = ref.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("nb_label"),
    )
    qlab = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("label")
    )
    return (
        nb.join(lab, "neighbor_id")
        .join(qlab, "query_id")
        .groupBy(F.col("query_id").alias(id_col), "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_found"),
            F.sum(
                (F.col("nb_label") == F.col("label")).cast("long")
            ).alias("n_same"),
        )
        .select(
            id_col,
            "label",
            "k_found",
            "n_same",
            F.expr("CAST(n_same * 1000000 DIV k_found AS BIGINT)").alias(
                "agree_micro"
            ),
        )
    )


def _km_step(s, n_risk, d):
    """One Kaplan-Meier fold step: ``floor(s * (n_risk - d) / n_risk)``
    with non-negative inputs, exact in decimal(38,0) (r12 advisor): the
    long-arithmetic form ``(num - num % n) / n`` divides as DOUBLE, so
    once the product exceeds 2^53 (n_risk above ~9e9 at s = 1e6 — the
    100 TB cohort sizes the docstring targets) the result could drift
    by a few micros and break the bit-exact replay contract; the long
    PRODUCT itself would overflow at n_risk ~9.2e12. decimal(38,0)
    holds s * n_risk exactly for any long n_risk, and the final value
    is ≤ s ≤ 1e6 so the cast back to long is exact."""
    num = s.cast("decimal(38,0)") * (n_risk - d).cast("decimal(38,0)")
    n_dec = n_risk.cast("decimal(38,0)")
    return ((num - num % n_dec) / n_dec).cast("long")


def kaplan_meier(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival estimate per group — time-to-event
    analytics (retention curves, churn timing, time-to-conversion)
    with right-censoring done honestly: subjects who never convert
    leave the risk set at their censoring time instead of polluting
    the denominator forever.

    Input is one row per subject: (group, duration, event) with
    ``event`` 1 = the event happened at ``duration``, 0 = censored
    then. Per distinct duration t: d_t events, n_t at risk (everyone
    with duration ≥ t), and the estimator

        S(t) = Π_{s ≤ t} (n_s − d_s) / n_s

    carried as the INTEGER micro recurrence ``S ← S·(n−d) DIV n``
    from S = 1e6 — each step floors, so the whole curve replays
    bit-exactly in any engine (the stated quantization: ≤ 1 micro of
    drift per step, the c131/ewma_fold contract). Returns
    (grp, t, n_risk, d, s_micro), one row per distinct duration with
    at least one event or censor.

    100 TB: the subject table collapses to a per-(group, duration)
    DAY table in ONE hash aggregate (map-side partials); the risk-set
    cumulative and the survival fold both run on that metadata-sized
    table (the c161 days-table discipline — documented bound), the
    fold itself a JVM-side ``aggregate`` over each group's collected
    day array. Nothing subject-sized shuffles twice.
    """
    from pyspark.sql.window import Window

    day = df.groupBy(
        F.col(group_col).alias("grp"),
        F.col(duration_col).cast("long").alias("t"),
    ).agg(
        F.sum(F.col(event_col).cast("long")).alias("d"),
        F.count(F.lit(1)).cast("long").alias("leave"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = Window.partitionBy("grp")
    risk = day.select(
        "grp",
        "t",
        "d",
        (
            F.sum("leave").over(tot)
            - F.coalesce(F.sum("leave").over(w), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("t"), F.col("n_risk"), F.col("d")))
    )
    folded = risk.groupBy("grp").agg(arr.alias("_days"))
    def _next_s(acc, e):
        return _km_step(acc["s"], e["n_risk"], e["d"])

    steps = F.aggregate(
        F.col("_days"),
        F.struct(
            F.lit(1_000_000).cast("long").alias("s"),
            F.expr(
                "CAST(array() AS "
                "array<struct<t:bigint,n_risk:bigint,d:bigint,"
                "s_micro:bigint>>)"
            ).alias("rows"),
        ),
        lambda acc, e: F.struct(
            _next_s(acc, e).alias("s"),
            F.array_append(
                acc["rows"],
                F.struct(
                    e["t"].alias("t"),
                    e["n_risk"].alias("n_risk"),
                    e["d"].alias("d"),
                    _next_s(acc, e).alias("s_micro"),
                ),
            ).alias("rows"),
        ),
    )
    out = folded.select("grp", F.explode(steps["rows"]).alias("r")).select(
        "grp",
        F.col("r.t").alias("t"),
        F.col("r.n_risk").alias("n_risk"),
        F.col("r.d").alias("d"),
        F.col("r.s_micro").alias("s_micro"),
    )
    return out


def logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Log-rank test between exactly TWO survival curves — the
    significance companion of :func:`kaplan_meier` ("are these two
    cohorts' time-to-event distributions different", the survival
    sibling of c177/c183). Standard Mantel-Haenszel form over the
    pooled event days:

        O₁−E₁ = Σ_t (d₁ₜ − Dₜ·n₁ₜ/Nₜ)
        V     = Σ_t Dₜ·(n₁ₜ/Nₜ)·(n₂ₜ/Nₜ)·(Nₜ−Dₜ)/(Nₜ−1)
        χ²    = (O₁−E₁)² / V

    Quantization contract: E₁'s per-day term is the exact BIGINT
    ``Dₜ·n₁ₜ·1e6 DIV Nₜ``; V's per-day term is one fixed-IEEE double
    expression over exact BIGINTs ROUNDed to micro — both then SUM as
    exact integers, so the statistic replays bit-exactly. χ² is
    reported in micro-units; α=0.05 critical value 3.841 (1 df) gives
    the reject flag. Multi-arm inputs raise (the srm/ks contract).

    Returns ONE row: (n1, n2, o1, e1_micro, v_micro, chi2_micro,
    reject).

    100 TB: the subject table collapses to a per-(group, day) table
    in ONE aggregate; risk sets are cumulative sums on that
    metadata-sized days table (c161 discipline); ONE tiny aggregate
    folds the day terms.
    """
    from pyspark.sql.window import Window

    _require_two_arms(df, group_col, "log-rank test")
    arms = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col).collect()
    ]
    lo, hi = arms
    day = df.groupBy(F.col(duration_col).cast("long").alias("t")).agg(
        F.sum(
            F.when(F.col(group_col) == lo, F.col(event_col).cast("long"))
            .otherwise(0)
        ).alias("d1"),
        F.sum(
            F.when(F.col(group_col) == hi, F.col(event_col).cast("long"))
            .otherwise(0)
        ).alias("d2"),
        F.sum(
            F.when(F.col(group_col) == lo, 1).otherwise(0).cast("long")
        ).alias("l1"),
        F.sum(
            F.when(F.col(group_col) == hi, 1).otherwise(0).cast("long")
        ).alias("l2"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot = Window.partitionBy()
    # days-sized table: the partition-less windows here run over the
    # distinct DURATION table (c161 discipline — durations are days,
    # not corpus rows; continuous-duration callers bucket first)
    risk = day.select(
        "t",
        "d1",
        "d2",
        (
            F.sum("l1").over(tot) - F.coalesce(F.sum("l1").over(w), F.lit(0))
        ).alias("n1t"),
        (
            F.sum("l2").over(tot) - F.coalesce(F.sum("l2").over(w), F.lit(0))
        ).alias("n2t"),
    ).filter((F.col("d1") + F.col("d2")) > 0)
    terms = risk.select(
        "d1",
        F.expr(
            "CAST((d1 + d2) * n1t * 1000000 DIV (n1t + n2t) AS BIGINT)"
        ).alias("e1_t_micro"),
        F.when(
            (F.col("n1t") + F.col("n2t")) > 1,
            F.round(
                (F.col("d1") + F.col("d2")).cast("double")
                * F.col("n1t").cast("double")
                * F.col("n2t").cast("double")
                * (
                    F.col("n1t") + F.col("n2t") - F.col("d1") - F.col("d2")
                ).cast("double")
                / (
                    (F.col("n1t") + F.col("n2t")).cast("double")
                    * (F.col("n1t") + F.col("n2t")).cast("double")
                    * (F.col("n1t") + F.col("n2t") - 1).cast("double")
                )
                * 1e6
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("v_t_micro"),
    )
    counts = df.groupBy().agg(
        F.sum((F.col(group_col) == lo).cast("long")).alias("n1"),
        F.sum((F.col(group_col) == hi).cast("long")).alias("n2"),
    )
    agg = terms.groupBy().agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_t_micro").cast("long").alias("e1_micro"),
        F.sum("v_t_micro").cast("long").alias("v_micro"),
    )
    return counts.crossJoin(agg).select(
        "n1",
        "n2",
        "o1",
        "e1_micro",
        "v_micro",
        F.when(
            F.col("v_micro") > 0,
            F.round(
                (
                    F.col("o1").cast("double")
                    - F.col("e1_micro").cast("double") / 1e6
                )
                * (
                    F.col("o1").cast("double")
                    - F.col("e1_micro").cast("double") / 1e6
                )
                / (F.col("v_micro").cast("double") / 1e6)
                * 1e6
            ).cast("long"),
        ).alias("chi2_micro"),
    ).withColumn(
        "reject",
        F.coalesce(F.col("chi2_micro") >= 3_841_000, F.lit(False)),
    )


def rmst(
    km: DataFrame,
    *,
    horizon: int,
) -> DataFrame:
    """Restricted mean survival time at horizon τ — the area under
    the :func:`kaplan_meier` step curve up to τ, the single-number
    summary clinicians and growth teams quote ("average conversion-
    free days in the first 30"): with curve steps (t_i, S_i),

        RMST(τ) = 1·min(t₁, τ) + Σ_i S_i · (min(t_{i+1}, τ) − t_i)⁺

    — survival is 1 before the first event day and S_i on
    [t_i, t_{i+1}). All-integer over the micro-quantized curve:
    ``rmst_micro_days = Σ S_micro · width``. Takes c207's output
    (grp, t, n_risk, d, s_micro); returns ONE row per group
    (grp, horizon, rmst_micro_days).

    100 TB: one lead() window over the metadata-sized curve table
    (days per group) and one aggregate — nothing subject-sized.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("grp").orderBy("t")
    stepped = km.select(
        "grp",
        "t",
        "s_micro",
        F.lead("t").over(w).alias("t_next"),
        F.row_number().over(w).alias("_rn"),
    )
    width = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.coalesce(F.col("t_next"), F.lit(horizon).cast("long")),
            F.lit(horizon).cast("long"),
        )
        - F.col("t"),
    )
    head = F.when(
        F.col("_rn") == 1,
        F.lit(1_000_000).cast("long")
        * F.least(F.col("t"), F.lit(horizon).cast("long")),
    ).otherwise(F.lit(0).cast("long"))
    return (
        stepped.groupBy("grp")
        .agg(
            F.sum(head + F.col("s_micro") * width)
            .cast("long")
            .alias("rmst_micro_days")
        )
        .select(
            "grp",
            F.lit(horizon).cast("long").alias("horizon"),
            "rmst_micro_days",
        )
    )
