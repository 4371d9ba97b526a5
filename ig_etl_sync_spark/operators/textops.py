"""Text analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
inside whole-stage codegen) — no Python executes per row. Every operator
is an expression factory (Column in, Column out) so Catalyst can fuse
them into one projection over the scan; the ``documents`` table helpers
compose them into DataFrames.

Cross-engine determinism note: hashes that must match a DuckDB oracle
use md5 (identical hex output in both engines); engine-internal hashes
use ``xxhash64`` (faster, 64-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Small public stopword sets for the n-gram/stopword language heuristic.
#: (Top function words; public knowledge, any list would do.)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "de", "que", "los", "una", "es", "por", "con", "para"),
}

_TOKEN_SPLIT = r"\s+"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# -- tokenization -----------------------------------------------------

def tokens(text: str | Column) -> Column:
    """Whitespace tokenization of trimmed text → array<string>.

    Empty text yields an empty array (split of '' returns [''], which we
    filter) so downstream ``size`` is 0, not 1.
    """
    arr = F.split(F.trim(_c(text)), _TOKEN_SPLIT)
    return F.filter(arr, lambda t: t != F.lit(""))


def token_count(text: str | Column) -> Column:
    """Whitespace token count (the "wc -w" definition)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: str | Column) -> Column:
    """BPE-ish subword count: word-boundary pieces + isolated punctuation,
    the standard cheap proxy for LLM token budgeting (≈ GPT-style regex
    pre-tokenization). One regexp_count, JVM-side."""
    return F.regexp_count(_c(text), F.lit(r"\w+|[^\w\s]"))


# -- quality scoring --------------------------------------------------

def alpha_ratio(text: str | Column) -> Column:
    """Fraction of characters that are ASCII letters."""
    t = _c(text)
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        F.regexp_count(t, F.lit(r"[A-Za-z]")).cast("double") / F.length(t)
    )


def punct_ratio(text: str | Column) -> Column:
    t = _c(text)
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        F.regexp_count(t, F.lit(r"[.,;:!?'\"()\[\]{}-]")).cast("double") / F.length(t)
    )


def stopword_ratio(text: str | Column, lang: str = "en") -> Column:
    """Fraction of tokens that are (lowercased) stopwords — a cheap
    fluency signal: natural prose has ~0.3-0.5, keyword spam ~0."""
    words = STOPWORDS[lang]
    toks = tokens(F.lower(_c(text)))
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n)


# -- language identification -----------------------------------------

def lang_id(text: str | Column) -> Column:
    """Stopword-vote language ID over the STOPWORDS table.

    Scores each language by stopword hits in the (lowercased) token
    stream and returns the argmax, 'und' (undetermined) when no hits.
    Pure expressions → one projection, no shuffle, no UDF.
    """
    toks = tokens(F.lower(_c(text)))

    def _member(words):  # HOF lambdas must be unary: close over, no defaults
        return lambda t: t.isin(*words)

    scores = [
        (lang, F.size(F.filter(toks, _member(words))))
        for lang, words in STOPWORDS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # argmax with first-lang-wins tiebreak, in declaration order
    for lang, score in reversed(scores):
        result = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(
            result
        )
    return result


# -- fingerprinting ---------------------------------------------------

def normalized_text(text: str | Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip punctuation."""
    t = F.lower(F.trim(_c(text)))
    t = F.regexp_replace(t, r"[^\w\s]", "")
    return F.regexp_replace(t, r"\s+", " ")


def fingerprint_md5(text: str | Column) -> Column:
    """Whole-document fingerprint of normalized text (md5 hex, identical
    in DuckDB for oracle checks)."""
    return F.md5(normalized_text(text))


def word_shingles(text: str | Column, k: int = 5) -> Column:
    """Array of word k-shingles of the normalized text (the unit for
    minhash / rolling fingerprints). Documents shorter than k words get
    one shingle = the whole text.

    Built by a DOUBLING zip_with chain (g_2m[i] = g_m[i] ⊔ g_m[i+m]
    over top-level slices, composed along k's binary decomposition) —
    never ``transform(sequence, i -> slice(toks, i, k))``: the
    tokenize expression inlines into that lambda and re-evaluates once
    PER SHINGLE (the element_at/DSIR trap, measured 1.9–3× on the
    shingle explode at sf0.1), while top-level slices are CSE'd once
    per row. Output is expression-for-expression identical to the
    naive form (equality-tested in tests/test_textops.py).
    """
    toks = tokens(normalized_text(text))
    n = F.size(toks)
    grams = doubling_shingles(toks, n, k, " ")
    return F.when(n <= k, F.array(F.concat_ws(" ", toks))).otherwise(grams)


def doubling_shingles(
    arr: Column, n: Column, k: int, sep: str
) -> Column:
    """All length-``k`` runs of adjacent elements of ``arr`` (size
    ``n``), each joined with ``sep`` — the doubling zip_with chain
    shared by :func:`word_shingles` (words, sep=' ') and the char-gram
    builder in :mod:`~ig_etl_sync_spark.operators.spans` (chars,
    sep=''). See :func:`word_shingles` for why this form and never
    ``transform(sequence, i -> slice(arr, i, k))``. Returns an empty
    array when n < k — callers handle the short-input convention."""

    def pair(a: Column, b: Column, shift: int, span: int) -> Column:
        # g[i] = a[i] ⊔ b[i+shift]; result spans `span` elements
        ln = F.greatest(n - F.lit(span) + F.lit(1), F.lit(0))
        return F.zip_with(
            F.slice(a, 1, ln),
            F.slice(b, shift + 1, ln),
            lambda x, y: F.concat_ws(sep, x, y),
        )

    pows: dict[int, Column] = {1: arr}
    m = 1
    while m * 2 <= k:
        pows[2 * m] = pair(pows[m], pows[m], m, 2 * m)
        m *= 2
    grams: Column | None = None
    off = 0
    rem = k
    for p in sorted(pows, reverse=True):
        while p <= rem:
            grams = (
                pows[p]
                if grams is None
                else pair(grams, pows[p], off, off + p)
            )
            off += p
            rem -= p
    return grams


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signals per document: type-token ratio,
    most-frequent-word fraction, most-frequent-bigram fraction (the
    filters that catch boilerplate/spam which length and alpha-ratio
    gates miss — Rae et al. 2021 §A1.1 repetition heuristics).

    Output: ``id_col, ttr, max_word_ratio, top_bigram_ratio`` (4dp).

    Shape: ``posexplode`` the token array ONCE, then everything is
    partial-agg groupBys on (doc, term). TTR and modal-word share one
    aggregation chain (distinct-token count = row count of the word
    groupBy). Bigrams come from ``lag`` over (doc, pos) — NOT from an
    array ``transform`` with indexing: Catalyst's CollapseProject
    inlines the tokenizer split into every ``_toks[i]`` access, turning
    an n-token doc into n re-splits (O(n²)/row, measured 20×+ here —
    the same trap minhash_signatures documents). Docs with < 2 tokens
    have no bigrams: top_bigram_ratio = 0.0 by convention; empty docs
    are preserved via left join from the id spine with 0.0 ratios.
    """
    ids = df.select(F.col(id_col))
    base = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("_pos", "_t"),
    )
    wcounts = base.groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("_c"))
    word_stats = wcounts.groupBy(id_col).agg(
        (F.count(F.lit(1)).cast("double") / F.sum("_c")).alias("_ttr"),
        (F.max("_c").cast("double") / F.sum("_c")).alias("_max_word"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    bg = (
        base.withColumn("_prev", F.lag("_t").over(w))
        .where(F.col("_prev").isNotNull())
        .select(id_col, F.concat_ws(" ", "_prev", "_t").alias("_t"))
    )
    bg_stats = (
        bg.groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg((F.max("_c").cast("double") / F.sum("_c")).alias("_top_bigram"))
    )
    return (
        ids.join(word_stats, id_col, "left")
        .join(bg_stats, id_col, "left")
        .select(
            id_col,
            F.round(F.coalesce("_ttr", F.lit(0.0)), 4).alias("ttr"),
            F.round(F.coalesce("_max_word", F.lit(0.0)), 4).alias("max_word_ratio"),
            F.round(F.coalesce("_top_bigram", F.lit(0.0)), 4).alias(
                "top_bigram_ratio"
            ),
        )
    )


# -- PII scrubbing ----------------------------------------------------
#
# Patterns deliberately stay in the common subset of Java regex and
# RE2 (no lookaround, no backrefs) so the scrub is replayable by
# external engines. Order matters: emails first (an address contains
# digit runs a phone pattern could claim), then IPs, then phones.

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d ().-]{7,}\d\b", "<PHONE>"),
)


def redact_pii(text: str | Column) -> Column:
    """Replace emails, IPv4 addresses, and phone-like digit runs with
    typed placeholder tokens — the scrub a training corpus runs before
    anything is retained. Pure JVM regexp_replace chain (hot-path
    safe); pattern order is part of the contract (see PII_PATTERNS)."""
    out = _c(text)
    for _name, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(text: str | Column) -> list[Column]:
    """Per-kind PII match counts (aliased n_email / n_ip / n_phone),
    counted on the PROGRESSIVELY redacted text exactly as redact_pii
    replaces — so counts and redaction always agree (an email's digit
    run can't be double-counted as a phone)."""
    cols = []
    cur = _c(text)
    for name, pat, token in PII_PATTERNS:
        cols.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, token)
    return cols


# -- Gopher-style composite quality rules -----------------------------
#
# The rule pack made standard by the Gopher / MassiveText data work
# (Rae et al. 2021, §A1.1 — public): documents fail on word-count
# bounds, degenerate word lengths, symbol spam, bullet/ellipsis line
# structure, non-alphabetic words, or missing stop words. Every rule
# here compares EXACT INTEGERS (cross-multiplied ratios, no float
# thresholds) so a SQL oracle replays bit-identically, and the whole
# pack fuses into one JVM projection over the scan.

#: (rule defaults) — named so callers and the oracle share one source.
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MAX_SYMBOL_PER_10_WORDS = 1       # symbols*10 <= words*1
GOPHER_MAX_BULLET_LINES_PER_10 = 9       # bullet_lines*10 <= lines*9
GOPHER_MAX_ELLIPSIS_LINES_PER_10 = 3     # ellipsis_lines*10 <= lines*3
GOPHER_MIN_ALPHA_WORDS_PER_10 = 8        # alpha_words*10 >= words*8
GOPHER_MIN_DISTINCT_STOPWORDS = 2


def gopher_quality_flags(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Gopher rule verdicts → one row per doc with the
    measured integers, each rule's boolean, and the composite
    ``passes``.

    Returns ``(doc_id, n_words BIGINT, n_lines BIGINT,
    f_word_count, f_mean_word_len, f_symbol_ratio, f_bullet_lines,
    f_ellipsis_lines, f_alpha_words, f_stopwords, passes BOOLEAN)``.

    Scale: one fused codegen projection, no shuffle, no Python —
    filter-pushdown-friendly (a downstream ``.where(passes)`` prunes at
    the scan).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks).cast("long")
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    lines = F.filter(F.split(t, F.lit("\n")), lambda ln: F.trim(ln) != F.lit(""))
    n_lines = F.size(lines).cast("long")
    n_symbols = (
        F.regexp_count(t, F.lit(r"#")) + F.regexp_count(t, F.lit(r"\.\.\."))
    ).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).rlike(r"\.\.\.$"))
    ).cast("long")
    n_alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike(r"[A-Za-z]"))
    ).cast("long")
    stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(
        F.array_intersect(F.array_distinct(tokens(F.lower(t))), stop)
    ).cast("long")
    base = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        word_chars.alias("_wc"),
        n_lines.alias("n_lines"),
        n_symbols.alias("_sym"),
        n_bullet.alias("_bul"),
        n_ellipsis.alias("_ell"),
        n_alpha_words.alias("_alw"),
        n_stop.alias("_nst"),
    )
    f_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    f_mwl = (
        (F.col("_wc") >= F.lit(GOPHER_MIN_MEAN_WORD_LEN) * F.col("n_words"))
        & (F.col("_wc") <= F.lit(GOPHER_MAX_MEAN_WORD_LEN) * F.col("n_words"))
    )
    f_sym = (
        F.col("_sym") * 10
        <= F.lit(GOPHER_MAX_SYMBOL_PER_10_WORDS) * F.col("n_words")
    )
    f_bul = (
        F.col("_bul") * 10
        <= F.lit(GOPHER_MAX_BULLET_LINES_PER_10) * F.col("n_lines")
    )
    f_ell = (
        F.col("_ell") * 10
        <= F.lit(GOPHER_MAX_ELLIPSIS_LINES_PER_10) * F.col("n_lines")
    )
    f_alw = (
        F.col("_alw") * 10
        >= F.lit(GOPHER_MIN_ALPHA_WORDS_PER_10) * F.col("n_words")
    )
    f_nst = F.col("_nst") >= GOPHER_MIN_DISTINCT_STOPWORDS
    return base.select(
        id_col,
        "n_words",
        "n_lines",
        f_wc.alias("f_word_count"),
        f_mwl.alias("f_mean_word_len"),
        f_sym.alias("f_symbol_ratio"),
        f_bul.alias("f_bullet_lines"),
        f_ell.alias("f_ellipsis_lines"),
        f_alw.alias("f_alpha_words"),
        f_nst.alias("f_stopwords"),
        (f_wc & f_mwl & f_sym & f_bul & f_ell & f_alw & f_nst).alias("passes"),
    )


# -- unigram surprisal (perplexity-proxy quality signal) --------------

def unigram_surprisal(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean unigram surprisal, EXACT in any engine: each
    token's surprisal is the integer ``floor(log2(N / tf))`` computed
    as ``length(bin(N div tf)) - 1`` (bit length of an exact BIGINT
    ratio — no float log anywhere), and the document score is the
    fixed-point mean ``sum(bits) * 1e6 div n_tokens``.

    The perplexity-proxy quality signal: rare-word-heavy documents
    (jargon, noise, other languages) score high, common-prose
    documents low — the standard cheap stand-in for an LM-based
    filter when no model is in the loop.

    Returns ``(doc_id, n_tokens BIGINT, surprisal_ppm BIGINT)`` for
    documents with at least one token.

    Scale: one explode + one term-count partial agg (vocabulary-sized
    output, broadcast back onto the exploded frame), one doc-keyed
    agg. The corpus shuffles once on the term and once on the doc id.
    """
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    ex = docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col),
        F.explode(tokens(normalized_text(F.col(text_col)))).alias("term"),
    )
    tf = ex.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("_tf"))
    total = tf.agg(F.sum("_tf").cast("long").alias("_N"))
    scored = (
        ex.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (F.length(F.bin(F.expr("_N div _tf"))) - F.lit(1))
            .cast("long")
            .alias("_bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.expr("sum(_bits) * 1000000 div count(1)").cast("long").alias(
            "surprisal_ppm"
        ),
    )


def bigram_surprisal(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean BIGRAM cross-entropy under the corpus's own
    add-one-smoothed bigram LM — the CCNet-style "LM perplexity"
    quality filter (Wenzek et al. 2020) with the corpus itself as the
    model, kept EXACT in any engine by the repo's float-free log2
    discipline (X53): each bigram's surprisal is

        bits = bitlen((c1(w1) + V) div (c2(w1,w2) + 1))

    where ``c2`` is the corpus bigram count, ``c1(w1) = Σ_b c2(w1,b)``
    the context count, ``V`` the unigram vocabulary size, and
    ``bitlen(x) = length(bin(x)) - 1 = floor(log2 x)`` (the argument is
    >= 1 since c1 >= c2). Unlike the unigram form, repeated word-SALAD
    scores high here even when each word is common — the signal an
    order-blind model cannot see.

    Returns ``(doc_id, n_bigrams BIGINT, bigram_surprisal_ppm BIGINT)``
    for documents with >= 2 tokens, where ``bigram_surprisal_ppm =
    sum(bits) * 1e6 div n_bigrams``.

    Scale: tokenize once (checkpointed against the vocab/bigram
    two-branch diamond), bigrams via the slice+zip_with pairing (never
    element_at inside the lambda — the DSIR rule), one explode; the
    bigram-type and context-count tables broadcast back (vocabulary-
    bounded), and the corpus shuffles once on the doc id for the score
    sum. No float log, no Python.
    """
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    t = (
        docs.repartition(n_parts, F.col(id_col))
        .select(
            F.col(id_col),
            tokens(normalized_text(F.col(text_col))).alias("_t"),
        )
        .localCheckpoint(eager=False)  # vocab branch + bigram branch
    )
    vocab = t.select(F.explode("_t").alias("_w")).agg(
        F.countDistinct("_w").cast("long").alias("_V")
    )
    sz = F.size(F.col("_t"))
    ln = F.greatest(sz - F.lit(1), F.lit(0))
    bg = t.select(
        F.col(id_col),
        F.zip_with(
            F.slice(F.col("_t"), 1, ln),
            F.slice(F.col("_t"), 2, ln),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ).alias("_bg"),
    )
    ex = (
        bg.select(id_col, F.explode("_bg").alias("_b"))
        .select(
            id_col,
            F.col("_b.w1").alias("_w1"),
            F.col("_b.w2").alias("_w2"),
        )
        .localCheckpoint(eager=False)  # c2 agg + c1 agg + score join
    )
    c2 = ex.groupBy("_w1", "_w2").agg(
        F.count(F.lit(1)).cast("long").alias("_c2")
    )
    c1 = ex.groupBy("_w1").agg(F.count(F.lit(1)).cast("long").alias("_c1"))
    scored = (
        ex.join(F.broadcast(c2), ["_w1", "_w2"])
        .join(F.broadcast(c1), ["_w1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            (F.length(F.bin(F.expr("(_c1 + _V) div (_c2 + 1)"))) - F.lit(1))
            .cast("long")
            .alias("_bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(_bits) * 1000000 div count(1)").cast("long").alias(
            "bigram_surprisal_ppm"
        ),
    )


def backoff_surprisal(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam_num: int = 3,
    lam_den: int = 4,
) -> DataFrame:
    """Per-document cross-entropy under an INTERPOLATED bigram→unigram
    backoff LM (Jelinek-Mercer mixture — the KenLM-shape smoothed
    n-gram model CCNet's gate actually uses, where X74 is add-one):

        p(w2 | w1) = λ·c2(w1,w2)/c1(w1) + (1-λ)·tf(w2)/N

    kept EXACT in any engine by the repo's float-free discipline: with
    λ = lam_num/lam_den rational, each bigram's surprisal is the
    floor-log2 of the reciprocal mixture computed on CROSS-MULTIPLIED
    integers —

        bits = bitlen( (lam_den·c1·N) div
                       (lam_num·c2·N + (lam_den-lam_num)·c1·tf) ) - 1

    (the argument is >= 1 since the mixture is a convex combination of
    probabilities). No float log, no float division, no threshold drift
    between Spark and DuckDB.

    Unlike the add-one form, the mixture degrades gracefully on rare
    CONTEXTS (a once-seen w1 backs off to the unigram term instead of
    exploding the add-one denominator) and exposes the λ dial the
    smoothing-sensitivity tests pin: λ→1 trusts word order (unique
    orderings of common words score high), λ→0 reduces to the unigram
    model (order-blind).

    Returns ``(doc_id, n_bigrams BIGINT, backoff_surprisal_ppm
    BIGINT)`` for documents with >= 2 tokens.

    Scale: the X74 plan plus one unigram-count broadcast —
    tokenize once (checkpointed against the three consuming branches),
    bigrams via slice+zip_with, count tables broadcast back. Exactness
    bound: BIGINT cross-multiplication needs lam_den·c1·N < 2^63 —
    fine to ~10^9-token corpora per model shard; beyond that, shard
    the LM per partition or move the mixture to DECIMAL(38,0).
    """
    if not (0 < lam_num < lam_den):
        raise ValueError(
            f"lambda = {lam_num}/{lam_den} must lie strictly in (0, 1)"
        )
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    t = (
        docs.repartition(n_parts, F.col(id_col))
        .select(
            F.col(id_col),
            tokens(normalized_text(F.col(text_col))).alias("_t"),
        )
        .localCheckpoint(eager=False)  # unigram + bigram branches
    )
    exu = t.select(F.explode("_t").alias("_w"))
    tf = exu.groupBy("_w").agg(F.count(F.lit(1)).cast("long").alias("_tf"))
    total = tf.agg(F.sum("_tf").cast("long").alias("_N"))
    sz = F.size(F.col("_t"))
    ln = F.greatest(sz - F.lit(1), F.lit(0))
    bg = t.select(
        F.col(id_col),
        F.zip_with(
            F.slice(F.col("_t"), 1, ln),
            F.slice(F.col("_t"), 2, ln),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ).alias("_bg"),
    )
    ex = (
        bg.select(id_col, F.explode("_bg").alias("_b"))
        .select(
            id_col,
            F.col("_b.w1").alias("_w1"),
            F.col("_b.w2").alias("_w2"),
        )
        .localCheckpoint(eager=False)  # c2 agg + c1 agg + score join
    )
    c2 = ex.groupBy("_w1", "_w2").agg(
        F.count(F.lit(1)).cast("long").alias("_c2")
    )
    c1 = ex.groupBy("_w1").agg(F.count(F.lit(1)).cast("long").alias("_c1"))
    mix = (
        f"({lam_den} * _c1 * _N) div "
        f"({lam_num} * _c2 * _N + {lam_den - lam_num} * _c1 * _tf)"
    )
    scored = (
        ex.join(F.broadcast(c2), ["_w1", "_w2"])
        .join(F.broadcast(c1), ["_w1"])
        .join(F.broadcast(tf), F.col("_w2") == F.col("_w"))
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (F.length(F.bin(F.expr(mix))) - F.lit(1))
            .cast("long")
            .alias("_bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(_bits) * 1000000 div count(1)").cast("long").alias(
            "backoff_surprisal_ppm"
        ),
    )


# -- C4-style line-level cleaning -------------------------------------
#
# The other canonical web-corpus rule pack (Raffel et al. 2020, §2.2 —
# public): C4 cleans at the LINE level (keep only lines that look like
# prose sentences) where Gopher judges whole documents. Both packs are
# structural — no model in the loop — and every predicate here is an
# exact string/integer test, so a SQL oracle replays it bit-for-bit.

#: C4 rule defaults — named so callers and the oracle share one source.
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3
#: a line is dropped when its lowercase form contains any of these
#: (the published "javascript" + boilerplate-policy phrases).
C4_LINE_DROP_PHRASES = (
    "javascript",
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
)
#: a whole document is dropped when its text contains any of these
#: ("lorem ipsum" placeholder text; "{" as the code heuristic).
C4_DOC_DROP_LOWER = ("lorem ipsum",)
C4_DOC_DROP_RAW = ("{",)


def c4_line_filters(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """C4 cleaning pass: keep the lines that end in terminal
    punctuation (``. ! ? "``), carry at least ``min_words_per_line``
    whitespace words, and contain none of the drop phrases; then judge
    the document (enough surviving lines, no "lorem ipsum", no
    ``{``).

    Returns one row per document:
    ``(doc_id, n_lines BIGINT, kept_lines BIGINT, kept_words BIGINT,
    f_no_lorem, f_no_brace, f_min_lines, keep BOOLEAN,
    clean_text STRING)`` where ``clean_text`` is the surviving lines
    re-joined with newlines ('' when nothing survives) — the actual
    transform output, not just a verdict.

    Scale: one fused JVM projection per doc (the line array is
    materialized ONCE in its own select — never co-projected with a
    consumer that would re-evaluate it), no shuffle, no Python.
    A downstream ``.where(keep)`` prunes at the scan.
    """
    t = F.col(text_col)
    lines = F.filter(
        F.split(t, F.lit("\n")), lambda ln: F.trim(ln) != F.lit("")
    )

    def _line_ok(ln: Column) -> Column:
        words = F.filter(
            F.split(F.trim(ln), F.lit(r"\s+")), lambda w: w != F.lit("")
        )
        ok = F.rtrim(ln).rlike(r'[.!?"]$') & (
            F.size(words) >= F.lit(min_words_per_line)
        )
        low = F.lower(ln)
        for phrase in C4_LINE_DROP_PHRASES:
            ok = ok & ~low.contains(phrase)
        return ok

    staged = docs.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.filter(lines, _line_ok).alias("_kept"),
        (~F.lower(t).contains(C4_DOC_DROP_LOWER[0])).alias("_f0"),
        (~t.contains(C4_DOC_DROP_RAW[0])).alias("_f1"),
    )
    kept_words = F.aggregate(
        F.col("_kept"),
        F.lit(0).cast("long"),
        lambda acc, ln: acc
        + F.size(
            F.filter(
                F.split(F.trim(ln), F.lit(r"\s+")), lambda w: w != F.lit("")
            )
        ),
    )
    f_lorem = F.col("_f0")
    f_brace = F.col("_f1")
    f_lines = F.size("_kept") >= F.lit(min_kept_lines)
    return staged.select(
        id_col,
        "n_lines",
        F.size("_kept").cast("long").alias("kept_lines"),
        kept_words.alias("kept_words"),
        f_lorem.alias("f_no_lorem"),
        f_brace.alias("f_no_brace"),
        f_lines.alias("f_min_lines"),
        (f_lorem & f_brace & f_lines).alias("keep"),
        F.array_join(F.col("_kept"), "\n").alias("clean_text"),
    )


def surprisal_buckets(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    score: str = "unigram",
) -> DataFrame:
    """X89: CCNet-style perplexity bucketing — per language, split the
    corpus into ``head`` / ``middle`` / ``tail`` terciles of the exact
    surprisal score (Wenzek et al. 2020: per-language
    perplexity terciles, head = most fluent; the standard first gate
    before LM-quality filtering). Assignment is BY VALUE, not by row
    rank: a document lands in ``head`` when the inclusive count of
    docs at-or-below its score satisfies ``3*c <= n`` (middle:
    ``3*c <= 2n``, else tail) — cross-multiplied exact integers, all
    same-scored docs share a bucket, replayable in any engine.

    Scale: the cumulative boundary relation lives on the per-(lang,
    score) VALUE distribution (vocabulary-of-values-sized, orders of
    magnitude below doc count) and broadcasts back onto docs; no
    per-language whole-corpus window ever forms.

    ``score``: the LM behind the buckets — ``"unigram"`` (X53's exact
    unigram surprisal, CCNet's cheap stand-in) or ``"backoff"`` (the
    interpolated bigram→unigram mixture of :func:`backoff_surprisal`,
    the KenLM-shape gate). Same bucketing machinery either way.

    Returns ``(group_col, bucket, n_docs BIGINT, mean_surprisal_ppm
    BIGINT)``.
    """
    a = surprisal_bucket_assignments(
        docs,
        id_col=id_col,
        text_col=text_col,
        group_col=group_col,
        score=score,
    )
    return a.groupBy(group_col, "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(surprisal_ppm) div count(*)")
        .cast("long")
        .alias("mean_surprisal_ppm"),
    )


def surprisal_bucket_assignments(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    score: str = "unigram",
) -> DataFrame:
    """Per-document tercile assignment behind :func:`surprisal_buckets`
    — the same by-VALUE boundary relation (vocabulary-of-values-sized,
    broadcast back; no per-group corpus window), returned at document
    grain so gates can consume the bucket directly (X108's ``lm_tail``
    rule). Returns ``(id_col, group_col, surprisal_ppm BIGINT,
    bucket)`` for documents the chosen score covers (>= 1 token for
    ``"unigram"``, >= 2 for ``"backoff"``)."""
    from pyspark.sql import Window

    if score == "unigram":
        s = unigram_surprisal(docs, id_col=id_col, text_col=text_col)
    elif score == "backoff":
        s = backoff_surprisal(docs, id_col=id_col, text_col=text_col).select(
            F.col(id_col),
            F.col("backoff_surprisal_ppm").alias("surprisal_ppm"),
        )
    else:
        raise ValueError(f"score={score!r} must be 'unigram' or 'backoff'")
    scored = s.join(
        docs.select(id_col, group_col), id_col
    ).select(id_col, group_col, "surprisal_ppm")
    # feeds the value counts and the assignment join
    scored = scored.localCheckpoint(eager=False)
    vc = scored.groupBy(group_col, "surprisal_ppm").agg(
        F.count(F.lit(1)).cast("long").alias("_vn")
    )
    wcum = (
        Window.partitionBy(group_col)
        .orderBy("surprisal_ppm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(group_col)
    bounds = vc.select(
        group_col,
        "surprisal_ppm",
        F.sum("_vn").over(wcum).cast("long").alias("_c"),
        F.sum("_vn").over(wtot).cast("long").alias("_n"),
    ).withColumn(
        "bucket",
        F.when(3 * F.col("_c") <= F.col("_n"), F.lit("head"))
        .when(3 * F.col("_c") <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return scored.join(
        F.broadcast(bounds.select(group_col, "surprisal_ppm", "bucket")),
        [group_col, "surprisal_ppm"],
    ).select(id_col, group_col, "surprisal_ppm", "bucket")


# -- Moore-Lewis contrastive data selection ---------------------------

def contrastive_lm_scores(
    docs: DataFrame,
    *,
    seed_col: str = "is_seed",
    id_col: str = "doc_id",
    text_col: str = "text",
    lam_num: int = 3,
    lam_den: int = 4,
) -> DataFrame:
    """X107: Moore-Lewis contrastive data selection (Moore & Lewis
    2010, "Intelligent Selection of Language Model Training Data") —
    score every pool document by the CROSS-ENTROPY DIFFERENCE between
    an in-domain seed LM and the general pool LM,

        ml_score = H_seed(doc) - H_pool(doc)

    and keep the lowest scores: documents the in-domain model finds
    easy RELATIVE to the general model, which filters out both
    generic boilerplate (easy under both) and noise (hard under both)
    that an absolute-perplexity gate mis-ranks.

    Both models are the X99 Jelinek-Mercer bigram→unigram mixture
    (:func:`backoff_surprisal`), trained here on two nested corpora in
    ONE counting pass via conditional aggregation (count(*) vs
    count_if(seed)). Because pool documents contain words/contexts the
    SEED never saw, both models smooth the unigram leg add-one over
    the shared pool vocabulary V — p_u(w) = (tf+1)/(N+V) — and a
    bigram whose context is absent from a model backs off fully to
    that model's unigram leg (no lambda penalty: there is no bigram
    estimate to mix). All arithmetic is the repo's exact-integer
    discipline — per-bigram bits under model m is

        seen c1_m>0: bitlen( lam_den*c1_m*D_m div
                     (lam_num*c2_m*D_m + (lam_den-lam_num)*c1_m*(tf_m+1)) )
        unseen:      bitlen( D_m div (tf_m+1) )

    with D_m = N_m + V and bitlen(x) = length(bin(x)) - 1; both
    arguments are >= 1 (the mixture is a convex combination of
    probabilities <= 1), so no float log or division anywhere and the
    DuckDB oracle replays bit-for-bit. Overflow bound (X99's):
    lam_den·c1·D < 2^63 — fine to ~10^9-token model shards.

    ``seed_col`` is a boolean column on ``docs`` marking the in-domain
    seed; seed documents are scored too (self-inclusively, like X99).
    An EMPTY seed degenerates gracefully (every context backs off to
    the add-one-over-V uniform leg) but selects nothing meaningful —
    callers own seed construction.

    Returns ``(doc_id, n_bigrams BIGINT, seed_surprisal_ppm BIGINT,
    pool_surprisal_ppm BIGINT, ml_score_ppm BIGINT)`` for documents
    with >= 2 tokens; select ascending by ``ml_score_ppm``.

    Scale: the X99 plan with doubled count columns — tokenize once
    (checkpointed against the unigram/bigram branches), bigrams via
    slice+zip_with (never element_at in a lambda), vocabulary-bounded
    count tables broadcast back, ONE corpus shuffle on the doc id for
    the score sums. Nothing here is quadratic or collected.
    """
    if not (0 < lam_num < lam_den):
        raise ValueError(
            f"lambda = {lam_num}/{lam_den} must lie strictly in (0, 1)"
        )
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    t = (
        docs.repartition(n_parts, F.col(id_col))
        .select(
            F.col(id_col),
            F.col(seed_col).cast("boolean").alias("_sd"),
            tokens(normalized_text(F.col(text_col))).alias("_t"),
        )
        .localCheckpoint(eager=False)  # unigram + bigram branches
    )
    exu = t.select(F.col("_sd"), F.explode("_t").alias("_w"))
    tf = exu.groupBy("_w").agg(
        F.count(F.lit(1)).cast("long").alias("_tfg"),
        F.sum(F.when(F.col("_sd"), 1).otherwise(0))
        .cast("long")
        .alias("_tfi"),
    )
    totals = tf.agg(
        F.sum("_tfg").cast("long").alias("_ng"),
        F.sum("_tfi").cast("long").alias("_ni"),
        F.count(F.lit(1)).cast("long").alias("_v"),
    )
    sz = F.size(F.col("_t"))
    ln = F.greatest(sz - F.lit(1), F.lit(0))
    bg = t.select(
        F.col(id_col),
        F.col("_sd"),
        F.zip_with(
            F.slice(F.col("_t"), 1, ln),
            F.slice(F.col("_t"), 2, ln),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ).alias("_bg"),
    )
    ex = (
        bg.select(id_col, "_sd", F.explode("_bg").alias("_b"))
        .select(
            id_col,
            F.col("_sd"),
            F.col("_b.w1").alias("_w1"),
            F.col("_b.w2").alias("_w2"),
        )
        .localCheckpoint(eager=False)  # c2 agg + c1 agg + score join
    )
    c2 = ex.groupBy("_w1", "_w2").agg(
        F.count(F.lit(1)).cast("long").alias("_c2g"),
        F.sum(F.when(F.col("_sd"), 1).otherwise(0))
        .cast("long")
        .alias("_c2i"),
    )
    c1 = ex.groupBy("_w1").agg(
        F.count(F.lit(1)).cast("long").alias("_c1g"),
        F.sum(F.when(F.col("_sd"), 1).otherwise(0))
        .cast("long")
        .alias("_c1i"),
    )
    ln_, ld, lr = lam_num, lam_den, lam_den - lam_num

    def _bits(c1c: str, c2c: str, tfc: str, nc: str) -> str:
        d = f"({nc} + _v)"
        mix = (
            f"({ld} * {c1c} * {d}) div "
            f"({ln_} * {c2c} * {d} + {lr} * {c1c} * ({tfc} + 1))"
        )
        uni = f"{d} div ({tfc} + 1)"
        return (
            f"length(bin(CASE WHEN {c1c} > 0 THEN {mix} ELSE {uni} END)) - 1"
        )

    scored = (
        ex.join(F.broadcast(c2), ["_w1", "_w2"])
        .join(F.broadcast(c1), ["_w1"])
        .join(F.broadcast(tf), F.col("_w2") == F.col("_w"))
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.expr(_bits("_c1i", "_c2i", "_tfi", "_ni"))
            .cast("long")
            .alias("_bi"),
            F.expr(_bits("_c1g", "_c2g", "_tfg", "_ng"))
            .cast("long")
            .alias("_bp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(_bi) * 1000000 div count(1)")
        .cast("long")
        .alias("seed_surprisal_ppm"),
        F.expr("sum(_bp) * 1000000 div count(1)")
        .cast("long")
        .alias("pool_surprisal_ppm"),
        F.expr(
            "sum(_bi) * 1000000 div count(1)"
            " - sum(_bp) * 1000000 div count(1)"
        )
        .cast("long")
        .alias("ml_score_ppm"),
    )
