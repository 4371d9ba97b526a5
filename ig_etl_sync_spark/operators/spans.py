"""Exact substring-span dedup — repeated k-token spans across a corpus.

The approximate family (``operators/dedup``: MinHash/SimHash) finds
near-duplicate *documents*; training pipelines also need the exact
complement (Lee et al., "Deduplicating Training Data Makes Language
Models Better", ACM 2022): verbatim SPANS repeated across otherwise
distinct documents (boilerplate, licenses, templated text). This module
finds every k-token span occurring in ≥ ``min_docs`` documents and
scores each document by how much of it is duplicated text.

Spark-first shape (a suffix array is inherently sequential; the
hash-grouping formulation is the distributed equivalent for fixed k):

1. ``doc_spans``: posexplode word k-shingles (reusing
   ``textops.word_shingles``) keyed by the span's md5 HEX — the full
   128-bit digest, NOT ``md5_int32``: at 10^10 spans a 32-bit key is
   guaranteed birthday-collision territory, 128-bit is not. The narrow
   (id, pos, span_md5) projection is what shuffles; span text never
   moves.
2. ONE explicit ``repartition(n, span_md5)`` of the exploded frame,
   which every span-keyed step then rides for free: the (span, doc)
   distinct, the frequency count, and the dup-join probe all require
   only distributions that hashpartitioning(span_md5) already
   satisfies (grouping keys ⊇ partitioning keys), so Catalyst inserts
   no further data-wide Exchange — verified in
   ``tests/test_spans.py::test_single_data_shuffle``. The remaining
   Exchanges move per-doc PARTIAL counts, never span rows.
3. ``span_dup_stats``: left-semi the partitioned spans against the
   ≥min_docs survivors, then one per-doc count.

Skew: a boilerplate span present in half the corpus makes one hot
span_md5 key. The (span, doc) ``distinct`` bounds the hot group at
n_docs rows, and the dup-join side only carries the span's distinct
doc list, so the skew ceiling is |docs|, not |occurrences|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.textops import word_shingles


def doc_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """(id, pos, span_md5) for every word k-span of every document.

    The doc scan is spread first (few-row-group parquet would pin the
    compute-bound shingle explode to ~2 cores — the repo
    scan-parallelism rule; measured 8× on the sf0.1 explode)."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(n, F.col(id_col)).select(
        F.col(id_col),
        F.posexplode(word_shingles(F.col(text_col), k)).alias("pos", "_span"),
    ).select(id_col, "pos", F.md5("_span").alias("span_md5"))


def _by_span(spans: DataFrame) -> DataFrame:
    """The one data-wide shuffle: explicit count (AQE would coalesce a
    byte-small shuffle to 1 partition, per the repo invariant)."""
    n = spans.sparkSession.sparkContext.defaultParallelism
    return spans.repartition(n, F.col("span_md5"))


def span_frequencies(spans: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per span: distinct-document count and total occurrence count.

    Two agg passes, no countDistinct expand. When ``spans`` is already
    partitioned by span_md5 (``_by_span``), neither pass adds an
    Exchange. The hot-span ceiling is |docs| rows per group (the
    (span, doc) dedup), never |occurrences|.
    """
    per_doc = spans.groupBy("span_md5", id_col).agg(
        F.count(F.lit(1)).alias("_occ")
    )
    return per_doc.groupBy("span_md5").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_occ").cast("bigint").alias("n_occ"),
    )


def span_dup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per document: total spans, spans duplicated across ≥min_docs
    docs, and the duplicated fraction — the Gopher-style gate for
    dropping boilerplate-heavy documents."""
    spans = _by_span(doc_spans(docs, id_col, text_col, k).drop("pos"))
    per_sd = spans.groupBy("span_md5", id_col).agg(
        F.count(F.lit(1)).alias("_occ")
    )
    freq = per_sd.groupBy("span_md5").agg(F.count(F.lit(1)).alias("n_docs"))
    # Linear re-join: per_sd and freq are both span-partitioned (the one
    # explicit repartition), so this join and both aggs above add no
    # data-wide Exchange; the two branches' exchange subtrees are
    # column-identical, so the shuffle itself is computed once
    # (ReusedExchange — asserted in tests).
    joined = per_sd.join(freq, "span_md5", "left")
    dup_occ = F.when(F.col("n_docs") >= min_docs, F.col("_occ")).otherwise(F.lit(0))
    return joined.groupBy(id_col).agg(
        F.sum("_occ").cast("bigint").alias("n_spans"),
        F.sum(dup_occ).cast("bigint").alias("n_dup_spans"),
        F.round(F.sum(dup_occ) / F.sum("_occ"), 6).alias("dup_ratio"),
    )


def duplicated_span_starts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Narrow ``(id, pos)`` relation of every k-span start whose span
    occurs in >= ``min_docs`` distinct documents — checkpointed ONCE
    (the span relation feeds both the frequency agg and the dup probe,
    and the start relation itself fans out in every consumer), so
    callers can branch on it freely."""
    spans = _by_span(doc_spans(docs, id_col, text_col, k))
    spans = spans.localCheckpoint(eager=False)  # freq + probe diamond
    freq = span_frequencies(spans, id_col).where(
        F.col("n_docs") >= min_docs
    )
    return (
        spans.join(freq.select("span_md5"), "span_md5")
        .select(id_col, "pos")
        .localCheckpoint(eager=False)
    )


def longest_dup_span(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Length (in tokens) of each document's LONGEST duplicated
    substring — the ExactSubstr statistic that decides cut-vs-drop
    policy (a 600-token verbatim license is different from scattered
    8-token collisions at the same coverage).

    A maximal duplicated substring of length m contributes exactly
    ``m - k + 1`` CONSECUTIVE duplicated k-span starts, so the length
    falls out of a gaps-and-islands pass over the duplicated-start
    relation: group consecutive positions (``pos - row_number()`` is
    constant within a run), each island's span is
    ``max(pos) - min(pos) + k``, clipped to the document (the short-
    doc whole-text shingle case). Returns one row per non-empty
    document: ``(doc_id, n_tokens BIGINT, longest_span_tokens
    BIGINT)`` — 0 when nothing is duplicated.

    Scale: the duplicated-start relation is output-linear and narrow;
    the islands window is one doc-keyed shuffle of ints.
    """
    from pyspark.sql import Window

    from ig_etl_sync_spark.operators.textops import normalized_text, tokens

    sizes = docs.select(
        F.col(id_col),
        F.size(tokens(normalized_text(F.col(text_col))))
        .cast("long")
        .alias("n_tokens"),
    )
    dstart = duplicated_span_starts(docs, id_col, text_col, k, min_docs)
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = dstart.select(
        id_col,
        F.col("pos"),
        (F.col("pos") - F.row_number().over(w)).alias("_grp"),
    )
    runs = islands.groupBy(id_col, "_grp").agg(
        (F.max("pos") - F.min("pos") + F.lit(k)).cast("long").alias("_len")
    )
    longest = runs.groupBy(id_col).agg(F.max("_len").alias("_longest"))
    return sizes.where(F.col("n_tokens") > 0).join(
        longest, id_col, "left"
    ).select(
        id_col,
        "n_tokens",
        F.least(
            F.coalesce(F.col("_longest"), F.lit(0)), F.col("n_tokens")
        ).cast("long").alias("longest_span_tokens"),
    )


def span_token_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-TOKEN coverage + span-excised rebuild — the
    actual ExactSubstr cut of Lee et al. 2022 (their §4.1 removes the
    duplicated spans; ``span_dup_stats`` only scores documents).

    A token is *covered* when any k-span window containing it occurs in
    >= ``min_docs`` distinct documents; coverage is the INTERVAL UNION
    of the duplicated windows ``[pos, pos+k)`` clipped to the document
    (so overlapping windows never double-count a token). Returns one
    row per non-empty document::

        (doc_id, n_tokens BIGINT, dup_starts BIGINT,
         covered_tokens BIGINT, dup_coverage_ppm BIGINT,
         clean_text STRING)

    where ``clean_text`` re-joins the UNCOVERED tokens of the
    normalized text in order ('' when everything is duplicated) — the
    transform output a training pipeline feeds forward, and
    ``dup_coverage_ppm = covered_tokens * 1e6 div n_tokens`` is the
    exact-integer fraction a filter thresholds on.

    Scale shape: one span-keyed shuffle (via ``_by_span``) feeding the
    frequency agg and the dup probe — the exploded span relation is
    ``localCheckpoint``-ed once against that two-branch diamond, and
    the duplicated-start relation (narrow ints, output-linear) again
    before its own stats/coverage fan-out. The interval union runs as
    explode(sequence)+distinct on (doc, idx) — per-doc bounded — and
    the rebuild is a posexplode anti-join, never a per-row Python
    pass. Window clipping uses the per-doc token count, so the short-
    document whole-text shingle (``word_shingles``' <=k case) covers
    exactly the document, not k tokens.
    """
    dstart = duplicated_span_starts(docs, id_col, text_col, k, min_docs)
    return _coverage_output(docs, dstart, id_col, text_col, k)


def _coverage_output(
    docs: DataFrame,
    dstart: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    *,
    touched_only: bool = False,
) -> DataFrame:
    """Shared back half of the ExactSubstr cut: given the duplicated
    (id, pos) start relation (already checkpointed by the caller),
    compute the interval-union coverage stats + the span-excised
    ``clean_text`` rebuild. Used by :func:`span_token_coverage` (self-
    corpus dedup) and :meth:`SpanDupIndex.probe` (incremental batch vs
    standing index).

    ``touched_only``: emit rows ONLY for docs with covered_tokens > 0
    (same values as the full form filtered on that predicate). The
    consumer that coalesces untouched docs back to their original bytes
    (the streaming ingest cut) never reads the untouched rows, and the
    full form pays for them twice over: ``_full`` (an array_join of the
    whole token array, per doc) is built for every doc, and the final
    spine is a 3-way left join over the whole batch. The touched-only
    form skips ``_full`` entirely, keeps ``sizes`` narrow ints, and
    inner-joins only the touched ids (sf0.1 two-batch ingest: ~3 s)."""
    from ig_etl_sync_spark.operators.textops import normalized_text, tokens

    spark = docs.sparkSession
    n_parts = spark.sparkContext.defaultParallelism

    # narrow per-doc token counts + the UNTOUCHED-doc rebuild (for a
    # doc with no covered token, clean_text IS the normalized text —
    # one map-side projection, no explode/anti-join/sort round trip;
    # only touched docs pay the relational rebuild below). Still the
    # decontaminate split-pass rule: no consumer of the token array's
    # explode is co-projected here.
    toks = tokens(normalized_text(F.col(text_col)))
    size_cols = [F.col(id_col), F.size(toks).cast("long").alias("n_tokens")]
    if not touched_only:
        size_cols.append(F.array_join(toks, " ").alias("_full"))
    sizes = docs.select(*size_cols)
    if not touched_only:
        # consumed by the clip join AND the final spine; carrying the
        # per-doc _full rebuild makes recompute expensive → pin. The
        # touched-only form is a narrow size() over the (cached) batch:
        # re-deriving it per consumer is cheaper than a checkpoint's
        # call-time planning + materialization job (latency-bound path)
        sizes = sizes.localCheckpoint(eager=False)

    covered = (
        dstart.join(sizes, id_col)
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("pos"),
                    F.least(
                        F.col("pos") + F.lit(k - 1),
                        F.col("n_tokens") - F.lit(1),
                    ),
                )
            ).alias("idx"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # stats + rebuild anti-join
    )
    starts = dstart.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dup_starts")
    )
    return _assemble_coverage(
        docs, sizes, covered, starts, id_col, text_col,
        touched_only=touched_only,
    )


def _assemble_coverage(
    docs: DataFrame,
    sizes: DataFrame,
    covered: DataFrame,
    starts: DataFrame,
    id_col: str,
    text_col: str,
    *,
    touched_only: bool,
) -> DataFrame:
    """Shared output assembly of the span-cut family: given the
    CHECKPOINTED ``sizes`` (id, n_tokens[, _full]) and ``covered``
    (id, token idx) relations plus the per-doc duplicated-start counts,
    emit the coverage stats + span-excised clean_text rebuild. Used by
    the word-span path (:func:`_coverage_output`) and the char-gram
    path (:func:`char_span_coverage`)."""
    from ig_etl_sync_spark.operators.textops import normalized_text, tokens

    spark = docs.sparkSession
    n_parts = spark.sparkContext.defaultParallelism

    stats = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("covered_tokens")
    )

    # relational rebuild ONLY for docs with covered tokens (typically
    # a small fraction of the corpus); the touched-id list rides the
    # checkpointed covered relation and AQE broadcasts it
    touched = covered.select(id_col).distinct()
    tokix = (
        docs.join(touched, id_col)
        .repartition(n_parts, F.col(id_col))
        .select(
            F.col(id_col),
            F.posexplode(tokens(normalized_text(F.col(text_col)))).alias(
                "idx", "w"
            ),
        )
    )
    clean = (
        tokix.join(covered, [id_col, "idx"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("clean_text")
        )
    )

    if touched_only:
        # inner-join spine over the TOUCHED ids only: every doc in
        # `stats` has covered_tokens > 0 by construction, and `starts`
        # covers a superset of those ids (a doc with a duplicated start
        # always has covered tokens, and vice versa).
        return (
            stats.join(starts, id_col)
            .join(sizes, id_col)
            .join(clean, id_col, "left")
            .select(
                id_col,
                "n_tokens",
                F.col("dup_starts").cast("long").alias("dup_starts"),
                F.col("covered_tokens").cast("long").alias("covered_tokens"),
                F.expr(
                    "covered_tokens * 1000000 div n_tokens"
                ).cast("long").alias("dup_coverage_ppm"),
                # '' when fully covered — the rebuild groupBy emits no row
                F.coalesce(F.col("clean_text"), F.lit("")).alias(
                    "clean_text"
                ),
            )
        )
    return (
        sizes.where(F.col("n_tokens") > 0)
        .join(stats, id_col, "left")
        .join(starts, id_col, "left")
        .join(clean, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("dup_starts"), F.lit(0)).cast("long").alias(
                "dup_starts"
            ),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.expr(
                "coalesce(covered_tokens, 0L) * 1000000 div n_tokens"
            ).cast("long").alias("dup_coverage_ppm"),
            # touched docs: the rebuild ('' when fully covered — the
            # groupBy emits no row); untouched docs: the map-side full
            # normalized text
            F.when(
                F.col("covered_tokens").isNotNull(),
                F.coalesce(F.col("clean_text"), F.lit("")),
            ).otherwise(F.col("_full")).alias("clean_text"),
        )
    )


def char_span_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    min_docs: int = 2,
    *,
    touched_only: bool = False,
) -> DataFrame:
    """Char-level ExactSubstr coverage + excision — the published form
    of Lee et al. 2022 §4.1 (duplicated CHARACTER substrings, not word
    windows; reference repo has no dedup at all — this extends the
    word-span family X73/X77 to the paper's actual unit).

    Duplication is detected on the doc's **spaceless normalized char
    stream** (normalized text with ALL whitespace removed): a char
    k-gram occurring in >= ``min_docs`` distinct documents marks its
    chars duplicated. Whitespace perturbations INSIDE words ("repro
    duced" vs "reproduced") change the token sequence — every word
    k-window containing the split differs, so word spans miss the
    whole region — but leave the char stream identical, so char spans
    catch it (property-tested in tests/test_spans.py).

    Excision stays token-granular (the unit the rest of the pipeline
    stores): a token is covered when its ENTIRE char range lies inside
    the interval union of duplicated k-gram windows. Output schema is
    :func:`span_token_coverage`'s — (doc_id, n_tokens, dup_starts,
    covered_tokens, dup_coverage_ppm, clean_text) — with dup_starts
    counting duplicated CHAR-gram starts.

    Scale shape: the char stream is CHECKPOINTED once and grams are
    ``transform(sequence, i -> substr(cs, i, k))`` over the
    materialized column — the HOF-inlining trap does not apply to a
    checkpointed column (nothing left to inline; measured 20× over the
    word-style doubling zip_with chain, which pays 4 full array passes
    of per-element string concat on ~300-element char arrays). The one
    data-wide shuffle is the gram-keyed dedup count; the interval
    union is a per-doc islands merge over DUPLICATED starts only (never
    one row per char of the corpus); token mapping is one doc-keyed
    window + an islands containment join (islands per doc is small —
    the merge collapses overlapping windows).
    """
    from ig_etl_sync_spark.operators.textops import (
        normalized_text,
        tokens,
    )

    if k < 2:
        raise ValueError(f"k={k} must be >= 2")
    if min_docs < 2:
        raise ValueError(f"min_docs={min_docs} must be >= 2")
    spark = docs.sparkSession
    n_parts = spark.sparkContext.defaultParallelism

    toks = tokens(normalized_text(F.col(text_col)))
    # spaceless char stream; empty docs drop (mirrors n_tokens > 0).
    # Checkpointed: consumed by the gram build AND the islands clip,
    # and the materialization is what makes substr-in-a-lambda safe.
    base = (
        docs.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col), F.array_join(toks, "").alias("_cs"))
        .where(F.length("_cs") > 0)
        .localCheckpoint(eager=False)
    )
    nc = F.length("_cs")
    # sequence(1, max(nc-k+1, 1)): a short stream yields one gram =
    # the whole stream (substr clamps), matching word_shingles' <=k
    # convention with no special case
    grams = base.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), F.greatest(nc - F.lit(k - 1), F.lit(1))),
            lambda i: F.col("_cs").substr(i, F.lit(k)),
        ).alias("_g"),
    )
    from pyspark.sql import Window

    # duplicated-start detection as ONE gram-keyed pass: the per-gram
    # distinct-doc count rides a window over the gram-partitioned
    # exploded relation (collect_set is exact; gram groups are tiny).
    # The earlier diamond shape — checkpoint sp, distinct, groupBy
    # count, join back — paid THREE more full shuffles of the gram
    # relation, because a localCheckpoint drops the repartition's
    # hash-partitioning info (measured; the ingest's spans_b cache
    # taught the same lesson). Grouping on the RAW k-char gram, not
    # md5(gram): engine-internal key (the oracle recomputes its own
    # grouping), exact by construction, narrower than the 32-hex md5,
    # and skips one md5 per corpus char.
    sp = grams.select(
        F.col(id_col), F.posexplode("_g").alias("cpos", "_gram")
    )
    w_gram = Window.partitionBy("_gram")
    ds = (
        _by_span_col(sp, "_gram")
        .withColumn(
            "_nd", F.size(F.collect_set(F.col(id_col)).over(w_gram))
        )
        .where(F.col("_nd") >= min_docs)
        .select(id_col, "cpos")
        .localCheckpoint(eager=False)  # starts agg + islands fan-out
    )
    starts = ds.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dup_starts")
    )

    # interval union of the duplicated [cpos, cpos+k) windows, clipped
    # to the stream: classic islands merge over per-doc sorted starts

    lens = base.select(
        F.col(id_col), F.length("_cs").cast("long").alias("_nc")
    )
    w_doc = Window.partitionBy(id_col).orderBy("cpos")
    ends = ds.join(lens, id_col).select(
        id_col,
        F.col("cpos").cast("long").alias("cpos"),
        F.least(F.col("cpos") + F.lit(k), F.col("_nc")).cast("long").alias(
            "_e"
        ),
    )
    marked = ends.select(
        id_col,
        "cpos",
        "_e",
        F.max("_e").over(
            w_doc.rowsBetween(Window.unboundedPreceding, -1)
        ).alias("_pmax"),
    ).select(
        id_col,
        "cpos",
        "_e",
        F.when(
            F.col("_pmax").isNull() | (F.col("cpos") > F.col("_pmax")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_new"),
    )
    islands = (
        marked.select(
            id_col,
            "cpos",
            "_e",
            F.sum("_new").over(
                w_doc.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("_iid"),
        )
        .groupBy(id_col, "_iid")
        .agg(
            F.min("cpos").cast("long").alias("_s"),
            F.max("_e").cast("long").alias("_ie"),
        )
        .localCheckpoint(eager=False)  # small: merged intervals only
    )

    # token char offsets over the SPACELESS stream (cumulative lengths)
    # + the output sizes frame, shared with the assembly
    size_cols = [F.col(id_col), F.size(toks).cast("long").alias("n_tokens")]
    if not touched_only:
        size_cols.append(F.array_join(toks, " ").alias("_full"))
    sizes = (
        docs.repartition(n_parts, F.col(id_col))
        .select(*size_cols)
        .localCheckpoint(eager=False)
    )
    tokpos = (
        docs.repartition(n_parts, F.col(id_col))
        .select(
            F.col(id_col),
            F.posexplode(tokens(normalized_text(F.col(text_col)))).alias(
                "idx", "_w"
            ),
        )
        .select(
            id_col,
            "idx",
            (
                F.sum(F.length("_w")).over(
                    Window.partitionBy(id_col)
                    .orderBy("idx")
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
                - F.length("_w")
            ).cast("long").alias("_ts"),
            (
                F.sum(F.length("_w")).over(
                    Window.partitionBy(id_col)
                    .orderBy("idx")
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
            ).cast("long").alias("_te"),
        )
    )
    covered = (
        tokpos.join(islands, id_col)
        .where((F.col("_ts") >= F.col("_s")) & (F.col("_te") <= F.col("_ie")))
        .select(id_col, "idx")
        .distinct()
        .localCheckpoint(eager=False)  # stats + rebuild anti-join
    )
    return _assemble_coverage(
        docs, sizes, covered, starts, id_col, text_col,
        touched_only=touched_only,
    )


def _by_span_col(spans: DataFrame, col: str) -> DataFrame:
    """:func:`_by_span` generalized to an arbitrary key column."""
    n = spans.sparkSession.sparkContext.defaultParallelism
    return spans.repartition(n, F.col(col))


# -- winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03) --

def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """MOSS-style document fingerprints: hash word ``k``-grams, slide a
    window of ``w`` consecutive hashes, keep each window's MIN — the
    published guarantee is that any shared run of >= ``w + k - 1``
    words leaves at least one shared fingerprint, while storing only
    ~``2/(w+1)`` of the hashes.

    Returns the distinct ``(id_col, fp BIGINT)`` fingerprint relation
    (winnowing selects positions; MATCHING needs only the value set).
    Documents shorter than ``w`` grams contribute their global min, so
    every non-empty document has >= 1 fingerprint.

    Shape: posexplode the gram array (generator input evaluated once
    per doc), hash per ROW with the cross-engine md5 primitive, then a
    plain window MIN over (doc, pos) — the lag-not-array-indexing rule
    (see repetition_stats): sliding windows over rows never re-evaluate
    the tokenizer. One shuffle on the doc id, then the distinct rides
    the same partitioning.
    """
    from pyspark.sql import Window

    from ig_etl_sync_spark.functions.hashing import md5_int32

    if w < 1:
        raise ValueError(f"w={w} must be >= 1")
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    # spread off the few-row-group doc scan before the compute-bound
    # shingle explode (repo scan-parallelism rule); partitioning by the
    # doc id also pre-positions the window's partition key
    ex = (
        docs.repartition(n_parts, F.col(id_col))
        .select(
            F.col(id_col),
            F.posexplode(word_shingles(F.col(text_col), k)).alias("pos", "_g"),
        )
        .select(id_col, "pos", md5_int32(F.col("_g")).alias("_v"))
    )
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    n = F.count(F.lit(1)).over(
        Window.partitionBy(id_col).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    fp = F.min("_v").over(by_doc.rowsBetween(Window.currentRow, w - 1))
    return (
        ex.select(
            id_col,
            "pos",
            fp.alias("fp"),
            n.alias("_n"),
        )
        .where(
            (F.col("pos") <= F.col("_n") - w)
            | ((F.col("_n") < w) & (F.col("pos") == 0))
        )
        .select(id_col, "fp")
        .distinct()
    )


def winnow_match_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    top_n: int = 100,
) -> DataFrame:
    """Cross-document fingerprint matches: pairs sharing winnowing
    fingerprints with the shared count — the plagiarism/boilerplate
    candidate relation. Deterministic top-``top_n`` by (shared DESC,
    id_a, id_b): pair lists are output-quadratic inside duplicate
    families (repo rule), the full relation's scale route is the
    cluster-resolution path.

    Scale: only narrow ``(fp, id)`` rows shuffle into the match join;
    a boilerplate fingerprint shared by half the corpus makes a hot fp
    key whose ceiling is |docs| (the relation is already distinct), the
    same skew bound as the span index.
    """
    fps = winnowing_fingerprints(
        docs, id_col=id_col, text_col=text_col, k=k, w=w
    ).localCheckpoint(eager=False)  # both join sides
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .orderBy(F.desc("shared_fps"), "id_a", "id_b")
        .limit(top_n)
    )


class SpanDupIndex:
    """Persistent exact-substring dedup state for INCREMENTAL corpus
    curation — the ExactSubstr twin of ``dedup.MinhashDedupIndex``
    (X46): instead of recomputing the corpus-wide span relation per
    ingest, a versioned table holds the distinct ``(span_md5, doc_id)``
    pairs seen so far, and each new batch probes it for coverage at
    O(batch) cost.

    Probe semantics match the FULL recompute exactly: a batch doc's
    span is duplicated when it occurs in >= ``min_docs`` distinct
    documents across INDEX ∪ BATCH (the union is deduplicated on
    (span, doc), so re-probing an already-indexed id — a foreachBatch
    retry — never self-matches into a false duplicate). The lifecycle
    parity test pins ``probe(batch)`` row-for-row to
    ``span_token_coverage(reference ∪ batch)`` restricted to batch ids.

    Storage: epoch-partitioned (``sepoch``) exactly like the minhash
    index — ``extend`` writes O(batch) into a fresh partition and
    carries prior epochs by hard link; ``compact``
    folds the accumulated partitions into epoch 0 clustered by
    span_md5 (the probe join's at-rest layout); ``build`` replaces every
    epoch. All three go through the table's epoch protocol
    (``replace_epochs`` / ``append_epoch`` / ``compact_epochs``).
    """

    def __init__(
        self,
        spark,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 8,
        min_docs: int = 2,
    ) -> None:
        from ig_etl_sync_spark.sources.versioned import VersionedParquetTable

        if k < 1:
            raise ValueError(f"k={k} must be >= 1")
        if min_docs < 2:
            raise ValueError(f"min_docs={min_docs} must be >= 2")
        self._table = VersionedParquetTable(spark, path)
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.min_docs = min_docs

    _EPOCH = "sepoch"

    def _pairs(
        self,
        docs: DataFrame,
        *,
        spans: DataFrame | None = None,
    ) -> DataFrame:
        """``spans``: optional precomputed :func:`doc_spans` output for
        a SUPERSET of ``docs`` (pinned by the caller); semi-joined down
        to ``docs``' ids so the emitted pairs are identical."""
        if spans is None:
            spans = doc_spans(docs, self.id_col, self.text_col, self.k)
        else:
            spans = spans.join(
                docs.select(self.id_col), self.id_col, "left_semi"
            )
        return spans.select("span_md5", self.id_col).distinct()

    def build(self, docs: DataFrame) -> str:
        """(Re)build from the reference corpus alone, replacing every
        epoch; returns the version."""
        return self._table.replace_epochs(self._pairs(docs), self._EPOCH)

    def extend(
        self,
        docs: DataFrame,
        *,
        epoch: int | None = None,
        spans: DataFrame | None = None,
    ) -> str:
        """Append a batch's pairs as a new epoch partition — O(batch)
        write, prior epochs carried forward untouched. ``epoch``:
        explicit id for streaming callers (stable across foreachBatch
        retries → idempotent re-write of the same partition); defaults
        to the table's next epoch. An epoch already holding DIFFERENT
        doc ids is refused — bare epoch numbers collide across
        checkpoints/streams, and overwriting would silently drop the
        committed batch (see ``VersionedParquetTable.append_epoch``)."""
        if epoch is None:
            epoch = self._table.next_epoch(self._EPOCH)
        return self._table.append_epoch(
            self._pairs(docs, spans=spans), self._EPOCH, epoch, self.id_col
        )

    def compact(self, *, target_files: int = 8) -> str | None:
        """Fold accumulated epochs into epoch 0, clustered by span_md5;
        contents unchanged (probe sees identical pairs)."""
        return self._table.compact_epochs(
            self._EPOCH, ["span_md5"], target_files
        )

    def probe(
        self,
        new_docs: DataFrame,
        *,
        spans: DataFrame | None = None,
        touched_only: bool = False,
        index_covers_batch: bool = False,
        spans_partitioned: bool = False,
    ) -> DataFrame:
        """Coverage stats + clean_text for a NEW batch against
        INDEX ∪ BATCH — the :func:`span_token_coverage` schema. With
        an unbuilt index this degrades to the batch-only self-dedup
        (the same operator on the batch alone).

        ``spans``: optional precomputed :func:`doc_spans` output for a
        SUPERSET of ``new_docs`` (pinned by the caller); semi-joined to
        the batch ids — result identical to the recomputed form.

        ``touched_only``: emit only docs with covered_tokens > 0 (the
        streaming-cut consumer's filter, pushed into the plan — see
        :func:`_coverage_output` for what the untouched rows cost).

        ``index_covers_batch``: the caller guarantees every probed
        doc's pairs are ALREADY in the index (the ingest's extend-
        before-probe order). The batch's (span_md5, id) pairs are then
        READ BACK from the index instead of re-derived by a distinct
        shuffle over the span relation, and the batch∪index union
        collapses (bpairs ⊆ index) — one parquet read replaces two
        shuffles and a checkpoint. Result identical when the guarantee
        holds; requires a built index.

        ``spans_partitioned``: physical hint — the caller's ``spans``
        frame is ALREADY hash-partitioned by ``span_md5`` (and pinned,
        e.g. ``_by_span(doc_spans(b)).cache()``, whose InMemoryRelation
        preserves the partitioning where a localCheckpoint would drop
        it). The probe then uses it directly instead of re-shuffling
        via ``_by_span`` — with the streaming ingest's shared frame the
        extend's distinct AND the probe's span-keyed join both run
        exchange-free. Purely physical: a wrongly-set flag costs an
        ENSURE_REQUIREMENTS exchange, never a wrong row."""
        idx = self._table.read()
        if spans is None:
            spans = doc_spans(
                new_docs, self.id_col, self.text_col, self.k
            ).localCheckpoint(eager=False)  # consumed 2× below
        else:
            spans = spans.join(
                new_docs.select(self.id_col), self.id_col, "left_semi"
            )
        if index_covers_batch:
            if idx is None:
                raise ValueError(
                    "index_covers_batch=True requires a built index "
                    "(extend the batch before probing)"
                )
            # span set of the batch bounds the read to the overlap;
            # distinct() defends the DISTINCT-(span, doc) counting
            # contract against a doc extended into two epochs (not the
            # supported ingest deployment, but cheap on the overlap)
            span_set = spans.select("span_md5").distinct()
            pairs = (
                idx.select("span_md5", self.id_col)
                .join(span_set, "span_md5", "left_semi")
                .distinct()
            )
            dup = pairs.groupBy("span_md5").agg(
                F.count(F.lit(1)).alias("_nd")
            ).where(F.col("_nd") >= self.min_docs)
            byspan = spans if spans_partitioned else _by_span(spans)
            dstart = (
                byspan
                .join(dup.select("span_md5"), "span_md5")
                .select(self.id_col, "pos")
                .localCheckpoint(eager=False)  # stats/coverage fan-out
            )
            return _coverage_output(
                new_docs,
                dstart,
                self.id_col,
                self.text_col,
                self.k,
                touched_only=touched_only,
            )
        bspans = (
            spans
            if spans_partitioned
            else _by_span(spans).localCheckpoint(
                eager=False
            )  # pair counts + dup probe diamond
        )
        bpairs = bspans.select("span_md5", self.id_col).distinct()
        if idx is not None:
            # only index pairs whose span occurs in the batch matter;
            # the semi-join keeps the count input O(batch-span overlap)
            rel = idx.select("span_md5", self.id_col).join(
                bpairs.select("span_md5").distinct(), "span_md5", "left_semi"
            )
            pairs = bpairs.unionByName(rel).distinct()
        else:
            pairs = bpairs
        dup = pairs.groupBy("span_md5").agg(
            F.count(F.lit(1)).alias("_nd")
        ).where(F.col("_nd") >= self.min_docs)
        dstart = (
            bspans.join(dup.select("span_md5"), "span_md5")
            .select(self.id_col, "pos")
            .localCheckpoint(eager=False)  # stats/coverage fan-out
        )
        return _coverage_output(
            new_docs,
            dstart,
            self.id_col,
            self.text_col,
            self.k,
            touched_only=touched_only,
        )


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 4,
    divisor: int = 16,
    seed: str = "cdc-v1",
) -> DataFrame:
    """X86: content-defined chunking — split each document into
    variable-length token chunks whose boundaries are decided by the
    CONTENT (a rolling k-token hash hitting ``h % divisor == 0``), not
    by fixed offsets. The storage-side dedup primitive (Rabin/FastCDC
    family): because boundaries move with the text, an insertion early
    in a near-copy re-synchronizes after ~``divisor`` tokens and every
    later chunk hashes identically — fixed-size blocks would shift and
    match nothing. Expected chunk length ≈ ``divisor`` tokens.

    Shape: one posexplode of the token array plus one posexplode of the
    k-gram array (both single-pass — the gram array is materialized
    top-level, never re-evaluated per row; repo shingle rule), a cut
    join on token position, and a per-doc running-sum window to assign
    chunk ids (partition = one document, so the window's skew ceiling
    is the longest doc, not the corpus). Chunk text is rebuilt from the
    co-grouped tokens; no Python executes per row.

    Returns ``(id_col, chunk_id, chunk_md5, n_tokens)`` — one row per
    chunk, ``chunk_md5`` over the space-joined normalized tokens.
    Empty documents yield no rows.
    """
    from pyspark.sql import Window

    from ig_etl_sync_spark.functions.hashing import md5_int32
    from ig_etl_sync_spark.operators.textops import normalized_text, tokens

    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    if divisor < 2:
        raise ValueError(f"divisor={divisor} must be >= 2")
    n = docs.sparkSession.sparkContext.defaultParallelism
    spread = docs.repartition(n, F.col(id_col))
    tokix = spread.select(
        F.col(id_col),
        F.posexplode(tokens(normalized_text(F.col(text_col)))).alias(
            "pos", "w"
        ),
    )
    # a boundary CLOSES the chunk at the gram's last token: the next
    # chunk starts at token gpos + k
    cuts = (
        spread.select(
            F.col(id_col),
            F.posexplode(word_shingles(F.col(text_col), k)).alias(
                "gpos", "_g"
            ),
        )
        .where(
            md5_int32(F.concat(F.lit(seed), F.lit(":"), F.col("_g")))
            % F.lit(divisor)
            == 0
        )
        .select(F.col(id_col), (F.col("gpos") + F.lit(k)).alias("pos"))
        .withColumn("_cut", F.lit(1))
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = (
        tokix.join(cuts, [id_col, "pos"], "left")
        .withColumn(
            "chunk_id",
            F.sum(F.coalesce(F.col("_cut"), F.lit(0))).over(w).cast("long"),
        )
    )
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda s: s["w"],
                    ),
                )
            ).alias("chunk_md5"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


def cdc_chunk_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    *,
    k: int = 4,
    divisor: int = 16,
    seed: str = "cdc-v1",
) -> DataFrame:
    """Per-group chunk-level dedup yield of :func:`cdc_chunks`: how
    much of each source's chunk stream is redundant AT REST (the
    storage savings content-defined chunking would realize, and a
    sharper redundancy signal than doc-level exact dedup — two docs
    sharing half their text share ~half their chunks). Exact-integer
    ppm (cross-multiplied rule). Returns ``(group_col, n_chunks,
    n_distinct_chunks, dup_ppm)``."""
    chunks = cdc_chunks(
        docs, id_col, text_col, k=k, divisor=divisor, seed=seed
    )
    return (
        chunks.join(docs.select(id_col, group_col), id_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("chunk_md5").cast("long").alias(
                "n_distinct_chunks"
            ),
        )
        .withColumn(
            "dup_ppm",
            F.expr(
                "(n_chunks - n_distinct_chunks) * 1000000 div n_chunks"
            ).cast("long"),
        )
    )
