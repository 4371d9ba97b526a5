"""Deduplication suite: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of each variant):

- **Exact** — one hash-shuffle on the dedup key; at 100 TB this is the
  cheapest possible full-corpus op (map-side partial dedup via AQE).
- **MinHash+LSH** — the near-dup scale path: per-doc signatures are a
  single projection (no shuffle), banding turns O(n²) pair search into a
  self-equi-join on (band_id, band_hash) — only docs sharing a band
  bucket ever meet, and AQE skew-join splits pathological buckets.
- **SimHash** — one explode + one groupBy(doc) shuffle; Hamming-close
  fingerprints block into bucket-joinable prefixes.
- **n-gram Jaccard** — the exact verifier run AFTER blocking (never
  stand-alone at scale).
- **Embedding cosine** — brute force here as the correctness baseline;
  the LSH-bucketed variant in ``similarity.py`` is the scale path.

Cross-engine note: minhash/simhash use md5-derived integers
(``conv(substr(md5(x),1,8),16,10)``) so a DuckDB oracle can reproduce
them bit-for-bit; Spark's xxhash64/hash would be faster but is not
reproducible outside Spark. Swap ``_md5_int`` for ``F.xxhash64`` when
oracle parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ig_etl_sync_spark.functions.hashing import md5_int32 as _md5_int
from ig_etl_sync_spark.functions.vectors import cosine_similarity
from ig_etl_sync_spark.operators.textops import tokens, word_shingles


# -- exact dedup ------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    keys: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep one deterministic row per key set.

    ``keys=None`` dedups on full row content. With ``tiebreak`` the kept
    row is the min by those columns (stable across re-runs/partitions —
    `dropDuplicates` alone keeps an arbitrary row, which is fine for
    identical rows but not for key-level dedup).
    """
    if keys is None:
        return df.dropDuplicates()
    if not tiebreak:
        tiebreak = [c for c in df.columns if c not in keys]
    if not tiebreak:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in tiebreak])
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


# -- MinHash + LSH ----------------------------------------------------

_MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic affine coefficients for seed ``i`` — derived from
    md5 in PYTHON at plan time (plain literals in the plan), so any
    engine replicating the formula gets identical signatures."""
    import hashlib

    a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:8], 16) % (_MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % _MINHASH_P
    return a, b


def minhash_signature(text: str | Column, num_hashes: int = 16, shingle_k: int = 5) -> Column:
    """Array of ``num_hashes`` minhash values over word k-shingles.

    One md5 per shingle, then ``num_hashes`` affine transforms
    ``(a_i*h + b_i) mod p`` (pairwise-independent family) — 8× cheaper
    than hashing per seed, and exactly reproducible in a DuckDB oracle.
    One projection per row: all higher-order functions, zero shuffle.
    """
    hashes = F.transform(word_shingles(text, shingle_k), _md5_int)

    def _affine(i):
        a, b = minhash_coeffs(i)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MINHASH_P)

    return F.array(
        *[F.array_min(F.transform(hashes, _affine(i))) for i in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """Per-doc signatures via explode → per-seed hash → partial-agg min.

    Why not one projection with :func:`minhash_signature`? Catalyst's
    CollapseProject inlines the shingle expression into every seed's
    lambda, re-running tokenization ``num_hashes`` times per row (~8×
    slower, measured). Exploding materializes each shingle string ONCE,
    hashes it per seed, and min-reduces with map-side combine — the
    shuffle carries one row per (doc, partition), which is also the
    right shape at 100 TB.
    """
    # Small-file inputs arrive as one scan partition; spread docs across
    # the cluster before the hash-heavy explode (cheap: doc rows only).
    # Explicit numPartitions: AQE would coalesce a bare repartition(col)
    # back to 1 because the BYTES are small — but this stage is
    # compute-bound, not byte-bound.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    sh = df.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col),
        F.explode(
            F.transform(word_shingles(F.col(text_col), shingle_k), _md5_int)
        ).alias("_h"),
    )

    def _affine(i: int):
        a, b = minhash_coeffs(i)
        return (F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(_MINHASH_P)

    hashed = sh.select(
        F.col(id_col), *[_affine(i).alias(f"_h{i}") for i in range(num_hashes)]
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("signature"),
    )


def minhash_signatures_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_col: str = "sh",
) -> DataFrame:
    """:func:`minhash_signatures` over a PRECOMPUTED shingle-array frame
    (``(id_col, shingle_col array<string>)``) — signatures are identical
    because ``array_min`` is invariant under shingle multiplicity, so a
    distinct-shingle frame (the ingest's pinned ``sh``) yields the same
    mins as the raw shingle stream. Callers that already materialized
    the shingles (checkpoint/cache) skip the tokenize + doubling-zip_with
    shingle build this way — one text pass per batch instead of two.
    The explode reads the MATERIALIZED array column, so the HOF-inlining
    trap does not apply (nothing left to inline)."""
    ex = sh.select(
        F.col(id_col),
        F.explode(F.transform(F.col(shingle_col), _md5_int)).alias("_h"),
    )

    def _affine(i: int):
        a, b = minhash_coeffs(i)
        return (F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(_MINHASH_P)

    hashed = ex.select(
        F.col(id_col), *[_affine(i).alias(f"_h{i}") for i in range(num_hashes)]
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("signature"),
    )


def _banded(signatures: DataFrame, id_col: str, bands: int) -> DataFrame:
    """``(id, band_id, band_hash)`` rows: md5 over each equal slice of
    the signature. Band hashes depend only on the signature, so frames
    banded separately (e.g. the two sides of a cross-corpus join)
    collide exactly as a combined banding would."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                "signature",
                                b * (F.size("signature") / bands).cast("int") + 1,
                                (F.size("signature") / bands).cast("int"),
                            ),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_id", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    num_hashes: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join on (band_id, band_hash).

    Docs agreeing on ALL rows of ≥1 band become candidates — the classic
    S-curve: with 16 hashes / 4 bands, pairs at Jaccard .8 are caught
    w.p. ~97%, at .3 w.p. ~4%. The join shuffles only (id, band) pairs,
    never documents.

    Pass ``num_hashes`` (the signature length) to validate banding:
    ``bands > num_hashes`` makes every band an empty slice (all docs
    collide → accidental O(n²)), and a non-divisible split silently
    drops trailing hashes from all bands.
    """
    if num_hashes is not None:
        if not (1 <= bands <= num_hashes):
            raise ValueError(
                f"bands={bands} invalid for signature length {num_hashes}: "
                "empty band slices would put EVERY doc in one bucket"
            )
        if num_hashes % bands != 0:
            raise ValueError(
                f"num_hashes={num_hashes} not divisible by bands={bands}: "
                f"the trailing {num_hashes % bands} hashes would be "
                "silently excluded from every band"
            )
    banded = _banded(signatures, id_col, bands)
    left = banded.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash"
    )
    right = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    return (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_shingle_similarity(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    *,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs —
    the verify stage after LSH blocking. Joins shingle arrays (small per
    doc) to the pair list; set ops are JVM higher-order functions.

    Only docs that appear in a candidate pair are shingled: the pair
    list is blocking-tiny relative to the corpus, so a broadcast
    semi-join prunes the doc scan before the regex-heavy shingle
    computation runs (measured ~2 full-corpus regex passes saved; at
    100 TB the verify stage must never rescan the corpus).

    ``sh``: optional precomputed ``(id_col, sh array<string>)`` distinct
    shingle sets (a PINNED frame covering at least the pair members) —
    callers that already paid the shingle pass (the streaming ingest
    computes it once per batch and feeds three consumers) skip the
    recomputation; the member semi-join still prunes to pair members.
    """
    member_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if sh is None:
        # No forced broadcast: with healthy blocking AQE broadcasts
        # this semi-join on its own, and under degenerate blocking
        # (pairs ~ n²) a forced hint would OOM where a shuffle join
        # merely slows down.
        docs = docs.join(member_ids, id_col, "left_semi")
        sh = docs.select(
            F.col(id_col),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_k)
            ).alias("sh"),
        )
    else:
        sh = sh.join(member_ids, id_col, "left_semi")
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(union == 0, F.lit(0.0))
            .otherwise(inter.cast("double") / union)
            .alias("jaccard"),
        )
    )


def near_dup_pairs_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.7,
    *,
    sigs: DataFrame | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature → band join →
    exact-Jaccard verify → threshold. Returns (id_a, id_b, jaccard).

    ``sigs`` / ``sh``: optional precomputed signature and distinct-
    shingle frames for ``docs`` (PINNED by the caller — cache or
    checkpoint); the streaming ingest computes each once per batch and
    feeds this, the index probe, and the index extend without paying
    the tokenize/shingle/hash pipeline three times. SUPERSET semantics
    match probe/_index_rows: caller-passed ``sigs`` may cover ids
    beyond ``docs`` — they are semi-joined down to ``docs``' ids here,
    so only pairs within ``docs`` are emitted."""
    if sigs is not None:
        sigs = sigs.join(
            docs.select(F.col(id_col)), id_col, "left_semi"
        )
    if sigs is None:
        sigs = minhash_signatures(
            docs, id_col, text_col, num_hashes, shingle_k
        )
        # The band join consumes signatures on BOTH sides and Catalyst
        # does not reuse the agg exchange across differently-aliased
        # branches — without this the whole shingle+hash pipeline runs
        # twice.
        sigs = sigs.localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_hashes=num_hashes)
    # The verify stage consumes the pair list three times (two member
    # semi-join sides + the final pair join); checkpoint the tiny list
    # so the band join runs once (~25% wall at sf0.1). Checkpoint
    # blocks free with the frame — no cache-manager pinning.
    cands = cands.localCheckpoint(eager=False)
    sims = jaccard_shingle_similarity(
        cands, docs, id_col, text_col, shingle_k, sh=sh
    )
    return sims.where(F.col("jaccard") >= threshold)


def cross_corpus_near_dups(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Incremental dedup: flag NEW-batch documents that near-duplicate
    the existing REFERENCE corpus. Returns ``(new_id, ref_id,
    jaccard)`` for every verified cross pair at ``jaccard >=
    threshold``.

    The band join is strictly NEW × REF: ref×ref pairs (already
    resolved when the reference was built) and new×new pairs (the
    in-batch :func:`near_dup_pairs_minhash` pass) never form, so the
    candidate volume — and therefore ingest cost — scales with the new
    batch, not with the corpus it lands in. Band hashes depend only on
    the signature, so the separately-banded sides collide exactly as a
    combined self-join would.

    Scale: signatures shuffle one row per (doc, partition); the join
    shuffles only (id, band) pairs; the verify runs inside the
    candidate join where both shingle sets are co-located. At 100 TB
    the ref-side banding output is the large relation — it is keyed by
    (band_id, band_hash) once and can be PERSISTED as the standing
    dedup index an ingest pipeline probes per batch.
    """
    sigs_new = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_k
    )
    sigs_ref = minhash_signatures(
        ref_docs, id_col, text_col, num_hashes, shingle_k
    )
    if num_hashes % bands != 0 or not (1 <= bands <= num_hashes):
        raise ValueError(
            f"bands={bands} invalid for signature length {num_hashes}"
        )
    bn = _banded(sigs_new, id_col, bands).select(
        F.col(id_col).alias("new_id"), "band_id", "band_hash"
    )
    br = _banded(sigs_ref, id_col, bands).select(
        F.col(id_col).alias("ref_id"), "band_id", "band_hash"
    )
    cands = (
        bn.join(br, ["band_id", "band_hash"])
        .select("new_id", "ref_id")
        .distinct()
        # feeds two member semi-joins plus the final pair join
        .localCheckpoint(eager=False)
    )
    sh_new = (
        new_docs.join(
            cands.select(F.col("new_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("new_id"),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_k)
            ).alias("sh_a"),
        )
    )
    sh_ref = (
        ref_docs.join(
            cands.select(F.col("ref_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("ref_id"),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_k)
            ).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(sh_new, "new_id")
        .join(sh_ref, "ref_id")
        .select(
            "new_id",
            "ref_id",
            F.when(union == 0, F.lit(0.0))
            .otherwise(inter.cast("double") / union)
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# -- SimHash ----------------------------------------------------------

def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Per-doc SimHash fingerprint: majority vote of token-hash bits.

    explode(tokens) → groupBy(doc) with ``bits`` conditional sums → bit
    reassembly. One shuffle keyed by doc id; the aggregation is partial
    (map-side combine) so the shuffle carries one row per (doc, partition).
    Near-dups differ in few bits → block on 16-bit prefix + verify
    Hamming distance via ``bit_count(xor)``.
    """
    # Spread single-file inputs before the hash-heavy explode (same
    # compute-bound-small-bytes reasoning as minhash_signatures).
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("tok"),
    ).withColumn("h", _md5_int(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_block_bounds(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """``(shift, width)`` per pigeonhole block: the fingerprint split
    into ``max_hamming + 1`` contiguous blocks (widths as even as
    possible). Shared by the operator and its DuckDB oracle."""
    n_blocks = max_hamming + 1
    base, extra = divmod(bits, n_blocks)
    bounds = []
    shift = 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        bounds.append((shift, width))
        shift += width
    return bounds


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """EXACT near-dup pairs by SimHash: pigeonhole block join + Hamming
    verify (Manku, Jain & Sarma, WWW'07).

    The fingerprint splits into ``max_hamming + 1`` blocks; two
    fingerprints within Hamming distance ``max_hamming`` cannot differ
    in every block, so they agree EXACTLY on at least one — an
    equi-join per block finds every qualifying pair (the r02 version
    blocked only on one 8-bit prefix, silently missing any pair whose
    differing bits fell inside it). Returns ``(id_a, id_b, hamming)``.

    Scale design (100 TB): ``max_hamming + 1`` equi-joins on (block_id,
    block_value) — only ids and fingerprints shuffle, never documents;
    block width ``bits/(h+1)`` sets bucket granularity (at 64-bit
    fingerprints and h=3, 16-bit blocks = 65k buckets per block).
    """
    # Fingerprints feed both sides of every block self-join; materialize
    # once (lazy checkpoint) instead of re-running the explode + 32
    # conditional sums per side (~2x wall on the contract query).
    fps = simhash(docs, id_col, text_col, bits).localCheckpoint(eager=False)
    blocked = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", shift).bitwiseAND(
                        F.lit((1 << width) - 1).cast("bigint")
                    )
                    for shift, width in simhash_block_bounds(bits, max_hamming)
                ]
            )
        ).alias("block_id", "block_val"),
    )
    a = blocked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"),
        "block_id", "block_val",
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"),
        "block_id", "block_val",
    )
    return (
        a.join(b, ["block_id", "block_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_dup_degree(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Per-doc LINEARIZATION of the SimHash near-dup relation: the full
    pair list is output-quadratic within duplicate families (213M pairs
    at sf1 — unbounded enumeration is impossible at scale by nature of
    the RESULT), but its per-doc degree sequence is output-linear while
    still pinning the pigeonhole blocking + Hamming verify end to end:
    a missed block or a wrong fingerprint changes some doc's partner
    count or min-Hamming partner. This is the contract relation of the
    sf1-scale twin (`simhash_near_dup_scaled`).

    Output, one row per doc with >= 1 partner at ``<= max_hamming``:
    ``(doc_id, n_dups, n_exact, min_hamming, best_partner)`` —
    distinct-partner count, exact-fingerprint partner count
    (hamming 0), closest distance, and the smallest partner id at that
    distance (deterministic representative).

    Scale: the pair relation is symmetrized by a single
    ``explode(array(...))`` (one branch — the repo's union-diamond
    rule) and aggregated with map-side combine; nothing quadratic is
    collected or stored.
    """
    pairs = simhash_near_dup_pairs(docs, id_col, text_col, bits, max_hamming)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("doc_id"),
                    F.col("id_b").alias("partner"),
                    F.col("hamming"),
                ),
                F.struct(
                    F.col("id_b").alias("doc_id"),
                    F.col("id_a").alias("partner"),
                    F.col("hamming"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return (
        sym.groupBy(F.col("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_exact"),
            # lexicographic struct-min = (min hamming, then min partner
            # id at that hamming) in ONE aggregate — the deterministic
            # argmin without a second window pass
            F.min(
                F.struct(
                    F.col("hamming").alias("h"), F.col("partner").alias("p")
                )
            ).alias("_best"),
        )
        .select(
            "doc_id",
            "n_dups",
            "n_exact",
            F.col("_best.h").cast("int").alias("min_hamming"),
            F.col("_best.p").alias("best_partner"),
        )
    )

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact word n-gram Jaccard over all pairs (optionally blocked by
    ``block_col``, e.g. lang or length bucket). All-pairs is O(n²) —
    correctness baseline and post-LSH verifier; never the scale path on
    its own."""
    grams = docs.select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("g"),
    )
    join_keys = [block_col] if block_col else []
    a = grams.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("id_a"),
        F.col("g").alias("g_a"),
    )
    b = grams.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("id_b"),
        F.col("g").alias("g_b"),
    )
    pairs = a.join(b, join_keys) if join_keys else a.crossJoin(b)
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return (
        pairs.where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    positional_filter: bool = True,
) -> DataFrame:
    """EXACT word n-gram Jaccard pairs ≥ ``threshold`` with NO cartesian:
    prefix-filtering candidate generation (PPJoin Lemma 1, Xiao et al.,
    WWW'08) + positional pruning (Lemma 2) + exact verification.
    ``positional_filter=False`` keeps Lemma 1 only — same output by
    construction (the tests pin it), exposed so the pruning is
    measurable.

    With every gram set sorted by one global total order, any pair with
    ``J(A,B) >= t`` must share at least one gram within the first
    ``|X| - ceil(t*|X|) + 1`` grams of BOTH sets — so exploding only
    those prefixes and equi-joining on the gram finds every qualifying
    pair. A length filter (``t*max(|A|,|B|) <= min(|A|,|B|)``) prunes
    further, and the POSITIONAL filter (PPJoin Lemma 2) prunes again
    before the gram-array verify: for the MINIMAL shared prefix gram —
    which, under one global order, simultaneously has the min position
    in both arrays, so ``min(pos)`` per side after the pair groupBy
    identifies it — every common gram except itself must sit strictly
    after it in both sorted arrays, hence
    ``overlap <= 1 + min(|A|-1-pa, |B|-1-pb)`` (0-based positions),
    while ``J >= t`` forces ``overlap >= ceil(t*(|A|+|B|)/(1+t))``.
    Pairs whose upper bound misses the requirement never reach the
    array-intersection verify. All three bounds are computed in exact
    integer arithmetic (the threshold is taken as a rational p/q, the
    overlap test cross-multiplied) so float rounding can never shorten
    a prefix or drop a true pair.

    Scale design (100 TB): candidate generation shuffles only
    ``(gram, id, sizes)`` tuples — prefix size is ``(1-t)|g|+1``, so at
    t=0.6 only ~40% of grams ever leave the scan — and verification
    joins gram arrays back by id. No crossJoin, no
    BroadcastNestedLoopJoin anywhere in the plan; skewed grams (stop-
    word shingles) split via AQE skew-join. This replaces the all-pairs
    ``ngram_jaccard_pairs`` as the standalone exact path.
    """
    grams, cands = _ppjoin_blocking(
        docs, id_col, text_col, n, threshold, positional_filter
    )
    ga = grams.select(F.col("id").alias("id_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(union == 0, F.lit(0.0))
            .otherwise(inter.cast("double") / union)
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _ppjoin_blocking(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    positional_filter: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared PPJoin candidate generation (Lemma 1 prefix filter +
    length filter + Lemma 2 positional filter) — returns
    ``(grams, cands)``: the checkpointed distinct-gram relation
    ``(id, g)`` and the exact candidate pair relation
    ``(id_a, id_b)``, id_a < id_b. Factored out of
    :func:`prefix_filter_jaccard_pairs` so the scaled contract twin
    (`ngram_jaccard_scaled`) exposes the SAME blocked candidate
    relation the verify consumes — one code path, no drift."""
    from fractions import Fraction

    t = Fraction(threshold).limit_denominator(1_000_000)
    num, den = t.numerator, t.denominator

    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    # Materialized ONCE: the gram arrays feed four consumers (both
    # prefix branches + both verification sides) and the sorted-prefix
    # pipeline would otherwise collapse INTO its own explode (the
    # repo's co-projection hazard — sz needs g while the generator
    # re-derives g per output row). Spread first: shingling is the
    # compute-bound stage and the doc scan is few partitions.
    grams = docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("g"),
    ).localCheckpoint(eager=False)
    # Canonical global gram order: (md5_int32(gram), gram). Hash-order
    # spreads frequent grams' rank uniformly so prefixes aren't biased
    # toward rare-or-common tokens, and the tiebreak keeps it total.
    ordered = grams.select(
        "id",
        F.size("g").alias("sz"),
        F.transform(
            F.array_sort(
                F.transform(
                    "g", lambda s: F.struct(_md5_int(s).alias("h"), s.alias("s"))
                )
            ),
            lambda x: x["s"],
        ).alias("sorted_g"),
    ).localCheckpoint(eager=False)
    # prefix length = sz - ceil(num*sz/den) + 1, integer-exact:
    # ceil(a/b) = (a + b - 1) div b.
    plen = (
        F.col("sz")
        - F.expr(f"(sz * {num} + {den - 1}) div {den}").cast("int")
        + F.lit(1)
    )
    prefixed = ordered.select(
        "id",
        "sz",
        F.posexplode(
            F.slice("sorted_g", F.lit(1), F.greatest(plen, F.lit(0)))
        ).alias("pos", "tok"),
    )
    a = prefixed.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"), "tok",
    )
    b = prefixed.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"), "tok",
    )
    # positional filter (Lemma 2): the minimal shared prefix gram is
    # min(pos) on BOTH sides at once (one global order), bounding
    # overlap by 1 + min(suffix lengths past it); J >= num/den needs
    # overlap*(num+den) >= num*(sz_a+sz_b). The pair groupBy replaces
    # the old distinct() — same shuffle, strictly fewer verify rows.
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - 1 - F.col("min_pa"), F.col("sz_b") - 1 - F.col("min_pb")
    )
    cands = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        # length filter: t*max <= min  ⟺  den*min >= num*max (ints)
        .where(
            F.least("sz_a", "sz_b") * den >= F.greatest("sz_a", "sz_b") * num
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.min("pos_a").alias("min_pa"), F.min("pos_b").alias("min_pb"))
        .where(
            ubound * (num + den) >= (F.col("sz_a") + F.col("sz_b")) * num
            if positional_filter
            else F.lit(True)
        )
        .select("id_a", "id_b")
        # candidate rows are byte-small but each verify row intersects
        # two ~|g|-element arrays — AQE coalesces the shuffle to 1-2
        # partitions and serializes the compute (repo invariant):
        # spread explicitly before the verification joins.
        .repartition(n_parts, F.col("id_a"))
    )
    return grams, cands


def prefix_filter_jaccard_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The PPJoin BLOCKED CANDIDATE relation with its verify measure:
    every pair surviving prefix + length + positional filtering, with
    the exact Jaccard attached and NO threshold cut. This is the
    operator whose contract the sf1-scale twin (`ngram_jaccard_scaled`)
    pins: the all-pairs oracle is infeasible at sf1 (1.25B pairs), but
    the candidate relation is output-bounded by the blocking itself, so
    a DuckDB replay of the SAME blocking hash-matches at full sf1 — the
    `bitext_margin_pairs_scaled` posture applied to PPJoin.

    Scale: identical plan shape to :func:`prefix_filter_jaccard_pairs`
    (same shared blocking helper); the only difference is the missing
    final filter, so per-doc aggregation downstream stays linear in the
    candidate count the blocking already pays for."""
    grams, cands = _ppjoin_blocking(docs, id_col, text_col, n, threshold)
    ga = grams.select(F.col("id").alias("id_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(union == 0, F.lit(0.0))
            .otherwise(inter.cast("double") / union)
            .alias("jaccard"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT asymmetric containment join: pairs where at least
    ``threshold`` of A's distinct word n-grams appear in B
    (``|A∩B| / |A| >= t``) — quote / near-subset detection, the
    decontamination-style relation Jaccard misses when the container is
    much longer than the contained text.

    Blocking is the containment form of the prefix filter: with one
    global gram order, any qualifying A must share a gram from its
    first ``|A| - ceil(t|A|) + 1`` grams with B — but B carries no
    length bound, so the B side indexes ALL its grams (the classic
    probe-prefix / full-index asymmetry). Both the prefix length and
    the final test use exact integer arithmetic (threshold as a
    rational p/q; verify ``inter * q >= p * |A|``), so float rounding
    can never drop a true pair.

    Scale design (100 TB): the A side explodes only ~(1-t) of its
    grams; the B side is a linear inverted index (one (gram, id, sz)
    row per gram — at t=0.8 the candidate join is dominated by B's
    index size, the same cost class as the BM25/posting builders).
    Verification joins the gram arrays back by id INSIDE the narrow
    candidate relation. Returns ``(id_a, id_b, containment)`` with
    ``id_a`` the contained side; both directions can appear.
    """
    from fractions import Fraction

    t = Fraction(threshold).limit_denominator(1_000_000)
    num, den = t.numerator, t.denominator
    grams, cands = _containment_blocking(docs, id_col, text_col, n, threshold)
    ga = grams.select(F.col("id").alias("id_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .where((inter * den >= F.size("g_a") * num) & (F.size("g_a") > 0))
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / F.size("g_a")).alias("containment"),
        )
    )


def _containment_blocking(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """Shared probe-prefix / full-index containment blocking — returns
    ``(grams, cands)`` with ``cands = (id_a, id_b)`` the exact distinct
    candidate relation after the length filter. Factored out of
    :func:`containment_pairs` so the sf1-scale contract twin
    (`containment_quotes_scaled`) pins the SAME blocked relation."""
    from fractions import Fraction

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold={threshold} must be in (0, 1]")
    t = Fraction(threshold).limit_denominator(1_000_000)
    num, den = t.numerator, t.denominator

    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    grams = docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("g"),
    ).localCheckpoint(eager=False)
    ordered = grams.select(
        "id",
        F.size("g").alias("sz"),
        F.transform(
            F.array_sort(
                F.transform(
                    "g", lambda s: F.struct(_md5_int(s).alias("h"), s.alias("s"))
                )
            ),
            lambda x: x["s"],
        ).alias("sorted_g"),
    )
    # prefix length = sz - ceil(num*sz/den) + 1, integer-exact.
    plen = (
        F.col("sz")
        - F.expr(f"(sz * {num} + {den - 1}) div {den}").cast("int")
        + F.lit(1)
    )
    a = ordered.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.explode(
            F.slice("sorted_g", F.lit(1), F.greatest(plen, F.lit(0)))
        ).alias("tok"),
    )
    b = grams.select(
        F.col("id").alias("id_b"),
        F.size("g").alias("sz_b"),
        F.explode("g").alias("tok"),
    )
    cands = (
        a.join(b, "tok")
        .where(F.col("id_a") != F.col("id_b"))
        # |A∩B| <= |B|, so t|A| <= |B| is necessary: num*sz_a <= den*sz_b
        .where(F.col("sz_a") * num <= F.col("sz_b") * den)
        .select("id_a", "id_b")
        .distinct()
        .repartition(n_parts, F.col("id_a"))
    )
    return grams, cands


def containment_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The probe-prefix / full-index BLOCKED CANDIDATE relation with
    its verify measure: every (contained, container) pair surviving
    prefix + length filtering, with the exact containment attached and
    NO threshold cut (zero-gram A sides yield containment 0.0). The
    sf1-scale twin (`containment_quotes_scaled`) pins this relation:
    the all-pairs oracle is infeasible at sf1 (2.5B ordered pairs), the
    blocked relation is not — the `bitext_margin_pairs_scaled` posture.

    Scale: same plan as :func:`containment_pairs` minus the final
    filter; candidate volume is set by the blocking (B-side inverted
    index), which the verify pays for either way."""
    grams, cands = _containment_blocking(docs, id_col, text_col, n, threshold)
    ga = grams.select(F.col("id").alias("id_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(F.size("g_a") == 0, F.lit(0.0))
            .otherwise(inter.cast("double") / F.size("g_a"))
            .alias("containment"),
        )
    )


# -- embedding-cosine near-dup ----------------------------------------

def embedding_near_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Brute-force cosine near-dup pairs (correctness baseline).

    O(n²) dot products via JVM higher-order functions. The 100 TB path
    is ``similarity.lsh_bucketed_pairs`` (random-hyperplane buckets →
    same verify); this exact form is what verifies those candidates.
    """
    # Norms and the float->double cast are per-VECTOR quantities: hoist
    # them out of the O(n²) pair loop (n rows each side instead of n²/2
    # aggregate passes). cosine = dot / (n_a * n_b) multiplies the same
    # doubles in the same order as the fused form, so outputs are
    # bit-identical to cosine_similarity per pair.
    from ig_etl_sync_spark.functions.vectors import dot_product, l2_norm

    def side(id_out: str, v_out: str, n_out: str) -> DataFrame:
        return embeddings.select(
            F.col(id_col).alias(id_out),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(v_out),
        ).withColumn(n_out, l2_norm(v_out))

    # The nested-loop join streams the LEFT side, and the embeddings
    # scan is 1-2 parquet row-groups — without spreading, the whole
    # O(n²) pair loop runs on one core (measured 11.3 s -> ~1 s at
    # sf0.1 on 32 cores).
    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism
    a = side("id_a", "v_a", "n_a").repartition(n_parts)
    b = side("id_b", "v_b", "n_b")
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_product("v_a", "v_b") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.85,
    fanout: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    corpus, then prune near-duplicate embeddings WITHIN each cluster.

    Returns every input row as ``(id_col, cluster BIGINT, dist2 BIGINT,
    kept BOOLEAN)``. A row is dropped iff some HIGHER-KEEP-PRIORITY row
    in the same cluster has cosine similarity >= ``threshold`` with it.
    Keep priority follows the paper's rule — prefer the example
    FARTHEST from its centroid (low centroid similarity ≈ the cluster's
    diverse edge) — made deterministic with the exact integer ``dist2``
    from :func:`~ig_etl_sync_spark.operators.kmeans.kmeans_assign`
    (DESC, id ASC tiebreak). The rule is pairwise against all
    higher-priority rows (no transitive chain), exactly the published
    screening, so a fixed SQL replay can oracle it.

    Scale shape:
    - clustering is the shuffle-free fixed-point k-means (corpus never
      moves; only k·dims numbers aggregate per sweep);
    - the quadratic pair scan is confined WITHIN clusters — the
      published algorithm's cost model — so ``k`` must grow with the
      corpus (k ≈ √n keeps expected cluster size √n; the paper uses
      50k clusters for 100M+ points). The cluster self-join shuffles
      on ``cluster`` once, cosine-verifies where the vectors are
      already co-located, and only narrow dropped ids leave the join
      (the repo's pair-emitting rule);
    - output is the full relation with a ``kept`` flag, not a pair
      list, so it is linear in the corpus.
    """
    from ig_etl_sync_spark.functions.vectors import dot_product, l2_norm
    from ig_etl_sync_spark.operators.kmeans import kmeans_assign

    # The embeddings scan is 1-2 parquet row-groups even at 50k rows,
    # and everything downstream (HOF assignment, the pair verify) is
    # compute-bound — spread before computing (repo scan-parallelism
    # rule).
    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism
    embeddings = embeddings.repartition(n_parts, F.col(id_col))

    assign = kmeans_assign(embeddings, id_col=id_col, vec_col=vec_col, k=k, iters=iters)
    base = assign.join(
        embeddings.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        ),
        id_col,
    ).withColumn("_n", l2_norm("_v"))
    # The cluster self-join fans base into two branches; per the repo's
    # diamond rule the k-means lineage would otherwise replay per side.
    base = base.localCheckpoint(eager=False)

    def side(suffix: str) -> DataFrame:
        return base.select(
            F.col(id_col).alias(f"id{suffix}"),
            F.col("cluster"),
            F.col("dist2").alias(f"d{suffix}"),
            F.col("_v").alias(f"v{suffix}"),
            F.col("_n").alias(f"n{suffix}"),
        )

    # b strictly higher keep-priority than a: farther from the centroid,
    # id-ascending tiebreak — a pure integer comparison.
    prio = (F.col("d_b") > F.col("d_a")) | (
        (F.col("d_b") == F.col("d_a")) & (F.col("id_b") < F.col("id_a"))
    )
    # The self-join has only k distinct keys, so (a) parallelism caps
    # at k tasks when k < cores and (b) one hot cluster serializes on
    # a single task regardless of cores — the quadratic work is
    # per-cluster, so size skew is SQUARED skew. Salt the A side into
    # `fanout` sub-blocks and replicate B to every block: the pair set
    # is unchanged (each (a, b) appears exactly once, in a's block),
    # keys go k -> k*fanout, the hottest task shrinks by fanout, and
    # only the replicated-side payload grows (x fanout rows, still
    # linear in the corpus).
    # plan-only salt (never crosses to the oracle): pmod keeps it
    # non-negative for any id domain.
    a_salted = side("_a").withColumn(
        "_salt", F.pmod(F.col("id_a"), F.lit(fanout)).cast("bigint")
    )
    b_repl = side("_b").withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(fanout)]))
    )
    dropped = (
        a_salted
        .join(b_repl, ["cluster", "_salt"])
        .where(prio)
        .where(
            F.round(
                dot_product("v_a", "v_b") / (F.col("n_a") * F.col("n_b")), 6
            )
            >= F.lit(threshold)
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        base.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster",
            "dist2",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


# -- persistent dedup index -------------------------------------------

class MinhashDedupIndex:
    """The STANDING dedup index an ingest pipeline probes per batch:
    banded minhash signatures plus the shingle sets needed for exact
    verify, persisted in a
    :class:`~ig_etl_sync_spark.sources.versioned.VersionedParquetTable`.

    - :meth:`build` writes the reference corpus's index once
      (``(doc_id, band_id, band_hash, sh)`` rows);
    - :meth:`probe` flags a new batch against the CURRENT index
      version — band join NEW × INDEX, verify inside the join, ingest
      cost scaling with the batch (same plan shape as
      :func:`cross_corpus_near_dups`, minus recomputing the reference
      side every time);
    - :meth:`extend` appends a (deduplicated) batch to the index as a
      new immutable version, so the next probe sees it;
    - :meth:`compact` folds the per-batch epochs into epoch 0.

    Builds, appends and compaction use the table's epoch protocol
    (``replace_epochs`` / ``append_epoch`` / ``next_epoch`` /
    ``compact_epochs``).

    Scale: the index holds ``bands`` rows per document with the
    distinct-shingle array attached — written once, partitioned by the
    band key at rest; probes shuffle only the new batch's ``(id,
    band)`` pairs plus the matched index rows.
    """

    def __init__(
        self,
        spark,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 16,
        bands: int = 4,
        shingle_k: int = 5,
    ) -> None:
        from ig_etl_sync_spark.sources.versioned import VersionedParquetTable

        if num_hashes % bands != 0 or not (1 <= bands <= num_hashes):
            raise ValueError(
                f"bands={bands} invalid for signature length {num_hashes}"
            )
        self._table = VersionedParquetTable(spark, path)
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k

    _EPOCH = "iepoch"

    def _index_rows(
        self,
        docs: DataFrame,
        *,
        sigs: DataFrame | None = None,
        sh: DataFrame | None = None,
    ) -> DataFrame:
        """``sigs`` / ``sh``: optional precomputed artifacts covering a
        SUPERSET of ``docs`` (pinned by the caller); semi-joined down to
        exactly ``docs``' ids so the emitted rows are identical to the
        recomputed form."""
        ids = docs.select(self.id_col)
        if sigs is None:
            sigs = minhash_signatures(
                docs, self.id_col, self.text_col, self.num_hashes,
                self.shingle_k,
            )
        else:
            sigs = sigs.join(ids, self.id_col, "left_semi")
        banded = _banded(sigs, self.id_col, self.bands)
        if sh is None:
            sh = docs.select(
                F.col(self.id_col),
                F.array_distinct(
                    word_shingles(F.col(self.text_col), self.shingle_k)
                ).alias("sh"),
            )
        else:
            sh = sh.join(ids, self.id_col, "left_semi")
        return banded.join(sh, self.id_col)

    def build(self, docs: DataFrame) -> str:
        """(Re)build the index from the reference corpus alone, replacing
        every epoch; returns the published version id."""
        return self._table.replace_epochs(self._index_rows(docs), self._EPOCH)

    def extend(
        self,
        docs: DataFrame,
        *,
        epoch: int | None = None,
        sigs: DataFrame | None = None,
        sh: DataFrame | None = None,
    ) -> str:
        """Append a batch (typically probe survivors) as a new index
        version. The batch lands in a fresh EPOCH partition, so only
        O(batch) data is written — every prior epoch is carried by
        hard link, never rewritten. Ids already present are
        not deduplicated — pass pre-deduplicated batches.

        ``epoch``: explicit partition id. Streaming callers pass a
        value derived from the foreachBatch ``batch_id`` (stable across
        retries), which makes re-extending the SAME batch overwrite the
        SAME partition with the same rows — idempotent per batch
        (Delta's txnAppId/txnVersion pattern) instead of appending a
        duplicate epoch. Defaults to the table's next epoch.

        An epoch that already holds DIFFERENT doc ids is refused (see
        :meth:`~ig_etl_sync_spark.sources.versioned.VersionedParquetTable.
        append_epoch`): bare epoch numbers collide across
        checkpoints/streams, and overwriting would silently drop the
        committed batch.

        ``sigs`` / ``sh``: optional precomputed signature / distinct-
        shingle frames covering a superset of ``docs`` (pinned by the
        caller) — see :meth:`_index_rows`."""
        if epoch is None:
            epoch = self._table.next_epoch(self._EPOCH)
        return self._table.append_epoch(
            self._index_rows(docs, sigs=sigs, sh=sh),
            self._EPOCH, epoch, self.id_col,
        )

    def compact(self, *, target_files: int = 8) -> str | None:
        """Rewrite the accumulated epoch partitions into a single
        epoch-0 version — the small-file counterpart of :meth:`extend`
        (a long-running ingest leaves one O(batch) partition per batch
        behind; compaction folds them into ``target_files`` files
        clustered by the band key, the probe join's at-rest layout).
        Index CONTENTS are unchanged: signatures are not recomputed,
        and a :meth:`probe` sees identical rows. Returns the published
        version id, or ``None`` when the index is unbuilt."""
        return self._table.compact_epochs(
            self._EPOCH, ["band_id", "band_hash"], target_files
        )

    def probe(
        self,
        new_docs: DataFrame,
        *,
        threshold: float = 0.7,
        sigs: DataFrame | None = None,
        sh: DataFrame | None = None,
    ) -> DataFrame:
        """``(new_id, ref_id, jaccard)`` for new docs near-duplicating
        the current index contents (empty frame if the index is
        unbuilt).

        ``sigs`` / ``sh``: optional precomputed signature / distinct-
        shingle frames covering a SUPERSET of ``new_docs`` (pinned by
        the caller); semi-joined down to ``new_docs``' ids, so the
        result is identical to the recomputed form."""
        idx = self._table.read()
        spark = new_docs.sparkSession
        if idx is None:
            # empty-frame schema must track the caller's id type (string
            # doc ids etc.), or downstream unions/joins break only in
            # the unbuilt-index case
            from pyspark.sql.types import DoubleType, StructField, StructType

            id_type = new_docs.schema[self.id_col].dataType
            return spark.createDataFrame(
                [],
                StructType([
                    StructField("new_id", id_type),
                    StructField("ref_id", id_type),
                    StructField("jaccard", DoubleType()),
                ]),
            )
        if sigs is None:
            sigs_new = minhash_signatures(
                new_docs, self.id_col, self.text_col, self.num_hashes,
                self.shingle_k,
            )
        else:
            sigs_new = sigs.join(
                new_docs.select(self.id_col), self.id_col, "left_semi"
            )
        bn = _banded(sigs_new, self.id_col, self.bands).select(
            F.col(self.id_col).alias("new_id"), "band_id", "band_hash"
        )
        br = idx.select(
            F.col(self.id_col).alias("ref_id"), "band_id", "band_hash"
        )
        # pair dedup shuffles only narrow (new_id, ref_id) — a hot ref
        # doc matching many new docs must not ship its shingle array
        # once per candidate pair (CLAUDE.md invariant; the stored sh
        # is re-joined below, once per matched doc, not per pair)
        cands = (
            bn.join(br, ["band_id", "band_hash"])
            .select("new_id", "ref_id")
            .dropDuplicates(["new_id", "ref_id"])
            .localCheckpoint(eager=False)
        )
        if sh is None:
            sh_new = new_docs.join(
                cands.select(F.col("new_id").alias(self.id_col)).distinct(),
                self.id_col,
                "left_semi",
            ).select(
                F.col(self.id_col).alias("new_id"),
                F.array_distinct(
                    word_shingles(F.col(self.text_col), self.shingle_k)
                ).alias("sh_a"),
            )
        else:
            sh_new = sh.join(
                cands.select(F.col("new_id").alias(self.id_col)).distinct(),
                self.id_col,
                "left_semi",
            ).select(
                F.col(self.id_col).alias("new_id"), F.col("sh").alias("sh_a")
            )
        # index rows repeat sh per band; every copy is identical, so a
        # keys-only dropDuplicates picks a stable value
        sh_ref = (
            idx.select(
                F.col(self.id_col).alias("ref_id"), F.col("sh").alias("sh_b")
            )
            .join(cands.select("ref_id").distinct(), "ref_id", "left_semi")
            .dropDuplicates(["ref_id"])
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        return (
            cands.join(sh_new, "new_id")
            .join(sh_ref, "ref_id")
            .select(
                "new_id",
                "ref_id",
                F.when(union == 0, F.lit(0.0))
                .otherwise(inter.cast("double") / union)
                .alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
