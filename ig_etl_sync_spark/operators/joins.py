"""Join strategies for scale: skew salting and broadcast helpers.

AQE's skew-join splitting handles most skew automatically; explicit
salting is for the cases AQE cannot fix — a skewed AGGREGATION key, or
a skewed join where neither side can be split (both sides huge on the
hot key). The salt spreads one hot key over ``salt`` subkeys: the small
side is replicated ``salt``× (explode), the big side picks one subkey
pseudo-randomly-but-deterministically (hash of a high-cardinality
column, not RNG — reproducible plans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
    salt_source: str | None = None,
) -> DataFrame:
    """Equi-join with the hot-key salt pattern.

    ``big`` rows get ``_salt = pmod(xxhash64(salt_source or key-row),
    salt)``; ``small`` rows are exploded to all ``salt`` values. The
    join key becomes (key, _salt) — the hot key's rows spread over
    ``salt`` reducers instead of one.

    Only join types where the SMALL side's replication cannot surface
    as output rows are valid: inner/left/left_semi/left_anti (the
    replicated small rows that miss a salt value would appear as
    phantom unmatched rows under right/full outer).
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: the small side is "
            f"replicated {salt}x, so right/full outer joins would emit "
            "phantom unmatched rows. Use inner/left/left_semi/left_anti."
        )
    src = F.xxhash64(*[F.col(c) for c in ([salt_source] if salt_source else big.columns)])
    big_s = big.withColumn("_salt", F.pmod(src, F.lit(salt)).cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<int>"))
    )
    out = big_s.join(small_s, [key, "_salt"], how)
    return out.drop("_salt")


def fuzzy_match_join(
    left: DataFrame,
    right: DataFrame,
    col: str,
    max_dist: int = 1,
    left_out: str = "a",
    right_out: str = "b",
) -> DataFrame:
    """Entity-resolution join: pairs of values whose Levenshtein
    distance is ≤ ``max_dist``. Returns ``(left_out, right_out, dist)``
    with ``left_out < right_out`` (self-join safe, each pair once).

    Blocking is by LENGTH — sound, because edit distance ≥ the length
    difference, so no pair within ``max_dist`` is missed: the right
    side replicates each value to its ``2·max_dist+1`` admissible
    length keys (explode), and the join becomes an equi-join on the
    length key. Levenshtein runs only within blocks, never all-pairs.

    Scale note: length blocking alone leaves large blocks when values
    share lengths (names, SKUs). The production refinement is q-gram
    prefix blocking (same explode-to-keys shape, keys = positional
    q-grams) — length blocking keeps this construction exactly
    replayable by a SQL oracle, which is what the contract checks.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist={max_dist} < 0")
    lv = left.select(F.col(col).alias(left_out)).distinct()
    rv = right.select(F.col(col).alias(right_out)).distinct()
    l_key = lv.withColumn("_blk", F.length(left_out))
    r_key = rv.withColumn(
        "_blk",
        F.explode(
            F.sequence(
                F.length(right_out) - max_dist,
                F.length(right_out) + max_dist,
            )
        ),
    )
    cand = l_key.join(r_key, "_blk").where(F.col(left_out) < F.col(right_out))
    return cand.select(
        left_out,
        right_out,
        F.levenshtein(F.col(left_out), F.col(right_out)).alias("dist"),
    ).where(F.col("dist") <= max_dist)


def fuzzy_match_join_rare_gram(
    left: DataFrame,
    right: DataFrame,
    col: str,
    max_dist: int = 1,
    q: int = 3,
    left_out: str = "a",
    right_out: str = "b",
) -> DataFrame:
    """:func:`fuzzy_match_join` with EXACT rare-q-gram prefix blocking —
    the production refinement that operator's docstring names: same
    output (pairs within Levenshtein ``max_dist``), but candidates
    block on each value's ``d·q + 1`` globally RAREST q-grams instead
    of on length, so values sharing a common template prefix (names,
    SKUs) don't all land in one block.

    Exactness (count filtering): ``d`` edits destroy at most ``q``
    gram occurrences each, and a distinct gram value present in one
    string but absent from the other consumes at least one destroyed
    occurrence — so two strings within distance ``d`` share at least
    ``max(|A|, |B|) − d·q`` distinct grams. When either side has more
    than ``d·q`` grams that overlap is ≥ 1, and PPJoin prefix
    filtering (the same lemma :func:`~ig_etl_sync_spark.operators.
    dedup.ngram_jaccard_pairs` uses, global order = (gram df, gram))
    guarantees the two ``d·q + 1``-rarest prefixes intersect. Values
    with ≤ ``d·q`` grams (shorter than ``q·(d+1) + q − 2`` chars) have
    no such guarantee and fall back to length blocking — but ONLY
    among themselves: a short×long pair still satisfies the count
    bound through the long side, and the short side's prefix is its
    whole gram set, so the gram route covers it. The final
    ``levenshtein`` verify is exact either way; blocking soundness is
    what the property test pins against the length-blocked baseline.

    Scale: the gram-df pass and the per-value rarest-prefix window run
    over ~|value|·(len−q+1) narrow rows; candidates dedup as bare
    string pairs; verify runs after the dedup on scalar columns. No
    block is template-shaped: rare grams are distinctive by
    construction, the classic prefix-filter trade.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist={max_dist} < 0")
    if q < 2:
        raise ValueError(f"q={q} < 2: gram blocking needs q >= 2")
    from pyspark.sql import Window

    d, dq = max_dist, max_dist * q
    lv = (
        left.select(F.col(col).alias("_v"))
        .where(F.col("_v").isNotNull())
        .distinct()
    )
    rv = (
        right.select(F.col(col).alias("_v"))
        .where(F.col("_v").isNotNull())
        .distinct()
    )
    vals = lv.union(rv).distinct()
    # distinct q-grams per value (JVM HOF; empty array below q chars)
    grams = vals.select(
        "_v",
        F.when(
            F.length("_v") >= q,
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(_v) - {q - 1}),"
                    f" i -> substring(_v, i, {q}))"
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_g"),
    ).localCheckpoint(eager=False)  # feeds df pass, prefix, shorts
    gram_df = (
        grams.select(F.explode("_g").alias("_gram"))
        .groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    ranked = (
        grams.select(
            "_v", F.size("_g").alias("_ng"), F.explode("_g").alias("_gram")
        )
        .join(gram_df, "_gram")
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_v").orderBy("_df", "_gram")
            ),
        )
        .where(F.col("_rk") <= dq + 1)
    )
    pa = ranked.select(
        F.col("_v").alias("_x"), "_gram", (F.col("_ng") > dq).alias("_lx")
    )
    pb = ranked.select(
        F.col("_v").alias("_y"), "_gram", (F.col("_ng") > dq).alias("_ly")
    )
    cand_gram = (
        pa.join(pb, "_gram")
        .where((F.col("_x") < F.col("_y")) & (F.col("_lx") | F.col("_ly")))
        .select("_x", "_y")
        .distinct()
    )
    shorts = grams.where(F.size("_g") <= dq).select("_v")
    s_a = shorts.select(F.col("_v").alias("_x"), F.length("_v").alias("_blk"))
    s_b = shorts.select(F.col("_v").alias("_y")).withColumn(
        "_blk",
        F.explode(F.sequence(F.length("_y") - d, F.length("_y") + d)),
    )
    cand_short = (
        s_a.join(s_b, "_blk")
        .where(F.col("_x") < F.col("_y"))
        .select("_x", "_y")
        .distinct()
    )
    # the gram route requires a long side, the short route both-short:
    # disjoint by construction, no cross-route dedup shuffle needed
    verified = (
        cand_gram.union(cand_short)
        .withColumn("dist", F.levenshtein("_x", "_y"))
        .where(F.col("dist") <= d)
    )
    return (
        verified.join(lv.select(F.col("_v").alias("_x")), "_x", "left_semi")
        .join(rv.select(F.col("_v").alias("_y")), "_y", "left_semi")
        .select(
            F.col("_x").alias(left_out),
            F.col("_y").alias(right_out),
            "dist",
        )
    )
