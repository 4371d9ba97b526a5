"""Deterministic Bloom filter — distributed build, expression-only
probe — as a shuffle-avoiding join pre-filter.

The scale problem: a semi join of a 100 TB fact table against a 10M-key
dimension shuffles the full fact table; the exact key set is too big to
broadcast as a join, but a Bloom filter of it is ~1-2 bytes/key and
broadcasts fine. Pre-filtering the fact side with the bloom removes
(1 - fp) of the non-matching rows BEFORE any shuffle; the exact join
afterwards only sees survivors. (Spark's own runtime row-group bloom
filtering does this inside AQE when it can; this operator is the
engine-level, cross-engine-checkable version with explicit control.)

Construction is md5-double-hashed and fully deterministic, so a DuckDB
oracle can rebuild the IDENTICAL filter bit-for-bit
(``contract.bloom_words``): position_i(key) = (h1 + i·h2) mod n_bits
with h1 = first 32 md5 bits, h2 = next 32 md5 bits | 1 (odd ⇒ the k
probes cycle the whole table) — BOTH from ONE md5(key) digest, so a
row costs one hash however many probes run. Words are 32-bit (stored
in BIGINT) so ``1 << bit`` never touches the sign bit in either
engine.

Plan shapes:

- ``bloom_build``: project the digest ONCE per key → explode k
  positions → groupBy word index → ``bit_or`` — one partial-agg
  shuffle whose output is ≤ n_bits/32 rows. At any corpus size the
  shuffle moves only per-partition partial words (≤ n_words ×
  partitions rows).
- ``bloom_probe_frame``: the collected words become ONE binary
  literal in the plan (the filter IS the broadcast, same posture as
  ``similarity.pandas_topk``'s query matrix); the probe is staged
  projections (digest → h1/h2 → positions → byte-offset
  ``substring``/``conv``/bitwise checks) — whole-stage codegen, no
  join, no Python, each intermediate evaluated once per row. The
  staging matters: a single Column expression duplicates the digest
  subtree per probe (measured 5.7 s → 1.6 s on the sf0.01 stats
  query), and a string (vs binary) word table re-scans the 16 KiB
  literal per substring call.

False-negative-free by construction; false-positive rate for m bits,
n keys, k hashes ≈ (1 - e^{-kn/m})^k.
"""

from __future__ import annotations

import struct
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_BITS = 32  # 32-bit words in BIGINT: shifts stay off the sign bit


def _hex_slice(hex_col: Column, offset: int) -> Column:
    """32 bits of an md5 hex digest as a non-negative bigint (DuckDB:
    ``('0x'||substr(md5(x),1+off,8))::BIGINT``)."""
    return F.conv(F.substring(hex_col, offset + 1, 8), 16, 10).cast("bigint")


def _h1h2(key: Column) -> tuple[Column, Column]:
    """(h1, h2) from ONE md5 digest: bits [0,32) and [32,64)|1 (odd so
    (h1 + i*h2) mod n_bits cycles all positions). Callers must project
    these into real columns before fanning out per-probe expressions —
    an inline tree would re-evaluate the digest per reference."""
    hx = F.md5(key.cast("string"))
    return _hex_slice(hx, 0), _hex_slice(hx, 8).bitwiseOR(F.lit(1))


def bloom_build(
    keys: DataFrame,
    key_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> DataFrame:
    """Distributed build: ``(word_idx, word)`` rows, word_idx ∈
    [0, n_bits/32), missing indexes ⇒ word 0. One partial-agg shuffle;
    one md5 per key (h1/h2 projected, then positions fan out)."""
    if n_bits % WORD_BITS:
        raise ValueError(f"n_bits must be a multiple of {WORD_BITS}")
    h1, h2 = _h1h2(F.col(key_col))
    hashed = keys.select(h1.alias("_h1"), h2.alias("_h2"))
    pos = F.explode(
        F.array(
            *[
                (F.col("_h1") + F.lit(i) * F.col("_h2")) % F.lit(n_bits)
                for i in range(n_hashes)
            ]
        )
    )
    exploded = hashed.select(pos.alias("_pos"))
    return (
        exploded.groupBy(
            (F.col("_pos") / WORD_BITS).cast("long").alias("word_idx")
        )
        .agg(
            F.bit_or(
                # call_function: the shift amount is a COLUMN (python
                # F.shiftleft only takes a literal int)
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.col("_pos") % WORD_BITS).cast("int"),
                )
            ).alias("word")
        )
    )


def collect_words(bloom: DataFrame, n_bits: int) -> list[int]:
    """Densify a ``bloom_build`` frame into the full word list (the
    tiny broadcast payload: n_bits/32 Python ints)."""
    words = [0] * (n_bits // WORD_BITS)
    for r in bloom.collect():
        words[int(r.word_idx)] = int(r.word)
    return words


def bloom_probe_frame(
    df: DataFrame,
    key_col: str,
    words: list[int],
    n_bits: int,
    n_hashes: int = 3,
    out_col: str = "_pass",
) -> DataFrame:
    """Append boolean ``out_col``: True ⇔ every hash position's bit is
    set (no false negatives; false positives at the configured rate).

    Staged projections keep every intermediate single-evaluation: one
    md5 per row, then positions, then byte-offset lookups into the ONE
    packed binary word-table literal (4 bytes per 32-bit word, O(1)
    slicing — a hex-string table re-scans the whole literal per
    ``substring`` call, and a per-word literal array puts ~6k nodes in
    the tree; both measured materially slower)."""
    if len(words) != n_bits // WORD_BITS:
        raise ValueError(
            f"words length {len(words)} != n_bits/{WORD_BITS} = {n_bits // WORD_BITS}"
        )
    packed = b"".join(struct.pack(">I", w & 0xFFFFFFFF) for w in words)
    h1, h2 = _h1h2(F.col(key_col))
    staged = df.withColumns({"_bh1": h1, "_bh2": h2})
    pos_cols = {
        f"_bp{i}": (F.col("_bh1") + F.lit(i) * F.col("_bh2")) % F.lit(n_bits)
        for i in range(n_hashes)
    }
    staged = staged.withColumns(pos_cols)
    checks = []
    for i in range(n_hashes):
        p = F.col(f"_bp{i}")
        word = F.conv(
            F.hex(
                F.substring(
                    F.lit(packed), ((p / WORD_BITS).cast("long") * 4 + 1).cast("int"), 4
                )
            ),
            16,
            10,
        ).cast("long")
        bit = (p % WORD_BITS).cast("int")
        checks.append(
            F.call_function("shiftright", word, bit).bitwiseAND(F.lit(1)) == 1
        )
    probe = reduce(lambda a, b: a & b, checks)
    return staged.withColumn(out_col, probe).drop(
        "_bh1", "_bh2", *pos_cols.keys()
    )
