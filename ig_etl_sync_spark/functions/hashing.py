"""Change-hash derivation (reference ``internal/recon/recon.go:133-156``).

The reference computes, per record, CRC32 over the first non-empty of
``updated_at`` → ``updated-at`` → ``index`` → canonical-JSON of the whole
record. The hash is only ever compared with itself (``recon.go:81``), so
any stable hash is semantically identical; we use Spark's native
``xxhash64`` (JVM-side, whole-stage-codegen friendly, 64-bit so collision
odds at 100 TB key counts are ~2^-64 per pair vs CRC32's 2^-32).

Scale note: the prefer-column chain is the reference's own short-circuit
— when a source carries an ``updated_at``, the hash input is a short
string and the full-row ``to_json(struct(*))`` serialization never runs.
We preserve exactly that: the coalesce chain is evaluated lazily per row
by Catalyst, not by materializing the JSON column first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Default preference chain, mirroring recon.go:135-144 (snake, kebab, index).
DEFAULT_PREFER_COLS: tuple[str, ...] = ("updated_at", "updated-at", "index")


def md5_int32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint — the cross-engine
    hash primitive (DuckDB: ``('0x'||substr(md5(x),1,8))::BIGINT``).
    Must stay bit-identical wherever used: DuckDB oracle parity for
    minhash/simhash/LSH depends on it."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _nonempty(col: Column) -> Column:
    """NULL-out empty strings so they fall through the coalesce chain,
    matching the reference's ``val != ""`` guards (recon.go:135-144)."""
    return F.nullif(col.cast("string"), F.lit(""))


def record_fingerprint(columns: Sequence[str]) -> Column:
    """Canonical full-record serialization (recon.go:146-153).

    The reference canonicalizes by sorting JSON keys; ``to_json(struct)``
    with explicitly sorted column order gives the same stable property.
    """
    ordered = sorted(columns)
    return F.to_json(F.struct(*[F.col(f"`{c}`") for c in ordered]))


def change_hash(
    columns: Sequence[str],
    prefer_cols: Sequence[str] = DEFAULT_PREFER_COLS,
) -> Column:
    """Column expression computing the per-record change hash.

    ``columns`` is the full column list of the record (for the canonical
    fallback); ``prefer_cols`` is the short-circuit chain — entries not
    present in ``columns`` are skipped (schema-less tolerance, §1.2).
    """
    chain: list[Column] = [
        _nonempty(F.col(f"`{c}`")) for c in prefer_cols if c in columns
    ]
    chain.append(record_fingerprint(columns))
    basis = F.coalesce(*chain) if len(chain) > 1 else chain[0]
    return F.xxhash64(basis)


def with_change_hash(
    df: DataFrame,
    prefer_cols: Sequence[str] = DEFAULT_PREFER_COLS,
    exclude: Sequence[str] = (),
) -> DataFrame:
    """Attach the ``change_hash`` column to ``df`` (excluding e.g. the key)."""
    cols = [c for c in df.columns if c not in set(exclude)]
    return df.withColumn("change_hash", change_hash(cols, prefer_cols=prefer_cols))
