"""Merkle-style hierarchical snapshot diff — bucket digests first,
row-level diff only inside buckets that changed.

The reference diffs every key every sync (``internal/recon/recon.go:
36-100`` iterates the full map). That is O(|incoming| + |snapshot|)
*join work* per sync even when nothing changed. At 100 TB the dominant
cost of the R1 full-outer join is shuffling both sides by key; this
module removes that cost for the unchanged part of the keyspace:

1. Bucket every key: ``bucket = md5_int32(key) % n_buckets``.
2. Digest each bucket on each side: ``bit_xor`` of a per-row hash of
   ``(key, change_hash)`` plus a row count. One narrow partial-agg scan
   per side — map-side combine reduces each scan partition to at most
   ``n_buckets`` rows before any shuffle; the shuffle moves
   ``O(n_buckets × partitions)`` digest rows, never data rows.
3. Compare digests (two tiny frames, ``n_buckets`` rows each): buckets
   whose ``(digest, count)`` differ — or exist on one side only — are
   the only ones that can contain a create/update/delete.
4. Broadcast the changed-bucket set, left-semi prune BOTH sides, and
   run the ordinary R1 diff join (``reconcile.diff_join``) on the
   survivors.

If a fraction *p* of buckets changed, the expensive wide join shuffles
~*p* of the data. With the snapshot stored partitioned by bucket the
pruned read partition-prunes at the scan. Digests of the committed
snapshot are themselves tiny (``n_buckets`` rows) and deterministic —
persist them next to the snapshot version and step 2 runs on the
incoming side only.

Digest soundness: XOR of per-row hashes is order- and
partition-independent (abelian), so the digest is stable under any
shuffle placement. XOR alone would miss a value appearing an even
number of times; keys are unique per side (the snapshot form, and
``reconcile.hashed_incoming``'s one row per key), and the
row count catches pure additions/removals that happen to XOR to the
same value. Collisions (a changed bucket digesting equal) are ~2^-64
per bucket — the same risk class the reference accepts for its change
hash (``recon.go:133-156``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ig_etl_sync_spark.functions.hashing import (
    DEFAULT_PREFER_COLS,
    md5_int32,
)
from ig_etl_sync_spark.operators.reconcile import (
    HASH_COL,
    KEY_COL,
    DiffResult,
    diff_join,
    hashed_incoming,
)

#: row digest: (key, change_hash) -> bigint. Default stays JVM-native;
#: contract queries pass an md5-based one for DuckDB parity.
RowDigest = Callable[[Column, Column], Column]


def _default_row_digest(key: Column, hash_col: Column) -> Column:
    return F.xxhash64(key, hash_col)


def md5_row_digest(key: Column, hash_col: Column) -> Column:
    """Cross-engine reproducible row digest (DuckDB:
    ``('0x'||substr(md5(key || chr(31) || hash),1,8))::BIGINT``)."""
    return md5_int32(F.concat_ws("\x1f", key, hash_col.cast("string")))


def bucket_of(key: Column, n_buckets: int) -> Column:
    """Stable bucket id in ``[0, n_buckets)`` from the md5 primitive
    (non-negative, so ``%`` ≡ ``pmod`` and matches DuckDB's ``%``)."""
    return (md5_int32(key) % F.lit(n_buckets)).alias("bucket")


def bucket_digests(
    snap: DataFrame,
    n_buckets: int,
    key_col: str = KEY_COL,
    hash_col: str = HASH_COL,
    row_digest: RowDigest = _default_row_digest,
) -> DataFrame:
    """Per-bucket ``(bucket, digest, n)`` of a snapshot-form frame.

    One partial-agg scan: at most ``n_buckets`` rows leave each scan
    partition. The output is small enough to persist with the snapshot
    version (see module docstring) or to collect for comparison.
    """
    k = F.col(key_col).cast("string")
    return (
        snap.groupBy(bucket_of(k, n_buckets))
        .agg(
            F.bit_xor(row_digest(k, F.col(hash_col))).alias("digest"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def changed_buckets(cur: DataFrame, prev: DataFrame) -> DataFrame:
    """Bucket ids whose digest/count differ between two
    :func:`bucket_digests` frames (one-sided buckets included)."""
    c = cur.select("bucket", F.col("digest").alias("_cd"), F.col("n").alias("_cn"))
    p = prev.select("bucket", F.col("digest").alias("_pd"), F.col("n").alias("_pn"))
    j = c.join(p, "bucket", "full_outer")
    return j.where(
        ~(F.col("_cd").eqNullSafe(F.col("_pd")) & F.col("_cn").eqNullSafe(F.col("_pn")))
    ).select("bucket")


@dataclass(frozen=True)
class MerkleDiff:
    """Pruned diff plus the pruning evidence."""

    diff: DiffResult
    changed: DataFrame  # bucket ids that survived digest compare
    n_buckets: int


def merkle_diff(
    incoming: DataFrame,
    snapshot: DataFrame | None,
    n_buckets: int = 256,
    key_col: str = KEY_COL,
    prefer_cols: Sequence[str] = DEFAULT_PREFER_COLS,
    row_digest: RowDigest = _default_row_digest,
    prev_digests: DataFrame | None = None,
) -> MerkleDiff:
    """R1 diff with merkle pruning; result-equivalent to
    :func:`reconcile.reconcile` (property-tested) up to digest
    collisions.

    ``prev_digests``: pass the digests persisted with the previous
    snapshot version to skip re-digesting the snapshot side (the
    steady-state at scale). ``snapshot=None`` degrades gracefully to a
    plain first-sync diff (everything is new; no pruning possible).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    hashed = hashed_incoming(incoming, key_col=key_col, prefer_cols=prefer_cols)

    if snapshot is None:
        d = diff_join(hashed, None)
        empty = hashed.sparkSession.createDataFrame([], "bucket bigint")
        return MerkleDiff(diff=d, changed=empty, n_buckets=n_buckets)

    # Snapshot form of the incoming side: hashed_incoming already holds
    # one row per key, so digests are well-defined even when a batch
    # lists a key twice.
    inc_snap = hashed.select(KEY_COL, HASH_COL)
    cur_d = bucket_digests(inc_snap, n_buckets, row_digest=row_digest)
    prev_d = (
        prev_digests
        if prev_digests is not None
        else bucket_digests(snapshot, n_buckets, row_digest=row_digest)
    )
    changed = changed_buckets(cur_d, prev_d)

    bkey = bucket_of(F.col(KEY_COL), n_buckets)
    inc_f = hashed.withColumn("bucket", bkey).join(
        F.broadcast(changed), "bucket", "left_semi"
    ).drop("bucket")
    snap_f = snapshot.withColumn("bucket", bkey).join(
        F.broadcast(changed), "bucket", "left_semi"
    ).drop("bucket")
    return MerkleDiff(
        diff=diff_join(inc_f, snap_f), changed=changed, n_buckets=n_buckets
    )
