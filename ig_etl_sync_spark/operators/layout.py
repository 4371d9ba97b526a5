"""Data-layout operators: Z-order (Morton) clustering for multi-column
data skipping.

Why this exists: parquet/Delta scans prune files by per-file min/max
statistics. Sorting by one column gives perfect pruning on that column
and none on any other; interleaving the BITS of two key columns into a
single Morton code and range-partitioning on it gives bounded min/max
ranges on BOTH columns in every output file — the layout behind
`OPTIMIZE ZORDER BY` in Delta, reproduced here as plain expressions +
`repartitionByRange`, with no table-format dependency.

Scale design (100 TB):

- Keys are first min/max-scaled into the code domain — a ONE-ROW
  aggregate (map-side partial → single reduce) broadcast back, the
  same shape as the BM25 stats row. Raw keys won't do: real key
  domains occupy arbitrary bit ranges, and whichever column has the
  wider magnitude monopolizes the high interleave bits. (Delta uses
  range-ids — rank-based — for the same reason; linear scaling keeps
  the construction a pure expression and oracle-replayable. For
  heavily skewed domains substitute a rank/quantile pass.)
- The z-value itself is a plan-time-unrolled chain of shift/mask/or
  terms — whole-stage-codegen'd JVM expressions, zero Python.
- The layout is exactly ONE range shuffle (`repartitionByRange(n, z)`
  samples the z distribution and balances output files) plus the
  in-partition sort feeding the writer — the cost of any clustered
  write, buying min/max pruning on EVERY z-ordered dimension at read.
- Skipping is verifiable without reading files: bucket rows by the
  z-value's top bits (= file boundaries under range partitioning) and
  inspect per-bucket min/max of each dimension — the contract query
  (`zorder_bucket_stats`) does this; a DuckDB oracle replays it
  bit-for-bit.

No counterpart in the reference (672-LoC Go tool, no storage layout);
§2.9 extension in the 100 TB-efficiency family.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zvalue", "with_scaled_zvalue", "zorder_layout", "zorder_bucket_stats"]


def zvalue(a: Column, b: Column, bits: int = 8) -> Column:
    """Morton code of two integer keys already in ``[0, 2**bits)``:
    bits interleaved (a on even positions, b on odd) into one BIGINT.
    Unrolled to ``2*bits`` shift/mask/or terms at plan time — pure JVM
    expression, codegen-fused. Wider keys alias (high bits masked);
    use :func:`with_scaled_zvalue` for arbitrary domains."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits={bits} outside [1, 31]")
    mask = (1 << bits) - 1
    am = a.cast("long").bitwiseAND(F.lit(mask))
    bm = b.cast("long").bitwiseAND(F.lit(mask))
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(am, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(bm, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda x, y: x.bitwiseOR(y), terms)


def with_scaled_zvalue(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 8,
    z_col: str = "_z",
) -> DataFrame:
    """Add a Morton code over min/max-scaled keys.

    ``scaled = floor((x - min) * 2**bits / (max - min + 1))`` maps each
    key linearly onto ``[0, 2**bits)`` — integer-exact inputs, one
    int/int double division, identical in any IEEE engine. The min/max
    row is a single partial-aggregated reduce, broadcast back; the
    corpus is never shuffled."""
    m = 1 << bits
    stats = df.agg(
        F.min(col_a).alias("_mna"),
        F.max(col_a).alias("_mxa"),
        F.min(col_b).alias("_mnb"),
        F.max(col_b).alias("_mxb"),
    )

    def scaled(x: Column, mn: Column, mx: Column) -> Column:
        span = mx - mn + F.lit(1)
        return F.floor((x - mn) * F.lit(m) / span)

    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            z_col,
            zvalue(
                scaled(F.col(col_a), F.col("_mna"), F.col("_mxa")),
                scaled(F.col(col_b), F.col("_mnb"), F.col("_mxb")),
                bits,
            ),
        )
        .drop("_mna", "_mxa", "_mnb", "_mxb")
    )


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_files: int = 64,
    bits: int = 8,
) -> DataFrame:
    """Cluster ``df`` for two-column data skipping: scaled Morton code,
    ONE range shuffle, in-partition sort. Write the result as-is; each
    output file then carries tight min/max on BOTH columns."""
    return (
        with_scaled_zvalue(df, col_a, col_b, bits)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def zorder_bucket_stats(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bucket_bits: int = 6,
    bits: int = 8,
) -> DataFrame:
    """Per-bucket skipping statistics: bucket = top ``bucket_bits`` of
    the scaled z-value (the deterministic stand-in for range-partition
    file boundaries), with min/max of both dimensions and row count —
    the numbers a reader's pruning decision would use."""
    z = with_scaled_zvalue(df, col_a, col_b, bits)
    bucket = F.shiftright(F.col("_z"), 2 * bits - bucket_bits)
    return (
        z.select(bucket.alias("bucket"), F.col(col_a), F.col(col_b))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(col_a).alias(f"min_{col_a}"),
            F.max(col_a).alias(f"max_{col_a}"),
            F.min(col_b).alias(f"min_{col_b}"),
            F.max(col_b).alias(f"max_{col_b}"),
        )
    )


def partitioned_write(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet write with explicit file-count
    control — the layout that makes partition PRUNING (directory
    elimination, before any file I/O) work for predicate columns.

    Why the repartition: ``df.write.partitionBy(c)`` alone writes one
    file per (task, partition-value) pair — at 100 TB, 10k tasks ×
    365 days = millions of tiny files, the classic small-files
    explosion. Repartitioning ON the partition columns first routes
    each value to at most ``files_per_partition`` tasks (a salt column
    splits hot partitions across writers), so the output is at most
    ``files_per_partition`` well-sized files per directory.

    Skew note: one giant partition value still bottlenecks its
    writers; raise ``files_per_partition`` (or pre-split by a finer
    column) for hot values rather than globally.
    """
    if files_per_partition < 1:
        raise ValueError(f"files_per_partition={files_per_partition} < 1")
    cols = [F.col(c) for c in partition_cols]
    if files_per_partition == 1:
        routed = df.repartition(*cols)
    else:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(files_per_partition),
        )
        routed = df.repartition(*cols, salt.alias("_fsalt"))
    routed.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def compact(
    spark,
    path: str,
    out_path: str,
    target_file_mb: int = 128,
    mode: str = "error",
) -> int:
    """Compact a parquet directory into ~``target_file_mb``-sized files
    — the maintenance pass that undoes small-file accumulation from
    incremental writes (every streaming micro-batch and every
    fine-grained partition append leaves files far below the
    scan-efficient size; readers then pay one task + one open per
    scrap).

    File count derives from the directory's actual byte size via the
    Hadoop FileSystem API (works on any scheme the cluster mounts:
    s3a, hdfs, file). Returns the target file count. One full
    read + round-robin repartition + write; pair with
    ``VersionedParquetTable`` to publish the
    compacted copy atomically instead of overwriting in place.
    """
    import math

    if target_file_mb < 1:
        raise ValueError(f"target_file_mb={target_file_mb} < 1")
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(hpath).getLength()
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    # round-robin repartition: balances bytes regardless of key skew
    df.repartition(n).write.mode(mode).parquet(out_path)
    return n


def rendezvous_assign(
    df: DataFrame,
    key_col: str,
    shards: Sequence[str],
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment — the
    stable-layout primitive (Thaler & Ravishankar 1998, public): each
    key goes to ``argmax_s md5(s || ':' || key)``, so adding or
    removing one shard moves ONLY the keys whose argmax was that shard
    (~1/|shards| of them) — no global reshuffle on topology change,
    unlike ``hash(key) % n``.

    Ties broken toward the LARGER shard name (struct max compares
    (hash, name) lexicographically; md5 collisions across shard draws
    are real at corpus scale). Deterministic, engine-replayable via
    the repo's md5 primitive.

    Scale: pure map-side — one O(|shards|) array expression per row,
    zero shuffle, zero state; the shard list is a plan-time literal.
    """
    from ig_etl_sync_spark.functions.hashing import md5_int32

    if not shards:
        raise ValueError("rendezvous_assign: shards must be non-empty")
    if len(set(shards)) != len(shards):
        raise ValueError("rendezvous_assign: duplicate shard names")
    key = F.col(key_col).cast("string")
    draws = F.array(
        *[
            F.struct(
                md5_int32(F.concat(F.lit(s), F.lit(":"), key)).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in sorted(shards)
        ]
    )
    return df.withColumn(out_col, F.array_max(draws)["s"])


def training_shuffle_order(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    *,
    seed: str = "shuffle-v1",
) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets
    a ``(shard, pos)`` address under a seeded pseudorandom permutation
    — the "shuffle the corpus once, stream shards in order" layout
    every epoch-based trainer needs, reproducible across engines and
    re-runs (same seed ⇒ byte-identical order; new seed ⇒ an
    independent permutation, no data movement logic to rewrite).

    Shard = ``md5_int32(seed:key) mod n_shards`` (each shard is an
    unbiased sample); position = rank of the FULL md5 digest of the
    same draw within the shard, key-tiebroken (total order even under
    digest collisions). Returns the input columns plus ``shard INT,
    pos BIGINT``.

    Scale: one hash-shuffle on the shard id then a per-shard sort —
    exactly the ``repartition(shard) + sortWithinPartitions`` shape a
    sharded-file writer executes, so materializing the order IS the
    write plan, with ``n_shards`` the file-count/parallelism dial. No
    global total-order sort (the rank is per shard), no skew (md5 is
    uniform), no driver state.
    """
    from ig_etl_sync_spark.functions.hashing import md5_int32

    if n_shards < 1:
        raise ValueError(f"n_shards={n_shards} must be >= 1")
    from pyspark.sql import Window

    key = F.col(key_col).cast("string")
    draw = F.concat(F.lit(seed), F.lit(":"), key)
    out = df.withColumn(
        "shard", (md5_int32(draw) % F.lit(n_shards)).cast("int")
    ).withColumn("_ord", F.md5(draw))
    w = Window.partitionBy("shard").orderBy("_ord", key)
    return out.withColumn(
        "pos", (F.row_number().over(w) - F.lit(1)).cast("long")
    ).drop("_ord")


def token_balanced_shards(
    docs: DataFrame,
    n_shards: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt_buckets: int | None = None,
    seed: str = "balance-v1",
) -> DataFrame:
    """Assign documents to ``n_shards`` with near-equal TOKEN totals —
    the sharding a trainer wants when documents vary 100× in length
    and plain hash sharding leaves some shards starved.

    Deterministic two-level snake, chosen for scale-safety: a naive
    snake needs one GLOBAL length-ordered rank — a single-task sort at
    corpus scale (the repo's IVF lesson). Instead each doc salts into
    one of ``salt_buckets`` pseudo-random buckets (seeded md5 — each
    bucket is an unbiased sample of the length distribution), and the
    snake runs WITHIN each bucket over (n_tokens DESC, id): rank r
    maps to shard ``r mod 2n`` folded back above n (0,1,..,n-1,
    n-1,..,1,0 — consecutive long docs land on DIFFERENT shards and
    each shard gets one doc per fold window). Summing ``salt_buckets``
    independently-balanced assignments keeps the totals tight while
    every window is bucket-partitioned — B-way parallel, no global
    sort, no driver state.

    Returns the input keys plus ``(n_tokens BIGINT, shard INT)``;
    deterministic for a fixed (seed, salt_buckets, n_shards) in any
    engine. Balance is property-tested (max/min shard token totals)
    in tests/test_round5_ops.py.

    SIZING RULE (now enforced in code, round 6): each bucket must run
    MANY folds — require ``docs / salt_buckets >> 2 * n_shards``. With
    fewer docs per bucket than one fold the snake degenerates into
    sorted assignment (shard 0 gets every bucket's longest doc —
    measured 3.2× token spread at 500 docs / 64 buckets / 8 shards, vs
    1.02× at 4 buckets). ``salt_buckets`` is the parallelism dial, so
    it must scale WITH the corpus:

    - ``salt_buckets=None`` (default) AUTO-SIZES to
      ``clamp(docs / (100*n_shards), 1, 65536)`` — ~50 folds per
      bucket at any corpus size, one extra count job to read the size.
    - an EXPLICIT ``salt_buckets`` in the measured degenerate regime
      (fewer than 2·n_shards docs per bucket, i.e. under one full fold)
      emits a ``UserWarning`` naming the spread hazard; it is a warning
      and not an error because tiny corpora hit it legitimately and the
      assignment stays deterministic — just unbalanced.
    """
    import warnings

    from pyspark.sql import Window

    from ig_etl_sync_spark.functions.hashing import md5_int32
    from ig_etl_sync_spark.operators.textops import normalized_text, tokens

    if n_shards < 1:
        raise ValueError(f"n_shards={n_shards} must be >= 1")
    if salt_buckets is None:
        n_docs = docs.count()
        salt_buckets = max(1, min(n_docs // (100 * n_shards), 65536))
    elif salt_buckets < 1:
        raise ValueError(f"salt_buckets={salt_buckets} must be >= 1")
    else:
        # Degenerate-regime probe, O(threshold) not O(corpus): a
        # limit(k).count() stops scanning once k rows exist, so a
        # healthy 100 TB corpus pays a few-partition peek while a
        # too-small corpus (the only case that can be degenerate) is
        # counted exactly.
        thr = salt_buckets * 2 * n_shards
        if docs.limit(thr).count() < thr:
            warnings.warn(
                f"token_balanced_shards: fewer than "
                f"{thr} (= salt_buckets * 2 * n_shards) docs leaves "
                "under one snake fold per salt bucket — the "
                "within-bucket snake degenerates toward sorted "
                "assignment (measured 3.2x token spread); lower "
                "salt_buckets or pass salt_buckets=None to auto-size "
                "at docs/(100*n_shards)",
                UserWarning,
                stacklevel=2,
            )
    key = F.col(id_col).cast("string")
    sized = docs.select(
        F.col(id_col),
        F.size(tokens(normalized_text(F.col(text_col))))
        .cast("long")
        .alias("n_tokens"),
        (
            md5_int32(F.concat(F.lit(seed), F.lit(":"), key))
            % F.lit(salt_buckets)
        ).alias("_b"),
    )
    w = Window.partitionBy("_b").orderBy(
        F.col("n_tokens").desc(), F.col(id_col).asc()
    )
    r = F.row_number().over(w) - F.lit(1)
    fold = r % F.lit(2 * n_shards)
    shard = F.when(fold < n_shards, fold).otherwise(
        F.lit(2 * n_shards - 1) - fold
    )
    return sized.select(
        id_col, "n_tokens", shard.cast("int").alias("shard")
    )


def curriculum_order(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    phase_col: str,
    *,
    seed: str = "curriculum-v1",
) -> DataFrame:
    """X110: quality-annealed curriculum ordering — the deterministic
    training ORDER behind "anneal to high quality late" schedules
    (curriculum learning, Bengio et al. 2009; the
    midtraining-anneal practice of recent open LLM recipes): every row
    gets a ``(shard, pos)`` address like
    :func:`training_shuffle_order`, but positions within a shard sort
    FIRST by an integer ``phase_col`` (lower = earlier in training),
    THEN by the seeded md5 draw. Each shard therefore replays the SAME
    quality progression — phase boundaries land at the same relative
    position in every shard (shards are unbiased samples), so parallel
    loaders stay phase-aligned without coordination — while WITHIN a
    phase the order is an unbiased seeded shuffle.

    Callers own phase construction; the registered contract anneal
    feeds perplexity terciles (tail=0 → head=2: worst data first,
    most-fluent data last). A constant phase degrades exactly to
    ``training_shuffle_order`` under the same seed (property-tested).

    Returns the input columns plus ``shard INT, pos BIGINT``.

    Scale: identical to the plain shuffle — one hash-shuffle on the
    shard id, one per-shard sort (= the ``repartition +
    sortWithinPartitions`` write plan); the phase prefix adds a sort
    key, not a pass. No global sort, no skew, no driver state.
    """
    from ig_etl_sync_spark.functions.hashing import md5_int32

    if n_shards < 1:
        raise ValueError(f"n_shards={n_shards} must be >= 1")
    from pyspark.sql import Window

    key = F.col(key_col).cast("string")
    draw = F.concat(F.lit(seed), F.lit(":"), key)
    out = df.withColumn(
        "shard", (md5_int32(draw) % F.lit(n_shards)).cast("int")
    ).withColumn("_ord", F.md5(draw))
    w = Window.partitionBy("shard").orderBy(
        F.col(phase_col).cast("long"), F.col("_ord"), key
    )
    return out.withColumn(
        "pos", (F.row_number().over(w) - F.lit(1)).cast("long")
    ).drop("_ord")
