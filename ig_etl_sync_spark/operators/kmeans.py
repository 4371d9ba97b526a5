"""Deterministic distributed k-means over embedding columns.

The clustering primitive under IVF indexing, corpus bucketing, and
semantic dedup — expressed so the result is CROSS-ENGINE BIT-IDENTICAL
and therefore DuckDB-oracle-checkable (the oracle unrolls the fixed
iteration count as CTEs):

- Embeddings are quantized ONCE to non-negative fixed-point BIGINTs:
  ``q_d = floor((x_d + offset) * scale)``. The affine step is three
  IEEE double ops (widen, add, multiply) that every engine rounds
  identically; everything after is integer arithmetic. The offset
  makes all quantities non-negative so Spark's ``div`` (truncate
  toward zero) and DuckDB's ``//`` agree (the repo's PageRank rule);
  it cancels in distances and is preserved exactly by centroid means.
- Init: the ``k`` ids that sort FIRST BY MD5 HASH (md5_int32 — the
  repo's cross-engine hash primitive), a deterministic pseudo-random
  draw that spreads seeds across the corpus instead of clustering
  them in one id-range corner (min-id seeding measurably failed to
  separate well-separated blobs). ``orderBy().limit(k)`` —
  TakeOrderedAndProject, never a global sort; cid = 0..k-1 in hash
  order.
- Assignment is SHUFFLE-FREE: the k centroids ride as a small int64
  codebook closed over by an Arrow-batched pandas UDF that scans
  each vector batch with numpy (running lexicographic (dist, cid)
  min) — no window, and the corpus never moves.
- Update: posexplode to (cluster, dim) partial sums — map-side
  combine collapses each partition to ≤ k*dims rows before the
  exchange — then integer floor-div means, a bounded collect of
  k*dims numbers. Empty clusters keep their previous centroid.

Scale: per sweep, the only corpus-wide work is one vectorized
projection (assignment) and one partial-agg shuffle bounded at k*dims
rows.
100 TB of vectors stream through; only k*dims numbers ever gather.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ig_etl_sync_spark.functions.hashing import md5_int32

__all__ = ["kmeans_assign", "quantize_embeddings"]

#: fixed-point quantization: q = floor((x + _OFFSET) * _SCALE).
#: _OFFSET must exceed max|x| so every q is strictly positive
#: (truncating and floor integer division then agree cross-engine).
_SCALE = 1_000_000
_OFFSET = 2.0
_QMAX = int(2 * _OFFSET * _SCALE)  # q of a +_OFFSET component


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qv"
) -> DataFrame:
    """Non-negative fixed-point quantization of a float-array column.

    Correctness of the cross-engine contract depends on every quantized
    value being strictly positive (truncating ``div`` and floor ``//``
    agree only then), which requires every component >= ``-_OFFSET``
    (−2.0); the symmetric bound <= ``_OFFSET`` keeps the assignment's
    int64 math exact. Out-of-range components raise at scan time."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            (x.cast("double") + F.lit(_OFFSET)) * F.lit(float(_SCALE))
        ).cast("long"),
    )
    # Guard on the quantized array itself — truncating div and floor //
    # disagree only for NEGATIVE q, so q >= 0 is the exact contract —
    # and Catalyst CSEs the transform instead of running a second array
    # pass; empty/NULL arrays have nothing out of range.
    in_range = F.coalesce(
        (F.array_min(q) >= F.lit(0)) & (F.array_max(q) <= F.lit(_QMAX)), F.lit(True)
    )
    checked = F.when(in_range, q).otherwise(
        F.raise_error(
            F.lit(
                f"quantize_embeddings: a component outside [-{_OFFSET}, "
                f"{_OFFSET}] breaks the strictly-positive quantization "
                "contract (raise _OFFSET or rescale inputs)"
            )
        )
    )
    return df.withColumn(out_col, checked)


def _np_assign_udf(cents: list[list[int]]):
    """Vectorized nearest-centroid scan (round 9): an Arrow-batched
    pandas UDF over the quantized vectors with the codebook closed over
    as a numpy int64 matrix.

    Replaces the interpreted nested-HOF scan (transform × zip_with ×
    aggregate never enter whole-stage codegen; stage-profiled at ~4 ms
    PER ROW at k=16 — ~20 s of the 37 s executor time of
    semantic_dedup_screen at sf0.1). Bit-identity is unconditional
    here, unlike the float folds the repo keeps in HOF form: every
    quantity is an exact int64 (q ≤ _QMAX = 4e6 is guarded, so squared-
    diff sums stay ≤ dims·1.6e13 « 2^63 below 5e5 dims), integer addition is
    associative so summation order cannot matter, and the strict `<`
    running min with centroids scanned in cid order keeps the smallest
    cid on ties (pinned against a pure-Python reference scan, ties
    included, in tests/test_kmeans.py)."""
    C = np.asarray(cents, dtype=np.int64)

    @F.pandas_udf("struct<cluster: bigint, dist2: bigint>")
    def f(qv: pd.Series) -> pd.DataFrame:
        if len(qv) == 0:
            return pd.DataFrame({"cluster": [], "dist2": []})
        X = np.stack(qv.to_numpy()).astype(np.int64, copy=False)
        best_d = ((X - C[0]) ** 2).sum(axis=1)
        best_c = np.zeros(len(qv), dtype=np.int64)
        for j in range(1, C.shape[0]):
            d = ((X - C[j]) ** 2).sum(axis=1)
            m = d < best_d
            best_d = np.where(m, d, best_d)
            best_c = np.where(m, np.int64(j), best_c)
        return pd.DataFrame({"cluster": best_c, "dist2": best_d})

    return f


def kmeans_assign(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration k-means → ``(id_col, cluster BIGINT, dist2
    BIGINT)``: each vector's final cluster and its integer squared
    distance (in quantized units) to that cluster's centroid.

    Runs ``iters`` assign→update sweeps from the deterministic seed
    (the ``k`` ids that sort first by ``(md5_int32(id), id)`` — a
    replayable pseudo-random draw), then a final assignment against the
    last centroids. Every step is integer arithmetic on non-negative
    quantities — bit-identical in any engine (see module docstring;
    the DuckDB oracle in contract.py replays all of it).
    """
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    if iters < 0:
        raise ValueError(f"iters={iters} must be >= 0")
    corpus = quantize_embeddings(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        vec_col="_v",
        out_col="qv",
    ).select("_id", "qv")
    # Quantization is cheap but the corpus feeds every sweep — keep the
    # scan from re-running per iteration without caching data bigger
    # than the source (qv is the same width as the input).
    corpus = corpus.localCheckpoint(eager=False)

    # Seeds: the k rows that sort first by (md5_int32(id), id) — a
    # bounded TakeOrdered collect (k·dims ints, the driver posture this
    # module documents); cid = collected order, identical to the old
    # row_number-over-the-limit form.
    seed_key = md5_int32(F.col("_id").cast("string"))
    seed_rows = (
        corpus.withColumn("_h", seed_key)
        .orderBy("_h", "_id")
        .limit(k)
        .select("qv")
        .collect()
    )
    if not seed_rows:
        # empty corpus: empty result, schema preserved
        return corpus.select(
            F.col("_id").alias(id_col),
            F.lit(None).cast("long").alias("cluster"),
            F.lit(None).cast("long").alias("dist2"),
        )
    # The UDF stacks vectors into one matrix: the seeds are checked here,
    # every other vector in-plan before the UDF sees it.
    dims = len(seed_rows[0]["qv"] or ())
    bad = f"kmeans_assign: NULL, empty or ragged {vec_col} (want {dims} components)"
    if not dims or any(len(r["qv"] or ()) != dims for r in seed_rows):
        raise ValueError(bad)
    cents: list[list[int]] = [[int(x) for x in r["qv"]] for r in seed_rows]
    corpus = corpus.withColumn(
        "qv",
        F.when(F.size("qv") == dims, F.col("qv")).otherwise(F.raise_error(F.lit(bad))),
    )

    def assign(cs: list[list[int]]) -> DataFrame:
        """One vectorized nearest-centroid pass (see _np_assign_udf):
        the corpus never moves, the codebook rides the UDF closure."""
        f = _np_assign_udf(cs)
        return corpus.select("_id", "qv", f("qv").alias("_b")).select(
            "_id",
            "qv",
            F.col("_b.cluster").alias("cluster"),
            F.col("_b.dist2").alias("dist2"),
        )

    for _ in range(iters):
        a = assign(cents)
        # per-(cluster, dim) integer sums — map-side combine bounds the
        # exchange at k*dims rows per partition; the floor means are a
        # bounded k·dims collect and the empty-cluster carry-forward is
        # a driver-side dict merge (the old per-sweep centroid
        # checkpoint + coalesce join, now zero Spark jobs).
        mrows = (
            a.select("cluster", F.posexplode("qv").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum("val").alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select(
                "cluster", "pos", F.expr("_s div _n").alias("_m")
            )
            .collect()
        )
        upd: dict[int, dict[int, int]] = {}
        for r in mrows:
            upd.setdefault(int(r["cluster"]), {})[int(r["pos"])] = int(
                r["_m"]
            )
        cents = [
            [m[p] for p in sorted(m)] if (m := upd.get(cid)) else cv
            for cid, cv in enumerate(cents)
        ]

    return assign(cents).select(
        F.col("_id").alias(id_col), "cluster", "dist2"
    )
