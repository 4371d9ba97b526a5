"""Deterministic fixed-point k-means (operators/kmeans.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.kmeans import kmeans_assign, quantize_embeddings


def _blobs(spark):
    """Three well-separated 4-d blobs, 5 points each."""
    rows = []
    centers = [(-0.9, -0.9, -0.9, -0.9), (0.0,) * 4, (0.9, 0.9, 0.9, 0.9)]
    i = 0
    for b, c in enumerate(centers):
        for j in range(5):
            eps = 0.01 * (j - 2)
            rows.append((i, [x + eps for x in c], b))
            i += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, blob int"
    )


def test_kmeans_separates_blobs(spark):
    df = _blobs(spark)
    out = kmeans_assign(df, k=3, iters=3)
    j = out.join(df.select("vec_id", "blob"), "vec_id")
    # each blob maps to exactly one cluster and clusters don't merge
    m = j.groupBy("blob").agg(F.count_distinct("cluster").alias("nc")).collect()
    assert all(r.nc == 1 for r in m)
    assert j.select("cluster").distinct().count() == 3


def test_kmeans_deterministic(spark):
    df = _blobs(spark)
    a = sorted(map(tuple, kmeans_assign(df, k=3, iters=2).collect()))
    b = sorted(map(tuple, kmeans_assign(df, k=3, iters=2).collect()))
    assert a == b


def test_kmeans_seed_points_have_zero_distance_at_iter0(spark):
    df = _blobs(spark)
    out = kmeans_assign(df, k=3, iters=0).collect()
    # with no sweeps the k hash-drawn seeds are their own centroids:
    # exactly k rows at distance 0, one per distinct cluster
    zeros = [r for r in out if r.dist2 == 0]
    assert len(zeros) == 3
    assert len({r.cluster for r in zeros}) == 3


def test_kmeans_survives_k_exceeding_points(spark):
    df = _blobs(spark).where(F.col("vec_id") < 4)
    out = kmeans_assign(df, k=8, iters=2).collect()
    assert len(out) == 4
    assert len({r.cluster for r in out}) <= 4


def test_assign_udf_matches_reference_scan_with_ties(spark):
    """The vectorized assignment equals a pure-Python lexicographic
    (dist2, cid) scan; equidistant centroids go to the smallest cid."""
    from ig_etl_sync_spark.operators.kmeans import _np_assign_udf

    cents = [[0, 0], [2, 0], [0, 2], [2, 0]]  # cid 3 duplicates cid 1
    pts = [[1, 0], [1, 1], [2, 0], [5, 5], [0, 1], [3, 3]]

    def reference(p):
        return min(
            (sum((a - b) ** 2 for a, b in zip(p, c)), cid)
            for cid, c in enumerate(cents)
        )

    df = spark.createDataFrame(
        list(enumerate(pts)), "id long, qv array<bigint>"
    )
    got = {
        r.id: (r.dist2, r.cluster)
        for r in df.select("id", _np_assign_udf(cents)("qv").alias("b"))
        .select("id", "b.cluster", "b.dist2")
        .collect()
    }
    assert got == {i: reference(p) for i, p in enumerate(pts)}


def test_quantize_non_negative_and_monotone(spark):
    df = spark.createDataFrame(
        [(1, [-0.99, 0.0, 0.99])], "vec_id long, embedding array<float>"
    )
    q = quantize_embeddings(df).first().qv
    assert all(v > 0 for v in q)
    assert q == sorted(q)
    assert q[1] == 2_000_000  # floor((0.0 + 2.0) * 1e6)


def test_quantize_rejects_out_of_range_components(spark):
    from ig_etl_sync_spark.operators.kmeans import quantize_embeddings

    bad = spark.createDataFrame([(1, [0.5, -3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="strictly-positive quantization"):
        quantize_embeddings(bad).collect()
    # boundary-legal and empty arrays still pass
    ok = spark.createDataFrame(
        [(1, [-1.999999, 1.0]), (2, [])], "vec_id long, embedding array<double>"
    )
    rows = {r.vec_id: r.qv for r in quantize_embeddings(ok).collect()}
    assert rows[1][0] >= 0 and rows[2] == []


def test_quantize_rejects_components_above_offset(spark):
    """The symmetric upper bound: q <= 4e6 keeps the assignment's int64
    squared distances exact; 2.0 itself is still legal."""
    bad = spark.createDataFrame([(1, [0.5, 3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="strictly-positive quantization"):
        quantize_embeddings(bad).collect()
    ok = spark.createDataFrame([(1, [2.0, -2.0])], "vec_id long, embedding array<double>")
    assert quantize_embeddings(ok).first().qv == [4_000_000, 0]


@pytest.mark.parametrize(
    "bad_vec", [None, [], [0.1, 0.2, 0.3]], ids=["null", "empty", "ragged"]
)
def test_kmeans_rejects_null_empty_and_ragged_vectors(spark, bad_vec):
    """A NULL, empty or wrong-length vector raises a clear error instead
    of failing inside the assignment's matrix stack. By md5 order id 99
    is the second seed: k=2 draws it as a seed, k=1 leaves it to the
    in-plan check."""
    rows = [(i, [0.1 * i, 0.0, 0.1, 0.2]) for i in range(6)] + [(99, bad_vec)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for k in (1, 2):
        with pytest.raises(Exception, match="NULL, empty or ragged"):
            kmeans_assign(df, k=k, iters=1).collect()


def test_cohort_retention_rejects_unsupported_period(spark):
    from ig_etl_sync_spark.operators.sessions import cohort_retention

    ev = spark.createDataFrame([], "user_id long, ts timestamp")
    with pytest.raises(ValueError, match="period='month' unsupported"):
        cohort_retention(ev, period="month")
