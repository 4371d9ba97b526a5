"""Regression tests for the second review round."""

from __future__ import annotations

import datetime as dt

import pytest

from ig_etl_sync_spark.operators.similarity import lsh_topk
from ig_etl_sync_spark.operators.temporal import as_of_join, range_join

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def ts(sec):
    return T0 + dt.timedelta(seconds=sec)


def test_range_join_keeps_samekey_samets_rows(spark):
    """Two left rows sharing (key, ts) but differing in payload must
    BOTH keep their matches (the old dedup dropped one)."""
    left = spark.createDataFrame(
        [(1, "e1", ts(0)), (1, "e2", ts(0))], "k int, eid string, ts timestamp"
    )
    right = spark.createDataFrame([(1, ts(-10))], "k int, ts timestamp")
    got = sorted(
        r["eid"] for r in range_join(left, right, on="k", lower_sec=-60, upper_sec=0).collect()
    )
    assert got == ["e1", "e2"]


def test_asof_null_right_ts_never_matches(spark):
    """A right row with NULL ts is no match (NULL <= t is never true)."""
    left = spark.createDataFrame([(2, ts(0), "t1")], "k int, ts timestamp, tid string")
    right = spark.createDataFrame([(2, None, 99.0)], "k int, ts timestamp, px double")
    row = as_of_join(left, right, on="k").collect()[0]
    assert row["px_r"] is None and row["ts_r"] is None


def test_asof_equal_ts_right_rows_deterministic(spark):
    """Equal (key, ts) right rows collapse to the max payload — stable
    across runs (was arbitrary carry order)."""
    left = spark.createDataFrame([(1, ts(10), "t1")], "k int, ts timestamp, tid string")
    right = spark.createDataFrame(
        [(1, ts(0), 5.0), (1, ts(0), 9.0)], "k int, ts timestamp, px double"
    )
    for _ in range(3):
        row = as_of_join(left, right, on="k").collect()[0]
        assert row["px_r"] == 9.0


def test_lsh_topk_checks_query_dim(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(4)], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(0, [1.0] * 4)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dimension is 4"):
        lsh_topk(corpus, queries, dim=8, planes=2)
