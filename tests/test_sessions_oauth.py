"""Sessionization."""

from __future__ import annotations

import datetime as dt

import pytest

from ig_etl_sync_spark.operators.sessions import session_stats, with_session_id


@pytest.fixture(scope="module")
def events(spark):
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # user 1: two sessions (gap 45 min between event 2 and 3)
        (1, base),
        (1, base + dt.timedelta(minutes=10)),
        (1, base + dt.timedelta(minutes=55)),
        (1, base + dt.timedelta(minutes=60)),
        # user 2: one session
        (2, base),
        (2, base + dt.timedelta(minutes=29)),
    ]
    return spark.createDataFrame(rows, "user_id int, ts timestamp")


def test_session_boundaries(spark, events):
    tagged = with_session_id(events, gap_seconds=1800)
    got = {(r["user_id"], r["ts"]): r["session_id"] for r in tagged.collect()}
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    assert got[(1, base)] == 1
    assert got[(1, base + dt.timedelta(minutes=10))] == 1
    assert got[(1, base + dt.timedelta(minutes=55))] == 2  # 45-min gap breaks
    assert got[(1, base + dt.timedelta(minutes=60))] == 2
    assert got[(2, base)] == 1
    assert got[(2, base + dt.timedelta(minutes=29))] == 1


def test_session_stats(spark, events):
    stats = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_sec"])
        for r in session_stats(events, gap_seconds=1800).collect()
    }
    assert stats[(1, 1)] == (2, 600)
    assert stats[(1, 2)] == (2, 300)
    assert stats[(2, 1)] == (2, 1740)


def test_exact_gap_is_same_session(spark):
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(seconds=1800))], "user_id int, ts timestamp"
    )
    tagged = with_session_id(df, gap_seconds=1800)
    assert {r["session_id"] for r in tagged.collect()} == {1}  # > gap breaks, == gap doesn't
