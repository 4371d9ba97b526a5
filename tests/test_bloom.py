"""Bloom filter: no false negatives, fp rate sanity, probe plan purity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.bloom import (
    bloom_build,
    bloom_probe_frame,
    collect_words,
)

N_BITS = 1 << 12  # small filter so fp is measurable


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 1000, 2)], ["key"]  # even keys
    )


@pytest.fixture()
def facts(spark):
    return spark.createDataFrame(
        [(f"k{i}", i) for i in range(1000)], ["key", "v"]  # all keys
    )


def survivors(facts, dim):
    """Facts whose key passes the dim-side bloom: build, collect the
    words, probe — the path the contract's bloom queries run."""
    words = collect_words(bloom_build(dim, "key", N_BITS), N_BITS)
    return bloom_probe_frame(facts, "key", words, N_BITS).where(F.col("_pass"))


def test_no_false_negatives(spark, dim, facts):
    out = survivors(facts, dim)
    got = {r.key for r in out.collect()}
    members = {f"k{i}" for i in range(0, 1000, 2)}
    assert members <= got  # every true member passes


def test_false_positive_rate_bounded(spark, dim, facts):
    out = survivors(facts, dim)
    got = {r.key for r in out.collect()}
    non_members = {f"k{i}" for i in range(1, 1000, 2)}
    fp = len(got & non_members) / len(non_members)
    # m=4096, n=500, k=3 -> theoretical fp ~ (1-e^{-3*500/4096})^3 ~ 2.9%
    assert fp < 0.10


def test_exact_semi_join_after_prefilter(spark, dim, facts):
    pre = survivors(facts, dim)
    exact = pre.join(dim, "key", "left_semi")
    assert exact.count() == 500


def test_build_is_deterministic_and_partition_independent(spark, dim):
    a = collect_words(bloom_build(dim, "key", N_BITS), N_BITS)
    b = collect_words(bloom_build(dim.repartition(7), "key", N_BITS), N_BITS)
    assert a == b
    assert any(w != 0 for w in a)
    # 32-bit words in BIGINT: never negative, never above 2^32-1
    assert all(0 <= w < (1 << 32) for w in a)


def test_probe_plan_has_no_join_or_shuffle(spark, dim, facts):
    words = collect_words(bloom_build(dim, "key", N_BITS), N_BITS)
    probe = bloom_probe_frame(facts, "key", words, N_BITS).where(F.col("_pass"))
    p = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "Join" not in p


def test_word_length_validated(spark):
    with pytest.raises(ValueError, match="words length"):
        bloom_probe_frame(spark.range(1), "id", [0, 1], N_BITS)


def test_n_bits_multiple_of_word(spark, dim):
    with pytest.raises(ValueError, match="multiple"):
        bloom_build(dim, "key", n_bits=100)
