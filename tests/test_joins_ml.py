"""Salted join, native LSH recall, expr projections, fuzzy joins."""

from __future__ import annotations

import pyspark.sql.functions as F

from ig_etl_sync_spark.operators.joins import salted_join
from ig_etl_sync_spark.operators.transforms import TransformSpec
from ig_etl_sync_spark.sources.json_source import read_json_document


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range(200 if k == "hot" else 5)],
        "k string, v int",
    )
    small = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, name string")
    plain = sorted(map(tuple, big.join(small, "k").select("k", "v", "name").collect()))
    salted = sorted(map(tuple, salted_join(big, small, "k", salt=4).select("k", "v", "name").collect()))
    assert plain == salted


def test_salted_join_spreads_partitions(spark):
    big = spark.createDataFrame([("hot", i) for i in range(100)], "k string, v int")
    small = spark.createDataFrame([("hot", "H")], "k string, name string")
    out = salted_join(big, small, "k", salt=4)
    assert out.count() == 100


def test_expr_projection_funcmap_parity(spark):
    """The reference's add/sub template helpers (main.go:149-156) as
    expr: projections."""
    doc = read_json_document(
        spark, {"items": [{"id": "x", "n": 5}, {"id": "y", "n": 7}]},
        schema="items array<struct<id:string,n:int>>",
    )
    spec = TransformSpec(
        name="calc",
        explode=(("items", "it"),),
        project={
            "external_id": "it.id",
            "n_plus_2": "expr:it.n + 2",
            "n_minus_1": "expr:it.n - 1",
            "n_str": "expr:concat('v', it.n)",
        },
    )
    got = {r["external_id"]: r.asDict() for r in spec.apply(doc).collect()}
    assert got["x"]["n_plus_2"] == "7" and got["x"]["n_minus_1"] == "4"
    assert got["y"]["n_str"] == "v7"


def test_lsh_topk_native_recall_floor(spark, sf_dir):
    """Native hyperplane LSH must track exact brute-force top-k: pins an
    absolute recall@5 floor on sf0.001 embeddings at planes=6,
    probe_hamming=2, tables=2."""
    from ig_etl_sync_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id < 25")
    k = 5

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(brute_force_topk(emb, q, k=k))
    native = pairs(lsh_topk(emb, q, k=k, planes=6, probe_hamming=2, tables=2))
    recall = len(native & truth) / len(truth)
    assert recall >= 0.6, recall


def test_fuzzy_match_join_soundness(spark):
    """Length blocking must not miss any pair within max_dist — compare
    against the naive all-pairs answer, including a cross-length pair."""
    from ig_etl_sync_spark.operators.joins import fuzzy_match_join
    from pyspark.sql import functions as F

    names = ["kitten", "sitten", "mitten", "kitte", "kittens", "dog"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        (r["a"], r["b"], r["dist"])
        for r in fuzzy_match_join(df, df, "name", max_dist=1).collect()
    }
    a = df.select(F.col("name").alias("x"))
    b = df.select(F.col("name").alias("y"))
    naive = {
        (r["x"], r["y"], r["d"])
        for r in a.crossJoin(b)
        .where(F.col("x") < F.col("y"))
        .select("x", "y", F.levenshtein("x", "y").alias("d"))
        .where(F.col("d") <= 1)
        .collect()
    }
    assert got == naive and len(got) >= 4


def test_fuzzy_match_join_rejects_negative(spark):
    from ig_etl_sync_spark.operators.joins import fuzzy_match_join

    df = spark.createDataFrame([("x",)], "name string")
    import pytest as _pt

    with _pt.raises(ValueError):
        fuzzy_match_join(df, df, "name", max_dist=-1)


def test_fuzzy_rare_gram_blocking_is_exact(spark):
    """Rare-q-gram prefix blocking must return EXACTLY the
    length-blocked baseline's pairs — on seeded random strings
    spanning every blocking route (below-q shorts, boundary lengths
    around the gram-count guarantee, template-prefixed longs,
    single-edit families), at max_dist 1 and 2."""
    import random

    from pyspark.sql import functions as F

    from ig_etl_sync_spark.operators.joins import (
        fuzzy_match_join,
        fuzzy_match_join_rare_gram,
    )

    rng = random.Random(42)
    alpha = "abc"
    base: list[str] = []
    for n in (1, 2, 3, 4, 5, 6, 7, 10, 14):
        base += [
            "".join(rng.choice(alpha) for _ in range(n)) for _ in range(6)
        ]
    # template-prefixed family (the length-blocking worst case)
    base += [f"CUSTOMER_{rng.randrange(100):03d}" for _ in range(25)]
    # single-edit neighbours of a few seeds
    for s in rng.sample(base, 12):
        i = rng.randrange(len(s))
        base.append(s[:i] + rng.choice(alpha) + s[i:])  # insert
        base.append(s[:i] + s[i + 1:])                  # delete
    names = sorted(set(base) - {""})
    df = spark.createDataFrame([(n,) for n in names], "name string")
    for d in (1, 2):
        want = {
            (r["a"], r["b"], r["dist"])
            for r in fuzzy_match_join(df, df, "name", max_dist=d).collect()
        }
        got = {
            (r["a"], r["b"], r["dist"])
            for r in fuzzy_match_join_rare_gram(
                df, df, "name", max_dist=d
            ).collect()
        }
        assert got == want, (
            d, sorted(want - got)[:5], sorted(got - want)[:5]
        )
        assert len(want) > 10  # the comparison is non-vacuous
    # distinct left/right sides: output is (left value, right value)
    l_df = spark.createDataFrame([("kitten",), ("dog",)], "name string")
    r_df = spark.createDataFrame([("sitten",), ("dog",)], "name string")
    got_lr = {
        (r["a"], r["b"])
        for r in fuzzy_match_join_rare_gram(
            l_df, r_df, "name", max_dist=1
        ).collect()
    }
    assert got_lr == {("kitten", "sitten")}
