"""Dedup suite + similarity search (SURVEY §2.9 X1-X3)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ig_etl_sync_spark.operators import dedup as D
from ig_etl_sync_spark.operators import similarity as S


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank every single morning"
    rows = [
        (1, base),
        (2, base.replace("morning", "evening")),  # near-dup of 1
        (3, base),  # exact dup of 1
        (4, "completely different text about database engines and shuffle partitioning strategies at scale"),
        (5, "yet another unrelated document mentioning catalysts optimizers and columnar execution formats"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "x", 5.0), (1, "y", 3.0), (2, "z", 1.0)], "k int, v string, o double"
    )
    got = D.exact_dedup(df, keys=["k"], tiebreak=["o"]).collect()
    by_k = {r["k"]: r["v"] for r in got}
    assert by_k == {1: "y", 2: "z"}  # min by tiebreak, stable


def test_minhash_identical_docs_identical_sigs(spark, near_dup_docs):
    sigs = {r["doc_id"]: tuple(r["signature"]) for r in D.minhash_signatures(near_dup_docs).collect()}
    assert sigs[1] == sigs[3]
    assert sigs[1] != sigs[4]


def test_minhash_near_dup_pipeline(spark, near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.near_dup_pairs_minhash(near_dup_docs, threshold=0.5).collect()
    }
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0  # exact dup
    assert (1, 2) in pairs  # near dup caught
    assert all(not (a == 4 or b == 4) for a, b in pairs)  # unrelated stays out


def test_simhash_close_for_near_dups(spark, near_dup_docs):
    fps = {r["doc_id"]: r["simhash"] for r in D.simhash(near_dup_docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert fps[1] == fps[3]
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[4])


def test_simhash_pigeonhole_blocking_is_exact(spark, sf_dir):
    """Block-join blocking must find EVERY pair within max_hamming —
    compare against the all-pairs Hamming answer on real documents.
    (The r02 prefix-only blocking missed pairs whose differing bits
    fell in the 8-bit prefix.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = D.simhash(docs)
    a = fps.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = fps.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= 3)
        .collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    assert blocked == brute and len(brute) > 0


def test_simhash_block_bounds_cover_all_bits(spark):
    for bits, h in [(32, 3), (64, 3), (32, 4), (17, 2)]:
        bounds = D.simhash_block_bounds(bits, h)
        assert len(bounds) == h + 1
        assert sum(w for _, w in bounds) == bits
        covered = set()
        for shift, width in bounds:
            covered |= set(range(shift, shift + width))
        assert covered == set(range(bits))


def test_ngram_jaccard_blocked_equals_unblocked(spark, near_dup_docs):
    docs = near_dup_docs.withColumn("blk", F.lit(1))
    un = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(near_dup_docs, threshold=0.4).collect()}
    bl = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(docs, threshold=0.4, block_col="blk").collect()}
    assert un == bl and (1, 3) in un


def test_prefix_filter_jaccard_equals_brute_force(spark, sf_dir):
    """Prefix filtering is EXACT: same pairs and same jaccard values as
    the all-pairs baseline on real documents, at two thresholds (one of
    which exercises a non-trivial integer ceil boundary)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for t in (0.5, 0.35):
        brute = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in D.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pf = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in D.prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        }
        assert pf == brute and len(brute) > 0


def test_prefix_filter_jaccard_plan_has_no_cartesian(spark, near_dup_docs):
    plan = D.prefix_filter_jaccard_pairs(near_dup_docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_and_pq_recall_floors(spark, embeddings):
    """Pin recall@5 floors for the IVF and PQ paths against brute force
    (same guard the LSH path has): a silent degradation in centroid
    choice, list probing, or ADC re-rank drops below the floor."""
    q = embeddings.where("vec_id < 25")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(embeddings, q, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(embeddings, q, k=5, n_centroids=16, n_probe=8).collect()
    }
    # m=16/ks=32: tightly clustered 64-dim embeddings need fine
    # subquantizers — the coarse m=8/ks=16 default sits at ~0.42 here
    # (swept: rerank 8→32 goes 0.42→0.84 at default m/ks; m=16 ks=32
    # reaches 0.87 at rerank=8).
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in S.pq_topk(embeddings, q, k=5, m=16, ks=32, rerank=8).collect()
    }
    r_ivf = len(ivf & truth) / len(truth)
    r_pq = len(pq & truth) / len(truth)
    assert r_ivf >= 0.5, r_ivf
    assert r_pq >= 0.6, r_pq


def test_probe_masks_and_recall_monotone(spark, embeddings):
    """probe_masks must cover the FULL Hamming ball (the r02 bug only
    ever emitted single-bit masks, so probe_hamming>=2 was a no-op),
    and widening probes / adding tables must strictly grow recall on
    this data."""
    masks = S.probe_masks(8, 2)
    assert len(masks) == 1 + 8 + 28 and len(set(masks)) == len(masks)
    assert all(bin(m).count("1") <= 2 for m in masks)
    q = embeddings.where("vec_id < 25")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(embeddings, q, k=5).collect()
    }

    def recall(**kw):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.lsh_topk(embeddings, q, k=5, **kw).collect()
        }
        return len(got & truth) / len(truth)

    r1 = recall(planes=8, probe_hamming=1)
    r2 = recall(planes=8, probe_hamming=2)
    r2t = recall(planes=8, probe_hamming=2, tables=2)
    assert r1 < r2 < r2t, (r1, r2, r2t)


def test_brute_force_topk_contract(spark, embeddings):
    q = embeddings.where("vec_id < 3")
    got = S.brute_force_topk(embeddings, q, k=4)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    for qid in (0, 1, 2):
        ranks = sorted(r["rank"] for r in rows if r["query_id"] == qid)
        assert ranks == [1, 2, 3, 4]
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)


def test_pandas_topk_equals_brute_force(spark, embeddings):
    q = embeddings.where("vec_id < 3")
    bf = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in S.brute_force_topk(embeddings, q, k=5).collect()}
    pk = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in S.pandas_topk(embeddings, q, k=5).collect()}
    assert bf == pk


def test_lsh_topk_subset_scores_exact(spark, embeddings):
    """LSH results are approximate in RECALL but every returned score
    must equal the exact cosine (re-rank is exact)."""
    q = embeddings.where("vec_id < 3")
    bf = {(r["query_id"], r["neighbor_id"]): r["score"] for r in S.brute_force_topk(embeddings, q, k=200).collect()}
    for r in S.lsh_topk(embeddings, q, k=5).collect():
        assert bf[(r["query_id"], r["neighbor_id"])] == r["score"]


def test_embedding_near_dup_symmetric_free(spark, embeddings):
    pairs = D.embedding_near_dup_pairs(embeddings.limit(100), threshold=0.0)
    got = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert all(a < b for a, b in got)  # no self/symmetric dupes


def test_hoisted_norm_cosine_is_bit_identical(spark, embeddings):
    """The pair-loop optimization (norms computed per vector, dot
    divided by the norm product) must stay BIT-identical to the fused
    cosine_similarity — oracle hashes round these doubles to 6 places,
    so even one ulp of drift at a half boundary would flip a digit.
    Asserted over real embedding pairs with === (null-safe exact
    double equality), not a tolerance."""
    from ig_etl_sync_spark.functions.vectors import (
        cosine_similarity,
        dot_product,
        l2_norm,
    )

    a = embeddings.limit(40).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a")
    )
    b = embeddings.limit(40).select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b")
    )
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    fused = cosine_similarity("v_a", "v_b")
    hoisted_f = dot_product("v_a", "v_b") / (l2_norm("v_a") * l2_norm("v_b"))
    # the double-precast variant used by embedding_near_dup_pairs
    ad = F.transform("v_a", lambda x: x.cast("double"))
    bd = F.transform("v_b", lambda x: x.cast("double"))
    hoisted_d = dot_product(ad, bd) / (l2_norm(ad) * l2_norm(bd))
    bad = pairs.where(
        ~fused.eqNullSafe(hoisted_f) | ~fused.eqNullSafe(hoisted_d)
    ).count()
    assert bad == 0


def test_semantic_dedup_flags_every_row_and_prunes_exact_dups(spark):
    """An exact duplicate pair lands in the same cluster with equal
    dist2; the id-ASC tiebreak keeps the smaller id and drops the
    larger. Distant singletons survive."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # exact dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = D.semantic_dedup(df, k=2, iters=2, threshold=0.99)
    got = {r["vec_id"]: r for r in out.collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    # exactly one of the identical pair dropped, and it is the LARGER id
    assert got[0]["kept"] and not got[1]["kept"]
    assert all(got[i]["kept"] for i in (2, 3, 4))


def test_semantic_dedup_threshold_above_one_keeps_all(spark, embeddings):
    out = D.semantic_dedup(embeddings.limit(60), k=4, iters=1, threshold=1.01)
    assert out.count() == 60
    assert out.where("NOT kept").count() == 0


def test_semantic_dedup_matches_brute_force_replay(spark, embeddings):
    """Property: the distributed drop rule equals a driver-side replay
    of the published screening (pairwise against all higher-priority
    same-cluster rows) on the operator's own cluster assignment."""
    import math

    sub = embeddings.limit(120)
    out = D.semantic_dedup(sub, k=6, iters=2, threshold=0.80).collect()
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]] for r in sub.collect()
    }

    def cos(u, v):
        dot = sum(a * b for a, b in zip(u, v))
        nu = math.sqrt(sum(a * a for a in u))
        nv = math.sqrt(sum(b * b for b in v))
        return dot / (nu * nv)

    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    expect_kept = {}
    for members in by_cluster.values():
        # keep-priority order: dist2 DESC, id ASC
        members.sort(key=lambda r: (-r["dist2"], r["vec_id"]))
        for i, r in enumerate(members):
            dropped = any(
                round(cos(vecs[r["vec_id"]], vecs[m["vec_id"]]), 6) >= 0.80
                for m in members[:i]
            )
            expect_kept[r["vec_id"]] = not dropped
    got_kept = {r["vec_id"]: r["kept"] for r in out}
    assert got_kept == expect_kept


def _brute_containment(spark, docs, n=3, threshold=0.8):
    """All-pairs containment baseline in local Python."""
    from ig_etl_sync_spark.operators.dedup import word_shingles
    rows = docs.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), n)).alias("g")
    ).collect()
    sets = {r.doc_id: set(r.g) for r in rows}
    out = {}
    for a, ga in sets.items():
        if not ga:
            continue
        for b, gb in sets.items():
            if a == b:
                continue
            inter = len(ga & gb)
            if inter >= threshold * len(ga) - 1e-12:
                out[(a, b)] = round(inter / len(ga), 9)
    return out


def test_containment_equals_brute_force(spark, sf_dir):
    """Probe-prefix / full-index blocking is EXACT: same (directed)
    pairs and containment values as the all-pairs baseline, at two
    thresholds (one on a non-trivial ceil boundary)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id < 200")
    for t in (0.8, 0.65):
        brute = _brute_containment(spark, docs, threshold=t)
        pf = {
            (r["id_a"], r["id_b"]): round(r["containment"], 9)
            for r in D.containment_pairs(docs, threshold=t).collect()
        }
        assert pf == brute and len(brute) > 0


def test_containment_is_asymmetric(spark):
    """A short quote inside a long doc: contained->container matches at
    a threshold the symmetric jaccard can't reach."""
    quote = "alpha beta gamma delta epsilon zeta"
    container = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, quote), (2, container)], "doc_id long, text string"
    )
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in D.containment_pairs(docs, threshold=0.9).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (2, 1) not in pairs
    jac = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []


def test_containment_plan_has_no_cartesian(spark, near_dup_docs):
    plan = (
        D.containment_pairs(near_dup_docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_containment_rejects_bad_threshold(spark, near_dup_docs):
    import pytest as _pytest
    with _pytest.raises(ValueError):
        D.containment_pairs(near_dup_docs, threshold=0.0)
    with _pytest.raises(ValueError):
        D.containment_pairs(near_dup_docs, threshold=1.5)


def test_semantic_dedup_salt_invariant(spark, embeddings):
    """The pair-join salt is plan-only: any fanout yields the identical
    kept/dropped relation."""
    small = embeddings.where("vec_id < 120")
    base = sorted(
        map(tuple, D.semantic_dedup(small, k=4, iters=1, threshold=0.4, fanout=1).collect())
    )
    for fo in (3, 8):
        out = sorted(
            map(tuple, D.semantic_dedup(small, k=4, iters=1, threshold=0.4, fanout=fo).collect())
        )
        assert out == base
    assert any(not r[3] for r in base)  # something actually dropped


def test_positional_filter_prunes_but_never_changes_output(spark, sf_dir):
    """PPJoin Lemma 2 (round-6): the positional filter must strictly
    reduce the verify-stage candidate count on real documents while the
    final pair set stays identical — a regression that silently drops
    the filter (no pruning) or over-prunes (missing pairs) fails."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def pairs(flag):
        return {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in D.prefix_filter_jaccard_pairs(
                docs, threshold=0.35, positional_filter=flag
            ).collect()
        }

    assert pairs(True) == pairs(False)

    # pruning is real: construct a pair that passes the length filter
    # and shares a prefix gram, but whose minimal shared gram sits so
    # late in one array that the overlap bound cannot reach the
    # requirement — Lemma 1 emits it, Lemma 2 must kill it before the
    # verify join.
    base = "w%d"  # distinct filler tokens
    a_words = [base % i for i in range(10)] + ["shared", "tail1"]
    b_words = [base % (100 + i) for i in range(10)] + ["shared", "tail2"]
    toy = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))],
        "doc_id long, text string",
    )
    lem1 = D.prefix_filter_jaccard_pairs(
        toy, n=1, threshold=0.5, positional_filter=False
    )
    lem2 = D.prefix_filter_jaccard_pairs(
        toy, n=1, threshold=0.5, positional_filter=True
    )
    # neither returns the pair (J is far below 0.5): Lemma 2 agrees
    # with Lemma 1 even on the engineered edge
    assert lem1.count() == 0 and lem2.count() == 0
    # the observable structural contract: the Lemma-2 plan carries the
    # positional min-position aggregate feeding the pruning predicate
    plan = lem2._jdf.queryExecution().optimizedPlan().toString()
    assert "min_pa" in plan or "min(pos_a" in plan
