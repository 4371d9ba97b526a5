"""Round-4 operators: Gopher rule pack, leakage-safe group split,
cross-corpus minhash dedup, per-dimension embedding standardization."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.dataprep import group_holdout_split
from ig_etl_sync_spark.operators.dedup import (
    cross_corpus_near_dups,
    near_dup_pairs_minhash,
)
from ig_etl_sync_spark.operators.similarity import standardize_embeddings
from ig_etl_sync_spark.operators.textops import gopher_quality_flags


# ------------------------------------------------------- gopher rules

def test_gopher_rules_flag_each_failure_mode(spark):
    good = (
        "The quick brown fox jumps over the lazy dog and that was fine "
        "for the animals in the field that day because it is what it is"
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "short text only"),                       # word count
            (3, " ".join(["a"] * 40)),                    # mean word len low
            (4, good + " " + "#" * 1 + " #### ## # # #"),  # symbol spam
            (5, "\n".join(f"- {good}" for _ in range(10))),  # bullets
            (6, "\n".join(f"{good}..." for _ in range(10))),  # ellipsis ends
            (7, good + " " + " ".join(["123456"] * 200)),  # non-alpha words
            (8, " ".join(["zebra", "quilt", "vortex"] * 20)),  # no stopwords
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    assert out[1].passes
    assert not out[2].f_word_count
    assert not out[3].f_mean_word_len
    assert not out[4].f_symbol_ratio
    assert not out[5].f_bullet_lines
    assert not out[6].f_ellipsis_lines
    assert not out[7].f_alpha_words
    assert not out[8].f_stopwords
    for d in range(2, 9):
        assert not out[d].passes


# -------------------------------------------------------- group split

def test_group_split_is_leakage_safe_and_deterministic(spark):
    rows = [(i, f"site{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = group_holdout_split(df, "source", val_ppm=400_000)
    per_group = (
        out.groupBy("source")
        .agg(F.count_distinct("split").alias("k"))
        .collect()
    )
    assert all(r.k == 1 for r in per_group)  # no group straddles
    splits = {r.source: r.split for r in out.select("source", "split").distinct().collect()}
    # deterministic re-run
    splits2 = {r.source: r.split for r in
               group_holdout_split(df, "source", val_ppm=400_000)
               .select("source", "split").distinct().collect()}
    assert splits == splits2
    assert set(splits.values()) == {"train", "val"}  # both sides present
    # boundary ppm values
    assert group_holdout_split(df, "source", val_ppm=0).where(
        F.col("split") == "val").count() == 0
    assert group_holdout_split(df, "source", val_ppm=1_000_000).where(
        F.col("split") == "train").count() == 0
    with pytest.raises(ValueError):
        group_holdout_split(df, "source", val_ppm=2_000_000)


# ------------------------------------------------- cross-corpus dedup

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "sat on the warm mat watching birds fly south for winter"
)


def test_cross_corpus_flags_only_cross_pairs(spark):
    ref = _docs(spark, [(1, BASE), (2, "completely different reference text "
                                       "about cooking pasta with garlic")])
    # 10 and 11 are near-identical IN-BATCH dups of each other AND of ref 1;
    # 12 matches nothing.
    new = _docs(spark, [
        (10, BASE), (11, BASE + " extra"), (12, "unrelated novel content "
                                                "regarding satellite orbits"),
    ])
    out = cross_corpus_near_dups(new, ref, threshold=0.5)
    got = {(r.new_id, r.ref_id) for r in out.collect()}
    assert (10, 1) in got and (11, 1) in got
    assert all(ref_id in (1, 2) for _n, ref_id in got)  # never new x new
    assert not any(n == 12 for n, _r in got)
    # jaccard values match the in-batch operator's verify on a merged corpus
    merged = ref.unionByName(new)
    inbatch = {(a, b): j for a, b, j in
               near_dup_pairs_minhash(merged, threshold=0.5).collect()}
    for r in out.collect():
        lo, hi = sorted((r.new_id, r.ref_id))
        assert inbatch[(lo, hi)] == pytest.approx(r.jaccard, abs=0)


def test_cross_corpus_rejects_bad_banding(spark):
    d = _docs(spark, [(1, BASE)])
    with pytest.raises(ValueError):
        cross_corpus_near_dups(d, d, bands=5)


# ----------------------------------------------------- standardization

def test_standardize_matches_integer_reference(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.uniform(-0.6, 0.6, size=(50, 4))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    got = {(r.vec_id, r.pos): r.z for r in standardize_embeddings(df).collect()}
    q = np.floor(vecs * 1000).astype(np.int64)
    n = q.shape[0]
    for pos in range(4):
        s, ss = int(q[:, pos].sum()), int((q[:, pos].astype(object) ** 2).sum())
        rad = n * ss - s * s
        for i in range(50):
            want = 0.0 if rad <= 0 else (n * int(q[i, pos]) - s) / math.sqrt(rad)
            assert got[(i, pos)] == want  # bit-exact, not approx
    # z-scores are standardized: per-dim mean ~0, variance ~1
    zcol = np.array([[got[(i, p)] for i in range(50)] for p in range(4)])
    assert np.allclose(zcol.mean(axis=1), 0, atol=1e-12)
    assert np.allclose(zcol.std(axis=1), 1.0, atol=1e-6)  # population sigma


def test_standardize_constant_dimension_is_zero(spark):
    df = spark.createDataFrame(
        [(1, [0.5, 1.0]), (2, [0.5, 2.0])], "vec_id long, embedding array<double>"
    )
    out = {(r.vec_id, r.pos): r.z for r in standardize_embeddings(df).collect()}
    assert out[(1, 0)] == 0.0 and out[(2, 0)] == 0.0  # zero variance dim
    assert out[(1, 1)] < 0 < out[(2, 1)]


# ------------------------------------------------- random projection

def test_random_projection_exact_and_distance_preserving(spark):
    import numpy as np

    from ig_etl_sync_spark.operators.similarity import (
        hyperplane_weights,
        random_projection,
    )

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-0.6, 0.6, size=(30, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    got = {(r.vec_id, r.pos): r.y for r in random_projection(df).collect()}
    q = np.floor(vecs * 1000).astype(np.int64)
    W = np.array([hyperplane_weights(p, 64) for p in range(8)], dtype=np.int64)
    for i in range(30):
        for p in range(8):
            want = int(q[i] @ W[p]) / 1_000_000.0
            assert got[(i, p)] == want  # bit-exact integer dot
    # JL sanity on SEPARATED data (uniform high-dim distances
    # concentrate, so correlation there is uninformative): two far
    # clusters must stay separated after projection.
    c = np.vstack([rng.normal(0.3, 0.02, (10, 64)),
                   rng.normal(-0.3, 0.02, (10, 64))])
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    gy = {(r.vec_id, r.pos): r.y for r in random_projection(cdf).collect()}
    yc = np.array([[gy[(i, p)] for p in range(8)] for i in range(20)])
    intra = np.mean([np.linalg.norm(yc[i] - yc[j])
                     for i in range(10) for j in range(i + 1, 10)])
    inter = np.mean([np.linalg.norm(yc[i] - yc[10 + j])
                     for i in range(10) for j in range(10)])
    assert inter > 3 * intra, (intra, inter)


# ---------------------------------------------- interval overlap join

def test_interval_overlap_join_matches_bruteforce(spark):
    """Property test: blocked+once-emitted pairs == brute-force
    inequality join, on random intervals including long spans (many
    buckets), touching endpoints, and bucket-boundary alignment."""
    import random

    from ig_etl_sync_spark.operators.temporal import interval_overlap_join

    rng = random.Random(5)
    W = 1000  # small bucket to force multi-bucket spans

    def mk(n, tag):
        rows = []
        for i in range(n):
            s = rng.randrange(0, 20_000)
            ln = rng.choice([0, 1, 10, 999, 1000, 1001, 5000])
            rows.append((tag * 1000 + i, s, s + ln))
        # exact bucket-boundary interval
        rows.append((tag * 1000 + n, 3 * W, 4 * W))
        return rows

    L, R = mk(40, 1), mk(40, 2)
    ldf = spark.createDataFrame(L, "iid long, start_us long, end_us long")
    rdf = spark.createDataFrame(R, "iid long, start_us long, end_us long")
    out = interval_overlap_join(ldf, rdf, bucket_micros=W).collect()
    got = sorted((r.a_iid, r.b_iid, r.overlap_us) for r in out)
    assert len(got) == len(set(got)), "duplicate pair emitted"
    want = sorted(
        (a, b, min(ae, be) - max(as_, bs))
        for a, as_, ae in L
        for b, bs, be in R
        if as_ <= be and bs <= ae
    )
    assert got == want


# ----------------------------------------------------- mixture rates

def test_mixture_rates_realize_target_composition(spark):
    from ig_etl_sync_spark.operators.dataprep import mixture_sampling_rates

    rows = (
        [(i, "en", "w " * 100) for i in range(10)]          # 1000 tokens
        + [(100 + i, "de", "w " * 100) for i in range(1)]   # 100 tokens
        + [(200 + i, "fr", "w " * 100) for i in range(50)]  # 5000 tokens
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.lang: r for r in mixture_sampling_rates(
        df, "lang", {"en": 500_000, "de": 100_000, "fr": 400_000}).collect()}
    # de is the binding constraint: T = 100*1e6/100000 = 1000 total
    assert out["de"].keep_ppm == 1_000_000  # fully kept
    assert out["en"].keep_ppm == 500_000    # 500 of 1000 tokens
    assert out["fr"].keep_ppm == 80_000     # 400 of 5000 tokens
    # realized composition == target exactly here
    real = {k: out[k].tokens * out[k].keep_ppm // 1_000_000 for k in out}
    assert real == {"en": 500, "de": 100, "fr": 400}
    with pytest.raises(ValueError):
        mixture_sampling_rates(df, "lang", {"en": 1})
    with pytest.raises(ValueError):
        mixture_sampling_rates(df, "lang", {"en": 1_000_001, "de": -1})


# --------------------------------------------------------- surprisal

def test_unigram_surprisal_orders_rare_above_common(spark):
    from ig_etl_sync_spark.operators.textops import unigram_surprisal

    rows = [(i, "the the the the") for i in range(9)] + [
        (100, "zyzzyva qwertyuiop")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in unigram_surprisal(df).collect()}
    # N = 38 tokens; 'the' tf=36 -> floor(log2(38//36=1))=0 bits;
    # rare terms tf=1 -> floor(log2(38))=5 bits
    assert got[0].surprisal_ppm == 0
    assert got[100].surprisal_ppm == 5_000_000
    assert got[100].n_tokens == 2


# ------------------------------------------------------- linear probe

def test_linear_probe_matches_python_replay_and_separates(spark):
    from ig_etl_sync_spark.operators.linear import (
        W_SCALE,
        X_SCALE,
        linear_probe_train,
    )

    # separable: y=1024 iff feature > 0.5 (quantized > 512)
    rows = [(1024, (i % 32) * 32, 1024 if (i % 32) * 32 > 512 else 0)
            for i in range(256)]
    df = spark.createDataFrame(rows, "bias long, f long, y long")
    got = linear_probe_train(df, ["bias", "f"], "y", iters=8,
                             lr_num=512).collect()[0]

    # exact Python replay of the documented recurrence
    w = [0, 0]
    data = [(b, f, y) for b, f, y in rows]
    def tdiv(a, b):  # truncation toward zero, matching div//
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q
    for _ in range(8):
        g, n = [0, 0], len(data)
        for b, f, y in data:
            r = tdiv(b * w[0] + f * w[1], W_SCALE) - y
            g[0] += b * r
            g[1] += f * r
        w = [w[j] - tdiv(512 * tdiv(g[j], n), X_SCALE) for j in range(2)]
    l1 = sum(abs(tdiv(b * w[0] + f * w[1], W_SCALE) - y) for b, f, y in data)
    assert (got.w_bias, got.w_f, got.l1_loss) == (w[0], w[1], l1)
    # the probe actually separates: predictions above/below 512
    sep_hi = tdiv(1024 * w[0] + 1024 * w[1], W_SCALE)
    sep_lo = tdiv(1024 * w[0] + 0 * w[1], W_SCALE)
    assert sep_lo < 512 < sep_hi
    with pytest.raises(ValueError):
        linear_probe_train(df, [], "y")
    with pytest.raises(ValueError, match="empty input"):
        linear_probe_train(
            spark.createDataFrame([], "bias long, f long, y long"),
            ["bias", "f"],
            "y",
        )


# ------------------------------------------------ persistent dedup index

def test_minhash_dedup_index_lifecycle(spark, tmp_path):
    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex

    ref = _docs(spark, [(1, BASE), (2, "completely different reference "
                                       "text about cooking pasta with garlic")])
    new = _docs(spark, [(10, BASE), (11, "brand new unique content about "
                                         "deep sea exploration vessels")])
    idx = MinhashDedupIndex(spark, str(tmp_path / "idx"))
    # unbuilt index: probe returns empty, not an error
    assert idx.probe(new).count() == 0
    idx.build(ref)
    got = {(r.new_id, r.ref_id): r.jaccard for r in
           idx.probe(new, threshold=0.5).collect()}
    # identical result to the recompute-everything operator
    want = {(r.new_id, r.ref_id): r.jaccard for r in
            cross_corpus_near_dups(new, ref, threshold=0.5).collect()}
    assert got == want and (10, 1) in got
    # extend with the surviving (novel) doc; a re-submission of it now hits
    survivors = new.where(F.col("doc_id") == 11)
    idx.extend(survivors)
    again = {(r.new_id, r.ref_id) for r in
             idx.probe(_docs(spark, [(20, "brand new unique content about "
                                          "deep sea exploration vessels")]),
                       threshold=0.5).collect()}
    assert (20, 11) in again
    with pytest.raises(ValueError):
        MinhashDedupIndex(spark, str(tmp_path / "bad"), bands=5)


def test_dedup_index_extend_links_prior_epochs(spark, tmp_path):
    """extend() writes only the new epoch: the prior epoch's data files
    must be carried into the new version by hard link (same inode),
    not rewritten — the O(batch) ingest contract."""
    import os

    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex

    idx = MinhashDedupIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, [(1, BASE)]))
    t = idx._table

    def epoch0_inodes():
        vdir = os.path.join(t.path, t.latest_version(), "iepoch=0")
        return {
            n: os.stat(os.path.join(vdir, n)).st_ino
            for n in os.listdir(vdir)
            if not n.startswith(("_", "."))
        }

    before = epoch0_inodes()
    idx.extend(_docs(spark, [(2, "totally different content here")]))
    assert epoch0_inodes() == before  # linked, not rewritten
    # both epochs are visible to the probe
    hit = idx.probe(_docs(spark, [(9, BASE)]), threshold=0.5).collect()
    assert {(r.new_id, r.ref_id) for r in hit} == {(9, 1)}


def test_dedup_index_compact_folds_epochs(spark, tmp_path):
    """compact() collapses the per-batch epoch partitions into one
    epoch-0 set with identical probe results, and a later extend()
    resumes incremental (linked) appends on top of the compacted
    version."""
    import os

    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex

    idx = MinhashDedupIndex(spark, str(tmp_path / "idx"))
    assert idx.compact() is None  # unbuilt: no-op
    idx.build(_docs(spark, [(1, BASE)]))
    idx.extend(_docs(spark, [(2, "totally different content here")]))
    idx.extend(_docs(spark, [(3, "a third unrelated document body")]))
    t = idx._table

    def epoch_dirs():
        vdir = os.path.join(t.path, t.latest_version())
        return sorted(
            d for d in os.listdir(vdir) if d.startswith("iepoch=")
        )

    probe_docs = _docs(spark, [(9, BASE), (10, "a third unrelated document body")])
    assert epoch_dirs() == ["iepoch=0", "iepoch=1", "iepoch=2"]
    before = {(r.new_id, r.ref_id, r.jaccard)
              for r in idx.probe(probe_docs, threshold=0.5).collect()}
    idx.compact(target_files=2)
    assert epoch_dirs() == ["iepoch=0"]
    after = {(r.new_id, r.ref_id, r.jaccard)
             for r in idx.probe(probe_docs, threshold=0.5).collect()}
    assert after == before and {(9, 1), (10, 3)} <= {p[:2] for p in after}
    # extend after compact: fresh epoch 1, compacted epoch 0 linked
    vdir0 = os.path.join(t.path, t.latest_version(), "iepoch=0")
    inodes = {n: os.stat(os.path.join(vdir0, n)).st_ino
              for n in os.listdir(vdir0) if not n.startswith(("_", "."))}
    idx.extend(_docs(spark, [(4, "yet another fresh batch of words")]))
    assert epoch_dirs() == ["iepoch=0", "iepoch=1"]
    vdir0 = os.path.join(t.path, t.latest_version(), "iepoch=0")
    assert {n: os.stat(os.path.join(vdir0, n)).st_ino
            for n in os.listdir(vdir0)
            if not n.startswith(("_", "."))} == inodes


# ------------------------------------------------------- DSIR importance

def test_dsir_scores_target_like_docs_higher(spark):
    from ig_etl_sync_spark.operators.dataprep import dsir_importance

    legal = ("the court held that the contract was void and the parties "
             "agreed to settle the claim before the court")
    sports = ("the team won the game and the players ran fast on the "
              "field while the crowd cheered the team")
    docs = spark.createDataFrame(
        [
            # target corpus: legal prose
            (1, "legal", legal),
            (2, "legal", legal + " appeal court contract law ruling"),
            (3, "legal", "contract law and the court ruling on the claim"),
            # pool: one legal-like, one sports-like
            (10, "pool", legal.replace("settle", "resolve")),
            (11, "pool", sports),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r.doc_id: r
        for r in dsir_importance(
            docs, F.col("source") == "legal", buckets=64
        ).collect()
    }
    # only pool docs scored, both present
    assert set(out) == {10, 11}
    # per-gram normalized score: target-like pool doc beats off-target
    assert (out[10].dsir_bits / out[10].n_grams
            > out[11].dsir_bits / out[11].n_grams)
    # n_grams = unigrams + bigrams = 2*len - 1 for whitespace words
    n_words = len(legal.replace("settle", "resolve").split())
    assert out[10].n_grams == 2 * n_words - 1
    # deterministic across runs
    again = {
        r.doc_id: (r.n_grams, r.dsir_bits)
        for r in dsir_importance(
            docs, F.col("source") == "legal", buckets=64
        ).collect()
    }
    assert again == {k: (v.n_grams, v.dsir_bits) for k, v in out.items()}


def test_dsir_rejects_bad_buckets(spark):
    from ig_etl_sync_spark.operators.dataprep import dsir_importance

    docs = spark.createDataFrame([(1, "a", "x")], "doc_id long, source string, text string")
    with pytest.raises(ValueError):
        dsir_importance(docs, F.col("source") == "a", buckets=1)


# ------------------------------------------------------ C4 line rules

def test_c4_line_filters_each_rule_mode(spark):
    from ig_etl_sync_spark.operators.textops import c4_line_filters

    prose = "The quick brown fox jumps over the lazy dog today."
    docs = spark.createDataFrame(
        [
            (1, "\n".join([prose] * 4)),            # clean: keeps all
            (2, "\n".join([prose, prose])),         # too few kept lines
            (3, "\n".join([prose] * 3 + ["no terminal punctuation here"])),
            (4, "\n".join([prose] * 3 + ["Too short."])),
            (5, "\n".join([prose] * 3 + ["Please enable JavaScript to view this site."])),
            (6, "\n".join([prose] * 3 + ["See our Privacy Policy for details on data use."])),
            (7, "\n".join([prose] * 4) + "\nlorem ipsum dolor sit amet."),
            (8, "\n".join([prose] * 4) + "\nfunction f() { return 1; }"),
            (9, "   \n\n" + prose),                 # blank lines not counted
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in c4_line_filters(docs).collect()}

    assert out[1].keep and out[1].kept_lines == 4 and out[1].n_lines == 4
    assert out[1].clean_text == "\n".join([prose] * 4)
    assert out[1].kept_words == 4 * 10

    assert not out[2].keep and out[2].f_min_lines is False
    # rule-specific line drops: 3 prose lines survive, the bad one dies
    for d in (3, 4, 5, 6):
        assert out[d].kept_lines == 3, d
        assert out[d].keep, d  # still >= min_kept_lines
    # doc-level drops fire even with enough clean lines
    assert not out[7].keep and out[7].f_no_lorem is False
    assert not out[8].keep and out[8].f_no_brace is False

    assert out[9].n_lines == 1 and out[9].kept_lines == 1
    assert out[9].clean_text == prose


def test_c4_clean_text_empty_when_nothing_survives(spark):
    from ig_etl_sync_spark.operators.textops import c4_line_filters

    docs = spark.createDataFrame([(1, "word\nword")], "doc_id long, text string")
    row = c4_line_filters(docs).collect()[0]
    assert row.kept_lines == 0 and row.clean_text == "" and not row.keep
