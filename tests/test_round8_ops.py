"""Round-8 regression tests: ADVICE-r07 fixes (mixture-gate idle-epoch
guard + quota overflow, scored-canonical duplicate-score tolerance)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _gate(spark, tmp_path, target):
    from ig_etl_sync_spark.sources.versioned import VersionedParquetTable
    from ig_etl_sync_spark.streaming.mixture_gate import StreamingMixtureGate

    return StreamingMixtureGate(
        VersionedParquetTable(spark, str(tmp_path / "counts")),
        VersionedParquetTable(spark, str(tmp_path / "corpus")),
        target_ppm=target,
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_mixture_gate_idle_batch_appends_no_epoch(spark, tmp_path):
    # an idle trigger (empty batch) and an all-off-recipe batch must
    # both leave the standing tables untouched — no empty epoch
    # partitions / no-op version commits (ADVICE r07)
    g = _gate(spark, tmp_path, {"en": 500_000, "de": 500_000})
    g.process_batch(
        _docs(spark, [(1, "en", "w " * 10), (2, "de", "w " * 10)]), 0
    )
    epochs_before = {
        r.mepoch for r in g.counts.read().select("mepoch").distinct().collect()
    }
    g.process_batch(_docs(spark, []), 1)  # idle trigger
    g.process_batch(_docs(spark, [(9, "fr", "w " * 10)]), 2)  # off-recipe
    epochs_after = {
        r.mepoch for r in g.counts.read().select("mepoch").distinct().collect()
    }
    assert epochs_before == epochs_after == {1}
    corpus_epochs = {
        r.mepoch for r in g.corpus.read().select("mepoch").distinct().collect()
    }
    assert corpus_epochs == {1}


def test_mixture_gate_extreme_ppm_weight_no_overflow(spark, tmp_path):
    # 1-ppm group weight with a large token total: the naive quota form
    # _T*_w overflows BIGINT (_T ~ total*1e6/w_min); the split-T form
    # must stay exact. rare gets 1 ppm, en the rest; en's huge total
    # makes T enormous while rare's tiny total binds.
    g = _gate(spark, tmp_path, {"en": 999_999, "rare": 1})
    big = "w " * 20000  # 20k tokens per doc
    rows = [(i, "en", big) for i in range(500)] + [(900, "rare", "w " * 5)]
    g.process_batch(_docs(spark, rows), 0)
    tot = {
        r.lang: r.t
        for r in g.corpus.read()
        .groupBy("lang")
        .agg(F.sum("n_tokens").cast("long").alias("t"))
        .collect()
    }
    # T = min(en_total*1e6//999999, 5*1e6//1) = min(10000010..., 5e6)
    # = 5_000_000; en quota = 5e6*999999//1e6 = 4_999_995 -> admits
    # floor(4999995/20000)=249 docs; rare quota = 5 -> its one doc.
    assert tot["rare"] == 5
    assert tot["en"] == 249 * 20000


def _near_dup_docs(spark):
    # small corpus with planted near-dup families + unrelated docs
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " extra tail words here"),
        (3, base.replace("quick", "slow")),
        (4, "completely different content about spark clusters and joins"),
        (5, "completely different content about spark clusters and joins!"),
        (6, "unrelated short text"),
        (7, base),  # exact dup of 1
        (8, "the quick brown fox jumps over the lazy dog"),  # contained in 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_filter_candidates_contain_all_true_pairs(spark):
    from ig_etl_sync_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_candidates,
        prefix_filter_jaccard_pairs,
    )

    docs = _near_dup_docs(spark)
    t = 0.6
    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=t).collect()
    }
    cands = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_candidates(
            docs, n=3, threshold=t
        ).collect()
    }
    # blocking is EXACT: every true pair is a candidate, with the same
    # jaccard the verify computes
    for pair, j in truth.items():
        assert pair in cands and abs(cands[pair] - j) < 1e-12
    # and the filtered operator equals candidates >= t
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(docs, n=3, threshold=t).collect()
    }
    assert pairs == {p: j for p, j in cands.items() if j >= t}


def test_containment_candidates_contain_all_true_pairs(spark):
    from ig_etl_sync_spark.operators.dedup import (
        containment_candidates,
        containment_pairs,
    )

    docs = _near_dup_docs(spark)
    t = 0.8
    truth = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, n=3, threshold=t).collect()
    }
    assert truth, "planted contained doc must produce at least one pair"
    cands = {
        (r.id_a, r.id_b): r.containment
        for r in containment_candidates(docs, n=3, threshold=t).collect()
    }
    for pair, c in truth.items():
        assert pair in cands and abs(cands[pair] - c) < 1e-12
    # every true containment pair survives the cut inside candidates
    kept = {p: c for p, c in cands.items() if c >= t}
    assert kept == truth


def test_simhash_dup_degree_matches_pair_relation(spark):
    from ig_etl_sync_spark.operators.dedup import (
        simhash_dup_degree,
        simhash_near_dup_pairs,
    )

    docs = _near_dup_docs(spark)
    pairs = simhash_near_dup_pairs(docs, max_hamming=3).collect()
    assert pairs, "planted dups must collide"
    # brute per-doc reference from the pair relation
    ref: dict[int, list[tuple[int, int]]] = {}
    for r in pairs:
        ref.setdefault(r.id_a, []).append((r.hamming, r.id_b))
        ref.setdefault(r.id_b, []).append((r.hamming, r.id_a))
    out = {r.doc_id: r for r in simhash_dup_degree(docs, max_hamming=3).collect()}
    assert set(out) == set(ref)
    for doc, partners in ref.items():
        r = out[doc]
        assert r.n_dups == len(partners)
        assert r.n_exact == sum(1 for h, _ in partners if h == 0)
        best = min(partners)
        assert (r.min_hamming, r.best_partner) == best


def test_resolve_scored_duplicate_score_ids_collapse(spark):
    from ig_etl_sync_spark.operators.clustering import (
        resolve_dup_clusters_scored,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    # doc 2 scored twice (e.g. a scores relation unioned from two
    # sources) — must collapse to max, not multiply member rows
    scores = spark.createDataFrame(
        [(1, 10), (2, 5), (2, 99), (3, 50)], "doc_id long, score long"
    )
    out = resolve_dup_clusters_scored(pairs, scores).collect()
    assert len(out) == 3  # one row per member, no multiplication
    by_id = {r.doc_id: r for r in out}
    assert all(r.cluster_size == 3 for r in out)
    assert by_id[2].score == 99 and by_id[2].keep  # max wins, 99 > 50
    assert not by_id[1].keep and not by_id[3].keep


def test_minhash_signatures_from_shingles_bit_identical(spark):
    # round-8 ingest optimization: sigs derive from the pinned distinct-
    # shingle frame instead of a second tokenize+shingle pass. array_min
    # is invariant under shingle multiplicity, so the signatures must be
    # BIT-identical to minhash_signatures over the raw text — including
    # the short-doc (one whole-text shingle) and empty-doc conventions.
    from ig_etl_sync_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_from_shingles,
    )
    from ig_etl_sync_spark.operators.textops import word_shingles

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "short doc"),
            (4, ""),
            (5, "repeat repeat repeat repeat repeat repeat repeat repeat"),
        ],
        "doc_id long, text string",
    )
    ref = {
        r.doc_id: r.signature
        for r in minhash_signatures(docs, "doc_id", "text").collect()
    }
    sh = docs.select(
        "doc_id",
        F.array_distinct(word_shingles(F.col("text"), 5)).alias("sh"),
    )
    got = {
        r.doc_id: r.signature
        for r in minhash_signatures_from_shingles(sh, "doc_id").collect()
    }
    assert got == ref
