"""Streaming corpus ingest (streaming/ingest.py): per-micro-batch
dedup against standing indexes, span cut, and crash replay."""

from __future__ import annotations

import json
import os


# ------------------------------------------- streaming ingest + index

def test_streaming_ingest_with_standing_dedup_index(spark, tmp_path):
    """End-to-end incremental ingest: per-micro-batch exact + in-batch
    near-dup + standing-index probe; retry of a processed batch is a
    no-op (effectively-once corpus contents)."""
    import json
    import os

    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.sources.versioned import VersionedParquetTable
    from ig_etl_sync_spark.streaming.ingest import StreamingCorpusIngest

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sat on the warm mat watching birds fly south for winter"
    )
    pasta = "completely different reference text about cooking pasta with garlic"
    idx = MinhashDedupIndex(spark, str(tmp_path / "idx"))
    corpus = VersionedParquetTable(spark, str(tmp_path / "corpus"))
    ingest = StreamingCorpusIngest(idx, corpus, threshold=0.5)

    src = str(tmp_path / "src")
    os.makedirs(src)

    def tick(i, rows):
        with open(os.path.join(src, f"t{i}.json"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)

    def drain():
        q = (
            spark.readStream.schema("doc_id long, text string").json(src)
            .writeStream.foreachBatch(ingest.process_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    tick(0, [{"doc_id": 1, "text": base}, {"doc_id": 2, "text": pasta},
             {"doc_id": 3, "text": base + " tail"}])  # 3 in-batch near-dups 1
    drain()
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2}

    tick(1, [{"doc_id": 10, "text": base},              # dup of standing 1
             {"doc_id": 11, "text": pasta + " extra"},  # near-dup of 2
             {"doc_id": 12, "text": "novel content regarding deep sea "
                                    "exploration vessels and sonar"}])
    drain()
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 12}

    # simulated foreachBatch RETRY of already-applied data: no change
    replay = spark.createDataFrame(
        [(12, "novel content regarding deep sea exploration vessels and sonar")],
        "doc_id long, text string",
    )
    v_before = corpus.latest_version()
    ingest.process_batch(replay, 99)
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 12}
    assert corpus.latest_version() == v_before  # write skipped entirely

    # compact folds the per-batch epochs of BOTH tables; contents and
    # dedup behavior are unchanged, and ingest continues on top
    def epochs(table, col):
        vdir = os.path.join(table.path, table.latest_version())
        return sorted(d for d in os.listdir(vdir) if d.startswith(col + "="))

    assert len(epochs(corpus, "cepoch")) == 2
    ingest.compact(target_files=2)
    assert epochs(corpus, "cepoch") == ["cepoch=0"]
    assert epochs(idx._table, "iepoch") == ["iepoch=0"]
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 12}
    tick(2, [{"doc_id": 20, "text": base + " coda"},  # near-dup of standing 1
             {"doc_id": 21, "text": "entirely fresh post-compaction words "
                                    "about glaciers calving into fjords"}])
    drain()
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 12, 21}


def test_ingest_retry_completes_crashed_corpus_append(spark, tmp_path):
    """Crash BETWEEN index.extend and the corpus append, then replay
    the same foreachBatch (same batch_id): the batch must LAND in the
    corpus (not self-filter against the already-extended index), and
    the index must hold exactly one copy of the batch (the replayed
    extend overwrites its own epoch partition)."""
    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.sources.versioned import VersionedParquetTable
    from ig_etl_sync_spark.streaming.ingest import StreamingCorpusIngest
    from pyspark.sql import functions as F

    idx = MinhashDedupIndex(spark, str(tmp_path / "idx"))
    corpus = VersionedParquetTable(spark, str(tmp_path / "corpus"))
    ingest = StreamingCorpusIngest(idx, corpus, threshold=0.5)

    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the "
             "river bank on a clear morning")],
        "doc_id long, text string",
    )
    ingest.process_batch(b0, 0)
    assert {r.doc_id for r in corpus.read().collect()} == {1}

    b1 = spark.createDataFrame(
        [(2, "a completely separate report about volcanic activity "
             "monitoring stations in remote islands"),
         (3, "another unrelated passage describing the migration of "
             "monarch butterflies across the continent")],
        "doc_id long, text string",
    )
    # the corpus PUBLISH is commit_staged since round 8 (staging runs
    # concurrently with the index extend; only the pointer flip is
    # ordered after it) — inject the crash at the publish point, the
    # same "index extended, corpus not visible" window as before
    orig = corpus.commit_staged
    state = {"crashed": False}

    def flaky(*a, **k):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("simulated crash after index extend")
        return orig(*a, **k)

    corpus.commit_staged = flaky
    try:
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="simulated crash"):
            ingest.process_batch(b1, 1)
        # crash window: index extended, corpus not
        assert {r.doc_id for r in corpus.read().collect()} == {1}
        idx_ids = {r[0] for r in idx._table.read().select("doc_id").collect()}
        assert idx_ids == {1, 2, 3}

        # at-least-once replay of the SAME batch completes the append
        ingest.process_batch(b1, 1)
    finally:
        corpus.commit_staged = orig
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 3}
    # index holds exactly ONE epoch (= batch_id + 1) per replayed doc
    per_doc = (
        idx._table.read()
        .groupBy("doc_id")
        .agg(F.countDistinct("iepoch").alias("n"))
        .collect()
    )
    assert all(r.n == 1 for r in per_doc)
    # and later batches still dedup against the standing corpus
    b2 = spark.createDataFrame(
        [(9, "a completely separate report about volcanic activity "
             "monitoring stations in remote islands indeed")],
        "doc_id long, text string",
    )
    ingest.process_batch(b2, 2)
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 3}


def test_streaming_ingest_with_span_cut(spark, tmp_path):
    """Optional SpanDupIndex wiring: a batch doc that shares a long
    verbatim span with a standing doc — but is NOT a near-dup overall —
    survives the minhash gate and lands with the span EXCISED; untouched
    docs keep their original bytes; a simulated retry of the same
    batch_id replays to identical corpus contents."""
    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.operators.spans import SpanDupIndex
    from ig_etl_sync_spark.sources.versioned import VersionedParquetTable
    from ig_etl_sync_spark.streaming.ingest import StreamingCorpusIngest

    boiler = "all rights reserved no part may be reproduced without permission"
    idx = MinhashDedupIndex(spark, str(tmp_path / "idx"))
    sidx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    corpus = VersionedParquetTable(spark, str(tmp_path / "corpus"))
    ingest = StreamingCorpusIngest(
        idx, corpus, threshold=0.5, span_index=sidx
    )

    b0 = spark.createDataFrame(
        [(1, f"alpha beta gamma delta {boiler} epsilon zeta eta theta"),
         (2, "Original Bytes, with punctuation! kept verbatim here OK")],
        "doc_id long, text string",
    )
    ingest.process_batch(b0, 0)
    got0 = {r.doc_id: r.text for r in corpus.read().collect()}
    # nothing duplicated in batch 0 -> original bytes stored untouched
    assert got0[2] == "Original Bytes, with punctuation! kept verbatim here OK"
    assert got0[1].startswith("alpha beta gamma delta")

    b1 = spark.createDataFrame(
        [(10, f"totally different prose one two three {boiler} four five "
              "six seven eight nine ten eleven twelve thirteen fourteen")],
        "doc_id long, text string",
    )
    ingest.process_batch(b1, 1)
    got1 = {r.doc_id: r.text for r in corpus.read().collect()}
    assert set(got1) == {1, 2, 10}
    # the boilerplate span is excised from the stored text of doc 10
    assert "reserved" not in got1[10] and "reproduced" not in got1[10]
    assert got1[10].startswith("totally different prose one two three")
    assert got1[10].endswith("thirteen fourteen")

    # retry of batch 1 (same batch_id): corpus contents identical
    v = corpus.latest_version()
    ingest.process_batch(b1, 1)
    got2 = {r.doc_id: r.text for r in corpus.read().collect()}
    assert got2 == got1
    assert corpus.latest_version() == v  # id guard skipped the write


def test_span_cut_replay_after_crash_between_span_extend_and_append(
    spark, tmp_path
):
    """Crash AFTER span_index.extend but BEFORE the corpus append:
    replaying the same batch_id must land the batch with the SAME cut
    text — the doc's own pairs from the crashed extend collapse in the
    probe's (span, doc) distinct, so coverage is replay-identical."""
    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.operators.spans import SpanDupIndex
    from ig_etl_sync_spark.sources.versioned import VersionedParquetTable
    from ig_etl_sync_spark.streaming.ingest import StreamingCorpusIngest

    boiler = "all rights reserved no part may be reproduced without permission"
    idx = MinhashDedupIndex(spark, str(tmp_path / "idx"))
    sidx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    corpus = VersionedParquetTable(spark, str(tmp_path / "corpus"))
    ingest = StreamingCorpusIngest(
        idx, corpus, threshold=0.5, span_index=sidx
    )
    ingest.process_batch(spark.createDataFrame(
        [(1, f"standing doc text {boiler} plus unique trailing words")],
        "doc_id long, text string"), 0)

    b1 = spark.createDataFrame(
        [(10, f"fresh prose alpha bravo charlie {boiler} delta echo "
              "foxtrot golf hotel india juliet kilo lima mike november")],
        "doc_id long, text string",
    )
    # simulate the crash: minhash extend + span extend happen, the
    # corpus append does not
    idx.extend(b1, epoch=2)
    sidx.extend(b1, epoch=2)
    before = {r.doc_id for r in corpus.read().collect()}
    assert before == {1}

    ingest.process_batch(b1, 1)  # the foreachBatch replay (batch_id 1)
    got = {r.doc_id: r.text for r in corpus.read().collect()}
    assert set(got) == {1, 10}  # batch COMPLETED, not self-filtered
    assert "reserved" not in got[10]  # and cut exactly as a clean run
    assert got[10].startswith("fresh prose alpha bravo charlie delta")


def test_epoch_reuse_with_different_batch_is_refused(spark, tmp_path):
    """The txnAppId/txnVersion hole (round-5 ADVICE): a restarted stream
    with a FRESH checkpoint replays batch_id 0 with NEW data — the
    epoch-content guard must refuse instead of silently replacing the
    committed partition (and its docs) in index and corpus."""
    import pytest

    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.sources.versioned import VersionedParquetTable
    from ig_etl_sync_spark.streaming.ingest import StreamingCorpusIngest

    idx = MinhashDedupIndex(spark, str(tmp_path / "idx"))
    corpus = VersionedParquetTable(spark, str(tmp_path / "corpus"))
    ingest = StreamingCorpusIngest(idx, corpus, threshold=0.5)

    b0 = spark.createDataFrame(
        [("d1", "the quick brown fox jumps over the lazy sleeping dog")],
        "doc_id string, text string",
    )
    ingest.process_batch(b0, 0)
    assert [r.doc_id for r in corpus.read().collect()] == ["d1"]

    # a TRUE foreachBatch replay (same batch_id, same rows) stays a no-op
    ingest.process_batch(b0, 0)
    assert [r.doc_id for r in corpus.read().collect()] == ["d1"]

    # fresh checkpoint: batch_id resets to 0 but carries different docs
    b0_new = spark.createDataFrame(
        [("d9", "completely different reference text about cooking pasta")],
        "doc_id string, text string",
    )
    with pytest.raises(ValueError, match="DIFFERENT batch"):
        ingest.process_batch(b0_new, 0)
    # nothing was replaced
    assert [r.doc_id for r in corpus.read().collect()] == ["d1"]


def test_extend_explicit_epoch_guard_minhash_and_span(spark, tmp_path):
    """extend(epoch=N) on both standing indexes refuses a colliding
    different batch, accepts an identical replay, and max+1 default
    epochs never collide."""
    import pytest

    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.operators.spans import SpanDupIndex

    docs = spark.createDataFrame(
        [("a", "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id string, text string",
    )
    other = spark.createDataFrame(
        [("b", "one two three four five six seven eight nine ten eleven")],
        "doc_id string, text string",
    )

    idx = MinhashDedupIndex(spark, str(tmp_path / "m"))
    idx.build(docs)
    idx.extend(docs, epoch=5)
    idx.extend(docs, epoch=5)  # replay: same ids, idempotent
    with pytest.raises(ValueError, match="DIFFERENT batch"):
        idx.extend(other, epoch=5)
    idx.extend(other)  # default max+1: always fresh

    sidx = SpanDupIndex(spark, str(tmp_path / "s"))
    sidx.build(docs)
    sidx.extend(docs, epoch=3)
    sidx.extend(docs, epoch=3)
    with pytest.raises(ValueError, match="DIFFERENT batch"):
        sidx.extend(other, epoch=3)


def test_extend_after_empty_build_minhash_and_span(spark, tmp_path):
    """An index built from an EMPTY corpus has no epoch partition; the
    default extend must append at a fresh epoch (it used to take the
    max of zero rows and fail on ``int(None)``)."""
    import os

    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.operators.spans import SpanDupIndex

    empty = spark.createDataFrame([], "doc_id string, text string")
    docs = spark.createDataFrame(
        [("a", "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id string, text string",
    )
    for index, epoch_col in (
        (MinhashDedupIndex(spark, str(tmp_path / "m")), "iepoch"),
        (SpanDupIndex(spark, str(tmp_path / "s")), "sepoch"),
    ):
        index.build(empty)
        assert index._table.read().count() == 0
        index.extend(docs)
        t = index._table
        vdir = os.path.join(t.path, t.latest_version())
        assert [d for d in os.listdir(vdir) if d.startswith(epoch_col)] == [
            f"{epoch_col}=0"
        ]
        assert {r.doc_id for r in t.read().collect()} == {"a"}


def test_streaming_span_cut_contract_survives_mid_batch_crash(spark, tmp_path):
    """The contract query's two-batch span-cut flow, with a simulated
    crash between batch 2's span-index extend and the corpus append:
    the foreachBatch replay must land the IDENTICAL stored corpus (ids
    AND cut text) as an uninterrupted run — the round-6 oracle row's
    retry variant."""
    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.operators.spans import SpanDupIndex
    from ig_etl_sync_spark.sources.versioned import VersionedParquetTable
    from ig_etl_sync_spark.streaming.ingest import StreamingCorpusIngest

    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b1 = docs.where(F.col("source") != "src0").select("doc_id", "text")
    b2 = docs.where(F.col("source") == "src0").select("doc_id", "text")

    def run(root, crash_batch2_corpus_append):
        idx = MinhashDedupIndex(spark, f"{root}/idx")
        corpus = VersionedParquetTable(spark, f"{root}/corpus")
        sp = SpanDupIndex(spark, f"{root}/spans", k=8, min_docs=2)
        ing = StreamingCorpusIngest(idx, corpus, threshold=0.7,
                                    span_index=sp)
        ing.process_batch(b1, 0)
        if crash_batch2_corpus_append:
            # publish point is commit_staged since round 8 (staging
            # overlaps the extends; the pointer flip stays ordered)
            orig = corpus.commit_staged
            calls = {"n": 0}

            def dying(*a, **k):
                calls["n"] += 1
                raise OSError("crash before corpus append")

            corpus.commit_staged = dying
            try:
                ing.process_batch(b2, 1)
            except OSError:
                pass
            assert calls["n"] == 1
            corpus.commit_staged = orig
            # the foreachBatch replay of the SAME batch_id
            ing.process_batch(b2, 1)
        else:
            ing.process_batch(b2, 1)
        return sorted(
            (r["doc_id"], r["text"]) for r in corpus.read().collect()
        )

    clean = run(str(tmp_path / "clean"), False)
    crashed = run(str(tmp_path / "crash"), True)
    assert crashed == clean and len(clean) > 0


def test_rebuild_replaces_extended_epochs_minhash_and_span(spark, tmp_path):
    """``build`` (re)builds from the reference corpus alone: docs an
    earlier ``extend`` appended as their own epoch must not survive it."""
    from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex
    from ig_etl_sync_spark.operators.spans import SpanDupIndex

    def docs(doc_id, text):
        return spark.createDataFrame([(doc_id, text)], "doc_id string, text string")

    for index in (
        MinhashDedupIndex(spark, str(tmp_path / "m")),
        SpanDupIndex(spark, str(tmp_path / "s")),
    ):
        index.build(docs("a", "alpha beta gamma delta epsilon zeta eta theta iota"))
        index.extend(docs("b", "one two three four five six seven eight nine ten"))
        index.build(docs("c", "red orange yellow green blue indigo violet white black"))
        assert {r.doc_id for r in index._table.read().collect()} == {"c"}
        index.extend(docs("d", "north south east west up down left right in out"))
        assert {r.doc_id for r in index._table.read().collect()} == {"c", "d"}
