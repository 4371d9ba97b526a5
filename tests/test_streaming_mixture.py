"""X105 StreamingMixtureGate: quota decisions, replay idempotence,
epoch-collision guard."""

from __future__ import annotations

import pytest
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


TARGET = {"en": 500_000, "de": 500_000}


def test_mixture_gate_tracks_recipe_and_drops_offrecipe(spark, tmp_path):
    # en has 4x the tokens of de -> de binds; admitted en tokens must
    # come down to ~de's total (50/50 recipe), fr dropped entirely
    rows = (
        [(i, "en", "w " * 40) for i in range(20)]
        + [(100 + i, "de", "w " * 40) for i in range(5)]
        + [(200 + i, "fr", "w " * 40) for i in range(5)]
    )
    g = _gate(spark, tmp_path, TARGET)
    g.process_batch(_docs(spark, rows), 0)
    adm = g.corpus.read().groupBy("lang").agg(
        F.sum("n_tokens").alias("t")
    ).collect()
    tot = {r.lang: r.t for r in adm}
    assert "fr" not in tot
    assert tot["de"] == 200  # the binding group admits everything
    # en allowance = T*0.5 with T = min(800/0.5, 200/0.5)*adjusted ->
    # 400*0.5... exact: T = min(800*1e6//5e5, 200*1e6//5e5) = 400;
    # allow_en = 400*5e5//1e6 = 200 tokens = 5 docs of 40
    assert tot["en"] == 200


def test_mixture_gate_second_batch_uses_state(spark, tmp_path):
    g = _gate(spark, tmp_path, TARGET)
    g.process_batch(
        _docs(spark, [(1, "en", "w " * 100), (2, "de", "w " * 100)]), 0
    )
    # batch 2 brings only de tokens: en's admitted total (100) now
    # binds T; de may admit only up to parity
    g.process_batch(
        _docs(spark, [(10, "de", "w " * 300)]), 1
    )
    tot = {
        r.lang: r.t
        for r in g.corpus.read()
        .groupBy("lang")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    assert tot["en"] == 100
    # T2 = min((100)*2, (100+300)*2) = 200; de allowance = 100 - 100
    # already admitted = 0 extra... whole-doc granularity: the 300-token
    # doc exceeds the allowance, nothing new admits
    assert tot["de"] == 100


def test_mixture_gate_replay_idempotent(spark, tmp_path):
    b1 = _docs(spark, [(i, "en", "w " * 10) for i in range(10)]
               + [(100 + i, "de", "w " * 10) for i in range(10)])
    b2 = _docs(spark, [(50 + i, "en", "w " * 10) for i in range(6)]
               + [(150 + i, "de", "w " * 10) for i in range(2)])
    g = _gate(spark, tmp_path, TARGET)
    g.process_batch(b1, 0)
    g.process_batch(b2, 1)
    before = sorted(
        (r.doc_id, r.lang, r.n_tokens, r.mepoch)
        for r in g.corpus.read().collect()
    )
    # foreachBatch replay of batch 2 (same id): decisions recompute
    # from epochs < 2 only, so the re-write is content-identical
    g.process_batch(b2, 1)
    after = sorted(
        (r.doc_id, r.lang, r.n_tokens, r.mepoch)
        for r in g.corpus.read().collect()
    )
    assert after == before


def test_mixture_gate_epoch_collision_raises(spark, tmp_path):
    g = _gate(spark, tmp_path, TARGET)
    g.process_batch(_docs(spark, [(1, "en", "w w"), (2, "de", "w w")]), 0)
    with pytest.raises(Exception, match="epoch"):
        g.process_batch(
            _docs(spark, [(9, "en", "w w"), (8, "de", "w w")]), 0
        )


def test_mixture_gate_rejects_bad_recipe(spark, tmp_path):
    with pytest.raises(ValueError, match="1_000_000"):
        _gate(spark, tmp_path, {"en": 1})
    with pytest.raises(ValueError, match="positive"):
        _gate(spark, tmp_path, {"en": 1_000_001, "de": -1})
