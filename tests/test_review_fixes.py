"""Regression tests for the code-review findings (round 1)."""

from __future__ import annotations

import json
import os

import pytest

from ig_etl_sync_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
from ig_etl_sync_spark.operators.joins import salted_join
from ig_etl_sync_spark.operators.similarity import lsh_topk, pandas_topk


def test_salted_join_rejects_outer(spark):
    big = spark.createDataFrame([("a", 1)], "k string, v int")
    small = spark.createDataFrame([("a", "A")], "k string, name string")
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="phantom"):
            salted_join(big, small, "k", how=how)


def test_lsh_dim_mismatch_raises(spark):
    emb = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [0.5] * 16)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dimension is 16"):
        lsh_topk(emb, emb, dim=64)


def test_lsh_bands_validation(spark):
    sigs = minhash_signatures(
        spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string"),
        num_hashes=16,
    )
    with pytest.raises(ValueError, match="one bucket"):
        lsh_candidate_pairs(sigs, bands=32, num_hashes=16)
    with pytest.raises(ValueError, match="excluded"):
        lsh_candidate_pairs(sigs, bands=5, num_hashes=16)


def test_pandas_topk_string_ids(spark):
    emb = spark.createDataFrame(
        [(f"doc-{i}", [float(i + j) for j in range(4)]) for i in range(6)],
        "doc_uuid string, embedding array<float>",
    )
    q = emb.where("doc_uuid = 'doc-0'")
    rows = pandas_topk(emb, q, k=3, id_col="doc_uuid").collect()
    assert len(rows) == 3
    assert all(isinstance(r["neighbor_id"], str) for r in rows)


def test_full_state_empty_spurious_batch_is_noop(spark, tmp_path):
    """full_state mode + an all-rows-filtered TRANSFORM must still
    delete (legitimate); but a source batch with zero rows must not
    run at all — exercised via transform on a non-empty batch versus
    no new files (no batch fires)."""
    from ig_etl_sync_spark.operators.graph import GraphStore
    from ig_etl_sync_spark.operators.reconcile import Reconciler, SnapshotStore
    from ig_etl_sync_spark.streaming.sync import streaming_sync

    rec = Reconciler(SnapshotStore(spark, str(tmp_path / "snap")))
    graph = GraphStore(spark, str(tmp_path / "graph"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(f"{src}/t0.json", "w") as f:
        f.write(json.dumps({"external_id": "a", "name": "A", "updated_at": "t1"}) + "\n")

    def run():
        stream = spark.readStream.schema(
            "external_id string, name string, updated_at string"
        ).json(src)
        q = streaming_sync(
            stream, rec, graph, "s:x", "CREATE_NODE:item", "item",
            str(tmp_path / "ckpt"), mode="full_state", trigger_once=True,
        )
        q.awaitTermination(120)

    run()
    assert graph.nodes("item").count() == 1
    # Re-run with NO new files: availableNow fires no (or an empty)
    # batch; the graph must be untouched either way.
    run()
    assert graph.nodes("item").count() == 1
