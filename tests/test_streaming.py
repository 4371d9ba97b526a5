"""Streaming sync (SURVEY §2.9 X7)."""

from __future__ import annotations

import json
import os

import pytest

from ig_etl_sync_spark.operators.graph import GraphStore
from ig_etl_sync_spark.operators.reconcile import Reconciler, SnapshotStore
from ig_etl_sync_spark.streaming.sync import streaming_sync

SCHEMA = "external_id string, name string, updated_at string"


def write_tick(d: str, i: int, rows: list[dict]) -> None:
    with open(os.path.join(d, f"tick_{i}.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def stores(spark, tmp_path):
    return (
        Reconciler(SnapshotStore(spark, str(tmp_path / "snap"))),
        GraphStore(spark, str(tmp_path / "graph")),
        str(tmp_path),
    )


def run_tick(spark, stores, src_dir, checkpoint):
    rec, graph, _ = stores
    stream = spark.readStream.schema(SCHEMA).json(src_dir)
    q = streaming_sync(
        stream, rec, graph,
        integration_key="stream:test", function_key="CREATE_NODE:item",
        label="item", checkpoint_dir=checkpoint, trigger_once=True,
    )
    q.awaitTermination(120)


def test_streaming_sync_incremental(spark, stores):
    rec, graph, root = stores
    src = os.path.join(root, "src")
    os.makedirs(src)
    ckpt = os.path.join(root, "ckpt")

    write_tick(src, 0, [
        {"external_id": "a", "name": "A", "updated_at": "t1"},
        {"external_id": "b", "name": "B", "updated_at": "t2"},
    ])
    run_tick(spark, stores, src, ckpt)
    assert sorted(r["external_id"] for r in graph.nodes("item").collect()) == ["a", "b"]

    # Second tick: only the NEW file is a new micro-batch (file source is
    # append-only); upsert mode updates 'a', adds 'c', leaves 'b' alone.
    write_tick(src, 1, [
        {"external_id": "a", "name": "A2", "updated_at": "t9"},
        {"external_id": "c", "name": "C", "updated_at": "t3"},
    ])
    run_tick(spark, stores, src, ckpt)
    got = {r["external_id"]: r["name"] for r in graph.nodes("item").collect()}
    assert got["a"] == "A2" and "c" in got and "b" in got

    # Re-delivering the same data must be a no-op (idempotent sink +
    # merged snapshot): the graph is unchanged.
    write_tick(src, 2, [
        {"external_id": "a", "name": "A2", "updated_at": "t9"},
    ])
    run_tick(spark, stores, src, ckpt)
    again = {r["external_id"]: r["name"] for r in graph.nodes("item").collect()}
    assert again == got
