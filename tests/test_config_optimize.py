"""RocksDB state store default + run_all (C3)."""

from __future__ import annotations

import os

from ig_etl_sync_spark.operators.graph import GraphStore
from ig_etl_sync_spark.operators.reconcile import SnapshotStore
from ig_etl_sync_spark.plans.pipeline import PipelineRunner, packer_registry_integration
from ig_etl_sync_spark.operators.transforms import PACKER_SOURCE_SCHEMA
from ig_etl_sync_spark.sources.json_source import read_json_document
from tests.conftest import SOURCE_DOC


def test_rocksdb_state_store_is_default_and_loads(spark, tmp_path):
    """Scale posture: sessions default to the RocksDB state store (heap-
    bounded streaming state; the HDFS-backed default holds every key in
    executor memory). Assert the conf AND that a stateful streaming
    query actually materializes RocksDB state under the checkpoint."""
    import json
    import os

    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for i in (1, 1, 2):
            f.write(json.dumps({"k": i}) + "\n")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("k long").json(str(src))
    seen = []
    q = (
        stream.dropDuplicates(["k"])
        .writeStream.foreachBatch(lambda df, _id: seen.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r["k"] for r in seen) == [1, 2]
    # RocksDB leaves .zip/.changelog artifacts under state/; the HDFS
    # provider writes .delta files instead.
    state_files = [
        name
        for _, _, files in os.walk(os.path.join(ckpt, "state"))
        for name in files
    ]
    assert any(n.endswith((".zip", ".changelog")) for n in state_files), state_files
    assert not any(n.endswith(".delta") for n in state_files), state_files


def test_run_all_multiple_integrations(spark, tmp_path):
    runner = PipelineRunner(
        spark,
        SnapshotStore(spark, str(tmp_path / "snap")),
        GraphStore(spark, str(tmp_path / "graph")),
    )
    import copy

    doc = copy.deepcopy(SOURCE_DOC)

    def source(s):
        return read_json_document(s, doc, schema=PACKER_SOURCE_SCHEMA)

    integs = [
        packer_registry_integration(source, key="http:one"),
        packer_registry_integration(source, key="http:two"),
    ]
    reports = runner.run_all(integs)
    assert set(reports) == {"http:one", "http:two"}
    # Same doc through two integrations: nodes dedup by key (idempotent
    # MERGE), state namespaced per integration (R7).
    assert runner.graph.nodes("bucket").count() == 3
    for rep in reports.values():
        assert rep.created["CREATE_NODE:bucket"] in (0, 3)
