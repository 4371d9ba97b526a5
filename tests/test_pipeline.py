"""End-to-end pipeline: the reference's own embedded self-tests
(SURVEY §5) — sync, re-sync idempotency, emptied-source deletion."""

from __future__ import annotations

import copy
from dataclasses import replace

import pytest

from ig_etl_sync_spark.operators.graph import EdgeType, GraphStore
from ig_etl_sync_spark.operators.reconcile import SnapshotStore
from ig_etl_sync_spark.plans.pipeline import PipelineRunner, packer_registry_integration
from ig_etl_sync_spark.sources.json_source import read_json_document


@pytest.fixture()
def runner(spark, tmp_path):
    snapshots = SnapshotStore(spark, str(tmp_path / "snapshots"))
    graph = GraphStore(spark, str(tmp_path / "graph"))
    return PipelineRunner(spark, snapshots, graph)


def integration(source_doc):
    def source(spark):
        return read_json_document(spark, source_doc)

    return packer_registry_integration(source)


def test_full_sync_builds_graph(spark, runner, source_doc):
    report = runner.run(integration(source_doc))
    g = runner.graph
    assert g.nodes("bucket").count() == 3
    assert g.nodes("org").count() == 2
    assert g.nodes("project").count() == 2
    assert g.nodes("version").count() == 3
    assert g.nodes("packer_build").count() == 3
    assert g.edges("org", "has", "project").count() == 2
    assert g.edges("project", "has", "bucket").count() == 3
    assert g.edges("bucket", "creates", "version").count() == 3
    assert g.edges("version", "creates", "packer_build").count() == 3
    assert report.created["CREATE_NODE:bucket"] == 3
    assert g.orphan_edge_count() == 0


def test_second_sync_is_noop(spark, runner, source_doc):
    """Invariant 1 (main.go:224-237): unchanged input ⇒ empty diff, and
    the identical re-sync publishes no table version: an empty node diff
    skips the sink and the snapshot commit, and re-sent edges (R2) are
    all already stored."""
    integ = integration(source_doc)
    runner.run(integ)

    def versions():
        g, store = runner.graph, runner.reconciler.store
        out = {fn.key: g._node_table(fn.label).latest_version()
               for fn in integ.functions if fn.label}
        out.update({fn.key: g._edge_table(EdgeType(*fn.edge)).latest_version()
                    for fn in integ.functions if fn.edge})
        out.update({f"snapshot {fn.key}": store._table(integ.key, fn.key).latest_version()
                    for fn in integ.functions if fn.label})
        return out

    before = versions()
    assert len(before) == 14 and set(before.values()) == {"v000000"}
    report2 = runner.run(integration(source_doc))
    node_creates = {
        k: v for k, v in report2.created.items() if k.startswith("CREATE_NODE")
    }
    assert all(v == 0 for v in node_creates.values())
    assert all(v == 0 for v in report2.deleted.values())
    assert versions() == before


def test_emptied_source_deletes_everything(spark, runner, source_doc):
    """Invariant 2 (main.go:288-295): emptied source ⇒ all keys deleted,
    no orphan edges after the DETACH cascade."""
    runner.run(integration(source_doc))

    def empty_buckets(doc_df):
        import pyspark.sql.functions as F

        return doc_df.withColumn(
            "buckets", F.filter("buckets", lambda b: F.lit(False))
        )

    report = runner.run(replace(integration(source_doc), pre_hook=empty_buckets))
    g = runner.graph
    assert g.nodes("bucket").count() == 0
    assert g.nodes("org").count() == 0
    assert g.nodes("packer_build").count() == 0
    assert g.edges("org", "has", "project").count() == 0
    assert g.edges("version", "creates", "packer_build").count() == 0
    assert g.orphan_edge_count() == 0
    assert report.deleted["CREATE_NODE:bucket"] == 3


def test_incremental_update_flows_one_key(spark, runner, source_doc):
    runner.run(integration(source_doc))
    source_doc["buckets"][0]["updated-at"] = "2099-01-01T00:00:00Z"
    report = runner.run(integration(source_doc))
    assert report.created["CREATE_NODE:bucket"] == 1
    assert report.deleted["CREATE_NODE:bucket"] == 0


def test_duplicate_key_with_different_updated_at_converges(spark, runner, source_doc):
    """A bucket listed twice with different ``updated-at``: reconcile
    keeps one row per key (max change hash), so the sync converges, the
    graph keeps one row per key, and the stored row is the one whose
    hash the snapshot holds. An identical re-sync is then a no-op: no
    create, and the bucket table does not move."""
    dup = copy.deepcopy(source_doc["buckets"][0])
    dup["updated-at"] = "2099-01-01T00:00:00Z"
    source_doc["buckets"].append(dup)
    runner.run(integration(source_doc))
    buckets = runner.graph.nodes("bucket")
    assert buckets.count() == 3
    assert buckets.select("external_id").distinct().count() == 3
    table = runner.graph._node_table("bucket")
    version = table.latest_version()

    report = runner.run(integration(source_doc))
    assert report.created["CREATE_NODE:bucket"] == 0
    assert table.latest_version() == version
    snap = runner.reconciler.store.read(
        integration(source_doc).key, "CREATE_NODE:bucket"
    )
    stored = runner.graph.nodes("bucket").select("external_id", "change_hash")
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, snap.collect()))
