"""Graph sink semantics (SURVEY §2.1 S4-S6, §2.4 J2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.graph import EdgeType, GraphStore


# One parameter: the ``[pointer]`` id names the table's commit protocol,
# the ``_LATEST`` pointer flip of sources/versioned.py.
@pytest.fixture(params=["pointer"])
def graph(spark, tmp_path):
    return GraphStore(spark, str(tmp_path / "graph"))


def test_registry_ignores_torn_marker(spark, tmp_path):
    """A crashed registrant's half-written marker must not poison the
    registry (it reads as 'not registered', never as a crash)."""
    import os

    g = GraphStore(spark, str(tmp_path / "g"))
    g._register_edge(EdgeType("a", "r", "b"))
    os.makedirs(g._registry_dir, exist_ok=True)
    with open(os.path.join(g._registry_dir, "edges_broken_r_c.json"), "w") as f:
        f.write('{"a_label": "bro')  # torn mid-write
    reg = g._load_registry()
    assert reg == [EdgeType("a", "r", "b")]


def test_registry_register_is_idempotent_and_additive(spark, tmp_path):
    import os

    g = GraphStore(spark, str(tmp_path / "g"))
    for _ in range(3):
        g._register_edge(EdgeType("a", "r", "b"))
    g._register_edge(EdgeType("a", "r2", "c"))
    assert sorted(e.rel for e in g._load_registry()) == ["r", "r2"]
    # exactly one marker per type, no leftover tmp files
    files = sorted(os.listdir(g._registry_dir))
    assert files == ["edges_a_r2_c.json", "edges_a_r_b.json"]


def nodes_df(spark, rows):
    return spark.createDataFrame(rows, "external_id string, name string")


def edges_df(spark, rows):
    return spark.createDataFrame(rows, "a_id string, b_id string")


def test_upsert_insert_then_full_replace(spark, graph):
    graph.write_nodes("bucket", to_create=nodes_df(spark, [("a", "old"), ("b", "B")]))
    # S4: MERGE ... SET x = item — full property replacement, not patch.
    graph.write_nodes("bucket", to_create=nodes_df(spark, [("a", "new")]))
    got = {r["external_id"]: r["name"] for r in graph.nodes("bucket").collect()}
    assert got == {"a": "new", "b": "B"}


def test_upsert_idempotent(spark, graph):
    df = nodes_df(spark, [("a", "A")])
    graph.write_nodes("bucket", to_create=df)
    graph.write_nodes("bucket", to_create=df)
    assert graph.nodes("bucket").count() == 1


def test_edge_merge_validates_endpoints(spark, graph):
    """J2: MATCH (a) MATCH (b) drops edges whose endpoints don't exist."""
    graph.write_nodes("org", to_create=nodes_df(spark, [("o1", "O")]))
    graph.write_nodes("project", to_create=nodes_df(spark, [("p1", "P")]))
    edges = edges_df(spark, [("o1", "p1"), ("o1", "p-missing"), ("o-missing", "p1")])
    graph.write_edges("org", "has", "project", edges)
    got = [(r["a_id"], r["b_id"]) for r in graph.edges("org", "has", "project").collect()]
    assert got == [("o1", "p1")]


def test_edge_merge_dedup(spark, graph):
    graph.write_nodes("org", to_create=nodes_df(spark, [("o1", "O")]))
    graph.write_nodes("project", to_create=nodes_df(spark, [("p1", "P")]))
    graph.write_edges("org", "has", "project", edges_df(spark, [("o1", "p1"), ("o1", "p1")]))
    graph.write_edges("org", "has", "project", edges_df(spark, [("o1", "p1")]))
    assert graph.edges("org", "has", "project").count() == 1


def test_detach_delete_cascade(spark, graph):
    """S6: deleting a node removes every edge touching it (DETACH)."""
    graph.write_nodes("org", to_create=nodes_df(spark, [("o1", "O"), ("o2", "O2")]))
    graph.write_nodes("project", to_create=nodes_df(spark, [("p1", "P"), ("p2", "P2")]))
    graph.write_edges(
        "org", "has", "project", edges_df(spark, [("o1", "p1"), ("o2", "p2")])
    )
    graph.write_nodes(
        "org", to_delete=spark.createDataFrame([("o1",)], "external_id string")
    )
    assert [r["external_id"] for r in graph.nodes("org").collect()] == ["o2"]
    got = [(r["a_id"], r["b_id"]) for r in graph.edges("org", "has", "project").collect()]
    assert got == [("o2", "p2")]
    assert graph.orphan_edge_count() == 0


def test_upsert_and_delete_same_write_is_atomic(spark, graph):
    graph.write_nodes("bucket", to_create=nodes_df(spark, [("a", "A"), ("b", "B")]))
    graph.write_nodes(
        "bucket",
        to_create=nodes_df(spark, [("c", "C")]),
        to_delete=spark.createDataFrame([("a",)], "external_id string"),
    )
    got = sorted(r["external_id"] for r in graph.nodes("bucket").collect())
    assert got == ["b", "c"]


def test_duplicate_incoming_keys_last_writer_deterministic(spark, graph, tmp_path):
    """A key listed three times: reconcile keeps one row (max change
    hash), so the sink stores one row, and the winner does not depend on
    the order the duplicates arrive in."""
    from ig_etl_sync_spark.operators.reconcile import reconcile, snapshot_of

    rows = [("a", "x"), ("a", "z"), ("a", "y")]
    reversed_store = GraphStore(spark, str(tmp_path / "g2"))
    winners = []
    for g, order in ((graph, rows), (reversed_store, rows[::-1])):
        dup = nodes_df(spark, order)
        g.write_nodes("bucket", to_create=reconcile(dup, None).to_create)
        got = g.nodes("bucket").collect()
        assert len(got) == 1
        assert got[0]["change_hash"] == snapshot_of(dup).first()["change_hash"]
        winners.append(got[0]["name"])
    assert winners[0] == winners[1]


def test_edge_merge_writes_only_new_edges(spark, tmp_path):
    """An edge already stored is skipped before validation: a re-sent
    set publishes no version, one new edge rewrites only its bucket, and
    an edge whose endpoint was deleted is still dropped."""
    import os

    g = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    keys = [str(i) for i in range(8)]
    g.write_nodes("org", to_create=nodes_df(spark, [(f"o{k}", k) for k in keys]))
    g.write_nodes("project", to_create=nodes_df(spark, [(f"p{k}", k) for k in keys]))
    sent = [(f"o{k}", f"p{k}") for k in keys]
    table = g._edge_table(EdgeType("org", "has", "project"))

    def inodes(version):
        vdir = os.path.join(table.path, version)
        return {
            d: {os.stat(os.path.join(vdir, d, f)).st_ino for f in os.listdir(os.path.join(vdir, d))}
            for d in os.listdir(vdir) if d.startswith("gbucket=")
        }

    def stored():
        return sorted((r["a_id"], r["b_id"]) for r in g.edges("org", "has", "project").collect())

    g.write_edges("org", "has", "project", edges_df(spark, sent))
    v0 = table.latest_version()
    g.write_edges("org", "has", "project", edges_df(spark, sent))
    assert table.latest_version() == v0

    g.write_edges("org", "has", "project", edges_df(spark, [*sent, ("o1", "p2")]))
    v1 = table.latest_version()
    assert v1 != v0 and stored() == sorted([*sent, ("o1", "p2")])
    bucket = g.spark.createDataFrame([("o1",)], "k string").select(
        g._bucket_of(F.col("k"))
    ).first()[0]
    before, after = inodes(v0), inodes(v1)
    assert set(before) == set(after)
    for d in after:
        if d == f"gbucket={bucket}":
            assert after[d].isdisjoint(before[d])
        else:
            assert after[d] == before[d], d

    g.write_nodes("org", to_delete=spark.createDataFrame([("o3",)], "external_id string"))
    v2 = table.latest_version()
    g.write_edges("org", "has", "project", edges_df(spark, sent))
    assert table.latest_version() == v2
    assert ("o3", "p3") not in stored() and len(stored()) == 8
    assert g.orphan_edge_count() == 0
