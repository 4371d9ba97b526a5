"""CDC core (SURVEY §2.3) — the five FIXTURES.md §A scenarios."""

from __future__ import annotations

import os

import pytest

from ig_etl_sync_spark.operators.reconcile import (
    Reconciler,
    SnapshotStore,
    reconcile,
    snapshot_of,
)

INT_KEY = "http:test-integration"
FN_KEY = "CREATE_NODE:bucket"


def mk_df(spark, rows):
    return spark.createDataFrame(
        rows, "external_id string, name string, updated_at string"
    )


# One parameter: the ``[pointer]`` id names the table's commit protocol,
# the ``_LATEST`` pointer flip of sources/versioned.py.
@pytest.fixture(params=["pointer"])
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "snapshots"))


def test_initial_all_create(spark):
    inc = mk_df(spark, [("a", "A", "t1"), ("b", "B", "t2")])
    diff = reconcile(inc, None)
    assert sorted(r["external_id"] for r in diff.to_create.collect()) == ["a", "b"]
    assert diff.to_delete.count() == 0


def test_unchanged_empty_diff(spark, store):
    rec = Reconciler(store)
    inc = mk_df(spark, [("a", "A", "t1"), ("b", "B", "t2")])
    rec.commit(INT_KEY, FN_KEY, inc)
    diff = rec.reconcile(INT_KEY, FN_KEY, inc)
    assert diff.is_empty()  # main.go:224-237 idempotency invariant


def test_updated_only_changed_key(spark, store):
    rec = Reconciler(store)
    rec.commit(INT_KEY, FN_KEY, mk_df(spark, [("a", "A", "t1"), ("b", "B", "t2")]))
    bumped = mk_df(spark, [("a", "A", "t1"), ("b", "B", "t9")])  # b's updated_at bumped
    diff = rec.reconcile(INT_KEY, FN_KEY, bumped)
    assert [r["external_id"] for r in diff.to_create.collect()] == ["b"]
    assert diff.to_delete.count() == 0


def test_property_change_without_updated_at_is_missed_like_reference(spark, store):
    """The reference hashes ONLY the prefer-chain value when present
    (recon.go:135-144): a property change with an unchanged updated_at is
    NOT detected. We preserve that exact semantic (it is the documented
    short-circuit, not a bug in our port)."""
    rec = Reconciler(store)
    rec.commit(INT_KEY, FN_KEY, mk_df(spark, [("a", "A", "t1")]))
    renamed = mk_df(spark, [("a", "DIFFERENT", "t1")])
    assert rec.reconcile(INT_KEY, FN_KEY, renamed).is_empty()


def test_hash_fallback_on_empty_updated_at(spark, store):
    """Empty updated_at falls through to the full-record fingerprint
    (recon.go:141-153) → property changes ARE detected."""
    rec = Reconciler(store)
    rec.commit(INT_KEY, FN_KEY, mk_df(spark, [("a", "A", "")]))
    renamed = mk_df(spark, [("a", "DIFFERENT", "")])
    diff = rec.reconcile(INT_KEY, FN_KEY, renamed)
    assert [r["external_id"] for r in diff.to_create.collect()] == ["a"]


def test_removed_all_delete(spark, store):
    rec = Reconciler(store)
    rec.commit(INT_KEY, FN_KEY, mk_df(spark, [("a", "A", "t1"), ("b", "B", "t2")]))
    empty = mk_df(spark, [])
    diff = rec.reconcile(INT_KEY, FN_KEY, empty)
    assert diff.to_create.count() == 0
    assert sorted(r["external_id"] for r in diff.to_delete.collect()) == ["a", "b"]


def test_mixed_add_update_remove(spark, store):
    rec = Reconciler(store)
    rec.commit(
        INT_KEY, FN_KEY,
        mk_df(spark, [("a", "A", "t1"), ("b", "B", "t2"), ("c", "C", "t3")]),
    )
    nxt = mk_df(spark, [("a", "A", "t1"), ("b", "B", "t9"), ("d", "D", "t4")])
    diff = rec.reconcile(INT_KEY, FN_KEY, nxt)
    assert sorted(r["external_id"] for r in diff.to_create.collect()) == ["b", "d"]
    assert [r["external_id"] for r in diff.to_delete.collect()] == ["c"]


def test_commit_isolation_versions(spark, store):
    """R6: a snapshot read before a commit still sees the old version."""
    rec = Reconciler(store)
    rec.commit(INT_KEY, FN_KEY, mk_df(spark, [("a", "A", "t1")]))
    pinned = store.read(INT_KEY, FN_KEY)
    rec.commit(INT_KEY, FN_KEY, mk_df(spark, [("b", "B", "t2")]))
    assert [r["external_id"] for r in pinned.collect()] == ["a"]
    assert [r["external_id"] for r in store.read(INT_KEY, FN_KEY).collect()] == ["b"]


def test_relation_passthrough(spark, store, tmp_path):
    """R2: a relation function's edges are never diffed — the whole
    batch lands in the graph on every sync — and it keeps no snapshot."""
    from ig_etl_sync_spark.operators.graph import GraphStore
    from ig_etl_sync_spark.plans.pipeline import sync_function

    rec = Reconciler(store)
    graph = GraphStore(spark, str(tmp_path / "graph"), n_buckets=4)
    nodes = spark.createDataFrame([("x",), ("y",)], "external_id string")
    graph.write_nodes("a", to_create=nodes)
    graph.write_nodes("b", to_create=nodes)
    edges = spark.createDataFrame([("x", "y"), ("y", "x")], "a_id string, b_id string")
    fn_key = "CREATE_RELATION:r"
    for _ in range(2):  # a re-sync re-merges the same batch
        created, deleted = sync_function(
            rec, graph, INT_KEY, fn_key, ("a", "r", "b"), edges, delta=False
        )
        assert (created, deleted) == (2, 0)
    assert sorted((r.a_id, r.b_id) for r in graph.edges("a", "r", "b").collect()) == [
        ("x", "y"), ("y", "x")
    ]
    assert store.read(INT_KEY, fn_key) is None
    assert not os.path.exists(store._table(INT_KEY, fn_key).path)


def test_duplicate_keys_deterministic(spark):
    """Duplicate external_ids collapse deterministically (max hash) —
    stable across re-runs unlike the reference's UNWIND order."""
    dup = mk_df(spark, [("a", "A", "t1"), ("a", "A", "t2")])
    snap1 = snapshot_of(dup)
    snap2 = snapshot_of(dup)
    assert snap1.collect() == snap2.collect()
    assert snap1.count() == 1


def test_snapshot_of_equals_collapsed_incoming(spark):
    """``snapshot_of`` keeps its own max-hash aggregate, which must equal
    the ``(key, hash)`` of the one row per key that ``hashed_incoming``
    keeps — the frame the diff and the sink see."""
    from ig_etl_sync_spark.operators.reconcile import hashed_incoming

    df = mk_df(spark, [
        ("a", "A", "t1"), ("a", "B", "t2"), ("a", "C", "t2"),
        ("b", "X", ""), ("b", "Y", ""), ("c", None, None),
    ])
    collapsed = hashed_incoming(df)
    assert collapsed.count() == 3
    assert sorted(snapshot_of(df).collect()) == sorted(
        collapsed.select("external_id", "change_hash").collect()
    )


def test_diff_table_versions_all_three_changes(spark, tmp_path):
    """Time-travel CDC between two commits: create/update/delete all
    classified; identical keys absent."""
    from ig_etl_sync_spark.operators.reconcile import diff_table_versions
    from ig_etl_sync_spark.sources.versioned import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v long"))
    v1 = t.latest_version()
    t.write(spark.createDataFrame(
        [("a", 1), ("b", 99), ("d", 4)], "k string, v long"))
    v2 = t.latest_version()
    out = {r.external_id: r.change
           for r in diff_table_versions(t, "k", v1, v2).collect()}
    assert out == {"b": "update", "c": "delete", "d": "create"}
