"""Batched GraphStore sync (S8: one staging round + one pointer flip per
table per sync — the reference's one-transaction-per-function semantics,
``neo4j.go:77-148``) and the stage/commit split it rides on.

Covers: batched ≡ unbatched results, intra-batch read visibility,
same-table write composition inside a batch, commit counts (one per
table per batch), crash-between-stage-and-commit invisibility + vacuum,
and fault injection inside the table's stage/rename/flip commit.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.graph import EdgeType, GraphStore
from ig_etl_sync_spark.sources.versioned import VersionedParquetTable


def nodes_df(spark, rows):
    return spark.createDataFrame(rows, "external_id string, name string")


def edges_df(spark, rows):
    return spark.createDataFrame(rows, "a_id string, b_id string")


def _collect_edges(g):
    return sorted(
        (r.a_id, r.b_id)
        for r in g.edges("org", "has", "project").collect()
    )


def _drive(g, spark, batched: bool):
    """The canonical sync sequence: create two node labels + edges in
    one sync, then delete one node (DETACH cascade) in a second sync."""
    orgs = nodes_df(spark, [("o1", "O1"), ("o2", "O2")])
    projs = nodes_df(spark, [("p1", "P1"), ("p2", "P2")])
    edges = edges_df(
        spark, [("o1", "p1"), ("o1", "p2"), ("o2", "p2"), ("ox", "p1")]
    )
    if batched:
        with g.sync():
            g.write_nodes("org", to_create=orgs)
            g.write_nodes("project", to_create=projs)
            g.write_edges("org", "has", "project", edges)
        with g.sync():
            g.write_nodes(
                "org", to_delete=spark.createDataFrame(
                    [("o2",)], "external_id string"
                )
            )
    else:
        g.write_nodes("org", to_create=orgs)
        g.write_nodes("project", to_create=projs)
        g.write_edges("org", "has", "project", edges)
        g.write_nodes(
            "org", to_delete=spark.createDataFrame(
                [("o2",)], "external_id string"
            )
        )


# One parameter: the ``[pointer]`` id names the table's commit protocol,
# the ``_LATEST`` pointer flip of sources/versioned.py.
@pytest.fixture(params=["pointer"])
def make_graph(spark, tmp_path):
    return lambda name: GraphStore(spark, str(tmp_path / name), n_buckets=4)


def test_batched_sync_matches_unbatched(spark, make_graph):
    gb = make_graph("b")
    gu = make_graph("u")
    _drive(gb, spark, batched=True)
    _drive(gu, spark, batched=False)
    assert _collect_edges(gb) == _collect_edges(gu) == [
        ("o1", "p1"), ("o1", "p2")  # ox invalid endpoint, o2 cascaded
    ]
    assert sorted(r.external_id for r in gb.nodes("org").collect()) == ["o1"]
    assert sorted(
        r.external_id for r in gb.nodes("project").collect()
    ) == ["p1", "p2"]


def test_intra_batch_reads_see_pending_and_outside_readers_do_not(
    spark, tmp_path
):
    g = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    outside = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    with g.sync():
        g.write_nodes("org", to_create=nodes_df(spark, [("o1", "O1")]))
        # same-store read observes the pending write...
        assert [r.external_id for r in g.nodes("org").collect()] == ["o1"]
        # ...an independent reader of the same path sees nothing
        assert outside.nodes("org") is None
        # edge validation against a pending endpoint works (else the
        # edge would be dropped as endpoint-less)
        g.write_nodes("project", to_create=nodes_df(spark, [("p1", "P1")]))
        g.write_edges(
            "org", "has", "project", edges_df(spark, [("o1", "p1")])
        )
    assert _collect_edges(outside) == [("o1", "p1")]


def test_same_table_writes_compose_within_one_batch(spark, tmp_path):
    """Create + full-property re-upsert + delete of ONE label inside a
    single batch must land as one composed commit."""
    g = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    # pre-existing state so the batch merges against a committed prev
    g.write_nodes(
        "org", to_create=nodes_df(spark, [("keep", "K"), ("gone", "G")])
    )
    t = g._node_table("org")
    assert t.latest_version() == "v000000"
    with g.sync():
        g.write_nodes("org", to_create=nodes_df(spark, [("new", "N1")]))
        g.write_nodes("org", to_create=nodes_df(spark, [("new", "N2")]))
        g.write_nodes(
            "org", to_delete=spark.createDataFrame(
                [("gone",)], "external_id string"
            )
        )
    rows = {r.external_id: r.name for r in g.nodes("org").collect()}
    assert rows == {"keep": "K", "new": "N2"}
    # the three writes landed as ONE commit: the version number moved by 1
    assert t.latest_version() == "v000001"


def test_one_commit_per_table_per_batch(spark, tmp_path):
    g = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    _drive(g, spark, batched=True)
    # batch 1 committed each of the 3 tables once (v000000); batch 2
    # (delete + cascade) committed org nodes + the edge table once each
    et = EdgeType("org", "has", "project")
    assert g._node_table("org").latest_version() == "v000001"
    assert g._node_table("project").latest_version() == "v000000"
    assert g._edge_table(et).latest_version() == "v000001"


def test_crash_between_batched_stage_and_claim(
    spark, tmp_path, make_graph, monkeypatch
):
    """Kill the sync after every table staged but before ANY table
    claimed its next version (pointer flip): no reader observes
    anything, and vacuum reclaims the orphaned staging output."""
    g = make_graph("g")
    g.write_nodes("org", to_create=nodes_df(spark, [("o1", "OLD")]))

    monkeypatch.setattr(
        VersionedParquetTable, "commit_staged",
        lambda self, *a, **k: (_ for _ in ()).throw(OSError("killed")),
    )
    with pytest.raises(OSError):
        with g.sync():
            g.write_nodes("org", to_create=nodes_df(spark, [("o1", "NEW")]))
            g.write_nodes("project", to_create=nodes_df(spark, [("p1", "P")]))
    monkeypatch.undo()

    # invisible: old state intact, new table absent
    assert [r.name for r in g.nodes("org").collect()] == ["OLD"]
    assert g.nodes("project") is None

    # the orphaned staging survives a young vacuum, then ages out
    torg = g._node_table("org")
    assert torg.vacuum(min_age_seconds=3600) == []

    def _age(root):
        for dirpath, dirnames, filenames in os.walk(root):
            for n in dirnames + filenames:
                p = os.path.join(dirpath, n)
                os.utime(p, (time.time() - 7200, time.time() - 7200))
        os.utime(root, (time.time() - 7200, time.time() - 7200))

    removed = []
    for name in ("nodes_org", "nodes_project"):
        path = os.path.join(str(tmp_path / "g"), name)
        if os.path.isdir(path):
            _age(path)
        removed += VersionedParquetTable(spark, path).vacuum(
            min_age_seconds=3600
        )
    assert removed, "vacuum reclaimed no orphaned staging output"
    # still readable after vacuum
    assert [r.name for r in g.nodes("org").collect()] == ["OLD"]


def test_pointer_backend_crash_between_stage_and_flip(spark, tmp_path):
    """Fault injection for the table's two-phase commit: a writer that
    staged a new version but died before publishing it is invisible to
    readers, and the orphan is vacuumable."""
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame([("a", 1)], "k string, x int")
    t.write_incremental(df1, "k", {"a"})
    v0 = t.latest_version()

    # stage the next version, then "crash" (no commit_staged call)
    df2 = spark.createDataFrame([("a", 2)], "k string, x int")
    staged = t.stage_incremental(df2, "k", {"a"})
    assert os.path.isdir(os.path.join(str(tmp_path / "t"), staged))

    # readers still see the old version and old values
    assert t.latest_version() == v0
    assert [r.x for r in t.read().collect()] == [1]
    # the orphan never surfaces in time travel
    assert staged not in t.versions()

    # young orphan survives vacuum (in-flight protection) ...
    assert t.vacuum(min_age_seconds=3600) == []
    old = time.time() - 7200
    sdir = os.path.join(str(tmp_path / "t"), staged)
    os.utime(sdir, (old, old))
    # ... aged orphan is reclaimed
    assert t.vacuum(min_age_seconds=3600) == [staged]
    assert not os.path.isdir(sdir)
    assert [r.x for r in t.read().collect()] == [1]


def test_crash_between_rename_and_flip_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """A commit killed after renaming its staged dir to v(N+1) but
    before the ``_LATEST`` flip leaves an unpublished version dir. Time
    travel must not surface it, and the next commit must take the
    number over instead of failing on the occupied name."""
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.write_incremental(
        spark.createDataFrame([("a", 1)], "k string, x int"), "k", {"a"}
    )
    v0 = t.latest_version()
    staged = t.stage_incremental(
        spark.createDataFrame([("a", 2)], "k string, x int"), "k", {"a"}
    )

    real_replace = os.replace

    def crash_once(src, dst):
        monkeypatch.setattr(os, "replace", real_replace)
        raise OSError("killed before the pointer flip")

    monkeypatch.setattr(os, "replace", crash_once)
    with pytest.raises(OSError, match="killed"):
        t.commit_staged(staged)
    monkeypatch.undo()

    # the rename landed, the flip did not
    assert os.path.isdir(os.path.join(t.path, "v000001"))
    assert t.latest_version() == v0
    assert t.versions() == [v0]
    with pytest.raises(ValueError, match="not retained"):
        t.read_version("v000001")
    assert [r.x for r in t.read().collect()] == [1]

    # the next commit succeeds past the leftover and publishes its data
    v1 = t.write_incremental(
        spark.createDataFrame([("a", 3)], "k string, x int"), "k", {"a"}
    )
    assert v1 == "v000001"
    assert t.versions() == [v0, v1]
    assert [r.x for r in t.read().collect()] == [3]
    assert [r.x for r in t.read_version(v1).collect()] == [3]


def test_failed_plain_write_leaves_no_listed_version(spark, tmp_path):
    """A write() whose Spark job dies mid-way must not leave a partial
    version dir that time travel lists; the next write() publishes
    normally."""
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    v0 = t.write(spark.createDataFrame([(1,)], "x int"))
    boom = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        t.write(boom)
    assert t.versions() == [v0]
    assert not any(
        d.startswith("v") and d != v0 for d in os.listdir(t.path)
    )
    v1 = t.write(spark.createDataFrame([(7,)], "x int"))
    assert t.versions() == [v0, v1]
    assert [r.x for r in t.read().collect()] == [7]


def test_pointer_stage_commit_roundtrip(spark, tmp_path):
    """The split API publishes exactly like write_incremental."""
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.write_incremental(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, x int"),
        "k", {"a", "b"},
    )
    staged = t.stage_incremental(
        spark.createDataFrame([("a", 10)], "k string, x int"), "k", {"a"}
    )
    v = t.commit_staged(staged)
    assert t.latest_version() == v
    assert sorted((r.k, r.x) for r in t.read().collect()) == [
        ("a", 10), ("b", 2)  # clean partition b linked through
    ]


def test_batch_abandoned_on_error_leaves_no_trace(spark, tmp_path):
    g = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    with pytest.raises(ValueError, match="boom"):
        with g.sync():
            g.write_nodes("org", to_create=nodes_df(spark, [("o1", "O")]))
            raise ValueError("boom")
    assert g.nodes("org") is None
    assert g._pending is None
    # a fresh batch works after the abort
    with g.sync():
        g.write_nodes("org", to_create=nodes_df(spark, [("o1", "O")]))
    assert [r.external_id for r in g.nodes("org").collect()] == ["o1"]


def test_nested_sync_rejected(spark, tmp_path):
    g = GraphStore(spark, str(tmp_path / "g"))
    with pytest.raises(RuntimeError, match="already active"):
        with g.sync():
            with g.sync():
                pass
