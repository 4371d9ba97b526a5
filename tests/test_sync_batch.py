"""One GraphStore write call is one sink transaction (S8: the
reference's one-transaction-per-function semantics,
``neo4j.go:77-148``), and the stage/commit split it rides on.

Covers: a node delete and its DETACH cascade move each touched table
by one version, a crash between their staging and the pointer flips is
invisible + vacuumable, and fault injection inside the table's
stage/rename/flip commit.
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


ORG_PROJECT = EdgeType("org", "has", "project")
PROJECT_BUCKET = EdgeType("project", "has", "bucket")


def _build(g, spark):
    """Three node labels and two edge types; only ``org has project``
    touches the org label."""
    g.write_nodes("org", to_create=nodes_df(spark, [("o1", "O1"), ("o2", "O2")]))
    g.write_nodes("project", to_create=nodes_df(spark, [("p1", "P1"), ("p2", "P2")]))
    g.write_nodes("bucket", to_create=nodes_df(spark, [("b1", "B1")]))
    g.write_edges(
        "org", "has", "project",
        edges_df(spark, [("o1", "p1"), ("o1", "p2"), ("o2", "p2")]),
    )
    g.write_edges("project", "has", "bucket", edges_df(spark, [("p2", "b1")]))


def _delete_o2(g, spark):
    g.write_nodes(
        "org", to_delete=spark.createDataFrame([("o2",)], "external_id string")
    )


def _versions(g):
    return {
        "org": g._node_table("org").latest_version(),
        "project": g._node_table("project").latest_version(),
        "bucket": g._node_table("bucket").latest_version(),
        ORG_PROJECT: g._edge_table(ORG_PROJECT).latest_version(),
        PROJECT_BUCKET: g._edge_table(PROJECT_BUCKET).latest_version(),
    }


# One parameter: the ``[pointer]`` id names the table's commit protocol,
# the ``_LATEST`` pointer flip of sources/versioned.py.
@pytest.fixture(params=["pointer"])
def make_graph(spark, tmp_path):
    return lambda name: GraphStore(spark, str(tmp_path / name), n_buckets=4)


def test_one_commit_per_table_per_batch(spark, tmp_path):
    """A node delete whose DETACH cascade rewrites an edge table moves
    the node table and that edge table by exactly one version each;
    tables the delete does not touch stay put."""
    g = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    _build(g, spark)
    before = _versions(g)
    assert set(before.values()) == {"v000000"}
    _delete_o2(g, spark)
    assert _versions(g) == {
        **before, "org": "v000001", ORG_PROJECT: "v000001"
    }
    assert sorted(
        (r.a_id, r.b_id) for r in g.edges("org", "has", "project").collect()
    ) == [("o1", "p1"), ("o1", "p2")]


def test_crash_between_batched_stage_and_claim(
    spark, tmp_path, make_graph, monkeypatch
):
    """Kill a node delete after the node table and its cascade's edge
    table staged but before EITHER claimed its next version (pointer
    flip): no reader observes anything, and vacuum reclaims the
    orphaned staging output."""
    g = make_graph("g")
    _build(g, spark)
    before = _versions(g)

    monkeypatch.setattr(
        VersionedParquetTable, "commit_staged",
        lambda self, *a, **k: (_ for _ in ()).throw(OSError("killed")),
    )
    with pytest.raises(OSError):
        _delete_o2(g, spark)
    monkeypatch.undo()

    # invisible: neither the node table nor the edge table moved
    assert _versions(g) == before
    assert sorted(r.external_id for r in g.nodes("org").collect()) == ["o1", "o2"]
    assert g.edges("org", "has", "project").count() == 3

    # the orphaned staging survives a young vacuum, then ages out
    torg = g._node_table("org")
    assert torg.vacuum(min_age_seconds=3600) == []

    def _age(root):
        for dirpath, dirnames, filenames in os.walk(root):
            for n in dirnames + filenames:
                p = os.path.join(dirpath, n)
                os.utime(p, (time.time() - 7200, time.time() - 7200))
        os.utime(root, (time.time() - 7200, time.time() - 7200))

    for table in (torg, g._edge_table(ORG_PROJECT)):
        _age(table.path)
        removed = table.vacuum(min_age_seconds=3600)
        assert len(removed) == 1, f"{table.path}: {removed}"
    # still readable after vacuum
    assert sorted(r.external_id for r in g.nodes("org").collect()) == ["o1", "o2"]
    assert g.edges("org", "has", "project").count() == 3


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
