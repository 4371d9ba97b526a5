"""Commit protocol of the versioned table (sources/versioned.py):
pointer-derived head, reader isolation, crash invisibility, gc/vacuum,
time travel, and the incremental-partition write guards.
"""

from __future__ import annotations

import os

import pytest

from ig_etl_sync_spark.sources.versioned import KEEP_VERSIONS, VersionedParquetTable


@pytest.fixture()
def table(spark, tmp_path):
    return VersionedParquetTable(spark, str(tmp_path / "t"))


# One parameter: the ``[pointer]`` id names the table's commit protocol,
# the ``_LATEST`` pointer flip.
@pytest.fixture(params=["pointer"])
def pointer_table(table):
    return table


def df(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "x int")


def test_empty_table_reads_none(table):
    assert table.read() is None
    assert not table.exists()
    assert table.latest_version() is None
    assert table.versions() == []


def test_write_read_roundtrip_and_head_advances(spark, table):
    v0 = table.write(df(spark, 1))
    assert table.latest_version() == v0
    assert [r["x"] for r in table.read().collect()] == [1]
    v1 = table.write(df(spark, 2))
    assert table.latest_version() == v1
    assert [r["x"] for r in table.read().collect()] == [2]
    # version numbers are contiguous from 0
    assert [v0, v1] == table.versions() == ["v000000", "v000001"]


def test_reader_isolation_across_commit(spark, table):
    table.write(df(spark, 1))
    pinned = table.read()
    table.write(df(spark, 2))
    assert [r["x"] for r in pinned.collect()] == [1]
    assert [r["x"] for r in table.read().collect()] == [2]


def test_staged_dir_without_commit_is_invisible(spark, table):
    v0 = table.write(df(spark, 1))
    # simulate a crashed writer: staged parquet, no pointer flip
    df(spark, 99).write.parquet(os.path.join(table.path, ".stg-deadbeef0000"))
    assert table.latest_version() == v0
    assert table.versions() == [v0]
    assert [r["x"] for r in table.read().collect()] == [1]


def test_vacuum_respects_age_and_liveness(spark, table):
    table.write(df(spark, 1))
    orphan = os.path.join(table.path, ".stg-deadbeef0000")
    df(spark, 99).write.parquet(orphan)
    # young orphan survives
    assert table.vacuum(min_age_seconds=3600) == []
    assert os.path.isdir(orphan)
    # old orphan is removed; the published version survives even when old
    os.utime(orphan, (0, 0))
    os.utime(os.path.join(table.path, table.latest_version()), (0, 0))
    assert table.vacuum(min_age_seconds=3600) == [".stg-deadbeef0000"]
    assert not os.path.isdir(orphan)
    assert [r["x"] for r in table.read().collect()] == [1]


def test_gc_bounds_history(spark, table):
    versions = [table.write(df(spark, i)) for i in range(KEEP_VERSIONS + 1)]
    kept = versions[1:]  # the newest KEEP_VERSIONS; the first is gc'd
    assert table.versions() == kept
    live_dirs = {d for d in os.listdir(table.path) if d.startswith("v")}
    assert live_dirs == set(kept)
    assert [r["x"] for r in table.read().collect()] == [KEEP_VERSIONS]
    with pytest.raises(ValueError, match="not retained"):
        table.read_version(versions[0])


# Named for the two tables it once compared; it now covers the pointer
# table alone.
def test_time_travel_both_backends(spark, table):
    """versions() lists retained history in commit order and
    read_version() reads any retained snapshot."""
    v = [table.write(df(spark, i)) for i in range(KEEP_VERSIONS)]
    assert table.versions() == v
    for i, ver in enumerate(v):
        assert [r["x"] for r in table.read_version(ver).collect()] == [i]
    with pytest.raises(ValueError, match="not retained"):
        table.read_version("v-nonexistent")
    # gc'd versions disappear from history and raise on read
    newest = table.write(df(spark, KEEP_VERSIONS))
    assert table.versions() == v[1:] + [newest]
    with pytest.raises(ValueError, match="not retained"):
        table.read_version(v[0])


# One parameter: the id names the class under test, the pointer table.
@pytest.mark.parametrize("table_cls", [VersionedParquetTable])
def test_schema_evolution_across_versions(spark, tmp_path, table_cls):
    """Full-replace versioning makes schema change free: a new version
    carries its own schema; time travel reads each version with the
    schema it was written with."""
    table = table_cls(spark, str(tmp_path / "evo"))
    v1_df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v1 = table.write(v1_df)
    v2_df = spark.createDataFrame(
        [(1, "a", 0.5), (3, "c", 1.5)], "id long, name string, score double"
    )
    v2 = table.write(v2_df)

    latest = table.read()
    assert set(latest.columns) == {"id", "name", "score"}
    assert latest.count() == 2
    old = table.read_version(v1)
    assert set(old.columns) == {"id", "name"}
    assert {r["id"] for r in old.collect()} == {1, 2}
    new = table.read_version(v2)
    assert {r["score"] for r in new.collect()} == {0.5, 1.5}


# --------------------------------------------- incremental partitions


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k string, x int")


# The ``manifest`` tests below keep the names they had when they ran
# against a manifest-listing table; they now cover the pointer table.


def test_manifest_undeclared_dirty_partition_rejected(spark, table):
    table.write_incremental(_pdf(spark, [("a", 1)]), "k", {"a"})
    with pytest.raises(ValueError, match="not declared dirty"):
        table.write_incremental(_pdf(spark, [("z", 9)]), "k", {"a"})


def test_manifest_partition_drop_and_empty_table(spark, table):
    table.write_incremental(
        _pdf(spark, [("a", 1), ("b", 2)]), "k", {"a", "b"}
    )
    # dirty partition absent from df => dropped from the new version
    table.write_incremental(
        spark.createDataFrame([], "k string, x int"), "k", {"a"}
    )
    assert {r.k for r in table.read().collect()} == {"b"}
    # empty out everything: table stays readable with schema
    table.write_incremental(
        spark.createDataFrame([], "k string, x int"), "k", {"b"}
    )
    out = table.read()
    assert out.count() == 0 and set(out.columns) >= {"k", "x"}


def test_manifest_time_travel_and_reader_isolation(spark, table):
    """A frame read before a commit keeps seeing its own version while
    read_version() serves both."""
    v0 = table.write(_pdf(spark, [("a", 1)]))
    pinned = table.read()
    v1 = table.write(_pdf(spark, [("a", 2)]))
    assert {r.x for r in pinned.collect()} == {1}  # R6 isolation
    assert {r.x for r in table.read_version(v0).collect()} == {1}
    assert {r.x for r in table.read_version(v1).collect()} == {2}
    with pytest.raises(ValueError, match="not retained"):
        table.read_version("v-nope")


# ------------------------------------- unpartitioned carry-forward guard


def test_incremental_after_plain_write_refuses_row_loss(spark, pointer_table):
    """A plain write() stores rows unpartitioned; a following
    write_incremental used to silently drop them (it links only
    partition dirs). It must now refuse — and succeed when the caller
    asserts a full rewrite via absorb_unpartitioned=True."""
    t = pointer_table
    t.write(_pdf(spark, [("a", 1), ("b", 2)]))
    with pytest.raises(ValueError, match="unpartitioned data"):
        t.write_incremental(_pdf(spark, [("c", 3)]), "k", {"c"})
    # the refusal left the table untouched
    assert {(r.k, r.x) for r in t.read().select("k", "x").collect()} == {
        ("a", 1), ("b", 2)
    }
    # compact/repair pattern: read all, declare everything dirty
    full = _pdf(spark, [("a", 1), ("b", 2), ("c", 3)])
    t.write_incremental(
        full, "k", {"a", "b", "c"}, absorb_unpartitioned=True
    )
    assert {(r.k, r.x) for r in t.read().select("k", "x").collect()} == {
        ("a", 1), ("b", 2), ("c", 3)
    }
    # and the NEXT plain incremental append works again
    t.write_incremental(_pdf(spark, [("c", 30)]), "k", {"c"})
    assert {(r.k, r.x) for r in t.read().select("k", "x").collect()} == {
        ("a", 1), ("b", 2), ("c", 30)
    }


def test_empty_schema_carrier_does_not_trip_guard(spark, pointer_table):
    """The empty-table fallback stages a ZERO-ROW unpartitioned file so
    the version carries schema — that one is droppable and must not be
    mistaken for plain-write data."""
    t = pointer_table
    empty = spark.createDataFrame([], "k string, x int")
    t.write_incremental(empty, "k", {"z"})
    assert t.read().count() == 0
    t.write_incremental(_pdf(spark, [("a", 1)]), "k", {"a"})
    assert {(r.k, r.x) for r in t.read().collect()} == {("a", 1)}


def test_has_partition_driver_side_probe(spark, tmp_path):
    """has_partition: False only when the partition provably does not
    exist; True for present partitions AND (conservatively) when the
    head version holds unpartitioned rows."""
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("ep")
    )
    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    assert t.has_partition("ep", "0") is False  # unbuilt table
    t.write_incremental(df, "ep", {"0", "1"})
    assert t.has_partition("ep", "0") is True
    assert t.has_partition("ep", "1") is True
    assert t.has_partition("ep", "7") is False
    # a plain write() stores unpartitioned rows -> conservative True
    t2 = VersionedParquetTable(spark, str(tmp_path / "hpu"))
    t2.write(df)
    assert t2.has_partition("ep", "7") is True


def test_cluster_false_file_count_stays_bounded(spark, table):
    """The ``cluster=False`` skip-the-exchange path must not emit
    tasks-many files when a caller hands a tiny single-epoch batch on
    an artificially wide frame — the narrow coalesce pins the
    per-commit file count at defaultParallelism (a no-op for AQE-sized
    and compact-laid-out callers)."""
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    wide = (
        spark.range(10)
        .repartition(cores * 8)  # deliberately wider than the data
        .select(F.col("id"), F.lit(1).cast("int").alias("ep"))
    )
    table.write_incremental(wide, "ep", {"1"}, cluster=False)
    n_files = 0
    for _root, _dirs, names in os.walk(table.path):
        n_files += sum(1 for n in names if n.endswith(".parquet"))
    assert n_files <= cores, (n_files, cores)
    # contents unchanged by the pin
    assert table.read().count() == 10


# ------------------------------------------- epoch-append protocol


def _epoch_rows(spark, ids):
    return spark.createDataFrame([(i, f"t{i}") for i in ids], "id int, t string")


def _contents(t):
    return sorted((r.id, r.t, r.ep) for r in t.read().collect())


def test_next_epoch_from_listing(spark, tmp_path, table):
    """next_epoch: 0 for a missing table and for a table without
    partitions (an empty write), else one past the largest epoch dir."""
    assert table.next_epoch("ep") == 0
    empty = VersionedParquetTable(spark, str(tmp_path / "empty"))
    empty.write_incremental(
        spark.createDataFrame([], "id int, t string, ep int"), "ep", {"0"}
    )
    assert empty.exists() and empty.next_epoch("ep") == 0
    table.append_epoch(_epoch_rows(spark, [1]), "ep", 0, "id")
    table.append_epoch(_epoch_rows(spark, [2]), "ep", 7, "id")
    assert table.next_epoch("ep") == 8


def test_append_epoch_replay_is_noop_and_different_batch_raises(
    spark, table
):
    table.append_epoch(_epoch_rows(spark, [1, 2]), "ep", 3, "id")
    before = _contents(table)
    assert before == [(1, "t1", 3), (2, "t2", 3)]
    # an identical replay re-writes the same epoch with the same rows
    table.append_epoch(_epoch_rows(spark, [2, 1]), "ep", 3, "id")
    assert _contents(table) == before
    head = table.latest_version()
    with pytest.raises(ValueError, match="DIFFERENT batch"):
        table.append_epoch(_epoch_rows(spark, [1, 9]), "ep", 3, "id")
    # the refusal staged nothing and published nothing
    assert table.latest_version() == head and _contents(table) == before


def test_compact_epochs_keeps_contents_and_appends_resume(spark, table):
    assert table.compact_epochs("ep", ["id"], 2) is None  # missing table
    for epoch, ids in ((0, [1, 2]), (1, [3]), (2, [4, 5])):
        table.append_epoch(_epoch_rows(spark, ids), "ep", epoch, "id")
    ids_t = sorted((r.id, r.t) for r in table.read().collect())
    table.compact_epochs("ep", ["id"], 2)
    vdir = os.path.join(table.path, table.latest_version())
    assert sorted(d for d in os.listdir(vdir) if d.startswith("ep=")) == [
        "ep=0"
    ]
    assert sorted((r.id, r.t) for r in table.read().collect()) == ids_t
    assert {r.ep for r in table.read().collect()} == {0}
    nxt = table.next_epoch("ep")
    assert nxt == 1
    table.append_epoch(_epoch_rows(spark, [6]), "ep", nxt, "id")
    assert sorted((r.id, r.ep) for r in table.read().collect()) == [
        (1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 1)
    ]


# ------------------------------------------------ the stored read schema


def test_versions_carry_the_inferred_schema(spark, tmp_path):
    """Every version stores the schema parquet inference would return,
    and ``read()`` uses it: equal schemas, and no Spark job."""
    from pyspark.sql import functions as F

    from ig_etl_sync_spark.operators.graph import EdgeType, GraphStore
    from ig_etl_sync_spark.sources.versioned import SCHEMA_FILE

    g = GraphStore(spark, str(tmp_path / "graph"), n_buckets=4)
    nodes = spark.createDataFrame(
        [(f"k{i}", i, [float(i)]) for i in range(8)],
        "external_id string, n int not null, v array<double>",
    )
    g.write_nodes("a", to_create=nodes)
    g.write_nodes("a", to_create=nodes.where("n = 1").withColumn("n", F.lit(10)))
    g.write_nodes("b", to_create=nodes.select("external_id"))
    g.write_edges("a", "r", "b", spark.createDataFrame(
        [(f"k{i}", f"k{(i + 1) % 8}") for i in range(8)], "a_id string, b_id string"
    ))
    g.write_nodes("b", to_delete=spark.createDataFrame([("k3",)], "external_id string"))
    # every node of a deleted: an empty bucketed version
    g.write_nodes("c", to_create=nodes.select("external_id"))
    g.write_nodes("c", to_delete=nodes.select("external_id"))

    snapshot = VersionedParquetTable(spark, str(tmp_path / "snapshot"))
    snapshot.write(spark.createDataFrame([("k", 1)], "external_id string, change_hash bigint"))
    epochs = VersionedParquetTable(spark, str(tmp_path / "epochs"))
    docs = spark.createDataFrame([("d1", "x"), ("d2", "y")], "doc_id string, text string")
    epochs.append_epoch(docs, "epoch", 0, "doc_id")
    epochs.append_epoch(docs.where("doc_id = 'd2'"), "epoch", 1, "doc_id")
    epochs.replace_epochs(docs, "epoch")
    epochs.append_epoch(docs.where("doc_id = 'd1'"), "epoch", 1, "doc_id")
    empty = VersionedParquetTable(spark, str(tmp_path / "empty"))
    empty.write_incremental(spark.createDataFrame([], "k string, x int"), "k", {"z"})

    tables = [
        g._node_table("a"), g._node_table("c"),
        g._edge_table(EdgeType("a", "r", "b")), snapshot, epochs, empty,
    ]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for t in tables:
        assert len(t.versions()) >= 2 or t in (snapshot, empty), t.path
        for v in t.versions():
            vdir = os.path.join(t.path, v)
            assert os.path.exists(os.path.join(vdir, SCHEMA_FILE)), vdir
            inferred = spark.read.parquet(vdir).schema
            assert t.read_version(v).schema == inferred, vdir
        jobs = dag.numTotalJobs()
        latest = t.read()
        assert dag.numTotalJobs() == jobs, t.path
        assert latest.schema == spark.read.parquet(
            os.path.join(t.path, t.latest_version())
        ).schema, t.path
    assert g._edge_table(EdgeType("a", "r", "b")).read().count() == 7
    assert g.nodes("c").count() == 0
    assert sorted(tuple(r) for r in epochs.read().collect()) == [
        ("d1", "x", 0), ("d1", "x", 1), ("d2", "y", 0)
    ]


def test_version_without_schema_file_is_inferred(spark, table):
    """A version written before versions carried their schema reads as
    before, by inference."""
    from ig_etl_sync_spark.sources.versioned import SCHEMA_FILE

    v = table.write(df(spark, 1, 2))
    os.remove(os.path.join(table.path, v, SCHEMA_FILE))
    assert table.read().schema == df(spark).schema
    assert sorted(r["x"] for r in table.read_version(v).collect()) == [1, 2]
