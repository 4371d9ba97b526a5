"""Bucketed incremental MERGE: clean buckets must survive a sync
byte-for-byte (hard-linked, not rewritten), and merges must
partition-prune."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.graph import GBUCKET, GraphStore


def _file_map(bucket_dir: str) -> dict[str, tuple[int, int]]:
    """{filename: (inode, size)} for every data file in a bucket dir."""
    out = {}
    for name in sorted(os.listdir(bucket_dir)):
        full = os.path.join(bucket_dir, name)
        if os.path.isfile(full) and not name.startswith(("_", ".")):
            st = os.stat(full)
            out[name] = (st.st_ino, st.st_size)
    return out


def _bucket_file_maps(table) -> dict[str, dict[str, tuple[int, int]]]:
    """{bucket_value: {file_id: (inode, size)}} for the LATEST version's
    ``GBUCKET=`` subdirs."""
    vdir = os.path.join(table.path, table.latest_version())
    return {
        d.split("=", 1)[1]: _file_map(os.path.join(vdir, d))
        for d in os.listdir(vdir)
        if d.startswith(f"{GBUCKET}=")
    }


def _mknodes(spark, keys, tag="a"):
    return spark.createDataFrame(
        [(str(k), f"{tag}-{k}") for k in keys], "external_id string, name string"
    )


# One parameter: the ``[pointer]`` id names the table's commit protocol,
# the ``_LATEST`` pointer flip of sources/versioned.py.
@pytest.fixture(params=["pointer"])
def store(spark, tmp_path):
    return GraphStore(spark, str(tmp_path / "graph"), n_buckets=8)


def test_untouched_buckets_byte_identical_across_sync(spark, store):
    store.write_nodes("item", to_create=_mknodes(spark, range(200)))
    before = _bucket_file_maps(store._node_table("item"))
    assert len(before) > 1, "expected multiple buckets at n=200"

    # sync ONE changed key
    store.write_nodes("item", to_create=_mknodes(spark, [7], tag="b"))
    dirty = {
        str(r[0])
        for r in store._node_table("item")
        .read()
        .where(F.col("external_id") == "7")
        .select(GBUCKET)
        .collect()
    }
    after = _bucket_file_maps(store._node_table("item"))

    assert dirty and set(before) == set(after)
    for b in before:
        if b in dirty:
            # the dirty bucket was genuinely rewritten: fresh inodes
            assert set(v[0] for v in after[b].values()).isdisjoint(
                v[0] for v in before[b].values()
            ), f"dirty bucket {b} reused old files"
        else:
            # clean buckets: exactly the same files (same inode ⇒ same
            # bytes, and proves no rewrite happened)
            assert after[b] == before[b], f"clean bucket {b} was rewritten"

    got = {(r.external_id, r.name) for r in store.nodes("item").collect()}
    want = {(str(k), f"a-{k}") for k in range(200) if k != 7} | {("7", "b-7")}
    assert got == want


def test_merge_read_is_partition_pruned(spark, store):
    store.write_nodes("item", to_create=_mknodes(spark, range(100)))
    prev = store._node_table("item").read()
    dirty = store._dirty_buckets(_mknodes(spark, [3]))
    pruned = prev.where(F.col(GBUCKET).isin([int(b) for b in dirty]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the filter must actually reference the bucket column
    assert GBUCKET in plan.split("PartitionFilters", 1)[1][:200]


def test_delete_rewrites_only_hit_buckets(spark, store):
    store.write_nodes("item", to_create=_mknodes(spark, range(100)))
    before = _bucket_file_maps(store._node_table("item"))
    dels = spark.createDataFrame([("13",)], "external_id string")
    dirty = store._dirty_buckets(dels)
    store.write_nodes("item", to_delete=dels)
    after = _bucket_file_maps(store._node_table("item"))
    for b in set(before) - dirty:
        assert after[b] == before[b], f"clean bucket {b} rewritten on delete"
    assert store.nodes("item").where(F.col("external_id") == "13").count() == 0
    assert store.nodes("item").count() == 99


def test_detach_cascade_b_side_prunes(spark, store):
    store.write_nodes("user", to_create=_mknodes(spark, range(20)))
    store.write_nodes("item", to_create=_mknodes(spark, range(20)))
    edges = spark.createDataFrame(
        [(str(i), str((i * 3) % 20)) for i in range(20)], "a_id string, b_id string"
    )
    store.write_edges("user", "likes", "item", edges)
    et_table = store._edge_table(
        __import__(
            "ig_etl_sync_spark.operators.graph", fromlist=["EdgeType"]
        ).EdgeType("user", "likes", "item")
    )
    before = _bucket_file_maps(et_table)
    # delete ONE item (b-side endpoint)
    store.write_nodes(
        "item", to_delete=spark.createDataFrame([("6",)], "external_id string")
    )
    after = _bucket_file_maps(et_table)
    # edges pointing at item 6 are gone; buckets without such an edge
    # kept their exact files
    assert store.orphan_edge_count() == 0
    remaining = {
        (r.a_id, r.b_id) for r in store.edges("user", "likes", "item").collect()
    }
    assert all(b != "6" for _a, b in remaining)
    clean = [b for b in before if b in after and after[b] == before[b]]
    assert clean, "expected at least one untouched edge bucket to be linked"


def test_empty_after_delete_all_still_readable(spark, store):
    store.write_nodes("item", to_create=_mknodes(spark, range(10)))
    store.write_nodes(
        "item",
        to_delete=spark.createDataFrame(
            [(str(k),) for k in range(10)], "external_id string"
        ),
    )
    out = store.nodes("item")
    assert out is not None and out.count() == 0
    # and the table accepts a fresh sync afterwards
    store.write_nodes("item", to_create=_mknodes(spark, [1, 2], tag="c"))
    assert store.nodes("item").count() == 2
