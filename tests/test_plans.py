"""Physical-plan invariants: the scale properties SCALE.md claims,
asserted as tests so a regression fails here instead of at 100 TB.

These check plan STRUCTURE (pushdown, broadcast, partial top-n, no
single-partition exchanges), not results — results are covered by the
oracle contract.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    """Tree string (inline operator args) + formatted explain (full,
    untruncated scan details like PushedFilters) — assertions can match
    either style."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return df._jdf.queryExecution().executedPlan().toString() + buf.getvalue()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_q03_broadcasts_dims_and_takeordered(spark, sf_dir):
    from ig_etl_sync_spark.contract import QUERIES

    p = plan_of(QUERIES["q03_top_orders"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in p  # top-10 never globally sorts
    assert "BroadcastHashJoin" in p      # dim joins broadcast
    assert "SortMergeJoin" not in p      # no shuffle join for dims
    # lineitem scan is column-pruned: revenue needs 3 columns, the scan
    # must not read the rest
    scan = next(l for l in p.splitlines() if "lineitem.parquet" in l)
    assert "l_quantity" not in scan and "l_shipdate" not in scan


def test_q06_filter_pushdown(spark, sf_dir):
    from ig_etl_sync_spark.contract import QUERIES

    p = plan_of(QUERIES["q06_filtered_revenue"][0](spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "GreaterThan" in m.group(1)  # range predicates reach parquet


def test_ivf_no_single_partition_exchange(spark, emb):
    from ig_etl_sync_spark.operators.similarity import ivf_topk

    q = emb.where("vec_id < 4")
    p = plan_of(ivf_topk(emb, q, k=5))
    assert "Exchange SinglePartition" not in p  # r01's centroid sort bug
    assert "TakeOrderedAndProject(limit=16" in p  # distributed sample


def test_brute_force_corpus_never_shuffled(spark, emb):
    from ig_etl_sync_spark.operators.similarity import brute_force_topk

    q = emb.where("vec_id < 4")
    p = plan_of(brute_force_topk(emb, q, k=5))
    assert "BroadcastNestedLoopJoin" in p  # queries are the broadcast side
    assert "Exchange SinglePartition" not in p
    # the only hash exchange is the per-query top-k window, keyed
    assert len(re.findall(r"Exchange hashpartitioning\(query_id", p)) == 1
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_stratified_sample_uses_window_group_limit(spark, sf_dir):
    from ig_etl_sync_spark.operators.dataprep import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(stratified_sample(docs, "lang", 5))
    assert "WindowGroupLimit" in p  # partial per-partition top-n
    assert "Exchange SinglePartition" not in p


def test_as_of_join_single_key_shuffle(spark):
    import datetime as dt

    from ig_etl_sync_spark.operators.temporal import as_of_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0, "l")], "k int, ts timestamp, lv string"
    )
    right = spark.createDataFrame(
        [(1, t0, 1.0)], "k int, ts timestamp, px double"
    )
    p = plan_of(as_of_join(left, right, on="k"))
    assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" not in p
    # union trick: the carry window is the ONLY key shuffle
    assert len(re.findall(r"Exchange hashpartitioning\(_k", p)) == 1


def test_events_scan_prunes_and_pushes(spark, sf_dir):
    from ig_etl_sync_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "click"
    ).select("event_id")
    p = plan_of(ev)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "EqualTo(event_type,click)" in m.group(1)
    scan = next(l for l in p.splitlines() if "events.parquet" in l)
    assert "props" not in scan  # untouched wide column pruned from scan


def test_q25_disjunctive_part_pushdown(spark, sf_dir):
    """The 3-arm (brand AND size) disjunction must reach the part scan
    as a pushed Or filter (CNF extraction), and the part side must
    broadcast — the corpus-side lineitem is never shuffled."""
    from ig_etl_sync_spark.contract import QUERIES

    p = plan_of(QUERIES["q25_disjunctive_revenue"][0](spark, sf_dir))
    scan = next(l for l in p.splitlines() if "part.parquet" in l and "Pushed" in l)
    assert "Or(" in scan and "p_brand" in scan, scan
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q21_no_global_sort_before_limit(spark, sf_dir):
    """Top-100 must compile to TakeOrderedAndProject (distributed
    partial top-k), and the per-part min must be a partitioned window,
    not a single-partition Exchange."""
    from ig_etl_sync_spark.contract import QUERIES

    p = plan_of(QUERIES["q21_min_price_supplier"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Exchange SinglePartition" not in p


def test_sequence_packing_no_global_window(spark, sf_dir):
    """Bucketed packing must never plan a single-partition window: the
    only Exchanges are the bucket hash partitioning and the final
    pack_id aggregation."""
    from ig_etl_sync_spark.contract import QUERIES

    p = plan_of(QUERIES["sequence_packing"][0](spark, sf_dir))
    assert "Exchange SinglePartition" not in p


def test_partitioned_write_prunes_and_bounds_files(spark, sf_dir, tmp_path):
    """Hive-partitioned layout: file count per directory is bounded by
    files_per_partition, a partition-column predicate becomes a
    PartitionFilter (directory elimination, no data-file read), and
    the round-trip preserves the data."""
    import glob
    from ig_etl_sync_spark.operators.layout import partitioned_write
    from ig_etl_sync_spark.sources.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "ev_by_type")
    partitioned_write(ev, out, ["event_type"], files_per_partition=2)

    for d in glob.glob(f"{out}/event_type=*"):
        files = glob.glob(f"{d}/*.parquet")
        assert 1 <= len(files) <= 2, (d, files)

    back = spark.read.parquet(out)
    assert back.count() == ev.count()

    filtered = back.where(F.col("event_type") == "click")
    p = plan_of(filtered)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "event_type" in m.group(1), p
    # the data-file filter list must NOT carry the partition predicate
    assert filtered.count() == ev.where("event_type = 'click'").count()


def test_compact_reduces_file_count(spark, tmp_path):
    import glob
    from ig_etl_sync_spark.operators.layout import compact
    from ig_etl_sync_spark.sources.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    scattered = str(tmp_path / "scattered")
    ev.repartition(24).write.parquet(scattered)
    assert len(glob.glob(f"{scattered}/*.parquet")) == 24

    out = str(tmp_path / "compacted")
    n = compact(spark, scattered, out, target_file_mb=128)
    files = glob.glob(f"{out}/*.parquet")
    assert n == 1 and len(files) == 1  # tiny table -> one file
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    assert set(back.columns) == set(ev.columns)


def test_no_cartesian_in_any_contract_query(spark, sf_dir):
    """Every registered contract query must plan WITHOUT a true
    CartesianProduct (BroadcastNestedLoopJoin against broadcast
    one-row aggregates is the allowed scalar-join idiom; an unbounded
    cartesian is not). Plans are built, never executed — this is the
    CI twin of tools/plan_audit.py."""
    from ig_etl_sync_spark.contract import QUERIES

    offenders = []
    for name, (fn, _sql) in QUERIES.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []
