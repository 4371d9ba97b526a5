"""At-least-once delivery with idempotent sinks (C5 in
``plans/pipeline.py``), proven by fault injection at the sync step's
phase boundaries.

A tick raises once at a boundary; the batch tick is then re-run, or
the stream is restarted on the same checkpoint so the failed
micro-batch replays under its ``batch_id``. Every node table, edge
table and snapshot must then be row-equal to an uninterrupted run's.
The boundaries: after reconcile, after the sink commit (before the
snapshot commit), after the snapshot commit (before R8), and at the
start of function k of the packer integration's nine.
"""

from __future__ import annotations

import copy
import json
import os
import shutil

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.graph import GraphStore
from ig_etl_sync_spark.operators.reconcile import Reconciler, SnapshotStore
from ig_etl_sync_spark.operators.transforms import PACKER_SOURCE_SCHEMA
from ig_etl_sync_spark.plans.pipeline import PipelineRunner, packer_registry_integration
from ig_etl_sync_spark.sources.json_source import read_json_document
from ig_etl_sync_spark.streaming.sync import streaming_sync

from conftest import SOURCE_DOC

PACKER = packer_registry_integration(lambda spark: None)
NODE_KEYS = [fn.key for fn in PACKER.functions if not fn.is_relation]


class Fault(Exception):
    """The injected failure."""


class FaultyReconciler:
    """A ``Reconciler`` that raises once, at ``point`` of function
    ``function_key``; every call is delegated."""

    def __init__(self, inner: Reconciler, point: str, function_key: str) -> None:
        self._inner = inner
        self._point = point
        self._function_key = function_key
        self._fired = False

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def _boundary(self, point: str, function_key: str) -> None:
        if not self._fired and (point, function_key) == (self._point, self._function_key):
            self._fired = True
            raise Fault(f"{point} of {function_key}")

    def reconcile(self, integration_key, function_key, incoming, **kwargs):
        self._boundary("function_start", function_key)
        diff = self._inner.reconcile(integration_key, function_key, incoming, **kwargs)
        self._boundary("after_reconcile", function_key)
        return diff

    def _commit(self, method, integration_key, function_key, incoming):
        self._boundary("before_snapshot_commit", function_key)
        version = method(integration_key, function_key, incoming)
        self._boundary("after_snapshot_commit", function_key)
        return version

    def commit(self, integration_key, function_key, incoming):
        return self._commit(self._inner.commit, integration_key, function_key, incoming)

    def commit_merge(self, integration_key, function_key, incoming):
        return self._commit(
            self._inner.commit_merge, integration_key, function_key, incoming
        )


def _state(spark, tables: dict) -> dict[str, list[str]]:
    """Rows of every table, one action: ``{name: sorted JSON rows}``."""
    tagged = [
        df.select(
            F.lit(name).alias("table"),
            F.to_json(F.struct(*sorted(df.columns))).alias("row"),
        )
        for name, df in tables.items()
        if df is not None
    ]
    out: dict[str, list[str]] = {name: [] for name in tables}
    if tagged:
        union = tagged[0]
        for df in tagged[1:]:
            union = union.unionByName(df)
        for r in union.collect():
            out[r["table"]].append(r["row"])
    return {name: sorted(rows) for name, rows in out.items()}


# -- batch ------------------------------------------------------------


def _churned(doc: dict) -> dict:
    """The faulted tick: one bucket updated, one deleted (its version,
    build, org and project go with it), one created."""
    doc = copy.deepcopy(doc)
    doc["buckets"][0]["updated-at"] = "2099-01-01T00:00:00Z"
    del doc["buckets"][2]
    new = copy.deepcopy(SOURCE_DOC["buckets"][0])
    new["id"] = "bkt-4"
    new["latest_version"] = {
        "id": "ver-4",
        "name": "v4.0.0",
        "builds": [{
            "id": "build-4",
            "created_at": "2099-01-01T00:00:00Z",
            "updated_at": "2099-01-01T00:30:00Z",
        }],
    }
    doc["buckets"].append(new)
    return doc


def _integration(doc: dict):
    return packer_registry_integration(
        lambda spark: read_json_document(spark, doc, schema=PACKER_SOURCE_SCHEMA)
    )


def _batch_runner(spark, root: str) -> PipelineRunner:
    return PipelineRunner(
        spark,
        snapshots=SnapshotStore(spark, os.path.join(root, "snapshots")),
        graph=GraphStore(spark, os.path.join(root, "graph"), n_buckets=4),
    )


def _batch_state(spark, runner: PipelineRunner) -> dict[str, list[str]]:
    g = runner.graph
    tables = {f"nodes {fn.label}": g.nodes(fn.label) for fn in PACKER.functions if fn.label}
    tables.update({f"edges {fn.edge}": g.edges(*fn.edge) for fn in PACKER.functions if fn.edge})
    tables.update({
        f"snapshot {key}": runner.reconciler.store.read(PACKER.key, key) for key in NODE_KEYS
    })
    return _state(spark, tables)


@pytest.fixture(scope="module")
def batch_reference(spark, tmp_path_factory):
    """The stores after the first tick (copied by the faulted run) and
    the state after an uninterrupted second, churned tick."""
    root = str(tmp_path_factory.mktemp("batch_reference"))
    runner = _batch_runner(spark, root)
    runner.run(_integration(SOURCE_DOC))
    first_tick = os.path.join(root, "first_tick")
    shutil.copytree(os.path.join(root, "graph"), os.path.join(first_tick, "graph"))
    shutil.copytree(os.path.join(root, "snapshots"), os.path.join(first_tick, "snapshots"))
    report = runner.run(_integration(_churned(SOURCE_DOC)))
    assert report.created["CREATE_NODE:bucket"] == 2
    assert report.deleted["CREATE_NODE:bucket"] == 1
    return first_tick, _batch_state(spark, runner)


#: batch fault points in tick order: each re-run first passes the
#: boundary the attempt before it failed at, so it recovers from it
BATCH_FAULTS = (
    ("after_reconcile", "CREATE_NODE:bucket"),
    ("before_snapshot_commit", "CREATE_NODE:bucket"),
    # function k = 4 of 9: the node deletes and their cascades landed
    ("function_start", "CREATE_RELATION:project_bucket_R"),
    ("after_snapshot_commit", "CREATE_NODE:version"),
)


def test_batch_tick_reruns_after_faults_match_uninterrupted(
    spark, tmp_path, batch_reference
):
    """One failed attempt per fault point, then a clean re-run. (One
    chain of attempts rather than one test per point: a batch run costs
    ~15 s on a 4-core local session, and the chain still re-runs past
    every point.)"""
    first_tick, want = batch_reference
    root = str(tmp_path / "run")
    shutil.copytree(first_tick, root)
    runner = _batch_runner(spark, root)
    reconciler = runner.reconciler
    for point, function_key in BATCH_FAULTS:
        runner.reconciler = FaultyReconciler(reconciler, point, function_key)
        with pytest.raises(Fault, match=point):
            runner.run(_integration(_churned(SOURCE_DOC)))
    runner.reconciler = reconciler
    runner.run(_integration(_churned(SOURCE_DOC)))
    assert _batch_state(spark, runner) == want


# -- streaming --------------------------------------------------------

STREAM_SCHEMA = "external_id string, name string, updated_at string"
STREAM_KEYS = ("stream:faults", "CREATE_NODE:item")
MODES = ("full_state", "upsert")
#: the two micro-batches: as full_state ticks, c is deleted by the
#: second; as upsert change sets, c is untouched
STREAM_TICKS = (
    [("a", "A", "t1"), ("b", "B", "t1"), ("c", "C", "t1")],
    [("a", "A2", "t2"), ("b", "B", "t1"), ("d", "D", "t1")],
)


def _stream_tick(spark, root: str, reconciler, graph, mode: str) -> None:
    source = spark.readStream.schema(STREAM_SCHEMA).json(os.path.join(root, "src"))
    query = streaming_sync(
        source, reconciler, graph, *STREAM_KEYS, "item",
        os.path.join(root, "checkpoint"), trigger_once=True, mode=mode,
    )
    try:
        query.awaitTermination(120)
    except StreamingQueryException as exc:  # the micro-batch raised
        raise Fault(str(exc)) from exc
    finally:
        query.stop()


def _write_batch(root: str, i: int, rows) -> None:
    os.makedirs(os.path.join(root, "src"), exist_ok=True)
    tmp = os.path.join(root, f".batch-{i}.json")
    with open(tmp, "w") as f:
        for key, name, updated_at in rows:
            f.write(json.dumps({"external_id": key, "name": name, "updated_at": updated_at}) + "\n")
    os.rename(tmp, os.path.join(root, "src", f"batch-{i}.json"))


def _stream_stores(spark, root: str):
    return (
        Reconciler(SnapshotStore(spark, os.path.join(root, "snapshots"))),
        GraphStore(spark, os.path.join(root, "graph"), n_buckets=4),
    )


def _stream_state(spark, reconciler, graph) -> dict[str, list[str]]:
    return _state(spark, {
        "nodes item": graph.nodes("item"),
        "snapshot": reconciler.store.read(*STREAM_KEYS),
    })


@pytest.fixture(scope="module")
def stream_reference(spark, tmp_path_factory):
    """Per mode, the state after both micro-batches ran uninterrupted."""
    out = {}
    for mode in MODES:
        root = str(tmp_path_factory.mktemp(f"stream_reference_{mode}"))
        reconciler, graph = _stream_stores(spark, root)
        for i, rows in enumerate(STREAM_TICKS):
            _write_batch(root, i, rows)
            _stream_tick(spark, root, reconciler, graph, mode)
        out[mode] = _stream_state(spark, reconciler, graph)
    assert len(out["full_state"]["nodes item"]) == 3
    assert len(out["upsert"]["nodes item"]) == 4
    return out


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize(
    "point", ["after_reconcile", "before_snapshot_commit", "after_snapshot_commit"]
)
def test_stream_replay_after_fault_matches_uninterrupted(
    spark, tmp_path, stream_reference, mode, point
):
    root = str(tmp_path)
    reconciler, graph = _stream_stores(spark, root)
    first, second = STREAM_TICKS
    _write_batch(root, 0, first)
    _stream_tick(spark, root, reconciler, graph, mode)

    _write_batch(root, 1, second)
    faulty = FaultyReconciler(reconciler, point, STREAM_KEYS[1])
    with pytest.raises(Fault, match=point):
        _stream_tick(spark, root, faulty, graph, mode)
    checkpoint = os.path.join(root, "checkpoint")
    assert not os.path.exists(os.path.join(checkpoint, "commits", "1"))

    _stream_tick(spark, root, reconciler, graph, mode)  # replays batch 1
    assert os.path.exists(os.path.join(checkpoint, "commits", "1"))
    assert not os.path.exists(os.path.join(checkpoint, "offsets", "2"))
    assert _stream_state(spark, reconciler, graph) == stream_reference[mode]
