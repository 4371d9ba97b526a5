"""Pipeline executor — the reference's orchestration layer (SURVEY §2.6).

- C1 sequential DAG (``main.go:121-241``): functions run in declared
  order — nodes before the edges that reference them, which is a
  correctness device (edge merge validates endpoints, J2).
- C2 pre-transform hook (``main.go:121,147,289-292``): a
  ``DataFrame → DataFrame`` patch applied to the fetched doc before the
  transforms (the reference uses it to simulate source deletions).
- C3 sync loop: one ``run()`` per tick; Structured Streaming's
  ``foreachBatch`` (``streaming/sync.py``) is the scale-up. Both run
  each function through :func:`sync_function`, the one sync step:
  reconcile (diff pinned, both counts from one aggregate; a delta tick
  pins and counts its creates only) → one graph write call, itself one
  transaction (S8; skipped on an empty node diff) → snapshot commit
  (merge on a delta tick; skipped on an empty diff) → R8 (every
  full-state tick).
- C5 fail-fast: any error raises, and a retry converges (at-least-once
  + idempotent sinks): before the snapshot commit the old snapshot
  re-derives the same diff for an idempotent sink; after it the diff
  is empty.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.graph import GraphStore
from ig_etl_sync_spark.operators.reconcile import KEY_COL, Reconciler, SnapshotStore
from ig_etl_sync_spark.operators.transforms import (
    ALL_PACKER_TRANSFORMS,
    NODE,
    RELATION,
    TransformSpec,
)


@dataclass(frozen=True)
class FunctionSpec:
    """model.go:26-31 Function + its sink target."""

    transform: TransformSpec
    label: str | None = None  # node label (CREATE_NODE)
    edge: tuple[str, str, str] | None = None  # (a_label, rel, b_label)

    @property
    def key(self) -> str:
        # model.go:37-44 GetKey = "<TYPE>:<name>"
        return f"{self.transform.kind}:{self.transform.name}"

    @property
    def is_relation(self) -> bool:
        return self.transform.kind == RELATION

    @property
    def target(self) -> str | tuple[str, str, str]:
        """What :func:`sync_function` writes: edge type or node label."""
        target = self.edge if self.is_relation else self.label
        if target is None:
            raise ValueError(f"{self.key}: no edge labels / node label")
        return target


@dataclass(frozen=True)
class IntegrationSpec:
    """model.go:16-24 IntegrationItem: a source + ordered function list."""

    key: str
    source: Callable[[SparkSession], DataFrame]
    functions: tuple[FunctionSpec, ...] = ()
    pre_hook: Callable[[DataFrame], DataFrame] | None = None


@dataclass
class RunReport:
    created: dict[str, int] = field(default_factory=dict)
    deleted: dict[str, int] = field(default_factory=dict)


def sync_function(
    reconciler: Reconciler,
    graph: GraphStore,
    integration_key: str,
    function_key: str,
    target: str | tuple[str, str, str],
    records: DataFrame,
    *,
    delta: bool,
) -> tuple[int, int]:
    """Sync one function's ``records`` into ``graph`` (module C3/C5).

    ``target`` is a node label, or a relation's ``(a_label, rel,
    b_label)`` (R2: never diffed or committed). A full-state tick
    (``delta=False``) deletes absent keys, replaces the snapshot and
    runs R8; a delta tick leaves absent keys alone, merges the snapshot
    and skips R8. An empty diff (no creates, and no deletes on a
    full-state tick) commits nothing: the snapshot already holds the
    batch. Returns the ``(created, deleted)`` counts.
    """
    is_relation = isinstance(target, tuple)
    records = records.cache()
    pinned = [records]
    try:
        diff = reconciler.reconcile(
            integration_key, function_key, records, is_relation=is_relation
        )
        # S8: one transaction per sync function (neo4j.go:77-148) — the
        # function's one write call stages the node upsert+delete AND its
        # DETACH-cascade edge rewrites together, one pointer flip per table
        if is_relation:  # R2: a relation keeps no snapshot
            graph.write_edges(*target, edges=diff.to_create)
            return records.count(), 0

        if delta:
            # the delete side of a delta's diff is all the state the
            # batch did not send: pin and count the creates only
            to_create = diff.to_create.cache()
            pinned.append(to_create)
            created, deleted = to_create.count(), 0
        else:
            # pin the diff join's rows: one aggregate counts both sides,
            # and the sink reads the creates and deletes from the cache
            changed = diff.changed.cache()
            pinned.append(changed)
            total, created = changed.agg(F.count("*"), F.count(KEY_COL)).first()
            deleted = total - created
            to_create = diff.to_create
        graph.write_nodes(
            target,
            to_create=to_create if created else None,
            to_delete=diff.to_delete if deleted else None,
        )
        if created or deleted:
            if delta:
                reconciler.commit_merge(integration_key, function_key, records)
            else:
                reconciler.commit(integration_key, function_key, records)
        if not delta:
            reconciler.assert_converged(integration_key, function_key, records)
        return created, deleted
    finally:
        for frame in pinned:
            frame.unpersist()


class PipelineRunner:
    def __init__(
        self, spark: SparkSession, snapshots: SnapshotStore, graph: GraphStore
    ) -> None:
        self.spark = spark
        self.reconciler = Reconciler(snapshots)
        self.graph = graph

    def run(self, integration: IntegrationSpec) -> RunReport:
        report = RunReport()
        doc = integration.source(self.spark)
        if integration.pre_hook is not None:
            doc = integration.pre_hook(doc)  # C2
        # The doc feeds all N transforms — cache it once rather than
        # re-reading/refetching per function.
        doc = doc.cache()
        try:
            for fn in integration.functions:
                created, deleted = sync_function(
                    self.reconciler, self.graph, integration.key, fn.key,
                    fn.target, fn.transform.apply(doc), delta=False,
                )
                report.created[fn.key] = created
                report.deleted[fn.key] = deleted
        finally:
            doc.unpersist()
        return report

    def run_all(self, integrations: list[IntegrationSpec]) -> dict[str, RunReport]:
        """C3 loop (``main.go:281-296``): run every integration in
        order; fail-fast on error (C5) — completed functions keep their
        committed snapshots, so a retry converges."""
        return {integ.key: self.run(integ) for integ in integrations}


def packer_registry_integration(
    source: Callable[[SparkSession], DataFrame], key: str = "http:packer-registry"
) -> IntegrationSpec:
    """The reference's shipped config (``main.go:21-82``): the HCP Packer
    registry graph — 5 node functions + 4 edge functions, ordered so
    every edge's endpoint labels are written before the edge."""
    by_name = {t.name: t for t in ALL_PACKER_TRANSFORMS}
    fns = (
        FunctionSpec(by_name["bucket"], label="bucket"),
        FunctionSpec(by_name["organization"], label="org"),
        FunctionSpec(by_name["project"], label="project"),
        FunctionSpec(by_name["org_project_R"], edge=("org", "has", "project")),
        FunctionSpec(by_name["project_bucket_R"], edge=("project", "has", "bucket")),
        FunctionSpec(by_name["version"], label="version"),
        FunctionSpec(by_name["packer_build"], label="packer_build"),
        FunctionSpec(by_name["bucket_version_R"], edge=("bucket", "creates", "version")),
        FunctionSpec(by_name["version_build_R"], edge=("version", "creates", "packer_build")),
    )
    assert all(t.kind in (NODE, RELATION) for t in by_name.values())
    return IntegrationSpec(key=key, source=source, functions=fns)
