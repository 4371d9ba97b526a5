"""Pipeline executor — the reference's orchestration layer (SURVEY §2.6).

- C1 sequential DAG (``main.go:121-241``): functions run in declared
  order — nodes before the edges that reference them, which is a
  correctness device (edge merge validates endpoints, J2).
- C2 pre-transform hook (``main.go:121,147,289-292``): a
  ``DataFrame → DataFrame`` patch applied to the fetched doc before the
  transforms (the reference uses it to simulate source deletions).
- C3 sync loop: one ``run()`` per tick; Structured Streaming's
  ``foreachBatch`` (``streaming/sync.py``) is the scale-up.
- C5 fail-fast: any error raises; the Reconcile/Commit split means a
  mid-pipeline failure leaves that function's snapshot uncommitted, so
  a retry converges (at-least-once + idempotent sinks).

Per-function flow (``main.go:158-237``): transform → reconcile (diff vs
snapshot) → sink write → snapshot commit → convergence assert.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ig_etl_sync_spark.operators.graph import GraphStore
from ig_etl_sync_spark.operators.reconcile import Reconciler, SnapshotStore
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
    durations: dict[str, float] = field(default_factory=dict)  # S9 instrumentation


class PipelineRunner:
    def __init__(
        self, spark: SparkSession, snapshots: SnapshotStore, graph: GraphStore
    ) -> None:
        self.spark = spark
        self.reconciler = Reconciler(snapshots)
        self.graph = graph

    def run(
        self,
        integration: IntegrationSpec,
        pre_hook: Callable[[DataFrame], DataFrame] | None = None,
        check_convergence: bool = True,
    ) -> RunReport:
        report = RunReport()
        doc = integration.source(self.spark)
        hook = pre_hook or integration.pre_hook
        if hook is not None:
            doc = hook(doc)  # C2
        # The doc feeds all N transforms — cache it once rather than
        # re-reading/refetching per function.
        doc = doc.cache()
        try:
            for fn in integration.functions:
                t0 = time.monotonic()
                records = fn.transform.apply(doc).cache()
                try:
                    diff = self.reconciler.reconcile(
                        integration.key, fn.key, records, is_relation=fn.is_relation
                    )
                    n_create = diff.to_create.count()
                    n_delete = diff.to_delete.count()

                    # S8: one transaction per sync function
                    # (neo4j.go:77-148) — the node upsert+delete AND its
                    # DETACH-cascade edge rewrites share one staging
                    # round and land one pointer flip per table
                    with self.graph.sync():
                        if fn.is_relation:
                            if fn.edge is None:
                                raise ValueError(
                                    f"{fn.key}: relation without edge labels"
                                )
                            self.graph.write_edges(*fn.edge, edges=diff.to_create)
                        else:
                            if fn.label is None:
                                raise ValueError(f"{fn.key}: node without label")
                            self.graph.write_nodes(
                                fn.label,
                                to_create=diff.to_create if n_create else None,
                                to_delete=diff.to_delete if n_delete else None,
                            )

                    self.reconciler.commit(
                        integration.key, fn.key, records, is_relation=fn.is_relation
                    )
                    if check_convergence and not fn.is_relation:
                        self.reconciler.assert_converged(
                            integration.key, fn.key, records
                        )  # R8
                    report.created[fn.key] = n_create
                    report.deleted[fn.key] = n_delete
                    report.durations[fn.key] = time.monotonic() - t0
                finally:
                    records.unpersist()
        finally:
            doc.unpersist()
        return report


    def run_all(
        self,
        integrations: list[IntegrationSpec],
        check_convergence: bool = True,
    ) -> dict[str, RunReport]:
        """C3 loop (``main.go:281-296``): run every integration in
        order; fail-fast on error (C5) — completed functions keep their
        committed snapshots, so a retry converges."""
        return {
            integ.key: self.run(integ, check_convergence=check_convergence)
            for integ in integrations
        }


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
