"""The benchmark's workloads: closed-loop sync ticks with one client.

Each workload builds its stores, loads them from empty, runs its
warm-up ticks, then runs its timed ticks back to back. A tick's input is
on disk before the tick's timer starts, and every tick is checked
against the generator's expected state after its timer stops.

In a traced run the timed ticks alternate untraced, traced, untraced...
so the tracing overhead compares neighbouring ticks of one process.

Engine modules are imported inside methods: ``run.py`` first checks that
its working directory holds the engine.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from perfbench import measure
from perfbench.gen import (
    NODE_FUNCTION,
    NODE_LABELS,
    PackerRegistry,
    UpsertFeed,
    node_diff,
    write_atomic,
)
from perfbench.trace import (
    TracedGraph,
    TracedReconciler,
    Tracer,
    traced_integration,
)

#: span names reported per layer; the tick's root span is the driver's own
SPANS = (
    "source",
    "transform",
    "pipeline.self",
    "reconcile",
    "verify",
    "snapshot_commit",
    "sink",
    "sink_commit",
    "stream.trigger",
)
#: spans every workload calls, whose time is reported in the result line
TIMED_SPANS = ("reconcile", "snapshot_commit", "sink")
COUNTERS = (
    "transform.rows.in",
    "rows.created",
    "rows.deleted",
    "rows.unchanged",
    "snapshot.rows",
    "versioned.commits",
    "sink.files_written",
    "sink.mb_written",
    "sink.buckets_dirty",
    "sink.buckets_linked",
    "sink.write_amp",
    "stream.batch_rows",
)
MB = 1024.0 * 1024.0


def boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start() -> float:
    """This process's start on the boot clock (``/proc/self/stat``)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def emit(kind: str, **fields) -> None:
    print(json.dumps({"detail": kind, **fields}), flush=True)


@dataclass
class Tick:
    index: int
    traced: bool
    wall_s: float
    errors: list[str]
    written: dict[str, int]
    fs_before: dict
    fs_after: dict
    outcome: object = None
    trace: object = None
    counters: dict = field(default_factory=dict)


@dataclass
class RunState:
    ticks: list[Tick] = field(default_factory=list)
    setup_s: float = 0.0
    initial_sync_s: float = 0.0
    end_errors: list[str] = field(default_factory=list)


def tick_plan(seconds: int, nominal_tick_s: float, trace: bool) -> list[bool]:
    """Which timed ticks are traced. ``seconds`` becomes a fixed tick
    count, so a parent and a change time the same ticks of the warm-up
    curve; a traced run alternates untraced and traced ticks, at least
    one of each."""
    n = max(1, round(seconds / nominal_tick_s))
    if not trace:
        return [False] * n
    return [i % 2 == 1 for i in range(max(2, n))]


class Workload:
    name = ""
    nominal_tick_s = 1.0
    warmup_ticks = 0

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = Tracer(spark)
        self.graph_root = os.path.join(work, "graph")
        self.snap_root = os.path.join(work, "snapshots")

    def roots(self) -> tuple[str, str]:
        return (self.graph_root, self.snap_root)

    # subclasses: load() -> (expected, outcome) of the initial load,
    # prepare_tick() -> expected, run_tick(traced) ->
    # outcome, check(expected, outcome, trace) -> errors, finish() -> errors,
    # tick_counters(tick) -> counters

    def run(self, seconds: int, trace: bool, t_start: float) -> RunState:
        state = RunState()
        t0 = time.perf_counter()
        expected, outcome = self.load()
        state.initial_sync_s = time.perf_counter() - t0
        setup_errors = self.check(expected, outcome, None)
        emit("initial_sync", wall_s=state.initial_sync_s, errors=setup_errors)
        for i in range(self.warmup_ticks):
            expected = self.prepare_tick()
            t0 = time.perf_counter()
            outcome = self.run_tick(traced=False)
            wall = time.perf_counter() - t0
            errors = self.check(expected, outcome, None)
            emit("warmup_tick", tick=i, wall_s=wall, errors=errors)
            setup_errors += errors
        for i, traced in enumerate(tick_plan(seconds, self.nominal_tick_s, trace)):
            expected = self.prepare_tick()
            before = measure.scan(*self.roots())
            if not state.ticks:
                state.setup_s = boot_clock() - t_start
            if traced:
                self.tracer.begin_tick()
            outcome, errors = None, []
            t0 = time.perf_counter()
            try:
                outcome = self.run_tick(traced)
            except Exception as exc:  # a failed tick is counted, not fatal
                errors = [f"{type(exc).__name__}: {exc}"]
            wall = time.perf_counter() - t0
            after = measure.scan(*self.roots())
            trace = self.tracer.end_tick() if traced and not errors else None
            if not errors:
                errors = self.check(expected, outcome, trace)
            tick = Tick(i, traced, wall, errors, measure.new_files(before, after),
                        before, after, outcome, trace)
            if trace is not None:
                # read now: later commits garbage-collect this tick's versions
                tick.counters = self.tick_counters(tick)
                tick.counters.update(self.layer_counters(tick, tick.counters))
            state.ticks.append(tick)
            emit("tick", tick=i, traced=traced, wall_s=wall, errors=errors,
                 written_bytes=sum(tick.written.values()))
        # a failed set-up check fails the run's last tick, like an end check
        state.end_errors = setup_errors + self.finish()
        return state

    def layer_counters(self, tick: Tick, outcome_counters: dict) -> dict[str, float]:
        """Counters read from the stores' files for one traced tick."""
        graph_new = {p: s for p, s in tick.written.items() if p.startswith(self.graph_root)}
        graph_before = {p: v for p, v in tick.fs_before.items() if p.startswith(self.graph_root)}
        graph_after = {p: v for p, v in tick.fs_after.items() if p.startswith(self.graph_root)}
        dirty, linked = measure.bucket_writes(graph_before, graph_after)
        snap_after = {p: v for p, v in tick.fs_after.items() if p.startswith(self.snap_root)}
        latest = _latest_versions(snap_after)
        latest_snapshot = [p for p in snap_after if measure.version_dir(p) in latest]
        changed = outcome_counters.get("rows.created", 0) + outcome_counters.get("rows.deleted", 0)
        rows_written = measure.parquet_rows(graph_new)
        return {
            "snapshot.rows": measure.parquet_rows(latest_snapshot),
            "versioned.commits": len(measure.new_versions(tick.fs_before, tick.fs_after)),
            "sink.files_written": len(graph_new),
            "sink.mb_written": sum(graph_new.values()) / MB,
            "sink.buckets_dirty": dirty,
            "sink.buckets_linked": linked,
            "sink.rows_written": rows_written,
            "sink.write_amp": rows_written / changed if changed else 0.0,
        }


def _latest_versions(files: dict) -> set[str]:
    """The newest version directory of every table holding ``files``."""
    latest: dict[str, str] = {}
    for path in files:
        vdir = measure.version_dir(path)
        table = os.path.dirname(vdir)
        if vdir > latest.get(table, ""):
            latest[table] = vdir
    return set(latest.values())


class SmallSpreadChurn(Workload):
    """Batch ``PipelineRunner.run`` over ``packer_registry_integration``;
    each tick updates 4% of buckets and deletes and creates 0.2%."""

    name = "small_spread_churn"
    nominal_tick_s = 20.0
    n_buckets = 500
    churn = (0.04, 0.002, 0.002)

    def load(self):
        from ig_etl_sync_spark.operators.graph import GraphStore
        from ig_etl_sync_spark.operators.reconcile import SnapshotStore
        from ig_etl_sync_spark.plans import PipelineRunner

        self.gen = PackerRegistry(self.seed, self.n_buckets)
        self.graph = GraphStore(self.spark, self.graph_root)
        snapshots = SnapshotStore(self.spark, self.snap_root)
        self.runner = PipelineRunner(self.spark, snapshots=snapshots, graph=self.graph)
        self.traced_runner = PipelineRunner(
            self.spark, snapshots=snapshots, graph=TracedGraph(self.graph, self.tracer)
        )
        self.traced_runner.reconciler = TracedReconciler(self.runner.reconciler, self.tracer)
        self._tick = 0
        self._tokens = {label: {} for label in NODE_LABELS}
        expected = self._write_input()
        return expected, self.run_tick(traced=False)

    def _write_input(self):
        directory = os.path.join(self.work, "input", f"t{self._tick:04d}")
        self.gen.write_pages(directory)
        self._input = directory
        tokens = self.gen.node_tokens()
        expected = (node_diff(self._tokens, tokens), tokens, self.gen.edge_counts())
        self._tokens = tokens
        return expected

    def prepare_tick(self):
        self._tick += 1
        self.gen.churn(*self.churn)
        return self._write_input()

    def run_tick(self, traced: bool):
        from ig_etl_sync_spark.operators.transforms import PACKER_SOURCE_SCHEMA
        from ig_etl_sync_spark.plans import packer_registry_integration
        from ig_etl_sync_spark.sources.json_source import read_json_files

        path = self._input
        integration = packer_registry_integration(
            lambda spark: read_json_files(spark, path, schema=PACKER_SOURCE_SCHEMA)
        )
        if not traced:
            return self.runner.run(integration)
        with self.tracer.span("pipeline.self"):
            return self.traced_runner.run(traced_integration(integration, self.tracer))

    def check(self, expected, report, _trace) -> list[str]:
        from functools import reduce

        from pyspark.sql import functions as F

        diff, tokens, edges = expected
        want = {f"nodes {label}": len(tokens[label]) for label in NODE_LABELS}
        want.update({f"edges {et}": n for et, n in edges.items()})
        tables = [self.graph.nodes(label) for label in NODE_LABELS]
        tables += [self.graph.edges(*et) for et in edges]
        tagged = [t.select(F.lit(name).alias("table")) for name, t in zip(want, tables)]
        rows = reduce(lambda a, b: a.unionByName(b), tagged).groupBy("table").count()
        got = {r["table"]: r["count"] for r in rows.collect()}
        errors = [
            f"{name}: {got.get(name, 0)} != {n}" for name, n in want.items() if got.get(name, 0) != n
        ]
        for label in NODE_LABELS:
            fn = NODE_FUNCTION[label]
            reported = (report.created[fn], report.deleted[fn])
            if reported != diff[label]:
                errors.append(f"{fn} created/deleted {reported} != {diff[label]}")
        return errors

    def finish(self) -> list[str]:
        orphans = self.graph.orphan_edge_count()
        return [f"{orphans} orphan edges"] if orphans else []

    def tick_counters(self, tick: Tick) -> dict[str, float]:
        report = tick.outcome
        node_fns = set(NODE_FUNCTION.values())
        created = sum(v for k, v in report.created.items() if k in node_fns)
        deleted = sum(v for k, v in report.deleted.items() if k in node_fns)
        counters = dict(tick.trace.counters)
        counters["rows.created"] = created
        counters["rows.deleted"] = deleted
        counters["rows.unchanged"] = counters.pop("_node_rows.in", 0) - created
        counters["rows.edges_merged"] = sum(
            v for k, v in report.created.items() if k not in node_fns
        )
        return counters


class StreamUpsert(Workload):
    """``streaming_sync(mode="upsert")`` over a JSON-lines file source,
    one ``availableNow`` trigger per tick; each tick appends one file."""

    name = "stream_upsert"
    nominal_tick_s = 3.3
    warmup_ticks = 1
    batch_rows = 20000
    label = "item"
    integration_key = "stream:items"
    function_key = "CREATE_NODE:item"

    def load(self):
        from ig_etl_sync_spark.operators.graph import GraphStore
        from ig_etl_sync_spark.operators.reconcile import Reconciler, SnapshotStore

        self.feed = UpsertFeed(self.seed, self.batch_rows)
        self.inbox = os.path.join(self.work, "inbox")
        os.makedirs(self.inbox)
        self.checkpoint = os.path.join(self.work, "checkpoint")
        self.graph = GraphStore(self.spark, self.graph_root)
        self.reconciler = Reconciler(SnapshotStore(self.spark, self.snap_root))
        self.traced_graph = TracedGraph(self.graph, self.tracer, count_creates=True)
        self.traced_reconciler = TracedReconciler(self.reconciler, self.tracer, count_batches=True)
        self.source = self.spark.readStream.schema(UpsertFeed.SCHEMA).json(self.inbox)
        self._tick = 0
        expected = self.prepare_tick()
        return expected, self.run_tick(traced=False)

    def prepare_tick(self):
        lines, creates = self.feed.next_batch()
        write_atomic(os.path.join(self.inbox, f"batch-{self._tick:05d}.json"), lines)
        self._tick += 1
        return creates

    def _trigger(self, reconciler, graph, traced: bool):
        from ig_etl_sync_spark.streaming.sync import streaming_sync

        query = streaming_sync(
            self.source, reconciler, graph, self.integration_key, self.function_key,
            self.label, self.checkpoint, trigger_once=True, mode="upsert",
        )
        if traced:
            # the micro-batch thread runs jobs outside the wrapped calls
            # (the empty-batch probe) under the query's own job group
            self.tracer.claim_group(query.runId, "stream.trigger")
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))

    def run_tick(self, traced: bool):
        if not traced:
            return self._trigger(self.reconciler, self.graph, traced=False)
        with self.tracer.span("stream.trigger"):
            return self._trigger(self.traced_reconciler, self.traced_graph, traced=True)

    def check(self, creates, _outcome, trace) -> list[str]:
        from pyspark.sql import functions as F

        row = self.graph.nodes(self.label).agg(
            F.count("*").alias("n"), F.countDistinct("external_id").alias("keys")
        ).first()
        want = len(self.feed.keys)
        errors = []
        if (row["n"], row["keys"]) != (want, want):
            errors.append(f"nodes {row['n']} rows / {row['keys']} keys != {want} keys")
        snapshot = self.reconciler.store.read(self.integration_key, self.function_key).count()
        if snapshot != want:
            errors.append(f"snapshot {snapshot} keys != {want}")
        if trace is not None and trace.counters.get("rows.created", 0) != creates:
            errors.append(f"created {trace.counters.get('rows.created', 0)} != {creates}")
        return errors

    def finish(self) -> list[str]:
        """Every key holds its latest delivery: with the per-tick check
        (as many distinct keys as rows as generated keys), the key range
        and the sum of delivered versions pin the final state."""
        from pyspark.sql import functions as F

        row = self.graph.nodes(self.label).agg(
            F.count("*"),
            F.min("external_id"),
            F.max("external_id"),
            F.sum(F.split("updated_at", "#").getItem(1).cast("long")),
        ).first()
        keys = self.feed.keys
        want = (len(keys), min(keys), max(keys), sum(self.feed.version.values()))
        got = tuple(row)
        return [] if got == want else [f"final nodes {got} != {want}"]

    def tick_counters(self, tick: Tick) -> dict[str, float]:
        counters = dict(tick.trace.counters)
        counters.setdefault("rows.created", 0)
        counters["rows.deleted"] = 0
        counters["rows.unchanged"] = counters.get("stream.batch_rows", 0) - counters["rows.created"]
        return counters


WORKLOADS = {w.name: w for w in (StreamUpsert, SmallSpreadChurn)}

