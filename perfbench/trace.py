"""Spans, counters and Spark job attribution for the traced run.

The engine is not instrumented. Spans come from delegating wrappers
around the objects the benchmark hands the engine (the source callable,
the ``TransformSpec``s, the ``Reconciler`` and the ``GraphStore``); the
tick's root span is opened by the benchmark around the driver call.

Every span tags the Spark jobs it launches with its own job group. A job
that carries no span group (``GraphStore.sync()`` stages tables on pool
threads, which do not inherit the caller's group) is attributed by job
id instead: spans run one at a time, so the innermost span open while
the job was submitted is the one whose job-id window holds it. The
tick's root span is left out of that fallback: it holds every job of
the tick, so an untagged job that no child span's window holds is
counted as unattributed rather than given to the root. A job group the
engine sets itself (a streaming query's run id) can be claimed for a
span by name instead.
"""

from __future__ import annotations

import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

GROUP_PREFIX = "perfbench."
COUNTER_GROUP = GROUP_PREFIX + "counter"
_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    t0: float
    first_job: int
    t1: float = 0.0
    end_job: int = 0
    child_s: float = 0.0
    counter_s: float = 0.0  # time spent in counter jobs directly inside this span

    @property
    def group(self) -> str:
        return GROUP_PREFIX + self.name

    @property
    def self_s(self) -> float:
        return self.t1 - self.t0 - self.child_s - self.counter_s


@dataclass
class TickTrace:
    wall_s: float
    self_s: dict[str, float]
    jobs: dict[str, int]
    stages: dict[str, int]
    tick_jobs: int
    tick_stages: int
    jobs_unattributed: int
    jobs_untagged: int
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jvm_sc = self.sc._jsc.sc()
        self._stack: list[Span] = []
        self._closed: list[Span] = []
        self._claimed: dict[str, str] = {}
        self.counters: Counter = Counter()

    def _next_job_id(self) -> int:
        return self._jvm_sc.dagScheduler().numTotalJobs()

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty(_GROUP_PROP, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), self._next_job_id())
        self._stack.append(sp)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.end_job = self._next_job_id()
            self._stack.pop()
            self._set_group(parent.group if parent else None)
            if parent is not None:
                parent.child_s += sp.t1 - sp.t0
            self._closed.append(sp)

    @contextmanager
    def counting(self):
        """Run the benchmark's own counting jobs: tagged so attribution
        skips them, and excluded from the enclosing span's self time."""
        owner = self._stack[-1] if self._stack else None
        self._set_group(COUNTER_GROUP)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if owner is not None:
                owner.counter_s += time.perf_counter() - t0
            self._set_group(owner.group if owner else None)

    def claim_group(self, group: str, name: str) -> None:
        """Attribute this tick's jobs of job group ``group`` to span ``name``."""
        self._claimed[group] = name

    def add(self, counter: str, value: float) -> None:
        self.counters[counter] += value

    def begin_tick(self) -> None:
        self._closed = []
        self._claimed = {}
        self.counters = Counter()

    def end_tick(self) -> TickTrace:
        """Summarise the tick's spans. The outermost span is the tick."""
        self._jvm_sc.listenerBus().waitUntilEmpty()
        store = self._jvm_sc.statusStore()
        root = max(self._closed, key=lambda s: s.t1 - s.t0)
        by_group = {sp.group: sp.name for sp in self._closed}
        self_s: dict[str, float] = defaultdict(float)
        for sp in self._closed:
            self_s[sp.name] += sp.self_s
        jobs: dict[str, int] = {name: 0 for name in self_s}
        stages: dict[str, int] = {name: 0 for name in self_s}
        tick_jobs = tick_stages = unattributed = untagged = 0
        for jid in range(root.first_job, root.end_job):
            data = store.job(jid)
            group = data.jobGroup().get() if data.jobGroup().isDefined() else None
            if group == COUNTER_GROUP:
                continue
            n_stages = data.numCompletedStages()
            tick_jobs += 1
            tick_stages += n_stages
            name = by_group.get(group)
            if name is None:
                untagged += 1
                name = self._claimed.get(group) or self._innermost(jid, root)
            if name is None:
                unattributed += 1
                continue
            jobs[name] += 1
            stages[name] += n_stages
        return TickTrace(
            wall_s=root.t1 - root.t0,
            self_s=dict(self_s),
            jobs=jobs,
            stages=stages,
            tick_jobs=tick_jobs,
            tick_stages=tick_stages,
            jobs_unattributed=unattributed,
            jobs_untagged=untagged,
            counters=dict(self.counters),
        )

    def _innermost(self, jid: int, root: Span) -> str | None:
        holding = [
            sp for sp in self._closed
            if sp is not root and sp.first_job <= jid < sp.end_job
        ]
        if not holding:
            return None
        return min(holding, key=lambda sp: sp.end_job - sp.first_job).name


# -- delegating wrappers ------------------------------------------------


def traced_source(source, tracer: Tracer):
    def call(spark):
        with tracer.span("source"):
            return source(spark)

    return call


class TracedTransform:
    """A ``TransformSpec`` whose ``apply`` is a ``transform`` span."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def apply(self, doc):
        with self._tracer.span("transform"):
            out = self._inner.apply(doc)
            with self._tracer.counting():
                n = out.count()
            self._tracer.add("transform.rows.in", n)
            if self._inner.kind == "CREATE_NODE":
                self._tracer.add("_node_rows.in", n)
        return out


def traced_integration(integration, tracer: Tracer):
    return replace(
        integration,
        source=traced_source(integration.source, tracer),
        functions=tuple(
            replace(fn, transform=TracedTransform(fn.transform, tracer))
            for fn in integration.functions
        ),
    )


class TracedReconciler:
    """``Reconciler`` with ``reconcile``, ``verify`` (R8) and
    ``snapshot_commit`` spans."""

    def __init__(self, inner, tracer: Tracer, count_batches: bool = False) -> None:
        self._inner = inner
        self._tracer = tracer
        self._count_batches = count_batches

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def reconcile(self, integration_key, function_key, incoming, *args, **kwargs):
        with self._tracer.span("reconcile"):
            if self._count_batches:
                with self._tracer.counting():
                    self._tracer.add("stream.batch_rows", incoming.count())
            return self._inner.reconcile(
                integration_key, function_key, incoming, *args, **kwargs
            )

    def commit(self, *args, **kwargs):
        with self._tracer.span("snapshot_commit"):
            return self._inner.commit(*args, **kwargs)

    def commit_merge(self, *args, **kwargs):
        with self._tracer.span("snapshot_commit"):
            return self._inner.commit_merge(*args, **kwargs)

    def assert_converged(self, *args, **kwargs):
        with self._tracer.span("verify"):
            return self._inner.assert_converged(*args, **kwargs)


class TracedGraph:
    """``GraphStore`` whose write calls are ``sink`` spans and whose
    ``sync()`` exit (the staging round and commit claims) is a
    ``sink_commit`` span."""

    def __init__(self, inner, tracer: Tracer, count_creates: bool = False) -> None:
        self._inner = inner
        self._tracer = tracer
        self._count_creates = count_creates

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def write_nodes(self, label, to_create=None, to_delete=None):
        with self._tracer.span("sink"):
            if self._count_creates and to_create is not None:
                with self._tracer.counting():
                    self._tracer.add("rows.created", to_create.count())
            return self._inner.write_nodes(label, to_create=to_create, to_delete=to_delete)

    def write_edges(self, *args, **kwargs):
        with self._tracer.span("sink"):
            return self._inner.write_edges(*args, **kwargs)

    @contextmanager
    def sync(self):
        batch = self._inner.sync()
        batch.__enter__()
        try:
            yield self
        except BaseException as exc:
            if not batch.__exit__(type(exc), exc, exc.__traceback__):
                raise
            return
        with self._tracer.span("sink_commit"):
            batch.__exit__(None, None, None)
