"""Sync-tick benchmark for the ``ig_etl_sync_spark`` engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload small_spread_churn --seed 1 --seconds 10 --trace 0

Prints one JSON line per tick (``{"detail": ...}``) and, last, the
result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of untraced ticks; with
``--trace 1`` they are the per-layer ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# run as a script: import this directory as the ``perfbench`` package
# (and never shadow the standard library with its module names)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = os.path.dirname(HERE)

from perfbench import measure  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    COUNTERS,
    MB,
    SPANS,
    TIMED_SPANS,
    WORKLOADS,
    emit,
    process_start,
)

ENGINE = "ig_etl_sync_spark"


def start_spark(work: str):
    from ig_etl_sync_spark.session import get_spark

    slots = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_confs={
            # A fixed, pre-touched heap, so peak RSS does not depend on when
            # G1 chose to grow it (a growing heap spread peak RSS 24% across
            # ten seeds). 4 GB holds the workloads' peak heap use with
            # under 0.5 s of GC a run; the engine's 8 GB is a cap, and
            # pre-touching it would hold 8 GB. Heap use shows in the
            # per-layer ``jvm.old_gen_peak_mb``.
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local} -Xms4g -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(state, rss_mb: float) -> dict[str, float]:
    untraced = [t.wall_s for t in state.ticks if not t.traced]
    written = [sum(t.written.values()) / MB for t in state.ticks]
    return {
        "tick_p50_s": _median(untraced),
        "setup_s": state.setup_s,
        "peak_rss_mb": rss_mb,
        "written_mb_per_tick": statistics.fmean(written),
        "store_mb": measure.distinct_bytes(state.ticks[-1].fs_after) / MB,
    }


def per_layer(state, old_gen_mb: float) -> tuple[dict[str, float], dict[str, float]]:
    """(result-line metrics, detail-only metrics) over the traced ticks."""
    traced = [t for t in state.ticks if t.trace is not None]
    untraced = [t.wall_s for t in state.ticks if not t.traced]
    rows = [(t.trace, t.counters) for t in traced]

    def med(get) -> float:
        return _median([get(tr, c) for tr, c in rows])

    root = "pipeline.self" if any("pipeline.self" in tr.self_s for tr, _ in rows) else "stream.trigger"
    metrics: dict[str, float] = {}
    for span in TIMED_SPANS:
        metrics[f"{span}.self_s"] = med(lambda tr, c: tr.self_s.get(span, 0.0))
    metrics["driver.self_s"] = med(lambda tr, c: tr.self_s.get(root, 0.0))
    for span in SPANS:
        metrics[f"{span}.jobs"] = med(lambda tr, c: tr.jobs.get(span, 0))
        metrics[f"{span}.stages"] = med(lambda tr, c: tr.stages.get(span, 0))
    metrics["tick.jobs"] = med(lambda tr, c: tr.tick_jobs)
    metrics["tick.stages"] = med(lambda tr, c: tr.tick_stages)
    metrics["tick.jobs_unattributed"] = med(lambda tr, c: tr.jobs_unattributed)
    metrics["tick.jobs_untagged"] = med(lambda tr, c: tr.jobs_untagged)
    for name in COUNTERS:
        metrics[name] = med(lambda tr, c: c.get(name, 0))
    traced_s = med(lambda tr, c: tr.wall_s)
    metrics["tick.traced_s"] = traced_s
    metrics["trace_overhead"] = traced_s / _median(untraced) - 1.0
    metrics["initial_sync_s"] = state.initial_sync_s
    metrics["jvm.old_gen_peak_mb"] = old_gen_mb

    detail = {f"{span}.self_s": med(lambda tr, c: tr.self_s.get(span, 0.0)) for span in SPANS}
    extra = sorted({k for _, c in rows for k in c} - set(COUNTERS))
    detail.update({k: med(lambda tr, c: c.get(k, 0)) for k in extra})
    return metrics, detail


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them for the
    result line of an untraced or a traced run."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    t_start = process_start()
    units = declared_units(bool(args.trace))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE} package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work)
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        state = workload.run(args.seconds, bool(args.trace), t_start)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = measure.peak_rss_mb(jvm_pid)
        if args.trace:
            metrics, detail = per_layer(state, measure.old_gen_peak_mb(spark))
            emit("layers", **detail)
        else:
            metrics = end_to_end(state, rss)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} != BENCHMARK.json's {sorted(units)}")
    failed = sum(1 for t in state.ticks if t.errors)
    if state.end_errors and not state.ticks[-1].errors:
        failed += 1  # end-of-run checks fail the last tick
    emit("checks", end_errors=state.end_errors,
         tick_walls=[t.wall_s for t in state.ticks],
         store_bytes=measure.distinct_bytes(state.ticks[-1].fs_after))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(state.ticks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
