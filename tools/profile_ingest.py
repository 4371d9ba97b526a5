"""Stage-level wall profile of the streaming span-cut ingest (the
`streaming_span_cut_corpus` contract query) at an arbitrary SF dir.

Drives the REAL :class:`StreamingCorpusIngest` (so the hoisted sigs/sh
pins, touched_only probe, and index_covers_batch fast path are all in
the measured plan) and attributes wall to the index/table calls by
wrapping them with timers; the residual inside each batch is the lazy
in-batch dedup chain materialized at ``isEmpty`` plus driver-side
planning. Runs the lifecycle twice and reports the SECOND pass (the
first warms JVM/codegen). Usage: python tools/profile_ingest.py [sf_dir]
"""
import atexit
import functools
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
from ig_etl_sync_spark.session import get_spark  # noqa: E402
from ig_etl_sync_spark.operators.dedup import MinhashDedupIndex  # noqa: E402
from ig_etl_sync_spark.operators.spans import SpanDupIndex  # noqa: E402
from ig_etl_sync_spark.sources.catalog import load_table  # noqa: E402
from ig_etl_sync_spark.sources.versioned import VersionedParquetTable  # noqa: E402
from ig_etl_sync_spark.streaming.ingest import StreamingCorpusIngest  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark(app_name="profile_ingest")
spark.sparkContext.setLogLevel("ERROR")

timings: list[tuple[str, float]] = []


def _timed_method(cls, name):
    orig = getattr(cls, name)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        t0 = time.monotonic()
        result = orig(*args, **kwargs)
        timings.append((f"{cls.__name__}.{name}", time.monotonic() - t0))
        return result

    setattr(cls, name, wrapper)


for _cls, _name in (
    (MinhashDedupIndex, "extend"),
    (MinhashDedupIndex, "probe"),
    (SpanDupIndex, "extend"),
    (SpanDupIndex, "probe"),
):
    _timed_method(_cls, _name)


def run_once(report: bool) -> None:
    timings.clear()
    root = tempfile.mkdtemp(prefix="profile_ingest_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.where(F.col("source") != "src0").select("doc_id", "text")
    b2 = docs.where(F.col("source") == "src0").select("doc_id", "text")
    idx = MinhashDedupIndex(spark, f"{root}/idx")
    corpus = VersionedParquetTable(spark, f"{root}/corpus")
    span_idx = SpanDupIndex(spark, f"{root}/spans", k=8, min_docs=2)
    for name in ("stage_epoch", "commit_staged", "read"):
        orig = getattr(corpus, name)

        def make(orig=orig, name=name):
            def wrapper(*a, **k):
                t0 = time.monotonic()
                r = orig(*a, **k)
                timings.append((f"corpus.{name}", time.monotonic() - t0))
                return r

            return wrapper

        setattr(corpus, name, make())
    ingest = StreamingCorpusIngest(
        idx, corpus, threshold=0.7, span_index=span_idx
    )
    total0 = time.monotonic()
    for bid, batch in ((0, b1), (1, b2)):
        t0 = time.monotonic()
        ingest.process_batch(batch, bid)
        timings.append((f"BATCH{bid}_total", time.monotonic() - t0))
    t0 = time.monotonic()
    n = corpus.read().count()
    timings.append(("final corpus read", time.monotonic() - t0))
    timings.append(("TOTAL", time.monotonic() - total0))
    if report:
        for label, t in timings:
            print(f"  {label:<28s} {t:6.2f}s")
        print("corpus rows:", n)


run_once(report=False)  # warm JVM/codegen
run_once(report=True)
