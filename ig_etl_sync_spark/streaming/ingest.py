"""Streaming corpus ingestion with STANDING near-dup state: a
`foreachBatch` pipeline that removes exact and near duplicates across
micro-batches, not only within one.

Near-dup removal is corpus-global (a new doc can pair with ANY historic
doc), so it cannot live in per-key streaming state — but it CAN live in
a persistent :class:`~ig_etl_sync_spark.operators.dedup.MinhashDedupIndex`
that each micro-batch probes and extends:

    batch → in-batch dedup (exact + minhash) → probe index (drop docs
    near-duplicating ANY prior accepted doc) → extend index with the
    survivors → append survivors to the corpus table

Both the index and the corpus are versioned tables,
so a crashed batch leaves the previous committed versions intact. Retry
safety is two-layered: every write is guarded by an anti-join on
already-present ids, AND both appends key their epoch partition off the
foreachBatch ``batch_id`` (stable across replays), so re-running a batch
overwrites its own partitions with the same rows. A crash BETWEEN the
index and corpus writes is therefore completed — not self-filtered — by
the retry (probe ignores same-id self-matches), giving effectively-once
corpus contents on top of Spark's at-least-once replay.

HARD REQUIREMENT: one checkpoint location per standing table pair.
Epochs are keyed off the bare ``batch_id``, which resets with a fresh
checkpoint and repeats across concurrent streams — every epoch write
(:meth:`~ig_etl_sync_spark.sources.versioned.VersionedParquetTable.stage_epoch`)
verifies content-identity on epoch reuse, so a violation raises instead
of silently replacing a committed batch, but the supported deployment
is still one stream + one checkpoint per (index, corpus) pair.

Scale: per batch the probe shuffles only the batch's (id, band) pairs
against the index (the batch is the small side), and every append
writes one fresh epoch partition while prior epochs are carried by
hard link, so per-batch cost is O(batch) data regardless of corpus
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.dedup import (
    MinhashDedupIndex,
    exact_dedup,
    minhash_signatures_from_shingles,
    near_dup_pairs_minhash,
)
from ig_etl_sync_spark.operators.textops import normalized_text, word_shingles

#: corpus-table epoch partition column (one fresh partition per batch).
_EPOCH = "cepoch"


class StreamingCorpusIngest:
    """foreachBatch processor: attach with
    ``stream.writeStream.foreachBatch(ingest.process_batch)``."""

    def __init__(
        self,
        index: MinhashDedupIndex,
        corpus_table,
        *,
        threshold: float = 0.7,
        span_index=None,
    ) -> None:
        """``span_index``: optional
        :class:`~ig_etl_sync_spark.operators.spans.SpanDupIndex`. When
        given, each batch's surviving docs are ExactSubstr-CUT before
        the corpus append: spans already seen in the standing span
        index (or duplicated within the batch) are excised from the
        stored text, and the span index extends with the batch's
        PRE-CUT spans. Retry-safe with no special casing: the span
        probe counts DISTINCT (span, doc) pairs, so a replayed doc's
        own pairs from the crashed attempt's extend collapse into
        themselves — coverage is identical on replay, and the
        epoch-keyed extend overwrites its own partition."""
        self.index = index
        self.corpus = corpus_table
        self.threshold = threshold
        self.span_index = span_index

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        id_col, text_col = self.index.id_col, self.index.text_col
        # 1. in-batch exact dedup (content fingerprint, min-id winner)
        b = exact_dedup(
            batch.withColumn("_fp", F.md5(normalized_text(F.col(text_col)))),
            keys=["_fp"],
            tiebreak=[id_col],
        ).drop("_fp")
        # Hoist the per-batch text artifacts ONCE: minhash signatures
        # feed the in-batch pair pass, the index probe, AND the index
        # extend; distinct shingle sets feed both verify stages and the
        # extend's stored rows. Each consumer semi-joins the pinned
        # superset down to its (further-filtered) id set — without the
        # pins the tokenize/shingle/hash pipeline runs 3× per batch
        # The pin API splits by the size rule (CLAUDE.md): sigs is
        # NARROW (16 longs/doc) and read by three driver-latency-bound
        # consumers → cache(); sh is the WIDE shingle-array frame
        # (data volume dominates) → localCheckpoint, whose one-time
        # planning cost beats the columnar encode + InMemoryRelation
        # scan tax a cache pays on every read of a big array column.
        # sigs DERIVE from the pinned sh (round 8): array_min is
        # invariant under shingle multiplicity, so minhash over the
        # distinct-shingle arrays is bit-identical to minhash over the
        # raw shingle stream — one tokenize+shingle pass per batch
        # instead of two, and the signature explode reads the
        # MATERIALIZED arrays (no HOF re-inlining possible).
        n_parts = b.sparkSession.sparkContext.defaultParallelism
        sh = (
            b.repartition(n_parts, F.col(id_col))
            .select(
                F.col(id_col),
                F.array_distinct(
                    word_shingles(F.col(text_col), self.index.shingle_k)
                ).alias("sh"),
            )
            .localCheckpoint(eager=False)
        )
        sigs = minhash_signatures_from_shingles(
            sh, id_col, self.index.num_hashes
        ).cache()
        # every cache pin released in the finally — a failed commit
        # attempt (crash-injection matrix) must not leak executor
        # storage into the foreachBatch retry (checkpoint blocks free
        # with their frames)
        pinned = [sigs]
        try:
            self._run_batch(b, int(batch_id), sigs, sh, pinned)
        finally:
            for frame in pinned:
                frame.unpersist(blocking=False)

    def _run_batch(
        self,
        b: DataFrame,
        batch_id: int,
        sigs: DataFrame,
        sh: DataFrame,
        pinned: list[DataFrame],
    ) -> None:
        id_col, text_col = self.index.id_col, self.index.text_col
        # 2. in-batch near-dup (larger id of each verified pair drops)
        pairs = near_dup_pairs_minhash(
            b,
            id_col,
            text_col,
            self.index.num_hashes,
            self.index.bands,
            self.index.shingle_k,
            self.threshold,
            sigs=sigs,
            sh=sh,
        )
        b = b.join(
            pairs.select(F.col("id_b").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
        # 3. drop docs near-duplicating the standing corpus. Hits whose
        # ref IS the probing doc itself (same id) are ignored: on a
        # foreachBatch RETRY after a crash between the index and corpus
        # writes, every survivor is already in the index and would
        # otherwise self-match and vanish — permanently losing the
        # whole batch from the corpus. In-batch near-dups were removed
        # in step 2, so a replayed survivor's only same-batch index hit
        # is itself; genuine prior-corpus hits carry a different ref id
        # and still drop the doc. (Corner: an id REUSED for different
        # text during a crash window is judged by step 4's id guard,
        # not by similarity — acceptable, ids are assumed unique.)
        hits = self.index.probe(b, threshold=self.threshold, sigs=sigs, sh=sh)
        b = b.join(
            hits.where(F.col("new_id") != F.col("ref_id"))
            .select(F.col("new_id").alias(id_col))
            .distinct(),
            id_col,
            "left_anti",
        )
        # 4. retry guard: ids already accepted are not re-admitted
        cur = self.corpus.read()
        if cur is not None:
            b = b.join(cur.select(id_col), id_col, "left_anti")
        # feeds the emptiness probe, the epoch guard, both index
        # extends and the corpus write: cache(), not localCheckpoint —
        # the checkpoint pays physical planning + codegen at call time
        # (~1 s/batch on this chain), the cache defers it to first use
        b = shared = b.cache()
        pinned.append(shared)
        if b.isEmpty():
            return
        # 5. commit: index first, then the corpus append. ALL writes
        # key their epoch partition off batch_id (stable across Spark's
        # at-least-once replay; +1 reserves epoch 0 for build/compact),
        # so a retry OVERWRITES the same partitions with the same rows
        # — idempotent per batch (Delta's txnAppId/txnVersion pattern).
        # A crash between the index and corpus commits is completed by
        # the retry: step 3's self-match filter keeps the
        # already-indexed survivors alive, step 4 sees them absent from
        # the corpus, the index overwrite is a no-op in content, and
        # the corpus append finally lands — effectively-once, not
        # at-most-once. Bare batch_id numbers COLLIDE across
        # checkpoints/streams: every epoch write verifies
        # content-identity (a replay passes, a colliding different
        # batch raises instead of silently replacing the committed
        # partition). One checkpoint location per standing table pair
        # remains the supported deployment.
        epoch = int(batch_id) + 1
        spans_b = None
        if self.span_index is not None:
            # one doc_spans pass feeds the span extend AND the probe.
            # Pinned AFTER the span_md5 shuffle, as cache():
            # InMemoryRelation preserves the hash partitioning (a
            # localCheckpoint drops it — measured), so the extend's
            # (span_md5, id) distinct and the probe's span-keyed join
            # are BOTH exchange-free on the shared frame.
            from ig_etl_sync_spark.operators.spans import _by_span, doc_spans

            sid, stext = self.span_index.id_col, self.span_index.text_col
            spans_b = _by_span(
                doc_spans(b, sid, stext, self.span_index.k)
            ).cache()
            pinned.append(spans_b)
            stored = self._span_cut(b, spans_b)
        else:
            stored = b
        # The corpus stage runs its epoch guard BEFORE any index
        # extend, so a colliding batch is refused with the indexes
        # untouched. Only the cheap pointer flip waits for the index
        # commits (the crash-ordering contract); a crash in between
        # leaves an orphan .stg-* dir for vacuum, and the replay
        # re-stages.
        staged = self.corpus.stage_epoch(stored, _EPOCH, epoch, id_col)
        # independent tables: Spark schedules jobs from both threads
        # fairly (the GraphStore staging precedent). The extends index
        # the PRE-CUT text: the duplicated spans must stay indexed or
        # the third copy would not match.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(self.index.extend, b, epoch=epoch, sigs=sigs, sh=sh)]
            if spans_b is not None:
                futs.append(
                    ex.submit(self.span_index.extend, b, epoch=epoch, spans=spans_b)
                )
            for fut in futs:
                fut.result()
        self.corpus.commit_staged(staged)

    def _span_cut(self, b: DataFrame, spans_b: DataFrame) -> DataFrame:
        """ExactSubstr cut (step 6): ``b`` with every doc's spans that
        the standing span index already holds (or the batch repeats)
        excised from its stored text. ``spans_b``: the batch's pinned
        :func:`~ig_etl_sync_spark.operators.spans.doc_spans`."""
        sid, stext = self.span_index.id_col, self.span_index.text_col
        # only docs with an actual cut swap in the rebuilt text —
        # clean_text is a NORMALIZED-token rejoin, and untouched
        # docs must keep their original bytes. touched_only pushes
        # that filter into the probe plan: no _full rebuild or
        # whole-batch left-join spine for rows this consumer drops.
        # The probe derives the batch's pairs from spans_b and counts
        # DISTINCT (span, doc) pairs over batch ∪ index, so it sees the
        # same pair set whether or not the index already holds this
        # batch (a replay after a crash between extend and append).
        cut = (
            self.span_index.probe(
                b,
                spans=spans_b,
                touched_only=True,
                spans_partitioned=True,
            )
            .where(F.col("covered_tokens") > 0)
            .select(F.col(sid), F.col("clean_text"))
        )
        return (
            b.join(cut, sid, "left")
            .withColumn(
                stext,
                F.coalesce(F.col("clean_text"), F.col(stext)),
            )
            .drop("clean_text")
        )

    def compact(self, *, target_files: int = 8) -> None:
        """Fold the per-batch epoch partitions of BOTH standing tables
        (index and corpus) into single-epoch versions — run between
        batches to bound small-file accumulation. Contents unchanged."""
        self.index.compact(target_files=target_files)
        self.corpus.compact_epochs(_EPOCH, [self.index.id_col], target_files)
