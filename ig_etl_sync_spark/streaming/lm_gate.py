"""Streaming backoff-LM quality gate with a STANDING n-gram model:
the incremental twin of :func:`~ig_etl_sync_spark.operators.textops.
backoff_surprisal` (X99), shaped like the standing dedup indexes
(X46/X77 — versioned tables + epoch-keyed foreachBatch extends).

CCNet's perplexity gate scores documents under a smoothed n-gram LM.
In a streaming ingest there is no finished corpus to train on, so the
model IS the corpus-so-far: each micro-batch

    batch → extend the standing unigram/bigram count tables with the
    batch's counts (one fresh epoch partition each) → score the batch
    under the interpolated bigram→unigram mixture over the SUMMED
    counts of every epoch → append (doc_id, n_bigrams, surprisal_ppm)
    to the scores table

Scoring is SELF-INCLUSIVE (the batch's own counts are in the model it
is scored against) — the same replay argument as the span index's
extend-before-probe: a foreachBatch retry after a crash between the
extends and the scores append re-extends the SAME epoch partitions
with the SAME counts, so the model state — and therefore every score —
is identical on replay. Scoring against counts-so-far-minus-this-batch
would make a replayed batch see a different model and silently store
different scores. All three writes are epoch-keyed, replay-guarded
``VersionedParquetTable.append_epoch`` calls.

Exactness: the same cross-multiplied floor-log2 integer discipline as
X99 — bits = bitlen((lam_den·c1·N) div (lam_num·c2·N +
(lam_den−lam_num)·c1·tf)), no float log anywhere, so the incremental
scores replay exactly in a SQL oracle (the
``streaming_lm_gate_scores`` contract query scores batch 1 against
batch 1's counts and batch 2 against the union's counts).

Scale: the model tables are vocabulary-bounded (orders of magnitude
below corpus size) and summed per key before the score join; per batch
only the batch's counts are written (prior epochs carried by hard
link). The count aggregation across epochs is one
vocabulary-keyed partial agg, never a corpus rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ig_etl_sync_spark.operators.textops import normalized_text, tokens

_EPOCH = "lepoch"


class StreamingLMQualityGate:
    """foreachBatch processor: attach with
    ``stream.writeStream.foreachBatch(gate.process_batch)``.

    ``uni_table`` / ``bi_table`` / ``scores_table``: versioned tables
    for the standing unigram counts (word, n), the
    standing bigram counts (w1, w2, n), and the per-doc score log
    (doc_id, n_bigrams, surprisal_ppm). One checkpoint location per
    table triple — the epoch-collision rules of the dedup indexes
    apply unchanged."""

    def __init__(
        self,
        uni_table,
        bi_table,
        scores_table,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        lam_num: int = 3,
        lam_den: int = 4,
    ) -> None:
        if not (0 < lam_num < lam_den):
            raise ValueError(
                f"lambda = {lam_num}/{lam_den} must lie strictly in (0, 1)"
            )
        self.uni = uni_table
        self.bi = bi_table
        self.scores = scores_table
        self.id_col = id_col
        self.text_col = text_col
        self.lam_num = lam_num
        self.lam_den = lam_den

    # -- model state ---------------------------------------------------

    def model_counts(self) -> tuple[DataFrame | None, DataFrame | None]:
        """Counts-so-far: (unigram (w, tf), bigram (w1, w2, c2)), each
        summed across epoch partitions; (None, None) before the first
        batch."""
        u = self.uni.read()
        b = self.bi.read()
        if u is None or b is None:
            return None, None
        return (
            u.groupBy("w").agg(F.sum("n").cast("long").alias("tf")),
            b.groupBy("w1", "w2").agg(F.sum("n").cast("long").alias("c2")),
        )

    # -- the per-batch pipeline ----------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        id_col, text_col = self.id_col, self.text_col
        n_parts = batch.sparkSession.sparkContext.defaultParallelism
        epoch = int(batch_id) + 1
        t = (
            batch.repartition(n_parts, F.col(id_col))
            .select(
                F.col(id_col),
                tokens(normalized_text(F.col(text_col))).alias("_t"),
            )
            .localCheckpoint(eager=False)  # uni + bigram + score branches
        )
        # batch counts (the epoch rows). The bigram pairing is the
        # slice+zip_with form — the DSIR rule, as in backoff_surprisal.
        uni_rows = (
            t.select(F.explode("_t").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        ln = F.greatest(F.size(F.col("_t")) - F.lit(1), F.lit(0))
        ex = (
            t.select(
                F.col(id_col),
                F.zip_with(
                    F.slice(F.col("_t"), 1, ln),
                    F.slice(F.col("_t"), 2, ln),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ).alias("_bg"),
            )
            .select(id_col, F.explode("_bg").alias("_b"))
            .select(
                id_col,
                F.col("_b.w1").alias("w1"),
                F.col("_b.w2").alias("w2"),
            )
            .localCheckpoint(eager=False)  # bi counts + score join
        )
        bi_rows = ex.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

        # 1-2. extend the standing model, epoch-keyed and replay-guarded
        # (word/bigram-keyed id columns: a replay presents the same key
        # sets, a colliding different batch raises)
        self.uni.append_epoch(uni_rows, _EPOCH, epoch, "w")
        self.bi.append_epoch(bi_rows, _EPOCH, epoch, "w1")

        # 3. score the batch against counts-so-far (self-inclusive —
        # see the module docstring's replay argument)
        tf, c2 = self.model_counts()
        total = tf.agg(F.sum("tf").cast("long").alias("_N"))
        c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("_c1"))
        mix = (
            f"({self.lam_den} * _c1 * _N) div "
            f"({self.lam_num} * _c2 * _N "
            f"+ {self.lam_den - self.lam_num} * _c1 * _tf)"
        )
        scored = (
            ex.join(
                F.broadcast(c2.withColumnRenamed("c2", "_c2")), ["w1", "w2"]
            )
            .join(F.broadcast(c1), ["w1"])
            .join(
                F.broadcast(tf.withColumnRenamed("tf", "_tf")),
                F.col("w2") == F.col("w"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                id_col,
                (F.length(F.bin(F.expr(mix))) - F.lit(1))
                .cast("long")
                .alias("_bits"),
            )
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                F.expr("sum(_bits) * 1000000 div count(1)")
                .cast("long")
                .alias("surprisal_ppm"),
            )
        )
        self.scores.append_epoch(scored, _EPOCH, epoch, id_col)
