"""Streaming data-mixture gate with STANDING admitted-token state: the
incremental twin of :func:`~ig_etl_sync_spark.operators.dataprep.
mixture_sampling_rates` (X52), shaped like the standing dedup/LM
state (X46/X77/X100 — versioned tables + epoch-keyed foreachBatch
extends).

X52 plans a downsample-only mixture over a FINISHED corpus. A
streaming ingest has no finished corpus: each micro-batch must decide
which docs to admit so the ADMITTED corpus tracks the target recipe
as closely as downsampling allows. Per batch:

    batch → read admitted per-group token totals A_g (epochs BEFORE
    this one) → achievable post-batch total T = min_g floor((A_g +
    B_g)·1e6 / w_g) over groups with tokens (the X52 rule applied to
    state ∪ batch) → per-group allowance max(0, floor(T·w_g/1e6) −
    A_g) → admit each group's docs in seeded-md5 order while the
    cumulative token count fits the allowance → append admitted rows
    to the corpus (one fresh epoch) and the admitted per-group token
    counts to the state table (same epoch).

Docs of groups OUTSIDE the recipe are dropped (rate 0 by X52's
convention). Decisions are REPLAY-DETERMINISTIC: the state read
excludes the current epoch's partition, so a foreachBatch retry after
a crash between the two writes recomputes the SAME admissions from
the SAME prior-epoch state (both writes are epoch-keyed, replay-guarded
``VersionedParquetTable.append_epoch`` calls; the state
filter is what makes self-state-pollution on replay impossible —
the counts-so-far analog of the span index's extend-before-probe
argument, inverted: here the decision must EXCLUDE this batch).

Exactness: every step is BIGINT floor arithmetic (the X52 discipline)
plus a per-group window cumsum with a total (md5 draw, id) tiebreak —
the whole two-batch lifecycle replays bit-for-bit in an unrolled SQL
oracle (``streaming_mixture_gate_corpus``).

Scale: state is |groups| rows per epoch; per batch one group-keyed
partial agg + one per-group window over BATCH rows only (never the
corpus); the admitted append is O(admitted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ig_etl_sync_spark.functions.hashing import md5_int32
from ig_etl_sync_spark.operators.textops import token_count

_EPOCH = "mepoch"


class StreamingMixtureGate:
    """foreachBatch processor: attach with
    ``stream.writeStream.foreachBatch(gate.process_batch)``.

    ``counts_table`` / ``corpus_table``: versioned tables for the
    standing admitted per-group token counts
    (group, n, epoch) and the admitted corpus rows. One checkpoint
    location per table pair — the epoch-collision rules of the dedup
    indexes apply unchanged."""

    def __init__(
        self,
        counts_table,
        corpus_table,
        *,
        target_ppm: dict[str, int],
        group_col: str = "lang",
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        if sum(target_ppm.values()) != 1_000_000:
            raise ValueError(
                f"target_ppm must sum to 1_000_000, got "
                f"{sum(target_ppm.values())}"
            )
        if any(v <= 0 for v in target_ppm.values()):
            raise ValueError("every target_ppm weight must be positive")
        self.counts = counts_table
        self.corpus = corpus_table
        self.target_ppm = dict(target_ppm)
        self.group_col = group_col
        self.id_col = id_col
        self.text_col = text_col

    def admitted_counts(self, before_epoch: int) -> DataFrame | None:
        """Admitted per-group token totals from epochs strictly BEFORE
        ``before_epoch`` — the replay-safe state read (a retried
        batch's own earlier extend is invisible to its decisions)."""
        cur = self.counts.read()
        if cur is None:
            return None
        return (
            cur.where(F.col(_EPOCH).cast("int") < int(before_epoch))
            .groupBy(self.group_col)
            .agg(F.sum("n").cast("long").alias("_A"))
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        g, id_col, text_col = self.group_col, self.id_col, self.text_col
        spark = batch.sparkSession
        n_parts = spark.sparkContext.defaultParallelism
        epoch = int(batch_id) + 1
        targets = F.broadcast(
            spark.createDataFrame(
                [(k, int(v)) for k, v in sorted(self.target_ppm.items())],
                f"{g} string, _w long",
            )
        )
        bt = (
            batch.repartition(n_parts, F.col(id_col))
            .join(targets, g)  # recipe-absent groups drop (rate 0)
            .select(
                F.col(id_col),
                F.col(g),
                F.col("_w"),
                token_count(F.col(text_col)).cast("long").alias("_nt"),
                F.pmod(
                    md5_int32(
                        F.concat(F.lit("mix:"), F.col(id_col).cast("string"))
                    ),
                    F.lit(1_000_000),
                ).alias("_h"),
                F.col(text_col),
            )
            .localCheckpoint(eager=False)  # group agg + admit window
        )
        # empty-batch early return (the ingest's isEmpty guard): an idle
        # trigger — or a batch whose groups are all outside the recipe —
        # must not append empty epoch partitions to both standing tables
        # (no-op commits growing the version log). The isEmpty action
        # also materializes the lazy checkpoint for the non-empty path.
        if bt.isEmpty():
            return
        # the group frame is built over the FULL recipe, not the batch's
        # groups: a group with admitted state but no rows in THIS batch
        # still binds the achievable total T (otherwise a de-only batch
        # would size T as if en's deficit did not exist — caught by
        # tests/test_streaming_mixture.py::..._second_batch_uses_state)
        bg = (
            targets.join(
                bt.groupBy(g).agg(F.sum("_nt").cast("long").alias("_B")),
                g,
                "left",
            )
            .withColumn("_B", F.coalesce(F.col("_B"), F.lit(0)).cast("long"))
        )
        prior = self.admitted_counts(epoch)
        if prior is not None:
            bg = bg.join(prior, g, "left").withColumn(
                "_A", F.coalesce(F.col("_A"), F.lit(0)).cast("long")
            )
        else:
            bg = bg.withColumn("_A", F.lit(0).cast("long"))
        t_cap = bg.where(F.expr("_A + _B > 0")).agg(
            F.min(F.expr("(_A + _B) * 1000000 div _w")).cast("long").alias(
                "_T"
            )
        )
        # quota_g = floor(T·w_g/1e6) computed via T = q·1e6 + r:
        # floor((q·1e6+r)·w/1e6) = q·w + floor(r·w/1e6) exactly, so the
        # largest intermediate is q·w ≈ total·1e6/w_min·w_g/1e6 ≤
        # total·1e6 — the same magnitude t_cap's own (A+B)·1e6 multiply
        # already assumes fits BIGINT. The naive _T·_w form overflows at
        # ~1-ppm recipe weights (ADVICE r07): _T ~ total·1e6/w_min makes
        # _T·_w ~ total·1e12, past 2^63 for total > ~9e6 tokens.
        allow = (
            bg.crossJoin(F.broadcast(t_cap))
            .select(
                F.col(g),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.expr(
                        "(_T div 1000000) * _w"
                        " + (_T % 1000000) * _w div 1000000 - _A"
                    ).cast("long"),
                ).alias("_allow"),
            )
        )
        w_adm = Window.partitionBy(g).orderBy(
            F.asc("_h"), F.asc(id_col)
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        admitted = (
            bt.join(F.broadcast(allow), g)
            .withColumn("_cum", F.sum("_nt").over(w_adm).cast("long"))
            .where(F.col("_cum") <= F.col("_allow"))
            .select(
                F.col(id_col),
                F.col(g),
                F.col("_nt").alias("n_tokens"),
                F.col(text_col),
            )
            .localCheckpoint(eager=False)  # corpus write + counts agg
        )
        count_rows = admitted.groupBy(g).agg(
            F.sum("n_tokens").cast("long").alias("n")
        )
        self.counts.append_epoch(count_rows, _EPOCH, epoch, g)
        self.corpus.append_epoch(admitted, _EPOCH, epoch, id_col)
