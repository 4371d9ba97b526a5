"""Sessionization: gap-based event sessions.

The portable lag/cumsum formulation (expressible in any SQL engine, so
it is DuckDB-oracle-checkable): a session breaks when the gap to the
previous event of the same key exceeds ``gap``.

Scale: one shuffle on the session key (the window partition); the
cumulative sum is computed within partitions during the window sort.
Skewed keys (one user = half the events) are the hazard — mitigate by
salting the key with a coarse time bucket before the window when a key
can exceed a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_session_id(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Tag each event with a per-key session index (1-based).

    Gap comparison is µs-exact (``unix_micros``), per the repo-wide
    invariant: second-cast arithmetic rounds two events straddling a
    second boundary differently than their true µs gap.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev_ts = F.lag(ts_col).over(w)
    gap_us = gap_seconds * 1_000_000
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(
            Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )


def session_stats(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session aggregates: event count and duration seconds
    (floor of the exact µs span — not a difference of second-casts)."""
    tagged = with_session_id(events, key_col, ts_col, gap_seconds)
    dur_us = F.max(F.unix_micros(F.col(ts_col))) - F.min(
        F.unix_micros(F.col(ts_col))
    )
    return tagged.groupBy(key_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(dur_us / 1_000_000).alias("duration_sec"),
    )


def session_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session closed time intervals ``(key, session_id,
    start_us BIGINT, end_us BIGINT)`` — the interval frame
    ``temporal.interval_overlap_join`` consumes (concurrency analysis,
    exposure windows)."""
    tagged = with_session_id(events, key_col, ts_col, gap_seconds)
    return tagged.groupBy(key_col, "session_id").agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("start_us"),
        F.max(F.unix_micros(F.col(ts_col))).alias("end_us"),
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: how many keys performed ``steps`` in
    order (each step strictly AFTER the earliest qualifying time of
    the previous one). Returns one row per stage:
    ``(stage BIGINT, step, n_keys)`` — the classic conversion funnel.

    Semantics: stage k counts keys with t_1 < t_2 < ... < t_k where
    t_i is the EARLIEST occurrence of step i after t_{i-1} (first-
    qualifying-event chaining — deterministic, µs-exact, and the
    standard funnel definition; re-orderings later in the stream
    don't resurrect a missed step).

    Scale: one filtered min-aggregation per step, each keyed on the
    funnel key and joined to the previous stage's (key, t) table —
    stage tables shrink monotonically, so every join after the first
    is against a smaller-than-corpus side (broadcast when it fits;
    Catalyst/AQE's call). No windows, no per-key event collection.
    """
    if not steps:
        raise ValueError("funnel_counts: steps must be non-empty")
    us = F.unix_micros(F.col(ts_col))
    prev: DataFrame | None = None
    out_rows = []
    for i, step in enumerate(steps):
        cur = events.where(F.col(type_col) == step).select(
            F.col(key_col), us.alias("_t")
        )
        if prev is None:
            stage = cur.groupBy(key_col).agg(F.min("_t").alias("_ts"))
        else:
            stage = (
                cur.join(prev, key_col)
                .where(F.col("_t") > F.col("_ts"))
                .groupBy(key_col)
                .agg(F.min("_t").alias("_ts"))
            )
        prev = stage
        out_rows.append(
            stage.agg(F.count(F.lit(1)).alias("n_keys")).select(
                F.lit(i + 1).cast("long").alias("stage"),
                F.lit(step).alias("step"),
                F.col("n_keys"),
            )
        )
    result = out_rows[0]
    for r in out_rows[1:]:
        result = result.unionByName(r)
    return result


def cohort_retention(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: keys grouped by their first-activity
    period (the cohort), then the count of distinct keys still active
    at each period offset, plus retention in basis points of the
    cohort's offset-0 size.

    Returns ``(cohort STRING 'yyyy-MM-dd', period_offset BIGINT,
    n_active BIGINT, retention_bp BIGINT)``. Retention is fixed-point
    (``n_active * 10000 div cohort_size``) — integer arithmetic, so
    cross-engine bit-identical.

    Scale: activity is first collapsed to distinct (key, period) —
    the only pass over the raw events — then cohort assignment is a
    key-partitioned min + self-join co-partitioned on the same key,
    and the final matrix aggregation runs over |keys|x|periods| rows,
    not events. The closing window runs partitioned BY COHORT over
    the (cohort, offset) matrix, which is tiny by construction
    (#cohorts x #offsets).
    """
    if period not in ("week", "day"):
        raise ValueError(
            f"period={period!r} unsupported: choose 'week' or 'day' "
            "(offsets divide by a fixed day count, which calendar "
            "periods like 'month' would make wrong, not just unhandled)"
        )
    per = F.date_trunc(period, F.col(ts_col))
    acts = events.select(
        F.col(key_col).alias("_k"), per.alias("_p")
    ).distinct()
    cohorts = acts.groupBy("_k").agg(F.min("_p").alias("_cohort"))
    days = {"week": 7, "day": 1}[period]
    mat = (
        acts.join(cohorts, "_k")
        .groupBy("_cohort", "_p")
        .agg(F.count_distinct(F.col("_k")).alias("n_active"))
        .select(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort"),
            (F.datediff(F.col("_p"), F.col("_cohort")) / days)
            .cast("long")
            .alias("period_offset"),
            "n_active",
        )
    )
    w = Window.partitionBy("cohort")
    size0 = F.max(
        F.when(F.col("period_offset") == 0, F.col("n_active"))
    ).over(w)
    return mat.select(
        "cohort",
        "period_offset",
        "n_active",
        (F.col("n_active") * F.lit(10000)).cast("long").alias("_num"),
        size0.alias("_den"),
    ).select(
        "cohort",
        "period_offset",
        "n_active",
        F.expr("_num div _den").alias("retention_bp"),
    )


def transition_matrix(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types within each key's timeline, with the transition probability
    in parts-per-million of the source state's outgoing total.

    Returns ``(src_type, dst_type, n_transitions BIGINT, prob_ppm
    BIGINT)``. Probability is fixed-point (``n * 1_000_000 div
    row_total``) — integer arithmetic, cross-engine bit-identical.

    Scale: one window shuffle on the key (lead), one aggregation on
    (src, dst) — cardinality |types|^2, tiny. The per-src normalizing
    window runs over that tiny matrix.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = (
        events.select(
            F.col(type_col).alias("src_type"),
            F.lead(type_col).over(w).alias("dst_type"),
        )
        .where(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = F.sum("n_transitions").over(Window.partitionBy("src_type"))
    return pairs.select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.expr("n_transitions * 1000000L").alias("_num"),
        tot.alias("_den"),
    ).select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.expr("_num div _den").alias("prob_ppm"),
    )


def sequence_surprisal(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key mean transition surprisal under the corpus's own
    add-one-smoothed first-order Markov model — "how predictable is
    this user's event sequence", the behavioral twin of the text
    stack's bigram LM filter (X74) and the anomaly screen a sessions
    pipeline thresholds (bots replay loops → near-zero bits; corrupted
    or adversarial streams wander → high bits).

    Exact in any engine by the repo's float-free log2 discipline: each
    transition scores ``bitlen((c1(src) + V) div (c2(src,dst) + 1))``
    where ``c2`` is the corpus transition count, ``c1`` the source's
    outgoing total, ``V`` the event-type vocabulary size, and
    ``bitlen(x) = length(bin(x)) - 1``. Returns ``(key, n_transitions
    BIGINT, surprisal_ppm BIGINT)`` for keys with >= 2 events, with
    ``surprisal_ppm = sum(bits) * 1e6 div n_transitions``.

    Scale: one key-window shuffle builds the transition pairs
    (checkpointed once against the c2/c1/score three-branch diamond);
    both model tables are |types|²-bounded broadcasts; one final
    key-keyed agg. No float log, no Python.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = (
        events.select(
            F.col(key_col),
            F.col(type_col).alias("_src"),
            F.lead(type_col).over(w).alias("_dst"),
        )
        .where(F.col("_dst").isNotNull())
        .localCheckpoint(eager=False)  # c2 + c1 + score join
    )
    c2 = pairs.groupBy("_src", "_dst").agg(
        F.count(F.lit(1)).cast("long").alias("_c2")
    )
    c1 = pairs.groupBy("_src").agg(
        F.count(F.lit(1)).cast("long").alias("_c1")
    )
    vocab = events.agg(
        F.countDistinct(type_col).cast("long").alias("_V")
    )
    scored = (
        pairs.join(F.broadcast(c2), ["_src", "_dst"])
        .join(F.broadcast(c1), ["_src"])
        .crossJoin(F.broadcast(vocab))
        .select(
            key_col,
            (F.length(F.bin(F.expr("(_c1 + _V) div (_c2 + 1)"))) - F.lit(1))
            .cast("long")
            .alias("_bits"),
        )
    )
    return scored.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.expr("sum(_bits) * 1000000 div count(1)").cast("long").alias(
            "surprisal_ppm"
        ),
    )


def multi_touch_attribution(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    touch_type: str = "click",
    conv_type: str = "purchase",
    window_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Linear multi-touch attribution — each conversion's credit is
    split EVENLY across the user's touches in the preceding
    ``window_us`` (the marketing-standard linear model; X27's funnel
    and the interval-join attribution are its last-touch cousins).

    Exact-integer credit discipline (repo ppm rule): each touch gets
    ``1_000_000 div n`` ppm and the LATEST touch absorbs the remainder,
    so every conversion distributes exactly 1_000_000 ppm and the
    whole relation replays in SQL with no float division.

    Returns per-user totals: ``(user_col, touched_convs BIGINT,
    credit_ppm BIGINT)`` — ``credit_ppm`` sums to exactly
    1_000_000 × total attributed conversions over the relation.

    Scale: the touch⋈conversion join keys on the USER (already the
    natural partitioning for sessionized data); per-user pair fan-out
    is bounded by events-per-user, and the per-conversion window rank
    partitions on the conversion id — no global hot key. All temporal
    comparisons in µs (``unix_micros``), never second-cast.
    """
    t_us = F.unix_micros(F.col(ts_col))
    touches = events.where(F.col(type_col) == touch_type).select(
        F.col(user_col).alias("_u"),
        t_us.alias("_tc"),
        F.col(id_col).alias("_touch_id"),
    )
    convs = events.where(F.col(type_col) == conv_type).select(
        F.col(user_col).alias("_u"),
        t_us.alias("_tp"),
        F.col(id_col).alias("_conv_id"),
    )
    pairs = touches.join(convs, "_u").where(
        (F.col("_tc") < F.col("_tp"))
        & (F.col("_tc") >= F.col("_tp") - F.lit(window_us))
    )
    per_conv = Window.partitionBy("_conv_id")
    rank = Window.partitionBy("_conv_id").orderBy(
        F.desc("_tc"), F.desc("_touch_id")
    )
    credited = pairs.select(
        "_u",
        "_conv_id",
        F.count(F.lit(1)).over(per_conv).alias("_n"),
        F.row_number().over(rank).alias("_rn"),
    ).select(
        "_u",
        "_conv_id",
        (
            F.expr("1000000L div _n")
            + F.when(
                F.col("_rn") == 1, F.lit(1_000_000) - F.expr("_n * (1000000L div _n)")
            ).otherwise(F.lit(0))
        ).alias("_credit"),
    )
    return credited.groupBy(F.col("_u").alias(user_col)).agg(
        F.count_distinct("_conv_id").cast("long").alias("touched_convs"),
        F.sum("_credit").cast("long").alias("credit_ppm"),
    )


def transition_predictor_accuracy(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """X97: majority-transition baseline accuracy — evaluate the
    first-order Markov model (X30) as a next-event PREDICTOR: per
    source type, predict the argmax next type (count DESC, type ASC
    tiebreak) and score it against every observed transition. The
    baseline number any sequence model must beat, and the eval twin of
    the transition matrix — exact integer ppm.

    Shape: the same one key-window pair pass X30 uses, a
    |types|²-bounded count relation (its argmax window partitions on
    the source type over that bounded relation), and a broadcast join
    back onto the counts — no second corpus pass.

    Returns ``(src_type, predicted_next, n_transitions, n_correct,
    accuracy_ppm)``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pairs = (
        events.select(
            F.col(key_col),
            F.col(type_col).alias("src_type"),
            F.col(ts_col),
            F.col(id_col),
        )
        .withColumn("dst_type", F.lead("src_type").over(w))
        .where(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # |types|²-bounded; feeds the argmax AND the accuracy join
        .localCheckpoint(eager=False)
    )
    warg = Window.partitionBy("src_type").orderBy(
        F.col("n").desc(), F.col("dst_type").asc()
    )
    pred = (
        pairs.withColumn("_r", F.row_number().over(warg))
        .where(F.col("_r") == 1)
        .select("src_type", F.col("dst_type").alias("predicted_next"))
    )
    return (
        pairs.join(F.broadcast(pred), "src_type")
        .groupBy("src_type", "predicted_next")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.sum(
                F.when(
                    F.col("dst_type") == F.col("predicted_next"), F.col("n")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_correct"),
        )
        .withColumn(
            "accuracy_ppm",
            F.expr("n_correct * 1000000 div n_transitions").cast("long"),
        )
    )
