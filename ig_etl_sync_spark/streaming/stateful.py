"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY §2.8); these are the
engine's X7 extension ops that need state ACROSS micro-batches — the
one place Structured Streaming's built-in aggregates don't reach and
the documented escape hatch (Arrow-batched grouped state) is the right
tool.

Scale: state is partitioned by the group key across executors and
checkpointed; memory is bounded by keys-with-state. For unbounded key
spaces set a state TTL (``GroupStateTimeout``) so idle keys evict —
exactly the watermark discipline, applied to custom state.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


def streaming_first_seen(
    events: DataFrame,
    key_col: str,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-batch exact dedup: emit each key's FIRST row ever seen;
    re-deliveries in later batches are dropped (state remembers).

    The batch analog is ``dedup.exact_dedup`` — this is its streaming
    form with durable seen-state. ``ttl_ms`` bounds state for unbounded
    key spaces (idle keys evict and would re-emit — choose per
    pipeline).
    """
    import pandas as pd

    out_schema = StructType.fromJson(events.schema.jsonValue())
    state_schema = StructType.fromJson(
        {"type": "struct", "fields": [
            {"name": "seen", "type": "boolean", "nullable": False, "metadata": {}}
        ]}
    )

    def dedup(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return  # key already emitted in an earlier batch
        first = None
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]]
        if first is None:
            return
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield first

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(key_col).applyInPandasWithState(
        dedup, out_schema, state_schema, "append", timeout
    )


def streaming_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of ``sessions.transition_matrix``: emit one row
    per consecutive event-type transition within each key's timeline,
    with the previous batch's LAST state carried across micro-batches
    (the transition that straddles a batch boundary is not lost).

    Emits ``(key, src_type, dst_type)`` rows in append mode — feed a
    downstream counter (foreachBatch upsert or a follow-up batch agg)
    for the matrix. Rows within a batch are ordered by (ts, tiebreak)
    before pairing; batches are assumed to arrive in event-time order
    per key (the same in-order contract as the other streaming twins —
    use a watermark + sort upstream for out-of-order sources).

    Scale: state per key is ONE string (the last event type) — the
    minimum possible; with RocksDB state store (session.py scale
    defaults) the bound is keys × bytes(type), not event volume.
    """
    import pandas as pd

    key_field = events.schema[key_col]
    out_schema = StructType.fromJson(
        {"type": "struct", "fields": [
            key_field.jsonValue(),
            {"name": "src_type", "type": "string", "nullable": False,
             "metadata": {}},
            {"name": "dst_type", "type": "string", "nullable": False,
             "metadata": {}},
        ]}
    )
    state_schema = StructType.fromJson(
        {"type": "struct", "fields": [
            {"name": "last_type", "type": "string", "nullable": False,
             "metadata": {}}
        ]}
    )

    def trans(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        rows = pd.concat(parts, ignore_index=True).sort_values(
            [ts_col, tiebreak_col], kind="mergesort"
        )
        types = rows[type_col].tolist()
        seq = ([state.get[0]] if state.exists else []) + types
        state.update((types[-1],))
        if len(seq) < 2:
            return
        yield pd.DataFrame(
            {
                key_col: [key[0]] * (len(seq) - 1),
                "src_type": seq[:-1],
                "dst_type": seq[1:],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        trans, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_ewma(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    *,
    alpha_ppm: int = 500_000,
    quant_dp: int = 2,
) -> DataFrame:
    """UNBOUNDED exponential decay per key — the streaming twin that
    ``temporal.decay_weighted_avg`` (bounded ``depth`` lags) points at
    for infinite histories.

    Per observation the state advances with the deterministic
    fixed-point recurrence (all BIGINT, floor division — the repo's
    iterated-computation discipline, no float in the loop)::

        x_q  = floor(value * 10^quant_dp)
        num' = x_q * 2^20 + (alpha_ppm * num) div 10^6
        den' =       2^20 + (alpha_ppm * den) div 10^6

    and emits ``ewma = num' / (den' * 10^quant_dp)`` — the only float
    op is the final division, so a replay (or the batch reference that
    runs the same recurrence over the full history) is bit-identical.
    Both accumulators are bounded by the geometric series
    ``max/(1-alpha)``, so state per key is two BIGINTs forever.

    Rows within a batch are ordered by ``(ts, tiebreak)``; batches are
    assumed in event-time order per key (the module's in-order
    contract). Emits one ``(key, tiebreak, ewma DOUBLE)`` row per input
    row in append mode.

    Scale: state is 16 bytes/key regardless of history length; with
    the RocksDB state store the bound is keys, not event volume.
    """
    import pandas as pd

    if not (0 < alpha_ppm < 1_000_000):
        raise ValueError("alpha_ppm must be in (0, 1_000_000)")
    wscale = 1 << 20
    vscale = 10**quant_dp
    key_field = events.schema[key_col]
    tiebreak_field = events.schema[tiebreak_col]
    out_schema = StructType.fromJson(
        {"type": "struct", "fields": [
            key_field.jsonValue(),
            tiebreak_field.jsonValue(),
            {"name": "ewma", "type": "double", "nullable": False,
             "metadata": {}},
        ]}
    )
    state_schema = StructType.fromJson(
        {"type": "struct", "fields": [
            {"name": "num", "type": "long", "nullable": False, "metadata": {}},
            {"name": "den", "type": "long", "nullable": False, "metadata": {}},
        ]}
    )

    def ewma(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        rows = pd.concat(parts, ignore_index=True).sort_values(
            [ts_col, tiebreak_col], kind="mergesort"
        )
        import math

        num, den = state.get if state.exists else (0, 0)
        ids, outs = [], []
        for v, tb in zip(rows[value_col], rows[tiebreak_col]):
            x_q = math.floor(float(v) * vscale)
            num = x_q * wscale + (alpha_ppm * num) // 1_000_000
            den = wscale + (alpha_ppm * den) // 1_000_000
            ids.append(tb)
            outs.append(num / (den * vscale))
        state.update((num, den))
        yield pd.DataFrame(
            {key_col: [key[0]] * len(ids), tiebreak_col: ids, "ewma": outs}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        ewma, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
