"""applyInPandasWithState operators: cross-batch dedup, transitions, EWMA."""

from __future__ import annotations

import json
import os

import pytest

from ig_etl_sync_spark.streaming.stateful import streaming_first_seen

SCHEMA = "k long, payload string"


def tick(d: str, i: int, rows):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"t{i}.json"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)


def run_once(spark, src, ckpt, op, out_dir, mode, schema=SCHEMA):
    stream = spark.readStream.schema(schema).json(src)

    def sink(batch_df, batch_id):  # memory sink can't recover checkpoints
        batch_df.write.mode("append").json(out_dir)

    q = (
        op(stream)
        .writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def read_out(spark, out_dir, schema):
    return spark.read.schema(schema).json(out_dir).collect()


def test_streaming_first_seen_across_batches(spark, tmp_path):
    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    tick(src, 0, [{"k": 1, "payload": "first-1"}, {"k": 2, "payload": "first-2"},
                  {"k": 1, "payload": "dup-in-batch"}])
    run_once(spark, src, ckpt, lambda s: streaming_first_seen(s, "k"), out, "append")
    got = {r["k"]: r["payload"] for r in read_out(spark, out, SCHEMA)}
    assert set(got) == {1, 2}

    # second batch re-delivers k=1, adds k=3: only k=3 emits
    tick(src, 1, [{"k": 1, "payload": "re-delivered"}, {"k": 3, "payload": "first-3"}])
    run_once(spark, src, ckpt, lambda s: streaming_first_seen(s, "k"), out, "append")
    ks = sorted(r["k"] for r in read_out(spark, out, SCHEMA))
    assert ks == [1, 2, 3]  # k=1 exactly once despite re-delivery


EV_SCHEMA = "user_id long, ts timestamp, event_id long, event_type string"


def test_streaming_transitions_match_batch_and_cross_batch(spark, tmp_path):
    from ig_etl_sync_spark.operators.sessions import transition_matrix
    from ig_etl_sync_spark.streaming.stateful import streaming_transitions

    src, ckpt, out = (
        str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    b0 = [
        {"user_id": 1, "ts": "2024-01-01 00:00:00", "event_id": 1, "event_type": "a"},
        {"user_id": 1, "ts": "2024-01-01 00:01:00", "event_id": 2, "event_type": "b"},
        {"user_id": 2, "ts": "2024-01-01 00:00:30", "event_id": 3, "event_type": "a"},
    ]
    b1 = [
        # batch boundary straddle: user 1's b -> c must be emitted
        {"user_id": 1, "ts": "2024-01-01 00:02:00", "event_id": 4, "event_type": "c"},
        {"user_id": 2, "ts": "2024-01-01 00:01:30", "event_id": 5, "event_type": "b"},
    ]
    op = lambda s: streaming_transitions(s)  # noqa: E731
    tick(src, 0, b0)
    run_once(spark, src, ckpt, op, out, "append", schema=EV_SCHEMA)
    tick(src, 1, b1)
    run_once(spark, src, ckpt, op, out, "append", schema=EV_SCHEMA)

    got_rows = spark.read.schema(
        "user_id long, src_type string, dst_type string"
    ).json(out)
    from pyspark.sql import functions as F

    got = {
        (r.src_type, r.dst_type): r.n
        for r in got_rows.groupBy("src_type", "dst_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    import datetime as dt

    batch_ev = spark.createDataFrame(
        [(r["user_id"], dt.datetime.fromisoformat(r["ts"]),
          r["event_id"], r["event_type"]) for r in b0 + b1],
        EV_SCHEMA,
    )
    want = {
        (r.src_type, r.dst_type): r.n_transitions
        for r in transition_matrix(batch_ev).collect()
    }
    assert got == want
    assert ("b", "c") in got  # the straddling transition survived


EWMA_SCHEMA = "user_id long, ts timestamp, event_id long, value double"


def _ewma_reference(history, alpha_ppm=500_000, quant_dp=2):
    """The op's documented fixed-point recurrence, replayed in plain
    Python over the full (ts, event_id)-ordered history."""
    import math

    wscale, vscale = 1 << 20, 10**quant_dp
    out, state = {}, {}
    for r in sorted(history, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        num, den = state.get(r["user_id"], (0, 0))
        x_q = math.floor(float(r["value"]) * vscale)
        num = x_q * wscale + (alpha_ppm * num) // 1_000_000
        den = wscale + (alpha_ppm * den) // 1_000_000
        state[r["user_id"]] = (num, den)
        out[r["event_id"]] = num / (den * vscale)
    return out


def test_streaming_ewma_bit_identical_across_batch_boundary(spark, tmp_path):
    """Unbounded-decay EWMA: per-row outputs must be BIT-identical to
    the fixed-point reference recurrence, including rows whose state
    accumulated in an EARLIER micro-batch (the X30 straddle pattern)."""
    from ig_etl_sync_spark.streaming.stateful import streaming_ewma

    src, ckpt, out = (
        str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    b0 = [
        {"user_id": 1, "ts": "2024-01-01 00:00:00", "event_id": 1, "value": 10.0},
        {"user_id": 1, "ts": "2024-01-01 00:01:00", "event_id": 2, "value": 20.5},
        {"user_id": 2, "ts": "2024-01-01 00:00:30", "event_id": 3, "value": -3.25},
    ]
    b1 = [
        # state from batch 0 must feed these
        {"user_id": 1, "ts": "2024-01-01 00:02:00", "event_id": 4, "value": 0.01},
        {"user_id": 2, "ts": "2024-01-01 00:01:30", "event_id": 5, "value": 7.77},
    ]
    op = lambda s: streaming_ewma(s)  # noqa: E731
    tick(src, 0, b0)
    run_once(spark, src, ckpt, op, out, "append", schema=EWMA_SCHEMA)
    tick(src, 1, b1)
    run_once(spark, src, ckpt, op, out, "append", schema=EWMA_SCHEMA)

    got = {r["event_id"]: r["ewma"] for r in
           spark.read.schema("user_id long, event_id long, ewma double")
           .json(out).collect()}
    want = _ewma_reference(b0 + b1)
    assert got == want  # exact ==, not approx: fixed-point contract
    # sanity: the decayed second observation is between x1 and x2
    assert min(10.0, 20.5) < got[2] < max(10.0, 20.5)


def test_streaming_ewma_rejects_bad_alpha(spark):
    from ig_etl_sync_spark.streaming.stateful import streaming_ewma

    df = spark.createDataFrame([], EWMA_SCHEMA)
    with pytest.raises(ValueError):
        streaming_ewma(df, alpha_ppm=1_000_000)



QSK_SCHEMA = "event_type string, event_id long, value double"
