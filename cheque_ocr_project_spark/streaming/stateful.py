"""Custom stateful streaming operator: per-conversation extraction state.

``conversation_progress`` keeps, per conv_id, a running aggregate across
micro-batches — turns seen, last turn index, number of turns whose text
carries a payee marker — using ``applyInPandasWithState`` (the Spark-native
replacement for the reference's in-process mutable counters,
issuer_processor_v.py:63-69/614-620, which only work single-machine).

State schema is explicit and small (three longs), so the state store scales
to 10^9 conversations; a processing-time timeout closes idle conversations
and emits their final row (the "conversation finished" signal a downstream
merge would consume).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from cheque_ocr_project_spark.oracle import vocab

OUTPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turns_seen", T.LongType()),
    T.StructField("max_turn_idx", T.LongType()),
    T.StructField("payee_marker_turns", T.LongType()),
    T.StructField("closed", T.BooleanType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("turns_seen", T.LongType()),
    T.StructField("max_turn_idx", T.LongType()),
    T.StructField("payee_marker_turns", T.LongType()),
])


def _make_update(idle_timeout_ms: int):
    def _update(key, pdf_iter, state: GroupState):
        return _update_impl(key, pdf_iter, state, idle_timeout_ms)
    return _update


def _update_impl(key, pdf_iter, state: GroupState, idle_timeout_ms: int):
    (conv_id,) = key
    if state.hasTimedOut:
        turns, max_idx, markers = state.get
        state.remove()
        yield pd.DataFrame({
            "conv_id": [conv_id], "turns_seen": [turns],
            "max_turn_idx": [max_idx], "payee_marker_turns": [markers],
            "closed": [True],
        })
        return

    turns, max_idx, markers = state.get if state.exists else (0, -1, 0)
    for pdf in pdf_iter:
        turns += len(pdf)
        if len(pdf):
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
            texts = pdf["text"].fillna("").str.upper()
            markers += int(
                texts.apply(lambda t: any(m in t for m in vocab.PAYEE_MARKERS)).sum()
            )
    state.update((turns, max_idx, markers))
    state.setTimeoutDuration(idle_timeout_ms)  # close idle conversations
    yield pd.DataFrame({
        "conv_id": [conv_id], "turns_seen": [turns],
        "max_turn_idx": [max_idx], "payee_marker_turns": [markers],
        "closed": [False],
    })


def conversation_progress(stream: DataFrame, idle_timeout_ms: int = 30_000):
    """transcript stream → per-conversation running state (update mode)."""
    return (
        stream.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_update(idle_timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming gap-sessionization: the stateful-streaming twin of the batch
# q_sessionize/q_sessionize_chunked operators. Per-user state is two longs
# and a validity flag (last event epoch-us, running session count,
# has_last), so the state store scales
# to 10^9 users; a processing-time timeout expires idle users (a user
# reappearing after expiry restarts its numbering — the bounded-state
# trade-off, stated rather than hidden). Requires per-user event-time
# order across micro-batches (the file-source test feeds time-ordered
# chunks); within a batch, rows are sorted by (ts, event_id) — the same
# tie-break the batch operator and its DuckDB oracle use.
# ---------------------------------------------------------------------------

# 30-minute inactivity gap: the ONE gap constant, read by the batch
# sessionize operators and their DuckDB oracle (plans/events.py) — a
# drifted copy would silently decouple streaming numbering from the
# oracle-backed batch numbering.
SESSION_GAP_US = 30 * 60 * 1_000_000


SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("ts_us", T.LongType()),      # tz-independent event time
    T.StructField("session_seq", T.LongType()),
    T.StructField("is_session_start", T.BooleanType()),
])

SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("last_us", T.LongType()),
    T.StructField("seq", T.LongType()),
    # explicit validity flag (0/1 long — a -1 last_us sentinel would
    # misread a legitimate pre-1970 negative-epoch last event as "no
    # state" and break cross-batch continuation)
    T.StructField("has_last", T.LongType()),
])


def _make_session_update(gap_us: int, idle_timeout_ms: int):
    def _update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()       # bounded state: idle user evicted
            return
        last_us, seq, has_last = (
            state.get if state.exists else (0, 0, 0)
        )
        frames = [pdf for pdf in pdf_iter if len(pdf)]
        if frames:
            pdf = pd.concat(frames).sort_values(["ts", "event_id"])
            us = pdf["ts"].astype("int64") // 1000   # ns -> us, naive
            # nullable Int64 (not float64): epoch-us values sit near the
            # float53 precision edge, integers never lose a microsecond
            prev = us.astype("Int64").shift(1)
            prev.iloc[0] = last_us if has_last else pd.NA
            new_sess = (prev.isna() | ((us - prev) > gap_us)).fillna(False)
            seqs = (seq + new_sess.astype("int64").cumsum()).astype("int64")
            yield pd.DataFrame({
                "event_id": pdf["event_id"].astype("int64"),
                "user_id": user_id,
                "ts_us": us.astype("int64"),
                "session_seq": seqs,
                "is_session_start": new_sess.astype(bool),
            })
            last_us, seq, has_last = int(us.iloc[-1]), int(seqs.iloc[-1]), 1
        state.update((last_us, seq, has_last))
        state.setTimeoutDuration(idle_timeout_ms)

    return _update


def streaming_sessionize(stream: DataFrame, gap_us: int = SESSION_GAP_US,
                         idle_timeout_ms: int = 600_000) -> DataFrame:
    """event stream → per-event session assignment (append mode).
    Bit-equal to the batch q_sessionize on in-order input — proven in
    tests/test_stateful_streaming.py against the batch operator (itself
    DuckDB-oracle-backed in the driver contract).

    The ``ts`` column MUST be TIMESTAMP_NTZ (the events contract type):
    an instant TIMESTAMP would be rendered into pandas through the
    session timezone, making ts_us zone-dependent and — across a DST
    transition — assigning different sessions than the batch operator's
    timestamp_diff. Enforced here rather than assumed."""
    ts_type = stream.schema["ts"].dataType
    if not isinstance(ts_type, T.TimestampNTZType):
        raise TypeError(
            f"streaming_sessionize requires a TIMESTAMP_NTZ ts column, "
            f"got {ts_type.simpleString()}: an instant timestamp reaches "
            "pandas through spark.sql.session.timeZone and would diverge "
            "from the batch/oracle numbering on non-UTC or DST zones"
        )
    return (
        stream.select("event_id", "user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_update(gap_us, idle_timeout_ms),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
