"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState`` (SURVEY.md §2.10 — the "custom stateful
operator" slot the AvailableNow incremental pipeline doesn't cover).

Semantics (the streaming twin of ``gsr_queries.q_w_sessionize``): events
for a user belong to one session while consecutive gaps stay within
``gap_sec``; a larger gap CLOSES the previous session, which is emitted
downstream.  The open (trailing) session lives in the state store between
micro-batches, so a session spanning many batches closes exactly once.

Honest limits: events are assumed in order ACROSS batches per user (the
file-source batches in this engine append monotonically); out-of-order
arrivals within a batch are sorted, but an event older than the open
session's end would need watermark-style reordering, which this operator
does not do.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

OUT_SCHEMA = ("user_id long, session_start timestamp_ntz, "
              "session_end timestamp_ntz, n_events int")
STATE_SCHEMA = "open_start long, open_end long, open_n int"  # microseconds

EVENTS_SCHEMA = ("event_id long, ts timestamp_ntz, user_id long, "
                 "event_type string, value double, props string")


def _session_update(gap_sec: float):
    """applyInPandasWithState update fn: merge batch events into the open
    session, emit sessions closed by a > gap_sec gap."""
    gap_us = int(gap_sec * 1_000_000)

    def update(key, pdfs, state):
        (uid,) = key
        parts = [pdf for pdf in pdfs if len(pdf)]
        if state.hasTimedOut:  # NoTimeout configured; defensive only
            state.remove()
            return
        ts_us = np.sort(np.concatenate([
            p["ts"].to_numpy("datetime64[us]").astype(np.int64) for p in parts])) \
            if parts else np.array([], dtype=np.int64)
        if state.exists:
            s0, s1, n = state.get
        else:
            s0, s1, n = -1, -1, 0
        closed = []
        for t in ts_us:
            t = int(t)
            if s0 < 0:
                s0, s1, n = t, t, 1
            elif t - s1 > gap_us:
                closed.append((uid, s0, s1, n))
                s0, s1, n = t, t, 1
            else:
                s1, n = t, n + 1
        state.update((s0, s1, n))
        if closed:
            c = pd.DataFrame(closed, columns=["user_id", "s0", "s1", "n_events"])
            yield pd.DataFrame({
                "user_id": c["user_id"],
                "session_start": pd.to_datetime(c["s0"], unit="us"),
                "session_end": pd.to_datetime(c["s1"], unit="us"),
                "n_events": c["n_events"].astype(np.int32)})

    return update


def streaming_sessionize(spark: SparkSession, events_path: str,
                         checkpoint_path: str, out_path: str,
                         gap_sec: float = 1800.0,
                         schema: str = EVENTS_SCHEMA):
    """AvailableNow stream: event parquet files -> closed sessions appended
    to ``out_path``.  State (the open session per user) persists in the
    state store across batches AND across restarts via ``checkpoint_path``.
    Returns the StreamingQuery (caller awaits termination)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(events_path)
    sessions = (stream.groupBy("user_id").applyInPandasWithState(
        _session_update(gap_sec), OUT_SCHEMA, STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout))
    return (sessions.writeStream
                    .format("parquet")
                    .option("path", out_path)
                    .option("checkpointLocation", checkpoint_path)
                    .trigger(availableNow=True)
                    .start())
