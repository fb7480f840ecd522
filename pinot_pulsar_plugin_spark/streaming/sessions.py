"""Timeout-driven session finalization — the stateful-timeout surface
(``GroupStateTimeout.EventTimeTimeout``) the other custom operators
don't exercise: a user's open session lives in ``GroupState`` and is
emitted EXACTLY when the event-time watermark passes its inactivity
deadline, not when the next micro-batch happens to arrive. This is the
operator a serving layer uses to publish "session ended" facts with
bounded lateness; ``session_window`` aggregation (streaming/windows)
covers the declarative form, this covers the imperative one with
custom per-session payloads.

Scale shape: state is three int64s per ACTIVE user (sessions ended by
a newer event in the same batch never touch state); the within-batch
gap-split is one numpy diff over the sorted group; the only shuffle is
the user_id hash partition. Sessions are bit-identical to the batch
q29 composition (same gap rule, same integer micros) — the
differential test closes every session via watermark advancement and
compares row for row.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# same worker-shipping constraint as attribution/anomaly: register this
# module by value with pyspark's VENDORED cloudpickle
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

SESSION_GAP_US = 30 * 60 * 1_000_000  # q29's inactivity gap

_OUTPUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, "
    "n_events bigint, duration_us bigint"
)
_STATE_SCHEMA = "start_us bigint, last_us bigint, n_events bigint"


def _finalize_group(key, pdfs, state: GroupState):
    import numpy as np
    import pandas as pd

    def row(start, last, n):
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start_us": [start],
                "session_end_us": [last],
                "n_events": [n],
                "duration_us": [last - start],
            }
        )

    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield row(start, last, n)
        return

    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values(["ts_us", "event_id"])
    ts = pdf["ts_us"].to_numpy(dtype="int64")

    frames = []
    if state.exists:
        start, last, n = state.get
        if ts[0] - last > SESSION_GAP_US:
            frames.append(row(start, last, n))  # state session closed by gap
            start, last, n = ts[0], ts[0], 0
    else:
        start, last, n = ts[0], ts[0], 0

    # within-batch gap split: boundaries where the inter-event gap
    # exceeds the session gap; everything before the LAST boundary is a
    # closed session, the tail becomes the new open state
    gaps = np.diff(np.concatenate(([last], ts))) > SESSION_GAP_US
    seg = np.cumsum(gaps)  # segment id per event (0 = continues state)
    for s in range(int(seg[-1]) + 1):
        seg_ts = ts[seg == s]
        if s == 0:
            last = int(seg_ts[-1])
            n += len(seg_ts)
            cur = (start, last, n)
        else:
            cur = (int(seg_ts[0]), int(seg_ts[-1]), len(seg_ts))
        if s < seg[-1]:
            frames.append(row(*cur))
    start, last, n = cur
    # CEILING division to ms (ADVICE r5): flooring let the session
    # finalize while the watermark was still up to 999 µs BEFORE the
    # exact µs deadline — an on-time event with ts in (watermark,
    # last+GAP] arriving in a later micro-batch would then open a new
    # session where batch q29 (strict µs gap) extends the old one.
    # Ceiling guarantees closure never precedes the µs deadline.
    deadline_ms = (last + SESSION_GAP_US + 999) // 1000
    if deadline_ms <= state.getCurrentWatermarkMs():
        # the watermark already passed this session's deadline (the
        # batch that delivered its events also advanced event time far
        # beyond them): it is closed by event time NOW — setting a
        # past timeout would throw INVALID_TIMEOUT_TIMESTAMP
        frames.append(row(start, last, n))
        if state.exists:
            state.remove()
    else:
        state.update((start, last, n))
        # close via event time: fire when the watermark passes the gap
        state.setTimeoutTimestamp(deadline_ms)
    if frames:
        yield pd.concat(frames)


def session_finalizer_stream(decoded: DataFrame, watermark: str = "1 minute") -> DataFrame:
    """Sessionize a decoded event stream ``(user_id, event_id, ts,
    ts_us)`` (``ts`` a timestamp column for the watermark, ``ts_us``
    exact integer micros for the arithmetic) — one output row per
    CLOSED session, bit-comparable to batch q29."""
    return (
        decoded.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _finalize_group,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
