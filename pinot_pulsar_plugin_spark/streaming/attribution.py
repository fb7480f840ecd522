"""Online last-touch attribution as a custom stateful streaming
operator — the streaming twin of the batch ``q107_purchase_attribution``
(``operators/eventanalytics.py``): each user's most recent click/view
lives in ``GroupState`` across micro-batches, so a purchase is credited
the moment it arrives instead of waiting for a batch job over the full
history.

Scale shape: state is one (ts_us, event_id, type) triple per user —
constant size, no buffered events; the carry-forward inside each
micro-batch is a vectorized pandas ffill seeded from state (no per-row
Python loop); the only shuffle is the hash partition on user_id — the
same single-exchange budget as the batch twin. Ordering: per-key
event-time order within arrival, as delivered by the pulsarlike
source's per-partition offset order (the anomaly-op assumption, stated
there)."""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Stateful group functions ship to executor Python workers by pickle;
# registering this module by value with PYSPARK'S VENDORED cloudpickle
# (the one its serializers actually call — the standalone cloudpickle
# package has separate registry state) means drivers running from ANY
# cwd produce self-contained payloads — the same constraint the
# pulsarlike source handles in register(). Found by the non-repo-cwd
# verify drive: a module-level function pickled by REFERENCE raises
# ModuleNotFoundError on the worker.
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

from pinot_pulsar_plugin_spark.operators.eventanalytics import (
    _ATTR_WINDOW_US as ATTR_WINDOW_US,  # single definition, shared with q107
)

_OUTPUT_SCHEMA = (
    "user_id bigint, purchase_id bigint, purchase_ts_us bigint, "
    "touch_event_id bigint, touch_type string, latency_us bigint"
)
# sentinel ts = -1 means "no touch seen yet" (avoids nullable-state
# ambiguity across Arrow round-trips)
_STATE_SCHEMA = "touch_ts_us bigint, touch_id bigint, touch_type string"


def _attribute_group(key, pdfs, state: GroupState):
    import numpy as np
    import pandas as pd

    touch_ts, touch_id, touch_type = (
        state.get if state.exists else (-1, -1, "")
    )
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        if state.exists:
            state.update((touch_ts, touch_id, touch_type))
        return
    # one concat + one sort per group-batch (the anomaly-op lesson:
    # per-chunk sorting breaks when a group's batch spans interleaved
    # Arrow chunks)
    pdf = pd.concat(chunks).sort_values(["ts_us", "event_id"])
    is_touch = pdf["event_type"].isin(("click", "view"))
    # strictly-preceding carry: a row's own touch status must not
    # attribute to itself, so shift the ffilled columns by one row —
    # with unique event times the shifted value is exactly "latest
    # touch strictly before this row"
    tts = pdf["ts_us"].where(is_touch).ffill().shift()
    tid = pdf["event_id"].where(is_touch).ffill().shift()
    ttp = pdf["event_type"].where(is_touch).ffill().shift()
    if touch_ts >= 0:  # seed rows before the batch's first touch
        tts = tts.fillna(touch_ts)
        tid = tid.fillna(touch_id)
        ttp = ttp.fillna(touch_type)
    p = pdf["event_type"] == "purchase"
    if p.any():
        lat = pdf["ts_us"][p] - tts[p]
        ok = tts[p].notna() & (lat <= ATTR_WINDOW_US)
        out = pd.DataFrame(
            {
                "user_id": np.full(int(p.sum()), key[0], dtype="int64"),
                "purchase_id": pdf["event_id"][p].to_numpy(dtype="int64"),
                "purchase_ts_us": pdf["ts_us"][p].to_numpy(dtype="int64"),
                "touch_event_id": tid[p].where(ok),
                "touch_type": ttp[p].where(ok),
                "latency_us": lat.where(ok),
            }
        )
        yield out
    last = pdf[is_touch].tail(1)
    if len(last):
        touch_ts = int(last["ts_us"].iloc[0])
        touch_id = int(last["event_id"].iloc[0])
        touch_type = str(last["event_type"].iloc[0])
    state.update((touch_ts, touch_id, touch_type))


def attribution_stream(decoded: DataFrame) -> DataFrame:
    """Attribute a decoded event stream ``(event_id, user_id, ts_us,
    event_type)`` — same output domain as the batch twin q107, so the
    two are comparable row for row (see test_state_and_sinks
    differential)."""
    return decoded.groupBy("user_id").applyInPandasWithState(
        _attribute_group,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
