"""Online anomaly detection as a custom stateful streaming operator.

The streaming twin of the batch ``q83_running_zscore`` operator
(``operators/timeseries.py``): per-user running moments ``(n, s1, s2)``
live in ``GroupState`` across micro-batches, so each event is scored
against the user's full history the moment it arrives — the
``applyInPandasWithState`` pattern the reference's ingestion path feeds
(SURVEY.md §2.B streaming row).

Scale shape: state is three int64s per user (constant size — no
windowed buffering), updates are vectorized numpy cumsums over each
Arrow batch, and the only shuffle is the hash partition on the group
key. Ordering: like any online detector this assumes per-key arrival in
event-time order; the pulsarlike source delivers per-partition offset
order, so key-to-partition affinity (or an upstream sort per
micro-batch, applied below) provides it.
"""

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

_WARMUP = 5
_THRESHOLD = 2.0

_OUTPUT_SCHEMA = "user_id bigint, event_id bigint, z double, is_anomaly int"
_STATE_SCHEMA = "n bigint, s1 bigint, s2 bigint"


def _moments_pass(key, chunks, n, s1, s2):
    """The shared vectorized moments/z-score pass: concatenate the
    group's Arrow chunks BEFORE the event-time sort (a per-chunk sort
    orders within chunks only — a micro-batch spanning interleaved
    chunks would update moments out of order), run one numpy cumsum
    pass, and return (scored frame or None, new state). Shared by the
    applyInPandasWithState operator below and the
    transformWithStateInPandas twin (streaming/twstate.py) so the two
    state APIs can never drift semantically."""
    import numpy as np
    import pandas as pd

    if not chunks:
        return None, (n, s1, s2)
    pdf = pd.concat(chunks).sort_values(["ts_us", "event_id"])
    v = pdf["v"].to_numpy(dtype="int64")
    cn = n + np.arange(1, len(v) + 1, dtype="int64")
    c1 = s1 + np.cumsum(v)
    # loud-fail overflow guard (ADVICE r11): numpy int64 WRAPS
    # SILENTLY — there is no ANSI net in pandas/numpy land — so the
    # documented Σv² state cliff (~9.2e18, reached at ~3.7e9 events of
    # a typical-magnitude user) must raise, not corrupt. Two checks
    # make the wrap detectable: (1) bound |v| so each v² is exact
    # int64 (3037000499² is the last square under 2^63); (2) with
    # every increment then exact and non-negative, ANY wrap in the
    # running chain s2 → c2[0] → … → c2[-1] strictly decreases it
    # (a wrap subtracts 2^64, larger than any valid step), so the
    # monotonicity scan below is a complete detector, and it is one
    # vectorized pass — no per-row Python. The scan must be a DIRECT
    # elementwise signed comparison (c2[1:] < c2[:-1]) — np.diff is a
    # wrapping int64 subtraction that always recovers the positive
    # increment even across a wrap, so it can never observe one
    # (ADVICE r12); likewise the |v| bound checks both ends without
    # np.abs, which wraps at int64 min (|-2^63| → -2^63).
    if len(v) and (
        int(v.max()) > 3_037_000_499 or int(v.min()) < -3_037_000_499
    ):
        raise OverflowError(
            "running_zscore_stream: |v| exceeds the exact-int64 square "
            "bound (3037000499); per-event v*v would wrap silently. "
            "Use the batch q83 decimal path for this value domain."
        )
    c2 = s2 + np.cumsum(v * v)
    if len(c2) and (c2[0] < s2 or bool(np.any(c2[1:] < c2[:-1]))):
        raise OverflowError(
            "running_zscore_stream: per-user running sum of squares "
            "crossed the int64 state cliff (~9.2e18; ~3.7e9 events of "
            "a typical-magnitude user). State would wrap silently — "
            "documented contract is to fail loudly; use the batch q83 "
            "decimal accumulation for unbounded histories."
        )
    # r11 audit: the variance bracket runs in float64 — numpy int64
    # WRAPS SILENTLY, and c1·c1 passes int64 at c1 > ~3e9, i.e. only
    # ~60k events of a typical-magnitude user. float64 here is the
    # batch twin q83's exact double chain (s1/s2 cast to double, then
    # the identical IEEE expression), so batch and stream still agree
    # row for row. The int64 STATE fields stay exact; their own cliff
    # is Σv² > 9.2e18 (~3.7e9 events/user at typical magnitudes) —
    # enforced loudly by the OverflowError guard above, with q83's
    # decimal accumulation as the unbounded-history batch answer.
    c1f, c2f, cnf = (
        c1.astype("float64"),
        c2.astype("float64"),
        cn.astype("float64"),
    )
    var_pop = (c2f - (c1f * c1f) / cnf) / cnf
    with np.errstate(divide="ignore", invalid="ignore"):
        z = (v - c1 / cn) / np.sqrt(var_pop)
    valid = (cn >= _WARMUP) & (var_pop > 0)
    frame = pd.DataFrame(
        {
            "user_id": np.full(len(v), key[0], dtype="int64"),
            "event_id": pdf["event_id"].to_numpy(dtype="int64"),
            "z": np.where(valid, np.round(z, 6), np.nan),
            "is_anomaly": (valid & (z > _THRESHOLD)).astype("int32"),
        }
    )
    return frame, (int(cn[-1]), int(c1[-1]), int(c2[-1]))


def _score_group(key, pdfs, state: GroupState):
    import pandas as pd

    n, s1, s2 = state.get if state.exists else (0, 0, 0)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    frames = []
    frame, (n, s1, s2) = _moments_pass(key, chunks, n, s1, s2)
    if frame is not None:
        frames.append(frame)
    # only touch state when there is something to record: updating on a
    # dataless invocation would materialize (0,0,0) state for a key
    # that produced no rows — benign under NoTimeout, but it would
    # persist forever if a timeout conf is ever enabled (ADVICE r3)
    if frames or state.exists:
        state.update((n, s1, s2))
    # applyInPandasWithState consumes a generator of pandas DataFrames;
    # on an empty invocation produce no rows (yielding a non-DataFrame
    # would fail serialization — ADVICE r2)
    if frames:
        yield pd.concat(frames)


def running_zscore_stream(decoded: DataFrame) -> DataFrame:
    """Score a decoded event stream ``(user_id, event_id, ts_us, v)``
    where ``v`` is the fixed-point (×100) value — same domain as the
    batch twin, so batch and streaming results are comparable row for
    row (see test_state_and_sinks differential test)."""
    return decoded.groupBy("user_id").applyInPandasWithState(
        _score_group,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# CUSUM drift detector — the streaming twin of q100's batch drift slope
# ---------------------------------------------------------------------------

_CUSUM_OUTPUT = (
    "event_type string, event_id bigint, cpos bigint, cneg bigint, alarm int"
)
_CUSUM_STATE = "cpos bigint, cneg bigint"


def make_cusum_scorer(mu0_fp: int, k_fp: int, h_fp: int):
    """Two-sided tabular CUSUM around a known baseline: per key, state
    ``(c+, c-)`` updates as ``c+ = max(0, c+ + (v - mu0 - k))`` and
    ``c- = max(0, c- + (mu0 - v - k))``; alarm when either exceeds
    ``h``. All quantities are fixed-point int64 (same 1e-2 domain as
    the z-score op), so the streaming run is bit-reproducible and a
    plain-Python replay can verify it exactly.

    The reset recurrence vectorizes without a per-row loop via the
    cumsum-minus-running-min identity
    ``x_t = S_t - min(0, min_{j<=t} S_j)`` with ``S_t = x_0 + cumsum(d)``
    — one numpy pass per Arrow batch. State is two int64s per key;
    q100 is the batch companion (slope over the whole history), this
    is the online form that fires mid-stream the moment drift
    accumulates past ``h``."""

    def _score(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        cpos, cneg = state.get if state.exists else (0, 0)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts_us", "event_id"])
            v = pdf["v"].to_numpy(dtype="int64")

            def run(x0, d):
                s = x0 + np.cumsum(d)
                m = np.minimum(np.minimum.accumulate(s), 0)
                return s - m

            cp = run(cpos, v - mu0_fp - k_fp)
            cn = run(cneg, mu0_fp - v - k_fp)
            out = pd.DataFrame(
                {
                    "event_type": np.full(len(v), key[0], dtype=object),
                    "event_id": pdf["event_id"].to_numpy(dtype="int64"),
                    "cpos": cp,
                    "cneg": cn,
                    "alarm": ((cp > h_fp) | (cn > h_fp)).astype("int32"),
                }
            )
            cpos, cneg = int(cp[-1]), int(cn[-1])
            state.update((cpos, cneg))
            yield out
        elif state.exists:
            state.update((cpos, cneg))

    return _score


def cusum_drift_stream(
    decoded: DataFrame, *, mu0_fp: int, k_fp: int, h_fp: int
) -> DataFrame:
    """Per-event-type CUSUM over a decoded stream
    ``(event_type, event_id, ts_us, v)`` with fixed-point values."""
    return decoded.groupBy("event_type").applyInPandasWithState(
        make_cusum_scorer(mu0_fp, k_fp, h_fp),
        outputStructType=_CUSUM_OUTPUT,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
