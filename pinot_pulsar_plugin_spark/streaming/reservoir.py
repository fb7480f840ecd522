"""Online weighted reservoir — the streaming twin of q95's sequential
Poisson sample (``operators/curation.py``).

Ohlsson priorities are deterministic (integer-hash uniform ÷ weight, no
RNG state), so "the K smallest priorities per language" is a pure
function of the SET of documents seen — which makes the online form
exactly equal to the batch draw at every prefix: GroupState holds the
current K-smallest (priority, doc_id, n_chars) triples per language and
each micro-batch merges its rows in. That batch↔stream exactness is the
property the differential test pins; a classic RNG reservoir (Vitter's
R) could never be compared this way.

Scale shape: state is ≤K fixed-size triples per language (constant —
no history buffering); each invocation is one vectorized pandas sort of
(state ∪ batch) truncated to K; the only shuffle is the hash partition
on the language key. Emission is update-mode: every invocation emits
the group's full current reservoir (≤K rows) with ranks, so a keyed
upsert sink on (lang, pick_rank) always serves the exact sample-so-far.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pinot_pulsar_plugin_spark.operators.curation import (
    _SP_KEEP,
    _SP_MOD,
    _SP_MULT,
)

# ship by value with pyspark's VENDORED cloudpickle (see anomaly.py)
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

_OUTPUT_SCHEMA = (
    "lang string, doc_id bigint, n_chars bigint, priority double,"
    " pick_rank int"
)
_STATE_SCHEMA = (
    "ids array<bigint>, chars array<bigint>, prios array<double>"
)


def _merge_reservoir(key, pdfs, state: GroupState):
    import pandas as pd

    ids, chars, prios = state.get if state.exists else ([], [], [])
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        # dataless invocation: emit nothing, leave state untouched
        return
    batch = pd.concat(frames)
    # EXACTLY q95's priority arithmetic: u = (doc_id·MULT) mod MOD + 1,
    # priority = u / n_chars — one IEEE double division on small ints,
    # bit-identical to the JVM expression in the batch query
    doc_id = batch["doc_id"].astype("int64")
    u = (doc_id * _SP_MULT) % _SP_MOD + 1
    fresh = pd.DataFrame(
        {
            "doc_id": doc_id,
            "n_chars": batch["n_chars"].astype("int64"),
            "priority": u.astype("float64")
            / batch["n_chars"].astype("float64"),
        }
    )
    if ids:
        held = pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_chars": pd.Series(chars, dtype="int64"),
                "priority": pd.Series(prios, dtype="float64"),
            }
        )
        # concat only non-empty frames (empty-frame concat dtype
        # behavior is deprecated and noisy)
        merged = pd.concat([held, fresh])
    else:
        merged = fresh
    # q95's deterministic order: (priority, doc_id); keep the K smallest
    merged = (
        merged.drop_duplicates("doc_id")
        .sort_values(["priority", "doc_id"])
        .head(_SP_KEEP)
        .reset_index(drop=True)
    )
    state.update(
        (
            merged["doc_id"].tolist(),
            merged["n_chars"].tolist(),
            merged["priority"].tolist(),
        )
    )
    out = merged.copy()
    out.insert(0, "lang", key[0])
    out["pick_rank"] = (out.index + 1).astype("int32")
    yield out


def weighted_reservoir_stream(decoded: DataFrame) -> DataFrame:
    """Maintain q95's sample online over a decoded document stream
    ``(doc_id, lang, n_chars)``. Update-mode output: each micro-batch
    re-emits the touched groups' full current reservoirs."""
    return decoded.groupBy("lang").applyInPandasWithState(
        _merge_reservoir,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
