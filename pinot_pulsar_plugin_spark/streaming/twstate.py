"""The running z-score operator on Spark 4's NEW arbitrary-state API
(``transformWithStateInPandas`` / ``StatefulProcessor``) — the
successor to ``applyInPandasWithState`` with typed state handles
(ValueState/ListState/MapState), timers, and per-state TTL. This twin
exists to (a) exercise the new surface and (b) prove API equivalence:
it shares the exact numpy core with the legacy-API operator
(``anomaly._moments_pass``), and the differential test asserts the two
produce BIT-IDENTICAL output over the same broker ledgers.

CONTAINER GATE: executing this API needs the ``google.protobuf``
package (the TWS state-server protocol) which this container does not
ship — the end-to-end differential is therefore env-gated (skipped
without protobuf, like the realpulsar live-broker smoke), while the
processor's logic is still unit-tested directly against a fake
ValueState handle every run.

Scale shape is unchanged from the legacy op: three int64s of state per
user in a ValueState handle, one user_id hash partition, vectorized
per-Arrow-batch updates.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

# same worker-shipping constraint as the other stateful modules
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

from pinot_pulsar_plugin_spark.streaming.anomaly import _moments_pass

_OUTPUT_SCHEMA = "user_id bigint, event_id bigint, z double, is_anomaly int"


class ZScoreProcessor(StatefulProcessor):
    """Typed-state port of the legacy z-score group function: the
    (n, s1, s2) tuple moves from the implicit GroupState into a named
    ValueState handle; the math is the shared ``_moments_pass``."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._moments = handle.getValueState(
            "moments", "n BIGINT, s1 BIGINT, s2 BIGINT"
        )

    def handleInputRows(self, key, rows, timerValues):
        n, s1, s2 = self._moments.get() if self._moments.exists() else (0, 0, 0)
        chunks = [pdf for pdf in rows if len(pdf)]
        frame, state = _moments_pass(key, chunks, n, s1, s2)
        if frame is not None:
            self._moments.update(state)
            yield frame

    def close(self) -> None:
        pass


def running_zscore_tws(decoded: DataFrame) -> DataFrame:
    """``transformWithStateInPandas`` form of
    ``anomaly.running_zscore_stream`` — identical input/output domain,
    bit-identical results (see test_state_and_sinks differential)."""
    return decoded.groupBy("user_id").transformWithStateInPandas(
        ZScoreProcessor(),
        outputStructType=_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
