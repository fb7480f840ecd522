"""Optional real-Pulsar backend behind the FakePulsarBroker interface.

The ``pulsar-client`` package is not installed in this environment
(import-gated by design, SURVEY.md §7 phase 3b: "optional real
pulsar-client behind the same interface so CI needs no broker"). When
it is available, :class:`RealPulsarBroker` implements the broker
methods the pulsarlike source calls, mapping each to the Pulsar reader
API the reference plugin uses:

- ``partition_count``      → ``get_topic_partitions``
  (≈ getPartitionsForTopic, PulsarStreamMetadataProvider.java:53)
- ``earliest/latest_offset`` → reader at MessageId.earliest/latest +
  offset codec (provider:66-78)
- ``fetch``                → reader.seek + bounded read_next loop
  (≈ batchReceive under BatchReceivePolicy, consumer:69-73,136)
- ``first_offset_at_or_after`` → reader.seek(publish time in ms)
- ``acknowledge_cumulative`` → no-op: readers are non-durable, which is
  the reference's own design (NonDurable subscription, consumer:66 —
  the engine checkpoint owns the cursor either way)

pulsarlike also calls ``acked_through`` (the stream reader's restart
cursor, read from the fake broker's ack sidecar), which this class
does not implement: a non-durable reader keeps no acked position. The
writers' ledger numbering reads the fake broker's ledger files and has
no real-broker counterpart.
"""

from __future__ import annotations

from pinot_pulsar_plugin_spark.sources.fakebroker import (
    DEFAULT_MAX_BYTES,
    DEFAULT_MAX_MSGS,
    FetchedMessage,
)
from pinot_pulsar_plugin_spark.sources.offsets import (
    EARLIEST_OFFSET,
    decode_offset,
    encode_offset,
)

try:
    import pulsar  # type: ignore

    HAVE_PULSAR = True
except ImportError:  # pragma: no cover - exercised via sys.modules stub
    pulsar = None
    HAVE_PULSAR = False


class RealPulsarBroker:
    """Drop-in for FakePulsarBroker against a real cluster.

    ``root`` is the service URL (e.g. ``pulsar://host:6650``) instead of
    a directory; every method listed in the module docstring keeps
    FakePulsarBroker's signature.
    """

    def __init__(self, service_url: str):
        if not HAVE_PULSAR:
            raise NotImplementedError(
                "pulsar-client is not installed; RealPulsarBroker is the "
                "import-gated real backend (use FakePulsarBroker locally)"
            )
        self._client = pulsar.Client(service_url)

    def _partition_name(self, topic: str, partition: int) -> str:
        # consumed by name "<topic>-partition-<N>", consumer:58
        return f"{topic}-partition-{partition}"

    def partition_count(self, topic: str) -> int:
        try:
            return len(self._client.get_topic_partitions(topic))
        except Exception:
            return 0  # provider:56-57 — 0 on failure

    def _reader(self, topic: str, partition: int, message_id, compacted: bool = False):
        return self._client.create_reader(
            self._partition_name(topic, partition),
            message_id,
            is_read_compacted=compacted,  # readCompacted(true), consumer:68
        )

    def earliest_offset(self, topic: str, partition: int) -> int:
        r = self._reader(topic, partition, pulsar.MessageId.earliest)
        try:
            if not r.has_message_available():
                return 0
            msg = r.read_next(timeout_millis=5000)
            return encode_offset(msg.message_id().ledger_id(), msg.message_id().entry_id())
        finally:
            r.close()

    def latest_offset(self, topic: str, partition: int) -> int:
        # MessageId.latest resolution (provider:70-71): last + 1
        r = self._reader(topic, partition, pulsar.MessageId.latest)
        try:
            # pulsar's "latest" positions after the last message; derive
            # the numeric offset from the last readable message instead
            last = None
            r2 = self._reader(topic, partition, pulsar.MessageId.earliest)
            try:
                while r2.has_message_available():
                    last = r2.read_next(timeout_millis=5000)
            finally:
                r2.close()
            if last is None:
                return 0
            mid = last.message_id()
            return encode_offset(mid.ledger_id(), mid.entry_id()) + 1
        finally:
            r.close()

    def fetch(
        self,
        topic: str,
        partition: int,
        start_offset: int,
        *,
        end_offset: int | None = None,
        max_msgs: int = DEFAULT_MAX_MSGS,
        max_bytes: int = DEFAULT_MAX_BYTES,
        compacted: bool = False,
    ) -> list[FetchedMessage]:
        if start_offset == EARLIEST_OFFSET:
            start_id = pulsar.MessageId.earliest
        else:
            ledger, entry = decode_offset(start_offset)
            # seek is gap-tolerant broker-side: positions at the first
            # message with id >= (ledger, entry) — consumer:108-110
            start_id = pulsar.MessageId(partition, ledger, entry, -1)
        r = self._reader(topic, partition, start_id, compacted)
        out: list[FetchedMessage] = []
        nbytes = 0
        try:
            while len(out) < max_msgs and r.has_message_available():
                msg = r.read_next(timeout_millis=5000)
                mid = msg.message_id()
                offset = encode_offset(mid.ledger_id(), mid.entry_id())
                if offset < start_offset:
                    continue  # seek landed before the requested offset
                if end_offset is not None and offset >= end_offset:
                    break
                data = msg.data()
                if out and nbytes + len(data) > max_bytes:
                    break
                out.append(FetchedMessage(offset, data))
                nbytes += len(data)
        finally:
            r.close()
        return out

    def first_offset_at_or_after(self, topic: str, partition: int, ts_us: int) -> int:
        """Publish-time seek parity with the fake broker: position a
        reader with ``seek(publish_ts_millis)`` (the Pulsar client API
        — MILLISECOND granularity, so the µs target floors to its ms:
        the seek may land up to 999 µs EARLY, never late. Overlap
        duplicates into an at-least-once handoff; skipping a
        sub-millisecond qualifying message would lose data, which is
        strictly worse) and return the first available message's
        offset; an exhausted reader (seek past the live edge) resolves
        to ``latest_offset``."""
        r = self._reader(topic, partition, pulsar.MessageId.earliest)
        try:
            r.seek(ts_us // 1000)
            if not r.has_message_available():
                return self.latest_offset(topic, partition)
            msg = r.read_next(timeout_millis=5000)
            mid = msg.message_id()
            return encode_offset(mid.ledger_id(), mid.entry_id())
        finally:
            r.close()

    def acknowledge_cumulative(self, topic: str, partition: int, offset: int) -> bool:
        # readers are non-durable; progress lives in the Spark
        # checkpoint — matching the reference's advisory-ack design
        # (consumer:154-162)
        return True

    def close(self) -> None:
        self._client.close()
