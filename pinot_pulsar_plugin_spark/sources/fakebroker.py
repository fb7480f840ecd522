"""Directory-backed fake Pulsar broker.

Stands in for a Pulsar cluster so the streaming source is testable with
no network (SURVEY.md §7 phase 3b: "file/directory-fed fake broker ...
so CI needs no broker"). The real ``pulsar-client`` could back the same
source by swapping this class behind the identical fetch interface.

Topic layout on disk::

    <root>/<topic>/partition-<N>/ledger-<LLLLLLLL>.jsonl

One JSONL line per message payload (UTF-8). Entry ids are dense line
numbers within a ledger; ledger rollover creates the offset gaps real
Pulsar has, which is exactly what the gap-tolerant seek must handle.
Beside each ledger sit two optional sidecars, one JSON value per line
aligned with the ledger's entries:

- ``ledger-<LLLLLLLL>.keys`` — the message key (``null`` = unkeyed),
  read by compacted fetches;
- ``ledger-<LLLLLLLL>.pts`` — the publish time in µs (``null`` =
  unstamped), read by timestamp seeks.

One read per ledger: every method derives its answer from one scan that
reads each ledger file (and, when asked, one sidecar) exactly once, so
an offset can never point past the bytes it was read from, even while a
writer appends. Lines are split on ``b"\n"`` only, and an unterminated
last line is an append still in flight: it stays invisible until its
newline lands.

Semantics replicated from the reference consumer
(`SRC/PulsarPartitionLevelConsumer.java`):

- fetch returns the first message with ``offset >= start`` (broker-side
  seek semantics, comment :108-110) — start offsets pointing into a
  rollover gap are legal;
- ``start == -1`` means earliest (:112-115);
- batch admission: at most ``max_msgs`` messages and ``max_bytes``
  cumulative payload bytes per fetch (BatchReceivePolicy :69-73,
  defaults 500 / 10 MiB, PulsarPartitionLevelStreamConfig.java:36-40);
- cumulative ack is advisory only — progress truth lives with the
  engine (NonDurable subscription :66, "anyway it's pinot that choose
  the cursor" :157); here acks land in a sidecar file, best-effort.
"""

from __future__ import annotations

import json
import os
import re
from bisect import bisect_left
from dataclasses import dataclass
from itertools import islice
from operator import itemgetter

from pinot_pulsar_plugin_spark.sources.offsets import (
    EARLIEST_OFFSET,
    encode_offset,
)

DEFAULT_MAX_MSGS = 500  # consumer.maxMsgs default, StreamConfig:38
DEFAULT_MAX_BYTES = 10 * 1024 * 1024  # consumer.maxBytes default, StreamConfig:36

_LEDGER_RE = re.compile(r"ledger-(\d+)\.jsonl$")
_PART_RE = re.compile(r"partition-(\d+)$")
# \n is the ledger delimiter; the other bytes are rejected too so ledgers
# stay safe even for tools that split with splitlines()
LINE_BOUNDARY = re.compile(rb"[\n\r\x0b\x0c\x1c\x1d\x1e]")
# value of every entry of a ledger whose sidecar is missing or misaligned
_UNALIGNED = object()


def _lines(path: str) -> list[bytes]:
    """The complete lines of a ledger or sidecar file, from one read.
    Splits on b"\n" only: splitlines() would also split on \r, \v, \f
    and \x1c-\x1e and misalign entries for payloads holding those
    bytes. The last piece is dropped: it is empty after the trailing
    newline, or an append whose newline has not landed yet."""
    with open(path, "rb") as fh:
        lines = fh.read().split(b"\n")
    lines.pop()
    return lines


def _is_key(key: object) -> bool:
    return key is not None and key is not _UNALIGNED


def _next_position(msgs: list) -> int:
    return msgs[-1][0] + 1 if msgs else 0


@dataclass(frozen=True)
class FetchedMessage:
    offset: int
    payload: bytes

    @property
    def next_offset(self) -> int:  # MessageAndOffset.java:46-48
        return self.offset + 1


class FakePulsarBroker:
    def __init__(self, root: str):
        self.root = root

    # ---- topology (metadata provider parity) ----

    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)

    def partition_count(self, topic: str) -> int:
        """# partitions (PulsarStreamMetadataProvider.java:51-58 —
        returns 0 on failure rather than raising)."""
        try:
            return len(
                [d for d in os.listdir(self._topic_dir(topic)) if _PART_RE.search(d)]
            )
        except OSError:
            return 0

    def _partition_dir(self, topic: str, partition: int) -> str:
        # consumed by name "<topic>-partition-<N>" in the reference
        # (PulsarPartitionLevelConsumer.java:58)
        return os.path.join(self._topic_dir(topic), f"partition-{partition}")

    def _ledgers(self, topic: str, partition: int) -> list[int]:
        pdir = self._partition_dir(topic, partition)
        out = []
        try:
            for f in os.listdir(pdir):
                m = _LEDGER_RE.search(f)
                if m:
                    out.append(int(m.group(1)))
        except OSError:
            return []
        return sorted(out)

    def _scan(
        self, topic: str, partition: int, sidecar: str | None = None
    ) -> list[tuple[int, bytes, object]]:
        """Sorted ``(offset, payload, value)`` for every message of a
        partition, from ONE read of each ledger.

        ``value`` comes from the ledger's ``sidecar`` (``"keys"`` or
        ``"pts"``), one JSON value per line aligned with the ledger's
        entries, or is None when no sidecar is asked for. A missing
        sidecar, or one whose line count differs from its ledger's
        (truncated, partially written or tampered with), would silently
        shift the value→offset alignment, so every entry of that ledger
        gets ``_UNALIGNED`` instead (ADVICE r2, ADVICE r6 #3).

        Sorted by offset, not by ledger id, so ledger ids that wrap the
        i64 codec keep the order every other method sees."""
        pdir = self._partition_dir(topic, partition)
        out: list[tuple[int, bytes, object]] = []
        for ledger in self._ledgers(topic, partition):
            stem = os.path.join(pdir, f"ledger-{ledger:08d}")
            payloads = _lines(stem + ".jsonl")
            values: list = [None] * len(payloads)
            if sidecar is not None:
                try:
                    raw = _lines(f"{stem}.{sidecar}")
                except OSError:
                    raw = None
                if raw is not None and len(raw) == len(payloads):
                    values = [json.loads(v) for v in raw]
                else:
                    values = [_UNALIGNED] * len(payloads)
            for entry, (payload, value) in enumerate(zip(payloads, values)):
                out.append((encode_offset(ledger, entry), payload, value))
        out.sort(key=itemgetter(0))
        return out

    def earliest_offset(self, topic: str, partition: int) -> int:
        """Offset of the first message (≡ MessageId.earliest resolution,
        PulsarStreamMetadataProvider.java:72-74)."""
        msgs = self._scan(topic, partition)
        return msgs[0][0] if msgs else 0

    def latest_offset(self, topic: str, partition: int) -> int:
        """One past the last message — the next position a new message
        would take (≡ MessageId.latest, provider:70-71)."""
        return _next_position(self._scan(topic, partition))

    # ---- data plane (partition consumer parity) ----

    def first_offset_at_or_after(self, topic: str, partition: int, ts_us: int) -> int:
        """Publish-time seek: the offset of the first message with
        publish_ts >= ``ts_us`` — ``Consumer.seek(long timestamp)`` /
        Kafka ``startingTimestamp`` semantics. Deliberately unstamped
        messages (explicit ``null`` in an aligned sidecar) are treated
        as published at -inf: they predate every seek target, so a
        timestamp seek starts after them. Offsets whose sidecar is
        missing or misaligned are UNTRUSTED and qualify unconditionally
        — the seek lands at or before them (at-least-once, the same
        never-skip direction as the real client's millisecond-floored
        seek), never past them: TopicWriter always writes a .pts line
        per entry, so a misaligned sidecar means NOTHING in that ledger
        has a trustworthy publish time, and treating it as unstamped
        would skip its data (VERDICT r7 #4). If nothing qualifies,
        returns ``latest_offset`` (the position the next published
        message would take — seek-to-future lands at the live edge).
        Publish times are monotonic per partition (the Pulsar broker
        stamps them in append order), so the first qualifying offset in
        offset order is THE boundary."""
        msgs = self._scan(topic, partition, "pts")
        for off, _, ts in msgs:
            if ts is _UNALIGNED or (ts is not None and ts >= ts_us):
                return off
        return _next_position(msgs)

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
        """Bounded batch fetch from ``start_offset`` (gap-tolerant).

        Mirrors fetchMessages (consumer:88-166) with one deliberate
        improvement: a bounded ``end_offset`` (exclusive) is honored —
        the reference rejects bounded reads (:94-98) because Pulsar's
        reader API predates them; Spark micro-batches are bounded by
        construction, and the offset codec makes ranges well-defined.

        ``compacted=True`` serves the compacted view — the latest
        message per key, unkeyed messages untouched — matching the
        reference's source-level ``readCompacted(true)`` subscription
        (PulsarPartitionLevelConsumer.java:68). Offsets are unchanged;
        superseded messages are simply not delivered. Entries of a
        ledger whose ``.keys`` sidecar is unaligned count as unkeyed.
        """
        msgs = self._scan(topic, partition, "keys" if compacted else None)
        latest: dict = {}  # key -> its highest offset (msgs is sorted)
        for off, _, key in msgs:
            if _is_key(key):
                latest[key] = off
        if start_offset == EARLIEST_OFFSET:
            pos = 0
        else:  # first msg offset >= start
            pos = bisect_left(msgs, start_offset, key=itemgetter(0))
        out: list[FetchedMessage] = []
        nbytes = 0
        for offset, payload, key in islice(msgs, pos, None):
            if len(out) >= max_msgs or (end_offset is not None and offset >= end_offset):
                break
            if _is_key(key) and latest[key] != offset:
                continue  # superseded by a later message with this key
            if out and nbytes + len(payload) > max_bytes:
                break
            out.append(FetchedMessage(offset, payload))
            nbytes += len(payload)
        return out

    def acknowledge_cumulative(self, topic: str, partition: int, offset: int) -> bool:
        """Best-effort cumulative ack (consumer:154-162 — failures are
        logged and tolerated; the engine's checkpoint owns progress).

        Monotonic: a cumulative ack can only move forward, like Pulsar's
        broker-side cursor — a late/replayed ack for an older offset
        never regresses the recorded position.
        """
        try:
            prev = self.acked_through(topic, partition)
            if prev is not None and prev > offset:
                return True
            path = os.path.join(self._partition_dir(topic, partition), "_acks.json")
            with open(path, "w") as fh:
                json.dump({"acked_through": offset}, fh)
            return True
        except OSError:
            return False

    def acked_through(self, topic: str, partition: int) -> int | None:
        """Last cumulatively-acked offset, or None if never acked /
        unreadable. Advisory only (NonDurable subscription): the engine
        uses it to recover its admission cursor after a restart, never
        as the source of truth for what was read."""
        try:
            path = os.path.join(self._partition_dir(topic, partition), "_acks.json")
            with open(path) as fh:
                return int(json.load(fh)["acked_through"])
        except (OSError, ValueError, KeyError, TypeError):
            return None


class TopicWriter:
    """Test/fixture helper: append messages to a topic, with explicit
    ledger rollover so fixtures contain real offset gaps."""

    def __init__(self, root: str, topic: str, partitions: int, rollover_every: int = 1000):
        self.root = root
        self.topic = topic
        self.partitions = partitions
        self.rollover_every = rollover_every
        self._state: dict[int, tuple[int, int]] = {}  # partition -> (ledger, entry)
        for p in range(partitions):
            os.makedirs(os.path.join(root, topic, f"partition-{p}"), exist_ok=True)
            self._state[p] = (0, 0)

    def set_ledger(self, partition: int, ledger: int) -> None:
        """Force a rollover to a specific ledger id (creates a gap)."""
        self._state[partition] = (ledger, 0)

    def append(
        self,
        partition: int,
        payload: bytes | str,
        key: str | None = None,
        publish_ts: int | None = None,
    ) -> int:
        """Write one message; returns its encoded offset. ``key`` is the
        Pulsar message key (drives compaction); a ``.keys`` sidecar line
        is written per entry so the broker can serve compacted reads.
        ``publish_ts`` (µs) is the broker publish time backing
        timestamp seeks (``.pts`` sidecar); None = unstamped (treated
        as predating every seek target)."""
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        if LINE_BOUNDARY.search(payload):
            raise ValueError(
                "jsonl fake broker: payload may not contain line-boundary bytes"
            )
        ledger, entry = self._state[partition]
        if entry >= self.rollover_every:
            ledger, entry = ledger + 1, 0
        path = os.path.join(
            self.root, self.topic, f"partition-{partition}", f"ledger-{ledger:08d}.jsonl"
        )
        with open(path, "ab") as fh:
            fh.write(payload + b"\n")
        with open(path[: -len(".jsonl")] + ".keys", "ab") as fh:
            fh.write(json.dumps(key).encode("utf-8") + b"\n")
        with open(path[: -len(".jsonl")] + ".pts", "ab") as fh:
            fh.write(json.dumps(publish_ts).encode("utf-8") + b"\n")
        self._state[partition] = (ledger, entry + 1)
        return encode_offset(ledger, entry)
