"""``pulsarlike`` — Spark 4 Python DataSource with the reference
plugin's ingestion semantics (SURVEY.md §2.A rows 1-11).

Shape of the mapping (SURVEY.md §3):

- EP1 partition discovery  → ``partitions()`` cardinality
  (PulsarStreamMetadataProvider.java:51-58)
- EP2 offset resolution    → ``initialOffset()`` (earliest ≡ the
  Earliest-position subscription, PulsarPartitionLevelConsumer.java:64)
- EP3 fetch loop           → Spark's micro-batch cycle, with the
  reference's one read per message (fetchMessages returns the batch its
  batchReceive just read, consumer:88-166): ``PulsarLikePrefetchReader``
  is the reader Spark calls. Its ``read(start)`` runs the admission
  fetch (≈ BatchReceivePolicy maxMsgs/maxBytes, consumer:69-73) on the
  driver and returns the admitted messages with the end offset; Spark
  sends them to the JVM while it plans the micro-batch, and the executor
  task reads that cached block, with no Python worker. Restart replays
  and cache misses go through ``readBetweenOffsets(start, end)``, which
  plans one range per topic partition (consumer:58 — partitions are
  fully independent) and reads them with ``_read_range``. ``commit(end)``
  issues the best-effort cumulative ack (consumer:154-162) while real
  progress lives in Spark's checkpoint WAL — exactly the reference's
  NonDurable-subscription design ("anyway it's pinot that choose the
  cursor", consumer:157). ``PulsarLikeStreamReader`` holds the offset
  protocol (cursor, admission, planning, ack) that the prefetch reader
  delegates to. A ``compacted`` source is the exception: its fetch
  scans the whole partition, so Spark reads it through
  ``PulsarLikeStreamReader`` itself, one executor task per topic
  partition (≈ batchReceive + wrap, consumer:136-147), in parallel.

Output rows are ``(value: binary, offset: long, partition: int)`` — the
wire shape of MessageAndOffset (MessageAndOffset.java:26-27) inside a
PulsarMessageBatch (PulsarMessageBatch.java:38-60).

Deliberate improvements over the reference, enabled by Spark's model:
- bounded end offsets are honored (the reference returns an empty batch
  and logs an error, consumer:94-98);
- replay after restart is exact (checkpointed offset ranges) instead of
  at-least-once-with-dupes.

Restart behavior: the reader recovers its admission cursor from the
commit-time ack sidecar (its own monotonic high-water mark), so after a
restart admission resumes offering cap-sized batches FROM the
committed position — it can never offer an offset behind the
checkpoint, even when the backlog exceeds maxMsgs/maxBytes.
``partitions()`` additionally snaps the cursor to every planned range
and clamps ranges to start <= end, covering stale/failed ack writes.

Memory: Spark's prefetch cache in the driver's Python source process
holds the admitted messages of each batch until it commits a later
batch, at most partitions × ``maxBytes`` per batch — bytes that
admission has already read on the driver. Messages cross to the JVM
once, from the driver, instead of being read again by one executor task
per topic partition. A batch that starts behind the ack-recovered
cursor is cached as offset ranges, read only if Spark plans that very
batch: the first offer after a restart starts at ``initialOffset`` and
is never planned, so it reads nothing beyond admission. The first batch
of a fresh checkpoint over an acked topic is planned, and the driver
reads it whole — everything up to the ack plus one cap — while
planning.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from itertools import chain

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from pinot_pulsar_plugin_spark.sources.fakebroker import (
    DEFAULT_MAX_BYTES,
    DEFAULT_MAX_MSGS,
    LINE_BOUNDARY,
    FakePulsarBroker,
)
from pinot_pulsar_plugin_spark.sources.offsets import EARLIEST_OFFSET

SCHEMA = "value binary, offset bigint, partition int"


@dataclass
class _Range(InputPartition):
    root: str
    topic: str
    partition: int
    start: int
    end: int  # exclusive
    compacted: bool = False


def _arrow_batch(msgs: Sequence, partition: int):
    """One fetch as one ``pyarrow.RecordBatch`` of ``SCHEMA`` — the
    PulsarMessageBatch container (PulsarMessageBatch.java:38-60)
    re-expressed as a columnar batch."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([m.payload for m in msgs], pa.binary()),
            pa.array([m.offset for m in msgs], pa.int64()),
            pa.array([partition] * len(msgs), pa.int32()),
        ],
        names=["value", "offset", "partition"],
    )


def _read_range(rng: _Range) -> Iterator:
    """Scan of one partition's offset range. Loops the bounded fetch
    (the reference's one-batchReceive-per-call shape, consumer:136)
    until the range is exhausted. With ``compacted`` the fetch serves
    the compacted view (latest message per key), matching the
    reference's readCompacted(true) subscription (consumer:68) — offset
    PLANNING stays on raw offsets; compaction only affects which
    messages are delivered.

    Yields one ``pyarrow.RecordBatch`` per fetch (the Python DataSource
    vectorized path): the whole micro-fetch crosses the Python→JVM
    boundary as one Arrow batch instead of N pickled tuples."""
    broker = FakePulsarBroker(rng.root)
    pos = rng.start
    while pos < rng.end:
        batch = broker.fetch(
            rng.topic, rng.partition, pos, end_offset=rng.end, compacted=rng.compacted
        )
        if not batch:
            break
        yield _arrow_batch(batch, rng.partition)
        pos = batch[-1].next_offset


# The reference namespaces its config under "stream.pulsar." with
# camelCase leaf keys (PulsarPartitionLevelStreamConfig.java:34-41:
# stream.pulsar.broker.list / consumer.maxMsgs / consumer.maxBytes /
# consumer.timeout). Spark lowercases DataSource option keys, so a user
# porting a reference config can pass those keys verbatim — each short
# option name below also resolves through its reference-key aliases.
_OPTION_ALIASES: dict[str, tuple[str, ...]] = {
    "path": ("path", "broker.list", "stream.pulsar.broker.list"),
    "topic": ("topic", "topic.name", "stream.pulsar.topic.name"),
    "maxmsgs": ("maxmsgs", "consumer.maxmsgs", "stream.pulsar.consumer.maxmsgs"),
    "maxbytes": ("maxbytes", "consumer.maxbytes", "stream.pulsar.consumer.maxbytes"),
    "timeout": ("timeout", "consumer.timeout", "stream.pulsar.consumer.timeout"),
    "compacted": ("compacted", "readcompacted", "stream.pulsar.readcompacted"),
    "startingtimestamp": ("startingtimestamp", "stream.pulsar.startingtimestamp"),
    "endingtimestamp": ("endingtimestamp", "stream.pulsar.endingtimestamp"),
}


def _lookup(options: dict, key: str):
    for alias in _OPTION_ALIASES.get(key, (key,)):
        if alias in options:
            return options[alias]
    return None


def int_option(options: dict, key: str, default: int) -> int:
    """Int option with fallback-to-default on missing OR unparsable
    values — the reference's config-parse semantics
    (PulsarPartitionLevelStreamConfig.java:97-107:
    ``getIntConfigWithDefault`` swallows the parse exception).
    Reference-namespaced aliases accepted (see ``_OPTION_ALIASES``)."""
    raw = _lookup(options, key)
    if raw is None:
        return default
    try:
        return int(raw)
    except (TypeError, ValueError):
        return default


def bool_option(options: dict, key: str, default: bool = False) -> bool:
    """Bool option with the same fallback-to-default-on-garbage
    semantics as :func:`int_option`."""
    raw = _lookup(options, key)
    if raw is None:
        return default
    s = str(raw).strip().lower()
    if s in ("true", "1", "yes"):
        return True
    if s in ("false", "0", "no"):
        return False
    return default


def offsets_option(options: dict, key: str) -> dict[str, int] | None:
    """Kafka-source-style explicit offsets: either a scalar applied to
    every partition (``"7"``) or a JSON object keyed by partition
    (``'{"0": 5, "1": 3}'``). Returns None when absent; raises on
    garbage — unlike the fallback-to-default int_option semantics, a
    mistyped EXPLICIT offset must fail loudly (silently reading the
    whole topic instead of a bounded range would duplicate a backfill)."""
    raw = _lookup(options, key)
    if raw is None:
        return None
    import json as _json

    try:
        val = _json.loads(raw)
    except (TypeError, ValueError) as exc:
        raise ValueError(f"pulsarlike: bad {key!r} value {raw!r}") from exc
    if isinstance(val, int):
        return {"*": val}
    if isinstance(val, dict) and all(
        isinstance(v, int) for v in val.values()
    ):
        return {str(k): v for k, v in val.items()}
    raise ValueError(f"pulsarlike: bad {key!r} value {raw!r}")


def _offset_for(given: dict[str, int] | None, p: int) -> int | None:
    if given is None:
        return None
    return given.get(str(p), given.get("*"))


def _start_offset(
    broker: FakePulsarBroker, topic: str, p: int, starting: dict[str, int] | None
) -> int:
    """Earliest, moved forward to an explicit starting offset (never
    back: a start before earliest reads from earliest)."""
    pos = broker.earliest_offset(topic, p)
    given = _offset_for(starting, p)
    return pos if given is None else max(pos, given)


def ts_option(options: dict, key: str) -> int | None:
    """Publish-timestamp option (µs): Pulsar ``Consumer.seek(long)`` /
    Kafka ``startingTimestamp`` parity. Like offsets_option, garbage
    raises — a mistyped EXPLICIT seek target silently reading the whole
    topic would duplicate a backfill."""
    raw = _lookup(options, key)
    if raw is None:
        return None
    try:
        return int(raw)
    except (TypeError, ValueError) as exc:
        raise ValueError(f"pulsarlike: bad {key!r} value {raw!r}") from exc


def _resolve_ts_offsets(
    broker: FakePulsarBroker, topic: str, n_parts: int, ts_us: int
) -> dict[str, int]:
    """Per-partition offsets of the first message published at/after
    ``ts_us`` (the broker's publish-time seek)."""
    return {
        str(p): broker.first_offset_at_or_after(topic, p, ts_us)
        for p in range(n_parts)
    }


def _required_path(options: dict) -> str:
    """Broker root; missing ⇒ raise, the reference's required-config
    check for broker.list (PulsarPartitionLevelStreamConfig.java:73-74)."""
    root = _lookup(options, "path")
    if root is None:
        raise ValueError(
            "pulsarlike: 'path' option is required "
            "(alias: stream.pulsar.broker.list)"
        )
    return root


class PulsarLikeStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        # Ending bounds are a batch-only concept: a stream is unbounded
        # by definition, and the Kafka source this option surface
        # mirrors REJECTS endingOffsets/endingTimestamp on streaming
        # queries rather than silently ignoring them. Accepting-and-
        # ignoring here would hand a user who asked for a bounded
        # window an unbounded stream with no warning — the exact
        # silent-misconfig class ts_option's garbage-raises rule
        # exists to prevent (ADVICE r6).
        for bounded_only in ("endingoffsets", "endingtimestamp"):
            if _lookup(options, bounded_only) is not None:
                raise ValueError(
                    f"option {bounded_only!r} is not supported on streaming "
                    "reads (streams are unbounded); use spark.read (batch) "
                    "for a bounded range, like the Kafka source"
                )
        self.root = _required_path(options)
        self.topic = _lookup(options, "topic") or "topic"
        self.max_msgs = int_option(options, "maxmsgs", DEFAULT_MAX_MSGS)
        self.max_bytes = int_option(options, "maxbytes", DEFAULT_MAX_BYTES)
        # readCompacted(true) analog at the source level (consumer:68):
        # executors deliver only the latest message per key
        self.compacted = bool_option(options, "compacted", False)
        # Kafka-style startingOffsets: begin the subscription at an
        # explicit position instead of earliest — the batch-backfill →
        # stream handoff point (backfill reads [earliest, E) bounded,
        # the stream starts at E; no overlap, no gap). Clamped to >=
        # earliest; the checkpoint still owns the cursor on restart.
        self.starting = offsets_option(options, "startingoffsets")
        self.broker = FakePulsarBroker(self.root)
        self.n_parts = self.broker.partition_count(self.topic)
        if self.n_parts == 0:
            raise ValueError(f"topic {self.topic!r} has no partitions under {self.root}")
        # Publish-time seek (Consumer.seek(long ts) / Kafka
        # startingTimestamp): resolved ONCE at subscription time into
        # per-partition offsets and then handled by the exact same
        # startingoffsets machinery (cursor init, initialOffset,
        # restart clamping). Explicit startingoffsets wins if both are
        # given — an offset is a more specific seek than a timestamp.
        start_ts = ts_option(options, "startingtimestamp")
        if self.starting is None and start_ts is not None:
            self.starting = _resolve_ts_offsets(
                self.broker, self.topic, self.n_parts, start_ts
            )
        # Cursor for admission planning. Spark calls latestOffset()
        # before initialOffset() on a fresh query, so it must be valid
        # from construction. Recovery order:
        #   1. the commit-time ack sidecar (the reader's own high-water
        #      mark, written monotonically on every commit()) — after a
        #      restart the first offer starts AT the committed position,
        #      so latestOffset() can never offer an offset behind the
        #      checkpoint even when the backlog exceeds the admission
        #      cap (a regressed offer would be recorded by Spark as the
        #      next batch end and re-read committed ranges: duplicates);
        #   2. earliest (the subscription's Earliest position,
        #      consumer:64) when no ack exists.
        # partitions(start, end) additionally snaps the cursor to the
        # planned range, covering stale/failed ack writes (acks are
        # best-effort, consumer:160-161). For a FRESH query an existing
        # ack only enlarges the first batch (initialOffset is still
        # earliest) — never skips data.
        self._current: dict[str, int] = {}
        for p in range(self.n_parts):
            pos = _start_offset(self.broker, self.topic, p, self.starting)
            acked = self.broker.acked_through(self.topic, p)
            if acked is not None:
                pos = max(pos, acked + 1)
            self._current[str(p)] = pos

    # EP2: OffsetCriteria.smallest → earliest (provider:72-74); the
    # subscription itself starts Earliest (consumer:64).
    def initialOffset(self) -> dict:
        return {
            str(p): _start_offset(self.broker, self.topic, p, self.starting)
            for p in range(self.n_parts)
        }

    def _admit(self) -> tuple[dict, dict]:
        """Admission from the cursor: the capped end offset of every
        partition and the messages fetched to find it."""
        out, fetched = {}, {}
        for p in range(self.n_parts):
            cur = self._current[str(p)]
            batch = self.broker.fetch(
                self.topic, p, cur, max_msgs=self.max_msgs, max_bytes=self.max_bytes
            )
            out[str(p)] = batch[-1].next_offset if batch else cur
            fetched[str(p)] = batch
        # self-advance: bounds the next offer even if Spark skips
        # planning this range (restart ramp-up; see __init__ note)
        self._current = dict(out)
        return out, fetched

    def latestOffset(self) -> dict:
        return self._admit()[0]

    def _admit_from(self, start: dict) -> tuple[dict, dict, set]:
        """Admission for a batch that Spark starts at ``start``: the
        cursor is first moved up to ``start`` (never admit behind it,
        e.g. for a replayed batch the ack sidecar does not cover yet).
        Returns the end offsets, the fetched messages and the partitions
        whose cursor was already ahead of ``start`` — for those the
        fetched messages do not begin at ``start``."""
        ahead = set()
        for p, s in start.items():
            cur = self._current.get(p, EARLIEST_OFFSET)
            if cur > int(s):
                ahead.add(p)
            self._current[p] = max(cur, int(s))
        end, fetched = self._admit()
        return end, fetched, ahead

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # Planning tells us the engine's cursor — keep it (restart
        # path). Max over BOTH ends of the planned range so the cursor
        # never regresses even if a stale offer got recorded; clamp each
        # planned range to start <= end so a regressed range reads
        # nothing instead of reading garbage.
        cur = dict(self._current or {})
        for p in set(start) | set(end):
            s = int(start.get(p, EARLIEST_OFFSET))
            e = int(end.get(p, EARLIEST_OFFSET))
            cur[p] = max(cur.get(p, EARLIEST_OFFSET), s, e)
        self._current = cur
        return [
            _Range(
                self.root, self.topic, int(p), int(start[p]),
                max(int(start[p]), int(end[p])),
                compacted=self.compacted,
            )
            for p in start
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        return _read_range(partition)

    def commit(self, end: dict) -> None:
        # Best-effort cumulative ack; failures tolerated (consumer:154-162).
        for p, off in end.items():
            try:
                self.broker.acknowledge_cumulative(self.topic, int(p), int(off) - 1)
            except Exception:
                pass

    def stop(self) -> None:  # connection lifecycle (connhandler:57-63)
        pass


class _Prefetched:
    """The rows that ``PulsarLikePrefetchReader.read`` returns: admitted
    Arrow batches, already in memory, and ``_Range`` s that are read
    only when iterated. Spark keeps it in its prefetch cache and
    iterates a ``copy.copy`` of it only when the planned batch starts
    where it does; any other planned batch is read by
    ``readBetweenOffsets``. So a range that is never planned as this
    batch — the first offer after a restart starts at ``initialOffset``
    behind the committed position — is never read on the driver."""

    def __init__(self, parts: list):
        self.parts = parts
        self._rows: Iterator | None = None

    def __copy__(self) -> "_Prefetched":
        return _Prefetched(self.parts)

    def __iter__(self) -> "_Prefetched":
        return self

    def __next__(self):
        if self._rows is None:
            self._rows = chain.from_iterable(
                _read_range(p) if isinstance(p, _Range) else (p,) for p in self.parts
            )
        return next(self._rows)


class PulsarLikePrefetchReader(SimpleDataSourceStreamReader):
    """The stream reader Spark calls for a source that is not
    compacted: admission and read in one fetch, like the reference's
    fetchMessages, which returns the batch its batchReceive just read
    (consumer:88-166).

    ``read(start)`` runs :class:`PulsarLikeStreamReader`'s admission and
    returns the admitted messages as Arrow batches with the end offset.
    Spark sends them to the JVM while it plans the micro-batch, so the
    executor task reads a cached block and starts no Python worker.
    ``readBetweenOffsets`` serves restart replays and cache misses."""

    def __init__(self, options: dict):
        self.stream = PulsarLikeStreamReader(options)

    def initialOffset(self) -> dict:
        return self.stream.initialOffset()

    def read(self, start: dict) -> tuple[Iterator, dict]:
        end, fetched, ahead = self.stream._admit_from(start)
        parts: list = []
        for rng in self.stream.partitions(start, end):
            p = str(rng.partition)
            # The admitted messages are exactly [start, end) only when
            # admission began at start and delivers raw offsets. An
            # ack-recovered cursor ahead of start (a fresh checkpoint
            # over an acked topic, or the first offer after a restart)
            # or a compacted view leaves the range to be read when Spark
            # iterates the batch. (Spark reads compacted sources through
            # PulsarLikeStreamReader; see PulsarLikeDataSource.)
            if rng.compacted or p in ahead:
                parts.append(rng)
            elif fetched[p]:
                parts.append(_arrow_batch(fetched[p], rng.partition))
        return _Prefetched(parts), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        for rng in self.stream.partitions(start, end):
            yield from _read_range(rng)

    def commit(self, end: dict) -> None:
        self.stream.commit(end)


class PulsarLikeBatchReader(DataSourceReader):
    """Bounded scan of the whole topic (earliest→latest at plan time) —
    the capability the reference explicitly lacks (consumer:94-98)."""

    def __init__(self, options: dict):
        self.root = _required_path(options)
        self.topic = _lookup(options, "topic") or "topic"
        self.compacted = bool_option(options, "compacted", False)
        # Kafka-style startingOffsets/endingOffsets (end EXCLUSIVE,
        # matching the range's half-open [start, end)): a bounded
        # backfill reads exactly [earliest|given, given_end) so the
        # streaming half of a backfill+stream handoff can start at
        # given_end with no overlap. Clamped into [earliest, latest];
        # an inverted range reads nothing.
        self.starting = offsets_option(options, "startingoffsets")
        self.ending = offsets_option(options, "endingoffsets")
        self.broker = FakePulsarBroker(self.root)
        # Publish-time bounds (see the stream reader note): resolved to
        # offsets once at plan time; the end bound stays EXCLUSIVE —
        # [first >= start_ts, first >= end_ts) reads exactly the
        # messages published in [start_ts, end_ts). Explicit offsets
        # win over timestamps on the same side.
        n_for_ts = self.broker.partition_count(self.topic)
        start_ts = ts_option(options, "startingtimestamp")
        if self.starting is None and start_ts is not None:
            self.starting = _resolve_ts_offsets(
                self.broker, self.topic, n_for_ts, start_ts
            )
        end_ts = ts_option(options, "endingtimestamp")
        if self.ending is None and end_ts is not None:
            self.ending = _resolve_ts_offsets(
                self.broker, self.topic, n_for_ts, end_ts
            )

    def partitions(self) -> Sequence[InputPartition]:
        n = self.broker.partition_count(self.topic)
        out = []
        for p in range(n):
            start = _start_offset(self.broker, self.topic, p, self.starting)
            end = self.broker.latest_offset(self.topic, p)
            given_e = _offset_for(self.ending, p)
            if given_e is not None:
                end = min(end, given_e)
            out.append(
                _Range(
                    self.root,
                    self.topic,
                    p,
                    start,
                    max(start, end),
                    compacted=self.compacted,
                )
            )
        return out

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        return _read_range(partition)


@dataclass
class _LedgerCommit(WriterCommitMessage):
    """Per-task commit message: the staged .tmp ledger files this task
    wrote (finalized by rename on driver-side commit)."""

    tmp_paths: tuple = ()


def _stage_task_rows(
    root: str, topic: str, n_parts: int, base_ledger: int, iterator
) -> _LedgerCommit:
    """Executor-side staging shared by the batch and stream writers:
    this task's rows land in its OWN ledger files (ledger id = base +
    taskAttemptId — parallel writer tasks never touch the same file),
    suffixed ``.tmp`` so readers can't see them until driver commit."""
    import json as _json

    from pyspark import TaskContext

    ledger = base_ledger + int(TaskContext.get().taskAttemptId())
    handles: dict[int, tuple] = {}
    tmp_paths: list[str] = []
    try:
        for row in iterator:
            payload = bytes(row["value"])
            part = (int(row["partition"]) if "partition" in row else 0) % n_parts
            key = row["key"] if "key" in row else None
            if part not in handles:
                pdir = os.path.join(root, topic, f"partition-{part}")
                os.makedirs(pdir, exist_ok=True)
                stem = os.path.join(pdir, f"ledger-{ledger:08d}")
                lf = open(stem + ".jsonl.tmp", "wb")
                kf = open(stem + ".keys.tmp", "wb")
                handles[part] = (lf, kf)
                tmp_paths += [stem + ".jsonl.tmp", stem + ".keys.tmp"]
            if LINE_BOUNDARY.search(payload):
                raise ValueError("payload may not contain line-boundary bytes")
            lf, kf = handles[part]
            lf.write(payload + b"\n")
            kf.write(_json.dumps(key).encode("utf-8") + b"\n")
    finally:
        for lf, kf in handles.values():
            lf.close()
            kf.close()
    return _LedgerCommit(tmp_paths=tuple(tmp_paths))


def _next_ledger(root: str, topic: str, n_parts: int) -> int:
    """First ledger id past every existing ledger of the topic. Writer
    task ledgers (base + taskAttemptId) start here, so a write never
    touches an existing ledger."""
    broker = FakePulsarBroker(root)
    existing = 0
    for p in range(max(n_parts, broker.partition_count(topic))):
        led = broker._ledgers(topic, p)
        if led:
            existing = max(existing, led[-1] + 1)
    return existing


def _finalize_staged(messages) -> None:
    for m in messages:
        if m is None:
            continue
        for tmp in m.tmp_paths:
            os.replace(tmp, tmp[: -len(".tmp")])


def _discard_staged(messages) -> None:
    for m in messages:
        if m is None:
            continue
        for tmp in m.tmp_paths:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass


class PulsarLikeBatchWriter(DataSourceWriter):
    """Native batch producer — full-duplex completion of the custom
    DataSource (the reference plugin is consume-only; Pulsar itself is
    of course written by producers, so round-trips need this side).

    Two-phase commit on the shared broker store: each task appends its
    rows into its OWN ledger files staged as ``*.jsonl.tmp`` /
    ``*.keys.tmp`` (ledger id = base + taskAttemptId — writer tasks
    never contend on a file, which is what makes the write
    embarrassingly parallel), the driver's ``commit`` renames every
    staged file to its final name, and ``abort`` deletes them. Readers
    match only ``ledger-*.jsonl``, so a failed job leaves nothing
    visible — all-or-nothing visibility without any lock.

    Input rows: ``value binary`` (required), ``partition int``
    (optional, defaults 0), ``key string`` (optional, drives
    compaction sidecars)."""

    def __init__(self, options: dict):
        self.root = _required_path(options)
        self.topic = _lookup(options, "topic") or "topic"
        self.n_parts = max(1, int_option(options, "partitions", 1))
        self.base_ledger = _next_ledger(self.root, self.topic, self.n_parts)

    def write(self, iterator) -> _LedgerCommit:
        return _stage_task_rows(self.root, self.topic, self.n_parts, self.base_ledger, iterator)

    def commit(self, messages) -> None:
        _finalize_staged(messages)

    def abort(self, messages) -> None:
        _discard_staged(messages)


class PulsarLikeStreamWriter(DataSourceStreamWriter):
    """Streaming producer: every micro-batch stages its task ledgers and
    the driver renames them visible at batch commit — so a topic can be
    both the source AND the sink of structured streams (topic→transform→
    topic round-trips). Semantics are at-least-once like a real Pulsar
    producer: a batch replayed after a commit-then-crash appends again;
    exactly-once landing belongs to the keyed/idempotent sinks
    (streaming/sinks.py), not the log."""

    def __init__(self, options: dict):
        self.root = _required_path(options)
        self.topic = _lookup(options, "topic") or "topic"
        self.n_parts = max(1, int_option(options, "partitions", 1))
        self.base_ledger = _next_ledger(self.root, self.topic, self.n_parts)

    def write(self, iterator) -> _LedgerCommit:
        return _stage_task_rows(
            self.root, self.topic, self.n_parts, self.base_ledger, iterator
        )

    def commit(self, messages, batchId: int) -> None:
        _finalize_staged(messages)

    def abort(self, messages, batchId: int) -> None:
        _discard_staged(messages)


class PulsarLikeDataSource(DataSource):
    """Factory vending batch/stream readers and the batch/stream
    writers — the PulsarConsumerFactory analog
    (PulsarConsumerFactory.java:35-68; like it, there is no
    "stream-level" consumer: only partition-level)."""

    @classmethod
    def name(cls) -> str:
        return "pulsarlike"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return PulsarLikeBatchReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise ValueError(
                "pulsarlike topics are append-only logs: use mode('append')"
            )
        return PulsarLikeBatchWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        return PulsarLikeStreamWriter(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        """Only a compacted view keeps one executor read task per topic
        partition: its fetch scans the whole partition, so reading it on
        the driver would serialize what those tasks do in parallel. Any
        other source raises here, which makes Spark take the prefetch
        path through ``simpleStreamReader``."""
        if bool_option(self.options, "compacted", False):
            return PulsarLikeStreamReader(self.options)
        return super().streamReader(schema)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return PulsarLikePrefetchReader(self.options)


def _ship_package(spark) -> None:
    """Make the package importable in Spark's Python workers (the
    DataSource class is unpickled there by reference). On a real cluster
    the package would be pip-installed on executors; ``addPyFile`` of a
    package zip is the self-contained equivalent and also covers the
    driver-side planning workers.

    The zip is named by a hash of the package's ``.py`` bytes, so a
    process never ships a zip that an older checkout built: workers put
    it ahead of ``PYTHONPATH`` on ``sys.path``."""
    import hashlib
    import tempfile
    import zipfile

    import pinot_pulsar_plugin_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    sources = {}  # name in the zip -> bytes
    for dirpath, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                rel = os.path.join(
                    "pinot_pulsar_plugin_spark", os.path.relpath(full, pkg_dir)
                )
                with open(full, "rb") as fh:
                    sources[rel] = fh.read()
    digest = hashlib.sha256()
    for rel in sorted(sources):
        digest.update(rel.encode() + b"\0" + sources[rel] + b"\0")
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"pinot_pulsar_plugin_spark-{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel in sorted(sources):
                zf.writestr(rel, sources[rel])
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)


def _pickle_by_value() -> None:
    """Serialize the source's modules by value, not by reference.

    Spark pickles the DataSource class into its Python planner/worker
    processes; those import the defining module by name, which fails
    unless the package is installed on every worker's sys.path.
    Registering the three source modules with pyspark's cloudpickle
    makes the pickled class self-contained — the same technique used
    for notebook-defined sources."""
    from pyspark import cloudpickle

    import pinot_pulsar_plugin_spark.sources.fakebroker as _fb
    import pinot_pulsar_plugin_spark.sources.offsets as _off
    import pinot_pulsar_plugin_spark.sources.pulsarlike as _self

    for mod in (_off, _fb, _self):
        cloudpickle.register_pickle_by_value(mod)


def register(spark) -> None:
    _pickle_by_value()
    _ship_package(spark)
    spark.dataSource.register(PulsarLikeDataSource)


def read_stream(spark, root: str, topic: str, **options):
    """Convenience: streaming DataFrame over a pulsarlike topic."""
    register(spark)
    reader = spark.readStream.format("pulsarlike").option("path", root).option(
        "topic", topic
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def read_batch(spark, root: str, topic: str, **options):
    register(spark)
    reader = spark.read.format("pulsarlike").option("path", root).option("topic", topic)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
