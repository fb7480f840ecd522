"""Fake broker semantics (FIXTURES.md §B cases 1/3/4/6)."""

from __future__ import annotations

import json

import pytest

from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker, TopicWriter
from pinot_pulsar_plugin_spark.sources.offsets import (
    EARLIEST_OFFSET,
    decode_offset,
    encode_offset,
)


@pytest.fixture
def topic(tmp_path):
    w = TopicWriter(str(tmp_path), "t", partitions=2, rollover_every=5)
    offs = []
    for i in range(12):  # partition 0: ledgers 0,1,2 (5+5+2 msgs)
        offs.append(w.append(0, json.dumps({"i": i})))
    for i in range(3):
        w.append(1, json.dumps({"i": 100 + i}))
    return str(tmp_path), offs, w


def test_partition_discovery(topic):
    root, _, _ = topic
    b = FakePulsarBroker(root)
    assert b.partition_count("t") == 2
    assert b.partition_count("nope") == 0  # 0 on failure (provider:56-57)


def test_earliest_latest(topic):
    root, offs, _ = topic
    b = FakePulsarBroker(root)
    assert b.earliest_offset("t", 0) == offs[0] == encode_offset(0, 0)
    assert b.latest_offset("t", 0) == offs[-1] + 1


def test_fetch_earliest_sentinel_and_order(topic):
    root, offs, _ = topic
    b = FakePulsarBroker(root)
    msgs = b.fetch("t", 0, EARLIEST_OFFSET)
    assert [m.offset for m in msgs] == offs
    assert json.loads(msgs[3].payload)["i"] == 3


def test_gap_tolerant_seek(topic):
    """start = last+1 across a ledger rollover points into a gap; the
    fetch must resume at the next ledger's first message
    (consumer:108-110 broker-seek semantics)."""
    root, offs, _ = topic
    b = FakePulsarBroker(root)
    end_of_ledger0 = encode_offset(0, 4)
    in_gap = end_of_ledger0 + 1  # no such entry: ledger 0 has 5 entries
    msgs = b.fetch("t", 0, in_gap)
    assert msgs[0].offset == encode_offset(1, 0)


def test_admission_max_msgs(topic):
    root, offs, _ = topic
    b = FakePulsarBroker(root)
    msgs = b.fetch("t", 0, EARLIEST_OFFSET, max_msgs=4)
    assert len(msgs) == 4
    # next fetch continues exactly at the successor
    nxt = b.fetch("t", 0, msgs[-1].next_offset, max_msgs=4)
    assert nxt[0].offset == offs[4]


def test_admission_max_bytes(topic):
    root, _, _ = topic
    b = FakePulsarBroker(root)
    one = b.fetch("t", 0, EARLIEST_OFFSET)[0]
    msgs = b.fetch("t", 0, EARLIEST_OFFSET, max_bytes=len(one.payload) * 3)
    assert len(msgs) == 3
    # a batch always makes progress even if the first payload exceeds the cap
    msgs = b.fetch("t", 0, EARLIEST_OFFSET, max_bytes=1)
    assert len(msgs) == 1


def test_bounded_end_offset(topic):
    """Improvement over the reference (which rejects bounded reads,
    consumer:94-98): end offsets are honored exclusively."""
    root, offs, _ = topic
    b = FakePulsarBroker(root)
    msgs = b.fetch("t", 0, EARLIEST_OFFSET, end_offset=offs[6])
    assert [m.offset for m in msgs] == offs[:6]


def test_ack_best_effort(topic):
    root, offs, _ = topic
    b = FakePulsarBroker(root)
    assert b.acknowledge_cumulative("t", 0, offs[-1]) is True
    # unknown partition directory → False, never raises (consumer:160-161)
    assert b.acknowledge_cumulative("t", 9, 0) is False


def test_payload_with_carriage_return_keeps_alignment(tmp_path):
    """The broker splits ledgers on b"\\n" only, so offsets and payloads
    come from the same lines. A payload containing \\r (or \\v, \\f,
    \\x1c-\\x1e) written by an external tool must not shift line numbers
    for later entries (splitlines() would)."""
    pdir = tmp_path / "t" / "partition-0"
    pdir.mkdir(parents=True)
    payloads = [b'{"i": 0}', b'{"s": "a\rb\x0c"}', b'{"i": 2}', b'{"i": 3}']
    (pdir / "ledger-00000000.jsonl").write_bytes(b"\n".join(payloads) + b"\n")
    b = FakePulsarBroker(str(tmp_path))
    msgs = b.fetch("t", 0, EARLIEST_OFFSET)
    assert [m.payload for m in msgs] == payloads
    assert [m.offset for m in msgs] == [encode_offset(0, i) for i in range(4)]


def test_writer_rejects_line_boundary_bytes(tmp_path):
    w = TopicWriter(str(tmp_path), "t", partitions=1)
    for bad in (b"a\nb", b"a\rb", b"a\x0bb", b"a\x0cb", b"a\x1cb", b"a\x1db", b"a\x1eb"):
        with pytest.raises(ValueError):
            w.append(0, bad)


def test_compacted_fetch_latest_per_key(tmp_path):
    """Source-level readCompacted(true) analog (consumer:68): the fetch
    serves only the latest message per key; unkeyed messages are never
    compacted away; offsets are unchanged."""
    w = TopicWriter(str(tmp_path), "kv", partitions=1, rollover_every=4)
    offs = {}
    for i in range(10):  # keys k0..k2 repeat across ledger rollovers
        offs[i] = w.append(0, json.dumps({"i": i}), key=f"k{i % 3}")
    unkeyed = w.append(0, json.dumps({"i": 99}))  # no key
    b = FakePulsarBroker(str(tmp_path))

    plain = b.fetch("kv", 0, EARLIEST_OFFSET)
    assert len(plain) == 11  # uncompacted read unchanged

    msgs = b.fetch("kv", 0, EARLIEST_OFFSET, compacted=True)
    # latest per key: i=9 (k0), i=7 (k1), i=8 (k2), plus the unkeyed one
    assert [m.offset for m in msgs] == sorted([offs[7], offs[8], offs[9], unkeyed])
    assert {json.loads(m.payload)["i"] for m in msgs} == {7, 8, 9, 99}


def test_compacted_fetch_respects_bounds(tmp_path):
    w = TopicWriter(str(tmp_path), "kv", partitions=1)
    for i in range(6):
        w.append(0, json.dumps({"i": i}), key=f"k{i % 2}")
    b = FakePulsarBroker(str(tmp_path))
    # max_msgs counts DELIVERED messages, skipped ones advance silently
    msgs = b.fetch("kv", 0, EARLIEST_OFFSET, max_msgs=1, compacted=True)
    assert len(msgs) == 1 and json.loads(msgs[0].payload)["i"] == 4


def test_fetch_error_containment(tmp_path):
    """Reference parity (SURVEY §2.A row 13): a fetch against a
    missing/unreadable topic or partition returns an EMPTY batch —
    retry next cycle — never raises (consumer:148-151)."""
    b = FakePulsarBroker(str(tmp_path / "nonexistent-root"))
    assert b.fetch("nope", 0, EARLIEST_OFFSET) == []
    assert b.fetch("nope", 3, 12345) == []
    assert b.earliest_offset("nope", 0) == 0
    assert b.latest_offset("nope", 0) == 0


def test_truncated_keys_sidecar_treated_as_unkeyed(tmp_path):
    """A .keys sidecar with fewer lines than the ledger has entries
    would silently shift the key->offset alignment (compaction hiding
    the WRONG messages); the broker must treat that ledger as unkeyed
    instead (ADVICE r2)."""
    w = TopicWriter(str(tmp_path), "kv", partitions=1)
    for i in range(6):
        w.append(0, json.dumps({"i": i}), key=f"k{i % 2}")
    kpath = tmp_path / "kv" / "partition-0" / "ledger-00000000.keys"
    lines = kpath.read_bytes().split(b"\n")
    kpath.write_bytes(b"\n".join(lines[:3]) + b"\n")  # truncate: 3 of 6

    b = FakePulsarBroker(str(tmp_path))
    msgs = b.fetch("kv", 0, EARLIEST_OFFSET, compacted=True)
    # unkeyed fallback: nothing compacted away, all 6 delivered
    assert [json.loads(m.payload)["i"] for m in msgs] == list(range(6))


@pytest.mark.parametrize("seed", range(10))
def test_seek_at_least_once_under_random_pts_corruption(seed, tmp_path):
    """Property (r8 seek-direction fix): for ANY sidecar corruption —
    random truncation, deletion, or none — and any target timestamp,
    `first_offset_at_or_after` must position AT OR BEFORE every message
    whose true publish time is >= the target (at-least-once: re-delivery
    allowed, loss never). Deliberate null stamps (aligned sidecars)
    still predate every target."""
    import random as _r

    from pinot_pulsar_plugin_spark.sources.fakebroker import (
        FakePulsarBroker,
        TopicWriter,
    )

    rng = _r.Random(61000 + seed)
    T0 = 1_700_000_000_000_000
    w = TopicWriter(str(tmp_path), "t", partitions=1,
                    rollover_every=rng.randint(3, 6))
    truth = []  # (offset-order index, publish_ts or None)
    for i in range(rng.randint(8, 24)):
        ts = None if rng.random() < 0.2 else T0 + i * 1_000_000
        off = w.append(0, b'{"i":%d}' % i, publish_ts=ts)
        truth.append((off, ts))

    import glob as _glob

    pts_files = sorted(_glob.glob(str(tmp_path) + "/t/partition-0/*.pts"))
    corrupted_ledgers = set()
    for p in pts_files:
        r = rng.random()
        if r < 0.25:  # truncate
            data = open(p, "rb").read().splitlines(keepends=True)
            open(p, "wb").write(b"".join(data[: rng.randrange(0, len(data))]))
            corrupted_ledgers.add(p)
        elif r < 0.4:  # delete
            import os as _os

            _os.unlink(p)
            corrupted_ledgers.add(p)

    b = FakePulsarBroker(str(tmp_path))
    for k in range(-1, 30, 3):
        target = T0 + k * 1_000_000
        got = b.first_offset_at_or_after("t", 0, target)
        # no message with a TRUE publish time >= target may be skipped
        must_include = [off for off, ts in truth if ts is not None and ts >= target]
        for off in must_include:
            assert got <= off, (seed, target, got, off)


@pytest.mark.parametrize("seed", range(10))
def test_compaction_random_differential_vs_dict(seed, tmp_path):
    """Property: for ANY interleaving of keyed / unkeyed / overwritten
    messages across ledger rollovers, a compacted fetch returns exactly
    the dict-semantics survivors — the latest offset per key, plus every
    unkeyed message — in offset order, and a bounded compacted fetch is
    the same set restricted to [start, end). Pinot's compacted consume
    (consumer:68) is the reference semantics."""
    import json as _json
    import random as _r

    from pinot_pulsar_plugin_spark.sources.fakebroker import (
        EARLIEST_OFFSET,
        FakePulsarBroker,
        TopicWriter,
    )

    rng = _r.Random(71000 + seed)
    w = TopicWriter(str(tmp_path), "t", partitions=1,
                    rollover_every=rng.randint(2, 7))
    latest_by_key: dict = {}
    all_msgs = []  # (offset, key, payload)
    for i in range(rng.randint(5, 40)):
        key = rng.choice([None, "a", "b", "c", "d"])
        payload = _json.dumps({"i": i}).encode()
        off = w.append(0, payload, key=key)
        all_msgs.append((off, key, payload))
        if key is not None:
            latest_by_key[key] = off

    survivors = sorted(
        off for off, key, _ in all_msgs
        if key is None or latest_by_key[key] == off
    )
    b = FakePulsarBroker(str(tmp_path))
    got = [m.offset for m in b.fetch("t", 0, EARLIEST_OFFSET,
                                     compacted=True, max_msgs=10_000)]
    assert got == survivors, (seed, got, survivors)

    if len(all_msgs) >= 3:
        lo, hi = sorted(rng.sample([m[0] for m in all_msgs], 2))
        got_b = [m.offset for m in b.fetch("t", 0, lo, end_offset=hi,
                                           compacted=True, max_msgs=10_000)]
        assert got_b == [o for o in survivors if lo <= o < hi], (seed, lo, hi)


@pytest.mark.parametrize("seed", range(10))
def test_fetch_admission_caps_random(seed, tmp_path):
    """Property: for random payload sizes and random (max_msgs,
    max_bytes) caps, every fetch admits at most max_msgs messages and —
    beyond the first message, which is always admitted so progress
    is guaranteed — never exceeds max_bytes cumulative payload; chained
    fetches (resume at last offset + 1) cover the whole topic exactly
    once, in order. The BatchReceivePolicy semantics of
    PulsarPartitionLevelStreamConfig.java:36-40."""
    import random as _r

    from pinot_pulsar_plugin_spark.sources.fakebroker import (
        EARLIEST_OFFSET,
        FakePulsarBroker,
        TopicWriter,
    )

    rng = _r.Random(111_000 + seed)
    w = TopicWriter(str(tmp_path), "t", partitions=1,
                    rollover_every=rng.randint(3, 9))
    payloads = []
    for i in range(rng.randint(5, 60)):
        p = bytes([65 + (i % 26)]) * rng.randint(0, 120)
        w.append(0, p)
        payloads.append(p)

    max_msgs = rng.randint(1, 12)
    max_bytes = rng.randint(1, 300)
    b = FakePulsarBroker(str(tmp_path))
    got, start, rounds = [], EARLIEST_OFFSET, 0
    while rounds < 10_000:
        rounds += 1
        batch = b.fetch("t", 0, start, max_msgs=max_msgs, max_bytes=max_bytes)
        if not batch:
            break
        assert len(batch) <= max_msgs, seed
        sizes = [len(m.payload) for m in batch]
        # every message beyond the first must fit under the byte cap
        assert all(
            sum(sizes[: i + 1]) <= max_bytes for i in range(1, len(sizes))
        ) or len(batch) == 1, (seed, sizes, max_bytes)
        got.extend(m.payload for m in batch)
        start = batch[-1].offset + 1
    assert got == payloads, seed


@pytest.mark.parametrize("seed", range(10))
def test_timestamp_range_resolution_random(seed, tmp_path):
    """Property: with intact sidecars and monotonic publish times, the
    [start_ts, end_ts) offset resolution (first_offset_at_or_after on
    both bounds) yields exactly the messages whose publish time falls
    in the range — any grid of random targets, including targets
    before, between, and past every stamp."""
    import json as _json
    import random as _r

    from pinot_pulsar_plugin_spark.sources.fakebroker import (
        FakePulsarBroker,
        TopicWriter,
    )

    rng = _r.Random(121_000 + seed)
    T0 = 1_700_000_000_000_000
    w = TopicWriter(str(tmp_path), "t", partitions=1,
                    rollover_every=rng.randint(2, 8))
    truth = []
    ts = T0
    for i in range(rng.randint(4, 40)):
        ts += rng.randint(0, 3) * 1_000_000  # repeats allowed (monotonic)
        off = w.append(0, _json.dumps({"i": i}), publish_ts=ts)
        truth.append((off, ts, i))

    b = FakePulsarBroker(str(tmp_path))
    lo_ts, hi_ts = T0 - 2_000_000, ts + 2_000_000
    for _ in range(8):
        s = rng.randrange(lo_ts, hi_ts)
        e = rng.randrange(s, hi_ts + 1)
        so = b.first_offset_at_or_after("t", 0, s)
        eo = b.first_offset_at_or_after("t", 0, e)
        got = [m.offset for m in b.fetch("t", 0, so, end_offset=eo,
                                         max_msgs=10_000)]
        want = [off for off, pts, _ in truth if s <= pts < e]
        assert got == want, (seed, s - T0, e - T0, got, want)


def test_wrapped_ledger_ids_compaction_and_seek(tmp_path):
    """Ledger ids whose packed offsets wrap the i64 codec: from 2^35 the
    offsets fall below -2^62, and from 2^36 they alias small ledger ids
    when decoded. Compaction still keeps the latest message per key,
    and a timestamp seek still lands at or before a ledger whose .pts
    sidecar is missing."""
    T0 = 1_700_000_000_000_000
    w = TopicWriter(str(tmp_path), "t", partitions=1, rollover_every=2)
    w.set_ledger(0, (1 << 35) + 1)
    offs = [w.append(0, b'{"i":%d}' % i, key="k", publish_ts=T0 + i) for i in range(2)]
    w.set_ledger(0, (1 << 36) + 1)
    offs += [w.append(0, b'{"i":%d}' % i, publish_ts=T0 + i) for i in range(2, 5)]
    assert offs == sorted(offs) and offs[0] < -(1 << 62)
    b = FakePulsarBroker(str(tmp_path))

    msgs = b.fetch("t", 0, EARLIEST_OFFSET, compacted=True)
    assert [m.offset for m in msgs] == [offs[1]] + offs[2:]

    (tmp_path / "t" / "partition-0" / f"ledger-{(1 << 36) + 1:08d}.pts").unlink()
    assert b.first_offset_at_or_after("t", 0, T0 + 3) == offs[2]


_STRESS_ROLLOVER = 7


def _stress_payload(i: int) -> bytes:
    """Message ``i`` of the stress writer. Every 5th payload is over
    4 KiB, so one append spans pages and a reader can see it half
    written."""
    size = 4097 + (i * 611) % 8192 if i % 5 == 0 else 1 + (i * 37) % 300
    return b'{"i":%d,"pad":"%s"}' % (i, b"x" * size)


def _stress_writer(root: str, n: int) -> None:
    import time

    w = TopicWriter(root, "s", partitions=1, rollover_every=_STRESS_ROLLOVER)
    for i in range(n):
        off = w.append(0, _stress_payload(i), key=f"k{i % 3}" if i % 2 else None)
        assert off == encode_offset(i // _STRESS_ROLLOVER, i % _STRESS_ROLLOVER)
        time.sleep(0.0005)


def test_fetch_during_concurrent_appends(tmp_path):
    """While another process appends (ledgers of 7 entries, payloads up
    to 12 KiB), plain and compacted fetches from earliest never raise,
    return strictly increasing offsets, and return for each offset
    exactly the payload written at it. A plain fetch is always a prefix
    of what was written: a ledger is read once, and an append whose
    newline has not landed is not yet visible."""
    import multiprocessing
    import time

    n = 3000
    writer = multiprocessing.get_context("spawn").Process(
        target=_stress_writer, args=(str(tmp_path), n), daemon=True
    )
    writer.start()
    b = FakePulsarBroker(str(tmp_path))
    deadline = time.monotonic() + 60
    seen = []
    try:
        while time.monotonic() < deadline:
            done = not writer.is_alive()
            for compacted in (False, True):
                msgs = b.fetch("s", 0, EARLIEST_OFFSET, max_msgs=n,
                               max_bytes=1 << 40, compacted=compacted)
                offs = [m.offset for m in msgs]
                assert all(x < y for x, y in zip(offs, offs[1:]))
                for m in msgs:
                    ledger, entry = decode_offset(m.offset)
                    assert m.payload == _stress_payload(ledger * _STRESS_ROLLOVER + entry)
                if not compacted:
                    assert offs == [
                        encode_offset(i // _STRESS_ROLLOVER, i % _STRESS_ROLLOVER)
                        for i in range(len(offs))
                    ]
                    seen.append(len(msgs))
            if done:
                break
    finally:
        writer.join(timeout=30)
    assert not writer.is_alive()
    assert writer.exitcode == 0
    assert seen[-1] == n
    assert len(set(seen)) > 2  # fetches really ran during the appends
