"""``ingest``: Pulsar-like topic → ``decode_json`` → exactly-once sink.

One streaming query first drains a pre-written backlog (closed loop,
throughput), then serves a generator appending at a fixed rate (open
loop, freshness per message).

The drain uses the default trigger plus ``processAllAvailable()``.
``Trigger.AvailableNow`` is not used: on the ``pulsarlike`` source it
stops after the first admission-capped batch (see README.md).
"""

from __future__ import annotations

import ast
import datetime as dt
import json
import os
import threading
import time
from bisect import bisect_right

import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException

from common import (
    OUT_ROOT, Result, Workspace, log, mean, median, report,
    start_spark, stop_spark,
)
from datagen import PayloadGen
from pinot_pulsar_plugin_spark.sources.decode import EVENT_SCHEMA, decode_json
from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker, TopicWriter
from pinot_pulsar_plugin_spark.sources.offsets import decode_offset
from pinot_pulsar_plugin_spark.sources.pulsarlike import (
    PulsarLikeStreamReader,
    read_batch,
    read_stream,
)
from pinot_pulsar_plugin_spark.streaming.sinks import exactly_once_parquet_sink
from spans import Tracer

SCHEMA = EVENT_SCHEMA + ", created_us bigint"
N_PARTS = 4
BATCH_MSGS = N_PARTS * 500  # one batch at the default admission cap
# Batches 1-5 still run in a warming JVM (about 30% slower than later
# ones); the drain is measured after them.
SETTLE_BATCHES = 5
# Backlog per measured second of drain (about 2,400 msg/s on 4 cores).
# The drain cost grows faster than the topic (every fetch re-indexes its
# whole partition), so the topic must stay large enough to show it.
BACKLOG_MSGS_PER_S = 2_500
ROLLOVER = 2_000  # ledger entries; several rollovers per partition
LIVE_RATE = 1_000  # msg/s, below the drain capacity
LIVE_SETTLE_S = 2.0
# Share of ``--seconds`` that sizes the drain. The live window gets the
# rest, and the larger part: freshness follows the batch cycle, which
# varies more from run to run than the drain rate does.
DRAIN_SHARE = 0.4


class Topic:
    """One topic and its single writer. Message ``i`` goes to partition
    ``i % N_PARTS``; the writer is kept for the whole run, because a
    second ``TopicWriter`` on an existing topic restarts at ledger 0."""

    def __init__(self, root: str, name: str, gen: PayloadGen, rollover: int):
        self.root, self.name, self.gen, self.rollover = root, name, gen, rollover
        self.writer = TopicWriter(root, name, N_PARTS, rollover_every=rollover)
        self.n = 0
        self.well_formed: list[int] = []
        self.malformed = 0
        self.append_times: list[list[float]] = [[] for _ in range(N_PARTS)]

    def append(self, created_us: int) -> None:
        i = self.n
        payload = self.gen.payload(i, created_us)
        self.writer.append(i % N_PARTS, payload)
        self.append_times[i % N_PARTS].append(time.time())
        if self.gen.is_malformed(i):
            self.malformed += 1
        else:
            self.well_formed.append(i)
        self.n += 1

    def consumed(self, end_offset: int) -> int:
        """Messages of one partition before ``end_offset`` (ledgers are
        dense: ``rollover`` entries each, numbered from 0)."""
        ledger, entry = decode_offset(end_offset)
        return ledger * self.rollover + entry


class Pipeline:
    """A running ``read_stream → decode_json → exactly_once_parquet_sink``
    query. The sink records when each batch became visible.

    A query that fails is counted as one failed operation and restarted
    from its checkpoint, as a supervisor would; the sink is
    exactly-once, so the restart neither loses nor repeats rows."""

    MAX_RESTARTS = 3

    def __init__(self, spark, ws: Workspace, topic: Topic, tag: str, tracer: Tracer,
                 res: Result):
        self.started = time.perf_counter()
        self.out = ws.path("sink", tag)
        self.res = res
        # batch -> (wall clock at commit, write seconds, perf_counter at commit)
        self.commits: dict[int, tuple[float, float, float]] = {}
        # progress of the query instances that failed
        self.failed_progress: list = []
        sink = exactly_once_parquet_sink(self.out)

        def write_batch(df, batch_id: int) -> None:
            with tracer.span("sinks.write", batch=batch_id):
                t0 = time.perf_counter()
                sink(df, batch_id)
                took = time.perf_counter() - t0
            self.commits[batch_id] = (time.time(), took, time.perf_counter())

        decoded = decode_json(read_stream(spark, topic.root, topic.name), SCHEMA)
        writer = (decoded.writeStream.foreachBatch(write_batch)
                  .option("checkpointLocation", ws.path("ckpt", tag)))
        self.start = writer.start
        self.query = self.start()

    def first_commit(self, timeout: float = 120.0) -> float:
        """Wait for batch 0 to land; return seconds since construction.
        The first micro-batch carries the cold costs (Python workers,
        code generation), so it is set-up, not measurement."""
        deadline = time.perf_counter() + timeout
        while 0 not in self.commits:
            if time.perf_counter() > deadline or not self.query.isActive:
                raise RuntimeError("the stream's first micro-batch never landed")
            time.sleep(0.01)
        return self.commits[0][2] - self.started

    def drain(self) -> None:
        """``processAllAvailable()``, restarting a query that failed."""
        for _ in range(self.MAX_RESTARTS):
            try:
                self.query.processAllAvailable()
                return
            except StreamingQueryException as exc:
                self.res.fail(1, f"streaming query failed and was restarted: {_first_line(exc)}")
                self.failed_progress.extend(self.query.recentProgress)
                self.query = self.start()
        self.query.processAllAvailable()

    def progress(self) -> list:
        """Progress of every batch that read input, in batch order; a
        batch run again after a restart counts once."""
        by_id = {p.batchId: p for p in self.failed_progress + list(self.query.recentProgress)
                 if p.numInputRows > 0}
        return [by_id[b] for b in sorted(by_id)]

    def finish(self) -> list:
        """Drain what is available, stop, and return ``progress()``."""
        self.drain()
        progress = self.progress()
        self.query.stop()
        return progress

    def landed(self):
        if not os.path.isdir(self.out):
            return None
        return pq.read_table(self.out, columns=["event_id", "created_us", "batch_id"])


def _first_line(exc: BaseException) -> str:
    try:
        text = str(exc)
    except Exception:  # py4j-wrapped errors can fail to format
        text = ""
    lines = [ln.strip() for ln in text.splitlines() if ln.strip()]
    errors = [ln for ln in lines if "Error:" in ln]
    return (errors or lines or [type(exc).__name__])[0][:300]


def check_landed(res: Result, topic: Topic, table, progress: list) -> None:
    """Every well-formed event lands exactly once and the pipeline drops
    exactly the malformed messages."""
    ids = table.column("event_id").to_pylist() if table is not None else []
    got = set(ids)
    want = set(topic.well_formed)
    res.fail(len(want - got), f"{len(want - got)} well-formed messages lost")
    res.fail(len(ids) - len(got), f"{len(ids) - len(got)} duplicate deliveries")
    res.fail(len(got - want), f"{len(got - want)} rows that were never sent well-formed")
    source_rows = sum(p.numInputRows for p in progress)
    res.fail(abs(source_rows - topic.n), f"source read {source_rows} of {topic.n} messages")
    dropped = source_rows - len(ids)
    res.fail(abs(dropped - topic.malformed),
             f"dropped {dropped}, injected {topic.malformed} malformed")


def _offsets(text) -> dict[str, int] | None:
    """A source offset from a progress event. The Python data source
    reports the dict's repr, so accept that as well as JSON."""
    if text in (None, "", "None", "null"):
        return None
    try:
        raw = json.loads(text)
    except ValueError:
        raw = ast.literal_eval(text)
    return {str(k): int(v) for k, v in raw.items()}


def _wall(progress) -> float:
    """Trigger start of a batch, as a wall-clock time."""
    return dt.datetime.fromisoformat(progress.timestamp.replace("Z", "+00:00")).timestamp()


def _progress_layers(res: Result, tracer: Tracer, topic: Topic, progress: list,
                     live: list, commits: dict) -> None:
    """Per-batch layers from Spark's progress events. Broker lag is the
    head when a ``live`` batch commits minus that batch's end offset
    (during the drain the lag is just the remaining backlog)."""
    parts = {k: [] for k in ("addBatch", "queryPlanning", "walCommit", "latestOffset", "over")}
    lags = []
    for p in progress:
        d = p.durationMs
        for k in ("addBatch", "queryPlanning", "walCommit", "latestOffset"):
            parts[k].append(d.get(k, 0))
        parts["over"].append(
            d.get("triggerExecution", 0)
            - sum(d.get(k, 0) for k in ("addBatch", "queryPlanning", "walCommit", "latestOffset"))
        )
        start = _wall(p)
        bid = tracer.add("microbatch", start, start + d.get("triggerExecution", 0) / 1e3,
                         batch=p.batchId)
        t = start
        for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit"):
            tracer.add(f"microbatch.{k}", t, t + d.get(k, 0) / 1e3, parent=bid)
            t += d.get(k, 0) / 1e3
    for p in live:
        end = _offsets(p.sources[0].endOffset)
        committed = commits[p.batchId][0]
        for part in range(N_PARTS):
            head = bisect_right(topic.append_times[part], committed)
            lags.append(max(0, head - topic.consumed(end[str(part)])))
    res.put("pulsarlike.latest_offset_ms", mean(parts["latestOffset"]), "ms")
    res.put("pulsarlike.lag_msgs", mean(lags), "count")
    res.put("microbatch.add_batch_ms", mean(parts["addBatch"]), "ms")
    res.put("microbatch.plan_ms", mean(parts["queryPlanning"]), "ms")
    res.put("microbatch.wal_ms", mean(parts["walCommit"]), "ms")
    res.put("microbatch.overhead_ms", mean(parts["over"]), "ms")
    res.put("microbatch.rows_per_batch", mean([p.numInputRows for p in progress]), "count")
    res.put("sinks.write_ms", 1e3 * mean([c[1] for b, c in commits.items() if b > 0]), "ms")


def _rchar() -> int:
    with open("/proc/self/io") as fh:
        for line in fh:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def _probe_layers(spark, res: Result, tracer: Tracer, topic: Topic, progress: list,
                  max_fetches: int = 40, max_batches: int = 4) -> None:
    """Call the broker, the stream reader and the decoder directly on
    the drained topic, one span per call."""
    broker = FakePulsarBroker(topic.root)
    fetch_s, fetch_n, read_b, payload_b = [], [], 0, 0
    for part in range(N_PARTS):
        cur = broker.earliest_offset(topic.name, part)
        for _ in range(max_fetches // N_PARTS):
            r0 = _rchar()
            with tracer.span("fakebroker.fetch", partition=part):
                t0 = time.perf_counter()
                msgs = broker.fetch(topic.name, part, cur)
                fetch_s.append(time.perf_counter() - t0)
            read_b += _rchar() - r0
            if not msgs:
                break
            fetch_n.append(len(msgs))
            payload_b += sum(len(m.payload) for m in msgs)
            cur = msgs[-1].next_offset
    delivered = sum(fetch_n)
    res.put("fakebroker.fetch_ms", 1e3 * mean(fetch_s), "ms")
    res.put("fakebroker.fetch_msgs", mean(fetch_n), "count")
    res.put("fakebroker.read_bytes_per_msg", read_b / max(1, delivered), "B")
    res.put("fakebroker.useful_ratio", payload_b / max(1, read_b), "ratio")

    reader = PulsarLikeStreamReader({"path": topic.root, "topic": topic.name})
    read_s = []
    for p in progress[:max_batches]:
        end = _offsets(p.sources[0].endOffset)
        start = _offsets(p.sources[0].startOffset) or reader.initialOffset()
        for rng in reader.partitions(start, end):
            with tracer.span("pulsarlike.read", partition=rng.partition):
                t0 = time.perf_counter()
                for _ in reader.read(rng):
                    pass
                read_s.append(time.perf_counter() - t0)
    res.put("pulsarlike.read_ms", 1e3 * mean(read_s), "ms")

    raw = read_batch(spark, topic.root, topic.name).cache()
    n_raw = raw.count()
    times, kept = [], 0
    for _ in range(3):
        with tracer.span("decode.decode_json"):
            t0 = time.perf_counter()
            kept = decode_json(raw, SCHEMA).count()
            times.append(time.perf_counter() - t0)
    raw.unpersist()
    res.put("decode.rows_per_s", n_raw / median(times), "1/s")
    res.put("decode.dropped", n_raw - kept, "count")
    res.fail(abs(n_raw - kept - topic.malformed),
             f"decode dropped {n_raw - kept}, injected {topic.malformed} malformed")


def _finish_trace(res: Result, tracer: Tracer, ws_tag: str, seed: int) -> None:
    res.put("trace.spans", len(tracer.spans), "count")
    os.makedirs(OUT_ROOT, exist_ok=True)
    tracer.write(os.path.join(OUT_ROOT, f"trace-{ws_tag}-seed{seed}.json"))
    selfs = tracer.self_times()
    for name in ("sinks.write", "fakebroker.fetch", "pulsarlike.read", "microbatch"):
        log(f"self time {name}: {1e3 * mean(selfs.get(name, [])):.2f} ms "
            f"over {len(selfs.get(name, []))} spans")


class Generator(threading.Thread):
    """Open-loop appender: message ``k`` is due at ``t0 + k / rate`` and
    is stamped with its due time, so a stall in the generator shows as
    freshness. Records how late each append ran."""

    def __init__(self, topic: Topic, rate: float):
        super().__init__(daemon=True)
        self.topic, self.rate = topic, rate
        self.t0 = time.time() + 0.05
        self.stop_at = float("inf")
        self.late: list[tuple[float, float]] = []  # (due, late s)
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            k = 0
            while True:
                due = self.t0 + k / self.rate
                if due >= self.stop_at:
                    return
                now = time.time()
                if now < due:
                    time.sleep(min(due - now, 0.005))
                    continue
                self.topic.append(int(due * 1e6))
                self.late.append((due, time.time() - due))
                k += 1
        except BaseException as exc:  # reported by the caller
            self.error = exc


def run(seed: int, seconds: int, trace: bool) -> Result:
    """Drain a pre-written backlog, then serve the open-loop generator on
    the same topic, writer and streaming query. ``DRAIN_SHARE`` of
    ``seconds`` sizes the drain, the rest is the live window."""
    res, tracer = Result(), Tracer(trace)
    ws, spark = Workspace("ingest"), None
    drain_s = DRAIN_SHARE * seconds
    window_s = seconds - drain_s
    try:
        gen = PayloadGen(seed)
        topic = Topic(ws.path("topics"), "ingest", gen, ROLLOVER)
        for _ in range(BATCH_MSGS * (1 + SETTLE_BATCHES) + int(BACKLOG_MSGS_PER_S * drain_s)):
            topic.append(0)
        spark, session_s = start_spark(ws)
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        pipe = Pipeline(spark, ws, topic, "ingest", tracer, res)
        res.put("setup_s", session_s + pipe.first_commit(), "s")

        # drain: batches after the settling ones, commit to commit
        with tracer.span("ingest.drain"):
            pipe.drain()
        drained = {p.batchId: p.numInputRows for p in pipe.progress()}
        last = max(drained)
        if last <= SETTLE_BATCHES:
            raise RuntimeError(f"backlog drained in {last + 1} batches; too small to measure")
        rows = sum(n for b, n in drained.items() if b > SETTLE_BATCHES)
        took = pipe.commits[last][2] - pipe.commits[SETTLE_BATCHES][2]
        log(f"drained {rows} msgs in {took:.2f} s over {last - SETTLE_BATCHES} batches")
        perf = [pipe.commits[b][2] for b in range(last + 1)]
        log("batch intervals " + json.dumps(
            [[drained[b], round(perf[b] - perf[b - 1], 4)] for b in range(1, last + 1)]))

        # live: the same writer appends on a fixed schedule
        genr = Generator(topic, LIVE_RATE)
        genr.start()
        time.sleep(LIVE_SETTLE_S)
        w0 = time.time()
        w1 = w0 + window_s
        genr.stop_at = w1
        with tracer.span("ingest.live_window"):
            time.sleep(max(0.0, w1 - time.time()))
            genr.join(timeout=30)
        progress = pipe.finish()
        if genr.error is not None or genr.is_alive():
            raise RuntimeError(f"generator failed: {genr.error!r}")

        res.attempted = topic.n
        table = pipe.landed()
        check_landed(res, topic, table, progress)
        fresh = []
        if table is not None:
            commit = {b: c[0] for b, c in pipe.commits.items()}
            for cu, b in zip(table.column("created_us").to_pylist(),
                             table.column("batch_id").to_pylist()):
                if w0 * 1e6 <= cu < w1 * 1e6:
                    fresh.append(commit[int(b)] - cu / 1e6)
        if not fresh:
            res.fail(1, "no message of the live window landed")
        late = [lt for due, lt in genr.late if w0 <= due < w1]
        log(f"live: {len(fresh)} msgs in the window, {len(progress) - last - 1} batches, "
            f"generator late max {max(late, default=0):.3f} s")
        cm = pipe.commits
        log("live batches [rows, interval s, write s] " + json.dumps(
            [[p.numInputRows, round(cm[p.batchId][2] - cm[p.batchId - 1][2], 4),
              round(cm[p.batchId][1], 4)] for p in progress if p.batchId > last]))
        report(res, trace, rows / took, fresh)
        if trace:
            res.put("gen.late_max_s", max(late, default=0.0), "s")
            _progress_layers(res, tracer, topic, [p for p in progress if p.batchId > 0],
                             [p for p in progress if p.batchId > last], pipe.commits)
            _probe_layers(spark, res, tracer, topic,
                          [p for p in progress if p.batchId > SETTLE_BATCHES])
            _finish_trace(res, tracer, "ingest", seed)
    finally:
        if spark is not None:
            stop_spark(spark)
        ws.close()
    return res
