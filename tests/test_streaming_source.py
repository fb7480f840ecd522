"""End-to-end streaming through the pulsarlike source (FIXTURES.md §B
cases 2/4/5; SURVEY.md §5.4)."""

from __future__ import annotations

import json

import pytest

from pinot_pulsar_plugin_spark.sources.decode import decode_json, malformed_count
from pinot_pulsar_plugin_spark.sources.fakebroker import TopicWriter
from pinot_pulsar_plugin_spark.sources.pulsarlike import read_batch, read_stream


def _write_events_topic(root: str, n: int = 60, partitions: int = 2, malformed_every: int = 0):
    w = TopicWriter(root, "events", partitions=partitions, rollover_every=25)
    for i in range(n):
        p = i % partitions
        if malformed_every and i % malformed_every == 0:
            w.append(p, b"{not json!!")
        else:
            w.append(
                p,
                json.dumps(
                    {
                        "event_id": i,
                        "user_id": i % 7,
                        "event_type": "view" if i % 3 else "purchase",
                        "value": round(i * 1.5, 2),
                    }
                ),
            )
    return w


EVENT_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"


def _drain(stream_df, query_name: str, spark, checkpoint: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def test_stream_reads_all_messages(spark, tmp_path):
    _write_events_topic(str(tmp_path / "b"), n=60)
    df = read_stream(spark, str(tmp_path / "b"), "events")
    out = _drain(df, "t_all", spark, str(tmp_path / "ck")).collect()
    assert len(out) == 60
    assert {r.partition for r in out} == {0, 1}
    # offsets strictly increasing per partition (monotonic cursor)
    for p in (0, 1):
        offs = [r.offset for r in out if r.partition == p]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)


def test_batch_bounding_micro_batches(spark, tmp_path):
    """maxmsgs caps each micro-batch per partition (≈ BatchReceivePolicy
    maxNumMessages, consumer:69-73)."""
    _write_events_topic(str(tmp_path / "b"), n=40, partitions=1)
    df = read_stream(spark, str(tmp_path / "b"), "events", maxmsgs=10)
    q = (
        df.writeStream.format("memory")
        .queryName("t_bound")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    progress = q.recentProgress
    q.stop()
    rows = spark.sql("SELECT count(*) n FROM t_bound").first().n
    assert rows == 40
    batch_sizes = [p["numInputRows"] for p in progress if p["numInputRows"] > 0]
    assert batch_sizes and max(batch_sizes) <= 10
    assert len(batch_sizes) >= 4


def test_decode_and_drop_malformed(spark, tmp_path):
    """Decode-or-drop parity (PulsarJSONMessageDecoder.java:62-73):
    malformed payloads are dropped, good rows decode with projection."""
    _write_events_topic(str(tmp_path / "b"), n=60, malformed_every=10)  # 6 bad
    raw = read_batch(spark, str(tmp_path / "b"), "events")
    counts = malformed_count(raw, schema=EVENT_SCHEMA).first()
    assert counts.n_total == 60 and counts.n_malformed == 6
    decoded = decode_json(raw, EVENT_SCHEMA, fields=["event_id", "value"])
    assert decoded.columns == ["offset", "partition", "event_id", "value"]
    assert decoded.count() == 54
    # projection pushdown analog: only requested fields survive
    assert "event_type" not in decoded.columns


def test_decode_custom_extractor_hooks(spark, tmp_path):
    """Pluggable record-extractor parity
    (``RECORD_EXTRACTOR_CONFIG_KEY``,
    PulsarJSONMessageDecoder.java:42-43,57): a NON-JSON-standard
    payload — an ``EVT|<epoch_us>|<json>`` envelope whose JSON wraps
    the fields under ``data`` with string-typed numerics — decodes via
    the two Column-level hooks: ``pre_decode`` strips the framing
    before ``from_json``; ``extractor`` unwraps + retypes between
    parse and projection. No Python UDF anywhere."""
    from pyspark.sql import functions as F

    w = TopicWriter(str(tmp_path / "env"), "framed", partitions=1)
    for i in range(10):
        payload = json.dumps({"data": {"event_id": str(i), "value": str(i * 2.5)}})
        w.append(0, f"EVT|{1_000_000 + i}|{payload}")
    w.append(0, b"EVT|garbage")  # framing ok, body not JSON -> dropped
    w.append(0, b"no-envelope at all")  # dropped

    raw = read_batch(spark, str(tmp_path / "env"), "framed")
    decoded = decode_json(
        raw,
        "data struct<event_id string, value string>",
        payload_col="value",
        pre_decode=lambda c: F.substring_index(c, "|", -1),
        extractor=lambda s: F.struct(
            s["data"]["event_id"].cast("bigint").alias("event_id"),
            s["data"]["value"].cast("double").alias("value"),
        ),
    )
    rows = {r.event_id: r.value for r in decoded.collect()}
    assert rows == {i: i * 2.5 for i in range(10)}
    assert decoded.columns == ["offset", "partition", "event_id", "value"]
    # both hooks are Catalyst expressions: the decode plan stays free
    # of Python evaluation
    assert "pythonUDF" not in decoded._jdf.queryExecution().executedPlan().toString()


def _drain_to_parquet(stream_df, spark, out_dir: str, checkpoint: str):
    """File sink (fault-tolerant, unlike memory) — required for
    checkpoint-recovery tests."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir)


def test_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill after draining, append more, restart with the same
    checkpoint: only the new messages are read (engine-owned cursor —
    the checkpoint plays the role Pinot's cursor does, consumer:157)."""
    root, ck, out = str(tmp_path / "b"), str(tmp_path / "ck"), str(tmp_path / "out")
    w = _write_events_topic(root, n=30, partitions=2)
    df = read_stream(spark, root, "events")
    assert _drain_to_parquet(df, spark, out, ck).count() == 30

    for i in range(30, 50):  # 20 new messages after the "crash"
        w.append(i % 2, json.dumps({"event_id": i, "user_id": 0, "event_type": "view", "value": 1.0}))

    df2 = read_stream(spark, root, "events")
    all_rows = _drain_to_parquet(df2, spark, out, ck).collect()
    ids = sorted(json.loads(bytes(r.value).decode())["event_id"] for r in all_rows)
    assert ids == list(range(50))  # old 30 kept once + new 20, no dupes/loss


def test_restart_replays_across_ledger_gaps(spark, tmp_path):
    """Offsets are non-dense at rollovers (rollover_every=25); restart +
    catch-up must not lose the first message of a new ledger."""
    root, ck, out = str(tmp_path / "b"), str(tmp_path / "ck"), str(tmp_path / "out")
    w = _write_events_topic(root, n=25, partitions=1)  # exactly one full ledger
    df = read_stream(spark, root, "events")
    assert _drain_to_parquet(df, spark, out, ck).count() == 25
    w.append(0, json.dumps({"event_id": 999, "user_id": 0, "event_type": "view", "value": 0.0}))
    rows = _drain_to_parquet(read_stream(spark, root, "events"), spark, out, ck).collect()
    assert len(rows) == 26
    ids = {json.loads(bytes(r.value).decode())["event_id"] for r in rows}
    assert 999 in ids


def test_compacted_view(spark, tmp_path):
    """readCompacted(true) analog (consumer:68): latest value per key.
    No Spark source equivalent — expressed as the documented post-source
    dedup (max offset per key), which is what compaction serves."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "b")
    w = TopicWriter(root, "kv", partitions=1)
    for i in range(20):
        w.append(0, json.dumps({"key": f"k{i % 5}", "val": i}))
    raw = read_batch(spark, root, "kv")
    decoded = decode_json(raw, "key string, val bigint")
    latest = (
        decoded.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "key"
                ).orderBy(F.desc("offset"))
            ),
        )
        .filter("rn = 1")
        .select("key", "val")
    )
    rows = {r.key: r.val for r in latest.collect()}
    assert rows == {"k0": 15, "k1": 16, "k2": 17, "k3": 18, "k4": 19}


def test_stream_static_join_and_window_agg(spark, tmp_path):
    """Decoded stream joined to a static dim + tumbling-window count —
    the downstream OLAP shape the ingestion exists to serve."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "b")
    _write_events_topic(root, n=30, partitions=2)
    stream = read_stream(spark, root, "events")
    decoded = decode_json(stream, EVENT_SCHEMA)
    dim = spark.createDataFrame(
        [(i, f"user_{i}") for i in range(7)], "user_id long, user_name string"
    )
    joined = decoded.join(dim, "user_id")  # stream-static join
    agg = joined.groupBy("event_type").count()
    q = (
        agg.writeStream.format("memory")
        .queryName("t_join")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    res = {r.event_type: r["count"] for r in spark.sql("SELECT * FROM t_join").collect()}
    assert res == {"view": 20, "purchase": 10}


def test_restart_with_backlog_exceeding_cap(spark, tmp_path):
    """Restart after a clean commit with a backlog LARGER than the
    admission cap (maxmsgs): latestOffset() must never offer an offset
    behind the checkpointed position, or Spark records the regressed
    range and re-reads already-committed messages (duplicates in an
    append sink). The reader recovers its high-water mark from the
    commit-time ack sidecar, so the first post-restart offer starts at
    the committed position, not earliest."""
    root, ck, out = str(tmp_path / "b"), str(tmp_path / "ck"), str(tmp_path / "out")
    w = _write_events_topic(root, n=30, partitions=1)
    df = read_stream(spark, root, "events", maxmsgs=10)
    assert _drain_to_parquet(df, spark, out, ck).count() == 30

    for i in range(30, 55):  # backlog of 25 > cap of 10
        w.append(0, json.dumps({"event_id": i, "user_id": 0, "event_type": "view", "value": 1.0}))

    df2 = read_stream(spark, root, "events", maxmsgs=10)
    all_rows = _drain_to_parquet(df2, spark, out, ck).collect()
    ids = sorted(json.loads(bytes(r.value).decode())["event_id"] for r in all_rows)
    assert ids == list(range(55))  # no duplicates, no loss


def test_reader_recovers_cursor_from_ack_sidecar(tmp_path):
    """Unit-level check of the restart guarantee (no Spark): a fresh
    reader instance starts its admission cursor at the acked position,
    so the first latestOffset() offer is committed+cap, never behind."""
    from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker
    from pinot_pulsar_plugin_spark.sources.pulsarlike import PulsarLikeStreamReader

    root = str(tmp_path)
    w = TopicWriter(root, "t", partitions=1, rollover_every=1000)
    for i in range(40):
        w.append(0, json.dumps({"i": i}))
    b = FakePulsarBroker(root)
    b.acknowledge_cumulative("t", 0, 29)  # committed through offset 29

    r = PulsarLikeStreamReader({"path": root, "topic": "t", "maxmsgs": "10"})
    assert r._current == {"0": 30}
    assert r.latestOffset() == {"0": 40}  # cap-sized batch FROM committed

    # acks are monotonic: a replayed older ack can't regress the record
    b.acknowledge_cumulative("t", 0, 5)
    assert b.acked_through("t", 0) == 29


def test_reader_partitions_clamps_regressed_range(tmp_path):
    """A (hypothetical) regressed planned range start>end must read
    empty and snap the cursor forward, not read garbage."""
    from pinot_pulsar_plugin_spark.sources.pulsarlike import PulsarLikeStreamReader

    root = str(tmp_path)
    w = TopicWriter(root, "t", partitions=1, rollover_every=1000)
    for i in range(40):
        w.append(0, json.dumps({"i": i}))
    r = PulsarLikeStreamReader({"path": root, "topic": "t", "maxmsgs": "10"})
    rngs = r.partitions({"0": 30}, {"0": 10})
    assert rngs[0].start == 30 and rngs[0].end == 30  # clamped → empty
    assert list(r.read(rngs[0])) == []
    assert r._current == {"0": 30}  # snapped to max(start, end)


def test_source_level_compacted_stream(spark, tmp_path):
    """compacted=true on the pulsarlike source (readCompacted(true),
    consumer:68): the stream delivers the latest message per key even
    when a key's versions span micro-batches and ledger rollovers.
    decode.compacted_view remains the post-source fallback for topics
    without broker compaction."""
    root = str(tmp_path / "b")
    w = TopicWriter(root, "kv", partitions=1, rollover_every=5)
    for i in range(20):
        w.append(0, json.dumps({"key": f"k{i % 4}", "val": i}), key=f"k{i % 4}")
    df = read_stream(spark, root, "kv", compacted="true", maxmsgs=6)
    out = _drain(df, "t_compacted", spark, str(tmp_path / "ck")).collect()
    got = {json.loads(bytes(r.value).decode())["val"] for r in out}
    assert got == {16, 17, 18, 19}  # latest write of each of the 4 keys


def test_source_level_compacted_batch(spark, tmp_path):
    root = str(tmp_path / "b")
    w = TopicWriter(root, "kv", partitions=2)
    for i in range(12):
        w.append(i % 2, json.dumps({"key": f"k{i % 3}", "val": i}), key=f"k{i % 3}")
    rows = read_batch(spark, root, "kv", compacted="true").collect()
    vals = sorted(json.loads(bytes(r.value).decode())["val"] for r in rows)
    # per-partition compaction (partitions are independent): latest of
    # each (partition, key) pair
    assert vals == [6, 7, 8, 9, 10, 11]


def test_compacted_stream_matches_latest_per_key_batch(spark, tmp_path):
    """Differential (VERDICT r4 #6): the compacted STREAM read must
    produce exactly the rows of the q58-style latest-per-key BATCH
    query over the same ledgers. Keys route to a fixed partition (the
    broker's key-hash routing), so per-partition compaction equals
    global latest-per-key; ts_us increases with offset, so "latest
    offset" and "latest timestamp" agree — the same equivalence the
    reference relies on when readCompacted(true) stands in for a
    latest-value table (PulsarPartitionLevelConsumer.java:68)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    root = str(tmp_path / "b")
    w = TopicWriter(root, "ev", partitions=2, rollover_every=7)
    for i in range(60):
        uid = i % 7
        w.append(
            uid % 2,  # stable key→partition routing
            json.dumps(
                {"user_id": uid, "event_id": i, "ts_us": 1_000_000 * i, "value": i * 1.5}
            ),
            key=f"u{uid}",
        )
    schema = "user_id bigint, event_id bigint, ts_us bigint, value double"

    stream = read_stream(spark, root, "ev", compacted="true", maxmsgs=9)
    got = sorted(
        decode_json(_drain(stream, "t_cmp58", spark, str(tmp_path / "ck")), schema)
        .select("user_id", "event_id", "ts_us", "value")
        .collect()
    )

    # batch twin: full uncompacted read + the q58 latest-per-key shape
    full = decode_json(read_batch(spark, root, "ev"), schema)
    win = W.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    want = sorted(
        full.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts_us", "value")
        .collect()
    )
    assert got == want
    assert len(got) == 7  # one row per user key


def test_reference_namespaced_option_aliases(spark, tmp_path):
    """A config ported verbatim from the reference plugin works: the
    stream.pulsar.* camelCase keys (lowercased by Spark's option map)
    alias the short names (PulsarPartitionLevelStreamConfig.java:34-41),
    and a missing broker root raises like the reference's required-
    config check (:73-74)."""
    from pinot_pulsar_plugin_spark.sources.pulsarlike import (
        PulsarLikeBatchReader,
        PulsarLikeStreamReader,
    )

    root = str(tmp_path / "b")
    w = TopicWriter(root, "events", partitions=1)
    for i in range(25):
        w.append(0, json.dumps({"i": i}), key=f"k{i % 5}")

    r = PulsarLikeStreamReader(
        {
            "stream.pulsar.broker.list": root,
            "stream.pulsar.topic.name": "events",
            "stream.pulsar.consumer.maxmsgs": "7",
            "stream.pulsar.consumer.maxbytes": "999999",
        }
    )
    assert r.root == root and r.topic == "events" and r.max_msgs == 7
    first = r.latestOffset()
    assert list(first.values()) == [7]  # maxMsgs honored through alias

    b = PulsarLikeBatchReader(
        {"stream.pulsar.broker.list": root, "topic": "events",
         "stream.pulsar.readcompacted": "true"}
    )
    assert b.compacted is True

    with pytest.raises(ValueError):
        PulsarLikeStreamReader({"topic": "events"})  # no broker root


def test_read_range_yields_arrow_batches(tmp_path):
    """The executor read path must stay on the vectorized Arrow lane:
    one RecordBatch per bounded fetch, columns (value, offset,
    partition) — a regression to per-row tuples costs ~20% ingest
    throughput (tools_ingestbench)."""
    import json as _json

    import pyarrow as pa

    from pinot_pulsar_plugin_spark.sources.fakebroker import TopicWriter
    from pinot_pulsar_plugin_spark.sources.pulsarlike import _Range, _read_range

    root = str(tmp_path / "b")
    w = TopicWriter(root, "t", partitions=1)
    for i in range(7):
        w.append(0, _json.dumps({"i": i}))
    out = list(
        _read_range(_Range(root=root, topic="t", partition=0, start=0, end=7))
    )
    assert out and all(isinstance(b, pa.RecordBatch) for b in out)
    assert sum(b.num_rows for b in out) == 7
    assert out[0].schema.names == ["value", "offset", "partition"]


def test_native_batch_writer_round_trip(spark, tmp_path):
    """Full-duplex DataSource: df.write.format('pulsarlike') produces a
    topic through the two-phase staged-ledger protocol (parallel tasks,
    ledger-per-task, rename-on-commit), and the source reads every
    message back; compacted read serves latest-per-key from the sidecars
    the writer emitted."""
    import glob
    import json as _json

    from pinot_pulsar_plugin_spark.sources.pulsarlike import read_batch, register

    register(spark)
    root = str(tmp_path / "b")
    rows = [
        (_json.dumps({"i": i}).encode(), i % 3, f"k{i % 5}") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "value binary, partition int, key string")
    (
        df.repartition(4)
        .write.format("pulsarlike")
        .option("path", root)
        .option("topic", "out")
        .option("partitions", "3")
        .mode("append")
        .save()
    )
    assert not glob.glob(f"{root}/**/*.tmp", recursive=True)  # all committed
    back = read_batch(spark, root, "out")
    vals = sorted(_json.loads(bytes(r.value))["i"] for r in back.collect())
    assert vals == list(range(100))
    # offsets must be valid, strictly increasing per partition
    per_part = {}
    for r in back.collect():
        per_part.setdefault(r.partition, []).append(r.offset)
    for offs in per_part.values():
        assert offs == sorted(offs) and len(set(offs)) == len(offs)
    # compaction sidecars: latest-per-(partition, key) = 15 distinct pairs
    comp = read_batch(spark, root, "out", compacted=True)
    assert comp.count() == len({(i % 3, i % 5) for i in range(100)})
    # append-only contract
    import pytest as _pytest

    with _pytest.raises(Exception):
        df.write.format("pulsarlike").option("path", root).option(
            "topic", "out"
        ).mode("overwrite").save()


def test_stream_topic_to_topic_round_trip(spark, tmp_path):
    """Topic→transform→topic: the pulsarlike source feeds a structured
    stream whose sink is ANOTHER pulsarlike topic (the streaming
    producer). Every message arrives in the destination topic, readable
    by the batch source, uppercased by the in-flight transform."""
    import json as _json

    from pyspark.sql import functions as F

    from pinot_pulsar_plugin_spark.sources.fakebroker import TopicWriter
    from pinot_pulsar_plugin_spark.sources.pulsarlike import (
        read_batch,
        read_stream,
        register,
    )

    register(spark)
    root = str(tmp_path / "b")
    w = TopicWriter(root, "src", partitions=2)
    for i in range(30):
        w.append(i % 2, _json.dumps({"i": i, "s": f"msg{i}"}))

    transformed = (
        read_stream(spark, root, "src", maxmsgs=7)
        .select(
            F.encode(F.upper(F.decode("value", "UTF-8")), "UTF-8").alias("value"),
            F.col("partition"),
        )
    )
    q = (
        transformed.writeStream.format("pulsarlike")
        .option("path", root)
        .option("topic", "dst")
        .option("partitions", "2")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    back = read_batch(spark, root, "dst")
    got = sorted(_json.loads(bytes(r.value).lower())["i"] for r in back.collect())
    assert got == list(range(30))
    payloads = {bytes(r.value) for r in back.collect()}
    assert all(b'"S": "MSG' in p for p in payloads)  # transform applied


import random as _random

import pytest as _pytest


@_pytest.mark.parametrize("seed", range(8))
def test_fuzz_stream_batch_equivalence(seed, spark, tmp_path):
    """Seeded randomized differential over broker layouts: for random
    (partitions, ledger rollover, batch bound, payload sizes) the
    micro-batched STREAM must deliver exactly the BATCH read's
    (partition, offset, payload) set — no loss, no duplication, no
    reorder within a partition — regardless of how ledger boundaries
    and admission caps slice the range."""
    rng = _random.Random(31000 + seed)
    partitions = rng.choice([1, 2, 3, 5])
    rollover = rng.choice([3, 7, 25, 1000])
    maxmsgs = rng.choice([5, 9, 17, 1000])
    n = rng.randrange(30, 120)

    root = str(tmp_path / "b")
    w = TopicWriter(root, "fz", partitions=partitions, rollover_every=rollover)
    expect_per_part: dict[int, int] = {p: 0 for p in range(partitions)}
    for i in range(n):
        p = rng.randrange(partitions)
        payload = json.dumps({"i": i, "pad": "x" * rng.randrange(0, 40)})
        key = f"k{i % 5}" if rng.random() < 0.5 else None
        w.append(p, payload, key=key)
        expect_per_part[p] += 1

    stream = read_stream(spark, root, "fz", maxmsgs=maxmsgs)
    got = _drain(stream, f"t_fz{seed}", spark, str(tmp_path / "ck")).collect()
    batch = read_batch(spark, root, "fz").collect()

    def norm(rows):
        return sorted((r.partition, r.offset, bytes(r.value)) for r in rows)

    assert norm(got) == norm(batch)
    assert len(got) == n
    for p in range(partitions):
        offs = [r.offset for r in got if r.partition == p]
        assert len(offs) == expect_per_part[p]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)


def test_restart_with_changed_batch_bound(spark, tmp_path):
    """Operational case: a restart may ship a DIFFERENT admission cap
    (maxmsgs) than the checkpointed run used. The cursor lives in the
    checkpoint as plain offsets, so the bound change must only affect
    future micro-batch sizing — no loss, no replay."""
    root, ck, out = str(tmp_path / "b"), str(tmp_path / "ck"), str(tmp_path / "out")
    w = _write_events_topic(root, n=30, partitions=2)
    assert (
        _drain_to_parquet(read_stream(spark, root, "events", maxmsgs=7), spark, out, ck).count()
        == 30
    )
    for i in range(30, 54):
        w.append(i % 2, json.dumps({"event_id": i, "user_id": 0, "event_type": "view", "value": 1.0}))
    rows = _drain_to_parquet(
        read_stream(spark, root, "events", maxmsgs=3), spark, out, ck
    ).collect()
    ids = sorted(json.loads(bytes(r.value).decode())["event_id"] for r in rows)
    assert ids == list(range(54))


def test_writer_abort_leaves_no_visible_or_staged_data(tmp_path):
    """The two-phase writer's abort contract: staged .tmp ledgers are
    removed, nothing becomes reader-visible, and a later successful
    commit still works against the same topic. Driven at the staging
    API level (the same calls the executor/driver make)."""
    import glob
    import os

    from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker
    from pinot_pulsar_plugin_spark.sources.pulsarlike import (
        _discard_staged,
        _finalize_staged,
        _LedgerCommit,
    )

    root = str(tmp_path / "b")
    pdir = os.path.join(root, "t", "partition-0")
    os.makedirs(pdir)

    def stage(ledger: int, payload: bytes) -> _LedgerCommit:
        stem = os.path.join(pdir, f"ledger-{ledger:08d}")
        with open(stem + ".jsonl.tmp", "wb") as lf:
            lf.write(payload + b"\n")
        with open(stem + ".keys.tmp", "wb") as kf:
            kf.write(b"null\n")
        return _LedgerCommit(tmp_paths=(stem + ".jsonl.tmp", stem + ".keys.tmp"))

    # abort: tmp files vanish, broker sees an empty topic
    _discard_staged([stage(0, b'{"i": 0}'), None])
    assert glob.glob(os.path.join(pdir, "*")) == []
    broker = FakePulsarBroker(root)
    assert broker.latest_offset("t", 0) == broker.earliest_offset("t", 0)

    # a fresh commit after the abort becomes visible atomically
    _finalize_staged([stage(1, b'{"i": 1}')])
    files = sorted(os.path.basename(p) for p in glob.glob(os.path.join(pdir, "*")))
    assert files == ["ledger-00000001.jsonl", "ledger-00000001.keys"]
    assert not any(f.endswith(".tmp") for f in files)


def test_byte_bounding_micro_batches(spark, tmp_path):
    """maxbytes caps each micro-batch per partition by payload size
    (≈ BatchReceivePolicy maxNumBytes — the second admission bound,
    PulsarPartitionLevelStreamConfig.java defaults 10 MiB), end-to-end
    through the stream: batches stay under the cap in rows-worth of
    bytes, and every message still arrives exactly once."""
    root = str(tmp_path / "b")
    w = TopicWriter(root, "ev", partitions=1)
    payload = json.dumps({"pad": "x" * 100})  # ~110 bytes each
    for _ in range(30):
        w.append(0, payload)

    cap = (len(payload) + 1) * 3  # admits ~3 messages per batch
    df = read_stream(spark, root, "ev", maxbytes=str(cap))
    q = (
        df.writeStream.format("memory")
        .queryName("t_bytecap")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    progress = q.recentProgress
    q.stop()
    assert spark.sql("SELECT count(*) n FROM t_bytecap").first().n == 30
    sizes = [p["numInputRows"] for p in progress if p["numInputRows"] > 0]
    assert sizes and max(sizes) <= 4  # 3 full messages (+1 boundary admit)
    assert len(sizes) >= 8  # the cap actually split the backlog


def test_batch_read_honors_explicit_offset_bounds(spark, tmp_path):
    """Kafka-style startingOffsets/endingOffsets on the batch reader:
    scalar and per-partition JSON forms, end exclusive, clamped into
    [earliest, latest], inverted range reads nothing."""
    root = str(tmp_path / "b")
    _write_events_topic(root, n=40)  # 20 msgs per partition, offsets 0..19
    full = read_batch(spark, root, "events").collect()
    assert len(full) == 40

    # scalar start applies to both partitions
    part_tail = read_batch(spark, root, "events", startingoffsets="15").collect()
    assert len(part_tail) == 10
    assert all(r.offset >= 15 for r in part_tail)

    # per-partition JSON start + scalar exclusive end
    mid = read_batch(
        spark,
        root,
        "events",
        startingoffsets='{"0": 5, "1": 10}',
        endingoffsets="15",
    ).collect()
    by_p = {p: sorted(r.offset for r in mid if r.partition == p) for p in (0, 1)}
    assert by_p[0] == list(range(5, 15))
    assert by_p[1] == list(range(10, 15))

    # end beyond latest clamps; start beyond latest reads nothing
    assert len(read_batch(spark, root, "events", endingoffsets="999").collect()) == 40
    assert read_batch(spark, root, "events", startingoffsets="999").collect() == []

    # garbage must raise, never silently read the whole topic
    with pytest.raises(Exception):
        read_batch(spark, root, "events", startingoffsets="not-json").collect()


def test_backfill_then_stream_handoff_no_overlap_no_gap(spark, tmp_path):
    """The lambda-handoff pattern the bounded batch + startingOffsets
    pair exists for: batch-backfill everything up to a captured
    boundary E, then start the stream AT E — the union must equal the
    full topic exactly (no duplicate at the seam, no gap), including
    messages that arrive after the boundary was captured."""
    from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker

    root = str(tmp_path / "b")
    w = _write_events_topic(root, n=30)  # offsets 0..14 per partition

    broker = FakePulsarBroker(root)
    boundary = {
        str(p): broker.latest_offset("events", p) for p in (0, 1)
    }  # E: next-to-write per partition

    backfill = read_batch(
        spark, root, "events", endingoffsets=json.dumps(boundary)
    ).collect()
    assert len(backfill) == 30

    # late traffic lands after the boundary snapshot
    for i in range(30, 44):
        w.append(i % 2, json.dumps({"event_id": i, "user_id": i % 7,
                                    "event_type": "view", "value": 1.0}))

    live = _drain(
        read_stream(
            spark, root, "events", startingoffsets=json.dumps(boundary)
        ),
        "t_handoff",
        spark,
        str(tmp_path / "ck"),
    ).collect()
    assert len(live) == 14
    seam = {(r.partition, r.offset) for r in backfill} & {
        (r.partition, r.offset) for r in live
    }
    assert seam == set()
    union = {(r.partition, r.offset) for r in backfill} | {
        (r.partition, r.offset) for r in live
    }
    full = {(r.partition, r.offset) for r in read_batch(spark, root, "events").collect()}
    assert union == full


def test_decode_tolerates_schema_evolution(spark, tmp_path):
    """Producer-side schema drift must not break the consumer: messages
    with EXTRA fields decode cleanly (ignored), messages MISSING a
    projected field yield NULL for it (not a drop — only unparsable
    JSON drops), matching the reference decoder's field-projection
    semantics (PulsarJSONMessageDecoder fieldsToRead)."""
    root = str(tmp_path / "b")
    w = TopicWriter(root, "events", partitions=1)
    w.append(0, json.dumps({"event_id": 1, "user_id": 2, "event_type": "view",
                            "value": 1.0}))
    w.append(0, json.dumps({"event_id": 2, "user_id": 3, "event_type": "click",
                            "value": 2.0, "brand_new_field": {"nested": True}}))
    w.append(0, json.dumps({"event_id": 3, "event_type": "view"}))  # missing cols
    w.append(0, b"{broken")  # still dropped

    out = decode_json(read_batch(spark, root, "events"), EVENT_SCHEMA)
    rows = {r.event_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].value == 2.0  # extra field ignored, row intact
    assert rows[3].user_id is None and rows[3].value is None  # missing -> NULL


def test_timestamp_seek_batch_bounds(spark, tmp_path):
    """startingtimestamp/endingtimestamp resolve to per-partition
    offsets via the broker's publish-time index: the batch read
    returns exactly the messages published in [start_ts, end_ts),
    unstamped messages predate every target, and explicit offsets win
    over a timestamp on the same side."""
    import json

    from pinot_pulsar_plugin_spark.sources.fakebroker import TopicWriter
    from pinot_pulsar_plugin_spark.sources.pulsarlike import read_batch

    root = str(tmp_path / "b")
    w = TopicWriter(root, "t", partitions=2)
    T0 = 1_700_000_000_000_000
    for i in range(20):
        w.append(i % 2, json.dumps({"i": i}), publish_ts=T0 + i * 1_000_000)
    # two unstamped stragglers (pre-timestamp era)
    w.append(0, json.dumps({"i": 100}))
    w.append(1, json.dumps({"i": 101}))

    def vals(df):
        return sorted(
            json.loads(bytes(r.value))["i"] for r in df.collect()
        )

    # [T0+5s, T0+12s) -> i in 5..11 (unstamped 100/101 predate: absent)
    got = vals(
        read_batch(
            spark,
            root,
            "t",
            startingtimestamp=str(T0 + 5_000_000),
            endingtimestamp=str(T0 + 12_000_000),
        )
    )
    assert got == list(range(5, 12))
    # seek past the end reads nothing
    assert vals(read_batch(spark, root, "t", startingtimestamp=str(T0 + 10**9))) == []
    # explicit startingoffsets beats startingtimestamp
    got = vals(
        read_batch(
            spark,
            root,
            "t",
            startingoffsets="0",
            startingtimestamp=str(T0 + 15_000_000),
        )
    )
    assert 0 in got and 100 in got and 101 in got


def test_timestamp_seek_stream_starts_mid_topic(spark, tmp_path):
    """A stream with startingtimestamp begins at the first message
    published at/after the target — the backfill→stream handoff
    keyed by TIME instead of offsets."""
    import json

    from pinot_pulsar_plugin_spark.sources.decode import decode_json
    from pinot_pulsar_plugin_spark.sources.fakebroker import TopicWriter
    from pinot_pulsar_plugin_spark.sources.pulsarlike import read_stream

    root = str(tmp_path / "b")
    w = TopicWriter(root, "t", partitions=2)
    T0 = 1_700_000_000_000_000
    for i in range(16):
        w.append(i % 2, json.dumps({"i": i}), publish_ts=T0 + i * 1_000_000)

    decoded = decode_json(
        read_stream(
            spark, root, "t", startingtimestamp=str(T0 + 8_000_000), maxmsgs=5
        ),
        "i bigint",
    )
    q = (
        decoded.writeStream.format("memory")
        .queryName("ts_seek_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(r.i for r in spark.sql("select i from ts_seek_sink").collect())
    assert got == list(range(8, 16))


def test_stream_rejects_ending_bounds_batch_accepts(spark, tmp_path):
    """ADVICE r7 #3: ending bounds are batch-only. readStream with
    endingoffsets / endingtimestamp (either bare or via the
    stream.pulsar.* alias) must raise — Kafka-source parity; accepting
    and ignoring would hand a bounded-window request an unbounded
    stream with no warning. The SAME options on spark.read keep
    working (bounded batch is the supported path)."""
    import pytest as _pytest

    _write_events_topic(str(tmp_path / "b"), n=10, partitions=1)
    root = str(tmp_path / "b")

    for opts in (
        {"endingoffsets": '{"0": 5}'},
        {"endingtimestamp": "1700000000000005"},
        {"stream.pulsar.endingtimestamp": "1700000000000005"},
    ):
        with _pytest.raises(Exception, match="not supported on streaming"):
            df = read_stream(spark, root, "events", **opts)
            # some engine versions defer reader construction to start
            q = (
                df.writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / "ck_rej"))
                .start()
            )
            q.processAllAvailable()
            q.stop()

    # batch keeps honoring the identical options
    assert read_batch(
        spark, root, "events", endingoffsets='{"0": 5}'
    ).count() == 5


@pytest.mark.parametrize("seed", range(5))
def test_fuzz_writer_round_trip(seed, spark, tmp_path):
    """Property: for random binary payloads (any byte except the
    documented line-boundary set), random key mixes (None included),
    and random partition counts, write→read returns exactly the
    written multiset, per-partition offsets are strictly increasing,
    and a compacted read equals dict semantics (latest per
    (partition, key), all unkeyed rows survive)."""
    import random as _r

    from pinot_pulsar_plugin_spark.sources.pulsarlike import read_batch, register

    rng = _r.Random(101_000 + seed)
    register(spark)
    root = str(tmp_path / "b")
    forbidden = {0x0A, 0x0D, 0x0B, 0x0C, 0x1C, 0x1D, 0x1E}
    ok_bytes = [b for b in range(256) if b not in forbidden]

    n_parts = rng.randint(1, 4)
    rows = []
    for i in range(rng.randint(10, 80)):
        payload = bytes(rng.choices(ok_bytes, k=rng.randint(0, 40)))
        key = rng.choice([None, "a", "b", "c"])
        rows.append((payload, rng.randrange(n_parts), key, i))
    df = spark.createDataFrame(
        [(p, part, k) for p, part, k, _ in rows],
        "value binary, partition int, key string",
    )
    (
        df.repartition(rng.randint(1, 4))
        .write.format("pulsarlike")
        .option("path", root)
        .option("topic", "out")
        .option("partitions", str(n_parts))
        .mode("append")
        .save()
    )

    back = read_batch(spark, root, "out").collect()
    import collections

    assert collections.Counter(
        (bytes(r.value), r.partition) for r in back
    ) == collections.Counter((p, part) for p, part, _, _ in rows), seed
    per_part = {}
    for r in back:
        per_part.setdefault(r.partition, []).append(r.offset)
    for offs in per_part.values():
        assert offs == sorted(offs) and len(set(offs)) == len(offs)

    # compacted view vs dict semantics — keyed rows collapse to the
    # HIGHEST-offset payload per (partition, key); the writer assigns
    # offsets in its own task order, so derive truth from the read-back
    # (offset, key) stream rather than input order
    keys = {
        (r.partition, r.offset): None for r in back
    }  # offset->key needs the sidecar; recompute via broker
    from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker

    b = FakePulsarBroker(root)
    survivors = set()
    for part in range(n_parts):
        latest = {}
        unkeyed = []
        for off, _, key in b._scan("out", part, "keys"):
            if key is None:
                unkeyed.append(off)
            else:
                latest[key] = off
        survivors |= {(part, off) for off in unkeyed}
        survivors |= {(part, off) for off in latest.values()}
    comp = read_batch(spark, root, "out", compacted=True).collect()
    assert {(r.partition, r.offset) for r in comp} == survivors, seed


@pytest.mark.parametrize("seed", range(5))
def test_fuzz_decode_corruption_shapes(seed, spark, tmp_path):
    """Property: for random corruption shapes — truncated JSON, binary
    garbage, empty payloads, bare scalars, arrays — decode-or-drop
    keeps exactly the well-formed object rows (missing fields → NULL,
    extras ignored) and malformed_count equals the planted corruption
    count. Generalizes the static every-10th-malformed test to
    arbitrary corruption mixes (PulsarJSONMessageDecoder.java:62-73)."""
    import json as _json
    import random as _r

    from pinot_pulsar_plugin_spark.sources.decode import decode_json, malformed_count
    from pinot_pulsar_plugin_spark.sources.fakebroker import TopicWriter
    from pinot_pulsar_plugin_spark.sources.pulsarlike import read_batch

    rng = _r.Random(131_000 + seed)
    root = str(tmp_path / "b")
    w = TopicWriter(root, "ev", partitions=2)
    good_ids = []
    n_bad = 0
    for i in range(rng.randint(15, 60)):
        shape = rng.random()
        if shape < 0.5:  # well-formed; sometimes missing/extra fields
            row = {"event_id": i}
            if rng.random() < 0.8:
                row["user_id"] = i % 7
            if rng.random() < 0.3:
                row["surprise"] = "x"
            # JSON-legal leading whitespace (RFC 8259 §2) must be kept:
            # Jackson parses b'\t{...}' fine (the r8 ltrim-only guard
            # dropped these — ADVICE r8 #1). The jsonl fake broker
            # can't frame LF/CR payloads; those are covered directly in
            # test_decode_keeps_json_whitespace_prefixes below.
            ws = rng.choice(["", " ", "\t", " \t "])
            w.append(i % 2, ws + _json.dumps(row))
            good_ids.append(i)
        else:
            n_bad += 1
            bad = rng.choice([
                b"",                              # empty payload
                b"{truncated",                    # cut-off JSON
                bytes([seed % 200 + 1, 2, 3]),    # binary garbage
                b"42",                            # bare scalar
                b"[1, 2, 3]",                     # array, not object
                b'"just a string"',
                b"\t[1, 2]",                      # ws-prefixed non-object
                b"\t42",
            ])
            w.append(i % 2, bad)

    raw = read_batch(spark, root, "ev")
    decoded = decode_json(raw, "event_id bigint, user_id bigint")
    got = {r.event_id for r in decoded.collect()}
    assert got == set(good_ids), seed
    mc = malformed_count(raw, schema="event_id bigint, user_id bigint").first()
    assert (mc.n_total, mc.n_malformed) == (len(good_ids) + n_bad, n_bad), seed


def test_decode_keeps_json_whitespace_prefixes(spark):
    """ADVICE r8 #1: payloads with ANY JSON-legal leading whitespace
    (space, tab, LF, CR — RFC 8259 §2) are valid objects Jackson keeps;
    the ltrim-only guard (strips just ' ') silently dropped tab/LF/CR
    prefixes. Ws-prefixed NON-objects must still drop. Built as a
    direct DataFrame (the jsonl fake broker can't frame LF/CR bytes)."""
    from pinot_pulsar_plugin_spark.sources.decode import decode_json, malformed_count

    keep = ['{"event_id":1}', ' {"event_id":2}', '\t{"event_id":3}',
            '\n{"event_id":4}', '\r\n{"event_id":5}', ' \t\r\n {"event_id":6}']
    drop = ["\n[1,2]", "\t42", '\r"s"', "\n\ntrue", "\t", ""]
    rows = [(p.encode(), i, 0) for i, p in enumerate(keep + drop)]
    raw = spark.createDataFrame(rows, "value binary, offset long, partition int")
    decoded = decode_json(raw, "event_id bigint")
    assert {r.event_id for r in decoded.collect()} == {1, 2, 3, 4, 5, 6}
    mc = malformed_count(raw, schema="event_id bigint").first()
    assert (mc.n_total, mc.n_malformed) == (len(keep) + len(drop), len(drop))


def test_decode_jackson_strictness_parity(spark):
    """The reference parses with a DEFAULT ObjectMapper
    (PulsarJSONMessageDecoder.java:41): single-quoted strings and
    non-numeric numbers (NaN/Infinity) are PARSE ERRORS that drop the
    row (:69-72). Spark's from_json defaults both laxities ON, so the
    decoder pins allowSingleQuotes/allowNonNumericNumbers off —
    without that, these payloads would be silently kept."""
    from pinot_pulsar_plugin_spark.sources.decode import decode_json, malformed_count

    keep = [b'{"event_id":1}', b'{"event_id":2, "value": 0.5}']
    drop = [
        b"{'event_id':3}",                        # single-quoted field
        b'{"event_id":4,"value":NaN}',
        b'{"event_id":5,"value":Infinity}',
        b'{"event_id":6,"value":-Infinity}',
        b'{"event_id":7,"value":\'x\'}',          # single-quoted value
    ]
    rows = [(p, i, 0) for i, p in enumerate(keep + drop)]
    raw = spark.createDataFrame(rows, "value binary, offset long, partition int")
    decoded = decode_json(raw, "event_id bigint, value double")
    assert {r.event_id for r in decoded.collect()} == {1, 2}
    mc = malformed_count(raw, schema="event_id bigint, value double").first()
    assert (mc.n_total, mc.n_malformed) == (len(keep) + len(drop), len(drop))


def test_decode_typing_boundary_pinned(spark):
    """Schema-on-read boundary (documented divergence): payloads that
    PARSE under strict Jackson but can't BIND to the typed schema —
    quoted numbers, float literals for bigint, bigint overflow — drop
    here, while the reference plugin would pass them through untyped
    (Pinot coerces downstream, outside the plugin). Jackson-matching
    leniencies stay kept: trailing tokens after the object
    (FAIL_ON_TRAILING_TOKENS off), first-of-concatenated-objects,
    last-wins duplicate keys."""
    from pinot_pulsar_plugin_spark.sources.decode import decode_json

    rows = [
        (b'{"event_id":1} trailing junk', 0, 0),
        (b'{"event_id":2}{"event_id":30}', 1, 0),
        (b'{"event_id":4,"event_id":5}', 2, 0),
        (b'{"event_id":"8"}', 3, 0),
        (b'{"event_id":7.9}', 4, 0),
        (b'{"event_id":123456789012345678901234567890}', 5, 0),
    ]
    raw = spark.createDataFrame(rows, "value binary, offset long, partition int")
    decoded = decode_json(raw, "event_id bigint")
    assert {r.event_id for r in decoded.collect()} == {1, 2, 5}


def test_decode_keeps_utf8_bom_prefix(spark):
    """ADVICE r9 #1: Jackson's byte-source bootstrapper strips a UTF-8
    BOM (EF BB BF) before parsing, so a BOM-prefixed object payload is
    KEPT by the reference decoder. The engine strips one leading
    U+FEFF before the from_json parse and the '{' object guard.
    BOM-prefixed NON-objects and bare/duplicated BOMs still drop
    (Jackson strips exactly one BOM at stream start)."""
    from pinot_pulsar_plugin_spark.sources.decode import decode_json, malformed_count

    bom = b"\xef\xbb\xbf"
    keep = [bom + b'{"event_id":1}', bom + b' {"event_id":2}',
            bom + b'\n{"event_id":3}', b'{"event_id":4}']
    drop = [bom + b"[1,2]", bom + b"42", bom, bom + bom + b'{"event_id":9}',
            b" " + bom + b'{"event_id":9}']  # BOM only valid at byte 0
    rows = [(p, i, 0) for i, p in enumerate(keep + drop)]
    raw = spark.createDataFrame(rows, "value binary, offset long, partition int")
    decoded = decode_json(raw, "event_id bigint")
    assert {r.event_id for r in decoded.collect()} == {1, 2, 3, 4}
    mc = malformed_count(raw, schema="event_id bigint").first()
    assert (mc.n_total, mc.n_malformed) == (len(keep) + len(drop), len(drop))


def test_fresh_checkpoint_over_acked_topic_reads_every_row(spark, tmp_path):
    """A fresh checkpoint over a topic an earlier query already acked:
    admission starts at the ack-recovered cursor (offset 30), ahead of
    Spark's start (earliest), so the first micro-batch must read the
    whole [0, 40) range, not only the 10 admitted messages."""
    from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker

    root = str(tmp_path / "b")
    w = TopicWriter(root, "t", partitions=1, rollover_every=1000)
    for i in range(40):
        w.append(0, json.dumps({"i": i}))
    FakePulsarBroker(root).acknowledge_cumulative("t", 0, 29)

    out = _drain(
        read_stream(spark, root, "t", maxmsgs=10), "t_acked_fresh", spark, str(tmp_path / "ck")
    ).collect()
    ids = sorted(json.loads(bytes(r.value))["i"] for r in out)
    assert ids == list(range(40))


def test_restart_replays_uncommitted_batch(spark, tmp_path):
    """A batch whose commit never landed is planned again on restart
    with its logged offsets; nothing has it cached, so the executor
    reads it through readBetweenOffsets. Every row lands exactly once,
    the replayed batch with exactly its first rows."""
    import os

    root, ck = str(tmp_path / "b"), str(tmp_path / "ck")
    w = _write_events_topic(root, n=30, partitions=2)

    def run() -> dict[int, list[int]]:
        got: dict[int, list[int]] = {}

        def collect(df, batch_id):
            got[batch_id] = sorted(
                json.loads(bytes(r.value))["event_id"] for r in df.collect()
            )

        q = (
            read_stream(spark, root, "events", maxmsgs=4)
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return got

    first = run()
    last = max(first)
    os.remove(os.path.join(ck, "commits", str(last)))
    os.remove(os.path.join(ck, "commits", f".{last}.crc"))
    for i in range(30, 45):
        w.append(i % 2, json.dumps({"event_id": i, "user_id": 0, "event_type": "view", "value": 1.0}))

    second = run()
    assert min(second) == last and second[last] == first[last] != []
    delivered = {**first, **second}  # a replayed batch id replaces its first delivery
    ids = sorted(i for rows in delivered.values() for i in rows)
    assert ids == list(range(45))


@pytest.mark.parametrize("seed", range(10))
def test_prefetch_read_matches_range_read(seed, tmp_path):
    """Differential, no Spark: on random topics (rollover gaps, byte
    caps, compaction, explicit starting offsets, an ack sidecar),
    ``read(start)`` of the prefetch reader returns the rows of
    ``_read_range`` over ``partitions(start, end)``, and its end offset
    is the ``latestOffset()`` of a stream reader built at the same time,
    batch after batch."""
    import random as _r

    from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker
    from pinot_pulsar_plugin_spark.sources.pulsarlike import (
        PulsarLikePrefetchReader,
        PulsarLikeStreamReader,
        _read_range,
    )

    def rows(batches):
        return [
            (o, v, p)
            for b in batches
            for v, o, p in zip(*(b.column(c).to_pylist() for c in ("value", "offset", "partition")))
        ]

    rng = _r.Random(171_000 + seed)
    for t in range(4):
        root = str(tmp_path / f"b{t}")
        n_parts = rng.randint(1, 3)
        w = TopicWriter(root, "t", partitions=n_parts, rollover_every=rng.choice([2, 5, 50]))
        offs: dict[int, list[int]] = {p: [] for p in range(n_parts)}
        for i in range(rng.randint(0, 60)):
            p = rng.randrange(n_parts)
            if rng.random() < 0.05:
                w.set_ledger(p, w._state[p][0] + rng.randint(2, 4))
            payload = json.dumps({"i": i, "pad": "x" * rng.randint(0, 30)})
            offs[p].append(w.append(p, payload, key=rng.choice([None, "a", "b"])))
        opts = {"path": root, "topic": "t", "maxmsgs": str(rng.choice([1, 3, 7, 500]))}
        if rng.random() < 0.5:
            opts["maxbytes"] = str(rng.choice([1, 40, 120]))
        if rng.random() < 0.3:
            opts["compacted"] = "true"
        if rng.random() < 0.3:
            opts["startingoffsets"] = json.dumps(
                {str(p): rng.choice(o or [0]) for p, o in offs.items()}
            )
        broker = FakePulsarBroker(root)
        for p, o in offs.items():
            if o and rng.random() < 0.4:
                broker.acknowledge_cumulative("t", p, rng.choice(o))

        prefetch = PulsarLikePrefetchReader(opts)
        stream = PulsarLikeStreamReader(opts)
        planner = PulsarLikeStreamReader(opts)
        start = prefetch.initialOffset()
        for _ in range(60):
            it, end = prefetch.read(start)
            assert end == stream.latestOffset(), (seed, t, opts)
            want = [b for r in planner.partitions(start, end) for b in _read_range(r)]
            assert rows(it) == rows(want), (seed, t, opts, start, end)
            if end == start:
                break
            start = end
        else:
            raise AssertionError("admission never reached the head")


def _spark_stream_reader(options: dict):
    """The reader Spark's streaming planner builds for a pulsarlike
    source, with no Spark session."""
    from pyspark.sql.datasource_internal import _streamReader
    from pyspark.sql.types import BinaryType, IntegerType, LongType, StructField, StructType

    from pinot_pulsar_plugin_spark.sources.pulsarlike import PulsarLikeDataSource

    schema = StructType(
        [
            StructField("value", BinaryType()),
            StructField("offset", LongType()),
            StructField("partition", IntegerType()),
        ]
    )
    return _streamReader(PulsarLikeDataSource(options), schema)


def test_stream_source_takes_the_prefetch_path(tmp_path):
    """Spark prefetches on the driver only when the source's
    streamReader raises: a streamReader that returned a reader for every
    source would turn prefetching off without failing any other test. A
    compacted source keeps one executor read task per topic partition."""
    from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper

    from pinot_pulsar_plugin_spark.sources.pulsarlike import PulsarLikeStreamReader

    root = str(tmp_path / "b")
    _write_events_topic(root, n=4, partitions=1)
    reader = _spark_stream_reader({"path": root, "topic": "events"})
    assert isinstance(reader, _SimpleStreamReaderWrapper)
    compacted = _spark_stream_reader({"path": root, "topic": "events", "compacted": "true"})
    assert isinstance(compacted, PulsarLikeStreamReader)


def test_first_offer_after_restart_reads_no_history_on_the_driver(tmp_path, monkeypatch):
    """After a restart whose last batch was committed, Spark's prefetch
    wrapper makes its first offer from ``initialOffset()`` (earliest),
    while the ack-recovered cursor sits at the committed position. Spark
    plans that batch from the committed position, so the offer misses
    the prefetch cache: the driver must not have read the history
    behind it, and the planned batch is read by ``readBetweenOffsets``."""
    from pyspark.sql.datasource_internal import SimpleInputPartition

    from pinot_pulsar_plugin_spark.sources import pulsarlike
    from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker

    root = str(tmp_path / "b")
    w = TopicWriter(root, "t", partitions=1, rollover_every=50)
    offs = [w.append(0, json.dumps({"i": i})) for i in range(500)]
    FakePulsarBroker(root).acknowledge_cumulative("t", 0, offs[489])
    ranges: list[tuple[int, int]] = []
    real_read_range = pulsarlike._read_range

    def recording_read_range(rng):
        ranges.append((rng.start, rng.end))
        return real_read_range(rng)

    monkeypatch.setattr(pulsarlike, "_read_range", recording_read_range)
    reader = _spark_stream_reader({"path": root, "topic": "t", "maxmsgs": "5"})
    committed = {"0": offs[490]}
    end = reader.latestOffset()
    assert end == {"0": offs[495]}
    reader.partitions(committed, end)
    assert reader.getCache(committed, end) is None
    assert ranges == []
    replayed = [
        o for b in reader.read(SimpleInputPartition(committed, end))
        for o in b.column("offset").to_pylist()
    ]
    assert replayed == offs[490:495]
    assert ranges == [(offs[490], offs[495])]


def test_shipped_package_zip_follows_the_source(tmp_path, monkeypatch):
    """Workers import the shipped zip ahead of PYTHONPATH, so a zip
    built from older code must never be shipped again: after a module
    is edited, a new zip is built and it holds the edited sources."""
    import os
    import shutil
    import tempfile
    import zipfile

    import pinot_pulsar_plugin_spark as pkg
    from pinot_pulsar_plugin_spark.sources.pulsarlike import _ship_package

    copy = tmp_path / "src" / "pinot_pulsar_plugin_spark"
    shutil.copytree(os.path.dirname(pkg.__file__), copy)
    monkeypatch.setattr(pkg, "__file__", str(copy / "__init__.py"))
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    shipped: list[str] = []

    class _Context:
        addPyFile = staticmethod(shipped.append)

    class _Spark:
        sparkContext = _Context()

    def checkout() -> dict[str, bytes]:
        return {
            str(p.relative_to(copy.parent)): p.read_bytes() for p in copy.rglob("*.py")
        }

    def zipped(path: str) -> dict[str, bytes]:
        with zipfile.ZipFile(path) as zf:
            return {n: zf.read(n) for n in zf.namelist()}

    _ship_package(_Spark())
    assert zipped(shipped[-1]) == checkout()
    with open(copy / "sources" / "fakebroker.py", "a") as fh:
        fh.write("\nEDITED = True\n")
    _ship_package(_Spark())
    assert shipped[0] != shipped[1]
    assert zipped(shipped[1]) == checkout()
