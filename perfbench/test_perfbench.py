"""Tests for the benchmark itself: tiny runs of every workload, and the
correctness checks counting lost, duplicated or wrong output as failed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pyarrow as pa
import pytest
from pyspark.errors import StreamingQueryException

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import common  # noqa: E402
import ingest  # noqa: E402
import querymix  # noqa: E402
import run as bench  # noqa: E402
from datagen import PayloadGen, write_tables  # noqa: E402
from spans import Tracer  # noqa: E402

SPEC = bench.load_spec()
E2E = [m["name"] for m in SPEC["end_to_end"]]
LAYERS = [m["name"] for m in SPEC["per_layer"]]


@pytest.fixture
def tiny(monkeypatch):
    """Shrink every workload to a few seconds."""
    monkeypatch.setattr(ingest, "SETTLE_BATCHES", 0)
    monkeypatch.setattr(ingest, "BACKLOG_MSGS_PER_S", 300)
    monkeypatch.setattr(ingest, "LIVE_RATE", 200)
    monkeypatch.setattr(ingest, "LIVE_SETTLE_S", 0.5)
    monkeypatch.setattr(querymix, "MIX", ("q01_pricing_summary", "m56_decode_pipeline"))
    monkeypatch.setattr(querymix, "SF", 0.001)


def _check_line(res, trace: bool) -> dict:
    line = bench.result_line(res, SPEC, trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert list(line["metrics"]) == (LAYERS if trace else E2E)
    json.dumps(line)
    return line


@pytest.mark.parametrize(
    "workload,trace",
    [("ingest", False), ("ingest", True), ("query_mix", False), ("query_mix", True)],
)
def test_tiny_run(tiny, workload, trace):
    res = bench.run_workload(workload, 7, 2, trace)
    line = _check_line(res, trace)
    assert line["correct"], res.notes
    assert line["attempted"] > 0 and line["failed"] == 0
    if not trace:
        assert all(v["value"] > 0 for v in line["metrics"].values()), line
    elif workload == "query_mix":
        assert line["metrics"]["exec.jobs"]["value"] > 0
        assert line["metrics"]["fakebroker.fetch_ms"]["value"] == 0  # idle layer
    else:
        assert line["metrics"]["fakebroker.fetch_msgs"]["value"] > 0
        assert line["metrics"]["decode.dropped"]["value"] >= 0
        assert line["metrics"]["exec.jobs"]["value"] == 0  # idle layer


def _topic(tmp_path, n: int) -> ingest.Topic:
    topic = ingest.Topic(str(tmp_path), "t", PayloadGen(3, malformed_share=0.2), 10)
    for _ in range(n):
        topic.append(0)
    return topic


def _landed(ids: list[int]) -> pa.Table:
    return pa.table({"event_id": ids, "created_us": [0] * len(ids), "batch_id": [0] * len(ids)})


def _progress(rows: int) -> list:
    return [SimpleNamespace(numInputRows=rows)]


def test_exact_delivery_passes(tmp_path):
    topic = _topic(tmp_path, 50)
    assert 0 < topic.malformed < 50
    res = common.Result()
    ingest.check_landed(res, topic, _landed(topic.well_formed), _progress(50))
    assert res.failed == 0, res.notes


def test_lost_message_is_a_failure(tmp_path):
    topic = _topic(tmp_path, 50)
    res = common.Result()
    ingest.check_landed(res, topic, _landed(topic.well_formed[1:]), _progress(50))
    assert res.failed > 0 and any("lost" in n for n in res.notes)


def test_duplicate_delivery_is_a_failure(tmp_path):
    topic = _topic(tmp_path, 50)
    res = common.Result()
    ids = topic.well_formed + topic.well_formed[:1]
    ingest.check_landed(res, topic, _landed(ids), _progress(50))
    assert res.failed > 0 and any("duplicate" in n for n in res.notes)


def test_kept_malformed_message_is_a_failure(tmp_path):
    topic = _topic(tmp_path, 50)
    bad = next(i for i in range(50) if i not in set(topic.well_formed))
    res = common.Result()
    ingest.check_landed(res, topic, _landed(topic.well_formed + [bad]), _progress(50))
    assert res.failed > 0


class _StubQuery:
    """A streaming query whose ``processAllAvailable`` raises ``fails``
    times across its restarts."""

    def __init__(self, batches: list[int], fails: list[int]):
        self.recentProgress = [SimpleNamespace(batchId=b, numInputRows=10) for b in batches]
        self.fails = fails

    def processAllAvailable(self):
        if self.fails[0]:
            self.fails[0] -= 1
            raise StreamingQueryException(message="IndexError: list index out of range")


def test_failed_stream_is_restarted_and_counted():
    fails = [1]
    pipe = ingest.Pipeline.__new__(ingest.Pipeline)
    pipe.res, pipe.failed_progress = common.Result(), []
    pipe.query = _StubQuery([0, 1, 2], fails)
    # the restarted query re-runs batch 2, then goes on
    pipe.start = lambda: _StubQuery([2, 3], fails)
    pipe.drain()
    assert pipe.res.failed == 1 and "IndexError" in pipe.res.notes[0]
    assert [p.batchId for p in pipe.progress()] == [0, 1, 2, 3]


def test_wrong_query_result_is_a_failure(tmp_path):
    sf_dir = str(tmp_path / "tables")
    write_tables(sf_dir, 5, 0.001)
    ws, spark = common.Workspace("test_wrong_result"), None
    try:
        spark, _ = common.start_spark(ws)
        mix = ("q01_pricing_summary", "m56_decode_pipeline")
        oracle = dict(querymix.all_oracle_sql())
        # same columns, one row short: the check must count it
        oracle["m56_decode_pipeline"] = oracle["m56_decode_pipeline"] + " LIMIT 3"
        res = common.Result()
        querymix.verify_round(spark, sf_dir, querymix.all_queries(), oracle, res, mix)
        assert res.attempted == 2 and res.failed == 1, res.notes
        assert "m56_decode_pipeline" in res.notes[0]
    finally:
        if spark is not None:
            common.stop_spark(spark)
        ws.close()


def test_inputs_follow_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    write_tables(a, 1, 0.001)
    write_tables(b, 1, 0.001)
    write_tables(c, 2, 0.001)
    for name in ("lineitem", "documents", "embeddings"):
        with open(os.path.join(a, f"{name}.parquet"), "rb") as fa, \
                open(os.path.join(b, f"{name}.parquet"), "rb") as fb, \
                open(os.path.join(c, f"{name}.parquet"), "rb") as fc:
            da = fa.read()
            assert da == fb.read() and da != fc.read()
    g1, g2 = PayloadGen(1), PayloadGen(2)
    assert [g1.payload(i, 0) for i in range(20)] == [PayloadGen(1).payload(i, 0) for i in range(20)]
    assert [g1.payload(i, 0) for i in range(20)] != [g2.payload(i, 0) for i in range(20)]


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.add("parent", 0.0, 10.0)
    pid = tr.spans[-1].id
    tr.add("child", 1.0, 4.0, parent=pid)
    tr.add("child", 3.0, 6.0, parent=pid)  # overlaps the first child
    selfs = tr.self_times()
    assert selfs["parent"] == [pytest.approx(5.0)]
    assert sorted(selfs["child"]) == [pytest.approx(3.0), pytest.approx(3.0)]
    assert Tracer(False).self_times() == {}


def test_missing_end_to_end_metric_is_an_error():
    res = common.Result()
    res.put("setup_s", 1.0, "s")
    with pytest.raises(RuntimeError):
        bench.result_line(res, SPEC, False)
