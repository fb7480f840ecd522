"""bench.py stdout contract: the driver stores only the LAST 2,000
bytes of stdout and JSON-parses the final line. Rounds 5 and 6 both
shipped ``parsed: null`` because the per-query map rode on the final
line and outgrew the window (3,150 bytes at 106 queries). The
emission is now a fixed field set; these tests pin that invariant so
headline-set growth can never truncate it again (VERDICT r6 #1)."""

from __future__ import annotations

import json

import bench


def test_line_under_1kb_regardless_of_headline_count():
    # the line's size must not depend on n_queries: simulate absurd
    # suite sizes and totals and require 2x the judge's 10x-headroom
    # bar (2,000-byte window -> <=200 bytes ... we assert <1,024 as
    # directed, and <200 for the actual shape).
    for n in (1, 106, 500, 100_000):
        line = bench.compact_headline_line(987654.321, n, 0.1, details_sha="a" * 12)
        assert len(line.encode()) < 1024
        # r14 added the fixed-size details pointer + 12-hex content
        # hash (VERDICT r13 #2): the shape bound moves 200 -> 300,
        # still >6x headroom under the 2,000-byte tail window.
        assert len(line.encode()) < 300
        assert "\n" not in line


def test_line_is_one_json_object_with_driver_fields():
    line = bench.compact_headline_line(72.345, 106, 0.1, details_sha="beef00112233")
    obj = json.loads(line)
    assert obj == {
        "metric": "headline_suite_wall",
        "value": 72.345,
        "unit": "sec",
        "sf": 0.1,
        "n_queries": 106,
        "sum_of_mins": 72.345,
        "wall_sec": None,
        "load_1m": None,
        "details": "bench_details.json",
        "details_sha256": "beef00112233",
    }
    # the per-query map must NOT be on stdout (the r5/r6 failure mode)
    assert "queries" not in obj


def test_line_carries_load_attribution_fields():
    """VERDICT r12 #2: the parsed stdout block must let a reader
    distinguish host load from code drift without bench_details —
    sum_of_mins (load-insensitive headline, == value), wall_sec (true
    elapsed, load-sensitive), and a fixed-size loadavg summary. The
    line must stay under the 1 KB ceiling with all fields populated."""
    load = {"min": 1.02, "mean": 5.37, "max": 12.81}
    line = bench.compact_headline_line(123456.789, 100_000, 0.1, 987654.321, load)
    obj = json.loads(line)
    assert obj["sum_of_mins"] == obj["value"] == 123456.789
    assert obj["wall_sec"] == 987654.321
    assert obj["load_1m"] == load
    assert len(line.encode()) < 1024
    assert "\n" not in line


def test_read_load1m_returns_float_or_none():
    load = bench._read_load1m()
    assert load is None or (isinstance(load, float) and load >= 0.0)


def test_line_survives_a_2000_byte_tail_window():
    # reproduce the driver's capture: keep only the last 2,000 bytes
    # of a stdout that ends with our line; the line must parse intact.
    noise = "x" * 5000 + "\n"
    line = bench.compact_headline_line(72.345, 106, 0.1)
    stdout = noise + line + "\n"
    tail = stdout[-2000:]
    last = tail.strip().splitlines()[-1]
    assert json.loads(last)["value"] == 72.345


def test_load_prior_recovers_per_query_map_from_details(tmp_path, monkeypatch):
    """ADVICE r7 #2: compact-era BENCH_r*.json payloads carry no
    per-query map, so _load_prior must splice it in from the SAME
    run's bench_details.json (guarded by sf + total equality) — else
    _verdicts marks every query 'new' forever and the round-over-round
    regression detector silently dies."""
    parsed = {"metric": "headline_suite_wall", "value": 10.5, "unit": "sec",
              "sf": 0.1, "n_queries": 2}
    (tmp_path / "BENCH_r09.json").write_text(json.dumps({"parsed": parsed}))
    details = dict(parsed, queries={"q01": 4.0, "q02": 6.5},
                   spread={"q01": 0.1, "q02": 0.2})
    (tmp_path / "bench_details.json").write_text(json.dumps(details))
    monkeypatch.setattr(bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py"))
    prior = bench._load_prior()
    assert prior["queries"] == {"q01": 4.0, "q02": 6.5}
    assert prior["spread"] == {"q01": 0.1, "q02": 0.2}
    # A details file from a DIFFERENT run (total mismatch) must not be
    # trusted: fall back to the bare parsed payload.
    (tmp_path / "bench_details.json").write_text(
        json.dumps(dict(details, value=99.0)))
    prior = bench._load_prior()
    assert "queries" not in prior
    # Legacy payloads that still carry their own map pass through.
    with_map = dict(parsed, queries={"q01": 1.0})
    (tmp_path / "BENCH_r10.json").write_text(json.dumps({"parsed": with_map}))
    assert bench._load_prior()["queries"] == {"q01": 1.0}


def test_load_prior_survives_null_value_details(tmp_path, monkeypatch):
    """ADVICE r8 #4: a bench_details.json carrying value: null (the
    BENCH_r05 broken-artifact class) made the same-run subtraction
    raise TypeError and crash the whole bench run; it must degrade to
    the bare parsed payload instead."""
    parsed = {"metric": "headline_suite_wall", "value": 10.5, "unit": "sec",
              "sf": 0.1, "n_queries": 2}
    (tmp_path / "BENCH_r09.json").write_text(json.dumps({"parsed": parsed}))
    details = dict(parsed, value=None, queries={"q01": 4.0})
    (tmp_path / "bench_details.json").write_text(json.dumps(details))
    monkeypatch.setattr(bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py"))
    prior = bench._load_prior()
    assert prior == parsed  # no crash, no splice from the broken file


def test_recompiles_counts_only_samples_after_the_first():
    """bench_details.json's ``recompiles`` map: the codegen compile
    counter is read before a query's first sample and after each
    sample; the first sample's compiles are the cold cost, and any
    compile after it is a warm-session recompile."""
    readings = {
        "warm": [100, 140, 140, 140],  # 40 cold, then all cache hits
        "evicting": [140, 180, 210, 245, 280],  # 5 samples, recompiling
        "single": [280, 290],  # one sample: nothing after the first
    }
    assert bench.recompiles(readings) == {"warm": 0, "evicting": 100, "single": 0}
    # the final stdout line does not carry the map
    assert "recompiles" not in json.loads(bench.compact_headline_line(1.0, 2, 0.1))
