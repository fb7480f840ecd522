"""``query_mix``: one client, closed loop, in a warm long-lived session.

Runs a fixed mix of registry queries into the ``noop`` sink, in whole
rounds, as many as fit ``--seconds`` at a nominal 8 s per round. Each
query's cold first run is part of set-up; it also collects the result
and checks it against the DuckDB oracle (row count and
order-insensitive value hash, the rules of ``tests/oracle_harness.py``).
"""

from __future__ import annotations

import os
import time

from common import (
    OUT_ROOT, Result, Workspace, log, mean, report,
    start_spark, stop_spark,
)
from datagen import write_tables
from pinot_pulsar_plugin_spark.registry import all_oracle_sql, all_queries
from spans import Tracer
from tests.oracle_harness import compare, duck_connection

MIX = (
    "q01_pricing_summary",
    "q08_join_broadcast_agg",
    "q09_join_multiway",
    "q23_window_running_sum",
    "q29_sessionize",
    "st57_tumbling_window",
    "d44_ngram_jaccard_pairs",
    "d52_prefix_filter_jaccard",
    "d48_embedding_neardup_lsh",
    "s50_ann_ivf_topk",
    "t69_bm25_search",
    "m56_decode_pipeline",
    "q105_pagerank_transactions",
)
# sf0.01-sized tables: the cold round takes about 25 s and a warm round
# 6-9 s on 4 cores, so a run stays about a minute.
SF = 0.01
# The pass is a whole number of rounds, sized to ``--seconds`` at this
# nominal round time, so that every run measures the same work: stopping
# on the clock instead makes the last round's presence depend on the
# host's speed, and with it the composition of the latency sample.
ROUND_S = 8.0


class _Collected:
    """Adapter giving ``compare`` an already collected result."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def verify_round(spark, sf_dir: str, queries, oracle, res: Result, mix) -> float:
    """Cold first run of every query, collected and checked against the
    oracle. Returns the seconds Spark spent (the check is not timed)."""
    con = duck_connection(sf_dir)
    spent = 0.0
    for name in mix:
        res.attempted += 1
        try:
            t0 = time.perf_counter()
            got = queries[name](spark, sf_dir).toPandas()
            spent += time.perf_counter() - t0
            want = con.sql(oracle[name]).arrow().to_pandas(date_as_object=True)
            problems = compare(name, _Collected(got), want)
        except Exception as exc:  # a query that raises is a failed operation
            problems = [f"{name}: {type(exc).__name__}: {exc}"]
        res.fail(len(problems) > 0, "; ".join(problems)[:500])
    con.close()
    return spent


def storage_mib(spark) -> tuple[float, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20, len(infos)


def _stage_totals(spark, group: str) -> dict[str, float]:
    """Jobs, tasks, executor time, shuffle and spill of one job group,
    read from Spark's status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tot = dict(jobs=0, tasks=0, run_ms=0, sh_read=0, sh_write=0, spill=0)
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        tot["jobs"] += 1
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = store.lastStageAttempt(sid)
            tot["tasks"] += st.numCompleteTasks()
            tot["run_ms"] += st.executorRunTime()
            tot["sh_read"] += st.shuffleReadBytes()
            tot["sh_write"] += st.shuffleWriteBytes()
            tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return tot


def timed_pass(spark, sf_dir: str, queries, rounds: int, tracer: Tracer,
               res: Result, mix) -> tuple[list[float], float, list[str]]:
    """``rounds`` whole rounds of the mix. Returns the per-query
    latencies, the pass length and the job groups used."""
    sc = spark.sparkContext
    lat, groups = [], []
    t_start = time.perf_counter()
    i = 0
    for _ in range(rounds):
        for name in mix:
            group = f"{name}#{i}"
            groups.append(group)
            sc.setJobGroup(group, name, False)
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("query", query=name):
                    with tracer.span("operators.build"):
                        df = queries[name](spark, sf_dir)
                    if tracer.enabled:
                        with tracer.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                res.fail(1, f"{name}: {type(exc).__name__}: {exc}"[:500])
            lat.append(time.perf_counter() - t0)
            i += 1
    elapsed = time.perf_counter() - t_start
    sc.setJobGroup("", "", False)
    return lat, elapsed, groups


def run(seed: int, seconds: int, trace: bool) -> Result:
    res, tracer = Result(), Tracer(trace)
    ws, spark = Workspace("query_mix"), None
    try:
        sf_dir = ws.path("tables")
        write_tables(sf_dir, seed, SF)
        spark, session_s = start_spark(ws)
        queries, oracle = all_queries(), all_oracle_sql()
        with tracer.span("setup.cold_round"):
            cold_s = verify_round(spark, sf_dir, queries, oracle, res, MIX)
        res.put("setup_s", session_s + cold_s, "s")

        rounds = max(1, round(seconds / ROUND_S))
        lat, elapsed, groups = timed_pass(spark, sf_dir, queries, rounds, tracer, res, MIX)
        cache, rdds = storage_mib(spark)
        res.put("caching.storage_mib", cache, "MiB")
        res.put("caching.rdds", rdds, "count")
        log(f"query_mix: {len(lat)} queries in {elapsed:.2f} s, cache {cache:.2f} MiB")
        report(res, trace, len(lat) / elapsed, lat)
        if trace:
            selfs = tracer.self_times()
            res.put("operators.build_s", mean(selfs.get("operators.build", [])), "s")
            res.put("catalyst.plan_s", mean(selfs.get("catalyst.plan", [])), "s")
            res.put("exec.wall_s", mean(selfs.get("exec", [])), "s")
            tots = [_stage_totals(spark, g) for g in groups]
            res.put("exec.jobs", mean([t["jobs"] for t in tots]), "count")
            res.put("exec.tasks", mean([t["tasks"] for t in tots]), "count")
            res.put("exec.executor_run_s", mean([t["run_ms"] for t in tots]) / 1e3, "s")
            res.put("exec.shuffle_read_mib", mean([t["sh_read"] for t in tots]) / 2**20, "MiB")
            res.put("exec.shuffle_write_mib", mean([t["sh_write"] for t in tots]) / 2**20, "MiB")
            res.put("exec.spill_mib", mean([t["spill"] for t in tots]) / 2**20, "MiB")
            res.put("trace.spans", len(tracer.spans), "count")
            os.makedirs(OUT_ROOT, exist_ok=True)
            tracer.write(os.path.join(OUT_ROOT, f"trace-query_mix-seed{seed}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        ws.close()
    return res
