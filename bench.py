#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Materialization uses the noop sink (full execution, no collect/IO
skew); one warm-up query amortizes JVM/codegen startup so the numbers
reflect plan execution, not session boot. Each query runs 3 times and
the min is kept; when the 3 samples disagree by more than the min
itself (noise-burst detection — shared-host swings reach 10x,
ROUND1_NOTES/r5), up to 2 extra samples hunt for a quiet window.
Per-query ``spread`` (max-min) and ``runs_per_query`` are emitted, and
``verdict_vs_prior`` marks a query regressed only when the delta
exceeds the observed noise envelope.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pinot_pulsar_plugin_spark.plans.explain import codegen_compiles
from pinot_pulsar_plugin_spark.registry import all_queries
from pinot_pulsar_plugin_spark.session import get_spark

# Representative, scale-stressing subset: scan+agg, broadcast join,
# multiway star join, window, top-k, dedup (exact + shingle + minhash
# + prefix-filtered + span-frequency), similarity, event-time windows,
# text stats, pandas-batch pipeline, Bloom pruning (literal +
# scalar-subquery), rank-trimmed robust aggregation.
HEADLINE = [
    "q01_pricing_summary",
    "q08_join_broadcast_agg",
    "q09_join_multiway",
    "q23_window_running_sum",
    "q25_topk_per_group",
    "q45_shipping_priority",
    "q29_sessionize",
    "d43_dedup_exact",
    "d44_ngram_jaccard_pairs",
    "d52_prefix_filter_jaccard",
    "d53_dup_span_fraction",
    "d45_minhash_lsh_candidates",
    "d48_embedding_neardup_lsh",
    "s48_cosine_topk",
    "s50_ann_ivf_topk",
    "st57_tumbling_window",
    "st61_interval_join",
    "t50_text_stats",
    "t62_top_ngram_coverage",
    "t63_bigram_surprisal",
    "m56_decode_pipeline",
    "q84_bloom_semi_prune",
    "q87_bloom_subquery_prune",
    "q88_decayed_engagement",
    "q91_trimmed_mean",
    "q94_pareto_frontier",
    "t64_doc_chunking",
    "s53_kmeans_step",
    "d55_incremental_dedup",
    "q97_blocking_supplier",
    "s55_pq_adc_topk",
    "q103_large_volume_customers",
    "d56_chunk_rewrite_dedup",
    "q105_pagerank_transactions",
    "s56_silhouette_by_label",
    "q104_inactive_high_balance",
    "q106_equidepth_bins",
    "q107_purchase_attribution",
    "q108_journey_paths",
    "t67_token_entropy",
    "t68_top_keywords",
    "t69_bm25_search",
    "q109_basket_cooccurrence",
    "q110_pmi_association",
    "q111_zorder_layout_audit",
    "q112_salted_supplier_revenue",
    "q113_disjunctive_revenue",
    "q114_top_revenue_supplier",
    "q117_order_count_distribution",
    "q118_nation_pair_volume",
    "q119_column_profile",
    "q121_incremental_rollup_merge",
    "q122_exact_corr_by_flag",
    "q123_supplier_triangles",
    "q124_min_cost_supplier",
    "q126_local_supplier_volume",
    "q130_returned_item_customers",
    "q136_sole_late_suppliers",
    "q137_compaction_binpack",
    "s57_tfidf_similar_docs",
    "t72_source_kl_divergence",
    "q140_ks_drift_test",
    "q141_kmv_theta_sketch",
    "q142_negated_sequence_conversion",
    "s60_mmr_diversified_topk",
    # third continuation batch: CDC diff, graph traversal, retrieval
    # eval, regression/monitoring stats, sliding distinct, sketch set
    # ops, windowed funnel, streaks, allocation
    "q148_snapshot_diff",
    "q149_bfs_reachability",
    "q151_sliding_distinct",
    "q152_theta_sketch_setops",
    "q154_window_funnel",
    "q157_activity_streaks",
    "s61_ndcg_eval",
    "d57_minhash_estimate",
    "t73_chi2_term_assoc",
    "t76_charngram_langid",
    "q163_pit_enrichment_audit",
    "q165_quota_sample_execution",
    "s62_ivf_recall",
    # round-6 tenth batch: quality audit, dashboard regroup, interval
    # sweep, seasonal indices, corpus growth/memorization, keyphrases
    "q178_benford_audit",
    "q179_topn_others_rollup",
    "q180_max_concurrency",
    "q181_seasonal_decomposition",
    "t79_vocab_growth",
    "t80_crosscorpus_ngram_recall",
    "t81_rake_keyphrases",
    "q182_cheapest_path_cost",
    "q183_business_day_lag",
    "q184_revenue_bridge",
    "q185_forecast_backtest",
    "d58_lsh_band_sweep",
    "d59_dedup_savings",
    "t82_token_dropout_augment",
    "t83_heldout_lm_surprisal",
    "s65_ivf_cell_balance",
    "q190_bounce_rate",
    "q191_conformance_audit",
    "q192_topk_drift",
    "q193_accumulating_snapshot",
    "q194_tier_migration",
    "q196_revenue_gini",
    "q197_correlation_matrix",
    "q199_attribution_bakeoff",
    "q200_curation_funnel",
    "q201_overlapping_orders",
    "t84_term_burstiness",
    "s67_ivf_efficiency",
    # r11: the third r10 histogram rewrite — q91/q106 were already
    # headline; a replaced implementation should be driver-timed too
    "q209_engagement_gini",
]

# Most recent prior-round bench result (driver artifact), used for
# spread-aware round-over-round verdicts (VERDICT r4 #4).
_PRIOR_GLOB = "BENCH_r*.json"


def _load_prior() -> dict | None:
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    # Walk newest→oldest and use the first round whose payload the
    # driver actually parsed (BENCH_r05 shipped parsed:null — a broken
    # artifact must not silence round-over-round verdicts forever).
    parsed = None
    for path in sorted(glob.glob(os.path.join(here, _PRIOR_GLOB)), reverse=True):
        try:
            with open(path) as f:
                parsed = json.load(f).get("parsed")
        except (OSError, json.JSONDecodeError):
            continue
        if parsed:
            break
    if not parsed:
        return None
    if parsed.get("queries"):
        return parsed
    # Compact-stdout era (r7+): the driver-parsed payload carries only
    # the fixed summary, so the per-query map must come from the same
    # run's committed bench_details.json (ADVICE r7 #2 — without this,
    # _verdicts sees p_times={} and marks every query "new" forever).
    # Accept it only when it demonstrably IS the same run (sf and total
    # agree); a locally overwritten details file fails the guard and
    # verdicts degrade to "new" rather than comparing against noise.
    try:
        with open(os.path.join(here, "bench_details.json")) as f:
            details = json.load(f)
    except (OSError, json.JSONDecodeError):
        return parsed
    try:
        same_run = (
            isinstance(details, dict)
            and details.get("sf") == parsed.get("sf")
            and abs(details.get("value", -1.0) - parsed.get("value", -2.0)) < 1e-6
            and details.get("queries")
        )
    except TypeError:
        # value: null (the BENCH_r05 broken-artifact class) — the
        # subtraction must degrade to the bare parsed payload, not
        # crash the whole bench run (ADVICE r8 #4). The isinstance
        # guard covers the sibling class: valid-JSON non-object
        # content, where .get would raise AttributeError.
        same_run = False
    if same_run:
        return details
    return parsed


def _verdicts(
    times: dict[str, float],
    spread: dict[str, float],
    prior: dict | None,
    sf: float,
) -> dict[str, str]:
    """Per-query verdict vs the prior round, noise-aware.

    A query only counts as ``regressed`` when the min-of-N delta
    exceeds the observed host-noise envelope (max of this round's and
    the prior round's spread, floored at 100 ms): BENCH_r04 showed
    spreads up to 1.9s on sub-second mins, so raw deltas are mostly
    noise. ``improved`` is symmetric; everything else is ``flat``.
    """
    if not prior or prior.get("sf") != sf:
        return {}
    p_times = prior.get("queries", {})
    p_spread = prior.get("spread", {})
    out: dict[str, str] = {}
    for name, t in times.items():
        if name not in p_times:
            out[name] = "new"
            continue
        envelope = max(spread.get(name, 0.0), p_spread.get(name, 0.0), 0.1)
        delta = t - p_times[name]
        if delta > envelope:
            out[name] = "regressed"
        elif delta < -envelope:
            out[name] = "improved"
        else:
            out[name] = "flat"
    return out


def _data_fingerprint(sf_dir: str) -> dict[str, str]:
    """Per-table ``rows:bytes`` (parquet metadata + file size, no
    scan) — lets a reader of round-over-round tables tell a code
    regression from a testdata regeneration (r5: documents/embeddings
    were regenerated denser, shifting d44/d45/d48 at identical code;
    the embeddings dim change behind s48's flag was invisible to
    row counts alone — file bytes catch content-shape changes)."""
    import glob as _glob

    out: dict[str, str] = {}
    try:
        import pyarrow.parquet as pq

        for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
            name = os.path.basename(p).removesuffix(".parquet")
            n = pq.ParquetFile(p).metadata.num_rows
            out[name] = f"{n}:{os.path.getsize(p)}"
    except Exception:
        pass
    return out


def _read_load1m() -> float | None:
    """One-minute loadavg reading (None where /proc is unavailable)."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def recompiles(readings: dict[str, list[int]]) -> dict[str, int]:
    """Per query, the generated-code classes compiled during its samples
    after the first. ``readings[name]`` holds the codegen compile
    counter read before the first sample and after each sample, so a
    warm session whose class cache holds the query's working set
    reports 0."""
    return {name: r[-1] - r[1] for name, r in readings.items()}


def compact_headline_line(
    total: float,
    n_queries: int,
    sf: float,
    wall: float | None = None,
    load_1m: dict | None = None,
    details_sha: str | None = None,
) -> str:
    """The single stdout line the driver parses. Fixed field set —
    size is independent of how many headline queries run, so the
    driver's 2,000-byte tail window can never truncate it (it did in
    r5 AND r6 when the per-query map rode along). Per-query times,
    spread, runs and verdicts live in bench_details.json.

    VERDICT r12 #2: ``value`` has always been the sum of per-query
    min-of-N samples — a partially load-insensitive figure — but three
    rounds of wall-vs-wall arbitration showed that is not self-evident
    from the artifact. The line now says so explicitly
    (``sum_of_mins`` == ``value``), and carries the two signals that
    let a reader attribute an elevated round to host load WITHOUT
    re-deriving anything: ``wall_sec`` (true end-to-end elapsed,
    including every extra noise-hunting sample — load-SENSITIVE) and
    ``load_1m`` (min/mean/max of the 1-minute loadavg sampled before
    each query). An elevated wall_sec with flat sum_of_mins and high
    load_1m is a loaded host; an elevated sum_of_mins at idle load_1m
    is code. All fields are fixed-size: the line stays <1 KB at any
    headline count.

    VERDICT r13 #2: the per-query map stays banned from this line,
    but the line now carries a deterministic POINTER to it —
    ``details`` names the sibling file holding the full per-query
    payload and ``details_sha256`` is the first 12 hex chars of that
    file's content hash, so a consumer can bind the committed
    bench_details.json to THIS run (an overwritten or stale details
    file fails the hash). Additions-only: ``value`` semantics and
    every pre-existing field are unchanged."""
    return json.dumps(
        {
            "metric": "headline_suite_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": n_queries,
            "sum_of_mins": total,
            "wall_sec": wall,
            "load_1m": load_1m,
            "details": "bench_details.json",
            "details_sha256": details_sha,
        },
        separators=(",", ":"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench", driver_memory="24g")
    queries = all_queries()

    def run(name: str, compiles: list[int]) -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        compiles.append(codegen_compiles(spark))  # outside the timed window
        return t1 - t0

    t_suite0 = time.perf_counter()
    run("q01_pricing_summary", [])  # warm-up (JVM, codegen, file listing)

    # Adaptive sampling (VERDICT r4 #4): host noise bursts last whole
    # runs, so when the first 3 samples disagree by more than the min
    # itself the measurement is noise-dominated — take up to 2 extra
    # samples to catch a quiet window. Quiet hosts stay at 3 runs, so
    # total bench wall time is unchanged when it doesn't need to be.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    max_runs = max(n_runs, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_RUNS", "5")))
    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    runs_used: dict[str, int] = {}
    noise_events: dict[str, dict] = {}
    load_series: dict[str, float] = {}
    compile_readings: dict[str, list[int]] = {}
    for name in HEADLINE:
        load = _read_load1m()
        if load is not None:
            load_series[name] = load
        reads = compile_readings[name] = [codegen_compiles(spark)]
        samples = [run(name, reads) for _ in range(n_runs)]
        while (
            len(samples) < max_runs
            and (max(samples) - min(samples)) > max(min(samples), 0.1)
        ):
            samples.append(run(name, reads))
        times[name] = round(min(samples), 3)
        spread[name] = round(max(samples) - min(samples), 3)
        runs_used[name] = len(samples)
        # VERDICT r13 #2 (belt-and-braces): one compact per-query line
        # as the run progresses. These scroll — only the FINAL line is
        # the driver contract and it stays fixed-size — but a consumer
        # reading full stdout (or the tail, for the last ~25 queries)
        # gets per-query numbers without bench_details.json.
        print(
            json.dumps(
                {"q": name, "sec": times[name], "spread": spread[name]},
                separators=(",", ":"),
            ),
            flush=True,
        )
        if spread[name] > max(min(samples), 0.1):
            # Noise burst survived the extra samples: record the raw
            # sample list + a host-load snapshot so a spread outlier
            # in the committed artifact is attributable without
            # re-running (r11's d48 sample stalled 82s under a loaded
            # host; the min was unaffected but the cause took a full
            # reproduction session to pin — ROUND12_NOTES).
            try:
                with open("/proc/loadavg") as lf:
                    load = lf.read().split()[:3]
            except OSError:
                load = []
            noise_events[name] = {
                "samples": [round(s, 3) for s in samples],
                "loadavg": load,
            }

    total = round(sum(times.values()), 3)
    wall = round(time.perf_counter() - t_suite0, 3)
    loads = sorted(load_series.values())
    load_1m = (
        {
            "min": round(loads[0], 2),
            "mean": round(sum(loads) / len(loads), 2),
            "max": round(loads[-1], 2),
        }
        if loads
        else None
    )
    # Emission contract (VERDICT r6 "what's wrong" #1, second failure):
    # the driver captures only the LAST 2,000 bytes of stdout and
    # parses the final line. r5 kept the per-query map "compact"; at
    # 106 headline queries it grew to 3,150 bytes and the front of the
    # line was truncated again. The per-query map is therefore BANNED
    # from stdout — it lives in bench_details.json — and the final
    # line carries only the fixed-size summary (~120 bytes, 10x+
    # headroom under the window regardless of headline count).
    # test_bench_emission.py asserts the <1 KB invariant.
    details = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "runs_per_query": runs_used,
        "spread": spread,
        "verdict_vs_prior": _verdicts(times, spread, _load_prior(), sf),
        "data_fingerprint": _data_fingerprint(sf_dir),
        "noise_events": noise_events,
        "wall_sec": wall,
        "sum_of_mins": total,
        "load_1m": load_1m,
        "load_1m_series": {k: round(v, 2) for k, v in load_series.items()},
        "recompiles": recompiles(compile_readings),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    details_path = os.path.join(here, "bench_details.json")
    with open(details_path, "w") as f:
        json.dump(details, f, indent=1)
    import hashlib

    with open(details_path, "rb") as f:
        details_sha = hashlib.sha256(f.read()).hexdigest()[:12]
    line = compact_headline_line(
        total, len(times), sf, wall, load_1m, details_sha
    )
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
