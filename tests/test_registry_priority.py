"""Registry ordering is a scored artifact: the driver's correctness run
caps at ~50 entries.

Rounds 1-6 required the window to cover every SURVEY §2.B category
(VERDICT r1 top item). From round 7 the directive changed (VERDICT r6
#2/#3): the cumulative driver-verified union already covers every
category, so the window is q01 (smoke anchor) + the OLDEST 49
never-driver-scored oracle-backed entries, draining the backlog
oldest-first until the union catches up with the registry. The
category map below is retained for the drain invariant: whichever
categories the current window misses must already be driver-green in
a PRIOR round's correctness artifact."""

from __future__ import annotations

import glob
import json
import os

from pinot_pulsar_plugin_spark.registry import (
    _BACKLOG_LANDING_ORDER,
    _IMPL_REPLACED,
    _WINDOW,
    all_oracle_sql,
    all_queries,
    driver_scored_names,
    priority_window,
)

# category → names that can represent it in the scored window
_CATEGORY_REPS = {
    "scan_agg_sort": {"q01_pricing_summary"},
    "projection_filter": {"q02_filter_predicates", "q44_deterministic_sample", "q74_train_split", "q78_stratified_sample", "q95_weighted_sample"},
    "joins": {"q04_join_inner", "q47_join_full_outer", "q52_join_right", "q55_merge_upsert", "q82_interval_bucket_join", "q48_cross_join", "q85_referential_audit", "q109_basket_cooccurrence", "q113_disjunctive_revenue", "q118_nation_pair_volume"},
    "broadcast_join": {"q08_join_broadcast_agg", "s52_knn_label_accuracy"},
    "aggregations": {"q43_percentiles", "q50_filter_clause_agg", "q70_bool_bit_aggs", "q73_multi_distinct", "q76_heavy_hitters", "q81_stats_moments", "q91_trimmed_mean", "q93_mad_outliers", "q99_weighted_median", "q117_order_count_distribution", "q122_exact_corr_by_flag"},
    "windows": {"q72_percent_rank_cume", "q53_grouped_map_rank", "q107_purchase_attribution"},
    "sort_topk": {"q25_topk_per_group", "q45_shipping_priority", "q63_lateral_topk", "d51_cluster_keeper_quality", "t65_top_bigrams", "t68_top_keywords"},
    "setops": {"q30_union_all"},
    "scalars": {"q71_string_funcs_2", "q56_date_spine"},
    "subqueries": {"q49_quantified_subquery", "q62_correlated_scalar_subquery", "q85_referential_audit", "q97_blocking_supplier", "q98_dominant_part_supplier", "q102_small_lot_revenue", "q103_large_volume_customers", "q124_min_cost_supplier"},
    "streaming": {"st57_tumbling_window", "st58_sliding_window", "st59_stream_enrich_join", "st60_first_event_dedup", "st61_interval_join", "st62_interval_join_outer", "st63_window_topk", "q29_sessionize"},
    "dedup_span": {"d53_dup_span_fraction"},
    "udf_surface": {"q46_pandas_udf_scalar", "q53_grouped_map_rank", "q54_python_udf_row", "q115_udtf_installments", "q120_pandas_grouped_agg"},
    "dedup_exact": {"d43_dedup_exact", "d55_incremental_dedup"},
    "dedup_near": {"d44_ngram_jaccard_pairs", "d48_embedding_neardup_lsh", "d52_prefix_filter_jaccard", "d54_winnow_neardup_pairs", "d55_incremental_dedup"},
    "runtime_filter": {"q84_bloom_semi_prune", "q87_bloom_subquery_prune"},
    "similarity": {"s48_cosine_topk", "s49_ann_lsh_topk", "s50_ann_ivf_topk", "s51_label_centroids", "s52_knn_label_accuracy", "s54_pq_encode", "s55_pq_adc_topk", "s57_tfidf_similar_docs", "s58_int8_quantized_topk", "s59_mips_norm_augmented"},
    "text_analysis": {"t50_text_stats", "t51_lang_id", "t52_quality_score", "t53_fingerprint", "t54_corpus_stats_by_lang", "t55_token_count_bpe", "t56_quality_filter", "t57_repetition_ratio", "t58_vocab_stats", "t59_winnow_fingerprint", "t62_top_ngram_coverage", "t63_bigram_surprisal", "t66_feature_hashing", "t67_token_entropy", "t70_source_vocab_overlap", "t71_boolean_text_match"},
    "multimodal": {"m55_multimodal_meta", "m56_decode_pipeline", "m57_frame_sample", "m58_resize_pipeline", "m59_payload_chunk_manifest", "m60_phash_neardup_candidates"},
    "event_analytics": {"q59_histogram", "q60_funnel", "q61_retention", "q88_decayed_engagement", "q89_markov_transitions", "q100_value_drift"},
    "timeseries": {"q67_ohlc_bars", "q69_levenshtein_pairs", "q77_forward_fill", "q83_running_zscore", "q90_scd2_intervals", "q92_gapfill_interpolate"},
    "curation": {"q94_pareto_frontier", "q95_weighted_sample", "q101_split_balance_audit"},
    "rollup_serving": {"q96_rollup_serving", "q121_incremental_rollup_merge", "q139_incremental_join_view"},
    "chunking": {"t64_doc_chunking"},
    "storage_maintenance": {"q137_compaction_binpack", "q138_zonemap_prune_audit"},
    "tpch_canon": {"q125_late_order_priority", "q126_local_supplier_volume", "q127_forecast_revenue", "q128_national_market_share", "q129_product_type_profit", "q130_returned_item_customers", "q131_important_parts", "q132_delay_bucket_priority", "q133_promo_revenue_share", "q134_part_supplier_variety", "q135_excess_recent_shippers", "q136_sole_late_suppliers"},
    "clustering": {"s53_kmeans_step", "s51_label_centroids"},
}


def _raw_green_rounds() -> dict[str, int]:
    """Independent reimplementation of the green-row scan in
    registry.driver_green_rounds (so a predicate bug there can't hide):
    hash-green rows, plus rows-only rows whose err is absent or the
    deliberate "no_oracle" marker. A failed run that still recorded
    spark_rows alongside a real err does NOT count (ADVICE r7 #4), and
    neither does a row with an explicit hash_match: false — a
    driver-recorded MISMATCH must stay in the scored window until it
    turns green (ADVICE r8 #2)."""
    import re as _re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    mismatch: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if row.get("hash_match") is False:
                    mismatch[name] = max(mismatch.get(name, 0), rnd)
                    continue
                if row.get("hash_match") or (
                    row.get("spark_rows") is not None
                    and row.get("err") in (None, "no_oracle")
                ):
                    latest[name] = max(latest.get(name, 0), rnd)
    # ADVICE r9 #4 mirror: a name whose LATEST row is a mismatch resets
    # to round 0 (fronts the padding) — without this the staleness-order
    # assertions would sort by the unreset round and diverge from the
    # registry's actual window the first time the driver records a
    # mismatch.
    for name, bad_rnd in mismatch.items():
        if name in latest and bad_rnd > latest[name]:
            latest[name] = 0
    return latest


def _driver_green_rounds() -> dict[str, int]:
    """_raw_green_rounds plus the staleness resets. VERDICT r10 #1: a
    green row older than the round that REPLACED the entry's
    implementation proved retired code — reset to 0 so the entry fronts
    the stalest-first padding (the data — which names, which rounds —
    comes from registry._IMPL_REPLACED; the reset logic is
    reimplemented here independently)."""
    latest = _raw_green_rounds()
    for name, replaced_rnd in _IMPL_REPLACED.items():
        if name in latest and 0 < latest[name] < replaced_rnd:
            latest[name] = 0
    return latest


def _driver_green_names() -> set[str]:
    return set(_driver_green_rounds())


def test_driver_scored_predicate_matches_registry():
    """registry.driver_scored_names must agree with this file's
    independent predicate over the artifacts actually on disk."""
    assert driver_scored_names() == _driver_green_names()


def test_window_self_rotates_and_wastes_no_slot():
    """VERDICT r7 #1: the window is derived at load time from the
    CORRECTNESS_r*.json artifacts, so it can never go stale. While any
    never-driver-scored entry exists OUTSIDE the window, no slot after
    the q01 anchor may re-score an already-scored entry; once the
    backlog is drained, padding with re-verification anchors is
    legitimate. Backlog entries must enter in landing order."""
    names = priority_window()
    assert len(set(names)) == _WINDOW
    assert names[0] == "q01_pricing_summary"
    assert names == list(all_queries())[:_WINDOW]
    scored = _driver_green_names()
    backlog_outside = [
        n for n in all_queries() if n not in scored and n not in names
    ]
    wasted = [n for n in names[1:] if n in scored]
    if backlog_outside:
        assert not wasted, (
            f"window slots wasted on already-driver-scored entries {wasted} "
            f"while backlog remains: {backlog_outside[:5]}..."
        )
    # Landing order is preserved among never-scored backlog members
    # (pads are ordered by staleness instead, so scored landing-list
    # names are exempt).
    in_window = [n for n in _BACKLOG_LANDING_ORDER if n in names and n not in scored]
    positions = [names.index(n) for n in in_window]
    assert positions == sorted(positions)


def test_padding_is_stalest_first():
    """VERDICT r8 #3: re-verification pad slots go to the entries whose
    last driver-green round is OLDEST, so the whole registry cycles
    through driver re-checking instead of the same early-registry names
    re-scoring every round. Every pad must be at least as stale as
    every oracle-backed scored entry left outside the window, and pads
    must appear in non-decreasing last-green-round order."""
    names = priority_window()
    green = _driver_green_rounds()
    pad_rounds = [green[n] for n in names[1:] if n in green]
    if not pad_rounds:
        return  # backlog fills the whole window — nothing padded
    assert pad_rounds == sorted(pad_rounds), "pads not in staleness order"
    # r13: rows-only scored entries rotate through padding too
    # (VERDICT r12 #3), so the outside set is ALL scored entries.
    outside = [
        green[n]
        for n in all_queries()
        if n in green and n not in names
    ]
    if outside:
        assert max(pad_rounds) <= min(outside), (
            "a fresher entry padded the window while a staler one waited"
        )


def test_impl_replaced_entries_front_window_until_rescored():
    """VERDICT r10 #1 gate: every registry entry whose implementation
    was REPLACED after its last driver-green round must hold a scored
    slot, so the next driver round re-proves the NEW code hash-green.
    Once a green row lands in a round >= the rewrite round the entry
    clears naturally and this gate stops demanding a slot. Replacing an
    implementation without a _IMPL_REPLACED row cannot be detected
    mechanically — the dict is the hand-maintained contract this gate
    enforces the consequences of."""
    raw = _raw_green_rounds()
    window = set(priority_window())
    pending = [
        n
        for n, replaced_rnd in _IMPL_REPLACED.items()
        if n in all_queries() and raw.get(n, 0) < replaced_rnd
    ]
    if len(pending) <= len(window):
        missing = [n for n in pending if n not in window]
        assert not missing, (
            f"rewritten-but-not-rescored entries missing from the scored "
            f"window: {missing}"
        )
    else:
        # Saturation (first reached by the r11 overflow audit, whose
        # rewrite set outgrew the 50-slot window): every scored slot
        # must go to a pending rewrite — none may be wasted on an
        # already-trusted entry — and the leftover pending entries
        # self-front next round via the same staleness reset, so the
        # invariant "a rewrite is re-scored before it is trusted"
        # still converges, one driver round later.
        wasted = [n for n in window if n not in pending]
        assert not wasted, (
            f"window slots given to non-pending entries while rewrites "
            f"overflow the window: {wasted}"
        )
        leftover = [n for n in pending if n not in window]
        assert len(leftover) == len(pending) - len(window)


def test_categories_missing_from_window_are_already_driver_green():
    """The rotation may drop category keepers ONLY because each
    dropped category is already driver-verified in a prior round —
    assert that, so a future rotation can't orphan a category."""
    names = set(list(all_queries())[:50])
    prior_green = _driver_green_names()
    for cat, reps in _CATEGORY_REPS.items():
        assert (reps & names) or (reps & prior_green), (
            f"category {cat} neither in the scored window nor driver-green in a prior round"
        )


def test_priority_names_resolve_and_lead():
    names = list(all_queries())
    window = priority_window()
    assert names[: len(window)] == window


def test_rows_only_rescores_are_staleness_justified():
    """VERDICT r12 #3 policy change: a scored rows-only entry may
    re-enter the window as a re-verification pad (the old
    yields-forever rule left d45/d46/q13/s49 with r1-r2 evidence only,
    never re-proved on the modern tree) — but ONLY via the stalest-
    first padding. Every rows-only re-score slot must therefore be at
    least as stale as every scored entry left OUTSIDE the window;
    rows-only entries may never displace a fresher-evidence slot out
    of turn."""
    names = list(all_queries())[:50]
    oracle = all_oracle_sql()
    green = _driver_green_rounds()
    rows_only_rescore = [n for n in names if n not in oracle and n in green]
    outside = [green[n] for n in all_queries() if n in green and n not in names]
    for n in rows_only_rescore:
        assert not outside or green[n] <= min(outside), (
            f"rows-only {n} (last green r{green[n]}) padded ahead of a "
            f"staler scored entry (oldest outside: r{min(outside)})"
        )


def test_round_of_quotient_is_ratcheted():
    """The t61/t63 lesson as a ratchet: ROUND over an expression
    containing a division can land on a 1e-6 half-boundary that Spark
    (exact BigDecimal) and DuckDB (double multiply) round opposite
    ways — t61 diverged on 3 of 5000 docs at sf0.1 before the fix.
    Every oracle whose ROUND wraps a '/' must be consciously audited
    here: 'presum' = the SAFE pattern (fixed-pointing a per-row term
    BEFORE an integer sum; a term-level half-boundary shifts both
    engines identically pre-aggregation), 'quotient' = a final-result
    rounding that is data-hazardous and relies on the registry-wide
    ``tools_paritycheck.py --sf=sf0.1`` monitor. A NEW name failing
    this test means: prefer the integer micro-unit division form
    (t63), or audit and add it with a justification."""
    import re

    from pinot_pulsar_plugin_spark.registry import all_oracle_sql

    audited = {
        "q79_mixture_weights": "quotient",   # sweep-monitored (sf0.1 green)
        "q81_stats_moments": "quotient",     # sweep-monitored
        "q83_running_zscore": "quotient",    # sweep-monitored
        "q88_decayed_engagement": "presum",  # ROUND(pow*1e6) per event
        "q92_gapfill_interpolate": "quotient",  # sweep-monitored
        "s51_label_centroids": "quotient",   # sweep-monitored
        "s53_kmeans_step": "quotient",       # sweep-monitored
        "t57_repetition_ratio": "quotient",  # sweep-monitored
        "t58_vocab_stats": "quotient",       # sweep-monitored
        "t61_token_surprisal": "presum",     # fixed: ROUND(ln*1e6) per token
        "t63_bigram_surprisal": "presum",    # ROUND(ln*1e6) per bigram
        "t68_top_keywords": "presum",        # ROUND(ln*1e6) per (doc, term)
        "q110_pmi_association": "presum",    # ROUND(ln*1e6) per (x, y) cell
        "t69_bm25_search": "presum",         # ROUND(score*1e6) per (doc, term)
        "s57_tfidf_similar_docs": "presum",  # ROUND(ln(N/df)*1e6) per term,
        # BEFORE the integer dot/norm sums (t68 idf precedent)
        "s58_int8_quantized_topk": "presum",  # ROUND(x/scale*127) per element
        # BEFORE the integer fold; same IEEE double on both engines
        "t72_source_kl_divergence": "presum",  # ROUND(ln(ratio)*1e6) per
        # (pair, term) BEFORE the integer sum; final /n_a is pure double
        "t83_heldout_lm_surprisal": "presum",  # ROUND(ln*1e6) per bigram
        # (t63's rule) BEFORE the per-doc integer sum and floor-div mean
        "s66_centroid_separation": "presum",  # ROUND(cosine, 6) display
        # rounding on a pure IEEE fold/sqrt/divide chain (the s50/s57
        # safe class: no decimal-literal multiply anywhere)
    }
    flagged = set()
    for name, sql in all_oracle_sql().items():
        for m in re.finditer(r"ROUND\s*\(", sql, re.I):
            depth, i = 1, m.end()
            while i < len(sql) and depth:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
                i += 1
            if "/" in sql[m.end() : i - 1]:
                flagged.add(name)
                break
    assert flagged == set(audited), (
        f"unaudited ROUND-of-quotient oracles: {sorted(flagged - set(audited))}; "
        f"stale audit entries: {sorted(set(audited) - flagged)}"
    )


def test_survey_ledger_is_current():
    """SURVEY.md §8's generated ledger (VERDICT r7 #6) must contain a
    row for EVERY registry entry — if this fails, rerun
    `python tools_ledger.py` after adding operators or landing a
    driver round."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "SURVEY.md")) as fh:
        text = fh.read()
    assert "<!-- LEDGER:BEGIN -->" in text and "<!-- LEDGER:END -->" in text
    ledger = text.split("<!-- LEDGER:BEGIN -->")[1].split("<!-- LEDGER:END -->")[0]
    missing = [n for n in all_queries() if f"| {n} |" not in ledger]
    assert not missing, f"ledger rows missing (rerun tools_ledger.py): {missing[:5]}"
    # and the window column tracks the live derivation
    for n in priority_window():
        assert f"| {n} |" in ledger


def test_derive_priority_synthetic_rules(tmp_path):
    """Unit-level pin of the r9 derivation rules against SYNTHETIC
    artifacts (the other tests only exercise the on-disk state, which
    drifts every round): explicit hash_match:false never counts as
    scored, never-scored rows-only entries pad after the oracle-backed
    backlog, and re-verification pads order stalest-first with
    registry-order ties."""
    from pinot_pulsar_plugin_spark import registry as R

    # synthetic artifacts: r1 scores a+b green; r2 re-scores b green,
    # records c as an explicit MISMATCH, and d as a failed run that
    # still logged spark_rows with a real err
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a": {"hash_match": True},
        "b": {"hash_match": True},
        "e": {"hash_match": True},
        "f": {"hash_match": False, "err": None, "spark_rows": 2},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "b": {"hash_match": True},
        "c": {"hash_match": False, "err": None, "spark_rows": 7},
        "d": {"spark_rows": 3, "err": "boom"},
        "r": {"spark_rows": 1, "err": "no_oracle"},
        "e": {"hash_match": False, "err": None, "spark_rows": 5},
        "f": {"hash_match": True},
    }))
    green = R.driver_green_rounds(root=str(tmp_path), impl_replaced={})
    # ADVICE r9 #4: e was green in r1 but its LATEST row is a MISMATCH
    # -> green round resets to 0 (stays scored, fronts the padding);
    # f's old mismatch is superseded by the r2 green -> keeps 2.
    assert green == {"a": 1, "b": 2, "r": 2, "e": 0, "f": 2}

    # VERDICT r10 #1: an implementation replaced in round 2 resets a's
    # r1 green (proved retired code) but not b's r2 green (scored
    # against the new code); a never-scored name ("s") is unaffected
    # (it is backlog, not padding); an already-0 entry stays 0.
    green2 = R.driver_green_rounds(
        root=str(tmp_path),
        impl_replaced={"a": 2, "b": 2, "s": 2, "e": 2},
    )
    assert green2 == {"a": 0, "b": 2, "r": 2, "e": 0, "f": 2}

    queries = {n: (lambda s, d: None) for n in
               ["q01_pricing_summary", "a", "b", "c", "d", "r", "s", "e", "f"]}
    oracle = {n: "SELECT 1" for n in
              ["q01_pricing_summary", "a", "b", "c", "d", "e", "f"]}
    window = R.derive_priority(queries, oracle, green=green)
    # c (mismatch) and d (failed run) are NOT scored -> lead in
    # registry order; s (rows-only, never scored) pads next; then
    # stalest pads over ALL scored entries — rows-only included
    # (VERDICT r12 #3): e (known-broken, round 0) before a (r1),
    # then the round-2 tie b/r/f in registry order.
    assert window[:9] == [
        "q01_pricing_summary", "c", "d", "s", "e", "a", "b", "r", "f"
    ]
    # r (rows-only, r2) re-enters strictly by staleness: never before
    # the staler a (r1), always alongside its round-2 peers.
    assert window.index("r") > window.index("a")
