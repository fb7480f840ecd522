"""Merged query/oracle registry across all operator modules.

The driver contract (__spark_entry__.py) calls :func:`all_queries` and
:func:`all_oracle_sql`; tests iterate the same registry so local
differential checks exercise exactly what the driver will score.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re

from pinot_pulsar_plugin_spark.operators.common import QueryFn

# Operator modules that expose QUERIES / ORACLE dicts. Extended as
# modules land (SURVEY.md §7 build plan).
_MODULES = [
    "pinot_pulsar_plugin_spark.operators.relational",
    "pinot_pulsar_plugin_spark.operators.windows",
    "pinot_pulsar_plugin_spark.operators.setops",
    "pinot_pulsar_plugin_spark.operators.scalars",
    "pinot_pulsar_plugin_spark.operators.dedup",
    "pinot_pulsar_plugin_spark.operators.similarity",
    "pinot_pulsar_plugin_spark.operators.textops",
    "pinot_pulsar_plugin_spark.operators.multimodal",
    "pinot_pulsar_plugin_spark.operators.streaming_batch",
    "pinot_pulsar_plugin_spark.operators.advanced",
    "pinot_pulsar_plugin_spark.operators.udfs",
    "pinot_pulsar_plugin_spark.operators.patterns",
    "pinot_pulsar_plugin_spark.operators.eventanalytics",
    "pinot_pulsar_plugin_spark.operators.subqueries",
    "pinot_pulsar_plugin_spark.operators.timeseries",
    "pinot_pulsar_plugin_spark.operators.aggregates2",
    "pinot_pulsar_plugin_spark.operators.pipelines",
    "pinot_pulsar_plugin_spark.operators.curation",
    "pinot_pulsar_plugin_spark.operators.tpch_suite",
    "pinot_pulsar_plugin_spark.operators.maintenance",
]


# The driver's correctness run scores the FIRST ~50 registry entries
# (CORRECTNESS_r01 held exactly the first 50 in module order, leaving
# 39 entries driver-unchecked — VERDICT r1 top item). Registry order is
# therefore a scored artifact: this priority list is curated so the
# first 50 names cover every SURVEY §2.B category and every
# LLM-pipeline operator at least once. Composition: the 39 entries with
# no r1 driver row, plus d48/s50 (new) and d44 (semantics changed this
# round), plus one previously-green anchor per category. q54 (row-UDF
# demo) yields its slot to s50 — UDF surface stays covered in-window by
# q46 pandas_udf and q53 applyInPandas. Everything else follows in
# module order and stays covered by the byte-identical local parity
# suite (tests/test_oracle_parity.py).
#
# Round-3 rule (VERDICT r2): NO rows-only entry may occupy a scored
# slot — a no-oracle row can never turn hash-green, so it wastes the
# slot (s49 in r2). q57 (sketch) and s49 (random-plane ANN) moved out
# in favor of oracle-green t61 (token surprisal) and q86 (geo radius
# join); both stay covered by local tolerance / recall-floor tests.
# Enforced by tests/test_registry_priority.py.
# Round-4 rotation (VERDICT r3 top item): the 22 oracle-backed entries
# that had never been driver-scored after r1-r3 (union 91/113) lead the
# window; 28 keepers preserve §2.B category coverage. Everything
# rotated out was driver-green in r1/r2/r3 and stays byte-identically
# covered by tests/test_oracle_parity.py. If all 50 score green the
# cumulative driver-verified union reaches 113/113 oracle-backed.
# Round-6 rotation (VERDICT r4 #1/#2): d52 (the only oracle-backed
# entry with no driver row) replaces d44 (green r1/r3/r4; dedup_near
# stays covered by d48), and the new q87 scalable-Bloom-subquery query
# replaces q84 (literal path, green r3/r4) — both leading the window.
# r5 additions: new t62 (top-n-gram coverage) and q88 (decayed
# engagement) lead too; m56 and m55 (both multiply driver-green) slide
# out at 51-52 — multimodal stays covered in-window by m57/m58, and
# every rotated-out entry remains in the local parity suite.
# r5 continuations (final layout): r4 scored its whole 50-slot window
# green, so the only entries without a driver row are the ones added
# during round 5 — 46 of the 47 that existed at rotation time lead
# (t67_token_entropy, a zero-shuffle pure scan, waits for r6: it is
# the least workload-distinct and one entry had to yield; the
# continuation-4 additions q111-q120 and rows-only q116 arrived after
# this rotation and lead the r6 window with it); 4
# multiply-green anchors (q01/q30/q71/q53) cover the categories no r5
# addition can honestly represent (scan_agg_sort, setops, scalars,
# udf_surface — no r5 entry touches a Python UDF). Everything rotated
# out stays covered by the byte-identical local parity suite
# (tests/test_oracle_parity.py over all oracle-backed entries).
# Round-6 rotation (VERDICT r5 #1): the 14 oracle-backed entries with
# no driver row (the continuation-4 additions q111-q115, q117-q124
# minus rows-only-by-design q116, plus t67 which yielded its r5 slot)
# lead the window — green rows for them complete the cumulative
# driver-verified union at 173/173 oracle-backed. Keepers follow, one
# per §2.B/LLM-pipeline category the leaders can't honestly represent
# (every keeper is multiply driver-green; everything rotated out stays
# byte-identically covered by tests/test_oracle_parity.py). Remaining
# slots go to round-6 additions as they land.
# Round-7 rotation (VERDICT r6 #2, executed verbatim): the window is
# q01 (smoke anchor) + the OLDEST 49 of the 114 oracle-backed entries
# that have never had a driver row, in landing order (first-commit
# timestamp of each name, `git log --reverse -S<name>`). Category
# keepers are deliberately dropped this round — the cumulative
# driver-verified union already covers every category, and the judge
# directed all slots to backlog drain. Everything outside the window
# stays byte-identically covered by tests/test_oracle_parity.py over
# all oracle-backed entries. q57's deliberate rows-only slot is
# retired: its clean rows-only driver row landed in r6 (CORRECTNESS_r06
# `err: no_oracle`, 3 rows), which was the whole point of the slot.
# Round-8 mechanism change (VERDICT r7 #1): the window is now
# SELF-DERIVING. A static _PRIORITY list goes stale the moment the
# driver lands a CORRECTNESS_r*.json scoring it (the r7→r8 boundary
# left `pytest tests/` red on the drain trip-wire), so the window is
# computed at load time from the artifacts themselves:
#
#   window = q01 (smoke anchor)
#          + the first 49 never-driver-scored oracle-backed entries in
#            landing order (_BACKLOG_LANDING_ORDER below = first-commit
#            order per `git log --reverse -S<name>`, frozen at the r7
#            registry freeze; any entry added later falls back to
#            registry module order)
#          + if fewer than 49 remain, padding with oracle-backed
#            re-verification anchors in registry order (harmless
#            re-scoring once the backlog is drained).
#
# "Driver-scored" = a CORRECTNESS row with hash_match, OR spark_rows
# recorded with err in (None, "no_oracle") — the ADVICE r7 #4
# tightening: a failed run that still logged spark_rows alongside a
# real err must NOT count as covered. Rows-only-by-design entries
# (no oracle) never occupy a slot (round-3 rule, VERDICT r2).
_ANCHOR = "q01_pricing_summary"
_WINDOW = 50

_BACKLOG_LANDING_ORDER = [
    "s64_embedding_quality_audit", "q176_closing_balance",
    "t78_readability", "q177_market_concentration", "q178_benford_audit",
    "q179_topn_others_rollup", "q180_max_concurrency", "t79_vocab_growth",
    "q181_seasonal_decomposition", "t80_crosscorpus_ngram_recall",
    "t81_rake_keyphrases", "q182_cheapest_path_cost",
    "q183_business_day_lag", "d58_lsh_band_sweep", "q184_revenue_bridge",
    "q185_forecast_backtest", "q186_relational_division",
    "q187_percent_of_parent", "q188_duplicate_payments",
    "q189_grid_hotspots", "t82_token_dropout_augment",
    "t83_heldout_lm_surprisal", "s65_ivf_cell_balance", "q190_bounce_rate",
    "q191_conformance_audit", "q192_topk_drift", "d59_dedup_savings",
    "q193_accumulating_snapshot", "q194_tier_migration",
    "t84_term_burstiness", "q195_abc_xyz_matrix",
    "m62_payload_dedup_savings", "q196_revenue_gini",
    "q197_correlation_matrix", "t85_crosslang_label_noise",
    "s66_centroid_separation", "q198_seasonal_anomalies",
    "q199_attribution_bakeoff", "q200_curation_funnel",
    "q201_overlapping_orders", "q202_ar_aging",
    "q203_interarrival_by_segment", "s67_ivf_efficiency",
    "q204_acquisition_mix", "q205_cohort_repeat_rate",
    "d60_shingle_k_sensitivity", "q206_price_volume_bridge",
    "m63_decode_failure_audit", "q207_split_shipments",
    "t86_head_concentration", "q208_supplier_scorecard",
    "t87_syndication_matrix", "s68_nprobe_sweep", "q209_engagement_gini",
    "q210_wilson_return_ranking", "s69_mrr_eval",
    "q211_freq_of_frequencies", "q212_share_of_wallet",
    "q213_pareto_crossing", "q214_tenure_revenue_mix", "q215_basket_width",
    "q216_purchase_novelty", "q217_load_curve",
    "q218_first_value_retention", "q219_repeat_ladder",
]


# Registry implementations REPLACED after their last driver-green round
# (VERDICT r10 #1): name → the round during which the rewrite landed. A
# green row recorded in a round >= that value was scored against the NEW
# implementation and clears the entry naturally; a green row from an
# EARLIER round proves only the retired code, so the entry's green round
# resets to 0 and it fronts the stalest-first padding — the same
# mechanism that fronts driver-recorded hash mismatches (ADVICE r9 #4).
# Maintained by hand at rewrite time: replacing a registry entry's
# implementation without appending a row here leaves the driver's
# correctness record claiming coverage of code that no longer exists
# (gated by tests/test_registry_priority.py).
_IMPL_REPLACED = {
    # r10 per-group-sort eliminations (ROUND10_NOTES §9): rank-window
    # forms replaced by tie-invariant value-histogram forms.
    "q91_trimmed_mean": 10,
    "q106_equidepth_bins": 10,
    # q209: r10 histogram rewrite, then the r11 DECIMAL lift below —
    # latest replacement round wins (the r11 row is in the audit block)
    # r11 overflow fix (ROUND11_NOTES §11): gini_milli arithmetic
    # lifted from BIGINT to exact DECIMAL(38,0) — the long form hit
    # ANSI overflow on the 100x-replicated corpus.
    "q196_revenue_gini": 11,
    # r11 100-TB arithmetic audit (SCALING.md §7 / ROUND11_NOTES §12):
    # sums-of-products lifted to DECIMAL(38,0), ppm shares of cent
    # sums lifted to DECIMAL, Knuth-hash injections ring-reduced
    # (key % B before the multiply). Values identical at every tested
    # SF; the long forms raise (or, for decimal `div`, silently wrap)
    # at the 100-TB design point.
    "q209_engagement_gini": 11,
    "q86_geo_radius_join": 11,
    "q169_abtest_ztest": 11,
    "q189_grid_hotspots": 11,
    "q81_stats_moments": 11,
    "q177_market_concentration": 11,
    "q179_topn_others_rollup": 11,
    # q185: r11 lift, then the r12 mae_cents rewrite below — latest
    # replacement round wins (the r12 row is in the r12 gate block)
    "q187_percent_of_parent": 11,
    "q192_topk_drift": 11,
    "q204_acquisition_mix": 11,
    "q166_weekday_seasonality": 11,
    "q181_seasonal_decomposition": 11,
    "q198_seasonal_anomalies": 11,
    # r11 audit, second pass (ROUND11_NOTES §12): the exact.py
    # fixed-point family at FIXED grain moved to the DECIMAL(38,0)
    # wide accumulator (q01's sum_base_price measures ~3.6e19 at the
    # design point), the fixed-grain ppm shares of fixed-point sums
    # lifted to DECIMAL, the remaining Knuth-hash injections
    # ring-reduced (prime moduli) or decimal-multiplied (the 2^32
    # modulus, where ring reduction is insufficient), and the
    # count×count / qty² / wt² product sums lifted to DECIMAL. Values
    # identical at every tested SF (paritycheck green for all 27).
    "q01_pricing_summary": 11,
    "q08_join_broadcast_agg": 11,
    "q09_join_multiway": 11,
    "q11_agg_global": 11,
    "q14_agg_rollup": 11,
    "q15_agg_cube": 11,
    "q118_nation_pair_volume": 11,
    "q126_local_supplier_volume": 11,
    "q127_forecast_revenue": 11,
    "q128_national_market_share": 11,
    "q129_product_type_profit": 11,
    "q133_promo_revenue_share": 11,
    "q87_bloom_subquery_prune": 11,
    "q96_rollup_serving": 11,
    "q110_pmi_association": 11,
    "q44_deterministic_sample": 11,
    "q95_weighted_sample": 11,
    "q74_train_split": 11,
    "q78_stratified_sample": 11,
    "q80_domain_resample": 11,
    "q101_split_balance_audit": 11,
    "q165_quota_sample_execution": 11,
    "q171_shuffle_skew_report": 11,
    "q175_abc_classification": 11,
    # t73/s57: r11 lifts, then r12 oracle-side HUGEINT lifts below —
    # latest replacement round wins (the r12 rows are in the r12 block)
    # r11 audit, review pass: q112's premise IS the unbounded hot key
    # (a 30%-of-corpus supplier re-accumulates ~6.6e19 in the final
    # regroup), so the scaling-key exemption did not apply — its
    # revenue sum moved to the wide accumulator.
    "q112_salted_supplier_revenue": 11,
    # r11 audit, third pass (variance brackets): q83's running Σv²
    # passes int64 at ~3.7e9 events for a bot-grade hot user (the
    # q112-premise class) — the window sum now accumulates in exact
    # DECIMAL(38,0); and q54's ORACLE ring-reduces its Knuth hash
    # (DuckDB BIGINT multiply is overflow-checked, so the raw-product
    # oracle raised on snowflake ids while the Python-bigint UDF was
    # exact). With these two the pending-rewrite set EXCEEDS the
    # 50-slot window for the first time; the window saturates with
    # pending entries and the remainder self-fronts in r12 via the
    # same staleness reset (see test_impl_replaced_entries_front_
    # window_until_rescored's saturation branch).
    "q83_running_zscore": 11,
    "q54_python_udf_row": 11,
    # r12: the MECHANICAL overflow gate (tools_overflowaudit.py —
    # VERDICT r11 #4) flagged three sites the r11 manual sweep left
    # "documented, not guarded", all real int64 crossings at the
    # design point, all lifted off the hot path: q140's cum·n ECDF
    # cross products (per-histogram-row DECIMAL/HUGEINT; d_num now
    # emitted as one exact→double conversion), t84's Σtf² (wide hi/lo
    # accumulator) + DECIMAL VMR bracket, and t79's maxid·k milestone
    # product (snowflake ids pass 2^62/10).
    "q140_ks_drift_test": 12,
    "t84_term_burstiness": 12,
    "t79_vocab_growth": 12,
    # r12 ADVICE fixes: s57/t73 oracle SQL lifted to HUGEINT to match
    # the already-wide Spark side (oracle-only change, values
    # identical where both run).
    "s57_tfidf_similar_docs": 12,
    "t73_chi2_term_assoc": 12,
    # r12 gate, decimal_div_quotient category's first catch: q185's
    # mae_milli quotient (mean-err·1000 ≈ 3e19 at 100-TB monthly
    # magnitudes) passed int64, and decimal `div` narrows to BIGINT
    # with a SILENT wrap — MAE is now exact integer cents (the ×1000
    # display scaling was the only thing past the cliff).
    "q185_forecast_backtest": 12,
    # r12 s57-class symmetry sweep: six oracles whose Spark side is
    # DECIMAL-wide but whose SQL narrowed the matching sums/products
    # back to BIGINT (DuckDB BIGINT arithmetic is overflow-CHECKED, so
    # the oracle would RAISE exactly in the regimes the Spark side was
    # hardened for). Sums/products lifted to HUGEINT; values identical
    # wherever both run (their r11 rows are superseded — latest wins).
    "q100_value_drift": 12,
    "q147_twap": 12,
    "q150_trend_slope": 12,
    "q153_lag_correlation": 12,
    "q195_abc_xyz_matrix": 12,
    "q197_correlation_matrix": 12,
    # r13 (VERDICT r12 #4): d49/d51 oracle-only rewrite — the
    # connected-components recursion moved from all-labels closure
    # (O(component²) rows, 670 s/query at sf0.1) to delta-iteration
    # min propagation (GROUP BY in the recursive term, 0.9 s), outputs
    # proven identical at sf0.001/sf0.01/sf0.1.
    "d49_neardup_components": 13,
    "d51_cluster_keeper_quality": 13,
    # r13 optimization round (OPTIMIZATION_r13.md): plan- and
    # driver-side rewrites, outputs proven identical (frame-equality
    # A/B old-vs-new + oracle parity at sf0.001/sf0.01, and sf0.1 for
    # q119):
    # - q109: basket self-join on the order key → per-order sorted
    #   distinct brand set + in-row pair explode (8 → 4 exchanges).
    "q109_basket_cooccurrence": 13,
    # - q119: multi-DISTINCT Expand (×6 row multiplication) → in-row
    #   typed-lane explode + two-phase aggregate; still ONE scan;
    #   2.29 s → 0.66 s at sf0.1.
    "q119_column_profile": 13,
    # - d45: the 64 per-permutation MIN columns and band structs are
    #   emitted as single SQL strings (one JVM parse instead of ~5,000
    #   py4j round trips per build); physical plan identical modulo
    #   plan ids (plans/r13/), output frame-equal.
    "d45_minhash_lsh_candidates": 13,
    # - d44: shingle cache pre-partitioned on the shingle hash so the
    #   stop-list aggregate and both self-join legs reuse the cached
    #   partitioning (11 → 9 exchanges; frame-equal, parity OK).
    "d44_ngram_jaccard_pairs": 13,
    # r13 optimization wave 3 (OPTIMIZATION_r13.md; all parity-OK at
    # sf0.001/sf0.01/sf0.1):
    # - t62: per-doc top-gram via in-row sorted-run champion fold —
    #   zero shuffles (was 2 exchanges + window + spine join).
    "t62_top_ngram_coverage": 13,
    # - t63: per-doc surprisal sum re-joins DISTINCT (doc, bigram)
    #   rows weighted by count; V derived from |uni| (one fewer full
    #   token pass).
    "t63_bigram_surprisal": 13,
    # - t76: ONE aggregation pass over the trigram stream (profile
    #   derived from cached per-doc counts, pre-partitioned on doc_id
    #   for the top-N window); 1.96 s → 0.65 s warm at sf0.1.
    "t76_charngram_langid": 13,
    # - s57: (doc, term, tf) computed in-row (sorted-run fold), the
    #   token occurrence stream never explodes through an exchange.
    "s57_tfidf_similar_docs": 13,
    # - d55: shingle cache pre-partitioned on the shingle hash (the
    #   d44 rule), then the r14 prefix-filter rewrite below — latest
    #   replacement round wins (the r14 row is in the r14 block).
    # - d48: exact rerank cosine vectorized across pairs via Arrow
    #   (functions/vectorized.py), bit-identical sequential-fold
    #   order; 2.40 s → 1.83 s at sf0.1. Superseded by the r14
    #   rewrite below — latest replacement round wins.
    # r13 optimization wave 4 (all parity-OK at sf0.001/sf0.01/sf0.1):
    # - s54/s55: the shared PQ-encode argmin is a combinable
    #   MIN(struct(dist, cid)) instead of a windowed rank-1 (per-group
    #   sort gone; lexicographic struct MIN ≡ ORDER BY dist, cid).
    "s54_pq_encode": 13,
    "s55_pq_adc_topk": 13,
    # - t80: parity split filters BEFORE shingling — each doc is
    #   tokenized+hashed once instead of twice (two consumers of an
    #   unpersisted explode).
    "t80_crosscorpus_ngram_recall": 13,
    # - t67: per-doc token counts from the sorted-run fold
    #   (functions/arrays.py) — O(n log n) per row vs the
    #   O(distinct × n) filter scan; same values, same order.
    "t67_token_entropy": 13,
    # - q151: the dual countDistinct (planned as Expand ×2 over the
    #   ×7 contribute relation) split by grain — n_today is a plain
    #   COUNT on the already-distinct obs relation.
    "q151_sliding_distinct": 13,
    # r13 wave 5 (persist_materialized, caching.py): the persist+count
    # materialization pairs skip the materializing count when an
    # equivalent plan is ALREADY cached — the cache re-scan on every
    # warm rebuild was pure overhead (107-build construction total
    # 11.5-13.1 s → 8.0 s). Plans and results unchanged; parity OK at
    # sf0.001/sf0.01 for every affected entry.
    "q93_mad_outliers": 13,
    "q105_pagerank_transactions": 13,
    "q108_journey_paths": 13,
    "q145_label_propagation": 13,
    "q149_bfs_reachability": 13,
    # s67/s68/s69: r13 rows superseded by the r15 vector-search layer
    # below — latest replacement round wins.
    # r14 optimization round (OPTIMIZATION_r14.md):
    # - d55: the delta×corpus collision join + pair-count aggregate
    #   replaced by d52's rarity-order prefix filter (exact pruning —
    #   full recall is a theorem at tau=0.5) + in-row array_intersect
    #   verification; 632,754 collision rows → 214,880 prefix rows,
    #   1.24-1.32 s → 0.71 s at sf0.1. Frame-equal, oracle parity OK
    #   at sf0.001/sf0.01/sf0.1, brute-force fuzz test added.
    "d55_incremental_dedup": 14,
    # - d58: signature as ONE wide row per doc (32 combinable MINs,
    #   doc-keyed exchange instead of (doc, hi)-keyed; band hashes an
    #   in-row projection — the configs crossJoin + ordered
    #   collect_list aggregate are gone; wide relation persisted so
    #   the band self-join stops recomputing the signature pipeline).
    #   Band bytes identical; frame-equal, parity OK at
    #   sf0.001/sf0.01/sf0.1; 1.26-1.31 s → 0.68-0.82 s at sf0.1.
    "d58_lsh_band_sweep": 14,
    # - d48: candidate pairs generated in-row per (tbl, bucket) group
    #   (q109 device) instead of the bucket self-join, and the rerank
    #   pandas_udf replaced by a mapInArrow kernel reading the Arrow
    #   list buffers directly (zero-norm pairs now NULL out exactly
    #   like the SQL divide — ADVICE r13 #1). Frame-equal at sf0.1;
    #   1.24 → 1.13 s.
    "d48_embedding_neardup_lsh": 14,
    # - s54/s55: the shared _slice_l2 subspace distance unrolled from
    #   zip_with+aggregate HOFs (interpreted per row) to an explicit
    #   8-term left-fold sum that whole-stage-codegen compiles;
    #   identical IEEE op order, frame-equal at sf0.1. s54 0.82 →
    #   0.34 s, s55 1.06 → 0.66 s.
    "s54_pq_encode": 14,
    "s55_pq_adc_topk": 14,
    # - q180/q201: lineitem pre-aggregated to max(ship_us) per
    #   l_orderkey BEFORE the orders join (o_orderkey unique ⇒ the
    #   aggregate commutes with the join exactly; join input
    #   600k → 150k rows at sf0.1), and q201 persists the interval
    #   relation so its self-join legs share one lineage. Frame-equal
    #   at sf0.1; q180 1.06 → 0.75 s, q201 0.82 → 0.20 s.
    "q180_max_concurrency": 14,
    "q201_overlapping_orders": 14,
    # r15 shared text-feature layer (functions/shingles.py): the k-gram
    # window, stop list, rarity-order prefix and its verification, the
    # pair-count Jaccard block and in-row pair generation are each
    # written once and every copy routes through them (d49/d51 reach
    # d44's code). Frame-equal at sf0.1 and oracle parity OK at
    # sf0.001/sf0.01/sf0.1 for all; normalized optimized plans
    # identical for d44/d48/d50/d52/d53/d54/d55/d60/t62/t80. Plan text
    # moved to the canonical forms for d57/d58/t87 (slice window
    # instead of tk[i-1], tk[i], tk[i+1]), t63/t83/q200 (bigram window)
    # and q109 (d48's pair slice length).
    "d44_ngram_jaccard_pairs": 15,
    "d48_embedding_neardup_lsh": 15,
    "d49_neardup_components": 15,
    "d50_contamination": 15,
    "d51_cluster_keeper_quality": 15,
    "d52_prefix_filter_jaccard": 15,
    "d53_dup_span_fraction": 15,
    "d54_winnow_neardup_pairs": 15,
    "d55_incremental_dedup": 15,
    "d57_minhash_estimate": 15,
    "d58_lsh_band_sweep": 15,
    "d60_shingle_k_sensitivity": 15,
    "q109_basket_cooccurrence": 15,
    "q200_curation_funnel": 15,
    "t62_top_ngram_coverage": 15,
    "t63_bigram_surprisal": 15,
    "t80_crosscorpus_ngram_recall": 15,
    "t83_heldout_lm_surprisal": 15,
    "t87_syndication_matrix": 15,
    # r15 vector-search layer (operators/similarity.py): the normed
    # corpus, the query set, the exact scan and its (cosine DESC, n_id)
    # top-k, the IVF centroids, cell scores, argmax cells, probes and
    # candidates are each written once and every copy routes through
    # them. Frame-equal at sf0.1 and oracle parity OK at
    # sf0.001/sf0.01/sf0.1 for all (s49 rows-only); normalized
    # optimized plans identical for s48/s49/s50, and for s62/s63/s65
    # up to alias names. s67/s68/s69 differ cosmetically (rk = 1 →
    # rk <= 1, cross join + filter → inner join on the same condition,
    # conjunct and projection order). Later in r15, s67/s68/s69's
    # shared ranking caches only (vec_id, c_id, rn) and joins the
    # embedding back: plans moved, frames equal, parity OK at all
    # three SFs (tools_refactorproof.py).
    "s48_cosine_topk": 15,
    "s49_ann_lsh_topk": 15,
    "s50_ann_ivf_topk": 15,
    "s62_ivf_recall": 15,
    "s63_matryoshka_recall": 15,
    "s65_ivf_cell_balance": 15,
    "s67_ivf_efficiency": 15,
    "s68_nprobe_sweep": 15,
    "s69_mrr_eval": 15,
}


def driver_green_rounds(
    root: str | None = None,
    impl_replaced: dict[str, int] | None = None,
) -> dict[str, int]:
    """name → LATEST round with a driver-verified green row in
    CORRECTNESS_r*.json at ``root`` (default: the repo root):
    hash_match green, or a rows-only row whose err is absent / the
    deliberate ``no_oracle`` marker. A row carrying an explicit
    ``hash_match: false`` NEVER counts, even with err null and
    spark_rows recorded — otherwise a driver-logged oracle MISMATCH
    would rotate out of the scored window and never be re-scored
    (ADVICE r8 #2). And when the LATEST row for a name is such a
    MISMATCH, the name's green round resets to 0: a known-currently-
    broken entry must sort to the FRONT of the stalest-first padding,
    not wait several rounds behind entries that are merely unverified-
    recently (ADVICE r9 #4). It stays scored (round 0), so it re-enters
    via padding, not the never-scored backlog.

    The same reset applies when the entry's implementation was REPLACED
    after its latest green round (``impl_replaced``, default
    ``_IMPL_REPLACED``): the old green row proved retired code
    (VERDICT r10 #1)."""
    if impl_replaced is None:
        impl_replaced = _IMPL_REPLACED
    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    mismatch: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is False:
                mismatch[name] = max(mismatch.get(name, 0), rnd)
                continue
            if row.get("hash_match") or (
                row.get("spark_rows") is not None
                and row.get("err") in (None, "no_oracle")
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    for name, bad_rnd in mismatch.items():
        if name in latest and bad_rnd > latest[name]:
            latest[name] = 0
    for name, replaced_rnd in impl_replaced.items():
        if name in latest and 0 < latest[name] < replaced_rnd:
            latest[name] = 0
    return latest


def driver_scored_names() -> set[str]:
    """Names with at least one driver-verified green row on disk."""
    return set(driver_green_rounds())


def derive_priority(
    queries: dict[str, QueryFn],
    oracle: dict[str, str],
    green: dict[str, int] | None = None,
) -> list[str]:
    """The scored window, recomputed from the correctness artifacts —
    can never go stale (VERDICT r7 #1). ``green`` (name → latest green
    round) is injectable for tests; defaults to the on-disk artifacts."""
    if green is None:
        green = driver_green_rounds()
    scored = set(green)
    window = [_ANCHOR]

    def _take(candidates, *, need_oracle: bool = True) -> None:
        for n in candidates:
            if len(window) >= _WINDOW:
                return
            if n == _ANCHOR or n in window or n not in queries:
                continue
            if need_oracle and n not in oracle:
                continue
            window.append(n)

    # Never-scored backlog, oldest-landed first; then any never-scored
    # entry the frozen landing list predates, in registry order.
    _take(n for n in _BACKLOG_LANDING_ORDER if n not in scored)
    _take(n for n in queries if n not in scored)
    # Never-scored rows-only entries (the q116 class) enter the padding
    # phase: a clean rows-only ``no_oracle`` driver row is the strongest
    # driver check such an entry can ever earn, and leaving it out keeps
    # the registry permanently under-recorded (VERDICT r8 #2). Once the
    # row lands the entry is scored and yields its slot forever.
    _take(
        (n for n in queries if n not in scored and n not in oracle),
        need_oracle=False,
    )
    # Backlog drained: pad with re-verification anchors, STALEST first —
    # the entry whose last driver-green round is oldest gets re-checked
    # before anything fresher, so the full registry cycles through
    # driver re-verification on a ~6-round period instead of re-scoring
    # the same early-registry names every round (VERDICT r8 #3).
    # sorted() is stable: ties stay in registry order. VERDICT r12 #3
    # extension: scored ROWS-ONLY entries rotate through padding too —
    # the old "yields its slot forever" rule left d45/d46/q13/s49 with
    # r1-r2 evidence only, never re-scored against the modern tree; a
    # periodic fresh rows-only row is real driver evidence and the
    # entry rotates back out for a full staleness cycle once it lands.
    _take(
        sorted(queries, key=lambda n: green.get(n, 0)),
        need_oracle=False,
    )
    return window


def _load():
    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for modname in _MODULES:
        try:
            mod = importlib.import_module(modname)
        except ModuleNotFoundError:
            continue  # module not built yet (earlier phases)
        for name, fn in mod.QUERIES.items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} in {modname}")
            queries[name] = fn
        oracle.update(mod.ORACLE)
    if _ANCHOR not in queries:
        raise ValueError(f"anchor {_ANCHOR!r} not in registry")
    priority = derive_priority(queries, oracle)
    ordered = {n: queries[n] for n in priority}
    ordered.update({n: fn for n, fn in queries.items() if n not in ordered})
    return ordered, oracle


def priority_window() -> list[str]:
    """The 50 names the driver will score this round, in order."""
    return list(_load()[0])[:_WINDOW]


def all_queries() -> dict[str, QueryFn]:
    return _load()[0]


def all_oracle_sql() -> dict[str, str]:
    return _load()[1]
