#!/usr/bin/env python
"""Standing 100-TB integer-overflow gate → OVERFLOW_AUDIT.json.

The r11 audit (SCALING.md §7) was a manual registry sweep: every long
product / sum-of-products / post-aggregation square / hash multiply was
either lifted to an exact wide form (``functions/exact.py``
accumulators, DECIMAL(38,0) products, ``functions/hashing.py`` ring
reduction / 16-bit limbs) or given a documented magnitude bound. This
tool turns that sweep into a MECHANICAL gate — the same move that
turned the ``_IMPL_REPLACED`` convention into ``tools_implhash.py``
enforcement (VERDICT r11 #4).

How it works: every registry query's ANALYZED logical plan is rendered
to text (no execution; long attributes carry the ``#idL`` suffix,
decimal lifts appear as explicit ``cast(... as decimal(p,0))``), and
:func:`audit_plan_text` scans it for the arithmetic shapes the r11
audit classified as overflow-prone at the 100-TB design point:

- ``sum_long_product`` — ``sum(a#L * b#L)`` (or ``sum(a#L * BIGLIT)``)
  with no decimal lift inside the sum: the q147/s57/q153 class
  (SCALING.md §7 rule 2).
- ``agg_product`` — a multiply whose operand is itself a long
  aggregate/window output (tracked by exprId through alias chains):
  the variance-bracket / count·count class (q83, q110, q150).
- ``agg_times_bigliteral`` — a long aggregate output times a literal
  ≥ 1000: the ppm/milli numerator class (§7 rule 3; count·1e6 is
  documented-bounded, cent-sum·1e6 is not).
- ``sum_of_agg_output`` — a second unlifted long sum OVER an
  aggregate/window output (rollup-of-rollup).
- ``bare_knuth_multiply`` — an UNREDUCED attribute times the Knuth /
  xxhash-prime constants: the id·KNUTH class that aborts past
  id ≈ 3.47e9 (§7 rule 4). Ring-reduced (``pmod(...) * KNUTH``) and
  16-bit-limb forms have compound operands and never match.
- ``decimal_div_quotient`` — an integral divide whose DIVIDEND is a
  decimal expression. Spark's IntegralDivide on decimals returns
  BIGINT and WRAPS SILENTLY (no ANSI raise) when the quotient itself
  passes int64 — the one wrong-answer-not-abort class in §7 rule 3 —
  so EVERY decimal ``div`` site must state its quotient bound in the
  exemption ledger (the r11 audit stated them in docstrings; the
  ledger makes the statement mechanical).

Every finding must carry either the exact-lift shape (in which case it
does not fire at all — decimal casts and compound limb operands are
structurally invisible to the single-token matchers) or a row in
``_DOCUMENTED_BOUNDS`` below citing the SCALING.md §7 bound that keeps
the long form exact. ``tests/test_overflow_gate.py`` fails the suite
when a finding is unexempted, when an exemption goes dead, or when the
artifact is stale against the implementation-hash ledger — so a NEW
registry entry with an unlifted corpus-scale product cannot land
silently.

Known out-of-scope (documented, not detected): a FIRST-level d=4
fixed-point long sum at fixed grain (the q01 class r11 lifted to
``exact_sum_wide``) is not flagged — distinguishing fixed from
scaling grain mechanically needs a grouping-key-name heuristic whose
false positives would swamp the ledger (every d=2 first-level cent
sum is legitimately long, bounded at the §7 table's 2.2e18 edge).
The r11 manual sweep covered every existing site with pins; a NEW
entry adding a d=4 fixed-grain sum must follow exact.py's module
docstring rule. Everything SECOND-level (rollup-of-sums) IS detected.

Run after operator changes: ``python tools_overflowaudit.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "OVERFLOW_AUDIT.json")

# Hash-injection constants whose raw products pass int64 on realistic
# ids (functions/hashing.py): Knuth's multiplicative constant and the
# xxhash prime used by the coordinate injections.
KNUTH_CONSTS = {"2654435761", "2246822519"}

_ATTR = re.compile(r"^\w+#(\d+)L$")
_INT = re.compile(r"^\d+$")
# innermost products only: both operands single tokens. Compound
# operands — decimal casts, pmod(...) reductions, limb arithmetic —
# contain spaces/parens and are structurally exempt by construction.
_MUL = re.compile(r"\(([^\s()]+) \* ([^\s()]+)\)")
# attr × cast-literal (either order): how integer literals render when
# promoted against a long column — `(x#5L * cast(1000000 as bigint))`
_MUL_CASTLIT_R = re.compile(r"\(([^\s()]+) \* (cast\(\d+ as bigint\))\)")
_MUL_CASTLIT_L = re.compile(r"\((cast\(\d+ as bigint\)) \* ([^\s()]+)\)")
_AS_LONG = re.compile(r"AS \w+#(\d+)L\b")
_ALIAS = re.compile(r"\b\w+#(\d+)L AS \w+#(\d+)L\b")
_LONG_REF = re.compile(r"\b\w+#(\d+)L\b")
_EXPR_ID = re.compile(r"#\d+L?")


def _drop_ids(text: str) -> str:
    return _EXPR_ID.sub("#", text)


def _balanced_end(text: str, lparen: int) -> int:
    """Index just past the ')' matching text[lparen] == '('."""
    depth = 0
    for i in range(lparen, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return len(text)


def _is_indicator(body: str) -> bool:
    """True when a sum body telescopes to (a small multiple of) a row
    count: a CASE whose arms pay out only small integer literals, or a
    boolean cast to bigint. Bounded by corpus rows like any count."""
    b = body.strip()
    if b.startswith("CASE WHEN") and not re.search(
        r"(?:THEN|ELSE) (?!-?\d+\b|cast\(-?\d+ as )", b
    ):
        return True
    return bool(
        re.fullmatch(r"cast\(.+ as (?:big)?int\)", b)
        and re.search(r"(?:[<>=]| AND | OR |isnull|isnotnull)", b)
        and not _LONG_REF.search(b[b.rfind(" THEN ") :] if " THEN " in b else "")
    )


def _agg_long_ids(text: str) -> tuple[set[str], set[str]]:
    """(all, count_derived) exprIds of long-typed Aggregate/Window
    outputs, propagated through downstream single-attribute alias
    chains and sum-of-count rollup chains.

    count_derived ⊆ all: outputs that are COUNT(...) or a (possibly
    repeated) SUM over a count-derived attribute. Their magnitude is
    bounded by total corpus rows (~1e12 at 100 TB — SCALING.md §7's
    ppm-headroom bound), so re-summing them is auto-exempt; their
    PRODUCTS are not (count·count reaches 1e22+ — §7 rule 2)."""
    ids: set[str] = set()
    defs: list[tuple[str, str]] = []  # (defining expr, exprId)
    for raw in text.splitlines():
        line = raw.strip().lstrip("+-: ").strip()
        is_agg = line.startswith("Aggregate ")
        if is_agg or "windowspecdefinition(" in line:
            for m in _AS_LONG.finditer(line):
                ids.add(m.group(1))
            groups = _bracket_groups(line)
            if not groups:
                continue
            # Aggregate [keys], [outputs] (or global: one group);
            # Window [outputs], [part], [order]
            outputs = groups[-1] if is_agg else groups[0]
            for elem in _split_top_commas(outputs):
                am = re.search(r" AS \w+#(\d+)L$", elem)
                if am:
                    defs.append((elem[: am.start()].strip(), am.group(1)))
    pairs = _ALIAS.findall(text)
    changed = True
    while changed:
        changed = False
        for src, dst in pairs:
            if src in ids and dst not in ids:
                ids.add(dst)
                changed = True
    counts: set[str] = set()
    changed = True
    while changed:
        changed = False
        for expr, did in defs:
            if did not in counts and _is_count_class(expr, counts):
                counts.add(did)
                changed = True
        for src, dst in pairs:
            if src in counts and dst not in counts:
                counts.add(dst)
                changed = True
    return ids, counts


def _bracket_groups(line: str) -> list[str]:
    """Top-level [...] group contents of a plan node line."""
    groups, i = [], 0
    while i < len(line):
        if line[i] == "[":
            depth = 0
            for j in range(i, len(line)):
                if line[j] == "[":
                    depth += 1
                elif line[j] == "]":
                    depth -= 1
                    if depth == 0:
                        groups.append(line[i + 1 : j])
                        i = j
                        break
            else:
                break
        i += 1
    return groups


def _split_top_commas(s: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts]


def _is_count_class(expr: str, counts: set[str]) -> bool:
    """Does this Aggregate/Window output expression telescope to a
    row count (count, sum/max/min over a count-class input, an
    indicator, or a small-int cast of one)?"""
    expr = expr.strip()
    cm = re.fullmatch(r"cast\((.+) as (?:big)?int\)", expr)
    if cm:
        return _is_count_class(cm.group(1), counts) or _is_indicator(expr)
    fm = re.match(r"(count|sum|max|min)\(", expr)
    if fm:
        end = _balanced_end(expr, fm.end() - 1)
        rest = expr[end + 1 :]
        if rest and not rest.startswith(" windowspecdefinition("):
            return False  # FILTER clauses etc.: stay conservative
        inner = expr[fm.end() : end].strip()
        if fm.group(1) == "count":
            return True
        am = _ATTR.match(inner)
        return bool(am and am.group(1) in counts) or _is_indicator(inner)
    return _is_indicator(expr)


def _sum_spans(text: str) -> list[tuple[int, int, bool]]:
    """(start, end, has_decimal_lift) content intervals of sum(...)."""
    spans = []
    for m in re.finditer(r"\bsum\(", text):
        end = _balanced_end(text, m.end() - 1)
        body = text[m.end() : end]
        spans.append((m.end(), end, "decimal" in body))
    return spans


def audit_plan_text(text: str) -> list[dict]:
    """Pure detector over one analyzed-plan string (unit-testable —
    the planted-violation pins in tests/test_overflow_gate.py run it
    on synthetic plans)."""
    findings: list[dict] = []
    agg_ids, count_ids = _agg_long_ids(text)
    spans = _sum_spans(text)

    def in_unlifted_sum(pos: int) -> bool:
        return any(s <= pos < e and not dec for s, e, dec in spans)

    def snip(m: re.Match) -> str:
        # margins are counted after dropping expression ids (per-session
        # counters), so a renumbered plan gives the same snippet
        head = _drop_ids(text[max(0, m.start() - 960) : m.start()])[-48:]
        tail = _drop_ids(text[m.end() : m.end() + 160])[:8]
        return (head + _drop_ids(m.group(0)) + tail).replace("\n", " ")

    def is_agg(tok: str) -> bool:
        a = _ATTR.match(tok)
        return bool(a and a.group(1) in agg_ids)

    def is_count(tok: str) -> bool:
        a = _ATTR.match(tok)
        return bool(a and a.group(1) in count_ids)

    # cast-literal operands (`cast(1000000 as bigint)`) are how SQL /
    # lit() integer factors render against a long column — normalize
    # them to the bare literal so the single-token matchers see them.
    mults = (
        list(_MUL.finditer(text))
        + list(_MUL_CASTLIT_R.finditer(text))
        + list(_MUL_CASTLIT_L.finditer(text))
    )
    for m in mults:
        t1, t2 = m.group(1), m.group(2)
        cl1 = re.fullmatch(r"cast\((\d+) as bigint\)", t1)
        cl2 = re.fullmatch(r"cast\((\d+) as bigint\)", t2)
        if cl1:
            t1 = cl1.group(1)
        if cl2:
            t2 = cl2.group(1)
        a1, a2 = _ATTR.match(t1), _ATTR.match(t2)
        i1, i2 = _INT.match(t1), _INT.match(t2)
        if (a1 and i2 and t2 in KNUTH_CONSTS) or (a2 and i1 and t1 in KNUTH_CONSTS):
            findings.append({"category": "bare_knuth_multiply", "snippet": snip(m)})
        elif a1 and a2:
            if in_unlifted_sum(m.start()):
                findings.append({"category": "sum_long_product", "snippet": snip(m)})
            elif is_agg(t1) or is_agg(t2):
                findings.append({"category": "agg_product", "snippet": snip(m)})
        elif (a1 and i2) or (a2 and i1):
            lit = int(t2 if i2 else t1)
            attr = t1 if a1 else t2
            if lit >= 1000:
                if in_unlifted_sum(m.start()):
                    findings.append(
                        {"category": "sum_long_product", "snippet": snip(m)}
                    )
                elif is_agg(attr) and not (is_count(attr) and lit <= 10**6):
                    # count·1e6 ppm numerators are the documented-safe
                    # §7 rule-3 class (≤ ~1e18, 9× headroom); anything
                    # bigger, or a non-count aggregate, must justify.
                    findings.append(
                        {"category": "agg_times_bigliteral", "snippet": snip(m)}
                    )
    # decimal integral divides: walk left from each ` div ` to the
    # opening paren of the binary expression; a dividend containing a
    # decimal cast is the silent-wrap class (quotient past int64 wraps
    # with no ANSI raise) and must state its quotient bound.
    seen_div: set[str] = set()
    for m in re.finditer(r" div ", text):
        i, depth = m.start() - 1, 0
        while i >= 0:
            c = text[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    break
                depth -= 1
            i -= 1
        dividend = text[i + 1 : m.start()]
        if "decimal" in dividend and dividend not in seen_div:
            seen_div.add(dividend)
            findings.append(
                {
                    "category": "decimal_div_quotient",
                    "snippet": _drop_ids(dividend)[-90:] + " div …",
                }
            )

    for s, e, dec in spans:
        if dec:
            continue
        body = text[s:e]
        # indicator sums telescope to (a multiple of) a row count even
        # when the CONDITION compares aggregate outputs; bounded by
        # corpus rows like any count, so auto-exempt.
        if _is_indicator(body):
            continue
        refs = [m.group(1) for m in _LONG_REF.finditer(text, s, e)]
        risky = [r for r in refs if r in agg_ids and r not in count_ids]
        if risky:
            # a sum over count-derived outputs telescopes to a row
            # count (≤ ~1e12) and is auto-exempt; a sum over SUM
            # outputs (money rollup-of-rollup) must justify its bound.
            findings.append(
                {
                    "category": "sum_of_agg_output",
                    "snippet": _drop_ids(text[s - 4 : e + 1])[:94],
                }
            )
    return findings


# Exemption ledger: "entry:category" → the SCALING.md §7 bound that
# keeps the flagged long arithmetic exact at the 100-TB design point.
# A finding without a row here fails the suite; a row without a live
# finding fails too (dead exemptions rot into blanket waivers).
#
# Recurring bounds, stated once:
# [GLOBAL-CENTS] a second-level Σ of per-group d=2 cent sums
#   telescopes to ≤ the global cent total ≈ 2.2e18 (§7 table) —
#   inside int64 with ~4× headroom. (d=4 fixed-grain sums were
#   lifted in r11; the surviving sites are d=2 cents.)
# [DAY-DOMAIN] per-day aggregates re-summed over a calendar-bounded
#   day domain (≤ ~2.5e3 rows/group): Σ ≤ 2.5e3 · 4e13 ≈ 1e17.
# [PER-ROW-BRACKET] sums of per-row products whose factor domains
#   are value-range-bounded (quantity/discount/value fixed-point) —
#   verified 1e4× inside int64 in the r11 audit (ROUND11_NOTES §12,
#   q81/q122 class), pinned in test_overflow_100tb.py.
# [COUNT-PPM] count·1e6 ppm numerators (§7 rule 3): ≤ ~1e18 at 1e12
#   rows, ~9× headroom. Flagged only because the count flows through
#   a pivot/conditional the count-class tracker cannot see through.
_DOCUMENTED_BOUNDS: dict[str, str] = {
    # --- decimal_div_quotient: every decimal `div` narrows to BIGINT
    # and WRAPS silently past int64, so each site states its quotient
    # bound (§7 rule 3's q209 discipline, now mechanical). q185's
    # former mae_milli FAILED this bound and was rewritten to exact
    # cents in r12 — the category's first real catch.
    "q128_national_market_share:decimal_div_quotient": (
        "share ppm: part ≤ whole ⇒ quotient ≤ 1e6"
    ),
    "q133_promo_revenue_share:decimal_div_quotient": (
        "share ppm: part ≤ whole ⇒ quotient ≤ 1e6"
    ),
    "q166_weekday_seasonality:decimal_div_quotient": (
        "per-event-scale micro averages: quotients ≤ ~1e13 (docstring; "
        "avg_micro ≤ per-event cents·1e6)"
    ),
    "q177_market_concentration:decimal_div_quotient": (
        "CR4/share ppm: part ≤ whole ⇒ quotient ≤ 1e6"
    ),
    "q181_seasonal_decomposition:decimal_div_quotient": (
        "day-vs-7-day-trend ratio: cents ≤ trend_sum ⇒ quotient ≤ 7e6"
    ),
    "q185_forecast_backtest:decimal_div_quotient": (
        "ape_ppm ≤ 1e6·(fc/actual + 1): wraps only on a ≥9.2e12× "
        "single-month revenue collapse (block comment); MAE itself was "
        "moved OFF this class to pure-long cents in r12"
    ),
    "q187_percent_of_parent:decimal_div_quotient": (
        "share ppm: child ≤ parent ⇒ quotient ≤ 1e6"
    ),
    "q195_abc_xyz_matrix:decimal_div_quotient": (
        "CV² milli ≤ (n−1)·1000 ≤ ~2.5e6 (n = calendar-bounded day "
        "count; Cauchy-Schwarz upper bound)"
    ),
    "q196_revenue_gini:decimal_div_quotient": "gini ∈ [0,1] ⇒ milli ≤ 1000",
    "q198_seasonal_anomalies:decimal_div_quotient": (
        "ratio_ppm ≤ 7e6 (day ≤ 7-day trend), anomaly quotient ≤ "
        "7e12/seasonal_ppm with seasonal_ppm ≥ 1"
    ),
    "q204_acquisition_mix:decimal_div_quotient": (
        "mix share ppm: part ≤ whole ⇒ quotient ≤ 1e6"
    ),
    "q209_engagement_gini:decimal_div_quotient": "gini ∈ [0,1] ⇒ milli ≤ 1000",
    "t79_vocab_growth:decimal_div_quotient": (
        "milestone m = maxid·k div 10 ≤ maxid — fits int64 by identity"
    ),
    "t84_term_burstiness:decimal_div_quotient": (
        "milli-VMR ≤ 1000·max tf ≈ 1e7 (block comment)"
    ),
    "d58_lsh_band_sweep:agg_times_bigliteral": "[COUNT-PPM] n_true pair counts",
    "q169_abtest_ztest:agg_times_bigliteral": (
        "[COUNT-PPM] c1/c2 are per-variant conversion counts pivoted "
        "via max(CASE)"
    ),
    "q172_decile_lift:agg_times_bigliteral": (
        "[COUNT-PPM] responder counts; the second-stage lift ratio "
        "multiplies a ppm rate (≤1e6) by 1e6 — ≤1e12"
    ),
    "q199_attribution_bakeoff:sum_long_product": (
        "Σ over models of ppm quotients (each ≤1e6): ≤ 1e6·|models|"
    ),
    "q208_supplier_scorecard:agg_times_bigliteral": (
        "[COUNT-PPM] on-time counts; qty·1e6 is per-SUPPLIER quantity "
        "(scaling-key fan-in ≈ 3e7 at 1e-2 fixed) ·1e6 ≈ 3e13; the "
        "7·/3· score weights multiply ppm rates ≤1e6"
    ),
    "q212_share_of_wallet:agg_times_bigliteral": (
        "cents·1e6 at CUSTOMER grain: per-key fan-in bounds the cent "
        "sum to ~2e9 (≈6e3 lines × avg price), ·1e6 ≈ 2e15 — the "
        "scaling-key exemption of §7 rule 1, not the fixed-grain q128 "
        "class"
    ),
    "q219_repeat_ladder:agg_times_bigliteral": "[COUNT-PPM] ladder counts",
    "s68_nprobe_sweep:sum_long_product": (
        "Σ over nprobe settings of ppm quotients (each ≤1e6): "
        "≤ 1e6·|settings|"
    ),
    "m62_payload_dedup_savings:sum_of_agg_output": (
        "byte totals: Σ(tot_bytes − one_copy) ≤ corpus size = 1e14 bytes "
        "at the 100-TB design point — 9e4× inside int64"
    ),
    "q104_inactive_high_balance:agg_product": (
        "bal_cents ≤ 1e6 (acctbal domain) × n_pos (global customer "
        "count): exact to ~9e12 customers; threshold sum_cents ≤ 1e6·n"
    ),
    "q121_incremental_rollup_merge:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q122_exact_corr_by_flag:sum_long_product": (
        "[PER-ROW-BRACKET] q·q/c·c/q·c co-moment sums; r11-verified, "
        "pinned in test_overflow_100tb.py"
    ),
    "q131_important_parts:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q140_ks_drift_test:sum_of_agg_output": (
        "c_early/c_late are 0/1-indicator sums (late / 1−late) at "
        "(type, value) histogram grain; re-summing telescopes to "
        "event rows ≤ ~1e12 (the cross PRODUCTS are DECIMAL since r12)"
    ),
    "q146_bitmap_distinct:sum_of_agg_output": (
        "Σ bit_count(word) ≤ 64 · #words ≤ 64 · key-range/64 = key "
        "range — a distinct count, ≤ corpus rows"
    ),
    "q150_trend_slope:agg_product": (
        "x-side OLS stats only: n, sx, sxx over a ≤2.5e3-day domain — "
        "n·sxx ≤ 4e13, sx² ≤ 4e13 (the y-side is DECIMAL since r11)"
    ),
    "q150_trend_slope:sum_of_agg_output": "[GLOBAL-CENTS] daily y re-summed",
    "q153_lag_correlation:sum_of_agg_output": "[DAY-DOMAIN]",
    "q155_cusum_changepoint:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q156_cohort_ltv:sum_of_agg_output": "[GLOBAL-CENTS] weekly cents",
    "q162_tuple_sketch_sum:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q166_weekday_seasonality:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q173_rfm_segmentation:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q175_abc_classification:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q177_market_concentration:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q180_max_concurrency:sum_of_agg_output": (
        "Σ of ±1 concurrency deltas: |Σ| ≤ event rows ≤ ~1e12"
    ),
    "q181_seasonal_decomposition:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q182_cheapest_path_cost:sum_of_agg_output": (
        "path cost = Σ of ≤1e9 edge weights over a depth-bounded "
        "frontier (≤ ~10 hops): ≤ 1e10 per path, summed over the tiny "
        "event-type node set"
    ),
    "q184_revenue_bridge:sum_of_agg_output": (
        "[GLOBAL-CENTS] bridge arms pay signed per-entity cent deltas; "
        "|Σ| ≤ global total either side"
    ),
    "q185_forecast_backtest:sum_of_agg_output": "[GLOBAL-CENTS] monthly cents",
    "q187_percent_of_parent:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q195_abc_xyz_matrix:sum_of_agg_output": (
        "[GLOBAL-CENTS] + [DAY-DOMAIN] (q re-summed at part grain is "
        "per-key-fan-in bounded)"
    ),
    "q196_revenue_gini:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q197_correlation_matrix:sum_long_product": (
        "[PER-ROW-BRACKET] qty/discount per-row product sums (price "
        "squares are DECIMAL since r11); pinned in test_overflow_100tb"
    ),
    "q198_seasonal_anomalies:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q204_acquisition_mix:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q208_supplier_scorecard:sum_of_agg_output": (
        "Σ qty (1e-2 fixed, ≤5e3/row) ≤ 3e15 at 6e11 lineitems"
    ),
    "q209_engagement_gini:sum_long_product": (
        "Σ act·cnt over the activity histogram telescopes to total "
        "events ≤ ~1e12 (frequency-of-frequencies identity); the gini "
        "bracket above it is DECIMAL since r11"
    ),
    "q212_share_of_wallet:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q213_pareto_crossing:sum_of_agg_output": (
        "[GLOBAL-CENTS]; the ×100/×80 cut products are DECIMAL since r11"
    ),
    "q215_basket_width:sum_of_agg_output": "[GLOBAL-CENTS]",
    "q79_mixture_weights:sum_of_agg_output": (
        "Σ src_tokens ≤ corpus tokens ≈ 2.5e13 at 100 TB — 4e5× inside"
    ),
    "q80_domain_resample:sum_of_agg_output": (
        "Σ src_tokens ≤ corpus tokens ≈ 2.5e13 at 100 TB — 4e5× inside"
    ),
    "q81_stats_moments:sum_long_product": (
        "[PER-ROW-BRACKET] d·d/q·d co-moment sums; r11-verified 1e4× "
        "inside int64, pinned in test_overflow_100tb.py"
    ),
    "q91_trimmed_mean:sum_long_product": (
        "v·kept with kept ∈ {0,1}: Σ ≤ Σv ≤ 1e6·1e12 = 1e18 (events "
        "1e-2 fixed-point value domain) — §7 ppm-headroom class"
    ),
    "s69_mrr_eval:sum_of_agg_output": (
        "rr_micro ≤ 1e6 per probe by construction: Σ ≤ 1e6 · probes"
    ),
    "t81_rake_keyphrases:sum_of_agg_output": (
        "Σ score_ppm at PHRASE grain: ≤ 6 words/phrase × ≤ 6e6 ppm "
        "per word ≈ 3.6e7 per group"
    ),
    "t84_term_burstiness:sum_long_product": (
        "the wide_fp_total hi/lo split of f² itself (per-row f² ≤ 1e8 "
        "exact long; envelope Σhi ≤ 1e13, Σlo ≤ 2e17 re-checked in the "
        "t84 block comment per exact.py's call-site rule). Any new "
        "wide_fp_total over a PRODUCT term will flag here too — "
        "intentionally, so its envelope gets re-checked"
    ),
}


def _impl_digest() -> str:
    import tools_implhash as T

    blob = json.dumps(T.compute_hashes(), sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()


def main() -> int:
    from pinot_pulsar_plugin_spark.registry import all_queries
    from pinot_pulsar_plugin_spark.session import get_spark

    spark = get_spark("overflowaudit", driver_memory="8g")
    sf_dir = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.001")
    per_entry: dict[str, list[dict]] = {}
    for name, fn in sorted(all_queries().items()):
        try:
            text = fn(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
        except Exception as exc:  # plan-time failure is its own gate's job
            per_entry[name] = [
                {"category": "plan_error", "snippet": f"{type(exc).__name__}: {exc}"[:200]}
            ]
            continue
        findings = audit_plan_text(text)
        if findings:
            per_entry[name] = findings
    unexempt = sorted(
        {
            f"{name}:{f['category']}"
            for name, fs in per_entry.items()
            for f in fs
            if f"{name}:{f['category']}" not in _DOCUMENTED_BOUNDS
        }
    )
    dead = sorted(
        key
        for key in _DOCUMENTED_BOUNDS
        if key.split(":", 1)[0] not in per_entry
        or key.split(":", 1)[1]
        not in {f["category"] for f in per_entry[key.split(":", 1)[0]]}
    )
    out = {
        "_impl_digest": _impl_digest(),
        "findings": per_entry,
        "unexempt": unexempt,
        "dead_exemptions": dead,
    }
    with open(OUT, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    n = sum(len(v) for v in per_entry.values())
    print(
        f"{len(per_entry)} entries with findings ({n} findings); "
        f"unexempt: {len(unexempt)}; dead exemptions: {len(dead)}"
    )
    for k in unexempt[:20]:
        print("  UNEXEMPT", k)
    for k in dead[:20]:
        print("  DEAD", k)
    return 1 if (unexempt or dead) else 0


if __name__ == "__main__":
    sys.exit(main())
