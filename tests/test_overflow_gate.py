"""The mechanical half of the 100-TB overflow audit (VERDICT r11 #4).

SCALING.md §7's r11 sweep was manual; ``tools_overflowaudit.py`` makes
it a standing gate: every registry query's analyzed plan is scanned for
the overflow-prone arithmetic shapes (sums of long products, products
and rollups of aggregate outputs, unreduced Knuth-hash multiplies), and
each finding must be either structurally lifted (decimal casts / limb
forms are invisible to the detector by construction) or carry a
``_DOCUMENTED_BOUNDS`` row citing the §7 bound. These tests pin the
three enforcement properties: the artifact cannot go stale (it is tied
to the implementation-hash ledger, the same freshness spine as
``tools_implhash.py``), no finding is unexempted, and the detector
actually fires on planted violations of every category — so a NEW
registry entry with an unlifted corpus-scale product fails the suite
the round it lands.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

import tools_overflowaudit as O

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load():
    with open(os.path.join(HERE, "OVERFLOW_AUDIT.json")) as fh:
        return json.load(fh)


def test_overflow_audit_current():
    """Any implementation change invalidates the artifact: its
    recorded digest of the implementation-hash ledger must match the
    hashes recomputed now. Regenerate with
    ``python tools_overflowaudit.py`` after operator changes."""
    assert _load()["_impl_digest"] == O._impl_digest(), (
        "OVERFLOW_AUDIT.json is stale against the current operator "
        "implementations — rerun `python tools_overflowaudit.py` and "
        "triage any new findings (lift or add a _DOCUMENTED_BOUNDS row)"
    )


def test_all_findings_exempted_and_no_dead_exemptions():
    """Every recorded finding carries a documented §7 bound; every
    bound still matches a live finding (dead exemptions rot into
    blanket waivers). The artifact stores both lists precomputed; this
    re-derives them from the findings so the artifact cannot lie."""
    art = _load()
    found = {
        f"{name}:{f['category']}"
        for name, fs in art["findings"].items()
        for f in fs
    }
    unexempt = sorted(found - set(O._DOCUMENTED_BOUNDS))
    dead = sorted(set(O._DOCUMENTED_BOUNDS) - found)
    assert not unexempt, f"unexempted overflow findings: {unexempt}"
    assert not dead, f"dead exemptions (no matching finding): {dead}"
    assert art["unexempt"] == [] and art["dead_exemptions"] == []
    assert "plan_error" not in {k.split(":", 1)[1] for k in found}


def test_planted_violations_flagged(spark):
    """The detector fires on a live analyzed plan for each category,
    and the corresponding LIFTED form is structurally invisible."""
    df = spark.range(10).select(
        F.col("id").alias("a"),
        (F.col("id") * 2).alias("b"),
        F.rand().alias("x"),
    )

    def cats(frame):
        text = frame._jdf.queryExecution().analyzed().toString()
        return {f["category"] for f in O.audit_plan_text(text)}

    # sum of long product — flagged; decimal lift — clean
    assert "sum_long_product" in cats(
        df.groupBy().agg(F.sum(F.col("a") * F.col("b")).alias("s"))
    )
    assert not cats(
        df.groupBy().agg(
            F.sum(F.col("a").cast("decimal(38,0)") * F.col("b")).alias("s")
        )
    )

    # product of two long SUM outputs — flagged; count outputs — clean
    agg = df.groupBy("b").agg(
        F.sum("a").alias("s1"), F.count(F.lit(1)).alias("c")
    )
    assert "agg_product" in cats(
        agg.select((F.col("s1") * F.col("s1")).alias("sq"))
    )
    # count·count products DO flag (the q110 class) …
    assert "agg_product" in cats(
        agg.select((F.col("c") * F.col("c")).alias("cc"))
    )
    # … but count·ppm-literal is the documented-safe rule-3 class
    assert not cats(agg.select((F.col("c") * F.lit(1000000)).alias("ppm")))
    assert "agg_times_bigliteral" in cats(
        agg.select((F.col("s1") * F.lit(1000000)).alias("boom"))
    )

    # rollup-of-sums — flagged; rollup-of-counts — clean
    assert "sum_of_agg_output" in cats(
        agg.groupBy().agg(F.sum("s1").alias("ss"))
    )
    assert not cats(agg.groupBy().agg(F.sum("c").alias("sc")))

    # bare Knuth multiply — flagged; ring-reduced — clean
    from pinot_pulsar_plugin_spark.functions.hashing import knuth_bucket

    assert "bare_knuth_multiply" in cats(
        df.select(((F.col("a") * 2654435761) % 1000).alias("h"))
    )
    assert not cats(df.select(knuth_bucket(F.col("a"), 1000).alias("h")))

    # double arithmetic never trips the integer detectors
    assert not cats(df.groupBy().agg(F.sum(F.col("x") * F.col("x")).alias("sx")))

    # decimal `div` (silent BIGINT narrow) — flagged; long div — clean
    assert "decimal_div_quotient" in cats(
        df.select(
            F.expr("cast(a as decimal(38,0)) * 1000 div (b + 1)").alias("q")
        )
    )
    assert "decimal_div_quotient" not in cats(
        df.select(F.expr("a div (b + 1)").alias("q"))
    )


def test_snippets_do_not_depend_on_expression_ids():
    """Expression ids are per-session counters, so the same plan numbered
    by another session must give the same stored findings; otherwise
    every regeneration of OVERFLOW_AUDIT.json rewrites the snippets of
    untouched entries."""
    plan = (
        "Aggregate [flag#{a}], [flag#{a}, count(1) AS n#{b}L, sum(q#{c}L) AS sx#{d}L, "
        "sum((q#{c}L * c#{e}L)) AS sxy#{f}L, (sum(q#{c}L) * 2654435761) AS h#{g}L]\n"
        "+- Aggregate [flag#{a}], [flag#{a}, sum(x#{h}L) AS q#{c}L, sum(y#{h}L) AS c#{e}L]"
    )
    low = plan.format(**dict(zip("abcdefgh", range(1, 9))))
    high = plan.format(**dict(zip("abcdefgh", range(99991, 99999))))
    found = O.audit_plan_text(low)
    assert {f["category"] for f in found} >= {"sum_long_product", "sum_of_agg_output"}
    assert found == O.audit_plan_text(high)
    assert not any(re.search(r"#\d", f["snippet"]) for f in found)


def test_q185_mae_cents_stays_long_where_milli_wrapped(spark):
    """The decimal_div_quotient category's first catch, pinned: at
    100-TB monthly magnitudes (mean abs error ~3e16 cents) the former
    Σae·1000 div n quotient is ~3e19 — past int64, and Spark's
    IntegralDivide on decimals NARROWS TO BIGINT with a silent wrap
    (no ANSI raise). The rewritten pure-long cents quotient is exact
    and equals the Python-bigint value."""
    import pyspark.sql.utils  # noqa: F401

    months = [(3 * 10**16 + i, 1) for i in range(12)]
    df = spark.createDataFrame(months, "ae long, one int")
    got = df.agg(F.expr("sum(ae) div count(1)").alias("mae_cents")).collect()[
        0
    ].mae_cents
    exp = sum(a for a, _ in months) // 12
    assert got == exp and exp < 2**63 - 1
    # the retired milli form's quotient does not fit int64
    assert exp * 1000 > 2**63 - 1
    wrapped = df.agg(
        F.expr("CAST(sum(ae) AS DECIMAL(38,0)) * 1000 div count(1)").alias("m")
    ).collect()[0].m
    # silent-wrap class: no exception, wrong value — the reason the
    # gate demands a quotient bound for every decimal div
    assert wrapped != exp * 1000
