"""Second-wave aggregates and scalar functions: boolean/bitwise
aggregates, extended string family, percent_rank/cume_dist.
"""

from __future__ import annotations

from pinot_pulsar_plugin_spark.caching import persist_materialized, persist_once

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.operators.common import (
    make_registry,
    t,
    value_histogram,
)

QUERIES, ORACLE, query = make_registry()


@query(
    "q70_bool_bit_aggs",
    """
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(bit_and(o_custkey) AS BIGINT) AS band,
           CAST(bit_or(o_custkey) AS BIGINT) AS bor,
           CAST(bit_xor(o_custkey) AS BIGINT) AS bxor
    FROM orders GROUP BY o_orderstatus
    """,
)
def q70_bool_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean (every/some) and bitwise (and/or/xor) aggregates — all
    commutative-associative, so partial aggregation applies and results
    are partition-order independent by construction."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.bit_and("o_custkey").alias("band"),
        F.bit_or("o_custkey").alias("bor"),
        F.bit_xor("o_custkey").alias("bxor"),
    )


@query(
    "q71_string_funcs_2",
    """
    SELECT p_partkey,
           translate(p_name, 'aeiou', '01234') AS name_translated,
           CAST(strpos(p_name, 'widget') AS INTEGER) AS widget_pos,
           repeat(p_brand, 2) AS brand_twice,
           reverse(p_type) AS type_rev,
           left(p_name, 4) AS name_l4,
           right(p_name, 4) AS name_r4,
           CAST(contains(p_name, 'bolt') AS INTEGER) AS has_bolt,
           CAST(starts_with(p_type, 'PRO') AS INTEGER) AS is_promo,
           CAST(ends_with(p_brand, '3') AS INTEGER) AS brand_ends_3
    FROM part
    """,
)
def q71_string_funcs_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string family: translate, position, repeat, reverse,
    left/right, contains/starts/ends (booleans cast to int so the
    value-hash sees identical primitive types)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "01234").alias("name_translated"),
        F.instr("p_name", "widget").alias("widget_pos"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.reverse("p_type").alias("type_rev"),
        F.expr("left(p_name, 4)").alias("name_l4"),
        F.expr("right(p_name, 4)").alias("name_r4"),
        F.contains("p_name", F.lit("bolt")).cast("int").alias("has_bolt"),
        F.startswith("p_type", F.lit("PRO")).cast("int").alias("is_promo"),
        F.endswith("p_brand", F.lit("3")).cast("int").alias("brand_ends_3"),
    )


@query(
    "q73_multi_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS d_parts,
           COUNT(DISTINCT l_suppkey) AS d_supps,
           COUNT(DISTINCT l_orderkey) AS d_orders,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q73_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT) over different columns in one aggregate —
    Catalyst plans this with an Expand node (one row replicated per
    distinct-column group), the multi-distinct strategy that avoids N
    separate scans."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("d_parts"),
        F.countDistinct("l_suppkey").alias("d_supps"),
        F.countDistinct("l_orderkey").alias("d_orders"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q72_percent_rank_cume",
    """
    SELECT c_custkey, c_mktsegment,
           ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal), 9) AS pr,
           ROUND(CUME_DIST() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal), 9) AS cd
    FROM customer
    """,
)
def q72_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist analytic functions (rounded at 9 digits:
    both engines compute (rank-1)/(n-1) and rank/n in double — identical
    division, rounding only guards the formatting)."""
    from pyspark.sql import Window as W

    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
    )


@query(
    "q81_stats_moments",
    """
    WITH scaled AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS q,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS d
      FROM lineitem),
    m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(q) AS DOUBLE) AS s1,
             CAST(SUM(q * q) AS DOUBLE) AS s2,
             CAST(SUM(q * q * q) AS DOUBLE) AS s3,
             CAST(SUM(d) AS DOUBLE) AS t1,
             CAST(SUM(d * d) AS DOUBLE) AS t2,
             CAST(SUM(q * d) AS DOUBLE) AS x1
      FROM scaled GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND(s1 / n / 100.0, 6) AS mean_qty,
           ROUND((s2 - s1 * s1 / n) / (n - 1) / 10000.0, 6) AS var_qty,
           ROUND(sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100.0, 6) AS std_qty,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n)
                  + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / (sqrt((s2 - s1 * s1 / n) / n)
                    * sqrt((s2 - s1 * s1 / n) / n)
                    * sqrt((s2 - s1 * s1 / n) / n)), 6) AS skew_qty,
           ROUND((x1 - s1 * t1 / n)
                 / (sqrt(s2 - s1 * s1 / n) * sqrt(t2 - t1 * t1 / n)), 6)
             AS corr_qty_disc
    FROM m
    """,
)
def q81_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed moment statistics (mean/variance/stddev/skewness/
    correlation) computed from EXACT integer moment sums instead of
    Spark's built-in float aggregates.

    Why not stddev()/skewness()/corr() directly: their float partial
    states merge in partition order, so the last ulps differ run-to-run
    and engine-to-engine — unacceptable for a differential-tested
    engine. Here every input is fixed-point scaled to int64
    (quantity/discount have <=2 decimals), the six moment sums are
    exact commutative integer arithmetic (order can't matter), and the
    statistics derive from those sums with an identical double
    expression tree on both engines (sqrt is IEEE-correctly-rounded;
    pow is avoided). Same single map-side-combinable aggregate shape as
    any SUM — at 100 TB the moments merge hierarchically like every
    other partial agg. Overflow (the q196 DECIMAL rule, r11): q² and
    q³ terms are per-row int64-tiny, but at ~2e11 rows per returnflag
    Σq³ ≈ 3e23 (and Σq² ≈ 1.7e18 is within 6× of the cliff), so those
    two moment sums accumulate in exact DECIMAL(38,0); the remaining
    sums stay provably ≤ ~1e16 (d ≤ 1e3, q·d ≤ 5e6 per row). The
    DECIMAL→double cast is the same correctly-rounded conversion as
    the oracle's int128→double."""
    li = t(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity") * 100).cast("long")
    d = F.round(F.col("l_discount") * 100).cast("long")
    m = (
        li.select(F.col("l_returnflag"), q.alias("q"), d.alias("d"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").cast("double").alias("s1"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)"))
            .cast("double")
            .alias("s2"),
            F.sum(
                (F.col("q") * F.col("q") * F.col("q")).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("s3"),
            F.sum("d").cast("double").alias("t1"),
            F.sum(F.col("d") * F.col("d")).cast("double").alias("t2"),
            F.sum(F.col("q") * F.col("d")).cast("double").alias("x1"),
        )
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    t1, t2, x1 = F.col("t1"), F.col("t2"), F.col("x1")
    pop_std = F.sqrt((s2 - s1 * s1 / n) / n)
    return m.select(
        "l_returnflag",
        "n",
        F.round(s1 / n / 100.0, 6).alias("mean_qty"),
        F.round((s2 - s1 * s1 / n) / (n - 1) / 10000.0, 6).alias("var_qty"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100.0, 6).alias("std_qty"),
        F.round(
            (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
            / (pop_std * pop_std * pop_std),
            6,
        ).alias("skew_qty"),
        F.round(
            (x1 - s1 * t1 / n)
            / (F.sqrt(s2 - s1 * s1 / n) * F.sqrt(t2 - t1 * t1 / n)),
            6,
        ).alias("corr_qty_disc"),
    )


@query(
    "q91_trimmed_mean",
    """
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    k AS (
      SELECT event_type, value, n FROM r
      WHERE rn > CAST(FLOOR(n * 0.05) AS BIGINT)
        AND rn <= n - CAST(FLOOR(n * 0.05) AS BIGINT))
    SELECT event_type,
           MAX(n) AS n_total,
           COUNT(*) AS n_kept,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 / COUNT(*) AS trimmed_mean
    FROM k GROUP BY event_type
    """,
)
def q91_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per group — the robust-statistics aggregate a
    data-quality pipeline uses where outliers (bot traffic, sensor
    spikes) poison a plain mean. Trimming is by RANK (the oracle's
    row_number over (value, event_id)): deterministic and engine-exact
    even with duplicate values, where a quantile-threshold filter
    would be ambiguous about which duplicates survive.

    Implemented via trimmed_mean_hist — the VALUE-HISTOGRAM form,
    which is rank-for-rank identical to the oracle's sort (the sum is
    over rounded cents, so which equal-cents rows survive the cut
    cannot change it; round() is monotone, so the cents order is a
    coarsening of the raw order — full argument and randomized
    equivalence in trimmed_mean_hist / its fuzz test). The r10 cold
    A/B that motivated the switch: the sorted form pays a per-group
    sort of RAW ROWS, so one hot group serializes (10.5s on the 100×
    corpus, where 5 event types put ~2M rows in each sort task);
    the histogram combines map-side and sorts only distinct cents
    values (0.68s, 15×; also faster at sf0.1, 0.49 vs 0.58). The
    approximate alternative (percentile_approx bounds) is what
    q43/q57 cover.

    Scale shape: one map-side-combinable exchange on (event_type,
    cents), so shuffle volume is the distinct-pair count, not rows;
    the mean is a fixed-point integer sum."""
    return trimmed_mean_hist(t(spark, sf_dir, "events"))


_MAD_K = 4.4478  # 3 × 1.4826 (normal-consistency constant)


@query(
    "q93_mad_outliers",
    f"""
    WITH med AS (
      SELECT event_type,
             ROUND(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS d
      FROM events e JOIN med m ON m.event_type = e.event_type),
    mad AS (
      SELECT event_type,
             ROUND(quantile_cont(d, 0.5), 6) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           COUNT(*) AS n,
           MAX(d.med) AS med,
           MAX(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.d > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type
    """,
)
def q93_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counting via Median Absolute Deviation — the
    data-quality screen that survives the heavy-tailed garbage a plain
    mean/stddev z-score is poisoned by (q81's moments are the fragile
    counterpart; q83's running z-score is the streaming one). A value
    is an outlier when |x − median| > 3·1.4826·MAD (the
    normal-consistent 3σ rule).

    Two exact interpolated medians (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, the q43-proven pairing, each rounded once at
    6 dp) with the tiny per-group medians broadcast back onto the
    events — the event table is scanned twice and shuffled never; all
    three aggregates key on event_type and combine map-side. At 100 TB
    the percentile buffers bound by #distinct values per group (2-dp
    values here); for truly unbounded-cardinality measures the sketch
    path is q57's approx_quantiles."""
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("d")
    ).transform(persist_materialized)
    # materialized at persist (owned-only count, r13): the MAD
    # aggregate and the outlier count both consume dev; materializing
    # keeps the fact at exactly the documented two scans (median pass +
    # deviation pass) instead of three (r8).
    # Session-scoped by design (ADVICE r8 #3): dev feeds the returned
    # lazy result, so it cannot unpersist here; persist_once bounds the
    # footprint at one narrow event-sized entry per distinct sf_dir,
    # reused silently across repeat runs. Unlike s65/q180 the fan-out
    # is NOT foldable into one aggregation — the second percentile
    # pass must complete before the outlier comparison can begin.
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(d, 0.5)"), 6).alias("mad")
    )
    out = dev.join(F.broadcast(mad), "event_type")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum((F.col("d") > _MAD_K * F.col("mad")).cast("int")).cast("long").alias(
            "n_outliers"
        ),
    )


@query(
    "q99_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS v,
             CAST(ROUND(l_quantity) AS BIGINT) AS wt
      FROM lineitem),
    c AS (
      SELECT l_returnflag, v, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cumw,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS totw
      FROM w)
    SELECT l_returnflag,
           MIN(CASE WHEN cumw * 2 >= totw THEN v END) AS weighted_median,
           CAST(MIN(totw) AS BIGINT) AS total_weight
    FROM c GROUP BY l_returnflag
    """,
)
def q99_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group weighted (lower) median: the smallest value whose
    cumulative weight reaches half the group's total — here median
    price weighted by shipped quantity, the volume-representative
    price a pricing dashboard wants (an unweighted median over-counts
    small orders). No engine has a weighted-median builtin; the
    portable form is cumsum-over-sorted vs doubled total, ALL in
    integer arithmetic (quantities are integral, cumw*2 >= totw needs
    no 0.5 multiply), so the pick is exact on both engines; RANGE
    window semantics give tied values a shared cumw, making the
    selection well-defined under duplicates.

    Scale shape: one hash exchange on the group key; the cumulative
    and total windows share the partition (one Window stack over one
    sort), and the final per-group pick is an aggregate over the same
    partitioning — no second exchange. The sort-per-group is the
    inherent cost of an exact quantile; for approximate serving use
    q57's KLL sketch instead.

    Kept-rank bound (ROUND10_NOTES §9): each of the 3 return-flag
    groups sorts its full fact share in one task. The histogram
    rewrite was measured and rejected — extendedprice is ~97% distinct
    locally, so the distinct-value relation is ~the raw relation. When
    group count is small AND values are near-distinct at scale, switch
    to `weighted_median_bucketed` (the exact bucket-carry selection in
    this module), which never holds more than one value bucket of one
    group per task."""
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.round("l_quantity").cast("long").alias("wt"),
    )
    part = W.partitionBy("l_returnflag")
    c = w.select(
        "l_returnflag",
        "v",
        F.sum("wt").over(part.orderBy("v")).alias("cumw"),
        F.sum("wt").over(part).alias("totw"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("cumw") * 2 >= F.col("totw"), F.col("v"))).alias(
            "weighted_median"
        ),
        F.min("totw").cast("long").alias("total_weight"),
    )


# --- q122: exact correlation / regression slope ---------------------
# Both engines' native corr()/regr_slope() stream co-moments in
# partition order → last-ulp divergence under different schedules.
# Instead: the five co-moment sums are EXACT int64 (quantity is an
# integral double ≤ 50, price becomes cents; per-term products ≤ 5e8,
# totals ≤ 3e14 — headroom), and the final Pearson/slope formula is
# ONE deterministic double expression over those identical integers on
# both engines. n·Sxy would overflow int64, so every factor casts to
# DOUBLE before multiplication — same IEEE ops, same result, bit-equal
# with no ROUND anywhere.
_Q122_NUM = (
    "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
)
_Q122_DX = (
    "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
)
_Q122_DY = (
    "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
)

_Q122 = f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS sx,
             CAST(SUM(c) AS BIGINT) AS sy,
             CAST(SUM(q * q) AS BIGINT) AS sxx,
             CAST(SUM(c * c) AS BIGINT) AS syy,
             CAST(SUM(q * c) AS BIGINT) AS sxy
      FROM (SELECT l_returnflag,
                   CAST(ROUND(l_quantity) AS BIGINT) AS q,
                   CAST(ROUND(l_discount * 100) AS BIGINT) AS c
            FROM lineitem)
      GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ({_Q122_NUM}) / SQRT(({_Q122_DX}) * ({_Q122_DY})) AS corr_qty_disc,
           ({_Q122_NUM}) / ({_Q122_DX}) AS slope_disc_per_qty
    FROM m
"""


@query("q122_exact_corr_by_flag", _Q122)
def q122_exact_corr_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation + regression slope per return flag
    (the Pinot COVARIANCE/CORR aggregate family) WITHOUT the native
    corr()/regr_slope() — those stream double co-moments in partition
    order and drift by ulps across schedules and engines. Here the
    co-moments are order-independent integer sums (map-side
    combinable, one exchange), and the closed-form Pearson/slope is a
    single deterministic double expression over identical integers —
    reproducible across engines, shuffle schedules, AND cluster sizes,
    which the native aggregate cannot promise.

    Scale shape: five integer co-moments in one map-side-combinable
    exchange; Pearson/slope is a projection over the #flags-row
    result."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("c"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sx"),
        F.sum("c").alias("sy"),
        F.sum(F.col("q") * F.col("q")).alias("sxx"),
        F.sum(F.col("c") * F.col("c")).alias("syy"),
        F.sum(F.col("q") * F.col("c")).alias("sxy"),
    )
    n, sx, sy = [F.col(x).cast("double") for x in ("n", "sx", "sy")]
    sxx, syy, sxy = [F.col(x).cast("double") for x in ("sxx", "syy", "sxy")]
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    return m.select(
        "l_returnflag",
        "n",
        (num / F.sqrt(dx * dy)).alias("corr_qty_disc"),
        (num / dx).alias("slope_disc_per_qty"),
    )


# --- q146: bitmap-exact distinct (Pinot DISTINCTCOUNTBITMAP analog) -
#
# Pinot's DISTINCTCOUNTBITMAP serves EXACT distinct counts from
# roaring bitmaps that segments build independently and the broker
# ORs together. The relational analog over a bounded integer key
# space: shard each user_id into a 64-bit word (word = id div 64, bit
# = id mod 64), BIT_OR the words per (group, word) — associative,
# combinable, replay-safe, exactly a roaring container — then sum
# bit_count over words. Unlike q13/q116 (HLL ≈) and q141 (KMV ≈),
# this sketch is EXACT, and unlike COUNT(DISTINCT) it pre-aggregates:
# the shuffle carries #groups × #words 8-byte words, never the id
# stream, and partial bitmaps merge map-side.
#
# Bit 63 note: 1<<63 overflows signed ranges differently per engine —
# the shift stays ≤ 62 by construction? No: id mod 64 CAN be 63, so
# the bit value is spelled via the m60 rule (the literal MIN for bit
# 63, plain shifts ≤ 62 otherwise) on BOTH engines.

_Q146 = """
    WITH b AS (
      SELECT event_type,
             user_id // 64 AS word,
             -- bit 63 is the signed-64 MIN literal; the else-branch
             -- shift is CLAMPED to 0 in that case so an eagerly
             -- vectorized 1<<63 can never evaluate (the m60 rule)
             CAST(BIT_OR(CASE WHEN user_id % 64 = 63
                              THEN CAST('-9223372036854775808' AS BIGINT)
                              ELSE CAST(1 AS BIGINT)
                                   << CAST(CASE WHEN user_id % 64 = 63
                                           THEN 0 ELSE user_id % 64 END
                                           AS INTEGER) END)
                  AS BIGINT) AS bits
      FROM events
      GROUP BY event_type, user_id // 64)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(bit_count(bits)) AS BIGINT) AS distinct_users
    FROM b GROUP BY event_type
"""


@query("q146_bitmap_distinct", _Q146)
def q146_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via word-sharded bitmap
    aggregation (see block comment) — the mergeable EXACT member of
    the distinct-count family (q13 HLL ≈, q141 KMV ≈, q12 the
    re-scanning COUNT(DISTINCT)).

    Scale shape: one combinable BIT_OR aggregate keyed on (group,
    word) — partial bitmaps merge inside the map side, the exchange
    carries #groups × ceil(|id-space|/64) longs — then a #groups-sized
    bit_count rollup. Serving-time merge of independently-built
    segment bitmaps is the same BIT_OR (Pinot's broker merge). Bounded
    id spaces only (a 64-bit word table over sparse ids wants the
    roaring run/array containers this models)."""
    e = t(spark, sf_dir, "events")
    # shiftleft via F.expr: the Python DSL wrapper only accepts int
    # shift amounts (memory rule); the SQL form takes a column. The
    # else-branch shift is clamped to 0 when bit 63 is selected so the
    # unreached branch never shifts by 63.
    bit = F.when(
        F.col("user_id") % 64 == 63, F.lit(-(1 << 63)).cast("long")
    ).otherwise(
        F.expr(
            "shiftleft(cast(1 as bigint), "
            "cast(if(user_id % 64 = 63, 0, user_id % 64) as int))"
        )
    )
    b = (
        e.select(
            "event_type",
            F.expr("user_id div 64").alias("word"),
            bit.alias("bitval"),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bitval)").alias("bits"))
    )
    return b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.bit_count("bits")).alias("distinct_users"),
    )


# --- q177: market concentration (HHI + CR4) -------------------------
#
# The concentration diagnostics read over any keyed revenue
# distribution — supplier concentration per product type here. Two
# standards: the Herfindahl–Hirschman index Σ share_i² (the antitrust
# metric; 10000·HHI convention → "points"), and the CR4 top-4
# concentration ratio. Monitoring either tells a sourcing pipeline
# when one supplier quietly becomes a single point of failure.
#
# Exactness: revenue is presum cents; shares are integer ppm
# (floor-div), and HHI = Σ share_ppm² summed in int64 (≤ 1e12 per
# cell — order-independent, where a double Σshare² varies with
# shuffle order; that draft diverged in the last ulps) then one
# double division to points. CR4 counts via a rank ≤ 4 filter with
# (cents, suppkey) total order, as integer ppm. n_suppliers rides
# along (HHI of a monopoly = 10000 points).

_Q177 = """
    WITH rev AS (
      SELECT p.p_type, l.l_suppkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_type, l.l_suppkey),
    tot AS (
      SELECT p_type, CAST(SUM(cents) AS BIGINT) AS t_cents,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY p_type),
    ranked AS (
      SELECT p_type, l_suppkey, cents,
             ROW_NUMBER() OVER (PARTITION BY p_type
               ORDER BY cents DESC, l_suppkey) AS rk
      FROM rev),
    hhi AS (
      SELECT r.p_type, t.n_suppliers,
             CAST(SUM((r.cents * 1000000 // t.t_cents)
                      * (r.cents * 1000000 // t.t_cents)) AS BIGINT)
               AS hhi_fp,
             CAST(SUM(CASE WHEN r.rk <= 4 THEN r.cents ELSE 0 END)
                  AS BIGINT) AS top4_cents,
             t.t_cents
      FROM ranked r JOIN tot t ON t.p_type = r.p_type
      GROUP BY r.p_type, t.n_suppliers, t.t_cents)
    SELECT p_type, n_suppliers,
           CAST(hhi_fp AS DOUBLE) / 100000000.0 AS hhi_points,
           CAST(top4_cents * 1000000 // t_cents AS BIGINT) AS cr4_ppm
    FROM hhi
"""


@query("q177_market_concentration", _Q177)
def q177_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per product type: HHI in points and the
    CR4 top-4 revenue share in ppm (see block comment).

    Scale shape: one fact-volume combinable aggregate to
    (type, supplier) grain — everything after runs at that reduced
    grain: a type-partitioned rank, two broadcast-sized rollups.
    Σshare² caveat: the double squares are deterministic IEEE chains
    on exact int64s on both engines regardless of magnitude.

    Overflow (r11 audit): cents·1e6 and top4_cents·1e6 overflow int64
    once a supplier/top-4 slice of a type's revenue passes ~9.2e12
    cents (certain under skew at 100 TB), so both ppm numerators lift
    to DECIMAL(38,0); each resulting SHARE is ≤ 1e6, so the share
    squares and Σshare² (≤ 1e12) stay long."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
        .transform(persist_once)
    )
    tot = rev.groupBy("p_type").agg(
        F.sum("cents").alias("t_cents"), F.count(F.lit(1)).alias("n_suppliers")
    )
    wr = Window.partitionBy("p_type").orderBy(F.desc("cents"), F.asc("l_suppkey"))
    ranked = rev.withColumn("rk", F.row_number().over(wr))
    hhi = (
        ranked.join(F.broadcast(tot), "p_type")
        .groupBy("p_type", "t_cents", "n_suppliers")
        .agg(
            F.sum(
                F.expr("(CAST(cents AS DECIMAL(38,0)) * 1000000 div t_cents)")
                * F.expr("(CAST(cents AS DECIMAL(38,0)) * 1000000 div t_cents)")
            ).alias("hhi_fp"),
            F.sum(F.when(F.col("rk") <= 4, F.col("cents")).otherwise(0)).alias(
                "top4_cents"
            ),
        )
    )
    return hhi.select(
        "p_type",
        "n_suppliers",
        (F.col("hhi_fp").cast("double") / F.lit(100000000.0)).alias("hhi_points"),
        F.expr(
            "CAST(top4_cents AS DECIMAL(38,0)) * 1000000 div t_cents"
        ).alias("cr4_ppm"),
    )


# --- q179: top-N brands per month with an OTHERS bucket --------------
#
# The dashboard regroup every serving layer runs: monthly revenue per
# brand, but the legend only holds the top-5 brands by ALL-TIME
# revenue — everything else collapses into one 'OTHERS' series. The
# top set is decided globally (not per month) so series membership is
# stable across the chart.
#
# Determinism: per-brand revenue is an integer fixed-point sum
# (presum cents*100 per row, the q114 rule), and the top-5 cutoff uses
# a count-of-strictly-better self-join on (rev_fp DESC, brand ASC) —
# exact integer + string comparisons, so the winner set is identical
# cross-engine even under revenue ties. A global ROW_NUMBER would trip
# the partition-less-window plan gate (the q153/q158 constraint); the
# triangular join runs on the ~25-row brand-total relation.

_Q179 = """
    WITH mb AS (
      SELECT p.p_brand AS brand,
             epoch_us(l.l_shipdate) // 86400000000 // 30 AS month_bucket,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT) AS fp
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    agg1 AS (
      SELECT brand, month_bucket, CAST(SUM(fp) AS BIGINT) AS rev_fp
      FROM mb GROUP BY 1, 2),
    btot AS (
      SELECT brand, CAST(SUM(rev_fp) AS BIGINT) AS tot_fp
      FROM agg1 GROUP BY 1),
    top5 AS (
      SELECT a.brand
      FROM btot a LEFT JOIN btot b
        ON b.tot_fp > a.tot_fp OR (b.tot_fp = a.tot_fp AND b.brand < a.brand)
      GROUP BY a.brand
      HAVING COUNT(b.brand) < 5)
    SELECT agg1.month_bucket,
           CASE WHEN top5.brand IS NULL THEN 'OTHERS'
                ELSE agg1.brand END AS series,
           CAST(SUM(agg1.rev_fp) AS DOUBLE) / 10000.0 AS revenue
    FROM agg1 LEFT JOIN top5 ON top5.brand = agg1.brand
    GROUP BY 1, 2
"""


@query("q179_topn_others_rollup", _Q179)
def q179_topn_others_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5-plus-OTHERS monthly revenue series (see block comment).

    Scale shape: the fact joins a broadcast part dim and aggregates
    once on (brand, month) — map-side combinable, shuffle is
    #brands×#months rows. Everything downstream (brand totals, the
    count-of-better top-5 election, the OTHERS regroup) runs on that
    small aggregate; the top-5 set joins back as a broadcast. The fact
    table is scanned exactly once; ``agg1`` is persisted because both
    the election and the final regroup consume it (the q114 persist
    rationale).

    Overflow (r11 audit): per-(brand, month) rev_fp sums are safe
    (~1e17 at 100 TB), but the brand TOTALS and the OTHERS regroup
    re-sum them to ~9e18 — exactly the int64 cliff under the 1e-4
    fixed-point convention — so both re-sums run in DECIMAL(38,0)
    (the election compares decimals; the output double is the same
    correctly-rounded conversion)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    fp = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    agg1 = (
        li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            F.expr("unix_micros(l_shipdate) div 86400000000 div 30").alias(
                "month_bucket"
            ),
            fp.alias("fp"),
        )
        .groupBy("brand", "month_bucket")
        .agg(F.sum("fp").alias("rev_fp"))
        .transform(persist_once)
    )
    btot = agg1.groupBy("brand").agg(
        F.sum(F.col("rev_fp").cast("decimal(38,0)")).alias("tot_fp")
    )
    a, b = btot.alias("a"), btot.alias("b")
    better = (F.col("b.tot_fp") > F.col("a.tot_fp")) | (
        (F.col("b.tot_fp") == F.col("a.tot_fp"))
        & (F.col("b.brand") < F.col("a.brand"))
    )
    top5 = (
        a.join(b, better, "left")
        .groupBy(F.col("a.brand").alias("top_brand"))
        .agg(F.count(F.col("b.brand")).alias("n_better"))
        .filter(F.col("n_better") < 5)
        .select("top_brand")
    )
    return (
        agg1.join(F.broadcast(top5), agg1["brand"] == top5["top_brand"], "left")
        .select(
            "month_bucket",
            F.when(F.col("top_brand").isNull(), F.lit("OTHERS"))
            .otherwise(F.col("brand"))
            .alias("series"),
            "rev_fp",
        )
        .groupBy("month_bucket", "series")
        .agg(
            (
                F.sum(F.col("rev_fp").cast("decimal(38,0)")).cast("double")
                / 10000.0
            ).alias("revenue")
        )
    )


# --- q184: month-over-month revenue bridge ----------------------------
#
# The revenue-bridge (waterfall) decomposition every subscription/
# commerce BI team runs: each month's net revenue change splits into
# NEW (customer absent last month), CHURNED (absent this month),
# EXPANSION and CONTRACTION (present both, delta sign) — the four
# bars that reconcile exactly to the net movement.
#
# Mechanics: per-(customer, month) cents, then a self FULL OUTER join
# aligning month m-1 to m per customer; prev-only rows surface as
# churn in month p.m+1, curr-only rows as new. The phantom trailing
# month (everyone "churns" after the last observed month) is cut by a
# broadcast max-month scalar. All cents are exact int64; the bridge
# identity SUM(new+churn+expansion+contraction) = net is exact and
# asserted in tests.

_Q184 = """
    WITH mrev AS (
      SELECT o_custkey AS c,
             epoch_us(o_orderdate) // 86400000000 // 30 AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2),
    mx AS (SELECT MAX(m) AS max_m FROM mrev),
    j AS (
      SELECT COALESCE(q.c, p.c) AS c,
             COALESCE(q.m, p.m + 1) AS m,
             p.cents AS cp, q.cents AS cc
      FROM mrev p FULL OUTER JOIN mrev q
        ON q.c = p.c AND q.m = p.m + 1)
    SELECT j.m AS month_bucket,
           CAST(SUM(CASE WHEN cp IS NULL THEN cc ELSE 0 END) AS BIGINT)
             AS new_cents,
           CAST(SUM(CASE WHEN cc IS NULL THEN -cp ELSE 0 END) AS BIGINT)
             AS churned_cents,
           CAST(SUM(CASE WHEN cp IS NOT NULL AND cc IS NOT NULL AND cc > cp
                         THEN cc - cp ELSE 0 END) AS BIGINT)
             AS expansion_cents,
           CAST(SUM(CASE WHEN cp IS NOT NULL AND cc IS NOT NULL AND cc < cp
                         THEN cc - cp ELSE 0 END) AS BIGINT)
             AS contraction_cents,
           CAST(SUM(CASE WHEN cp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN cc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned
    FROM j CROSS JOIN mx WHERE j.m <= mx.max_m
    GROUP BY 1
"""


@query("q184_revenue_bridge", _Q184)
def q184_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue bridge (see block comment).

    Scale shape: the fact collapses to (customer, month) grain in one
    combinable aggregate; the bridge is a self full-outer equi-join of
    that aggregate on (customer, month±1) — both sides hash-partition
    on the customer key, and the persisted aggregate feeds both join
    legs and the max-month scalar without recomputing the fact scan.
    The monthly rollup is a #months-row result."""
    o = t(spark, sf_dir, "orders")
    mrev = (
        o.groupBy(
            F.col("o_custkey").alias("c"),
            F.expr("unix_micros(o_orderdate) div 86400000000 div 30").alias("m"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .transform(persist_once)
    )
    mx = mrev.agg(F.max("m").alias("max_m"))
    p = mrev.select(
        F.col("c").alias("pc"), (F.col("m") + 1).alias("pm"), F.col("cents").alias("cp")
    )
    q = mrev.select(
        F.col("c").alias("qc"), F.col("m").alias("qm"), F.col("cents").alias("cc")
    )
    j = p.join(q, (F.col("qc") == F.col("pc")) & (F.col("qm") == F.col("pm")), "full").select(
        F.coalesce("qm", "pm").alias("m"), "cp", "cc"
    )
    both = F.col("cp").isNotNull() & F.col("cc").isNotNull()
    return (
        j.crossJoin(F.broadcast(mx))
        .filter(F.col("m") <= F.col("max_m"))
        .groupBy(F.col("m").alias("month_bucket"))
        .agg(
            F.sum(F.when(F.col("cp").isNull(), F.col("cc")).otherwise(0)).alias(
                "new_cents"
            ),
            F.sum(F.when(F.col("cc").isNull(), -F.col("cp")).otherwise(0)).alias(
                "churned_cents"
            ),
            F.sum(
                F.when(both & (F.col("cc") > F.col("cp")), F.col("cc") - F.col("cp"))
                .otherwise(0)
            ).alias("expansion_cents"),
            F.sum(
                F.when(both & (F.col("cc") < F.col("cp")), F.col("cc") - F.col("cp"))
                .otherwise(0)
            ).alias("contraction_cents"),
            F.sum(F.when(F.col("cp").isNull(), 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("cc").isNull(), 1).otherwise(0)).alias("n_churned"),
        )
    )


# --- q185: rolling-origin forecast backtest ----------------------------
#
# The eval harness behind every "which baseline do we ship" forecasting
# decision: walk the monthly revenue series and score two baselines —
# naive-1 (last month) and MA-3 (mean of the three prior months, only
# where all three exist) — by MAE and MAPE. Integer exact: monthly
# cents are int64, the MA-3 forecast is a floor-divided mean, absolute
# errors are int64, MAE is a floored CENTS mean, and MAPE floors each
# month's |err|·1e6/actual BEFORE the mean (presum rule).
#
# r12 overflow gate (decimal_div_quotient): the former mae_milli
# quotient (Σae·1000 div n ≈ mean-err·1000 ≈ 3e19 at 100-TB monthly
# magnitudes) passed int64 — and a decimal `div` NARROWS TO BIGINT
# with a silent wrap, not an ANSI raise. The ×1000 display scaling
# was the only thing past the cliff, so MAE is now exact integer
# CENTS (Σae ≤ ~90 calendar months · 3e16 ≈ 2.7e18 stays long;
# quotient ≤ 3e16). ape_ppm's quotient is bounded by 1e6·(fc/actual
# + 1) — the month-over-month dynamic range — and wraps only on a
# ≥9.2e12× single-month collapse; documented, with the near-zero-
# actual MAPE pathology being a statistics problem before an
# arithmetic one.
#
# The series is the tiny (#months) aggregate, but a partition-less
# ORDER BY window is gated at ANY size (q153/q158 rule), so both
# forecasts come from month-key equi/range self-joins instead: m-1 for
# naive, a count-guarded m-3..m-1 band for MA-3.

_Q185 = """
    WITH mrev AS (
      SELECT epoch_us(o_orderdate) // 86400000000 // 30 AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    naive AS (
      SELECT a.m, a.cents AS actual, p.cents AS fc
      FROM mrev a JOIN mrev p ON p.m = a.m - 1),
    ma3 AS (
      SELECT a.m, a.cents AS actual,
             CAST(SUM(p.cents) // 3 AS BIGINT) AS fc
      FROM mrev a JOIN mrev p ON p.m BETWEEN a.m - 3 AND a.m - 1
      GROUP BY a.m, a.cents HAVING COUNT(*) = 3),
    scored AS (
      SELECT 'naive_1' AS method, m, abs(actual - fc) AS ae,
             abs(actual - fc) * 1000000 // actual AS ape_ppm
      FROM naive WHERE actual > 0
      UNION ALL
      SELECT 'ma_3' AS method, m, abs(actual - fc) AS ae,
             abs(actual - fc) * 1000000 // actual AS ape_ppm
      FROM ma3 WHERE actual > 0)
    SELECT method,
           CAST(COUNT(*) AS BIGINT) AS n_backtests,
           CAST(SUM(ae) AS BIGINT) AS sum_abs_err_cents,
           CAST(SUM(ae) // COUNT(*) AS BIGINT) AS mae_cents,
           CAST(SUM(ape_ppm) // COUNT(*) AS BIGINT) AS mape_ppm
    FROM scored GROUP BY method
"""


@query("q185_forecast_backtest", _Q185)
def q185_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of naive-1 vs MA-3 monthly revenue
    forecasts (see block comment).

    Scale shape: ONE combinable aggregate collapses the fact to
    #months rows; every forecast join, the band aggregate, and the
    scoring run on that tiny relation (broadcast by AQE). At 100 TB
    the fact pass is the whole cost — the backtest itself is free.

    Overflow (r11 audit): monthly cents reach ~3e16 at 100 TB, so
    ae·1e6 (~1e22) overflows int64 — the ppm ratio lifts its
    numerator to DECIMAL(38,0); ae, Σae (calendar-bounded month
    count), the MAE cents quotient, and the ppm results stay long
    (r12 gate: see block comment for why MAE is cents, not milli)."""
    o = t(spark, sf_dir, "orders")
    mrev = (
        o.groupBy(
            F.expr("unix_micros(o_orderdate) div 86400000000 div 30").alias("m")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .transform(persist_once)
    )
    a, p = mrev.alias("a"), mrev.alias("p")
    naive = a.join(p, F.col("p.m") == F.col("a.m") - 1).select(
        F.col("a.m").alias("m"),
        F.col("a.cents").alias("actual"),
        F.col("p.cents").alias("fc"),
    )
    ma3 = (
        a.join(
            p,
            (F.col("p.m") >= F.col("a.m") - 3) & (F.col("p.m") <= F.col("a.m") - 1),
        )
        .groupBy(F.col("a.m").alias("m"), F.col("a.cents").alias("actual"))
        .agg(F.count(F.lit(1)).alias("k"), F.expr("sum(p.cents) div 3").alias("fc"))
        .filter(F.col("k") == 3)
        .select("m", "actual", "fc")
    )
    def score(df, method):
        ae = F.abs(F.col("actual") - F.col("fc"))
        return df.filter(F.col("actual") > 0).select(
            F.lit(method).alias("method"),
            "m",
            ae.alias("ae"),
            F.expr(
                "CAST(abs(actual - fc) AS DECIMAL(38,0)) * 1000000 div actual"
            ).alias("ape_ppm"),
        )
    scored = score(naive, "naive_1").unionByName(score(ma3, "ma_3"))
    return scored.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_backtests"),
        F.sum("ae").alias("sum_abs_err_cents"),
        F.expr("sum(ae) div count(1)").alias("mae_cents"),
        F.expr("sum(ape_ppm) div count(1)").alias("mape_ppm"),
    )


# --- q186: relational division (bought EVERY priority class) ----------
#
# The classic "FOR ALL" shape missing from the join/subquery families:
# customers whose orders span EVERY order-priority class in the
# corpus — relational division of distinct (customer, priority) by the
# distinct priority set, rewritten as the standard count-match (a
# per-customer DISTINCT count equal to the global distinct count; no
# double-NOT-EXISTS needed when the divisor is a plain column domain).
# Rolled up per nation with an exact ppm share of division-complete
# customers. Pure integer counts; the divisor count is a broadcast
# one-row scalar.

_Q186 = """
    WITH pr AS (SELECT COUNT(DISTINCT o_orderpriority) AS n_pr FROM orders),
    cov AS (
      SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_cov
      FROM orders GROUP BY 1),
    complete AS (
      SELECT c.c_nationkey, cov.n_cov = pr.n_pr AS is_complete
      FROM cov CROSS JOIN pr
      JOIN customer c ON c.c_custkey = cov.o_custkey)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_active_customers,
           CAST(SUM(CASE WHEN is_complete THEN 1 ELSE 0 END) AS BIGINT)
             AS n_complete,
           CAST(SUM(CASE WHEN is_complete THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS complete_ppm
    FROM complete GROUP BY 1
"""


@query("q186_relational_division", _Q186)
def q186_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division per nation: the share of active customers
    who ordered in EVERY priority class (see block comment).

    Scale shape: one customer-keyed distinct-count aggregate over the
    fact (map-side combinable after the in-partition distinct), a
    one-row divisor broadcast, and a broadcast customer-dim join for
    the nation rollup. No anti-join cascade — the count-match rewrite
    turns FOR-ALL into arithmetic."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pr = o.agg(F.countDistinct("o_orderpriority").alias("n_pr"))
    cov = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("n_cov")
    )
    complete = (
        cov.crossJoin(F.broadcast(pr))
        .join(F.broadcast(c), c["c_custkey"] == cov["o_custkey"])
        .select(
            "c_nationkey", (F.col("n_cov") == F.col("n_pr")).alias("is_complete")
        )
    )
    return complete.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("n_active_customers"),
        F.sum(F.when(F.col("is_complete"), 1).otherwise(0)).alias("n_complete"),
        F.expr(
            "sum(case when is_complete then 1 else 0 end) * 1000000 div count(1)"
        ).alias("complete_ppm"),
    )


# --- q187: percent-of-parent hierarchy shares --------------------------
#
# The drill-down share columns every pivot/tree report carries: each
# nation's revenue as an exact ppm share of its REGION, and each
# region's as a share of the TOTAL — two levels of ratio-to-parent
# computed from ONE leaf aggregate (never re-scanning the fact per
# level; parents are exact integer sums of children, so shares
# reconcile by construction). Shares are floor ppm of int64 cents.

_Q187 = """
    WITH leaf AS (
      SELECT n.n_regionkey, o.o_custkey, n.n_name, r.r_name,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey),
    nat AS (
      SELECT n_regionkey, n_name, r_name,
             CAST(SUM(cents) AS BIGINT) AS n_cents
      FROM leaf GROUP BY 1, 2, 3),
    reg AS (
      SELECT n_regionkey, CAST(SUM(n_cents) AS BIGINT) AS r_cents
      FROM nat GROUP BY 1),
    tot AS (SELECT CAST(SUM(r_cents) AS BIGINT) AS t_cents FROM reg)
    SELECT nat.r_name AS region, nat.n_name AS nation,
           nat.n_cents AS nation_cents,
           CAST(nat.n_cents * 1000000 // reg.r_cents AS BIGINT)
             AS share_of_region_ppm,
           CAST(reg.r_cents * 1000000 // tot.t_cents AS BIGINT)
             AS region_share_of_total_ppm
    FROM nat JOIN reg ON reg.n_regionkey = nat.n_regionkey
    CROSS JOIN tot
"""


@query("q187_percent_of_parent", _Q187)
def q187_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-within-region and region-within-total revenue shares
    (see block comment).

    Scale shape: the fact aggregates once at the leaf (nation) grain
    after broadcast dim joins; the region and total levels are sums
    OF THE LEAF AGGREGATE (#nations rows), then broadcast back — the
    fact is scanned exactly once for the whole hierarchy.

    Overflow (r11 audit): nation/region cent sums reach ~1e17/5e17 at
    100 TB (nation count is FIXED — these sums grow with total
    volume), so both ·1e6 ppm numerators lift to DECIMAL(38,0); the
    ppm results and the nation_cents output stay long."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    leaf = (
        o.join(F.broadcast(c), c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .select(
            "n_regionkey",
            "n_name",
            "r_name",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    nat = (
        leaf.groupBy("n_regionkey", "n_name", "r_name")
        .agg(F.sum("cents").alias("n_cents"))
        .transform(persist_once)
    )
    reg = nat.groupBy("n_regionkey").agg(F.sum("n_cents").alias("r_cents"))
    tot = reg.agg(F.sum("r_cents").alias("t_cents"))
    return (
        nat.join(F.broadcast(reg), "n_regionkey")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("n_cents").alias("nation_cents"),
            F.expr(
                "CAST(n_cents AS DECIMAL(38,0)) * 1000000 div r_cents"
            ).alias("share_of_region_ppm"),
            F.expr(
                "CAST(r_cents AS DECIMAL(38,0)) * 1000000 div t_cents"
            ).alias("region_share_of_total_ppm"),
        )
    )


# --- q188: duplicate-payment screen ------------------------------------
#
# The accounts-payable audit classic: pairs of DISTINCT orders by the
# same customer for the exact same amount within 7 days — the
# double-charge / double-entry candidate list every finance team
# screens. The pair join is blocked on (customer, exact cents): the
# quadratic term is bounded by how many SAME-amount orders one
# customer places in total, and only |Δday| ≤ 7 pairs survive. Cents
# equality is exact int64 (a double-amount block key could split or
# merge blocks across engines); day distance is integer µs//86400e6
# arithmetic; a < b on order keys dedups the pair orientation.

_Q188 = """
    WITH px AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             epoch_us(o_orderdate) // 86400000000 AS day
      FROM orders)
    SELECT a.o_custkey AS custkey, a.cents,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(abs(a.day - b.day) AS BIGINT) AS day_gap
    FROM px a JOIN px b
      ON b.o_custkey = a.o_custkey AND b.cents = a.cents
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(a.day - b.day) <= 7
"""


@query("q188_duplicate_payments", _Q188)
def q188_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-customer same-amount orders within 7 days (see block
    comment) — the double-charge candidate pairs.

    Scale shape: a self equi-join blocked on (customer, exact cents);
    per-key fan-out is a customer's same-amount order count, so work
    tracks block collisions, never orders². The day-gap predicate
    filters inside the join's codegen; AQE skew-split covers any
    pathological repeat-amount customer."""
    o = t(spark, sf_dir, "orders")
    px = o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
    )
    a, b = px.alias("a"), px.alias("b")
    return (
        a.join(
            b,
            (F.col("b.o_custkey") == F.col("a.o_custkey"))
            & (F.col("b.cents") == F.col("a.cents"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .where(F.abs(F.col("a.day") - F.col("b.day")) <= 7)
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.cents").alias("cents"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.abs(F.col("a.day") - F.col("b.day")).alias("day_gap"),
        )
    )


# --- q192: top-k leaderboard drift between periods ----------------------
#
# The "what changed on the dashboard" diff: the brand revenue top-10
# of the FIRST half of the corpus's date range versus the SECOND,
# full-outer-joined so entries, exits, and rank moves are all visible.
# The date midpoint is a broadcast scalar ((min+max+1)//2 on epoch
# days); ranks come from the count-of-better triangular election on
# the per-half brand aggregates (q179's pattern — a global ROW_NUMBER
# would trip the partition-less-window gate), with exact int64 cents
# and brand-name tiebreaks so the leaderboards are deterministic.

_Q192_K = 10

_Q192 = f"""
    WITH mb AS (
      SELECT p.p_brand AS brand,
             epoch_us(l.l_shipdate) // 86400000000 AS day,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT) AS fp
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    bounds AS (
      SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM mb),
    halves AS (
      SELECT CASE WHEN mb.day < b.mid THEN 1 ELSE 2 END AS half,
             mb.brand, CAST(SUM(mb.fp) AS BIGINT) AS rev_fp
      FROM mb CROSS JOIN bounds b
      GROUP BY 1, 2),
    ranked AS (
      SELECT a.half, a.brand, a.rev_fp,
             1 + COUNT(b.brand) AS rk
      FROM halves a LEFT JOIN halves b
        ON b.half = a.half
       AND (b.rev_fp > a.rev_fp
            OR (b.rev_fp = a.rev_fp AND b.brand < a.brand))
      GROUP BY a.half, a.brand, a.rev_fp),
    h1 AS (SELECT brand, CAST(rk AS BIGINT) AS rank_h1,
                  rev_fp AS rev_fp_h1
           FROM ranked WHERE half = 1 AND rk <= {_Q192_K}),
    h2 AS (SELECT brand, CAST(rk AS BIGINT) AS rank_h2,
                  rev_fp AS rev_fp_h2
           FROM ranked WHERE half = 2 AND rk <= {_Q192_K})
    SELECT COALESCE(h1.brand, h2.brand) AS brand,
           h1.rank_h1, h2.rank_h2,
           h1.rev_fp_h1, h2.rev_fp_h2
    FROM h1 FULL OUTER JOIN h2 ON h2.brand = h1.brand
"""


@query("q192_topk_drift", _Q192)
def q192_topk_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand top-{K} leaderboard diff between corpus halves (see
    block comment). NULL rank marks an entry/exit.

    Scale shape: ONE fact pass builds the (half, brand) aggregate
    (the midpoint rides along as a broadcast scalar); the election,
    top-k cut, and diff join all run on the ~2x#brands-row aggregate.
    The fact is never scanned per half.

    Overflow (r11 audit): a (half, brand) cell holds ~1/50 of total
    revenue — ~4.6e18 in 1e-4 fixed-point at 100 TB, within 2× of the
    int64 cliff — so the cell sums accumulate in DECIMAL(38,0) and
    the election compares decimals. The rev_fp output columns cast
    back to BIGINT (ANSI-checked: they fit at the design point; the
    1e-4 convention itself runs out of int64 at ~2× beyond it)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mb = li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.expr("unix_micros(l_shipdate) div 86400000000").alias("day"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
        ).cast("long").alias("fp"),
    )
    bounds = mb.agg(
        F.expr("(min(day) + max(day) + 1) div 2").alias("mid")
    )
    halves = (
        mb.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.when(F.col("day") < F.col("mid"), 1).otherwise(2).alias("half"),
            "brand",
        )
        .agg(F.sum(F.col("fp").cast("decimal(38,0)")).alias("rev_fp"))
        .transform(persist_once)
    )
    a, b = halves.alias("a"), halves.alias("b")
    better = (F.col("b.half") == F.col("a.half")) & (
        (F.col("b.rev_fp") > F.col("a.rev_fp"))
        | ((F.col("b.rev_fp") == F.col("a.rev_fp")) & (F.col("b.brand") < F.col("a.brand")))
    )
    ranked = (
        a.join(b, better, "left")
        .groupBy(
            F.col("a.half").alias("half"),
            F.col("a.brand").alias("brand"),
            F.col("a.rev_fp").alias("rev_fp"),
        )
        .agg((F.count(F.col("b.brand")) + 1).alias("rk"))
        .filter(F.col("rk") <= _Q192_K)
    )
    h1 = ranked.filter(F.col("half") == 1).select(
        F.col("brand").alias("brand1"),
        F.col("rk").alias("rank_h1"),
        F.col("rev_fp").cast("long").alias("rev_fp_h1"),
    )
    h2 = ranked.filter(F.col("half") == 2).select(
        F.col("brand").alias("brand2"),
        F.col("rk").alias("rank_h2"),
        F.col("rev_fp").cast("long").alias("rev_fp_h2"),
    )
    return h1.join(h2, F.col("brand2") == F.col("brand1"), "full").select(
        F.coalesce("brand1", "brand2").alias("brand"),
        "rank_h1",
        "rank_h2",
        "rev_fp_h1",
        "rev_fp_h2",
    )


# --- q194: spend-tier migration matrix ----------------------------------
#
# The customer-count companion to q184's dollar bridge: customers are
# banded into fixed spend tiers per corpus half (T1 < $100, T2 < $1k,
# T3 < $10k, T4 above — production segmentations use fixed bands, not
# per-period quantiles, precisely so the matrix is comparable across
# periods and needs NO ranking window), then counted per
# (tier_before, tier_after) cell including NEW and CHURNED border
# states. One fact pass; the matrix join is the q184 full-outer on
# the (customer, half) aggregate; all banding is integer-cents CASE
# arithmetic.

_Q194_BANDS = "CASE WHEN cents < 10000 THEN 'T1' WHEN cents < 100000 THEN 'T2' WHEN cents < 1000000 THEN 'T3' ELSE 'T4' END"

_Q194 = f"""
    WITH mb AS (
      SELECT o_custkey AS c,
             epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS fp
      FROM orders),
    bounds AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM mb),
    halves AS (
      SELECT CASE WHEN mb.day < b.mid THEN 1 ELSE 2 END AS half, mb.c,
             CAST(SUM(mb.fp) AS BIGINT) AS cents
      FROM mb CROSS JOIN bounds b GROUP BY 1, 2),
    tiers AS (
      SELECT half, c, {_Q194_BANDS} AS tier FROM halves),
    h1 AS (SELECT c, tier FROM tiers WHERE half = 1),
    h2 AS (SELECT c, tier FROM tiers WHERE half = 2)
    SELECT COALESCE(h1.tier, 'NEW') AS tier_before,
           COALESCE(h2.tier, 'CHURNED') AS tier_after,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM h1 FULL OUTER JOIN h2 ON h2.c = h1.c
    GROUP BY 1, 2
"""


@query("q194_tier_migration", _Q194)
def q194_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-tier migration matrix between corpus halves, with NEW /
    CHURNED border states (see block comment).

    Scale shape: one fact pass to the (half, customer) grain (the
    midpoint rides as a broadcast scalar), integer CASE banding, and
    a customer-keyed self full-outer join of the small aggregate —
    no window anywhere; the matrix is ≤ 5x5 rows."""
    o = t(spark, sf_dir, "orders")
    mb = o.select(
        F.col("o_custkey").alias("c"),
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("fp"),
    )
    bounds = mb.agg(F.expr("(min(day) + max(day) + 1) div 2").alias("mid"))
    halves = (
        mb.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.when(F.col("day") < F.col("mid"), 1).otherwise(2).alias("half"),
            "c",
        )
        .agg(F.sum("fp").alias("cents"))
        .withColumn("tier", F.expr(_Q194_BANDS))
        .transform(persist_once)
    )
    h1 = halves.filter(F.col("half") == 1).select(
        F.col("c").alias("c1"), F.col("tier").alias("t1")
    )
    h2 = halves.filter(F.col("half") == 2).select(
        F.col("c").alias("c2"), F.col("tier").alias("t2")
    )
    return (
        h1.join(h2, F.col("c2") == F.col("c1"), "full")
        .groupBy(
            F.coalesce("t1", F.lit("NEW")).alias("tier_before"),
            F.coalesce("t2", F.lit("CHURNED")).alias("tier_after"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- q196: revenue Gini coefficient per product type ---------------------
#
# The inequality companion to q177's HHI: the Gini coefficient of
# part-level revenue within each product type, from the exact
# rank-weighted form over ascending-sorted values
#     G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
# — all-integer numerator/denominator (int64-safe while n·cents stays
# below ~9e18), emitted as a floored milli ratio plus the raw
# sufficient statistics. Ranks come from a TYPE-partitioned window
# (never partition-less) on the deterministic (cents, partkey) order.

_Q196 = """
    WITH rev AS (
      SELECT p.p_type, l.l_partkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT p_type, cents,
             ROW_NUMBER() OVER (PARTITION BY p_type
                                ORDER BY cents, l_partkey) AS i
      FROM rev)
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST((2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)) * 1000
                // (COUNT(*) * SUM(cents)) AS BIGINT) AS gini_milli
    FROM ranked GROUP BY p_type
"""


@query("q196_revenue_gini", _Q196)
def q196_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-type part-revenue Gini in exact integer milli (see
    block comment).

    Scale shape: one fact-volume combinable aggregate to part grain
    (broadcast part dim), a type-partitioned rank window, and a
    per-type rollup — the q175 Pareto shape with a rank-weighted sum
    instead of a cumulative cut.

    Kept-rank bound (ROUND10_NOTES §9 / VERDICT r10 #5): the window's
    input is the PART-GRAIN aggregate, so a per-type sort task holds
    ≤ #parts-of-that-type DIMENSION rows (|part|/150 under TPC-H type
    uniformity), never fact rows — the histogram rewrite (q91/q209)
    buys nothing here because part revenues are near-distinct. Gated by
    tests/test_plan_quality.py::test_q196_rank_window_over_part_grain.
    If part cardinality ever outgrows a task, the value_histogram
    scaffold (operators/common.py) is the drop-in escape hatch."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .groupBy("p_type", "l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("p_type").orderBy("cents", "l_partkey")
    ranked = rev.select(
        "p_type", "cents", F.row_number().over(w).cast("long").alias("i")
    )
    return ranked.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("total_cents"),
        # DECIMAL(38,0), not BIGINT (r11 scale fix): the all-long form
        # hit ANSI ARITHMETIC_OVERFLOW on the 100x-replicated corpus —
        # the (2*sum(i*cents) - (n+1)*sum(cents)) * 1000 bracket
        # reaches ~2.0e19 > int64; at true 100 TB sum(i*cents) alone
        # exceeds int64. Decimal sums are exact to 38 digits (~1e25 at
        # SF100k — wide margin) and still partially aggregate
        # map-side; the DuckDB oracle was already exact via its
        # int128 SUM, so values are unchanged wherever the long form
        # didn't overflow (pinned by the randomized fuzz).
        F.expr(
            "CAST((2 * sum(CAST(i AS DECIMAL(38,0)) * cents)"
            " - (count(1) + 1) * CAST(sum(cents) AS DECIMAL(38,0))) * 1000"
            " div (count(1) * CAST(sum(cents) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("gini_milli"),
    )


# --- q197: multi-measure correlation matrix (one pass) -------------------
#
# Pairwise Pearson correlations between the four lineitem measures —
# quantity, price (whole dollars), discount (bps), tax (bps) — from
# ONE scan of integer sufficient statistics (n, Σx, Σx², Σxy for all
# pairs): the q150 pattern widened to a matrix. Each Σ is exact and
# order-independent; the four price-bearing product sums (pp, qp, pd,
# pt) accumulate in DECIMAL(38,0) — Σp² alone reaches ~1.3e21 at
# 6e11 rows (r11 audit; per-row products stay int64-tiny) — while the
# provably-bounded sums stay int64. The ORACLE keeps those four sums
# in DuckDB's native int128 (no BIGINT narrow — the narrow would
# RAISE exactly where the Spark side was hardened; the r12 s57-class
# symmetry sweep); every r is then a pure double
# chain on those exact integers
# — deterministic cross-engine, unlike built-in corr() whose double
# accumulation is order-dependent on BOTH engines.

_Q197 = """
    WITH m AS (
      SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
             CAST(ROUND(l_extendedprice) AS BIGINT) AS p,
             CAST(ROUND(l_discount * 10000) AS BIGINT) AS d,
             CAST(ROUND(l_tax * 10000) AS BIGINT) AS t
      FROM lineitem),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
             CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(q*q) AS BIGINT) AS qq, SUM(p*p) AS pp,
             CAST(SUM(d*d) AS BIGINT) AS dd, CAST(SUM(t*t) AS BIGINT) AS tt,
             SUM(q*p) AS qp, CAST(SUM(q*d) AS BIGINT) AS qd,
             CAST(SUM(q*t) AS BIGINT) AS qt2, SUM(p*d) AS pd,
             SUM(p*t) AS pt, CAST(SUM(d*t) AS BIGINT) AS dt
      FROM m)
    SELECT n,
      (CAST(n AS DOUBLE)*qp - CAST(sq AS DOUBLE)*sp)
        / sqrt((CAST(n AS DOUBLE)*qq - CAST(sq AS DOUBLE)*sq)
             * (CAST(n AS DOUBLE)*pp - CAST(sp AS DOUBLE)*sp)) AS r_qty_price,
      (CAST(n AS DOUBLE)*qd - CAST(sq AS DOUBLE)*sd)
        / sqrt((CAST(n AS DOUBLE)*qq - CAST(sq AS DOUBLE)*sq)
             * (CAST(n AS DOUBLE)*dd - CAST(sd AS DOUBLE)*sd)) AS r_qty_disc,
      (CAST(n AS DOUBLE)*qt2 - CAST(sq AS DOUBLE)*st)
        / sqrt((CAST(n AS DOUBLE)*qq - CAST(sq AS DOUBLE)*sq)
             * (CAST(n AS DOUBLE)*tt - CAST(st AS DOUBLE)*st)) AS r_qty_tax,
      (CAST(n AS DOUBLE)*pd - CAST(sp AS DOUBLE)*sd)
        / sqrt((CAST(n AS DOUBLE)*pp - CAST(sp AS DOUBLE)*sp)
             * (CAST(n AS DOUBLE)*dd - CAST(sd AS DOUBLE)*sd)) AS r_price_disc,
      (CAST(n AS DOUBLE)*pt - CAST(sp AS DOUBLE)*st)
        / sqrt((CAST(n AS DOUBLE)*pp - CAST(sp AS DOUBLE)*sp)
             * (CAST(n AS DOUBLE)*tt - CAST(st AS DOUBLE)*st)) AS r_price_tax,
      (CAST(n AS DOUBLE)*dt - CAST(sd AS DOUBLE)*st)
        / sqrt((CAST(n AS DOUBLE)*dd - CAST(sd AS DOUBLE)*sd)
             * (CAST(n AS DOUBLE)*tt - CAST(st AS DOUBLE)*st)) AS r_disc_tax
    FROM s
"""


@query("q197_correlation_matrix", _Q197)
def q197_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise measure correlations from one sufficient-stats
    pass (see block comment).

    Scale shape: ONE map-side-combinable aggregate over the scan
    carries all 15 integer sums; the matrix arithmetic runs on the
    single result row. No joins, no windows, no second pass."""
    li = t(spark, sf_dir, "lineitem")
    m = li.select(
        F.round("l_quantity").cast("long").alias("q"),
        F.round("l_extendedprice").cast("long").alias("p"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("d"),
        F.round(F.col("l_tax") * 10000).cast("long").alias("t"),
    )
    s = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"), F.sum("p").alias("sp"),
        F.sum("d").alias("sd"), F.sum("t").alias("st"),
        F.sum(F.expr("q*q")).alias("qq"),
        F.sum(F.expr("CAST(p*p AS DECIMAL(38,0))")).alias("pp"),
        F.sum(F.expr("d*d")).alias("dd"), F.sum(F.expr("t*t")).alias("tt"),
        F.sum(F.expr("CAST(q*p AS DECIMAL(38,0))")).alias("qp"),
        F.sum(F.expr("q*d")).alias("qd"),
        F.sum(F.expr("q*t")).alias("qt2"),
        F.sum(F.expr("CAST(p*d AS DECIMAL(38,0))")).alias("pd"),
        F.sum(F.expr("CAST(p*t AS DECIMAL(38,0))")).alias("pt"),
        F.sum(F.expr("d*t")).alias("dt"),
    )

    def r(nxy, sx, sy, sxx, syy):
        return F.expr(
            f"(cast(n as double)*{nxy} - cast({sx} as double)*{sy}) / "
            f"sqrt((cast(n as double)*{sxx} - cast({sx} as double)*{sx}) * "
            f"(cast(n as double)*{syy} - cast({sy} as double)*{sy}))"
        )

    return s.select(
        "n",
        r("qp", "sq", "sp", "qq", "pp").alias("r_qty_price"),
        r("qd", "sq", "sd", "qq", "dd").alias("r_qty_disc"),
        r("qt2", "sq", "st", "qq", "tt").alias("r_qty_tax"),
        r("pd", "sp", "sd", "pp", "dd").alias("r_price_disc"),
        r("pt", "sp", "st", "pp", "tt").alias("r_price_tax"),
        r("dt", "sd", "st", "dd", "tt").alias("r_disc_tax"),
    )


# --- q204: new-vs-returning acquisition mix per month ---------------------
#
# Growth accounting's first split: each month's orders and revenue
# divided into NEW customers (first-ever order falls in this month)
# vs RETURNING — q184's bridge tracks dollars across adjacent months,
# this tracks the acquisition mix the whole history implies. The
# first-month relation is one customer-keyed MIN; membership is an
# equi-join back on the customer key; everything is exact int64
# cents and counts with floor ppm shares.

_Q204 = """
    WITH om AS (
      SELECT o_custkey AS c,
             epoch_us(o_orderdate) // 86400000000 // 30 AS m,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    first_m AS (SELECT c, MIN(m) AS fm FROM om GROUP BY c)
    SELECT om.m AS month_bucket,
           CAST(SUM(CASE WHEN om.m = f.fm THEN 1 ELSE 0 END) AS BIGINT)
             AS new_orders,
           CAST(SUM(CASE WHEN om.m = f.fm THEN 0 ELSE 1 END) AS BIGINT)
             AS returning_orders,
           CAST(SUM(CASE WHEN om.m = f.fm THEN om.cents ELSE 0 END)
                AS BIGINT) AS new_cents,
           CAST(SUM(CASE WHEN om.m = f.fm THEN 0 ELSE om.cents END)
                AS BIGINT) AS returning_cents,
           CAST(SUM(CASE WHEN om.m = f.fm THEN om.cents ELSE 0 END) * 1000000
                // SUM(om.cents) AS BIGINT) AS new_revenue_ppm
    FROM om JOIN first_m f ON f.c = om.c
    GROUP BY 1
"""


@query("q204_acquisition_mix", _Q204)
def q204_acquisition_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order/revenue split between first-month (new) and
    returning customers (see block comment).

    Scale shape: one fact pass to (customer, month, cents) rows, a
    customer-keyed combinable MIN for the first month, one equi-join
    on the customer key (both sides hash-partition there), and a
    #months-row rollup."""
    o = t(spark, sf_dir, "orders")
    om = o.select(
        F.col("o_custkey").alias("c"),
        F.expr("unix_micros(o_orderdate) div 86400000000 div 30").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).transform(persist_once)
    first_m = om.groupBy("c").agg(F.min("m").alias("fm"))
    is_new = F.col("m") == F.col("fm")
    return (
        om.join(first_m, "c")
        .groupBy(F.col("m").alias("month_bucket"))
        .agg(
            F.sum(F.when(is_new, 1).otherwise(0)).alias("new_orders"),
            F.sum(F.when(is_new, 0).otherwise(1)).alias("returning_orders"),
            F.sum(F.when(is_new, F.col("cents")).otherwise(0)).alias("new_cents"),
            F.sum(F.when(is_new, 0).otherwise(F.col("cents"))).alias(
                "returning_cents"
            ),
            # DECIMAL numerator (r11 audit): a month's new-customer
            # cents reach ~3e16 at 100 TB; ·1e6 would pass int64
            F.expr(
                "CAST(sum(case when m = fm then cents else 0 end)"
                " AS DECIMAL(38,0)) * 1000000 div sum(cents)"
            ).alias("new_revenue_ppm"),
        )
    )


# --- q205: cohort repeat rate within 60 days -------------------------------
#
# The forward-quality metric acquisition teams put next to q204's mix:
# of the customers acquired in each month, what share placed a SECOND
# order within 60 days of their first? First/second order days come
# from the min / min-above-min two-phase election (the q153 pattern —
# no window needed): one customer-keyed MIN, a customer-keyed join
# back, and a conditional MIN over strictly-later days. Exact integer
# day math; customers with one order count in the cohort denominator.

_Q205 = """
    WITH od AS (
      SELECT DISTINCT o_custkey AS c,
             epoch_us(o_orderdate) // 86400000000 AS day
      FROM orders),
    d1 AS (SELECT c, MIN(day) AS first_day FROM od GROUP BY c),
    d2 AS (
      SELECT od.c, d1.first_day,
             MIN(CASE WHEN od.day > d1.first_day THEN od.day END)
               AS second_day
      FROM od JOIN d1 ON d1.c = od.c
      GROUP BY od.c, d1.first_day)
    SELECT CAST(first_day // 30 AS BIGINT) AS cohort_month,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN second_day IS NOT NULL
                          AND second_day - first_day <= 60
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_60d,
           CAST(SUM(CASE WHEN second_day IS NOT NULL
                          AND second_day - first_day <= 60
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS repeat_ppm
    FROM d2 GROUP BY 1
"""


@query("q205_cohort_repeat_rate", _Q205)
def q205_cohort_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each acquisition cohort placing a second order within
    60 days (see block comment).

    Scale shape: a distinct to (customer, day) grain, a customer-keyed
    combinable MIN, one customer-keyed equi-join back, and a
    conditional MIN — both aggregates map-side combinable, no window,
    cohort rollup is #months rows."""
    o = t(spark, sf_dir, "orders")
    od = o.select(
        F.col("o_custkey").alias("c"),
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
    ).distinct().transform(persist_once)
    d1 = od.groupBy("c").agg(F.min("day").alias("first_day"))
    d2 = (
        od.join(d1, "c")
        .groupBy("c", "first_day")
        .agg(
            F.min(
                F.when(F.col("day") > F.col("first_day"), F.col("day"))
            ).alias("second_day")
        )
    )
    is_repeat = F.col("second_day").isNotNull() & (
        F.col("second_day") - F.col("first_day") <= 60
    )
    return d2.groupBy(
        F.expr("first_day div 30").alias("cohort_month")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(is_repeat, 1).otherwise(0)).alias("n_repeat_60d"),
        F.expr(
            "sum(case when second_day is not null and "
            "second_day - first_day <= 60 then 1 else 0 end) * 1000000 "
            "div count(1)"
        ).alias("repeat_ppm"),
    )


# --- q206: price/volume revenue bridge per brand ---------------------------
#
# FP&A's revenue variance decomposition: each brand's revenue change
# between the corpus halves splits into a VOLUME effect (quantity
# change priced at the base period's average realized price) and a
# PRICE/MIX effect. Exact reconciliation is forced by construction:
# volume_effect = (q1 − q0)·rev0 // q0 (integer floor at base price),
# price_mix_effect = Δrev − volume_effect — the two effects sum to the
# exact cents delta no matter the flooring. Brands present in only
# one half emit NULL effects (pure entry/exit, all Δ is mix).

_Q206 = """
    WITH mb AS (
      SELECT p.p_brand AS brand,
             epoch_us(l.l_shipdate) // 86400000000 AS day,
             CAST(ROUND(l.l_quantity) AS BIGINT) AS q,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    bounds AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM mb),
    halves AS (
      SELECT CASE WHEN mb.day < b.mid THEN 1 ELSE 2 END AS half, mb.brand,
             CAST(SUM(mb.q) AS BIGINT) AS qty,
             CAST(SUM(mb.cents) AS BIGINT) AS cents
      FROM mb CROSS JOIN bounds b GROUP BY 1, 2),
    wide AS (
      SELECT COALESCE(h1.brand, h2.brand) AS brand,
             h1.qty AS q0, h1.cents AS rev0, h2.qty AS q1, h2.cents AS rev1
      FROM (SELECT * FROM halves WHERE half = 1) h1
      FULL OUTER JOIN (SELECT * FROM halves WHERE half = 2) h2
        ON h2.brand = h1.brand)
    SELECT brand,
           COALESCE(rev1, 0) - COALESCE(rev0, 0) AS delta_cents,
           CASE WHEN q0 > 0 AND q1 IS NOT NULL
                THEN (q1 - q0) * rev0 // q0 END AS volume_effect,
           CASE WHEN q0 > 0 AND q1 IS NOT NULL
                THEN rev1 - rev0 - ((q1 - q0) * rev0 // q0) END
             AS price_mix_effect
    FROM wide
"""


@query("q206_price_volume_bridge", _Q206)
def q206_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue delta decomposed into volume and price/mix
    effects with forced exact reconciliation (see block comment).

    Scale shape: ONE fact pass to (half, brand) sums with the date
    midpoint as a broadcast scalar; the decomposition is a brand-keyed
    self full-outer join of that ~2x#brands-row aggregate — identical
    machinery to q192/q194 pointing at a different business read."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mb = li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.expr("unix_micros(l_shipdate) div 86400000000").alias("day"),
        F.round("l_quantity").cast("long").alias("q"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long").alias("cents"),
    )
    bounds = mb.agg(F.expr("(min(day) + max(day) + 1) div 2").alias("mid"))
    halves = (
        mb.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.when(F.col("day") < F.col("mid"), 1).otherwise(2).alias("half"),
            "brand",
        )
        .agg(F.sum("q").alias("qty"), F.sum("cents").alias("cents"))
        .transform(persist_once)
    )
    h1 = halves.filter(F.col("half") == 1).select(
        F.col("brand").alias("b1"), F.col("qty").alias("q0"),
        F.col("cents").alias("rev0"),
    )
    h2 = halves.filter(F.col("half") == 2).select(
        F.col("brand").alias("b2"), F.col("qty").alias("q1"),
        F.col("cents").alias("rev1"),
    )
    wide = h1.join(h2, F.col("b2") == F.col("b1"), "full").select(
        F.coalesce("b1", "b2").alias("brand"), "q0", "rev0", "q1", "rev1"
    )
    decomposable = (F.col("q0") > 0) & F.col("q1").isNotNull()
    vol = F.expr("(q1 - q0) * rev0 div q0")
    return wide.select(
        "brand",
        (
            F.coalesce("rev1", F.lit(0)) - F.coalesce("rev0", F.lit(0))
        ).alias("delta_cents"),
        F.when(decomposable, vol).alias("volume_effect"),
        F.when(decomposable, F.col("rev1") - F.col("rev0") - vol).alias(
            "price_mix_effect"
        ),
    )


# --- q210: Wilson lower-bound ranking of return rates ------------------------
#
# The "don't rank by the point estimate" classic (Reddit's comment
# sort, every A/B readout): brands ranked by the Wilson 95% LOWER
# bound of their return rate, so a 2/2 brand doesn't outrank a
# 40/1000 one. The bound is a pure IEEE double chain on the exact
# int64 (k, n) counts — sqrt/mul/div only. The z constant enters as
# CAST(1.96 AS DOUBLE) and z² is computed IN-QUERY from that double:
# a bare 1.96 literal is DECIMAL on both engines (BigDecimal-exact in
# Spark, decimal-multiply in DuckDB — the known divergence class),
# and a 3.8416 literal is a DIFFERENT double than (1.96 as double)².

_Q210 = """
    WITH rr AS (
      SELECT p.p_brand AS brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1),
    wb AS (
      SELECT brand, n, k,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
             CAST(1.96 AS DOUBLE) AS z
      FROM rr WHERE n > 0)
    SELECT brand, n, k,
           (p_hat + z * z / (2.0 * CAST(n AS DOUBLE))
            - z * sqrt((p_hat * (1.0 - p_hat)
                        + z * z / (4.0 * CAST(n AS DOUBLE)))
                       / CAST(n AS DOUBLE)))
             / (1.0 + z * z / CAST(n AS DOUBLE)) AS wilson_lb
    FROM wb
"""


@query("q210_wilson_return_ranking", _Q210)
def q210_wilson_return_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% lower bound of each brand's return rate (see block
    comment for the double-literal discipline).

    Scale shape: one combinable (brand)-keyed count pair over the
    broadcast-dim join; the bound is codegen scalar arithmetic on the
    ~25-row aggregate."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rr = (
        li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("k"),
        )
        .filter(F.col("n") > 0)
    )
    nd = F.col("n").cast("double")
    p_hat = F.col("k").cast("double") / nd
    z = F.lit(1.96)
    lb = (
        p_hat
        + z * z / (2.0 * nd)
        - z * F.sqrt((p_hat * (1.0 - p_hat) + z * z / (4.0 * nd)) / nd)
    ) / (1.0 + z * z / nd)
    return rr.select("brand", "n", "k", lb.alias("wilson_lb"))


# --- q211: frequency-of-frequencies (Good-Turing input) ----------------------
#
# The N_k table: how many customers placed exactly k orders — the
# frequency-of-frequencies histogram that feeds Good-Turing smoothing
# (the t63/t83 LMs' missing-mass estimate is N_1/N), long-tail
# analyses, and loyalty-program sizing. Two stacked combinable
# aggregates plus an exact cumulative share per k via the triangular
# join on the tiny k-histogram (no partition-less window).

_Q211 = """
    WITH per_c AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
      FROM orders GROUP BY 1),
    hist AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k
      FROM per_c GROUP BY k),
    tot AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n_customers FROM hist)
    SELECT h.k, h.n_k,
           CAST(SUM(h2.n_k) AS BIGINT) AS n_le_k,
           CAST(SUM(h2.n_k) * 1000000 // t.n_customers AS BIGINT)
             AS cum_share_ppm
    FROM hist h
    JOIN hist h2 ON h2.k <= h.k
    CROSS JOIN tot t
    GROUP BY h.k, h.n_k, t.n_customers
"""


@query("q211_freq_of_frequencies", _Q211)
def q211_freq_of_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_k customers-with-exactly-k-orders histogram with exact
    cumulative shares (see block comment).

    Scale shape: customer-keyed count → k-keyed count (both map-side
    combinable); the cumulative runs on the ≤ max-k-row histogram via
    a bounded triangular join and a one-row total broadcast."""
    o = t(spark, sf_dir, "orders")
    per_c = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("k"))
    hist = per_c.groupBy("k").agg(F.count(F.lit(1)).alias("n_k")).transform(persist_once)
    tot = hist.agg(F.sum("n_k").alias("n_customers"))
    h2 = hist.select(F.col("k").alias("k2"), F.col("n_k").alias("n_k2"))
    return (
        hist.join(F.broadcast(h2), F.col("k2") <= F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_k", "n_customers")
        .agg(F.sum("n_k2").alias("n_le_k"))
        .select(
            "k",
            "n_k",
            "n_le_k",
            F.expr("n_le_k * 1000000 div n_customers").alias("cum_share_ppm"),
        )
    )


# --- q212: share-of-wallet loyalty profile -----------------------------------
#
# The CRM concentration read: per customer, the share of their spend
# captured by their single top brand (ties broken by brand name),
# rolled up per market segment — mean top-brand share in floored ppm
# and the LOYALIST share (customers whose top brand takes > 50%).
# Customer-partitioned windows only; all shares are exact integer
# ppm floors of int64 cents.

_Q212 = """
    WITH cb AS (
      SELECT o.o_custkey AS c, p.p_brand AS brand,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT c, cents,
             SUM(cents) OVER (PARTITION BY c) AS tot,
             ROW_NUMBER() OVER (PARTITION BY c
                                ORDER BY cents DESC, brand) AS rk
      FROM cb),
    top AS (
      SELECT c, cents * 1000000 // tot AS top_share_ppm
      FROM ranked WHERE rk = 1 AND tot > 0)
    SELECT cu.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(t.top_share_ppm) // COUNT(*) AS BIGINT)
             AS mean_top_share_ppm,
           CAST(SUM(CASE WHEN t.top_share_ppm > 500000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS loyalist_ppm
    FROM top t JOIN customer cu ON cu.c_custkey = t.c
    GROUP BY 1
"""


@query("q212_share_of_wallet", _Q212)
def q212_share_of_wallet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-brand spend share per customer rolled up per segment (see
    block comment).

    Scale shape: one fact pass to (customer, brand) cents (broadcast
    dims), a customer-partitioned window stack (total + rank share one
    exchange, WindowGroupLimit keeps the top row map-side), and a
    broadcast customer-dim join for the segment rollup."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cu = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cb = (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .groupBy(F.col("o_custkey").alias("c"), F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    wtot = Window.partitionBy("c")
    wrk = Window.partitionBy("c").orderBy(F.desc("cents"), F.asc("brand"))
    top = (
        cb.select(
            "c",
            "cents",
            F.sum("cents").over(wtot).alias("tot"),
            F.row_number().over(wrk).alias("rk"),
        )
        .filter((F.col("rk") == 1) & (F.col("tot") > 0))
        .select("c", F.expr("cents * 1000000 div tot").alias("top_share_ppm"))
    )
    return (
        top.join(F.broadcast(cu), cu["c_custkey"] == top["c"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr("sum(top_share_ppm) div count(1)").alias(
                "mean_top_share_ppm"
            ),
            F.expr(
                "sum(case when top_share_ppm > 500000 then 1 else 0 end) "
                "* 1000000 div count(1)"
            ).alias("loyalist_ppm"),
        )
    )


# --- q213: Pareto crossing point per product type ----------------------------
#
# q175's one-number summary: the SMALLEST number of parts whose
# cumulative revenue reaches 80% of a type's total (the "how many
# SKUs really matter" figure merchandisers quote), plus that count's
# share of the type's catalog in ppm. Same exact integer pre-row
# cumulative rule as q175 under the (cents DESC, partkey) total
# order: a part whose pre-cum is below the line is INSIDE the
# crossing set.

_Q213 = """
    WITH rev AS (
      SELECT p.p_type, l.l_partkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT p_type, cents,
             SUM(cents) OVER (PARTITION BY p_type
               ORDER BY cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cents) OVER (PARTITION BY p_type) AS tot,
             COUNT(*) OVER (PARTITION BY p_type) AS n_parts
      FROM rev)
    SELECT p_type,
           CAST(n_parts AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN (cum - cents) * 100 < tot * 80
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_for_80,
           CAST(SUM(CASE WHEN (cum - cents) * 100 < tot * 80
                         THEN 1 ELSE 0 END) * 1000000 // n_parts AS BIGINT)
             AS catalog_share_ppm
    FROM ranked GROUP BY p_type, n_parts
"""


@query("q213_pareto_crossing", _Q213)
def q213_pareto_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts needed to reach 80% of each type's revenue, and their
    catalog share (see block comment; q175's exact cumulative rule).

    Scale shape: q175's plan with the class CASE collapsed into one
    count — a part-grain aggregate, a type-partitioned window stack,
    and a per-type rollup."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .groupBy("p_type", "l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    wcum = (
        Window.partitionBy("p_type")
        .orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtyp = Window.partitionBy("p_type")
    ranked = rev.select(
        "p_type",
        "cents",
        F.sum("cents").over(wcum).alias("cum"),
        F.sum("cents").over(wtyp).alias("tot"),
        F.count(F.lit(1)).over(wtyp).alias("n_parts"),
    )
    inside = (F.col("cum") - F.col("cents")) * 100 < F.col("tot") * 80
    return ranked.groupBy("p_type", "n_parts").agg(
        F.sum(F.when(inside, 1).otherwise(0)).alias("n_for_80"),
        F.expr(
            "sum(case when (cum - cents) * 100 < tot * 80 then 1 else 0 end) "
            "* 1000000 div n_parts"
        ).alias("catalog_share_ppm"),
    )


# --- q214: revenue by customer tenure ----------------------------------------
#
# The lifecycle revenue curve: every order bucketed by the CUSTOMER'S
# AGE at purchase (days since their first-ever order — 0-30 / 31-90 /
# 91-180 / 180+), with exact cents and order counts per bucket. A
# business living off the 0-30 bucket is acquisition-driven; revenue
# migrating into late buckets is compounding retention. First-order
# day is the customer-keyed MIN election (q204/q205's); tenure is
# integer day arithmetic.

_Q214 = """
    WITH om AS (
      SELECT o_custkey AS c,
             epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    f AS (SELECT c, MIN(day) AS first_day FROM om GROUP BY c)
    SELECT CASE WHEN om.day - f.first_day <= 30 THEN '00-30'
                WHEN om.day - f.first_day <= 90 THEN '31-90'
                WHEN om.day - f.first_day <= 180 THEN '91-180'
                ELSE '180+' END AS tenure_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(om.cents) AS BIGINT) AS cents
    FROM om JOIN f ON f.c = om.c
    GROUP BY 1
"""


@query("q214_tenure_revenue_mix", _Q214)
def q214_tenure_revenue_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders and revenue by customer age at purchase (see block
    comment).

    Scale shape: one fact pass, a customer-keyed combinable MIN, one
    customer-keyed equi-join, a 4-bucket rollup."""
    o = t(spark, sf_dir, "orders")
    om = o.select(
        F.col("o_custkey").alias("c"),
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).transform(persist_once)
    f = om.groupBy("c").agg(F.min("day").alias("first_day"))
    age = F.col("day") - F.col("first_day")
    bucket = (
        F.when(age <= 30, "00-30")
        .when(age <= 90, "31-90")
        .when(age <= 180, "91-180")
        .otherwise("180+")
    )
    return (
        om.join(f, "c")
        .groupBy(bucket.alias("tenure_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
    )


# --- q216: purchase novelty rate ----------------------------------------------
#
# Exploration vs repeat behavior over time: the share of line items
# each month where the customer buys a part for the FIRST time (their
# (customer, part) first-day election — all same-day lines of that
# first day count as first-time, documented tie rule). A falling
# novelty curve is a maturing, repeat-driven business; flat-high is
# acquisition-driven. Exact integer day/ppm math; one narrow
# (customer, part)-keyed MIN plus an equi-join back.

_Q216 = """
    WITH lines AS (
      SELECT o.o_custkey AS c, l.l_partkey AS pk,
             epoch_us(o.o_orderdate) // 86400000000 AS day
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    fst AS (SELECT c, pk, MIN(day) AS first_day
            FROM lines GROUP BY 1, 2)
    SELECT CAST(lines.day // 30 AS BIGINT) AS month_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN lines.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_first_time,
           CAST(SUM(CASE WHEN lines.day = f.first_day THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM lines JOIN fst f ON f.c = lines.c AND f.pk = lines.pk
    GROUP BY 1
"""


@query("q216_purchase_novelty", _Q216)
def q216_purchase_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-time-part share of line items per month (see block
    comment).

    Scale shape: the (customer, part) first-day election is a
    combinable MIN on a narrow pair key; the join back is on the same
    key (both sides hash-partition there); the rollup is #months
    rows."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
    )
    lines = li.join(o, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("c"),
        F.col("l_partkey").alias("pk"),
        "day",
    ).transform(persist_once)
    fst = lines.groupBy("c", "pk").agg(F.min("day").alias("first_day"))
    is_first = F.col("day") == F.col("first_day")
    return (
        lines.join(fst, ["c", "pk"])
        .groupBy(F.expr("day div 30").alias("month_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(is_first, 1).otherwise(0)).alias("n_first_time"),
            F.expr(
                "sum(case when day = first_day then 1 else 0 end) * 1000000 "
                "div count(1)"
            ).alias("novelty_ppm"),
        )
    )


# --- q218: first-order value vs retention -------------------------------------
#
# The growth question behind onboarding incentives: do customers whose
# FIRST order is bigger come back more? First order = the q205
# election (min day; same-day cents summed — the deterministic
# first-day basket); value bands are fixed integer cents (q194's
# discipline); retention = a second distinct order day within 60 days.
# Output per band: cohort size, repeat count, exact ppm.

_Q218 = """
    WITH od AS (
      SELECT o_custkey AS c,
             epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    f AS (SELECT c, MIN(day) AS first_day FROM od GROUP BY c),
    firstval AS (
      SELECT od.c, f.first_day, CAST(SUM(od.cents) AS BIGINT) AS first_cents
      FROM od JOIN f ON f.c = od.c AND od.day = f.first_day
      GROUP BY 1, 2),
    rep AS (
      SELECT od.c,
             MIN(CASE WHEN od.day > f.first_day THEN od.day END) AS second_day
      FROM od JOIN f ON f.c = od.c
      GROUP BY od.c)
    SELECT CASE WHEN fv.first_cents < 10000 THEN 'T1'
                WHEN fv.first_cents < 100000 THEN 'T2'
                WHEN fv.first_cents < 1000000 THEN 'T3'
                ELSE 'T4' END AS first_value_tier,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN r.second_day IS NOT NULL
                          AND r.second_day - fv.first_day <= 60
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_60d,
           CAST(SUM(CASE WHEN r.second_day IS NOT NULL
                          AND r.second_day - fv.first_day <= 60
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS repeat_ppm
    FROM firstval fv JOIN rep r ON r.c = fv.c
    GROUP BY 1
"""


@query("q218_first_value_retention", _Q218)
def q218_first_value_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-day repeat rate by first-day basket value tier (see block
    comment).

    Scale shape: two customer-keyed combinable aggregates (first-day
    election, conditional second-day MIN) and customer-keyed joins —
    no window; the report is 4 tiers."""
    o = t(spark, sf_dir, "orders")
    od = o.select(
        F.col("o_custkey").alias("c"),
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).transform(persist_once)
    f = od.groupBy("c").agg(F.min("day").alias("first_day"))
    firstval = (
        od.join(f, "c")
        .filter(F.col("day") == F.col("first_day"))
        .groupBy("c", "first_day")
        .agg(F.sum("cents").alias("first_cents"))
    )
    rep = (
        od.join(f, "c")
        .groupBy("c")
        .agg(
            F.min(
                F.when(F.col("day") > F.col("first_day"), F.col("day"))
            ).alias("second_day")
        )
    )
    tier = (
        F.when(F.col("first_cents") < 10000, "T1")
        .when(F.col("first_cents") < 100000, "T2")
        .when(F.col("first_cents") < 1000000, "T3")
        .otherwise("T4")
    )
    is_rep = F.col("second_day").isNotNull() & (
        F.col("second_day") - F.col("first_day") <= 60
    )
    return (
        firstval.join(rep, "c")
        .groupBy(tier.alias("first_value_tier"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(is_rep, 1).otherwise(0)).alias("n_repeat_60d"),
            F.expr(
                "sum(case when second_day is not null and "
                "second_day - first_day <= 60 then 1 else 0 end) * 1000000 "
                "div count(1)"
            ).alias("repeat_ppm"),
        )
    )


# --- q219: buyer repeat ladder --------------------------------------------------
#
# q211's N_k table read as a survival curve: of customers who reached
# k orders, what share went on to a (k+1)th? continue_ppm(k) =
# N_{>=k+1} · 1e6 // N_{>=k} — the "buyer ladder" loyalty teams chart
# (the k=1→2 rung IS q205's repeat rate without the time bound).
# Tail sums come from the bounded triangular join on the tiny k
# histogram; everything is exact integer counts.

_Q219 = """
    WITH per_c AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
      FROM orders GROUP BY 1),
    hist AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k
             FROM per_c GROUP BY k),
    tails AS (
      SELECT h.k,
             CAST(SUM(h2.n_k) AS BIGINT) AS n_ge_k,
             CAST(SUM(CASE WHEN h2.k > h.k THEN h2.n_k ELSE 0 END)
                  AS BIGINT) AS n_gt_k
      FROM hist h JOIN hist h2 ON h2.k >= h.k
      GROUP BY h.k)
    SELECT k, n_ge_k, n_gt_k,
           CAST(n_gt_k * 1000000 // n_ge_k AS BIGINT) AS continue_ppm
    FROM tails
"""


@query("q219_repeat_ladder", _Q219)
def q219_repeat_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of k-order customers who went past k orders (see block
    comment). The deepest rung reports 0 ppm.

    Scale shape: q211's two stacked combinable aggregates; both tail
    sums come from one triangular join on the ≤ max-k-row histogram."""
    o = t(spark, sf_dir, "orders")
    per_c = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("k"))
    hist = per_c.groupBy("k").agg(F.count(F.lit(1)).alias("n_k"))
    h2 = hist.select(F.col("k").alias("k2"), F.col("n_k").alias("n_k2"))
    return (
        hist.join(F.broadcast(h2), F.col("k2") >= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("n_k2").alias("n_ge_k"),
            F.sum(
                F.when(F.col("k2") > F.col("k"), F.col("n_k2")).otherwise(0)
            ).alias("n_gt_k"),
        )
        .select(
            "k",
            "n_ge_k",
            "n_gt_k",
            F.expr("n_gt_k * 1000000 div n_ge_k").alias("continue_ppm"),
        )
    )


def trimmed_mean_hist(events: DataFrame, frac: float = 0.05) -> DataFrame:
    """q91's rank-trimmed mean via a VALUE HISTOGRAM — identical
    output, no raw-row sort: the scale path for exact trimming over
    fixed-point domains (and the skew-immune one — a hot group
    partially aggregates map-side like any other key).

    Identity argument: q91 ranks raw doubles with an event_id
    tiebreak, but its aggregate sums ROUNDED cents, so (a) which of
    several equal-cents rows survive the cut cannot change the sum or
    the kept count, and (b) round() is monotone, so ordering by cents
    is a coarsening of ordering by raw value that only merges rows
    inside those equal-cents ties. Per distinct cents value v with
    count c and cumulative count cum (ordered by v), the kept
    multiplicity is the overlap of its rank interval (cum-c, cum] with
    the keep range (lo, n-lo] — integer arithmetic, engine-exact.

    Shape: one map-side-combinable exchange on (event_type, cents) —
    shuffle volume is the DISTINCT-pair count, not rows (5.6× smaller
    at sf0.1; orders of magnitude at 100 TB where the cents domain is
    bounded) — then a window + aggregate over the distinct-value
    relation. Replaces q91's per-group sort of raw rows, whose cost is
    the largest group's row count. Row-identical to q91 on the events
    contract (randomized differential incl. raw-value ties that differ
    in cents, and the driver oracle at sf0.01).

    Null/NaN parity (review r10): cast(round(NaN*100) as long) is null
    — it would collapse onto null VALUES and sort first, while Spark
    sorts nulls FIRST but NaN LAST. An explicit ordering class
    (0 = null, 1 = finite, 2 = NaN) keeps Spark's sort order; null/NaN
    rows count toward n and the trim ranks but contribute nothing to
    the sum. Nulls are exact parity with the rank form; for NaN this
    is a deliberate LENIENT SUPERSET — the rank form's
    cast(round(NaN*100) as long) raises CAST_OVERFLOW under ANSI, so
    NaN has no rank-form behavior to match and the histogram orders it
    where Spark's sort would. frac must sit in [0, 0.5): at 0.5+ the rank form's keep
    range is empty and the group vanishes, which a histogram cannot
    reproduce — rejected loudly instead."""
    if not (0 <= frac < 0.5):
        raise ValueError(f"trimmed_mean_hist: frac must be in [0, 0.5), got {frac}")
    ordc = (
        F.when(F.col("value").isNull(), 0)
        .when(F.isnan("value"), 2)
        .otherwise(1)
        .alias("ord")
    )
    e = events.select(
        "event_type",
        ordc,
        F.when(
            F.col("value").isNotNull() & ~F.isnan("value"),
            F.round(F.col("value") * 100).cast("long"),
        ).alias("v"),
    )
    h2 = value_histogram(e, ["event_type"], ["ord", "v"])
    lo = F.floor(F.col("n") * frac).cast("long")
    hi = F.col("n") - lo
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), hi) - F.greatest(F.col("cum") - F.col("cnt"), lo),
    )
    k = h2.withColumn("kept", kept)
    return k.groupBy("event_type").agg(
        F.max("n").alias("n_total"),
        F.sum("kept").alias("n_kept"),
        (
            F.sum(F.col("v") * F.col("kept")).cast("double")
            / 100.0
            / F.sum("kept")
        ).alias("trimmed_mean"),
    )


def weighted_median_bucketed(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col,
    bucket_width: float = 1.0,
) -> DataFrame:
    """q99's weighted (lower) median without the per-group raw-row
    sort — the bucket-carry selection, fourth instance of SCALING.md
    §6's chunked-sequence family (q99's plain window puts one group's
    ENTIRE row set in one sort task; lineitem has 3 return flags, so
    sf0.1 already runs 3-way parallel on a 32-core box).

    Exact decomposition (weights must be non-negative integers, as in
    q99): (1) per-(group, bucket = floor(value/width)) weight totals —
    a map-side-combinable aggregate, the only event-volume exchange,
    keyed fine enough that hot groups spread; (2) cumulative bucket
    weights per group over the #buckets-row summary pick the WINNING
    bucket (first with 2·cum ≥ total) plus its carry-in weight;
    (3) only that bucket's rows (a broadcast semi-filter; ~rows/#buckets
    per group) get the fine RANGE-cumulative, and the pick is the
    smallest value with 2·(carry + cum_in) ≥ total — identical
    arithmetic to the plain form's 2·cumw ≥ totw since carry + cum_in
    IS cumw restricted to the winning bucket, and RANGE semantics
    (ties share cum) are preserved inside the bucket. Output matches
    q99: (group, weighted_median, total_weight). Two column-pruned
    scans (bucket totals + winning-bucket rows) replace one scan + a
    full per-group sort — the q93 two-pass trade. Row-identical to the
    plain window form under the randomized differential (ties, zero
    weights, negative values, NULL values, all-weight-zero and
    all-value-null groups).

    Null parity (review r10): null values bucket to null, which sorts
    FIRST in the bucket window exactly as null v sorts first in q99's
    value window, so the carry arithmetic absorbs them; when the
    crossing lands inside the nulls, the plain form's min() skips to
    the smallest non-null v, and min_by skipping null b picks the same
    bucket. A group whose rows are ALL null-valued is emitted as
    (g, null, total) directly — the fine join can never see it. NaN
    values are OUT of contract (plain sorts NaN last; floor(NaN) does
    not) — q99's money values cannot be NaN."""
    from pyspark.sql import Window as W

    if bucket_width <= 0:
        raise ValueError(
            f"weighted_median_bucketed: bucket_width must be > 0, got {bucket_width}"
        )
    w = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).alias("v"),
        F.col(weight_col).alias("wt") if isinstance(weight_col, str) else weight_col.alias("wt"),
    ).withColumn("b", F.floor(F.col("v") / F.lit(bucket_width)).cast("long"))
    marked = value_histogram(w.select("g", "b", "wt"), ["g"], ["b"], weight="wt")
    qual = marked.where(F.col("cum") * 2 >= F.col("n"))
    win = (
        qual.where(F.col("b").isNotNull())
        .groupBy("g")
        .agg(
            F.min_by(F.struct("b", "cum", "cnt"), "b").alias("s"),
            F.min("n").alias("tot"),
        )
        .select(
            "g",
            F.col("s.b").alias("b"),
            (F.col("s.cum") - F.col("s.cnt")).alias("carry"),
            "tot",
        )
    )
    # groups with no non-null value at all: plain q99 emits (g, null, tot)
    allnull = (
        marked.groupBy("g")
        .agg(F.max("b").alias("maxb"), F.min("n").alias("tot"))
        .where(F.col("maxb").isNull())
        .select(
            "g",
            F.lit(None).cast(w.schema["v"].dataType).alias("weighted_median"),
            F.col("tot").cast("long").alias("total_weight"),
        )
    )
    inb = w.join(F.broadcast(win), ["g", "b"])
    wv = W.partitionBy("g").orderBy("v").rangeBetween(W.unboundedPreceding, 0)
    fine = inb.withColumn("cum_in", F.sum("wt").over(wv))
    picked = fine.groupBy("g").agg(
        F.min(
            F.when((F.col("carry") + F.col("cum_in")) * 2 >= F.col("tot"), F.col("v"))
        ).alias("weighted_median"),
        F.min("tot").cast("long").alias("total_weight"),
    )
    return picked.unionByName(allnull)
