"""Event-analytics operators: histogram, funnel, retention — the
realtime-OLAP workloads a Pinot-style serving layer exists for
(the reference feeds exactly this kind of engine).

All pure DataFrame compositions: integer bucket arithmetic, min-ts
step comparisons, month-grain self-joins — every one oracle-checked
and shuffle-bounded by #users / #buckets, not #events.
"""

from __future__ import annotations

import hashlib

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
    "q59_histogram",
    """
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INTEGER) AS bucket,
           CAST(FLOOR(o_totalprice / 50000.0) AS INTEGER)
             * CAST(50000.0 AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS bucket_total
    FROM orders
    GROUP BY 1, 2
    """,
)
def q59_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (floor-bucket arithmetic — the
    engine-portable form of width_bucket). Map-side combine makes the
    shuffle #buckets-sized at any data scale."""
    o = t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0).cast("int")
    return o.groupBy(
        bucket.alias("bucket"), (bucket * 50000.0).alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias(
            "bucket_total"
        ),
    )


@query(
    "q60_funnel",
    """
    WITH steps AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
      FROM events GROUP BY user_id),
    flags AS (
      SELECT user_id,
             CAST(t_view IS NOT NULL AS INTEGER) AS s1,
             CAST(t_view IS NOT NULL AND t_click IS NOT NULL
                  AND t_click >= t_view AS INTEGER) AS s2,
             CAST(t_view IS NOT NULL AND t_click IS NOT NULL
                  AND t_click >= t_view AND t_purchase IS NOT NULL
                  AND t_purchase >= t_click AS INTEGER) AS s3
      FROM steps)
    SELECT CAST(SUM(s1) AS BIGINT) AS n_view,
           CAST(SUM(s2) AS BIGINT) AS n_view_click,
           CAST(SUM(s3) AS BIGINT) AS n_view_click_purchase,
           COUNT(*) AS n_users
    FROM flags
    """,
)
def q60_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase, first-occurrence order
    per user): one #users-sized aggregate carrying three min-timestamps
    — the funnel_count shape Pinot serves, no per-event state."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    steps = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t_purchase"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & F.col("t_click").isNotNull() & (F.col("t_click") >= F.col("t_view"))
    s3 = s2 & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") >= F.col("t_click")
    )
    flags = steps.select(
        s1.cast("int").alias("s1"), s2.cast("int").alias("s2"), s3.cast("int").alias("s3")
    )
    return flags.agg(
        F.sum("s1").alias("n_view"),
        F.sum("s2").alias("n_view_click"),
        F.sum("s3").alias("n_view_click_purchase"),
        F.count(F.lit(1)).alias("n_users"),
    )


@query(
    "q61_retention",
    """
    WITH activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
      FROM events)
    SELECT a.week,
           COUNT(*) AS n_active,
           COUNT(b.user_id) AS n_retained_next_week
    FROM activity a
    LEFT JOIN activity b
      ON b.user_id = a.user_id AND b.week = a.week + 7
    GROUP BY a.week
    """,
)
def q61_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention: distinct (user, week) activity grid
    self-joined one week forward. Shuffle is #users×#weeks (tiny vs
    events); the same plan at 100 TB/day just grows the dedup stage."""
    e = t(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    a = activity.alias("a")
    b = activity.alias("b")
    return (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.week") == F.date_add(F.col("a.week"), 7)),
            "left",
        )
        .groupBy(F.col("a.week").alias("week"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count(F.col("b.user_id")).alias("n_retained_next_week"),
        )
    )


# q86 spatial radius join. Pinot ships a geospatial function family
# (ST_Distance + geo-indexes); the engine analog is the grid-bucket
# join: assign every point to a grid cell, explode each query center
# to the 3x3 cells covering its radius (cell size >= radius), equi-join
# on the cell id, refine with the exact distance predicate. Work is
# #points-in-candidate-cells, never #points x #centers — the same
# bucket-then-refine shape as q82's interval join, in 2-D. The events
# table has no coordinates, so deterministic ones are injected from
# the ids (multiplicative hash — the t60 inject pattern); distances
# stay in integer arithmetic, so the oracle (which uses the naive
# theta join as the semantic spec) matches bit-for-bit.
_GRID = 100  # cell size
_RADIUS = 75  # <= _GRID, so a 3x3 neighborhood covers the circle
_N_CENTERS = 10


@query(
    "q86_geo_radius_join",
    f"""
    WITH ev AS (
      SELECT event_id,
             ((user_id % 1000) * 2654435761) % 1000 AS x,
             ((event_id % 1000) * 2246822519) % 1000 AS y
      FROM events),
    c AS (
      SELECT i AS center_id, (i * 97) % 1000 AS cx, (i * 131) % 1000 AS cy
      FROM range({_N_CENTERS}) t(i))
    SELECT c.center_id, c.cx, c.cy,
           COUNT(*) AS n_within,
           MIN((x - cx) * (x - cx) + (y - cy) * (y - cy)) AS min_dist2
    FROM ev JOIN c
      ON (x - cx) * (x - cx) + (y - cy) * (y - cy) <= {_RADIUS * _RADIUS}
    GROUP BY c.center_id, c.cx, c.cy
    """,
)
def q86_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points-within-radius per query center via the grid-bucket join
    (Pinot ST_Distance-within-radius analog). The center table explodes
    to its 3x3 covering cells (bounded fan-out: 9 rows/center) and
    BROADCASTS; the point side maps to its one cell and equi-joins —
    the points never shuffle, never meet centers outside their cell,
    and the exact integer-distance refine runs on candidates only."""
    # key % 1000 BEFORE the Knuth multiply (r11 overflow rule): the
    # product ring-reduces — ((k % B)·M) % B ≡ (k·M) % B — so values
    # are identical, but the intermediate stays ≤ 999·M instead of
    # overflowing int64 once ids pass ~3.5e9 (ANSI would raise).
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.pmod(F.pmod(F.col("user_id"), F.lit(1000)) * 2654435761, F.lit(1000)).alias("x"),
        F.pmod(F.pmod(F.col("event_id"), F.lit(1000)) * 2246822519, F.lit(1000)).alias("y"),
    )
    ev = ev.withColumn("cellx", (F.col("x") / _GRID).cast("long")).withColumn(
        "celly", (F.col("y") / _GRID).cast("long")
    )
    off = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    centers = (
        spark.range(_N_CENTERS)
        .select(
            F.col("id").alias("center_id"),
            F.pmod(F.col("id") * 97, F.lit(1000)).alias("cx"),
            F.pmod(F.col("id") * 131, F.lit(1000)).alias("cy"),
        )
        .withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .select(
            "center_id", "cx", "cy",
            ((F.col("cx") / _GRID).cast("long") + F.col("dx")).alias("cellx"),
            ((F.col("cy") / _GRID).cast("long") + F.col("dy")).alias("celly"),
        )
    )
    dist2 = (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")) + (
        F.col("y") - F.col("cy")
    ) * (F.col("y") - F.col("cy"))
    return (
        ev.join(F.broadcast(centers), ["cellx", "celly"])
        .filter(dist2 <= _RADIUS * _RADIUS)
        .groupBy("center_id", "cx", "cy")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.min(dist2).alias("min_dist2"),
        )
    )


_DECAY_HALFLIFE_DAYS = 7.0


@query(
    "q88_decayed_engagement",
    f"""
    WITH mx AS (SELECT MAX(ts) AS t_max FROM events),
    term AS (
      SELECT e.user_id,
             CAST(ROUND(power(0.5,
               CAST(epoch_us(mx.t_max) - epoch_us(e.ts) AS DOUBLE)
                 / (86400000000.0 * {_DECAY_HALFLIFE_DAYS})) * 1000000)
               AS BIGINT) AS w_fp,
             e.value
      FROM events e CROSS JOIN mx)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(w_fp) AS DOUBLE) / 1000000.0 AS decayed_count,
           CAST(SUM(CAST(ROUND(w_fp * value) AS BIGINT)) AS DOUBLE) / 1000000.0
             AS decayed_value
    FROM term
    GROUP BY user_id
    """,
)
def q88_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially decayed engagement per user — the recency-weighted
    rollup a serving layer keeps instead of raw counts: each event
    contributes 2^(-age/halflife) (halflife 7 days, anchored at the
    corpus max timestamp so the result is deterministic data, not
    wall-clock). The per-event weight is rounded to 1e-6 fixed point
    BEFORE the per-user sum, so the aggregate is an order-independent
    integer sum (functions/exact.py pattern; pow last-ulp drift is
    absorbed the same way q36 rounds its math functions).

    Scale shape (100 TB): one global max reduced map-side and broadcast
    (one-row crossJoin), then a single combinable aggregate keyed on
    user_id — identical exchange budget to a plain per-user count."""
    e = t(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("t_max"))
    age_days = (
        (F.unix_micros("t_max") - F.unix_micros("ts")).cast("double")
        / (86400000000.0 * _DECAY_HALFLIFE_DAYS)
    )
    w_fp = F.round(F.pow(F.lit(0.5), age_days) * 1000000).cast("long")
    return (
        e.crossJoin(F.broadcast(mx))
        .select("user_id", w_fp.alias("w_fp"), "value")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("w_fp").cast("double") / 1000000.0).alias("decayed_count"),
            (
                F.sum(F.round(F.col("w_fp") * F.col("value")).cast("long")).cast(
                    "double"
                )
                / 1000000.0
            ).alias("decayed_value"),
        )
    )


@query(
    "q89_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, event_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
    FROM c
    """,
)
def q89_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the session-flow model behind next-event prediction and
    anomaly scoring in a Pinot-style serving layer).

    Two-stage shape: the lag window shuffles once on user_id (the same
    exchange every per-user sequence op pays), then the (prev, curr)
    counts are a map-side-combinable aggregate over a key space of
    #event_types² — at 100 TB the second exchange carries dozens of
    rows per partition regardless of event volume. The normalizing
    window runs over that tiny matrix. Probabilities are exact: bigint
    count / bigint partition sum, one IEEE division on both engines."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "event_type", F.lag("event_type").over(seq_w).alias("prev_type"))
        .where(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "event_type").agg(F.count(F.lit(1)).alias("n"))
    norm_w = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "event_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(norm_w).cast("double")).alias("p"),
    )


@query(
    "q90_scd2_intervals",
    """
    WITH seq AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    ch AS (
      SELECT user_id, event_type, event_id, ts_us
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type)
    SELECT user_id, event_type, ts_us AS valid_from_us,
           lead(ts_us) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us,
           (lead(ts_us) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL)
             AS is_current
    FROM ch
    """,
)
def q90_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build from an event stream: collapse consecutive
    duplicate states per user (lag ≠ current), then stamp each surviving
    state with its validity interval [valid_from, valid_to) via lead —
    the CDC-to-dimension-table compaction every warehouse ingest runs.

    Single-exchange shape: both windows and the change filter share the
    user_id partitioning and (ts, event_id) sort, and a filter preserves
    distribution AND order, so Catalyst plans ONE shuffle + ONE sort for
    the whole pipeline (plan-gated in test_plan_quality). At 100 TB the
    cost is the same one exchange a bare lag() pays."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        e.select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.lag("event_type").over(seq_w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    iv_w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    nxt = F.lead("ts_us").over(iv_w)
    return ch.select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q100_value_drift",
    """
    WITH mn AS (SELECT MIN(ts) AS t0 FROM events),
    xy AS (
      SELECT e.event_type,
             (epoch_us(e.ts) - epoch_us(mn.t0)) // 3600000000 AS x,
             CAST(ROUND(e.value * 100) AS BIGINT) AS y
      FROM events e CROSS JOIN mn),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(x * x) AS sxx,
             SUM(x * y) AS sxy
      FROM xy GROUP BY event_type)
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / 100.0 AS slope_per_hour,
           (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS mean_value
    FROM s
    """,
)
def q100_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type VALUE DRIFT: the least-squares slope of event
    value over time (units/hour, anchored at the corpus min timestamp)
    — the data-quality monitor that catches a metric silently trending
    (sensor drift, logging change, slow leak) before it poisons
    training labels.

    Exactness (q81's moment-sum discipline): x is integer hours, y is
    1e-2 fixed-point integer; all five sufficient statistics
    (n, Σx, Σy, Σx², Σxy) are pure int64 sums — order-independent, no
    float accumulation — and the closed-form slope
    (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) is then a fixed sequence of IEEE
    double ops on identical integers, bit-equal on both engines with
    NO rounding step (the t63 lesson: never ROUND a result that can
    land on a half-boundary).

    Scale shape: one map-side-reduced global min broadcast back (q88's
    one-row crossJoin), then ONE combinable aggregate keyed on
    event_type carrying five integers — the same exchange budget as a
    count. Overflow (the q196 DECIMAL rule, r11): per-row x·x / x·y
    terms are int64-tiny (≤ ~1e13), but their SUMS grow with group
    size — at ~2e11 rows/type Σx² ≈ 6e20 > int64 — so the two product
    sums accumulate in exact DECIMAL(38,0) (still map-side-combinable);
    the n·Σxy products are computed in double deliberately, and
    DECIMAL→double is the same correctly-rounded conversion as the
    oracle's int128→double."""
    e = t(spark, sf_dir, "events")
    mn = e.agg(F.min("ts").alias("t0"))
    xy = e.crossJoin(F.broadcast(mn)).select(
        "event_type",
        F.expr("(unix_micros(ts) - unix_micros(t0)) div 3600000000").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    s = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (
        (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
        / (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        / 100.0
    )
    return s.select(
        "event_type",
        "n",
        slope.alias("slope_per_hour"),
        ((F.col("sy").cast("double") / nd) / 100.0).alias("mean_value"),
    )


# ---------------------------------------------------------------------------
# q106: per-segment equi-depth (equal-frequency) binning
# ---------------------------------------------------------------------------

_EQD_BINS = 8


@query(
    "q106_equidepth_bins",
    f"""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    b AS (
      SELECT event_type, value,
             CAST(((rk - 1) * {_EQD_BINS}) // n AS INTEGER) AS bin
      FROM r)
    SELECT event_type, bin, COUNT(*) AS n_rows,
           MIN(value) AS lo, MAX(value) AS hi
    FROM b GROUP BY event_type, bin
    """,
)
def q106_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (equi-depth) bin boundaries per event type —
    the feature-discretization step (quantile binning) of an ML
    preprocessing pipeline, and the complement of q59's fixed-width
    histogram: bins adapt to the value distribution so each holds
    ~n/8 rows regardless of skew. Assignment is exact integer rank
    arithmetic, bin = ((rank-1)*B) div n with a unique event_id
    tiebreak, so bin membership (and hence lo/hi boundaries) is
    bit-deterministic on both engines — no float quantile estimates
    anywhere.

    Implemented via equidepth_bins_hist (r10): the rank assignment is
    computed from per-distinct-value counts and integer rank-interval
    arithmetic instead of a row_number window — identical output (tied
    rows carry the same value, so which of them a bin edge splits off
    cannot change n_rows/lo/hi; argument and randomized equivalence at
    equidepth_bins_hist). The sorted form's per-group sort serialized
    whole groups into single tasks (12.2s on the 100× corpus — 5 event
    types = 5 sort tasks over 10M rows; the histogram runs 0.78s,
    15.7×, and is ~0.1s slower at sf0.1 where the sort fits one task
    anyway — the 100-TB budget wins). The sketch path for unbounded
    cardinality is q57's approx_quantiles.

    Scale shape: one map-side-combinable exchange of per-(event_type,
    value) counts; bin edges are integer arithmetic over the distinct
    values, so a skewed group costs its distinct count, not a sort of
    its rows."""
    return equidepth_bins_hist(t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# q107: last-touch purchase attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 3 * 86_400 * 1_000_000  # 3-day attribution window

_Q107 = f"""
    WITH w AS (
      SELECT event_id, user_id, event_type, ts,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_ts,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS t_id,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS t_type
      FROM events),
    p AS (
      SELECT event_id AS purchase_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_ts_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               - epoch_us(CAST(touch_ts AS TIMESTAMP)) AS lat_us,
             t_id, t_type
      FROM w WHERE event_type = 'purchase')
    SELECT purchase_id, user_id, purchase_ts_us,
           CASE WHEN lat_us <= {_ATTR_WINDOW_US} THEN t_id END
             AS touch_event_id,
           CASE WHEN lat_us <= {_ATTR_WINDOW_US} THEN t_type END
             AS touch_type,
           CASE WHEN lat_us <= {_ATTR_WINDOW_US} THEN lat_us END
             AS latency_us
    FROM p
"""


@query("q107_purchase_attribution", _Q107)
def q107_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the same
    user's most recent preceding click/view within a 3-day window —
    the marketing-analytics join q60 (funnel) and q89 (transitions)
    don't answer: WHICH event gets the credit. NULL touch columns mean
    an unattributed (organic) purchase.

    The carry-forward is last_value(...) IGNORE NULLS over a
    strictly-preceding ROWS frame — one Window stack over ONE
    user-keyed exchange (all three carries share the frame), with the
    purchase filter applied after; timestamps are globally unique in
    this dataset so the ordering (and hence the credited touch) is
    deterministic. Latency compares exact integer microseconds.
    Scale: event-volume shuffle on user_id once, nothing else."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    frame = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    w = e.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(frame)
        .alias("touch_ts"),
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(frame)
        .alias("t_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(frame)
        .alias("t_type"),
    )
    p = w.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        (F.unix_micros("ts") - F.unix_micros("touch_ts")).alias("lat_us"),
        "t_id",
        "t_type",
    )
    ok = F.col("lat_us") <= _ATTR_WINDOW_US
    return p.select(
        "purchase_id",
        "user_id",
        "purchase_ts_us",
        F.when(ok, F.col("t_id")).alias("touch_event_id"),
        F.when(ok, F.col("t_type")).alias("touch_type"),
        F.when(ok, F.col("lat_us")).alias("latency_us"),
    )


# ---------------------------------------------------------------------------
# q108: recursive user-journey path enumeration (WITH RECURSIVE)
# ---------------------------------------------------------------------------

_JOURNEY_MAX_DEPTH = 4

_Q108 = f"""
    WITH RECURSIVE edges AS (
      SELECT prev, curr, COUNT(*) AS n FROM (
        SELECT user_id,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
               event_type AS curr
        FROM events) x
      WHERE prev IS NOT NULL GROUP BY prev, curr),
    paths AS (
      SELECT CONCAT('signup > ', curr) AS path, curr AS last, 2 AS depth,
             n AS score
      FROM edges WHERE prev = 'signup'
      UNION ALL
      SELECT CONCAT(p.path, ' > ', e.curr), e.curr, p.depth + 1,
             p.score + e.n
      FROM paths p JOIN edges e ON e.prev = p.last
      WHERE p.depth < {_JOURNEY_MAX_DEPTH})
    SELECT path, CAST(depth AS INTEGER) AS depth, CAST(score AS BIGINT) AS score
    FROM paths
"""


@query("q108_journey_paths", _Q108)
def q108_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path enumeration with a RECURSIVE CTE (Spark 4's
    WITH RECURSIVE; DuckDB runs the single-statement _Q108 text as the
    oracle): starting from 'signup', walk the event-transition graph
    (q89's aggregated Markov edges) up to depth {_JOURNEY_MAX_DEPTH},
    emitting every path with an exact integer popularity score (sum of
    traversed edge counts) — the "top user journeys" product-analytics
    query that needs path ENUMERATION, which q89's single-step
    transition matrix cannot express.

    Scale shape: the event table pays exactly ONE user-keyed exchange
    to build the lag edges (the per-key sequence budget), and that
    aggregate is PERSISTED before the recursion — a CTE referenced
    from inside UnionLoop is re-planned per iteration, so the inlined
    form re-scanned and re-windowed the fact table every iteration
    (~depth× the whole event cost; PLAN_AUDIT's logical census showed
    2 fact scans inside the loop). The recursion then iterates over
    the cached #event_types² edge relation — a tiny InMemoryTableScan
    joined to the growing-but-bounded path frontier (≤ |types|^depth
    rows), never back to the events. Cycles terminate via the depth
    bound; integer scores keep every row bit-deterministic."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    seq_w = Window.partitionBy("user_id").orderBy("ts")
    edges = (
        ev.select(
            F.lag("event_type").over(seq_w).alias("prev"),
            F.col("event_type").alias("curr"),
        )
        .where(F.col("prev").isNotNull())
        .groupBy("prev", "curr")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(persist_materialized)
    )
    # materialized at persist (owned-only count, r13): the loop scans
    # the cache, not the fact
    # The view must outlive this call (the returned DataFrame resolves
    # it lazily at collect time), so it cannot be dropped here. Key the
    # name by sf_dir instead: concurrent/interleaved callers on
    # different datasets can't clobber each other, repeat calls on the
    # same dataset reuse the one entry, and the session-lifetime
    # footprint is bounded at one #event_types²-row cached aggregate +
    # one view per distinct sf_dir (ADVICE r8 #3 — documented, bounded).
    view = f"journey_edges_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    edges.createOrReplaceTempView(view)
    return spark.sql(f"""
        WITH RECURSIVE paths AS (
          SELECT CONCAT('signup > ', curr) AS path, curr AS last,
                 2 AS depth, n AS score
          FROM {view} WHERE prev = 'signup'
          UNION ALL
          SELECT CONCAT(p.path, ' > ', e.curr), e.curr, p.depth + 1,
                 p.score + e.n
          FROM paths p JOIN {view} e ON e.prev = p.last
          WHERE p.depth < {_JOURNEY_MAX_DEPTH})
        SELECT path, CAST(depth AS INTEGER) AS depth,
               CAST(score AS BIGINT) AS score
        FROM paths
    """)


# --- q121: incremental aggregate maintenance ------------------------
_Q121_CUTOFF = "2024-02-01 00:00:00"

_Q121 = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
           MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) // COUNT(*) AS BIGINT)
             AS avg_cents_floor
    FROM events
    GROUP BY event_type
"""


@query("q121_incremental_rollup_merge", _Q121)
def q121_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: yesterday's
    per-event-type rollup MERGES with today's delta rollup instead of
    re-aggregating history — the algebra that keeps a 100 TB serving
    aggregate fresh at delta cost. Both sides reduce to combinable
    partials (count/sum/min/max merge by sum/sum/min/max; avg is
    DERIVED from merged sums — never merged itself, the classic
    incremental-view trap), so the union the final aggregate sees is
    2 × #groups rows, not data.

    The oracle aggregates the full table directly — the driver hash
    proves merge ≡ recompute. The avg is an integer floor division on
    positive cents (the t63 portability rule). The cutoff split here
    stands in for the real boundary (yesterday's materialization vs
    the streaming delta, the q96 cube's refresh path)."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cutoff = F.lit(_Q121_CUTOFF).cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )

    old = rollup(ev.filter(F.col("ts") < cutoff))     # the materialized side
    delta = rollup(ev.filter(F.col("ts") >= cutoff))  # the fresh side
    merged = (
        old.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
    )
    return merged.select(
        "event_type",
        "n_events",
        "sum_cents",
        "min_cents",
        "max_cents",
        # integer division on BOTH engines (t63 rule): a double
        # quotient's last ulp could flip floor() at an exact boundary
        F.expr("sum_cents div n_events").cast("long").alias("avg_cents_floor"),
    )


# --- q140: two-sample Kolmogorov-Smirnov drift test -----------------
#
# q100 catches a MEAN trending (regression slope); q140 catches the
# DISTRIBUTION changing shape with a stable mean — the classic
# monitoring gap (a metric whose variance doubles or that turns
# bimodal alarms no slope detector). Two-sample KS per event_type:
# early vs late half of the corpus (split at the midpoint timestamp),
# D = sup_x |F_early(x) - F_late(x)|, with the Massey/Smirnov 95%
# rejection threshold 1.358 * sqrt((n1+n2)/(n1*n2)).
#
# Exactness: the ECDF difference is exact INTEGER rational arithmetic
# — at each distinct value v, |cum_early(v) * n_late - cum_late(v) *
# n_early| is an exact wide-integer expression (DECIMAL(38,0) /
# HUGEINT) and D's numerator is an exact integer MAX
# (order-independent); only the final normalized statistic and the
# sqrt threshold are doubles, and both are fixed chains of
# correctly-rounded IEEE ops on identical integers — bit-equal on
# both engines with no rounding step. Values are 1e-2 fixed-point
# (the q100 convention); NULL values are filtered before the
# histogram so the window never orders a NULL key (Spark and DuckDB
# disagree on default NULL placement).
#
# Overflow (r12 gate): cum·n products pass int64 once a (type,
# period) exceeds ~3e9 rows — routine at the 100-TB design point
# (events ~1e12 over a handful of types) — so both cross products
# run in exact DECIMAL(38,0) / HUGEINT (cum ≤ n ≤ 1e12 ⇒ products
# ≤ 1e24 ≪ 1e38). They price per HISTOGRAM row (value-range-sized,
# never event-count-sized), so the lift is off the hot path. d_num
# itself then outgrows int64, so it is emitted as DOUBLE via ONE
# correctly-rounded conversion of the exact integer — the identical
# conversion both engines apply (DECIMAL→double ≡ int128→double),
# keeping the statistic bit-equal cross-engine at any scale.

_Q140 = """
    WITH b AS (
      SELECT CAST((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS BIGINT)
             AS mid
      FROM events),
    x AS (
      SELECT e.event_type,
             CASE WHEN epoch_us(e.ts) >= b.mid THEN 1 ELSE 0 END AS late,
             CAST(ROUND(e.value * 100) AS BIGINT) AS y
      FROM events e CROSS JOIN b
      WHERE e.value IS NOT NULL),
    h AS (
      SELECT event_type, y,
             CAST(SUM(1 - late) AS BIGINT) AS c_early,
             CAST(SUM(late) AS BIGINT) AS c_late
      FROM x GROUP BY event_type, y),
    tot AS (
      SELECT event_type,
             CAST(SUM(c_early) AS BIGINT) AS n_early,
             CAST(SUM(c_late) AS BIGINT) AS n_late
      FROM h GROUP BY event_type),
    cum AS (
      SELECT event_type, y,
             CAST(SUM(c_early) OVER w AS BIGINT) AS cum_early,
             CAST(SUM(c_late) OVER w AS BIGINT) AS cum_late
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY y)),
    d AS (
      SELECT c.event_type,
             MAX(ABS(CAST(c.cum_early AS HUGEINT) * t.n_late
                     - CAST(c.cum_late AS HUGEINT) * t.n_early))
               AS d_num_w
      FROM cum c JOIN tot t ON c.event_type = t.event_type
      WHERE t.n_early > 0 AND t.n_late > 0
      GROUP BY c.event_type)
    SELECT d.event_type, t.n_early, t.n_late,
           CAST(d.d_num_w AS DOUBLE) AS d_num,
           CAST(d.d_num_w AS DOUBLE)
             / (CAST(t.n_early AS DOUBLE) * CAST(t.n_late AS DOUBLE))
             AS ks_stat,
           CAST(CAST(d.d_num_w AS DOUBLE)
                  / (CAST(t.n_early AS DOUBLE) * CAST(t.n_late AS DOUBLE))
                > 1.358 * sqrt(CAST(t.n_early + t.n_late AS DOUBLE)
                  / (CAST(t.n_early AS DOUBLE) * CAST(t.n_late AS DOUBLE)))
                AS INTEGER) AS reject_05
    FROM d JOIN tot t ON d.event_type = t.event_type
"""


@query("q140_ks_drift_test", _Q140)
def q140_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type two-sample KS test, early vs late half of the
    corpus (see block comment): exact integer ECDF numerator, double
    statistic, Smirnov 95% rejection flag.

    Scale shape: events collapse to the per-(type, value) HISTOGRAM in
    one combinable aggregate (the only event-volume exchange — value
    is 1e-2 fixed-point, so per-type cardinality is bounded by the
    value range, not the row count); the cumulative window then runs
    over histogram rows only, partitioned by event_type. The midpoint
    is a map-side-reduced min/max broadcast back (the q88/q100
    one-row crossJoin). A single type's histogram living on one
    reducer is by construction fine: it is value-range-sized, not
    event-count-sized."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    b = e.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias("mid")
    )
    x = (
        e.where(F.col("value").isNotNull())
        .crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.when(F.unix_micros("ts") >= F.col("mid"), 1).otherwise(0).alias("late"),
            F.round(F.col("value") * 100).cast("long").alias("y"),
        )
    )
    h = x.groupBy("event_type", "y").agg(
        F.sum(1 - F.col("late")).alias("c_early"),
        F.sum("late").alias("c_late"),
    ).transform(persist_once)
    tot = h.groupBy("event_type").agg(
        F.sum("c_early").alias("n_early"),
        F.sum("c_late").alias("n_late"),
    )
    w = Window.partitionBy("event_type").orderBy("y")
    cum = h.select(
        "event_type",
        F.sum("c_early").over(w).alias("cum_early"),
        F.sum("c_late").over(w).alias("cum_late"),
    )
    d = (
        cum.join(F.broadcast(tot), "event_type")
        .where((F.col("n_early") > 0) & (F.col("n_late") > 0))
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_early").cast("decimal(38,0)") * F.col("n_late")
                    - F.col("cum_late").cast("decimal(38,0)") * F.col("n_early")
                )
            ).alias("d_num_w")
        )
    )
    nn = F.col("n_early").cast("double") * F.col("n_late").cast("double")
    ks = F.col("d_num_w").cast("double") / nn
    thresh = F.lit(1.358) * F.sqrt((F.col("n_early") + F.col("n_late")).cast("double") / nn)
    return d.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "n_early",
        "n_late",
        F.col("d_num_w").cast("double").alias("d_num"),
        ks.alias("ks_stat"),
        (ks > thresh).cast("int").alias("reject_05"),
    )


# --- q142: negated sequence pattern (CEP / MATCH_RECOGNIZE class) ---
#
# q60's funnel counts A-then-B orderings; q142 adds the NEGATED middle
# clause — "click then purchase within 1 hour with NO error event in
# between" — the pattern class (A ; !C ; B) that funnel aggregates
# cannot express and engines ship MATCH_RECOGNIZE / Flink CEP for.
#
# The trick that keeps it one linear pass (no per-pair interval
# probe): in per-user sequence order, at every purchase row the
# running MAX of click timestamps over PRECEDING rows is the as-of
# click, and the running MAX of error timestamps tells whether an
# error falls between them — "no error in (click, purchase)" is
# exactly "last_error IS NULL OR last_error < last_click". A tie
# (error at the same microsecond as the click) counts as intervening
# (>= on both engines).

_Q142_WINDOW_US = 3_600_000_000  # pair window: 1 hour

_Q142 = f"""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER w AS last_click,
             MAX(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
               OVER w AS last_error
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    p AS (
      SELECT user_id, us, last_click, last_error,
             CASE WHEN last_click IS NOT NULL
                       AND us - last_click <= {_Q142_WINDOW_US}
                  THEN 1 ELSE 0 END AS paired
      FROM seq WHERE event_type = 'purchase')
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN paired = 1 AND (last_error IS NULL
                              OR last_error < last_click)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN paired = 1 AND last_error IS NOT NULL
                              AND last_error >= last_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
    FROM p GROUP BY user_id
"""


@query("q142_negated_sequence_conversion", _Q142)
def q142_negated_sequence_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user counts of purchases, clean click→purchase conversions
    (click within 1 h, no intervening error), and error-blocked pairs
    (see block comment).

    Scale shape: ONE user-keyed exchange and one ordered window pass —
    the running-max formulation turns the quadratic 'exists an event
    in the interval' probe into O(events) state of two timestamps,
    exactly how a CEP engine compiles the NFA. The final per-user
    rollup is combinable. Window order key (us, event_id) is total, so
    tie handling is deterministic on both engines."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "event_type",
        us.alias("us"),
        F.max(F.when(F.col("event_type") == "click", us)).over(w).alias("last_click"),
        F.max(F.when(F.col("event_type") == "error", us)).over(w).alias("last_error"),
    )
    p = seq.where(F.col("event_type") == "purchase").select(
        "user_id",
        "last_click",
        "last_error",
        (
            F.col("last_click").isNotNull()
            & (F.col("us") - F.col("last_click") <= _Q142_WINDOW_US)
        ).alias("paired"),
    )
    clean = F.col("paired") & (
        F.col("last_error").isNull() | (F.col("last_error") < F.col("last_click"))
    )
    blocked = (
        F.col("paired")
        & F.col("last_error").isNotNull()
        & (F.col("last_error") >= F.col("last_click"))
    )
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(clean.cast("int")).cast("long").alias("n_clean"),
        F.sum(blocked.cast("int")).cast("long").alias("n_blocked"),
    )


# --- q154: windowed funnel (max step within a time budget) ----------
#
# q60 is the unwindowed first-occurrence funnel; q154 is the
# windowFunnel/funnelMaxStep semantics every event-analytics engine
# serves (ClickHouse windowFunnel, Pinot FUNNEL_MAX_STEP with
# maxStepDuration): per user, the deepest prefix of
# view → click → purchase completable with ALL steps inside W of the
# anchor view. The naive form joins each view anchor against later
# clicks and purchases — quadratic per user. The linear form used
# here: one descending-suffix scan per user with REVERSED running
# minima,
#   np  = min over subsequent rows of purchase time
#   ncp = min over subsequent rows of (click ? np(click row) : ∞)
# so ncp at a view anchor is the EARLIEST purchase that completes an
# in-order chain starting at that anchor (minimizing over click
# choices minimizes the chain's finish) — funnel depth is then two
# integer comparisons per anchor. One window pass, no self-join.
#
# Ordering ties are broken by event_id (a total order), so the row
# frames — and therefore the result — are identical on both engines.
# All arithmetic is integer µs.

_Q154_W_US = 86_400_000_000  # 24 h step budget

_Q154 = f"""
    WITH seq AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER w AS np
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    chain AS (
      SELECT user_id, event_type, us,
             MIN(CASE WHEN event_type = 'click' THEN us END) OVER w AS nc,
             MIN(CASE WHEN event_type = 'click' THEN np END) OVER w AS ncp
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    depth AS (
      SELECT user_id,
             MAX(CASE
                   WHEN ncp IS NOT NULL AND ncp - us <= {_Q154_W_US} THEN 3
                   WHEN nc IS NOT NULL AND nc - us <= {_Q154_W_US} THEN 2
                   ELSE 1 END) AS max_step
      FROM chain WHERE event_type = 'view'
      GROUP BY user_id)
    SELECT max_step,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS min_user
    FROM depth GROUP BY max_step
"""


@query("q154_window_funnel", _Q154)
def q154_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users by deepest funnel step (view → click → purchase) with all
    steps inside a 24 h window of the anchor view — the
    windowFunnel/FUNNEL_MAX_STEP semantics, computed with reversed
    running minima instead of per-anchor self-joins (see block
    comment).

    Scale shape: ONE user-keyed exchange feeds both window passes
    (same partitioning and ordering — Spark plans a single sort), and
    the depth rollup is a combinable per-user max. Cost is linear in
    events per user; a power user is an AQE skew case, not a plan
    change. Adding funnel steps adds window columns, not passes over
    the data."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "event_id",
        us.alias("us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).over(w).alias("np"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    chain = seq.select(
        "user_id",
        "event_type",
        "us",
        F.min(F.when(F.col("event_type") == "click", F.col("us"))).over(w2).alias("nc"),
        F.min(F.when(F.col("event_type") == "click", F.col("np"))).over(w2).alias("ncp"),
    )
    step = (
        F.when(
            F.col("ncp").isNotNull() & (F.col("ncp") - F.col("us") <= _Q154_W_US), 3
        )
        .when(F.col("nc").isNotNull() & (F.col("nc") - F.col("us") <= _Q154_W_US), 2)
        .otherwise(1)
    )
    depth = (
        chain.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.max(step).alias("max_step"))
    )
    return depth.groupBy("max_step").agg(
        F.count(F.lit(1)).alias("n_users"), F.min("user_id").alias("min_user")
    )


# --- q156: cohort LTV triangle (cumulative revenue by cohort × age) -
#
# q61 answers next-week retention; the LTV TRIANGLE is its revenue
# generalization and the standard cohort report (each signup-week
# cohort's cumulative per-user value at age 0,1,2,… weeks) used to
# compare acquisition quality across cohorts at equal age. Cohort =
# ISO week of the user's FIRST event; age = week offset; cell value =
# cumulative purchase cents per cohort member (members count ALL
# cohort users, not just purchasers — the LTV denominator).
#
# Exactness: weeks are integer epoch-day floor-divisions on µs
# (positive ⇒ div ≡ //; epoch day 0 was a Thursday, so weeks here are
# Thu-anchored fixed 7-day buckets — a deliberate, engine-portable
# convention), revenue is presum cents, the cumulative is an int64
# running sum over a cohort-keyed window, and the per-user LTV is one
# double division of two exact int64s.

_Q156 = """
    WITH firsts AS (
      SELECT user_id,
             MIN(epoch_us(ts) // 86400000000 // 7) AS cohort_wk
      FROM events GROUP BY user_id),
    cohort_n AS (
      SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM firsts GROUP BY cohort_wk),
    rev AS (
      SELECT f.cohort_wk,
             epoch_us(e.ts) // 86400000000 // 7 - f.cohort_wk AS age_wk,
             CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
               AS wk_cents
      FROM events e
      JOIN firsts f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2),
    tri AS (
      SELECT cohort_wk, age_wk, wk_cents,
             CAST(SUM(wk_cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk)
                  AS BIGINT) AS cum_cents
      FROM rev)
    SELECT t.cohort_wk, CAST(t.age_wk AS BIGINT) AS age_wk,
           t.wk_cents, t.cum_cents, c.n_users,
           CAST(t.cum_cents AS DOUBLE) / CAST(c.n_users AS DOUBLE)
             AS ltv_cents_per_user
    FROM tri t JOIN cohort_n c ON c.cohort_wk = t.cohort_wk
"""


@query("q156_cohort_ltv", _Q156)
def q156_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: cumulative purchase revenue per cohort
    member by (first-event week, age in weeks) — see block comment.

    Scale shape: the user→cohort map is one combinable min-aggregate
    (user grain); the revenue join keys on user_id — the same hash
    partitioning as the aggregate, so AQE chains them without a
    second fact shuffle; the triangle itself is cohort×age grain
    (tiny), where the running sum and the broadcast cohort-size join
    run. No windows touch event-volume data."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    wk = F.expr("unix_micros(ts) div 86400000000 div 7")
    firsts = e.groupBy("user_id").agg(F.min(wk).alias("cohort_wk"))
    cohort_n = firsts.groupBy("cohort_wk").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        e.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy("cohort_wk", (wk - F.col("cohort_wk")).alias("age_wk"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("wk_cents"))
    )
    wcum = Window.partitionBy("cohort_wk").orderBy("age_wk")
    tri = rev.withColumn("cum_cents", F.sum("wk_cents").over(wcum))
    return tri.join(F.broadcast(cohort_n), "cohort_wk").select(
        "cohort_wk",
        "age_wk",
        "wk_cents",
        "cum_cents",
        "n_users",
        (F.col("cum_cents").cast("double") / F.col("n_users").cast("double")).alias(
            "ltv_cents_per_user"
        ),
    )


# --- q157: activity streaks (gaps-and-islands) ----------------------
#
# The classic gaps-and-islands idiom, absent from the registry until
# now: longest run of CONSECUTIVE active days per user. Distinct
# active days minus their per-user dense sequence number is constant
# within a run (day − ROW_NUMBER() is the island id — consecutive
# days advance both by 1), so one window pass + one group-by finds
# every streak without self-joins or recursion. Integer day
# arithmetic end to end.

_Q157 = """
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events),
    isl AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days),
    streaks AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len,
             CAST(MIN(day) AS BIGINT) AS start_day
      FROM isl GROUP BY user_id, island),
    best AS (
      SELECT user_id, len, start_day,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY len DESC, start_day) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_streaks
      FROM streaks)
    SELECT user_id, len AS best_len, start_day AS best_start_day, n_streaks
    FROM best WHERE rk = 1
"""


@query("q157_activity_streaks", _Q157)
def q157_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user via the
    day − ROW_NUMBER island id (see block comment); ties broken toward
    the earliest streak.

    Scale shape: one combinable distinct to (user, day) grain — the
    only event-volume exchange — then both windows and the island
    group-by share the SAME user-keyed partitioning (one sort, reused
    exchange). State per user is its active-day count, never raw
    events. The best-streak filter is a WindowGroupLimit (map-side
    partial top-1)."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    wseq = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id", "day", (F.col("day") - F.row_number().over(wseq)).alias("island")
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("start_day")
    )
    wcnt = Window.partitionBy("user_id")
    best = streaks.select(
        "user_id",
        "len",
        "start_day",
        F.row_number().over(wbest).alias("rk"),
        F.count(F.lit(1)).over(wcnt).alias("n_streaks"),
    )
    return best.where(F.col("rk") == 1).select(
        "user_id",
        F.col("len").alias("best_len"),
        F.col("start_day").alias("best_start_day"),
        "n_streaks",
    )


# --- q160: conversion latency percentiles ---------------------------
#
# q154 counts HOW MANY users complete the funnel; q160 reports HOW
# FAST: the distribution (p50/p90/p99) of the view→purchase
# completion latency over converting anchors — each anchor's latency
# is the EARLIEST in-order completion (the q154 reversed-running-min
# chain), deduplicated to one best (fastest) conversion per user so
# power users don't dominate the distribution.
#
# Exactness: latencies are int64 µs; the interpolated percentiles are
# ROUNDed to 6 dp on both engines (the q93/q123 rule — Spark
# interpolates (1-f)·lo + f·hi, DuckDB lo + f·(hi-lo): a 1-ulp
# divergence class unless rounded).

_Q160 = f"""
    WITH seq AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER w AS np
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    chain AS (
      SELECT user_id, event_type, us,
             MIN(CASE WHEN event_type = 'click' THEN np END) OVER w AS ncp
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    conv AS (
      SELECT user_id, MIN(ncp - us) AS lat_us
      FROM chain
      WHERE event_type = 'view' AND ncp IS NOT NULL
        AND ncp - us <= {_Q154_W_US}
      GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converting_users,
           CAST(MIN(lat_us) AS BIGINT) AS min_lat_us,
           ROUND(quantile_cont(lat_us, 0.5), 6) AS p50_us,
           ROUND(quantile_cont(lat_us, 0.9), 6) AS p90_us,
           ROUND(quantile_cont(lat_us, 0.99), 6) AS p99_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_lat_us
    FROM conv
"""


@query("q160_conversion_latency", _Q160)
def q160_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles of the fastest in-window view→purchase completion
    latency per converting user (see block comment — q154's chain
    minima turned into a latency distribution).

    Scale shape: identical to q154 — one user-keyed sort shared by
    both window passes, then a per-user min and ONE global aggregate
    row (percentile over #converting-users values, combinable
    partials). No per-anchor joins."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "event_id",
        us.alias("us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).over(w).alias("np"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    chain = seq.select(
        "user_id",
        "event_type",
        "us",
        F.min(F.when(F.col("event_type") == "click", F.col("np"))).over(w2).alias("ncp"),
    )
    conv = (
        chain.where(
            (F.col("event_type") == "view")
            & F.col("ncp").isNotNull()
            & (F.col("ncp") - F.col("us") <= _Q154_W_US)
        )
        .groupBy("user_id")
        .agg(F.min(F.col("ncp") - F.col("us")).alias("lat_us"))
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converting_users"),
        F.min("lat_us").alias("min_lat_us"),
        F.round(F.expr("percentile(lat_us, 0.5)"), 6).alias("p50_us"),
        F.round(F.expr("percentile(lat_us, 0.9)"), 6).alias("p90_us"),
        F.round(F.expr("percentile(lat_us, 0.99)"), 6).alias("p99_us"),
        F.max("lat_us").alias("max_lat_us"),
    )


# --- q163: point-in-time enrichment audit (leakage check) -----------
#
# The ML-ops correctness rule for training joins: a training row must
# be enriched with the feature value valid AT its timestamp, never
# the current one (temporal leakage). q163 composes the q90 SCD2
# intervals (user state = latest event_type run) with the purchase
# fact stream two ways — the correct PIT interval join
# (valid_from ≤ ts < valid_to, µs boundaries) and the naive
# current-state join — and reports the confusion between them: each
# (pit_state, current_state) cell counts purchases whose enrichment
# WOULD silently change if the pipeline took the shortcut. Off-
# diagonal mass is the quantified leakage a feature-store audit
# reports.
#
# The state dimension is built from NON-purchase events only (the
# last browsing activity type): if purchases fed the dimension, every
# fact would start its own 'purchase' interval and the PIT side would
# be degenerate. A purchase before any activity (or a user with no
# activity at all) enriches as '__none__' via left joins — the
# uncovered-fact case every feature store must define.
#
# Exactness: intervals and comparisons are integer µs; money is
# presum cents.

_Q163 = """
    WITH seq AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events WHERE event_type <> 'purchase'),
    ch AS (
      SELECT user_id, event_type, event_id, ts_us
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type),
    iv AS (
      SELECT user_id, event_type AS state, ts_us AS vf,
             lead(ts_us) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS vt
      FROM ch),
    cur AS (SELECT user_id, state AS current_state FROM iv WHERE vt IS NULL),
    fact AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    pit AS (
      SELECT f.user_id, f.cents,
             COALESCE(iv.state, '__none__') AS pit_state
      FROM fact f
      LEFT JOIN iv ON iv.user_id = f.user_id
             AND iv.vf <= f.ts_us AND (iv.vt IS NULL OR f.ts_us < iv.vt))
    SELECT p.pit_state,
           COALESCE(c.current_state, '__none__') AS current_state,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(p.cents) AS BIGINT) AS cents,
           CAST(p.pit_state <> COALESCE(c.current_state, '__none__')
                AS INTEGER) AS is_leak
    FROM pit p LEFT JOIN cur c ON c.user_id = p.user_id
    GROUP BY 1, 2
"""


@query("q163_pit_enrichment_audit", _Q163)
def q163_pit_enrichment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time vs current-state enrichment confusion over the
    purchase stream (see block comment) — the temporal-leakage audit
    for training joins, built on the q90 SCD2 intervals.

    Scale shape: the interval build is q90's one user-keyed sort; the
    PIT join is an EQUI join on user_id with the range predicate as
    residual (per-user interval lists are short — the as-of family's
    cost model; q82-style bucketing is the escape hatch if a key's
    history grows pathological); the current-state map is one
    filtered projection broadcast by user. Output is state² cells."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    wseq = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    seq = e.where(F.col("event_type") != "purchase").select(
        "user_id",
        "event_type",
        "event_id",
        us.alias("ts_us"),
        F.lag("event_type").over(wseq).alias("prev_type"),
    )
    ch = seq.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    wiv = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    iv = ch.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("vf"),
        F.lead("ts_us").over(wiv).alias("vt"),
    ).transform(persist_once)
    cur = iv.where(F.col("vt").isNull()).select(
        "user_id", F.col("state").alias("current_state")
    )
    fact = e.where(F.col("event_type") == "purchase").select(
        "user_id", us.alias("ts_us"), F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    pit = fact.alias("f").join(
        iv.alias("iv"),
        (F.col("iv.user_id") == F.col("f.user_id"))
        & (F.col("iv.vf") <= F.col("f.ts_us"))
        & (F.col("iv.vt").isNull() | (F.col("f.ts_us") < F.col("iv.vt"))),
        "left",
    ).select(
        F.col("f.user_id").alias("user_id"),
        "cents",
        F.coalesce(F.col("iv.state"), F.lit("__none__")).alias("pit_state"),
    )
    return (
        pit.join(cur, "user_id", "left")
        .withColumn(
            "current_state", F.coalesce("current_state", F.lit("__none__"))
        )
        .groupBy("pit_state", "current_state")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "pit_state",
            "current_state",
            "n_purchases",
            "cents",
            (F.col("pit_state") != F.col("current_state")).cast("int").alias("is_leak"),
        )
    )


# --- q164: cohort retention curve (N-week survival matrix) ----------
#
# q61 answers only next-week retention; q164 is the full retention
# TRIANGLE (cohort week × age week → % of the cohort still active),
# the companion of q156's revenue triangle and the other half of
# every growth dashboard. Cohort = week of first activity (the q156
# Thu-anchored fixed 7-day epoch buckets); a user counts at age a if
# they have ANY event in cohort_wk + a.
#
# Exactness: distinct counts are integers; retention is an integer
# ppm floor-division. Age 0 is 1e6 ppm by construction (every member
# is active in their first week) — asserted in tests.

_Q164 = """
    WITH firsts AS (
      SELECT user_id,
             MIN(epoch_us(ts) // 86400000000 // 7) AS cohort_wk
      FROM events GROUP BY user_id),
    cohort_n AS (
      SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM firsts GROUP BY cohort_wk),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort_wk,
             epoch_us(e.ts) // 86400000000 // 7 - f.cohort_wk AS age_wk
      FROM events e JOIN firsts f ON f.user_id = e.user_id),
    cells AS (
      SELECT cohort_wk, age_wk, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM act GROUP BY cohort_wk, age_wk)
    SELECT c.cohort_wk, CAST(c.age_wk AS BIGINT) AS age_wk,
           c.n_active, n.n_users,
           CAST(c.n_active * 1000000 // n.n_users AS BIGINT)
             AS retention_ppm
    FROM cells c JOIN cohort_n n ON n.cohort_wk = c.cohort_wk
"""


@query("q164_cohort_retention_curve", _Q164)
def q164_cohort_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: share of each first-activity-week cohort
    active at each age week, in integer ppm (see block comment).

    Scale shape: the user→cohort map is one combinable min-aggregate;
    the activity join keys on user_id (same partitioning — AQE chains
    the exchanges); the distinct and the cell counts run at
    (user, week) grain. Cohort sizes broadcast."""
    e = t(spark, sf_dir, "events")
    wk = F.expr("unix_micros(ts) div 86400000000 div 7")
    firsts = e.groupBy("user_id").agg(F.min(wk).alias("cohort_wk"))
    cohort_n = firsts.groupBy("cohort_wk").agg(F.count(F.lit(1)).alias("n_users"))
    act = (
        e.join(firsts, "user_id")
        .select("user_id", "cohort_wk", (wk - F.col("cohort_wk")).alias("age_wk"))
        .distinct()
    )
    cells = act.groupBy("cohort_wk", "age_wk").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return cells.join(F.broadcast(cohort_n), "cohort_wk").select(
        "cohort_wk",
        "age_wk",
        "n_active",
        "n_users",
        F.expr("n_active * 1000000 div n_users").alias("retention_ppm"),
    )


# --- q167: frequent journey trigrams (sequential pattern mining) ----
#
# q89 models first-order transitions (bigrams); q167 mines length-3
# PATHS — the minimal sequential pattern that distinguishes
# "view→click→purchase" journeys from bag-of-transitions statistics,
# and the building block of next-step recommendation and funnel
# discovery. Each user's event-type sequence (time order, event_id
# ties) contributes its consecutive trigrams; support = distinct
# users, frequency = total occurrences — both reported, because
# path mining over power users diverges badly if only raw counts are
# read.
#
# Exactness: pure integer counts; share is an integer ppm
# floor-division over the trigram total.

_Q167 = """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    tri AS (
      SELECT user_id, event_type AS t1, t2, t3
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL),
    cells AS (
      SELECT t1, t2, t3,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM tri GROUP BY t1, t2, t3),
    tot AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS total FROM cells)
    SELECT t1, t2, t3, n_occurrences, n_users,
           CAST(n_occurrences * 1000000 // total AS BIGINT) AS share_ppm
    FROM cells CROSS JOIN tot
"""


@query("q167_path_trigrams", _Q167)
def q167_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive event-type trigrams per user journey with occurrence
    and distinct-user support counts (see block comment).

    Scale shape: ONE user-keyed sort produces both LEAD columns; the
    trigram rollup is combinable with bounded output (|types|³ cells);
    the total is a broadcast scalar. Longer patterns are more LEAD
    columns on the same sort — not a new pass."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    seq = e.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    cells = (
        seq.where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    tot = cells.agg(F.sum("n_occurrences").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "t1",
        "t2",
        "t3",
        "n_occurrences",
        "n_users",
        F.expr("n_occurrences * 1000000 div total").alias("share_ppm"),
    )


# --- q169: A/B experiment analysis (two-proportion z-test) ----------
#
# The experimentation readout every event platform serves: assign
# users to variants (injected deterministically by user-id hash — the
# q86/t60 pattern; a real deployment reads the assignment table),
# measure conversion (here: a HEAVY-purchaser flag, ≥ 13 purchases —
# plain did-purchase is degenerate on this corpus, every user buys;
# the guard below handles true degenerate experiments), and report
# per-variant
# rates plus the two-proportion pooled z statistic and its squared
# value (χ² with 1 dof) against the control.
#
# Exactness: counts are exact integers from one user-grain aggregate;
# rates are integer ppm; z is a pure double chain on those exact
# integers (sqrt/×/÷ — correctly rounded, the s57 rule), so parity is
# bit-exact without any rounding step. Degenerate experiments (zero
# or total conversion — pooled variance 0) yield z = NULL on both
# engines; under ANSI Spark the unguarded division would RAISE.

_Q169 = """
    WITH assign AS (
      SELECT user_id,
             CASE WHEN ((user_id % 100) * 2654435761) % 100 < 50
                  THEN 'control' ELSE 'treatment' END AS variant,
             CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 13
                       THEN 1 ELSE 0 END AS BIGINT) AS converted
      FROM events GROUP BY 1, 2),
    arm AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_conv
      FROM assign GROUP BY variant),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 'control' THEN n_users END) AS n1,
        MAX(CASE WHEN variant = 'control' THEN n_conv END) AS c1,
        MAX(CASE WHEN variant = 'treatment' THEN n_users END) AS n2,
        MAX(CASE WHEN variant = 'treatment' THEN n_conv END) AS c2
      FROM arm)
    SELECT n1, c1, n2, c2,
           CAST(c1 * 1000000 // n1 AS BIGINT) AS rate1_ppm,
           CAST(c2 * 1000000 // n2 AS BIGINT) AS rate2_ppm,
           CASE WHEN c1 + c2 = 0 OR c1 + c2 = n1 + n2 THEN NULL
                ELSE (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)
                      - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                  / sqrt((CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                    * (1.0 - CAST(c1 + c2 AS DOUBLE)
                             / CAST(n1 + n2 AS DOUBLE))
                    * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
           END AS z
    FROM wide
"""


@query("q169_abtest_ztest", _Q169)
def q169_abtest_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test between hash-assigned experiment
    arms on user-level purchase conversion (see block comment).

    Scale shape: ONE user-grain combinable aggregate over events (the
    only fact-volume exchange — assignment and conversion fold into
    it), a 2-row arm rollup, and scalar arithmetic. At 100 TB the
    assignment join replaces the hash CASE; everything else is
    unchanged."""
    e = t(spark, sf_dir, "events")
    assign = e.groupBy(
        "user_id",
        F.when(F.expr("((user_id % 100) * 2654435761) % 100 < 50"), "control")
        .otherwise("treatment")
        .alias("variant"),
    ).agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 13,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("converted")
    )
    arm = assign.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("n_conv")
    )
    wide = arm.agg(
        F.max(F.when(F.col("variant") == "control", F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == "control", F.col("n_conv"))).alias("c1"),
        F.max(F.when(F.col("variant") == "treatment", F.col("n_users"))).alias("n2"),
        F.max(F.when(F.col("variant") == "treatment", F.col("n_conv"))).alias("c2"),
    )
    p1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("c2").cast("double") / F.col("n2").cast("double")
    pp = (F.col("c1") + F.col("c2")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    degenerate = (F.col("c1") + F.col("c2") == 0) | (
        F.col("c1") + F.col("c2") == F.col("n1") + F.col("n2")
    )
    z = F.when(degenerate, F.lit(None).cast("double")).otherwise(
        (p2 - p1)
        / F.sqrt(
            pp * (F.lit(1.0) - pp)
            * (
                F.lit(1.0) / F.col("n1").cast("double")
                + F.lit(1.0) / F.col("n2").cast("double")
            )
        )
    )
    return wide.select(
        "n1",
        "c1",
        "n2",
        "c2",
        F.expr("c1 * 1000000 div n1").alias("rate1_ppm"),
        F.expr("c2 * 1000000 div n2").alias("rate2_ppm"),
        z.alias("z"),
    )


# --- q189: grid hotspot detection (stencil local maxima) ---------------
#
# The heatmap-hotspot query behind every density dashboard: bucket the
# synthetic event plane (q86's deterministic coordinates) into 50x50
# grid cells, then find LOCAL MAXIMA — cells strictly busier than all
# 8 neighbors — alongside a 3x3-smoothed density. The stencil is an
# in-row explode of each CELL's count to its 9 neighbor targets
# followed by one regroup: a bounded x9 fan-out on the #cells-sized
# aggregate (never on events), the same budget family as q86/q151.
# Ties between adjacent cells make NEITHER a hotspot (strict >, so
# the verdict is deterministic); absent neighbors contribute zero.

_Q189_GRID = 50

_Q189 = f"""
    WITH pts AS (
      SELECT ((user_id % 1000) * 2654435761) % 1000 AS x,
             ((event_id % 1000) * 2246822519) % 1000 AS y
      FROM events),
    cells AS (
      SELECT x // {_Q189_GRID} AS cx, y // {_Q189_GRID} AS cy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pts GROUP BY 1, 2),
    contrib AS (
      SELECT c.cx + dx.d AS tx, c.cy + dy.d AS ty, c.n,
             (dx.d = 0 AND dy.d = 0) AS is_self
      FROM cells c
      CROSS JOIN (VALUES (-1), (0), (1)) dx(d)
      CROSS JOIN (VALUES (-1), (0), (1)) dy(d)),
    sten AS (
      SELECT tx AS cx, ty AS cy,
             CAST(SUM(n) AS BIGINT) AS smoothed_n,
             CAST(MAX(CASE WHEN is_self THEN n END) AS BIGINT) AS self_n,
             CAST(COALESCE(MAX(CASE WHEN NOT is_self THEN n END), 0)
                  AS BIGINT) AS nbr_max
      FROM contrib GROUP BY 1, 2)
    SELECT CAST(cx AS BIGINT) AS cellx, CAST(cy AS BIGINT) AS celly,
           self_n AS n_events, smoothed_n, nbr_max
    FROM sten
    WHERE self_n IS NOT NULL AND self_n > nbr_max
"""


@query("q189_grid_hotspots", _Q189)
def q189_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid cells strictly busier than all 8 neighbors, with 3x3
    smoothed density (see block comment).

    Scale shape: events collapse to grid cells in one combinable
    aggregate; the stencil explodes the CELL table x9 in-row and
    regroups — cost is 9·#cells rows no matter how many events landed
    in them. No window, no self-join, no point ever compared to
    another point."""
    # key % 1000 before the Knuth multiply — identical values, no
    # int64 overflow at 1e12-scale ids (the q86 r11 rule).
    ev = t(spark, sf_dir, "events").select(
        F.pmod(F.pmod(F.col("user_id"), F.lit(1000)) * 2654435761, F.lit(1000)).alias("x"),
        F.pmod(F.pmod(F.col("event_id"), F.lit(1000)) * 2246822519, F.lit(1000)).alias("y"),
    )
    cells = ev.groupBy(
        F.expr(f"x div {_Q189_GRID}").alias("cx"),
        F.expr(f"y div {_Q189_GRID}").alias("cy"),
    ).agg(F.count(F.lit(1)).alias("n"))
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    contrib = cells.select(
        F.explode(offs).alias("o"), "cx", "cy", "n"
    ).select(
        (F.col("cx") + F.col("o.dx")).alias("tx"),
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        "n",
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("is_self"),
    )
    sten = contrib.groupBy(
        F.col("tx").alias("cellx"), F.col("ty").alias("celly")
    ).agg(
        F.sum("n").alias("smoothed_n"),
        F.max(F.when(F.col("is_self"), F.col("n"))).alias("self_n"),
        F.coalesce(
            F.max(F.when(~F.col("is_self"), F.col("n"))), F.lit(0)
        ).alias("nbr_max"),
    )
    return sten.where(
        F.col("self_n").isNotNull() & (F.col("self_n") > F.col("nbr_max"))
    ).select(
        "cellx",
        "celly",
        F.col("self_n").alias("n_events"),
        "smoothed_n",
        "nbr_max",
    )


# --- q190: bounce rate by session entry type ----------------------------
#
# The web-analytics staple layered on q29's sessionization: sessions
# keyed by their ENTRY event type (what the user landed on), with the
# share that bounced — single-event sessions — and mean session depth.
# Same 30-minute inactivity gap and (ts, event_id) total order as q29
# so the session boundaries are bit-identical to the rest of the
# session family; the entry event is min_by/arg_min on ts_us, which is
# globally UNIQUE in this corpus (the q67 invariant) so the argmin is
# deterministic. Rates are floor ppm of exact counts; depth is a
# floored milli mean.

_Q190 = """
    WITH marked AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000 OR
                  LAG(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT user_id, event_id, event_type, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_idx
      FROM marked),
    per_session AS (
      SELECT user_id, session_idx,
             arg_min(event_type, ts_us) AS entry_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY 1, 2)
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_ppm,
           CAST(SUM(n_events) * 1000 // COUNT(*) AS BIGINT) AS depth_milli
    FROM per_session GROUP BY 1
"""


@query("q190_bounce_rate", _Q190)
def q190_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate and mean depth per session entry type (see block
    comment; session semantics ≡ q29).

    Scale shape: one user-keyed sort feeds both windows (lag marking
    and the running session index reuse the same exchange); the
    per-session collapse is a combinable aggregate carrying an
    arg_min struct; the rollup is #entry-types rows."""
    from pyspark.sql.window import Window as W

    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag("ts_us").over(w)
    marked = e.withColumn(
        "is_new",
        F.when(prev.isNull() | ((F.col("ts_us") - prev) > gap_us), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_idx",
        F.sum("is_new").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    per_session = sess.groupBy("user_id", "session_idx").agg(
        F.min_by("event_type", "ts_us").alias("entry_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_session.groupBy("entry_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        F.expr(
            "sum(case when n_events = 1 then 1 else 0 end) * 1000000 div count(1)"
        ).alias("bounce_ppm"),
        F.expr("sum(n_events) * 1000 div count(1)").alias("depth_milli"),
    )


# --- q191: process-conformance audit ------------------------------------
#
# Process-mining conformance checking over the q89 transition build:
# a LITERAL allowed-transition model (the funnel's intended edges:
# view→{view,click,signup,error}, click→{view,click,purchase,error},
# signup→{view,click}, purchase→{view}, error→{view,error}) is joined
# against the observed per-user consecutive transitions, and each
# from-state reports its illegal-transition share — the "where does
# the journey violate the product spec" audit. The model ships as a
# broadcast VALUES relation; legality = left-join hit; shares are
# floor ppm of exact counts. Per-user ordering is the (ts, event_id)
# total order every sequence op in this module uses.

_Q191_MODEL = [
    ("view", "view"), ("view", "click"), ("view", "signup"),
    ("view", "error"),
    ("click", "view"), ("click", "click"), ("click", "purchase"),
    ("click", "error"),
    ("signup", "view"), ("signup", "click"),
    ("purchase", "view"),
    ("error", "view"), ("error", "error"),
]

_Q191_MODEL_SQL = ", ".join(f"('{a}', '{b}')" for a, b in _Q191_MODEL)

_Q191 = f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type),
    model AS (SELECT * FROM (VALUES {_Q191_MODEL_SQL}) AS m(f, t)),
    judged AS (
      SELECT c.prev_type, c.event_type, c.n,
             m.f IS NOT NULL AS legal
      FROM c LEFT JOIN model m
        ON m.f = c.prev_type AND m.t = c.event_type)
    SELECT prev_type,
           CAST(SUM(n) AS BIGINT) AS n_transitions,
           CAST(SUM(CASE WHEN NOT legal THEN n ELSE 0 END) AS BIGINT)
             AS n_illegal,
           CAST(SUM(CASE WHEN NOT legal THEN n ELSE 0 END) * 1000000
                // SUM(n) AS BIGINT) AS illegal_ppm
    FROM judged GROUP BY prev_type
"""


@query("q191_conformance_audit", _Q191)
def q191_conformance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Illegal-transition share per from-state against the literal
    process model (see block comment).

    Scale shape: one user-keyed window exchange (shared with every
    sequence op), a #types²-key combinable count, and a broadcast
    13-row model join — the conformance verdict costs nothing beyond
    q89's transition matrix."""
    from pyspark.sql.window import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    model = spark.createDataFrame(_Q191_MODEL, "f string, t string")
    judged = c.join(
        F.broadcast(model),
        (F.col("f") == F.col("prev_type")) & (F.col("t") == F.col("event_type")),
        "left",
    ).select("prev_type", "n", F.col("f").isNotNull().alias("legal"))
    return judged.groupBy("prev_type").agg(
        F.sum("n").alias("n_transitions"),
        F.sum(F.when(~F.col("legal"), F.col("n")).otherwise(0)).alias("n_illegal"),
        F.expr(
            "sum(case when not legal then n else 0 end) * 1000000 div sum(n)"
        ).alias("illegal_ppm"),
    )


# --- q199: attribution model bake-off ------------------------------------
#
# q107 answers last-touch; the bake-off table marketing actually
# debates needs the SAME conversions credited under THREE models at
# once: first-touch, last-touch, and linear (equal split across all
# touches in the window). Each purchase joins its user's click/view
# touches in the strictly-preceding 3-day window; per purchase the
# first/last touch are arg_min/arg_max on the globally-unique ts (the
# q67 invariant), and linear credit is cnt·1e6 // n_touches per touch
# type (floored per type, so a purchase's credits can undershoot 1e6
# by < #types ppm — deterministic on both engines). Purchases with no
# windowed touch are organic and appear in no model.

_Q199_WINDOW_US = 3 * 86400000000

_Q199 = f"""
    WITH ev AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
      FROM events),
    tp AS (
      SELECT p.event_id AS purchase_id, t.event_type AS t_type,
             t.ts_us AS t_ts
      FROM ev p JOIN ev t
        ON t.user_id = p.user_id
       AND t.ts_us < p.ts_us AND t.ts_us >= p.ts_us - {_Q199_WINDOW_US}
      WHERE p.event_type = 'purchase'
        AND t.event_type IN ('click', 'view')),
    per_p AS (
      SELECT purchase_id,
             CAST(COUNT(*) AS BIGINT) AS n_touches,
             arg_min(t_type, t_ts) AS first_type,
             arg_max(t_type, t_ts) AS last_type
      FROM tp GROUP BY 1),
    per_pt AS (
      SELECT purchase_id, t_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tp GROUP BY 1, 2),
    linear AS (
      SELECT pt.t_type,
             CAST(SUM(pt.cnt * 1000000 // pp.n_touches) AS BIGINT)
               AS linear_fp,
             CAST(SUM(pt.cnt) AS BIGINT) AS n_touches
      FROM per_pt pt JOIN per_p pp ON pp.purchase_id = pt.purchase_id
      GROUP BY 1),
    firsts AS (
      SELECT first_type AS t_type, CAST(COUNT(*) AS BIGINT) AS n_first
      FROM per_p GROUP BY 1),
    lasts AS (
      SELECT last_type AS t_type, CAST(COUNT(*) AS BIGINT) AS n_last
      FROM per_p GROUP BY 1)
    SELECT l.t_type AS touch_type, l.n_touches,
           COALESCE(f.n_first, 0) AS n_first_touch,
           COALESCE(la.n_last, 0) AS n_last_touch,
           l.linear_fp AS linear_credit_fp
    FROM linear l
    LEFT JOIN firsts f ON f.t_type = l.t_type
    LEFT JOIN lasts la ON la.t_type = l.t_type
"""


@query("q199_attribution_bakeoff", _Q199)
def q199_attribution_bakeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First / last / linear attribution credits per touch type over
    the same conversions (see block comment).

    Scale shape: ONE user-keyed self equi-join with the window
    predicate inside the join's codegen (per-user fan-out bounded by a
    user's 3-day activity); everything after runs at purchase / 
    (purchase, type) grain with combinable aggregates and tiny
    type-keyed joins."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts_us").alias("p_ts"),
    )
    tch = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("t_type"),
        F.col("ts_us").alias("t_ts"),
    )
    tp = p.join(
        tch,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - _Q199_WINDOW_US),
    ).select("purchase_id", "t_type", "t_ts").transform(persist_once)
    per_p = tp.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.min_by("t_type", "t_ts").alias("first_type"),
        F.max_by("t_type", "t_ts").alias("last_type"),
    )
    per_pt = tp.groupBy("purchase_id", "t_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    linear = (
        per_pt.join(per_p.select("purchase_id", "n_touches"), "purchase_id")
        .groupBy("t_type")
        .agg(
            F.sum(F.expr("cnt * 1000000 div n_touches")).alias("linear_fp"),
            F.sum("cnt").alias("n_touches"),
        )
    )
    firsts = per_p.groupBy(F.col("first_type").alias("ft")).agg(
        F.count(F.lit(1)).alias("n_first")
    )
    lasts = per_p.groupBy(F.col("last_type").alias("lt")).agg(
        F.count(F.lit(1)).alias("n_last")
    )
    return (
        linear.join(F.broadcast(firsts), F.col("ft") == F.col("t_type"), "left")
        .join(F.broadcast(lasts), F.col("lt") == F.col("t_type"), "left")
        .select(
            F.col("t_type").alias("touch_type"),
            "n_touches",
            F.coalesce("n_first", F.lit(0)).alias("n_first_touch"),
            F.coalesce("n_last", F.lit(0)).alias("n_last_touch"),
            F.col("linear_fp").alias("linear_credit_fp"),
        )
    )


# --- q203: inter-purchase interval profile by market segment --------------
#
# The inter-arrival analysis behind replenishment/churn models: gaps
# between a customer's CONSECUTIVE orders (customer-partitioned lag —
# q29's exchange), profiled per market segment: mean gap in floored
# milli-days, max gap, and the share of gaps within a 7-day
# replenishment window. Exact integer epoch-day math throughout;
# single-order customers contribute no gap (documented: they belong
# to q61-family retention, not inter-arrival).

_Q203 = """
    WITH seq AS (
      SELECT c.c_mktsegment AS segment,
             o.o_custkey,
             epoch_us(o.o_orderdate) // 86400000000 AS day,
             LAG(epoch_us(o.o_orderdate) // 86400000000) OVER (
               PARTITION BY o.o_custkey
               ORDER BY o.o_orderdate, o.o_orderkey) AS prev_day
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    gaps AS (
      SELECT segment, day - prev_day AS gap
      FROM seq WHERE prev_day IS NOT NULL)
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap) * 1000 // COUNT(*) AS BIGINT) AS mean_gap_milli,
           CAST(MAX(gap) AS BIGINT) AS max_gap,
           CAST(SUM(CASE WHEN gap <= 7 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS within_7d_ppm
    FROM gaps GROUP BY segment
"""


@query("q203_interarrival_by_segment", _Q203)
def q203_interarrival_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-order gap profile per market segment (see block
    comment).

    Scale shape: one customer-keyed lag window (the standard sequence
    exchange) after a broadcast customer-dim join; the profile is a
    handful of segment groups, map-side combinable."""
    from pyspark.sql.window import Window as W

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.join(F.broadcast(c), c["c_custkey"] == o["o_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        "o_custkey",
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        F.lag(F.expr("unix_micros(o_orderdate) div 86400000000")).over(w).alias(
            "prev_day"
        ),
    )
    gaps = seq.filter(F.col("prev_day").isNotNull()).select(
        "segment", (F.col("day") - F.col("prev_day")).alias("gap")
    )
    return gaps.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("sum(gap) * 1000 div count(1)").alias("mean_gap_milli"),
        F.max("gap").alias("max_gap"),
        F.expr(
            "sum(case when gap <= 7 then 1 else 0 end) * 1000000 div count(1)"
        ).alias("within_7d_ppm"),
    )


# --- q209: engagement concentration (activity Gini per event type) ----------
#
# q196's machinery pointed at users: how concentrated is each event
# type's activity across its users? A high Gini means a few whales
# generate the traffic (rate-limit / abuse / monetization reads all
# start here). Exact rank-weighted integer form per type-partitioned
# user activity counts; single-user types emit Gini 0 by the formula.

_Q209 = """
    WITH ua AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n, user_id) AS i
      FROM ua)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST((2 * SUM(i * n) - (COUNT(*) + 1) * SUM(n)) * 1000
                // (COUNT(*) * SUM(n)) AS BIGINT) AS gini_milli
    FROM ranked GROUP BY event_type
"""


@query("q209_engagement_gini", _Q209)
def q209_engagement_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type user-activity Gini in exact integer milli (see block
    comment; the q196 form at user grain).

    Scale shape (r10 histogram form — the q91/q106 argument at user
    grain): the oracle ranks per-user counts with a user_id tiebreak,
    but Σ i·n over a tie run of equal n is tie-invariant (the i's are
    consecutive whatever the order), so the rank window over #users
    rows collapses to per-distinct-ACTIVITY-VALUE user counts: a run
    of c users at activity n ending at cumulative user count cum
    contributes n·c·(2·cum−c+1) div 2 (the integer is exact — c or
    2·cum−c+1 is even). Event-volume work stays on the (type, user)
    count; the only per-type window now runs over distinct activity
    values (bounded: activity counts repeat heavily) instead of every
    user — at 100 TB that is thousands of rows, not billions.
    Row-identical to the rank form (randomized differential) and the
    DuckDB oracle at sf0.01/sf0.1.

    Overflow (the q196 DECIMAL rule, r11): at 1e10+ users per type the
    all-BIGINT bracket dies — cnt·(2·cum−cnt+1) alone reaches ~4e20
    and (Σcnt+1)·Σact·cnt ~1e22 > int64 — so the run contributions and
    the gini bracket run in exact DECIMAL(38,0) (headroom ~1e38; still
    map-side-combinable). The run term stores the DOUBLED contribution
    s_run2 = act·cnt·(2·cum−cnt+1) ≡ 2·Σᵢ(i·act over the run), which
    removes the `div 2` halving entirely — load-bearing, because
    Spark's `div` on DECIMAL operands narrows to BIGINT and silently
    wraps past int64 EVEN UNDER ANSI (pinned in
    tests/test_overflow_100tb.py); the only remaining div is the final
    milli ratio whose result is ≤ ~1000. The DuckDB oracle was already
    int128-exact; values are unchanged wherever the long form didn't
    overflow (randomized fuzz + the overflow-regime pin)."""
    e = t(spark, sf_dir, "events")
    ua = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("act"))
    h2 = value_histogram(ua, ["event_type"], ["act"]).withColumn(
        "s_run2",
        F.expr(
            "CAST(act AS DECIMAL(38,0))"
            " * (CAST(cnt AS DECIMAL(38,0)) * (2 * cum - cnt + 1))"
        ),
    )
    return h2.groupBy("event_type").agg(
        F.sum("cnt").alias("n_users"),
        F.sum(F.col("act") * F.col("cnt")).alias("n_events"),
        F.expr(
            "CAST((sum(s_run2)"
            " - (sum(cnt) + 1) * CAST(sum(act * cnt) AS DECIMAL(38,0))) * 1000"
            " div (sum(cnt) * CAST(sum(act * cnt) AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("gini_milli"),
    )


# --- q217: hourly load curve (peak-to-trough) --------------------------------
#
# The capacity-planning read: each event type's hour-of-day (UTC)
# load profile summarized as the peak hour (earliest hour attaining
# the max count — two-phase election on the 24-row profile, no
# argmax tie ambiguity), the trough count over OBSERVED hours, and
# the peak-to-trough ratio in milli. Hour arithmetic is pure integer
# epoch math; ratios are exact floors.

_Q217 = """
    WITH hourly AS (
      SELECT event_type,
             (epoch_us(ts) // 3600000000) % 24 AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    prof AS (
      SELECT event_type,
             CAST(MAX(n) AS BIGINT) AS peak_n,
             CAST(MIN(n) AS BIGINT) AS trough_n,
             CAST(COUNT(*) AS BIGINT) AS n_hours
      FROM hourly GROUP BY 1)
    SELECT p.event_type,
           CAST(MIN(h.hour) AS BIGINT) AS peak_hour,
           p.peak_n, p.trough_n, p.n_hours,
           CAST(p.peak_n * 1000 // p.trough_n AS BIGINT)
             AS peak_to_trough_milli
    FROM prof p JOIN hourly h
      ON h.event_type = p.event_type AND h.n = p.peak_n
    GROUP BY p.event_type, p.peak_n, p.trough_n, p.n_hours
"""


@query("q217_load_curve", _Q217)
def q217_load_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak hour, trough, and peak-to-trough ratio per event type
    (see block comment).

    Scale shape: events collapse to ≤ 24 rows per type in one
    combinable aggregate; everything downstream (profile, peak
    election) runs on that tiny relation."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n")).transform(persist_once)
    prof = hourly.groupBy("event_type").agg(
        F.max("n").alias("peak_n"),
        F.min("n").alias("trough_n"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    return (
        prof.join(
            hourly.withColumnRenamed("event_type", "et2"),
            (F.col("et2") == F.col("event_type")) & (F.col("n") == F.col("peak_n")),
        )
        .groupBy("event_type", "peak_n", "trough_n", "n_hours")
        .agg(F.min("hour").alias("peak_hour"))
        .select(
            "event_type",
            "peak_hour",
            "peak_n",
            "trough_n",
            "n_hours",
            F.expr("peak_n * 1000 div trough_n").alias("peak_to_trough_milli"),
        )
    )


def scd2_chunked(events: DataFrame, chunk_us: int = 86_400_000_000) -> DataFrame:
    """q90's SCD-2 history build with the per-key straggler removed —
    the chunked exact twin (same pattern as
    windows.sessionize_chunked; SCALING.md §6 measured why: a per-key
    sequence window serializes on the hottest key, and CDC compaction
    meets exactly such keys — one chatty device, one bot account).

    Output contract identical to q90 (user_id, event_type,
    valid_from_us, valid_to_us, is_current), proven row-identical by
    the randomized differential in tests/test_fuzz_differential.py.
    Three exact decompositions, none holding more than one TIME CHUNK
    of one key in a task:

    1. Change detection within (user_id, chunk = ts_us div chunk_us):
       intra-chunk lag(event_type) is q90's, because chunking by ts
       preserves the (ts, event_id) sort. The only decision that needs
       cross-chunk context is each chunk's FIRST event, and it depends
       only on the previous active chunk's LAST EVENT type — an
       algebraic max_by aggregate, carried by a per-user lag over the
       #chunks-row chunk summary (no chaining: kept-ness of later rows
       never feeds back into the carry).
    2. valid_to: intra-chunk lead covers all but each chunk's last
       kept row; that one takes the next active chunk's first kept
       timestamp, computed AFTER the boundary correction, with an
       ignore-nulls first() over following chunk summaries so
       change-free chunks (every event equal to the carried state —
       zero kept rows) are skipped exactly.
    3. is_current = no later kept row anywhere = the coalesced
       valid_to is null.

    Default chunk is one day; any chunk_us > 0 is exact and only moves
    work between the event-volume phase and the #chunks-row merge.
    Assumes NON-NULL, non-negative epoch timestamps and non-null
    event_type (the events contract) — a null ts would map to a null
    chunk that the carry/nxt equi-joins drop, where plain q90 sorts it
    nulls-first and keeps the row (ADVICE r10 #2). Same regime note as
    sessionize_chunked:
    plain q90's single exchange wins on uniform keys; switch when one
    key's share approaches a core's share of the corpus.
    """
    from pyspark.sql import Window as W

    if chunk_us <= 0:
        raise ValueError(f"scd2_chunked: chunk_us must be > 0, got {chunk_us}")
    e = events.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn("chunk", F.expr(f"ts_us div {int(chunk_us)}"))
    wc = W.partitionBy("user_id", "chunk").orderBy("ts_us", "event_id")
    seq = e.withColumn("prev_type", F.lag("event_type").over(wc))
    last_t = e.groupBy("user_id", "chunk").agg(
        F.max_by("event_type", F.struct("ts_us", "event_id")).alias("last_type")
    )
    wprev = W.partitionBy("user_id").orderBy("chunk")
    carry = last_t.withColumn(
        "carry_type", F.lag("last_type").over(wprev)
    ).select("user_id", "chunk", "carry_type")
    kept = (
        seq.join(carry, ["user_id", "chunk"])
        .withColumn("eff_prev", F.coalesce(F.col("prev_type"), F.col("carry_type")))
        .where(
            F.col("eff_prev").isNull()
            | (F.col("eff_prev") != F.col("event_type"))
        )
    )
    kept = kept.withColumn("next_ts", F.lead("ts_us").over(wc))
    firsts = kept.groupBy("user_id", "chunk").agg(
        F.min("ts_us").alias("first_kept_ts")
    )
    spine = last_t.select("user_id", "chunk").join(
        firsts, ["user_id", "chunk"], "left"
    )
    wnext = (
        W.partitionBy("user_id")
        .orderBy("chunk")
        .rowsBetween(1, W.unboundedFollowing)
    )
    nxt = spine.withColumn(
        "next_first_ts", F.first("first_kept_ts", ignorenulls=True).over(wnext)
    ).select("user_id", "chunk", "next_first_ts")
    valid_to = F.coalesce(F.col("next_ts"), F.col("next_first_ts"))
    return (
        kept.join(nxt, ["user_id", "chunk"])
        .select(
            "user_id",
            "event_type",
            F.col("ts_us").alias("valid_from_us"),
            valid_to.alias("valid_to_us"),
            valid_to.isNull().alias("is_current"),
        )
    )


def equidepth_bins_hist(events: DataFrame, bins: int = _EQD_BINS) -> DataFrame:
    """q106's equi-depth bins from a VALUE HISTOGRAM — identical
    output, no per-group sort of raw rows (the q91 rewrite's argument
    applied to rank INTERVALS): q106 assigns bin = ((rk-1)·B) div n
    with an event_id tiebreak, but its output (n_rows, lo, hi per bin)
    cannot depend on WHICH equal-valued rows a tie split sends to each
    side — tied rows carry the same value — so per-distinct-value
    counts determine everything.

    Arithmetic: a distinct value v with count c and cumulative count
    cum occupies rank interval (cum−c, cum]; bin b occupies ranks
    [R(b)+1, R(b+1)] where R(b) = (b·n + B − 1) div B (the smallest
    rank−1 whose bin index reaches b). v contributes
    max(0, min(cum, R(b+1)) − max(cum−c, R(b))) rows to bin b, for the
    ≤B bins its interval touches — an in-row explode of
    sequence(b_first, b_last), never a rank window. One map-side-
    combinable exchange on (event_type, v), a cumulative window over
    DISTINCT values, then the same per-(type, bin) aggregate.
    Row-identical to the sorted form under the randomized differential
    (ties straddling bin edges, n < B, n div B remainders) and the
    DuckDB oracle."""
    B = int(bins)
    if B <= 0:
        raise ValueError(f"equidepth_bins_hist: bins must be > 0, got {bins}")
    e = events.select("event_type", "value")
    h2 = (
        value_histogram(e, ["event_type"], ["value"])
        .withColumn("b1", F.expr(f"CAST(((cum - cnt) * {B}) div n AS INT)"))
        .withColumn("b2", F.expr(f"CAST(((cum - 1) * {B}) div n AS INT)"))
    )
    x = h2.select(
        "event_type",
        "value",
        "cnt",
        "cum",
        "n",
        F.explode(F.expr("sequence(b1, b2)")).alias("bin"),
    ).withColumn(
        "in_bin",
        F.expr(
            f"least(cum, ((bin + 1) * n + {B - 1}) div {B}) "
            f"- greatest(cum - cnt, (bin * n + {B - 1}) div {B})"
        ),
    )
    # n < B leaves zero-width bins; a value whose touched-bin sequence
    # crosses one contributes 0 rows there — drop, like the rank form
    x = x.where(F.col("in_bin") > 0)
    return x.groupBy("event_type", "bin").agg(
        F.sum("in_bin").alias("n_rows"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
