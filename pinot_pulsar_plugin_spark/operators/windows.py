"""Window functions, top-k, as-of join, sessionization.

All built on ``Window.partitionBy().orderBy()`` with explicit frames —
single shuffle per partitioning key, sort within partitions, no Python
in the hot path. Window orderings always carry a unique tie-break
column (event_id / orderkey / custkey) so results are deterministic and
oracle-comparable.

The as-of join is the union-merge pattern (not a per-row lookup): at
100 TB it costs one shuffle of both streams by key + a per-key sort —
the same plan a native ASOF JOIN (e.g. DuckDB's) executes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.operators.common import make_registry, t

QUERIES, ORACLE, query = make_registry()


@query(
    "q21_window_rank",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn,
           CAST(RANK() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC) AS INTEGER) AS rk,
           CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC) AS INTEGER) AS drk
    FROM customer
    """,
)
def q21_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per market segment."""
    c = t(spark, sf_dir, "customer")
    w_det = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_val = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"))
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w_det).alias("rn"),
        F.rank().over(w_val).alias("rk"),
        F.dense_rank().over(w_val).alias("drk"),
    )


@query(
    "q22_window_lag_lead",
    """
    SELECT event_id, user_id, value,
           LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS delta_prev
    FROM events
    """,
)
def q22_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over per-user event time (unique tie-break on event_id)."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return e.select(
        "event_id",
        "user_id",
        "value",
        prev.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - prev).alias("delta_prev"),
    )


@query(
    "q23_window_running_sum",
    """
    SELECT o_orderkey, o_custkey,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
             AS running_spend,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS order_seq
    FROM orders
    """,
)
def q23_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame (fixed-point cents
    so the cumulative sum is order-exact on both engines)."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            / 100.0
        ).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "q24_window_range_frame",
    """
    SELECT o_orderkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1k
    FROM orders
    """,
)
def q24_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: how many of the same customer's orders
    fall within 1000 below this order's price. Range frames are
    tie-order independent, so no tie-break is needed for determinism.

    Scale note: the window PARTITIONS by customer — a partition-less
    range frame would move the whole table to one task (Spark warns
    'No Partition Defined'), the classic global-window scale killer; a
    truly global range count belongs to a range join / band bucketing,
    not a window."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(
        -1000, W.currentRow
    )
    return o.select(
        "o_orderkey", "o_totalprice", F.count(F.lit(1)).over(w).alias("n_within_1k")
    )


@query(
    "q25_topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def q25_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the scalable per-group top-k (window
    rank + filter; Spark pushes a per-partition limit before shuffle).

    Scale shape: the limit is a WindowGroupLimit before the exchange,
    so each map task forwards at most k rows per key — the shuffle is
    bounded by k·#keys, not #rows."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "q26_order_limit",
    """
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q26_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT → Spark runs TakeOrderedAndProject (per-
    partition top-N then merge on the driver — no full sort shuffle).
    Unique tie-break keeps the limit deterministic."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q27_first_last_ntile",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           FIRST_VALUE(c_acctbal) OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS seg_top_bal,
           LAST_VALUE(c_acctbal) OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS seg_bottom_bal,
           CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS quartile
    FROM customer
    """,
)
def q27_first_last_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value over a full-partition frame + ntile."""
    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.first("c_acctbal").over(w_full).alias("seg_top_bal"),
        F.last("c_acctbal").over(w_full).alias("seg_bottom_bal"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "q28_asof_join",
    """
    SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
           epoch_us(v.ts) AS last_view_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def q28_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest view at-or-before it.

    Spark lacks a native ASOF; the scalable composition is the
    union-merge: tag both streams, sort per user by (ts, kind), and take
    the last non-null view timestamp at each purchase row. One shuffle
    on user_id + per-user sort — identical asymptotics to a native
    as-of (DuckDB ASOF JOIN is the oracle)."""
    e = t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id"
    )
    merged = views.unionByName(purchases)
    # views sort before purchases at equal ts (kind 0 < 1) → `<=` semantics
    w = W.partitionBy("user_id").orderBy("ts", "kind", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    view_ts = F.when(F.col("kind") == 0, F.col("ts"))
    return (
        merged.withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("purchase_us"),
            F.unix_micros("last_view_ts").alias("last_view_us"),
        )
    )


@query(
    "q29_sessionize",
    """
    WITH marked AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000 OR
                  LAG(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, event_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM marked)
    SELECT user_id, CAST(session_idx AS INTEGER) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us
    FROM sessions
    GROUP BY user_id, session_idx
    """,
)
def q29_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap): lag-gap marking +
    running sum — the standard Spark composition; the streaming twin is
    ``session_window`` (streaming module). All time math in epoch
    micros (bigint) so both engines agree exactly."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag("ts_us").over(w)
    marked = e.withColumn(
        "is_new",
        F.when(prev.isNull() | ((F.col("ts_us") - prev) > gap_us), 1).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
    )
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


def sessionize_chunked(
    events: DataFrame, gap_us: int = 30 * 60 * 1_000_000, chunk_us: int | None = None
) -> DataFrame:
    """q29's sessionization with the per-key straggler REMOVED — the
    scale path for hot keys (SCALING.md §6 measured q29 at 3.75× wall
    under a single 5M-event user, because a gap-window needs the key's
    whole ordered sequence in one task and neither salting nor AQE can
    split a window group).

    Exact same output contract as q29 (user_id, 1-based session_idx in
    time order, n_events, start/end/duration in epoch micros), proven
    row-identical by the randomized differential in
    tests/test_fuzz_differential.py. The trick is three exact
    decompositions, none of which ever puts more than one TIME CHUNK of
    one user in a single task:

    1. Sessionize within (user_id, chunk) where chunk = ts_us div
       chunk_us — the event-volume window keys on (user, chunk), so a
       hot user spreads over #chunks tasks. Intra-chunk gaps are the
       same consecutive-(ts, event_id) gaps q29 sees, because chunking
       by ts preserves the per-user sort order.
    2. Merge across chunk boundaries using ONLY each chunk's first and
       last session summaries. Exactness: a session that is neither
       first nor last in its chunk has same-chunk neighbor sessions on
       both sides at gap > gap_us, and any cross-chunk session starts
       after (ends before) those neighbors, so only first/last
       sessions can merge. The boundary relation holds ≤ 2 rows per
       (user, active chunk) — INDEPENDENT of event count — and the
       same lag-gap running-sum grouping chains multi-chunk sessions;
       same-chunk (first, last) rows never merge because disjoint
       same-chunk sessions are > gap_us apart by construction.
    3. Number sessions by a two-level prefix sum: per-(user, chunk)
       session counts cumulate over a #chunks-row per-user window, and
       row_number within (user, chunk) adds the intra-chunk rank — so
       even session NUMBERING (q29's other per-user scan) never sees
       more than #chunks rows per task.

    chunk_us defaults to 4× the gap (2h for the 30-min gap): wide
    enough that most sessions are chunk-internal, narrow enough to
    spread a hot key. Any chunk_us > 0 is EXACT (the merge window
    handles sessions spanning arbitrarily many empty chunks); it only
    moves work between phase 1 and phase 2. Assumes NON-NULL,
    non-negative epoch timestamps (the events contract): `div`
    truncates toward zero, and a null ts would map to a null chunk
    that the chunk/schunk equi-joins drop, where plain q29 sorts it
    nulls-first and keeps the row (ADVICE r10 #2).
    """
    if chunk_us is None:
        chunk_us = 4 * gap_us
    if chunk_us <= 0:
        raise ValueError(f"sessionize_chunked: chunk_us must be > 0, got {chunk_us}")
    e = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn("chunk", F.expr(f"ts_us div {int(chunk_us)}"))
    wc = W.partitionBy("user_id", "chunk").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(wc)
    cs = (
        F.sum(
            F.when(prev.isNull() | ((F.col("ts_us") - prev) > gap_us), 1).otherwise(0)
        )
        .over(wc.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int")
    )
    summaries = (
        e.withColumn("cs", cs)
        .groupBy("user_id", "chunk", "cs")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
    )
    n_cs = F.max("cs").over(W.partitionBy("user_id", "chunk"))
    marked = summaries.withColumn(
        "is_boundary", (F.col("cs") == 1) | (F.col("cs") == n_cs)
    )
    interior = marked.filter(~F.col("is_boundary")).select(
        "user_id", "n_events", "start_us", "end_us"
    )
    wb = W.partitionBy("user_id").orderBy("start_us")
    prev_end = F.lag("end_us").over(wb)
    grp = F.sum(
        F.when(prev_end.isNull() | ((F.col("start_us") - prev_end) > gap_us), 1).otherwise(0)
    ).over(wb.rowsBetween(W.unboundedPreceding, W.currentRow))
    merged = (
        marked.filter(F.col("is_boundary"))
        .withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.min("start_us").alias("start_us"),
            F.max("end_us").alias("end_us"),
        )
        .drop("grp")
    )
    sessions = interior.unionByName(merged).withColumn(
        "schunk", F.expr(f"start_us div {int(chunk_us)}")
    )
    counts = sessions.groupBy("user_id", "schunk").agg(F.count(F.lit(1)).alias("cnt"))
    woff = (
        W.partitionBy("user_id")
        .orderBy("schunk")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.withColumn("off", F.coalesce(F.sum("cnt").over(woff), F.lit(0)))
    intra = F.row_number().over(
        W.partitionBy("user_id", "schunk").orderBy("start_us")
    )
    return (
        sessions.join(offsets.select("user_id", "schunk", "off"), ["user_id", "schunk"])
        .withColumn("session_idx", (F.col("off") + intra).cast("int"))
        .select(
            "user_id",
            "session_idx",
            "n_events",
            F.col("start_us").alias("session_start_us"),
            F.col("end_us").alias("session_end_us"),
            (F.col("end_us") - F.col("start_us")).alias("duration_us"),
        )
    )


def running_sum_chunked(
    df: DataFrame,
    keys: list,
    order_by: list,
    value,
    bucket,
    sum_name: str = "running_sum",
    seq_name: str = "order_seq",
) -> DataFrame:
    """Per-key running sum + row_number with the hot-key straggler
    removed — the two-level prefix sum underneath q23's shape, and the
    third instance of the chunked-sequence pattern (SCALING.md §6;
    sessionize_chunked / scd2_chunked are the gap- and state-shaped
    siblings).

    ``bucket`` must be a column MONOTONE NON-DECREASING in the leading
    ``order_by`` column with nulls mapped to null (e.g. ``year(d)``,
    ``unix_micros(ts) div chunk``): then sorting by (bucket, order) is
    sorting by (order), intra-bucket running aggregates are exact
    segments of the global ones, and adding the cumulative sum/count
    of WHOLE previous buckets (a per-key window over #buckets rows,
    never #rows) reconstructs the global values exactly. ``value``
    must be integral/decimal — the repo's fixed-point discipline —
    because regrouping float addition would not be bit-stable.

    Appends ``sum_name`` (same type as value's sum) and ``seq_name``
    (int, 1-based) to ``df``'s columns; row-identical to the plain
    single-window form for any bucket granularity (randomized
    differential in tests/test_fuzz_differential.py).
    """
    d = df.withColumn("__bucket", bucket).withColumn("__v", value)
    wc = W.partitionBy(*keys, "__bucket").orderBy(*order_by)
    d2 = d.withColumn(
        "__isum",
        F.sum("__v").over(wc.rowsBetween(W.unboundedPreceding, W.currentRow)),
    ).withColumn("__iseq", F.row_number().over(wc))
    tots = d.groupBy(*keys, "__bucket").agg(
        F.sum("__v").alias("__bsum"), F.count(F.lit(1)).alias("__bcnt")
    )
    wb = (
        W.partitionBy(*keys)
        .orderBy("__bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = tots.select(
        *keys,
        "__bucket",
        F.coalesce(F.sum("__bsum").over(wb), F.lit(0)).alias("__osum"),
        F.coalesce(F.sum("__bcnt").over(wb), F.lit(0)).alias("__ocnt"),
    )
    # null-safe join on the bucket (review r10) AND the keys (ADVICE
    # r10 #1): a null leading order value maps to a null bucket, and a
    # null KEY value forms its own partition in the plain window (and
    # its own group in tots' groupBy) — an equi-join on either would
    # silently drop those rows instead of numbering them. The offs side
    # derives from d2's lineage, so its columns are renamed before the
    # join to avoid trivially-true self-join predicates.
    o2 = offs.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        F.col("__bucket").alias("__bucket_r"),
        "__osum",
        "__ocnt",
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__r_{k}")) for k in keys] + [
        F.col("__bucket").eqNullSafe(F.col("__bucket_r"))
    ]
    joined = d2.join(o2, cond).drop("__bucket_r", *[f"__r_{k}" for k in keys])
    return (
        joined
        .withColumn(sum_name, F.col("__isum") + F.col("__osum"))
        .withColumn(seq_name, (F.col("__iseq") + F.col("__ocnt")).cast("int"))
        .drop("__bucket", "__v", "__isum", "__iseq", "__osum", "__ocnt")
    )
