"""Event-time window operators in their batch form (oracle-checkable).

These are the batch twins of the Structured Streaming operators in
``streaming/`` — identical window semantics (tumbling/sliding buckets,
enrichment join), run over the bounded ``events`` table so the DuckDB
oracle can verify them. The streaming executions of the same shapes are
exercised in tests/test_streaming*.py with the pulsarlike source.

All event-time arithmetic is epoch-microseconds (bigint), sidestepping
timestamp-representation drift between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.functions.exact import exact_sum, exact_sum_sql
from pinot_pulsar_plugin_spark.operators.common import make_registry, t

QUERIES, ORACLE, query = make_registry()


@query(
    "st57_tumbling_window",
    f"""
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)))
             AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           {exact_sum_sql("value", "sum_value", 2)}
    FROM events
    GROUP BY 1, 2
    """,
)
def st57_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregate (``F.window`` — the same
    operator Structured Streaming uses with a watermark)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "sum_value", 2),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "st58_sliding_window",
    f"""
    WITH ex AS (
      SELECT e.*, unnest([
        epoch_us(time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))),
        epoch_us(time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                 - INTERVAL '30 minutes')
      ]) AS window_start_us
      FROM events e)
    SELECT window_start_us, COUNT(*) AS n_events,
           {exact_sum_sql("value", "sum_value", 2)}
    FROM ex GROUP BY 1
    """,
)
def st58_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in two
    overlapping windows (Spark's ``window(ts, '1 hour', '30 minutes')``;
    the oracle expands the two candidate starts explicitly)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "sum_value", 2),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "st59_stream_enrich_join",
    f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           {exact_sum_sql("e.value", "sum_value", 2)}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def st59_stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join shape: events joined to a
    broadcast dim then aggregated (in streaming, the dim is the static
    side — same plan, micro-batch at a time)."""
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "sum_value", 2),
        )
    )


@query(
    "st60_first_event_dedup",
    """
    SELECT user_id, event_type,
           epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS first_ts_us,
           arg_min(event_id, CAST(ts AS TIMESTAMP)) AS first_event_id
    FROM events
    GROUP BY user_id, event_type
    """,
)
def st60_first_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``dropDuplicatesWithinWatermark`` keep-first
    semantics: the earliest event per (user, type) key. In streaming
    the same result comes from the stateful dedup operator with a
    watermark bounding state (exercised in tests/test_streaming_ops);
    the batch form is one hash aggregate carrying min + arg-min —
    shuffle is #keys-sized. Event timestamps are globally unique in
    this dataset, making arg-min deterministic."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.unix_micros(F.min("ts")).alias("first_ts_us"),
        F.min_by("event_id", "ts").alias("first_event_id"),
    )


@query(
    "st61_interval_join",
    """
    SELECT v.user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           epoch_us(CAST(p.ts AS TIMESTAMP))
             - epoch_us(CAST(v.ts AS TIMESTAMP)) AS delay_us
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL '2 hours'
    """,
)
def st61_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join: every purchase
    within 2 hours after a view by the same user (the attribution /
    conversion-delay join). In streaming the identical predicate runs
    as a watermarked stream-stream inner join where the time bound is
    what lets Spark expire join state (exercised differentially against
    this batch form in tests/test_streaming_ops).

    Scale shape (batch): equi-join on user_id (one exchange per side, the range
    predicate evaluated inside the join) — never a cartesian; per-user
    event counts bound the pair work, and a hot user is AQE
    skew-splittable because the range condition is a post-filter on the
    equi-match."""
    e = t(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"), F.col("ts").alias("v_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    return joined.select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delay_us"),
    )


@query(
    "st62_interval_join_outer",
    """
    SELECT v.user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           epoch_us(CAST(p.ts AS TIMESTAMP))
             - epoch_us(CAST(v.ts AS TIMESTAMP)) AS delay_us
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL '2 hours'
    """,
)
def st62_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER stream-stream interval join:
    st61's attribution pairs PLUS every unconverted view as a NULL
    row — the form that measures conversion RATE, not just conversions.
    In streaming the NULL rows are watermark-delayed by construction
    (Spark may only emit "no purchase came" once the watermark proves
    the window closed); the streaming twin is verified differentially
    in tests/test_streaming_ops.py with that trailing edge excluded.

    Batch shape: same single user_id equi-exchange per side as st61;
    LEFT OUTER preserves the view side, so row count = #views +
    #extra matches — no new scale risk."""
    e = t(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"), F.col("ts").alias("v_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
        "left",
    )
    return joined.select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delay_us"),
    )


@query(
    "st63_window_topk",
    """
    WITH c AS (
      SELECT epoch_us(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)))
               AS window_start_us,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT window_start_us, event_type, n_events,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY window_start_us
               ORDER BY n_events DESC, event_type
             ) AS INTEGER) AS rnk
      FROM c)
    SELECT window_start_us, event_type, n_events, rnk
    FROM r WHERE rnk <= 2
    """,
)
def st63_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-k event types (1-hour tumbling buckets, top-2 by
    count, deterministic type tie-break) — the trending-now query a
    realtime dashboard serves. Batch twin of the streaming
    rank-in-foreachBatch pattern (``streaming/sinks.py::
    topk_per_window_sink``): append-mode windows close exactly once, so
    per-batch ranking is globally correct; here the same two-stage
    shape runs bounded. Scale: combinable count keyed (window, type) —
    vocabulary-sized — then WindowGroupLimit keeps <=k rows per window
    map-side before the window exchange."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    c = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    c = c.select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "event_type",
        "n_events",
    )
    w = W.partitionBy("window_start_us").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return c.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 2)


# --- q174: event-time lateness audit (watermark tuning input) -------
#
# Every watermark choice in the streaming modules (sessions, windowed
# aggs, dedup) trades completeness for latency; q174 is the batch
# audit that QUANTIFIES the trade on real data: treating event_id as
# arrival order (the generator emits sequentially; in production this
# is the ingestion offset), an event's lateness is how far the
# per-type event-time high-water mark had already advanced past it on
# arrival — running_max(ts) − ts in arrival order. The report
# buckets lateness and counts what a watermark of 1 s / 1 min / 1 h
# would drop — read it, then set the delay.
#
# Exactness: integer µs lateness from a running max (one window),
# integer bucket thresholds, ppm floor-divisions.

_Q174 = """
    WITH arr AS (
      SELECT event_type,
             GREATEST(CAST(0 AS BIGINT),
               MAX(epoch_us(ts)) OVER (PARTITION BY event_type
                 ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - epoch_us(ts)) AS late_us
      FROM events),
    graded AS (
      SELECT event_type,
             CASE WHEN late_us = 0 THEN 'on_time'
                  WHEN late_us <= 1000000 THEN 'le_1s'
                  WHEN late_us <= 60000000 THEN 'le_1m'
                  WHEN late_us <= 3600000000 THEN 'le_1h'
                  ELSE 'gt_1h' END AS bucket,
             late_us
      FROM arr)
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us,
           CAST(COUNT(*) * 1000000
                // SUM(COUNT(*)) OVER (PARTITION BY event_type)
                AS BIGINT) AS share_ppm
    FROM graded GROUP BY event_type, bucket
"""


@query("q174_lateness_audit", _Q174)
def q174_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateness distribution per event type: event-time shortfall
    against the arrival-order high-water mark, bucketed at the
    candidate watermark delays (see block comment).

    Scale shape: ONE type-keyed sort feeds the running max; the
    rollup is ≤5 buckets per type with a window-share over the tiny
    cell relation. On the live path the same numbers come from the
    streaming metrics; this audit runs on the landed table to tune
    them ahead of deployment."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    warr = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = F.greatest(F.lit(0).cast("long"), F.max(us).over(warr) - us)
    arr = e.select("event_type", late.alias("late_us"))
    bucket = (
        F.when(F.col("late_us") == 0, "on_time")
        .when(F.col("late_us") <= 1_000_000, "le_1s")
        .when(F.col("late_us") <= 60_000_000, "le_1m")
        .when(F.col("late_us") <= 3_600_000_000, "le_1h")
        .otherwise("gt_1h")
    )
    cells = arr.select("event_type", bucket.alias("bucket"), "late_us").groupBy(
        "event_type", "bucket"
    ).agg(F.count(F.lit(1)).alias("n"), F.max("late_us").alias("max_late_us"))
    wtype = Window.partitionBy("event_type")
    # integer floor-div share (div ≡ // class) — never a double divide
    # + cast, whose correctly-rounded result can cross the floor
    return (
        cells.withColumn("n_type", F.sum("n").over(wtype))
        .select(
            "event_type",
            "bucket",
            "n",
            "max_late_us",
            F.expr("n * 1000000 div n_type").alias("share_ppm"),
        )
    )
