"""Event-time streaming transformations.

Each function takes a streaming DataFrame with an event-time column and
returns the transformed streaming DataFrame — composable with any
source (the pulsarlike source + decode_json, a rate source in tests, or
Kafka in production). Watermarks bound state: at 100 TB/day the state
store holds only in-watermark windows/keys, and late data past the
watermark is dropped exactly like the reference's decoder drops
malformed rows — deterministically and observably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    size: str = "1 hour",
    watermark: str | None = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling event-time window counts + value sum with late-data
    drop via watermark (append-mode capable). Pass ``watermark=None``
    when chaining after another stateful operator that already set one
    (Spark disallows redefining the watermark mid-chain)."""
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.window(ts_col, size), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per key — the streaming twin of the
    batch q29_sessionize operator."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key,
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    keys: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Stateful streaming dedup bounded by the watermark — drops replayed
    duplicates (e.g. at-least-once redelivery from a broker) while
    keeping state finite. This is the engine-side complement of the
    source's at-least-once commit (consumer:154-162): source may replay,
    pipeline stays exactly-once."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def interval_join(
    views: DataFrame,
    purchases: DataFrame,
    *,
    ts_col: str = "ts",
    max_delay: str = "2 hours",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every purchase within ``max_delay``
    after a view by the same user (st61's streaming form — the
    attribution join). Both sides carry a watermark and the join
    condition bounds purchase time against view time, which is exactly
    what lets Spark expire join state: a buffered view can be dropped
    once the purchase-side watermark passes view_ts + max_delay, so
    state is O(in-flight window), not O(stream history).

    Inner join → results emit as soon as both sides match.
    ``how="leftOuter"`` (st62) adds unmatched views with NULL purchase
    columns — those rows can only emit once the watermark proves no
    purchase can still arrive, so outer results trail the watermark by
    design (the differential test accounts for that)."""
    v = views.withWatermark(ts_col, watermark).select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        F.col(ts_col).alias("v_ts"),
    )
    p = purchases.withWatermark(ts_col, watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event_id"),
        F.col(ts_col).alias("p_ts"),
    )
    return (
        v.join(
            p,
            F.expr(
                f"user_id = p_user AND p_ts > v_ts "
                f"AND p_ts <= v_ts + INTERVAL {max_delay}"
            ),
            how,
        )
        .select(
            "user_id",
            "view_event_id",
            "purchase_event_id",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delay_us"),
        )
    )
