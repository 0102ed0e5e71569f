"""Streaming window/dedup operators (batch-or-stream polymorphic).

Each function takes an events DataFrame — streaming or batch — and
returns the transformed frame. On a stream, watermarks bound state:
late events beyond WATERMARK are dropped and closed windows are
evicted from the state store (the 100 TB streaming-state design —
unbounded state is the streaming analogue of an unbounded shuffle).
On a batch frame the same code yields the batch-equivalent answer
(withWatermark is a no-op in batch), which is what the equivalence
tests and DuckDB oracles check.

Output schemas mirror operators/events.py (window starts as epoch
seconds, DECIMAL-exact value sums) so results hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from capstone_etl_spark.operators.relational import _dsum

WATERMARK = "30 minutes"
SESSION_GAP = "30 minutes"

# Watermark semantics note: the watermark bounds event-time DISORDER
# the operator tolerates before dropping late rows + evicting state.
# In production (near-ordered arrival) minutes are right. When
# REPLAYING a historical table through the file source, files arrive
# in arbitrary event-time order, so exact batch-equivalence requires a
# watermark exceeding the replay disorder — the full data horizon
# (operators/streaming_queries.py passes one). The late-drop behavior
# itself is pinned by tests/test_streaming.py::test_watermark_drops_late.


def stream_tumbling(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """10-minute tumbling window × event_type (streaming form of
    events.tumbling_windows)."""
    ev = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_sliding(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """10-minute windows sliding every 5 (streaming form of
    events.sliding_windows)."""
    ev = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("long").alias("window_start"), "n_events")
    )


def stream_session_windows(
    events: DataFrame, gap: str = SESSION_GAP, watermark: str = WATERMARK
) -> DataFrame:
    """Native session windows per user (F.session_window): a session
    extends while successive events arrive within `gap` INCLUSIVE — a
    touching boundary (next event exactly gap after the previous)
    still merges, so a new session starts only on strictly greater
    gaps, matching the lag+cumsum batch sessionize's strict `>` close
    (pinned against the sf0.1 corpus, which contains an exact-gap
    pair). The window end is last_event + gap. Event time is truncated
    to whole
    seconds BEFORE sessionization so gap decisions match the
    second-granularity oracle (raw micros would move boundary cases)."""
    ev = events.withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long")))
    ev = ev.withWatermark("ts", watermark) if events.isStreaming else ev
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_counts(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Exact dedup on (user_id, event_type, ts) then per-type counts —
    streaming uses dropDuplicatesWithinWatermark (state evicted past
    the watermark horizon); batch falls back to dropDuplicates."""
    # seconds-truncated event time: dedup keys match the batch form /
    # oracle (DISTINCT on floored seconds), not raw micros
    ev = events.withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long")))
    keys = ["user_id", "event_type", "ts"]
    if events.isStreaming:
        # the watermark definition carries through the dedup into the
        # downstream aggregation (redefining it is disallowed)
        deduped = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    else:
        deduped = ev.dropDuplicates(keys)
    return deduped.groupBy("event_type").agg(F.count("*").alias("n_distinct_events"))


def stream_enrich_user_tier(events: DataFrame, user_tiers: DataFrame) -> DataFrame:
    """STREAM-STATIC enrichment join: each streaming event joined to a
    batch-computed per-user dimension (tier), then aggregated per
    (tier, type). The static side needs no watermark — Spark plans it
    as a broadcast (or shuffle) lookup against an immutable relation,
    re-resolved per micro-batch; this is THE pattern for dimension
    enrichment at ingest (users ≪ events, so the dim broadcasts).
    Left join: events from users outside the dim survive with a
    literal 'unknown' tier rather than silently dropping."""
    enriched = events.join(F.broadcast(user_tiers), "user_id", "left").withColumn(
        "tier", F.coalesce("tier", F.lit("unknown"))
    )
    return enriched.groupBy("tier", "event_type").agg(
        F.count("*").alias("n_events"),
        _dsum(F.col("value")).alias("total_value"),
    )


ATTRIBUTION_WINDOW_SEC = 3600


def stream_click_purchase_join(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """STREAM-STREAM interval self-join: every purchase paired with the
    same user's clicks from the preceding hour (click attribution).

    Both join inputs derive from ONE watermarked stream (filter twice +
    alias — a supported streaming self-join), so each side carries the
    watermark the state store needs: a buffered click can be evicted
    once the watermark passes click_ts + 1 h (no purchase can match it
    anymore), which is exactly how a stream-stream join stays bounded
    at 100 TB/day — state is watermark-horizon-sized, never
    stream-sized. The time-range predicate (c_ts BETWEEN p_ts - 1 h
    AND p_ts) is what makes eviction derivable; an unconstrained
    equi-join on user_id alone would be rejected by Spark in append
    mode for exactly that reason. Event times are truncated to whole
    seconds first so pair decisions match the second-granularity
    oracle. Inner join ⇒ append output mode (pairs emit as soon as
    both sides have arrived, possibly in different micro-batches)."""
    ev = events.withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long")))
    if events.isStreaming:
        ev = ev.withWatermark("ts", watermark)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_SEC} SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("long").alias("purchase_sec"),
        F.col("c_ts").cast("long").alias("click_sec"),
    )
