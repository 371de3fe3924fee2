"""Stream-stream join topology (real Structured Streaming).

Spark's stream-stream join buffers both sides in state keyed by the
equi-join key and evicts rows once the watermark passes the time-range
bound — the standard funnels/attribution topology (click → purchase
within N minutes). On a cluster both sides are Kafka topics and state
lives in RocksDB; here batch parquet drives both sides through the
file source and ``processAllAvailable`` runs the backfill to
completion, after which the inner-join result equals the batch
inequality join (the unification property the declared-query oracle
checks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windows import events_stream, run_drained


def clicks_purchases_join_stream(
    spark: SparkSession, path: str, horizon_minutes: int = 30
) -> DataFrame:
    """The unstarted topology: two readStreams over the same event log,
    filtered to clicks / purchases, inner-joined on user_id with
    purchase.ts in [click.ts, click.ts + horizon).

    Both sides carry a watermark — that is what lets Spark BOUND the
    join state: a buffered click can be dropped once the purchase-side
    watermark passes click.ts + horizon, so state is O(events per
    horizon window), not O(stream). Without the time-range condition
    (or the watermarks) state would grow without bound and a 100 TB
    backfill would OOM its state store.
    """
    clicks = (
        events_stream(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        [
            clicks.user_id == purchases.user_id,
            purchases.purchase_ts >= clicks.click_ts,
            purchases.purchase_ts
            < clicks.click_ts + F.expr(f"INTERVAL {horizon_minutes} MINUTES"),
        ],
    ).select(
        clicks.user_id,
        "click_id",
        "purchase_id",
        F.floor(
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")) / 60_000_000
        ).alias("lag_min"),
    )


def run_clicks_purchases_join(
    spark: SparkSession, path: str, horizon_minutes: int = 30
) -> DataFrame:
    """Run the topology to completion through an append-mode memory sink
    (append is the only stream-stream-join output mode; matches emit as
    soon as both sides arrive).

    The join's state stores are sized by the drain harness: a
    stream-stream join instantiates per-partition state stores on BOTH
    sides, and their per-batch open/commit cost is fixed overhead
    independent of data volume — at fixture scale (100k events) 32
    partitions spend 4× longer committing empty stores than joining
    (measured 11 s → 3.3 s at 8, ~2.1 s at 4 — flat below that). So the
    drain takes ``windows.harness_state_partitions``,
    ``min(4, defaultParallelism)``; a production run sizes it UP with
    event volume through ``$SPARK_GRAFT_STREAM_STATE_PARTITIONS``
    instead (state partitioning is fixed for the life of a streaming
    checkpoint; SCALING.md measures the crossover).
    """
    joined = clicks_purchases_join_stream(spark, path, horizon_minutes)
    # INNER join: matches emit as soon as both sides arrive, so the
    # trailing no-data micro-batch can only evict state, never emit —
    # skipping it (round-13 optimization) drops one full state
    # open/commit + replanning cycle from the drain with an identical
    # result (the LEFT variant below must keep it: null-row emission
    # happens exactly there).
    return run_drained(
        spark, joined, "append", "stream_join", no_data_batches=False
    )


def run_clicks_purchases_left_join(
    spark: SparkSession, path: str, horizon_minutes: int = 30
) -> DataFrame:
    """LEFT OUTER variant of the clicks→purchases stream-stream join:
    matched pairs emit as soon as both sides arrive (inner semantics),
    and an UNMATCHED click emits its NULL row only once the watermark
    proves no qualifying purchase can still arrive — i.e. when the
    global watermark passes click_ts + horizon. Spark's global
    watermark over multiple event-time sources is the MIN of the
    per-source watermarks (``multipleWatermarkPolicy=min``), so over a
    finite drain the final watermark is min(max click_ts, max
    purchase_ts) − delay, and the clicks still inside their horizon at
    that point stay buffered, unemitted — the deterministic tail the
    declared query's oracle replays (the streaming_session_window
    cutoff pattern, two-sided).

    Both sides' state stores are sized by the drain harness exactly as
    in ``run_clicks_purchases_join``."""
    clicks = (
        events_stream(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "0 seconds")
    )
    purchases = (
        events_stream(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "0 seconds")
    )
    joined = clicks.join(
        purchases,
        [
            clicks.user_id == purchases.p_user_id,
            purchases.purchase_ts >= clicks.click_ts,
            purchases.purchase_ts
            < clicks.click_ts + F.expr(f"INTERVAL {horizon_minutes} MINUTES"),
        ],
        "leftOuter",
    ).select(clicks.user_id, "click_id", "purchase_id")
    # no_data_batches stays ON: the unmatched-click null rows emit in
    # the watermark-advancing no-data batch — skipping it would lose
    # every unmatched row (the semantics this query exists to show).
    return run_drained(spark, joined, "append", "stream_left_join")
