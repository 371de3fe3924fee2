"""Event-time windowed aggregation as a real Structured Streaming job.

Batch parquet drives the stream (file source); ``processAllAvailable``
runs it to completion synchronously, which is the standard local test
harness for streaming topologies. On a cluster the same topology points
at Kafka and runs forever; watermarking (see ``run_windowed_count``'s
``watermark`` arg) bounds state for append-mode sinks.
"""

from __future__ import annotations

import itertools
import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SINKS = itertools.count()
_stage_dirs: dict[str, str] = {}

_STATE_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"


def harness_state_partitions(spark: SparkSession) -> int:
    """State-store partition count for the one-shot drained harnesses:
    ``min(4, defaultParallelism)``, so a drain never schedules a second
    wave of state-store tasks.

    Every stateful streaming operator instantiates one state store per
    shuffle partition, and the per-micro-batch open/commit cost of those
    stores is FIXED overhead independent of data volume. At fixture
    scale the session's 32 shuffle partitions spend far longer
    committing near-empty stores than computing — measured round 13
    (same-contention pairs, 32 → 4 partitions): session-window agg
    18.3 s → 3.6 s, tumbling window count 18.4 s → 2.9 s, watermarked
    dedup 7.4 s → 2.1 s. The knob is the generic shuffle-partition
    count read once at query start (state partitioning is fixed for
    the life of a streaming checkpoint), the identical mechanism —
    and measured 32→8→4 curve — ``joins.run_clicks_purchases_join``
    has carried since round 12.

    One wave: a session with fewer than 4 task slots would run the 4
    partitions as two waves, and each Python-evaluating task pays its
    worker set-up (150-300 ms) before any row moves, so the second wave
    is one more round of pure fixed cost — the reference likewise never
    runs more mappers than ``ncpus``. Measured on ``local[2]``: the
    drained ``applyInPandasWithState`` running count took 1.27 s at 4
    partitions and 0.91 s at 2. Sessions with 4 or more slots keep 4.

    ``$SPARK_GRAFT_STREAM_STATE_PARTITIONS`` wins whenever it is set;
    it is the one override, and the joins and every other drain read
    it through here. A production deployment sizes it UP with event
    volume (state partitions should hold the per-trigger window of
    events, not the backfill): SCALING.md measures 32 as right for the
    stream-stream join at 10M events.
    """
    env = os.environ.get(_STATE_PARTITIONS_ENV)
    if env is not None:
        return int(env)
    return min(4, spark.sparkContext.defaultParallelism)


@contextmanager
def stream_start_conf(spark: SparkSession, no_data_batches: bool = True):
    """Scope the two drain-cost knobs around ``writeStream.start()``.

    * the shuffle (= state-store) partition count — see
      ``harness_state_partitions``.
    * ``no_data_batches=False`` skips the trailing zero-row micro-batch
      (``spark.sql.streaming.noDataMicroBatches.enabled``) for
      topologies whose OUTPUT it cannot affect: complete-mode sinks
      (the final table was already emitted with the last data batch;
      the no-data batch only evicts state) and append-mode inner
      joins (matches emit when both sides have arrived). Topologies
      that EMIT on watermark advance — outer-join null rows,
      append-mode session/tumbling windows — must keep it. Measured
      round 13: the no-data batch is ~25-40% of those drains' wall
      (all state-store commit + incremental replanning, zero rows).

    The streaming query clones the session conf at ``start()``, so
    restoring immediately after start is safe for the running query.
    """
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(harness_state_partitions(spark))
    )
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batches else "false",
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", before_nodata
        )


def run_drained(
    spark: SparkSession,
    df: DataFrame,
    output_mode: str,
    prefix: str,
    no_data_batches: bool = True,
) -> DataFrame:
    """start → processAllAvailable → stop through a memory sink named
    ``{prefix}_{n}`` from one module counter — the one drain harness:
    every memory-sink drain in the package starts here, so the state
    partitions (``harness_state_partitions``), the no-data-batch knob
    (see ``stream_start_conf``) and the sink names have one owner.

    One ``processAllAvailable`` reads every offset the sources have: the
    query keeps triggering until no source's ``latestOffset`` advances
    (a Python ``SimpleDataSourceStreamReader`` advances one ``read()``
    step per trigger). Returns the sink table, unordered."""
    name = f"{prefix}_{next(_SINKS)}"
    with stream_start_conf(spark, no_data_batches):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def events_stream(
    spark: SparkSession, path: str, options: dict[str, str] | None = None
) -> DataFrame:
    """readStream over the events parquet (schema must be explicit for
    file-source streams). The fixture's ts is TIMESTAMP(NANOS) → read as
    raw nanos and convert with integer division (see catalog.table).

    Spark's file stream source requires a *directory*; a single-file
    path is staged as a symlink inside a scratch directory (read-only
    fixtures stay untouched). ``options`` pass through to the source
    reader (e.g. ``maxFilesPerTrigger`` to bound per-micro-batch state —
    the production knob the 100× scale probe exercises).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema inference is a full listing + footer read (~80 ms); memoize
    # per path in the session memo, like catalog.table's read memo — the
    # schema of an immutable fixture path cannot change within a session
    from ..catalog import session_memo

    schemas = session_memo(spark).setdefault("schema", {})
    schema = schemas.get(path)
    if schema is None:
        schema = schemas[path] = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # one staging dir per source file, reused across calls (repeated
        # streaming queries in a session must not accumulate /tmp dirs)
        if path not in _stage_dirs:
            stage = tempfile.mkdtemp(prefix="stream_src_")
            os.symlink(path, os.path.join(stage, os.path.basename(path)))
            _stage_dirs[path] = stage
        stream_path = _stage_dirs[path]
    else:
        stream_path = path
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    src = reader.parquet(stream_path)
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dict(src.dtypes).get("ts") == "timestamp_ntz":
        # Parquet timestamp-without-timezone reads as TIMESTAMP_NTZ, which
        # watermarks/event-time reject; session TZ is UTC so the cast is exact.
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


def windowed_count_stream(
    spark: SparkSession,
    path: str,
    window: str = "1 hour",
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """The streaming window-count topology itself (unstarted): readStream
    → optional watermark → tumbling/hopping window agg. Split out of
    ``run_windowed_count`` so tests can drive the SAME topology through
    multi-micro-batch feeds (late-data/watermark proofs) instead of the
    one-shot processAllAvailable wrapper."""
    src = events_stream(spark, path)
    if watermark:
        src = src.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").try_cast("decimal(18,6)")).cast("double").alias("sv"),
        )
        .select("event_type", F.col("w.start").alias("h"), "cnt", "sv")
    )


def run_windowed_count(
    spark: SparkSession,
    path: str,
    window: str = "1 hour",
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) window count + DECIMAL sum
    per event type.

    complete-mode memory sink → every window is in the result table, so
    the output equals the batch groupBy — the unification property the
    declared-query oracle checks. With ``watermark`` set and append mode
    this becomes the production late-data topology; complete+no-watermark
    is right for a finite backfill like this. ``slide`` reuses the same
    topology for overlapping windows (each event lands in window/slide
    state rows — state volume scales with that ratio, which is why
    production hops are small multiples, not sliding-by-record).
    """
    agg = windowed_count_stream(spark, path, window, watermark, slide)
    mode = "append" if watermark else "complete"
    # append mode emits a window only when the watermark passes its end,
    # so the trailing no-data batch is load-bearing there; complete mode
    # emitted the full table with the last data batch already.
    return run_drained(
        spark, agg, mode, "stream_windowed", no_data_batches=watermark is not None
    ).orderBy("event_type", "h")
