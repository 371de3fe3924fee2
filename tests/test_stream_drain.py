"""Round-13 drain-harness internals: the state-partition /
no-data-micro-batch knobs must be scoped (session conf restored) and
must never change what a drained topology RETURNS — only what it costs.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import functions as F

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.streaming.stateful import (
    running_counts,
)
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.streaming.windows import (
    events_stream,
    harness_state_partitions,
    run_drained,
    run_windowed_count,
    stream_start_conf,
)


def test_stream_start_conf_scopes_and_restores(spark):
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    with stream_start_conf(spark, state_partitions=2, no_data_batches=False):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        assert (
            spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
            == "false"
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        == before_nodata
    )


def test_stream_start_conf_restores_on_error(spark):
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with stream_start_conf(spark, state_partitions=3):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts


def test_default_state_partitions_env_override(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "12")
    assert harness_state_partitions(spark) == 12
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    assert harness_state_partitions(spark) == 4


def _slots(n: int) -> SimpleNamespace:
    """A stand-in session exposing only ``defaultParallelism``."""
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=n))


def test_state_partitions_fit_one_wave_of_task_slots(monkeypatch):
    """min(4, slots): fewer than 4 slots get one partition per slot (no
    second wave of state-store tasks); wider sessions keep 4; the env
    value wins over the rule either way."""
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    assert harness_state_partitions(_slots(1)) == 1
    assert harness_state_partitions(_slots(2)) == 2
    assert harness_state_partitions(_slots(4)) == 4
    assert harness_state_partitions(_slots(32)) == 4
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "12")
    assert harness_state_partitions(_slots(2)) == 12
    assert harness_state_partitions(_slots(32)) == 12


def test_stream_start_conf_default_on_wide_session(spark, monkeypatch):
    """The suite's session has 8 task slots, so the drain plans keep the
    4 state partitions they had before the one-wave rule."""
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    assert spark.sparkContext.defaultParallelism >= 4
    with stream_start_conf(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_results_do_not_depend_on_state_partitions(spark, sf_dir, monkeypatch):
    """The state-partition count may change only what a drain costs:
    the applyInPandasWithState running count and the windowed count
    give the same rows at 1 and at 4 state partitions."""
    path = f"{sf_dir}/events.parquet"

    def drain(parts: int):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", str(parts))
        counts = {tuple(r) for r in running_counts(spark, path).collect()}
        windows = {tuple(r) for r in run_windowed_count(spark, path).collect()}
        return counts, windows

    one, four = drain(1), drain(4)
    assert one == four
    assert one[0] and one[1]  # non-vacuous


def test_no_data_batch_skip_is_result_invariant_for_complete_agg(
    spark, sf_dir
):
    """A complete-mode watermarked aggregate emits its final table with
    the last data batch; the trailing no-data batch only evicts state.
    Drain the same topology both ways and require identical rows."""

    def topo():
        src = events_stream(spark, f"{sf_dir}/events.parquet").withWatermark(
            "ts", "1 hour"
        )
        return src.groupBy("event_type").agg(F.count("*").alias("cnt"))

    with_nd = {
        (r["event_type"], r["cnt"])
        for r in run_drained(
            spark, topo(), "complete", "nd_on", no_data_batches=True
        ).collect()
    }
    without_nd = {
        (r["event_type"], r["cnt"])
        for r in run_drained(
            spark, topo(), "complete", "nd_off", no_data_batches=False
        ).collect()
    }
    assert with_nd == without_nd
    assert without_nd  # non-vacuous


def test_no_data_batch_skip_is_result_invariant_for_inner_join(spark, sf_dir):
    """ADVICE r13: the riskier append-mode INNER stream-stream join skip
    rested on comment-level reasoning. Drain the identical topology both
    ways (no-data batch on/off) and require identical row sets — inner
    matches emit as soon as both sides arrive, so the trailing
    watermark-advancing batch must only evict state, never emit."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.streaming.joins import (
        clicks_purchases_join_stream,
    )

    def drain(nd: bool, name: str):
        topo = clicks_purchases_join_stream(spark, f"{sf_dir}/events.parquet")
        return {
            tuple(r)
            for r in run_drained(
                spark, topo, "append", name,
                state_partitions=4, no_data_batches=nd,
            ).collect()
        }

    with_nd = drain(True, "nd_join_on")
    without_nd = drain(False, "nd_join_off")
    assert with_nd == without_nd
    assert without_nd  # non-vacuous


def test_no_data_batch_skip_is_result_invariant_for_watermarked_dedup(
    spark, sf_dir
):
    """ADVICE r13: same both-ways proof for the watermarked-dedup
    complete-mode count — dropDuplicatesWithinWatermark emits each
    surviving key in the batch where it is FIRST seen, so the final
    complete-mode table is already emitted with the last data batch;
    the trailing no-data batch may only evict expired keys."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.streaming.windows import (
        events_stream,
    )

    def topo():
        src = events_stream(spark, f"{sf_dir}/events.parquet").select(
            "event_id", "ts"
        )
        doubled = src.unionByName(
            events_stream(spark, f"{sf_dir}/events.parquet").select(
                "event_id", "ts"
            )
        )
        return (
            doubled.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .agg(F.count("*").alias("n_unique"))
        )

    with_nd = {
        r["n_unique"]
        for r in run_drained(
            spark, topo(), "complete", "nd_dwm_on", no_data_batches=True
        ).collect()
    }
    without_nd = {
        r["n_unique"]
        for r in run_drained(
            spark, topo(), "complete", "nd_dwm_off", no_data_batches=False
        ).collect()
    }
    assert with_nd == without_nd
    assert without_nd  # non-vacuous
