"""Drain-harness internals: the state-partition / no-data-micro-batch
knobs must be scoped (session conf restored) and must never change what
a drained topology RETURNS — only what it costs; and ``run_drained`` is
the one code path that starts a memory-sink drain.
"""

from __future__ import annotations

import ast
import os
import tempfile
from pathlib import Path
from types import SimpleNamespace

from pyspark.sql import functions as F

import nthu_cs542200_parallel_programming_hw4_mapreduce_spark as pkg
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


def test_stream_start_conf_scopes_and_restores(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "2")
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    with stream_start_conf(spark, no_data_batches=False):
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


def test_stream_start_conf_restores_on_error(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "3")
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with stream_start_conf(spark):
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
                spark, topo, "append", name, no_data_batches=nd
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


def test_python_stream_source_drains_fully_on_every_repeat(spark, sf_dir):
    """One ``processAllAvailable`` reads the Python source to exhaustion:
    five in-process drains each return the closed form, and each drain
    names its own sink."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.core import (
        _PYSTREAM_ROWS,
        python_stream_source,
    )

    assert _PYSTREAM_ROWS == 5000
    want = (5000, sum((i * 2654435761) % 1000 for i in range(5000)))

    def sinks():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("pystream_")
        }

    before = sinks()
    for _ in range(5):
        [row] = python_stream_source(spark, sf_dir).collect()
        assert (row["n"], row["sv"]) == want
    assert len(sinks() - before) == 5


_HARNESS = ("streaming/windows.py", "run_drained")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _package_nodes():
    """(module path, top-level function name or None, node) for every
    AST node in the package's non-test sources."""
    root = Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = top.name if isinstance(top, _FUNCS) else None
            for node in ast.walk(top):
                yield rel, owner, node


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_run_drained_is_the_one_drain_harness():
    """Static pins: ``processAllAvailable`` runs only in ``run_drained``
    and the ``foreachBatch`` driver of ``streaming/incremental.py``; only
    ``run_drained`` starts a memory sink or calls ``stream_start_conf``;
    ``streaming/windows.py`` keeps the one sink counter; and no function
    takes a ``state_partitions`` parameter."""
    drains, memory, conf, counters, params = set(), set(), set(), set(), set()
    for rel, owner, node in _package_nodes():
        if isinstance(node, _FUNCS):
            args = node.args.posonlyargs + node.args.args + node.args.kwonlyargs
            if any(a.arg == "state_partitions" for a in args):
                params.add((rel, node.name))
        if not isinstance(node, ast.Call):
            continue
        name = _callee(node)
        if name == "processAllAvailable":
            drains.add((rel, owner))
        elif name == "stream_start_conf":
            conf.add((rel, owner))
        elif (
            name == "format"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "memory"
        ):
            memory.add((rel, owner))
        elif name == "count" and isinstance(node.func, ast.Attribute):
            base = node.func.value
            if getattr(base, "id", None) == "itertools" or (
                isinstance(base, ast.Call) and _callee(base) == "__import__"
            ):
                counters.add(rel)
    assert drains == {
        _HARNESS,
        ("streaming/incremental.py", "incremental_minhash_dedup"),
    }
    assert memory == {_HARNESS}
    assert conf == {_HARNESS}
    assert counters == {"streaming/windows.py"}
    assert params == set()


def test_events_stream_stages_nothing_in_the_temp_dir(spark, sf_dir):
    """A single-file source streams its parent directory through a
    ``pathGlobFilter``: five drains leave no ``stream_src_*`` entry in
    the system temp directory, and each drains the same rows."""

    def staged():
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("stream_src_")}

    before = staged()
    drains = [
        sorted(run_windowed_count(spark, f"{sf_dir}/events.parquet").collect())
        for _ in range(5)
    ]
    assert staged() == before
    assert drains[0] and all(d == drains[0] for d in drains)
