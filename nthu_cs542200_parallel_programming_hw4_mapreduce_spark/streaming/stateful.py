"""Arbitrary stateful streaming via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY.md §2.2); this is the
Spark-native pattern for custom stateful operators — per-key state that
survives across micro-batches, with timeout hooks for eviction. The
running counter here is the minimal instance; sessionization, CEP, and
windowed dedup all reuse this exact topology with a richer state struct.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windows import events_stream, run_drained


def running_counts(spark: SparkSession, path: str) -> DataFrame:
    """Running event count per event_type over the stream; returns the
    final (update-mode) table after draining all available input."""

    # NB: defined inside the function so cloudpickle ships it BY VALUE.
    # A module-level function pickles by reference and executor Python
    # workers (which don't share the driver's sys.path additions) fail
    # with ModuleNotFoundError when the driver runs outside the repo.
    def _update_count(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        """Per-key update: fold the batch into the running count.
        State layout: (count: long). Emits one row per key per batch."""
        (count,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"event_type": [key[0]], "running_count": [count]})

    src = events_stream(spark, path)
    counts = src.groupBy("event_type").applyInPandasWithState(
        _update_count,
        outputStructType="event_type string, running_count long",
        stateStructType="count long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # per-key Python state rides one state store per shuffle partition
    # (see windows.harness_state_partitions); no watermark → the
    # trailing no-data batch is inert.
    return run_drained(
        spark, counts, "update", "stream_stateful", no_data_batches=False
    ).orderBy("event_type")
