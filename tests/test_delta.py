"""Jar-free Delta Lake read path (sources/delta.py).

Tables are built two ways: by ``write_delta_commit0`` (the fixture
writer) and BY HAND (raw parquet files + hand-written log JSON with
multi-commit add/remove sequences and a checkpoint) so the reader is
proven against the protocol, not against our own writer's habits.
"""

import json
import os

import pytest

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.delta import (
    DeltaProtocolError,
    read_delta_via_log,
    write_delta_commit0,
)

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _commit(log_dir, version, actions):
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _data_file(spark, table, name, rows):
    """One parquet data file at table/name with (id, v) rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(table, exist_ok=True)
    pq.write_table(
        pa.table(
            {"id": pa.array([r[0] for r in rows], pa.int64()),
             "v": pa.array([r[1] for r in rows], pa.string())}
        ),
        os.path.join(table, name),
    )
    return {"add": {"path": name, "partitionValues": {}, "size": 1,
                    "modificationTime": 0, "dataChange": True}}


def test_multi_commit_add_remove(spark, tmp_path):
    """Commit 1's remove must hide commit 0's file; only the active set
    is read."""
    table = str(tmp_path / "t")
    log = os.path.join(table, "_delta_log")
    add_a = _data_file(spark, table, "a.parquet", [(1, "a"), (2, "a")])
    add_b = _data_file(spark, table, "b.parquet", [(3, "b")])
    add_c = _data_file(spark, table, "c.parquet", [(4, "c")])
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "m", "format": {"provider": "parquet", "options": {}},
                      "schemaString": SCHEMA_JSON, "partitionColumns": [],
                      "configuration": {}}},
        add_a, add_b,
    ])
    _commit(log, 1, [
        {"remove": {"path": "a.parquet", "dataChange": True}},
        add_c,
    ])
    got = sorted((r["id"], r["v"]) for r in read_delta_via_log(spark, table).collect())
    assert got == [(3, "b"), (4, "c")]  # a.parquet's rows are gone


def test_duplicate_add_counts_file_once(spark, tmp_path):
    """Duplicate-key collision in the commit log (hostile class, round
    10): the SAME data-file path re-added — within one commit and again
    in a later commit (how Delta writers refresh file stats) — must
    count the file's rows ONCE. A naive log reader that appends adds to
    a list instead of keying by path would double- or triple-count.
    And remove-then-re-add must resurrect the file (last action wins in
    version order)."""
    table = str(tmp_path / "dup")
    log = os.path.join(table, "_delta_log")
    add_a = _data_file(spark, table, "a.parquet", [(1, "a"), (2, "a")])
    add_b = _data_file(spark, table, "b.parquet", [(3, "b")])
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "m", "format": {"provider": "parquet", "options": {}},
                      "schemaString": SCHEMA_JSON, "partitionColumns": [],
                      "configuration": {}}},
        add_a, add_a,  # duplicate add within one commit
        add_b,
    ])
    _commit(log, 1, [add_a])  # re-add of the same path in a later commit
    got = sorted((r["id"], r["v"]) for r in read_delta_via_log(spark, table).collect())
    assert got == [(1, "a"), (2, "a"), (3, "b")]  # a.parquet counted once
    # remove then RE-ADD: the file is active again at the final version
    _commit(log, 2, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    _commit(log, 3, [add_a])
    got3 = sorted((r["id"], r["v"]) for r in read_delta_via_log(spark, table).collect())
    assert got3 == [(1, "a"), (2, "a"), (3, "b")]
    # and the intermediate snapshot (version 2) really had it removed
    got2 = sorted(
        (r["id"], r["v"])
        for r in read_delta_via_log(spark, table, version=2).collect()
    )
    assert got2 == [(3, "b")]


def test_checkpoint_replay(spark, tmp_path):
    """Actions BEFORE the checkpoint version come from the checkpoint
    parquet; commits after it replay on top."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "ckpt")
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    add_a = _data_file(spark, table, "a.parquet", [(1, "a")])
    add_b = _data_file(spark, table, "b.parquet", [(2, "b")])
    add_c = _data_file(spark, table, "c.parquet", [(3, "c")])
    # checkpoint at version 1 = {protocol, metaData, add a, add b}.
    # partitionValues is None here because pyarrow cannot write an
    # empty struct; the reader treats absent and {} identically.
    def ck_add(a):
        return {**a["add"], "partitionValues": None}

    rows = [
        {"protocol": {"minReaderVersion": 1}, "metaData": None, "add": None,
         "remove": None},
        {"protocol": None,
         "metaData": {"id": "m", "schemaString": SCHEMA_JSON,
                      "partitionColumns": []},
         "add": None, "remove": None},
        {"protocol": None, "metaData": None, "add": ck_add(add_a), "remove": None},
        {"protocol": None, "metaData": None, "add": ck_add(add_b), "remove": None},
    ]
    pq.write_table(
        pa.Table.from_pylist(rows),
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": len(rows)}, f)
    # a stale pre-checkpoint commit that must be IGNORED (checkpoint wins)
    _commit(log, 0, [{"add": {"path": "ghost.parquet", "partitionValues": {},
                              "size": 1, "modificationTime": 0,
                              "dataChange": True}}])
    # post-checkpoint commit: drop b, add c
    _commit(log, 2, [{"remove": {"path": "b.parquet", "dataChange": True}}, add_c])
    got = sorted((r["id"], r["v"]) for r in read_delta_via_log(spark, table).collect())
    assert got == [(1, "a"), (3, "c")]


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    """write_delta_commit0 → read_delta_via_log round-trips a partitioned table
    (partition values come from the log, typed per the schema), and a
    filter on the partition column prunes to that partition's files."""
    table = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", float(i)) for i in range(20)],
        "doc_id long, lang string, score double",
    )
    write_delta_commit0(spark, df, table, partition_by=["lang"])
    back = read_delta_via_log(spark, table)
    assert sorted(back.columns) == ["doc_id", "lang", "score"]
    assert sorted((r["doc_id"], r["lang"], r["score"]) for r in back.collect()) == \
        sorted((i, "en" if i % 2 else "de", float(i)) for i in range(20))
    only_en = back.filter("lang = 'en'")
    assert only_en.count() == 10
    # partition pruning: lang is a per-branch literal, so Catalyst
    # constant-folds the filter and the lang=de branch collapses to an
    # empty relation — exactly one parquet scan survives in the plan
    plan = only_en._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_unpartitioned_roundtrip(spark, tmp_path):
    table = str(tmp_path / "flat")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    write_delta_commit0(spark, df, table)
    got = sorted((r["id"], r["v"]) for r in read_delta_via_log(spark, table).collect())
    assert got == [(1, "x"), (2, "y")]


def test_reader_version_guard(spark, tmp_path):
    """minReaderVersion > 1 (column mapping / deletion vectors) must
    raise, never silently misread."""
    table = str(tmp_path / "v2")
    log = os.path.join(table, "_delta_log")
    add = _data_file(spark, table, "a.parquet", [(1, "a")])
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "m", "format": {"provider": "parquet", "options": {}},
                      "schemaString": SCHEMA_JSON, "partitionColumns": [],
                      "configuration": {}}},
        add,
    ])
    with pytest.raises(DeltaProtocolError):
        read_delta_via_log(spark, table)


def test_not_a_delta_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="_delta_log"):
        read_delta_via_log(spark, str(tmp_path / "nope"))


def test_delta_append_and_time_travel(spark, tmp_path):
    """Append creates version 1; reading latest sees both commits,
    reading version 0 sees only the original — the snapshot-isolation
    contract from the log replay alone."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.delta import (
        append_delta_commit,
        read_delta_via_log,
        table_version,
        write_delta_commit0,
    )

    path = str(tmp_path / "tt")
    write_delta_commit0(spark, spark.range(0, 10).toDF("id"), path)
    assert table_version(path) == 0

    v = append_delta_commit(spark, spark.range(100, 105).toDF("id"), path)
    assert v == 1 and table_version(path) == 1

    latest = sorted(r["id"] for r in read_delta_via_log(spark, path).collect())
    assert latest == list(range(10)) + list(range(100, 105))
    v0 = sorted(r["id"] for r in read_delta_via_log(spark, path, version=0).collect())
    assert v0 == list(range(10))


def test_delta_append_commit_race_bumps_version(spark, tmp_path):
    """A pre-claimed commit file forces the optimistic writer to retry
    at the next version instead of clobbering."""
    import os

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.delta import (
        append_delta_commit,
        write_delta_commit0,
    )

    path = str(tmp_path / "race")
    write_delta_commit0(spark, spark.range(3).toDF("id"), path)
    # simulate a concurrent writer winning version 1
    claimed = os.path.join(path, "_delta_log", f"{1:020d}.json")
    with open(claimed, "w") as f:
        f.write("")
    v = append_delta_commit(spark, spark.range(10, 12).toDF("id"), path)
    assert v == 2


def test_stream_foreachbatch_appends_delta_commits(spark, tmp_path):
    """Composition proof: a real readStream drains into the jar-free
    Delta table via foreachBatch + append_delta_commit — one commit per
    micro-batch — and the final snapshot equals the batch source."""
    import datetime

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.delta import (
        append_delta_commit,
        read_delta_via_log,
        table_version,
        write_delta_commit0,
    )
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.streaming.windows import (
        events_stream,
    )

    t = datetime.datetime(2026, 1, 1)
    rows = [(i, t, i % 3, "click", float(i), "{}") for i in range(20)]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).coalesce(1).write.parquet(f"{src}/events.parquet")

    table_path = str(tmp_path / "delta_sink")
    write_delta_commit0(
        spark, spark.createDataFrame([], "event_id long, value double"), table_path
    )

    stream = events_stream(spark, f"{src}/events.parquet").select(
        "event_id", "value"
    )
    q = stream.writeStream.foreachBatch(
        lambda batch_df, _bid: append_delta_commit(spark, batch_df, table_path)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert table_version(table_path) >= 1
    got = sorted(
        (r["event_id"], r["value"])
        for r in read_delta_via_log(spark, table_path).collect()
    )
    assert got == [(i, float(i)) for i in range(20)]
