"""Per-session memos (catalog.table reads, spread, events_stream schema).

The memo holds LAZY DataFrames only — every action still scans parquet —
so the contract to pin is identity/isolation: same (session, sf_dir,
name) → same object (the listing+schema cost is paid once); different
sf_dir → different object; the events nanos flag is set on memo hits
too; and a new session empties what the old one memoized.
"""

from __future__ import annotations

import shutil
from types import SimpleNamespace

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import (
    session_memo,
    spread,
    table,
)


def test_table_memo_hits_within_session(spark, sf_dir):
    a = table(spark, sf_dir, "documents")
    b = table(spark, sf_dir, "documents")
    assert a is b


def test_table_memo_keyed_by_sf_dir(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path / "documents.parquet")
    a = table(spark, sf_dir, "documents")
    b = table(spark, str(tmp_path), "documents")
    assert a is not b
    # and the memoized plans really point at different fixture files
    assert set(a.inputFiles()) != set(b.inputFiles())


def test_events_nanos_flag_set_on_memo_hit(spark, sf_dir):
    table(spark, sf_dir, "events")  # populate
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df = table(spark, sf_dir, "events")  # memo hit must restore the flag
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    # ts is usable event time at any SF (nanos→timestamp at sf0.1;
    # smaller fixtures carry parquet TIMESTAMP_NTZ natively)
    assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")


def test_spread_parallelizes_unsplittable_scan(spark, sf_dir):
    """The fixture parquet is one row group → a 1-task scan; spread must
    round-robin it across >1 partitions without changing the rows."""
    docs = table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == 1
    wide = spread(docs)
    assert wide.rdd.getNumPartitions() > 1
    # memoized per base frame: second call answers the same object
    assert spread(docs) is wide
    # row-identical (round-robin moves rows, never drops/duplicates)
    a = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in wide.select("doc_id").collect())
    assert a == b


def test_spread_memo_honours_parts(spark, sf_dir):
    """A memo hit must not answer a call with a different ``parts``:
    the explicit size is part of the memo key."""
    docs = table(spark, sf_dir, "documents")
    default = spread(docs)
    three = spread(docs, parts=3)
    assert three.rdd.getNumPartitions() == 3
    # each size keeps its own memo entry
    assert spread(docs) is default
    assert spread(docs, parts=3) is three


def test_spread_noops_on_wide_frames(spark, sf_dir):
    """A frame that already has enough partitions passes through
    untouched (the production no-op guard: splittable scans arrive
    pre-partitioned)."""
    wide = spread(table(spark, sf_dir, "documents"))
    assert spread(wide) is wide


def test_spread_memo_skips_derived_frames(spark, sf_dir):
    """Only the frames ``table()`` returns are memoized: a fresh derived
    frame per call (one per micro-batch on the incremental dedup path)
    adds no entry, so the memo stays bounded."""
    docs = table(spark, sf_dir, "documents")
    spread(docs)
    before = len(session_memo(spark)["spread"])
    for i in range(50):
        spread(docs.filter(docs.doc_id != i))
    assert len(session_memo(spark)["spread"]) == before


def test_memo_is_lazy_only(spark, sf_dir):
    """Nothing in the memo is persisted/cached — storageLevel stays NONE."""
    df = table(spark, sf_dir, "lineitem")
    assert df.storageLevel.useMemory is False
    assert df.storageLevel.useDisk is False
    assert session_memo(spark)["read"][(sf_dir, "lineitem")] is df


def test_new_session_empties_the_memo(spark, sf_dir):
    """A session with another applicationId replaces the memo and empties
    the old one, so no entry (nor its py4j objects) outlives its session;
    the live session then starts from an empty memo again."""
    table(spark, sf_dir, "region")
    filled = session_memo(spark)
    assert filled["read"]
    other = SimpleNamespace(_graft_app_id="app-of-another-session")
    assert session_memo(other) == {}
    assert filled == {}
    assert session_memo(spark) == {}
    assert table(spark, sf_dir, "region") is table(spark, sf_dir, "region")
