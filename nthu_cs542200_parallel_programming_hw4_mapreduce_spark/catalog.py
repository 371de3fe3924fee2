"""Table catalog over the driver's parquet fixtures.

The reference's only "catalog" is a CLI filename argument plus a
hard-coded (string,int) schema (hw4.cc:15, 42-49). Here every fixture
table is a parquet scan — columnar, with predicate pushdown and column
pruning supplied by the data source (SURVEY.md §2.2 "file formats").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Per-SESSION memo of the lazy source DataFrames, ``session_memo(spark)
#: ["read"]`` keyed by (sf_dir, name): the parquet relations are
#: registered once per session. A DataFrame here is an UNEXECUTED logical plan:
#: no rows, no results, nothing persisted — every action still scans
#: the parquet from disk. What the memo removes is the ~70-90 ms the
#: driver spends PER `spark.read.parquet` CALL on file listing + footer
#: schema inference, paid 1-3× by every one of the 180 bench queries in
#: one session (measured tools/floor_probe.py: fresh agg_count 379 ms →
#: 280 ms with the read memoized). Keyed by exact (sf_dir, name) so
#: distinct fixtures never alias. Fixture files are immutable per path
#: (tests stage into fresh tempdirs), which is the one assumption a
#: memoized file listing adds.


def _application(spark: SparkSession) -> str:
    """applicationId with the py4j round trip paid once per session."""
    cached = getattr(spark, "_graft_app_id", None)
    if cached is None:
        cached = spark.sparkContext.applicationId
        try:
            spark._graft_app_id = cached
        except AttributeError:
            pass
    return cached


_SESSION_MEMO: tuple[str | None, dict] = (None, {})


def session_memo(spark: SparkSession) -> dict:
    """The live session's memo: one dict, keyed by memo name
    (``"read"``, ``"spread"``, ``"schema"``), that every per-session
    memo in the package lives under. A new applicationId replaces it
    and empties the old one, so no entry (or its py4j objects) outlives
    its session; a process has one SparkContext at a time, so one
    owner is enough."""
    global _SESSION_MEMO
    app = _application(spark)
    if _SESSION_MEMO[0] != app:
        _SESSION_MEMO[1].clear()
        _SESSION_MEMO = (app, {})
    return _SESSION_MEMO[1]


def spread(df: DataFrame) -> DataFrame:
    """Parallelize a small UNSPLITTABLE scan before CPU-heavy narrow
    work (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read").

    Parquet splits cannot cross row-group boundaries, and each fixture
    table is one file with ONE row group — so every scan is a single
    task and a narrow pipeline after it (explode → md5 → partial agg,
    the LSH/signature family) runs serially no matter how many cores
    the session has (measured: minhash_signatures 1.33 s serial →
    0.65 s spread at sf0.1). Round-robin the rows first, sized by input
    bytes (~64 KB/task — small files get a handful of real tasks, not
    ``defaultParallelism`` slivers) and capped at the session's cores.

    Scale posture: a production scan of splittable files already has
    ≥ target partitions, so this is a structural NO-OP there — the
    guard compares the actual scan partition count, not a constant.
    Non-file sources (or remote storage, where the source provides
    splits) pass through untouched.

    Decisions are memoized in ``session_memo(spark)["spread"]`` under
    the (sf_dir, name) of the ``table()`` read that ``df`` is, so the
    memo holds at most one entry per fixture table. Any other frame
    (the incremental dedup path passes a new one per micro-batch) is
    never passed twice and adds no entry."""
    spark = df.sparkSession
    memo = session_memo(spark)
    spreads = memo.setdefault("spread", {})
    key = next((k for k, t in memo.get("read", {}).items() if t is df), None)
    if key in spreads:
        return spreads[key]
    out = df
    files = df.inputFiles()
    local = [f.removeprefix("file:") for f in files if f.startswith("file:")]
    if files and len(local) == len(files):
        nbytes = sum(os.path.getsize(f) for f in local if os.path.exists(f))
        cores = spark.sparkContext.defaultParallelism
        target = max(2, min(cores, (nbytes + 65_535) // 65_536))
        if df.rdd.getNumPartitions() < target:
            out = df.repartition(target)
    if key is not None:
        spreads[key] = out
    return out


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table; Catalyst prunes columns and
    pushes predicates into this scan automatically.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright — read it as raw nanos (legacy flag) and
    convert to a microsecond TimestampType with integer division (a
    double division would lose precision: ns epochs ≈ 1.7e18 exceed a
    double's 2^53 integer range). DuckDB's epoch_us truncates the same
    way, so the engines agree on every microsecond.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    reads = session_memo(spark).setdefault("read", {})
    got = reads.get((sf_dir, name))
    if name == "events":
        # set on every call (memo hit included): the flag also guards
        # the vectorized reader's execution-time nanos handling, and
        # other session users may have flipped it between calls
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if got is not None:
        return got
    if name == "events":
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    reads[(sf_dir, name)] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
