"""Chunked line-text source — the reference's O1 (hw4.cc:61-80).

The reference concatenates every ``chunk_size`` lines into one chunk
string on every MPI rank (redundantly — quirk Q6). Here the file is read
once, distributed, by Spark's JVM text scan (``spark.read.text``), and
chunk assembly is a DataFrame aggregation; quirk Q2 (delimiter-less
concatenation, hw4.cc:72) is an explicit flag. No row leaves the JVM.

Chunk ids need each line's global, file-ordered index. The scan numbers
rows with ``monotonically_increasing_id()``, which is dense within one
scan block (a file split) but not across blocks, so a block-offset
ordinal turns it into a line number: ``idx = mid + offset[block]``.
The planned scan's file splits are read first, from the JVM plan, which
runs no Spark job. An input of at most one block (at default settings,
any file up to ``spark.sql.files.openCostInBytes``, 4 MB) needs no
counting: its one block starts at id 0, so its offset is 0. If that
block also fits in ``spark.sql.files.maxPartitionBytes`` the scan is
coalesced to one partition, and Catalyst then plans chunk assembly,
tokenizing and word counting inside the scan task with no exchange, as
the reference's map task does (hw4.cc O1-O5 in one thread); a larger
non-splittable input (a big ``.gz``) keeps its parallel shuffles. An
input of several blocks pays one bounded eager aggregation that counts
the rows of each (file, block start) and takes their smallest id, and
the driver turns those #blocks rows into exclusive prefix offsets.
Hadoop's ``LineRecordReader`` gives every line to the split it starts
in, so ordering blocks by (path, start) is the file's order however
Spark packs splits into partitions.

At scale you would not chunk by line count at all — Spark's file splits
(``spark.sql.files.maxPartitionBytes``) do this job natively (SURVEY.md
§1.4); this source exists for faithful-mode parity, where chunk ids are
load-bearing (the locality table and task count key off them, Q7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def chunked_lines(
    spark: SparkSession,
    path: str,
    chunk_size: int,
    fuse_chunk_lines: bool = False,
) -> DataFrame:
    """Return (chunk_id, chunk) with 1-based chunk ids, ``chunk_size``
    lines per chunk; an empty file gives an empty frame.

    ``fuse_chunk_lines=True`` reproduces Q2: lines concatenated with no
    separator, so the last word of line k fuses with the first word of
    line k+1 unless lines end with a space. Default inserts a single
    space (the fix).

    Line numbering is the file's order: ``idx = mid + offset[block]``,
    where ``mid`` is the scan's ``monotonically_increasing_id()`` and
    ``offset[block]`` is the block's exclusive prefix line count minus
    its smallest ``mid``. The scan's file splits are read from its
    physical plan, which starts no job. With at most one block the
    offset map is ``{block: 0}`` and no job runs while the frame is
    built; if the block is no larger than
    ``spark.sql.files.maxPartitionBytes`` the scan is also coalesced to
    one partition, so the frame and the word count over it plan no
    exchange. With more blocks the offsets cost one eager aggregation
    (a shuffle-map job and a result job under AQE) whose collect is
    bounded by the number of scan blocks, not lines. Either way the map
    of offsets is a #blocks-entry literal in the plan, and the frame
    must run on the splits it was built on: if the file or the split
    settings (``spark.sql.files.maxPartitionBytes`` and the like)
    change in between, a row of an unknown block fails the job instead
    of getting a wrong index.
    """
    sep = "" if fuse_chunk_lines else " "
    scan = spark.read.text(path).select(
        "value",
        F.struct(
            F.col("_metadata.file_path").alias("path"),
            F.col("_metadata.file_block_start").alias("start"),
        ).alias("block"),
        F.monotonically_increasing_id().alias("mid"),
    )
    splits = _file_splits(spark, scan)
    if splits is not None and len(splits) <= 1:
        offsets = {block: 0 for block, _ in splits}  # partition 0: ids start at 0
        max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        if splits and splits[0][1] <= max_bytes:
            scan = scan.coalesce(1)
    else:
        blocks = (
            scan.groupBy("block")
            .agg(F.min("mid").alias("first"), F.count("*").alias("n"))
            .collect()
        )  # bounded: one row per scan block
        offsets, acc = {}, 0
        for r in sorted(blocks, key=lambda r: r["block"]):  # (path, start): file order
            offsets[tuple(r["block"])] = acc - r["first"]
            acc += r["n"]
    offset = F.map_from_arrays(
        F.array(*(F.struct(*map(F.lit, b)) for b in offsets)).cast(
            "array<struct<path:string,start:bigint>>"
        ),
        F.array(*map(F.lit, offsets.values())).cast("array<bigint>"),
    )  # typed even when empty: an empty file has no blocks
    known = F.coalesce(
        offset[F.col("block")],
        F.raise_error(F.lit(f"scan blocks of {path} changed after the line index was built")),
    )
    lines = scan.select("value", (F.col("mid") + known).alias("idx"))
    return (
        lines.withColumn("chunk_id", F.expr(f"idx div {int(chunk_size)}") + 1)
        .groupBy("chunk_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "value"))),
                    lambda s: s["value"],
                ),
            ).alias("chunk")
        )
    )


def _file_splits(spark: SparkSession, frame: DataFrame) -> list[tuple[tuple[str, int], int]] | None:
    """``((path, start), length)`` of every file split the scan under
    ``frame`` reads, ``(path, start)`` in ``_metadata``'s
    (``file_path``, ``file_block_start``) form; None when its plan does
    not end in one ``FileSourceScanExec`` (a DataSource V2 text scan, or
    AQE forced onto a plan with no exchange). Plans ``frame`` but runs
    no job. The splits are the scan's ``FilePartition`` files, reached
    through the JVM plan (``FileSourceScanExec.inputRDD``). A split names its file
    ``file:///…`` where ``_metadata.file_path`` says ``file:/…``, so the
    path is rebuilt from the URI's parts, staying URL-encoded."""
    leaves = frame._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    scans = [s for s in scans if s.getClass().getSimpleName() == "FileSourceScanExec"]
    if len(scans) != 1:
        return None
    uri = spark._jvm.java.net.URI
    splits = []
    for part in scans[0].inputRDD().partitions():
        for f in part.files():
            u = f.filePath().toUri()
            path = uri(u.getScheme(), u.getAuthority(), u.getPath(), None, None).toString()
            splits.append(((path, f.start()), f.length()))
    return splits


def read_locality_table(path: str) -> dict[int, int]:
    """Parse the ``chunk_id node_id`` locality config (hw4.cc:87-96).

    Driver-side (the file is tiny — one line per map task). The
    reference folds node ids onto live ranks with ``node_id % (node-1)
    + 1``; that fold depends on the MPI world size, so it's applied by
    the caller that knows its worker count. Spark schedules with its own
    locality machinery (SURVEY.md §2.1 O2/O12 — nothing to build), so
    this table's only load-bearing role in faithful mode is Q7: the
    number of map tasks equals the number of entries.
    """
    table: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 2:
                table[int(parts[0])] = int(parts[1])
    return table
