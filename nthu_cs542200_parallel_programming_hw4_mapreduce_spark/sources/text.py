"""Chunked line-text source — the reference's O1 (hw4.cc:61-80).

The reference concatenates every ``chunk_size`` lines into one chunk
string on every MPI rank (redundantly — quirk Q6). Here the file is read
once, distributed, by Spark's JVM text scan (``spark.read.text``), and
chunk assembly is a DataFrame aggregation; quirk Q2 (delimiter-less
concatenation, hw4.cc:72) is an explicit flag. No row leaves the JVM.

Chunk ids need each line's global, file-ordered index. The scan numbers
rows with ``monotonically_increasing_id()``, which is dense within one
scan block (a file split) but not across blocks, so a block-offset
ordinal turns it into a line number: one bounded eager aggregation
counts the rows of each (file, block start) and takes their smallest
id, and the driver turns those #blocks rows into exclusive prefix
offsets. Hadoop's ``LineRecordReader`` gives every line to the split it
starts in, so ordering blocks by (path, start) is the file's order
however Spark packs splits into partitions.

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
    its smallest ``mid``. The offsets cost one eager aggregation (a
    shuffle-map job and a result job under AQE) whose collect is bounded
    by the number of scan blocks, not lines; the map of them is a
    #blocks-entry literal in the plan. The frame must run on the
    splits it was built on: if the file or the split settings
    (``spark.sql.files.maxPartitionBytes`` and the like) change in
    between, a row of an unknown block fails the job instead of getting
    a wrong index.
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
    blocks = (
        scan.groupBy("block")
        .agg(F.min("mid").alias("first"), F.count("*").alias("n"))
        .collect()
    )  # bounded: one row per scan block
    keys, offsets, acc = [], [], 0
    for r in sorted(blocks, key=lambda r: r["block"]):  # (path, start): file order
        keys.append(F.struct(*map(F.lit, r["block"])))
        offsets.append(F.lit(acc - r["first"]))
        acc += r["n"]
    offset = F.map_from_arrays(
        F.array(*keys).cast("array<struct<path:string,start:bigint>>"),
        F.array(*offsets).cast("array<bigint>"),
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
