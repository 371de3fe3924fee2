"""Incremental fuzzy dedup over a document stream.

The continuous-ingestion counterpart of ``plans.dedup.dedup_minhash_lsh``:
every micro-batch of new documents is MinHash-signed, banded, and joined
against the *accumulated band index* of everything seen so far; matches
(new ⋈ corpus and new ⋈ new) are emitted, then the new bands are
appended to the index. This is the foreachBatch pattern — the index and
match log live in parquet dirs here, exactly where a Delta/Iceberg
upsert would sit in production; the per-batch logic is the batch
engine's own functions, which is the point of foreachBatch.

Invariant (tested): the union of matches over all micro-batches equals
the one-shot batch LSH pair set — each pair is discovered when its
second member arrives.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.dedup import _MAX_BUCKET, minhash_bands, minhash_signatures


def incremental_minhash_dedup(
    spark: SparkSession,
    docs: DataFrame,
    n_slices: int = 3,
    max_bucket: int = _MAX_BUCKET,
) -> DataFrame:
    """Run the document set through a file-source stream in ``n_slices``
    micro-batches (maxFilesPerTrigger=1) and return the discovered
    near-dup pairs (a_id < b_id, distinct).

    ``max_bucket`` mirrors the batch plan's ``_MAX_BUCKET`` degenerate-
    bucket guard (ADVICE r9): each micro-batch drops (band_id, band_key)
    buckets whose ACCUMULATED size exceeds the cap before the pair join,
    so a boilerplate bucket can't go quadratic mid-stream. Semantics
    delta vs batch, by construction of incrementality: pairs a bucket
    emitted before crossing the cap persist (the batch form drops the
    whole bucket retroactively), so the batch-equality invariant holds
    exactly on corpora where no bucket crosses the cap mid-stream —
    which includes every fixture, and the cap-crossing case is pinned
    by tests/test_streaming.py::test_incremental_dedup_bucket_cap."""
    work = tempfile.mkdtemp(prefix="incr_dedup_")
    src_dir = os.path.join(work, "src")
    index_dir = os.path.join(work, "index")
    matches_dir = os.path.join(work, "matches")

    # stage deterministic slices as individual files (one per micro-batch).
    # Sliced by doc_id MODULO, not by contiguous [i*per, (i+1)*per) ranges:
    # the range form assumed doc_ids are dense in [0, count) — on a corpus
    # with sparse or high ids (snapshots, tombstoned ranges) every
    # out-of-range doc silently skipped the stream and its pairs were
    # never discovered (round-9 hostile-fixture sweep).
    for i in range(n_slices):
        (
            # pmod, not %: Spark's % keeps the dividend's sign, so a
            # negative doc_id would fall outside every [0, n) slice
            docs.filter(F.pmod(F.col("doc_id"), F.lit(n_slices)) == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src_dir, f"slice={i:03d}"))
        )

    schema = docs.schema

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        new_bands = minhash_bands(minhash_signatures(batch_df))
        if os.path.exists(index_dir):
            known = spark.read.parquet(index_dir)
            all_bands = known.unionByName(new_bands)
        else:
            all_bands = new_bands
        # accumulated-bucket cap: buckets already past max_bucket are
        # degenerate (boilerplate) — exclude them from the pair join so
        # per-batch work stays density-bound, as in the batch plan
        ok = (
            all_bands.groupBy("band_id", "band_key")
            .count()
            .filter(F.col("count") <= max_bucket)
            .drop("count")
        )
        nb = new_bands.join(ok, ["band_id", "band_key"], "left_semi").alias("nb")
        ab = all_bands.join(ok, ["band_id", "band_key"], "left_semi").alias("ab")
        pairs = (
            nb.join(
                ab,
                (F.col("nb.band_id") == F.col("ab.band_id"))
                & (F.col("nb.band_key") == F.col("ab.band_key"))
                & (F.col("nb.doc_id") != F.col("ab.doc_id")),
            )
            .select(
                F.least("nb.doc_id", "ab.doc_id").alias("a_id"),
                F.greatest("nb.doc_id", "ab.doc_id").alias("b_id"),
            )
            .distinct()
        )
        pairs.write.mode("append").parquet(matches_dir)
        new_bands.write.mode("append").parquet(index_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    q = stream.writeStream.foreachBatch(process_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        # the returned frame reads only matches_dir: the staged corpus
        # and the band index are dead once the stream has stopped
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(index_dir, ignore_errors=True)

    if not os.path.exists(matches_dir):
        return spark.createDataFrame([], "a_id long, b_id long")
    return (
        spark.read.parquet(matches_dir)
        .distinct()
        .orderBy("a_id", "b_id")
    )
