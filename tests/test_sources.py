"""Spark's own format round trips beyond the parquet fixtures: CSV and
JSON with explicit schemas (never inferSchema on the read path — a
schema inference pass over 100 TB is a full extra scan), and a
partitioned parquet write read back with partition pruning. ORC is
``orc_scan`` and Delta is ``sources/delta.py``, each tested with its
query."""

import pytest
from pyspark.sql import functions as F

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents").select("doc_id", "text", "lang")


def assert_same(a, b):
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_csv_roundtrip(spark, docs, tmp_path):
    out = str(tmp_path / "docs_csv")
    docs.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(out)
    back = spark.read.schema(docs.schema).option("header", True).csv(out)
    assert_same(docs, back)


def test_json_roundtrip(spark, docs, tmp_path):
    out = str(tmp_path / "docs_json")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(docs.schema).json(out)
    assert_same(docs, back)


def test_partitioned_parquet_write_prunes(spark, docs, tmp_path):
    """Hive-style partitioned write + partition pruning on read — the
    layout primitive for time/tenant-partitioned 100 TB tables."""
    out = str(tmp_path / "docs_part")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out)
    one_lang = docs.select("lang").first()["lang"]
    import io
    from contextlib import redirect_stdout

    filtered = back.filter(F.col("lang") == one_lang)
    buf = io.StringIO()
    with redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert filtered.count() == docs.filter(F.col("lang") == one_lang).count()


def test_approx_agg_error_bounds(spark, sf_dir):
    """The approx_agg contract (VERDICT r1 item 7): the sketch answers
    must sit within 3·rsd of the declared exact companion
    (exact_distinct_agg), rsd = 0.05 being approx_count_distinct's
    default standard error; the sketch median must land inside the
    exact p40-p60 band. Both queries run through their registry entries
    so the bound checks exactly what the driver sees."""
    import __spark_entry__ as E

    qs = E.queries()
    approx = qs["approx_agg"](spark, sf_dir).first()
    exact = qs["exact_distinct_agg"](spark, sf_dir).first()
    rsd = 0.05
    assert approx["n"] == exact["n"]  # exact COUNT(*) rides both
    rel = abs(approx["approx_parts"] - exact["exact_parts"]) / exact["exact_parts"]
    assert rel <= 3 * rsd, f"HLL++ error {rel:.4f} exceeds 3*rsd"
    li = table(spark, sf_dir, "lineitem")
    band = li.agg(
        F.expr("percentile(l_extendedprice, 0.4)").alias("p40"),
        F.expr("percentile(l_extendedprice, 0.6)").alias("p60"),
    ).first()
    assert band["p40"] <= approx["approx_median_price"] <= band["p60"]
