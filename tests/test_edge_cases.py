"""Edge cases: empty results, single rows, degenerate inputs — every
operator must degrade gracefully, not throw."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import table
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.dedup import (
    connected_components,
    shingle_rows,
)


def test_wordcount_on_empty_filter(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 0)
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.core import wordcount

    assert wordcount(docs).count() == 0


def test_shingles_on_empty_input(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 0)
    assert shingle_rows(docs).count() == 0


def test_connected_components_no_edges(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id").limit(10)
    edges = spark.createDataFrame([], "a_id long, b_id long")
    labels = connected_components(docs, edges)
    assert all(r["doc_id"] == r["cluster"] for r in labels.collect())


def test_knn_single_query(spark, sf_dir):
    """Filters that leave one query vector still produce k rows."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.functions import vectors as V

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cos = V.cosine(F.col("qe"), F.col("c.embedding"))
    scored = (
        emb.alias("c").crossJoin(F.broadcast(q))
        .filter(F.col("c.vec_id") != F.col("q_id"))
        .select("q_id", F.col("c.vec_id").alias("n_id"), cos.alias("cos"))
        .orderBy(F.col("cos").desc())
        .limit(3)
    )
    assert scored.count() == 3


def test_mllib_lsh_matches_exact_jaccard_truth(spark, sf_dir):
    """dedup_minhash_mllib's deterministic correctness anchor (VERDICT
    r8 #5 — the last dedup-family rows-only query gets more than a row
    count). Two halves:

    * SOUNDNESS (guaranteed by semantics, any data): every emitted
      pair's jaccard_dist must equal the EXACT 3-shingle Jaccard
      distance recomputed independently in DuckDB and sit under the
      0.5 threshold — this also proves HashingTF's 2^18-bucket
      hashing introduced no collision distortion on this corpus;
    * RECALL (fixture-pinned, seed 42): on this corpus the MLlib
      candidate set happens to cover ALL true pairs, so the pair SET
      equals the exact truth. LSH recall is probabilistic in general —
      if the fixture or MLlib's hash family changes this half may
      legitimately become ⊂; soundness is the invariant half."""
    import duckdb

    pairs = E.queries()["dedup_minhash_mllib"](spark, sf_dir).toPandas()
    assert len(pairs) > 0  # fixtures contain near-dups; empty = regression
    assert (pairs["a_id"] < pairs["b_id"]).all()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    truth = con.execute(r"""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(l) - 2, 0) + 1),
                   i -> array_to_string(l[i:i+2], ' '))) AS shingles
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
                FROM documents)
        ),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                 len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE AS jac
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
        )
        SELECT a_id, b_id, round(1.0 - jac, 6) AS jaccard_dist
        FROM p WHERE jac > 0.5 ORDER BY a_id, b_id
    """).df()
    mset = set(zip(pairs["a_id"], pairs["b_id"]))
    tset = set(zip(truth["a_id"], truth["b_id"]))
    # soundness: no emitted pair outside the exact truth...
    assert mset <= tset, f"unsound pairs: {sorted(mset - tset)[:5]}"
    # ...and each emitted distance is the exact distance, bit-for-bit
    # after the query's own 6-dp rounding (no HashingTF collision skew)
    merged = pairs.merge(truth, on=["a_id", "b_id"], suffixes=("_ml", "_ex"))
    assert len(merged) == len(pairs)
    assert (merged["jaccard_dist_ml"] == merged["jaccard_dist_ex"]).all()
    # fixture-pinned recall (seed 42): full coverage on this corpus
    assert mset == tset, f"missed true pairs: {sorted(tset - mset)[:5]}"


def test_turkish_i_is_the_known_casefold_gap(spark):
    """Divergence class 12 (round-12 Unicode audit, documented in
    tests/test_hostile_parity.py's class list): U+0130 is the ONE code
    point where Spark's Unicode-correct lower() ('i' + combining dot,
    per SpecialCasing) differs from DuckDB/utf8proc's simple fold
    ('i'). This test pins BOTH sides' current behavior and the
    agreement of the neighboring hard cases — if an engine upgrade
    changes any of it, the case-folding audit must be re-run before
    trusting lower()-based CORRECTNESS history. The repo contract:
    corpora containing U+0130 fold it at ingestion (NFKC/ICU), so it
    is deliberately absent from the hostile fixture."""
    import duckdb

    from pyspark.sql import functions as F

    samples = ["İ", "ÉCLAIR", "STRASSE ẞ", "СЛОВО", "ǅungeon"]
    got = {
        s: r.l
        for s, r in zip(
            samples,
            spark.createDataFrame([(s,) for s in samples], "x string")
            .select(F.lower("x").alias("l"))
            .collect(),
        )
    }
    con = duckdb.connect()
    duck = {s: con.execute("SELECT lower(?)", [s]).fetchone()[0] for s in samples}
    # the one known gap, pinned on both sides
    assert got["İ"] == "i̇" and duck["İ"] == "i"
    # every neighboring hard case agrees
    for s in samples[1:]:
        assert got[s] == duck[s], s


def test_mapreduce_recovers_from_stale_staging(spark, sf_dir, tmp_path):
    """A leftover staging dir from an interrupted run must not break the
    next run (saveAsTextFile refuses existing paths)."""
    import os

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.operators.mapreduce import (
        JobConfig,
        run_job,
    )

    inp = tmp_path / "in.txt"
    inp.write_text("a b c \nd e f \n")
    out_dir = tmp_path / "out"
    stale = out_dir / "_j_parts" / "_temporary"
    stale.mkdir(parents=True)
    cfg = JobConfig("j", 2, 0, str(inp), 1, None, str(out_dir))
    run_job(spark, cfg)
    assert os.path.exists(out_dir / "j-1.out")
    assert not os.path.exists(out_dir / "_j_parts")


@pytest.fixture(scope="module")
def empty_tables(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_fixture"))
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    ev = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_text_operators_on_empty_corpus(spark, empty_tables):
    """Corpus-stat denominators (avgdl, gram totals, PMI totals) must
    null out, not divide-by-zero, when the corpus is empty."""
    for name in ("bm25_topk", "dsir_importance", "pmi_collocations",
                 "contamination_overlap"):
        assert E.queries()[name](spark, empty_tables).count() == 0, name


def test_event_operators_on_empty_events(spark, empty_tables):
    assert E.queries()["retention_cohorts"](spark, empty_tables).count() == 0
    assert E.queries()["anomaly_zscore"](spark, empty_tables).count() == 0
    r = E.queries()["funnel_conversion"](spark, empty_tables).collect()[0]
    assert (r["n_view"], r["n_click"], r["n_purchase"]) == (0, 0, 0)
    assert r["r_click"] is None and r["r_purchase"] is None  # nullif guard


def test_anomaly_zscore_single_event_per_type(spark, tmp_path):
    """n=1 makes the sample stddev undefined (n-1=0): the row must drop
    silently (null predicate), never raise or emit NaN."""
    from datetime import datetime as dt

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.streaming import (
        anomaly_zscore,
    )

    df = spark.createDataFrame(
        [(0, dt(2024, 1, 1), 1, "click", 5.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    assert anomaly_zscore(spark, str(tmp_path)).count() == 0


def test_pq_encode_with_tiny_codebook(spark, tmp_path):
    """Fewer vectors than the codebook size: codes stay in-range and
    every vector still encodes (no crash on the short collect)."""
    import random

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        pq_encode,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)], "l") for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = pq_encode(spark, str(tmp_path)).collect()
    assert len(out) == 5
    assert all(0 <= r[f"code_{m}"] < 5 for r in out for m in range(8))


def test_zvalue_is_bijective_on_the_bit_grid(spark):
    """Interleaving must hit every cell exactly once: 256 distinct
    (a,b) pairs on a 16x16 grid -> 256 distinct z-values within 8 bits."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.core import zvalue

    grid = spark.range(16).selectExpr("id AS a").crossJoin(
        spark.range(16).selectExpr("id AS b")
    )
    z = grid.select(zvalue(F.col("a"), F.col("b")).alias("z"))
    assert z.distinct().count() == 256
    assert z.agg(F.max("z")).first()[0] < 256


def test_json_quarantine_routes_malformed(spark, tmp_path_factory):
    import datetime

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.core import (
        json_quarantine,
    )

    t = datetime.datetime(2026, 1, 1)
    rows = [
        (0, t, 1, "m", 1.0, '{"k": 5}'),   # % 11 == 0 → corrupted in-query
        (1, t, 1, "m", 1.0, '{"k": 7}'),
        (2, t, 1, "m", 1.0, '{"k": 9}'),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = str(tmp_path_factory.mktemp("jsonq"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    r = json_quarantine(spark, d).first()
    assert (r["n_valid"], r["n_quarantined"], r["k_sum"]) == (2, 1, 16)


def test_new_batches_survive_empty_tables(spark, tmp_path_factory):
    """Every batch-7..13 operator must return an empty (or
    zero-row-derived) result on empty inputs, never raise — the
    degenerate-input discipline of the earlier batches."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark import registry

    d = str(tmp_path_factory.mktemp("degen"))
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    spark.createDataFrame(
        [],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")

    qs = registry.all_queries()
    # singleton aggs return one (all-null/zero) row on empty input
    expected_rows = {
        "triangle_count": 1,
        "json_quarantine": 1,
        "chi2_independence": 1,
        "gini_label_balance": 1,
    }
    for name in [
        "snapshot_diff", "scd2_history", "compaction_bins", "paragraph_dedup",
        "pagerank_events", "triangle_count", "reachability_bfs",
        "attribution_last_touch", "heavy_hitters", "dictionary_encode",
        "encode_corpus", "bpe_merges", "k_anonymity_suppress", "merge_upsert",
        "linreg_by_key", "json_quarantine", "streaming_topk",
        "streaming_stream_join",
        # batch 33
        "drift_ks_test", "time_weighted_avg", "session_paths_topk",
        "value_histogram", "entropy_profile", "chi2_independence",
        "l_diversity_check", "tfidf_cosine_pairs",
        # batch 34
        "gini_label_balance", "burst_detection", "vocab_growth_curve",
        "user_overlap_jaccard",
        # round 8
        "drift_ks_binned", "dedup_embedding_band_keys",
    ]:
        assert qs[name](spark, d).count() == expected_rows.get(name, 0), name


def test_sliding_distinct_users_hour_boundary_event(spark, tmp_path_factory):
    """An event landing EXACTLY on an hour boundary must agree between
    the Spark hour-bucket explode and the DuckDB oracle (ADVICE r3: the
    old oracle's (h−23h, h+1h] microsecond edges disagreed with bucket
    semantics precisely there; both now use half-open [h−23h, h+1h))."""
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("boundary"))
    rows = [
        # boundary-aligned event: belongs to its own bucket only
        (1, "2024-01-01 05:00:00.000000", 10, "view", 1.0, "{}"),
        # mid-hour events 23h and 24h later: probe both window edges
        (2, "2024-01-02 04:30:00.000000", 11, "view", 1.0, "{}"),
        (3, "2024-01-02 05:30:00.000000", 12, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        f"{d}/events.parquet"
    )

    sdf = E.queries()["sliding_distinct_users"](spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    ddf = con.execute(E.oracle_sql()["sliding_distinct_users"]).df()
    assert not compare("sliding_distinct_users", sdf, ddf)
    # hand-check the bucket convention: the boundary event (day1 05:00)
    # occupies bucket day1-05 → last window it can reach is h=day2 04:00
    # ([h-23h, h+1h) with h-23h = day1 05:00 INCLUSIVE); the old oracle's
    # strict > trailing edge dropped it exactly there
    by_hour = {str(r.h): r.dau for r in sdf.itertuples()}
    assert by_hour["2024-01-01 05:00:00"] == 1  # its own hour
    assert by_hour["2024-01-02 04:00:00"] == 2  # boundary user + user 11
    assert by_hour["2024-01-02 05:00:00"] == 2  # boundary user aged out


def test_results_deterministic_under_task_retry(tmp_path):
    """Inject a one-time task failure into a scan→shuffle pipeline and
    assert the retried run produces the exact non-injected result —
    the determinism contract that lets a 1000-executor job survive
    preemptions. Runs in a subprocess because retry budgets are fixed
    at SparkContext creation (local[N, maxFailures])."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        spark = (SparkSession.builder.master("local[4, 3]")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false").getOrCreate())
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

        def flaky(batches):
            from pyspark import TaskContext
            ctx = TaskContext.get()
            if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                raise RuntimeError("injected failure (first attempt only)")
            for pdf in batches:
                yield pdf[["doc_id", "text"]]

        injected = (docs.repartition(4).mapInPandas(flaky, "doc_id long, text string")
                    .select(F.md5("text").alias("fp")).groupBy("fp").count())
        plain = docs.select(F.md5("text").alias("fp")).groupBy("fp").count()
        a = sorted(map(tuple, injected.collect()))
        b = sorted(map(tuple, plain.collect()))
        assert a == b, "retry changed the answer"
        print("RETRY_OK", len(a))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "RETRY_OK" in out.stdout, out.stderr[-2000:]


def test_wide_sort_and_agg_spill_in_small_heap(tmp_path):
    """Spill-awareness proof: a TRUE global sort (sort → write, so the
    optimizer cannot reduce it to TakeOrdered) and a 10M-distinct-key
    aggregation both complete in a 600 MB heap — far below the data's
    in-memory footprint — by spilling, with correct results. Subprocess
    because heap size is fixed at JVM launch."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.driver.memory", "600m")
                 .config("spark.sql.shuffle.partitions", "8")
                 .config("spark.ui.enabled", "false").getOrCreate())
        n = 10_000_000
        df = spark.range(n).select(
            F.col("id"), (F.col("id") * 2654435761 % 1000003).alias("v"))
        # true global sort: terminal write keeps the Sort in the plan
        (df.orderBy("v", "id")
           .write.format("noop").mode("overwrite").save())
        # 10M-distinct-key hash aggregate → must spill, then be exact
        agg = df.groupBy("id").agg(F.sum("v").alias("s"))
        assert agg.count() == n
        total = agg.agg(F.sum("s")).first()[0]
        expect = sum(i * 2654435761 % 1000003 for i in range(0, n, 997)) 
        # cheap spot integrity: sample-sum of every 997th key matches
        sample = (agg.filter(F.col("id") % 997 == 0)
                  .agg(F.sum("s")).first()[0])
        assert sample == expect, (sample, expect)
        print("SPILL_OK", total)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=500
    )
    assert "SPILL_OK" in out.stdout, out.stderr[-2000:]


@pytest.mark.parametrize("regime", ["singleton", "constant", "nulls"])
def test_all_queries_survive_degenerate_tables(
    spark, sf_dir, tmp_path_factory, regime
):
    """EVERY declared query must run (not necessarily return rows)
    against degenerate tables — the regimes where per-group stddevs
    are undefined or zero, CDF sides are empty, windows have no
    neighbors, MADs collapse, and ANSI mode turns unguarded divisions
    into crashes (the class of bug the round-4 property tests caught
    in drift_ks_test / time_weighted_avg / chi2_independence, and this
    sweep caught in anomaly_mad).

    * singleton: exactly one row per table;
    * constant: five rows per table, identical except the first
      (key-ish) column — zero variance with n > 1;
    * nulls: three rows per table with every non-key column NULL —
      the regime that reaches numpy kernels, Python decoders, and
      schema inference (caught 16 crashes in round 4: null vectors
      into np.stack, null payloads into the media decoder, XML
      schema loss on all-null writes, driver-side float(None)).
    """
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark import registry
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import (
        TABLES,
        table,
    )

    d = str(tmp_path_factory.mktemp(regime))
    for t in TABLES:
        # catalog.table handles the events TIMESTAMP(NANOS) rewrite;
        # the rewritten rows land as standard micros, passed through
        one = table(spark, sf_dir, t).limit(1)
        if regime == "nulls":
            one = table(spark, sf_dir, t).limit(3)
            cols = one.columns
            pk = cols[0]
            one = one.select(
                *[
                    F.col(c)
                    if c == pk
                    else F.lit(None).cast(one.schema[c].dataType).alias(c)
                    for c in cols
                ]
            )
        if regime == "constant":
            cols = one.columns
            pk = cols[0]
            rep = one.crossJoin(spark.range(5).withColumnRenamed("id", "_rep"))
            one = rep.select(
                *[
                    (F.col(pk) + F.col("_rep")).alias(pk) if c == pk else F.col(c)
                    for c in cols
                ]
            )
        one.write.mode("overwrite").parquet(f"{d}/{t}.parquet")

    failures = []
    for name, fn in registry.all_queries().items():
        try:
            fn(spark, d).count()
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
    assert not failures, "\n".join(failures)


def test_nonfinite_values_gate_then_parity(spark, tmp_path_factory):
    """The numeric-stat contract (round-4 extreme-value probe): stat
    queries assume FINITE inputs — on NaN/±Inf the DECIMAL-sum
    discipline fails fast under ANSI (correct: corrupted upstream
    surfaces instead of silently skewing stats), `data_expectations`'
    events_value_finite check is the upstream gate that catches the
    corruption, and once the gate's filter is applied the stat
    queries restore exact oracle parity."""
    import math
    from datetime import datetime, timedelta

    import duckdb

    from tools.parity import compare

    t0 = datetime(2024, 1, 10)
    vals = [1.0, 2.0, float("nan"), float("inf"), float("-inf"), 3.0, 2.0, 0.5]
    rows = [
        (
            i,
            t0 + timedelta(hours=i % 40, minutes=i),
            i % 5,
            ["view", "click", "error"][i % 3],
            v,
            "{}",
        )
        for i, v in enumerate(vals * 3)
    ]
    dirty = str(tmp_path_factory.mktemp("dirty"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{dirty}/events.parquet")

    # 1. the gate reports exactly the non-finite rows
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.maintenance import (
        data_expectations,
    )

    # data_expectations needs the other audited tables too
    for t in ("documents", "lineitem", "orders", "customer"):
        table(spark, sf_dir := "/root/testdata/sf0.001", t).limit(5).write.mode(
            "overwrite"
        ).parquet(f"{dirty}/{t}.parquet")
    audit = {
        r["constraint_name"]: r["violations"]
        for r in data_expectations(spark, dirty).collect()
    }
    assert audit["events_value_finite"] == 9  # 3 × (nan, inf, -inf)

    # 2. applying the gate's filter restores oracle parity on queries
    # that crash (ANSI overflow) or diverge (NaN percentiles) dirty
    clean = str(tmp_path_factory.mktemp("clean"))
    df.filter(~(F.isnan("value") | (F.abs("value") == float("inf")))).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{clean}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{clean}/events.parquet/*.parquet')"
    )
    problems = []
    for name in ["event_window", "anomaly_zscore", "anomaly_mad",
                 "winsorized_stats", "value_histogram", "linreg_by_key"]:
        sdf = E.queries()[name](spark, clean).toPandas()
        ddf = con.execute(E.oracle_sql()[name]).df()
        problems += [f"{name}: {p}" for p in compare(name, sdf, ddf)]
    assert not problems, "\n".join(problems)


def test_drift_ks_binned_ignores_null_value_and_null_ts(spark, tmp_path_factory):
    """NULL hygiene (round-8 review hardening): a NULL ``value`` must
    not become a phantom top-bin observation — least()/LEAST skip NULL
    arguments in BOTH engines, so the unguarded formula produced the
    same wrong answer on both sides, invisible to parity — and a NULL
    ``ts`` must not be counted in sample B by the oracle's CASE while
    Spark's (NULL < split) drops the row from both sums. Both classes
    are now filtered; this corpus carries one of each plus four clean
    rows and pins engine == oracle AND the exact counts."""
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("ks_nulls"))
    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, "2024-01-10 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-11 00:00:00", 1, "view", 3.0, "{}"),
        (3, "2024-01-20 00:00:00", 1, "view", 9.0, "{}"),
        (4, "2024-01-21 00:00:00", 1, "view", 11.0, "{}"),
        (5, "2024-01-12 00:00:00", 1, "view", None, "{}"),  # NULL value
        (6, None, 1, "view", 5.0, "{}"),  # NULL ts
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        f"{d}/events.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )

    sdf = E.queries()["drift_ks_binned"](spark, d).toPandas()
    ddf = con.execute(E.oracle_sql()["drift_ks_binned"]).df()
    assert not compare("drift_ks_binned", sdf, ddf)
    # both null rows excluded: samples are {1, 3} vs {9, 11}
    assert len(sdf) == 1
    assert (int(sdf.iloc[0]["n_a"]), int(sdf.iloc[0]["n_b"])) == (2, 2)
    assert sdf.iloc[0]["ks_stat"] == 1.0  # disjoint halves

    # value_histogram shares the bin formula and the NULL-value guard
    # (ts does not feed it, so the NULL-ts row still counts)
    sh = E.queries()["value_histogram"](spark, d).toPandas()
    dh = con.execute(E.oracle_sql()["value_histogram"]).df()
    assert not compare("value_histogram", sh, dh)
    assert int(sh["n"].sum()) == 5  # 6 rows - 1 NULL value


def test_asof_cogroup_tied_signup_visible(spark, tmp_path_factory):
    """A signup tied in ts with another event of the same user, with a
    LARGER event_id (round-8 review): merge_asof's value contract
    (signup_ts <= ts) matches it, so the cogroup oracle's signup-first
    tie-break must surface it — the plain (ts, event_id) window would
    order the signup AFTER the event and hide it. Also pins the genuine
    contract split between the two as-of twins: ``asof_last_signup``
    keeps window-positional semantics (engine AND oracle both hide the
    tied signup), equal to the cogroup twin only on tie-free data."""
    import duckdb
    import pandas as pd

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("asof_tie"))
    rows = [
        (10, "2024-01-01 10:00:00", 1, "pageview", 1.0, "{}"),
        (20, "2024-01-01 10:00:00", 1, "signup", 1.0, "{}"),  # tied, larger id
        (30, "2024-01-02 10:00:00", 1, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        f"{d}/events.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    tied = pd.Timestamp("2024-01-01 10:00:00")

    sdf = E.queries()["asof_cogroup_pandas"](spark, d).toPandas()
    ddf = con.execute(E.oracle_sql()["asof_cogroup_pandas"]).df()
    assert not compare("asof_cogroup_pandas", sdf, ddf)
    got = dict(zip(sdf["event_id"], sdf["last_signup"]))
    assert got[10] == tied  # value contract: the tied signup matches
    assert got[20] == tied and got[30] == tied

    s2 = E.queries()["asof_last_signup"](spark, d).toPandas()
    d2 = con.execute(E.oracle_sql()["asof_last_signup"]).df()
    assert not compare("asof_last_signup", s2, d2)
    got2 = dict(zip(s2["event_id"], s2["last_signup"]))
    assert pd.isna(got2[10])  # positional contract: tied signup hidden
    assert got2[20] == tied and got2[30] == tied


def test_zero_norm_embedding_scores_zero_not_null(spark, tmp_path_factory):
    """dd_cosine's GREATEST(·, 1e-12) floor vs DuckDB's x/0.0 → NULL
    (round-8 review): a zero-norm vector must score a deterministic 0.0
    in BOTH engines — mirroring score_pairs — rather than NULL-ranking
    last in the oracle only. The corpus plants a zero QUERY (vec_id 0)
    and a zero CANDIDATE (vec_id 6); both bucket to all-ones sign bits,
    so they meet in ann_lsh_topk, and before the guard the oracle
    emitted NULL cos for every pair either side of."""
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("zero_norm"))
    dim = 64
    rows = []
    for i in range(10):
        if i in (0, 6):
            vec = [0.0] * dim  # zero-norm: query 0 and candidate 6
        else:
            # small exact-in-float32 integers; no sign-bit knife edges
            vec = [float(((i * 31 + j * 17) % 13) - 6) for j in range(dim)]
        rows.append((i, vec, i % 3))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet/*.parquet')"
    )

    sdf = E.queries()["ann_lsh_topk"](spark, d).toPandas()
    ddf = con.execute(E.oracle_sql()["ann_lsh_topk"]).df()
    assert not compare("ann_lsh_topk", sdf, ddf)
    pair = sdf[(sdf["q_id"] == 0) & (sdf["n_id"] == 6)]
    assert len(pair) == 1 and pair.iloc[0]["cos"] == 0.0

    # the exact baseline rides the same guard: zero query scores 0.0
    # against everything, ranked purely by n_id, identically in both
    s2 = E.queries()["cosine_knn_exact"](spark, d).toPandas()
    d2 = con.execute(E.oracle_sql()["cosine_knn_exact"]).df()
    assert not compare("cosine_knn_exact", s2, d2)
    q0 = s2[s2["q_id"] == 0]
    assert list(q0["n_id"]) == [1, 2, 3] and set(q0["cos"]) == {0.0}


def _write_docs(spark, d, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")


def test_text_oracles_on_null_text_doc(spark, tmp_path_factory):
    """NULL-text documents must take the ENGINE's path in every text
    oracle (round-8 review): lang_id's bare CASE fell through to the
    last language alphabetically ('und' in the engine), text_quality
    emitted NULL token/punct counts (0 in the engine), and
    quality_gopher NULL'd every count and flag. All three oracles now
    coalesce; this corpus carries one NULL doc plus two real ones and
    pins engine == oracle per query plus the headline values."""
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("null_text"))
    _write_docs(spark, d, [
        (1, "the quick brown fox and the lazy dog have it", "en", "web", 45),
        (2, None, "en", "web", 0),
        (3, "le chat et le chien sont dans le jardin", "fr", "web", 40),
    ])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    problems = []
    for name in ["lang_id", "text_quality", "quality_gopher",
                 "token_count_est", "text_scrub_pii"]:
        sdf = E.queries()[name](spark, d).toPandas()
        ddf = con.execute(E.oracle_sql()[name]).df()
        problems += [f"{name}: {p}" for p in compare(name, sdf, ddf)]
    assert not problems, "\n".join(problems)

    lang = dict(zip(*(lambda df: (df["doc_id"], df["lang_pred"]))(
        E.queries()["lang_id"](spark, d).toPandas())))
    assert lang[2] == "und"  # NULL doc: undetermined, never 'fr'-by-CASE-fallthrough
    tq = E.queries()["text_quality"](spark, d).toPandas().set_index("doc_id")
    assert tq.loc[2, "n_tokens"] == 0 and tq.loc[2, "n_punct"] == 0
    qg = E.queries()["quality_gopher"](spark, d).toPandas().set_index("doc_id")
    assert qg.loc[2, "n_words"] == 0 and qg.loc[2, "f_stopwords"] == 0


def test_scrub_pii_flags_length_preserving_scrub(spark, tmp_path_factory):
    """had_pii compares content, not lengths (round-8 review): a 7-char
    email scrubs to the 7-char '<EMAIL>' token, so the old length
    compare reported had_pii=false in BOTH engines after replacing
    PII — the silent shared-wrong-answer class."""
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("pii_len"))
    _write_docs(spark, d, [
        (1, "contact ab@c.de now", "en", "web", 19),      # 7-char email == token len
        (2, "call 555-123-4567 or mail a.very.long.address@example.com", "en", "web", 58),
        (3, "no pii here at all", "en", "web", 18),
    ])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    sdf = E.queries()["text_scrub_pii"](spark, d).toPandas()
    ddf = con.execute(E.oracle_sql()["text_scrub_pii"]).df()
    assert not compare("text_scrub_pii", sdf, ddf)
    got = sdf.set_index("doc_id")
    assert bool(got.loc[1, "had_pii"]) is True  # length-preserving scrub caught
    assert got.loc[1, "scrubbed"] == "contact <EMAIL> now"
    assert bool(got.loc[2, "had_pii"]) is True
    assert got.loc[2, "scrubbed"] == "call <PHONE> or mail <EMAIL>"
    assert bool(got.loc[3, "had_pii"]) is False


def test_udtf_tokenize_ascii_whitespace_contract(spark, tmp_path_factory):
    """The UDTF splits on the explicit class [ \\t\\n\\r\\f]+ exactly
    like the oracle's RE2 \\s (round-8 review + ADVICE r8): Python's
    str.split() also treats Unicode whitespace (NBSP here) as a
    separator, and Python's ASCII \\s additionally includes \\v that
    RE2's \\s lacks \u2014 so a vertical-tab doc must stay ONE token in
    both engines, and an NBSP doc likewise."""
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("nbsp"))
    _write_docs(spark, d, [
        (1, "plain ascii words", "en", "web", 17),
        # the \u00a0 (NBSP) between fused/pair is the point of the test
        (2, "fused\u00a0pair stays one", "en", "web", 20),
        # \x0b (vertical tab): inside Python's ASCII \s, OUTSIDE RE2's
        (3, "vt\x0bfused also one", "en", "web", 16),
    ])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    for name in ["udtf_tokenize", "udtf_analyze_split"]:
        sdf = E.queries()[name](spark, d).toPandas()
        ddf = con.execute(E.oracle_sql()[name]).df()
        assert not compare(name, sdf, ddf), name
    toks = E.queries()["udtf_tokenize"](spark, d).toPandas()
    doc2 = sorted(toks[toks["doc_id"] == 2]["token"])
    assert doc2 == ["fused\u00a0pair", "one", "stays"]  # NBSP does NOT split
    doc3 = sorted(toks[toks["doc_id"] == 3]["token"])
    assert doc3 == ["also", "one", "vt\x0bfused"]  # \v does NOT split


def test_core_oracles_on_null_bearing_relational_fixtures(spark, tmp_path_factory):
    """Round-8 core review: four latent engine/oracle divergences that
    only null-bearing fixtures exercise, each now pinned green —

    * arrow_udf_reverse: NULL text reached the UDF as None[::-1]
      (TypeError) while the oracle returned NULL;
    * join_semi_anti: one NULL o_custkey made the oracle's old NOT IN
      never-true (0 customers without orders) while left_anti keeps
      all unmatched — the oracle is now NOT EXISTS;
    * agg_string_list: a region whose nations all have NULL n_name is
      '' through concat_ws but was NULL through string_agg;
    * ORDER BY + LIMIT membership: Spark ASC defaults NULLS FIRST,
      DuckDB NULLS LAST — under LIMIT 100 a NULL-keyed row set differs;
      both sides now pin NULLS LAST (zorder_layout here).
    """
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("core_nulls"))
    spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "spark")],
        "doc_id long, text string",
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'web' AS source",
        "CAST(coalesce(length(text), 0) AS LONG) AS n_chars",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [(1, 10), (2, None), (3, 20)],
        "o_orderkey long, o_custkey long",
    ).selectExpr(
        "o_orderkey", "o_custkey", "'O' AS o_orderstatus",
        "100.0 AS o_totalprice",
        "CAST('2024-01-01' AS TIMESTAMP) AS o_orderdate",
        "'1-URGENT' AS o_orderpriority",
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(10, "Alice"), (20, "Bob"), (30, "Carol"), (40, "Dave")],
        "c_custkey long, c_name string",
    ).selectExpr(
        "c_custkey", "c_name", "CAST(1 AS INT) AS c_nationkey",
        "0.0 AS c_acctbal", "'BUILDING' AS c_mktsegment",
    ).coalesce(1).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(0, "FRANCE", 0), (1, None, 1), (2, None, 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(0, "EUROPE"), (1, "NOWHERE")], "r_regionkey int, r_name string"
    ).coalesce(1).write.parquet(f"{d}/region.parquet")
    rows = [(i, None if i % 3 == 0 else i * 7) for i in range(1, 151)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").selectExpr(
        "l_orderkey", "l_partkey", "CAST(1 AS LONG) AS l_suppkey",
        "CAST(1 AS INT) AS l_linenumber", "1.0 AS l_quantity",
        "10.0 AS l_extendedprice", "0.0 AS l_discount", "0.0 AS l_tax",
        "'N' AS l_returnflag", "'O' AS l_linestatus",
        "CAST('2024-01-01' AS TIMESTAMP) AS l_shipdate",
    ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")

    con = duckdb.connect()
    for t in ["documents", "orders", "customer", "nation", "region", "lineitem"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    problems = []
    for name in ["arrow_udf_reverse", "join_semi_anti", "agg_string_list",
                 "zorder_layout", "project_lit"]:
        sdf = E.queries()[name](spark, d).toPandas()
        ddf = con.execute(E.oracle_sql()[name]).df()
        problems += [f"{name}: {p}" for p in compare(name, sdf, ddf)]
    assert not problems, "\n".join(problems)

    ja = E.queries()["join_semi_anti"](spark, d).toPandas()
    # customers 10, 20 have orders; 30, 40 do not — the NULL o_custkey
    # row matches nobody and must not zero out the anti count
    assert int(ja.loc[0, "n_with_orders"]) == 2
    assert int(ja.loc[0, "n_without_orders"]) == 2
    al = E.queries()["agg_string_list"](spark, d).toPandas().set_index("r_name")
    assert al.loc["NOWHERE", "nations"] == ""  # all-NULL names -> '' in BOTH
    zl = E.queries()["zorder_layout"](spark, d).toPandas()
    assert len(zl) == 100 and zl["z"].notna().all()  # NULL-z rows rank last


def test_materialize_once_is_atomic_and_content_keyed(tmp_path):
    """sources.cache.materialize_once (round-8 core review): a writer
    crash must not publish a half-cache the guard then trusts forever
    (the old bare-directory guard did exactly that), and regenerating
    the source fixture at the same path must produce a NEW cache key
    instead of serving stale data."""
    import os
    import time

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.cache import (
        materialize_once,
    )

    src_dir = str(tmp_path / "sf")
    os.makedirs(src_dir)
    src = os.path.join(src_dir, "documents.parquet")
    with open(src, "w") as f:
        f.write("v1")

    calls = []

    def boom(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "partial"), "w") as f:
            f.write("half")
        raise RuntimeError("killed mid-write")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        materialize_once("cachetest", src_dir, "documents", boom)
    # the crash left NO published cache — a second call runs the writer again
    def ok(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write("full")

    base1 = materialize_once("cachetest", src_dir, "documents", ok)
    assert os.path.exists(os.path.join(base1, "data"))
    assert len(calls) == 2  # boom, then ok — the half-write never satisfied the guard

    # same fixture content -> cache hit, writer NOT invoked
    base2 = materialize_once("cachetest", src_dir, "documents", ok)
    assert base2 == base1 and len(calls) == 2

    # regenerate the fixture (content change) -> new key, writer re-runs
    time.sleep(0.01)  # ensure mtime_ns moves
    with open(src, "w") as f:
        f.write("v2-regenerated")
    base3 = materialize_once("cachetest", src_dir, "documents", ok)
    assert base3 != base1 and len(calls) == 3

    # a writer that "succeeds" without creating tmp (broken writer, not
    # a lost race): the publish rename fails with ENOENT and NO winner
    # cache exists — must RAISE, not return a phantom path whose read
    # failure surfaces somewhere obscure downstream (ADVICE r8)
    time.sleep(0.01)
    with open(src, "w") as f:
        f.write("v3-regenerated")

    def noop_writer(tmp):
        calls.append(tmp)  # never creates tmp

    with _pytest.raises(OSError):
        materialize_once("cachetest", src_dir, "documents", noop_writer)

    import shutil

    shutil.rmtree(base1, ignore_errors=True)  # test residue in tempdir
    shutil.rmtree(base3, ignore_errors=True)


def test_vector_family_on_failed_encode_embeddings(spark, tmp_path_factory):
    """Round-8 dedup review: the failed-encode row classes a 100 TB
    embedding store actually carries — NULL arrays, EMPTY arrays
    (np.stack raises on mixed shapes), and NaN/Inf elements (numpy
    compares NaN False while DuckDB sorts NaN above everything, so a
    single NaN vector silently pairs with EVERY doc in the >= 0.4
    oracles and flips LSH sign bits) — must be dropped identically by
    vec_table's three-clause gate and its SQL mirror. This corpus
    plants one of each among clean vectors and pins engine == oracle
    across the vector-math family."""
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("dirty_emb"))
    dim = 64
    rows = []
    for i in range(16):
        vec = [float(((i * 31 + j * 17) % 13) - 6) for j in range(dim)]
        rows.append((i, vec, i % 3))
    rows.append((16, None, 1))                            # failed encode: NULL
    rows.append((17, [], 2))                              # failed encode: empty
    rows.append((18, [float("nan")] * dim, 0))            # failed encode: NaN
    rows.append((19, [float("inf")] + [0.0] * (dim - 1), 1))  # failed encode: Inf
    # NULL ELEMENT (ADVICE r8): array_max/list_max skip nulls so the
    # min/max clauses pass this row; numpy would coerce the hole to NaN
    # while DuckDB's list_sum skips the term — both engines must DROP it
    rows.append((20, [1.0, None] + [2.0] * (dim - 2), 2))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    problems = []
    for name in ["cosine_knn_exact", "ann_lsh_topk", "ann_ivf_topk",
                 "ann_lsh_bands", "ann_ivf_cell_assign", "dedup_embedding_cosine",
                 "dedup_embedding_cosine_bucketed", "dedup_embedding_band_keys",
                 "dedup_semdedup", "kmeans_assign", "pq_encode"]:
        sdf = E.queries()[name](spark, d).toPandas()
        ddf = con.execute(E.oracle_sql()[name]).df()
        problems += [f"{name}: {p}" for p in compare(name, sdf, ddf)]
    assert not problems, "\n".join(problems)
    # the gate actually dropped the five dirty rows everywhere
    bands = E.queries()["ann_lsh_bands"](spark, d).toPandas()
    assert set(bands["vec_id"]) == set(range(16))


def test_streaming_stats_on_degenerate_and_null_events(spark, tmp_path_factory):
    """Round-8 streaming review: degenerate and null-bearing event
    fixtures must neither crash under ANSI mode nor diverge from the
    oracles —

    * linreg_by_key: a single-event type (zero x-variance) and a
      constant-value type (zero y-variance) zeroed denominators; both
      engines now answer NULL via nullif instead of Spark raising
      DIVIDE_BY_ZERO;
    * drift_ks_test: NULL ts routed to sample B by the oracle's CASE
      but dropped from both Spark sums; NULL value formed a (type,
      NULL) group ordered NULLS FIRST vs NULLS LAST — both classes now
      filtered like drift_ks_binned;
    * winsorized_stats: a NULL value clamped to a phantom p5
      observation in BOTH engines (parity-invisible bias); now
      filtered;
    * ab_test_ztest: with one arm empty the old crossJoin emitted ZERO
      rows vs the oracle's one — the conditional aggregate emits one
      row of NULL totals in both;
    * asof twins: a NULL-ts event crashed merge_asof's monotonicity
      check; the contract is now NULLS FIRST (matches nothing) in both
      engines.
    """
    import duckdb

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("stream_edge"))
    rows = [
        # lonely: ONE event -> zero x-variance for linreg
        (1, "2024-01-10 03:00:00", 2, "lonely", 5.0, "{}"),
        # flat: constant value -> zero y-variance
        (2, "2024-01-10 04:00:00", 2, "flat", 7.0, "{}"),
        (3, "2024-01-20 09:00:00", 2, "flat", 7.0, "{}"),
        # view: healthy spread + one NULL value + one NULL ts
        (4, "2024-01-10 01:00:00", 2, "view", 1.0, "{}"),
        (5, "2024-01-11 05:00:00", 2, "view", 3.0, "{}"),
        (6, "2024-01-20 07:00:00", 2, "view", 9.0, "{}"),
        (7, "2024-01-21 11:00:00", 2, "view", 11.0, "{}"),
        (8, "2024-01-12 02:00:00", 2, "view", None, "{}"),
        (9, None, 2, "view", 5.0, "{}"),
        # a signup so the asof twins have a right side
        (10, "2024-01-15 00:00:00", 2, "signup", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        f"{d}/events.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    problems = []
    for name in ["linreg_by_key", "drift_ks_test", "winsorized_stats",
                 "ab_test_ztest", "asof_last_signup", "asof_cogroup_pandas",
                 "range_join_follow"]:
        sdf = E.queries()[name](spark, d).toPandas()
        ddf = con.execute(E.oracle_sql()[name]).df()
        problems += [f"{name}: {p}" for p in compare(name, sdf, ddf)]
    assert not problems, "\n".join(problems)

    import pandas as pd

    lr = E.queries()["linreg_by_key"](spark, d).toPandas().set_index("event_type")
    assert pd.isna(lr.loc["lonely", "slope"]) and pd.isna(lr.loc["lonely", "r2"])
    assert pd.isna(lr.loc["flat", "r2"])  # zero y-variance
    assert not pd.isna(lr.loc["view", "slope"])
    # all user_ids even -> arm B empty -> ONE row with NULL B totals
    ab = E.queries()["ab_test_ztest"](spark, d).toPandas()
    assert len(ab) == 1 and pd.isna(ab.loc[0, "n_b"]) and pd.isna(ab.loc[0, "z"])
    # winsorized mean of view excludes the NULL row (no phantom p5)
    ks = E.queries()["drift_ks_test"](spark, d).toPandas().set_index("event_type")
    assert (int(ks.loc["view", "n_a"]), int(ks.loc["view", "n_b"])) == (2, 2)
    # the NULL-ts event matches nothing in both asof twins
    asof = E.queries()["asof_cogroup_pandas"](spark, d).toPandas()
    assert pd.isna(asof.set_index("event_id").loc[9, "last_signup"])


def test_quantile_normalize_single_row(spark, tmp_path_factory):
    """A one-row table zeroes N-1: Spark's ANSI mode would crash on the
    division while DuckDB answers NULL — both now answer NULL via
    nullif (round-8 review)."""
    import duckdb
    import pandas as pd

    from tools.parity import compare

    d = str(tmp_path_factory.mktemp("qn_single"))
    spark.createDataFrame(
        [(1, "2024-01-10 03:00:00", 2, "view", 5.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        f"{d}/events.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    sdf = E.queries()["quantile_normalize"](spark, d).toPandas()
    ddf = con.execute(E.oracle_sql()["quantile_normalize"]).df()
    assert not compare("quantile_normalize", sdf, ddf)
    assert len(sdf) == 1 and pd.isna(sdf.loc[0, "q"])
