"""Property-based tests (Hypothesis): the engine's expression semantics
vs pure-Python models on adversarial inputs — multiple spaces, repeated
words, 1-char tokens, empty lines. This is the §5.2.3 reference-fidelity
strategy generalized from hand-picked to generated inputs.
"""

import hashlib
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.functions import text as X
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.functions.hashing import (
    minhash_slice,
)
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.dedup import (
    minhash_signatures,
)

WORD = st.text(alphabet="abcxyz", min_size=1, max_size=5)
TEXT = st.lists(WORD, min_size=0, max_size=10).map(" ".join)
TEXTS = st.lists(TEXT, min_size=1, max_size=5)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def py_tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text) if t]


def py_shingles(text: str, k: int = 3) -> list[str]:
    toks = py_tokens(text)
    return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))


def py_minhash(text: str, j: int) -> str:
    seed, start = minhash_slice(j)
    return min(
        hashlib.md5(f"{s}:{seed}".encode()).hexdigest()[start - 1 : start - 1 + 8]
        for s in py_shingles(text)
    )


def docs_df(spark, texts):
    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])


@SETTINGS
@given(texts=TEXTS)
def test_shingles_match_python_model(spark, texts):
    df = docs_df(spark, texts)
    got = {
        r["doc_id"]: list(r["sh"])
        for r in df.select("doc_id", X.word_shingles("text", 3).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_shingles(t), (t, got[i])


@SETTINGS
@given(texts=TEXTS)
def test_minhash_matches_python_model(spark, texts):
    df = docs_df(spark, texts)
    sigs = {r["doc_id"]: r for r in minhash_signatures(df).collect()}
    for i, t in enumerate(texts):
        if not py_shingles(t):
            assert i not in sigs  # shingle-less docs drop out
            continue
        for j in range(8):
            assert sigs[i][f"mh{j}"] == py_minhash(t, j), (t, j)


@SETTINGS
@given(texts=TEXTS)
def test_first_char_partition_matches_python(spark, texts):
    df = docs_df(spark, texts)
    words = df.select(F.explode(X.tokens("text", X.WS)).alias("word"))
    got = words.select(
        "word", (F.ascii(F.substring("word", 1, 1)) % 4).alias("pid")
    ).collect()
    for r in got:
        assert r["pid"] == ord(r["word"][0]) % 4  # hw4.cc:479 semantics


@SETTINGS
@given(texts=TEXTS)
def test_token_count_matches_python(spark, texts):
    df = docs_df(spark, texts)
    got = {r["doc_id"]: r["n"] for r in df.select("doc_id", X.token_count("text").alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(py_tokens(t)), t


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["en", "de", "zh"])),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    k=st.integers(1, 5),
)
def test_salted_topk_equals_single_window(spark, rows, k):
    """The two-phase salted quota sample (plans/text.sample_per_lang_topk's
    shape) must select EXACTLY the rows a naive single window would: the
    per-lang top-k by md5 is always a subset of the union of per-(lang,
    salt) top-ks, for any ids, language skew, and k."""
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, ["doc_id", "lang"]).select(
        "doc_id",
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
        F.pmod(F.xxhash64("doc_id"), F.lit(4)).alias("_salt"),
    )
    w1 = Window.partitionBy("lang", "_salt").orderBy("_h", "doc_id")
    w2 = Window.partitionBy("lang").orderBy("_h", "doc_id")
    salted = (
        df.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= k)
        .select("doc_id", "lang")
    )
    naive = (
        df.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .select("doc_id", "lang")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, naive.collect()))


@SETTINGS
@given(texts=TEXTS)
def test_chunk_overlap_matches_python_model(spark, texts):
    """chunk_overlap's window/stride arithmetic (64/48) vs a literal
    Python sliding window: same chunk count, lengths, and head token for
    any token count, including docs shorter than one window."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        chunk_overlap,
    )
    import math
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs_df(spark, texts).write.parquet(os.path.join(d, "documents.parquet"))
        got = sorted(
            map(tuple, chunk_overlap(spark, d).collect())
        )
    want = []
    for i, t in enumerate(texts):
        toks = py_tokens(t)
        if not toks:
            continue
        n = len(toks)
        k = math.ceil(max(n - 64, 0) / 48)
        for c in range(k + 1):
            want.append((i, c, min(64, n - c * 48), toks[c * 48]))
    assert got == sorted(want)


@given(texts=TEXTS)
@SETTINGS
def test_paragraph_dedup_is_idempotent(spark, tmp_path_factory, texts):
    """Running paragraph dedup on its own output removes nothing more —
    the fixed-point property every dedup pass must satisfy."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.dedup import (
        paragraph_dedup,
    )

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    d = str(tmp_path_factory.mktemp("para_idem"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    once = paragraph_dedup(spark, d).collect()
    d2 = str(tmp_path_factory.mktemp("para_idem2"))
    spark.createDataFrame(
        [(r["doc_id"], r["clean_text"], "en", "s", len(r["clean_text"])) for r in once],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d2}/documents.parquet")
    twice = paragraph_dedup(spark, d2).collect()
    assert all(r["n_removed"] == 0 for r in twice)
    assert [(r["doc_id"], r["clean_text"]) for r in twice] == [
        (r["doc_id"], r["clean_text"]) for r in once
    ]


@given(sizes=st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=12))
@SETTINGS
def test_compaction_bins_conserve_files_and_bytes(spark, tmp_path_factory, sizes):
    """Bin totals must equal input totals (nothing dropped or double-
    counted) and every bin except possibly the last reaches the target
    (greedy packing leaves no undersized interior bin)."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.maintenance import (
        _COMPACT_TARGET,
        compaction_bins,
    )

    rows = [(i, "x", "en", "s", n) for i, n in enumerate(sizes)]
    d = str(tmp_path_factory.mktemp("cb_prop"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    out = compaction_bins(spark, d).collect()
    assert sum(r["n_files"] for r in out) == len(sizes)
    assert sum(r["bin_bytes"] for r in out) == sum(sizes)
    assert [r["bin"] for r in out] == sorted(r["bin"] for r in out)
    # greedy rule: a bin index exists iff the exclusive prefix sum crossed
    # that multiple of the target, so bin ids are the exact quotient set
    import itertools

    prefix = [0] + list(itertools.accumulate(sizes))[:-1]
    expect_bins = sorted({p // _COMPACT_TARGET for p in prefix})
    assert [r["bin"] for r in out] == expect_bins
    starts = [r["first_doc"] for r in out]
    assert starts == sorted(starts)


# ---------------------------------------------------------------------------
# Batch-33/34 analytics vs pure-Python models (independent of the DuckDB
# oracle — guards against both engines being wrong the same way).
# ---------------------------------------------------------------------------

from datetime import datetime, timedelta

import __spark_entry__ as E

# events in a 4-day span around the drift split (2024-01-16); values from
# a SMALL pool so ties across the split are common (the tie-correct path)
_EV = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # user
        st.sampled_from(["a", "b"]),                    # type
        st.integers(min_value=0, max_value=5),          # value (ties!)
        st.integers(min_value=0, max_value=4 * 24 * 3600 - 1),  # sec offset
    ),
    min_size=4,
    max_size=24,
)

_T0 = datetime(2024, 1, 14)


def events_df(spark, rows):
    recs = [
        (i, _T0 + timedelta(seconds=off), u, t, float(v), "{}")
        for i, (u, t, v, off) in enumerate(rows)
    ]
    return spark.createDataFrame(
        recs,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def events_dir(spark, rows, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("prop_ev"))
    events_df(spark, rows).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


@SETTINGS
@given(rows=_EV)
def test_drift_ks_matches_python_model(spark, tmp_path_factory, rows):
    split = datetime(2024, 1, 16)
    d = events_dir(spark, rows, tmp_path_factory)
    got = {
        r["event_type"]: (r["ks_stat"], r["n_a"], r["n_b"])
        for r in E.queries()["drift_ks_test"](spark, d).collect()
    }
    for typ in sorted({t for _, t, _, _ in rows}):
        evs = [
            (v, _T0 + timedelta(seconds=off) < split)
            for _, t, v, off in rows
            if t == typ
        ]
        a = sorted(v for v, early in evs if early)
        b = sorted(v for v, early in evs if not early)
        ks, na, nb = got[typ]
        assert (na, nb) == (len(a), len(b))
        if not a or not b:
            assert ks is None  # one empty side → undefined CDF ratio
            continue
        import bisect

        support = sorted(set(a) | set(b))
        expect = max(
            abs(
                bisect.bisect_right(a, x) / len(a)
                - bisect.bisect_right(b, x) / len(b)
            )
            for x in support
        )
        assert ks == pytest.approx(round(expect, 6), abs=1e-6)


@SETTINGS
@given(rows=_EV)
def test_time_weighted_avg_matches_python_model(spark, tmp_path_factory, rows):
    d = events_dir(spark, rows, tmp_path_factory)
    got = {
        r["user_id"]: (r["twap"], r["n_weighted"])
        for r in E.queries()["time_weighted_avg"](spark, d).collect()
    }
    by_user: dict = {}
    for i, (u, t, v, off) in enumerate(rows):
        by_user.setdefault(u, []).append((_T0 + timedelta(seconds=off), i, float(v)))
    for u, evs in by_user.items():
        evs.sort()  # (ts, event_id) — the engine's deterministic order
        weighted = [
            (v, (evs[j + 1][0] - ts).total_seconds())
            for j, (ts, _, v) in enumerate(evs[:-1])
        ]
        if not weighted or all(dt == 0 for _, dt in weighted):
            # zero total weight → twap NULL; single-event users drop
            if u in got:
                assert got[u][0] is None
            continue
        num = sum(v * dt for v, dt in weighted)
        den = sum(dt for _, dt in weighted)
        assert got[u][1] == len(weighted)
        assert got[u][0] == pytest.approx(round(num / den, 6), abs=1e-6)


@SETTINGS
@given(rows=_EV)
def test_user_overlap_matches_python_sets(spark, tmp_path_factory, rows):
    d = events_dir(spark, rows, tmp_path_factory)
    got = {
        (r["type_a"], r["type_b"]): (r["n_common"], r["n_a"], r["n_b"], r["jaccard"])
        for r in E.queries()["user_overlap_jaccard"](spark, d).collect()
    }
    sets: dict = {}
    for u, t, _, _ in rows:
        sets.setdefault(t, set()).add(u)
    types = sorted(sets)
    expect_pairs = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            inter = len(sets[ta] & sets[tb])
            if inter:  # pairs exist only via the inner self-join
                union = len(sets[ta] | sets[tb])
                expect_pairs[(ta, tb)] = (
                    inter,
                    len(sets[ta]),
                    len(sets[tb]),
                    round(inter / union, 6),
                )
    assert got == {
        k: (c, na, nb, pytest.approx(j, abs=1e-6))
        for k, (c, na, nb, j) in expect_pairs.items()
    }


@SETTINGS
@given(texts=TEXTS)
def test_vocab_growth_matches_python_model(spark, tmp_path_factory, texts):
    d = str(tmp_path_factory.mktemp("prop_vgc"))
    docs_df(spark, texts).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = E.queries()["vocab_growth_curve"](spark, d).collect()
    n = len(texts)  # doc_ids are 0..n-1
    first: dict = {}
    for i, t in enumerate(texts):
        for w in py_tokens(t):
            first.setdefault(w, i)
    if not first:
        # token-free corpus → empty first-seen table → empty curve
        # (matches the oracle: GROUP BY over an empty cross join)
        assert rows == []
        return
    fracs = [0.01, 0.05, 0.1, 0.25, 0.5, 1.0]
    assert [r["frac"] for r in rows] == fracs
    import math

    for r in rows:
        cutoff = math.floor(n * r["frac"])
        assert r["cutoff_doc"] == cutoff
        assert r["vocab"] == sum(1 for fd in first.values() if fd < cutoff)
    # monotone non-decreasing, ending at the full vocabulary
    vs = [r["vocab"] for r in rows]
    assert vs == sorted(vs) and vs[-1] == len(first)


@SETTINGS
@given(
    lengths=st.lists(st.integers(1, 6), min_size=1, max_size=47),
)
def test_quality_deciles_rank_arithmetic_matches_ntile(
    spark, tmp_path_factory, lengths
):
    """The round-6 distributed-rank rewrite of ``quality_deciles`` must
    reproduce Spark's own global NTILE(10) for ANY corpus size and tie
    structure — N not divisible by 10 (remainder tiles take one extra
    row), all-equal lengths (one giant tie group split across all ten
    tiles), N < 10 (empty tiles never appear; ntile emits 1..N)."""
    from pyspark.sql import Window

    import __spark_entry__ as E

    docs = spark.createDataFrame(
        [(i, "x" * ln, "en", "s", ln) for i, ln in enumerate(lengths)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path_factory.mktemp("deciles"))
    docs.coalesce(1).write.parquet(f"{d}/documents.parquet")
    got = sorted(map(tuple, E.queries()["quality_deciles"](spark, d).collect()))
    w = Window.orderBy(F.col("n_chars").desc(), "doc_id")
    want = sorted(
        map(
            tuple,
            docs.select("n_chars", F.ntile(10).over(w).alias("decile"))
            .groupBy("decile")
            .agg(
                F.count("*").alias("n_docs"),
                F.min("n_chars").alias("min_chars"),
                F.max("n_chars").alias("max_chars"),
            )
            .collect(),
        )
    )
    assert got == want


@SETTINGS
@given(
    ev=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 4320)),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_bounce_rate_salted_matches_python_sessionizer(
    spark, tmp_path_factory, ev
):
    """The two-level salted bounce plan (r7: bucket-local runs + chain
    stitch over day-bucket boundaries) vs a literal pure-Python
    gap-sessionizer, for ANY event placement over a 3-day span at
    minute granularity — midnight-crossing sessions, exactly-30-minute
    gaps (same session: threshold is strict >), lone events, and
    multi-day chains all arise from the generator."""
    import datetime as dt
    from collections import defaultdict

    import __spark_entry__ as E

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, "view", 0.0, "{}")
        for i, (u, m) in enumerate(ev)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path_factory.mktemp("bounce_prop"))
    df.coalesce(1).write.parquet(f"{d}/events.parquet")

    by_user = defaultdict(list)
    for u, m in ev:
        by_user[u].append(m)
    per_day = defaultdict(lambda: [0, 0])  # day -> [sessions, bounces]
    for ms in by_user.values():
        ms.sort()
        sessions = [[ms[0]]]
        for prev, cur in zip(ms, ms[1:]):
            (sessions.append([cur]) if cur - prev > 30 else sessions[-1].append(cur))
        for s in sessions:
            day = (base + dt.timedelta(minutes=s[0])).date()
            per_day[day][0] += 1
            per_day[day][1] += 1 if len(s) == 1 else 0

    got = {
        r["day"].date(): (r["sessions"], r["bounces"])
        for r in E.queries()["bounce_rate_daily_salted"](spark, d).collect()
    }
    assert got == {day: tuple(v) for day, v in per_day.items()}
