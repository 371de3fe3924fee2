"""Unit tests of the text-analysis column expressions on inline data."""

import pytest
from pyspark.sql import functions as F

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.functions import hashing as H
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.functions import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and it is a fine day for the cat"),
        (2, "der hund ist nicht ein katze und der tag ist gut"),
        (3, "xyzzy qwerty plugh"),
        (4, "  The   cat sat  on the mat and it is a fine day for the cat  "),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def one(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def test_token_count(spark, docs):
    out = one(docs.select("id", X.token_count("text").alias("n")), "n")
    assert out[1] == 15
    assert out[3] == 3
    assert out[5] == 0


def test_lang_id(spark, docs):
    out = one(docs.select("id", X.lang_id("text").alias("l")), "l")
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_fingerprint_normalizes_whitespace_and_case(spark, docs):
    out = one(docs.select("id", H.fingerprint("text").col.alias("fp")), "fp")
    assert out[1] == out[4]  # same words modulo case/whitespace
    assert out[1] != out[2]


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["id", "text"])
    [row] = df.select(X.word_shingles("text", 3).alias("sh")).collect()
    assert row["sh"] == ["a b c", "b c d"]
    # shorter than k → empty, not null
    [row2] = (
        spark.createDataFrame([(1, "a b")], ["id", "text"])
        .select(X.word_shingles("text", 3).alias("sh"))
        .collect()
    )
    assert row2["sh"] == []


def test_quality_score_bounds(spark, docs):
    out = one(docs.select("id", X.quality_score("text").alias("q")), "q")
    for v in out.values():
        assert 0.0 <= v <= 1.0
    assert out[1] > out[3]  # prose beats keyboard mash


def test_bpe_ish_counts_punctuation(spark):
    df = spark.createDataFrame([(1, "hello, world! x2")], ["id", "text"])
    [row] = df.select(X.bpe_ish_token_count("text").alias("n")).collect()
    # hello , world ! x 2 → 6
    assert row["n"] == 6


def test_bloom_decontaminate_matches_exact_and_prunes(spark, sf_dir):
    """The bloom path must equal the exact path bit-for-bit (false
    positives die in the verify join) while the prefilter does real
    work: surviving candidate grams are a small fraction of train
    grams on the fixture."""
    import __spark_entry__ as E

    exact = E.queries()["decontaminate_ngram"](spark, sf_dir).collect()
    bloom = E.queries()["decontaminate_bloom"](spark, sf_dir).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, bloom))


def _write_docs(spark, tmp_path_factory, rows, name):
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path_factory.mktemp(name))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_quality_gopher_rules_fire_individually(spark, tmp_path_factory):
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        quality_gopher,
    )

    good = "the good doc has " + " ".join(f"word{i}" for i in range(60)) + " with that"
    rows = [
        (0, good, "en", "s", 1),                            # passes everything
        (1, "the short one with that", "en", "s", 1),       # fails word count only
        (2, "the " + " ".join(["ab"] * 70) + " with", "en", "s", 1),  # mean len < 3
        (3, "the " + " ".join(["1234"] * 70) + " with that", "en", "s", 1),  # alpha frac < 0.8
        (4, " ".join(f"word{i}" for i in range(70)), "en", "s", 1),   # no stopwords
        (5, "the " + " ".join(["#"] * 30) + " " + " ".join(f"w{i}" for i in range(40)) + " with that", "en", "s", 1),  # symbols
    ]
    d = _write_docs(spark, tmp_path_factory, rows, "gopher")
    out = {r["doc_id"]: r.asDict() for r in quality_gopher(spark, d).collect()}
    assert out[0]["gopher_pass"] == 1
    assert out[1]["f_word_count"] == 0 and out[1]["f_mean_len"] == 1
    assert out[2]["f_mean_len"] == 0
    assert out[3]["f_alpha"] == 0
    assert out[4]["f_stopwords"] == 0
    assert out[5]["f_symbol"] == 0
    assert all(out[i]["gopher_pass"] == 0 for i in (1, 2, 3, 4, 5))


def test_perplexity_unigram_hand_computed(spark, tmp_path_factory):
    import math

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        perplexity_unigram,
    )

    # corpus: 6 tokens total; "a" x3, "b" x2, "c" x1
    rows = [(0, "a a b", "en", "s", 1), (1, "a b c", "en", "s", 1)]
    d = _write_docs(spark, tmp_path_factory, rows, "ppl")
    out = {r["doc_id"]: r["nats_per_token"] for r in perplexity_unigram(spark, d).collect()}
    d0 = (2 * math.log(6 / 3) + 1 * math.log(6 / 2)) / 3
    d1 = (math.log(6 / 3) + math.log(6 / 2) + math.log(6 / 1)) / 3
    assert out[0] == round(d0, 6)
    assert out[1] == round(d1, 6)
    assert out[1] > out[0]  # rare-token doc scores higher


def test_mixture_sample_temperature_quotas_and_determinism(spark, tmp_path_factory):
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        mixture_sample_temperature,
    )

    # skewed sources: 160 / 40 / 10 docs -> sqrt weights upsample small ones
    rows = []
    did = 0
    for src, n in (("big", 160), ("mid", 40), ("small", 10)):
        for _ in range(n):
            rows.append((did, f"doc {did} text", "en", src, 1))
            did += 1
    d = _write_docs(spark, tmp_path_factory, rows, "mixture")
    out = mixture_sample_temperature(spark, d)
    got = [(r["doc_id"], r["source"]) for r in out.collect()]
    import math

    u = {s: math.sqrt(n) for s, n in (("big", 160), ("mid", 40), ("small", 10))}
    tot = sum(u.values())
    per_src = {}
    for _, s in got:
        per_src[s] = per_src.get(s, 0) + 1
    n_by_src = {"big": 160, "mid": 40, "small": 10}
    for s in u:
        # a quota larger than the source caps at the source size (the
        # oracle does the same: rn never exceeds n_s)
        assert per_src[s] == min(n_by_src[s], round(200.0 * u[s] / tot))
    # temperature flattens: small source is overrepresented vs raw share
    assert per_src["small"] / len(got) > 10 / 210
    # deterministic under re-evaluation
    assert got == [(r["doc_id"], r["source"]) for r in out.collect()]


def test_contamination_overlap_hand_computed(spark, tmp_path_factory):
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        contamination_overlap,
    )

    # doc 0 (0 % 97 == 0) is the eval doc; grams are word 4-grams
    rows = [
        (0, "a b c d e", "en", "s", 1),        # eval grams: "a b c d", "b c d e"
        (1, "a b c d e", "en", "s", 1),        # 2/2 grams contaminated
        (2, "x a b c d y", "en", "s", 1),      # 1/3 grams ("a b c d")
        (3, "p q r s t", "en", "s", 1),        # 0/2
        (4, "one two three", "en", "s", 1),    # <4 tokens: no grams, absent
    ]
    d = _write_docs(spark, tmp_path_factory, rows, "contam")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hit"], r["overlap_frac"])
        for r in contamination_overlap(spark, d).collect()
    }
    assert got == {
        1: (2, 2, 1.0),
        2: (3, 1, round(1 / 3, 6)),
        3: (2, 0, 0.0),
    }


def test_pmi_collocations_hand_computed(spark, tmp_path_factory):
    import math

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        pmi_collocations,
    )

    # "aa bb" always adjacent (perfect collocation); "cc" background noise
    rows = [(i, "aa bb cc cc cc", "en", "s", 1) for i in range(5)]
    d = _write_docs(spark, tmp_path_factory, rows, "pmi")
    out = {(r["w1"], r["w2"]): (r["c_ab"], r["pmi"])
           for r in pmi_collocations(spark, d).collect()}
    # per doc: tokens aa bb cc cc cc (nt=25), bigrams (aa,bb),(bb,cc),(cc,cc)x2 (nb=20)
    nt, nb = 25.0, 20.0
    exp_aabb = round(math.log((5 / nb) / ((5 / nt) * (5 / nt))), 6)
    exp_cccc = round(math.log((10 / nb) / ((15 / nt) * (15 / nt))), 6)
    assert out[("aa", "bb")] == (5, exp_aabb)
    assert out[("cc", "cc")] == (10, exp_cccc)
    # the deterministic collocation outranks the frequent background pair
    assert out[("aa", "bb")][1] > out[("cc", "cc")][1]


def test_bpe_merges_match_pure_python_simulation(spark, tmp_path_factory):
    """The distributed merge table equals a from-scratch BPE hand
    simulation on a planted corpus (the mapreduce quirk-test idiom)."""
    from collections import Counter

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import bpe_merges

    text = "low low low lower lowest new newer"
    rows = [(0, text, "en", "s", len(text)), (1, "low new", "en", "s", 7)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path_factory.mktemp("bpe"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # pure-Python reference
    vocab = Counter((text + " low new").split())
    seqs = {w: list(w) for w in vocab}
    expect = []
    for rnd in range(1, 6):
        pc = Counter()
        for w, cnt in vocab.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += cnt
        if not pc:
            break
        # max count, lexicographic tie-break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        expect.append((rnd, l, r, c))
        for w in seqs:
            s, out, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out

    got = [
        (r["round"], r["left"], r["right"], r["pair_cnt"])
        for r in bpe_merges(spark, d).collect()
    ]
    assert got == expect


def test_heavy_hitters_exact_under_candidate_pruning(spark, tmp_path_factory):
    """Vocabulary far above the per-partition candidate budget: the
    sketch pass must prune yet still return the exact top-10."""
    from collections import Counter

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import heavy_hitters

    # 2000 distinct rare words (1×) + 12 planted heavy words
    heavy = [f"hot{i}" for i in range(12)]
    words = []
    for i, w in enumerate(heavy):
        words += [w] * (500 - 10 * i)
    words += [f"rare{i}" for i in range(2000)]
    text = " ".join(words)
    rows = [(0, text, "en", "s", len(text))]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path_factory.mktemp("hh"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    exact = Counter(words).most_common()
    exact.sort(key=lambda kv: (-kv[1], kv[0]))
    got = [(r["tok"], r["cnt"]) for r in heavy_hitters(spark, d).collect()]
    assert got == exact[:10]


def test_heavy_hitters_flat_regime_falls_back_exact(spark, tmp_path_factory):
    """Flat distribution (no token clears the sketch's miss bound): the
    exactness guard must detect the unprovable case and fall back to
    the full aggregate — still returning the exact top-10 (ADVICE r3:
    the sketch alone can silently miss top-k tokens here)."""
    from collections import Counter

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import heavy_hitters

    # 6000 distinct words, every count in {1, 2}: far above the 4×256
    # candidate budget per partition, no heavy head at all
    words = [f"flat{i}" for i in range(6000)] + [f"flat{i}" for i in range(0, 6000, 2)]
    text = " ".join(words)
    rows = [(0, text, "en", "s", len(text))]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path_factory.mktemp("hh_flat"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    exact = Counter(words).most_common()
    exact.sort(key=lambda kv: (-kv[1], kv[0]))
    got = [(r["tok"], r["cnt"]) for r in heavy_hitters(spark, d).collect()]
    assert got == exact[:10]


def test_dictionary_encode_ids_are_global_sort_ranks(spark, tmp_path_factory):
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        dictionary_encode,
    )

    text = "delta alpha charlie bravo alpha alpha bravo"
    rows = [(0, text, "en", "s", len(text))]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path_factory.mktemp("dict"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    out = [(r["tok"], r["id"], r["cnt"]) for r in dictionary_encode(spark, d).collect()]
    assert out == [("alpha", 1, 3), ("bravo", 2, 2), ("charlie", 3, 1), ("delta", 4, 1)]


def test_encode_corpus_roundtrips_ids(spark, tmp_path_factory):
    """Decoding each doc's id sequence through the dictionary must
    reproduce the original token stream."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        dictionary_encode,
        encode_corpus,
    )

    rows = [(0, "bravo alpha bravo", "en", "s", 17), (1, "alpha", "en", "s", 5)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path_factory.mktemp("enc"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    id2tok = {r["id"]: r["tok"] for r in dictionary_encode(spark, d).collect()}
    out = {r["doc_id"]: r for r in encode_corpus(spark, d).collect()}
    assert out[0]["n"] == 3
    decoded = " ".join(id2tok[int(i)] for i in out[0]["ids"].split())
    assert decoded == "bravo alpha bravo"
    assert out[1]["ids"] == str(min(id2tok))  # 'alpha' is rank 1


def test_bpe_first_merge_agrees_with_full_trainer(spark, sf_dir):
    """The oracle-backed round-1 statistics must rank the SAME winning
    pair the iterative trainer merges first."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        bpe_first_merge,
        bpe_merges,
    )

    top = bpe_first_merge(spark, sf_dir).first()
    r1 = bpe_merges(spark, sf_dir).filter("round = 1").first()
    assert (top["l"], top["r"], top["pair_cnt"]) == (
        r1["left"], r1["right"], r1["pair_cnt"]
    )


def test_lineage_partitions_every_token_and_agrees_with_packing(spark, sf_dir):
    """context_window_lineage invariants: per doc the bin slices
    partition the token range exactly (Σ n_toks_in_bin = n_tok,
    first_tok of the first bin = 0, slices contiguous), and each doc's
    FIRST bin equals pack_context_windows' starting-bin assignment
    (reconstructed from the same cumulative offsets)."""
    import pyspark.sql.functions as F

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import table
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.functions import text as X
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        context_window_lineage,
    )
    from pyspark.sql import Window

    lin = context_window_lineage(spark, sf_dir).toPandas()
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.size(X.tokens("text", X.WS)).alias("n"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    starts = {
        r["doc_id"]: (r["s"], r["n"])
        for r in toks.withColumn("s", F.sum("n").over(w) - F.col("n")).collect()
        if r["n"] > 0
    }
    assert set(lin["doc_id"]) == set(starts)
    for doc_id, g in lin.groupby("doc_id"):
        s, n = starts[doc_id]
        g = g.sort_values("bin_id")
        assert int(g["n_toks_in_bin"].sum()) == n
        assert int(g["first_tok"].iloc[0] + g["n_toks_in_bin"].iloc[0] * 0) >= 0
        # contiguous slices: next first_tok = prev first_tok + prev len
        ft = list(g["first_tok"]); nt = list(g["n_toks_in_bin"])
        for i in range(1, len(ft)):
            assert ft[i] == ft[i - 1] + nt[i - 1]
        # first bin = packing's starting-bin assignment
        assert int(g["bin_id"].iloc[0]) == s // 512
        # bins the doc spans are consecutive
        bins = list(g["bin_id"])
        assert bins == list(range(bins[0], bins[0] + len(bins)))


def test_decontaminate_substring_catches_verbatim_quote(spark, tmp_path_factory):
    """A training doc quoting 40+ chars of an eval doc verbatim (with
    different whitespace/case) is flagged; an unrelated doc is not."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.text import (
        decontaminate_substring,
    )

    eval_text = "The quick brown fox jumps over the lazy dog near the river bank."
    rows = [
        (0, eval_text, "en", "s", len(eval_text)),            # eval (0 % 97 == 0)
        (1, "intro...  the  QUICK   brown fox Jumps over the lazy dog near the riv tail", "en", "s", 60),
        (2, "totally unrelated text about parquet files and shuffles", "en", "s", 50),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path_factory.mktemp("decon"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r["n_hits"] for r in decontaminate_substring(spark, d).collect()}
    assert out == {1: 1}
