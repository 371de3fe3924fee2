"""Retrieval + data-selection declared queries over ``documents``.

Two classics a training-data pipeline runs at corpus scale:

* **BM25 top-k** — lexical retrieval against a fixed query-term set
  (eval-set mining, "find documents about X" curation sweeps).
* **DSIR importance weights** — Data Selection via Importance
  Resampling (Xie et al., NeurIPS 2023): hashed-bigram bag-of-words
  language models for a target domain vs the raw corpus; each doc's
  importance log-weight is the sum of per-feature log-likelihood
  ratios. The weight column is what importance resampling then samples
  against (see ``mixture_sample_temperature`` for the sampling side).

Both are pure Column expressions (JVM codegen, no UDFs) with DuckDB
oracles that replicate the arithmetic operation-for-operation, using
the repo's md5 hash family (SURVEY.md §7.3) so feature hashing is
bit-identical across engines.

The reference (hw4.cc) has no retrieval surface; these extend its
tokenizer (hw4.cc:457-466) the same way the text-quality family does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import hashing as H
from ..functions import text as X
from ..registry import query
from .text import _DD_TOKS

# --------------------------------------------------------------------------
# BM25
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "query", "join", "data")
_BM25_TOPK = 10
# Literals are spelled identically in the Spark plan and the oracle SQL so
# both engines parse the same doubles: k1=1.2, b=0.75, k1+1=2.2, 1-b=0.25.


def _bm25_term_sql(i: int) -> str:
    t = _BM25_TERMS[i]
    idf = f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
    return (
        f"{idf} * (tf_{i} * 2.2) / (tf_{i} + 1.2 * (0.25 + 0.75 * (dl / avgdl)))"
    )


@query(
    "bm25_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_DD_TOKS} AS ws FROM documents
    ), pd AS (
      SELECT doc_id, len(ws) AS dl,
             {", ".join(f"len(list_filter(ws, t -> t = '{t}')) AS tf_{i}"
                        for i, t in enumerate(_BM25_TERMS))}
      FROM d WHERE len(ws) > 0
    ), st AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl,
             {", ".join(f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}"
                        for i in range(len(_BM25_TERMS)))}
      FROM pd
    )
    SELECT doc_id, dl,
           round({" + ".join(_bm25_term_sql(i) for i in range(len(_BM25_TERMS)))},
                 6) AS score
    FROM pd, st
    WHERE greatest({", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))}) > 0
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 documents for a fixed query-term set.

    Plan shape, sized for an open-vocabulary corpus with a BOUNDED query
    set (the retrieval case a curation sweep actually runs):

    * ONE explode → groupBy(doc_id) computes doc length and all per-term
      tfs as conditional counts in a single hash aggregate — one corpus
      shuffle, partial-agg'd map-side, instead of a posting-list
      self-join per term.
    * corpus statistics (N, avgdl, per-term df) reduce to a SINGLE row
      — broadcast back via crossJoin, so scoring is a scan over the
      per-doc aggregate with zero further shuffles.
    * the final top-k is a TakeOrderedAndProject (per-partition heaps +
      driver merge of k rows), not a global sort.

    Scoring ties are broken by doc_id on the ROUNDED score, so the
    selected k is deterministic across engines.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(X.tokens("text", X.WS)).alias("w")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("w") == t, True)).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, True)).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i: int):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        norm = tf + F.lit(1.2) * (
            F.lit(0.25) + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))
        )
        return idf * (tf * F.lit(2.2)) / norm

    score = term_score(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + term_score(i)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(F.greatest(*[F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))]) > 0)
        .select("doc_id", "dl", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(_BM25_TOPK)
    )


# --------------------------------------------------------------------------
# DSIR importance weights
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 64  # hashed-feature dimensionality (paper uses 10k; scaled
# to the synthetic vocab — changing it touches ONLY this constant)
_DSIR_TARGET = "src0"  # target-domain proxy: one source bucket
_DSIR_HASH = H.hex_int(H.md5("g"), 1, 8)  # bigram g's bucket, mod B


def _bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, source, g) word bigrams; docs with <2 tokens drop out on
    both engines (Spark: explicit size filter — sequence(1,0) would count
    DOWN; DuckDB: range(1,1) is empty)."""
    ws = docs.select(
        "doc_id", "source", X.tokens("text", X.WS).alias("ws")
    ).filter(F.size("ws") >= 2)
    return ws.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("g"),
    )


@query(
    "dsir_importance",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, {_DD_TOKS} AS ws FROM documents
    ), g AS (
      SELECT doc_id, source,
             UNNEST(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS g
      FROM d WHERE len(ws) >= 2
    ), gb AS (
      SELECT doc_id, source, g,
             CAST({_DSIR_HASH.duck} % {_DSIR_BUCKETS} AS BIGINT) AS b
      FROM g
    ), bs AS (
      SELECT b, count(*) AS raw_c,
             count(*) FILTER (WHERE source = '{_DSIR_TARGET}') AS tgt_c
      FROM gb GROUP BY b
    ), tt AS (
      SELECT sum(raw_c) AS raw_tot, sum(tgt_c) AS tgt_tot FROM bs
    ), lw AS (
      SELECT b, ln((tgt_c + 1.0) / (tgt_tot + {_DSIR_BUCKETS}.0))
               - ln((raw_c + 1.0) / (raw_tot + {_DSIR_BUCKETS}.0)) AS logw
      FROM bs, tt
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(sum(logw), 6) AS dsir_logw
    FROM gb JOIN lw USING (b)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights: hashed-bigram unigram-LM likelihood
    ratio of a target domain (``source = 'src0'``) against the raw
    corpus, Laplace-smoothed, summed per document.

    Feature hashing uses the repo's cross-engine md5 family: bucket =
    first-8-hex-chars(md5(bigram)) mod B (``H.hex_int``).

    Scale shape — the reason DSIR is practical at 100 TB where a real
    LM-perplexity filter is not:

    * BOTH n-gram models reduce to one B-row table, computed by a
      single conditional-count groupBy(bucket) over the gram stream
      (map-side partial agg; B = {_DSIR_BUCKETS} keys, no skew — buckets
      are md5-uniform).
    * totals are whole-table window sums over the B-row aggregate (one
      bounded partition by construction) — a separate totals branch
      would re-derive the gram stream a third time.
    * per-doc scoring joins grams to the B-row broadcast table and
      partial-aggregates the sum — the ONLY corpus-sized shuffle is the
      final groupBy(doc_id), same cost as wordcount.

    The weight column feeds importance resampling downstream; compose
    with ``train_split_hash`` / ``mixture_sample_temperature`` for the
    selection step.
    """
    grams = _bigrams(table(spark, sf_dir, "documents"))
    gb = grams.withColumn(
        "b",
        _DSIR_HASH.col % _DSIR_BUCKETS,
    )
    bs = gb.groupBy("b").agg(
        F.count("*").alias("raw_c"),
        F.count(F.when(F.col("source") == _DSIR_TARGET, True)).alias("tgt_c"),
    )
    # Totals as a whole-table window over the POST-AGG table (B rows in
    # one partition — the "no partition defined" shape is deliberate and
    # bounded by construction), not a separate .agg() branch: a second
    # consumer of ``bs`` would re-derive the whole gram stream (measured:
    # 6 FileScans → 4 in the executed plan), since runtime exchange
    # reuse does not cross the broadcast boundary here. Two corpus
    # passes (LM build + scoring) is DSIR's inherent minimum.
    w = Window.partitionBy()
    smooth = float(_DSIR_BUCKETS)
    lw = bs.select(
        "b",
        (
            F.log(
                (F.col("tgt_c") + F.lit(1.0))
                / (F.sum("tgt_c").over(w) + F.lit(smooth))
            )
            - F.log(
                (F.col("raw_c") + F.lit(1.0))
                / (F.sum("raw_c").over(w) + F.lit(smooth))
            )
        ).alias("logw"),
    )
    return (
        gb.join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum("logw"), 6).alias("dsir_logw"),
        )
    )


# --------------------------------------------------------------------------
# NDCG@10 retrieval evaluation
# --------------------------------------------------------------------------

_NDCG_K = 10
# gain spelled identically in both engines: (2^rel - 1) / log2(pos + 1)
_GAIN_SQL = "(pow(2.0, rel) - 1.0) / (ln(pos + 1.0) / ln(2.0))"


@query(
    "ndcg_at_10",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_DD_TOKS} AS ws FROM documents
    ), pd AS (
      SELECT doc_id, len(ws) AS dl,
             {", ".join(f"len(list_filter(ws, t -> t = '{t}')) AS tf_{i}"
                        for i, t in enumerate(_BM25_TERMS))}
      FROM d WHERE len(ws) > 0
    ), st AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl,
             {", ".join(f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}"
                        for i in range(len(_BM25_TERMS)))}
      FROM pd
    ), scored AS (
      SELECT doc_id,
             {", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))},
             {" + ".join(f"CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END"
                         for i in range(len(_BM25_TERMS)))} AS rel,
             round({" + ".join(_bm25_term_sql(i)
                               for i in range(len(_BM25_TERMS)))}, 6) AS score
      FROM pd, st
    ), ranked AS (
      SELECT rel, row_number() OVER (ORDER BY score DESC, doc_id) AS pos
      FROM scored
      WHERE greatest({", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))}) > 0
    ), dcg_t AS (
      SELECT SUM({_GAIN_SQL}) AS dcg FROM ranked WHERE pos <= {_NDCG_K}
    ), ideal AS (
      SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos
      FROM scored
    ), idcg_t AS (
      SELECT SUM({_GAIN_SQL}) AS idcg FROM ideal WHERE pos <= {_NDCG_K}
    )
    SELECT round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
           round(dcg / idcg, 6) AS ndcg
    FROM dcg_t, idcg_t
    """,
)
def ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking against graded relevance labels
    (rel = number of distinct query terms a document contains, 0-4) —
    the retrieval-evaluation half of the ``bm25_topk`` story, run the
    way an offline eval sweep scores a ranker change.

    Plan shape: identical corpus pass to ``bm25_topk`` (one explode →
    per-doc aggregate, singleton stats broadcast back); then BOTH
    rankings — actual (by score) and ideal (by relevance) — are top-10
    TakeOrdered selections, so the position windows run over 10 rows,
    never the corpus. Gains are spelled with the same double ops in
    both engines and the three outputs round to 6 dp (the PageRank
    reassociation rule)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text", X.WS)).alias("w"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("w") == t, True)).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, True)).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i: int):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        norm = tf + F.lit(1.2) * (
            F.lit(0.25) + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))
        )
        return idf * (tf * F.lit(2.2)) / norm

    score = term_score(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + term_score(i)
    rel = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(_BM25_TERMS))
    )
    scored = per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        *[f"tf_{i}" for i in range(len(_BM25_TERMS))],
        rel.alias("rel"),
        F.round(score, 6).alias("score"),
    )

    from pyspark.sql import Window

    def gain():
        return (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)) / (
            F.log(F.col("pos") + F.lit(1.0)) / F.log(F.lit(2.0))
        )

    top = (
        scored.filter(
            F.greatest(*[F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))]) > 0
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(_NDCG_K)  # TakeOrdered: 10 rows reach the window below
        .withColumn("pos", F.row_number().over(Window.orderBy(F.desc("score"), "doc_id")))
    )
    dcg = top.agg(F.sum(gain()).alias("dcg"))
    ideal = (
        scored.orderBy(F.desc("rel"), "doc_id")
        .limit(_NDCG_K)
        .withColumn("pos", F.row_number().over(Window.orderBy(F.desc("rel"), "doc_id")))
    )
    idcg = ideal.agg(F.sum(gain()).alias("idcg"))
    return dcg.crossJoin(idcg).select(
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )
