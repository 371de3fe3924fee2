"""Text-analysis declared queries over ``documents``.

These are the training-data-pipeline primitives (language-ID, quality
scoring, token counting, fingerprinting) expressed as pure Column
expressions (:mod:`..functions.text`) with DuckDB oracles that replicate
the arithmetic operation-for-operation, so the driver's value-hash check
verifies the math, not just the row counts.
"""

from __future__ import annotations

import pandas as pd  # module-level so stringified UDF type hints resolve

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..functions import hashing as H
from ..functions import text as X
from ..registry import oracle_for as _oracle_for
from ..registry import query

# DuckDB fragments mirroring functions/text.py expression-for-expression.
_DD_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"
_DD_NTOKS = f"len({_DD_TOKS})"
_DD_PUNCT = r"length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))"


def _dd_stopword_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in X.STOPWORDS[lang])
    return f"len(list_filter({_DD_TOKS}, t -> lower(t) IN ({words})))"


@query(
    "text_quality",
    # the coalesce(·, 0) wrappers mirror the engine's explode_outer
    # aggregates on NULL text (round-8 review): the engine emits
    # n_tokens = n_punct = 0 for a NULL doc and scores the punct term
    # 1.0 / prose term 0.0; the bare fragments emitted NULL counts and
    # — by a different least/greatest NULL-skip path — the SAME 0.666667
    # quality, a coincidence one formula edit away from breaking.
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           coalesce({_DD_NTOKS}, 0) AS n_tokens,
           coalesce({_DD_PUNCT}, 0) AS n_punct,
           round(
             ( least(length(text) / 200.0, 1.0)
             + greatest(0.0, 1.0 - (coalesce({_DD_PUNCT}, 0) / greatest(length(text), 1)) * 5)
             + least((coalesce({_dd_stopword_hits('en')}, 0) / greatest(coalesce({_DD_NTOKS}, 0), 1)) * 4, 1.0)
             ) / 3, 6) AS quality
    FROM documents ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation-density / stopword-ratio
    composite.

    Everything aggregates from ONE explode → groupBy — no join back to
    the docs table. Two non-obvious choices, both measured:

    * the punct count aggregates per TOKEN (tokens split on ``\\s+``,
      and the punct class excludes whitespace, so every punct char
      lives inside some token — Σ punct(token) ≡ punct(text) by
      construction), via ``translate`` rather than a regex: 50M tiny
      regexp_replace invocations pay regex-engine setup per call
      (13.7 s vs 6.5 s at the 100× probe), while translate is a plain
      char map. Projecting punct_count(text) next to the explode
      instead is a worse trap: CollapseProject re-inlines the full-text
      regex into the post-Generate project, re-scanning the WHOLE doc
      once per token row (measured 5.4 s vs 1.0 s at sf0.1);
    * the join-back form this replaces was locally faster (its O(docs)
      tok_stats side broadcast under the 64 MB threshold) but
      scale-wrong: tok_stats grows with the corpus, and at 100 TB that
      join either mis-broadcasts (the lsh_jaccard_verified OOM class)
      or shuffles the full text column. Here the only wide op is the
      partial-agg'd groupBy shipping 4 ints per doc.

    ``explode_outer`` keeps token-less docs (count("t") skips the null
    row), matching the oracle exactly.

    spread (r14): the per-token translate/isin work is the cost here,
    and the fixture scan is one unsplittable task — measured 0.64×
    with the scan round-robined first (catalog.spread docstring)."""
    docs = spread(table(spark, sf_dir, "documents"))
    ex = docs.select(
        "doc_id",
        F.length("text").alias("_nc"),
        F.explode_outer(X.tokens("text", X.WS)).alias("t"),
    )
    sw = X.STOPWORDS["en"]
    stats = ex.groupBy("doc_id", "_nc").agg(
        F.count("t").alias("_nt"),
        F.coalesce(
            F.sum(F.lower("t").isin(*sw).cast("int")), F.lit(0)
        ).alias("_hits"),
        F.coalesce(F.sum(X.punct_count_ascii("t")), F.lit(0)).alias("_np"),
    )
    n_chars, n_punct = F.col("_nc"), F.col("_np")
    len_score = F.least(n_chars / F.lit(200.0), F.lit(1.0))
    punct_score = F.greatest(
        F.lit(0.0), F.lit(1.0) - (n_punct / F.greatest(n_chars, F.lit(1))) * 5
    )
    prose_score = F.least(
        (F.col("_hits") / F.greatest(F.col("_nt"), F.lit(1))) * 4, F.lit(1.0)
    )
    return stats.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        F.col("_nt").cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        F.round((len_score + punct_score + prose_score) / 3, 6).alias("quality"),
    )


def _dd_lang_case() -> str:
    """DuckDB CASE replicating functions.text.lang_id's fold exactly:
    languages iterated in sorted order, strictly-greater replaces, so the
    earliest language wins ties; 'und' when the max score < 1.

    Scores are COALESCE'd to 0 (round-8 review): on NULL text every
    list_filter score is NULL, so the bare CASE's ``greatest(...) < 1``
    guard is NULL (not taken) and every >= comparison is NULL, falling
    through to the ELSE — the LAST language alphabetically — while the
    engine's explode_outer path coalesces to 0 and answers 'und'."""
    langs = sorted(X.STOPWORDS)
    scores = {lang: f"coalesce({_dd_stopword_hits(lang)}, 0)" for lang in langs}
    branches = []
    for i, lang in enumerate(langs):
        later = langs[i + 1 :]
        conds = [f"{scores[lang]} >= {scores[lt]}" for lt in later]
        cond = " AND ".join(conds) if conds else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lang}'")
    all_scores = ", ".join(scores.values())
    return (
        f"CASE WHEN greatest({all_scores}) < 1 THEN 'und' "
        + " ".join(branches[:-1])
        + f" ELSE '{langs[-1]}' END"
    )


def lang_pred_frame(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id[, extra_cols...], lang_pred) via the stopword-argmax
    heuristic — the shared body of ``lang_id`` and the rater-B side of
    ``label_agreement_kappa`` (plans/evalmetrics.py), so both queries
    answer from ONE tokenization + fold and cannot drift apart.

    Explode tokens once, aggregate one hit-count per language (map-side
    partial, codegen'd IN-lists), then apply the shared argmax fold —
    ~4× less tokenization than the per-language array-filter form, which
    matters when the pass runs over 100 TB of text. ``explode_outer``
    keeps token-less docs in the aggregate itself (null token rows hit
    no IN-list → all scores coalesce to 0 → 'und'), so there is NO join
    back to the docs table — the former left-join form only looked
    cheap because its O(docs) aggregate side slipped under the local
    broadcast threshold (same scale trap text_quality shed).
    ``extra_cols`` ride the groupBy key (functionally dependent on
    doc_id) so callers that need sibling columns — kappa needs the
    stored ``lang`` label — don't pay a join back to the table."""
    toks = docs.select(
        "doc_id", *extra_cols, F.explode_outer(X.tokens("text", X.WS)).alias("t")
    )
    hit_aggs = [
        F.sum(F.lower("t").isin(*X.STOPWORDS[lang]).cast("int")).alias(f"_h_{lang}")
        for lang in sorted(X.STOPWORDS)
    ]
    hits = toks.groupBy("doc_id", *extra_cols).agg(*hit_aggs)
    scores = {
        lang: F.coalesce(f"_h_{lang}", F.lit(0)) for lang in sorted(X.STOPWORDS)
    }
    return hits.select(
        "doc_id", *extra_cols, X.lang_id_from_scores(scores).alias("lang_pred")
    )


@query(
    "lang_id",
    oracle=f"""
    SELECT doc_id, {_dd_lang_case()} AS lang_pred
    FROM documents ORDER BY doc_id
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via per-language stopword-hit argmax (the classic
    cheap stopword-heuristic detector). Plan body shared with the
    kappa rater via :func:`lang_pred_frame` (see its docstring for the
    single-tokenization scale shape)."""
    docs = table(spark, sf_dir, "documents")
    return lang_pred_frame(docs)


@query(
    "lang_metadata_mismatch",
    oracle=f"""
    SELECT lang, {_dd_lang_case()} AS lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1, 2 ORDER BY lang, lang_pred
    """,
)
def lang_metadata_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-detector language CONFUSION MATRIX: per (stored
    ``lang`` label, predicted ``lang_pred``) document counts — the
    label-noise audit a curator runs before trusting upstream metadata
    for mixture weights or per-language quotas. Where
    ``label_agreement_kappa`` compresses rater agreement to one
    chance-corrected number, this is the ACTIONABLE view: which stored
    labels disagree, with which prediction, and how often (an 'en'
    row predicted 'fr' at volume means a mislabeled source feed; a
    fat 'und' column means short/token-less docs the detector cannot
    call). Diagonal + off-diagonal together partition the corpus, so
    the matrix doubles as the per-label volume report.

    Shares the single-tokenization ``lang_pred_frame`` body with
    lang_id/kappa (one explode, map-side partial hit counts, the
    identical argmax fold both engines replay), with the stored label
    riding the groupBy key — no join back to the table. The final
    (|langs|·|langs+1|)-key agg is vocabulary-sized. NULL-text docs
    keep lang_id's contract: all scores coalesce to 0 → 'und'."""
    docs = table(spark, sf_dir, "documents")
    return (
        lang_pred_frame(docs, extra_cols=("lang",))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


@query(
    "token_count_est",
    oracle=rf"""
    SELECT doc_id,
           {_DD_NTOKS} AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def token_count_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex estimate
    (letter runs / digit runs / punctuation marks as separate tokens)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").cast("long").alias("ws_tokens"),
        X.bpe_ish_token_count("text").cast("long").alias("bpe_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, {H.fingerprint("text").duck} AS fp
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercase
    text. md5 agrees byte-for-byte across engines, so this doubles as the
    exact-dedup key (see plans.dedup.dedup_exact)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", H.fingerprint("text").col.alias("fp"))


@query(
    "shingle_fingerprints",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(l) - 2, 0) + 1),
                                          i -> array_to_string(l[i:i+2], ' '))) AS shingles
      FROM toks
    ), fps AS (
      SELECT doc_id, UNNEST(list_transform(shingles, s -> md5(s))) AS fp FROM sh
    )
    SELECT doc_id, fp FROM fps
    WHERE {H.first_hex_in("fp", "048c").duck}
    ORDER BY doc_id, fp
    """,
)
def shingle_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style selective shingle fingerprints (1-in-4 sample of
    3-word-shingle md5s) — the containment-detection primitive. Exploded
    to (doc_id, fp) rows so the oracle hash covers values exactly."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(X.shingle_fingerprints("text", 3, 4)).alias("fp")
        )
    )


@query(
    "tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS t
      FROM documents
    ),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.t AS term,
             round(tf.tf * ln(n.n * 1.0 / df.df), 6) AS score,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY round(tf.tf * ln(n.n * 1.0 / df.df), 6) DESC, tf.t) AS rn
      FROM tf JOIN df ON tf.t = df.t CROSS JOIN n
    )
    SELECT doc_id, term, score FROM scored WHERE rn <= 3 ORDER BY doc_id, term
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 terms per document by tf·ln(N/df).

    All counts are integers; the only float op is the final ln and
    multiply, identical expression order in both engines (rounded 1e-6,
    tie-broken on term). The top-3 window ranks on the ROUNDED score —
    the family convention set by pmi_collocations/tfidf_cosine_pairs
    (round-8 review aligned this query): JVM Math.log and libm ln can
    disagree by 1 ulp on identical input, and a raw-score window lets
    that flip which term takes rank 3; inside a 1e-6 rounding bucket
    the term tie-break decides identically in both engines. Plan: one
    token explode feeding two partial-agg shuffles (tf by (doc,term),
    df by term), then a broadcast of the df table (|vocab| rows, tiny
    relative to the corpus) back onto tf — no join of the corpus
    against itself."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text", X.WS)).alias("t"))
    tf = toks.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    df = tf.groupBy("t").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    score = F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.round(score, 6).desc(), F.col("t"))
    return (
        tf.join(F.broadcast(df), "t")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("t").alias("term"), F.round(score, 6).alias("score"))
    )


@query(
    "ngram_freq",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
      FROM documents
    ),
    grams AS (
      SELECT UNNEST(list_transform(range(1, greatest(len(l) - 1, 0) + 1),
                                   i -> array_to_string(l[i:i+1], ' '))) AS g
      FROM toks
    )
    SELECT g AS gram, COUNT(*) AS cnt FROM grams
    GROUP BY g ORDER BY cnt DESC, gram LIMIT 20
    """,
)
def ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram frequencies, top-20 (n-gram text analysis).
    Bigrams with multiplicity (no per-doc dedup) → explode → count.
    TakeOrdered merges per-partition top-20 heaps — no global sort."""
    docs = table(spark, sf_dir, "documents")
    toks = X.tokens("text", X.WS)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - 1)
    bigrams = F.when(
        n >= 2,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2))),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bigrams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram"))
        .limit(20)
    )


@query(
    "udtf_tokenize",
    oracle=r"""
    SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
    FROM documents WHERE doc_id < 50 ORDER BY doc_id, token
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's split() (hw4.cc:457-466, a table-generating
    function per SURVEY.md §2.1 O3) as a real Python UDTF — completing
    the UDF/UDAF/UDTF pluggable surface. Row-at-a-time Python is the
    SLOW path (explode+split stays JVM-side and is what every other
    query uses); this exists to prove the extension point, scoped to a
    50-doc slice so the bench doesn't pay for it.

    The split is the explicit class ``[ \\t\\n\\r\\f]+``, NOT
    ``str.split()`` (round-8 review: Python's split treats Unicode
    whitespace — NBSP, U+2028… — as separators) and NOT Python's
    ASCII ``\\s`` either (round-9, ADVICE r8: Python's ASCII ``\\s``
    includes ``\\v`` while the oracle's RE2 ``\\s`` is exactly
    ``[ \\t\\n\\r\\f]`` — a vertical-tab doc would still tokenize
    differently per engine). Latent on the pure-ASCII fixtures, but
    the contract shouldn't rest on that."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string")
    class Tokenize:
        # defined inline: ships by value (see streaming/stateful.py note)
        def eval(self, text: str):
            import re

            if text:
                for tok in re.split(r"[ \t\n\r\f]+", text):
                    if tok:
                        yield (tok,)

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("tokenize_udtf", Tokenize)
    return spark.sql(
        """
        SELECT doc_id, t.token AS token
        FROM _udtf_docs, LATERAL tokenize_udtf(text) t
        ORDER BY doc_id, token
        """
    )


@query(
    "pandas_udaf_mean",
    oracle="""
    SELECT event_type, round(AVG(value), 4) AS mean_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def pandas_udaf_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate via a GROUPED_AGG pandas UDF (Arrow-batched
    series → scalar): per-event-type mean value. The UDAF extension
    point; the exact-arithmetic path is event_window's DECIMAL mean.

    ORACLE-BACKED: numpy's reduction differs from SQL AVG by ~1e-15,
    11 orders below the 4-dp display rounding — the same
    margin-vs-rounding argument every cosine oracle already rests on.
    Knife edge: a group mean sitting within 1e-15 of a x.xxxx5
    rounding boundary; no fixture group does."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mean_udaf(v: pd.Series) -> float:
        return float(v.mean())

    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.round(mean_udaf("value"), 4).alias("mean_value"))
        .orderBy("event_type")
    )


@query(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g')) AS norm
    FROM documents ORDER BY doc_id
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, strip non-alphanumerics,
    collapse whitespace) — the pre-tokenization cleaning pass. Pure
    scan-side regex chain."""
    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )
    return docs.select("doc_id", norm.alias("norm"))


@query(
    "text_scrub_pii",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g') AS scrubbed,
           (text <> regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g')) AS had_pii
    FROM documents ORDER BY doc_id
    """,
)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails, phone numbers → placeholder tokens) — the
    compliance pass every training-data pipeline runs. Regex kept to the
    Java/RE2-compatible subset so engine and oracle agree.

    ``had_pii`` compares CONTENT (scrubbed <> text), not lengths
    (round-8 review): a 7-char email scrubs to the 7-char '<EMAIL>'
    token, and mixed email/phone deltas can cancel — a length compare
    under-reports identically in both engines, the silent class parity
    can never catch."""
    docs = table(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", email, "<EMAIL>"), phone, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        (F.col("text") != scrubbed).alias("had_pii"),
    )


@query(
    "pipeline_filter_quality",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, text,
             {H.fingerprint("text").duck} AS fp,
             {_dd_lang_case()} AS lang_pred,
             ( least(length(text) / 200.0, 1.0)
             + greatest(0.0, 1.0 - ({_DD_PUNCT} / greatest(length(text), 1)) * 5)
             + least(({_dd_stopword_hits('en')} / greatest({_DD_NTOKS}, 1)) * 4, 1.0)
             ) / 3 AS quality
      FROM documents
    ),
    kept AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored WHERE lang_pred = 'en' AND quality >= 0.5
    )
    SELECT COUNT(*) AS n_kept,
           (SELECT COUNT(*) FROM documents) AS n_total,
           CAST(MIN(doc_id) AS BIGINT) AS first_kept
    FROM kept WHERE rn = 1
    """,
)
def pipeline_filter_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data cleaning pipeline in one plan:
    language filter (predicted 'en') → quality threshold → exact dedup
    keeping the lowest doc_id per fingerprint cluster → corpus stats.
    Composes lang_id + text_quality + dedup_exact; one pass over the
    corpus, two shuffles (doc-stats aggregation, fingerprint dedup) —
    the shape of a real 100 TB cleaning job.

    The docs⋈stats join survives here (unlike lang_id/text_quality,
    which shed theirs) because this plan also needs full-text values —
    the md5 fingerprint — that cannot aggregate from token rows and
    would hit the CollapseProject per-token re-inline trap if carried
    through the explode as a group key. Both join sides scale with the
    corpus, so the stats side carries an explicit merge hint (the
    lsh_jaccard_verified rule: never let a corpus-sized side be
    broadcast on local statistics)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text", X.WS)).alias("t"))
    hit_aggs = [
        F.sum(F.lower("t").isin(*X.STOPWORDS[lang]).cast("int")).alias(f"_h_{lang}")
        for lang in sorted(X.STOPWORDS)
    ]
    stats = toks.groupBy("doc_id").agg(F.count("*").alias("_nt"), *hit_aggs)
    scores = {
        lang: F.coalesce(f"_h_{lang}", F.lit(0)) for lang in sorted(X.STOPWORDS)
    }
    n_chars = F.length("text")
    n_toks = F.coalesce("_nt", F.lit(0))
    hits_en = F.coalesce("_h_en", F.lit(0))
    quality = (
        F.least(n_chars / F.lit(200.0), F.lit(1.0))
        + F.greatest(
            F.lit(0.0),
            F.lit(1.0) - (X.punct_count("text") / F.greatest(n_chars, F.lit(1))) * 5,
        )
        + F.least((hits_en / F.greatest(n_toks, F.lit(1))) * 4, F.lit(1.0))
    ) / 3
    scored = docs.join(stats.hint("merge"), "doc_id", "left").select(
        "doc_id",
        H.fingerprint("text").col.alias("fp"),
        X.lang_id_from_scores(scores).alias("lang_pred"),
        quality.alias("quality"),
    )
    kept = scored.filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.5))
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    total = docs.agg(F.count("*").alias("n_total"))
    return deduped.agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").cast("bigint").alias("first_kept"),
    ).crossJoin(F.broadcast(total)).select("n_kept", "n_total", "first_kept")


@query(
    "text_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DD_TOKS} AS ws FROM documents
    ), grams AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
      FROM toks, UNNEST(range(1, len(ws))) AS r(i)
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           round(1.0 - COUNT(DISTINCT g) / CAST(COUNT(*) AS DOUBLE), 6)
             AS dup_gram_frac
    FROM grams GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of duplicate word bigrams per document — high values flag
    boilerplate/spam that survives per-doc dedup because it repeats
    WITHIN a page, not across pages.

    Bigrams build narrowly — explode the start index (codegen'd
    Generate) and element_at the token array twice — so nothing wide
    happens before the per-doc aggregate (a lead() window would shuffle
    every token row; a higher-order zip would run interpreted). The
    per-doc count/countDistinct pair partial-aggregates map-side; docs
    with <2 tokens have no bigram and drop out on both sides. The ratio
    is integer/integer in both engines — no float accumulation to
    wobble."""
    docs = table(spark, sf_dir, "documents")
    t = X.tokens("text", X.WS)
    grams = (
        docs.select("doc_id", t.alias("_ws"), F.size(t).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select(
            "doc_id",
            "_ws",
            F.explode(F.sequence(F.lit(1), F.col("_n") - 1)).alias("_i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("_ws", F.col("_i")),
                F.element_at("_ws", F.col("_i") + 1),
            ).alias("g"),
        )
    )
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                1.0 - F.countDistinct("g") / F.count("*").cast("double"), 6
            ).alias("dup_gram_frac"),
        )
    )




def _contamination_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, source, g): word 4-grams via the narrow
    index-explode build (codegen'd Generate + element_at; the
    transform+slice higher-order form computes the same grams but runs
    interpreted). Shared by the exact and bloom decontamination paths."""
    t = X.tokens("text", X.WS)
    return (
        docs.select(
            "doc_id", "lang", "source", t.alias("_ws"), F.size(t).alias("_n")
        )
        .filter(F.col("_n") >= 4)
        .select(
            "doc_id",
            "lang",
            "source",
            "_ws",
            F.explode(F.sequence(F.lit(1), F.col("_n") - 3)).alias("_i"),
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.concat_ws(
                " ",
                *[F.element_at("_ws", F.col("_i") + k) for k in range(4)],
            ).alias("g"),
        )
    )


# ONE oracle for both decontamination paths (round-8 review: the bloom
# variant's documented same-semantics-as-exact contract was backed by a
# second hand-maintained copy of this SQL — an edit to one copy could
# break the exact/bloom equivalence with no test noticing).
_DECONTAMINATE_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, source, {_DD_TOKS} AS ws FROM documents
    ), grams AS (
      SELECT doc_id, lang, source, array_to_string(ws[i:i + 3], ' ') AS g
      FROM toks, UNNEST(range(1, len(ws) - 2)) AS r(i)
    )
    SELECT DISTINCT doc_id, lang, source FROM grams
    WHERE doc_id % 97 <> 0
      AND g IN (SELECT g FROM grams WHERE doc_id % 97 = 0)
    ORDER BY doc_id
    """


@query("decontaminate_ngram", oracle=_DECONTAMINATE_ORACLE)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word 4-gram with a held-out eval set (here ``doc_id % 97 = 0`` stands
    in for the benchmark corpus). The standard pretraining hygiene step —
    eval contamination inflates downstream scores, so contaminated pages
    are dropped or quarantined before training.

    Scale shape: the eval side is tiny relative to the corpus (benchmarks
    are MBs, the corpus is TBs), so its distinct 4-grams BROADCAST and the
    train side is filtered by a broadcast semi-join with no shuffle of the
    100 TB side at all; only matched gram hits cross the wire for the final
    per-doc distinct. Grams build narrowly — explode the start index
    (codegen'd Generate) and element_at the token array four times (the
    transform+slice higher-order form computes the same grams but runs
    interpreted, outside whole-stage codegen); docs shorter than 4
    tokens contribute nothing on either engine."""
    docs = table(spark, sf_dir, "documents")
    grams = _contamination_grams(docs)
    eval_grams = (
        grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id", "lang", "source")
        .distinct()
    )


@query(
    "contamination_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DD_TOKS} AS ws FROM documents
    ), grams AS (
      SELECT doc_id, array_to_string(ws[i:i + 3], ' ') AS g
      FROM toks, UNNEST(range(1, len(ws) - 2)) AS r(i)
    ), agg AS (
      SELECT doc_id, count(*) AS n_grams,
             count(*) FILTER (
               WHERE g IN (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
             ) AS n_hit
      FROM grams WHERE doc_id % 97 <> 0 GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           round(n_hit / n_grams, 6) AS overlap_frac
    FROM agg ORDER BY doc_id
    """,
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination SCORING — the graded complement to the binary
    ``decontaminate_ngram`` gate: for every training document, the
    fraction of its word 4-grams that appear in the eval set
    (``doc_id % 97 = 0``). The GPT-3/PaLM appendices report exactly this
    per-document overlap statistic to pick a quarantine threshold; the
    binary filter is this query with ``overlap_frac > 0``.

    Same scale shape as the binary gate: the eval side's distinct grams
    broadcast (benchmarks are MBs); the train side takes a broadcast
    LEFT join (hit = matched marker, counted per doc), so the only
    corpus-sized shuffle is the per-doc aggregate. n_hit/n_grams is a
    single long/long division — no accumulation-order float risk."""
    docs = table(spark, sf_dir, "documents")
    grams = _contamination_grams(docs)
    ev = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .select("g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev), "g", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.count("_hit").alias("n_hit"))
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("overlap_frac"),
    )


@query(
    "sample_per_lang_topk",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn <= 50
    ORDER BY lang, doc_id
    """,
)
def sample_per_lang_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling: an exact, deterministic cap of K=50 documents per
    language, ranked by md5(doc_id) — the per-domain / per-language cap a
    balanced pretraining mix needs (no language may flood the corpus).
    Hash-rank instead of "first K by id" so the sample is unbiased w.r.t.
    ingestion order yet fully reproducible run-to-run.

    Scale shape: a single window on lang would serialize each language
    through one task — few distinct languages means a handful of tasks
    sort the whole corpus. Instead top-K runs in two exact phases: phase
    1 ranks within (lang, salt) — 16-way salted, so 16 parallel bounded
    sorts per language — and keeps K per salt; phase 2 re-ranks the
    ≤ 16·K survivors per language (trivial). The global per-lang top-K
    is always a subset of the union of per-salt top-Ks, so this is
    exact, and the corpus-sized sort disappears."""
    from pyspark.sql import Window

    S, K = 16, 50
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
        F.pmod(F.xxhash64("doc_id"), F.lit(S)).alias("_salt"),
    )
    w1 = Window.partitionBy("lang", "_salt").orderBy("_h", "doc_id")
    w2 = Window.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= K)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= K)
        .select("doc_id", "lang")
    )


@query(
    "train_split_hash",
    oracle=f"""
    SELECT {H.split_12_2_2(H.md5_id("doc_id")).duck} AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1 ORDER BY split
    """,
)
def train_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    hash: first hex digit of md5(doc_id) → 12/2/2 sixteenths. The split
    is stable under re-ingestion, shard order, and corpus growth — a doc
    never migrates between splits, which leakage-free eval depends on.

    Scale shape: entirely narrow (hash + CASE inside codegen at the scan)
    until a 3-group partial-aggregated count/sum — the cheapest possible
    plan at any corpus size; no join, no window, no wide shuffle."""
    docs = table(spark, sf_dir, "documents")
    split = H.split_12_2_2(H.md5_id("doc_id")).col
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "pack_context_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_DD_TOKS}) AS n_tok FROM documents
    ), c AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source, CAST(FLOOR((cum - n_tok) / 512) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1, 2 ORDER BY source, bin_id
    """,
)
def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed 512-token training
    bins by streaming cumulative offset within each source shard (a doc
    starts in the bin its running offset falls in — the offset-packing
    layout samplers use to pack short docs into full context windows
    with minimal padding).

    Scale shape: packing is per-source-shard by construction — the
    cumulative sum windows over each source independently, which is the
    unit a writer task owns at 100 TB, so no global order exists
    anywhere. Token counts ride the same explode→count aggregate as the
    other text queries; the window input is (doc, count) pairs, not
    tokens."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(X.tokens("text", X.WS)).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        toks.withColumn("cum", F.sum("n_tok").over(w))
        .groupBy(
            "source",
            F.floor((F.col("cum") - F.col("n_tok")) / 512)
            .cast("bigint")
            .alias("bin_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "context_window_lineage",
    # same per-source cumulative offsets as pack_context_windows, then
    # one row per (doc, bin) the doc's token range intersects — integer
    # arithmetic end-to-end, so the replay is exact
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_DD_TOKS}) AS n_tok FROM documents
    ), c AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS s
      FROM t
    ), x AS (
      SELECT doc_id, source, n_tok, s FROM c WHERE n_tok > 0
    )
    SELECT source, CAST(b AS BIGINT) AS bin_id, doc_id,
           CAST(GREATEST(s, b * 512) - s AS BIGINT) AS first_tok,
           CAST(LEAST(s + n_tok, (b + 1) * 512)
                - GREATEST(s, b * 512) AS BIGINT) AS n_toks_in_bin
    FROM x, UNNEST(range(CAST(s // 512 AS BIGINT),
                         CAST((s + n_tok - 1) // 512 + 1 AS BIGINT))) AS r(b)
    ORDER BY source, bin_id, doc_id
    """,
)
def context_window_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document→context-window lineage (VERDICT r9 #6): which token
    range of which document landed in which 512-token training bin —
    the provenance table every training-data audit joins against when a
    model regurgitates, a takedown arrives, or a contamination hit
    must be traced back to the packed batch that contained it.

    ``pack_context_windows`` reports each doc only under its STARTING
    bin; this emits one row per (doc, bin) the doc's token range
    actually intersects — a doc spanning a boundary appears in every
    window it feeds, with ``first_tok`` (0-based offset of the first
    token of this doc inside this bin) and ``n_toks_in_bin``. Per doc,
    Σ n_toks_in_bin = n_tok and the minimum bin_id equals the packing
    query's assignment (both pinned in tests/test_text_functions.py).

    Scale shape: same per-source-shard cumulative window as the packing
    query (no global order exists), then a NARROW explode of each doc's
    ≤ ceil(n/512)+1 bin indices — no join, no second shuffle; lineage
    for 100 TB is the packing pass plus one map stage. Zero-token docs
    have no tokens to place and are absent by construction."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(X.tokens("text", X.WS)).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    x = (
        toks.withColumn("s", F.sum("n_tok").over(w) - F.col("n_tok"))
        .filter(F.col("n_tok") > 0)
    )
    b0 = F.floor(F.col("s") / 512).cast("long")
    b1 = F.floor((F.col("s") + F.col("n_tok") - 1) / 512).cast("long")
    lo = F.greatest(F.col("s"), F.col("b") * 512)
    hi = F.least(F.col("s") + F.col("n_tok"), (F.col("b") + 1) * 512)
    return (
        x.select(
            "doc_id", "source", "n_tok", "s",
            F.explode(F.sequence(b0, b1)).alias("b"),
        )
        .select(
            "source",
            F.col("b").cast("bigint").alias("bin_id"),
            "doc_id",
            (lo - F.col("s")).cast("bigint").alias("first_tok"),
            (hi - lo).cast("bigint").alias("n_toks_in_bin"),
        )
    )


@query(
    "chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DD_TOKS} AS ws FROM documents
    ), n AS (
      SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) > 0
    )
    SELECT doc_id, i AS chunk_id,
           least(64, n - i * 48) AS chunk_len,
           ws[i * 48 + 1] AS head
    FROM n, UNNEST(range(0,
           CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT) + 1)) AS r(i)
    ORDER BY doc_id, chunk_id
    """,
)
def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking (RAG / long-doc ingestion): split each
    document into 64-token windows with stride 48 (16-token overlap so
    no boundary sentence is lost), emitting per chunk its length and
    leading token. Every doc yields ceil(max(n-64,0)/48)+1 chunks; docs
    under one window yield exactly one.

    Scale shape: entirely narrow — the chunk index explodes from a
    per-doc sequence (no join, no window, no shuffle before the final
    presentation sort), so chunking 100 TB is one map pass whose output
    feeds the embedding stage directly."""
    docs = table(spark, sf_dir, "documents")
    t = X.tokens("text", X.WS)
    base = docs.select("doc_id", t.alias("ws"), F.size(t).alias("n")).filter(
        F.col("n") > 0
    )
    k = F.ceil(F.greatest(F.col("n") - 64, F.lit(0)) / 48.0).cast("long")
    return (
        base.select(
            "doc_id",
            "ws",
            "n",
            F.explode(F.sequence(F.lit(0).cast("long"), k)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.least(F.lit(64), F.col("n") - F.col("chunk_id") * 48).alias(
                "chunk_len"
            ),
            F.element_at("ws", (F.col("chunk_id") * 48 + 1).cast("int")).alias(
                "head"
            ),
        )
    )


@query(
    "corpus_report",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT md5(text)) AS n_uniq,
           round(1.0 - COUNT(DISTINCT md5(text)) * 1.0 / COUNT(*), 4)
             AS dup_rate
    FROM documents
    GROUP BY ROLLUP(lang, source)
    ORDER BY lang NULLS FIRST, source NULLS FIRST
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus report card: doc counts, volume, and exact-duplicate rate
    per (lang, source) with rollup subtotals — the first query a curation
    run executes to decide where dedup budget goes. One pass: rollup
    replicates each row into its 3 grouping sets scan-side, COUNT
    (DISTINCT md5) expands to the standard two-phase distinct aggregate
    (partial distinct on (group, fingerprint) before the shuffle), and
    the md5 fingerprint matches DuckDB's bit-for-bit (same family as
    dedup_exact)."""
    docs = table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    uniq = F.countDistinct(fp)
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            uniq.alias("n_uniq"),
            F.round(1.0 - uniq * 1.0 / F.count("*"), 4).alias("dup_rate"),
        )
        .orderBy(F.asc_nulls_first("lang"), F.asc_nulls_first("source"))
    )


@query(
    "quality_deciles",
    oracle="""
    WITH q AS (
      SELECT doc_id, lang, n_chars,
             ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
      FROM documents
    )
    SELECT decile, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM q GROUP BY decile ORDER BY decile
    """,
)
def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile bucketing (ntile over a quality proxy) + per-decile
    stats — the prelude to decile-based mixture sampling ("keep the top
    3 deciles, downsample the middle, drop the tail").

    Round-6 rewrite (VERDICT r5 "What's wrong" #3): the old form was a
    global single-partition ``ntile`` window — the last corpus-sized
    single-task window in the registry. The declared semantics (oracle
    unchanged) are preserved by DERIVING the global rank distributedly:

      1. ``groupBy(n_chars)`` value-count table — DIMENSION-sized
         (|distinct doc lengths|, ≤ ~1M rows at any corpus scale);
         one unpartitioned window over IT (not the corpus) yields each
         value-group's preceding-count offset and the grand total N.
      2. ``row_number`` within ``Window.partitionBy(n_chars)`` — fully
         parallel; the only per-key serialization is the largest tie
         group (docs sharing one exact length), not the corpus.
      3. ``rank = offset + within`` and SQL-standard ntile arithmetic
         (first N%10 tiles take one extra row) reproduce ntile(10)
         bit-for-bit; deterministic tie-break on doc_id keeps both
         engines' tile boundaries identical.

    NULL-robust by construction (ADVICE r6): the doc→value-table join
    is NULL-SAFE (``<=>``), so rows with NULL n_chars form their own
    tie group instead of dropping — and both engines sort them last
    (Spark ``desc`` defaults to NULLS LAST; DuckDB's default null
    order is NULLS LAST for DESC too, probed round 7), so NULL docs
    fill the trailing deciles identically. Pinned by a NULL-bearing
    corpus test in tests/test_plans.py.

    The 10-row output then aggregates as before. For value-bucketed
    (tie-preserving, sketch-friendly) semantics see the companion
    ``quality_deciles_approx`` below."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # Dimension-sized cumulative table: offset = docs with larger n_chars.
    wv = Window.orderBy(F.col("n_chars").desc())
    grp = (
        docs.groupBy("n_chars")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("n_chars").alias("g_chars"),
            (F.sum("cnt").over(wv.rowsBetween(Window.unboundedPreceding, 0)) - F.col("cnt")).alias("offset"),
            F.sum("cnt").over(wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("n_total"),
        )
    )
    within = F.row_number().over(Window.partitionBy("n_chars").orderBy("doc_id"))
    r = (
        docs.join(F.broadcast(grp), F.col("n_chars").eqNullSafe(F.col("g_chars")))
        .select("n_chars", (F.col("offset") + within).alias("rk"), "n_total")
    )
    # SQL-standard NTILE(10): base = N div 10, rem = N mod 10; the first
    # rem tiles hold base+1 rows.
    base = F.expr("n_total div 10")
    rem = F.col("n_total") % 10
    big = rem * (base + 1)  # rows covered by the base+1-sized tiles
    decile = F.when(
        F.col("rk") <= big, F.expr("(rk - 1) div (n_total div 10 + 1)") + 1
    ).otherwise(rem + F.expr("(rk - 1 - (n_total % 10) * (n_total div 10 + 1)) div (n_total div 10)") + 1)
    q = r.select("n_chars", decile.cast("int").alias("decile"))
    return (
        q.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("decile")
    )


@query(
    "quality_deciles_approx",
    oracle="""
    WITH c AS (
      SELECT quantile_disc(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
      FROM documents
    ), b AS (
      SELECT d.n_chars,
             10 - len(list_filter(c.cuts, x -> d.n_chars > x)) AS decile
      FROM documents d, c
    )
    SELECT decile, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM b GROUP BY decile ORDER BY decile
    """,
)
def quality_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe decile bucketing via ONE-PASS quantile cut points —
    the approxQuantile companion ``quality_deciles`` promises (VERDICT
    r5 "Next round" #2). Exact ntile assigns ranks (ties split across
    tiles); this variant assigns by VALUE against 9 sketch-derived cut
    points, so equal-quality docs always land in the same decile — the
    semantics a 100-TB mixture-sampling pass actually wants (no global
    sort, no per-doc rank; one aggregate + one broadcast).

    ``percentile_approx`` at accuracy 1e6 retains every observation at
    test scales, where it provably coincides with DuckDB's
    ``quantile_disc`` (probed round 6 on sf0.001/sf0.01: identical cut
    vectors under both rank conventions) — so the oracle checks values,
    not just shape. At production scale the same plan degrades
    gracefully: accuracy ε means a cut point's rank is off by ≤ εN,
    which shifts bucket BOUNDARIES, never correctness of the
    one-pass/no-shuffle property. Decile 1 = highest n_chars, matching
    ``quality_deciles``."""
    docs = table(spark, sf_dir, "documents").select("n_chars")
    cuts = docs.agg(
        F.percentile_approx(
            "n_chars",
            F.array(*[F.lit(i / 10) for i in range(1, 10)]),
            F.lit(1_000_000),
        ).alias("cuts")
    )
    b = docs.join(F.broadcast(cuts)).select(
        "n_chars",
        (
            F.lit(10)
            - F.size(F.filter("cuts", lambda x: F.col("n_chars") > x))
        ).alias("decile"),
    )
    return (
        b.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("decile")
    )


@query(
    "decontaminate_bloom",
    # shares _DECONTAMINATE_ORACLE verbatim: the bloom path's declared
    # contract IS the exact path's answer (see docstring)
    oracle=_DECONTAMINATE_ORACLE,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a BLOOM-FILTER prefilter — same declared
    semantics (and oracle) as decontaminate_ngram, different scale
    regime. The exact form broadcasts the eval gram SET, which works
    while benchmarks are MBs; when the blocklist is itself corpus-scale
    (a 10B-gram eval suite, a competitor-crawl exclusion list), the set
    no longer broadcasts but a bits-only bloom of it does (~1.4 GB for
    10B grams at 1% fp), and only the bloom's surviving ~1% of corpus
    grams pay the exact verification join.

    Build: k=4 positions per eval gram via seeded xxhash64 mod m; the
    bit array aggregates distributedly (groupBy word index + bit_or —
    partial-agg'd) and collects BOUNDED by construction (m/64 longs,
    m chosen ∝ eval size, capped). Probe: scan-side bit tests against
    the broadcast word array (shiftleft by a column is SQL-expressible;
    no Python, no shuffle). The final exact semi-join restores
    exactness — bloom false positives die there, so the result is
    bit-identical to the exact path and shares its oracle."""
    docs = table(spark, sf_dir, "documents")
    grams = _contamination_grams(docs)
    # The eval-gram set is consumed THREE times (size → m, bit build,
    # exact verify join) — materialize it once. It's the bounded side
    # by definition (the blocklist), so checkpointing it is scale-safe
    # and saves two full re-derivations of scan→explode→distinct
    # (measured 4.2 s → 2.6 s at sf0.1).
    eval_grams = (
        grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
        .localCheckpoint()
    )
    n_eval = eval_grams.count()
    # m ≈ 16 bits/gram (k=4 → ~0.2% fp), in whole 64-bit words. The cap
    # is memory-bound, not plan-bound (see below): 2^21 words = 16 MB
    # of bits ≈ 8.4M grams at 16 bits/gram. Past it the fp rate degrades
    # and the exact semi-join absorbs the extras — still correct, just
    # less selective; a 10B-gram blocklist would persist the bit array
    # as a table and broadcast it the same way.
    n_words = max(16, min(1 << 21, (16 * max(n_eval, 1) + 63) // 64))
    m_bits = 64 * n_words
    seeds = [1, 2, 3, 4]

    def positions(col):
        return [F.pmod(F.xxhash64(col, F.lit(s)), F.lit(m_bits)) for s in seeds]

    word_bits = (
        eval_grams.select(
            F.explode(F.array(*positions(F.col("g")))).alias("p")
        )
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 AS int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    bloom = [0] * n_words
    for r in word_bits:
        bloom[r["w"]] = r["bits"]
    # Ship the bit array as DATA, not as plan (round-2 VERDICT item #3:
    # the previous form inlined n_words F.lit longs into the expression
    # tree, bloating analysis/codegen and capping the bloom at 64k
    # words). A one-row DataFrame broadcast-crossJoined onto the train
    # scan puts a single BroadcastNestedLoopJoin node in the plan; the
    # bits travel the torrent broadcast path like any dim table, and
    # the per-gram probe below stays whole-stage-codegen JVM.
    bl_df = spark.createDataFrame([(bloom,)], "_bl array<bigint>")

    train = grams.filter(F.col("doc_id") % 97 != 0)
    probed = train.crossJoin(F.broadcast(bl_df))
    cond = None
    for i, p in enumerate(positions(F.col("g"))):
        probed = probed.withColumn(f"_p{i}", p)
        hit = F.expr(
            f"(element_at(_bl, cast(_p{i} div 64 AS int) + 1)"
            f" & shiftleft(1L, cast(_p{i} % 64 AS int))) != 0"
        )
        cond = hit if cond is None else (cond & hit)
    candidates = probed.filter(cond).select("doc_id", "lang", "source", "g")
    return (
        candidates.join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id", "lang", "source")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Gopher quality rules, unigram-LM scoring, temperature mixture sampling
# ---------------------------------------------------------------------------

# The Gopher repetition-free quality rules' stopword set (Rae et al.
# 2021, "Scaling Language Models: ... Gopher", table A1) — distinct from
# functions.text.STOPWORDS, which is the language-ID family.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_ASCII_LETTERS = "".join(chr(c) for r in (range(65, 91), range(97, 123)) for c in r)


@query(
    "quality_gopher",
    oracle=rf"""
    WITH s AS (
      -- coalesce(text, ''): a NULL doc must token-count as EMPTY (the
      -- engine's explode_outer path gives n_words = 0, flags 0/1),
      -- not propagate NULL through every count and flag (round-8
      -- review); n_hash/n_ellipsis stay bare — the engine's length()
      -- arithmetic is NULL there too, so both agree on NULL
      SELECT doc_id,
             list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         t -> t <> '') AS l,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) // 3 AS n_ellipsis
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(l) AS n_words,
             coalesce(list_sum(list_transform(l, w -> length(w))), 0) AS sum_len,
             len(list_filter(l, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
             n_hash, n_ellipsis,
             len(list_filter({list(_GOPHER_STOPWORDS)},
                 sw -> list_contains(list_transform(l, w -> lower(w)), sw))) AS n_stop
      FROM s
    )
    SELECT doc_id, n_words,
           round(CAST(sum_len AS DOUBLE) / greatest(n_words, 1), 6) AS mean_word_len,
           CAST(n_words BETWEEN 50 AND 100000 AS INT) AS f_word_count,
           CAST(sum_len BETWEEN 3 * n_words AND 10 * n_words AS INT) AS f_mean_len,
           CAST(10 * (n_hash + n_ellipsis) < n_words AS INT) AS f_symbol,
           CAST(5 * n_alpha >= 4 * n_words AS INT) AS f_alpha,
           CAST(n_stop >= 2 AS INT) AS f_stopwords,
           CAST(n_words BETWEEN 50 AND 100000
                AND sum_len BETWEEN 3 * n_words AND 10 * n_words
                AND 10 * (n_hash + n_ellipsis) < n_words
                AND 5 * n_alpha >= 4 * n_words
                AND n_stop >= 2 AS INT) AS gopher_pass
    FROM m ORDER BY doc_id
    """,
)
def quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, §A1.1): word count
    in [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    (# and …) < 0.1, ≥80% of words contain an alphabetic character, and
    ≥2 of the canonical stop words present. Flags are emitted per rule
    (as 0/1 ints) so downstream mixtures can re-weight on individual
    rules rather than the conjunction.

    Plan shape follows text_quality's measured family rule — ONE
    explode → groupBy(doc_id), no higher-order array functions in the
    hot path (interpreted) and no join back to the docs table; the two
    doc-level symbol counts ride the explode as constants and come back
    via FIRST. Every flag compares INTEGERS (3·n ≤ Σlen, 5·alpha ≥ 4·n,
    10·sym < n) — no float thresholds, so engine parity is exact; the
    one emitted float (mean word length) is a single rounded division
    of exact ints.

    spread (r14): five per-char passes over every text make this the
    family's most compute-per-row query — 0.56× with the one-task
    fixture scan round-robined first (catalog.spread docstring)."""
    docs = spread(table(spark, sf_dir, "documents"))
    toks = X.tokens("text", X.WS)
    n_hash = F.length("text") - F.length(F.expr("replace(text, '#', '')"))
    n_ell = F.expr(
        "(length(text) - length(replace(text, '...', ''))) div 3"
    )
    lw = F.lower("w")
    m = (
        docs.select(
            "doc_id",
            n_hash.alias("_nh"),
            n_ell.alias("_ne"),
            F.explode_outer(toks).alias("w"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("w").alias("n_words"),
            F.coalesce(F.sum(F.length("w")), F.lit(0)).alias("sum_len"),
            # "token contains a letter" via translate, not a per-token
            # regex (the family's measured translate-vs-regex rule —
            # punct_count_ascii's 13.7 s → 6.5 s probe)
            F.coalesce(
                F.sum(
                    (
                        F.length(F.translate("w", _ASCII_LETTERS, ""))
                        < F.length("w")
                    ).cast("int")
                ),
                F.lit(0),
            ).alias("n_alpha"),
            # distinct-stopwords-present WITHOUT a countDistinct: a
            # distinct aggregate plans an Expand (×2 row blowup on the
            # token stream); eight per-word MAX flags are all map-side
            # partial and sum after the groupBy
            *[
                F.max((lw == sw).cast("int")).alias(f"_sw_{i}")
                for i, sw in enumerate(_GOPHER_STOPWORDS)
            ],
            F.first("_nh").alias("n_hash"),
            F.first("_ne").alias("n_ellipsis"),
        )
        .withColumn(
            "n_stop",
            sum(
                (F.coalesce(F.col(f"_sw_{i}"), F.lit(0)) for i in range(len(_GOPHER_STOPWORDS))),
                F.lit(0),
            ),
        )
    )
    f_words = F.col("n_words").between(50, 100000)
    f_mean = (F.lit(3) * F.col("n_words") <= F.col("sum_len")) & (
        F.col("sum_len") <= F.lit(10) * F.col("n_words")
    )
    f_sym = F.lit(10) * (F.col("n_hash") + F.col("n_ellipsis")) < F.col("n_words")
    f_alpha = F.lit(5) * F.col("n_alpha") >= F.lit(4) * F.col("n_words")
    f_stop = F.col("n_stop") >= 2
    return m.select(
        "doc_id",
        "n_words",
        F.round(
            F.col("sum_len").cast("double") / F.greatest(F.col("n_words"), F.lit(1)),
            6,
        ).alias("mean_word_len"),
        f_words.cast("int").alias("f_word_count"),
        f_mean.cast("int").alias("f_mean_len"),
        f_sym.cast("int").alias("f_symbol"),
        f_alpha.cast("int").alias("f_alpha"),
        f_stop.cast("int").alias("f_stopwords"),
        (f_words & f_mean & f_sym & f_alpha & f_stop).cast("int").alias("gopher_pass"),
    )


@query(
    "perplexity_unigram",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_DD_TOKS}) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
    vocab AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks)
    SELECT tf.doc_id,
           round(SUM(tf.c * ln(tot.n / CAST(vocab.cnt AS DOUBLE)))
                 / SUM(tf.c), 6) AS nats_per_token
    FROM tf JOIN vocab USING (w) CROSS JOIN tot
    GROUP BY tf.doc_id ORDER BY tf.doc_id
    """,
)
def perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy against the corpus's own unigram LM
    (nats/token) — the CCNet-style (Wenzek et al. 2020) LM quality
    signal with the n-gram model degenerated to unigrams so both
    engines can replicate it exactly: score(d) = Σ_w tf·ln(N/cnt_w) / Σ_w tf.
    High scores = rare-token-heavy docs (gibberish, boilerplate IDs);
    low = stopword soup. Used as a mixture/filtering feature next to
    quality_gopher's hard rules.

    Scale shape: one explode feeds BOTH aggregations — (doc_id, word)
    term frequencies and the corpus vocabulary — so the token stream is
    shuffled once per agg, both partial-agg'd. The score join is keyed
    on word against the VOCAB (not the corpus): Catalyst broadcasts it
    at fixture scale, and at 100 TB a 100M-row vocabulary falls back to
    a sort-merge join on the already-word-partitioned tf side. The
    total-token scalar is a separate narrow scan (sum of token counts,
    no explode) — bounded O(1) driver value, same sanction as the
    centroid collects. Rounded to 6: term-sum reorder noise is ~1e-14
    relative, 8 orders below the rounding grain."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(X.tokens("text", X.WS)).alias("w")
    )
    total = float(
        docs.select(
            F.sum(F.size(X.tokens("text", X.WS))).alias("n")
        ).first()["n"]
        or 0  # all-null/token-free corpus: SUM is NULL, score set is empty
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    return (
        tf.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("c") * F.log(F.lit(total) / F.col("cnt").cast("double"))
                )
                / F.sum("c"),
                6,
            ).alias("nats_per_token")
        )
    )


@query(
    "mixture_sample_temperature",
    oracle="""
    WITH n AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    q AS (
      SELECT source,
             CAST(round(200.0 * sqrt(CAST(n_s AS DOUBLE))
                  / (SELECT SUM(sqrt(CAST(n_s AS DOUBLE))) FROM n), 0) AS BIGINT)
               AS quota
      FROM n
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source FROM r JOIN q USING (source)
    WHERE rn <= quota ORDER BY doc_id
    """,
)
def mixture_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture resampling (the multilingual-training
    recipe, e.g. mT5/XLM-R: sample source s with probability ∝ n_s^α,
    α = 0.5): per-source quotas q_s = round(T·√n_s / Σ√n), filled
    deterministically by content-independent hash order (md5(doc_id)),
    so the drawn sample is stable under re-ingestion and shard order —
    the same reproducibility contract as train_split_hash.

    Determinism at the float boundary: √ is IEEE-correctly-rounded in
    both engines and the quota uses ROUND (both half-up for positives),
    whose .5 boundary is unreachable from the ~1-ulp noise of the
    small Σ√n sum — unlike FLOOR, which sits exactly at the integer the
    uniform-source case produces.

    Scale shape: quotas come from a source-cardinality agg (tiny,
    partial-agg'd; the empty-partition window runs on that tiny frame
    only) broadcast back onto the scan. Rank-by-hash then uses the
    salted two-phase exact top-K from sample_per_lang_topk — per
    (source, salt) local top-q_s, then top-q_s of the ≤16·q_s
    survivors — so no corpus-sized single-task-per-source sort exists
    at any scale. Exact: the global per-source top-q_s is always a
    subset of the union of per-salt top-q_s."""
    from pyspark.sql import Window

    T, S = 200, 16
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    u = F.sqrt(F.col("n_s").cast("double"))
    tot = F.sum(u).over(Window.partitionBy())
    quotas = counts.select(
        "source",
        F.round(F.lit(float(T)) * u / tot, 0).cast("long").alias("quota"),
    )
    tagged = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
        F.pmod(F.xxhash64("doc_id"), F.lit(S)).alias("_salt"),
    ).join(F.broadcast(quotas), "source")
    w1 = Window.partitionBy("source", "_salt").orderBy("_h", "doc_id")
    w2 = Window.partitionBy("source").orderBy("_h", "doc_id")
    return (
        tagged.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= F.col("quota"))
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= F.col("quota"))
        .select("doc_id", "source")
    )


@query(
    "pmi_collocations",
    oracle=f"""
    WITH d AS (
      SELECT {_DD_TOKS} AS ws FROM documents
    ), uc AS (
      SELECT w, count(*) AS c FROM (SELECT UNNEST(ws) AS w FROM d) GROUP BY w
    ), bc AS (
      SELECT w1, w2, count(*) AS c_ab FROM (
        SELECT ws[i] AS w1, ws[i + 1] AS w2
        FROM d, UNNEST(range(1, len(ws))) AS r(i)
      ) GROUP BY w1, w2
    ), tot AS (
      SELECT sum(len(ws)) AS nt,
             sum(greatest(len(ws) - 1, 0)) AS nb
      FROM d
    )
    SELECT w1, w2, c_ab,
           round(ln((c_ab / nb) / ((u1.c / nt) * (u2.c / nt))), 6) AS pmi
    FROM bc
    JOIN uc u1 ON bc.w1 = u1.w
    JOIN uc u2 ON bc.w2 = u2.w, tot
    WHERE c_ab >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information:
    PMI(a,b) = ln(p(ab) / (p(a)·p(b))) over adjacent word pairs with
    count ≥ 5 — the classic distributed-corpus association measure
    (phrase mining, tokenizer-merge candidates, stopword diagnostics).

    Plan shape: unigram and bigram counts are two partial-agg'd
    groupBys over narrow index-explodes of one token-array scan; the
    corpus totals (Σ tokens, Σ bigrams) come from a SINGLETON aggregate
    over the same scan — not from re-aggregating the vocab tables, and
    not from a whole-vocab window (which would single-partition a
    10M-row vocabulary at web scale). The two vocab joins key on the
    same unigram table, so its exchange is built once and reused; the
    final top-k is TakeOrdered. Probabilities divide exact integer
    counts in identical expression order on both engines."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(X.tokens("text", X.WS).alias("ws"))
    uc = (
        d.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    bc = (
        d.filter(F.size("ws") >= 2)
        .select(
            "ws", F.explode(F.sequence(F.lit(1), F.size("ws") - 1)).alias("i")
        )
        .select(
            F.element_at("ws", F.col("i")).alias("w1"),
            F.element_at("ws", F.col("i") + 1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
    )
    tot = d.agg(
        F.sum(F.size("ws")).alias("nt"),
        F.sum(F.greatest(F.size("ws") - 1, F.lit(0))).alias("nb"),
    )
    u1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c_ab") / F.col("nb"))
        / ((F.col("c1") / F.col("nt")) * (F.col("c2") / F.col("nt")))
    )
    return (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c_ab") >= 5)
        .select("w1", "w2", "c_ab", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


_HH_TOPK = 10
_HH_CAND_PER_PART = 256  # per-partition candidate budget (Misra-Gries style)


@query(
    "heavy_hitters",
    oracle=f"""
    SELECT w AS tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest({_DD_TOKS}) AS w FROM documents)
    GROUP BY w ORDER BY cnt DESC, tok LIMIT {_HH_TOPK}
    """,
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 most frequent tokens via the production two-phase
    sketch-prune: a per-partition Misra-Gries-style candidate pass
    (≤ 4×256 surviving counters per partition) followed by an exact
    count restricted to the surviving candidates, WITH a verified
    exactness guard.

    Why not just groupBy(token)? For WORDS the vocabulary is small and
    the plain aggregate (``ngram_freq``) is right. This operator is for
    the high-cardinality regime — URLs, hosts, shingles — where the
    full key space dwarfs memory but only the head matters: the sketch
    pass bounds the shuffle at |candidates| ≤ 1024 × partitions rows
    regardless of key cardinality, and the exact phase touches only
    tokens that broadcast-semi-join the candidate set.

    Exactness is PROVEN per run, not assumed (ADVICE r3: the old
    docstring claimed any global top-k token has frequency ≥ N/256,
    which is false in flat/high-cardinality regimes). The sketch now
    emits each partition's total decrement D_p alongside its surviving
    counters; a token absent from the candidate union has true count
    ≤ Σ_p D_p (it was decremented away in every partition). After the
    exact candidate count, if the k-th candidate count > Σ D_p, no
    missed token can displace the top-k → the result is exact and the
    DuckDB full-aggregate oracle is valid. Otherwise (data genuinely
    not heavy-hitter-shaped) the operator falls back to the exact full
    aggregate — correct everywhere, sketch-priced only where the sketch
    is sound. Two corpus scans on the sketch path (candidates, verify);
    the candidate-count table is localCheckpoint-pinned (≤ 1024 ×
    partitions rows) so the decision and the returned top-k share one
    verify execution.
    """
    toks, sketch, counted_lazy = _hh_sketch_and_verify(spark, sf_dir)
    miss_bound = (
        sketch.filter(F.col("tok").isNull()).agg(F.sum("miss_bound")).first()[0]
        or 0
    )
    counted = counted_lazy.localCheckpoint()  # corpus scan 2 (verify);
    # pinned so the exactness decision and the returned top-k don't re-scan
    topk = counted.orderBy(F.desc("cnt"), "tok").limit(_HH_TOPK)
    kth = topk.collect()  # bounded: ≤ k rows
    if len(kth) == _HH_TOPK and kth[-1]["cnt"] > miss_bound:
        return topk  # re-reads the checkpointed counts, not the corpus
    # data is flat relative to the candidate budget — sketch exactness
    # unprovable; take the exact full-aggregate path
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(_HH_TOPK)
    )


def _hh_sketch_and_verify(spark: SparkSession, sf_dir: str):
    """Builds the heavy-hitters sketch (checkpointed) and the LAZY
    broadcast-semi-join verify plan — factored so plan-shape tests can
    assert the verify scan's structure before it is checkpoint-pinned."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens("text", X.WS)).alias("tok"))

    def mg_candidates(batches):
        # nested so it pickles by value (worker has no repo on sys.path)
        from collections import Counter

        import pandas as pd

        budget = _HH_CAND_PER_PART
        counts: Counter = Counter()
        decremented = 0  # D_p: upper bound on any evicted token's count
        for pdf in batches:
            counts.update(pdf["tok"])
            if len(counts) > 4 * budget:
                # Misra-Gries decrement step, amortized: subtract the
                # budget-th largest count from everyone and drop ≤ 0
                floor = counts.most_common(budget)[-1][1]
                decremented += floor
                counts = Counter(
                    {t: c - floor for t, c in counts.items() if c > floor}
                )
        # ALL survivors (≤ 4×budget: a decrement leaves < budget), plus
        # one sentinel row carrying the partition's miss bound
        yield pd.DataFrame(
            {
                "tok": [*counts.keys(), None],
                "miss_bound": [*([0] * len(counts)), decremented],
            }
        )

    sketch = toks.mapInPandas(
        mg_candidates, "tok string, miss_bound long"
    ).localCheckpoint()  # corpus scan 1; result is ≤ (1024+1)×partitions rows
    cands = sketch.filter(F.col("tok").isNotNull()).select("tok").distinct()
    counted_lazy = (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    return toks, sketch, counted_lazy


_BPE_ROUNDS = 5


def _bpe_pair_counts(vocab: DataFrame, syms: str) -> DataFrame:
    """Weighted adjacent-symbol-pair counts over a (cnt, <syms>) word-
    frequency frame — the ONE pair-statistics implementation shared by
    the ``bpe_merges`` trainer and its oracle-backed foothold
    ``bpe_first_merge`` (round-8 review: with the pair explode
    duplicated, the foothold could keep passing while no longer
    pinning the trainer's actual pair construction — the same
    drift-risk class the IVF centroid helper closed). Empty and
    single-symbol words contribute no pairs via the when/otherwise
    empty-array guard."""
    npairs = F.size(syms) - 1
    pairs = vocab.select(
        "cnt",
        F.explode(
            F.when(
                npairs >= 1,
                F.transform(
                    F.sequence(F.lit(0), npairs - 1),
                    lambda i: F.struct(
                        F.element_at(syms, i + 1).alias("l"),
                        F.element_at(syms, i + 2).alias("r"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy("p.l", "p.r").agg(F.sum("cnt").alias("pair_cnt"))


@query("bpe_merges")  # rows-only: iterative greedy merging isn't SQL-expressible
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge learning (5 rounds) over the corpus —
    the tokenizer-training kernel. Output: one row per learned merge
    (round, left, right, pair_cnt), ties broken lexicographically.

    Scale decomposition — the reason corpus-scale BPE training is
    feasible at all: merges are learned on the WORD-FREQUENCY TABLE,
    not the token stream. The corpus is scanned exactly once (token
    explode → groupBy(word) count); every round after that works on
    vocab-sized data (distinct words), which is millions of rows when
    the corpus is trillions of tokens. Per round:

    * adjacent-pair counts: index-explode over each word's symbol
      sequence, weighted by word count, partial-agg'd groupBy — the
      vocab-sized shuffle;
    * best pair: a 1-row bounded collect (max count, lexicographic
      tie-break);
    * merge application: a greedy left-to-right fold (``F.aggregate``)
      over each word's symbols — interpreted HOF, accepted here
      because it runs on the VOCAB, never the corpus (the
      ``udtf_tokenize`` scoping rule), and ``localCheckpoint`` keeps
      round k's plan from embedding rounds 1..k-1 (the
      ``dedup_clusters``/PageRank rule).

    No SQL oracle — the greedy merge recurrence isn't expressible in
    DuckDB SQL; tests/test_text_functions.py pins the merge table
    against a pure-Python BPE hand-simulation on a planted corpus.
    """
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(X.tokens("text", X.WS)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            "cnt", F.filter(F.split("w", "(?!^)"), lambda c: c != "").alias("syms")
        )
        .localCheckpoint(eager=True)
    )

    merges = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        best = (
            _bpe_pair_counts(vocab, "syms")
            .orderBy(F.desc("pair_cnt"), "l", "r")
            .limit(1)
            .collect()  # bounded: exactly one row
        )
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], best[0]["pair_cnt"]
        merges.append((rnd, l, r, c))
        merged = l + r
        vocab = vocab.select(
            "cnt",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(l))
                    & (x == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges, "round int, left string, right string, pair_cnt long"
    ).orderBy("round")


_DICT_RANGE_PARTS = 8


def _two_phase_rank(df: DataFrame, key: str = "tok") -> DataFrame | None:
    """Distributed global dense rank by ``key`` (the scalable
    zipWithIndex pattern) — the single implementation behind
    ``dictionary_encode`` and ``encode_corpus`` (round-8 review: the
    block was duplicated verbatim, leaving the safety-critical
    boundary pin maintainable in two places):

    1. range-repartition by key (each bucket sorts independently);
    2. count per bucket → a #buckets-sized bounded collect →
       exclusive prefix offsets;
    3. id = bucket offset + intra-bucket row_number.

    The ids are invariant to where the range boundaries fall, which is
    what makes the sampled RangePartitioner safe under a deterministic-
    output contract. The localCheckpoint PINS the sampled boundaries:
    repartitionByRange re-samples per job, so without materialization
    the offsets job and the output job could see DIFFERENT bucketings
    (caught live on the numeric twin, quantile_normalize) — ids must
    come from one concrete partitioning.

    Returns the frame with an ``id`` column added (other columns pass
    through), or None for an empty input."""
    from pyspark.sql import Window

    bucketed = (
        df.repartitionByRange(_DICT_RANGE_PARTS, key)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sizes = {
        r["pid"]: r["n"]
        for r in bucketed.groupBy("pid").agg(F.count("*").alias("n")).collect()
    }  # bounded: one row per range bucket
    if not sizes:
        return None
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )  # bounded literal map: #buckets entries
    local = Window.partitionBy("pid").orderBy(key)
    return bucketed.withColumn(
        "id", (off[F.col("pid")] + F.row_number().over(local)).cast("long")
    ).drop("pid")


@query(
    "dictionary_encode",
    oracle=f"""
    WITH v AS (
      SELECT w AS tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_DD_TOKS}) AS w FROM documents) GROUP BY w
    )
    SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS id, cnt
    FROM v ORDER BY tok
    """,
)
def dictionary_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dictionary encoding: assign every distinct token a dense,
    lexicographically-ordered id — the columnar-encoding primitive
    (string columns → int ids + a dictionary table).

    A global rank is the textbook single-task trap: ``row_number() OVER
    (ORDER BY tok)`` with no PARTITION BY plans ONE window task holding
    the whole vocabulary. This operator uses the scalable two-phase
    form instead (the distributed zipWithIndex pattern):

    1. range-repartition the vocab by token (each range bucket sorts
       independently, in parallel);
    2. count per bucket → a #buckets-sized bounded collect → exclusive
       prefix offsets;
    3. id = bucket offset + intra-bucket row_number (the window
       partitions by bucket id, so every bucket ranks in its own task).

    The mechanics (and the boundary-pinning localCheckpoint they rest
    on) live in the shared ``_two_phase_rank`` helper, which
    ``encode_corpus`` also builds its dictionary with. The oracle uses
    the naive global window — same answer, DuckDB's problem is
    oracle-sized.
    """
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(X.tokens("text", X.WS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = _two_phase_rank(vocab)
    if ranked is None:  # degenerate: empty corpus → empty dictionary
        return spark.createDataFrame([], "tok string, id long, cnt long")
    return ranked.select("tok", "id", "cnt")


@query(
    "encode_corpus",
    oracle=f"""
    WITH v AS (
      SELECT w AS tok, row_number() OVER (ORDER BY w) AS id
      FROM (SELECT DISTINCT unnest({_DD_TOKS}) AS w FROM documents)
    ), ex AS (
      SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS pos
      FROM (SELECT doc_id, {_DD_TOKS} AS ws FROM documents)
    )
    SELECT e.doc_id, array_to_string(list(v.id ORDER BY e.pos), ' ') AS ids,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ex e JOIN v ON e.tok = v.tok
    GROUP BY e.doc_id ORDER BY e.doc_id
    """,
)
def encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the global dictionary to the corpus: every document becomes
    its token-id sequence (``array<long>``) — the string→int encoding
    step before numeric tokenizer/model pipelines, paired with
    ``dictionary_encode`` (which BUILDS the dictionary this applies).

    Plan shape: the dictionary rebuilds via the same two-phase ranking,
    then the corpus explodes to (doc_id, pos, token), equi-joins the
    dictionary (broadcast while the vocab fits — MBs for word vocabs —
    degrading to sort-merge for open vocabs like URLs), and re-collects
    per document. Order is restored by sorting (pos, id) STRUCTS inside
    the aggregate, not by trusting collect_list order — Spark's
    collect order is partition-arrival nondeterministic, the classic
    wrong-answer trap this plan avoids; the per-doc state is the
    document's own length."""
    docs = table(spark, sf_dir, "documents")
    ranked = _two_phase_rank(
        docs.select(F.explode(X.tokens("text", X.WS)).alias("tok")).distinct()
    )
    if ranked is None:  # degenerate: empty corpus → nothing to encode
        return spark.createDataFrame([], "doc_id long, ids string, n long")
    dictionary = ranked.select("tok", "id")
    ex = docs.select(
        "doc_id", F.posexplode(X.tokens("text", X.WS)).alias("pos", "tok")
    )
    return (
        ex.join(F.broadcast(dictionary), "tok")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"],
                ),
                " ",
            ).alias("ids"),
            F.count("*").cast("long").alias("n"),
        )
    )


@query(
    "bpe_first_merge",
    oracle=f"""
    WITH v AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_DD_TOKS}) AS w FROM documents) GROUP BY w
    ), ch AS (
      SELECT cnt, string_split(w, '') AS cs FROM v
    ), ix AS (
      SELECT cnt, cs, unnest(range(len(cs) - 1)) AS p FROM ch
    ), pr AS (
      SELECT cnt, cs[p + 1] AS l, cs[p + 2] AS r FROM ix
    )
    SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
    FROM pr GROUP BY l, r ORDER BY pair_cnt DESC, l, r LIMIT 10
    """,
)
def bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 BPE pair statistics, oracle-backed: the top-10 weighted
    adjacent character pairs over the word-frequency table — the
    SQL-checkable foothold for ``bpe_merges`` (whose greedy multi-round
    recurrence is not SQL-expressible), exactly the ``kmeans_assign``
    pattern that gave Lloyd's loop an oracle anchor.

    Same scale property as the full trainer: the corpus is scanned once
    for word counts; pair counting runs on the VOCAB (distinct words),
    so the pair shuffle is alphabet²-keyed regardless of corpus size.
    Pair construction is the trainer's own ``_bpe_pair_counts`` — the
    foothold pins the production kernel, not a copy of it.
    """
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(X.tokens("text", X.WS)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select("cnt", F.filter(F.split("w", "(?!^)"), lambda c: c != "").alias("cs"))
    )
    return (
        _bpe_pair_counts(vocab, "cs")
        .orderBy(F.desc("pair_cnt"), "l", "r")
        .limit(10)
    )


@query(
    "udtf_analyze_split",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, {_DD_TOKS} AS ws FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, ws[1] AS col_0, ws[2] AS col_1, ws[3] AS col_2
    FROM d ORDER BY doc_id
    """,
)
def udtf_analyze_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze()`` API): the output
    schema is computed at PLAN time from the constant argument (n=3 →
    columns col_0..col_2) — the table-function polymorphism that
    fixed-schema UDTFs (``udtf_tokenize``) lack, and the mechanism
    behind schema-on-demand connectors and generic unpivot/parse
    helpers.

    Extension-point proof, scoped to 50 docs (the ``udtf_tokenize``
    rule — JVM ``split`` is the production path for this transform);
    the UDTF class is nested so it ships by value."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import StringType, StructType

    class SplitN:
        @staticmethod
        def analyze(text, n):
            from pyspark.sql.udtf import AnalyzeResult

            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"col_{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            import re

            # explicit [ \t\n\r\f]+ to match the oracle's RE2 \s exactly
            # — str.split would also split on Unicode whitespace, and
            # Python's ASCII \s adds \v that RE2 lacks (udtf_tokenize)
            toks = (
                []
                if text is None
                else [t for t in re.split(r"[ \t\n\r\f]+", text) if t]
            )
            yield tuple(toks[i] if i < len(toks) else None for i in range(n))

    split_n = udtf(SplitN)
    spark.udtf.register("graft_split_n", split_n)
    docs = table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 50).createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        """
        SELECT doc_id, s.* FROM udtf_docs_v, LATERAL graft_split_n(text, 3) s
        ORDER BY doc_id
        """
    )


@query(
    "arrow_map_batches",
    oracle="""
    SELECT doc_id, n_chars * 2 AS dbl FROM documents ORDER BY doc_id
    """,
)
def arrow_map_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy RecordBatch execution path —
    completes the Python-execution matrix (row UDF, Arrow UDF, Pandas
    UDF/UDAF, mapInPandas, UDTF, and now raw Arrow batches). Compared
    to mapInPandas it skips the pandas conversion entirely, which is
    the right call when the kernel speaks Arrow natively (pyarrow
    compute, DuckDB, polars).

    The transform is deliberately trivial (n_chars × 2, checked
    exactly by the oracle) — the contract under test is batch-level
    fidelity: no row loss or reorder-with-loss across Arrow batch
    boundaries. Kernel stays in pyarrow.compute; nested closure ships
    by value."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def double(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), pc.multiply(b.column("n_chars"), 2)],
                names=["doc_id", "dbl"],
            )

    return docs.mapInArrow(double, schema="doc_id long, dbl long")


@query(
    "url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             'HTTPS://' || upper(source) || '.Example.com:443/docs/'
               || CAST(doc_id AS VARCHAR)
               || '/?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
               || '&ref=tw#frag' AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             lower(string_split(string_split(url, '#')[1], '?')[1]) AS base,
             string_split(string_split(url, '#')[1], '?')[2] AS qs
      FROM raw
    ), cleaned AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 rtrim(replace(base, ':443/', '/'), '/'),
                 '^https://', ''),
               '^www\\.', '')
             || CASE WHEN array_to_string(
                       list_sort(list_filter(string_split(qs, '&'),
                                 p -> NOT starts_with(p, 'utm_') AND p NOT LIKE 'ref=%')),
                       '&') = ''
                     THEN ''
                     ELSE '?' || array_to_string(
                       list_sort(list_filter(string_split(qs, '&'),
                                 p -> NOT starts_with(p, 'utm_') AND p NOT LIKE 'ref=%')),
                       '&') END AS canon_url
      FROM canon
    )
    SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_dups,
           MIN(doc_id) AS keep_id
    FROM cleaned GROUP BY canon_url ORDER BY canon_url
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first pass of every web-crawl
    pipeline: lowercase scheme/host, strip the fragment, default port,
    trailing slash, and tracking parameters (utm_*, ref), SORT the
    surviving query params, then group by canonical form keeping the
    earliest doc. Re-crawls of the same page under tracking-decorated
    URLs collapse here BEFORE any content hashing (``dedup_exact``
    downstream is then content-level).

    URLs derive deterministically from (source, doc_id) — the fixture
    carries none — with doc_id % 50 as the surviving param so real
    collapses occur (50 docs per source share a canonical URL). Every
    step is codegen'd string/array ops spelled identically in both
    engines; one partial-agg'd shuffle on the canonical key, same
    shape as ``dedup_exact``. The tracking-param test is a LITERAL
    ``utm_`` prefix on both engines (oracle uses starts_with — ADVICE
    r3: ``NOT LIKE 'utm_%'`` treats ``_`` as a wildcard and would also
    drop e.g. ``utmx=…``)."""
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://"), F.upper("source"), F.lit(".Example.com:443/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&id="), (F.col("doc_id") % 50).cast("string"),
        F.lit("&ref=tw#frag"),
    )
    defrag = F.split(url, "#")[0]
    base = F.lower(F.split(defrag, r"\?")[0])
    qs = F.split(defrag, r"\?")[1]
    kept = F.sort_array(
        F.filter(
            F.split(qs, "&"),
            lambda p: ~p.startswith("utm_") & ~p.startswith("ref="),
        )
    )
    base_clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.replace(base, F.lit(":443/"), F.lit("/")), "/+$", ""
            ),
            "^https://", "",
        ),
        r"^www\.", "",
    )
    canon = F.concat(
        base_clean,
        F.when(F.size(kept) == 0, F.lit("")).otherwise(
            F.concat(F.lit("?"), F.array_join(kept, "&"))
        ),
    )
    return (
        docs.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


@query(
    "readability_flesch",
    oracle=rf"""
    WITH m AS (
      SELECT doc_id,
             CAST({_DD_NTOKS} AS DOUBLE) AS words,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS DOUBLE) AS syl
      FROM documents
    )
    SELECT doc_id,
           round(206.835 - 1.015 * words - 84.6 * (syl / words), 4)
             AS flesch
    FROM m WHERE words > 0 ORDER BY doc_id
    """,
)
def readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (vowel-group syllable proxy,
    one sentence per doc — the fixture has no terminators, so
    words-per-sentence = words): the readability screen in a text
    curation stack, next to ``quality_gopher``'s rule flags and
    ``perplexity_unigram``'s LM score.

    Pure codegen'd regexp/arithmetic — one scan, zero shuffles before
    the output sort; the syllable proxy (maximal vowel runs) is the
    standard dictionary-free approximation and is spelled as the same
    regexp in both engines."""
    docs = table(spark, sf_dir, "documents")
    words = X.token_count("text").cast("double")
    syl = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("double")
    return (
        docs.select(
            "doc_id",
            F.round(
                F.lit(206.835) - F.lit(1.015) * words - F.lit(84.6) * (syl / words),
                4,
            ).alias("flesch"),
        )
        .filter(words > 0)
    )


# --------------------------------------------------------------------------
# tfidf_cosine_pairs — sparse lexical similarity without embeddings
# --------------------------------------------------------------------------

_TCP_TOPK = 20


@query(
    "tfidf_cosine_pairs",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_DD_TOKS}) AS t FROM documents
    ),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2),
    n AS (SELECT COUNT(*) AS n FROM documents),
    df AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
    ),
    post AS (
      SELECT tf.doc_id, tf.t, tf.tf * ln(n.n * 1.0 / df.df) AS w
      FROM tf JOIN df ON tf.t = df.t CROSS JOIN n
      WHERE df.df >= 2 AND df.df * 10 <= n.n AND df.df <= 1000
    ),
    norms AS (
      SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM post GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, SUM(a.w * b.w) AS dot
      FROM post a JOIN post b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           round(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots JOIN norms na ON dots.a_id = na.doc_id
              JOIN norms nb ON dots.b_id = nb.doc_id
    ORDER BY cosine DESC, a_id, b_id LIMIT {_TCP_TOPK}
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most lexically similar document pairs by SPARSE tf-idf
    cosine — similarity without embeddings, the inverted-index
    complement to ``dedup_embedding_cosine`` (catches template/
    boilerplate similarity that dense vectors smooth over, and runs on
    corpora that have no embedding column at all).

    The pair generation is the classic posting-list self-join: only
    documents SHARING a discriminative token ever meet, so compare
    volume is Σ_t df(t)² over the capped vocabulary — never all pairs.
    The cap is integer-exact in both engines and TWO-SIDED
    (2 ≤ df ≤ min(N/10, 1000)): the relative bound drops stop words
    (df > N/10 carries no signal), and the ABSOLUTE bound is what
    survives growth — a relative-only cap loosens as N grows (a
    5%-frequency token at 500k docs would alone emit 625M pairs), while
    df ≤ 1000 pins per-token pair volume at ≤ 10⁶ regardless of corpus
    size, making total compare volume vocab-bounded. Hapaxes can't
    pair. Postings
    are localCheckpoint-pinned before the self-join — the repo's
    standard fix for self-joins re-running the producing pipeline on
    both sides. Norms are computed over the same capped vocabulary
    (documented convention, spelled identically in the oracle); the
    ranking orders by the ROUNDED cosine with (a_id, b_id) tie-breaks,
    so both engines sort identical keys. At 100 TB the df cap is the
    knob: tightening it to N/100 bounds postings harder, and the
    LSH/MinHash family takes over when even capped Σ df² explodes."""
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()  # bounded scalar: one metadata-cheap count,
    # reused as an exact integer literal in the df cap (same as oracle's N)
    tf = (
        docs.select("doc_id", F.explode(X.tokens("text", X.WS)).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("t").agg(F.count("*").alias("df"))
    post = (
        tf.join(
            df.filter(
                (F.col("df") >= 2)
                & (F.col("df") * 10 <= n_docs)
                & (F.col("df") <= 1000)
            ),
            "t",
        )
        .select(
            "doc_id",
            "t",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
        )
        .localCheckpoint()  # pin: the self-join below would otherwise
        # re-run the tokenize+tf+df pipeline on both sides
    )
    norms = post.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = post.select(F.col("doc_id").alias("a_id"), "t", F.col("w").alias("wa"))
    b = post.select(F.col("doc_id").alias("b_id"), "t", F.col("w").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("a_id"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("b_id"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "a_id", "b_id")
        .limit(_TCP_TOPK)
    )


# --------------------------------------------------------------------------
# vocab_growth_curve — Heaps-law vocabulary growth over ingest order
# --------------------------------------------------------------------------

_VGC_FRACS = (0.01, 0.05, 0.1, 0.25, 0.5, 1.0)


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH first AS (
      SELECT w, MIN(doc_id) AS fd
      FROM (SELECT doc_id, UNNEST({_DD_TOKS}) AS w FROM documents)
      GROUP BY w
    ), nid AS (
      SELECT MAX(doc_id) + 1 AS n FROM documents
    ), agg AS (
      SELECT
        {", ".join(
            f"COALESCE(SUM(CASE WHEN fd < CAST(floor(n * {f}) AS BIGINT) "
            f"THEN 1 ELSE 0 END), 0) AS v{i}, "
            f"CAST(floor(n * {f}) AS BIGINT) AS c{i}"
            for i, f in enumerate(_VGC_FRACS)
        )}
      FROM first CROSS JOIN nid GROUP BY n
    )
    {" UNION ALL ".join(
        f"SELECT CAST({f} AS DOUBLE) AS frac, c{i} AS cutoff_doc, "
        f"CAST(v{i} AS BIGINT) AS vocab FROM agg"
        for i, f in enumerate(_VGC_FRACS)
    )}
    ORDER BY frac
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: distinct-token count after ingesting
    the first 1% / 5% / 10% / 25% / 50% / 100% of the document id space
    — the curve a corpus curator reads to decide whether more data still
    buys vocabulary (sublinear flattening) and to size tokenizer
    training samples (``bpe_merges`` learns on exactly this vocabulary).

    The curve needs each token's FIRST document only: one explode →
    min-aggregate (vocab-sized, partial-combined), then every cutoff is
    a conditional count over that vocab table in a single aggregate —
    the corpus is scanned once no matter how many curve points. Cutoffs
    are integer doc-id-space fractions, spelled identically in both
    engines; ingest order IS doc_id by fixture construction."""
    docs = table(spark, sf_dir, "documents")
    first = (
        docs.select("doc_id", F.explode(X.tokens("text", X.WS)).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
    )
    nid = docs.agg((F.max("doc_id") + 1).alias("n"))
    aggs = []
    for i, f in enumerate(_VGC_FRACS):
        cutoff = F.floor(F.col("n") * f).cast("long")
        aggs.append(
            F.coalesce(
                F.sum((F.col("fd") < cutoff).cast("long")), F.lit(0)
            ).alias(f"v{i}")
        )
        aggs.append(F.max(cutoff).alias(f"c{i}"))
    wide = first.crossJoin(F.broadcast(nid)).groupBy("n").agg(*aggs)
    stack_args = ", ".join(
        f"CAST({f} AS DOUBLE), c{i}, CAST(v{i} AS BIGINT)"
        for i, f in enumerate(_VGC_FRACS)
    )
    return wide.selectExpr(
        f"stack({len(_VGC_FRACS)}, {stack_args}) AS (frac, cutoff_doc, vocab)"
    ).orderBy("frac")


#: snapshot convention for PER-SOURCE divergence: id-BLOCKS of 64
#: alternate old/new. The module-wide parity convention (even = old)
#: is degenerate here: fixture sources are doc_id residue classes
#: mod 20, so every source is entirely one parity and a per-source
#: old-vs-new comparison would be vacuous by construction. Id-block
#: snapshots model what a crawl actually appends (contiguous id
#: ranges) and intersect every residue-class source (gcd(2·64, 20)
#: stripes both halves through each source).
_SNAP_BLOCK = 64


@query(
    "snapshot_divergence_js",
    # id-block snapshot convention (see _SNAP_BLOCK note); JS terms
    # quantized to 1e-12 and summed as scaled integers (the
    # order-free decimal sum rule — a double Σ over a vocab-sized
    # term set is summation-order-dependent)
    oracle=f"""
    WITH toks AS (
      SELECT source,
             CASE WHEN (doc_id // {_SNAP_BLOCK}) % 2 = 0
                  THEN 'old' ELSE 'new' END AS half,
             UNNEST({_DD_TOKS}) AS t
      FROM documents
    ), c AS (
      SELECT source, t,
             CAST(COUNT(*) FILTER (WHERE half = 'old') AS BIGINT) AS co,
             CAST(COUNT(*) FILTER (WHERE half = 'new') AS BIGINT) AS cn
      FROM toks GROUP BY source, t
    ), tot AS (
      SELECT source, t, co, cn,
             CAST(SUM(co) OVER (PARTITION BY source) AS DOUBLE) AS to_,
             CAST(SUM(cn) OVER (PARTITION BY source) AS DOUBLE) AS tn_
      FROM c
    ), terms AS (
      SELECT source, co, cn, to_, tn_,
             0.5::DOUBLE * (
               (CASE WHEN co > 0 THEN (co / to_) * log2((co / to_)
                  / (((co / to_) + (cn / tn_)) / 2.0::DOUBLE))
                ELSE 0.0::DOUBLE END)
             + (CASE WHEN cn > 0 THEN (cn / tn_) * log2((cn / tn_)
                  / (((co / to_) + (cn / tn_)) / 2.0::DOUBLE))
                ELSE 0.0::DOUBLE END)
             ) AS term
      FROM tot WHERE to_ > 0 AND tn_ > 0
    )
    SELECT source,
           CAST(MAX(to_) AS BIGINT) AS n_tokens_old,
           CAST(MAX(tn_) AS BIGINT) AS n_tokens_new,
           CAST(COUNT(*) FILTER (WHERE co > 0) AS BIGINT) AS vocab_old,
           CAST(COUNT(*) FILTER (WHERE cn > 0) AS BIGINT) AS vocab_new,
           CAST(COUNT(*) FILTER (WHERE co > 0 AND cn > 0) AS BIGINT)
             AS vocab_shared,
           round(CAST(SUM(CAST(floor(term * 1000000000000.0::DOUBLE
                                     + 0.5::DOUBLE) AS BIGINT))
                      AS BIGINT) / 1000000000000.0::DOUBLE, 6) AS js_bits
    FROM terms GROUP BY source ORDER BY source
    """,
)
def snapshot_divergence_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence (bits) of the token
    distribution between corpus snapshots (VERDICT r12 "Next round"
    #4b): snapshots are alternating ``_SNAP_BLOCK``-id blocks (crawls
    append contiguous id ranges; the module-wide PARITY convention is
    degenerate against the fixtures' residue-class sources — see the
    ``_SNAP_BLOCK`` note). THE drift number a mixture planner consumes:
    ``snapshot_novelty`` grades per-document freshness; this grades
    each SOURCE's distributional shift between crawls (JS ≈ 0 → the
    new crawl re-says the old corpus, re-weighting unnecessary; JS
    rising toward 1 bit → the source changed register/topic and its
    mixture weight, quality gates, and dedup thresholds deserve
    re-tuning). JS over KL because it is symmetric, bounded to [0,1]
    bit, and defined when a token appears in only one snapshot (KL
    diverges to ∞ there — and one-snapshot tokens are exactly what a
    crawl delta contains).

    Exactness: probabilities are exact count ratios; each vocab
    term's JS contribution is computed with an IDENTICAL expression
    tree in both engines (single libm log2 per side — the tfidf ln
    precedent), then quantized to 1e-12 and summed as SCALED
    INTEGERS: a plain double Σ over a vocab-sized term set is
    summation-order-dependent (exchange-partitioning decides the
    order), so the order-free integer sum is what makes a 6-dp
    hash-checked divergence possible at all — the hll_user_reach /
    Σ√E rule. Zero-count sides contribute 0·log0 = 0 via mirrored
    CASE gates; sources missing a whole snapshot drop (gated to_ >
    0 AND tn_ > 0 on both sides).

    Scale shape: one tokenize explode → (source, token) partial-agg'd
    conditional counts (the vocab-sized shuffle — millions of rows
    when the corpus is trillions of tokens); per-source totals ride a
    window over the count table (no corpus join-back); the JS
    aggregate shrinks vocab → |sources|. Nothing corpus-sized crosses
    the wire after the first partial aggregation, and snapshots
    compare WITHOUT materializing either corpus twice."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.when(
            F.expr(f"doc_id div {_SNAP_BLOCK}") % 2 == 0, F.lit("old")
        )
        .otherwise(F.lit("new"))
        .alias("half"),
        F.explode(X.tokens("text", X.WS)).alias("t"),
    )
    c = tok.groupBy("source", "t").agg(
        F.sum((F.col("half") == "old").cast("long")).alias("co"),
        F.sum((F.col("half") == "new").cast("long")).alias("cn"),
    )
    w = Window.partitionBy("source")
    tot = c.select(
        "source",
        "co",
        "cn",
        F.sum("co").over(w).cast("double").alias("to_"),
        F.sum("cn").over(w).cast("double").alias("tn_"),
    ).filter((F.col("to_") > 0) & (F.col("tn_") > 0))
    p = F.col("co") / F.col("to_")
    q = F.col("cn") / F.col("tn_")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * (
        F.when(F.col("co") > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("cn") > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    )
    shaped = tot.withColumn(
        "tq", F.floor(term * F.lit(1e12) + F.lit(0.5)).cast("long")
    )
    return (
        shaped.groupBy("source")
        .agg(
            F.max("to_").cast("long").alias("n_tokens_old"),
            F.max("tn_").cast("long").alias("n_tokens_new"),
            F.sum((F.col("co") > 0).cast("long")).alias("vocab_old"),
            F.sum((F.col("cn") > 0).cast("long")).alias("vocab_new"),
            F.sum(
                ((F.col("co") > 0) & (F.col("cn") > 0)).cast("long")
            ).alias("vocab_shared"),
            F.round(F.sum("tq") / F.lit(1e12), 6).alias("js_bits"),
        )
        .orderBy("source")
    )


_WS_TOPK = 50
_WS_HASH = H.hex_int(H.md5_id("doc_id"), 1, 8)


@query(
    "weighted_sample_topk",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, n_chars,
             ln(({_WS_HASH.duck} + 0.5) / 4294967296.0) / n_chars AS key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           round(key, 6) AS sample_key
    FROM w
    ORDER BY round(key, 12) DESC, doc_id LIMIT {_WS_TOPK}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    A-ES keys: each doc draws key = ln(u)/w (u a deterministic hash
    uniform, w = n_chars) and the sample is the top-{_WS_TOPK} by key —
    the one-pass, merge-able primitive for "sample documents
    proportionally to length" that a mixture pipeline runs per source
    (``mixture_sample_temperature`` sets the quotas; this draws the
    members). Selecting max ln(u)/w is distributionally identical to
    sampling proportional to w without replacement (Efraimidis &
    Spirakis 2006), and because u derives from md5(doc_id) — the
    repo's cross-engine hash family, same reproducibility contract as
    ``train_split_hash`` — the sample is STABLE under re-ingestion,
    shard order, and corpus growth, and replays exactly in DuckDB.

    u = (first-8-hex(md5) + 0.5) / 2^32 is exact integer arithmetic in
    (0,1) — never 0 or 1, so ln(u) is finite; ln and the division are
    single per-row ops identical in both engines (the tfidf ln
    precedent); ranking uses round(key, 12) with a doc_id tiebreak so
    a last-ulp libm disagreement cannot reorder near-ties.
    Non-positive/NULL weights are excluded by contract (a weightless
    doc cannot be drawn), mirrored in the oracle.

    Scale shape: entirely narrow (hash + ln inside codegen at the
    scan), then TakeOrderedAndProject for the bounded top-k — no
    shuffle wider than {_WS_TOPK} rows per partition; the classic
    alternative (global sort by random key) pays a corpus-wide
    exchange for the same sample."""
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (_WS_HASH.col + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            F.round(key, 6).alias("sample_key"),
            F.round(key, 12).alias("_k12"),
        )
        .orderBy(F.desc("_k12"), "doc_id")
        .limit(_WS_TOPK)
        .drop("_k12")
    )


_SUBSTR_SNIPPET_LEN = 40
_SUBSTR_EVAL_ID_CAP = 50_000  # the eval suite is FIXED-size; see docstring


@query(
    "decontaminate_substring",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '[ \t\n\r\f]+', ' ', 'g')
               AS t
      FROM documents WHERE text IS NOT NULL
    ), ev AS (
      SELECT DISTINCT substr(t, 1, {_SUBSTR_SNIPPET_LEN}) AS snip
      FROM norm
      WHERE doc_id % 97 = 0 AND doc_id < {_SUBSTR_EVAL_ID_CAP}
        AND length(t) >= {_SUBSTR_SNIPPET_LEN}
    )
    SELECT n.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM norm n JOIN ev ON n.doc_id % 97 <> 0
                       AND position(ev.snip IN n.t) > 0
    GROUP BY n.doc_id ORDER BY n.doc_id
    """,
)
def decontaminate_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring decontamination (the GPT-3/PaLM appendix
    protocol): flag training documents that contain a verbatim
    {_SUBSTR_SNIPPET_LEN}-char snippet of any eval example — the
    strictest contamination test, catching verbatim quotes that
    token-level n-gram overlap (``decontaminate_ngram``) can miss
    across tokenization differences and that it complements (n-grams
    catch paraphrase-adjacent reuse; substrings catch copy-paste).
    Text is whitespace-normalized and lowercased on both sides first
    (the ``doc_fingerprint`` canonicalization, explicit WS class per
    the Java-vs-RE2 rule), so formatting noise doesn't hide a quote.

    Scale shape: the eval side (doc_id % 97 under a fixed id cap —
    the benchmark stand-in; a REAL eval suite is fixed-size, so the
    stand-in must not grow with the corpus the way the bare %97 rule
    would, which the 100× probe measured as an honest-but-misleading
    snippets×corpus blow-up) collapses to DISTINCT leading snippets
    and BROADCASTS; the corpus streams through one scan with
    a codegen'd ``contains`` per snippet — no corpus shuffle, no
    join-key explosion; only (doc, snip) hits reach the per-doc count.
    At a real eval-suite size (thousands of snippets) the scan cost is
    snippets×doc-length per task — the published protocol's cost — and
    the Bloom/ngram pair remains the cheap pre-filter when that's too
    hot."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = docs.select(
        "doc_id",
        F.regexp_replace(
            F.lower(F.trim(F.col("text"))), "[ \t\n\r\f]+", " "
        ).alias("t"),
    )
    ev = (
        norm.filter(
            (F.col("doc_id") % 97 == 0)
            & (F.col("doc_id") < _SUBSTR_EVAL_ID_CAP)
            & (F.length("t") >= _SUBSTR_SNIPPET_LEN)
        )
        .select(F.substring("t", 1, _SUBSTR_SNIPPET_LEN).alias("snip"))
        .distinct()
    )
    hits = (
        norm.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev))
        .filter(F.expr("position(snip IN t) > 0"))
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


@query(
    "decontaminate_normalized",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents WHERE text IS NOT NULL
    ), ev AS (
      SELECT DISTINCT substr(t, 1, {_SUBSTR_SNIPPET_LEN}) AS snip
      FROM norm
      WHERE doc_id % 97 = 0 AND doc_id < {_SUBSTR_EVAL_ID_CAP}
        AND length(t) >= {_SUBSTR_SNIPPET_LEN}
    )
    SELECT n.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM norm n JOIN ev ON n.doc_id % 97 <> 0
                       AND position(ev.snip IN n.t) > 0
    GROUP BY n.doc_id ORDER BY n.doc_id
    """,
)
def decontaminate_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUNCTUATION-FOLDED exact-substring decontamination (VERDICT r11
    #3b — the cross-formatting sibling of ``decontaminate_substring``):
    the same fixed-size-eval snippet protocol, but both sides are
    normalized by case-folding and collapsing every NON-ALPHANUMERIC
    run (punctuation, dashes, quotes, unicode symbols — not just
    whitespace) to a single space before snippet extraction and
    matching. This catches the contamination class the whitespace-only
    variant provably misses: an eval sentence re-typeset with smart
    quotes, em-dashes vs hyphens, list bullets, or shouting case — the
    most common way benchmark text actually reappears in web scrapes
    (and, for languages whose segmentation differs only in
    punctuation, the cheap first rung of cross-lingual decontamination
    before any transliteration). The hostile fixture plants the pair
    9603/99012, which differs ONLY in case + dash/semicolon typography:
    this query must hit it while ``decontaminate_substring`` must not —
    both directions pinned in tests/test_hostile_parity.py, so the
    fold is proven to widen the net, not just re-match the
    whitespace pair (9797/99010, which both variants hit).

    The fold runs lower() FIRST so the explicit [^a-z0-9] class is
    total on cased text; the class is negated-explicit (no shorthand,
    per the Java-vs-RE2 rule) and folds multi-byte symbols per code
    point identically in both engines (the emoji/BOM hostile docs pin
    code-point semantics).

    Scale shape: identical to ``decontaminate_substring`` — the eval
    side collapses to DISTINCT normalized snippets and BROADCASTS; the
    corpus streams through one scan with codegen'd lower/
    regexp_replace/contains; no corpus shuffle, only (doc, snip) hits
    reach the per-doc count. spread (r14): that regex normalization
    pass is per-char work over every text, 0.58× with the one-task
    fixture scan round-robined first (catalog.spread docstring)."""
    docs = spread(table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    norm = docs.select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
        ).alias("t"),
    )
    ev = (
        norm.filter(
            (F.col("doc_id") % 97 == 0)
            & (F.col("doc_id") < _SUBSTR_EVAL_ID_CAP)
            & (F.length("t") >= _SUBSTR_SNIPPET_LEN)
        )
        .select(F.substring("t", 1, _SUBSTR_SNIPPET_LEN).alias("snip"))
        .distinct()
    )
    hits = (
        norm.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev))
        .filter(F.expr("position(snip IN t) > 0"))
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


# PII regex classes — explicit character classes only (the Java-\s-vs-
# RE2-\s rule generalized: no shorthand classes, no lookaround, no
# backreferences, so the Java and RE2 engines compile the IDENTICAL
# automaton), dots as [.] so the pattern text needs no escaping in
# either dialect.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
_PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
_PII_PHONE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
_PII_IPV4 = "([0-9]{1,3}[.]){3}[0-9]{1,3}"


@query(
    "pii_scrub_counts",
    oracle=f"""
    WITH d AS (
      SELECT source, text,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS e,
             len(regexp_extract_all(text, '{_PII_SSN}')) AS s,
             len(regexp_extract_all(text, '{_PII_PHONE}')) AS p,
             len(regexp_extract_all(text, '{_PII_IPV4}')) AS ip,
             length(text) - length(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 text, '{_PII_EMAIL}', '', 'g'), '{_PII_SSN}', '', 'g'),
                 '{_PII_PHONE}', '', 'g'), '{_PII_IPV4}', '', 'g')
             ) AS redacted
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN e + s + p + ip > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_pii,
           CAST(SUM(e) AS BIGINT) AS n_emails,
           CAST(SUM(s) AS BIGINT) AS n_ssn,
           CAST(SUM(p) AS BIGINT) AS n_phones,
           CAST(SUM(ip) AS BIGINT) AS n_ipv4,
           CAST(SUM(redacted) AS BIGINT) AS chars_redacted
    FROM d GROUP BY source ORDER BY source
    """,
)
def pii_scrub_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PII scrubbing audit (VERDICT r10 #7 — the privacy
    sibling of ``k_anonymity_suppress``): per source, how many
    documents carry regex-class PII (emails, SSNs, phone numbers,
    IPv4 addresses), per-class match counts, and the total characters
    a redaction pass would remove — the go/no-go summary a
    training-data release review reads before any corpus ships.
    Counts are per-class on the RAW text (classes may overlap inside
    a larger token — e.g. a phone-shaped digit run inside an email
    local part counts for both; the documented, deterministic choice);
    the redaction column applies the classes SEQUENTIALLY
    (email → SSN → phone → IPv4), so earlier classes consume their
    text before later ones scan. Second documented choice (ADVICE
    r11): ``_PII_IPV4`` matches any dotted digit quad — out-of-range
    octets (999.999.999.999) and version strings (1.2.3.4) included —
    so ``n_ipv4``/``chars_redacted`` are a deliberate SUPERSET of
    true IPv4 addresses. That is the right polarity for a redaction
    audit (over-scrub, never under-scrub), keeps the automaton to
    pure explicit classes (the octet-range alternation triples the
    pattern without closing the version-string case, which needs
    context, not ranges), and is deterministic and mirrored verbatim
    in the oracle, so parity is unaffected.

    Every source emits a row even at zero hits — the audit must
    affirmatively say "clean", and the all-zero fixture rows keep the
    oracle non-vacuous while the hostile fixture's planted PII doc
    exercises every hit path (the decontaminate_substring lesson,
    ADVICE r10). Patterns are explicit-class-only so Java and RE2
    compile identical automata (see the constants above); replacement
    is all-occurrence on both engines (Spark default; DuckDB 'g').

    Scale shape: one narrow scan — four codegen'd regexp_counts plus
    one chained-replace length diff per row, no Python, no join — then
    a |sources|-key partial agg. At 100 TB this is scan-bound I/O, the
    cheapest shape there is; a real deployment would also WRITE the
    scrubbed column, which adds no shuffle."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    cnt = lambda pat: F.regexp_count(F.col("text"), F.lit(pat))  # noqa: E731
    scrub = F.col("text")
    for pat in (_PII_EMAIL, _PII_SSN, _PII_PHONE, _PII_IPV4):
        scrub = F.regexp_replace(scrub, pat, "")
    d = docs.select(
        "source",
        cnt(_PII_EMAIL).alias("e"),
        cnt(_PII_SSN).alias("s"),
        cnt(_PII_PHONE).alias("p"),
        cnt(_PII_IPV4).alias("ip"),
        (F.length("text") - F.length(scrub)).alias("redacted"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("e") + F.col("s") + F.col("p") + F.col("ip") > 0, 1)
                .otherwise(0)
            ).cast("long").alias("docs_with_pii"),
            F.sum("e").cast("long").alias("n_emails"),
            F.sum("s").cast("long").alias("n_ssn"),
            F.sum("p").cast("long").alias("n_phones"),
            F.sum("ip").cast("long").alias("n_ipv4"),
            F.sum("redacted").cast("long").alias("chars_redacted"),
        )
        .orderBy("source")
    )


@query(
    "tokenizer_fertility",
    oracle=r"""
    WITH d AS (
      SELECT lang,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS toks,
             length(text) AS chars,
             strlen(text) AS bytes
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           round(CAST(SUM(chars) AS DOUBLE) / SUM(toks), 6)
             AS chars_per_token,
           round(CAST(SUM(bytes) AS DOUBLE) / SUM(toks), 6)
             AS bytes_per_token,
           round(CAST(SUM(toks) AS DOUBLE) / COUNT(*), 6) AS tokens_per_doc
    FROM d GROUP BY lang HAVING SUM(toks) > 0 ORDER BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: characters and UTF-8 bytes per
    token under the BPE-ish tokenizer, plus tokens per document — the
    compute-budget lens on a multilingual mix (a language at 2× the
    bytes-per-token costs 2× the storage and context length for the
    same token budget; fertility outliers are the classic symptom of a
    tokenizer that under-serves a script). Uses the same token unit as
    ``token_count_est``/``encode_corpus`` so the numbers compose with
    the rest of the token accounting; bytes come from octet_length
    (Spark) / strlen (DuckDB), both UTF-8 — the chars≠bytes split is
    exercised by the hostile fixture's accented/emoji docs.

    Scale shape: one narrow codegen scan (regex count + two lengths),
    |langs|-key partial agg; ratios are single double divisions
    rounded once, computed from order-free integer sums — nothing
    here can drift. The cheapest possible 100 TB shape."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    d = docs.select(
        "lang",
        X.bpe_ish_token_count("text").cast("long").alias("toks"),
        F.length("text").cast("long").alias("chars"),
        F.octet_length("text").cast("long").alias("bytes"),
    )
    g = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.sum("chars").alias("_chars"),
        F.sum("bytes").alias("_bytes"),
    ).filter(F.col("n_tokens") > 0)
    return g.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("_chars").cast("double") / F.col("n_tokens"), 6).alias(
            "chars_per_token"
        ),
        F.round(F.col("_bytes").cast("double") / F.col("n_tokens"), 6).alias(
            "bytes_per_token"
        ),
        F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 6).alias(
            "tokens_per_doc"
        ),
    ).orderBy("lang")


@query(
    "effective_token_budget",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, source,
             {H.fingerprint("text").duck} AS fp,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    k AS (
      SELECT source, toks,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
                  THEN 1 ELSE 0 END AS is_keep
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS raw_docs,
           CAST(SUM(toks) AS BIGINT) AS raw_tokens,
           CAST(SUM(is_keep) AS BIGINT) AS unique_docs,
           CAST(SUM(CASE WHEN is_keep = 1 THEN toks ELSE 0 END) AS BIGINT)
             AS effective_tokens,
           CAST(SUM(CASE WHEN is_keep = 0 THEN toks ELSE 0 END) AS BIGINT)
             AS dup_token_waste
    FROM k GROUP BY source ORDER BY source
    """,
)
def effective_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE token budget per source: raw tokens vs tokens
    surviving exact dedup (md5-fingerprint keep-first, the
    ``dedup_exact`` rule) — the number that actually matters when
    sizing a training mix, because a source whose raw volume is half
    duplicates contributes half the unique tokens its row count
    suggests (the Chinchilla-style accounting a curator does before
    setting mixture weights; ``dup_token_waste`` is the column that
    pays for the dedup pipeline). Keep-first attribution is global:
    a duplicate cluster spanning sources credits the earliest doc's
    source, mirroring what an actual dedup pass would ship.

    Scale shape: one fingerprint shuffle (the dedup_exact exchange);
    keep-marking is an unbounded MIN window over the fp partition —
    same exchange, no join-back (the window's per-key state is one
    min, and fp whale keys carry only (doc_id, source, toks) triples,
    never text) — then a |sources|-key partial agg of integer sums.
    Exact integers end-to-end; nothing can drift."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = docs.select(
        "doc_id",
        "source",
        H.fingerprint("text").col.alias("fp"),
        X.bpe_ish_token_count("text").cast("long").alias("toks"),
    )
    keep = F.when(
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp")), 1
    ).otherwise(0)
    k = d.select("source", "toks", keep.alias("is_keep"))
    return (
        k.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("raw_docs"),
            F.sum("toks").cast("long").alias("raw_tokens"),
            F.sum("is_keep").cast("long").alias("unique_docs"),
            F.sum(F.when(F.col("is_keep") == 1, F.col("toks")).otherwise(0))
            .cast("long")
            .alias("effective_tokens"),
            F.sum(F.when(F.col("is_keep") == 0, F.col("toks")).otherwise(0))
            .cast("long")
            .alias("dup_token_waste"),
        )
        .orderBy("source")
    )


_REP_GATE_PCT = 10  # flag a doc when >10% of its gram chars are duplicated


@query(
    "repetition_gate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DD_TOKS} AS l
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, source, array_to_string(l[i:i+2], ' ') AS g
      FROM toks, UNNEST(range(1, greatest(len(l) - 2, 0) + 1)) r(i)
    ),
    pc AS (
      SELECT doc_id, source, g, length(g) AS gl, COUNT(*) AS c
      FROM g GROUP BY doc_id, source, g
    ),
    d AS (
      SELECT doc_id, source,
             SUM(gl * c) AS tot,
             SUM(CASE WHEN c > 1 THEN gl * c ELSE 0 END) AS dup
      FROM pc GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dup * 100 > tot * {_REP_GATE_PCT}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(tot) AS BIGINT) AS gram_chars,
           CAST(SUM(dup) AS BIGINT) AS dup_gram_chars,
           round(SUM(dup) * 1.0 / SUM(tot), 6) AS dup_char_frac
    FROM d GROUP BY source ORDER BY source
    """,
)
def repetition_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-aware quality GATE at the n-gram level (VERDICT r11
    #3c — the doc-internal, char-weighted sibling of
    ``substring_dup_rate`` and the gating layer over
    ``text_repetition``'s raw signal): per source, how many documents
    exceed the Gopher-style duplicated-trigram-character budget —
    a doc is flagged when more than {_REP_GATE_PCT}% of its trigram
    occurrence characters belong to trigrams repeated WITHIN the doc
    (boilerplate, nav chrome, generated spam — the pages intra-doc
    repetition catches and cross-doc dedup never sees). CHAR-weighted,
    not count-weighted, because long repeated grams waste
    proportionally more of the token budget than short ones — the same
    reason Gopher's rep filters use duplicated-character fractions.

    Exactness: the per-doc gate is an INTEGER cross-multiply
    (dup·100 > tot·{_REP_GATE_PCT}), and every rollup column is an
    integer sum; the single division happens once per source row on
    exact integer inputs — nothing order-dependent anywhere, the
    strongest parity class this repo has. Trigrams (not the
    8-gram substring_dup_rate unit) because in-doc repetition runs
    shorter than cross-doc boilerplate: the tri-SF fixtures flag
    real docs at sf0.01/sf0.1 while 8-grams flag none, and the
    hostile fixture plants a repeated-slogan spam doc (99013) so the
    flag path fires at every sweep (the non-vacuous rule).

    Scale shape: tokens explode to positional trigrams inside codegen
    (Generate + element_at, the module rule); the only corpus-sized
    shuffle is the (doc, source, gram)-keyed count with map-side
    partial agg (keys are doc-local, so cardinality ≈ gram
    occurrences, and whale keys are bounded by doc length); the
    per-doc and per-source rollups shrink monotonically. No join
    anywhere."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = X.tokens("text", X.WS)
    grams = (
        docs.select("doc_id", "source", t.alias("_ws"), F.size(t).alias("_n"))
        .filter(F.col("_n") >= 3)
        .select(
            "doc_id",
            "source",
            "_ws",
            F.explode(F.sequence(F.lit(1), F.col("_n") - 2)).alias("_i"),
        )
        .select(
            "doc_id",
            "source",
            F.concat_ws(
                " ",
                F.element_at("_ws", F.col("_i")),
                F.element_at("_ws", F.col("_i") + 1),
                F.element_at("_ws", F.col("_i") + 2),
            ).alias("g"),
        )
    )
    pc = grams.groupBy("doc_id", "source", "g").agg(F.count("*").alias("c"))
    occ = F.length("g") * F.col("c")
    d = (
        pc.select(
            "doc_id",
            "source",
            occ.alias("occ_chars"),
            F.when(F.col("c") > 1, occ).otherwise(0).alias("dup_chars"),
        )
        .groupBy("doc_id", "source")
        .agg(F.sum("occ_chars").alias("tot"), F.sum("dup_chars").alias("dup"))
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("dup") * 100 > F.col("tot") * _REP_GATE_PCT, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_flagged"),
            F.sum("tot").cast("long").alias("gram_chars"),
            F.sum("dup").cast("long").alias("dup_gram_chars"),
            F.round(F.sum("dup") * 1.0 / F.sum("tot"), 6).alias(
                "dup_char_frac"
            ),
        )
        .orderBy("source")
    )


@query(
    "mixture_rebalance",
    # composes the effective_token_budget oracle verbatim (the
    # dup_cluster_histogram pattern): rebalancing must price sources
    # by their POST-DEDUP tokens, or duplicate-heavy sources get
    # over-sampled exactly in proportion to their redundancy
    oracle=f"""
    WITH etb AS ({_oracle_for("effective_token_budget")}),
    w AS (
      SELECT source, effective_tokens,
             CAST(floor(sqrt(CAST(effective_tokens AS DOUBLE))
                        * 1000000.0::DOUBLE + 0.5::DOUBLE)
                  AS DECIMAL(38,0)) AS ws
      FROM etb WHERE effective_tokens > 0
    ),
    t AS (SELECT SUM(ws) AS tw FROM w),
    s AS (
      SELECT source, effective_tokens,
             CAST(ws AS DOUBLE) / CAST(tw AS DOUBLE) AS share
      FROM w, t
    ),
    b AS (
      SELECT MIN(CAST(effective_tokens AS DOUBLE) / share) AS budget
      FROM s
    )
    SELECT source,
           effective_tokens,
           round(share, 6) AS target_share,
           round(least(budget * share
                       / CAST(effective_tokens AS DOUBLE),
                       1.0::DOUBLE), 6) AS keep_prob,
           CAST(floor(least(budget * share
                            / CAST(effective_tokens AS DOUBLE),
                            1.0::DOUBLE)
                      * CAST(effective_tokens AS DOUBLE)
                      + 0.5::DOUBLE) AS BIGINT) AS post_tokens
    FROM s, b ORDER BY source
    """,
)
def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture REBALANCING to a temperature-scaled target token
    distribution (VERDICT r11 #3a — the step after
    ``effective_token_budget`` prices each source and
    ``mixture_sample_temperature`` picks the α = 0.5 law): emit, per
    source, the keep-probability a downsampling pass should apply and
    the post-rebalance token count. Target share of source s is
    √E_s / Σ√E (E = POST-exact-dedup effective tokens — composed
    verbatim from ``effective_token_budget``, so redundancy never
    buys weight); the achievable corpus budget is the largest B with
    keep_prob ≤ 1 everywhere, B = min_s(E_s / share_s) — the binding
    source keeps everything, every other source downsamples toward
    the target law. This row set IS the config a sampling job
    consumes (keep_prob per source), and Σ post_tokens ≈ B is the
    number that goes in the training plan.

    Cross-engine exactness, step by step: E_s is an exact BIGINT from
    the composed oracle; √ is IEEE-correctly-rounded on the exactly
    representable double E_s; the weight is then QUANTIZED to a
    scaled integer (floor(√E·10⁶ + 0.5) as DECIMAL(38,0)) so the
    denominator Σw is an ORDER-FREE decimal integer sum (a bare
    double Σ√E would be partition-order-dependent — the HLL Z-sum
    lesson); every later step (share division, min, least, the
    floor(x+0.5) half-up integerization) is single IEEE double ops on
    bit-identical inputs, deterministic in both engines. Sources with
    zero effective tokens are excluded (mirrored): nothing to sample,
    and 0/0 NaN ordering differs across engines.

    Scale shape: everything downstream of the composed
    effective_token_budget plan (one fingerprint shuffle + one
    |sources|-key agg) runs on a |sources|-row frame — the
    whole-frame windows are the mixture_sample_temperature pattern,
    tiny by construction. The quantizer's exact band holds while
    Σ√E·10⁶ < 2⁵³, i.e. corpus sources up to ~2·10¹⁷ tokens each —
    beyond any training corpus."""
    from pyspark.sql import Window

    etb = effective_token_budget(spark, sf_dir).select(
        "source", "effective_tokens"
    )
    eff_d = F.col("effective_tokens").cast("double")
    w = etb.filter(F.col("effective_tokens") > 0).select(
        "source",
        "effective_tokens",
        F.floor(F.sqrt(eff_d) * 1000000.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("ws"),
    )
    whole = Window.partitionBy()
    share = F.col("ws").cast("double") / F.sum("ws").over(whole).cast("double")
    s = w.select("source", "effective_tokens", share.alias("share"))
    budget = F.min(eff_d / F.col("share")).over(whole)
    keep = F.least(budget * F.col("share") / eff_d, F.lit(1.0))
    return (
        s.select(
            "source",
            "effective_tokens",
            F.round("share", 6).alias("target_share"),
            F.round(keep, 6).alias("keep_prob"),
            F.floor(keep * eff_d + 0.5).cast("long").alias("post_tokens"),
        )
        .orderBy("source")
    )


_MIX_MAX_EPOCHS = 4  # data-constrained cap: a source repeats ≤ 4 epochs


@query(
    "mixture_epochs",
    oracle=f"""
    WITH etb AS ({_oracle_for("effective_token_budget")}),
    w AS (
      SELECT source, effective_tokens,
             CAST(floor(sqrt(CAST(effective_tokens AS DOUBLE))
                        * 1000000.0::DOUBLE + 0.5::DOUBLE)
                  AS DECIMAL(38,0)) AS ws
      FROM etb WHERE effective_tokens > 0
    ),
    t AS (
      SELECT SUM(ws) AS tw, SUM(effective_tokens) AS b FROM w
    ),
    s AS (
      SELECT source, effective_tokens,
             CAST(ws AS DOUBLE) / CAST(tw AS DOUBLE) AS share,
             CAST(b AS DOUBLE) AS b_d
      FROM w, t
    ),
    e AS (
      SELECT source, effective_tokens, share,
             least({_MIX_MAX_EPOCHS}.0::DOUBLE,
                   b_d * share / CAST(effective_tokens AS DOUBLE))
               AS epochs
      FROM s
    ),
    sm AS (
      SELECT source, effective_tokens, share, epochs,
             CAST(floor(epochs * CAST(effective_tokens AS DOUBLE)
                        + 0.5::DOUBLE) AS BIGINT) AS sampled_tokens
      FROM e
    ),
    tot AS (SELECT SUM(sampled_tokens) AS ts FROM sm)
    SELECT source,
           effective_tokens,
           round(share, 6) AS target_share,
           round(epochs, 6) AS epochs,
           sampled_tokens,
           round(CAST(sampled_tokens AS DOUBLE) / CAST(ts AS DOUBLE), 6)
             AS realized_share
    FROM sm, tot ORDER BY source
    """,
)
def mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPSAMPLE-CAPPED mixture rebalancing — the data-constrained
    regime (Muennighoff et al. 2023: repeating data up to ~4 epochs is
    nearly as good as fresh data, beyond that returns collapse):
    redistribute one corpus-worth of unique tokens (B = ΣE) toward
    the α = 0.5 temperature law, but cap every source at
    {_MIX_MAX_EPOCHS} epochs of its unique tokens. Where
    ``mixture_rebalance`` answers "how do I DOWNSAMPLE to the target
    law" (keep_prob ≤ 1, budget bound by the binding source), this
    answers the planner's other question: "with repetition allowed,
    how many epochs does each source run, and what mixture do I
    actually realize?" — ``epochs`` > 1 means the law wants MORE of a
    small high-value source than it has unique tokens, and
    ``realized_share`` (vs ``target_share``) quantifies exactly how
    far the epoch cap bends the realized mixture away from the law.

    Exactness: B and Σ sampled_tokens are BIGINT sums (order-free);
    the √-weight denominator is the quantized DECIMAL(38,0) sum from
    mixture_rebalance; everything else is single IEEE double ops on
    bit-identical inputs (least, ×, ÷, floor(x+0.5)) — deterministic
    in both engines. Zero-token sources are excluded (mirrored).

    Scale shape: identical to mixture_rebalance — the corpus-scale
    work is the composed effective_token_budget plan; every rebalance
    step runs on the |sources|-row frame via whole-frame windows."""
    from pyspark.sql import Window

    etb = effective_token_budget(spark, sf_dir).select(
        "source", "effective_tokens"
    )
    eff_d = F.col("effective_tokens").cast("double")
    w = etb.filter(F.col("effective_tokens") > 0).select(
        "source",
        "effective_tokens",
        F.floor(F.sqrt(eff_d) * 1000000.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("ws"),
    )
    whole = Window.partitionBy()
    share = F.col("ws").cast("double") / F.sum("ws").over(whole).cast("double")
    b_d = F.sum("effective_tokens").over(whole).cast("double")
    s = w.select(
        "source", "effective_tokens", share.alias("share"), b_d.alias("b_d")
    )
    epochs = F.least(
        F.lit(float(_MIX_MAX_EPOCHS)), F.col("b_d") * F.col("share") / eff_d
    )
    sm = s.select(
        "source",
        "effective_tokens",
        "share",
        epochs.alias("epochs"),
        F.floor(epochs * eff_d + 0.5).cast("long").alias("sampled_tokens"),
    )
    ts = F.sum("sampled_tokens").over(whole).cast("double")
    return (
        sm.select(
            "source",
            "effective_tokens",
            F.round("share", 6).alias("target_share"),
            F.round("epochs", 6).alias("epochs"),
            "sampled_tokens",
            F.round(F.col("sampled_tokens").cast("double") / ts, 6).alias(
                "realized_share"
            ),
        )
        .orderBy("source")
    )


@query(
    "eval_contamination_report",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents WHERE text IS NOT NULL
    ), ev AS (
      SELECT doc_id AS eval_id, substr(t, 1, {_SUBSTR_SNIPPET_LEN}) AS snip
      FROM norm
      WHERE doc_id % 97 = 0 AND doc_id < {_SUBSTR_EVAL_ID_CAP}
        AND length(t) >= {_SUBSTR_SNIPPET_LEN}
    ), h AS (
      SELECT eval_id, COUNT(*) AS c
      FROM ev JOIN norm n ON n.doc_id % 97 <> 0
                        AND position(ev.snip IN n.t) > 0
      GROUP BY eval_id
    )
    SELECT ev.eval_id,
           CAST(coalesce(h.c, 0) AS BIGINT) AS n_training_hits
    FROM ev LEFT JOIN h USING (eval_id) ORDER BY eval_id
    """,
)
def eval_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REVERSE direction of decontamination: per EVAL item, how
    many training documents quote it (normalized-fold matching, the
    ``decontaminate_normalized`` contract). ``decontaminate_*``
    answers "which training docs do I drop"; this answers the eval
    maintainer's question — "which benchmark items are burned" —
    which drives the OTHER standard mitigation (drop or re-weight the
    contaminated eval items when cleaning the training set is not an
    option, the GPT-4/Llama report protocol). Every eval item gets a
    row, zero included: the report must affirmatively say "clean",
    exactly like ``pii_scrub_counts``' per-source zero rows — and the
    planted pairs (9797→1 via the verbatim quote, 9603→1 via the
    typography quote) keep both hit paths non-vacuous on the hostile
    sweep.

    Scale shape: the eval side is fixed-size and BROADCASTS into the
    corpus scan (inner hit-count join — never a left join with the
    corpus on the right, which could not broadcast); the per-item
    zeros come from a second LEFT join of the tiny eval frame against
    the tiny hit frame — both sides eval-suite-sized, no corpus data
    motion beyond the one codegen'd contains scan."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = docs.select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
        ).alias("t"),
    )
    ev = norm.filter(
        (F.col("doc_id") % 97 == 0)
        & (F.col("doc_id") < _SUBSTR_EVAL_ID_CAP)
        & (F.length("t") >= _SUBSTR_SNIPPET_LEN)
    ).select(
        F.col("doc_id").alias("eval_id"),
        F.substring("t", 1, _SUBSTR_SNIPPET_LEN).alias("snip"),
    )
    hits = (
        norm.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev))
        .filter(F.expr("position(snip IN t) > 0"))
        .groupBy("eval_id")
        .agg(F.count("*").alias("c"))
    )
    return (
        ev.join(F.broadcast(hits), "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias(
                "n_training_hits"
            ),
        )
        .orderBy("eval_id")
    )


_FUNNEL_MIN_TOKENS = 5
_FUNNEL_MIN_QUALITY = 0.7


@query(
    "quality_filter_funnel",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             {_DD_NTOKS} AS ntoks,
             round((least(length(text) / 200.0, 1.0)
               + greatest(0.0, 1.0 - ({_DD_PUNCT} / greatest(length(text), 1)) * 5)
               + least(({_dd_stopword_hits('en')} / greatest({_DD_NTOKS}, 1)) * 4, 1.0)
               ) / 3, 6) AS q,
             len(regexp_extract_all(text, '{_PII_EMAIL}'))
               + len(regexp_extract_all(text, '{_PII_SSN}'))
               + len(regexp_extract_all(text, '{_PII_PHONE}'))
               + len(regexp_extract_all(text, '{_PII_IPV4}')) AS pii,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS btoks
      FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
      SELECT doc_id, {_DD_TOKS} AS l
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, array_to_string(l[i:i+2], ' ') AS g
      FROM toks, UNNEST(range(1, greatest(len(l) - 2, 0) + 1)) r(i)
    ),
    pc AS (
      SELECT doc_id, g, length(g) AS gl, COUNT(*) AS c
      FROM g GROUP BY doc_id, g
    ),
    rep AS (
      SELECT doc_id, SUM(gl * c) AS tot,
             SUM(CASE WHEN c > 1 THEN gl * c ELSE 0 END) AS dup
      FROM pc GROUP BY doc_id
    ),
    f AS (
      SELECT d.source, d.btoks,
             CASE WHEN d.ntoks >= {_FUNNEL_MIN_TOKENS}
                  THEN 1 ELSE 0 END AS s1,
             CASE WHEN d.ntoks >= {_FUNNEL_MIN_TOKENS}
                   AND d.q >= {_FUNNEL_MIN_QUALITY}::DOUBLE
                  THEN 1 ELSE 0 END AS s2,
             CASE WHEN d.ntoks >= {_FUNNEL_MIN_TOKENS}
                   AND d.q >= {_FUNNEL_MIN_QUALITY}::DOUBLE
                   AND (rep.tot IS NULL OR rep.dup * 100 <= rep.tot * {_REP_GATE_PCT})
                  THEN 1 ELSE 0 END AS s3,
             CASE WHEN d.ntoks >= {_FUNNEL_MIN_TOKENS}
                   AND d.q >= {_FUNNEL_MIN_QUALITY}::DOUBLE
                   AND (rep.tot IS NULL OR rep.dup * 100 <= rep.tot * {_REP_GATE_PCT})
                   AND d.pii = 0
                  THEN 1 ELSE 0 END AS s4
      FROM d LEFT JOIN rep USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s1) AS BIGINT) AS pass_content,
           CAST(SUM(s2) AS BIGINT) AS pass_quality,
           CAST(SUM(s3) AS BIGINT) AS pass_repetition,
           CAST(SUM(s4) AS BIGINT) AS pass_pii,
           CAST(SUM(CASE WHEN s4 = 1 THEN btoks ELSE 0 END) AS BIGINT)
             AS tokens_surviving
    FROM f GROUP BY source ORDER BY source
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning-pipeline ATTRITION DASHBOARD: per source, how many
    documents survive each successive filter stage — content
    (≥ {_FUNNEL_MIN_TOKENS} tokens) → quality (composite ≥
    {_FUNNEL_MIN_QUALITY}) → intra-doc repetition (the
    ``repetition_gate`` rule) → PII-free — plus the BPE-ish tokens the
    fully-surviving docs contribute. ``pipeline_filter_quality`` IS
    the cleaning job (one kept-corpus summary row); this is its
    observability complement: the per-source, per-stage counts a
    pipeline owner watches to see WHERE a source's volume dies (a
    source losing 40% at the repetition stage has a template-spam
    problem; one dying at PII needs a scrub pass, not exclusion) —
    the number-one dashboard of every production curation stack.
    Stages are CUMULATIVE (each gate sees the previous gates'
    survivors), so columns are monotonically non-increasing — pinned
    by the hostile sweep via planted failures for every stage
    (token-less docs, the spam doc 99013, the PII doc 99011).

    Exactness: every gate is either integer (token counts, the
    repetition cross-multiply, PII counts) or a threshold on the
    proven 6-dp-rounded quality composite (the ``quality_score_auc``
    pair); the rollup is integer sums only.

    Scale shape: one codegen scan computes all per-doc flag inputs
    except repetition, which needs the gram aggregation
    (repetition_gate's machinery, doc-keyed); the two per-doc frames
    meet in a doc_id-keyed LEFT join — both sides corpus-sized, so
    the join is the merge-class shape (size estimates must never
    broadcast a corpus side; the funnel's stats side is the SMALL
    per-doc (tot, dup) pair, never text) — then one |sources|-key
    partial agg."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    cnt = lambda pat: F.regexp_count(F.col("text"), F.lit(pat))  # noqa: E731
    flags = docs.select(
        "doc_id",
        "source",
        X.token_count("text").alias("ntoks"),
        X.quality_score("text").alias("q"),
        (
            cnt(_PII_EMAIL) + cnt(_PII_SSN) + cnt(_PII_PHONE) + cnt(_PII_IPV4)
        ).alias("pii"),
        X.bpe_ish_token_count("text").cast("long").alias("btoks"),
    )
    t = X.tokens("text", X.WS)
    grams = (
        docs.select("doc_id", t.alias("_ws"), F.size(t).alias("_n"))
        .filter(F.col("_n") >= 3)
        .select(
            "doc_id",
            "_ws",
            F.explode(F.sequence(F.lit(1), F.col("_n") - 2)).alias("_i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("_ws", F.col("_i")),
                F.element_at("_ws", F.col("_i") + 1),
                F.element_at("_ws", F.col("_i") + 2),
            ).alias("g"),
        )
    )
    pc = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    occ = F.length("g") * F.col("c")
    rep = (
        pc.select(
            "doc_id",
            occ.alias("occ_chars"),
            F.when(F.col("c") > 1, occ).otherwise(0).alias("dup_chars"),
        )
        .groupBy("doc_id")
        .agg(F.sum("occ_chars").alias("tot"), F.sum("dup_chars").alias("dup"))
    )
    s1 = F.col("ntoks") >= _FUNNEL_MIN_TOKENS
    s2 = s1 & (F.col("q") >= F.lit(_FUNNEL_MIN_QUALITY))
    s3 = s2 & (
        F.col("tot").isNull()
        | (F.col("dup") * 100 <= F.col("tot") * _REP_GATE_PCT)
    )
    s4 = s3 & (F.col("pii") == 0)
    f = flags.join(rep.hint("merge"), "doc_id", "left")
    return (
        f.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(s1.cast("int")).cast("long").alias("pass_content"),
            F.sum(s2.cast("int")).cast("long").alias("pass_quality"),
            F.sum(s3.cast("int")).cast("long").alias("pass_repetition"),
            F.sum(s4.cast("int")).cast("long").alias("pass_pii"),
            F.sum(F.when(s4, F.col("btoks")).otherwise(0))
            .cast("long")
            .alias("tokens_surviving"),
        )
        .orderBy("source")
    )
