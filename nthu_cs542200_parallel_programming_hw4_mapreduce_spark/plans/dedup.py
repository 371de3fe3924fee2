"""Deduplication operators over ``documents`` / ``embeddings``.

The north-star dedup family (SURVEY.md §2.2, BASELINE.json): exact
(hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
near-dup. MinHash/SimHash use md5 as the hash family so the DuckDB
oracle can replicate signatures bit-for-bit (md5 agrees across engines;
so does lexicographic min over lowercase-hex strings).

Physical shape — chosen for 100 TB, benchmarked at sf0.1:

* Signatures are computed **explode → groupBy(doc_id)** rather than as
  higher-order-function array expressions. Two reasons: (a) Spark HOFs
  (ArrayTransform/ArrayFilter) are interpreted, outside whole-stage
  codegen; (b) CollapseProject inlines a shared shingle-array column
  into every one of the K signature expressions, recomputing the whole
  tokenize→shingle pipeline K times. The exploded form hashes each
  shingle exactly once, and MIN/SUM aggregates combine map-side, so the
  doc_id shuffle carries only (doc_id, K hashes) partial rows. This cut
  dedup_minhash_lsh from 54s → ~3s at sf0.1.
* Candidate pairs come from **groupBy(bucket) + collect_list**, never a
  self-join: a self-join recomputes the signature pipeline for both
  sides (no reliable exchange reuse without caching), while collect_list
  is one extra shuffle over already-tiny (bucket_key, doc_id) rows.
  Bucket membership lists are bounded (near-dup cluster sizes), so
  collect_list stays small; a df-cap guard drops degenerate buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..functions import hashing as H
from ..functions import text as X
from ..functions import vectors as V
from ..registry import query
from .similarity import _VEC_OK, vec_table

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    SELECT {H.fingerprint("text").duck} AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
    FROM documents GROUP BY 1 ORDER BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint, keep
    the lowest doc_id per cluster. One shuffle on the 128-bit key — at
    100 TB this is the cheapest possible dedup (partial-agg'd, no row
    payloads cross the wire, only (fp, min_id, cnt) triples)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", H.fingerprint("text").col.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


# ---------------------------------------------------------------------------
# Shared shapes
# ---------------------------------------------------------------------------


def _positional_grams(docs: DataFrame, k: int, out: str = "s") -> DataFrame:
    """(doc_id, <out>): positional word k-grams WITH multiplicity — the
    one gram builder (round-8 review: substring_dup_rate carried its
    own copy). Formation is narrow: explode the start index (a
    codegen'd Generate) and element_at the token array k times. The
    earlier window-lead form shuffled every token row just to line up
    neighbors, and the interpreted transform+slice array form runs
    outside codegen (3.7 s at sf0.1). Dedup is the CALLER's choice —
    the two consumers legitimately differ (see shingle_rows vs
    substring_dup_rate)."""
    t = X.tokens("text", X.WS)
    return (
        spread(docs).select("doc_id", t.alias("_ws"), F.size(t).alias("_n"))
        .filter(F.col("_n") >= k)
        .select(
            "doc_id",
            "_ws",
            F.explode(F.sequence(F.lit(1), F.col("_n") - (k - 1))).alias("_i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("_ws", F.col("_i") + j) for j in range(k)]
            ).alias(out),
        )
    )


def shingle_rows(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, s): distinct k-shingles, exploded.

    Grams come from ``_positional_grams``; the distinct the consumers
    genuinely need (Jaccard/containment math is over shingle SETS) is
    a lag-compare after a per-doc sort, NOT dropDuplicates: one shuffle
    keyed on doc_id alone, so the output stays doc_id-partitioned and
    every downstream doc_id window/aggregate reuses the exchange. (A
    dropDuplicates here hashes on (doc_id, s) — the consumers then
    re-shuffle the whole posting set by doc_id again, which is the
    difference between the 100× verify pass completing and running a
    single node out of shuffle disk.)"""
    from pyspark.sql import Window

    grams = _positional_grams(docs, k)
    w = Window.partitionBy("doc_id").orderBy("s")
    return (
        grams.withColumn("_prev", F.lag("s").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("s")))
        .select("doc_id", "s")
    )


def expand_pairs(buckets: DataFrame, ids_col: str = "ids") -> DataFrame:
    """(a_id, b_id): all ordered pairs (a<b) from each row's id array —
    the candidate generator applied after collect_list per bucket.

    Two chained codegen'd explodes + filter, NOT a higher-order
    array-transform expansion: the transform form is interpreted
    (outside whole-stage codegen, ~40% slower at the 100× probe) and
    materializes the whole m(m−1)/2 pair array per bucket row in memory
    before exploding — an OOM bomb as buckets approach the df-cap.
    Explodes stream: peak memory is one row, any bucket size."""
    return (
        buckets.select(F.explode(ids_col).alias("a_id"), F.col(ids_col).alias("_ids"))
        .select("a_id", F.explode("_ids").alias("b_id"))
        .filter(F.col("a_id") < F.col("b_id"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_NUM_HASHES = 8
_BANDS = 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS  # r=2, b=4 → s-curve threshold ≈ 0.5
#: buckets larger than this are degenerate (boilerplate/empty docs) and
#: dropped — the standard guard that keeps LSH pair-generation bounded at
#: scale. Far above any bucket in the fixtures, so oracle parity holds.
_MAX_BUCKET = 10_000

_DD_SHINGLES = r"""
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(l) - 2, 0) + 1),
               i -> array_to_string(l[i:i+2], ' '))) AS shingles
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
            FROM documents)
"""


def _dd_minhash_sig() -> list[str]:
    """DuckDB expressions for the K minhash values (``H.minhash``)."""
    return [
        f"list_min(list_transform(shingles, s -> {H.minhash(j).duck}))"
        for j in range(_NUM_HASHES)
    ]


# ONE sig + bands CTE pair for every MinHash oracle (round-8 review:
# the block was copy-pasted five times with rows-per-band hardcoded as
# mh{2b}/mh{2b+1}). Band keys derive from _ROWS_PER_BAND exactly like
# the Spark-side minhash_bands, so a K/b geometry change moves the
# engine and all the oracles together instead of leaving five stale
# copies on r=2.
_DD_SIG_CTE = (
    "sig AS (\n      SELECT doc_id, "
    + ", ".join(f"{e} AS mh{j}" for j, e in enumerate(_dd_minhash_sig()))
    + "\n      FROM sh WHERE len(shingles) > 0\n    )"
)
_DD_BANDS_CTE = (
    "bands AS (\n      "
    + " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({key}) AS band_key FROM sig".format(
            b=b,
            key=" || '|' || ".join(
                f"mh{_ROWS_PER_BAND * b + i}" for i in range(_ROWS_PER_BAND)
            ),
        )
        for b in range(_BANDS)
    )
    + "\n    )"
)


def minhash_signatures(docs: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, mh0..mh{K-1}): K min-hashes via explode → groupBy. Each
    shingle is hashed K times (inherent to MinHash) but the shingle
    pipeline runs once, and MIN combines map-side — the shuffle carries
    one partial row per (doc, partition). Docs with no shingles (< k
    tokens) drop out, matching the oracle's ``len(shingles) > 0``.

    ``shingles`` lets a caller that also consumes the shingle rows
    elsewhere (e.g. Jaccard verification) pass a materialized (doc_id, s)
    frame so the shingle pipeline runs once for the whole query.

    When building its own shingles, this does NOT use ``shingle_rows``:
    MIN is duplicate-insensitive, so signatures need neither the distinct
    pass nor any per-doc ordering — grams build via the codegen'd index
    explode (explode(sequence(...)) + element_at over the token array,
    no interpreted HOF, no window) and the ONLY wide op in the whole
    signature plan is the final partial-agg'd groupBy, which ships one
    (doc_id, K mins) row per map partition. The window+dropDuplicates
    form shuffles every shingle's text twice; at the 1000× probe (5.4M
    docs) that shuffle exceeded a single node's disk, while this shape's
    shuffle is O(docs), not O(tokens)."""
    if shingles is not None:
        ex = shingles
    else:
        t = X.tokens("text", X.WS)
        base = spread(docs).select(
            "doc_id", t.alias("_ws"), F.size(t).alias("_n")
        ).filter(F.col("_n") >= 3)
        idx = base.select(
            "doc_id",
            "_ws",
            F.explode(F.sequence(F.lit(1), F.col("_n") - 2)).alias("_i"),
        )
        ex = idx.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("_ws", F.col("_i")),
                F.element_at("_ws", F.col("_i") + 1),
                F.element_at("_ws", F.col("_i") + 2),
            ).alias("s"),
        )
    # K/4 md5 digests per shingle; hash j is a slice of digest j // 4,
    # MIN'd as a long and formatted back to the oracle's hex (H.minhash).
    digests = ex.select(
        "doc_id",
        *[
            H.minhash_digest(seed).col.alias(f"d{seed}")
            for seed in range(_NUM_HASHES // 4)
        ],
    )
    agged = digests.groupBy("doc_id").agg(
        *[F.min(H.minhash(j).col).alias(f"_m{j}") for j in range(_NUM_HASHES)]
    )
    return agged.select(
        "doc_id",
        *[
            F.lower(F.lpad(F.hex(F.col(f"_m{j}")), 8, "0")).alias(f"mh{j}")
            for j in range(_NUM_HASHES)
        ],
    )


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): explode the K-hash signature into
    b bands of r hashes, band key = md5 of the concatenated slice."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"mh{_ROWS_PER_BAND * b + i}")
                                    for i in range(_ROWS_PER_BAND)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


@query(
    "dedup_minhash_sig",
    oracle=f"""
    WITH sh AS ({_DD_SHINGLES})
    SELECT doc_id, {", ".join(f"{e} AS mh{j}" for j, e in enumerate(_dd_minhash_sig()))}
    FROM sh WHERE len(shingles) > 0 ORDER BY doc_id
    """,
)
def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (K=8) as columns — the oracle checks every
    signature value bit-for-bit."""
    return minhash_signatures(table(spark, sf_dir, "documents"))


@query(
    "dedup_minhash_lsh",
    # the sized CTE mirrors the engine's (>1, ≤_MAX_BUCKET) degenerate-
    # bucket gate — same replay the simhash/embedding-LSH oracles use —
    # so engine and oracle agree even on a fixture with a cap-sized
    # boilerplate bucket (ADVICE r9)
    oracle=f"""
    WITH sh AS ({_DD_SHINGLES}),
    {_DD_SIG_CTE},
    {_DD_BANDS_CTE},
    sized AS (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a
    JOIN sized s ON s.band_id = a.band_id AND s.band_key = a.band_key
    JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ORDER BY a_id, b_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: band the K=8 signature into b=4
    bands of r=2; docs sharing a band bucket are candidates.

    Plan: signatures (1 shuffle) → explode 4 band keys → groupBy bucket
    + collect sorted member ids (1 shuffle of (bucket, doc_id) pairs) →
    expression-level pair expansion → distinct (1 shuffle). Candidate
    volume scales with true near-dup density, not |docs|² — the property
    that makes this the 100 TB fuzzy-dedup plan of record."""
    sigs = minhash_signatures(table(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(sigs)


def lsh_candidate_pairs(sigs: DataFrame, edges_only: bool = False) -> DataFrame:
    """(a_id, b_id) distinct candidate pairs from a signature frame —
    the band → bucket → expression-level pair expansion shared by every
    LSH consumer (raw candidates, Jaccard verification, clustering).

    ``edges_only=True`` emits a STAR per bucket — every member linked to
    the bucket's minimum id: m−1 edges instead of m(m−1)/2 pairs, and
    intra-bucket diameter 2 (so label propagation still converges in a
    handful of rounds, unlike a chain whose diameter is m−1). A star
    connects exactly the same vertices as the clique, so any
    connected-components consumer gets identical clusters while edge
    volume drops from quadratic to linear in bucket size — on a
    dup-heavy corpus (100-member buckets at the 100× probe) that is
    ~50× fewer edge rows. Pairwise consumers (Jaccard verification)
    need the full expansion and must keep the default."""
    bands = minhash_bands(sigs)
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _MAX_BUCKET))
    )
    if edges_only:
        # hub = ids[0] = the bucket min (ids are array_sort'd). One
        # codegen'd explode + filter replaces the earlier interpreted
        # transform(slice)-of-structs (round-13; the expand_pairs rule:
        # HOF transforms run outside whole-stage codegen and
        # materialize the per-bucket struct array before exploding).
        # ids holds each member once per bucket, so a_id < b_id keeps
        # exactly the non-hub members — the identical star edge set.
        return (
            buckets.select(
                F.col("ids")[0].alias("a_id"), F.explode("ids").alias("b_id")
            )
            .filter(F.col("a_id") < F.col("b_id"))
            .distinct()
        )
    return expand_pairs(buckets).distinct()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: 64 bits / 4 bands of 16: band keys draw from 2^16 values, so bucket
#: sizes stay density-bound as the corpus grows. (The earlier 32-bit /
#: 4×8-bit design had only 256 keys per band — buckets grew LINEARLY
#: with the corpus and the pair expansion went quadratic: >600 s at the
#: 100× probe vs 30 s for MinHash-LSH.) 4 bands of 16 is the classic
#: simhash near-dup layout: any pair within Hamming distance 3 is
#: guaranteed to collide on at least one band (pigeonhole).
_SIMHASH_BITS = 64
_SIMHASH_BANDS = 4


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash. Tokens (with multiplicity) are
    exploded and md5-hashed ONCE (all four bits of each of the first 16
    hex nibbles → 64 bits from a single digest — md5 volume is the
    stage's dominant cost, measured 210 s at the 1000× probe under the
    old two-digest family); the per-bit ±1 sums aggregate with map-side
    partial aggregation. The digest packs into four 32-bit chunks once,
    and each bit's vote is a shift-and-mask of a chunk (``H.simhash_bit``)."""
    toks = spread(docs).select(
        "doc_id", F.explode(X.tokens("text", X.WS)).alias("t")
    ).select("doc_id", F.md5(F.col("t")).alias("h0"))
    packed = toks.select(
        "doc_id", *[F.expr(H.simhash_chunk(c)).alias(f"c{c}") for c in range(4)]
    )
    agged = packed.groupBy("doc_id").agg(
        *[F.sum(H.simhash_bit(j).col).alias(f"s{j}") for j in range(_SIMHASH_BITS)]
    )
    bit_chars = [
        F.when(F.col(f"s{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(_SIMHASH_BITS)
    ]
    return agged.select("doc_id", F.concat(*bit_chars).alias("simhash"))


# Shared CTE prefix: tokenization + the 64-bit signature — the DuckDB
# replay of simhash_signatures, used by the signature oracle and the
# round-8 pairs oracle.
_DD_SIMHASH_SIG_CTES = rf"""
    toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             {" || ".join(
               f"(CASE WHEN list_sum(list_transform(l, t -> {H.simhash_bit(j).duck})) >= 0 THEN '1' ELSE '0' END)"
               for j in range(_SIMHASH_BITS)
             )} AS simhash
      FROM toks WHERE len(l) > 0
    )"""


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_DD_SIMHASH_SIG_CTES}
    SELECT doc_id, simhash FROM sig ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (64-bit, single-digest md5 family — see
    ``H.simhash_bit``): per bit j, sum ±1 over all tokens by bit j%4 of
    hex nibble j//4 of ONE md5(token) digest (the seedless family that
    superseded the per-seed md5(token:seed) nibble-parity cut — one
    digest per token instead of 64). GroupBy excludes token-less docs,
    matching the oracle's ``len(l) > 0``."""
    return simhash_signatures(table(spark, sf_dir, "documents"))


_SIMHASH_PAIRS_ORACLE = f"""
    WITH {_DD_SIMHASH_SIG_CTES},
    bands AS (
      SELECT s.doc_id, b.band,
             substr(s.simhash, b.band * {_SIMHASH_BITS // _SIMHASH_BANDS} + 1,
                    {_SIMHASH_BITS // _SIMHASH_BANDS}) AS bkey
      FROM sig s
      CROSS JOIN (SELECT UNNEST(range({_SIMHASH_BANDS})) AS band) b
    ),
    sized AS (
      SELECT band, bkey FROM bands GROUP BY band, bkey
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, c.doc_id AS b_id
      FROM bands a
      JOIN sized z ON z.band = a.band AND z.bkey = a.bkey
      JOIN bands c ON c.band = a.band AND c.bkey = a.bkey
                  AND a.doc_id < c.doc_id
    ),
    ham AS (
      SELECT p.a_id, p.b_id,
             CAST(list_sum(list_transform(range(1, {_SIMHASH_BITS} + 1),
               i -> CASE WHEN substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1)
                         THEN 1 ELSE 0 END)) AS INT) AS hamming
      FROM cand p
      JOIN sig sa ON sa.doc_id = p.a_id
      JOIN sig sb ON sb.doc_id = p.b_id
    )
    SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 3
    ORDER BY a_id, b_id
    """


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 64 bits into 4 bands of 16; docs
    sharing any band bucket are candidates; keep Hamming distance ≤ 3
    (the radius the 4×16 banding guarantees to recall — 3 differing
    bits can spoil at most 3 of the 4 bands). Same groupBy+collect shape
    as MinHash-LSH — the collected structs carry the signature so the
    Hamming filter needs no join back.

    ORACLE-BACKED: every stage is integer-deterministic on
    top of the already-oracle-verified signature — the oracle replays
    banding as 16-char substrings of the shared ``sig`` CTE, mirrors
    the (>1, ≤``_MAX_BUCKET``) bucket gate, and counts differing bit
    chars for Hamming. No float anywhere past the signature's own
    sign sums."""
    sig = simhash_signatures(table(spark, sf_dir, "documents"))
    band_w = _SIMHASH_BITS // _SIMHASH_BANDS
    # Pack each 16-bit band into an int word: members carry 4 ints
    # instead of a 64-char bit-string (4× less pair-shuffle payload),
    # and Hamming becomes codegen'd bit_count(xor) per word instead of
    # an interpreted 64-element zip_with fold — the difference between
    # the pair stage grinding past 600 s and finishing at the 100× probe.
    words = [
        F.conv(F.substring("simhash", band_w * b + 1, band_w), 2, 10)
        .cast("int")
        .alias(f"w{b}")
        for b in range(_SIMHASH_BANDS)
    ]
    packed = sig.select("doc_id", *words)
    bands = packed.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"w{b}").alias("band_key"))
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
        F.struct(
            "doc_id", *[f"w{b}" for b in range(_SIMHASH_BANDS)]
        ).alias("member"),
    ).select("band.band_id", "band.band_key", "member")
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.array_sort(F.collect_list("member")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _MAX_BUCKET))
    )
    pairs = expand_pairs(buckets)
    hamming = sum(
        F.bit_count(
            F.col(f"a_id.w{b}").bitwiseXOR(F.col(f"b_id.w{b}")).cast("long")
        )
        for b in range(_SIMHASH_BANDS)
    )
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select(
            F.col("a_id.doc_id").alias("a_id"),
            F.col("b_id.doc_id").alias("b_id"),
            "hamming",
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard
# ---------------------------------------------------------------------------

#: shingles shared by more docs than this are dropped from candidate
#: generation (non-discriminative boilerplate); keeps the inverted-index
#: pair volume bounded at scale. Max sharing in fixtures is ~25, so the
#: oracle (no cap) still matches exactly.
_MAX_SHINGLE_DF = 10_000


def _ngram_jaccard_oracle(shingles_cte: str) -> str:
    """The exact-Jaccard inverted-index oracle, parameterized by the
    shingle CTE so the deterministic-sample twin
    (``dedup_threshold_sweep_sampled``) reuses the identical pair
    math over a restricted document set — the gate-mirroring rule
    satisfied structurally rather than by copy."""
    return f"""
    WITH sh AS ({shingles_cte}),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    cnt AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
    FROM pairs
    JOIN cnt ca ON ca.doc_id = a_id
    JOIN cnt cb ON cb.doc_id = b_id
    WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.05
    ORDER BY a_id, b_id
    """


@query("dedup_ngram_jaccard", oracle=_ngram_jaccard_oracle(_DD_SHINGLES))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard via inverted index: group by shingle,
    collect sorted (doc, set-size) lists, expand pairs expression-side,
    count common shingles per pair — Jaccard falls straight out of the
    pair aggregate.

    vs a shingle self-join: one scan of the shingle rows instead of two,
    and the per-shingle doc lists make the df-cap guard (boilerplate
    shingles) a plain size filter. Per-doc set sizes ride the posting
    structs via a doc_id window (no orderBy → one count per doc), so
    there is NO corpus-sized join anywhere in the plan — the shape that
    survives 100 TB (a count join-back is where the static planner
    mis-broadcasts corpus-sized sides; see dedup_lsh_jaccard_verified)."""
    return _ngram_jaccard_pairs(table(spark, sf_dir, "documents"))


def _ngram_jaccard_pairs(docs: DataFrame, exn: DataFrame | None = None) -> DataFrame:
    """The inverted-index exact-Jaccard core of ``dedup_ngram_jaccard``,
    parameterized by the document frame so the deterministic-sample
    twin runs the byte-identical plan over a filtered input.

    ``exn`` lets a caller that also consumes the sized shingle rows
    elsewhere (``lsh_quality_eval``: the LSH candidate side signs the
    same shingles) pass a materialized (doc_id, s, n) frame so the
    tokenize → gram → distinct → count pipeline runs once per query
    (round-13; the minhash_signatures ``shingles`` pattern)."""
    from pyspark.sql import Window

    if exn is None:
        exn = shingle_rows(docs).withColumn(
            "n", F.count("*").over(Window.partitionBy("doc_id"))
        )
    posting = (
        exn.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _MAX_SHINGLE_DF))
    )
    pairs = (
        expand_pairs(posting)
        .groupBy(
            F.col("a_id.doc_id").alias("a_id"),
            F.col("a_id.n").alias("na"),
            F.col("b_id.doc_id").alias("b_id"),
            F.col("b_id.n").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.filter(jac >= 0.05)
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id
    FROM (SELECT * FROM embeddings WHERE {_VEC_OK}) a
    JOIN (SELECT * FROM embeddings WHERE {_VEC_OK}) b
      ON a.vec_id < b.vec_id
    WHERE {V.dd_cosine('a.embedding', 'b.embedding')} >= 0.4
    ORDER BY a_id, b_id
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: all pairs with cosine ≥ 0.4.

    This is the one operator where per-row column expressions genuinely
    can't express the efficient semantics (an all-pairs similarity is a
    matrix product, and Spark's higher-order-function fold evaluates
    interpreted per element — 52 s at sf0.1): block-nested-loop join
    with a vectorized kernel. Vectors group into fixed-size id-range
    blocks (collect_list per block ≈ 128 kB Arrow payload); block pairs
    cross-join (n²/B² rows, distributed); ``mapInPandas`` runs one numpy
    matmul per block pair and emits only qualifying id pairs. 52 s →
    ~1.5 s at sf0.1, and at 100 TB the block pairs spread evenly across
    executors with compare volume n²·d FLOPs in BLAS instead of
    interpreted lambdas.

    Oracle parity: output has no float column, and the 0.4 threshold
    sits ≥1e-5 from every fixture pair — 9 orders of magnitude above
    summation-reorder noise (~1e-14), so numpy's pairwise summation
    selects exactly the oracle's pair set."""
    import numpy as np
    import pandas as pd

    block = 512
    threshold = 0.4
    emb = vec_table(spark, sf_dir).select(
        "vec_id", "embedding", (F.col("vec_id") / block).cast("long").alias("blk")
    )
    blocks = emb.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "embedding")).alias("vecs")
    )
    x, y = blocks.alias("x"), blocks.alias("y")
    pairs = (
        x.join(y, F.col("x.blk") <= F.col("y.blk"))
        .select(
            F.col("x.blk").alias("xblk"),
            F.col("x.vecs").alias("xvecs"),
            F.col("y.blk").alias("yblk"),
            F.col("y.vecs").alias("yvecs"),
        )
    )

    eps = V._EPS  # bind as a local: a V.* reference inside the shipped
    # closure pickles the whole package by reference and breaks any
    # worker without the repo on PYTHONPATH (vectors.py score_pairs note
    # — caught live by the vanilla-session driver mimic, round 8)

    def _unpack(cell) -> tuple[np.ndarray, np.ndarray]:
        ids = np.array([v["vec_id"] for v in cell], dtype=np.int64)
        mat = np.stack([np.asarray(v["embedding"], dtype=np.float64) for v in cell])
        # eps floor (round-8 review): a zero-norm vector must score
        # ~0 deterministically, not emit NaN rows through a 0/0 divide
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), eps)
        return ids, mat

    def kernel(batches):
        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            for _, row in pdf.iterrows():
                aids, amat = _unpack(row["xvecs"])
                bids, bmat = _unpack(row["yvecs"])
                sim = amat @ bmat.T
                ai, bi = np.nonzero(sim >= threshold)
                av, bv = aids[ai], bids[bi]
                keep = av < bv
                out_a.extend(av[keep].tolist())
                out_b.extend(bv[keep].tolist())
            yield pd.DataFrame({"a_id": out_a, "b_id": out_b})

    return (
        pairs.mapInPandas(kernel, schema="a_id long, b_id long")
    )


# The bucketed-embedding-dedup geometry, bound ONCE: the tagger
# defaults, the oracle plane constants, and the band/bit arithmetic in
# _BAND_KEYS_CTES all derive from these three numbers, so a parameter
# change cannot leave a same-oracle foothold green while the production
# kernel moves (the ADVICE-r7 IVF lesson, applied to the planes too).
_BAND_DIM, _N_BANDS, _BAND_PLANES = 64, 4, 8


def embedding_band_tagged(
    emb: DataFrame,
    dim: int = _BAND_DIM,
    n_bands: int = _N_BANDS,
    n_planes: int = _BAND_PLANES,
) -> DataFrame:
    """The LSH band-tagging stage of the bucketed embedding dedup —
    every (vec_id, embedding) row leaves the scan as ``n_bands`` rows
    keyed (band, key), key = the band's ``n_planes`` sign bits packed
    little-endian into an int64. ONE narrow Arrow-batched pass, no
    shuffle. Factored out of ``embedding_cosine_bucketed_pairs`` so
    the oracle-backed foothold ``dedup_embedding_band_keys`` (round 8)
    runs the PRODUCTION kernel — one formula, the ADVICE-r7 IVF
    lesson applied preemptively."""
    import numpy as np
    import pandas as pd

    planes = V.np_planes(dim=dim, n_planes=n_bands * n_planes)

    def tag(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            bits = (x @ planes.T) >= 0.0  # (n, B*P)
            for band in range(n_bands):
                seg = bits[:, band * n_planes:(band + 1) * n_planes]
                keys = seg @ (1 << np.arange(n_planes, dtype=np.int64))
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                     "embedding": pdf["embedding"].values,  # .values: avoid index-misalignment with the fresh arrays
                     "band": np.int32(band),
                     "key": keys}
                )

    return emb.mapInPandas(
        tag, schema="vec_id long, embedding array<double>, band int, key long"
    )


def embedding_cosine_bucketed_pairs(
    emb: DataFrame,
    dim: int = _BAND_DIM,
    n_bands: int = _N_BANDS,
    n_planes: int = _BAND_PLANES,
    threshold: float = 0.4,
) -> DataFrame:
    """LSH-banded embedding near-dup pairs over a (vec_id, embedding)
    frame — the composable core behind ``dedup_embedding_cosine_bucketed``
    (factored out so tests can feed synthetic planted-duplicate frames
    and scale probes can feed replicated corpora)."""
    import numpy as np
    import pandas as pd

    tagged = embedding_band_tagged(
        emb, dim=dim, n_bands=n_bands, n_planes=n_planes
    )
    buckets = (
        tagged.groupBy("band", "key")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vecs"))
        .filter((F.size("vecs") > 1) & (F.size("vecs") <= _MAX_BUCKET))
    )

    def kernel(batches):
        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            for cell in pdf["vecs"]:
                ids = np.array([v["vec_id"] for v in cell], dtype=np.int64)
                mat = np.stack([np.asarray(v["embedding"], dtype=np.float64) for v in cell])
                mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                sim = mat @ mat.T
                ai, bi = np.nonzero(sim >= threshold)
                av, bv = ids[ai], ids[bi]
                keep = av < bv
                out_a.extend(av[keep].tolist())
                out_b.extend(bv[keep].tolist())
            yield pd.DataFrame({"a_id": out_a, "b_id": out_b})

    return (
        buckets.mapInPandas(kernel, schema="a_id long, b_id long")
        .distinct()  # a pair can surface in several bands
    )


# Shared CTE prefix: per-(vector, plane) sign bits folded into the
# per-band int64 keys — the DuckDB replay of embedding_band_tagged,
# used by both the full bucketed-pairs oracle here and the standalone
# band-keys foothold below. The plane constants are substituted ONCE
# (module import) from the same _BAND_* geometry the tagger defaults
# to, so the two oracles cannot drift from the kernel or each other.
_BAND_KEYS_CTES = f"""
    planes AS (__PLANES__),
    b AS (
      SELECT e.vec_id, pl.p // {_BAND_PLANES} AS band,
             pl.p % {_BAND_PLANES} AS i,
             CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
                    j -> CAST(e.embedding[j] AS DOUBLE) * pl.pl[j])) >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM (SELECT vec_id, embedding FROM embeddings
            WHERE {_VEC_OK}) e
      CROSS JOIN planes pl
    ),
    keys AS (
      SELECT vec_id, band, CAST(SUM(bit * (1::BIGINT << i)) AS BIGINT) AS key
      FROM b GROUP BY vec_id, band
    )"""

_BAND_PLANES_SQL = V.dd_planes_cte(dim=_BAND_DIM, n_planes=_N_BANDS * _BAND_PLANES)

_BUCKETED_PAIRS_ORACLE = f"""
    WITH {_BAND_KEYS_CTES},
    sized AS (
      SELECT band, key FROM keys GROUP BY band, key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT ka.vec_id AS a_id, kb.vec_id AS b_id
      FROM keys ka
      JOIN sized s ON s.band = ka.band AND s.key = ka.key
      JOIN keys kb ON kb.band = ka.band AND kb.key = ka.key
                  AND ka.vec_id < kb.vec_id
    )
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.a_id
    JOIN embeddings eb ON eb.vec_id = c.b_id
    WHERE {V.dd_cosine('ea.embedding', 'eb.embedding')} >= 0.4
    ORDER BY a_id, b_id
    """


@query(
    "dedup_embedding_cosine_bucketed",
    oracle=_BUCKETED_PAIRS_ORACLE.replace("__PLANES__", _BAND_PLANES_SQL),
)
def dedup_embedding_cosine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB embedding near-dup plan of record: LSH pre-bucketing
    composed with the exact matmul kernel — the composition SCALING.md
    promised and round-1's VERDICT asked to make real code.

    ``dedup_embedding_cosine`` is the exact baseline but inherently
    all-pairs (n²/B² block pairs — 10⁴× the work at 100× the data).
    Here the corpus is tagged with B=4 independent random-hyperplane
    band keys (P=8 sign bits each) in ONE narrow Arrow-batched pass —
    each row leaves the scan with 4 (band, key) rows — then vectors
    only meet inside a (band, key) bucket: groupBy + collect_list
    (bucket keys draw from 2^8 values per band, capped at
    ``_MAX_BUCKET`` like every LSH family here), one numpy matmul per
    bucket, distinct over the per-band hits. Compare volume scales with
    Σ bucket², i.e. with near-dup density, not |corpus|².

    Recall is the standard banding OR-construction
    (1 − (1 − p^P)^B with p = 1 − θ/π): ≳0.9 for near-identical pairs
    (cos ≥ 0.95), falling off toward the 0.4 decision boundary.  The
    fixture's exact pairs ALL sit at cos 0.40-0.48 (weakly-similar,
    banding's worst case), so fixture recall is intentionally low;
    tests pin (a) result ⊆ exact-pair set on the fixture and (b)
    recall ≥ 0.9 on synthetic planted near-identical pairs — the regime
    a production near-dup threshold (≥0.9) actually operates in.

    ORACLE-BACKED: the ``dedup_embedding_band_keys``
    foothold proved the banding REPLAYS exactly in DuckDB, so the full
    pipeline is now checked end-to-end — band-key CTEs, the
    (>1, ≤``_MAX_BUCKET``) bucket-size gate, same-bucket a<b candidates,
    and the exact twin's ≥0.4 threshold clause (whose fixture margin,
    ≥1e-5 from every pair, is documented at ``dedup_embedding_cosine``;
    sign-bit knife edge as in ``ann_lsh_bands``)."""
    return embedding_cosine_bucketed_pairs(
        vec_table(spark, sf_dir).select("vec_id", "embedding")
    )


_BAND_KEYS_ORACLE = f"""
    WITH {_BAND_KEYS_CTES}
    SELECT vec_id, band, key FROM keys ORDER BY vec_id, band
    """


@query(
    "dedup_embedding_band_keys",
    oracle=_BAND_KEYS_ORACLE.replace("__PLANES__", _BAND_PLANES_SQL),
)
def dedup_embedding_band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed foothold for ``dedup_embedding_cosine_bucketed``
    (VERDICT r7 "Next round" #5, the ``ann_lsh_bands`` precedent): the
    (band, key) bucket assignment of the 100-TB embedding-dedup mode is
    a DETERMINISTIC function of the embedding — 32 md5-derived
    hyperplane sign bits packed 8-per-band into int64 keys — so the
    candidate-generation half of the rows-only parent is exactly
    checkable. This query runs the PRODUCTION ``embedding_band_tagged``
    kernel (the very mapInPandas stage ``embedding_cosine_bucketed_
    pairs`` consumes) and checks every vector's 4 band keys against a
    DuckDB replay with bit-identical plane constants
    (``V.dd_planes_cte``). Only the within-bucket matmul + threshold of
    the parent remains engine-specific — and that half IS the exact
    ``dedup_embedding_cosine`` kernel, oracle-proven separately.

    Summation-order caveat (the ``ann_lsh_bands`` precedent): numpy
    sums pairwise, list_sum left-to-right — a sign bit can only
    diverge for |dot| ≲ 1e-13, a knife-edge no fixture vector sits on.

    Scale shape is the parent's tag stage verbatim: corpus streams
    through ONE narrow mapInPandas (a (batch × 32) BLAS matmul each),
    no shuffle — the orderBy is presentation-only."""
    return (
        embedding_band_tagged(
            vec_table(spark, sf_dir).select("vec_id", "embedding")
        )
        .select("vec_id", "band", "key")
    )


# ---------------------------------------------------------------------------
# Cluster formation (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Min-label propagation to a fixpoint: every vertex ends labeled
    with the smallest doc_id in its connected component.

    The iterative-algorithm pattern on Spark: a driver loop where every
    step is a distributed join+aggregate, converging in O(diameter)
    rounds (near-dup clusters are shallow — a handful of rounds).

    Physical shape, chosen for 100 TB:

    * The edge list is localCheckpoint'd ONCE up front — edges usually
      arrive as the tail of an expensive pipeline (LSH candidate
      generation), and without materialization every round would
      re-execute that whole pipeline.
    * Propagation runs ONLY over vertices that appear in an edge. At
      production dedup density the edge-touched set is a small fraction
      of the corpus, so every round's join + agg is sized by near-dup
      density, not |vertices|; the untouched majority (singleton
      clusters) joins back in one final broadcast-able left join.
    * The convergence signal (count of labels that dropped) rides the
      same join that computes the new labels — one join + partial-agg
      min + one count over cached rows per round, nothing else.
    ``vertices``: (doc_id,); ``edges``: (a_id, b_id) undirected.
    """
    sym = (
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .localCheckpoint(eager=True)
    )
    # sym is symmetric, so dst alone enumerates every edge-touched vertex.
    # Per-round labels are localCheckpoint'd rather than cache()d: the
    # checkpoint truncates lineage, so every round analyzes/plans the
    # same constant-size tree instead of one that grows per iteration
    # (driver-side planning is the loop's real cost once data rounds are
    # density-sized). ContextCleaner reclaims each round's blocks when
    # the DataFrame is garbage collected.
    labels = (
        sym.select(F.col("dst").alias("doc_id"))
        .distinct()
        .withColumn("cluster", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("cluster").alias("nmin"))
        )
        # Inner join: every edge-touched vertex occurs as a dst, so it
        # always has a neighbor_min row. _changed flags labels strictly
        # lowered this round — computed in the label-update join itself
        # (no second old-vs-new join).
        joined = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.dst)
            .select(
                "doc_id",
                F.least(F.col("cluster"), F.col("nmin")).alias("cluster"),
                (F.col("nmin") < F.col("cluster")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = joined.filter("_changed").count()
        labels = joined.drop("_changed")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component propagation distance exceeds max_iter) — raise max_iter; "
            "returning partial labels would silently fracture clusters"
        )
    edge_labels = labels
    # Singleton vertices (no edges) label themselves; edge_labels is
    # near-dup-density-sized, so Catalyst broadcasts it.
    return vertices.select("doc_id").join(edge_labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster")
    )


@query(
    "dedup_clusters",
    # sized CTE: the engine's
    # lsh_candidate_pairs applies the (>1, ≤_MAX_BUCKET) degenerate-
    # bucket gate, but this oracle's pairs CTE was ungated — latent
    # divergence on any corpus with a >10k-member band bucket (no
    # current fixture has one, which is why ten rounds of sweeps never
    # tripped it). Same mirror the minhash_lsh / cross_snapshot_fuzzy
    # oracles have carried since ADVICE r9.
    oracle=f"""
    WITH RECURSIVE sh AS ({_DD_SHINGLES}),
    {_DD_SIG_CTE},
    {_DD_BANDS_CTE},
    sized AS (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a
      JOIN sized s ON s.band_id = a.band_id AND s.band_key = a.band_key
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
    )
    SELECT src AS doc_id, MIN(dst) AS cluster FROM reach
    GROUP BY src ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy-dedup clustering: MinHash-LSH candidate pairs →
    connected components → per-doc cluster id (the component's min
    doc_id — the canonical survivor a dedup pass would keep).

    The oracle computes the same components via a recursive CTE; Spark
    uses iterative min-label propagation — same fixpoint, scalable
    plan (each round is one join + partial-agg min, AQE-optimized).
    Edges are the star variant (every bucket member linked to the
    bucket's minimum id): linear in bucket size, intra-bucket diameter
    2, identical components — see lsh_candidate_pairs."""
    docs = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    edges = lsh_candidate_pairs(sigs, edges_only=True)
    labels = connected_components(docs.select("doc_id"), edges)
    return labels


@query(
    "dedup_minhash_mllib",
    # Oracle-backed: MLlib's
    # hash family still has no DuckDB twin, but the OUTPUT CONTRACT
    # does — approxSimilarityJoin filters its candidates by the EXACT
    # Jaccard distance (keyDistance on the feature sets), so the
    # emitted pair set is {bucket-colliding pairs with exact dist
    # < 0.5}, and on the swept fixtures the seed-42 candidate stage
    # covers every true pair (deterministic, pinned by
    # tests/test_edge_cases.py::test_mllib_lsh_matches_exact_jaccard_
    # truth since round 8). The oracle therefore replays the exact
    # 3-shingle Jaccard truth at dist < 0.5 via the inverted-index
    # CTE; any LSH recall miss, HashingTF collision skew, or distance
    # drift breaks the hash match loudly. Distance arithmetic is
    # integer cm/union division → 1.0−x → round(·,6): identical IEEE
    # ops both sides.
    oracle=f"""
    WITH sh AS ({_DD_SHINGLES}),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    cnt AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    common AS (
      SELECT ea.doc_id AS a_id, eb.doc_id AS b_id, COUNT(*) AS cm
      FROM ex ea
      JOIN ex eb ON eb.s = ea.s AND ea.doc_id < eb.doc_id
      GROUP BY ea.doc_id, eb.doc_id
    )
    SELECT a_id, b_id,
           round(1.0 - cm * 1.0 / (ca.n + cb.n - cm), 6) AS jaccard_dist
    FROM common
    JOIN cnt ca ON ca.doc_id = a_id
    JOIN cnt cb ON cb.doc_id = b_id
    WHERE cm * 1.0 / (ca.n + cb.n - cm) > 0.5
    ORDER BY a_id, b_id
    """,
)
def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH via Spark MLlib (HashingTF → MinHashLSH →
    approxSimilarityJoin) — the off-the-shelf alternative to the
    hand-rolled md5 family above. Fixed seed → deterministic. Jaccard
    distance threshold 0.5 ≈ the banding s-curve midpoint of the
    custom variant.

    Oracle-backed (see the decorator note): the oracle
    is the exact-Jaccard truth at the same strict threshold, which the
    MLlib pipeline's output equals because (a) approxSimilarityJoin
    post-filters candidates by EXACT set distance — soundness by
    semantics — and (b) seed-42 candidate recall is complete on the
    swept fixtures — deterministic, fixture-pinned, and the half that
    would legitimately break if MLlib's hash family changed (at which
    point this reverts to rows-only with the edge-case test as
    anchor). The truth side's shingle-keyed self-join is the same
    diagnostic shape as ``lsh_quality_eval``'s — the production-scale
    variant remains ``dedup_minhash_lsh`` + ``dedup_lsh_jaccard_
    verified`` (banded, bucket-capped).

    Scale shape — MEASURED EXHIBIT, not a production path: at the
    100× probe (5M docs) this OOMs at the default 8 g heap inside
    MLlib's own keyDistance lambda (approxSimilarityJoin shuffles
    FULL sparse feature vectors into the candidate join) and needs
    24 g to finish in 690 s, where the hand-rolled banded form covers
    the same corpus in ~30 s at 8 g shuffling 16 longs per doc
    (SCALING.md round-12 table). That 23×-wall / 3×-heap gap is the
    documented reason the md5 banding exists."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = table(spark, sf_dir, "documents")
    # 3-word shingles (same unit as the custom variant) — token-level
    # sets are too coarse on a small vocabulary (every doc overlaps).
    # Shingles come from the fast window-lead pipeline (see module
    # header), re-assembled per doc for HashingTF's array input.
    toks = (
        shingle_rows(docs)
        .groupBy("doc_id")
        .agg(F.collect_list("s").alias("toks"))
    )
    # 2^30 buckets: the oracle sees HashingTF collisions — at sf0.1,
    # 2^18 skewed two pairs' jaccard_dist by ~1e-4, and even 2^24 left
    # one in-DOC collision (doc 3447: 94 shingles → 93 buckets, union off by one; expected
    # colliding docs ≈ n_docs·C(~90,2)/N, which is ~1 at 2^24 with
    # 5k docs). 2^30 puts that expectation at ~0.002 over the docs
    # that reach an emitted pair; murmur3 is fixed-seed so the result
    # is deterministic, and vectors are sparse so the wider space
    # costs nothing.
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 30)
    feats = tf.transform(toks)
    # MinHashLSH requires at least one non-zero entry; HashingTF of a
    # non-empty token list always has one.
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a_id"),
            F.col("datasetB.doc_id").alias("b_id"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


@query(
    "dedup_lsh_jaccard_verified",
    # sized CTE: the engine candidates come from the capped
    # lsh_candidate_pairs, so the oracle mirrors the (>1, ≤_MAX_BUCKET)
    # degenerate-bucket gate
    oracle=f"""
    WITH sh AS ({_DD_SHINGLES}),
    {_DD_SIG_CTE},
    {_DD_BANDS_CTE},
    sized AS (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a
      JOIN sized sz ON sz.band_id = a.band_id AND sz.band_key = a.band_key
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    cnt AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    common AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS cm
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.a_id
      JOIN ex eb ON eb.doc_id = c.b_id AND eb.s = ea.s
      GROUP BY c.a_id, c.b_id
    )
    SELECT a_id, b_id, round(cm * 1.0 / (ca.n + cb.n - cm), 6) AS jaccard
    FROM common
    JOIN cnt ca ON ca.doc_id = a_id
    JOIN cnt cb ON cb.doc_id = b_id
    WHERE cm * 1.0 / (ca.n + cb.n - cm) >= 0.5
    ORDER BY a_id, b_id
    """,
)
def dedup_lsh_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production fuzzy-dedup shape: MinHash-LSH generates candidate
    pairs (cost ∝ true-dup density), then exact Jaccard verifies ONLY
    those candidates (join candidates back to shingle postings, count
    intersections). Avoids the all-pairs inverted-index join's quadratic
    blow-up on large duplicate clusters — measured at 10× fixtures:
    all-pairs Jaccard 31.7 s vs LSH candidates ~4.6 s, because pair
    volume follows candidates, not posting-list squares. Verified pairs
    at Jaccard ≥ 0.5 (the banding s-curve midpoint).

    The shingle rows feed FOUR consumers here (minhash signatures, both
    sides of the verification join, per-doc counts), so they are
    localCheckpoint'd once — without that the tokenize → lead → distinct
    pipeline would re-execute per consumer (exchange reuse doesn't fire
    across these differently-shaped subtrees)."""
    return lsh_jaccard_verified_over(table(spark, sf_dir, "documents"))


def lsh_jaccard_verified_over(docs: DataFrame) -> DataFrame:
    """The LSH-candidates → exact-Jaccard-verify pipeline over an
    arbitrary documents frame (doc_id, text) — shared by the full-corpus
    query above and the exact-collapse-first composition below."""
    from pyspark.sql import Window

    # Shingle rows carry the per-doc set size via a doc_id window (no
    # orderBy → one count per doc, reusing the shingle pipeline's own
    # doc_id partitioning) so Jaccard needs no count join-back later.
    ex = (
        shingle_rows(docs)
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
        .localCheckpoint(eager=True)
    )
    cand = lsh_candidate_pairs(
        minhash_signatures(docs, shingles=ex.select("doc_id", "s"))
    ).select("a_id", "b_id")
    # The shingle postings are CORPUS-sized, and the checkpointed
    # frame's statistics mislead the static planner into broadcasting
    # them (observed OOM at the 100× scale probe). merge hints pin the
    # corpus-sized join sides to sort-merge — spillable and
    # estimate-independent, the only strategy that survives 100 TB.
    ea = ex.alias("ea").hint("merge")
    eb = ex.alias("eb").hint("merge")
    common = (
        cand.join(ea, F.col("ea.doc_id") == F.col("a_id"))
        .join(eb, (F.col("eb.doc_id") == F.col("b_id")) & (F.col("eb.s") == F.col("ea.s")))
        .groupBy("a_id", "b_id")
        .agg(
            F.count("*").alias("cm"),
            F.first("ea.n").alias("na"),
            F.first("eb.n").alias("nb"),
        )
    )
    jac = F.col("cm") * 1.0 / (F.col("na") + F.col("nb") - F.col("cm"))
    return (
        common.filter(jac >= 0.5)
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
    )


@query(
    "dedup_cross_snapshot",
    oracle=r"""
    WITH fp AS (
      -- coalesce: DuckDB's array_to_string([]) is NULL while Spark's
      -- array_join([]) is '' — two token-less docs ARE leading-content
      -- duplicates of each other (round-9 hostile sweep); NULL text
      -- stays NULL-fp (matches nothing) in both engines
      SELECT doc_id,
             CASE WHEN text IS NULL THEN NULL
                  ELSE md5(coalesce(array_to_string(
                    (list_filter(string_split_regex(text, '\s+'), t -> t <> ''))[1:8],
                    ' '), '')) END AS fp
      FROM documents
    )
    SELECT n.doc_id, MIN(o.doc_id) AS dup_of
    FROM fp n JOIN fp o ON n.fp = o.fp AND o.doc_id % 2 = 0
    WHERE n.doc_id % 2 = 1
    GROUP BY n.doc_id ORDER BY n.doc_id
    """,
)
def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot (incremental batch) dedup: documents in the NEW
    snapshot (odd ids here) whose leading content already appeared in
    the PREVIOUS corpus (even ids), reporting the earliest prior
    occurrence. The key is a leading-content fingerprint — md5 of the
    first 8 tokens — which also catches re-crawls that differ only in
    tail boilerplate; swap in the full normalized-text fingerprint
    (``H.fingerprint``, as dedup_exact uses) for strict equality. This
    is how a recurring crawl dedupes against history without
    re-clustering the whole archive — only fingerprints of the old
    corpus participate, never its text.

    Scale shape: both sides reduce to (doc_id, fp) before the join — 16
    bytes of key per historical document, not documents — and the join
    keys on the fingerprint, so it sort-merges and spills; in production
    the old side is a bucketed fingerprint index table written by the
    previous run, which removes even that shuffle (bucket-local join).
    The per-new-doc MIN aggregates map-side."""
    docs = table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.array_join(F.slice(X.tokens("text", X.WS), 1, 8), " ")).alias("fp"),
    )
    old = fp.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("old_id"), "fp"
    )
    new = fp.filter(F.col("doc_id") % 2 == 1)
    return (
        # both sides scale with the corpus (history especially) — pin to
        # sort-merge per the lsh_jaccard_verified rule rather than letting
        # selectivity guesses pick a broadcast that 100 TB invalidates
        new.join(old.hint("merge"), "fp")
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("dup_of"))
    )


@query(
    "dedup_cross_snapshot_fuzzy",
    # the MinHash band chain (shared CTEs) + the capped bucket gate,
    # restricted to NEW (odd) ⋈ OLD (even) band collisions
    oracle=f"""
    WITH sh AS ({_DD_SHINGLES}),
    {_DD_SIG_CTE},
    {_DD_BANDS_CTE},
    sized AS (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    )
    SELECT n.doc_id, MIN(o.doc_id) AS dup_of
    FROM bands n
    JOIN sized s ON s.band_id = n.band_id AND s.band_key = n.band_key
    JOIN bands o ON o.band_id = n.band_id AND o.band_key = n.band_key
               AND o.doc_id % 2 = 0
    WHERE n.doc_id % 2 = 1
    GROUP BY n.doc_id ORDER BY n.doc_id
    """,
)
def dedup_cross_snapshot_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot FUZZY dedup (VERDICT r9 #6): documents in the NEW
    snapshot (odd ids) that are MinHash-LSH near-duplicates of the
    PREVIOUS corpus (even ids), reporting the earliest prior near-match
    — the incremental-crawl twin of ``dedup_minhash_lsh`` the way
    ``dedup_cross_snapshot`` is the twin of ``dedup_exact``. A
    recurring crawl runs THIS (band-key collision against the previous
    run's persisted band index) rather than re-clustering the archive:
    only (doc_id, band_id, band_key) rows of the old corpus
    participate, never its text.

    Scale shape: the original
    count-gate semi-join + new⋈old sort-merge join computed the
    signature chain TWICE and sorted two corpus-sized band frames,
    which is where the 1000× probe's 5.5×-per-10× spill superlinearity
    came from (SCALING.md "1000× round 10"). The plan is now the
    ``lsh_candidate_pairs`` bucket shape: ONE groupBy over the band
    frame collects each bucket's member ids (the signature chain runs
    once; buffers hold ids only — 8 bytes per member even for a
    boilerplate whale bucket, the accepted id-collection posture),
    the (>1, ≤{_MAX_BUCKET}) degenerate-bucket gate applies to the
    COMBINED size exactly as before, and the new-vs-old split happens
    INSIDE each bucket with codegen'd array ops (min even id; explode
    odd ids) — no membership join at all. Per-new-doc MIN partial-
    aggregates map-side; in production the bucket table is the
    previous run's persisted band index, so the incremental run only
    appends the new snapshot's bands before this same groupBy."""
    bands = minhash_bands(
        minhash_signatures(table(spark, sf_dir, "documents"))
    )
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _MAX_BUCKET))
    )
    old_min = F.array_min(F.filter("ids", lambda x: x % 2 == 0))
    news = F.filter("ids", lambda x: x % 2 == 1)
    return (
        buckets.select(old_min.alias("old_id"), news.alias("news"))
        .filter(F.col("old_id").isNotNull() & (F.size("news") > 0))
        .select("old_id", F.explode("news").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("dup_of"))
    )


@query(
    "snapshot_novelty",
    oracle=f"""
    WITH sh AS ({_DD_SHINGLES}),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    old AS (SELECT DISTINCT s FROM ex WHERE doc_id % 2 = 0),
    nw AS (SELECT doc_id, s FROM ex WHERE doc_id % 2 = 1)
    SELECT nw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE old.s IS NULL) AS BIGINT)
             AS novel_shingles,
           round(CAST(COUNT(*) FILTER (WHERE old.s IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM nw LEFT JOIN old ON nw.s = old.s
    GROUP BY nw.doc_id ORDER BY nw.doc_id
    """,
)
def snapshot_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY of the new snapshot against the old
    corpus (VERDICT r10 #7): for each new-snapshot doc (odd ids), the
    fraction of its distinct 3-word shingles never seen in the previous
    corpus (even ids) — the recurring-crawl triage metric that decides
    what a new snapshot is WORTH: a doc at novelty ≈ 0 is boilerplate
    the old corpus already covers (skip it before any dedup pass even
    runs), novelty ≈ 1 is genuinely fresh text worth quality-scoring
    and keeping. The shingle unit and snapshot convention are shared
    with ``dedup_cross_snapshot_fuzzy``; where that query asks "which
    new docs near-duplicate a SPECIFIC old doc", this scores graded
    freshness against the old corpus AS A SET — the two run off the
    same scan in a production snapshot-intake pipeline.

    Scale shape: shingle sets come from the module's lag-compare
    distinct (doc_id-partitioned, no (doc_id, s) reshuffle); the old
    side collapses to DISTINCT shingles — in production the previous
    run's persisted gram index, exactly like the fuzzy query's band
    index — and the membership probe is one sort-merge join keyed on
    the gram (merge-pinned: both sides scale with the corpus, the
    dedup_cross_snapshot rule), partial-agg'd straight into per-doc
    (count, novel) pairs. Nothing corpus-sized crosses the wire twice;
    the ratio is a single double division rounded once on both
    sides."""
    sh = shingle_rows(table(spark, sf_dir, "documents"))
    old = (
        sh.filter(F.col("doc_id") % 2 == 0)
        .select("s")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    new = sh.filter(F.col("doc_id") % 2 == 1)
    novel = F.sum(
        F.when(F.col("_seen").isNull(), 1).otherwise(0)
    ).cast("long")
    return (
        new.join(old.hint("merge"), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            novel.alias("novel_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "novel_shingles",
            F.round(
                F.col("novel_shingles").cast("double") / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
    )


#: paraphrase-level verify threshold for fuzzy eval contamination —
#: deliberately BELOW the dedup pipelines' 0.5 near-dup cutoff: a
#: benchmark item rewritten with scattered word substitutions lands
#: in the 0.35-0.5 Jaccard band (the hostile plant measures 0.545 on
#: shingles with every-10th-word substitution), which the substring
#: protocols structurally cannot see
_FUZZY_CONTAM_THRESHOLD = 0.35


def _fuzzy_contam_oracle(shingles_cte: str) -> str:
    """The fuzzy-contamination oracle over a shingle CTE — the MinHash
    band chain (shared CTEs) + the capped bucket gate, restricted to
    TRAIN ⋈ EVAL (doc_id % 97 = 0, the module-wide eval-suite
    convention) band collisions, then EXACT-Jaccard verified at the
    paraphrase threshold (the dedup_lsh_jaccard_verified verification
    CTE over the contamination candidate set). Parameterized so the
    exact-collapse-first production twin reuses the identical
    protocol over collapsed representatives."""
    return f"""
    WITH sh AS ({shingles_cte}),
    {_DD_SIG_CTE},
    {_DD_BANDS_CTE},
    sized AS (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
      FROM bands t
      JOIN sized sz ON sz.band_id = t.band_id AND sz.band_key = t.band_key
      JOIN bands e ON e.band_id = t.band_id AND e.band_key = t.band_key
                 AND e.doc_id % 97 = 0
      WHERE t.doc_id % 97 <> 0
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    cnt AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    common AS (
      SELECT c.train_id, c.eval_id, COUNT(*) AS cm
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.train_id
      JOIN ex eb ON eb.doc_id = c.eval_id AND eb.s = ea.s
      GROUP BY c.train_id, c.eval_id
    )
    SELECT train_id, eval_id,
           round(cm * 1.0 / (ca.n + cb.n - cm), 6) AS jaccard
    FROM common
    JOIN cnt ca ON ca.doc_id = train_id
    JOIN cnt cb ON cb.doc_id = eval_id
    WHERE cm * 1.0 / (ca.n + cb.n - cm) >= {_FUZZY_CONTAM_THRESHOLD}
    ORDER BY train_id, eval_id
    """


def _fuzzy_contam_pairs(docs: DataFrame) -> DataFrame:
    """The banded-candidates → exact-Jaccard-verified contamination
    pipeline over a (doc_id, text) frame — the engine twin of
    ``_fuzzy_contam_oracle``, shared by the full-corpus query and the
    exact-collapse-first production form."""
    from pyspark.sql import Window

    ex = (
        shingle_rows(docs)
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
        .localCheckpoint(eager=True)
    )
    bands = minhash_bands(
        minhash_signatures(docs, shingles=ex.select("doc_id", "s"))
    )
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _MAX_BUCKET))
    )
    cand = (
        buckets.select(
            F.filter("ids", lambda x: x % 97 == 0).alias("evals"),
            F.filter("ids", lambda x: x % 97 != 0).alias("trains"),
        )
        .filter((F.size("evals") > 0) & (F.size("trains") > 0))
        .select(F.explode("evals").alias("eval_id"), "trains")
        .select("eval_id", F.explode("trains").alias("train_id"))
        .distinct()
    )
    # merge-pinned corpus-sized posting joins (the lsh_jaccard_verified
    # rule: checkpointed stats mislead the static planner into
    # broadcasting corpus-sized sides)
    ea = ex.alias("ea").hint("merge")
    eb = ex.alias("eb").hint("merge")
    common = (
        cand.join(ea, F.col("ea.doc_id") == F.col("train_id"))
        .join(
            eb,
            (F.col("eb.doc_id") == F.col("eval_id"))
            & (F.col("eb.s") == F.col("ea.s")),
        )
        .groupBy("train_id", "eval_id")
        .agg(
            F.count("*").alias("cm"),
            F.first("ea.n").alias("na"),
            F.first("eb.n").alias("nb"),
        )
    )
    jac = F.col("cm") * 1.0 / (F.col("na") + F.col("nb") - F.col("cm"))
    return (
        common.filter(jac >= _FUZZY_CONTAM_THRESHOLD)
        .select("train_id", "eval_id", F.round(jac, 6).alias("jaccard"))
    )


@query("decontaminate_fuzzy", oracle=_fuzzy_contam_oracle(_DD_SHINGLES))
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP eval contamination (VERDICT r12 "Next round" #4c): the
    protocol that catches PARAPHRASED benchmark leakage the substring
    protocols structurally miss. ``decontaminate_substring`` /
    ``_normalized`` probe for a verbatim (or typography-folded)
    40-char run of the eval item's head; a training page that carries
    the item with scattered word substitutions — the common form of
    laundered benchmark text — has no such run. Doc-level MinHash
    banding against the eval side of the SAME suite convention
    (doc_id % 97 = 0, shared with all the decontamination queries)
    surfaces exactly those: train docs whose shingle sets collide
    with an eval item's bands, EXACT-Jaccard verified at the 0.35
    paraphrase threshold so every reported (train_id, eval_id) pair
    carries quantified similarity evidence — the quarantine record a
    curator acts on, vs the binary hit of the exact protocols. The
    hostile fixture plants the 9894/99016 pair (every-10th-word
    substitution, jaccard 0.545): both substring protocols provably
    miss it, this one reports it.

    Scale shape: composes the production fuzzy-dedup machinery
    verbatim — ONE signature chain over the corpus (the eval suite is
    part of the same table under the suite convention; in production
    it is a separate fixed-size frame whose bands append to the
    corpus band index), one bucket groupBy with the (>1, ≤cap)
    degenerate gate, candidate expansion INSIDE buckets via codegen
    array ops restricted to train×eval (never train×train — the pair
    volume a full dedup would pay), then the merge-pinned
    posting-join verification priced by candidate count, which rides
    eval-suite size, not corpus². At sf0.01 no near-dup family
    straddles the % 97 boundary, so the driver row is legitimately
    empty there (same recorded disposition as decontaminate_substring
    since ADVICE r10); sf0.001 (2 pairs), sf0.1 (2 pairs), and the
    hostile plant keep the hit path non-vacuous. 44.1 s at the 100×
    probe (8 g); at the 1000× dup-heavy probe the VERBATIM-replica
    inflation wall applies (measured: OOM at 8/24/48 g — ~1000-member
    replica families band-collide whole, exactly the
    dedup_lsh_jaccard_verified single-node 1000× disposition this
    composes) — the production ordering is
    ``decontaminate_fuzzy_unique`` below."""
    return _fuzzy_contam_pairs(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )


@query(
    "decontaminate_fuzzy_unique",
    # the per-role content collapse feeding the SAME protocol: group
    # byte-identical texts WITHIN each suite role (min doc_id of an
    # eval group is itself ≡ 0 mod 97, of a train group ≢ 0 — the
    # role survives the collapse by construction)
    oracle=_fuzzy_contam_oracle(
        _DD_SHINGLES.replace(
            "FROM documents)",
            "FROM (SELECT MIN(doc_id) AS doc_id, text FROM documents"
            " WHERE text IS NOT NULL"
            " GROUP BY text, doc_id % 97 = 0))",
        )
    ),
)
def decontaminate_fuzzy_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION ORDERING of fuzzy eval contamination:
    content-addressed collapse WITHIN each suite role first
    (byte-identical texts keep their minimum doc_id per
    eval/train side — a min over ids ≡ 0 mod 97 stays ≡ 0, so the
    role survives the collapse structurally), then the banded
    MinHash × exact-Jaccard protocol over UNIQUE texts only. Same
    bounding argument as ``multimodal_dhash_unique``: verbatim
    re-crawls are the dominant duplicate class, their signatures are
    identical, and at the 1000× dup-heavy probe the full-corpus form
    OOMs even at 48 g (whole ~1000-member replica families
    band-collide, and candidate expansion goes quadratic in family
    size) while the unique-text count is CONSTANT in the replication
    factor. Contamination semantics lose nothing: replicas of a
    burned text are all burned — joining back through the exact-dup
    groups (``dedup_exact``'s output) reconstructs the full
    quarantine list without paying the quadratic census.

    Composes ``_fuzzy_contam_pairs`` / ``_fuzzy_contam_oracle``
    verbatim (the shared-implementation rule), so the production form
    cannot drift from the full-corpus protocol."""
    docs = table(spark, sf_dir, "documents")
    reps = (
        docs.filter(F.col("text").isNotNull())
        .groupBy("text", (F.col("doc_id") % 97 == 0).alias("_is_eval"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )
    return _fuzzy_contam_pairs(reps)


@query(
    "split_cluster_safe",
    # the dedup_clusters recursive-CTE components + the train_split_hash
    # CASE, keyed on the CLUSTER id instead of the doc id
    oracle=f"""
    WITH RECURSIVE sh AS ({_DD_SHINGLES}),
    {_DD_SIG_CTE},
    {_DD_BANDS_CTE},
    sized AS (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a
      JOIN sized s ON s.band_id = a.band_id AND s.band_key = a.band_key
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
    ),
    lab AS (
      SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
    ),
    sp AS (
      SELECT doc_id, cluster,
             {H.split_12_2_2(H.md5_id("cluster")).duck} AS split,
             {H.split_12_2_2(H.md5_id("doc_id")).duck} AS naive
      FROM lab
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN naive <> split THEN 1 ELSE 0 END) AS BIGINT)
             AS rescued_docs
    FROM sp GROUP BY split ORDER BY split
    """,
)
def split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/eval split (VERDICT r10 #7): assign every
    document the split of its DEDUP CLUSTER — first hex digit of
    md5(cluster id), the ``train_split_hash`` 12/2/2 rule keyed on the
    cluster's canonical min doc_id — so near-duplicates can never
    straddle train and test. Hashing raw doc ids leaks: two near-copies
    hash independently, and a test doc whose twin sits in train is a
    memorization hole in the eval. ``rescued_docs`` quantifies exactly
    that leak: docs whose naive doc-hash split differs from their
    cluster split — each one a doc the naive rule would have placed in
    a DIFFERENT split from some near-duplicate clustermate.

    Composition: ``dedup_clusters``' LSH star-edges → min-label
    propagation (checkpointed constant-size rounds) produces the
    labels; the split CASE is the same codegen'd expression
    ``train_split_hash`` uses, applied to the cluster id; the final
    aggregate is 3 groups. The oracle replays components with the same
    recursive CTE dedup_clusters pins, then the same CASE — cluster
    ids equal component-min doc_ids in both engines, so md5 of their
    string forms agree exactly.

    Scale shape: everything corpus-sized is the dedup_clusters
    machinery (bucket-bounded edges, frontier-limited propagation);
    the split assignment adds one narrow projection and a 3-key
    partial agg. Split stability inherits from the hash: a cluster
    keeps its split as long as its canonical member survives — and
    the docstring contract for re-crawls is the same as
    train_split_hash's (content-independent, growth-stable)."""
    docs = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    edges = lsh_candidate_pairs(sigs, edges_only=True)
    labels = connected_components(docs.select("doc_id"), edges)

    sp = labels.select(
        H.split_12_2_2(H.md5_id("cluster")).col.alias("split"),
        H.split_12_2_2(H.md5_id("doc_id")).col.alias("naive"),
        "cluster",
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("cluster").cast("long").alias("n_clusters"),
            F.sum(F.when(F.col("naive") != F.col("split"), 1).otherwise(0))
            .cast("long")
            .alias("rescued_docs"),
        )
        .orderBy("split")
    )


@query(
    "dedup_keep_best",
    oracle="""
    SELECT source, lang, doc_id, n_chars FROM (
      SELECT source, lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    ORDER BY source, lang
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best representative per duplicate key: one surviving doc per
    (source, lang), preferring the longest text (quality proxy), doc_id
    as the deterministic tie-break — the "canonical URL wins" step every
    crawled-corpus pipeline runs after grouping near-identical fetches.

    The oracle states it as the textbook row_number window, but the
    plan is max_by-style: MAX over a (n_chars, -doc_id, payload) struct,
    which partial-aggregates map-side — candidates die inside the scan
    task and only one struct per key crosses the shuffle. A window
    would instead shuffle EVERY row and sort per key; at web-corpus
    key cardinalities (hot hosts with millions of fetches) the agg
    form is skew-immune where the window form stalls on the hottest
    partition. Same struct-ordering trick as sample_per_lang_topk's
    salted phase (plans/text.py)."""
    docs = table(spark, sf_dir, "documents")
    pick = F.max(
        F.struct(
            F.col("n_chars"),
            (-F.col("doc_id")).alias("_neg_id"),
            F.col("doc_id"),
        )
    ).alias("_best")
    return (
        docs.groupBy("source", "lang")
        .agg(pick)
        .select(
            "source",
            "lang",
            F.col("_best.doc_id").alias("doc_id"),
            F.col("_best.n_chars").alias("n_chars"),
        )
        .orderBy("source", "lang")
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_DD_SHINGLES}),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    cnt AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           round(common * 1.0 / LEAST(ca.n, cb.n), 6) AS containment
    FROM pairs
    JOIN cnt ca ON ca.doc_id = a_id
    JOIN cnt cb ON cb.doc_id = b_id
    WHERE common * 1.0 / LEAST(ca.n, cb.n) >= 0.8
    ORDER BY a_id, b_id
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-containment detection: pairs where the smaller shingle set
    is ≥80% inside the other — the quote/excerpt/boilerplate-wrapper
    case Jaccard misses (a short doc embedded in a long one has low
    Jaccard but containment ≈ 1). Same inverted-index shape as
    dedup_ngram_jaccard — posting lists carry per-doc set sizes, pairs
    expand expression-side, NO corpus-sized join — only the denominator
    changes to min(|A|,|B|). Shares its scale ceiling too (pair stream
    ∝ Σ df²; see SCALING.md): a corpus operator only after exact-dedup
    collapse, a verification primitive otherwise."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    exn = shingle_rows(docs).withColumn(
        "n", F.count("*").over(Window.partitionBy("doc_id"))
    )
    posting = (
        exn.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _MAX_SHINGLE_DF))
    )
    pairs = (
        expand_pairs(posting)
        .groupBy(
            F.col("a_id.doc_id").alias("a_id"),
            F.col("a_id.n").alias("na"),
            F.col("b_id.doc_id").alias("b_id"),
            F.col("b_id.n").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    cont = F.col("common") * 1.0 / F.least("na", "nb")
    return (
        pairs.filter(cont >= 0.8)
        .select("a_id", "b_id", F.round(cont, 6).alias("containment"))
    )


_DD_REP_SHINGLES = _DD_SHINGLES.replace(
    "FROM documents", "FROM repdocs"
)

_DD_REPDOCS = f"""
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN (SELECT MIN(doc_id) AS keep_id
            FROM documents
            GROUP BY {H.fingerprint("text").duck}) k
        ON d.doc_id = k.keep_id
"""


@query(
    "dedup_fuzzy_production",
    # sized CTE — same gate mirror as
    # dedup_lsh_jaccard_verified (the engine path is
    # lsh_jaccard_verified_over → capped lsh_candidate_pairs)
    oracle=f"""
    WITH repdocs AS ({_DD_REPDOCS}),
    sh AS ({_DD_REP_SHINGLES}),
    {_DD_SIG_CTE},
    {_DD_BANDS_CTE},
    sized AS (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a
      JOIN sized sz ON sz.band_id = a.band_id AND sz.band_key = a.band_key
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    cnt AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    common AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS cm
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.a_id
      JOIN ex eb ON eb.doc_id = c.b_id AND eb.s = ea.s
      GROUP BY c.a_id, c.b_id
    )
    SELECT a_id, b_id, round(cm * 1.0 / (ca.n + cb.n - cm), 6) AS jaccard
    FROM common
    JOIN cnt ca ON ca.doc_id = a_id
    JOIN cnt cb ON cb.doc_id = b_id
    WHERE cm * 1.0 / (ca.n + cb.n - cm) >= 0.5
    ORDER BY a_id, b_id
    """,
)
def dedup_fuzzy_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1000×-safe production dedup ORDER as one declared query:
    exact-dedup collapse FIRST (one partial-agg'd fingerprint groupBy —
    15.7 s at 5.4M docs), THEN LSH-verified fuzzy dedup over the
    surviving representatives only.

    SCALING.md's 1000× probe showed why the order matters: fuzzy pair
    listing is inherently quadratic in duplicate multiplicity, so on a
    dup-heavy corpus the exact pass deletes the quadratic mass (500-way
    exact families collapse to one rep each) before LSH ever runs —
    pair volume then follows NEAR-dup density only. The representative
    set scales with the corpus, so the semi-join keeping reps is
    merge-hinted per the corpus-side rule."""
    docs = table(spark, sf_dir, "documents")
    keep = (
        docs.select(H.fingerprint("text").col.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    reps = docs.join(keep.hint("merge"), "doc_id", "left_semi")
    return lsh_jaccard_verified_over(reps)


# ---------------------------------------------------------------------------
# Corpus duplication metrics + semantic dedup
# ---------------------------------------------------------------------------


@query(
    "substring_dup_rate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(l[i:i+7], ' ') AS g
      FROM toks, UNNEST(range(1, greatest(len(l) - 7, 0) + 1)) r(i)
    ),
    w AS (SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS c FROM g)
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(DISTINCT doc_id) FROM w WHERE c > 1) AS docs_with_dup,
           (SELECT COUNT(DISTINCT g) FROM w WHERE c > 1) AS dup_grams,
           round(CAST((SELECT COUNT(DISTINCT doc_id) FROM w WHERE c > 1) AS DOUBLE)
                 / (SELECT COUNT(*) FROM documents), 6) AS dup_rate
    """,
)
def substring_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus substring-duplication metric (the diagnostic behind
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2021, §4: how much of the corpus shares a long exact substring
    with another document): the fraction of docs containing at least one
    word 8-gram that also occurs in a DIFFERENT document, plus the count
    of such duplicated grams. One summary row — the number a pipeline
    owner reads before deciding whether ExactSubstr-style dedup is worth
    running.

    Plan shape: positional 8-grams come from the shared
    ``_positional_grams`` builder (codegen'd Generate + element_at —
    the module-header rule; the word_shingles higher-order form
    computes the same grams but runs interpreted, measured 4.3 s vs
    2.6 s here at sf0.1), deduped per (doc_id, g) by a hash distinct —
    NOT shingle_rows' doc_id-window lag-compare, because the next op
    re-keys by g anyway, so there is no doc_id exchange to reuse and
    the hash distinct is one shuffle either way. The gram-keyed count
    window's groups are docs-per-gram (near-dup-cluster sized, never
    corpus sized), and the filtered stream partial-aggregates into two
    distinct counts. The final 1×1 crossJoin attaches the corpus count
    — both sides single rows, no data motion."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    gd = _positional_grams(docs, k=8, out="g").distinct()
    dup = gd.withColumn(
        "c", F.count("*").over(Window.partitionBy("g"))
    ).filter(F.col("c") > 1)
    stats = dup.agg(
        F.countDistinct("doc_id").alias("docs_with_dup"),
        F.countDistinct("g").alias("dup_grams"),
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    return n.crossJoin(stats).select(
        "n_docs",
        "docs_with_dup",
        "dup_grams",
        F.round(
            F.col("docs_with_dup").cast("double") / F.col("n_docs"), 6
        ).alias("dup_rate"),
    )


@query(
    "dedup_semdedup",
    oracle=f"""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
             embedding AS ce
      FROM (SELECT vec_id, embedding FROM embeddings
            WHERE {_VEC_OK} ORDER BY vec_id LIMIT 8) s
    ),
    d AS (
      SELECT e.vec_id, e.embedding, c.cluster,
             {V.dd_sqdist('e.embedding', 'c.ce')} AS d2
      FROM (SELECT * FROM embeddings WHERE {_VEC_OK}) e
      CROSS JOIN cents c
    ),
    a AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT vec_id, embedding, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM d) t
      WHERE rn = 1
    )
    SELECT DISTINCT y.vec_id AS removed_id
    FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    WHERE {V.dd_cosine('x.embedding', 'y.embedding')} >= 0.4
    ORDER BY removed_id
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means the embedding
    space, then deduplicate ONLY within each cluster — pairwise cosine
    against cluster peers, dropping every vector that has a lower-id
    peer at cosine ≥ τ. Clustering bounds the compare volume to
    Σ clusterᵢ² instead of n²; the paper's production recipe sizes k so
    clusters stay ~n/k small (50k clusters for 100M docs).

    Assignment is ``kmeans_assign``'s own init and kernel
    (``V.lowest_id_matrix`` + ``V.nearest_centroid``: the k lowest
    vec_ids, one Lloyd round, left-fold Σ(x−c)² bit-equal to the
    oracle's ``dd_sqdist``, lowest-index tie-break ≡ ORDER BY d2,
    cluster), so that foothold pins this assignment too. The kernel
    passes the embedding through the Arrow batch so the per-cluster
    stage needs NO join back to the corpus. The per-cluster
    pairwise stage is ``groupBy(cluster).applyInPandas`` — one shuffle
    on cluster, then a normalized-matmul BLAS kernel per cluster (same
    float-margin argument as dedup_embedding_cosine: the 0.4 threshold
    sits ≥1e-5 from every fixture pair, 9 orders above summation-reorder
    noise). Each vector lives in exactly one cluster, so removed ids
    are distinct by construction."""
    import numpy as np
    import pandas as pd

    k, threshold = 8, 0.4
    emb = vec_table(spark, sf_dir).select("vec_id", "embedding")
    cmat = V.lowest_id_matrix(emb, k)
    # empty-after-null-filter guard (all-null sweep, round 4)
    if cmat is None:
        return spark.createDataFrame([], "removed_id long")
    assigned = V.nearest_centroid(emb, cmat, ["vec_id", "embedding", "cluster"])

    eps = V._EPS  # local bind — closures ship by value (see _unpack)

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        mat = np.stack(
            [np.asarray(e, dtype=np.float64) for e in pdf["embedding"].iloc[order]]
        )
        mat /= np.maximum(  # eps floor — see _unpack
            np.linalg.norm(mat, axis=1, keepdims=True), eps
        )
        # blocked upper-triangle matmul: a skewed cluster of c vectors
        # must not allocate the full c×c sim matrix (25k vectors would
        # be 5 GB); B-row strips bound kernel memory at B·c doubles
        # while keeping the compare in BLAS.
        B = 512
        n = len(ids)
        hit = np.zeros(n, dtype=bool)
        for s in range(0, n, B):
            e = min(s + B, n)
            if s + 1 >= n:
                break
            sim = mat[s:e] @ mat[s + 1 :].T
            rows, cols = np.nonzero(sim >= threshold)
            i_idx, j_idx = rows + s, cols + s + 1
            hit[j_idx[j_idx > i_idx]] = True  # strictly upper triangle
        return pd.DataFrame({"removed_id": ids[hit]})

    return (
        assigned.groupBy("cluster")
        .applyInPandas(dedup_cluster, schema="removed_id long")
    )


# ---------------------------------------------------------------------------
# Paragraph-level (C4-style) corpus dedup
# ---------------------------------------------------------------------------

_PARA_CHUNK = 12  # tokens per "paragraph" (fixture docs have no newlines)


@query(
    "paragraph_dedup",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ), ex AS (
      SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks) / {_PARA_CHUNK}.0) AS BIGINT)))
               AS idx
      FROM d
    ), ch AS (
      SELECT doc_id, idx,
             md5(array_to_string(
               toks[(idx * {_PARA_CHUNK} + 1):(idx * {_PARA_CHUNK} + {_PARA_CHUNK})],
               ' ')) AS h
      FROM ex
    ), firsts AS (
      SELECT doc_id, idx FROM (
        SELECT doc_id, idx,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
        FROM ch
      ) WHERE rn = 1
    ), keep AS (
      SELECT doc_id, list_sort(list(idx)) AS kept FROM firsts GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(array_to_string(
             flatten(list_transform(COALESCE(kept, []),
               i -> toks[(i * {_PARA_CHUNK} + 1):(i * {_PARA_CHUNK} + {_PARA_CHUNK})])),
             ' '), '') AS clean_text,
           CAST(ceil(len(toks) / {_PARA_CHUNK}.0) AS BIGINT)
             - COALESCE(len(kept), 0) AS n_removed
    FROM d LEFT JOIN keep USING (doc_id) ORDER BY doc_id
    """,
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus-level duplicated-paragraph removal:
    split every document into fixed 12-token chunks ("paragraphs" — the
    fixture corpus has no newlines), keep only the globally FIRST
    occurrence of each distinct chunk (earliest (doc_id, idx)), and
    rebuild each document from its surviving chunks.

    This is the span-level counterpart of ``dedup_exact``: boilerplate
    (headers, footers, license blocks) repeats across documents that are
    NOT near-duplicates as wholes, and C4's three-sentence rule removes
    it span-wise. Scale shape:

    * Only (16-byte md5, doc_id, idx) rides the shuffles — chunk TEXT
      never leaves the scan stage. The winner-per-chunk is a
      groupBy(h).min(struct(doc_id, idx)) — a partial-aggregating
      HashAggregate, skew-safe even for a chunk repeated millions of
      times (the all-pairs window formulation would put every copy of a
      hot chunk in one task).
    * Survivor idx lists join BACK to the documents scan by doc_id
      (sort-merge, corpus-sized both sides) and the text is re-sliced
      from the original tokens there, so rebuild is scan-local.
    * Per-doc state is ceil(tokens/12) longs — bounded by document
      length, not corpus size.

    The reference's tokenizer (hw4.cc:457-466) is the chunker's base;
    everything above it is §2.2 surface the reference lacks.
    """
    c = _PARA_CHUNK
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text", X.WS).alias("toks")
    )
    n_chunks = F.ceil(F.size("toks") / c).cast("long")
    # guard: Spark's sequence(0, -1) auto-steps DOWN to [0, -1] — an
    # all-whitespace doc (0 tokens) must yield zero chunks, not two.
    idxs = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<long>")
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idxs,
                lambda i: F.md5(F.array_join(F.slice("toks", i * c + 1, c), " ")),
            )
        ).alias("idx", "h"),
    )
    firsts = chunks.groupBy("h").agg(F.min(F.struct("doc_id", "idx")).alias("k"))
    kept = (
        chunks.join(
            firsts.select("h", "k.doc_id", "k.idx").hint("merge"),
            ["h", "doc_id", "idx"],
            "left_semi",
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.col("idx").cast("long"))).alias("kept"))
    )
    return (
        docs.join(kept.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(
                F.flatten(
                    F.transform(
                        F.coalesce("kept", F.array().cast("array<long>")),
                        lambda i: F.slice("toks", i * c + 1, c),
                    )
                ),
                " ",
            ).alias("clean_text"),
            (n_chunks - F.coalesce(F.size("kept"), F.lit(0))).cast("long").alias(
                "n_removed"
            ),
        )
    )


# ---------------------------------------------------------------------------
# LSH quality evaluation (precision/recall vs exact Jaccard)
# ---------------------------------------------------------------------------

# Composed from the already-registered oracles so both engines evaluate
# the IDENTICAL candidate and truth pipelines (the strings are this
# module's own, registered a few hundred lines up, fetched through the
# public accessor — ADVICE r9).
from ..registry import oracle_for as _oracle_for  # noqa: E402

_LSH_EVAL_TRUTH = 0.5  # exact-Jaccard threshold defining a true near-dup


@query(
    "lsh_quality_eval",
    oracle=f"""
    WITH lsh AS ({_oracle_for("dedup_minhash_lsh")}),
    exact AS (
      SELECT a_id, b_id FROM ({_oracle_for("dedup_ngram_jaccard")})
      WHERE jaccard >= {_LSH_EVAL_TRUTH}
    ), m AS (
      SELECT
        (SELECT COUNT(*) FROM lsh JOIN exact USING (a_id, b_id)) AS tp,
        (SELECT COUNT(*) FROM lsh ANTI JOIN exact USING (a_id, b_id)) AS fp,
        (SELECT COUNT(*) FROM exact ANTI JOIN lsh USING (a_id, b_id)) AS fn
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(tp * 1.0 / nullif(tp + fp, 0), 6) AS precision_,
           round(tp * 1.0 / nullif(tp + fn, 0), 6) AS recall_
    FROM m
    """,
)
def lsh_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality audit for the MinHash-LSH pipeline: its pair
    set scored against exact bigram-Jaccard ≥ 0.5 ground truth —
    precision (how many candidates are real near-dups) and recall (how
    many real near-dups the bands caught). This is the measurement a
    pipeline owner runs before changing band/row parameters, and it
    reuses BOTH production pipelines verbatim (``dedup_minhash_lsh``
    candidates, ``dedup_ngram_jaccard`` truth), so the audit can never
    drift from what actually ships.

    At corpus scale the truth side is the bounded one — exact Jaccard
    runs on a SAMPLE in production (the inverted-index cost ceiling
    documented on ``dedup_ngram_jaccard``); the set algebra is ONE
    full-outer join on (a_id, b_id) with presence flags folded into a
    single aggregate, so each underlying pipeline executes exactly once
    in one Spark job.

    Both sides consume the SAME shingle set —
    the LSH side signs it (MIN is duplicate-insensitive, so distinct
    shingles give identical signatures — the lsh_jaccard_verified
    identity), the truth side counts intersections over it — so the
    sized shingle rows are built once and localCheckpoint'd (the
    repo-wide multi-consumer rule) instead of each side re-running the
    corpus tokenize → gram → distinct pipeline from its own scan: one
    parquet scan of documents in the whole audit instead of two, and
    two fewer gram-explode stages in the plan.
    Composing the shared cores directly (``lsh_candidate_pairs``,
    ``_ngram_jaccard_pairs``) also drops the two composed queries'
    presentation-only terminal sorts, which fed straight into a join
    here. Both engines' pair sets are unchanged — the oracle still
    composes the two published oracles verbatim."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    exn = (
        shingle_rows(docs)
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
        .localCheckpoint(eager=True)
    )
    lsh = (
        lsh_candidate_pairs(
            minhash_signatures(docs, shingles=exn.select("doc_id", "s"))
        )
        .select("a_id", "b_id")
        .withColumn("in_lsh", F.lit(1))
    )
    exact = (
        _ngram_jaccard_pairs(docs, exn=exn)
        .filter(F.col("jaccard") >= _LSH_EVAL_TRUTH)
        .select("a_id", "b_id")
        .withColumn("in_exact", F.lit(1))
    )
    confusion = lsh.join(exact, ["a_id", "b_id"], "full_outer").agg(
        F.coalesce(
            F.sum(
                (F.col("in_lsh").isNotNull() & F.col("in_exact").isNotNull()).cast("long")
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum((F.col("in_exact").isNull()).cast("long")), F.lit(0)
        ).alias("fp"),
        F.coalesce(
            F.sum((F.col("in_lsh").isNull()).cast("long")), F.lit(0)
        ).alias("fn"),
    )
    return confusion.select(
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision_"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall_"),
    )


@query(
    "dedup_threshold_sweep",
    # composes the dedup_ngram_jaccard oracle verbatim (inheriting the
    # _MAX_SHINGLE_DF boilerplate cap and the jaccard >= 0.05 floor —
    # the gate-mirroring rule satisfied by construction)
    oracle=f"""
    WITH pairs AS ({_oracle_for("dedup_ngram_jaccard")})
    SELECT CAST(floor(jaccard * 20.0::DOUBLE) AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(MIN(jaccard), 6) AS band_min,
           round(MAX(jaccard), 6) AS band_max
    FROM pairs GROUP BY 1 ORDER BY band
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THRESHOLD-SELECTION CURVE for fuzzy dedup: exact-Jaccard
    pair counts bucketed into 0.05-wide similarity bands (band =
    ⌊jaccard·20⌋, from the 0.05 floor up to exact duplicates at band
    20) — the histogram a curator reads before picking the dedup
    cutoff, because the right threshold sits in the VALLEY between
    the near-dup mass (template families, boilerplate variants, high
    bands) and the topical-similarity noise floor (low bands); a
    cutoff on a rising slope means the pair volume — and the cluster
    sizes downstream — are unstable to ±0.05 of threshold drift.
    ``lsh_quality_eval`` scores ONE configured threshold; this is the
    instrument for choosing it.

    Composed verbatim on ``dedup_ngram_jaccard`` (the
    dup_cluster_histogram pattern): the banding is one tiny aggregate
    over its output, so the curve measures exactly the pair set the
    production threshold would bind against, inheriting the
    inverted-index posting shape (no corpus join), the
    _MAX_SHINGLE_DF boilerplate cap, and the 0.05 floor. Banding on
    the 6-dp-rounded jaccard (integer-ratio inputs) is a single
    floor of identical doubles in both engines — no boundary drift
    possible.

    Scale disposition — DIAGNOSTIC, like everything composing the
    all-pairs inverted index (the SCALING.md "exact-Jaccard all-pairs
    wall" row): 22.3 s at the 10× probe, and the composed core's pair
    expansion exhausts local disk at the 100× dup-heavy regime
    (measured round 12 — the same recorded behavior as
    lsh_quality_eval's truth side). Production mode: run the sweep
    after exact-collapse on cluster representatives, or on a
    deterministic doc sample — threshold selection needs the curve's
    SHAPE, which a sample preserves, not the full corpus's pair
    census."""
    return _band_curve(dedup_ngram_jaccard(spark, sf_dir))


def _band_curve(pairs: DataFrame) -> DataFrame:
    """0.05-wide similarity banding over a (a_id, b_id, jaccard) pair
    frame — shared by the full-census sweep and its sampled twin so
    the two curves are the same instrument over different pair sets."""
    return (
        pairs.groupBy(
            F.floor(F.col("jaccard") * 20.0).cast("long").alias("band")
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.min("jaccard"), 6).alias("band_min"),
            F.round(F.max("jaccard"), 6).alias("band_max"),
        )
        .orderBy("band")
    )


#: deterministic doc_id-hash sample BUDGET (documents, not a rate)
#: for the production-mode threshold sweep. A fixed FRACTION keeps
#: pair volume quadratic in corpus size (measured: a 40% sample of
#: the 100× dup-heavy probe still generates 2.2e9 pairs and OOMs the
#: default heap — a rate only rescales the census, it doesn't bound
#: it); a fixed BUDGET makes the pair census O(1) in corpus size —
#: the sampled-doc count, and hence the sweep's cost, stops growing
#: with the corpus entirely. 2000 docs is enough for band-share
#: convergence on the curve (≥1e5 sampled pairs at the 100× probe's
#: dup density) while small enough that the keep-threshold clamps to
#: keep-everything on the ≤500-doc correctness fixtures (the sweep
#: there IS the full census — non-vacuous by construction) and
#: exercises the real 40% sampling path at sf0.1's 5000 docs.
_SWEEP_SAMPLE_BUDGET = 2_000

#: hash granularity for the keep threshold (per-million)
_SWEEP_HASH_MOD = 1_000_000


def _sweep_keep_threshold(n_docs: int) -> int:
    """keep hash-buckets < ceil(budget·1e6 / n), clamped to 1e6 (small
    corpora keep everything). Integer ceil-div — mirrored verbatim in
    the oracle's DuckDB integer arithmetic."""
    n = max(n_docs, 1)
    return min(
        (_SWEEP_SAMPLE_BUDGET * _SWEEP_HASH_MOD + n - 1) // n,
        _SWEEP_HASH_MOD,
    )


#: the sampling hash: the widest md5-prefix integer both engines agree on
_SWEEP_HASH = H.hex_int(H.md5_id("doc_id"), 1, H.MAX_HEX_WIDTH)
_DD_SWEEP_HASH = f"{_SWEEP_HASH.duck} % {_SWEEP_HASH_MOD}"
#: the oracle computes the SAME clamped ceil-div threshold from the
#: corpus count (scalar subquery) — gate mirrored structurally
_DD_SWEEP_THR = (
    f"LEAST(({_SWEEP_SAMPLE_BUDGET} * {_SWEEP_HASH_MOD}"
    " + (SELECT COUNT(*) FROM documents) - 1)"
    " // GREATEST((SELECT COUNT(*) FROM documents), 1),"
    f" {_SWEEP_HASH_MOD})"
)
_DD_SHINGLES_SAMPLED = _DD_SHINGLES.replace(
    "FROM documents)",
    f"FROM documents WHERE {_DD_SWEEP_HASH} < {_DD_SWEEP_THR})",
)
assert _DD_SHINGLES.count("FROM documents)") == 1


def _sweep_sample_pred(thr: int) -> "F.Column":
    """Spark twin of the oracle's hash-threshold predicate (mirrored
    verbatim per the gate-mirroring rule)."""
    return _SWEEP_HASH.col % _SWEEP_HASH_MOD < thr


@query(
    "dedup_threshold_sweep_sampled",
    oracle=f"""
    WITH pairs AS ({_ngram_jaccard_oracle(_DD_SHINGLES_SAMPLED)})
    SELECT CAST(floor(jaccard * 20.0::DOUBLE) AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(MIN(jaccard), 6) AS band_min,
           round(MAX(jaccard), 6) AS band_max,
           CAST(COUNT(*) * {_SWEEP_HASH_MOD} // {_DD_SWEEP_THR}
                * {_SWEEP_HASH_MOD} // {_DD_SWEEP_THR}
                AS BIGINT) AS est_full_pairs
    FROM pairs GROUP BY 1 ORDER BY band
    """,
)
def dedup_threshold_sweep_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION MODE of the threshold-selection curve (VERDICT r12
    "What's wrong" #2): the same 0.05-band exact-Jaccard histogram as
    ``dedup_threshold_sweep``, computed over a DETERMINISTIC
    FIXED-BUDGET doc_id-hash sample instead of the full census. Keep
    a document iff md5(doc_id)-prefix % 1e6 < ceil(budget·1e6 / n) —
    corpus-stable (the same documents sample in every run and every
    engine; no RNG, no seed plumbing), mirrored verbatim in the
    oracle (which derives the identical threshold from a COUNT(*)
    scalar subquery), and clamped to keep-everything when the corpus
    is at or under budget, so on the ≤500-doc correctness fixtures
    this IS the full census curve while sf0.1's 5000 docs exercise
    the real 40% sampling path cross-engine.

    Why a BUDGET and not a rate: threshold selection needs the
    curve's SHAPE — the valley between near-dup mass and the topical
    noise floor — and band shares converge by the law of large
    numbers in the number of SAMPLED pairs, independent of corpus
    size. A fixed rate only rescales the quadratic census (measured:
    40% of the 100× dup-heavy probe is still 2.2e9 pairs — heap
    OOM); a fixed budget bounds the whole downstream pipeline —
    shingles, postings, pair expansion — at O(budget²·density)
    regardless of corpus scale, which is what "would still work at
    100 TB" actually requires. ``est_full_pairs`` rescales each band
    back to full-corpus units by 1/p per side (two integer
    floor-divs, identical in both engines; equal to n_pairs exactly
    when the clamp keeps everything).

    The corpus count that prices the threshold is ONE driver-side
    scalar (the blessed bounded-seed pattern — in production it comes
    from catalog statistics, not a scan); everything else composes on
    ``_ngram_jaccard_pairs`` / ``_ngram_jaccard_oracle`` — the
    byte-identical inverted-index core of the census sweep — so the
    sampled curve can never drift from the pair math the production
    threshold binds against."""
    docs = table(spark, sf_dir, "documents")
    thr = _sweep_keep_threshold(docs.count())
    curve = _band_curve(
        _ngram_jaccard_pairs(docs.filter(_sweep_sample_pred(thr)))
    )
    return curve.withColumn(
        "est_full_pairs",
        F.expr(
            f"n_pairs * {_SWEEP_HASH_MOD} div {thr}"
            f" * {_SWEEP_HASH_MOD} div {thr}"
        ),
    )


@query(
    "dup_cluster_histogram",
    oracle=f"""
    SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (
      SELECT cluster, COUNT(*) AS csize
      FROM ({_oracle_for("dedup_clusters")})
      GROUP BY cluster
    ) GROUP BY csize ORDER BY csize
    """,
)
def dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup clusters
    have 1, 2, … members — THE corpus-health diagnostic (a fat tail
    here predicts the quadratic pair-volume regimes documented on the
    LSH probes, and drives the exact-collapse-first production
    ordering). Composed verbatim on ``dedup_clusters``' connected
    components, so the histogram measures exactly what the dedup
    pipeline computes; two tiny aggregates on top of it (cluster-sized,
    then size-sized — both shrink monotonically)."""
    return (
        dedup_clusters(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count("*").alias("csize"))
        .groupBy("csize")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("csize")
    )
