"""Text-analysis column expressions for training-data pipelines.

Everything here is a pure Column expression built from
``pyspark.sql.functions`` — codegen'd JVM-side, Arrow-free, and therefore
the fast path at 100 TB. The reference's only text operation is the
space-tokenizer (hw4.cc:457-466); these generalize it to the text-quality
toolbox an LLM data pipeline needs (lang-ID, quality scores, token
counts, fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID. Deliberately small + deterministic so the same lists can be
# inlined into the DuckDB oracle SQL.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une", "dans", "pour"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "por", "para", "con"),
}


#: RE2-exact whitespace class. Java's ``\s`` is ``[ \t\n\x0B\f\r]``
#: while RE2's (every DuckDB oracle regex) is ``[ \t\n\f\r]`` — the
#: delta is the vertical tab, so a VT-bearing document tokenized with a
#: JVM ``\s+`` split diverges from its oracle (round-9 hostile-fixture
#: sweep; the same gap ADVICE r8 flagged in the Python UDTFs). Every
#: JVM-side whitespace regex spells the class explicitly instead.
WS = r"[ \t\n\r\f]+"
#: the raw characters, for building larger classes like [^a-z0-9<WS_CHARS>]
WS_CHARS = " \t\n\r\f"


def tokens(col: str | Column, pattern: str = " ") -> Column:
    """Tokenize into an array, dropping empty tokens (both Spark's split
    and DuckDB's string_split keep empties; filtering is explicit on both
    sides per SURVEY.md §7.3).

    The pattern is passed through verbatim (ADVICE r9): callers who want
    the RE2-exact whitespace class pass :data:`WS` explicitly — every
    oracle-checked plan in this repo does — while a caller who genuinely
    wants Java ``\\s`` semantics (vertical tab included) can now get
    them by passing ``r"\\s+"`` itself."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, pattern), lambda t: t != "")


def token_count(col: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col, WS))


def bpe_ish_token_count(col: str | Column) -> Column:
    """BPE-ish token estimate: split on word/non-word boundaries so
    punctuation and digit runs count as separate tokens (a cheap proxy for
    a real BPE vocabulary, which isn't in this container)."""
    c = F.col(col) if isinstance(col, str) else col
    # word runs + digit runs + individual punctuation marks
    return F.size(F.regexp_extract_all(
        c, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9" + WS_CHARS + "]"), F.lit(0)
    ))


def stopword_hits(col: str | Column, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    toks = tokens(col, WS)
    sw = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*sw)))


def stopword_ratio(col: str | Column, lang: str = "en") -> Column:
    return stopword_hits(col, lang) / F.greatest(token_count(col), F.lit(1))


def lang_scores(col: str | Column) -> dict[str, Column]:
    """Per-language stopword-hit counts — the n-gram-heuristic lang-ID."""
    return {lang: stopword_hits(col, lang) for lang in STOPWORDS}


def lang_id_from_scores(scores: dict[str, Column], min_hits: int = 1) -> Column:
    """argmax fold over per-language scores; 'und' (undetermined) when no
    language reaches ``min_hits``. Deterministic tie-break: language-code
    order (strictly-greater replaces, so the earliest language wins).
    Shared by the array-expression path and the exploded-aggregate path
    so both produce identical answers."""
    best_lang = F.lit("und")
    best_score = F.lit(min_hits - 1)
    for lang in sorted(scores):  # deterministic iteration
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def lang_id(col: str | Column, min_hits: int = 1) -> Column:
    """argmax over language stopword scores (see lang_id_from_scores)."""
    return lang_id_from_scores(lang_scores(col), min_hits)


def punct_count(col: str | Column) -> Column:
    """Number of non-alphanumeric, non-space characters."""
    c = F.col(col) if isinstance(col, str) else col
    # explicit WS class, not \s: Java \s strips VT, RE2 \s does not (WS note)
    return F.length(F.regexp_replace(c, "[A-Za-z0-9" + WS_CHARS + "]", ""))


def quality_score(col: str | Column) -> Column:
    """Composite quality heuristic in [0,1]: rewards reasonable length,
    low punctuation density, and presence of stopwords (prose-likeness).
    Pure arithmetic over the component expressions — one scan, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_toks = token_count(c)
    len_score = F.least(n_chars / F.lit(200.0), F.lit(1.0))
    punct_density = punct_count(c) / F.greatest(n_chars, F.lit(1))
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - punct_density * 5)
    prose_score = F.least(stopword_ratio(c, "en") * 4, F.lit(1.0))
    return F.round((len_score + punct_score + prose_score) / 3, 6)


def word_shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct k-word shingles (the MinHash/Jaccard input unit).

    Built with transform over an index sequence + slice — stays inside
    codegen; returns array<string> (possibly empty, never null for
    non-null text)."""
    toks = tokens(col, WS)
    n = F.size(toks)
    # NB: sequence(1, 0) yields a DESCENDING [1, 0] in Spark — docs with
    # fewer than k tokens must short-circuit to [] before sequence runs.
    idx = F.sequence(F.lit(1), n - (k - 1))
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_fingerprints(col: str | Column, k: int = 3, keep_mod: int = 4) -> Column:
    """Winnowing-style selective fingerprints: md5 each k-shingle, keep
    those whose first hex nibble ≡ 0 (mod keep_mod) — a deterministic
    1/keep_mod sample of shingle hashes usable for containment detection.
    The pick is a SQL lambda so that ``hashing.first_hex_in`` renders it,
    as it renders the oracle's."""
    from .hashing import first_hex_in  # hashing imports this module

    hashes = F.transform(word_shingles(col, k), F.md5)
    pick = F.expr(f"h -> {first_hex_in('h', '0123456789abcdef'[::keep_mod]).spark}")
    return F.sort_array(F.call_function("filter", hashes, pick))


_ALNUM = "".join(chr(c) for r in (range(48, 58), range(65, 91), range(97, 123)) for c in r)


def punct_count_ascii(col: str | Column) -> Column:
    """Same class as :func:`punct_count` (non-[A-Za-z0-9\\s]) for inputs
    with no whitespace (e.g. tokens), via ``translate`` — a plain char
    map with no per-call regex-engine setup, which matters when invoked
    per token instead of per document (13.7 s → ~6 s for text_quality at
    the 100× probe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.translate(c, _ALNUM, ""))
