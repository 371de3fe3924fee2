"""The md5 hash family, shared by the Spark plans and their DuckDB oracles.

Every rule that reads a number, a bucket or a bit out of an md5 digest
is defined here once and rendered for both engines. md5 agrees byte for
byte across Spark and DuckDB (both hash the UTF-8 bytes), so a rule
rendered from one template gives the same values in both; a rule
written twice by hand drifts the day one copy is edited. The rules
generalize the reference's hash partitioner (hw4.cc:477-478) from
reducer ids to splits, samples, sketches and LSH signatures.

Each rule returns a :class:`Sql` pair: ``spark`` is Spark SQL (for
``F.expr`` or ``selectExpr``; :attr:`Sql.col` wraps it) and ``duck`` is
the DuckDB SQL the oracles embed. A plain ``md5(x)`` digest that is only
compared as a string (band keys, ``ORDER BY md5(doc_id)``, fingerprint
equality) stays literal at its site: there is no rule to share.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import WS

#: the widest hex slice read as an integer: 15 hex digits are 60 bits,
#: which Spark's signed BIGINT holds; a 16-digit slice overflows it while
#: DuckDB's UBIGINT holds it, so the engines would disagree.
MAX_HEX_WIDTH = 15


class Sql(NamedTuple):
    """One rule rendered for both engines."""

    spark: str
    duck: str

    @property
    def col(self) -> Column:
        return F.expr(self.spark)


def _both(x: Sql | str) -> Sql:
    """A column name or expression spelled alike in both engines."""
    return x if isinstance(x, Sql) else Sql(x, x)


def md5(x: str) -> Sql:
    """md5 of a string-typed expression."""
    return Sql(f"md5({x})", f"md5({x})")


def md5_id(col: str) -> Sql:
    """md5 of an integer id's decimal string (both engines render
    integers identically)."""
    return Sql(f"md5(CAST({col} AS STRING))", f"md5(CAST({col} AS VARCHAR))")


def _hex(digest: Sql | str, start: int, width: int) -> Sql:
    d = _both(digest)
    return Sql(
        f"substring({d.spark}, {start}, {width})",
        f"substr({d.duck}, {start}, {width})",
    )


def hex_int(digest: Sql | str, start: int, width: int) -> Sql:
    """The integer value of hex digits ``start .. start + width - 1``
    (1-based) of a digest."""
    if not 1 <= width <= MAX_HEX_WIDTH:
        raise ValueError(f"hex slice width {width} outside 1..{MAX_HEX_WIDTH}")
    h = _hex(digest, start, width)
    return Sql(
        f"CAST(conv({h.spark}, 16, 10) AS BIGINT)",
        f"CAST(('0x' || {h.duck}) AS UBIGINT)",
    )


def split_12_2_2(digest: Sql | str) -> Sql:
    """train/val/test by the digest's first hex digit: 12/2/2
    sixteenths. Content-independent, so a key never changes split as the
    corpus grows."""
    h = _hex(digest, 1, 1)
    return Sql(
        *(
            f"CASE WHEN {x} <= 'b' THEN 'train' WHEN {x} <= 'd' THEN 'val'"
            " ELSE 'test' END"
            for x in h
        )
    )


def first_hex_in(digest: Sql | str, keep: str) -> Sql:
    """Whether the digest's first hex digit is one of the digits in
    ``keep``: a deterministic ``len(keep)``/16 sample of digests."""
    listed = ", ".join(f"'{c}'" for c in keep)
    return Sql(*(f"{h} IN ({listed})" for h in _hex(digest, 1, 1)))


def fingerprint(col: str) -> Sql:
    """md5 of whitespace-normalized lowercase text: the exact-dedup key.
    The class is RE2's ``\\s`` in both engines (see ``text.WS``)."""
    ws = WS.replace("\\", "\\\\")
    return Sql(
        f"md5(regexp_replace(lower(trim({col})), '{ws}', ' '))",
        rf"md5(regexp_replace(lower(trim({col})), '\s+', ' ', 'g'))",
    )


# MinHash: hash j of a shingle is the 8-hex (32-bit) slice j % 4 of
# md5(shingle || ':' || j // 4). One digest yields four independent
# 32-bit hash functions, so K signatures cost K / 4 digests per shingle,
# the dominant cost of signature generation at scale.


def minhash_slice(j: int) -> tuple[int, int]:
    """(seed, start) of hash j: digest j // 4, hex digit 1 + 8 (j % 4)."""
    return j // 4, 1 + 8 * (j % 4)


def minhash_digest(seed: int) -> Sql:
    """Digest ``seed`` of the shingle column ``s``."""
    return Sql(f"md5(concat(s, ':{seed}'))", f"md5(s || ':{seed}')")


def minhash(j: int) -> Sql:
    """Hash j of the shingle column ``s``. DuckDB: the hex slice itself
    (fixed-width lowercase hex sorts as its value, so ``list_min`` over
    it is the signature). Spark: the slice's integer read from the
    digest column ``d{seed}``, projected once per shingle from
    :func:`minhash_digest`, so MIN aggregates a fixed-width long (partial
    HashAggregate; a string MIN forces a sort) and is formatted back to
    hex afterwards."""
    seed, start = minhash_slice(j)
    return Sql(
        hex_int(f"d{seed}", start, 8).spark,
        _hex(minhash_digest(seed).duck, start, 8).duck,
    )


# SimHash: bit j of the 64-bit signature is the sign of the sum of
# +-1 votes, one per token: bit j % 4 of hex nibble j // 4 of md5(token).
# All four bits of the first 16 nibbles are used, so the signature costs
# ONE digest per token.


def simhash_chunk(c: int) -> str:
    """Spark: 32-bit chunk ``c`` (nibbles 8c .. 8c + 7) of the token
    digest column ``h0``, the column ``c{c}`` that :func:`simhash_bit`
    reads."""
    return hex_int("h0", 8 * c + 1, 8).spark


def simhash_bit(j: int) -> Sql:
    """The +-1 vote of the token column ``t`` on signature bit j. DuckDB
    reads nibble j // 4 of md5(t) as a character; Spark shifts and masks
    the packed chunk columns (:func:`simhash_chunk`), which stays in
    codegen instead of 64 string operations per token."""
    p, b = divmod(j, 4)
    k, o = divmod(p, 8)
    return Sql(
        f"(shiftright(c{k}, {(7 - o) * 4 + b}) & 1) * 2 - 1",
        f"(CASE WHEN ((instr('0123456789abcdef', {_hex(md5('t'), p + 1, 1).duck})"
        f" - 1) >> {b}) & 1 = 1 THEN 1 ELSE -1 END)",
    )


# HyperLogLog: register index = the first 3 hex digits mod m; rank =
# 1 + leading zeros of the next ``bits`` bits, i.e. bits + 1 - bitlen(w).
# w = 0 gives bin(0) = '0' in both engines, so rank ``bits`` stays
# bit-exact rather than special-cased.


def hll_register(digest: Sql | str, m: int) -> Sql:
    return Sql(*(f"{h} % {m}" for h in hex_int(digest, 1, 3)))


def hll_rank(digest: Sql | str, bits: int) -> Sql:
    return Sql(
        *(f"{bits + 1} - length(bin({h}))" for h in hex_int(digest, 4, bits // 4))
    )
