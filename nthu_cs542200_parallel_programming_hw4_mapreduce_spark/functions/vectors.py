"""Vector math over ``array<float>`` embedding columns.

Two tiers, chosen by data volume:

* ``dot``/``norm``/``cosine`` — built-in higher-order functions
  (zip_with / aggregate). JVM-side but INTERPRETED (HOF lambdas run
  outside whole-stage codegen and re-inline per consumer — the same
  finding that restructured the minhash signatures, see plans/dedup.py
  header). Reserved for O(1)-row contexts and oracle-fragment parity;
  NEVER on a corpus-sized hot path.
* ``score_pairs`` / ``with_lsh_buckets`` / ``nearest_centroid`` —
  Arrow-batched numpy kernels (``mapInPandas``): a few array ops per
  batch instead of a d-step interpreted fold per row. These are the
  hot-path primitives.

``nearest_centroid`` is the one nearest-centroid rule of the package
(k-means assignment, SemDeDup clustering, PQ encoding): a sequential
left fold of Σ(x−c)², which equals ``dd_sqdist``'s DuckDB ``list_sum``
bit for bit, and an argmin that breaks ties to the lowest index.
``lowest_id_matrix`` is its one centroid init (the k lowest vec_ids).

Small constants (centroids, query vectors, hyperplanes) are closed
over by the kernel, never put in a broadcast variable: they ship in
the serialized task, and PySpark itself broadcasts a task command past
1 MB. Closures stay package-free (locals only), because a module-global
reference pickles the package by reference and fails on executors
whose PYTHONPATH lacks the repo.

All arithmetic is forced to DOUBLE; user-facing similarity values are
rounded to a tolerance (1e-5) far above both double-summation-order
noise (~1e-14) and the HOF-vs-BLAS accumulation difference, so numpy
kernels stay oracle-comparable (SURVEY.md §7.3).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ in DOUBLE, left-to-right fold."""
    prod = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: str | Column) -> Column:
    """‖a‖₂ in DOUBLE."""
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity in DOUBLE. The denominator rides the same
    ``max(‖a‖·‖b‖, 1e-12)`` floor as ``score_pairs``: a zero-norm
    vector scores a deterministic 0.0 in every engine path instead of
    NULL (Spark) / NULL (DuckDB) — NULLs rank NULLS-LAST in one engine
    and are dropped from sums in the other, so an unguarded zero vector
    is exactly the kind of silent cross-engine divergence the oracles
    exist to catch."""
    return dot(a, b) / F.greatest(norm(a) * norm(b), F.lit(_EPS))


# Shared DuckDB fragments computing the same nominal arithmetic (explicit
# per-index products, left-to-right list_sum) — used by the oracle SQL.
def dd_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def dd_norm(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )


def dd_sqdist(a: str, b: str, width: int | None = None, block: str | None = None) -> str:
    """Σ(a[i]−b[i])² — ``nearest_centroid``'s distance as a DuckDB
    left-fold ``list_sum``: over the whole list, or over the
    ``width``-long block number ``block`` (a 0-based SQL expression)."""
    n = width or f"len({a})"
    at = f"{n} * {block} + i" if block else "i"
    diff = f"(CAST({a}[{at}] AS DOUBLE) - CAST({b}[{at}] AS DOUBLE))"
    return f"list_sum(list_transform(range(1, {n} + 1), i -> {diff} * {diff}))"


def dd_cosine(a: str, b: str) -> str:
    # GREATEST floor mirrors score_pairs/cosine: a zero-norm vector
    # scores 0.0 (ranking above negative cosines, below positives) in
    # BOTH engines, where DuckDB's bare x/0.0 would yield NULL and sort
    # NULLS LAST while the engine's eps floor yields 0.0. Threshold
    # consumers (dd_cosine >= 0.4) are unaffected: 0.0 and NULL both
    # fail the predicate.
    return f"({dd_dot(a, b)} / GREATEST({dd_norm(a)} * {dd_norm(b)}, 1e-12))"


# ---------------------------------------------------------------------------
# Arrow-batched numpy kernels — the corpus-scale hot path
# ---------------------------------------------------------------------------

_EPS = 1e-12  # zero-vector guard: cosine against ~0 ranks last, never NaN


def np_planes(dim: int, n_planes: int = 8):
    """Deterministic pseudo-random hyperplanes from md5 — no RNG, so
    every run (and every executor) derives identical planes. Returns an
    (n_planes, dim) float64 matrix; tiny, so kernels close over it."""
    import numpy as np

    rows = []
    for p in range(n_planes):
        row = [
            (int(hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()[:8], 16)
             / 0xFFFFFFFF) * 2.0 - 1.0
            for i in range(dim)
        ]
        rows.append(row)
    return np.asarray(rows, dtype=np.float64)


def dd_planes_cte(dim: int, n_planes: int) -> str:
    """The ``np_planes`` constants as a DuckDB VALUES CTE body —
    ``SELECT * FROM (VALUES ...) AS t(p, pl)`` with plane index ``p``
    and float64 list ``pl`` — so an oracle can replay a plane dot
    product with bit-identical constants. Each element is emitted as
    ``'<repr>'::DOUBLE``: a bare decimal literal parses as
    DECIMAL(19,18) (≈9% of constants land 1 ulp off float64, ADVICE
    r7), and even CAST of a bare literal parses DECIMAL first; the
    string→DOUBLE form is a strtod-style float64 parse, verified
    bit-exact (pinned by tests/test_plans.py)."""
    planes = np_planes(dim=dim, n_planes=n_planes).tolist()

    def _lit(v: float) -> str:
        return "'%r'::DOUBLE" % v

    rows = ", ".join(
        "({}, [{}])".format(p, ", ".join(_lit(v) for v in row))
        for p, row in enumerate(planes)
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(p, pl)"


def with_lsh_buckets(
    df: DataFrame,
    emb_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    out_col: str = "bucket",
) -> DataFrame:
    """Append a random-hyperplane LSH bucket key ('10110…', one sign bit
    per plane) to every row — NARROW (mapInPandas, no shuffle) and
    vectorized (one (batch × dim)·(dim × planes) matmul per Arrow batch).
    Replaces the per-row interpreted HOF fold (8 planes × d-step lambda)
    round-1's VERDICT flagged: at 100 TB the corpus streams through the
    scan once and leaves tagged, cost n·d·planes BLAS FLOPs.

    Sign bits are engine-internal (bucketing strategy), so the
    HOF-vs-BLAS summation-order difference is unobservable except for
    |dot| < ~1e-13 — and any such knife-edge vector bucketizes
    arbitrarily-but-deterministically either way."""
    import numpy as np
    import pandas as pd

    planes = np_planes(dim=dim, n_planes=n_planes)
    schema = StructType(list(df.schema.fields) + [StructField(out_col, StringType(), False)])

    def tag(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pdf.assign(**{out_col: pd.Series([], dtype=object)})
                continue
            x = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[emb_col]])
            bits = (x @ planes.T) >= 0.0
            keys = ["".join("1" if b else "0" for b in row) for row in bits]
            yield pdf.assign(**{out_col: keys})

    return df.mapInPandas(tag, schema=schema)


def score_pairs(
    df: DataFrame,
    a_col: str,
    b_col: str,
    out_col: str = "_raw",
) -> DataFrame:
    """Row-wise cosine over two array columns of an already-joined frame,
    vectorized per Arrow batch (einsum + norms — no per-row interpreted
    fold). The array columns are consumed (dropped from the output) so
    only scalar id/score columns ride the downstream shuffle.

    Zero-norm vectors score via max(‖a‖·‖b‖, eps): a deterministic
    ~0 similarity instead of NaN (NaN sorts unpredictably across
    engines; ~0 just never makes top-k)."""
    import numpy as np
    import pandas as pd

    keep = [f for f in df.schema.fields if f.name not in (a_col, b_col)]
    schema = StructType(keep + [StructField(out_col, DoubleType(), False)])
    keep_names = [f.name for f in keep]
    eps = _EPS  # bind as a local: closures must stay self-contained
    # (module-global references pickle the whole package by reference,
    # which breaks executors whose PYTHONPATH lacks the repo)

    def kern(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pdf[keep_names].assign(**{out_col: pd.Series([], dtype=np.float64)})
                continue
            a = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[a_col]])
            b = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[b_col]])
            num = np.einsum("ij,ij->i", a, b)
            den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            cos = num / np.maximum(den, eps)
            yield pdf[keep_names].assign(**{out_col: cos})

    return df.mapInPandas(kern, schema=schema)


def lowest_id_matrix(emb: DataFrame, k: int):
    """The embeddings of the ``k`` lowest vec_ids stacked into a
    (≤k × d) float64 matrix — the fixed centroid init of the k-means,
    SemDeDup and PQ queries. A bounded collect (k rows); None when
    ``emb`` is empty, so callers return their own empty frame."""
    import numpy as np

    rows = emb.orderBy("vec_id").limit(k).select("embedding").collect()
    if not rows:
        return None
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def nearest_centroid(df: DataFrame, cmat, keep: list[str], blocks: int = 1) -> DataFrame:
    """Tag every row with its nearest row of ``cmat`` — one narrow
    ``mapInPandas``, no shuffle.

    The ``embedding`` column and ``cmat`` split into ``blocks`` equal
    blocks of dims. For each block the kernel folds Σ(x−c)² left to
    right over the block's dims against every centroid, then emits the
    argmin as ``cluster`` and the minimum as ``dist2`` (``cluster_m`` /
    ``dist2_m`` for block m when ``blocks`` > 1). numpy's argmin takes
    the first index, so a tie goes to the lowest centroid, as the
    oracles' ``ORDER BY d2, <index>`` does. The fold is ``dd_sqdist``'s
    order, so the distances equal DuckDB's bit for bit, not only their
    argmin.

    ``keep`` names the output columns in order, drawn from ``df``'s
    columns and the kernel's; the Python stage returns only those, typed
    by ``df``'s schema."""
    import numpy as np

    w = cmat.shape[1] // blocks
    sfx = [""] if blocks == 1 else [f"_{m}" for m in range(blocks)]
    fields = {f.name: f for f in df.schema.fields}
    for s in sfx:
        fields[f"cluster{s}"] = StructField(f"cluster{s}", LongType())
        fields[f"dist2{s}"] = StructField(f"dist2{s}", DoubleType())
    schema = StructType([fields[c] for c in keep])

    def kern(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            rows = np.arange(len(x))
            out = {}
            for m, s in enumerate(sfx):
                acc = np.zeros((len(x), len(cmat)))
                for i in range(m * w, (m + 1) * w):
                    diff = x[:, None, i] - cmat[None, :, i]
                    acc = acc + diff * diff
                best = np.argmin(acc, axis=1)
                out[f"cluster{s}"] = best.astype("int64")
                out[f"dist2{s}"] = acc[rows, best]
            yield pdf.assign(**out)[keep]

    return df.mapInPandas(kern, schema=schema)
