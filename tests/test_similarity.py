"""Similarity-search sanity: exact knn invariants + ANN vs exact recall."""

import pytest

import __spark_entry__ as E


@pytest.fixture(scope="module")
def exact(spark, sf_dir):
    return E.queries()["cosine_knn_exact"](spark, sf_dir).collect()


def test_knn_shape(exact):
    by_q = {}
    for r in exact:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rows in by_q.items():
        assert len(rows) == 3
        assert all(r["n_id"] != q for r in rows)
        assert all(-1.0 <= r["cos"] <= 1.0 for r in rows)


def test_ann_lsh_results_subset_of_corpus(spark, sf_dir, exact):
    ann = E.queries()["ann_lsh_topk"](spark, sf_dir).collect()
    assert all(r["n_id"] != r["q_id"] for r in ann)
    for r in ann:
        assert len([x for x in ann if x["q_id"] == r["q_id"]]) <= 3


def test_ann_ivf_recall_reasonable(spark, sf_dir, exact):
    """IVF with 2 probes should recover a decent share of true top-3."""
    ivf = E.queries()["ann_ivf_topk"](spark, sf_dir).collect()
    truth = {(r["q_id"], r["n_id"]) for r in exact}
    got = {(r["q_id"], r["n_id"]) for r in ivf}
    assert len(got & truth) / len(truth) >= 0.4


def test_embedding_cosine_pairs_symmetric_ids(spark, sf_dir):
    pairs = E.queries()["dedup_embedding_cosine"](spark, sf_dir).collect()
    assert all(r["a_id"] < r["b_id"] for r in pairs)


def test_kmeans_lloyd_inertia_monotone(spark, sf_dir):
    """Lloyd's invariants: inertia never increases across rounds, every
    vector lands in exactly one of the k clusters, and the summary is
    deterministic for a fixed fixture. The oracle-backed
    ``kmeans_two_rounds`` replays the loop: its rows are the
    (vec_id, cluster) rows of the loop's second assignment."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import table
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        lloyd_rounds,
        vec_table,
    )

    emb = table(spark, sf_dir, "embeddings")
    assigned, history = lloyd_rounds(spark, emb, k=8, max_rounds=6)
    assert len(history) >= 2
    assert all(b <= a * (1 + 1e-9) for a, b in zip(history, history[1:]))
    n = emb.count()
    assert assigned.count() == n
    summary = E.queries()["kmeans_lloyd"](spark, sf_dir).collect()
    assert 1 <= len(summary) <= 8
    assert sum(r["n"] for r in summary) == n

    second, _ = lloyd_rounds(spark, vec_table(spark, sf_dir), max_rounds=2)
    loop = sorted(map(tuple, second.select("vec_id", "cluster").collect()))
    two = sorted(map(tuple, E.queries()["kmeans_two_rounds"](spark, sf_dir).collect()))
    assert len(two) == n and two == loop


@pytest.mark.parametrize("blocks", [1, 8])
def test_nearest_centroid_distances_equal_dd_sqdist(spark, sf_dir, blocks):
    """The one distance rule, written once per engine: over the same
    vectors and centroids, ``nearest_centroid``'s minimum distance per
    block is bit-equal to the minimum of ``dd_sqdist`` in DuckDB, and
    its argmin is the lowest index at that minimum — whole vectors
    (k-means) and 8 subspaces (PQ)."""
    import duckdb

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.functions import vectors as V
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        _DIM,
        _VEC_OK,
        vec_table,
    )

    k = 16
    emb = vec_table(spark, sf_dir).select("vec_id", "embedding")
    cmat = V.lowest_id_matrix(emb, k)
    sfx = [""] if blocks == 1 else [f"_{m}" for m in range(blocks)]
    cols = [c for s in sfx for c in (f"cluster{s}", f"dist2{s}")]
    got = {
        (r["vec_id"], m): (r[f"cluster{s}"], r[f"dist2{s}"])
        for r in V.nearest_centroid(emb, cmat, ["vec_id", *cols], blocks).collect()
        for m, s in enumerate(sfx)
    }
    dist = (V.dd_sqdist("e.embedding", "c.ce") if blocks == 1
            else V.dd_sqdist("e.embedding", "c.ce", _DIM // blocks, "b.m"))
    want = duckdb.sql(f"""
        WITH e AS (SELECT vec_id, embedding
                   FROM read_parquet('{sf_dir}/embeddings.parquet') WHERE {_VEC_OK}),
        c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS idx, embedding AS ce
              FROM (SELECT * FROM e ORDER BY vec_id LIMIT {k}) s),
        d AS (SELECT e.vec_id, b.m, c.idx, {dist} AS d2
              FROM e CROSS JOIN (SELECT UNNEST(range({blocks})) AS m) b CROSS JOIN c)
        SELECT vec_id, m, idx, d2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, idx) AS rn
          FROM d) WHERE rn = 1
    """).fetchall()
    assert len(got) == len(want) > 0
    assert got == {(v, m): (i, d2) for v, m, i, d2 in want}


def test_pq_encode_codebook_vectors_encode_to_themselves(spark, sf_dir):
    """Each codebook vector's nearest centroid in every subspace is
    itself (distance 0), so vec_ids 0..15 must encode to their own
    codebook index in all 8 subspaces."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        _PQ_K,
        _PQ_M,
        pq_encode,
    )

    rows = pq_encode(spark, sf_dir).limit(_PQ_K).collect()
    for r in rows:
        assert all(r[f"code_{m}"] == r["vec_id"] for m in range(_PQ_M)), r


def test_pca_project_variance_order_and_determinism(spark, sf_dir):
    import numpy as np

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import pca_project

    a = pca_project(spark, sf_dir).toPandas()
    # pc1 captures at least as much variance as pc2, both centered
    assert a["pc1"].var() >= a["pc2"].var() > 0
    assert abs(a["pc1"].mean()) < 1e-6 and abs(a["pc2"].mean()) < 1e-6
    # deterministic across runs (sign canonicalization + rounding)
    b = pca_project(spark, sf_dir).toPandas()
    assert np.array_equal(a.values, b.values)


def test_pca_matches_local_numpy(spark, sf_dir):
    """Distributed moment accumulation == single-machine numpy PCA."""
    import numpy as np

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import table
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import pca_project

    pdf = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").toPandas()
    m = np.stack(pdf["embedding"].map(np.asarray))
    m = m - m.mean(axis=0)
    cov = (m.T @ m) / len(m)
    vals, vecs = np.linalg.eigh(cov)
    comp = vecs[:, [-1, -2]].T
    for i in range(2):
        j = int(np.argmax(np.abs(comp[i])))
        if comp[i, j] < 0:
            comp[i] = -comp[i]
    want = np.round(m @ comp.T, 5)

    got = pca_project(spark, sf_dir).toPandas().sort_values("vec_id")
    order = pdf["vec_id"].argsort()
    assert np.allclose(
        np.round(got[["pc1", "pc2"]].to_numpy(), 5), want[order], atol=1e-4
    )


def test_embedding_covariance_matches_pca_moments(spark, sf_dir):
    """The oracle-backed covariance block equals numpy's population
    covariance of the same dims — tying pca_project's distributed
    moment pass to a checkable contract."""
    import numpy as np

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import table
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        embedding_covariance,
    )

    m = np.stack(
        table(spark, sf_dir, "embeddings")
        .select("embedding").toPandas()["embedding"].map(np.asarray)
    )[:, :8]
    want = np.cov(m, rowvar=False, bias=True)
    got = embedding_covariance(spark, sf_dir).collect()
    for r in got:
        assert abs(r["cov"] - round(want[r["i"], r["j"]], 6)) <= 1e-6


def test_embedding_drift_planted_shift(spark, tmp_path_factory):
    """A constant per-element shift delta applied to label 1's NEW
    (odd-id) vectors must measure centroid_shift = delta * sqrt(d);
    the unshifted label 0 must measure ~0."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        embedding_drift_by_label,
        _DIM,
    )

    rows = []
    for vid in range(40):
        label = vid // 20  # 0: ids 0-19, 1: ids 20-39
        base = [0.25] * _DIM
        if label == 1 and vid % 2 == 1:  # new-snapshot half of label 1
            base = [0.25 + 0.5] * _DIM
        rows.append((vid, base, label))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path_factory.mktemp("drift"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    got = {r["label"]: r for r in embedding_drift_by_label(spark, d).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n_old"] == got[0]["n_new"] == 10
    assert abs(got[0]["centroid_shift"]) < 1e-9
    assert abs(got[1]["centroid_shift"] - 0.5 * _DIM ** 0.5) < 1e-6


def test_mahalanobis_flags_planted_outlier(spark, tmp_path_factory):
    """A cluster of near-identical vectors plus one far point: the far
    point must rank first for its label, and the variance floor must
    keep the constant dims from blowing up the score."""
    import random

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        _DIM,
        embedding_mahalanobis_outliers,
    )

    rng = random.Random(7)
    rows = []
    for i in range(20):
        rows.append((i, [rng.uniform(-0.1, 0.1) for _ in range(_DIM)], 0))
    rows.append((99, [5.0] * _DIM, 0))  # planted outlier
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    d = str(tmp_path_factory.mktemp("maha"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = embedding_mahalanobis_outliers(spark, d).collect()
    assert out[0]["vec_id"] == 99 and out[0]["rnk"] == 1
    assert out[0]["maha2"] > out[1]["maha2"] * 5  # far point dominates


def test_pq_reconstruction_error_zero_on_codebook_corpus(spark, tmp_path_factory):
    """A corpus that IS the codebook reconstructs exactly: every
    subspace's MSE is 0 and every vector is counted."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        _DIM,
        _PQ_K,
        _PQ_M,
        pq_reconstruction_error,
    )

    rows = [(i, [float(i) / (j + 1) for j in range(_DIM)], 0)
            for i in range(_PQ_K)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    d = str(tmp_path_factory.mktemp("pqerr"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = pq_reconstruction_error(spark, d).collect()
    assert [r["subspace"] for r in out] == list(range(_PQ_M))
    assert all(r["n"] == _PQ_K and r["mse"] == 0.0 for r in out)


def test_mmr_prefers_diverse_over_redundant(spark, tmp_path_factory):
    """Query q; candidates: two near-identical high-relevance vectors
    and one moderately-relevant orthogonal-ish vector. Plain top-2 by
    relevance takes the twins; MMR's second pick must be the diverse
    one."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.plans.similarity import (
        _DIM,
        ann_mmr_rerank,
    )

    def v(*pairs):
        out = [0.0] * _DIM
        for i, val in pairs:
            out[i] = val
        return out

    # twins share dim1 (mutual cos ≈ 0.99); the diverse candidate has
    # the same relevance (dim0 component) but rides dim2 instead, so
    # its similarity to a picked twin is only ≈ 0.49:
    #   pick-2 score(twin)    ≈ 0.7·0.70 − 0.3·0.99 ≈ 0.19
    #   pick-2 score(diverse) ≈ 0.7·0.70 − 0.3·0.49 ≈ 0.34  → wins
    rows = [
        (0, v((0, 1.0)), 0),                       # the query vector
        (1, v((0, 0.70), (1, 0.71)), 0),           # twin A
        (2, v((0, 0.70), (1, 0.712)), 0),          # twin B
        (3, v((0, 0.695), (2, 0.71)), 0),          # diverse
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    d = str(tmp_path_factory.mktemp("mmr"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = ann_mmr_rerank(spark, d).collect()
    assert [r["rnk"] for r in out] == [1, 2, 3]
    assert out[0]["vec_id"] == 1          # most relevant (id tiebreak)
    assert out[1]["vec_id"] == 3          # MMR swaps in the diverse one
    assert out[2]["vec_id"] == 2          # the twin comes last
