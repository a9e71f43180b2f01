"""PQ/ADC compressed ANN (vector_types.h:60-99 config; Jégou et al. 2011):
codebook determinism, compression sanity, ADC+rerank recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from yams_spark.operators.pq import pq_adc_topk, pq_encode, train_pq


@pytest.fixture(scope="module")
def clustered_corpus(spark):
    """10 families x 5 near-identical 32-dim vectors (m=8 -> dsub=4)."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(10, 32)).astype(np.float64)
    rows = []
    vid = 0
    for b in base:
        for _ in range(5):
            v = b + rng.normal(scale=1e-2, size=32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), rows


def test_train_encode_deterministic_and_compact(spark, clustered_corpus) -> None:
    corpus, rows = clustered_corpus
    corpus = corpus.orderBy("vec_id")
    books1 = train_pq(corpus, m=8, k=16, train_limit=50, iters=5)
    books2 = train_pq(corpus, m=8, k=16, train_limit=50, iters=5)
    assert len(books1) == 8
    for a, b in zip(books1, books2):
        assert np.array_equal(a, b)  # fixed seed + sorted sample => identical

    codes = pq_encode(corpus, books1).collect()
    assert len(codes) == 50
    for r in codes:
        assert len(r["codes"]) == 8  # 8 bytes vs 32 floats = 16x compression
        assert all(0 <= c < 16 for c in r["codes"])

    # reconstruction error is small relative to vector norm on clustered data
    by_id = {r["vec_id"]: r["codes"] for r in codes}
    x0 = np.array(rows[0][1])
    recon = np.concatenate([books1[j][by_id[0][j]] for j in range(8)])
    assert np.linalg.norm(x0 - recon) < 0.5 * np.linalg.norm(x0)


def test_adc_topk_recall_with_rerank(spark, clustered_corpus) -> None:
    corpus, rows = clustered_corpus
    corpus = corpus.orderBy("vec_id")
    books = train_pq(corpus, m=8, k=16, train_limit=50, iters=5)
    codes = pq_encode(corpus, books)

    q = np.array(rows[0][1])  # member of family 0 (ids 0..4)
    out = pq_adc_topk(codes, corpus, books, q, k=5, rerank_factor=2).collect()
    assert [r["rk"] for r in out] == [1, 2, 3, 4, 5]
    got_ids = {r["vec_id"] for r in out}
    # all 5 family members (incl. the query itself) are the true top-5 and
    # must survive the compressed scan + exact rerank
    assert got_ids == {0, 1, 2, 3, 4}
    assert out[0]["vec_id"] == 0 and out[0]["cosine"] == pytest.approx(1.0)
    # exact rerank: cosines ordered desc
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)


def test_ivf_probe_recall_and_exact_degenerate(spark, clustered_corpus) -> None:
    """IVF: nprobe=1 recalls the query's own cluster; nprobe=n_lists equals
    exact brute-force top-k."""
    from yams_spark.operators.ann import cosine_topk
    from yams_spark.operators.ivf import ivf_assign, ivf_topk, train_ivf

    corpus, rows = clustered_corpus
    corpus = corpus.orderBy("vec_id")
    cent = train_ivf(corpus, n_lists=10, train_limit=50, iters=8)
    assigned = ivf_assign(corpus, cent).persist()
    # every vector lands in exactly one list; families stay together for
    # well-separated clusters
    assert assigned.count() == 50

    q = rows[0][1]
    near = ivf_topk(assigned, cent, q, k=5, nprobe=1).collect()
    got = {r["vec_id"] for r in near}
    assert {0, 1, 2, 3, 4} == got  # family 0 recalled from one probe

    full = ivf_topk(assigned, cent, q, k=8, nprobe=len(cent)).collect()
    queries_df = spark.createDataFrame(
        [(9999, [float(x) for x in q])], "query_id long, embedding array<float>"
    )
    exact = cosine_topk(spark, corpus, queries_df, k=8).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]
    assert [r["cosine"] for r in full] == [r["cosine"] for r in exact]


def test_ivf_pq_full_probe_equals_exact(spark) -> None:
    """IVFADC with nprobe=n_lists and a 4·k rerank pool covering the
    corpus must EQUAL exact search — the final rerank is exact cosine."""
    import numpy as np

    from yams_spark.operators.ann import cosine_topk
    from yams_spark.operators.ivf import ivf_pq_index, ivf_pq_topk_multi

    rng = np.random.default_rng(13)
    n, dim = 60, 16
    k = n // 4  # the 4·k rerank pool covers the corpus
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rk"]): r["vec_id"]
        for r in cosine_topk(spark, corpus, queries, k=k).collect()
    }
    idx = ivf_pq_index(corpus, n_lists=8, m=4)
    got = {
        (r["query_id"], r["rk"]): r["vec_id"]
        for r in ivf_pq_topk_multi(
            idx[2], idx[0], idx[1], queries, k=k, nprobe=8,
        ).collect()
    }
    assert got == exact


def test_ivf_pq_recall_and_determinism(spark) -> None:
    """Clustered corpus: nprobe=2 of 8 lists still finds the true
    neighbors (same-cluster points land in the probed lists); repeated
    runs identical."""
    import numpy as np

    from yams_spark.operators.ann import cosine_topk
    from yams_spark.operators.ivf import ivf_pq_index, ivf_pq_topk_multi

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16)) * 10
    rows = []
    for i in range(160):
        c = centers[i % 8] + rng.normal(size=16) * 0.05
        rows.append((i, [float(x) for x in c]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = ivf_pq_index(corpus, n_lists=8, m=4)
    run = lambda: {
        (r["query_id"], r["rk"]): r["vec_id"]
        for r in ivf_pq_topk_multi(
            idx[2], idx[0], idx[1], queries, k=5, nprobe=2
        ).collect()
    }
    got = run()
    assert run() == got  # deterministic
    exact = {
        (r["query_id"], r["rk"]): r["vec_id"]
        for r in cosine_topk(spark, corpus, queries, k=5).collect()
    }
    overlap = len(set(got.values()) & set(exact.values()))
    assert overlap / len(exact) >= 0.8  # high recall on clustered data
