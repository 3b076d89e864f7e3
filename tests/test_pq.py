"""Product-quantization ANN (functions/pq.py): encode packing, IVFPQ
recall vs the exact GEMM baseline, the FAISS-style exact-refine stage, and
trained-codebook determinism.  Reference capability: ANN over embeddings
at corpus scale (project brief); algorithm per Jégou et al. TPAMI 2011."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark.functions.ann import ann_bruteforce_topk
from versatiles_rs_spark.functions.pq import (
    _encode_batch,
    ann_ivfpq_topk,
    pq_codebooks,
    pq_encode,
    train_pq_codebooks,
)


def _blob_df(spark, n_per=40, dim=32, n_blobs=8, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_blobs, dim)) * 3.0
    vecs = np.vstack([c + rng.standard_normal((n_per, dim)) for c in centers])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs)), "embedding": list(map(list, vecs.astype(np.float32)))}
    )
    return spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>"), vecs


def _recall(rows, brute_rows, k):
    bsets, s = {}, {}
    for r in brute_rows:
        bsets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in rows:
        s.setdefault(r.query_id, set()).add(r.neighbor_id)
    return sum(len(bsets[q] & s.get(q, set())) / k for q in bsets) / len(bsets)


def test_pq_encode_packs_one_bigint(spark):
    """Codes land in ONE int64 (m=8 x 4 bits), match the numpy kernel, and
    the output schema is slim — no embedding column survives the encode."""
    df, vecs = _blob_df(spark, n_per=10, dim=32)
    books = pq_codebooks(dim=32, m=8, ksub=16)
    enc = pq_encode(df, books)
    assert enc.schema.simpleString() == "struct<vec_id:bigint,pq_code:bigint>"
    got = {r.vec_id: r.pq_code for r in enc.collect()}
    mat = vecs.astype(np.float32).astype(np.float64)
    mat /= np.maximum(np.sqrt((mat * mat).sum(axis=1, keepdims=True)), 1e-300)
    want = _encode_batch(mat, books)
    assert [got[i] for i in range(len(vecs))] == list(want)
    assert all(0 <= c < (1 << 32) for c in got.values())  # 8x4 bits packed


def test_ivfpq_full_probe_refine_equals_bruteforce(spark):
    """nprobe=nlist (no coarse pruning) + exact refine over the whole ADC
    shortlist must reproduce brute force exactly — the quantization error
    is confined to the shortlist selection, which full refine undoes."""
    df, _ = _blob_df(spark, n_per=25, dim=32)
    q = df.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    k = 5
    bf = sorted(
        (r.query_id, r.rank, r.neighbor_id) for r in ann_bruteforce_topk(df, q, k=k).collect()
    )
    pq = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in ann_ivfpq_topk(
            df, q, k=k, nlist=4, nprobe=4, dim=32, refine=199
        ).collect()
    )
    assert pq == bf


def test_ivfpq_trained_recall(spark):
    """Trained codebooks + modest refine keep high recall on clustered data
    while scoring only packed codes; training is a pure function of data."""
    df, _ = _blob_df(spark, n_per=40, dim=32)
    q = df.filter(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    k = 10
    brute = ann_bruteforce_topk(df, q, k=k).collect()
    b1 = train_pq_codebooks(df, dim=32, m=8, ksub=16, sample_cap=320, iters=6)
    b2 = train_pq_codebooks(df, dim=32, m=8, ksub=16, sample_cap=320, iters=6)
    assert (b1 == b2).all()  # no RNG anywhere
    got = ann_ivfpq_topk(
        df, q, k=k, nlist=8, nprobe=3, dim=32, codebooks=b1, refine=30
    ).collect()
    assert _recall(got, brute, k) >= 0.8
    # untrained closed-form codebooks still beat random guessing by far
    raw = ann_ivfpq_topk(df, q, k=k, nlist=8, nprobe=3, dim=32, refine=30).collect()
    assert _recall(raw, brute, k) >= 0.5


def test_ivfpq_residual_encoding_recall(spark):
    """FAISS residual structure: quantizing x - centroid spends the same 4
    bits/subspace on a much smaller vector, so pure-ADC recall (no refine)
    must beat raw-vector encoding on clustered data; full probe + refine
    still reproduces brute force (the qc term only shifts the shortlist)."""
    from versatiles_rs_spark.functions.ann import train_ivf_centroids

    df, _ = _blob_df(spark, n_per=40, dim=32, seed=13)
    q = df.filter(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    k = 10
    brute = ann_bruteforce_topk(df, q, k=k).collect()
    C = train_ivf_centroids(df, nlist=8, dim=32, sample_cap=320, iters=8)
    books_raw = train_pq_codebooks(df, dim=32, m=8, ksub=16, sample_cap=320, iters=6)
    books_res = train_pq_codebooks(
        df, dim=32, m=8, ksub=16, sample_cap=320, iters=6, ivf_centroids=C
    )
    kw = dict(k=k, nlist=8, nprobe=8, dim=32, ivf_centroids=C)
    raw = ann_ivfpq_topk(df, q, codebooks=books_raw, **kw).collect()
    res = ann_ivfpq_topk(df, q, codebooks=books_res, residual=True, **kw).collect()
    r_raw, r_res = _recall(raw, brute, k), _recall(res, brute, k)
    assert r_res >= r_raw + 0.05, (r_raw, r_res)  # materially finer, not a tie
    # pure 4-bit ADC can't separate near-tie neighbors inside a tight blob;
    # a 3k refine shortlist (the standard FAISS deployment) must
    refined = ann_ivfpq_topk(
        df, q, codebooks=books_res, residual=True, refine=3 * k, **kw
    ).collect()
    assert _recall(refined, brute, k) >= 0.9
    # exactness under full probe + full refine is metric-independent
    full = ann_ivfpq_topk(
        df, q, k=k, nlist=4, nprobe=4, dim=32, residual=True, refine=400
    ).collect()
    bf = sorted((r.query_id, r.rank, r.neighbor_id) for r in ann_bruteforce_topk(df, q, k=k).collect())
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in full) == bf


def _pq_mse(X, books, R=None):
    """Mean reconstruction error — the objective OPQ minimizes."""
    Y = X @ R if R is not None else X
    codes = _encode_batch(Y, books)
    m, ksub, dsub = books.shape
    Q = np.empty_like(Y)
    for j in range(m):
        t = (codes >> (4 * j)) & (ksub - 1)
        Q[:, j * dsub : (j + 1) * dsub] = books[j][t]
    return float(((Y - Q) ** 2).sum(axis=1).mean())


def test_opq_rotation_cuts_quantization_error(spark):
    """OPQ (Ge et al. 2013) on a low-dimensional latent manifold smeared
    across all PQ subspaces (the construction that breaks PQ's
    independence assumption): the learned rotation must cut reconstruction
    MSE — the paper's objective — by >=2x vs plain trained PQ (measured
    5.5x here), with no ADC recall regression; R must be orthogonal and a
    deterministic function of the data."""
    from versatiles_rs_spark.functions.pq import train_opq

    rng = np.random.default_rng(31)
    dim, latent, n = 32, 6, 400
    Z = rng.standard_normal((n, latent)) * np.array([8, 5, 3, 2, 1.5, 1])
    W = np.linalg.qr(rng.standard_normal((dim, dim)))[0][:latent]
    vecs = Z @ W + 0.05 * rng.standard_normal((n, dim))
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    k = 10
    brute = ann_bruteforce_topk(df, q, k=k).collect()

    plain_books = train_pq_codebooks(df, dim=dim, m=8, ksub=16, sample_cap=n, iters=6)
    R, opq_books = train_opq(df, dim=dim, m=8, ksub=16, sample_cap=n,
                             outer_iters=6, inner_iters=4)
    R2, _ = train_opq(df, dim=dim, m=8, ksub=16, sample_cap=n,
                      outer_iters=6, inner_iters=4)
    assert np.allclose(R, R2)  # pure function of the data
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-9)  # orthogonal

    Xn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    mse_plain, mse_opq = _pq_mse(Xn, plain_books), _pq_mse(Xn, opq_books, R)
    assert mse_opq * 2 <= mse_plain, (mse_plain, mse_opq)

    kw = dict(k=k, nlist=4, nprobe=4, dim=dim)
    plain = ann_ivfpq_topk(df, q, codebooks=plain_books, **kw).collect()
    opq = ann_ivfpq_topk(df, q, codebooks=opq_books, rotation=R, **kw).collect()
    assert _recall(opq, brute, k) >= _recall(plain, brute, k) - 0.05


def test_ivfpq_plan_slim_codes_no_vector_shuffle(spark, sf_dir):
    """100 TB shape: embeddings are consumed inside the two Arrow encode
    tasks and never appear in any Exchange; the candidate join moves only
    (id, ivf_list, pq_code) — 12 bytes of payload per row; ADC scoring is
    pure JVM (no third Python eval)."""
    from versatiles_rs_spark.queries import REGISTRY

    df = REGISTRY["ann_pq"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0  # mapInPandas, not extracted UDFs
    assert plan.count("MapInPandas") == 2  # encode side + query side
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "embedding" not in line and "qv" not in line, line
    join_lines = [l for l in plan.splitlines() if "Join" in l and "ivf_list" in l]
    assert join_lines, plan
