"""Dedup / text / ANN operator tests against pure-python oracles."""

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark import guard
from versatiles_rs_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard,
    simhash_pairs,
)


def _docs_df(spark):
    base = [
        "the quick brown fox jumps over the lazy dog in the morning sun",
        "pack my box with five dozen liquor jugs before the night falls",
        "sphinx of black quartz judge my vow said the ancient mariner",
        "how vexingly quick daft zebras jump over fences in the park",
    ]
    rows = []
    i = 0
    for b in base:
        rows.append((i, b))
        i += 1
        rows.append((i, b))  # exact duplicate
        i += 1
        rows.append((i, b.replace("the", "a")))  # near duplicate
        i += 1
        rows.append((i, " ".join(reversed(b.split()))))  # shuffled (lower jaccard on char-grams)
        i += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])), rows


def test_exact_dedup(spark):
    df, rows = _docs_df(spark)
    kept = exact_dedup(df).collect()
    texts = [r.text for r in kept]
    assert len(kept) == len(set(r[1] for r in rows))
    assert len(texts) == len(set(texts))


def test_minhash_estimates_jaccard():
    a = "the quick brown fox jumps over the lazy dog in the morning sun"
    b = a.replace("the", "a")
    sa, sb = minhash_signature(a), minhash_signature(b)
    est = (sa == sb).mean()
    true = ngram_jaccard(a, b)
    assert abs(est - true) < 0.25


def test_minhash_lsh_finds_near_dups(spark):
    df, rows = _docs_df(spark)
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, threshold=0.5).collect()}
    # oracle: exact jaccard over all pairs
    want = set()
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        if ngram_jaccard(ta, tb) >= 0.5:
            want.add((min(ia, ib), max(ia, ib)))
    # every exact duplicate pair must be found (jaccard 1.0 -> all bands agree)
    dup_pairs = {p for p in want if ngram_jaccard(rows[p[0]][1], rows[p[1]][1]) == 1.0}
    assert dup_pairs <= pairs
    # no false positives below threshold (verification step guarantees this)
    assert pairs <= want


def test_simhash_pairs(spark):
    df, rows = _docs_df(spark)
    got = simhash_pairs(df, max_hamming=3).collect()
    by_pair = {(r.id_a, r.id_b): r.hamming for r in got}
    # exact duplicates -> identical simhash -> hamming 0, always found
    for i in range(0, len(rows), 4):
        assert by_pair.get((i, i + 1)) == 0
    # all reported pairs respect the bound
    assert all(h <= 3 for h in by_pair.values())


def test_ann_lsh_recall(spark):
    from versatiles_rs_spark.functions.ann import ann_bruteforce_topk, ann_lsh_topk

    rng = np.random.default_rng(5)
    n, dim = 400, 16
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    brute = ann_bruteforce_topk(df, queries, k=10).collect()
    # nbits sized so buckets hold ~n/16 vectors; multi-probe then covers
    # enough candidates for high recall at k=10
    lsh = ann_lsh_topk(df, queries, k=10, nbits=4, dim=dim).collect()
    bsets = {}
    for r in brute:
        bsets.setdefault(r.query_id, set()).add(r.neighbor_id)
    lsets = {}
    for r in lsh:
        lsets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(bsets[q] & lsets.get(q, set())) / 10 for q in bsets]
    assert sum(recalls) / len(recalls) >= 0.5  # multi-probe LSH recall floor


def test_langid(spark):
    from versatiles_rs_spark.functions.text import with_langid

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "the cat and the dog is of the house",
                    "der Hund und die Katze ist das Tier",
                    "le chat et la maison est les arbres",
                ]
            }
        )
    )
    got = [r.lang_pred for r in with_langid(df).collect()]
    assert got == ["en", "de", "fr"]


def test_quality_score(spark):
    from versatiles_rs_spark.functions.text import quality_score

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["good clean sentence with normal words here ok", "x"]})
    )
    rows = quality_score(df).collect()
    assert rows[0].quality > rows[1].quality


def test_fingerprint_stability(spark):
    from versatiles_rs_spark.functions.text import with_fingerprint

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "shared window content present in both documents here",
                    "shared window content present in both documents here plus a tail",
                ],
            }
        )
    )
    rows = {r.doc_id: r.fingerprint for r in with_fingerprint(df).collect()}
    # min-sampled rolling hash: common prefix dominates -> likely equal
    assert rows[1] == rows[2]


def test_cosine_pairs_blocked_matches_expression_path(spark, sf_dir):
    """Block-GEMM similarity join == per-pair expression cosine (same pairs),
    including across-block and within-block pairs."""
    from versatiles_rs_spark.functions.ann import cosine_expr, cosine_pairs_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    expr_pairs = sorted(
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine_expr(F.col("va"), F.col("vb")) >= 0.4)
        .collect()
    )
    # block_size smaller than N so cross-block pairs are exercised
    gemm_pairs = sorted(
        (r.id_a, r.id_b)
        for r in cosine_pairs_blocked(emb, threshold=0.4, block_size=128).collect()
    )
    assert gemm_pairs == expr_pairs and len(gemm_pairs) > 0


def test_ann_gemm_matches_bruteforce(spark, sf_dir):
    from versatiles_rs_spark.functions.ann import ann_bruteforce_topk, ann_gemm_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    bf = sorted((r.query_id, r.rank, r.neighbor_id) for r in ann_bruteforce_topk(emb, q, k=7).collect())
    gm = sorted((r.query_id, r.rank, r.neighbor_id) for r in ann_gemm_topk(emb, q, k=7).collect())
    assert gm == bf and len(gm) == 20 * 7


def test_ann_ivf_recall_and_training(spark):
    """IVF probes a fraction of lists yet keeps high recall; trained
    (spherical k-means) centroids are deterministic and at least match the
    untrained quantizer on clustered data."""
    from versatiles_rs_spark.functions.ann import (
        ann_bruteforce_topk,
        ann_ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    # clustered corpus: 8 gaussian blobs so the coarse quantizer has real
    # structure to learn
    n_per, dim, k = 50, 16, 10
    centers = rng.standard_normal((8, dim)) * 3.0
    vecs = np.vstack([c + rng.standard_normal((n_per, dim)) for c in centers]).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") % 80 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    brute = ann_bruteforce_topk(df, q, k=k).collect()
    bsets = {}
    for r in brute:
        bsets.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(rows):
        s = {}
        for r in rows:
            s.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(bsets[qq] & s.get(qq, set())) / k for qq in bsets) / len(bsets)

    untrained = ann_ivf_topk(df, q, k=k, nlist=8, nprobe=2, dim=dim).collect()
    c1 = train_ivf_centroids(df, nlist=8, dim=dim, sample_cap=200, iters=8)
    c2 = train_ivf_centroids(df, nlist=8, dim=dim, sample_cap=200, iters=8)
    assert (c1 == c2).all()  # pure function of the data, no RNG
    trained = ann_ivf_topk(df, q, k=k, nlist=8, nprobe=2, dim=dim, centroids=c1).collect()
    r_u, r_t = recall(untrained), recall(trained)
    assert r_t >= 0.9  # trained lists isolate the blobs
    assert r_t >= r_u - 1e-9


def test_ann_ivf_candidates_subquadratic(spark):
    """The probed-list join must examine ~nprobe/nlist of the corpus, not
    all of it — the point of IVF at scale."""
    from versatiles_rs_spark.functions.ann import _ivf_centroids

    rng = np.random.default_rng(3)
    n, dim, nlist, nprobe = 600, 16, 12, 3
    vecs = rng.standard_normal((n, dim)).astype(np.float64)
    C = _ivf_centroids(dim, nlist)
    assign = np.argmax(vecs @ C.T, axis=1)
    qd = vecs[:5] @ C.T
    probes = np.argsort(-qd, axis=1, kind="stable")[:, :nprobe]
    n_cand = sum(int(np.isin(assign, p).sum()) for p in probes)
    assert n_cand < 0.6 * 5 * n  # well under brute force's 5*n comparisons


def _planted_cluster_df(spark, m=60):
    """m byte-identical docs (the viral-boilerplate hot bucket) + near-dups +
    distinct docs."""
    rows = [(i, "subscribe to our newsletter for the latest updates and offers today") for i in range(m)]
    rows.append((m, "subscribe to our newsletter for the latest updates and offers now"))
    rows.append((m + 1, "completely unrelated text about zebras photosynthesis and quasars"))
    rows.append((m + 2, "another disjoint document mentioning volcanoes trombones and xylophones"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])), rows


def test_minhash_precollapse_parity_and_bound(spark):
    """Pre-collapse + bucket cap must not change output pairs, and must bound
    signature/candidate work to the number of DISTINCT texts (VERDICT r1 #2)."""
    from versatiles_rs_spark.functions.dedup import _collapse_exact

    df, rows = _planted_cluster_df(spark, m=40)
    with_guard = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(df, threshold=0.5, pre_collapse=True).collect()
    }
    without = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(df, threshold=0.5, pre_collapse=False, bucket_cap=0).collect()
    }
    assert with_guard == without and len(with_guard) >= 40 * 39 // 2
    # candidate bound: banding sees one signature per DISTINCT text, not per doc
    from versatiles_rs_spark.functions.dedup import minhash_udf

    sig_all = df.select("doc_id", F.xxhash64("text").alias("_h"), minhash_udf("text").alias("sig"))
    reps, members = _collapse_exact(sig_all, "doc_id", "sig")
    assert reps.count() == len({t for _, t in rows})
    assert members.count() == len(rows)


def test_simhash_precollapse_parity(spark):
    df, rows = _planted_cluster_df(spark, m=30)
    with_guard = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(df, max_hamming=3, pre_collapse=True).collect()
    }
    without = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(df, max_hamming=3, pre_collapse=False, bucket_cap=0).collect()
    }
    assert with_guard == without
    # every identical pair present with hamming 0
    assert all(with_guard >= {(a, b, 0)} for a in range(3) for b in range(a + 1, 3))


def test_bucket_cap_drops_hot_buckets(spark):
    """With pre_collapse off, a 40-doc identical cluster floods every band
    bucket; bucket_cap drops those buckets (bounded work, recall trade)."""
    df, _ = _planted_cluster_df(spark, m=40)
    capped = minhash_lsh_pairs(
        df, threshold=0.5, pre_collapse=False, bucket_cap=10
    ).collect()
    cluster_pairs = [r for r in capped if r.id_a < 40 and r.id_b < 40]
    assert cluster_pairs == []  # hot bucket dropped, not enumerated


def test_bucket_cap_reports_dropped_counts(spark):
    """The cap is an observable recall trade (VERDICT r2 #3): a planted
    over-cap bucket must surface its dropped bucket/row counts as a
    guard note (and the warning log), never silently."""
    df, _ = _planted_cluster_df(spark, m=40)
    with guard.recording() as rec:
        minhash_lsh_pairs(
            df, threshold=0.5, pre_collapse=False, bucket_cap=10
        ).collect()
    # 40 identical docs share every one of the 16 band buckets
    assert rec["minhash_lsh_pairs"]["capped_buckets"] >= 16
    assert rec["minhash_lsh_pairs"]["capped_rows"] >= 16 * 40
    # and a run with no hot buckets reports zeros, not missing keys
    with guard.recording() as rec:
        minhash_lsh_pairs(df, threshold=0.5, pre_collapse=True).collect()
    assert rec["minhash_lsh_pairs"] == {"capped_buckets": 0, "capped_rows": 0}


def test_expand_pairs_shuffle_fallback_parity(spark):
    """Above max_broadcast_pairs the rep-pair expansion must switch to
    shuffle joins (VERDICT r2 #4) and produce IDENTICAL pairs to the
    broadcast path on a planted mega-cluster."""
    df, _ = _planted_cluster_df(spark, m=25)
    via_broadcast = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    via_shuffle = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(df, threshold=0.5, max_broadcast_pairs=0).collect()
    }
    assert via_shuffle == via_broadcast and len(via_broadcast) >= 25 * 24 // 2
    sim_b = {(r.id_a, r.id_b) for r in simhash_pairs(df).collect()}
    sim_s = {(r.id_a, r.id_b) for r in simhash_pairs(df, max_broadcast_pairs=0).collect()}
    assert sim_s == sim_b


def test_minhash_bands_parameter(spark):
    """bands must tile the 64-perm signature (ADVICE r2): non-divisors raise,
    and a coarser banding (8 bands x 8 rows) still finds the identical
    cluster (identical sigs collide in every band regardless of width)."""
    df, _ = _planted_cluster_df(spark, m=10)
    with pytest.raises(ValueError):
        minhash_lsh_pairs(df, bands=7)
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, threshold=0.5, bands=8).collect()
    }
    assert {(a, b) for a in range(10) for b in range(a + 1, 10)} <= pairs


def test_cosine_pairs_lsh_subquadratic(spark):
    """On clustered data at a near-dup threshold, the LSH path must find the
    same pairs as the exact path while enumerating far fewer candidates than
    N^2/2 (VERDICT r1 #3)."""
    from versatiles_rs_spark.functions.ann import (
        _band_signature_udf,
        _lsh_candidate_pairs,
        cosine_expr,
        cosine_pairs_lsh,
    )

    rng = np.random.default_rng(11)
    dim, n_clusters, per = 32, 12, 25
    cents = rng.standard_normal((n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = np.repeat(cents, per, axis=0) + 0.05 * rng.standard_normal((n_clusters * per, dim))
    n = len(vecs)
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")

    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = sorted(
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine_expr(F.col("va"), F.col("vb")) >= 0.9)
        .collect()
    )
    got = sorted((r.id_a, r.id_b) for r in cosine_pairs_lsh(df, 0.9, dim=dim).collect())
    assert len(exact) > 500  # clusters actually produce near-dup pairs
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.98 and set(got) <= set(exact)

    sig = df.select(
        "vec_id", _band_signature_udf(dim, 16, 8)(F.col("embedding")).alias("sig")
    )
    n_cand = _lsh_candidate_pairs(sig, "vec_id", 2000).count()
    assert n_cand < n * (n - 1) / 2 * 0.3  # way below all-pairs


def test_semantic_dedup_semdedup_policy(spark):
    """SemDeDup semantics on planted clusters (Abbas et al. 2023): a tight
    duplicate group collapses to ONE keeper — the member with the LOWEST
    cosine to its cluster centroid — while distant members of the same
    k-means cluster stay their own singleton components."""
    from versatiles_rs_spark.functions.ann import train_ivf_centroids
    from versatiles_rs_spark.functions.semdedup import semantic_dedup

    rng = np.random.default_rng(5)
    dim, n_groups, per = 16, 6, 5
    cents = rng.standard_normal((n_groups, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    # per-group: `per` near-identical copies (cos ~> 0.999) + one far outlier
    # sharing the k-means cluster but below eps
    rows = []
    for g in range(n_groups):
        for j in range(per):
            rows.append(cents[g] + 0.01 * rng.standard_normal(dim))
        far = cents[g] + 0.9 * rng.standard_normal(dim)
        rows.append(far)
    vecs = np.asarray(rows)
    n = len(vecs)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [list(map(float, v)) for v in vecs]}
    )
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")

    C = train_ivf_centroids(df, nlist=n_groups, dim=dim, sample_cap=n, iters=8)
    out = semantic_dedup(
        df, eps=0.95, nlist=n_groups, dim=dim, centroids=C, block_size=7
    ).toPandas().set_index("vec_id").sort_index()

    assert len(out) == n  # every row labeled exactly once
    assert int(out["is_keeper"].sum()) == out["sem_cluster"].nunique()

    # brute-force oracle: same centroids, same policy, numpy end to end
    m = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    d = vecs @ C.T
    assign = np.argmax(d, axis=1)
    cent_cos = d.max(axis=1) / np.linalg.norm(vecs, axis=1)
    sim = m @ m.T
    # union-find over within-cluster eps pairs
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        for j in range(i + 1, n):
            if assign[i] == assign[j] and sim[i, j] >= 0.95:
                parent[find(i)] = find(j)
    comp = {}
    for i in range(n):
        comp.setdefault(find(i), []).append(i)
    for members in comp.values():
        label = min(members)
        keeper = min(members, key=lambda i: (cent_cos[i], i))
        for i in members:
            assert out.loc[i, "sem_cluster"] == label
            assert bool(out.loc[i, "is_keeper"]) == (i == keeper)
            assert out.loc[i, "cluster_size"] == len(members)
    # the planted structure actually exercised both branches
    sizes = out.groupby("sem_cluster")["cluster_size"].first()
    assert (sizes >= per).sum() == n_groups  # one dup group per planted cluster
    assert (sizes == 1).sum() >= n_groups  # outliers stayed singletons


def test_cosine_pairs_blocked_key_restriction(spark, sf_dir):
    """key_col restricts pairing to same-key rows and matches the brute
    force exactly (multi-block path: block_size smaller than key groups)."""
    from versatiles_rs_spark.functions.ann import cosine_expr, cosine_pairs_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "grp", (F.col("vec_id") % 3).cast("long")
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
                   F.col("grp").alias("ga"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
                   F.col("grp").alias("gb"))
    exact = sorted(
        (r.id_a, r.id_b)
        for r in a.join(b, (F.col("id_a") < F.col("id_b")) & (F.col("ga") == F.col("gb")))
        .filter(cosine_expr(F.col("va"), F.col("vb")) >= 0.3)
        .collect()
    )
    got = sorted(
        (r.id_a, r.id_b)
        for r in cosine_pairs_blocked(
            emb, threshold=0.3, block_size=64, key_col="grp"
        ).collect()
    )
    assert len(exact) > 10
    assert got == exact


def test_crossmodal_align_matches_numpy_and_stays_jvm(spark):
    import numpy as np
    import pandas as pd

    from versatiles_rs_spark.functions.ann import crossmodal_align

    rng = np.random.RandomState(11)
    n, dim = 60, 16
    iv = rng.randn(n, dim).astype(np.float32)
    tv = rng.randn(n, dim).astype(np.float32)
    # plant 10 strongly-aligned pairs so both keep branches populate
    tv[:10] = iv[:10] + 0.05 * tv[:10]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "pair_id": np.arange(n),
                "img_vec": [ [float(x) for x in r] for r in iv ],
                "txt_vec": [ [float(x) for x in r] for r in tv ],
            }
        )
    )
    out = crossmodal_align(df, tau=0.28)
    got = {r.pair_id: (r.align_score, r.keep) for r in out.collect()}
    dots = np.einsum("ij,ij->i", iv.astype(np.float64), tv.astype(np.float64))
    cos = dots / (np.linalg.norm(iv, axis=1).astype(np.float64)
                  * np.linalg.norm(tv, axis=1).astype(np.float64))
    for i in range(n):
        exp_score = round(float(cos[i]), 4)
        assert abs(got[i][0] - exp_score) <= 1e-9, i
        assert got[i][1] == int(exp_score >= 0.28), i
    assert 1 <= sum(k for _, k in got.values()) < n  # both branches hit

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # map-side only: scoring adds no shuffle


def test_exact_jaccard_pairs_matches_scalar_bruteforce(spark):
    """Prefix-filtered set-similarity join == all-pairs scalar Jaccard,
    including exact-dup expansion and the 1.0 identical score."""
    from versatiles_rs_spark.functions.dedup import (
        exact_jaccard_pairs,
        ngram_jaccard,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "the quick brown fox jumps over the lazy dog again and again!",
        3: "the quick brown fox jumps over the lazy dog again and again",  # = 1
        4: "a completely different document about spark physical plans",
        5: "a completely different document about spark logical plans",
        6: "short",
        7: "the quick brown fox leaps over the lazy dog again and again",
    }
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(df).collect()
    }
    want = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = ngram_jaccard(texts[a], texts[b])
            if j >= 0.5:
                want[(a, b)] = j
    assert set(got) == set(want)
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12, (k, got[k], j)
    assert got[(1, 3)] == 1.0  # byte-identical pair via member expansion
