"""entry() smoke + ANN quality checks the SQL oracle can't express."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "email" in df.columns and "name" in df.columns


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with n_probe=2 over 20 label cells must reach decent recall@5
    against the exact brute-force ranking (the ANN quality contract)."""
    bf = entry_mod.q29_knn_bruteforce(spark, SF_DIR).collect()
    # r5: q30 carries both index variants — this test pins the label path
    ivf = (entry_mod.q30_knn_ivf(spark, SF_DIR)
           .filter(F.col("variant") == "label").collect())
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for r in ivf:
        total += 1
        hits += r.neighbor_id in bf_sets[r.query_id]
    recall = hits / max(total, 1)
    assert recall >= 0.3, f"IVF recall@5 too low: {recall}"
    # every IVF hit must carry the same cosine the brute-force assigns
    bf_cos = {(r.query_id, r.neighbor_id): r.cos for r in bf}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bf_cos:
            assert abs(bf_cos[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9


def test_hyperplane_lsh_recall_on_near_dups(spark):
    """Random-hyperplane LSH must recover (nearly) all true near-duplicate
    pairs on a clustered corpus: vectors that are small perturbations of a
    base direction have tiny angles, so their sign signatures agree within
    the Hamming budget."""
    import math

    from pcrawler_spark.operators.knn import cosine_near_pairs, hyperplane_lsh_pairs

    def vec(base_seed, jitter_seed, eps):
        # deterministic pseudo-random unit-ish vectors
        base = [math.sin(0.7 * base_seed * (i + 1)) for i in range(16)]
        return [b + eps * math.sin(2.3 * jitter_seed * (i + 3)) for i, b in enumerate(base)]

    rows = []
    vid = 0
    for cluster in range(5):
        for member in range(4):  # 4 near-identical vectors per cluster
            rows.append((vid, vec(cluster + 1, member + 1, 0.02)))
            vid += 1
    for k in range(20):  # unrelated noise vectors
        rows.append((vid, vec(100 + 7 * k, k + 1, 0.8)))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r.id_a, r.id_b) for r in cosine_near_pairs(df, threshold=0.98).collect()}
    lsh = {(r.id_a, r.id_b) for r in hyperplane_lsh_pairs(df, dim=16, threshold=0.98,
                                                          n_bits=16, max_hamming=4).collect()}
    assert len(exact) >= 20, "clusters must produce true near-dup pairs"
    assert lsh <= exact  # the exact-cosine filter admits no false positives
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"recall {recall}: {len(lsh)}/{len(exact)}"


def _hyperplane_sign(vec, seed: int):
    """Differential oracle for ``knn._hyperplane_matrix``: the sign bit of
    <v, w_seed> with w_seed[i] = ±1 derived PER ELEMENT in the JVM from the
    portable md5 rule (low bit of md5(f"{seed}:{i}")[:8]) — the
    dimension-agnostic derivation the precomputed matrix replaced."""
    prods = F.transform(
        vec,
        lambda x, i: x * F.when(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{seed}:"), i.cast("string"))), 1, 8),
                16, 10,
            ).cast("long").bitwiseAND(F.lit(1)) == 1,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda a, x: a + x)
    return F.when(dot > 0, 1).otherwise(0)


def test_hyperplane_precomputed_matrix_matches_md5_path(spark):
    """The driver-precomputed ±1 matrix must produce EXACTLY the signatures
    of the per-element md5 derivation (:func:`_hyperplane_sign`), hence
    exactly the pairs that derivation's banding + cosine filter yields, and
    reject wrong-dimension vectors."""
    import math

    import pytest
    from pcrawler_spark.operators.knn import (
        _hyperplane_matrix, cosine_near_pairs, hyperplane_lsh_pairs)
    from pcrawler_spark.operators.simdedup import simhash_blocks

    n_bits, max_hamming = 16, 4
    rows = [
        (i, [math.sin(0.7 * (i % 6 + 1) * (j + 1)) + 0.02 * math.sin(2.3 * i * (j + 3))
             for j in range(12)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = F.col("embedding")
    bits = [_hyperplane_sign(v, s).cast("long") * F.lit(1 << s) for s in range(n_bits)]
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    md5_sigs = {r.vec_id: r.sig for r in df.select("vec_id", sig.alias("sig")).collect()}

    mat = _hyperplane_matrix(n_bits, 12)
    for vid, vec in rows:
        dots = [sum(x * w for x, w in zip(vec, mat[s])) for s in range(n_bits)]
        assert sum(1 << s for s, d in enumerate(dots) if d > 0) == md5_sigs[vid], vid

    def collide(a, b):
        return any((a >> off) & ((1 << w) - 1) == (b >> off) & ((1 << w) - 1)
                   for off, w in simhash_blocks(n_bits, max_hamming))

    oracle = {(r.id_a, r.id_b, r.cos)
              for r in cosine_near_pairs(df, threshold=0.9).collect()
              if collide(md5_sigs[r.id_a], md5_sigs[r.id_b])}
    kw = dict(threshold=0.9, n_bits=n_bits, max_hamming=max_hamming)
    fast = {(r.id_a, r.id_b, r.cos) for r in hyperplane_lsh_pairs(df, dim=12, **kw).collect()}
    assert fast == oracle and len(fast) > 0

    with pytest.raises(Exception, match="expected dim"):
        hyperplane_lsh_pairs(df, dim=10, **kw).collect()


def test_learned_ivf_recall_and_kmeans_properties(spark):
    """Learned-cell IVF (k-means fit) must hold the same recall@5 bar as the
    label-cell path against exact brute force, and the fit itself must be
    deterministic (fixed init, no RNG) with non-degenerate cells."""
    from pcrawler_spark.operators.knn import assign_cells, kmeans_fit
    from pyspark.sql import functions as F

    bf = entry_mod.q29_knn_bruteforce(spark, SF_DIR).collect()
    ivf = entry_mod.q49_knn_ivf_learned(spark, SF_DIR).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for r in ivf:
        total += 1
        hits += r.neighbor_id in bf_sets[r.query_id]
    recall = hits / max(total, 1)
    assert recall >= 0.3, f"learned-IVF recall@5 too low: {recall}"
    bf_cos = {(r.query_id, r.neighbor_id): r.cos for r in bf}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bf_cos:
            assert abs(bf_cos[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = kmeans_fit(e, n_cells=8, n_iter=3)
    again = kmeans_fit(e, n_cells=8, n_iter=3)
    c1 = sorted((r.cell, tuple(r.centroid)) for r in cents.collect())
    c2 = sorted((r.cell, tuple(r.centroid)) for r in again.collect())
    assert c1 == c2, "k-means fit must be deterministic"
    assigned = assign_cells(
        e.select(F.col("vec_id").alias("id"),
                 F.col("embedding").cast("array<double>").alias("v")), cents)
    sizes = {r.cell: r.n for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) >= 6, f"cells collapsed: {sizes}"


def test_pq_adc_quality_and_compression(spark):
    """PQ/ADC (q53): the approximate ranking must overlap the exact L2
    ranking (recall@5 over the same corpus), the encoding must compress to
    exactly m_sub codes per vector with codes < n_codes, and the fit must
    be deterministic (re-run → identical codebook)."""
    from pcrawler_spark.operators.knn import pq_encode, pq_fit, pq_topk

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)

    pq = pq_topk(e, q, dim=64, k=5, m_sub=16, n_codes=32, n_iter=2).collect()
    assert len(pq) == 10 * 5

    # exact L2 ranking for recall (squared L2, same tiebreak)
    ev = {r.vec_id: r.embedding for r in e.collect()}
    import math
    exact = {}
    for qi in range(10):
        qv = ev[qi]
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, v)), i)
            for i, v in ev.items() if i != qi
        )
        exact[qi] = {i for _, i in d[:5]}
    hits = sum(r.neighbor_id in exact[r.query_id] for r in pq)
    recall = hits / len(pq)
    assert recall >= 0.3, f"PQ recall@5 too low: {recall}"

    cb = pq_fit(e, dim=64, m_sub=16, n_codes=32, n_iter=2)
    enc = pq_encode(e, cb, dim=64, m_sub=16)
    per_vec = enc.groupBy("id").count().collect()
    assert all(r["count"] == 16 for r in per_vec)
    assert enc.filter((F.col("code") < 0) | (F.col("code") >= 32)).count() == 0
    # deterministic fit
    cb2 = pq_fit(e, dim=64, m_sub=16, n_codes=32, n_iter=2)
    assert sorted(map(tuple, cb.collect())) == sorted(map(tuple, cb2.collect()))

    # subspace slicing is exact: codebook vectors are sub_dim wide
    assert all(len(r["cvec"]) == 4 for r in cb.collect())


def test_lloyd_fits_bounded_actions(spark, monkeypatch):
    """kmeans_fit and pq_fit share one Lloyd loop and stay inside the
    bounded-driver-action discipline: one init collect plus one
    centroid-table collect per iteration — no count/toPandas."""
    from pcrawler_spark.operators.knn import kmeans_fit, pq_fit

    rows = [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # patch the concrete class: pyspark.sql.DataFrame is only its base here
    DataFrame = type(df)

    n_iter = 2
    calls = {"collect": 0, "count": 0, "toPandas": 0}
    orig = {k: getattr(DataFrame, k) for k in calls}

    def make(k):
        def wrapper(self, *a, **kw):
            calls[k] += 1
            return orig[k](self, *a, **kw)
        return wrapper

    for k in calls:
        monkeypatch.setattr(DataFrame, k, make(k))
    cents = kmeans_fit(df, n_cells=6, n_iter=n_iter)
    assert calls == {"collect": 1 + n_iter, "count": 0, "toPandas": 0}, calls
    calls.update(collect=0)
    cb = pq_fit(df, dim=8, m_sub=2, n_codes=4, n_iter=n_iter)
    assert calls == {"collect": 1 + n_iter, "count": 0, "toPandas": 0}, calls
    for k in calls:
        monkeypatch.setattr(DataFrame, k, orig[k])
    assert cents.count() == 6
    assert cb.count() == 2 * 4


def test_pq_rerank_recall_vs_bruteforce(spark):
    """PQ + exact re-rank (q53): ADC top-R candidates re-ranked by exact
    cosine on full vectors must reach recall@5 ≥ 0.9 against brute force —
    the production-grade bar ADC alone (~0.42 on these near-random
    synthetic embeddings) cannot hit.  R=100 (the q53 setting) is 20% of
    this 500-vector corpus — R=50 measured 0.88 here, so the candidate
    pool, not the re-rank, is the recall knob, exactly as in the paper."""
    from pcrawler_spark.operators.knn import brute_force_topk, pq_rerank_topk

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    truth = brute_force_topk(e, q, k=5).collect()
    got = pq_rerank_topk(e, q, dim=64, k=5, rerank=100,
                         m_sub=16, n_codes=32, n_iter=2).collect()
    tset = {(r.query_id, r.neighbor_id) for r in truth}
    gset = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(gset & tset) / len(tset)
    assert recall >= 0.9, f"PQ+rerank recall@5 too low: {recall}"
    # the q53 driver config fits on a 1-in-4 hash sample (train-on-sample):
    # recall must hold there too (measured 0.98 on this corpus)
    got_s = pq_rerank_topk(e, q, dim=64, k=5, rerank=100,
                           m_sub=16, n_codes=32, n_iter=2,
                           fit_sample_mod=4).collect()
    gset_s = {(r.query_id, r.neighbor_id) for r in got_s}
    recall_s = len(gset_s & tset) / len(tset)
    assert recall_s >= 0.9, f"sampled-fit recall@5 too low: {recall_s}"
    # a re-ranked hit carries the same exact cosine brute force assigns
    t_cos = {(r.query_id, r.neighbor_id): r.cos for r in truth}
    for r in got:
        if (r.query_id, r.neighbor_id) in t_cos:
            assert abs(t_cos[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9


def test_pq_dim_validation(spark):
    from pcrawler_spark.operators.knn import pq_fit

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    with pytest.raises(ValueError):
        pq_fit(e, dim=64, m_sub=5)


def test_ivf_pq_prunes_to_probed_cells(spark):
    """q54's neighbors must all come from each query's 2 probed cells —
    the candidate-set pruning is real, not decorative.  (r5: q54 runs on
    the planted-cluster table, so cells are real clusters.)"""
    from pcrawler_spark.operators.knn import ivf_build, cosine_similarity_col
    from pcrawler_spark.sources.synthetic import planted_cluster_embeddings

    e = planted_cluster_embeddings(
        spark.read.parquet(SF_DIR + "/embeddings.parquet"))
    res = entry_mod.q54_ivf_pq_topk(spark, SF_DIR).collect()
    labels = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}

    cents = {r.cell: r.centroid for r in ivf_build(e).collect()}
    qv = {r.vec_id: r.embedding for r in e.filter(F.col("vec_id") < 10).collect()}

    import math
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))), 6)

    for q in qv:
        probed = sorted(cents, key=lambda c: (-cos(qv[q], cents[c]), c))[:2]
        for r in res:
            if r.query_id == q:
                assert labels[r.neighbor_id] in probed, (q, r.neighbor_id)


def _clustered_embeddings(spark, n_clusters=4, per=25, dim=8):
    """Deterministic direction clusters with small spread — the data shape
    where IVF cells are REAL and residual quantization should shine."""
    rows = []
    vid = 0
    for c in range(n_clusters):
        for j in range(per):
            v = [0.0] * dim
            v[2 * c] = 1.0
            v[(2 * c + 1) % dim] = 0.08 * ((j % 7) - 3)
            v[(2 * c + 2) % dim] = 0.05 * ((j % 5) - 2)
            rows.append((vid, v, c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")


def test_ivf_pq_residual_exactness_invariant(spark):
    """True IVFADC (residual encoding): probing ALL cells with the exact
    re-rank must EQUAL brute force — the end-to-end correctness invariant
    that needs no oracle slot."""
    from pcrawler_spark.operators.knn import brute_force_topk, ivf_pq_residual_topk

    df = _clustered_embeddings(spark)
    q = df.filter(F.col("vec_id") % 25 == 0)
    truth = sorted((r.query_id, r.neighbor_id, r.rank)
                   for r in brute_force_topk(df, q, k=5).collect())
    got = sorted((r.query_id, r.neighbor_id, r.rank)
                 for r in ivf_pq_residual_topk(
                     df, q, dim=8, k=5, n_probe=4, m_sub=4, n_codes=8,
                     n_iter=2, rerank=100).collect())
    assert got == truth


def test_ivf_pq_residual_beats_raw_encoding_on_clusters(spark):
    """On clustered data the residual codebooks quantize the small
    within-cell spread instead of the large between-cell offsets, so the
    ADC-only ranking (no re-rank) must recover the exact within-probed
    top-k at least as well as raw-vector IVF+PQ — the reason production
    IVFADC encodes residuals."""
    from pcrawler_spark.operators.knn import (
        brute_force_topk, ivf_pq_residual_topk, ivf_pq_topk)

    df = _clustered_embeddings(spark)
    q = df.filter(F.col("vec_id") % 25 == 0)
    # exact SQUARED-L2 top-5 (ADC's own metric) restricted to each query's
    # own cluster (= its probed cell under n_probe=1: every query is the
    # cluster's first vector)
    vecs = {r.vec_id: r.embedding for r in df.collect()}
    tpairs = set()
    for qq in (0, 25, 50, 75):
        members = [i for i in vecs if i // 25 == qq // 25 and i != qq]
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(vecs[qq], vecs[i])), i)
            for i in members
        )
        tpairs |= {(qq, i) for _, i in d[:5]}

    def recall(res):
        got = {(r.query_id, r.neighbor_id) for r in res.collect()}
        return len(got & tpairs) / len(tpairs)

    kw = dict(dim=8, k=5, n_probe=1, m_sub=4, n_codes=8, n_iter=2)
    r_res = recall(ivf_pq_residual_topk(df, q, **kw))
    r_raw = recall(ivf_pq_topk(df, q, **kw))
    assert r_res >= r_raw, (r_res, r_raw)
    assert r_res >= 0.6, r_res


def test_sq8_quality_compression_determinism(spark):
    """8-bit scalar quantization (FAISS SQ8 shape): the asymmetric scan over
    codes alone must nearly reproduce exact L2 ranking (per-dim resolution
    range/255 ≫ PQ's subspace granularity), codes must be true bytes
    (dim per vector, 0..255), the fit deterministic, and the exact re-rank
    must recover brute force fully."""
    from pcrawler_spark.operators.knn import (
        brute_force_topk, sq8_encode, sq8_fit, sq8_topk)

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)

    # exact squared-L2 truth (the scan's own metric)
    ev = {r.vec_id: r.embedding for r in e.collect()}
    tpairs = set()
    for qi in range(10):
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(ev[qi], v)), i)
            for i, v in ev.items() if i != qi
        )
        tpairs |= {(qi, i) for _, i in d[:5]}

    got = {(r.query_id, r.neighbor_id)
           for r in sq8_topk(e, q, k=5).collect()}
    recall = len(got & tpairs) / len(tpairs)
    assert recall >= 0.9, f"SQ8 codes-only recall too low: {recall}"

    # with the exact re-rank: equals brute force (cosine metric) row for row
    truth = sorted((r.query_id, r.neighbor_id, r.rank)
                   for r in brute_force_topk(e, q, k=5).collect())
    rr = sorted((r.query_id, r.neighbor_id, r.rank)
                for r in sq8_topk(e, q, k=5, rerank=50).collect())
    assert rr == truth

    bounds = sq8_fit(e)
    enc = sq8_encode(e, bounds).collect()
    assert all(len(r.codes) == 64 for r in enc)
    assert all(0 <= c <= 255 for r in enc for c in r.codes)
    enc2 = sq8_encode(e, sq8_fit(e)).collect()
    assert sorted((r.id, tuple(r.codes)) for r in enc) == \
           sorted((r.id, tuple(r.codes)) for r in enc2)


def test_ivf_sq8_exactness_and_pruning(spark):
    """ivf_sq8_topk (IVF cells + SQ8 codes — the composition sq8_topk's
    docstring promises): probing ALL cells with the exact re-rank must
    EQUAL brute force, and under probe-1 every neighbor must come from the
    query's single probed cell — pruning is real, not decorative."""
    import math
    from pcrawler_spark.operators.knn import (
        brute_force_topk, ivf_build, ivf_sq8_topk)

    df = _clustered_embeddings(spark)
    q = df.filter(F.col("vec_id") % 25 == 0)
    truth = sorted((r.query_id, r.neighbor_id, r.rank)
                   for r in brute_force_topk(df, q, k=5).collect())
    got = sorted((r.query_id, r.neighbor_id, r.rank)
                 for r in ivf_sq8_topk(df, q, k=5, n_probe=4,
                                       rerank=100).collect())
    assert got == truth

    res = ivf_sq8_topk(df, q, k=5, n_probe=1).collect()
    assert len(res) > 0
    labels = {r.vec_id: r.label for r in df.collect()}
    cents = {r.cell: r.centroid for r in ivf_build(df).collect()}
    qvecs = {r.vec_id: r.embedding for r in q.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a))
                          * math.sqrt(sum(y * y for y in b))), 6)

    for qq, v in qvecs.items():
        probed = min(cents, key=lambda c: (-cos(v, cents[c]), c))
        for r in res:
            if r.query_id == qq:
                assert labels[r.neighbor_id] == probed, (qq, r.neighbor_id)


def test_q54_clustered_recall_at_probe_budget(spark):
    """The driver-checked q54 config (probe-2/16 = 12.5% corpus coverage,
    ADC m=16×32, re-rank 50) must demonstrate RETRIEVAL on the
    planted-cluster table: recall@5 ≥ 0.9 vs brute force at the same
    budget (r4's clusterless config capped at probe coverage ≈ 0.32)."""
    from pcrawler_spark.operators.knn import brute_force_topk
    from pcrawler_spark.sources.synthetic import planted_cluster_embeddings

    e = planted_cluster_embeddings(
        spark.read.parquet(SF_DIR + "/embeddings.parquet"))
    q = e.filter(F.col("vec_id") < 10)
    tset = {(r.query_id, r.neighbor_id)
            for r in brute_force_topk(e, q, k=5).collect()}
    gset = {(r.query_id, r.neighbor_id)
            for r in entry_mod.q54_ivf_pq_topk(spark, SF_DIR).collect()}
    recall = len(gset & tset) / len(tset)
    assert recall >= 0.9, f"clustered IVF+PQ recall@5 too low: {recall}"
