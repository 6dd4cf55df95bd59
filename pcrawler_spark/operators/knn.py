"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline: queries × corpus dot
  products as JVM-side ``zip_with``/``aggregate`` higher-order functions
  (no UDF), ranked per query.  Cosines are computed in double and rounded
  before ranking so results are stable across engines.
* IVF (inverted-file) top-k — the scale path: coarse cells (per-label
  centroids, or learned spherical k-means cells), queries probe only the
  nearest ``n_probe`` cells.  Cuts the candidate set by the cell fan-in —
  on a 1000-executor cluster the cell assignment is the shuffle key, so
  each query touches a few partitions instead of the whole corpus.
* compressed-code scans — product quantization (PQ/ADC), IVF+PQ, true
  IVFADC over cell residuals, and 8-bit scalar quantization (SQ8, flat or
  behind IVF cells).  Each ranks candidates by an exact integer-ppm
  asymmetric distance and can hand its top-``rerank`` list to an
  exact-cosine re-rank over the full vectors.
* near-duplicate pairs — exact all-pairs cosine and random-hyperplane LSH.

Every path is assembled from one private helper per idea: ``_vecs`` /
``_queries`` (the id + ``array<double>`` projection), ``_ranked`` /
``_cos_topk`` (the per-query ``row_number`` top-k), ``_probe`` (the
query × centroid ``n_probe`` window), ``_adc_table`` / ``_adc_scores`` (PQ
lookup tables and their per-(query, doc) sums), ``_sq8_scores``,
``_rerank`` (exact-cosine re-rank of a candidate list) and ``_lloyd`` (the
driver-paced Lloyd loop behind both :func:`kmeans_fit` and :func:`pq_fit`).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _rcos(a, b, round_dp: int = 6):
    return F.round(cosine_similarity_col(a, b), round_dp)


def _sq_l2(a, b):
    """Σ (a_i - b_i)² as a sequential JVM fold — the same summation shape
    the DuckDB oracle replays (list_dot_product of the difference list)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _vecs(df: DataFrame, id_col: str, vec_col: str, id_as: str = "id",
          vec_as: str = "v", *extra) -> DataFrame:
    """The (id, ``array<double>`` vector) projection, plus ``extra`` columns."""
    return df.select(
        F.col(id_col).alias(id_as), F.col(vec_col).cast("array<double>").alias(vec_as), *extra
    )


def _queries(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return _vecs(queries, id_col, vec_col, "query_id", "qv")


def _ranked(df: DataFrame, order: list, k: int, name: str = "rank") -> DataFrame:
    """The first ``k`` rows per query by ``order`` (row_number as ``name``)."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn(name, F.row_number().over(w).cast("long")).filter(F.col(name) <= k)


def _cos_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k by rounded cosine with neighbor-id tiebreak:
    (query_id, neighbor_id, rank, cos)."""
    return _ranked(scored, [F.col("cos").desc(), F.col("neighbor_id").asc()], k).select(
        "query_id", "neighbor_id", "rank", "cos"
    )


def _rerank(corpus: DataFrame, cand: DataFrame, q: DataFrame, k: int,
            id_col: str, vec_col: str) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor_id) candidate list on
    FULL vectors (Jégou et al. TPAMI'11 §V.A).  The list is |queries| ×
    rerank rows — tiny vs the corpus, so it is broadcast and the
    full-vector side is probed in place, never shuffled; queries broadcast."""
    scored = (
        _vecs(corpus, id_col, vec_col, "neighbor_id", "cv")
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cos", _rcos("qv", "cv"))
    )
    return _cos_topk(scored, k)


def _probe(q: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """Each query's ``n_probe`` nearest cells by rounded centroid cosine
    (cell-id tiebreak).  The centroid table is tiny and broadcast; rows
    keep (query_id, qv, cell, centroid)."""
    return _ranked(
        q.crossJoin(F.broadcast(cents)).withColumn("cell_cos", _rcos("qv", "centroid")),
        [F.col("cell_cos").desc(), F.col("cell").asc()], n_probe, name="cell_rank",
    )


def _cells(corpus: DataFrame, id_col: str, cell_col: str) -> DataFrame:
    return corpus.select(F.col(id_col).alias("id"), F.col(cell_col).alias("cell"))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_dp: int = 6) -> DataFrame:
    """Exact cosine top-k: returns (query_id, neighbor_id, rank, cos).

    Self-matches are excluded.  Ranking uses the rounded cosine with
    neighbor-id tiebreak, making the output deterministic and portable.
    """
    scored = (
        _queries(queries, id_col, vec_col)
        .crossJoin(_vecs(corpus, id_col, vec_col, "neighbor_id", "cv"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _rcos(F.col("qv"), F.col("cv"), round_dp))
    )
    return _cos_topk(scored, k)


def cosine_near_pairs(df: DataFrame, threshold: float = 0.9,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      round_dp: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact baseline (all pairs with
    rounded cosine ≥ threshold).  O(n²): the exactness yardstick for the
    hyperplane-LSH scale path below; at 100 TB run that one instead."""
    e = _vecs(df, id_col, vec_col)
    return (
        e.alias("a").crossJoin(e.alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("cos", _rcos(F.col("a.v"), F.col("b.v"), round_dp))
        .filter(F.col("cos") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cos")
    )


def _hyperplane_matrix(n_bits: int, dim: int) -> list[list[float]]:
    """±1 hyperplane weights computed ONCE on the driver from a portable md5
    rule — w_seed[i] = +1 iff the low bit of md5(f"{seed}:{i}")[:8] is set —
    that any engine can reproduce (the tests replay it per element in the
    JVM as a differential oracle).  Replaces n_bits × dim JVM md5 calls PER
    VECTOR with a constant literal lookup."""
    out = []
    for s in range(n_bits):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{s}:{i}".encode()).hexdigest()[:8], 16)
            row.append(1.0 if h & 1 else -1.0)
        out.append(row)
    return out


def hyperplane_lsh_pairs(df: DataFrame, dim: int, threshold: float = 0.9,
                         n_bits: int = 16, max_hamming: int = 3,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         round_dp: int = 6) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane signatures
    (n_bits sign bits) + pigeonhole banding on the signature (any pair with
    ≤ max_hamming differing bits collides on ≥1 block) + exact cosine
    filter.  Scales as O(n × n_bits) + a block equi-join instead of O(n²);
    P[bit differs] = angle/π, so near-identical vectors almost always land
    within the Hamming budget (recall measured against
    :func:`cosine_near_pairs` in tests).

    ``dim`` is the embedding dimension (part of the table contract): the ±1
    hyperplane matrix is precomputed on the driver, signatures cost one
    zip_with per bit, and vectors of any other length fail loudly."""
    from .simdedup import simhash_blocks

    e = _vecs(df, id_col, vec_col)
    e = e.withColumn(
        "v",
        F.when(F.size("v") == dim, F.col("v")).otherwise(
            F.raise_error(F.lit(f"hyperplane_lsh_pairs: expected dim={dim}"))
        ),
    )
    # ONE py4j call per row (array literal from a Python list), not one
    # per ELEMENT: the n_bits × dim F.lit storm was the dominant cost
    # of building this plan (16×64 = 1024 driver round-trips)
    wcols = [F.lit([float(x) for x in row]) for row in _hyperplane_matrix(n_bits, dim)]
    sig = None
    for s in range(n_bits):
        dot = F.aggregate(
            F.zip_with(F.col("v"), wcols[s], lambda x, w: x * w),
            F.lit(0.0), lambda a, x: a + x,
        )
        bit = F.when(dot > 0, 1).otherwise(0).cast("long") * F.lit(1 << s).cast("long")
        sig = bit if sig is None else (sig + bit)
    e = e.withColumn("sig", sig)
    blocks = F.array(*[
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftright(F.col("sig"), off).bitwiseAND(F.lit((1 << w) - 1)).alias("val"),
        )
        for i, (off, w) in enumerate(simhash_blocks(n_bits, max_hamming))
    ])
    keyed = e.select("id", "v", "sig", F.explode(blocks).alias("b")).select(
        "id", "v", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )
    return (
        keyed.alias("a").join(keyed.alias("b"), on=["blk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            _rcos(F.col("a.v"), F.col("b.v"), round_dp).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def _lloyd(cents: dict, to_df, assign, keys: list, vec: str, n_iter: int) -> DataFrame:
    """Driver-paced Lloyd iterations shared by :func:`kmeans_fit` and
    :func:`pq_fit`.  ``cents`` maps key tuples (values of ``keys``) to
    centroid lists; ``to_df(cents)`` turns it into the broadcastable
    centroid table and ``assign(table)`` returns each member's ``keys`` plus
    its ``vec``.  Each iteration is one distributed assign + one
    per-dimension AVG update, and only the centroid table is collected —
    one bounded driver action per iteration, which keeps the lineage flat.
    Centroids with no members this round keep their old value."""
    for _ in range(n_iter):
        upd = (
            assign(to_df(cents))
            .select(*keys, F.posexplode(vec).alias("pos", "val"))
            .groupBy(*keys, "pos")
            .agg(F.avg("val").alias("c"))
            .collect()
        )
        new: dict = {}
        for r in upd:
            new.setdefault(tuple(r[c] for c in keys), {})[r["pos"]] = r["c"]
        for key, by_pos in new.items():
            cents[key] = [by_pos[p] for p in sorted(by_pos)]
    return to_df(cents)


def _table(spark, schema: str):
    """``to_df`` for :func:`_lloyd`: centroid dict → DataFrame, key-sorted."""
    return lambda cents: spark.createDataFrame(
        [(*key, v) for key, v in sorted(cents.items())], schema)


def assign_cells(corpus_e: DataFrame, cents: DataFrame, round_dp: int = 6) -> DataFrame:
    """Assign each (id, v) row to its max-cosine cell (rounded cosine,
    cell-id tiebreak — deterministic and engine-portable).  The centroid
    table is tiny (n_cells rows) and broadcast.

    The argmax is ONE map-side-combinable aggregation — max over a
    ``(cosine, -cell)`` struct (the negated cell turns the asc tiebreak
    into a max) — instead of the former row_number window: the n_cells-wide
    candidate rows combine to one row per id BEFORE the exchange and the
    per-partition sort disappears (r7; identical output, pinned by the
    q30/q49 oracles).  ``(_cc, _nc)`` is unique per id (cells are
    distinct), so the trailing cell/v fields never participate in the
    comparison."""
    return (
        corpus_e.crossJoin(F.broadcast(cents))
        .withColumn("_cc", _rcos(F.col("v"), F.col("centroid"), round_dp))
        .groupBy("id")
        .agg(F.max(F.struct(
            F.col("_cc"), (-F.col("cell")).alias("_nc"), F.col("cell"), F.col("v")
        )).alias("_m"))
        .select("id", F.col("_m.v").alias("v"), F.col("_m.cell").alias("cell"))
    )


def kmeans_fit(corpus: DataFrame, n_cells: int = 8, n_iter: int = 3,
               id_col: str = "vec_id", vec_col: str = "embedding",
               round_dp: int = 6) -> DataFrame:
    """LEARNED coarse cells: spherical k-means (assign = max rounded cosine,
    update = per-dimension mean) as plain DataFrame ops.

    * init (the q49 oracle contract): the ``n_cells`` smallest-id vectors —
      deterministic and reproducible by any engine (no RNG seed to ship);
    * each Lloyd iteration is one distributed assign (:func:`assign_cells`)
      and one distributed update (:func:`_lloyd`) — bounded driver actions:
      n_iter + 1, payload a few KB;
    * empty cells keep their previous centroid.

    Returns a (cell int, centroid array<double>) DataFrame."""
    e = _vecs(corpus, id_col, vec_col)
    cents = {(i,): list(r["v"]) for i, r in enumerate(e.orderBy("id").limit(n_cells).collect())}
    return _lloyd(
        cents, _table(corpus.sparkSession, "cell int, centroid array<double>"),
        lambda c: assign_cells(e, c, round_dp), ["cell"], "v", n_iter,
    )


def ivf_build(corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
              cell_col: str = "label") -> DataFrame:
    """Coarse-cell centroids (here cells = the given column; :func:`kmeans_fit`
    produces the same shape).  Returns (cell, centroid array<double>)."""
    exploded = corpus.select(
        F.col(cell_col).alias("cell"), F.posexplode(F.col(vec_col).cast("array<double>"))
    )
    return (
        exploded.groupBy("cell", "pos")
        .agg(F.avg("col").alias("v"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("cell", F.transform("pv", lambda s: s["v"]).alias("centroid"))
    )


def _ivf_cos_topk(q: DataFrame, cents: DataFrame, members: DataFrame,
                  n_probe: int, k: int) -> DataFrame:
    """Exact cosine top-k over the ``members`` (neighbor_id, cv, cell) of
    each query's ``n_probe`` nearest cells."""
    scored = (
        _probe(q, cents, n_probe).select("query_id", "qv", "cell")
        .join(members, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _rcos("qv", "cv"))
    )
    return _cos_topk(scored, k)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             cell_col: str = "label") -> DataFrame:
    """ANN: probe the n_probe nearest cells only, exact rank within them."""
    members = _vecs(corpus, id_col, vec_col, "neighbor_id", "cv", F.col(cell_col).alias("cell"))
    return _ivf_cos_topk(_queries(queries, id_col, vec_col),
                         ivf_build(corpus, id_col, vec_col, cell_col), members, n_probe, k)


def ivf_topk_learned(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     n_probe: int = 2, n_cells: int = 8, n_iter: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN over LEARNED k-means cells: fit, assign the corpus, probe the
    ``n_probe`` nearest cells per query, exact-rank inside them.  Same probe
    shape as :func:`ivf_topk` but the cells come from :func:`kmeans_fit`
    instead of a pre-existing label column."""
    cents = kmeans_fit(corpus, n_cells, n_iter, id_col, vec_col)
    members = assign_cells(_vecs(corpus, id_col, vec_col), cents).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell"
    )
    return _ivf_cos_topk(_queries(queries, id_col, vec_col), cents, members, n_probe, k)


def _subvectors(df: DataFrame, m_sub: int, sub_dim: int, keys=("id",),
                vec: str = "v") -> DataFrame:
    """(*keys, sub, sv) rows: contiguous ``sub_dim``-wide slices of ``vec``."""
    slices = F.explode(F.array(*[
        F.struct(F.lit(s).alias("sub"), F.slice(F.col(vec), s * sub_dim + 1, sub_dim).alias("sv"))
        for s in range(m_sub)
    ]))
    return df.select(*keys, slices.alias("_s")).select(*keys, "_s.sub", "_s.sv")


def _nearest_code(sv: DataFrame, codebook: DataFrame, round_dp: int, *carry) -> DataFrame:
    """(id, sub, code, *carry): each (id, sub) subvector's nearest codebook
    entry by rounded squared L2, code-id tiebreak.  The argmin is ONE
    map-side-combinable struct-min aggregation, not a row_number window
    (r7): the n_codes candidate rows per (id, sub) combine before the
    exchange and the per-partition sort disappears.  (_d, code) is unique
    within the group, so ``carry`` fields ride along without being compared."""
    return (
        sv.join(F.broadcast(codebook), "sub")
        .withColumn("_d", F.round(_sq_l2(F.col("sv"), F.col("cvec")), round_dp))
        .groupBy("id", "sub")
        .agg(F.min(F.struct("_d", "code", *carry)).alias("_m"))
        .select("id", "sub", "_m.code", *[f"_m.{c}" for c in carry])
    )


def pq_fit(corpus: DataFrame, dim: int, m_sub: int = 4, n_codes: int = 8,
           n_iter: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
           round_dp: int = 6, init: str = "minid",
           fit_sample_mod: int | None = None) -> DataFrame:
    """Product-quantization codebooks (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11 — public): the vector is split
    into ``m_sub`` contiguous subspaces and each subspace gets its own
    ``n_codes``-entry L2 k-means codebook, so a dim-D float vector
    compresses to ``m_sub`` bytes of codes — the only way 10^10 embeddings
    fit in cluster RAM for the re-rank scan.

    Same determinism discipline as :func:`kmeans_fit` (q49): min-id init,
    assign = argmin ROUNDed squared L2 with code-id tiebreak, update =
    per-dimension AVG, empty codes keep their centroid; every Lloyd
    iteration is one broadcast-join assign + one groupBy update, with only
    the m_sub × n_codes × (dim/m_sub) codebook collected per iteration.

    ``fit_sample_mod``: fit the codebooks on a DETERMINISTIC hash sample
    of the corpus (portable 32-bit md5 hash of the id ≡ 0 mod this value
    — replayable in any engine) instead of every vector.  This is the
    production PQ discipline (FAISS trains on ~max(10⁴, 40·k) vectors,
    not the corpus): at 10^10 vectors a full-corpus Lloyd pass per
    iteration is pure waste — codebook quality converges on a sample, and
    the re-rank stage absorbs the residual quantization noise.  ``None``
    keeps the fit-on-everything behavior.  If the sample carries fewer
    than ``n_codes`` vectors (tiny corpus), the fit silently falls back
    to the FULL corpus rather than emit an under-sized codebook; callers
    that replay the sampled fit in SQL (q53's oracle) must therefore keep
    sample_size ≥ n_codes (q53: ~125 ≫ 32).

    Returns (sub int, code int, cvec array<double>)."""
    if dim % m_sub:
        raise ValueError(f"dim={dim} not divisible by m_sub={m_sub}")
    sub_dim = dim // m_sub
    e = _vecs(corpus, id_col, vec_col)
    init_rows = None
    if fit_sample_mod:
        from .simdedup import _h32

        sampled = e.where(_h32(F.col("id").cast("string")) % fit_sample_mod == 0)
        # guard: on a small corpus the hash sample can carry fewer vectors
        # than n_codes (or none), silently under-sizing the codebook and
        # degrading every downstream encode/topk — fall back to the full
        # corpus then.  For min-id init the guard IS the init collect (the
        # first n_codes sampled rows by id), so the two driver jobs fuse
        # into one (r7); the distinct-init path keeps the cheap
        # limit-count guard.
        if init == "minid":
            rows = sampled.orderBy("id").limit(n_codes).collect()
            if len(rows) >= n_codes:
                e = sampled
                init_rows = rows
        elif sampled.limit(n_codes).count() >= n_codes:
            e = sampled
    sv = _subvectors(e, m_sub, sub_dim)

    if init == "distinct":
        # per-subspace first-n_codes DISTINCT subvectors (by min owning id):
        # the min-id init degenerates when the n_codes smallest ids share
        # identical subvectors in some subspace (e.g. residuals of one
        # tight cell are all-zero outside its spread dims) — every initial
        # code collapses to the same point, Lloyd funnels all members into
        # code 0, and that subspace quantizes to a constant.  Distinct init
        # is still RNG-free and engine-reproducible; a subspace with fewer
        # than n_codes distinct subvectors just carries fewer codes.
        w0 = Window.partitionBy("sub").orderBy(F.col("mid").asc())
        seed_rows = (
            sv.groupBy("sub", "sv").agg(F.min("id").alias("mid"))
            .withColumn("_rn", F.row_number().over(w0))
            .filter(F.col("_rn") <= n_codes)
            .collect()
        )
        cb = {(r["sub"], r["_rn"] - 1): list(r["sv"]) for r in seed_rows}
    else:
        rows0 = init_rows if init_rows is not None else \
            e.orderBy("id").limit(n_codes).collect()
        cb = {
            (s, c): list(r["v"])[s * sub_dim:(s + 1) * sub_dim]
            for c, r in enumerate(rows0) for s in range(m_sub)
        }
    return _lloyd(
        cb, _table(corpus.sparkSession, "sub int, code int, cvec array<double>"),
        lambda c: _nearest_code(sv, c, round_dp, "sv"), ["sub", "code"], "sv", n_iter,
    )


def pq_encode(corpus: DataFrame, codebook: DataFrame, dim: int, m_sub: int,
              id_col: str = "vec_id", vec_col: str = "embedding",
              round_dp: int = 6) -> DataFrame:
    """(id, sub, code): each subvector assigned to its nearest codebook
    entry (:func:`_nearest_code`).  This is the compressed corpus — m_sub
    small ints per vector; at 10^10 vectors this stage touches every
    vector, so its map-side argmin matters.  Pinned by the q53/q54/q58
    oracles."""
    sv = _subvectors(_vecs(corpus, id_col, vec_col), m_sub, dim // m_sub)
    return _nearest_code(sv, codebook, round_dp)


def _adc_table(q: DataFrame, cb: DataFrame, m_sub: int, sub_dim: int,
               keys=("query_id",), vec: str = "qv") -> DataFrame:
    """Per-query ADC lookup table (*keys, sub, code, d_ppm): squared L2
    from each query subvector (of ``vec`` — the query, or its residual
    against a probed cell) to each codebook entry, floored to integer ppm.
    m_sub × n_codes rows per key — tiny, always broadcast."""
    return (
        _subvectors(q, m_sub, sub_dim, keys, vec)
        .join(F.broadcast(cb), "sub")
        .select(
            *keys, "sub", "code",
            F.floor(F.lit(1_000_000.0) * _sq_l2(F.col("sv"), F.col("cvec")))
            .cast("long").alias("d_ppm"),
        )
    )


def _adc_scores(enc: DataFrame, dt: DataFrame, on: list) -> DataFrame:
    """(query_id, neighbor_id, adist_ppm): the encoded corpus streams
    map-side against the broadcast ADC table, and a doc's distance is the
    SUM of its per-sub lookups — an exact long (floor-ppm per sub), so the
    sum is order-free and bit-identical across engines.  Self-pairs
    excluded."""
    return (
        enc.join(F.broadcast(dt), on)
        .filter(F.col("query_id") != F.col("id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("d_ppm").alias("adist_ppm"))
    )


def _adc_topk(scored: DataFrame, k: int, rerank: int | None, corpus: DataFrame,
              q: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Top-k by ``adist_ppm`` (neighbor-id tiebreak) →
    (query_id, neighbor_id, rank, adist_ppm); with ``rerank`` the top-
    ``rerank`` candidates go through :func:`_rerank` instead →
    (query_id, neighbor_id, rank, cos)."""
    adc = _ranked(scored, [F.col("adist_ppm").asc(), F.col("neighbor_id").asc()],
                  k if rerank is None else rerank)
    if rerank is None:
        return adc.select("query_id", "neighbor_id", "rank", "adist_ppm")
    return _rerank(corpus, adc.select("query_id", "neighbor_id"), q, k, id_col, vec_col)


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                n_probe: int = 2, m_sub: int = 16, n_codes: int = 32,
                n_iter: int = 2, id_col: str = "vec_id",
                vec_col: str = "embedding", cell_col: str = "label",
                rerank: int | None = None) -> DataFrame:
    """The production 10^10-vector ANN shape: IVF coarse cells prune the
    candidate set (each query touches ``n_probe`` cells ≈ n_probe/n_cells
    of the corpus), then the ADC scan ranks ONLY the probed cells' members
    through their PQ codes — full vectors are never rescanned.  Cells here
    are the ``cell_col`` column (same contract as :func:`ivf_topk`; swap in
    :func:`kmeans_fit` cells for the learned variant).  With ``rerank``
    set, the ADC top-``rerank`` candidates get the exact-cosine re-rank
    stage — the full FAISS-style IVF→ADC→re-rank composition; the
    full-vector probe still touches only the broadcast candidate list,
    never an unprobed cell.

    Plan: centroids and ADC tables broadcast; the encoded corpus is
    partitioned by cell, so a probe is a partition-pruned join, and the
    per-(query, doc) sum is an exact long (see :func:`pq_topk`).

    Returns (query_id, neighbor_id, rank, adist_ppm) — or
    (query_id, neighbor_id, rank, cos) when ``rerank`` is set."""
    cents = ivf_build(corpus, id_col, vec_col, cell_col)
    cb = pq_fit(corpus, dim, m_sub, n_codes, n_iter, id_col, vec_col)
    enc = pq_encode(corpus, cb, dim, m_sub, id_col, vec_col).join(
        _cells(corpus, id_col, cell_col), "id")
    q = _queries(queries, id_col, vec_col)
    probes = _probe(q, cents, n_probe).select("query_id", "cell")
    scored = _adc_scores(enc.join(F.broadcast(probes), "cell"),
                         _adc_table(q, cb, m_sub, dim // m_sub), ["query_id", "sub", "code"])
    return _adc_topk(scored, k, rerank, corpus, q, id_col, vec_col)


def pq_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
            m_sub: int = 4, n_codes: int = 8, n_iter: int = 2,
            id_col: str = "vec_id", vec_col: str = "embedding",
            fit_sample_mod: int | None = None) -> DataFrame:
    """ANN by asymmetric distance computation (ADC) over PQ codes: each
    query precomputes an m_sub × n_codes distance table against the
    codebooks (tiny — broadcast), then a document's approximate distance is
    the SUM of m_sub table lookups over its codes; the corpus is touched
    only through its (id, sub, code) encoding — the full vectors never
    rescan.  Plan shape at 10^10 vectors: the encoded corpus streams
    map-side against the broadcast table (no shuffle), one partial-agg sum
    per (query, doc), one top-k window.  Combine with the IVF cell filter
    (:func:`ivf_pq_topk`) to prune candidates before the ADC scan.

    Per-sub distances are floored to integer ppm (the floor-ppm discipline
    of textstats) so the cross-doc SUM is an exact long — order-free and
    bit-identical across engines.

    Returns (query_id, neighbor_id, rank, adist_ppm)."""
    cb = pq_fit(corpus, dim, m_sub, n_codes, n_iter, id_col, vec_col,
                fit_sample_mod=fit_sample_mod)
    enc = pq_encode(corpus, cb, dim, m_sub, id_col, vec_col)
    q = _queries(queries, id_col, vec_col)
    scored = _adc_scores(enc, _adc_table(q, cb, m_sub, dim // m_sub), ["sub", "code"])
    return _adc_topk(scored, k, None, corpus, q, id_col, vec_col)


def ivf_pq_residual_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                         k: int = 5, n_probe: int = 2, m_sub: int = 16,
                         n_codes: int = 32, n_iter: int = 2,
                         rerank: int | None = None, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         cell_col: str = "label") -> DataFrame:
    """True IVFADC (Jégou et al. TPAMI'11 §III.C): PQ codebooks are fit on
    the RESIDUALS ``v − centroid(cell)``, not the raw vectors — the
    textbook production detail :func:`ivf_pq_topk` omits.  Residuals have
    far smaller variance than raw vectors when cells capture real
    clusters, so the same code budget quantizes them much more finely;
    each query then builds one ADC table PER PROBED CELL against its own
    residual ``q − centroid(cell)``.

    Scale shape: centroids, probe lists and the per-(query, cell) ADC
    tables (n_probe × m_sub × n_codes rows per query — still tiny) are
    broadcast; the encoded-residual corpus streams map-side exactly like
    :func:`pq_topk`; the optional ``rerank`` exact-cosine stage probes
    full vectors only through the broadcast candidate list.

    Sanity invariant (pinned in pytest): with ``n_probe`` = all cells and
    ``rerank`` set, the result EQUALS brute force.

    Returns (query_id, neighbor_id, rank, adist_ppm) — or
    (query_id, neighbor_id, rank, cos) when ``rerank`` is set."""
    cents = ivf_build(corpus, id_col, vec_col, cell_col)
    resid = (
        _vecs(corpus, id_col, vec_col, "id", "v", F.col(cell_col).alias("cell"))
        .join(F.broadcast(cents), "cell")
        .select("id", "cell", F.zip_with("v", "centroid", lambda a, b: a - b).alias("rv"))
    )
    # distinct init: residuals of a tight cell are all-zero outside its
    # spread dims, so min-id init would hand some subspaces n_codes copies
    # of the same point (see pq_fit)
    cb = pq_fit(resid, dim, m_sub, n_codes, n_iter, id_col="id", vec_col="rv",
                init="distinct")
    enc = pq_encode(resid, cb, dim, m_sub, id_col="id", vec_col="rv").join(
        resid.select("id", "cell"), "id"
    )
    q = _queries(queries, id_col, vec_col)
    probes = _probe(q, cents, n_probe).select(
        "query_id", "cell", F.zip_with("qv", "centroid", lambda a, b: a - b).alias("qrv"),
    )
    # per-(query, probed cell) ADC table over the QUERY RESIDUAL
    dt = _adc_table(probes, cb, m_sub, dim // m_sub, keys=("query_id", "cell"), vec="qrv")
    scored = _adc_scores(enc, dt, ["cell", "sub", "code"])
    return _adc_topk(scored, k, rerank, corpus, q, id_col, vec_col)


def pq_rerank_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                   rerank: int = 50, m_sub: int = 4, n_codes: int = 8,
                   n_iter: int = 2, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   fit_sample_mod: int | None = None) -> DataFrame:
    """PQ ANN with the standard exact re-rank stage (Jégou et al. TPAMI'11
    §V.A: "re-ranking with source coding"): the ADC scan selects a top-
    ``rerank`` candidate set per query through the compressed codes alone,
    then exact cosine on FULL vectors ranks the final top-k — recall
    recovers to ~brute-force while the full-vector scan touches only
    rerank/|corpus| of the data.

    Scale shape: stage 1 is :func:`pq_topk`'s map-side ADC (corpus touched
    only via (id, sub, code)); stage 2 (:func:`_rerank`) joins the
    rerank×|queries| candidate ids (tiny, broadcast) back to the corpus —
    never a rescan; queries broadcast.

    Returns (query_id, neighbor_id, rank, cos)."""
    cand = pq_topk(corpus, queries, dim, k=rerank, m_sub=m_sub,
                   n_codes=n_codes, n_iter=n_iter, id_col=id_col,
                   vec_col=vec_col,
                   fit_sample_mod=fit_sample_mod).select("query_id", "neighbor_id")
    return _rerank(corpus, cand, _queries(queries, id_col, vec_col), k, id_col, vec_col)


def sq8_fit(corpus: DataFrame, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """Per-dimension [min, max] bounds for 8-bit scalar quantization (the
    FAISS SQ8 shape — the OTHER standard ANN compression next to PQ:
    4× smaller than float32 at per-dim resolution range/255, vs PQ's
    far coarser m_sub bytes/vector).  Returns (pos, vmin, vmax) — dim
    rows, always collected/broadcast."""
    return (
        corpus.select(F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("pos")
        .agg(F.min("col").alias("vmin"), F.max("col").alias("vmax"))
    )


def _sq8_bounds_arrays(bounds: DataFrame):
    """Collect the (dim-row) bounds into literal arrays (vmin[], scale[])
    — one bounded driver action, KBs."""
    rows = sorted((r["pos"], r["vmin"], r["vmax"]) for r in bounds.collect())
    vmin = [r[1] for r in rows]
    scale = [max((r[2] - r[1]) / 255.0, 1e-30) for r in rows]
    return (
        F.lit([float(x) for x in vmin]),
        F.lit([float(x) for x in scale]),
    )


def sq8_encode(corpus: DataFrame, bounds: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding",
               _arrays=None) -> DataFrame:
    """(id, codes array<smallint> in [0, 255]): each dimension rounded to
    its 8-bit level.  Pure JVM transform — no shuffle, no UDF.

    ``_arrays``: precomputed ``_sq8_bounds_arrays`` literals — callers that
    already collected the bounds (sq8_topk / ivf_sq8_topk) pass them so the
    bounds aggregation runs ONCE, not once per consumer."""
    vmin, scale = _arrays if _arrays is not None else _sq8_bounds_arrays(bounds)
    v = F.col(vec_col).cast("array<double>")
    codes = F.transform(
        v,
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round((x - F.element_at(vmin, i + 1)) / F.element_at(scale, i + 1)).cast("int"),
            ),
        ).cast("smallint"),
    )
    return corpus.select(F.col(id_col).alias("id"), codes.alias("codes"))


def _sq8_codes(corpus: DataFrame, id_col: str, vec_col: str):
    """Fit + encode the corpus once: (encoded frame, vmin[], scale[])."""
    bounds = sq8_fit(corpus, id_col, vec_col)
    vmin, scale = _sq8_bounds_arrays(bounds)
    return sq8_encode(corpus, bounds, id_col, vec_col, _arrays=(vmin, scale)), vmin, scale


def _sq8_scores(pairs: DataFrame, vmin, scale) -> DataFrame:
    """Asymmetric SQ8 distance for each (query, doc) pair row — the full-
    precision query ``qv`` against the doc's ``codes`` decoded on the fly
    inside the fold — as floor-ppm squared L2 (``adist_ppm``).  Self-pairs
    excluded; the doc ``id`` becomes ``neighbor_id``."""
    decoded = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(vmin, i + 1) + c.cast("double") * F.element_at(scale, i + 1),
    )
    return (
        pairs.filter(F.col("query_id") != F.col("id"))
        .withColumn("adist_ppm",
                    F.floor(F.lit(1_000_000.0) * _sq_l2(decoded, F.col("qv"))).cast("long"))
        .withColumnRenamed("id", "neighbor_id")
    )


def sq8_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             rerank: int | None = None, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Asymmetric SQ8 scan: queries stay full-precision, the corpus is
    touched only through its 8-bit codes (decoded on the fly inside the
    distance fold — the stored column is 4× smaller than float32 and 8×
    smaller than this table's float64).  Squared-L2 ranking with the
    floor-ppm integer discipline; optional exact-cosine ``rerank`` stage
    identical to :func:`pq_rerank_topk`'s.

    Scale shape: per-dim bounds + queries broadcast; the encoded corpus
    streams map-side (no shuffle before the per-query top-k window); for
    candidate PRUNING compose with the IVF cell filter —
    :func:`ivf_sq8_topk` — SQ8 replaces the codes, not the index.

    Returns (query_id, neighbor_id, rank, adist_ppm), or cos with rerank."""
    enc, vmin, scale = _sq8_codes(corpus, id_col, vec_col)
    q = _queries(queries, id_col, vec_col)
    scored = _sq8_scores(enc.crossJoin(F.broadcast(q)), vmin, scale)
    return _adc_topk(scored, k, rerank, corpus, q, id_col, vec_col)


def ivf_sq8_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 n_probe: int = 2, rerank: int | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 cell_col: str = "label") -> DataFrame:
    """IVF cell pruning composed with SQ8 codes — the composition
    :func:`sq8_topk`'s docstring promises: each query probes its
    ``n_probe`` nearest cells (by centroid cosine, q30's contract) and the
    asymmetric SQ8 scan ranks ONLY the probed cells' members through their
    8-bit codes; unprobed cells are never scanned, full vectors are
    touched only by the optional exact-cosine ``rerank`` stage through the
    broadcast candidate list.

    Plan shape at 10^10 vectors: centroids, probe lists and queries
    broadcast; the encoded corpus (4× smaller than float32) is partitioned
    by cell so a probe is a partition-pruned join; distances are a pure
    JVM fold over the decoded codes — no UDF, no shuffle before the
    per-query top-k window.

    Sanity invariant (pinned in pytest): ``n_probe`` = all cells with
    ``rerank`` set EQUALS brute force, row for row.

    Returns (query_id, neighbor_id, rank, adist_ppm) — or
    (query_id, neighbor_id, rank, cos) when ``rerank`` is set."""
    cents = ivf_build(corpus, id_col, vec_col, cell_col)
    enc, vmin, scale = _sq8_codes(corpus, id_col, vec_col)
    enc = enc.join(_cells(corpus, id_col, cell_col), "id")
    q = _queries(queries, id_col, vec_col)
    probes = _probe(q, cents, n_probe).select("query_id", "cell")
    pairs = enc.join(F.broadcast(probes), "cell").join(F.broadcast(q), "query_id")
    return _adc_topk(_sq8_scores(pairs, vmin, scale), k, rerank, corpus, q, id_col, vec_col)
