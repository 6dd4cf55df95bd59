"""The ``dedup`` workload: the JVM-side, shuffle- and aggregation-bound
text work with no HTML.  One run is two parts over seeded inputs:

* ``training``: ``training_pipeline`` over ``generate_training_docs``
  docs whose ids start at a seed-derived offset;
* ``neardup``: q51-shape near-dup clusters, ``ngram_jaccard_pairs`` ∪
  ``minhash_lsh_candidates`` → ``connected_components``, over a seeded
  sample of the sf0.1 ``documents`` table (``data/``).

The traced run adds isolated layer probes and ``ann``: q53-shape PQ top-k
with exact re-rank (``pq_rerank_topk``) over a seeded sample of the sf0.1
``embeddings`` table.

Correctness: every run's order-independent output digests must equal the
digests recorded for the seed in ``references.json``; for a seed not
recorded there, references computed off the timed path by code that does
not call the operators under test — the repo's DuckDB oracles
(``__spark_entry__.oracle_sql``: q51 for neardup, q53 for ann) and the
training pipeline restated in SQL below.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import numpy as np
import pandas as pd

from harness import closed_loop, median, noop, spark_totals, timed_reps, total

SIZES = {"full": {"train": 15000, "docs": 500, "vecs": 1000},
         "smoke": {"train": 3000, "docs": 500, "vecs": 300}}
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DIM = 64
PQ = dict(dim=DIM, k=5, rerank=100, m_sub=16, n_codes=32, n_iter=2, fit_sample_mod=4)
N_QUERIES = 10


def documents(seed: int, n: int) -> pd.DataFrame:
    """Seeded sample of ``n`` rows of the sf0.1 ``documents`` table
    (doc_id, text, lang, source, n_chars), renumbered 0..n-1 in a seeded
    order.  The table's planted near-dups are copies of an earlier doc
    ending in " dup"; the sample takes whole groups (an original with its
    copies), so it keeps the table's share of docs in a near-dup pair,
    which a row sample would cut by n/5000."""
    t = pd.read_parquet(os.path.join(DATA, "documents.parquet"))
    key = t.text.str.replace(r" dup$", "", regex=True)
    groups = list(t.groupby(key, sort=True).indices.values())
    rng = np.random.default_rng(seed)
    picked = []
    for g in rng.permutation(len(groups)):
        if len(picked) + len(groups[g]) <= n:
            picked.extend(groups[g])
        if len(picked) == n:
            break
    sample = t.iloc[rng.permutation(picked)].reset_index(drop=True)
    sample["doc_id"] = np.arange(len(sample), dtype=np.int64)
    return sample


def embeddings(seed: int, n: int) -> pd.DataFrame:
    """Seeded sample of ``n`` rows of the sf0.1 ``embeddings`` table
    (vec_id, embedding, label), renumbered 0..n-1."""
    t = pd.read_parquet(os.path.join(DATA, "embeddings.parquet"))
    rng = np.random.default_rng(seed + 1)
    sample = t.iloc[rng.choice(len(t), n, replace=False)].reset_index(drop=True)
    sample["vec_id"] = np.arange(n, dtype=np.int64)
    return sample


def training_docs(offset: int, n: int) -> pd.DataFrame:
    """The ``generate_training_docs`` rows ``offset..offset+n-1``."""
    from pcrawler_spark.sources.trainingdocs import _doc_text

    ids = range(offset, offset + n)
    return pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                         "text": [_doc_text(i) for i in ids]})


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def digest(rows, cols) -> str:
    """Order-independent digest of rows (tuples in ``cols`` order)."""
    canon = sorted("|".join(_cell(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join([",".join(cols)] + canon).encode()).hexdigest()


def _arrow_digest(table, cols, corrupt: bool = False) -> str:
    """Digest of an Arrow result; ``corrupt`` alters one row first (the
    gate's fail-first self-test)."""
    d = table.select(cols).to_pydict()
    if corrupt and d[cols[-1]]:
        d[cols[-1]][0] = f"{d[cols[-1]][0]}#"
    return digest(zip(*(d[c] for c in cols)), cols)


TRAIN_COLS = ["doc_id", "lang_pred", "quality_ppm", "n_tokens"]
NEARDUP_COLS = ["id", "component"]
ANN_COLS = ["query_id", "neighbor_id", "rank", "cos"]


# The training pipeline restated in DuckDB SQL, independent of the
# operators it checks: annotate (textstats' stopword, punctuation and
# length terms, floored to ppm), the quality gate, keep-min-id exact
# dedup per normalized-text fingerprint, then MinHash bands over the
# kept docs (distinct word 3-shingles, one md5 per shingle, 8 affine
# hashes mod 2^31-1, 2-row bands) and star edges to each bucket's min
# doc.  Components and their roots are found in Python.
TRAINING_KEPT_SQL = r"""
    CREATE TEMP TABLE kept AS
    WITH t AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS toks,
               string_split(lower(trim(text)), ' ') AS ltoks
        FROM train
    ),
    ann AS (
        SELECT doc_id, toks,
               len(list_filter(ltoks, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS en,
               len(list_filter(ltoks, x -> x IN ('và', 'của', 'là', 'các', 'cho'))) AS vi,
               CAST(FLOOR(500000.0 * len(list_filter(toks,
                              x -> lower(x) IN ('the', 'a', 'of', 'and', 'is')))
                          / GREATEST(len(toks), 1))
                    + FLOOR(300000.0 * LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g'))
                            / GREATEST(LENGTH(text), 1))
                    + LEAST(400 * LENGTH(text), 200000) AS BIGINT) AS quality_ppm,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM t
    )
    SELECT doc_id, toks, quality_ppm,
           CASE WHEN en > vi THEN 'en' WHEN vi > en THEN 'vi' ELSE 'unknown' END AS lang_pred,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM ann
    WHERE quality_ppm >= 450000
    QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)
"""
TRAINING_EDGES_SQL = """
    WITH sh AS (
        SELECT doc_id AS doc, list_distinct([array_to_string(toks[i:i+2], ' ')
               for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS shingles
        FROM kept
    ),
    h0 AS (
        SELECT doc, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % 2147483647 AS h0
        FROM (SELECT doc, unnest(shingles) AS shingle FROM sh)
    ),
    sig AS (
        SELECT doc, seed,
               MIN((((seed + 1) * 2654435761) % 2147483647 * h0 + seed * 40503 + 7)
                   % 2147483647) AS mh
        FROM h0, UNNEST(range(0, 8)) AS s(seed)
        GROUP BY doc, seed
    ),
    bands AS (
        SELECT doc, seed // 2 AS band,
               MIN(CASE WHEN seed % 2 = 0 THEN mh END) AS mh_0,
               MIN(CASE WHEN seed % 2 = 1 THEN mh END) AS mh_1
        FROM sig GROUP BY doc, seed // 2
    )
    SELECT MIN(doc) OVER (PARTITION BY band, mh_0, mh_1) AS a, doc AS b FROM bands
"""


def training_reference(train_pd: pd.DataFrame) -> str:
    """Digest of the training pipeline's survivors, from the SQL above."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        con.register("train", train_pd)
        con.execute(TRAINING_KEPT_SQL)
        kept = con.execute(f"SELECT {', '.join(TRAIN_COLS)} FROM kept").fetchall()
        edges = con.execute(TRAINING_EDGES_SQL).fetchall()
    finally:
        con.close()
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return digest([r for r in kept if find(r[0]) == r[0]], TRAIN_COLS)


def oracle_digest(query: str, cols, table: str, table_pd: pd.DataFrame) -> str:
    """Digest of one of the repo's DuckDB oracle queries over ``table_pd``."""
    import duckdb
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        con.register(table, table_pd)
        df = con.execute(entry.oracle_sql()[query]).fetchdf()
    finally:
        con.close()
    return digest(df[cols].itertuples(index=False, name=None), cols)


def dedup_reference(seed: int, size: str) -> dict:
    """Digests the ``dedup`` run must reproduce for ``seed`` (see module doc)."""
    sz = SIZES[size]
    return {"training": training_reference(training_docs(train_offset(seed), sz["train"])),
            "neardup": oracle_digest("q51_dedup_clusters", NEARDUP_COLS, "documents",
                                     documents(seed, sz["docs"]))}


def ann_reference(seed: int, size: str) -> dict:
    return {"ann": oracle_digest("q53_pq_rerank_topk", ANN_COLS, "embeddings",
                                 embeddings(seed, SIZES[size]["vecs"]))}


def train_offset(seed: int) -> int:
    return 5000 + (seed % 1_000_000) * 1000  # ids >= 5000: every doc kind occurs


def dedup(ctx) -> dict:
    from pcrawler_spark.operators.concomp import connected_components
    from pcrawler_spark.operators.simdedup import (minhash_lsh_candidates,
                                                   minhash_lsh_star_edges, ngram_jaccard_pairs)
    from pcrawler_spark.operators.textstats import (fingerprint, lang_id, quality_score,
                                                    token_count)
    from pcrawler_spark.plans.training import training_pipeline
    from pcrawler_spark.sources.trainingdocs import _gen_batches

    spark, tracer = ctx.spark, ctx.tracer
    size = SIZES[ctx.size]
    offset = train_offset(ctx.seed)
    generate_s, docs_pd = timed_reps(lambda: documents(ctx.seed, size["docs"]), ctx.setup_reps)

    def layout():
        train = spark.range(offset, offset + size["train"], numPartitions=8).mapInPandas(
            _gen_batches, "doc_id long, text string").persist()
        docs = spark.createDataFrame(docs_pd).persist()
        train.count()
        docs.count()
        return train, docs
    layout_s, (train, docs) = timed_reps(layout, 1)

    def one_run():
        t = time.perf_counter()
        with tracer.span("dedup.training"):
            out = training_pipeline(train)
            tr = out.select(*TRAIN_COLS).toArrow()
            out.training_persist_handle.unpersist()
        with tracer.span("dedup.neardup"):
            jac = ngram_jaccard_pairs(docs, threshold=0.12, max_shingle_df=100)
            mh = minhash_lsh_candidates(docs, n_hashes=8, band_rows=2)
            pairs = jac.select("doc_a", "doc_b").unionByName(mh.select("doc_a", "doc_b"))
            nd = connected_components(pairs, src="doc_a", dst="doc_b").toArrow()
        wall = time.perf_counter() - t
        return wall, {"training": _arrow_digest(tr, TRAIN_COLS, ctx.corrupt),
                      "neardup": _arrow_digest(nd, NEARDUP_COLS)}

    # the cold run takes ~3x a warm one, the second is still ~20% slower
    warmup_s, first = timed_reps(lambda: [one_run()[1] for _ in range(2)], 1)
    ref = ctx.reference("dedup", lambda: dedup_reference(ctx.seed, ctx.size))

    def checked(got) -> bool:
        bad = [p for p in got if got[p] != ref.get(p)]
        for p in bad:
            ctx.log(f"dedup check failed: {p} digest {got[p]} != reference {ref.get(p)}")
        return not bad

    for r in first:
        ctx.record(checked(r))
    walls, results = closed_loop(one_run, ctx.seconds / 2 if ctx.trace else ctx.seconds)
    for r in results:
        ctx.record(checked(r))
    n_items = size["train"] + size["docs"]
    e2e = {"run_s": median(walls), "items_per_s": n_items / median(walls)}
    ctx.samples["run_s"] = walls
    setup = {"setup.generate_s": generate_s, "setup.layout_s": layout_s,
             "setup.warmup_s": warmup_s}
    if not ctx.trace:
        return {"e2e": e2e, "setup": setup}

    layers = {}
    tracer.start("traced")
    with tracer.span("dedup.run") as run_span:
        wall, got = one_run()
    ctx.record(checked(got))
    tracer.enabled = False  # compare with the untraced runs on either side
    after, got = one_run()
    ctx.record(checked(got))
    layers["trace_overhead"] = wall / ((walls[-1] + after) / 2)

    tracer.start("probe")
    probe = {}

    def timed(name, fn):
        t = time.perf_counter()
        with tracer.span(name) as s:
            out = fn()
        probe[name] = (time.perf_counter() - t, s)
        return out

    timed("textstats.annotate", lambda: noop(token_count(lang_id(quality_score(fingerprint(train))))))
    kept = training_pipeline(train, near_dedup=False)
    timed("training.exact_dedup", lambda: noop(kept))
    kept = kept.persist()
    kept.count()

    def lsh():
        e = minhash_lsh_star_edges(kept.select("doc_id", "text"), n_hashes=8, band_rows=2,
                                   pre_repartition=False).persist()
        return e, e.count()
    edges, n_edges = timed("simdedup.lsh_edges", lsh)
    timed("concomp.cc", lambda: noop(connected_components(edges, src="doc_a", dst="doc_b")))
    pairs = timed("simdedup.jaccard",
                  lambda: ngram_jaccard_pairs(docs, threshold=0.12, max_shingle_df=100).count())
    edges.unpersist()
    kept.unpersist()
    layers.update(ann_layers(ctx))
    tracer.resolve(ctx.stats)

    jac_span = probe["simdedup.jaccard"][1]
    layers.update({
        "textstats.annotate_s": probe["textstats.annotate"][0],
        "training.exact_dedup_s": probe["training.exact_dedup"][0],
        "simdedup.lsh_edges_s": probe["simdedup.lsh_edges"][0],
        "simdedup.lsh_edges": float(n_edges),
        "concomp.cc_s": probe["concomp.cc"][0],
        "concomp.jobs": float(len(probe["concomp.cc"][1]["jobs"])),
        "simdedup.jaccard_s": probe["simdedup.jaccard"][0],
        "simdedup.jaccard_pairs": float(pairs),
        "simdedup.jaccard_shuffle_rows": float(jac_span["stage"]["shuffle_write_records"]),
    })
    fit = tracer.find("knn.pq_fit", "ann")
    layers["knn.pq_fit_s"] = total(fit)
    layers["knn.pq_fit_jobs"] = float(sum(len(s["jobs"]) for s in fit))
    layers.update(spark_totals([run_span], tracer))
    parts = [s for s in tracer.subtree(run_span) if s["parent"] == run_span["id"]]
    layers["trace.accounted_share"] = total(parts) / (run_span["end"] - run_span["start"])
    return {"e2e": e2e, "setup": setup, "layers": layers}


def ann_layers(ctx) -> dict:
    """q53-shape PQ top-k with exact re-rank over seeded embeddings, traced
    once (after one untraced warm-up call) and checked against the DuckDB
    oracle.  ``pq_fit`` runs eagerly (driver-paced Lloyd iterations), so
    its wrapper's span holds its jobs; the top-k action is ``knn.rerank``;
    ``pq_encode`` is timed alone on the fitted codebook."""
    from pyspark.sql import functions as F
    import pcrawler_spark.operators.knn as knn

    spark, tracer = ctx.spark, ctx.tracer
    vecs_pd = embeddings(ctx.seed, SIZES[ctx.size]["vecs"])
    vecs = spark.createDataFrame(vecs_pd).persist()
    vecs.count()
    queries = vecs.filter(F.col("vec_id") < N_QUERIES)
    ref = ctx.reference("ann", lambda: ann_reference(ctx.seed, ctx.size))

    orig_fit = knn.pq_fit
    fitted = []

    def pq_fit_w(*a, **kw):
        with tracer.span("knn.pq_fit"):
            cb = orig_fit(*a, **kw)
        fitted.append(cb)
        return cb

    def one():
        topk = knn.pq_rerank_topk(vecs, queries, **PQ)
        with tracer.span("knn.rerank"):
            t = time.perf_counter()
            out = topk.toArrow()
        return time.perf_counter() - t, _arrow_digest(out, ANN_COLS)

    one()  # warm-up, untraced
    tracer.start("ann")
    knn.pq_fit = pq_fit_w
    try:
        rerank_s, got = one()
    finally:
        knn.pq_fit = orig_fit
    ok = got == ref["ann"]
    if not ok:
        ctx.log(f"ann check failed: digest {got} != reference {ref['ann']}")
    ctx.record(ok)
    cb = fitted[0].persist()
    cb.count()
    t = time.perf_counter()
    with tracer.span("knn.pq_encode"):
        noop(knn.pq_encode(vecs, cb, DIM, PQ["m_sub"]))
    encode_s = time.perf_counter() - t
    cb.unpersist()
    vecs.unpersist()
    return {"knn.pq_encode_s": encode_s, "knn.rerank_s": rerank_s}
