"""The ``crawl_pass`` workload: one steady-state bucketed
schedule→fetch→extract pass per run, checked against the generator's
truth tables.  Its traced run adds isolated noop-sink probes of the pass's
plan layers, the single-core L0 kernel probe, and a bounded, traced
CrawlEngine crawl over the same page store for the epoch-engine layers."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

from harness import (CORES, busy_seconds, closed_loop, dur, median, noop, quantile,
                     spark_totals, timed_reps, total, tree_cpu_s)

DETAIL_FIELDS = ["company_name", "address", "phone", "website", "facebook",
                 "linkedin", "tiktok", "youtube", "instagram", "industry",
                 "created_year", "revenue", "scale"]
HOSTS_SCHEMA = "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int"

SIZES = {"full": 6000, "smoke": 120}
# pass times keep falling over the first passes (JIT, Python workers): the
# warm-up runs a pass over a 1/8 hash sample of the store (it pays the
# fixed per-pass cost at ~60% of a full pass's wall), then one full pass
WARMUP_SAMPLED_PASSES = 1
WARMUP_SAMPLE_MOD = 8
PAGESTORE_BUCKETS = 16
TABLE = "perfbench_pages"
L0_SAMPLE = 1200


def _none(v):
    return None if v is None or (isinstance(v, float) and np.isnan(v)) else v


def expected_pages(corpus) -> dict:
    """canon_url → (kind, text, detail fields, emails) for every page the
    store holds (robots-private pages included: the gate decides)."""
    from pcrawler_spark.kernels import canonicalize_url

    text = {}
    for u, t in zip(corpus["pages"].url, corpus["pages"].text):
        text.setdefault(canonicalize_url(u), t)
    exp = {}
    for t in corpus["truth"].itertuples():
        cu = canonicalize_url(t.url)
        fields = tuple(_none(getattr(t, f)) for f in DETAIL_FIELDS) if t.kind == "detail" else None
        emails = tuple(t.emails) if t.kind == "contact" else None
        exp[cu] = (t.kind, text[cu], fields, emails, bool(t.is_private))
    return exp


def check_extracted(rows: pd.DataFrame, expected: dict, want_urls: set) -> list[str]:
    """Mismatches between extracted rows and the generator truth: the URL
    set, byte-identical text for every URL, detail fields and emails."""
    bad = []
    got = set(rows.canon_url)
    if got != want_urls or len(rows) != len(want_urls):
        bad.append(f"url set: {len(got)} extracted ({len(rows)} rows), "
                   f"{len(want_urls)} expected, {len(got ^ want_urls)} differ")
    for r in rows.itertuples(index=False):
        e = expected.get(r.canon_url)
        if e is None:
            continue
        kind, text, fields, emails, _ = e
        if r.text != text:
            bad.append(f"text differs: {r.canon_url}")
        if kind == "detail" and tuple(_none(getattr(r, f)) for f in DETAIL_FIELDS) != fields:
            bad.append(f"detail fields differ: {r.canon_url}")
        if kind == "contact" and tuple(r.emails if r.emails is not None else ()) != emails:
            bad.append(f"emails differ: {r.canon_url}")
    return bad


# ---------------------------------------------------------------------------
# crawl_pass
# ---------------------------------------------------------------------------

def page_store(ctx):
    """The seeded corpus and its bucketed page store (table ``TABLE``):
    (corpus, hosts DataFrame, generate_s, layout_s)."""
    from pcrawler_spark.plans.pagestore import write_bucketed_pages
    from pcrawler_spark.sources.synthetic import (SyntheticCrawlConfig, generate_crawl_corpus,
                                                  pages_spark_df)

    spark = ctx.spark
    n = SIZES[ctx.size]
    cfg = SyntheticCrawlConfig(n_companies=n, n_industries=16, n_hosts=max(20, n // 40),
                               seed=ctx.seed)
    store = os.path.join(ctx.work, "pagestore")
    generate_s, corpus = timed_reps(lambda: generate_crawl_corpus(cfg), ctx.setup_reps)
    hosts = spark.createDataFrame(corpus["hosts"], HOSTS_SCHEMA).persist()
    hosts.count()

    def layout():
        write_bucketed_pages(pages_spark_df(spark, cfg, num_files=PAGESTORE_BUCKETS),
                             TABLE, n_buckets=PAGESTORE_BUCKETS, path=f"file://{store}")
    layout_s, _ = timed_reps(layout, 1)
    return corpus, hosts, generate_s, layout_s


def crawl_pass(ctx) -> dict:
    from pcrawler_spark.plans.pagestore import fetch_join_bucketed
    from pcrawler_spark.plans.singlepass import (
        classify_urls, fused_extract, schedule_and_extract_bucketed, schedule_decisions)

    spark, tracer = ctx.spark, ctx.tracer
    table = TABLE
    corpus, hosts, generate_s, layout_s = page_store(ctx)
    expected = expected_pages(corpus)
    want = {u for u, e in expected.items() if not e[4]}
    cols = ["canon_url", "kind", "text", "emails", *DETAIL_FIELDS]

    def one_pass():
        t = time.perf_counter()
        with tracer.span("crawl_pass.pass"):
            out = schedule_and_extract_bucketed(spark, table, hosts).select(*cols).toArrow()
        return time.perf_counter() - t, out

    def checked(result) -> bool:
        rows = result.to_pandas()
        if ctx.corrupt:  # the gate's fail-first self-test
            rows.loc[0, "text"] += "#"
        bad = check_extracted(rows, expected, want)
        for b in bad[:5]:
            ctx.log(f"crawl_pass check failed: {b}")
        return not bad

    def warm_up():
        for _ in range(WARMUP_SAMPLED_PASSES):
            schedule_and_extract_bucketed(spark, table, hosts, sample_mod=WARMUP_SAMPLE_MOD
                                          ).select(*cols).toArrow()
        return one_pass()[1]
    warmup_s, first = timed_reps(warm_up, 1)
    ctx.record(checked(first))

    walls, results = closed_loop(one_pass, ctx.seconds / 2 if ctx.trace else ctx.seconds)
    for r in results:
        ctx.record(checked(r))
    urls = len(want)
    e2e = {"run_s": median(walls), "items_per_s": urls / median(walls)}
    ctx.samples["run_s"] = walls
    setup = {"setup.generate_s": generate_s, "setup.layout_s": layout_s,
             "setup.warmup_s": warmup_s}
    if not ctx.trace:
        return {"e2e": e2e, "setup": setup}

    layers = {}
    tracer.start("traced")
    wall, res = one_pass()
    ctx.record(checked(res))
    # passes still speed up slowly: compare with the untraced passes on
    # either side of the traced one
    tracer.enabled = False
    after, res = one_pass()
    ctx.record(checked(res))
    layers["trace_overhead"] = wall / ((walls[-1] + after) / 2)
    pass_span = tracer.find("crawl_pass.pass", "traced")[0]

    # isolated layer probes: each on a persisted input, forced by a noop sink
    tracer.start("probe")
    pages = spark.table(table)
    meta = pages.select("url_hash", "canon_url", "host")
    t = time.perf_counter()
    with tracer.span("singlepass.schedule"):
        decided = schedule_decisions(meta, hosts)
        noop(decided)
    layers["singlepass.schedule_s"] = time.perf_counter() - t
    keys = decided.filter(decided.decision == "scheduled").select("url_hash").persist()
    keys.count()
    t = time.perf_counter()
    with tracer.span("pagestore.fetch_join"):
        noop(fetch_join_bucketed(spark, table, keys))
    layers["pagestore.fetch_join_s"] = time.perf_counter() - t
    fetched = classify_urls(fetch_join_bucketed(spark, table, keys)).select(
        "url_hash", "canon_url", "kind", "url_type", "html").persist()
    fetched.count()

    def identity(batches):
        yield from batches

    t = time.perf_counter()
    with tracer.span("singlepass.arrow_boundary"):
        noop(fetched.mapInPandas(identity, fetched.schema))
    layers["singlepass.arrow_boundary_s"] = time.perf_counter() - t
    cpu0, t = tree_cpu_s(spark), time.perf_counter()
    with tracer.span("singlepass.extract") as ext_span:
        noop(fused_extract(fetched))
    ext_wall = time.perf_counter() - t
    layers["singlepass.extract_s"] = ext_wall
    layers["singlepass.extract_cpu_s"] = tree_cpu_s(spark) - cpu0
    fetched.unpersist()
    keys.unpersist()
    tracer.resolve(ctx.stats)
    layers["singlepass.extract_busy_share"] = ext_span["stage"]["run_s"] / (ext_wall * CORES)

    # L0: single core, no Spark, seeded sample of the store's pages
    sample = classify_urls(pages).select("canon_url", "kind", "url_type", "html").toPandas()
    rng = np.random.default_rng(ctx.seed)
    sample = sample.iloc[rng.choice(len(sample), min(L0_SAMPLE, len(sample)), replace=False)]
    layers.update(l0_probe(sample))
    layers["singlepass.engine_over_kernel"] = e2e["items_per_s"] / (
        CORES * layers["kernels.pages_per_s"])

    layers.update(spark_totals([pass_span], tracer))
    layers["trace.accounted_share"] = split_pass(tracer, pass_span)
    layers.update(epoch_layers(ctx, table, hosts, corpus, expected))
    return {"e2e": e2e, "setup": setup, "layers": layers}


def split_pass(tracer, span) -> float:
    """Where the traced fused pass's wall went.  The pass is one action;
    adaptive execution runs each exchange as a job of its own before the
    result job, so the jobs of the pass's group split it into child spans:
    ``pass.plan`` (driver, up to the first job), one ``pass.schedule`` per
    job before the result job (the decision chain up to the key exchange),
    ``pass.fetch_extract`` (the result job: bucketed scan, join, Arrow
    extraction) and ``pass.collect`` (driver, after the result job).
    Returns the share of the wall they cover; the rest is driver time
    between jobs."""
    jobs = sorted(span["job_intervals"])
    if not jobs:
        return 0.0
    parts = [("pass.plan", span["start"], jobs[0][0])]
    parts += [("pass.schedule", s, e) for s, e in jobs[:-1]]
    parts += [("pass.fetch_extract", *jobs[-1]), ("pass.collect", jobs[-1][1], span["end"])]
    for name, s, e in parts:
        tracer.add(name, span, s, e)
    return min(1.0, busy_seconds([(s, e) for _, s, e in parts]) / dur(span))


def l0_probe(sample: pd.DataFrame, reps: int = 3) -> dict:
    """Single-core kernel timings over ``sample`` (canon_url, kind,
    url_type, html): the shared DOM parse, then each kernel on the pages of
    its kind, as the fused extraction dispatches them.  Medians of ``reps``
    passes."""
    from pcrawler_spark.html import parse_html
    from pcrawler_spark.kernels import (extract_company_details, extract_company_links,
                                        extract_emails, extract_pagination_links,
                                        extract_text)
    from pcrawler_spark.kernels.emails import score_contact_links

    pages = list(sample.itertuples(index=False))
    sizes = np.array([len(p.html) for p in pages], dtype=float)
    kinds = [p.kind for p in pages]
    per = {k: [] for k in ("parse", "details", "emails", "links", "text")}
    clock = time.perf_counter
    for _ in range(reps):
        acc = dict.fromkeys(per, 0.0)
        for p in pages:
            t0 = clock()
            root = parse_html(p.html)
            t1 = clock()
            acc["parse"] += t1 - t0
            if p.kind == "detail":
                extract_company_details(p.html, company_url=p.canon_url, root=root)
                t2 = clock()
                acc["details"] += t2 - t1
            elif p.kind == "contact":
                extract_emails(p.html, p.url_type or "website")
                t2 = clock()
                acc["emails"] += t2 - t1
                score_contact_links(p.html, base_url=p.canon_url,
                                    url_type=p.url_type or "website", root=root)
                t3 = clock()
                acc["links"] += t3 - t2
                t2 = t3
            else:
                extract_company_links(p.html, root=root)
                extract_pagination_links(p.html, root=root)
                t2 = clock()
                acc["links"] += t2 - t1
            extract_text(p.html, root=root)
            acc["text"] += clock() - t2
        for k in per:
            per[k].append(acc[k])
    t = {k: median(v) for k, v in per.items()}
    n = len(pages)
    n_detail, n_contact = kinds.count("detail"), kinds.count("contact")
    n_links = n - n_detail  # listing + contact pages run a link kernel
    return {
        "html.parse_pages_per_s": n / t["parse"],
        "html.parse_mb_per_s": sizes.sum() / 2**20 / t["parse"],
        "kernels.pages_per_s": n / sum(t.values()),
        "kernels.details_us_per_page": 1e6 * t["details"] / max(n_detail, 1),
        "kernels.emails_us_per_page": 1e6 * t["emails"] / max(n_contact, 1),
        "kernels.links_us_per_page": 1e6 * t["links"] / max(n_links, 1),
        "kernels.text_us_per_page": 1e6 * t["text"] / n,
        "l0.page_bytes_mean": float(sizes.mean()),
        "l0.page_bytes_p50": quantile(sizes.tolist(), 0.5),
        "l0.page_bytes_p90": quantile(sizes.tolist(), 0.9),
    }


# ---------------------------------------------------------------------------
# epoch-engine layers: a bounded, traced CrawlEngine crawl
# ---------------------------------------------------------------------------

# the traced crawl: per-host budget of a 15 s epoch (defers the Zipf
# mega-hosts), bounded to 3 worked epochs (within 2, no contact page is
# reached and the email path goes unchecked)
EPOCH_SECONDS = 15.0
CRAWL_EPOCHS = 3


def truth_closure(corpus):
    """BFS over the truth link graph from the seeds, respecting robots:
    (fetchable canon urls, disallowed-but-linked canon urls)."""
    from pcrawler_spark.kernels import canonicalize_url

    truth = corpus["truth"]
    by_url = {canonicalize_url(t.url): t for t in truth.itertuples()}
    listing_pages = {}
    for t in truth.itertuples():
        if t.kind == "listing":
            listing_pages.setdefault(t.industry, []).append(canonicalize_url(t.url))
    frontier = [canonicalize_url(u) for u in corpus["seeds"].url]
    fetched, blocked = set(), set()
    while frontier:
        u = frontier.pop()
        if u in fetched or u in blocked or u not in by_url:
            continue
        t = by_url[u]
        if t.is_private:
            blocked.add(u)
            continue
        fetched.add(u)
        outs = [canonicalize_url(o) for o in (t.out_links or [])]
        if t.kind == "listing":
            outs += listing_pages[t.industry]
        frontier.extend(outs)
    return fetched, blocked


def check_crawl(engine, expected, reachable, blocked) -> tuple[list[str], dict]:
    """A bounded crawl against the truth closure: every record and email
    row byte-equals the truth, fetched URLs are reachable, disallowed ones
    are robots-blocked, and every URL is seen once."""
    from pyspark.sql import functions as F

    bad = []
    seen = engine.seen().select("url_hash", "reason").toPandas()
    by_reason = {str(k): int(v) for k, v in seen.reason.value_counts().items()}
    want = engine.spark.createDataFrame(
        pd.DataFrame({"canon_url": sorted(reachable | blocked)})
    ).withColumn("url_hash", F.xxhash64("canon_url")).toPandas()
    h = dict(zip(want.canon_url, want.url_hash))
    if not set(seen[seen.reason == "fetched"].url_hash) <= {h[u] for u in reachable}:
        bad.append("fetched a URL outside the reachable truth set")
    if not set(seen[seen.reason == "disallowed"].url_hash) <= {h[u] for u in blocked}:
        bad.append("disallowed a URL robots allow")
    if not seen.url_hash.is_unique or set(by_reason) - {"fetched", "disallowed"}:
        bad.append(f"seen reasons {by_reason}")
    recs = engine.records().select("canon_url", "text", *DETAIL_FIELDS).toPandas()
    for r in recs.itertuples(index=False):
        kind, text, fields, _, private = expected.get(r.canon_url, (None,) * 5)
        if (kind != "detail" or private or r.text != text
                or tuple(_none(getattr(r, f)) for f in DETAIL_FIELDS) != fields):
            bad.append(f"record differs from truth: {r.canon_url}")
    em = engine.emails().select("canon_url", "emails").toPandas()
    for r in em.itertuples(index=False):
        kind, _, _, emails, _ = expected.get(r.canon_url, (None,) * 5)
        if kind != "contact" or tuple(r.emails if r.emails is not None else ()) != emails:
            bad.append(f"emails differ from truth: {r.canon_url}")
    by_reason.update(records=len(recs), emails=len(em))
    return bad, by_reason


class EpochProbe:
    """Wraps one engine's layer entry points for a traced crawl.  Each
    wrapper switches the Spark job group, so every job of an epoch lands in
    decide, Bloom build, extract or commit; the Bloom pass ratio is counted
    after each epoch, outside the epoch's span."""

    def __init__(self, engine, tracer):
        import pcrawler_spark.operators.seen as seen_mod
        import pcrawler_spark.plans.epoch as epoch_mod

        self.tracer = tracer
        self.commits, self.bloom = [], []
        self._flagged = []
        self._epoch = None
        self._phase = None
        run_epoch = engine.run_epoch
        write_epoch = engine.catalog.write_epoch
        compact = engine.catalog.compact

        def run_epoch_w(epoch):
            with tracer.span("epoch", epoch=epoch) as s:
                self._epoch = s
                self._switch("epoch.decide")
                try:
                    m = run_epoch(epoch)
                finally:
                    self._switch(None)
                    self._epoch = None
            self._count_bloom()
            return m

        def write_epoch_w(epoch, tables, metadata=None):
            if self._epoch is None:  # the bootstrap commit of the seeds
                with tracer.span("catalog.bootstrap"):
                    return write_epoch(epoch, tables, metadata)
            self._switch("catalog.commit")
            write_epoch(epoch, tables, metadata)
            self.commits.append(_dir_usage(
                [os.path.join(engine.catalog.root, t, f"epoch={epoch}") for t in tables]))

        def compact_w(*a, **kw):
            with tracer.span("catalog.compact"):
                return compact(*a, **kw)

        engine.run_epoch = run_epoch_w
        engine.catalog.write_epoch = write_epoch_w
        engine.catalog.compact = compact_w
        orig_fx, orig_bb, orig_ab = (epoch_mod.fused_extract,
                                     epoch_mod.build_partitioned_bloom,
                                     seen_mod.apply_bloom)

        def fused_extract_w(*a, **kw):
            self._switch("epoch.extract")
            return orig_fx(*a, **kw)

        def build_bloom_w(*a, **kw):
            self._switch("seen.bloom_build")
            try:
                return orig_bb(*a, **kw)
            finally:
                self._switch("epoch.decide")

        def apply_bloom_w(candidates, bloom):
            out = orig_ab(candidates, bloom)
            self._flagged.append(out)
            return out

        self._patched = [(epoch_mod, "fused_extract", orig_fx),
                         (epoch_mod, "build_partitioned_bloom", orig_bb),
                         (seen_mod, "apply_bloom", orig_ab)]
        epoch_mod.fused_extract = fused_extract_w
        epoch_mod.build_partitioned_bloom = build_bloom_w
        seen_mod.apply_bloom = apply_bloom_w

    def _switch(self, name):
        """End the open phase span of the current epoch, start ``name``."""
        if self._phase is not None:
            self._phase.__exit__(None, None, None)
            self._phase = None
        if name is not None and self._epoch is not None:
            self._phase = self.tracer.span(name)
            self._phase.__enter__()

    def _count_bloom(self):
        from pyspark.sql import functions as F

        for flagged in self._flagged:
            with self.tracer.span("probe.bloom_pass"):
                r = flagged.agg(F.count("*").alias("n"),
                                F.sum(F.col("_maybe_seen").cast("int")).alias("hit")).first()
            self.bloom.append((r["n"], r["n"] - (r["hit"] or 0)))
        self._flagged = []

    def restore(self):
        for mod, name, orig in self._patched:
            setattr(mod, name, orig)


def _dir_usage(dirs) -> tuple[int, int]:
    files = size = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for f in names:
                if f.startswith((".", "_")):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return files, size


def epoch_layers(ctx, table, hosts, corpus, expected) -> dict:
    """Per-layer metrics of the epoch engine: a traced CrawlEngine crawl
    from the corpus seeds over the same bucketed page store, bounded to
    ``CRAWL_EPOCHS`` worked epochs, with a real politeness budget (URLs
    get deferred), the partitioned Bloom seen filter, compaction and
    simulated flaky fetches all on."""
    from pcrawler_spark.plans import CrawlEngine, CrawlRunConfig

    spark, tracer = ctx.spark, ctx.tracer
    seeds = spark.createDataFrame(corpus["seeds"], "url string, priority int, industry string")
    state = os.path.join(ctx.work, "crawl_state")
    rc = CrawlRunConfig(state_dir=state, epoch_seconds=EPOCH_SECONDS, max_epochs=CRAWL_EPOCHS,
                        simulate_flaky_rate=0.05, bloom_min_seen=1, compact_every=2)
    engine = CrawlEngine(spark, table, hosts, rc)
    tracer.start("crawl")
    probe = EpochProbe(engine, tracer)
    try:
        with tracer.span("crawl.run") as crawl_span:
            metrics = engine.run(seeds)
    finally:
        probe.restore()
    reachable, blocked = truth_closure(corpus)
    bad, shape = check_crawl(engine, expected, reachable, blocked)
    bad += ctx.same_every_run("crawl_shape", dict(shape, epochs=len(metrics)))
    for b in bad[:5]:
        ctx.log(f"crawl check failed: {b}")
    ctx.record(not bad)
    shutil.rmtree(state, ignore_errors=True)

    tracer.resolve(ctx.stats)
    spans = tracer.subtree(crawl_span)
    epochs = [s for s in spans if s["name"] == "epoch"]
    ne = max(len(epochs), 1)

    def per_epoch(name):
        return total([s for s in spans if s["name"] == name]) / ne

    def mean_span(name):
        xs = [s for s in spans if s["name"] == name]
        return total(xs) / max(len(xs), 1)

    jobs = wall = busy = 0.0
    for e in epochs:
        sub = tracer.subtree(e)
        jobs += sum(len(s["jobs"]) for s in sub)
        wall += dur(e)
        busy += busy_seconds([iv for s in sub for iv in s["job_intervals"]])
    walls = [dur(e) for e in epochs]
    sched = sum(m["scheduled"] for m in metrics)
    files = [c[0] for c in probe.commits]
    size = [c[1] for c in probe.commits]
    probe_s = total([s for s in spans if s["name"] == "probe.bloom_pass"])
    top = [s for s in spans if s["parent"] == crawl_span["id"] and s["name"] != "probe.bloom_pass"]
    return {
        "epoch_s.p50": median(walls),
        "epoch_s.p90": quantile(walls, 0.9),
        "epoch.count": float(len(epochs)),
        "epoch.jobs_per_epoch": jobs / ne,
        "epoch.decide_s": per_epoch("epoch.decide"),
        "epoch.extract_s": per_epoch("epoch.extract"),
        "epoch.driver_share": 1.0 - busy / wall if wall else 0.0,
        "epoch.fetched_over_scheduled": sum(m["fetched"] for m in metrics) / max(sched, 1),
        "epoch.retried_urls": float(sum(m["failed_flaky"] for m in metrics)),
        "epoch.urls_per_s": sum(m["fetched"] for m in metrics) / wall if wall else 0.0,
        "catalog.commit_s": per_epoch("catalog.commit"),
        "catalog.files_per_commit": sum(files) / max(len(files), 1),
        "catalog.mb_per_commit": sum(size) / 2**20 / max(len(size), 1),
        "catalog.compact_s": mean_span("catalog.compact"),
        "seen.bloom_build_s": mean_span("seen.bloom_build"),
        "seen.bloom_pass_ratio": (sum(b[1] for b in probe.bloom)
                                  / max(sum(b[0] for b in probe.bloom), 1)),
        "politeness.deferred_share": (sum(m["deferred"] for m in metrics)
                                      / max(sum(m["urls_pending"] for m in metrics), 1)),
        "crawl.accounted_share": total(top) / (dur(crawl_span) - probe_s),
    }
