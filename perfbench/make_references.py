#!/usr/bin/env python3
"""Record, for the given seeds, the reference outputs the benchmark checks
its full-size runs against, into perfbench/references.json:

    python3 perfbench/make_references.py 1-10 401-410 [--no-crawl]

* ``dedup`` and ``ann``: output digests computed by code that does not
  call the operators under test (see dedup.py);
* ``crawl_shape``: the epoch count and the final seen counts by reason of
  the bounded crawl that a traced ``crawl_pass`` run makes (see crawl.py),
  as this tree's CrawlEngine produces them once the crawl has passed its
  truth checks.  A later tree must reproduce them.

Entries already recorded for other seeds are kept.  For a seed not
recorded, a run computes the digests itself and compares the crawl shape
with the first run of that seed in its checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(specs) -> list[int]:
    out = []
    for spec in specs:
        lo, _, hi = spec.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("seeds", nargs="+", help="seeds or inclusive ranges, as 7 or 1-10")
    p.add_argument("--no-crawl", action="store_true", help="record only the digests")
    args = p.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import crawl
    import dedup
    import run
    from harness import SparkStats, Tracer, start_spark, stop_spark

    with open(run.REFERENCES) as f:
        rec = json.load(f)

    def put(kind, seed, value):
        rec.setdefault(kind, {}).setdefault("full", {})[str(seed)] = value
        with open(run.REFERENCES, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")

    seeds = seeds_of(args.seeds)
    for seed in seeds:
        put("dedup", seed, dedup.dedup_reference(seed, "full"))
        put("ann", seed, dedup.ann_reference(seed, "full"))
        print(f"seed {seed}: dedup and ann digests recorded", flush=True)
    if args.no_crawl:
        return 0

    work = os.path.join(run.STATE, "work", f"make-references-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = start_spark(work)
    failed = 0
    try:
        for seed in seeds:
            ns = argparse.Namespace(seed=seed, seconds=0.0, trace=1, size="full",
                                    corrupt_one_row=False)
            ctx = run.Context(ns, work, spark, Tracer(spark, enabled=False), SparkStats(spark))
            shapes = {}
            ctx.same_every_run = lambda kind, shape: shapes.update({kind: shape}) or []
            corpus, hosts, _, _ = crawl.page_store(ctx)
            crawl.epoch_layers(ctx, crawl.TABLE, hosts, corpus, crawl.expected_pages(corpus))
            hosts.unpersist()
            if ctx.failed:
                failed += 1
                print(f"seed {seed}: the crawl failed its truth checks; not recorded", flush=True)
                continue
            put("crawl_shape", seed, shapes["crawl_shape"])
            print(f"seed {seed}: crawl shape {shapes['crawl_shape']}", flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
