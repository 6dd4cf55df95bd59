#!/usr/bin/env python3
"""One benchmark for the crawl engine, one workload per invocation:

    python3 perfbench/run.py --workload crawl_pass --seed 7 --seconds 10 --trace 0

Runs from the repository root on a single-process ``local[4]`` session.
With ``--trace 0`` it prints every end-to-end metric named in
BENCHMARK.json; with ``--trace 1`` every per-layer metric, and it writes
the spans to ``.perfbench/traces/``.  The last stdout line is one JSON
object (correct, attempted, failed, metrics).  Exits non-zero when a
correctness check fails or the package is not next to this directory.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
REFERENCES = os.path.join(HERE, "references.json")  # written by make_references.py
WORKLOADS = {
    "crawl_pass": ("crawl", "crawl_pass"),
    "dedup": ("dedup", "dedup"),
}


class Context:
    """What a workload function gets: the session, its run parameters and
    the correctness tally."""

    def __init__(self, args, work, spark, tracer, stats):
        self.seed, self.seconds, self.trace, self.size = (
            args.seed, args.seconds, bool(args.trace), args.size)
        self.setup_reps = 3 if args.size == "full" else 1
        self.corrupt = args.corrupt_one_row
        self.work, self.spark, self.tracer, self.stats = work, spark, tracer, stats
        self.samples: dict[str, list[float]] = {}
        with open(REFERENCES) as f:
            self.refs = json.load(f)
        self.attempted = 0
        self.failed = 0

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def _cache_path(self, key: str) -> str:
        return os.path.join(STATE, "cache", f"{key}.json")

    def _cache_get(self, key: str):
        try:
            with open(self._cache_path(key)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _cache_put(self, key: str, value) -> None:
        path = self._cache_path(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)

    def recorded(self, kind: str):
        """What ``references.json`` recorded for ``kind`` at this seed and
        size, or None."""
        return self.refs.get(kind, {}).get(self.size, {}).get(str(self.seed))

    def reference(self, kind: str, compute):
        """The reference outputs of ``kind`` for this seed and size: the
        recorded ones, else ``compute()`` (cached under .perfbench/cache/)."""
        ref = self.recorded(kind)
        if ref is not None:
            return ref
        key = f"{kind}-{self.seed}-{self.size}-v{self.refs['input_version']}"
        ref = self._cache_get(key)
        if ref is None:
            ref = compute()
            self._cache_put(key, ref)
        return ref

    def same_every_run(self, kind: str, shape: dict) -> list[str]:
        """Compare ``shape`` with the one recorded in ``references.json``;
        for a seed not recorded there, with what the first run of this
        seed and size in this checkout saw."""
        want = self.recorded(kind)
        if want is None:
            key = f"{kind}-{self.seed}-{self.size}-v{self.refs['input_version']}"
            want = self._cache_get(key)
            if want is None:
                self._cache_put(key, shape)
                return []
        return [] if want == shape else [f"{kind} shape {shape} != recorded {want}"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="smoke: tiny inputs for the self-test")
    p.add_argument("--corrupt-one-row", action="store_true",
                   help="alter one output row before the check; the run must fail")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pcrawler_spark")):
        print(f"perfbench: no pcrawler_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # keep every scratch file in the checkout
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]

    from harness import SparkStats, Tracer, peak_rss_mb, start_spark, stop_spark

    # on SIGTERM unwind through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=False)
    ctx = Context(args, work, spark, tracer, SparkStats(spark))
    module, fn = WORKLOADS[args.workload]
    try:
        out = getattr(__import__(module), fn)(ctx)
        if args.trace:
            out["layers"]["mem.peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        if args.trace:
            tracer.write(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    setup = dict(out["setup"], **{"setup.session_s": session_s})
    values = dict(out["e2e"])
    values["setup_s"] = sum(setup.values())
    wanted = spec["end_to_end"]
    if args.trace:
        values = dict(out["layers"], **setup)
        wanted = spec["per_layer"]
    metrics = {}
    for m in wanted:
        # a layer the workload never calls did no work: it reads 0
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")

    for name, m in metrics.items():
        print(f"{args.workload:13s} {name:34s} {m['value']:14.6g} {m['unit']}")
    for name, xs in ctx.samples.items():
        print(f"{args.workload:13s} {name} samples (n={len(xs)}): "
              + " ".join(f"{x:.4g}" for x in xs))
    correct = ctx.failed == 0 and ctx.attempted > 0
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
