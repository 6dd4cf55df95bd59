#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark itself (about six minutes):

    python3 perfbench/selftest.py

1. every workload, untraced and traced, prints every end-to-end or
   per-layer metric named in BENCHMARK.json, with its unit, and passes its
   correctness checks;
2. fail-first: with one output row altered before the check, every
   workload reports ``correct: false`` and exits non-zero;
3. in a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result;
4. the dedup and ann digests recorded in references.json for seed 1 are
   the ones the reference code computes now.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p.returncode, result, p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    smoke = ["--seed", "1", "--seconds", "1", "--size", "smoke"]
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(["--workload", w, "--trace", str(trace), *smoke])
            if rc != 0 or res is None or not res["correct"]:
                failures.append(f"{w} trace={trace}: rc={rc} result={res} {err[-800:]}")
                continue
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], float):
                    failures.append(f"{w} trace={trace}: {m['name']} printed as {got}")
            print(f"ok   {w} trace={trace}: {len(spec[key])} metrics, "
                  f"{res['attempted']} checked runs", flush=True)
        rc, res, err = run(["--workload", w, "--trace", "0", "--corrupt-one-row", *smoke])
        if rc == 0 or res is None or res["correct"] or res["failed"] < 1:
            failures.append(f"{w}: a corrupted row passed the gate (rc={rc}, {res})")
        else:
            print(f"ok   {w}: corrupted row fails the gate", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res, _ = run(["--workload", spec["workloads"][0]["name"], "--trace", "0", *smoke],
                     cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or res is not None:
        failures.append(f"bare directory: rc={rc}, result={res}")
    else:
        print("ok   bare directory exits non-zero without a result", flush=True)

    sys.path[:0] = [ROOT, HERE]
    import dedup
    with open(os.path.join(HERE, "references.json")) as f:
        rec = json.load(f)
    now = dict(dedup.dedup_reference(1, "full"), **dedup.ann_reference(1, "full"))
    was = dict(rec["dedup"]["full"]["1"], **rec["ann"]["full"]["1"])
    if now != was:
        failures.append(f"recorded digests for seed 1 {was} != computed {now}")
    else:
        print("ok   recorded digests for seed 1 reproduce", flush=True)

    for f in failures:
        print(f"FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
