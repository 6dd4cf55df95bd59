"""Measurement plumbing shared by every workload: the Spark session, the
closed-loop timer, spans with per-span Spark stage metrics, and /proc
readings (peak RSS, CPU seconds).

Spark execution per span comes from the in-process status store, which
works with the UI disabled: every span sets its own job group, and after a
run the jobs of each group are resolved to their stages' executor run
time, executor CPU time, shuffle bytes, spill and task counts.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

CORES = 4
MASTER = f"local[{CORES}]"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list (q in [0, 1])."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# Spark session and its JVM
# ---------------------------------------------------------------------------

def start_spark(work_dir: str):
    """local[4] session whose scratch files all stay under ``work_dir``."""
    from pcrawler_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    return get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (the JVM forks from many)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM and every live Python worker
    under it, summed, in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree(jvm_pid(spark))) / 1024.0


def tree_cpu_s(spark) -> float:
    """CPU seconds (user + system) consumed so far by the JVM and its live
    Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in process_tree(jvm_pid(spark)):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
        except OSError:
            pass
    return total / tick


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkStats:
    """Reads jobs and stages from the in-process status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def jobs(self) -> list[dict]:
        out = []
        for j in _seq(self.store.jobsList(None)):
            sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append({
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "stages": list(_seq(j.stageIds())),
                "start": sub.getTime() / 1000.0 if sub is not None else None,
                "end": comp.getTime() / 1000.0 if comp is not None else None,
            })
        return out

    def stages(self) -> dict[int, dict]:
        jvm = self.sc._jvm
        empty = self.sc._gateway.new_array(jvm.double, 0)
        lst = self.store.stageList(jvm.java.util.ArrayList(), False, False,
                                   empty, jvm.java.util.ArrayList())
        out = {}
        for s in _seq(lst):
            if str(s.status()) != "COMPLETE":
                continue
            out[s.stageId()] = {
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
                "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
                "shuffle_write_records": s.shuffleWriteRecords(),
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
            }
        return out


STAGE_KEYS = ("tasks", "run_s", "cpu_s", "shuffle_read_mb", "shuffle_write_mb",
              "shuffle_write_records", "spill_mb")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans kept in memory: (id, name, run, parent, start, end, attrs).

    When ``enabled``, each span makes its id the Spark job group, so every
    job started inside it — until a child span or a ``switch`` takes over —
    is attributed to it.  ``resolve`` then attaches each span's own jobs and
    stage metrics.  A disabled tracer only times the untraced run."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run_id = None

    def start(self, run_id: str) -> None:
        """Turn tracing on; later spans belong to run ``run_id``."""
        self.enabled = True
        self.run_id = run_id

    def _group(self, span) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"s{len(self.spans)}", "name": name, "run": self.run_id,
             "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None, "attrs": dict(attrs)}
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def resolve(self, stats: SparkStats) -> None:
        """Attach jobs and stage sums to every span (own jobs only)."""
        jobs = stats.jobs()
        stages = stats.stages()
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s["jobs"] = []
            s["stage"] = {k: 0 for k in STAGE_KEYS}
            s["job_intervals"] = []
        for j in jobs:
            s = by_id.get(j["group"])
            if s is None:
                continue
            s["jobs"].append(j["id"])
            if j["start"] is not None and j["end"] is not None:
                s["job_intervals"].append((j["start"], j["end"]))
            for sid in j["stages"]:
                st = stages.get(sid)
                if st is not None:
                    for k in STAGE_KEYS:
                        s["stage"][k] += st[k]

    def add(self, name: str, parent: dict, start: float, end: float) -> dict:
        """Record a closed child span of ``parent`` after the fact (its
        jobs stay with ``parent``)."""
        s = {"id": f"s{len(self.spans)}", "name": name, "run": parent["run"],
             "parent": parent["id"], "start": start, "end": end, "attrs": {},
             "jobs": [], "job_intervals": [], "stage": {k: 0 for k in STAGE_KEYS}}
        self.spans.append(s)
        return s

    def find(self, name: str, run=None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (run is None or s["run"] == run)]

    def subtree(self, span: dict) -> list[dict]:
        kids = {span["id"]}
        out = [span]
        for s in self.spans:  # spans are appended in start order
            if s["parent"] in kids:
                kids.add(s["id"])
                out.append(s)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=list) + "\n")


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def total(spans, key=None) -> float:
    if key is None:
        return sum(dur(s) for s in spans)
    return sum(s["stage"][key] for s in spans)


def busy_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def spark_totals(spans, tracer) -> dict:
    """Engine-wide counters over the given spans and their descendants."""
    tree = [s for sp in spans for s in tracer.subtree(sp)]
    return {
        "spark.jobs": float(sum(len(s["jobs"]) for s in tree)),
        "spark.tasks": float(total(tree, "tasks")),
        "spark.executor_cpu_s": total(tree, "cpu_s"),
        "spark.shuffle_write_mb": total(tree, "shuffle_write_mb"),
        "spark.spill_mb": total(tree, "spill_mb"),
    }


def noop(df) -> None:
    """Force a DataFrame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# closed loop
# ---------------------------------------------------------------------------

def timed_reps(fn, reps: int):
    """Run a set-up step ``reps`` times: (median wall, last result)."""
    walls, out = [], None
    for _ in range(reps):
        t = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t)
    return median(walls), out


def closed_loop(one_run, seconds: float):
    """Call ``one_run()`` back to back until ``seconds`` have passed (at
    least once).  ``one_run`` returns (wall_s, result); the wall excludes
    its correctness check."""
    walls, results = [], []
    t0 = time.perf_counter()
    while not walls or time.perf_counter() - t0 < seconds:
        wall, res = one_run()
        walls.append(wall)
        results.append(res)
    return walls, results
