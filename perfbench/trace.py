"""Outside-in tracing: spans around calls into the engine's public
functions, Spark job groups per span, counts from ``statusTracker`` and
timings from the Spark UI REST API (traced session only).

Nothing here reaches into ``dataflow_spark``: a span opens around a call
the benchmark makes (``read_any``, ``Pipeline.forward``, ``write_any``),
around each pipeline step's ``Operator.run`` by wrapping the bound
method on the operator instance, and around ``StepStore.write``/``read``
from the benchmark's own subclass.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone

IDLE_GROUP = "perfbench-idle"


class Tracer:
    """Records spans ``{id, name, layer, parent, run, group, start, end}``.

    Disabled, every method is a no-op and nothing is wrapped.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent["id"] if parent else None, "run": self.run_id,
               "group": "perfbench-%d" % len(self.spans), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup(IDLE_GROUP, "idle")

    def wrap_ops(self, pipeline, layer_of) -> None:
        """Open a span around each step's ``Operator.run``."""
        if not self.enabled:
            return
        for st in pipeline.steps:
            op = st.op
            op.run = self._spanned(op.run, "op:" + type(op).__name__, layer_of(op))

    def _spanned(self, fn, name, layer):
        def run(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)
        return run

    def dump(self, path: str, extra: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
        os.replace(tmp, path)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: a span's duration minus its children's. A
    span's ``deferred_s`` (upstream Python steps its action ran) counts
    toward the ``functions`` layer instead of its own."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        deferred = min(own, s.get("deferred_s", 0.0))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own - deferred
        out["functions"] = out.get("functions", 0.0) + deferred
    return out


class JobCounter:
    """Job, stage and task counts per span from ``statusTracker``.

    A stage counts once in the process: a stage a later job skips
    because an earlier job already ran it is not counted again.
    """

    def __init__(self, sc):
        self.sc = sc
        self.counted_stages: set[int] = set()

    def attribute(self, spans: list[dict]) -> None:
        wait_listeners(self.sc)
        st = self.sc.statusTracker()
        for s in spans:
            jobs = sorted(st.getJobIdsForGroup(s["group"]))
            stages, tasks = [], 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks == 0 or sid in self.counted_stages:
                        continue
                    self.counted_stages.add(sid)
                    stages.append(sid)
                    tasks += si.numCompletedTasks
            s.update(jobs=jobs, stages=stages, n_jobs=len(jobs), n_tasks=tasks)


def wait_listeners(sc, timeout_ms: int = 30_000) -> None:
    """Let the status store catch up with finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


# -- Spark UI REST --------------------------------------------------------

class Rest:
    """Reads the live UI's REST API (needs ``spark.ui.enabled=true``)."""

    def __init__(self, sc):
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is disabled")
        port = url.rsplit(":", 1)[1]
        self.base = "http://127.0.0.1:%s/api/v1/applications/%s" % (
            port, sc.applicationId)

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)


def _ts(s: str) -> float:
    return datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Total of a formatted SQL metric: ``1,000``, ``401.9 KiB``,
    ``13.3 s`` or ``total (min, med, max ...)\\n13.3 s (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.replace(",", "").split()
    v = float(parts[0])
    if len(parts) > 1:
        v *= _SIZE.get(parts[1], _TIME.get(parts[1], 1.0))
    return v


_PY_NODE = re.compile(r"Python|Pandas|InArrow")


def spark_runtime(rest: Rest, job_ids: set[int], stage_ids: set[int],
                  wall_s: float, cores: int) -> dict:
    """Runtime metrics of the given jobs and stages."""
    jobs = [j for j in rest.get("/jobs") if j["jobId"] in job_ids]
    stages = {s["stageId"]: s for s in rest.get(
        "/stages?withSummaries=true&quantiles=0.5,1.0")
        if s["stageId"] in stage_ids and s["status"] == "COMPLETE"}
    gap = 0.0
    for j in jobs:
        if "completionTime" not in j:
            continue
        ivs = sorted((_ts(stages[i]["firstTaskLaunchedTime"]),
                      _ts(stages[i]["completionTime"]))
                     for i in j["stageIds"] if i in stages
                     and "firstTaskLaunchedTime" in stages[i])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        gap += max(0.0, _ts(j["completionTime"]) - _ts(j["submissionTime"]) - covered)
    busy = sum(s["executorRunTime"] for s in stages.values()) / 1000.0
    skew = 1.0
    for s in stages.values():
        d = s.get("taskMetricsDistributions", {}).get("executorRunTime")
        # stragglers only matter in stages that carry real work
        if d and s["numCompleteTasks"] >= 2 and s["executorRunTime"] >= 0.1 * busy * 1000:
            skew = max(skew, d[1] / max(d[0], 1.0))
    py_rows = py_s = map_py_s = 0.0
    py_s_of_job: dict[int, float] = {}
    for ex in rest.get("/sql?details=true&planDescription=false&length=100000"):
        ex_jobs = job_ids.intersection(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                                       + ex.get("runningJobIds", []))
        if not ex_jobs:
            continue
        for n in ex["nodes"]:
            if not _PY_NODE.search(n["nodeName"]):
                continue
            m = {x["name"]: metric_value(x["value"]) for x in n["metrics"]}
            py_rows += m.get("number of output rows", 0.0)
            t = m.get("time to run Python workers", 0.0)
            py_s += t
            j = min(ex_jobs)
            py_s_of_job[j] = py_s_of_job.get(j, 0.0) + t
            if n["nodeName"] == "MapInPandas":
                map_py_s += t
    return {
        "spark.sched_gap_s": gap,
        "spark.task_busy_s": busy,
        "spark.core_util": busy / (cores * wall_s) if wall_s else 0.0,
        "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages.values())),
        "spark.spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                       for s in stages.values())),
        "spark.max_task_over_median": skew,
        "functions.python_rows": py_rows,
        "functions.python_s": py_s,
        "map_in_pandas_s": map_py_s,
        # task-summed seconds, for splitting an action's wall by layer
        "py_s_of_job": py_s_of_job,
        "run_s_of_stage": {i: s["executorRunTime"] / 1000.0 for i, s in stages.items()},
    }


# -- memory -----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % p) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open("/proc/%d/statm" % pid) as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    """RSS of every descendant of ``root`` (the JVM and its Python
    workers), not counting ``root`` itself."""
    kids = _children()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        p = todo.pop()
        total += _rss_bytes(p)
        todo.extend(kids.get(p, []))
    return total


class RssSampler:
    """Samples the descendants' RSS on a thread; keeps the high-water mark."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def median(xs):
    return statistics.median(xs) if xs else 0.0
