"""The three closed-loop workloads and the measurement protocol.

One client process drives ``local[<cores>]``. A run is one pass of the
client over its workload's input, made of one or more invocations; the
next invocation starts after the previous one's output is committed and
checked. Timed runs start while the window still has room for one more
run of the median length, so a process measures about ``--seconds``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback

from pyspark import SparkContext

from dataflow_spark import Pipeline, get_operator, get_spark
from dataflow_spark.operators.generate.llm_map import (PromptedEvaluator, PromptedFilter,
                                                       PromptedGenerator)
from dataflow_spark.pipelines import text_pt_filter_pipeline
from dataflow_spark.sources.readers import read_any
from dataflow_spark.sources.writers import write_any
from perfbench import gen
from perfbench.backend import HashLLMServing, ServingCounters, TimedStepStore, dir_bytes
from perfbench.check import check_curated, check_llm, read_rows
from perfbench.trace import (JobCounter, Rest, RssSampler, Tracer, median,
                             self_times, spark_runtime)

#: input sizes; the check and the per-layer ratios depend on them only
#: through ``gen``
SCALE = {
    "curate_bulk": {"n_shards": 6, "docs_per_shard": 1000},
    "curate_shards": {"n_shards": 4, "docs_per_shard": 1000},
    "llm_synth": {"n_invocations": 3, "files_per_invocation": 4, "questions_per_file": 250},
}

#: untimed invocations before the first timed run: while the JVM and the
#: Python workers warm up, the first after a cold start runs several times
#: slower than the steady state and the next one still about a third slower
WARM_UP = 2

LAYERS = ("client", "sources.read", "core.pipeline", "operators.refiners",
          "operators.dedup", "operators.filters", "operators.eval",
          "operators.sampling", "operators.generate", "functions", "core.storage",
          "sources.write")

#: spans whose action runs the lazy chain upstream of it
ACTIONS = ("write_any", "core.storage.write")


def op_layer(op) -> str:
    mod = type(op).__module__
    if ".refiners" in mod:
        return "operators.refiners"
    if mod.endswith(".filters.dedup"):
        return "operators.dedup"
    if ".filters" in mod:
        return "operators.filters"
    if mod.endswith(".sampling"):
        return "operators.sampling"
    if ".generate" in mod:
        return "operators.generate"
    return "operators.eval"


class Bench:
    """State of one benchmark process: session, tracer, paths, inputs."""

    def __init__(self, workload: str, seed: int, work: str):
        self.workload, self.seed, self.work = workload, seed, work
        self.scale = SCALE[workload]
        self.spark = None
        self.tracer = Tracer()
        self.counters = None
        self.units: list[dict] = []   # one per invocation of a run
        self.python_rows_needed = 0   # rows Python UDF steps must see once per run
        self.rows_out = self.bytes_out = 0  # of the last run

    # -- inputs -------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the seed's inputs (cached on disk) and expectations."""
        key = "-".join("%s%s" % kv for kv in sorted(self.scale.items()))
        data = os.path.join(self.work, "data", "%s-%s-%d" % (self.workload, key, self.seed))
        s = self.scale
        if self.workload == "llm_synth":
            per_file, n_files = s["questions_per_file"], s["files_per_invocation"]
            per_inv = per_file * n_files
            qs = gen.make_questions(self.seed, per_inv * s["n_invocations"])
            parts = {}
            for k in range(s["n_invocations"]):
                inv = qs[k * per_inv:(k + 1) * per_inv]
                for i in range(n_files):
                    parts["inv-%d/part-%05d.jsonl" % (k, i)] = inv[i * per_file:(i + 1) * per_file]
                self.units.append({"path": os.path.join(data, "inv-%d" % k),
                                   "expected": gen.expected_llm(inv)})
            self._write_parts(data, parts)
            self.python_rows_needed = 3 * len(qs)  # three LLM steps
            return
        shards = gen.make_corpus(self.seed, s["n_shards"], s["docs_per_shard"])
        self._write_parts(data, {"part-%05d.jsonl" % i: sh for i, sh in enumerate(shards)})
        if self.workload == "curate_bulk":
            groups = [list(range(len(shards)))]
        else:
            groups = [[i] for i in range(len(shards))]
        for g in groups:
            path = data if len(g) > 1 else os.path.join(data, "part-%05d.jsonl" % g[0])
            self.units.append({"path": path,
                               "expected": gen.expected_curated([shards[i] for i in g])})
        # at least once each: the MinHash UDF sees every document, the
        # quality UDF every document of the output
        self.python_rows_needed = sum(len(sh) for sh in shards) + sum(
            len(u["expected"]) for u in self.units)

    @staticmethod
    def _write_parts(data: str, parts: dict[str, list[dict]]) -> None:
        done = os.path.join(data, "_COMPLETE")
        if os.path.exists(done):
            return
        for name, rows in parts.items():
            path = os.path.join(data, name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            gen.write_jsonl(path, rows)
        open(done, "w").close()

    # -- session ------------------------------------------------------------
    def start_session(self, traced: bool) -> float:
        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false"}
        if traced:
            conf.update({"spark.ui.enabled": "true",
                         "spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000",
                         "spark.sql.ui.retainedExecutions": "100000"})
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench-" + self.workload, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- invocations --------------------------------------------------------
    def _out(self, name: str) -> str:
        return os.path.join(self.work, "out", self.workload, name)

    def invoke(self, unit: dict) -> str:
        """One invocation; returns the committed output's path."""
        if self.workload == "llm_synth":
            return self._invoke_llm(unit)
        return self._invoke_curate(unit)

    def _invoke_curate(self, unit: dict) -> str:
        tr, out = self.tracer, self._out("curated")
        with tr.span("read_any", "sources.read"):
            df = read_any(self.spark, unit["path"], fmt="jsonl")
        pipe = text_pt_filter_pipeline()
        pipe.add(get_operator("QualityScoreEvaluator", {}))
        pipe.add(get_operator("DomainMixtureSampler",
                              {"weights": gen.MIX_WEIGHTS, "hash_impl": "md5"}))
        pipe.add(get_operator("SplitAssignOperator", {"hash_impl": "md5"}))
        tr.wrap_ops(pipe, op_layer)
        with tr.span("Pipeline.forward", "core.pipeline"):
            res = pipe.forward(df)
        with tr.span("write_any", "sources.write"):
            write_any(res, out, fmt="parquet")
        return out

    def _invoke_llm(self, unit: dict) -> str:
        tr = self.tracer
        # the seed picks which of a task's batch calls per step fails once
        calls = -(-self.scale["questions_per_file"] // HashLLMServing.batch_size)
        serving = HashLLMServing(fail_call=1 + self.seed % calls, counters=self.counters)
        store = TimedStepStore(self._out("steps"), tr)
        pipe = Pipeline([
            PromptedGenerator(serving, gen.GEN_TEMPLATE, "question", "answer"),
            PromptedEvaluator(serving, gen.EVAL_TEMPLATE, "answer", "score"),
            PromptedFilter(serving, gen.FILTER_TEMPLATE, "answer",
                           min_score=gen.FILTER_MIN_SCORE),
        ], store=store, checkpoint_every=1)
        tr.wrap_ops(pipe, op_layer)
        with tr.span("read_any", "sources.read"):
            df = read_any(self.spark, unit["path"], fmt="jsonl")
        with tr.span("Pipeline.forward", "core.pipeline"):
            pipe.forward(df)
        return store.step_path(len(pipe.steps) - 1)

    def check(self, unit: dict, out: str) -> list[str]:
        rows = read_rows(out)
        self.rows_out += len(rows)
        self.bytes_out += dir_bytes(out)
        if self.workload == "llm_synth":
            return check_llm(rows, unit["expected"])
        return check_curated(rows, unit["expected"])

    def run_once(self, log, units=None) -> tuple[float, list[float], int]:
        """One pass over ``units`` (default: the run's); returns (run time,
        invocation times, failed invocations). Checks sit between
        invocations, untimed."""
        times, failed = [], 0
        self.rows_out = self.bytes_out = 0
        for unit in units or self.units:
            t0 = time.perf_counter()
            try:
                with self.tracer.span("invocation", "client"):
                    out = self.invoke(unit)
                dt = time.perf_counter() - t0
                problems = self.check(unit, out)
            except Exception:  # noqa: BLE001 — count it, keep the loop going
                dt = time.perf_counter() - t0
                problems = [traceback.format_exc()]
            times.append(dt)
            if problems:
                failed += 1
                log("invocation failed its check: " + "; ".join(problems[:5]))
        return sum(times), times, failed


def _log(msg: str) -> None:
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def measure(b: Bench, seconds: float, t_process: float, gen_s: float) -> dict:
    """Untraced window; returns the result object."""
    session_s = b.start_session(traced=False)
    _log("session started in %.2fs" % session_s)
    warm_s, _, failed = b.run_once(_log, b.units[:WARM_UP])
    _log("warm-up took %.2fs" % warm_s)
    setup_s = time.perf_counter() - t_process - gen_s
    runs, invs = [], []
    t_win = time.perf_counter()
    while True:
        run_s, inv, f = b.run_once(_log)
        runs.append(run_s)
        invs += inv
        failed += f
        if time.perf_counter() - t_win + median(runs) > seconds:
            break
    _log("timed invocations took " + ", ".join("%.2fs" % t for t in invs))
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (median(runs), "s"),
        "invocation_p50_s": (median(invs), "s"),
    }
    counts = {"setup_s": 1, "run_s": len(runs), "invocation_p50_s": len(invs)}
    attempted = len(invs) + len(b.units[:WARM_UP])
    for k, (v, u) in metrics.items():
        print("%s %s = %.4f %s (n=%d)" % (b.workload, k, v, u, counts[k]))
    print("%s ops_failed_frac = %.4f (%d of %d invocations)"
          % (b.workload, failed / attempted, failed, attempted))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def traced(b: Bench) -> dict:
    """Fixed protocol: the warm-up invocations, then untraced, traced and
    untraced runs. The per-layer numbers come from the traced run; the tracing
    overhead is its time minus the mean of the two untraced runs around
    it, which cancels a steady warm-up drift."""
    session_s = b.start_session(traced=True)
    sc = b.spark.sparkContext
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    _, _, failed = b.run_once(_log, b.units[:WARM_UP])
    jc, rest = JobCounter(sc), Rest(sc)
    tr_on = Tracer(sc)
    tr_on.run_id = "%s-%d" % (b.workload, b.seed)
    untraced_s, attempted = [], len(b.units[:WARM_UP])
    for on in (False, True, False):
        b.tracer = tr_on if on else Tracer()
        b.counters = ServingCounters(sc) if on and b.workload == "llm_synth" else None
        with RssSampler() as rss, b.tracer.span("run", "run"):
            run_s, _, f = b.run_once(_log)
        failed += f
        attempted += len(b.units)
        if on:
            traced_s, peak_rss, counters = run_s, rss.peak, b.counters
            rows_out, bytes_out = b.rows_out, b.bytes_out
        else:
            untraced_s.append(run_s)
    spans = tr_on.spans
    jc.attribute(spans)
    live_rdds = sc._jsc.getPersistentRDDs().size()
    # the run's wall without the untimed checks between its invocations
    wall = sum(s["end"] - s["start"] for s in spans if s["name"] == "invocation")
    job_ids = {j for s in spans for j in s["jobs"]}
    stage_ids = {i for s in spans for i in s["stages"]}
    m = spark_runtime(rest, job_ids, stage_ids, wall, cores)
    serv = counters.snapshot() if counters else dict.fromkeys(
        ("calls", "prompts", "retries", "busy_s", "retry_wait_s", "in_flight"), 0)
    # An action runs the lazy chain upstream of it: the share of its
    # jobs' task time spent in Python workers (which covers the JVM steps
    # fused before them) is moved out of its wall into ``deferred_s``
    # (the ``functions`` layer).
    for s in spans:
        if s["name"] in ACTIONS:
            task_s = sum(m["run_s_of_stage"].get(i, 0.0) for i in s["stages"])
            py_s = sum(m["py_s_of_job"].get(j, 0.0) for j in s["jobs"])
            s["deferred_s"] = (s["end"] - s["start"]) * min(1.0, py_s / task_s) if task_s else 0.0

    def of(layer):
        return [s for s in spans if s["layer"] == layer]

    def secs(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def jobs(ss):
        return sum(s["n_jobs"] for s in ss)

    def io_secs(ss):
        return sum(s["end"] - s["start"] - s["deferred_s"] for s in ss)

    storage = of("core.storage")
    # everything inside Pipeline.forward except the step snapshots
    eager = [s for s in spans if s["layer"] == "core.pipeline"
             or s["layer"].startswith("operators.")]
    writes = b.workload != "llm_synth"   # llm_synth commits through StepStore
    layer = {
        "session.start_s": (session_s, "s"),
        "core.pipeline.build_s": (secs(of("core.pipeline")) - secs(storage), "s"),
        "core.pipeline.eager_jobs": (jobs(eager), "count"),
        "core.pipeline.eager_tasks": (sum(s["n_tasks"] for s in eager), "count"),
        "operators.dedup.build_s": (secs(of("operators.dedup")), "s"),
        "operators.dedup.eager_jobs": (jobs(of("operators.dedup")), "count"),
        "operators.refiners.build_s": (secs(of("operators.refiners")), "s"),
        "operators.filters.build_s": (secs(of("operators.filters")), "s"),
        "operators.eval.build_s": (secs(of("operators.eval")), "s"),
        "operators.sampling.build_s": (secs(of("operators.sampling")), "s"),
        "operators.sampling.eager_jobs": (jobs(of("operators.sampling")), "count"),
        "sources.read_s": (secs(of("sources.read")), "s"),
        "sources.read_jobs": (jobs(of("sources.read")), "count"),
        "sources.write_s": (io_secs(of("sources.write")), "s"),
        "sources.rows_out": (rows_out if writes else 0, "count"),
        "sources.bytes_out": (bytes_out if writes else 0, "bytes"),
        "spark.jobs": (len(job_ids), "count"),
        "spark.stages": (len(stage_ids), "count"),
        "spark.tasks": (sum(s["n_tasks"] for s in spans), "count"),
        "spark.sched_gap_s": (m["spark.sched_gap_s"], "s"),
        "spark.task_busy_s": (m["spark.task_busy_s"], "s"),
        "spark.core_util": (m["spark.core_util"], "ratio"),
        "spark.shuffle_write_bytes": (m["spark.shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (m["spark.spill_bytes"], "bytes"),
        "spark.max_task_over_median": (m["spark.max_task_over_median"], "ratio"),
        "functions.python_rows": (m["functions.python_rows"], "count"),
        "functions.python_rows_per_input_row":
            (m["functions.python_rows"] / b.python_rows_needed, "ratio"),
        "functions.python_s": (m["functions.python_s"], "s"),
        "functions.deferred_s": (sum(s.get("deferred_s", 0.0) for s in spans), "s"),
        "serving.calls": (serv["calls"], "count"),
        "serving.prompts": (serv["prompts"], "count"),
        "serving.retries": (serv["retries"], "count"),
        "serving.busy_s": (serv["busy_s"], "s"),
        "serving.retry_wait_s": (serv["retry_wait_s"], "s"),
        "serving.prompts_per_row": (serv["prompts"] / b.python_rows_needed, "ratio"),
        "serving.in_flight": (serv["in_flight"], "count"),
        # mapInPandas worker time not spent in the serving's calls and retries
        "operators.generate.overhead_s":
            (max(0.0, m["map_in_pandas_s"] - serv["busy_s"] - serv["retry_wait_s"]), "s"),
        "core.storage.write_s":
            (io_secs(s for s in storage if s["name"].endswith("write")), "s"),
        "core.storage.read_s":
            (secs(s for s in storage if s["name"].endswith("read")), "s"),
        "core.storage.bytes_written": (sum(s["bytes"] for s in storage if "bytes" in s), "bytes"),
        "core.cache.live_rdds_after": (live_rdds, "count"),
        "peak_rss_mb": (peak_rss / 2 ** 20, "MB"),
        "trace.run_s": (traced_s, "s"),
        "trace.overhead_s": (traced_s - sum(untraced_s) / 2, "s"),
    }
    shares = self_times(spans)
    for name in LAYERS:
        layer["share." + name] = (shares.get(name, 0.0) / wall, "ratio")
    for k, (v, u) in layer.items():
        print("%s %s = %.6g %s" % (b.workload, k, v, u))
    tr_on.dump(os.path.join(b.work, "trace-%s-%d.json" % (b.workload, b.seed)),
               {"workload": b.workload, "seed": b.seed,
                "metrics": {k: v for k, (v, _) in layer.items()}})
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}}


def main(workload: str, seed: int, seconds: float, trace: bool,
         work: str, t_process: float) -> int:
    b = Bench(workload, seed, work)
    t0 = time.perf_counter()
    b.prepare()
    gen_s = time.perf_counter() - t0
    try:
        res = traced(b) if trace else measure(b, seconds, t_process, gen_s)
    finally:
        if b.spark is not None:
            b.stop_session()
    print(json.dumps(res), flush=True)
    return 0
