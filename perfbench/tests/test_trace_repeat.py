"""Two traced runs of one seed report identical work counts.

Each case starts the benchmark twice as a subprocess, one to two
minutes per run on a 4-core machine.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "core.pipeline.eager_jobs",
          "core.pipeline.eager_tasks", "operators.dedup.eager_jobs",
          "operators.sampling.eager_jobs", "sources.read_jobs", "sources.rows_out",
          "functions.python_rows", "serving.calls", "serving.prompts",
          "serving.retries")


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize("workload", ["curate_shards", "llm_synth"])
def test_traced_counts_repeat(workload):
    a, b = _traced(workload, 3), _traced(workload, 3)
    assert {k: a[k] for k in COUNTS} == {k: b[k] for k in COUNTS}
    assert a["spark.jobs"] > 0 and a["functions.python_rows"] > 0
    if workload == "llm_synth":
        assert a["serving.retries"] > 0
        assert a["operators.dedup.eager_jobs"] == 0
    else:
        assert a["serving.calls"] == 0 and a["core.storage.write_s"] == 0
        assert a["operators.dedup.eager_jobs"] > 0
