"""Self-test of the benchmark (takes a few minutes; starts Spark):

    python3 -m pytest perfbench/test_perfbench.py -q

- every workload passes at a small size, traced and untraced, and prints
  exactly the metrics BENCHMARK.json lists;
- layers.json has a prediction for every per-layer metric;
- changing one document's output makes the run incorrect, reports
  ``mismatched_docs=1`` and gives a non-zero exit code.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# crawl_checkpoint spreads docs over 4 buckets; below ~40 docs a bucket can
# be empty, which the checkpoint summary does not survive (TypeError on
# pages_ok=None), so the small size keeps 48 docs
SCALE = "0.2"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_layer_predictions_cover_every_per_layer_metric():
    with open(os.path.join(HERE, "layers.json")) as f:
        predicted = [p["metric"] for p in json.load(f)["predictions"]]
    assert predicted == [m["name"] for m in _spec()["per_layer"]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_small_run_passes(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _spec()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert "mismatched_docs=0" in proc.stderr


def test_one_changed_document_fails_the_run(monkeypatch, capsys):
    from perfbench import harness
    from perfbench.workloads import CrawlCheckpoint

    real_output = CrawlCheckpoint.output

    def one_doc_changed(self, spark):
        out = real_output(self, spark)
        i = out.index[out["status"] == "ok"][0]
        out.loc[i, "text"] = out.loc[i, "text"] + "!"
        return out

    monkeypatch.setattr(CrawlCheckpoint, "output", one_doc_changed)
    env = dict(os.environ)
    try:
        result, code = harness.run("crawl_checkpoint", 7, 1.0, False, float(SCALE))
    finally:
        os.environ.clear()
        os.environ.update(env)
    assert result["correct"] is False
    assert code != 0
    assert "mismatched_docs=1," in capsys.readouterr().err
