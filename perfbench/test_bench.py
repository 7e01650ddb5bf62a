"""Tests of the benchmark itself, at a tiny size.

    python3 -m pytest perfbench/test_bench.py -q

Each workload runs in its own process, as the benchmark is run, with
and without tracing; every metric BENCHMARK.json names must print with
its unit.  A wrong answer injected into the engine must raise
error_rate, and a directory without the engine must fail cleanly.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "1", "--seconds", "1", "--pages", "300"]

# runs the benchmark with SearchEngine.search answering in reverse order
WRONG_ANSWERS = """
import sys
sys.path[:0] = [{root!r}, {here!r}]
from oscar_spark.serve.executor import SearchEngine
import run

right = SearchEngine.search

def reversed_answer(self, query, *a, **kw):
    got = right(self, query, *a, **kw)
    return got[::-1] if len(got) > 1 else [(-1, 0.0)]

SearchEngine.search = reversed_answer
sys.exit(run.main(sys.argv[1:]))
"""


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(args: list[str], program: list[str] | None = None,
          cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = program or [sys.executable, os.path.join(cwd, "perfbench",
                                                   "run.py")]
    p = subprocess.run(cmd + args, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return p.returncode, None


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace):
    code, out = bench(["--workload", workload, "--trace", str(trace)] + TINY)
    assert code == 0 and out is not None
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    named = spec()["per_layer" if trace else "end_to_end"]
    for m in named:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(out["metrics"][m["name"]]["value"], (int, float))
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in named)


def test_wrong_answer_raises_error_rate():
    program = [sys.executable, "-c",
               WRONG_ANSWERS.format(root=ROOT, here=HERE)]
    code, out = bench(["--workload", "serve", "--trace", "1"] + TINY,
                      program=program)
    assert code == 0 and out is not None
    assert not out["correct"] and out["failed"] > 0
    assert out["metrics"]["error_rate"]["value"] == pytest.approx(
        out["failed"] / out["attempted"])
    assert out["metrics"]["error_rate"]["value"] > 0


def test_missing_layer_is_unmeasured(monkeypatch):
    monkeypatch.syspath_prepend(HERE)
    monkeypatch.syspath_prepend(ROOT)
    from oscar_spark.serve import executor
    from tracing import LAYER_METRICS, Tracer
    monkeypatch.delattr(executor, "_score_pdf")
    tracer = Tracer(jobs=None)
    tracer.install()
    tracer.uninstall()
    assert set(tracer.unmeasured) == {"serve.decode_score"}
    metrics = tracer.serve_metrics()
    assert "serve.fetch_ms" in metrics
    assert not set(LAYER_METRICS["serve.decode_score"]) & set(metrics)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns(
                            "__pycache__", ".work", "out"))
    code, out = bench(["--workload", "build", "--trace", "0"] + TINY,
                      cwd=str(tmp_path))
    assert code != 0 and out is None
