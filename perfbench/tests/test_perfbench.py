"""Tests of the benchmark itself: seeded inputs, the metric contract
with BENCHMARK.json, and the percentile rule. Run from the repository
root with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_heap_dump_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.hprof", "b.hprof", "c.hprof"))
    ta = inputs.build_heap_dump(a, 7)
    tb = inputs.build_heap_dump(b, 7)
    tc = inputs.build_heap_dump(c, 8)
    assert _sha(a) == _sha(b) and ta == tb
    assert _sha(a) != _sha(c) and ta["requests"] != tc["requests"]


def test_corpus_is_a_function_of_the_seed(tmp_path):
    dirs = [tmp_path / n for n in ("a", "b", "c")]
    for d in dirs:
        d.mkdir()
    for d, seed in zip(dirs, (7, 7, 8)):
        inputs.build_corpus(str(d), seed)
    for table in ("documents.parquet", "embeddings.parquet"):
        a, b, c = (_sha(str(d / table)) for d in dirs)
        assert a == b
        assert a != c


def test_end_to_end_metrics_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    res = {"passes": [1.0, 2.0, 3.0], "ops_ms": [5.0] * 4}
    metrics = run.end_to_end(res, 9.5)
    assert set(metrics) == set(spec)
    assert {k: run.END_TO_END[k] for k in metrics} == spec
    assert all(v > 0 for v in metrics.values())
    assert set(run.sample_counts(res)) == set(spec)


def test_per_layer_metrics_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert layers.PER_LAYER == spec


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile(range(99), 0.9) is None
    assert stats.percentile(range(100), 0.9) == 89
    assert stats.percentile(range(1000), 0.99) == 989


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    spec = _benchmark_json()
    cmd = spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                             "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120,
                       env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
