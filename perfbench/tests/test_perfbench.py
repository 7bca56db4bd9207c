"""The benchmark's own tests: each end to end through ``run.py`` on tiny
inputs, so they take a few minutes in all.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

TINY = {"kg_dense": 60, "kg_longpages": 30, "clean_kg": 80}


def _run(work, workload, trace=0, seed=1, cwd=ROOT, script=None):
    proc = subprocess.run(
        [sys.executable, script or os.path.join(BENCH, "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--size", str(TINY[workload]),
         "--work", str(work)],
        cwd=cwd, capture_output=True, text=True, timeout=400)
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_metrics_run_py_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.SIZES)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run_is_correct(tmp_path, workload):
    res = _result(_run(tmp_path, workload))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {n for n, _, _ in run.END_TO_END}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_wrong_reference_digest_is_a_failure(tmp_path):
    import inputs

    in_dir = inputs.input_dir(ROOT, str(tmp_path), "kg_dense", 1,
                              TINY["kg_dense"])
    inputs.ensure_input(in_dir, "kg_dense", 1, TINY["kg_dense"])
    meta_path = os.path.join(in_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["digest"] = "0" * 64
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    res = _result(_run(tmp_path, "kg_dense"))
    assert not res["correct"]
    assert res["failed"] == res["attempted"]


@pytest.mark.parametrize("workload", ["kg_dense", "clean_kg"])
def test_traced_run_reports_every_layer_metric(tmp_path, workload):
    proc = _run(tmp_path, workload, trace=1)
    res = _result(proc)
    assert res["correct"]
    names = {n for n, _, _ in run.PER_LAYER}
    assert names <= set(res["metrics"])
    if workload == "clean_kg":
        for stage in ("url_dedup", "exact_dedup", "near_dedup",
                      "quality_lang", "repetition", "perplexity",
                      "decontaminate", "host_cap", "token_budget"):
            for m in ("s", "rows_in", "rows_out"):
                assert "clean.%s.%s" % (stage, m) in res["metrics"]
        for m in ("clean.near_dedup.capped_rows", "webtext.pages_s",
                  "lineage.s", "lineage.buckets", "lineage.manifest_rows"):
            assert m in res["metrics"]
    else:
        assert set(res["metrics"]) == names
        m = res["metrics"]
        assert m["pipeline.python_s"]["value"] > 0
        assert m["pipeline.arrow_bytes_to_python"]["value"] > 0
        assert m["pipeline.exchange_bytes"]["value"] > 0
        assert m["vocab.shuffle_bytes"]["value"] > 0
        assert m["score.python_s"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark: a
    non-zero exit and no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path / "work", "kg_dense", cwd=tmp_path,
                script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
