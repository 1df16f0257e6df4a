"""Self-tests of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start Spark and take a few minutes.
"""

from __future__ import annotations

import filecmp
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

import datagen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs)


def _same_tree(a: str, b: str) -> bool:
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa)


def _strip(manifest: dict, d: str) -> str:
    return json.dumps(manifest, sort_keys=True).replace(d, "<dir>")


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ma, mb, mc = datagen.generate(7, a), datagen.generate(7, b), datagen.generate(8, c)
    assert _same_tree(a, b)
    assert _strip(ma, a) == _strip(mb, b)
    assert _files(a) == _files(c)  # same layout ...
    assert not _same_tree(a, c)  # ... different bytes
    assert _strip(ma, a) != _strip(mc, c)
    # sizes do not depend on the seed: op costs stay comparable across seeds
    assert ma["row_counts"] == mc["row_counts"]
    assert len(ma["ingest_days"]) == len(mc["ingest_days"])
    assert len(ma["planted_groups"]) == len(mc["planted_groups"]) == datagen.N_DUP_GROUPS


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOAD_NAMES)
    assert spec["paths"] == ["perfbench"]


def test_disabled_tracer_records_nothing():
    t = probes.Tracer(False)
    with t.span("a"), t.span("b"):
        pass
    assert t.spans == []
    t = probes.Tracer(True)
    with t.span("a"), t.span("b"):
        pass
    assert [s["name"] for s in t.spans] == ["a", "b"] and t.spans[1]["parent"] == 0


def test_without_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    info, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    return info, result


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_smoke_untraced_is_correct_and_records_no_spans(workload):
    info, result = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert info["error_rate"] == 0
    assert info["spans"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_smoke_traced_reports_every_layer_metric():
    info, result = _run("curation", 1)
    assert result["correct"]
    assert info["spans"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER_UNITS
