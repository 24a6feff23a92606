"""Tests of the benchmark itself (not of the engine).

Run from the repository root:  python3 -m pytest perfbench/tests -q

The fast tests check the input generators and the refusal to run
outside a checkout; the ``slow`` ones run the benchmark command end to
end (about a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen_market  # noqa: E402
import gen_tables  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_tables_are_deterministic(tmp_path):
    for d in ("a", "b"):
        gen_tables.write_tables(str(tmp_path / d), seed=7, scale=0.001)
    gen_tables.write_tables(str(tmp_path / "c"), seed=8, scale=0.001)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_market_bars_are_deterministic_and_truth_is_consistent(tmp_path):
    sizes = dict(days=2, hours=2, xetra_instruments=20, eurex_contracts=40)
    truths = [gen_market.generate(str(tmp_path / d), 7, **sizes) for d in ("a", "b")]
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    t = truths[0]
    lines = {
        kind: sum(
            sum(1 for _ in open(os.path.join(d, f))) - 1
            for d, _, fs in os.walk(tmp_path / "a")
            for f in fs
            if f"_BINS_{kind}" in f
        )
        for kind in ("XETR", "XEUR")
    }
    assert lines == {"XETR": t["xetra_rows"], "XEUR": t["eurex_rows"]}
    assert t["missing_isin"] and t["missing_underlying"] and t["b2_rows"] > 0
    assert len(t["trading_dates"]) == 2


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_bars",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    rec_path = os.path.join(BENCH_DIR, ".work", f"{workload}-3-t{trace}", "record.json")
    with open(rec_path) as f:
        return result, json.load(f)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["etl_bars", "fixed_cost"])
def test_untraced_run_prints_declared_end_to_end_metrics(workload):
    result, _ = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _declared("end_to_end")


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["etl_bars", "fixed_cost"])
def test_traced_run_prints_declared_per_layer_metrics_and_counts_repeat(workload):
    result, record = _run(workload, 1)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _declared("per_layer")
    layers = record["traced_layers"]
    assert len(layers) >= 2
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        assert len({row[key] for row in layers}) == 1, (key, [r[key] for r in layers])
