"""The benchmark's own tests, at sf0.001 (about a minute per workload run).

    python3 -m pytest perfbench/tests -q

They run the real command end to end: every workload under a seed,
every metric named in BENCHMARK.json emitted with its unit, and a
deliberately corrupted output failing the correctness gate.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path[:0] = [str(HERE), str(ROOT)]


def bench(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--sf", "0.001", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_emits_every_metric_with_its_unit(workload, trace):
    code, lines = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", trace)
    out = result(lines)
    assert code == 0, lines[-5:]
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    wanted = SPEC["end_to_end"] if trace == "0" else SPEC["per_layer"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    for m in SPEC["end_to_end"] if trace == "0" else ():
        assert out["metrics"][m["name"]]["value"] > 0, m["name"]
    if workload == "warehouse_backfill" and trace == "1":
        assert out["metrics"]["stream.batches"]["value"] >= 1


@pytest.mark.parametrize("workload", ["cold_artifacts", "stream_ingest"])
def test_unlisted_workloads_run_correct(workload):
    code, lines = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", "1")
    out = result(lines)
    assert code == 0 and out["correct"] is True, lines[-5:]
    layers = json.loads(next(x for x in lines if x.startswith("info "))[5:])["layers"]
    assert ("memo.build_s" in layers) if workload == "cold_artifacts" else (
        layers["stream.batches"] >= 2)


@pytest.mark.parametrize("workload,target", [
    ("warm_mix", "agg-group-by"),
    ("warehouse_backfill", "customer_state"),
])
def test_corrupted_output_fails_the_gate(workload, target):
    code, lines = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", "0", "--corrupt", target)
    out = result(lines)
    assert code != 0
    assert out["correct"] is False and out["failed"] >= 1
    assert any(line.startswith("FAILED") and target in line for line in lines)


def test_corrupted_output_fails_while_certifying(tmp_path):
    """An entry without an oracle, corrupted on a cache with no certified
    fingerprint yet: the gate fails, and certifies the engine's own
    output, so the next clean run passes."""
    for cert in ROOT.glob(".perfbench_cache/oracles-data-sf0.001-*/cert-ext-dedup-near-*.json"):
        cert.unlink()
    args = ("--workload", "warm_mix", "--seed", "4", "--seconds", "1", "--trace", "0")
    code, lines = bench(*args, "--corrupt", "ext-dedup-near")
    assert code != 0 and result(lines)["correct"] is False
    assert any(line.startswith("FAILED ext-dedup-near") for line in lines)
    code, lines = bench(*args)
    assert code == 0 and result(lines)["correct"] is True, lines[-5:]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = bench("--workload", "warm_mix", "--seed", "1", "--seconds", "1",
                        "--trace", "0", cwd=tmp_path)
    assert code != 0 and not lines


def test_gate_rules():
    from checks import corrupt, frame_diff, tables_equal

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert frame_diff(a, a.iloc[::-1]) is None
    assert frame_diff(corrupt(a), a) is not None
    assert frame_diff(a.astype({"k": float}), a) is not None  # int-vs-float skew
    assert tables_equal(a.assign(v=a.v + 1e-9), a) is None
    assert tables_equal(corrupt(a), a) is not None


def test_latency_metrics_use_the_raw_samples():
    from fractions import Fraction

    from run import latency_metrics

    lat = [float(i) for i in range(30, 0, -1)]
    m, detail = latency_metrics(lat, Fraction(2, 3))
    assert m == {"ops_per_s": 30 / 465, "op_p50_s": 15.5, "op_tail_s": 20.0}
    assert detail == {"op_tail_pct": 100 * 20 / 30}  # ten samples beyond it
    # the quantile stays put when more passes fit: 45 samples, rank 29
    assert latency_metrics([float(i) for i in range(45)], Fraction(2, 3))[0]["op_tail_s"] == 29.0
    # 15 samples at the upper quartile's rank: rank 11
    assert latency_metrics([float(i) for i in range(15)], Fraction(4, 5))[0]["op_tail_s"] == 11.0
