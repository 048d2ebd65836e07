#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload warm_mix --seeds 1-10 [--trace 0]

Runs the benchmark once per seed, in sequence, from the checkout root and
prints, per metric, the median, the interquartile range as a share of the
median (``statistics.quantiles(values, n=4)``) and the metric's bound from
BENCHMARK.json. Raw result lines are appended to
``.perfbench_out/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed",
             str(seed), "--seconds", str(spec["run_seconds"]), "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines() or ["{}"]
        last = lines[-1]
        with open(out / f"spread-{args.workload}.jsonl", "a") as f:
            f.write(json.dumps({"seed": seed, "result": json.loads(last),
                                "info": next((json.loads(x[5:]) for x in lines
                                              if x.startswith("info ")), None)}) + "\n")
        res = json.loads(last)
        print(f"seed {seed}: exit {proc.returncode} correct {res.get('correct')} "
              f"wall {time.perf_counter() - t0:.1f}s", flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            iqr = f"{(q3 - q1) / med:.3f}"
        else:
            iqr = "n/a"
        print(f"{k:32s} median {med:12.4f}  iqr/median {iqr:>7s}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
