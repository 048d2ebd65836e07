#!/usr/bin/env python3
"""Engine benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload warm_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Lines before it report the details: the
per-layer table, the tail percentile used and every failure. The exit
code is 0 only when every output passed the correctness gate.

Everything the run writes stays inside the checkout: a per-run work
directory under ``.perfbench_run`` (removed at exit), the input and oracle
cache under ``.perfbench_cache`` and span dumps under ``.perfbench_out``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from fractions import Fraction
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_SEED = 20240101  # the tables are fixed; --seed drives each workload's inputs
DEFAULT_SF = 0.01
END_TO_END = ("setup_s", "ops_per_s", "op_p50_s", "op_tail_s", "peak_storage_mb")
PER_LAYER = (
    "session.start_s", "catalog.prime_s", "catalog.cached_mb",
    "ops.build_s", "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.stage_p50_ms", "spark.shuffle_write_mb", "spark.spill_mb",
    "memo.entries_built", "memo.resident_mb",
    "materialize.files_written", "materialize.bytes_written_mb", "materialize.snapshot_mb",
    "write_bytes_per_live_byte", "stored_bytes_per_live_byte",
    "stream.batches", "stream.state_rows", "stream.state_mb",
    "host.calibration_s", "host.calibration_spark_s", "host.calibration_io_s",
    "trace.overhead_pct", "trace.unattributed_pct",
)
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_pct": "%", "_byte": "ratio"}


def unit_of(name: str) -> str:
    if name == "ops_per_s":
        return "1/s"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF,
                   help="scale factor of the generated tables (lineitem = 6M x sf rows)")
    p.add_argument("--corrupt", default=None,
                   help="corrupt this entry's or warehouse table's output before the "
                        "check (tests the correctness gate)")
    return p.parse_args(argv)


def tree_hash(root: Path, pattern: str) -> str:
    h = hashlib.sha1()
    for p in sorted(root.rglob(pattern)):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the work directory, and pin the load: one driver, all cores."""
    for sub in ("tmp", "spark-local", "config"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "DBTWIZ_SPARK_CONFIG_DIR": str(work / "config"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONHASHSEED": "0",
    })
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.chdir(work)


def ensure_data(cache: Path, sf: float) -> str:
    import datagen

    key = tree_hash(HERE, "datagen.py")
    out = cache / f"data-sf{sf}-{DATA_SEED}-{key}"
    if not out.exists():
        tmp = cache / f"{out.name}.{os.getpid()}.tmp"
        datagen.write_tables(datagen.make_tables(DATA_SEED, sf), str(tmp))
        os.replace(tmp, out)
    return str(out)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


# op_tail_s is the latency at a fixed quantile per workload: the highest
# percentile with at least ten samples beyond it, evaluated at a baseline
# run's operation count (warm_mix: two passes, 30 operations), then held
# fixed, so that the percentile does not move when a faster engine fits
# more passes into --seconds. warehouse_backfill's 15 operations leave no
# rank above the median with ten beyond it; it takes its upper quartile's
# rank (the middle merge round).
TAIL_QUANTILE = {"warm_mix": Fraction(2, 3), "warehouse_backfill": Fraction(4, 5)}
DEFAULT_TAIL_QUANTILE = Fraction(3, 4)


def latency_metrics(latencies: list[float], q: Fraction) -> tuple[dict, dict]:
    """End-to-end latency metrics from the raw operation latencies; the
    tail is the sorted latency at rank ceil(q * n) - 1."""
    s = sorted(latencies)
    n = len(s)
    i = max(0, math.ceil(q * n) - 1)
    return {
        "ops_per_s": n / sum(s),
        "op_p50_s": statistics.median(s),
        "op_tail_s": s[i],
    }, {"op_tail_pct": 100.0 * (i + 1) / n}


def per_op_layer(run, timed_ops: set[str]) -> dict[str, float]:
    """Self time per layer, summed over timed operations, per operation."""
    out: dict[str, float] = {}
    for s, own in zip(run.tracer.spans, run.tracer.self_times()):
        if s.op in timed_ops:
            out[s.name] = out.get(s.name, 0.0) + own
    n = max(1, len(timed_ops))
    return {k: v / n for k, v in out.items()}


def layer_metrics(run) -> tuple[dict, dict]:
    """(per-layer metrics for the JSON line, the full per-layer report)."""
    n = max(1, len(run.timed_ops))
    own = per_op_layer(run, run.timed_ops)
    spark_ops = [o for o in run.op_spark if o["timed"]]
    stage_ms = [ms for o in spark_ops for ms in o["stage_ms"]]
    wall = sum(run.latencies)
    rec = run.tracer.reconcile()
    m = {
        "session.start_s": run.setup.get("session.start", 0.0),
        "catalog.prime_s": run.setup.get("catalog.prime", 0.0),
        "ops.build_s": own.get("ops.build", 0.0),
        "spark.exec_s": sum(o["job_s"] for o in spark_ops) / n,
        "spark.jobs": sum(o["jobs"] for o in spark_ops) / n,
        "spark.stages": sum(o["stages"] for o in spark_ops) / n,
        "spark.tasks": sum(o["tasks"] for o in spark_ops) / n,
        # stage times come in whole milliseconds: interpolate within the
        # median's millisecond instead of reading the same integer every run
        "spark.stage_p50_ms": statistics.median_grouped(stage_ms) if stage_ms else 0.0,
        "spark.shuffle_write_mb": sum(o["shuffle_write_bytes"] for o in spark_ops) / n / 2**20,
        "spark.spill_mb": sum(o["spill_bytes"] for o in spark_ops) / n / 2**20,
        "trace.overhead_pct": 100.0 * run.tracer.overhead_s / wall if wall else 0.0,
        "trace.unattributed_pct": rec["unattributed_p50_pct"],
    }
    for k in PER_LAYER:
        if k not in m:
            m[k] = run.layer.get(k, 0.0)
    report = dict(m)
    cat = [c for c in run.catalyst if c["timed"]]
    for phase in ("analysis", "optimization", "planning"):
        if cat:
            report[f"catalyst.{phase}_ms"] = sum(c[phase] for c in cat) / len(cat)
    for span, key in (("runner.run", "runner.self_s"), ("backfill", "backfill.self_s"),
                      ("spark.collect", "spark.collect_s"),
                      ("materialize.write_table", "materialize.write_table_s"),
                      ("materialize.insert_overwrite", "materialize.insert_overwrite_s"),
                      ("materialize.merge", "materialize.merge_s"),
                      ("materialize.scd2", "materialize.scd2_s"),
                      ("materialize.read", "materialize.read_s"),
                      ("materialize.create_view", "materialize.create_view_s")):
        if span in own:
            report[key] = own[span]
    chunk = [lat for lat, lab in zip(run.latencies, run.labels) if lab == "chunk"]
    if chunk:
        report["backfill.chunk_s"] = statistics.median(chunk)
    micro = {o for o in run.timed_ops if o.endswith(":micro_batch")}
    if micro:
        report["stream.merge_s"] = per_op_layer(run, micro).get("materialize.merge", 0.0)
    report.update({k: v for k, v in run.layer.items() if k not in m})
    report["trace.reconcile"] = rec
    return m, report


def main(argv=None) -> int:
    if not (ROOT / "dbtwiz_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package at {ROOT / 'dbtwiz_spark'}; run from a "
              "checkout of the engine", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    args = parse_args(argv)
    cache = ROOT / ".perfbench_cache"
    cache.mkdir(exist_ok=True)
    work = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    prepare_env(work)
    spark = None
    try:
        sf_dir = ensure_data(cache, args.sf)
        os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir

        from checks import Gate
        from probes import host_probes
        from workloads import WORKLOADS, Run

        from dbtwiz_spark.session import get_spark

        def factory():
            return get_spark("perfbench")

        engine_hash = tree_hash(ROOT / "dbtwiz_spark", "*.py")

        def make_gate(spark):
            return Gate(spark, sf_dir, str(cache / f"oracles-{Path(sf_dir).name}"),
                        engine_hash, args.corrupt)

        run = Run(factory, make_gate, sf_dir, str(work), args.seed, args.seconds,
                  bool(args.trace), args.corrupt)
        try:
            WORKLOADS[args.workload](run)
        except Exception as e:  # noqa: BLE001 — reported as a failed run
            run.fail(f"workload crashed: {type(e).__name__}: {e}")
        spark = run.spark
        if spark is not None:
            run.layer.update(host_probes(spark, str(work / "tmp")))
        if run.gate is not None:
            run.gate.close()

        attempted = max(1, run.attempted)
        correct = not run.failures and bool(run.latencies)
        failed = min(attempted, max(len(run.failures), 0 if correct else 1))
        info: dict = {"workload": args.workload, "seed": args.seed, "ops": len(run.latencies),
                      "failed_ratio": failed / attempted, "setup": run.setup}
        if run.latencies:
            lat, detail = latency_metrics(
                run.latencies, TAIL_QUANTILE.get(args.workload, DEFAULT_TAIL_QUANTILE))
            metrics = {"setup_s": sum(run.setup.values()), **lat,
                       "peak_storage_mb": run.peak_storage_mb}
            info.update(detail)
            info["latencies"] = [[lab, t] for lab, t in zip(run.labels, run.latencies)]
        else:
            metrics = {k: 0.0 for k in END_TO_END}
        info["host"] = {k: v for k, v in run.layer.items() if k.startswith("host.")}
        if args.trace:
            metrics, report = layer_metrics(run)
            info["layers"] = report
            if not report["trace.reconcile"]["ok"]:
                print("WARN layer self times miss more than 10% of an operation's wall time")
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            run.tracer.dump(str(out / f"spans-{args.workload}-{args.seed}.json"))
        for why in run.failures:
            print(f"FAILED {why}")
        print("info " + json.dumps(info, default=float))
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
        }))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
