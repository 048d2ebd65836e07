"""Host probes: three fixed jobs that touch no engine code and no input
data, so a host-slow draw can be told apart from an engine change.

- CPU aggregate: range → groupBy(id % 1000) → count, codegen-bound.
- Spark per-job overhead: 64k rows over 64 tasks through one shuffle,
  scheduler-bound.
- Disk: write + fsync + drop-cache + read back of an incompressible file.

Each probe runs once untimed, then once timed: the probes run on every
benchmark run, inside its time budget. The confs the probe plans depend on
are pinned for the duration.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import functions as F

CPU_ROWS = 10_000_000
IO_MIB = 32
_PINNED = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


def _second_run_s(fn) -> float:
    """Wall time of fn's second call; the first warms it up."""
    fn()
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def host_probes(spark, scratch: str) -> dict[str, float]:
    saved = {k: spark.conf.get(k, None) for k in _PINNED}
    for k, v in _PINNED.items():
        spark.conf.set(k, v)
    try:
        cpu = _second_run_s(
            lambda: spark.range(CPU_ROWS).groupBy((F.col("id") % 1000).alias("k")).count().collect())
        sched = _second_run_s(
            lambda: spark.range(0, 65_536, 1, 64).groupBy((F.col("id") % 997).alias("k")).count().collect())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    blob = os.urandom(1 << 20) * IO_MIB

    def io_once() -> None:
        with tempfile.NamedTemporaryFile(dir=scratch, suffix=".ioprobe") as f:
            f.write(blob)
            f.flush()
            os.fsync(f.fileno())
            try:
                os.posix_fadvise(f.fileno(), 0, 0, os.POSIX_FADV_DONTNEED)
            except (AttributeError, OSError):
                pass
            f.seek(0)
            while f.read(1 << 22):
                pass

    return {
        "host.calibration_s": cpu,
        "host.calibration_spark_s": sched,
        "host.calibration_io_s": _second_run_s(io_once),
    }
