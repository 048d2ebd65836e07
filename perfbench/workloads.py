"""The benchmark's workloads and the harness they share.

Every workload is a closed loop with one client: it runs whole passes
until ``seconds`` of operation time have been measured (at least one
pass), so every run sees the same mix of operations whatever the host
speed. Set-up work (session start, ``Catalog.prime``, the warm-up pass or
the warehouse seed run) is timed phase by phase into ``setup_s``;
correctness checks and trace bookkeeping run between operations and are
never inside an operation's latency.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import contextmanager
from datetime import date, timedelta

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tracer import SparkMetrics, Tracer, catalyst_phases, storage_used_mb

# the 15 read-only headline operators (a warm analyst session)
WARM_ENTRIES = (
    "agg-group-by", "join-star-schema", "top-k", "win-running-agg", "join-asof",
    "stream-session-window", "agg-rollup", "set-except", "agg-salted-skew",
    "stream-tumbling-window", "ext-dedup-exact", "ext-dedup-near", "ext-text-tfidf",
    "ext-sim-cosine-topk", "ext-ann-ivf",
)
# the artifact-building operators (memo, _truncate and checkpoint builds)
COLD_ENTRIES = (
    "graph-pagerank", "graph-hits", "graph-k-core", "graph-bfs-hops",
    "graph-connected-components", "ext-dedup-near", "ext-ann-ivf",
)
BACKFILL_DAYS = 3  # 30 event days in 10 chunks
MERGE_ROUNDS = 3
STREAM_ROUNDS = 3  # per stream_ingest pass; a warehouse_backfill pass has one


class Run:
    """State of one benchmark run: session, tracer, gate and the numbers."""

    def __init__(self, spark_factory, gate_factory, sf_dir: str, work_dir: str, seed: int,
                 seconds: float, trace: bool, corrupt_entry: str | None = None):
        self.spark_factory = spark_factory
        self.gate_factory = gate_factory
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.spark = None
        self.sm: SparkMetrics | None = None
        self.gate = None
        self.setup: dict[str, float] = {}
        self.latencies: list[float] = []
        self.labels: list[str] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.peak_storage_mb = 0.0
        self.layer: dict[str, float] = {}
        self.catalyst: list[dict] = []
        self.op_spark: list[dict] = []
        self.corrupt_entry = corrupt_entry
        self.timing = True  # False: operations outside the timed region
        self.timed_ops: set[str] = set()
        self.untimed_s = 0.0  # correctness checks run between operations
        self._n = 0

    # -- set-up -----------------------------------------------------------
    @contextmanager
    def phase(self, name: str):
        """A timed set-up phase; checks and trace bookkeeping inside it
        are subtracted."""
        t0, untimed0 = time.perf_counter(), self.untimed_s + self.tracer.overhead_s
        with self.tracer.span(name):
            yield
        own = time.perf_counter() - t0 - (self.untimed_s + self.tracer.overhead_s - untimed0)
        self.setup[name] = self.setup.get(name, 0.0) + own

    def start(self):
        """Session start and prime: the first two set-up phases of every
        workload."""
        from dbtwiz_spark.ops.common import views

        with self.phase("session.start"):
            self.spark = self.spark_factory()
        self.gate = self.gate_factory(self.spark)
        if self.tracer.enabled:
            self.sm = SparkMetrics(self.spark)
        with self.phase("catalog.prime"):
            cat = views(self.spark, self.sf_dir)
            cat.prime()
        self.layer["catalog.cached_mb"] = self.sample_storage()
        return cat

    def sample_storage(self) -> float:
        mb = storage_used_mb(self.spark)
        self.peak_storage_mb = max(self.peak_storage_mb, mb)
        return mb

    # -- operations -------------------------------------------------------
    def op(self, label: str, body):
        """Run one operation; returns (latency, result) or (latency, None)
        when it raised. Latency is recorded when ``self.timing``."""
        op_id = f"op{self._n}:{label}"
        self._n += 1
        tr = self.tracer
        if tr.enabled:
            t = time.perf_counter()
            self.sm.begin(op_id)
            tr.overhead_s += time.perf_counter() - t
        tr.op = op_id
        self.attempted += self.timing
        result = None
        t0 = time.perf_counter()
        try:
            with tr.span("op", label=label):
                result = body()
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.fail(f"{label}: {type(e).__name__}: {str(e)[:300]}")
        lat = time.perf_counter() - t0
        tr.op = None
        if self.timing:
            self.latencies.append(lat)
            self.labels.append(label)
            self.timed_ops.add(op_id)
        if tr.enabled:
            t = time.perf_counter()
            stats = self.sm.end(op_id)
            stats["label"], stats["timed"] = label, self.timing
            self.op_spark.append(stats)
            tr.overhead_s += time.perf_counter() - t
        self.sample_storage()
        return lat, result

    def fail(self, why: str) -> None:
        self.failures.append(why)

    def query(self, name: str):
        """One corpus operator call: build the DataFrame, collect it."""
        from dbtwiz_spark.ops.registry import CORPUS

        fn = CORPUS[name].fn

        def body():
            with self.tracer.span("ops.build"):
                df = fn(self.spark, self.sf_dir)
            with self.tracer.span("spark.collect"):
                return df, df.toPandas()

        lat, res = self.op(name, body)
        if res is None:
            return lat, None
        df, pdf = res
        if self.tracer.enabled:
            t = time.perf_counter()
            phases = catalyst_phases(df)
            phases["label"], phases["timed"] = name, self.timing
            self.catalyst.append(phases)
            self.tracer.overhead_s += time.perf_counter() - t
        t = time.perf_counter()
        err = self.gate.check(name, pdf)
        self.untimed_s += time.perf_counter() - t
        if err:
            self.fail(f"{name}: {err}")
        return lat, pdf

    def measure_passes(self, one_pass) -> int:
        """Whole passes until ``seconds`` of operation time are measured."""
        passes = 0
        while passes == 0 or sum(self.latencies) < self.seconds:
            one_pass(passes)
            passes += 1
        return passes


def _shuffled(rng: random.Random, names) -> list[str]:
    order = list(names)
    rng.shuffle(order)
    return order


def warm_mix(run: Run) -> None:
    """Seeded shuffles of the 15 headline operators against a primed
    catalog whose memos the warm-up pass built: every memo lookup hits."""
    run.start()
    first: dict[str, float] = {}
    run.timing = False
    with run.phase("warmup"):
        for name in _shuffled(run.rng, WARM_ENTRIES):
            first[name] = run.query(name)[0]
    run.timing = True
    run.measure_passes(lambda _p: [run.query(n) for n in _shuffled(run.rng, WARM_ENTRIES)])
    steady = {n: statistics.median(t for t, lab in zip(run.latencies, run.labels) if lab == n)
              for n in WARM_ENTRIES}
    run.layer["memo.build_s"] = sum(max(0.0, first[n] - steady[n]) for n in WARM_ENTRIES)
    _final_memo_state(run)


def cold_artifacts(run: Run) -> None:
    """Each pass clears the operator memos, then runs the artifact-building
    operators in a seeded order, so every one rebuilds its artifacts."""
    cat = run.start()
    built: list[int] = []
    clear_s: list[float] = []

    def one_pass(_p):
        t = time.perf_counter()
        built.append(cat.clear_memos())
        clear_s.append(time.perf_counter() - t)
        for name in _shuffled(run.rng, COLD_ENTRIES):
            run.query(name)

    run.timing = False
    with run.phase("warmup"):
        one_pass(-1)
    run.timing = True
    run.measure_passes(one_pass)
    if run.tracer.enabled:
        # memo.build_s: the same operators again with their memos built
        run.timing = False
        warm = {n: run.query(n)[0] for n in COLD_ENTRIES}
        run.timing = True
        cold = {n: statistics.median(t for t, lab in zip(run.latencies, run.labels) if lab == n)
                for n in COLD_ENTRIES}
        run.layer["memo.build_s"] = sum(max(0.0, cold[n] - warm[n]) for n in COLD_ENTRIES)
    run.layer["memo.entries_per_pass"] = statistics.median(built[1:])
    run.layer["memo.clear_s"] = statistics.median(clear_s[1:])
    _final_memo_state(run)


def _final_memo_state(run: Run) -> None:
    from dbtwiz_spark.catalog import Catalog

    resident = run.sample_storage() - run.layer["catalog.cached_mb"]
    run.layer["memo.entries_built"] = Catalog.clear_memos()
    run.layer["memo.resident_mb"] = max(0.0, resident)


# -- warehouse ----------------------------------------------------------------

def _models():
    from dbtwiz_spark.manifest import Model

    return [
        Model("stg_events", "SELECT event_id, user_id, event_type, value, partitiondate "
              "FROM {{ ref('events_src') }}"),
        Model("stg_orders", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
              "FROM {{ ref('orders_src') }}"),
        Model(
            "mart_segment_revenue",
            "SELECT c.c_mktsegment, o.o_orderstatus, COUNT(*) AS n_orders, "
            "SUM(o.o_totalprice) AS revenue FROM {{ ref('stg_orders') }} o "
            "JOIN {{ ref('customer_src') }} c ON o.o_custkey = c.c_custkey "
            "GROUP BY c.c_mktsegment, o.o_orderstatus",
            materialized="table",
        ),
        Model(
            "daily_event_stats",
            "SELECT partitiondate, event_type, COUNT(*) AS n_events, "
            "COUNT(DISTINCT user_id) AS n_users, SUM(value) AS total_value "
            "FROM {{ ref('stg_events') }} "
            "WHERE partitiondate >= '{{ var(\"data_interval_start\") }}' "
            "AND partitiondate < '{{ var(\"data_interval_end\") }}' "
            "GROUP BY partitiondate, event_type",
            materialized="incremental", incremental_strategy="insert_overwrite",
            partition_by="partitiondate", snapshot=True,
        ),
        Model(
            "customer_state",
            "SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, snapshot_date AS updated_on "
            "FROM {{ ref('customer_updates_src') }}",
            materialized="incremental", incremental_strategy="merge",
            unique_key="c_custkey", tags=["upserts"],
        ),
        Model(
            "customer_history",
            "SELECT c_custkey, c_acctbal, c_mktsegment, snapshot_date "
            "FROM {{ ref('customer_updates_src') }}",
            materialized="scd2", unique_key="c_custkey", partition_by="snapshot_date",
            tags=["upserts"],
        ),
    ]


def _update_batch(rng: random.Random, customers: pa.Table, k: int, day: str) -> pa.Table:
    """Batch 0 is every customer; later batches restate a seeded 10% with
    new balances/segments and add a few new keys."""
    from datagen import SEGMENTS

    n = customers.num_rows
    if k == 0:
        keys = list(range(n))
    else:
        keys = sorted(rng.sample(range(n), max(1, n // 10))) + [n + 100 * k + i for i in range(5)]
    seg = customers.column("c_mktsegment").to_pylist()
    nat = customers.column("c_nationkey").to_pylist()
    bal = customers.column("c_acctbal").to_pylist()
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_nationkey": pa.array([nat[c % n] for c in keys], pa.int32()),
        "c_acctbal": [bal[c % n] if k == 0 else round(rng.uniform(-999.99, 9999.99), 2)
                      for c in keys],
        "c_mktsegment": [seg[c % n] if k == 0 else rng.choice(SEGMENTS) for c in keys],
        "snapshot_date": [day] * len(keys),
    })


def _write_source(table: pa.Table, path: str) -> None:
    """Replace a source directory's content with one parquet file."""
    os.makedirs(path, exist_ok=True)
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


class WarehouseFiles:
    """Files under the warehouse root, keyed by (inode, size, mtime):
    bytes written are the bytes of files that appear after an operation;
    snapshot directories are the only non-live data."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set[tuple] = set()
        self.files_written = 0
        self.bytes_written = 0

    def _walk(self):
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                yield p, st

    def observe(self) -> None:
        for _p, st in self._walk():
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
            if key not in self.seen:
                self.seen.add(key)
                self.files_written += 1
                self.bytes_written += st.st_size

    def sizes(self) -> tuple[int, int, int]:
        """(live bytes, snapshot-only bytes, stored bytes)."""
        from dbtwiz_spark.materialize import SNAPSHOT_DIRNAME

        live, stored, snap_inodes = {}, {}, {}
        for p, st in self._walk():
            stored[st.st_ino] = st.st_size
            if SNAPSHOT_DIRNAME in p.split(os.sep):
                snap_inodes[st.st_ino] = st.st_size
            else:
                live[st.st_ino] = st.st_size
        snap_only = sum(v for k, v in snap_inodes.items() if k not in live)
        return sum(live.values()), snap_only, sum(stored.values())


def warehouse_backfill(run: Run) -> None:
    """A generated dbt-style DAG: staging views, a table mart, a daily
    insert_overwrite model, a merge model fed by seeded update batches
    and an SCD2 model, next to the two streaming queries of ``EventStream``
    upserting into the same warehouse. A pass is one full Runner.run,
    run_backfill over the 30 event days (3-day chunks), the merge rounds
    and one stream round. Write counts and byte ratios are taken at the
    end of the first timed pass, so they do not grow with the number of
    passes that fit into ``seconds``."""
    from dbtwiz_spark.backfill import run_backfill
    from dbtwiz_spark.manifest import Manifest, Source

    from datagen import event_days
    from timed_engine import SparkSqlProxy, TimedRunner, TimedWarehouse

    src = os.path.join(run.work_dir, "sources")
    events = pq.read_table(os.path.join(run.sf_dir, "events.parquet"))
    days = event_days()
    customers = pq.read_table(os.path.join(run.sf_dir, "customer.parquet"))
    _write_source(events.append_column(
        "partitiondate", pc.strftime(events.column("ts"), format="%Y-%m-%d")),
        os.path.join(src, "events"))
    _write_source(pq.read_table(os.path.join(run.sf_dir, "orders.parquet")),
                  os.path.join(src, "orders"))
    _write_source(customers, os.path.join(src, "customer"))
    batches = [_update_batch(run.rng, customers, 0, days[0])]
    _write_source(batches[0], os.path.join(src, "customer_updates"))

    run.start()
    manifest = Manifest()
    for name, sub in (("events_src", "events"), ("orders_src", "orders"),
                      ("customer_src", "customer"), ("customer_updates_src", "customer_updates")):
        manifest.add_source(Source(name, os.path.join(src, sub)))
    day_end = (date.fromisoformat(days[-1]) + timedelta(days=1)).isoformat()
    for m in _models():
        manifest.add_model(m)
    wh_root = os.path.join(run.work_dir, "warehouse")
    wh = TimedWarehouse(run.spark, wh_root)
    wh.tracer = run.tracer
    runner = TimedRunner(SparkSqlProxy(run.spark, run.tracer), manifest, wh,
                         variables={"data_interval_start": days[0], "data_interval_end": day_end})
    runner.tracer = run.tracer
    files = WarehouseFiles(wh_root)
    stream = EventStream(run, wh, events)
    models_run = 0

    def check_results(results, label):
        nonlocal models_run
        models_run += len(results)
        bad = [r for r in results if r.status != "success"]
        if bad:
            raise RuntimeError(f"{label}: {bad[0].model} {bad[0].status}: {bad[0].error}")
        return results

    chunks = 0

    def backfill(first: str, last: str) -> None:
        nonlocal chunks
        runner.hook = lambda thunk: run.op("chunk", lambda: check_results(thunk(), "chunk"))[1]
        try:
            with run.tracer.span("backfill"):
                out = run_backfill(runner, "daily_event_stats", date.fromisoformat(first),
                                   date.fromisoformat(last), batch_size=BACKFILL_DAYS,
                                   exclude=None)
        finally:
            runner.hook = None
        chunks += len(out)
        for chunk, status in out:
            if status != "success":
                run.fail(f"backfill chunk {chunk[0]}: {status}")
        files.observe()

    def one_pass(p):
        run.op("run", lambda: check_results(runner.run(), "run"))
        files.observe()
        backfill(days[0], days[-1])
        for _r in range(MERGE_ROUNDS):
            k = len(batches)
            day = (date.fromisoformat(days[-1]) + timedelta(days=k)).isoformat()
            batches.append(_update_batch(run.rng, customers, k, day))
            _write_source(batches[-1], os.path.join(src, "customer_updates"))
            run.op("merge", lambda: check_results(runner.run("tag:upserts"), "merge"))
            files.observe()
        if p == 0:
            # started here, not with the rest of the set-up: idle queries
            # running beside the backfill slowed its chunks in some runs
            with run.phase("stream.start"):
                stream.start()
        stream.round()
        files.observe()
        if p == 0:
            live, snap_only, stored = files.sizes()
            run.layer.update({
                "runner.models": models_run,
                "backfill.chunks": chunks,
                "materialize.files_written": files.files_written,
                "materialize.bytes_written_mb": files.bytes_written / 2**20,
                "materialize.snapshot_mb": snap_only / 2**20,
                "write_bytes_per_live_byte": files.bytes_written / live if live else 0.0,
                "stored_bytes_per_live_byte": stored / live if live else 0.0,
            })

    run.timing = False
    with run.phase("warehouse.seed"):
        run.op("seed", lambda: check_results(runner.run(full_refresh=True), "seed"))
    with run.phase("warmup"):  # three backfill chunks
        backfill(days[0], days[3 * BACKFILL_DAYS - 1])
    files.observe()
    # count the first timed pass only
    files.files_written = files.bytes_written = models_run = chunks = 0
    # The stream's first round is timed: a round's cost is fixed per-task
    # work (the first costs about what later ones do), and a warm-up round
    # would take a fifth of the run's time budget.
    run.timing = True
    try:
        run.measure_passes(one_pass)
    finally:
        stream.stop()
    run.layer.update(stream.layer_metrics())
    stream.check()
    _check_warehouse(run, wh, batches)
    _final_memo_state(run)


def stream_ingest(run: Run) -> None:
    """Seeded daily event files consumed by two streaming queries that
    upsert into a warehouse; a pass is STREAM_ROUNDS micro-batch rounds."""
    from timed_engine import TimedWarehouse

    events = pq.read_table(os.path.join(run.sf_dir, "events.parquet"))
    run.start()
    wh = TimedWarehouse(run.spark, os.path.join(run.work_dir, "warehouse"))
    wh.tracer = run.tracer
    stream = EventStream(run, wh, events)
    run.timing = False
    with run.phase("stream.start"):
        stream.start()
        stream.round()  # first micro-batches: query start-up, Python workers
    run.timing = True
    try:
        run.measure_passes(lambda _p: [stream.round() for _r in range(STREAM_ROUNDS)])
    finally:
        stream.stop()
    run.layer.update(stream.layer_metrics())
    stream.check()
    _final_memo_state(run)


class EventStream:
    """Daily event files dropped into a source directory, one per stream
    round, consumed by two queries: ``windowed_counts_stream`` (state
    store) and ``running_user_totals_stream`` (applyInPandasWithState),
    each upserted into the warehouse by ``foreach_batch_merge``. The seed
    holds back a share of each day's rows to the next file (late rows,
    inside the 1-day watermark), repeats a share (duplicates) and shuffles
    every file (out of order). A round's latency runs from the moment its
    file is in place until both queries have committed it."""

    def __init__(self, run: Run, wh, events: pa.Table):
        self.run = run
        self.wh = wh
        self.dir = os.path.join(run.work_dir, "stream_src")
        os.makedirs(self.dir, exist_ok=True)
        ts = events.column("ts").cast(pa.timestamp("us", tz="UTC"))
        self.events = events.set_column(1, "ts", ts)
        self.day = pc.strftime(events.column("ts"), format="%Y-%m-%d").to_pylist()
        self.days = sorted(set(self.day))
        self.held: list[int] = []
        self.rounds = 0
        self.queries = []
        self.write_s: list[float] = []
        self.untimed_batch: dict[str, int] = {}  # last untimed batch id per query

    def start(self) -> None:
        """Create each sink table empty, so every micro-batch, the first
        too, upserts through Warehouse.merge, then start both queries."""
        from pyspark.sql import functions as F

        from dbtwiz_spark.streaming.jobs import (
            events_stream, foreach_batch_merge, running_user_totals_stream,
            windowed_counts_stream)

        spark = self.run.spark
        counts = windowed_counts_stream(events_stream(spark, self.dir)).withColumn(
            "k", F.concat_ws("|", F.col("day").cast("string"), "event_type"))
        totals = running_user_totals_stream(events_stream(spark, self.dir))
        for name, df, key in (("stream_daily_counts", counts, "k"),
                              ("stream_user_totals", totals, "user_id")):
            self.wh.write_table(name, spark.createDataFrame([], df.schema), snapshot=False)
            self.queries.append(
                df.writeStream.outputMode("update")
                .foreachBatch(foreach_batch_merge(self.wh, name, key))
                .option("checkpointLocation", os.path.join(self.run.work_dir, f"ckpt_{name}"))
                .queryName(name)
                .start())

    def round(self) -> None:
        rng = self.run.rng
        day = self.days[self.rounds % len(self.days)]
        rows = [i for i, d in enumerate(self.day) if d == day]
        late = set(rng.sample(rows, len(rows) // 10))
        now = [i for i in rows if i not in late] + self.held
        now += rng.sample(now, len(now) // 30)  # duplicates
        rng.shuffle(now)
        self.held = sorted(late)
        t = time.perf_counter()
        tmp = os.path.join(self.run.work_dir, f"round-{self.rounds:04d}.parquet")
        pq.write_table(self.events.take(pa.array(now, pa.int64())), tmp)
        os.replace(tmp, os.path.join(self.dir, f"round-{self.rounds:04d}.parquet"))
        write_s = time.perf_counter() - t
        self.rounds += 1

        def body():
            with self.run.tracer.span("stream.process"):
                for q in self.queries:
                    q.processAllAvailable()
            for q in self.queries:
                if q.exception() is not None:
                    raise RuntimeError(f"{q.name}: {q.exception()}")

        self.run.op("micro_batch", body)
        if self.run.timing:
            self.write_s.append(write_s)
        else:
            for q in self.queries:
                if q.lastProgress is not None:
                    self.untimed_batch[q.name] = q.lastProgress.batchId

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def progress(self) -> list[dict]:
        """Progress of every timed micro-batch that read rows, as plain dicts."""
        import json

        ps = [json.loads(p.json) for q in self.queries for p in q.recentProgress]
        return [p for p in ps if p.get("numInputRows", 0) > 0
                and p["batchId"] > self.untimed_batch.get(p["name"], -1)]

    def layer_metrics(self) -> dict[str, float]:
        """Micro-batches per timed round and medians over them; state size
        from each query's last one."""
        ps = self.progress()
        last = {p["name"]: p for p in ps}  # progress is in batch order
        state = [op for p in last.values() for op in p.get("stateOperators", [])]
        return {
            "stream.batches": len(ps) / max(1, len(self.write_s)),
            "stream.trigger_ms": statistics.median(
                p["durationMs"].get("triggerExecution", 0) for p in ps) if ps else 0.0,
            "stream.add_batch_ms": statistics.median(
                p["durationMs"].get("addBatch", 0) for p in ps) if ps else 0.0,
            "stream.state_rows": sum(op.get("numRowsTotal", 0) for op in state),
            "stream.state_mb": sum(op.get("memoryUsedBytes", 0) for op in state) / 2**20,
            "stream.generator_lag_s": statistics.median(self.write_s) if self.write_s else 0.0,
        }

    def check(self) -> None:
        """Parity: each sink equals its batch twin over the delivered files."""
        from pyspark.sql import functions as F

        from checks import corrupt, tables_equal
        from dbtwiz_spark.streaming.jobs import EVENTS_SCHEMA, windowed_counts_stream

        batch = self.run.spark.read.schema(EVENTS_SCHEMA).parquet(self.dir)
        twins = {
            "stream_daily_counts": windowed_counts_stream(batch).withColumn(
                "k", F.concat_ws("|", F.col("day").cast("string"), "event_type")),
            "stream_user_totals": batch.groupBy("user_id").agg(
                F.count("*").alias("n_events"), F.sum("value").alias("total_value")),
        }
        for table, twin in twins.items():
            got = self.wh.read(table).toPandas()
            if table == self.run.corrupt_entry:
                got = corrupt(got)
            err = tables_equal(got, twin.toPandas())
            if err:
                self.run.fail(f"stream sink {table}: {err}")


def _check_warehouse(run: Run, wh, batches: list[pa.Table]) -> None:
    """Each built table against a DuckDB recomputation over the same
    sources and update batches."""
    from checks import tables_equal

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW ev AS SELECT *, strftime(ts, '%Y-%m-%d') AS partitiondate "
                    f"FROM read_parquet('{run.sf_dir}/events.parquet')")
        con.execute(f"CREATE VIEW o AS SELECT * FROM read_parquet('{run.sf_dir}/orders.parquet')")
        con.execute(f"CREATE VIEW c AS SELECT * FROM read_parquet('{run.sf_dir}/customer.parquet')")
        allb = pa.concat_tables([b.append_column("batch", pa.array([i] * b.num_rows, pa.int32()))
                                 for i, b in enumerate(batches)])
        con.register("upd", allb)
        expected = {
            "mart_segment_revenue":
                "SELECT c.c_mktsegment, o.o_orderstatus, COUNT(*) AS n_orders, "
                "SUM(o.o_totalprice) AS revenue FROM o JOIN c ON o.o_custkey = c.c_custkey "
                "GROUP BY 1, 2",
            "daily_event_stats":
                "SELECT partitiondate, event_type, COUNT(*) AS n_events, "
                "COUNT(DISTINCT user_id) AS n_users, SUM(value) AS total_value "
                "FROM ev GROUP BY 1, 2",
            "customer_state":
                "SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, snapshot_date AS updated_on "
                "FROM upd QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY batch DESC) = 1",
            "customer_history":
                "SELECT c_custkey, c_acctbal, c_mktsegment, snapshot_date, "
                "snapshot_date AS valid_from, "
                "lead(snapshot_date) OVER (PARTITION BY c_custkey ORDER BY snapshot_date) AS valid_to, "
                "lead(snapshot_date) OVER (PARTITION BY c_custkey ORDER BY snapshot_date) IS NULL "
                "AS is_current FROM upd",
        }
        for table, sql in expected.items():
            got = wh.read(table).toPandas()
            if table == run.corrupt_entry:
                from checks import corrupt

                got = corrupt(got)
            err = tables_equal(got, con.execute(sql).df())
            if err:
                run.fail(f"warehouse table {table}: {err}")
    finally:
        con.close()


WORKLOADS = {
    "warm_mix": warm_mix,
    "cold_artifacts": cold_artifacts,
    "warehouse_backfill": warehouse_backfill,
    "stream_ingest": stream_ingest,
}
