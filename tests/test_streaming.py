"""Structured Streaming parity tests: streamed results must equal batch
results over the same events (the engine's streaming/batch contract)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dbtwiz_spark.catalog import Catalog
from dbtwiz_spark.materialize import Warehouse
from dbtwiz_spark.streaming import (
    events_stream,
    foreach_batch_apply_changes,
    foreach_batch_merge,
    foreach_batch_overwrite,
    stateful_dedup_stream,
    windowed_counts_stream,
)
from dbtwiz_spark.streaming.jobs import foreach_batch_near_dedup, windowed_topk_stream
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    """Events split into 3 time-ordered files → 3 micro-batches arriving in
    event-time order, so append-mode windows close only after their rows
    arrived (within-file disorder is covered by the 1-day watermark)."""
    import glob
    import os
    import shutil
    import time

    d = tmp_path_factory.mktemp("events_stream")
    in_dir = d / "in"
    in_dir.mkdir()
    ev = Catalog(spark, SF_DIR).table("events")
    bounds = (
        ev.withColumn("_t", F.col("ts").cast("long"))
        .approxQuantile("_t", [0.34, 0.67], 0.001)
    )
    cuts = [None, *[F.lit(int(b)).cast("timestamp") for b in bounds], None]
    for i in range(3):
        part = ev
        if cuts[i] is not None:
            part = part.filter(F.col("ts") >= cuts[i])
        if cuts[i + 1] is not None:
            part = part.filter(F.col("ts") < cuts[i + 1])
        tmp = str(d / f"slice_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        shutil.copy(src, in_dir / f"{i:02d}.parquet")
        time.sleep(1.1)  # distinct mtimes -> file source keeps arrival order
    return str(in_dir)


def _run(spark, stream_df, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName("out")
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table("out")


def test_windowed_counts_match_batch(spark, source_dir):
    ev = events_stream(spark, source_dir)
    out = _run(spark, windowed_counts_stream(ev), mode="append").collect()
    batch = (
        spark.read.parquet(source_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .collect()
    )
    # append mode only emits watermark-closed windows under availableNow;
    # compare the emitted subset against batch values
    batch_map = {(r.w.start, r.event_type): r.n_events for r in batch}
    assert out, "stream emitted no finalized windows"
    for r in out:
        assert batch_map[(r.day, r.event_type)] == r.n_events


def test_stateful_dedup_stream(spark, source_dir, tmp_path):
    # duplicate the input files -> redelivery; dedup must restore uniqueness
    import shutil, os

    dup_dir = tmp_path / "dup"
    shutil.copytree(source_dir, dup_dir)
    for f in os.listdir(source_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(source_dir, f), dup_dir / f"re_{f}")
    ev = events_stream(spark, str(dup_dir))
    out = _run(spark, stateful_dedup_stream(ev)).select("event_id")
    n_unique = spark.read.parquet(source_dir).select("event_id").distinct().count()
    assert out.distinct().count() == out.count() == n_unique


def test_running_user_totals_stateful(spark, source_dir):
    from dbtwiz_spark.streaming import running_user_totals_stream

    ev = events_stream(spark, source_dir)
    out = _run(spark, running_user_totals_stream(ev), mode="update")
    # latest emitted row per user == running total over all micro-batches
    latest = {}
    for r in out.collect():
        if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
            latest[r.user_id] = r
    batch = {
        r.user_id: r
        for r in spark.read.parquet(source_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(latest) == set(batch)
    for uid, r in latest.items():
        assert r.n_events == batch[uid].n
        assert abs(r.total_value - batch[uid].total) < 1e-6


def test_foreach_batch_overwrite_sink(spark, source_dir, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = events_stream(spark, source_dir)
    daily = (
        ev.withColumn("partitiondate", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("partitiondate")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        daily.writeStream.outputMode("update")
        .foreachBatch(foreach_batch_overwrite(wh, "daily_events"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = wh.read("daily_events")
    batch = (
        spark.read.parquet(source_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("partitiondate"))
        .agg(F.count("*").alias("n_events"))
    )
    got = {(r.partitiondate, r.n_events) for r in out.collect()}
    want = {(r.partitiondate, r.n_events) for r in batch.collect()}
    assert got == want


def test_sessionized_stream_matches_batch(spark, source_dir):
    from dbtwiz_spark.streaming import sessionized_stream

    out = _run(spark, sessionized_stream(events_stream(spark, source_dir)),
               mode="append").collect()
    batch = (
        spark.read.parquet(source_dir)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "total_value")
        .collect()
    )
    bmap = {(r.user_id, r.session_start): (r.n_events, r.total_value) for r in batch}
    assert out, "stream emitted no closed sessions"
    for r in out:  # every watermark-closed session equals its batch form
        n, tv = bmap[(r.user_id, r.session_start)]
        assert r.n_events == n and abs(r.total_value - tv) < 1e-9


def test_session_merges_across_micro_batches(spark, tmp_path):
    """A session whose events straddle a micro-batch boundary must come out
    as ONE merged session, not two — the stateful session-merge contract.
    A far-future event in the last batch advances the watermark so the
    merged session closes and is emitted in append mode."""
    import time as _time

    from dbtwiz_spark.streaming import events_stream, sessionized_stream

    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    t0 = 1_700_000_000  # fixed epoch seconds
    batches = [
        [(1, t0), (2, t0 + 600)],                # user 1 session begins
        [(3, t0 + 1200), (4, t0 + 1800)],        # same session continues (<30m gaps)
        [(5, t0 + 200_000)],                      # watermark pusher (2+ days later)
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(eid, _ts, 1, "click", 1.0, "{}") for eid, _ts in rows],
            "event_id BIGINT, ts_s BIGINT, user_id BIGINT, event_type STRING, "
            "value DOUBLE, props STRING",
        ).select(
            "event_id",
            F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"b{i}"))
        import glob as _glob
        import shutil as _shutil

        src = _glob.glob(str(tmp_path / f"b{i}" / "*.parquet"))[0]
        _shutil.copy(src, in_dir / f"{i:02d}.parquet")
        _time.sleep(1.1)

    out = _run(spark, sessionized_stream(events_stream(spark, str(in_dir))),
               mode="append").collect()
    sessions = [(r.user_id, r.session_start, r.n_events)
                for r in out if r.n_events > 1]
    # ONE merged 4-event session for user 1, starting at t0
    assert len(sessions) == 1
    u, start, n = sessions[0]
    assert u == 1 and n == 4 and int(start.timestamp()) == t0


def test_foreach_batch_merge_upserts_stream(spark, tmp_path):
    """CDC-style streaming upsert: per-user running totals streamed through
    foreachBatch MERGE — the final table holds exactly one row per user,
    equal to the batch aggregate over everything ingested (streaming and
    batch write through the same Warehouse.merge)."""
    import glob as _glob
    import shutil as _shutil
    import time as _time

    from dbtwiz_spark.materialize import Warehouse
    from dbtwiz_spark.streaming import (
        events_stream,
        foreach_batch_merge,
        running_user_totals_stream,
    )

    in_dir = tmp_path / "cdc_in"
    in_dir.mkdir()
    t0 = 1_700_000_000
    batches = [
        [(1, t0, 1, 2.0), (2, t0 + 60, 2, 3.0)],
        [(3, t0 + 120, 1, 5.0)],                   # user 1 updated
        [(4, t0 + 180, 2, 7.0), (5, t0 + 240, 3, 1.0)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(eid, ts, uid, "click", v, "{}") for eid, ts, uid, v in rows],
            "event_id BIGINT, ts_s BIGINT, user_id BIGINT, event_type STRING, "
            "value DOUBLE, props STRING",
        ).select("event_id", F.timestamp_seconds("ts_s").alias("ts"),
                 "user_id", "event_type", "value", "props")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"c{i}"))
        src = _glob.glob(str(tmp_path / f"c{i}" / "*.parquet"))[0]
        _shutil.copy(src, in_dir / f"{i:02d}.parquet")
        _time.sleep(1.1)

    wh = Warehouse(spark, str(tmp_path / "cdc_wh"))
    totals = running_user_totals_stream(events_stream(spark, str(in_dir)))
    q = (
        totals.writeStream.outputMode("update")
        .foreachBatch(foreach_batch_merge(wh, "user_totals", "user_id"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.user_id: (r.n_events, r.total_value)
           for r in wh.read("user_totals").collect()}
    assert got == {1: (2, 7.0), 2: (2, 10.0), 3: (1, 1.0)}


def test_foreach_batch_merge_order_by_latest_wins(spark, tmp_path):
    """With order_by, the highest event-time row per key wins inside a
    micro-batch (CDC latest-state contract), regardless of value ordering."""
    from dbtwiz_spark.materialize import Warehouse
    from dbtwiz_spark.streaming import foreach_batch_merge

    wh = Warehouse(spark, str(tmp_path / "cdc2_wh"))
    batch = spark.createDataFrame(
        # 'applied' sorts before 'cancelled' lexicographically, but
        # 'cancelled' is newer and must win
        [(1, "cancelled", 1005), (1, "applied", 1000), (2, "ok", 1001)],
        "k INT, state STRING, ts LONG",
    )
    sink = foreach_batch_merge(wh, "cdc_state", "k", order_by="ts")
    sink(batch, 0)
    got = {r.k: r.state for r in wh.read("cdc_state").collect()}
    assert got == {1: "cancelled", 2: "ok"}


def test_foreach_batch_merge_partitioned_keeps_hive_layout(spark, tmp_path):
    """partition_by must reach Warehouse.merge: the partition-scoped path
    keeps the hive layout (and at scale avoids the O(table) unpartitioned
    rewrite per micro-batch that also flattens the directory tree)."""
    from dbtwiz_spark.materialize import Warehouse
    from dbtwiz_spark.streaming import foreach_batch_merge

    wh = Warehouse(spark, str(tmp_path / "pmerge_wh"))
    seed = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "k INT, v STRING, partitiondate STRING",
    )
    wh.write_table("pt", seed, partition_by="partitiondate")
    sink = foreach_batch_merge(wh, "pt", "k", partition_by="partitiondate")
    batch = spark.createDataFrame(
        [(2, "b2", "2024-01-02"), (3, "c", "2024-01-03")],
        "k INT, v STRING, partitiondate STRING",
    )
    sink(batch, 0)
    got = {r.k: r.v for r in wh.read("pt").collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # hive layout survives the micro-batch (the unpartitioned path would
    # flatten it to root-level files)
    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        assert (wh.path("pt") / f"partitiondate={day}").exists()


def test_foreach_batch_near_dedup_matches_batch_rule(spark, tmp_path):
    """Streaming near-dup (foreachBatch + persisted signature store) must
    flag exactly the docs the batch rule flags: is_dup(d) == some doc with
    a smaller doc_id shares a MinHash band bucket — regardless of which
    micro-batch either doc arrived in."""
    from dbtwiz_spark.catalog import Catalog
    from dbtwiz_spark.streaming.jobs import (
        band_signatures,
        foreach_batch_near_dedup,
    )

    docs = Catalog(spark, "/root/testdata/sf0.001").table("documents")
    src = tmp_path / "docs_stream"
    # three arrival waves split by doc_id so "earlier batch" == smaller ids
    for i, pred in enumerate(
        ["doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2"]
    ):
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"wave_{i}")
        )
    # stream order must be deterministic: feed the three waves as three
    # single-file batches via three separate sink invocations (foreachBatch
    # order with file sources isn't alphabetical-stable across runs)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sink = foreach_batch_near_dedup(wh, "sig_store", "dedup_flags")
    for i in range(3):
        sink(spark.read.parquet(str(src / f"wave_{i}")), i)

    got = {r.doc_id: r.is_dup for r in wh.read("dedup_flags").collect()}

    # batch rule under keep-first-ARRIVAL: arrival rank is
    # (wave, doc_id) lexicographic; a doc is dup iff an earlier-ranked doc
    # shares a band bucket
    sigs = band_signatures(docs).withColumn(
        "wave", F.col("doc_id") % 3
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    dup_ids = {
        r.doc_id
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (
                (F.col("b.wave") < F.col("a.wave"))
                | (
                    (F.col("b.wave") == F.col("a.wave"))
                    & (F.col("b.doc_id") < F.col("a.doc_id"))
                )
            ),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .collect()
    }
    n_docs = docs.count()
    assert len(got) == n_docs
    assert {d for d, v in got.items() if v} != set()  # fixture has dups
    assert {d for d, v in got.items() if v} == dup_ids

    # replay of a micro-batch under its ORIGINAL batch_id (Structured
    # Streaming's crash-recovery contract) is exactly idempotent: the
    # batch's own stored signatures are invisible to its re-run's probe
    sink(spark.read.parquet(str(src / "wave_1")), 1)
    again = {r.doc_id: r.is_dup for r in wh.read("dedup_flags").collect()}
    assert again == got


def test_stream_dedup_near_entry_matches_sink(spark, tmp_path):
    """When arrival order IS doc_id order (waves split by doc_id ranges),
    the streaming sink's flags must equal the stream-dedup-near corpus
    entry — a cross-implementation parity check linking the rows-only
    entry to the sink it mirrors."""
    from dbtwiz_spark.catalog import Catalog
    from dbtwiz_spark.ops.streaming_batch import stream_dedup_near
    from dbtwiz_spark.streaming.jobs import foreach_batch_near_dedup

    sf = "/root/testdata/sf0.001"
    docs = Catalog(spark, sf).table("documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    t1, t2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]

    wh = Warehouse(spark, str(tmp_path / "wh"))
    sink = foreach_batch_near_dedup(wh, "sigs", "flags")
    for i, pred in enumerate(
        [f"doc_id < {t1}", f"doc_id >= {t1} AND doc_id < {t2}",
         f"doc_id >= {t2}"]
    ):
        sink(docs.filter(pred), i)

    got = {r.doc_id: r.is_dup for r in wh.read("flags").collect()}
    want = {r.doc_id: r.is_dup for r in stream_dedup_near(spark, sf).collect()}
    assert got == want
    assert any(got.values())  # fixture has near-dups


def test_foreach_batch_apply_changes_matches_batch(spark, tmp_path):
    """Streaming CDC with deletes: change events streamed through
    foreachBatch apply_changes land the same final state as one batch
    apply_changes over the full changelog (both route through
    Warehouse.apply_changes, so intra-batch U->D collapse, deletes, and
    re-inserts behave identically)."""
    import glob as _glob
    import shutil as _shutil
    import time as _time

    from dbtwiz_spark.materialize import Warehouse
    from dbtwiz_spark.streaming import foreach_batch_apply_changes

    schema = "op STRING, seq INT, k INT, v STRING"
    base_rows = [("I", 0, 1, "a"), ("I", 0, 2, "b"), ("I", 0, 3, "c")]
    batches = [
        [("U", 1, 1, "a1"), ("D", 1, 2, None)],          # update 1, delete 2
        [("U", 2, 1, "a2"), ("I", 1, 4, "d"),
         ("U", 1, 3, "c1"), ("D", 2, 3, None)],          # U->D nets delete
    ]

    # batch reference: one apply over base + full changelog
    wh_b = Warehouse(spark, str(tmp_path / "wh_batch"))
    wh_b.write_table("s", spark.createDataFrame(
        [(k, v) for _, _, k, v in base_rows], "k INT, v STRING"),
        snapshot=False)
    wh_b.apply_changes(
        "s", spark.createDataFrame(sum(batches, []), schema), unique_key="k")
    want = {r.k: r.v for r in wh_b.read("s").collect()}
    assert want == {1: "a2", 4: "d"}

    # streaming: same changelog through micro-batches
    in_dir = tmp_path / "cdc_stream_in"
    in_dir.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"sb{i}"))
        src = _glob.glob(str(tmp_path / f"sb{i}" / "*.parquet"))[0]
        _shutil.copy(src, in_dir / f"{i:02d}.parquet")
        _time.sleep(1.1)
    wh_s = Warehouse(spark, str(tmp_path / "wh_stream"))
    wh_s.write_table("s", spark.createDataFrame(
        [(k, v) for _, _, k, v in base_rows], "k INT, v STRING"),
        snapshot=False)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(foreach_batch_apply_changes(wh_s, "s", "k"))
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.k: r.v for r in wh_s.read("s").collect()}
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, source_dir):
    """Watermarked stream-stream join: clicks attributed to views within a
    10-minute horizon per user, streamed over the 3-micro-batch event
    feed, must equal the batch corpus form (stream-join-interval). The
    watermark + horizon bound the join state — the streaming property the
    batch entry's docstring claims."""
    from dbtwiz_spark.ops.streaming_batch import stream_join_interval

    v = (
        events_stream(spark, source_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 day")
    )
    c = (
        events_stream(spark, source_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 day")
    )
    joined = v.join(
        c,
        F.expr(
            "user_id = c_user_id AND "
            "click_ts >= view_ts AND "
            "click_ts <= view_ts + INTERVAL 10 MINUTES"
        ),
    )
    pairs = _run(spark, joined, mode="append")
    got = {
        (r.user_id, r.n_attributed)
        for r in pairs.groupBy("user_id")
        .agg(F.count("*").alias("n_attributed"))
        .collect()
    }
    want = {
        (r.user_id, r.n_attributed)
        for r in stream_join_interval(spark, SF_DIR)
        .select("user_id", "n_attributed")
        .collect()
    }
    assert got == want


def test_cusum_stream_matches_batch_entry(spark, tmp_path):
    """The stateful streaming CUSUM must emit exactly the batch entry's
    per-event statistic and alarm flags: events are replayed in three
    event_id-ordered waves (the sequential test's in-order delivery
    contract) and the int64 micro-unit arithmetic makes stream and
    closed-form batch bit-equal."""
    import glob
    import os
    import shutil
    import time

    from dbtwiz_spark.ops.streaming_batch import stream_cusum_online
    from dbtwiz_spark.streaming import cusum_alarm_stream, events_stream

    ev = Catalog(spark, SF_DIR).table("events")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    lo, hi = ev.approxQuantile("event_id", [0.34, 0.67], 0.0)
    cuts = [None, lo, hi, None]
    for i in range(3):
        part = ev
        if cuts[i] is not None:
            part = part.filter(F.col("event_id") >= cuts[i])
        if cuts[i + 1] is not None:
            part = part.filter(F.col("event_id") < cuts[i + 1])
        tmp = str(tmp_path / f"slice_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        shutil.copy(src, in_dir / f"{i:02d}.parquet")
        time.sleep(1.1)
    out = _run(
        spark, cusum_alarm_stream(events_stream(spark, str(in_dir))), mode="update"
    )
    got = {(r.user_id, r.event_id): (r.cusum_c, r.alarm) for r in out.collect()}
    want = {
        (r.user_id, r.event_id): (r.cusum_c, r.alarm)
        for r in stream_cusum_online(spark, SF_DIR).collect()
    }
    assert got == want, (
        f"{len(got)} streamed vs {len(want)} batch rows; "
        f"first diffs: {sorted(set(want) ^ set(got))[:3]}"
    )


def test_holt_stream_matches_batch_entry(spark, tmp_path):
    """The stateful streaming Holt smoother must land on BIT-EQUAL final
    (level, trend) to the batch entry's ordered fold: the daily series is
    replayed in three day-ordered waves; Python float and JVM double
    execute the identical IEEE halving/addition sequence."""
    import glob
    import os
    import shutil
    import time

    from dbtwiz_spark.ops.common import DEC
    from dbtwiz_spark.ops.windows import win_holt_winters
    from dbtwiz_spark.streaming import holt_stream

    ev = Catalog(spark, SF_DIR).table("events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("y"))
    days = sorted(r.day for r in daily.select("day").distinct().collect())
    cuts = [None, days[len(days) // 3], days[2 * len(days) // 3], None]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(3):
        part = daily
        if cuts[i] is not None:
            part = part.filter(F.col("day") >= cuts[i])
        if cuts[i + 1] is not None:
            part = part.filter(F.col("day") < cuts[i + 1])
        tmp = str(tmp_path / f"slice_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        shutil.copy(src, in_dir / f"{i:02d}.parquet")
        time.sleep(1.1)  # distinct mtimes -> file source keeps arrival order
    # replay wave 0 at the end: the at-most-once guard must DROP already-
    # folded days, so the duplicate delivery cannot perturb the final state
    shutil.copy(glob.glob(str(tmp_path / "slice_0" / "*.parquet"))[0],
                in_dir / "03_replay.parquet")
    time.sleep(1.1)
    stream_in = (
        spark.readStream.schema("event_type string, day date, y double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    out = _run(spark, holt_stream(stream_in), mode="update").collect()
    # update mode emits one row per key per micro-batch: the final state
    # is the row with the largest n_days per key
    got = {}
    for r in out:
        if r.event_type not in got or r.n_days > got[r.event_type][0]:
            got[r.event_type] = (r.n_days, r.level, r.trend, r.forecast_1)
    want = {
        r.event_type: (r.n_days, r.level, r.trend, r.forecast_1)
        for r in win_holt_winters(spark, SF_DIR).collect()
    }
    assert got == want, f"stream {got} != batch {want}"


def test_rate_limit_stream_matches_batch_entry(spark, tmp_path):
    """The O(1)-state streaming rate limiter must land on the batch
    entry's exact per-user (n_events, n_kept): events replayed in three
    ts-ordered waves; keep decisions compare microsecond-exact epoch
    doubles derived identically on both paths."""
    import glob
    import os
    import shutil
    import time

    from dbtwiz_spark.ops.streaming_batch import stream_rate_limit
    from dbtwiz_spark.streaming import events_stream, rate_limit_stream

    ev = Catalog(spark, SF_DIR).table("events")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    lo, hi = ev.select(F.col("ts").cast("double").alias("t")).approxQuantile(
        "t", [0.34, 0.67], 0.0
    )
    cuts = [None, lo, hi, None]
    for i in range(3):
        part = ev
        if cuts[i] is not None:
            part = part.filter(F.col("ts").cast("double") >= cuts[i])
        if cuts[i + 1] is not None:
            part = part.filter(F.col("ts").cast("double") < cuts[i + 1])
        tmp = str(tmp_path / f"slice_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        shutil.copy(src, in_dir / f"{i:02d}.parquet")
        time.sleep(1.1)
    out = _run(
        spark, rate_limit_stream(events_stream(spark, str(in_dir))), mode="update"
    ).collect()
    # update mode emits running totals each batch; the final emission per
    # user (max n_events) is the answer
    got = {}
    for r in out:
        if r.user_id not in got or r.n_events > got[r.user_id][0]:
            got[r.user_id] = (r.n_events, r.n_kept)
    want = {
        r.user_id: (r.n_events, r.n_kept)
        for r in stream_rate_limit(spark, SF_DIR).collect()
    }
    assert got == want, (
        f"{len(got)} streamed vs {len(want)} batch users; "
        f"first diffs: {[(u, got.get(u), want.get(u)) for u in sorted(set(want) ^ set(got) | {u for u in want if got.get(u) != want[u]})[:3]]}"
    )


def test_windowed_topk_stream_matches_batch(spark, source_dir, tmp_path):
    """The streaming windowed top-k (update-mode counts + foreachBatch
    ranking) must converge to the batch-mode corpus entry's answer for
    every window it emitted — the incremental/decoration split pinned
    end to end, including idempotent re-ranking when a window's counts
    update across micro-batches. State lives in PERSISTED warehouse
    tables (the near-dedup signature-store pattern), never a driver-side
    dict — the rankings are read back from the topk table, and a full
    replay of the stream leaves them unchanged."""
    from dbtwiz_spark.materialize import Warehouse
    from dbtwiz_spark.streaming.jobs import (
        events_stream,
        windowed_topk_stream,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def run_stream():
        agg, sink = windowed_topk_stream(events_stream(spark, source_dir), wh)
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def read_results():
        out: dict = {}
        for r in wh.read("stream_topk").collect():
            out.setdefault(r.win_start, {})[r.rank] = (r.event_type, r.n_events)
        return out

    run_stream()
    results = read_results()
    assert results, "stream emitted no windows"

    # the batch twin (stream-top-k-windowed) reads the catalog's events;
    # rebuild the identical query over THIS source dir for an
    # apples-to-apples check
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    wc = (
        spark.read.parquet(source_dir)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )
    rk = F.row_number().over(
        Window.partitionBy("win_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
    )
    expect: dict = {}
    for row in wc.withColumn("rk", rk.cast("long")).filter(F.col("rk") <= 3).collect():
        expect.setdefault(row.win_start, {})[row.rk] = (
            row.event_type,
            row.n_events,
        )
    for w, ranks in results.items():
        assert ranks == expect[w], (w, ranks, expect.get(w))
    # full replay (fresh query, fresh streaming state, same tables):
    # merges overwrite the same keys, so the stored rankings are stable
    run_stream()
    assert read_results() == results


def test_windowed_topk_stream_restart_with_checkpoint(spark, source_dir, tmp_path):
    """Production shape of the MERGE-state top-k: a CHECKPOINTED query is
    stopped mid-stream and a fresh query object restarts from the same
    checkpoint — the streaming agg state resumes (update-mode totals keep
    counting across the restart, never reset), the second run processes
    only the files the first never saw, and the merged counts/topk tables
    converge to the batch answer. Without the checkpoint a restart would
    re-emit partial totals and the MERGE would regress stored counts."""
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dbtwiz_spark.materialize import Warehouse
    from dbtwiz_spark.streaming.jobs import events_stream, windowed_topk_stream

    files = sorted(Path(source_dir).glob("*.parquet"))
    assert len(files) >= 2, "need at least two micro-batch files"
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_topk_restart")
    wh = Warehouse(spark, str(tmp_path / "wh_restart"))

    def run_once():
        agg, sink = windowed_topk_stream(events_stream(spark, str(in_dir)), wh)
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(f, in_dir / f.name)
    run_once()
    mid_counts = {r._key: r.n_events for r in wh.read("stream_topk_counts").collect()}
    assert mid_counts, "first leg emitted nothing"
    for f in files[half:]:
        shutil.copy(f, in_dir / f.name)
    run_once()  # fresh query object, same checkpoint: state resumes

    # counts never regressed across the restart
    final_counts = {r._key: r.n_events for r in wh.read("stream_topk_counts").collect()}
    regressed = {
        k: (v, final_counts.get(k))
        for k, v in mid_counts.items()
        if final_counts.get(k, 0) < v
    }
    assert not regressed, f"restart regressed merged counts: {regressed}"

    # and the topk table equals the batch twin over the full file set
    got: dict = {}
    for r in wh.read("stream_topk").collect():
        got.setdefault(r.win_start, {})[r.rank] = (r.event_type, r.n_events)
    wc = (
        spark.read.parquet(str(in_dir))
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )
    rk = F.row_number().over(
        Window.partitionBy("win_start").orderBy(F.col("n_events").desc(), "event_type")
    )
    want: dict = {}
    for r in wc.withColumn("rank", rk).filter(F.col("rank") <= 3).collect():
        want.setdefault(r.win_start, {})[r.rank] = (r.event_type, r.n_events)
    assert set(got) == set(want)
    for w in want:
        assert got[w] == want[w], f"window {w}: {got[w]} != {want[w]}"


def test_rate_limit_stream_restart_recovers_custom_state(spark, tmp_path):
    """Custom applyInPandasWithState state must survive a query RESTART
    from its checkpoint — the cluster-grade claim behind every stateful
    streaming op. Waves 1-2 run under one query, the query stops, wave 3
    arrives, and a NEW query resumes from the same checkpointLocation:
    the final per-user (n_events, n_kept) must equal the batch entry,
    which is only possible if [last_kept_ts, counters] deserialized
    correctly (a reset state would re-keep wave-3 events inside the
    debounce gap and overcount n_kept)."""
    import glob
    import os
    import shutil
    import time

    from dbtwiz_spark.ops.streaming_batch import stream_rate_limit
    from dbtwiz_spark.streaming import events_stream, rate_limit_stream

    ev = Catalog(spark, SF_DIR).table("events")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ck = str(tmp_path / "ck")
    lo, hi = ev.select(F.col("ts").cast("double").alias("t")).approxQuantile(
        "t", [0.34, 0.67], 0.0
    )
    cuts = [None, lo, hi, None]

    def drop_wave(i):
        part = ev
        if cuts[i] is not None:
            part = part.filter(F.col("ts").cast("double") >= cuts[i])
        if cuts[i + 1] is not None:
            part = part.filter(F.col("ts").cast("double") < cuts[i + 1])
        tmp = str(tmp_path / f"slice_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        shutil.copy(src, in_dir / f"{i:02d}.parquet")
        time.sleep(1.1)

    out_dir = str(tmp_path / "out")

    def run_query():
        # foreachBatch parquet sink, NOT the memory sink: memory-sink
        # queries refuse checkpoint recovery, and recovery is the thing
        # under test
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        return (
            rate_limit_stream(events_stream(spark, str(in_dir)))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    drop_wave(0)
    drop_wave(1)
    q1 = run_query()
    q1.awaitTermination(120)

    drop_wave(2)  # arrives while no query is running
    q2 = run_query()  # RESTART: state + source offsets recover
    q2.awaitTermination(120)

    got = {}
    for r in spark.read.parquet(out_dir).collect():
        if r.user_id not in got or r.n_events > got[r.user_id][0]:
            got[r.user_id] = (r.n_events, r.n_kept)
    want = {
        r.user_id: (r.n_events, r.n_kept)
        for r in stream_rate_limit(spark, SF_DIR).collect()
    }
    assert got == want, (
        f"restart diverged for {sum(1 for u in want if got.get(u) != want[u])} "
        f"of {len(want)} users — custom state did not recover"
    )


_T0, _T1 = datetime(2024, 1, 1, 3), datetime(2024, 1, 2, 3)

# Per wrapped sink: (make the sink from a warehouse, the tables it writes,
# batch rows, batch schema, the column a counting UDF wraps).
_ONCE_CASES = {
    "overwrite": (
        lambda spark, wh: foreach_batch_overwrite(wh, "t"),
        ["t"],
        [(1, _T0), (2, _T1), (3, _T1)],
        "k BIGINT, ts TIMESTAMP",
        "k",
    ),
    "merge": (
        lambda spark, wh: foreach_batch_merge(wh, "t", "k"),
        ["t"],
        [(1, "a"), (2, "b"), (3, "c")],
        "k BIGINT, v STRING",
        "k",
    ),
    "apply_changes": (
        lambda spark, wh: foreach_batch_apply_changes(wh, "t", "k"),
        ["t"],
        [("I", 1, 1, "a"), ("U", 2, 1, "a2"), ("I", 1, 2, "b")],
        "op STRING, seq INT, k BIGINT, v STRING",
        "k",
    ),
    "windowed_topk": (
        lambda spark, wh: windowed_topk_stream(
            spark.createDataFrame([], "ts TIMESTAMP, event_type STRING"), wh
        )[1],
        ["stream_topk_counts", "stream_topk"],
        [(_T0, "click", 3), (_T0, "view", 2), (_T1, "click", 1)],
        "win_start TIMESTAMP, event_type STRING, n_events BIGINT",
        "n_events",
    ),
    "near_dedup": (
        lambda spark, wh: foreach_batch_near_dedup(wh, "sigs", "flags"),
        ["sigs", "flags"],
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "one two three four five"),
        ],
        "doc_id BIGINT, text STRING",
        "doc_id",
    ),
}


def _counting_batch(spark, rows, schema, col):
    """``rows`` as a batch whose ``col`` passes through a Python UDF that
    counts its evaluations in an accumulator — a stand-in for the
    stateful plan a foreachBatch DataFrame re-runs on every action."""
    acc = spark.sparkContext.accumulator(0)

    def tick(v):
        acc.add(1)
        return v

    df = spark.createDataFrame(rows, schema)
    return df.withColumn(col, F.udf(tick, df.schema[col].dataType)(col)), acc


@pytest.mark.parametrize("name", list(_ONCE_CASES))
def test_sink_computes_each_batch_once(spark, tmp_path, name):
    """Once-per-micro-batch contract: a sink computes every input row
    exactly once per call, both when it creates its table(s) and when it
    updates them (merge reads its updates twice, the top-k sink reuses
    the batch for its touched windows)."""
    make, _tables, rows, schema, col = _ONCE_CASES[name]
    sink = make(spark, Warehouse(spark, str(tmp_path / "wh")))
    for batch_id in range(2):
        batch, acc = _counting_batch(spark, rows, schema, col)
        sink(batch, batch_id)
        assert acc.value == len(rows), (batch_id, acc.value)


@pytest.mark.parametrize("name", list(_ONCE_CASES))
def test_sink_skips_empty_batch(spark, tmp_path, name):
    """An empty micro-batch is a no-op: no table is created."""
    make, tables, _rows, schema, _col = _ONCE_CASES[name]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    make(spark, wh)(spark.createDataFrame([], schema), 0)
    assert not [t for t in tables if wh.exists(t)]


@pytest.mark.parametrize("name", list(_ONCE_CASES))
def test_sink_unpersists_when_body_raises(spark, tmp_path, monkeypatch, name):
    """A sink body that raises leaves no persisted batch behind."""
    make, _tables, rows, schema, _col = _ONCE_CASES[name]
    wh = Warehouse(spark, str(tmp_path / "wh"))

    def fail(*_args, **_kwargs):
        raise RuntimeError("sink body failed")

    for method in ("write_table", "insert_overwrite", "merge", "apply_changes"):
        monkeypatch.setattr(wh, method, fail)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="sink body failed"):
        make(spark, wh)(spark.createDataFrame(rows, schema), 0)
    assert set(jsc.getPersistentRDDs().keys()) == before
