"""Streaming jobs over the events schema.

Batch-verified logic (ops/streaming_batch.py) lifted onto readStream.
Tests drive these with a file source feeding the driver testdata events
parquet, one file per micro-batch, and assert the streamed results equal
the batch results — the engine's streaming/batch parity contract.

Once-per-micro-batch contract: every engine foreachBatch sink computes
its input batch exactly once. Spark hands a sink a DataFrame over the
micro-batch's RDD, and every action on it re-runs the query's stateful
operators (state-store aggregation, applyInPandasWithState) — AQE is off
in the stream's session, so nothing reuses a finished stage. Unshared,
an empty check plus a merge (whose plan reads its updates twice) would
run the stateful plan three times per micro-batch. ``_once_per_batch``
persists the batch, skips empty batches, runs the sink body on the
cached rows and unpersists in ``finally``, so a raising sink leaves no
cached blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbtwiz_spark.materialize import Warehouse

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _once_per_batch(body):
    """Wrap a foreachBatch sink body in the once-per-micro-batch contract
    (module docstring): persist the batch, return early when it is empty,
    run ``body(batch_df, batch_id)`` on the persisted rows, unpersist."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            body(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return sink


def events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of events (one parquet file = one micro-batch)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def windowed_counts_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day window with watermark — late rows beyond the watermark
    are dropped, the streaming form of stream-watermark-late."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("day"), "event_type", "n_events", "total_value")
    )


def windowed_topk_stream(
    events: DataFrame,
    warehouse: Warehouse,
    counts_table: str = "stream_topk_counts",
    topk_table: str = "stream_topk",
    watermark: str = "1 day",
    k: int = 3,
):
    """Windowed top-k as a stream: the per-window counts are the
    INCREMENTAL half (watermarked update-mode aggregation, O(windows x
    types) state); the top-k ranking is NOT incremental -- it decorates
    each emit inside foreachBatch, re-ranking only the windows present
    in the micro-batch (batch twin: stream-top-k-windowed). Returns
    (aggregate_df, sink_fn) -- wire with
    ``writeStream.outputMode("update").foreachBatch(sink_fn)``; current
    rankings live in ``warehouse.read(topk_table)`` as
    (win_start, rank, event_type, n_events) rows.

    State lives in PERSISTED TABLES, never the driver: update mode emits
    only the CHANGED (window, type) rows of each micro-batch, and
    ranking the batch alone would rank a partial view -- so the sink
    MERGEs the batch's counts into ``counts_table`` (the key-value store
    the near-dedup sink's signature table plays for its family), then
    re-ranks ONLY the touched windows from the merged store into
    ``topk_table``. Both merges key on the natural composite key and
    are partition-scoped on the window's date, so per-batch cost is
    O(touched windows), not O(history); replays overwrite the same keys
    (idempotent). A window's entry set never shrinks (counts only grow
    and types only appear), so rank rows are overwritten in place and
    none go stale."""
    from pyspark.sql.window import Window

    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )

    def _keyed(df: DataFrame, *key_cols: str) -> DataFrame:
        key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
        return df.withColumn("_key", key).withColumn(
            "partitiondate", F.date_format("win_start", "yyyy-MM-dd")
        )

    def _upsert(table: str, df: DataFrame) -> None:
        if warehouse.exists(table):
            warehouse.merge(table, df, "_key", "partitiondate")
        else:
            warehouse.write_table(
                table, df, partition_by="partitiondate", snapshot=False
            )

    @_once_per_batch
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        upd = _keyed(batch_df, "win_start", "event_type")
        _upsert(counts_table, upd)
        # re-rank only the touched windows from the MERGED store; the
        # per-window window spec is bounded by the type cardinality.
        # The semi-join carries the PARTITION column too: joining on
        # win_start alone would scan every partitiondate of the counts
        # table each micro-batch (per-batch cost growing with history);
        # with partitiondate in the join key, dynamic partition pruning
        # restricts the scan to the touched days — O(touched windows).
        touched = upd.select("win_start", "partitiondate").distinct()
        merged = warehouse.read(counts_table).join(
            F.broadcast(touched), ["win_start", "partitiondate"], "left_semi"
        )
        rk = F.row_number().over(
            Window.partitionBy("win_start").orderBy(
                F.col("n_events").desc(), "event_type"
            )
        )
        ranked = _keyed(
            merged.withColumn("rank", rk.cast("long"))
            .filter(F.col("rank") <= k)
            .select("win_start", "rank", "event_type", "n_events"),
            "win_start",
            "rank",
        )
        _upsert(topk_table, ranked)

    return agg, sink


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (stream-session-window, streaming form)."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "total_value")
    )


def stateful_dedup_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Exactly-once per event_id across micro-batches
    (stream-stateful-dedup; insert_overwrite idempotency analog)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    cumulative event count + value total maintained across micro-batches
    (the engine's extension point for stateful logic Spark's built-in
    streaming aggregations can't express — arbitrary per-key state with
    Arrow-batched pandas compute).

    Emits one updated row per user per micro-batch ("update" semantics);
    the latest row per user is the current running total, equal to the
    batch groupBy over everything ingested so far.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def fn(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def foreach_batch_overwrite(
    warehouse: Warehouse, table: str, partition_by: str = "partitiondate"
):
    """foreachBatch sink: overwrite only the partitions present in each
    micro-batch — the streaming face of the incremental insert_overwrite
    materialization (stream-foreachbatch-sink).

    Compose with an update-mode windowed aggregation: each micro-batch
    delivers the *updated* per-day rows, and dynamic partition overwrite
    replaces exactly those days, so replays/late updates are idempotent.
    The batch expects ``partition_by`` to already be a column (derive it
    with date_format(ts, 'yyyy-MM-dd') upstream)."""

    @_once_per_batch
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if partition_by not in batch_df.columns:
            batch_df = batch_df.withColumn(
                partition_by, F.date_format("ts", "yyyy-MM-dd")
            )
        warehouse.insert_overwrite(table, batch_df, partition_by)

    return sink


def foreach_batch_merge(
    warehouse: Warehouse,
    table: str,
    unique_key: str,
    order_by: str | None = None,
    partition_by: str | None = None,
):
    """foreachBatch sink: MERGE each micro-batch by unique key — the
    streaming face of the `incremental_strategy: merge` materialization
    (CDC-style upsert).

    Collision rule inside one micro-batch: with ``order_by`` (an event-time
    or sequence column) the HIGHEST value wins — the CDC "latest state"
    contract. Without it, the batch is expected to carry at most one row per
    key (update-mode aggregates do), and ties fall to Warehouse.merge's
    deterministic total-order pinning — which is stable but NOT time-aware,
    so raw multi-event CDC streams must pass ``order_by``.

    Each micro-batch upserts through the same deterministic Warehouse.merge
    the batch path uses (schema evolution, partition scoping inherited), so
    a table fed by the stream is indistinguishable from one built by batch
    merges of the same data — and replaying a micro-batch is idempotent.

    ``partition_by`` MUST be passed for date-partitioned targets (mirroring
    foreach_batch_overwrite): without it Warehouse.merge takes the
    unpartitioned path — an O(table) full rewrite per micro-batch that also
    flattens the hive layout, after which a later partitioned
    insert_overwrite would leave the flattened root files in place and
    duplicate rows."""

    @_once_per_batch
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df
        if order_by is not None:
            from pyspark.sql.window import Window

            # ties on order_by break on the remaining columns' total order —
            # row_number over order_by alone would pick an arbitrary row and
            # a batch replay could publish a DIFFERENT survivor. Non-orderable
            # columns (maps) are excluded, same rule as _pin_survivor.
            from dbtwiz_spark.materialize import _orderable

            rest = [
                F.col(c).asc_nulls_last()
                for c in out.columns
                if c not in (unique_key, order_by)
                and _orderable(out.schema[c].dataType)
            ]
            w = Window.partitionBy(unique_key).orderBy(
                F.col(order_by).desc(), *rest
            )
            out = (
                out.withColumn("_rn_cdc", F.row_number().over(w))
                .filter(F.col("_rn_cdc") == 1)
                .drop("_rn_cdc")
            )
        warehouse.merge(table, out, unique_key, partition_by)

    return sink


def foreach_batch_apply_changes(
    warehouse: Warehouse,
    table: str,
    unique_key: str,
    op_col: str = "op",
    seq_col: str = "seq",
    partition_by: str | None = None,
):
    """foreachBatch sink: full CDC changelog application per micro-batch —
    foreach_batch_merge plus DELETES. Each batch carries raw change events
    (op I/U/D + per-key sequence) and routes through
    Warehouse.apply_changes, which collapses intra-batch history before
    touching the table, so a batch containing U→D for one key nets to a
    delete exactly as the batch path would.

    Replay caveat: unlike merge, a delete is NOT idempotent against a
    LATER re-insert — replaying an old micro-batch after the key was
    re-created would delete it again. Exactly-once foreachBatch delivery
    (checkpointing) is therefore required, same as any CDC consumer.

    ``partition_by`` MUST be passed for date-partitioned targets, for the
    same reason documented on foreach_batch_merge."""

    @_once_per_batch
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        warehouse.apply_changes(
            table, batch_df, unique_key, op_col=op_col, seq_col=seq_col,
            partition_by=partition_by,
        )

    return sink


def band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) MinHash band signatures for a document batch —
    the SAME signature + banding code the batch near-dup path runs
    (ops/ext_llm.py minhash_signatures + band_stack, so the schemes can
    never silently diverge). DF-capped semantics excluded: a micro-batch
    cannot know global document frequencies, so streaming works on raw
    shingles (the cap is a batch-compaction concern)."""
    from dbtwiz_spark.ops.ext_llm import band_stack, minhash_signatures, shingles

    return band_stack(minhash_signatures(shingles(docs, 3)))


def foreach_batch_near_dedup(
    warehouse: Warehouse, sig_table: str, out_table: str
):
    """foreachBatch sink: streaming near-duplicate detection against a
    persisted signature store — the streaming face of MinHash+LSH dedup
    (a crawl pipeline flags each arriving document against everything
    already ingested, without re-scanning the corpus).

    Per micro-batch: band-sign the batch, probe the signature store on the
    (band, sig) LSH bucket key (never a similarity scan), emit
    (doc_id, is_dup) to ``out_table``, and append the batch's signatures
    (stamped with ``batch_id``) to the store. Keep-FIRST-ARRIVAL
    semantics: a doc is a duplicate iff some doc with an earlier arrival
    rank — (batch_id, doc_id) lexicographic — shares a band bucket. The
    probe therefore guards on ``store.batch_id < batch_id`` (strictly
    earlier batches only), and intra-batch collisions keep the minimum
    doc_id. The guard is also what makes replay exactly idempotent:
    Structured Streaming re-delivers a failed micro-batch under the SAME
    batch_id, whose own stored signatures are invisible to the re-run's
    probe, and the store append dedups on the full row. At scale the
    store is a bucketed table on (band, sig) and each batch's probe is a
    bucket-local join; state grows with the corpus, not the stream
    duration — which is why this lives in foreachBatch against a table
    rather than in bounded operator state."""

    @_once_per_batch
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sigs = band_signatures(batch_df).persist()
        try:
            store_exists = warehouse.exists(sig_table)
            if store_exists:
                t = warehouse.read(sig_table).alias("t")
                s = sigs.alias("s")
                vs_store = (
                    s.join(
                        t,
                        (F.col("s.band") == F.col("t.band"))
                        & (F.col("s.sig") == F.col("t.sig"))
                        # hive partition columns read back as STRING
                        # (inference disabled engine-wide): cast before the
                        # numeric compare or "10" < "9" lexicographics leak in
                        & (F.col("t.batch_id").cast("long") < F.lit(batch_id)),
                        "left_semi",
                    )
                    .select("doc_id")
                    .distinct()
                )
            else:
                vs_store = sigs.select("doc_id").limit(0)
            first_in_batch = sigs.groupBy("band", "sig").agg(
                F.min("doc_id").alias("first_doc")
            )
            vs_batch = (
                sigs.join(first_in_batch, ["band", "sig"])
                .filter(F.col("doc_id") > F.col("first_doc"))
                .select("doc_id")
                .distinct()
            )
            dups = vs_store.unionByName(vs_batch).distinct()
            flagged = (
                batch_df.select("doc_id")
                .distinct()
                .join(dups.withColumn("is_dup", F.lit(True)), "doc_id", "left")
                .fillna(False, ["is_dup"])
            )
            if warehouse.exists(out_table):
                warehouse.merge(out_table, flagged, "doc_id")
            else:
                warehouse.write_table(out_table, flagged, snapshot=False)
            # append = overwrite only THIS batch's partition: the store is
            # hive-partitioned on batch_id, so per-batch cost is O(batch),
            # not O(corpus) (a full union+distinct rewrite would re-shuffle
            # every historical signature each micro-batch), and a replay
            # under the same batch_id overwrites exactly its own partition.
            # No distinct: band_signatures emits exactly one row per
            # (doc_id, band), so the batch is duplicate-free by shape.
            stamped = sigs.withColumn("batch_id", F.lit(batch_id))
            if store_exists and not any(
                warehouse.path(sig_table).glob("batch_id=*")
            ):
                # migration guard: a store written by the pre-partitioned
                # layout has root-level parquet files (batch_id as a data
                # column); mixing hive dirs beside them makes every later
                # read fail with conflicting directory structures — rewrite
                # the old state into the partitioned layout once
                warehouse.write_table(
                    sig_table,
                    warehouse.read(sig_table),
                    partition_by="batch_id",
                    snapshot=False,
                )
            warehouse.insert_overwrite(
                sig_table, stamped, "batch_id", snapshot=False
            )
        finally:
            sigs.unpersist()

    return sink


def cusum_alarm_stream(
    events: DataFrame, ref_c: int | None = None, h_c: int | None = None
) -> DataFrame:
    """Online CUSUM drift alarm as a custom stateful operator
    (stream-cusum-online, streaming form): per user, Page's recursion
    S_t = max(0, S_(t-1) + v100 - ref_c) carried across micro-batches as
    O(1) per-key state, alarm at S > h_c. All arithmetic is int64
    micro-units (x100), so the streamed statistic is bit-equal to the
    batch entry's closed-form window computation — parity pinned in
    tests/test_streaming.py. Rows are processed in event_id order within
    each batch; the CUSUM contract (like any sequential test) requires
    per-key in-order delivery across batches, which the event-time
    source provides. NaN values: the NULL-vs-NaN distinction is LOST at
    the Arrow boundary (both arrive as pandas NaN), so both the batch
    entry and this stream filter NaN alongside NULL -- the shared
    contract is 'finite values only'."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # defaults come from the BATCH entry's constants — two hand-copied
    # literals here would silently diverge on a retune
    from dbtwiz_spark.ops.streaming_batch import _CUSUM_H_C, _CUSUM_REF_C

    ref_c = _CUSUM_REF_C if ref_c is None else ref_c
    h_c = _CUSUM_H_C if h_c is None else h_c

    out_schema = "user_id long, event_id long, cusum_c long, alarm boolean"
    state_schema = "s long"

    def fn(key, pdfs, state):
        (s,) = state.get if state.exists else (0,)
        parts = [pdf for pdf in pdfs]
        df = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        rows = {"user_id": [], "event_id": [], "cusum_c": [], "alarm": []}
        if len(df):
            df = df[df["value"].notna()].sort_values("event_id")
            for eid, val in zip(df["event_id"], df["value"]):
                v100 = int(math.floor(val * 100 + 0.5))
                s = max(0, s + v100 - ref_c)
                rows["user_id"].append(key[0])
                rows["event_id"].append(int(eid))
                rows["cusum_c"].append(s)
                rows["alarm"].append(s > h_c)
        state.update((s,))
        yield pd.DataFrame(rows)

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def holt_stream(daily: DataFrame) -> DataFrame:
    """Online Holt double-exponential smoothing (level + trend, a=b=1/2)
    as a custom stateful operator — the streaming form of the
    win-holt-winters batch entry: per series key, the recurrence
    S_t = y_t/2 + (S+B)/2, B_t = (S_t-S)/2 + B/2 carried across
    micro-batches as O(1) per-key state (n, y1, S, B), emitting the
    current fit after every batch in update mode.

    Python float arithmetic is IEEE-754 double with the identical
    rounding as the JVM fold in the batch entry, and the recurrence uses
    only halvings and order-fixed additions, so the streamed final
    (level, trend) is BIT-EQUAL to the batch ordered fold — parity
    pinned in tests/test_streaming.py. The init matches the batch entry:
    S_1 = y_1, B_1 = y_2 - y_1, with y_2 then folded as the first step.

    Delivery contract: per-key day-ordered, each day FINALIZED and
    delivered exactly once (feed it an append-mode watermark-closed
    daily aggregate, not an update-mode one — a revised day would
    otherwise fold twice as two observations). The operator enforces the
    monotone half of the contract itself: rows at or before the last
    folded day are DROPPED (at-least-once replays become exactly-once;
    a revision is treated as a duplicate, never re-folded)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "event_type string, n_days long, level double, trend double, "
        "forecast_1 double"
    )
    state_schema = "n long, y1 double, s double, b double, last_d long"

    def fn(key, pdfs, state):
        n, y1, s, b, last_d = (
            state.get if state.exists else (0, 0.0, 0.0, 0.0, -1)
        )
        parts = [pdf for pdf in pdfs]
        df = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        if len(df):
            df = df.sort_values("day")
            for day, y in zip(df["day"], df["y"]):
                d_ord = day.toordinal()
                if d_ord <= last_d:
                    continue  # replay/revision of an already-folded day
                last_d = d_ord
                y = float(y)
                if n == 0:
                    y1 = y
                    n = 1
                    continue
                if n == 1:
                    s, b = y1, y - y1
                s_new = y / 2 + (s + b) / 2
                b = (s_new - s) / 2 + b / 2
                s = s_new
                n += 1
        state.update((n, y1, s, b, last_d))
        if n >= 2:
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n_days": [n],
                    "level": [s],
                    "trend": [b],
                    "forecast_1": [s + b],
                }
            )

    return daily.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def rate_limit_stream(events: DataFrame, gap_s: int | None = None) -> DataFrame:
    """Online per-user rate limiter (stream-rate-limit, streaming form):
    keep an event only if >= gap_s seconds have passed since the last
    KEPT event of the same user. The batch entry replays the whole
    per-user history through an ordered fold; this is the production
    shape — O(1) per-key state (last kept epoch + counters) carried
    across micro-batches via applyInPandasWithState, emitting the
    running (n_events, n_kept) totals each batch (update mode; the final
    emission is the batch entry's answer, parity pinned in
    tests/test_streaming.py). Epochs are microsecond-exact doubles
    derived the same way as the batch side's ts-cast (integer micros,
    one divide), so keep decisions are bit-equal. Like every sequential
    operator here, the contract is per-key in-order delivery across
    batches, which the event-time source provides."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # the threshold comes from the BATCH entry's constant — a hand-copied
    # literal here would silently diverge on a retune
    from dbtwiz_spark.ops.streaming_batch import _RATE_LIMIT_GAP_S

    gap_s = _RATE_LIMIT_GAP_S if gap_s is None else gap_s
    # the -1e18 sentinel makes the first event's gap test trivially true,
    # matching the batch fold's [first_ts, 1] initializer
    _NEVER = -1.0e18

    out_schema = "user_id long, n_events long, n_kept long"
    state_schema = "last_ts double, n_kept long, n_events long"

    def fn(key, pdfs, state):
        if state.exists:
            last_ts, n_kept, n_events = state.get
        else:
            last_ts, n_kept, n_events = _NEVER, 0, 0
        parts = [pdf for pdf in pdfs]
        df = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        if len(df):
            df = df.sort_values("ts")
            # datetime64[ns] -> integer micros -> one divide: the exact
            # sequence of Spark's timestamp->double cast (ns epochs
            # exceed 2^53, so never convert ns directly)
            micros = df["ts"].astype("int64") // 1000
            for us in micros:
                t = us / 1e6
                if t - last_ts >= gap_s:
                    last_ts = t
                    n_kept += 1
                n_events += 1
        state.update((last_ts, n_kept, n_events))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_events],
                "n_kept": [n_kept],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
