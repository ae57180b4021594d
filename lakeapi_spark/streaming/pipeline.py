"""Structured Streaming over the events table (SURVEY §2.13/§7).

The reference has no streaming operators (its "streaming" is HTTP chunk
transfer of finished results, core/response.py:317-335). This module is
the greenfield extension: the SAME window semantics as the batch
operators in operators/windows.py, expressed as a Structured Streaming
job — file source -> watermark -> windowed agg -> sink. The batch/stream
agreement is tested in tests/test_streaming.py (availableNow trigger vs
the batch operator on the same data).

Scale notes:
- the file source is a stand-in for Kafka/Kinesis; swapping
  ``readStream.format`` is the only change;
- watermark bounds state: late events beyond the watermark are dropped
  deterministically instead of growing state forever;
- ``availableNow`` gives batch-like backfill runs of the same query —
  one pipeline definition for both backfill and live tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    """events schema with the physical `ts` type discovered from the
    batch footer (TIMESTAMP(NANOS) surfaces as long under nanosAsLong;
    timestamp[us] surfaces as a native timestamp)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over events parquet, normalizing `ts` exactly
    like the batch reader (catalog.table): probe the batch schema once
    and convert ns->µs only when the footer stores TIMESTAMP(NANOS)
    (which nanosAsLong surfaces as bigint). Native timestamp[us] files
    stream through untouched — an unconditional div-1000 would shift
    them to 1970."""
    import os

    from lakeapi_spark.catalog import ensure_session_confs

    ensure_session_confs(spark)
    ts_type = spark.read.parquet(path).schema["ts"].dataType
    ns_as_long = isinstance(ts_type, T.LongType)
    reader = spark.readStream.schema(
        _events_schema(T.LongType() if ns_as_long else T.TimestampType())
    ).option("maxFilesPerTrigger", 1)
    if os.path.isfile(path):
        # the file source wants a directory: stream the parent filtered
        # to just this file
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    if ns_as_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts_stream(
    events: DataFrame, width: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming twin of operators.windows.tumbling: per (window, type)
    counts + sums with a watermark bounding state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Gap-based session windows — Spark's native session_window operator
    (the streaming twin of operators.windows.sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
        )
    )


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, sum_value), emitted as an update row whenever a
    micro-batch touches the user.

    This is the shape Spark's built-in windowed aggs can't express —
    arbitrary per-key state with user-defined merge logic. State is one
    tiny (long, double) tuple per user, Arrow-batched in and out; at
    scale the state store shards by user_id across executors and the
    operator never sees more than one key's batches at a time.
    """
    import pandas as pd  # local import: executors re-import in the worker
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "sum_value": [s]})

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_balance_floor_stream(events: DataFrame) -> DataFrame:
    """Streaming face of operators/windows.running_balance_floor — the
    floor-clamped wallet recurrence as a CUSTOM STATEFUL operator
    (``applyInPandasWithState``): state per user is the tiny
    (balance, n_events, n_floored) triple; every micro-batch folds its
    (time-sorted) deltas into it with the same vectorized reset-cumsum
    identity, seeded by the carried balance (prepending b0 >= 0 as a
    synthetic first delta reproduces the chained recurrence exactly,
    and contributes nothing to the floor count). Purchases credit,
    every other event debits, integer cents — bit-identical to the
    batch twin, asserted in tests/test_streaming.py.

    Ordering contract: a ledger stream must deliver each key's events
    in event-time order ACROSS micro-batches (the ingestion contract
    for transaction logs); within a batch the kernel sorts. At scale
    the state store shards by user_id; state is O(1) per user."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        bal, n, nf = state.get if state.exists else (0, 0, 0)
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            pdf = pd.concat(frames).sort_values(["ts", "event_id"], kind="mergesort")
            cents = np.round(pdf["value"].to_numpy(dtype=np.float64) * 100).astype(
                np.int64
            )
            d = np.where(pdf["event_type"].to_numpy() == "purchase", cents, -cents)
            d = np.concatenate(([np.int64(bal)], d))  # seed with carried balance
            cs = np.cumsum(d)
            b = cs - np.minimum(np.minimum.accumulate(cs), 0)
            prev = np.concatenate(([np.int64(0)], b[:-1]))
            nf += int((prev + d < 0).sum())  # synthetic first never floors
            n += len(d) - 1
            bal = int(b[-1])
        state.update((bal, n, nf))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "final_balance": [bal],
                "n_floored": [nf],
            }
        )

    return (
        events.select("user_id", "ts", "event_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, n_events long, final_balance long, n_floored long"
            ),
            stateStructType="bal long, n long, nf long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_events_stream(events: DataFrame, within: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on event_id — the streaming twin of the
    batch ``dedup_exact`` operator, for at-least-once upstream sources
    (Kafka redeliveries, retried producers).

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    EVICTS it once the watermark passes the first-seen timestamp plus
    the deduplication horizon, so state stays bounded by (event rate x
    horizon) instead of growing with the whole stream — the property
    that makes this run forever at 100 TB/day. A duplicate arriving
    inside the horizon is dropped; after eviction a re-send would pass
    (the at-least-once contract is time-bounded)."""
    return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(["event_id"])


def enriched_events_stream(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch equi-joins the static dim
    (re-read per batch, so slowly-changing dims refresh without a
    restart). The static side is broadcast when under the threshold —
    no shuffle of the stream; at scale this is THE pattern for
    enriching an event firehose with reference data. Stream-STREAM
    joins (both sides unbounded + watermarked buffers) share the same
    API surface and state-store machinery."""
    return events.join(F.broadcast(user_dim), "user_id", "left")


def streaming_progress_metrics(progresses, spark: SparkSession) -> DataFrame:
    """The per-micro-batch OBSERVABILITY relation a production pipeline
    reads before it trusts an exactly-once sink: one row per
    micro-batch with the late-data and state-health counters from
    Spark's StreamingQueryProgress —

    - ``rows_dropped_late``: rows the watermark discarded (summed over
      stateful operators; ``numRowsDroppedByWatermark``). A nonzero
      trend here means upstream lag is eating data silently.
    - ``watermark`` + ``watermark_lag_seconds``: the event-time
      watermark and how far it trails the batch's processing time —
      the staleness bound on every downstream maintained index.
    - ``state_rows`` / ``state_bytes``: total state-store footprint,
      the number that says whether the watermark is actually bounding
      state or it is growing toward an OOM three days out.

    ``progresses`` is ``query.recentProgress`` (list of dicts; JSON
    strings also accepted). recentProgress retains the last ~100
    micro-batches — long-running jobs should feed a
    StreamingQueryListener's stream into this instead; for
    availableNow drains (backfills, tests, the registered query) the
    buffer always covers the run. Driver-side metadata only: the
    relation is micro-batch-sized, never data-sized."""
    import datetime as _dt
    import json as _json

    def _ts(s):
        if not s:
            return None
        return _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=_dt.timezone.utc
        )

    rows = []
    for p in progresses:
        if isinstance(p, str):
            p = _json.loads(p)
        elif not isinstance(p, dict):  # py4j StreamingQueryProgress
            p = _json.loads(p.json)
        ops = p.get("stateOperators") or []
        bt = _ts(p.get("timestamp"))
        wm = _ts((p.get("eventTime") or {}).get("watermark"))
        # Spark reports epoch 0 ("1970-01-01T00:00:00.000Z") before the
        # first watermark is established — that is "no watermark yet",
        # not a 56-year lag
        if wm is not None and wm.timestamp() == 0:
            wm = None
        rows.append(
            (
                int(p["batchId"]),
                bt,
                int(p.get("numInputRows") or 0),
                wm,
                sum(int(o.get("numRowsDroppedByWatermark") or 0) for o in ops),
                sum(int(o.get("numRowsTotal") or 0) for o in ops),
                sum(int(o.get("memoryUsedBytes") or 0) for o in ops),
                len(ops),
                (
                    round((bt - wm).total_seconds(), 3)
                    if bt is not None and wm is not None
                    else None
                ),
            )
        )
    schema = (
        "batch_id long, batch_ts timestamp, num_input_rows long, "
        "watermark timestamp, rows_dropped_late long, state_rows long, "
        "state_bytes long, n_state_operators int, watermark_lag_seconds double"
    )
    return spark.createDataFrame(rows, schema)


def parquet_batch_sink(path: str):
    """foreachBatch writer with replay-idempotence: every micro-batch
    lands in its own `_batch_id=N` partition, written with dynamic
    partition overwrite. A batch re-delivered after a failure (the
    foreachBatch contract is at-least-once) OVERWRITES its own
    partition instead of appending duplicates — the classic
    exactly-once-by-idempotence pattern for object-store sinks when a
    transactional table format isn't available (with Delta, `txnAppId`
    + `txnVersion` replace this). Readers filter `_batch_id` out or
    read through a view."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    return write


def run_available_now(
    df: DataFrame,
    sink_table: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
    output_mode: str = "complete",
):
    """Drain everything currently available into an in-memory sink (used
    by tests and backfills), then stop. 'complete' mode for the windowed
    aggs (result is small); stateful applyInPandasWithState requires
    'update'. Production sinks would be Delta/Kafka writers."""
    q = (
        df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return q


def ingest_guard_delta_sink(
    corpus_hashes: DataFrame,
    id_col: str,
    text_col: str,
    delta_path: str,
    app_id: str = "ingest-guard",
    window: int = 20,
    checkpoint_every: int = 10,
):
    """Streaming ingest guard — the streaming face of
    operators.dedup.incremental_dedup_flags, via the standard
    "per-micro-batch batch job" foreachBatch pattern: every micro-batch
    of incoming documents is flagged against the STATIC corpus
    window-hash relation (built once per corpus version with
    dedup.corpus_window_hashes, persisted — it is the state, stored not
    streamed; batch/stream semantics agree BY CONSTRUCTION, asserted in
    tests/test_streaming.py). The (id, is_known, _batch_id)
    verdicts land in a DELTA table through
    :func:`lakeapi_spark.sources.delta.delta_stream_sink` — committed
    executor-parallel (no driver collect anywhere in the sink) with a
    ``txn`` marker per batch, so foreachBatch's at-least-once
    redelivery is skipped outright when the batch id is already
    recorded for ``app_id``: EXACTLY-ONCE verdicts, the delta-native
    upgrade of the `_batch_id`-partition-overwrite pattern. The table
    is partitioned by ``_batch_id`` so downstream audits prune to the
    batches they care about, and the sink checkpoints the delta log
    every ``checkpoint_every`` commits (the streaming-writer cadence
    that keeps cold-reader log replay O(1))."""
    from lakeapi_spark.operators.dedup import incremental_dedup_flags
    from lakeapi_spark.sources.delta import delta_stream_sink

    sink = delta_stream_sink(
        delta_path,
        app_id,
        partition_by=["_batch_id"],
        checkpoint_every=checkpoint_every,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        flags = incremental_dedup_flags(
            batch_df, None, id_col, text_col, window=window,
            corpus_hashes=corpus_hashes,
        ).withColumn("_batch_id", F.lit(batch_id))
        sink(flags, batch_id)

    return write


def delta_merge_stream_sink(
    delta_path: str,
    on: list[str],
    app_id: str = "stream-upsert",
    checkpoint_every: int = 10,
):
    """foreachBatch UPSERT sink: every micro-batch MERGEs into the
    delta table keyed on ``on`` (latest row per key wins across
    batches) — the streaming CDC-apply pattern delta-spark spells
    ``foreachBatch(lambda df, id: deltaTable.merge(df, ...))``. Unlike
    the append sink, state REPLACES: a key re-delivered in a later
    batch updates its row in place.

    Exactly-once: each merge commit carries the same ``txn`` marker
    write_delta uses, so an at-least-once batch redelivery is skipped
    before any analysis happens. Batches must be de-duplicated on the
    merge keys upstream (merge rejects ambiguous duplicate source
    keys) — aggregate to latest-per-key inside the batch first.
    Cost per batch is proportional to the files the batch's keys touch
    (sources/delta.py:merge_delta), never the table.
    """
    from lakeapi_spark.sources.delta import (
        checkpoint_delta,
        last_txn_version,
        merge_delta,
    )

    import os

    from lakeapi_spark.sources.delta import _local_path, write_delta

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id <= last_txn_version(spark, delta_path, app_id):
            return  # replayed batch: already merged
        if not os.path.isdir(os.path.join(_local_path(delta_path), "_delta_log")):
            # first ever batch: merge-into-empty == plain create
            version = write_delta(
                batch_df, delta_path, mode="append",
                txn_app_id=app_id, txn_version=batch_id,
            )
        else:
            version = merge_delta(
                batch_df,
                delta_path,
                on=on,
                txn_app_id=app_id,
                txn_version=batch_id,
            )
        if checkpoint_every and version and version % checkpoint_every == 0:
            checkpoint_delta(spark, delta_path)

    return write


def _index_sink(
    delta_path: str, index_path: str, app_id: str, checkpoint_every: int, build, refresh
):
    """The maintained-index stream loop: append the micro-batch through the
    txn-marked :func:`lakeapi_spark.sources.delta.delta_stream_sink`, then
    ``build(spark)`` the index if it has no ``meta`` yet, else
    ``refresh(spark)`` it from the change feed. A redelivered batch is a
    no-op end to end: the sink skips the append, the table version
    doesn't move, and the refresh returns without touching the index."""
    from lakeapi_spark.operators.incremental import _meta_path
    from lakeapi_spark.sources.delta import delta_stream_sink
    from lakeapi_spark.sources.fs import path_exists

    sink = delta_stream_sink(delta_path, app_id, checkpoint_every=checkpoint_every)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df, batch_id)
        spark = batch_df.sparkSession
        # bootstrap probe goes through the Hadoop FileSystem, not
        # os.path — a local-fs check is always False for s3a/abfss/hdfs
        # index paths and would silently full-rebuild every micro-batch
        (refresh if path_exists(spark, _meta_path(index_path)) else build)(spark)

    return write


def lsh_maintained_delta_sink(
    delta_path: str,
    index_path: str,
    id_col: str,
    text_col: str,
    app_id: str = "lsh-stream",
    checkpoint_every: int = 10,
):
    """Near-dup index kept WARM under a live document stream
    (:func:`_index_sink`): each micro-batch appends to the delta table
    exactly-once, then the MinHash-LSH index advances to the new table
    version purely from the change feed
    (operators/incremental.lsh_index_refresh) — shingle + signature
    cost per micro-batch is BATCH-sized, and near-dup queries
    (lsh_index_pairs) stay served with zero text work between batches.
    The first batch bootstraps the index with a full build (also
    batch-sized: the table is empty before it)."""
    from lakeapi_spark.operators.incremental import lsh_index_build, lsh_index_refresh

    return _index_sink(
        delta_path, index_path, app_id, checkpoint_every,
        lambda spark: lsh_index_build(spark, delta_path, index_path, id_col, text_col),
        lambda spark: lsh_index_refresh(spark, delta_path, index_path, id_col, text_col),
    )


def _catch_up_sink(
    delta_path: str, state_path: str, app_id: str, state_app: str, checkpoint_every: int,
    bootstrap, step,
):
    """The maintained-state stream loop: append the micro-batch to the fact
    table through the txn-marked sink, then bring the delta table at
    ``state_path`` up to the fact table's latest version. Its commits
    carry a txn marker (``state_app``) with the fact version they
    reflect, so a redelivered batch returns early, and a crash between
    the two writes leaves a version gap the next batch closes: the state
    is ``bootstrap(fact pinned at latest)`` the first time, else
    ``step(changes since the recorded version, previous state)``."""
    from lakeapi_spark.sources.delta import (
        delta_changes,
        delta_snapshot,
        delta_stream_sink,
        last_txn_version,
        read_delta,
        write_delta,
    )

    sink = delta_stream_sink(delta_path, app_id, checkpoint_every=checkpoint_every)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sink(batch_df, batch_id)
        latest = delta_snapshot(spark, delta_path).version
        done_through = last_txn_version(spark, state_path, state_app)
        if latest <= done_through:
            return  # redelivery (or no fact movement): state current
        if done_through < 0:
            state = bootstrap(read_delta(spark, delta_path, {"versionAsOf": str(latest)}))
        else:
            ch = delta_changes(spark, delta_path, v_from=done_through, v_to=latest)
            state = step(ch, read_delta(spark, state_path))
        # overwrite + txn marker in ONE commit: idempotent under
        # redelivery and crash-between-writes
        write_delta(state, state_path, mode="overwrite", txn_app_id=state_app, txn_version=latest)

    return write


def agg_maintained_delta_sink(
    delta_path: str,
    agg_path: str,
    keys: list[str],
    sum_cols: list[str],
    app_id: str = "agg-stream",
    checkpoint_every: int = 10,
):
    """Materialized-aggregate-under-a-stream (:func:`_catch_up_sink`):
    each micro-batch appends to the fact delta table exactly-once, then
    the materialized GROUP BY table at ``agg_path`` advances by the
    INCREMENTAL refresh (operators/incremental.cdf_agg_delta +
    refresh_agg) — signed per-group deltas from the change feed since
    the last refreshed version, applied to the previous aggregate state;
    refresh cost is CHURN-sized, never fact-table-sized, and the result
    stays bit-identical to a from-scratch recompute (DECIMAL sums). The
    aggregate table's txn marker (app ``<app_id>-agg``) records the
    refreshed-through fact version. Aggregate columns: ``n`` (row count)
    and ``sum_<col>`` per ``sum_cols``."""
    from lakeapi_spark.operators.incremental import cdf_agg_delta, refresh_agg

    def bootstrap(base: DataFrame) -> DataFrame:
        return base.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.col(c).cast("double").cast("decimal(28,10)")).alias(f"sum_{c}")
                for c in sum_cols
            ],
        )

    return _catch_up_sink(
        delta_path, agg_path, app_id, f"{app_id}-agg", checkpoint_every, bootstrap,
        lambda ch, prev: refresh_agg(prev, cdf_agg_delta(ch, keys, sum_cols), keys, "n", sum_cols),
    )


def ivf_maintained_delta_sink(
    delta_path: str,
    index_path: str,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    app_id: str = "ivf-stream",
    checkpoint_every: int = 10,
):
    """ANN serving index kept WARM under a live embedding stream — the
    IVF twin of :func:`lsh_maintained_delta_sink`: the IVF index advances
    from the change feed (operators/incremental.ivf_index_refresh_delta)
    — centroid assignment per micro-batch is BATCH-sized against the
    FROZEN first-batch quantizer, and top-k queries
    (ivf_index_topk_delta) stay served with zero corpus work between
    batches. ``centroid_ids`` seed the quantizer from the FIRST
    batch's vectors, so they must land in it (the bootstrap build is
    batch-sized: the table holds only that batch)."""
    from lakeapi_spark.operators.incremental import (
        ivf_index_build_delta,
        ivf_index_refresh_delta,
    )

    return _index_sink(
        delta_path, index_path, app_id, checkpoint_every,
        lambda spark: ivf_index_build_delta(
            spark, delta_path, index_path, id_col, vec_col, centroid_ids
        ),
        lambda spark: ivf_index_refresh_delta(spark, delta_path, index_path, id_col, vec_col),
    )


def hll_maintained_delta_sink(
    delta_path: str,
    hll_path: str,
    key_col: str,
    group_cols: list[str],
    b: int = 8,
    app_id: str = "hll-stream",
    checkpoint_every: int = 10,
):
    """Windowed / grouped DISTINCT-COUNT under a live stream, kept as a
    persisted HLL register table (:func:`_catch_up_sink`): each
    micro-batch appends to the fact delta table exactly-once, then the
    registers of the fact rows inserted since the merged-through version
    (sketches.hll_build — churn-sized) merge into the register table by
    groupBy(group, reg).max(mx). The merge is idempotent (max is), and
    the register table's txn marker (app ``<app_id>-hll``) records the
    merged-through fact version — the same exactly-once discipline as
    agg_maintained_delta_sink, but the state is a SKETCH: groups * 2^b
    rows forever, regardless of distinct-key cardinality, and estimates
    from the maintained table are BIT-EQUAL to a from-scratch batch
    sketch (tested property). Append-only contract: deletes in the fact
    stream cannot shrink a max-merged register (the standard HLL
    limitation — rebuild for retention cuts). Estimate with
    sketches.hll_estimate over ``read_delta(hll_path)``, grouping
    windows from the fact ts before the stream (e.g. a tumbling-day
    column) like any other group."""
    from lakeapi_spark.operators.sketches import hll_build

    def regs(rows: DataFrame) -> DataFrame:
        return hll_build(rows, key_col, tuple(group_cols), b=b)

    def step(ch: DataFrame, prev: DataFrame) -> DataFrame:
        # inserts only — the fact stream is append-only here
        new = regs(ch.filter(F.col("_change_type") == "insert"))
        return (
            prev.select(*group_cols, "reg", "mx")
            .unionByName(new)
            .groupBy(*group_cols, "reg")
            .agg(F.max("mx").alias("mx"))
        )

    return _catch_up_sink(
        delta_path, hll_path, app_id, f"{app_id}-hll", checkpoint_every, regs, step
    )


class ProgressCapture:
    """Reliable per-micro-batch progress capture (r13): for short
    availableNow drains, ``query.recentProgress`` alone sometimes
    surfaces only the LAST few batches (measured: a 4-file drain
    intermittently lost the batch-0/1 rows), so the observability
    queries also subscribe a StreamingQueryListener and merge both
    sources by batchId. Usage:

        cap = ProgressCapture(spark)
        with cap:                       # addListener / removeListener
            q = ...start(); q.awaitTermination(...); q.stop()
            progress = cap.await_batches(q, n_batches=5,
                                         min_input_rows=10_000)

    ``await_batches`` polls the merged view until batchIds 0..n-1 are
    all present AND the data batches account for ``min_input_rows``
    input rows (the listener bus is asynchronous — events for early
    batches can land after awaitTermination returns), then returns the
    progress dicts sorted by batchId; it raises on timeout instead of
    returning a partial view a bound-assertion could false-fail on."""

    def __init__(self, spark: SparkSession):
        import json as _json

        from pyspark.sql.streaming import StreamingQueryListener

        self._spark = spark
        self.by_batch: dict[int, dict] = {}
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = _json.loads(event.progress.json)
                outer.by_batch[int(p["batchId"])] = p

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()

    def __enter__(self):
        self._spark.streams.addListener(self._listener)
        return self

    def __exit__(self, *exc):
        self._spark.streams.removeListener(self._listener)
        return False

    def merged(self, query) -> dict[int, dict]:
        import json as _json

        out = dict(self.by_batch)
        for p in query.recentProgress:
            d = _json.loads(p.json) if not isinstance(p, dict) else p
            out.setdefault(int(d["batchId"]), d)
        return out

    def await_batches(
        self, query, n_batches: int, min_input_rows: int, timeout: float = 60.0
    ) -> list[dict]:
        import time as _time

        deadline = _time.monotonic() + timeout
        while True:
            m = self.merged(query)
            inputs = sum(int(p.get("numInputRows") or 0) for p in m.values())
            if all(b in m for b in range(n_batches)) and inputs >= min_input_rows:
                return [m[b] for b in sorted(m)]
            if _time.monotonic() > deadline:
                raise RuntimeError(
                    f"progress capture incomplete after {timeout}s: have "
                    f"batches {sorted(m)} ({inputs} input rows), need "
                    f"0..{n_batches - 1} and >= {min_input_rows} rows"
                )
            _time.sleep(0.25)
