"""Batch/stream agreement: the Structured Streaming pipeline must produce
the same windows as the batch operator on the same files (availableNow
drain -> memory sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeapi_spark.catalog import table
from lakeapi_spark.operators.windows import tumbling
from lakeapi_spark.streaming.pipeline import (
    read_events_stream,
    run_available_now,
    session_counts_stream,
    tumbling_counts_stream,
)


def test_stream_tumbling_matches_batch(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    assert stream.isStreaming
    q = run_available_now(
        tumbling_counts_stream(stream), "stream_tumbling", str(tmp_path / "ckpt1")
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in spark.sql("SELECT * FROM stream_tumbling").collect()
    }
    batch = tumbling(
        table(spark, sf_dir, "events"),
        "ts",
        300,
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")],
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in batch.collect()
    }
    assert got == want
    # absolute-epoch guard: a ts unit bug (ns read as µs) shifts every
    # window to January 1970 and would still pass a ts-relative check
    assert all(ws > 1_262_304_000 for ws, _ in got), "windows shifted to epoch 0?"
    q.stop()


def test_stream_stateful_running_totals_matches_batch(spark, sf_dir, tmp_path):
    from lakeapi_spark.streaming.pipeline import running_user_totals_stream

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    q = run_available_now(
        running_user_totals_stream(stream),
        "stream_user_totals",
        str(tmp_path / "ckpt_state"),
        output_mode="update",
    )
    # update mode emits one row per touched user per micro-batch; the
    # LAST row per user is the final running state
    rows = spark.sql(
        """
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM stream_user_totals
        ) WHERE rn = 1
        """
    ).collect()
    got = {r.user_id: (r.n_events, round(r.sum_value, 4)) for r in rows}
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
        )
    )
    want = {r.user_id: (r.n_events, round(r.sum_value, 4)) for r in batch.collect()}
    assert got == want
    q.stop()


def test_stream_session_windows(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    q = run_available_now(
        session_counts_stream(stream), "stream_sessions", str(tmp_path / "ckpt2")
    )
    rows = spark.sql("SELECT * FROM stream_sessions").collect()
    assert len(rows) > 0
    total = sum(r.n_events for r in rows)
    n_events = table(spark, sf_dir, "events").count()
    assert total == n_events  # every event lands in exactly one session
    for r in rows:
        assert r.session_end >= r.session_start
        # absolute-epoch guard against ts-unit bugs (see tumbling test)
        assert r.session_start > 1_262_304_000, "sessions shifted to epoch 0?"
    q.stop()


def test_watermark_drops_late_events(spark, tmp_path):
    """Real late-data semantics: stream files one-per-microbatch so the
    watermark actually advances between batches. A window is emitted
    (append mode) at the end of the batch whose watermark passes its
    end; an event for that window arriving in a LATER batch is dropped
    — append mode never re-emits. ('complete' mode keeps all state and
    never drops, which is why this needs append.)"""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "stream_src")
    os.makedirs(src)

    def write_file(name, rows):
        spark.createDataFrame(rows, "ts timestamp, user_id long, value double").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/{name}")

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    import time

    # batch 0: events up to 12:30 -> watermark advances to 12:20
    write_file("f1", [(ts(0), 1, 1.0), (ts(2), 1, 1.0), (ts(30), 1, 1.0)])
    time.sleep(1.1)  # file-source orders batches by mtime
    # batch 1: timely event; at END of this batch the 12:00-12:05
    # window (end 12:05 < wm 12:20) is emitted and its state evicted
    write_file("f2", [(ts(31), 2, 1.0)])
    time.sleep(1.1)
    # batch 2: a LATE event for 12:01 — its window is already emitted,
    # so it must be DROPPED (append mode never re-emits); plus a timely
    # event proving the batch itself was processed
    write_file("f3", [(ts(1), 2, 99.0), (ts(32), 2, 1.0)])

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.ws: r.n for r in spark.sql("SELECT * FROM late_drop").collect()}
    q.stop()
    first_window = int(t0.timestamp())
    # the 12:00 window was finalized with ONLY batch-1 events: the late
    # row (user 2, value 99) did not resurrect or amend it
    assert got.get(first_window) == 2, got


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids across micro-batches inside the dedup horizon
    are dropped; distinct ids all survive."""
    import datetime as dt
    import os
    import time

    from lakeapi_spark.streaming.pipeline import dedup_events_stream

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_file(name, rows):
        spark.createDataFrame(rows, "event_id long, ts timestamp, value double").coalesce(
            1
        ).write.parquet(f"{src}/{name}")

    write_file("f1", [(1, t0, 1.0), (2, t0 + dt.timedelta(minutes=1), 1.0)])
    time.sleep(1.1)  # file source orders batches by mtime
    # batch 2: id=1 again (duplicate, within horizon) + a new id=3
    write_file("f2", [(1, t0 + dt.timedelta(minutes=2), 9.0), (3, t0 + dt.timedelta(minutes=3), 1.0)])

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        dedup_events_stream(stream, within="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id, value FROM dedup_stream").collect()
    q.stop()
    got = {r.event_id: r.value for r in rows}
    assert sorted(got) == [1, 2, 3]
    assert got[1] == 1.0  # the FIRST occurrence won; the 9.0 resend was dropped


def test_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static enrichment produces exactly the batch join's rows."""
    from lakeapi_spark.streaming.pipeline import enriched_events_stream, read_events_stream
    from lakeapi_spark.catalog import table

    events_path = f"{sf_dir}/events.parquet"
    batch_events = table(spark, sf_dir, "events")
    user_dim = (
        batch_events.select("user_id").distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("string"))
    )
    stream = read_events_stream(spark, events_path)
    q = (
        enriched_events_stream(stream.select("event_id", "ts", "user_id"), user_dim)
        .select("event_id", "user_id", "segment")
        .writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.event_id, r.segment) for r in spark.sql("SELECT * FROM enriched_stream").collect()}
    q.stop()
    expect = {
        (r.event_id, r.segment)
        for r in batch_events.select("event_id", "user_id")
        .join(user_dim, "user_id", "left")
        .collect()
    }
    assert got == expect


def test_stream_stream_join_within_interval(spark, tmp_path):
    """Stream-stream inner join with watermarks + a time-interval
    condition: each click joins purchases of the same user within the
    following hour. Both sides buffer watermark-bounded state; rows
    outside the interval (or beyond the watermark) never match."""
    import datetime as dt
    import os

    src = str(tmp_path / "ss_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "click", 10),
        (2, t0 + dt.timedelta(minutes=30), "purchase", 10),  # joins (30m later)
        (3, t0 + dt.timedelta(minutes=90), "purchase", 10),  # outside 1h window
        (4, t0, "click", 20),                                 # user 20 never buys
        (5, t0 + dt.timedelta(minutes=5), "purchase", 30),   # no prior click
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, user_id long"
    ).coalesce(1).write.parquet(f"{src}/f1")

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, user_id long"
    ).parquet(src + "/*")
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id)
        & (purchases.purchase_ts > clicks.click_ts)
        & (purchases.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 1 HOUR")),
    ).select(clicks.user_id, "click_ts", "purchase_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [(r.user_id,) for r in spark.sql("SELECT * FROM ss_join").collect()]
    q.stop()
    assert got == [(10,)]


def test_foreach_batch_sink_idempotent_on_replay(spark, tmp_path):
    """Replaying a micro-batch (at-least-once foreachBatch contract)
    must not duplicate rows: each batch overwrites its own partition."""
    import os

    from lakeapi_spark.streaming.pipeline import parquet_batch_sink

    src = str(tmp_path / "fb_src")
    os.makedirs(src)
    spark.range(0, 100).selectExpr("id AS event_id", "id % 7 AS user_id").coalesce(
        1
    ).write.parquet(f"{src}/f1")
    out = str(tmp_path / "fb_out")
    sink = parquet_batch_sink(out)
    stream = spark.readStream.schema("event_id long, user_id long").parquet(src + "/*")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    first = spark.read.parquet(out).drop("_batch_id")
    assert first.count() == 100
    # simulate the failure-replay: the SAME batch id delivered again
    replay = spark.range(0, 100).selectExpr("id AS event_id", "id % 7 AS user_id")
    sink(replay, 0)
    after = spark.read.parquet(out)
    assert after.count() == 100  # overwrote, not appended
    assert after.select("_batch_id").distinct().count() == 1


def test_stream_aggregation_into_delta_sink(spark, sf_dir, tmp_path):
    """End-to-end: watermarked streaming aggregation committed to a
    delta table with txn markers — the full ingest chain (file source
    -> windowed agg -> exactly-once delta sink), readable back through
    the protocol-log fallback and safe against batch replay."""
    from lakeapi_spark.sources.delta import (
        delta_stream_sink,
        last_txn_version,
        read_delta_fallback,
    )

    out = str(tmp_path / "delta_agg")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = tumbling_counts_stream(stream)
    sink = delta_stream_sink(out, app_id="tumbling_agg")
    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_delta"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = read_delta_fallback(spark, out)
    # complete mode: the LAST committed batch holds the full result;
    # keep rows from the final txn version only
    last = last_txn_version(spark, out, "tumbling_agg")
    assert last >= 0
    # compare against the batch twin on the same files
    batch = tumbling(
        table(spark, sf_dir, "events"),
        "ts",
        300,
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")],
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in batch.collect()
    }
    # the final append contains the complete result; earlier batches may
    # partially overlap, so time-travel to the last commit alone
    from lakeapi_spark.sources.delta import delta_snapshot

    latest = delta_snapshot(spark, out).version
    prev_files = (
        set(delta_snapshot(spark, out, version_as_of=latest - 1).files)
        if latest > 0
        else set()
    )
    # rows only from files added in the final commit
    import os

    final_files = [
        f"{out}/{p}"
        for p in set(delta_snapshot(spark, out).files) - prev_files
    ]
    final = spark.read.schema(got.schema).parquet(*final_files)
    got_map = {
        (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in final.collect()
    }
    assert got_map == want


def test_stream_ingest_guard_matches_batch(spark, tmp_path):
    """Per-micro-batch ingest guard: streaming the new docs one file
    per trigger through foreachBatch into the PRODUCTION delta sink
    produces exactly the batch operator's flags (content-known docs
    flagged, novel docs clean)."""
    import os

    from lakeapi_spark.operators.dedup import (
        corpus_window_hashes,
        incremental_dedup_flags,
    )
    from lakeapi_spark.sources.delta import read_delta_fallback
    from lakeapi_spark.streaming.pipeline import ingest_guard_delta_sink

    boiler = " ".join(f"w{i}" for i in range(15))
    corpus = spark.createDataFrame(
        [(1, "x0 x1 " + boiler + " x2"), (2, " ".join(f"y{i}" for i in range(25)))],
        ["doc_id", "text"],
    )
    ch = corpus_window_hashes(corpus, "doc_id", "text", window=10).persist()
    out = str(tmp_path / "guard_parity_delta")
    try:
        new_rows = [
            (10, "z0 " + boiler + " z1 z2"),
            (11, " ".join(f"q{i}" for i in range(25))),
            (12, boiler + " tail0 tail1"),
        ]
        src = str(tmp_path / "guard_src")
        os.makedirs(src)
        for i, row in enumerate(new_rows):
            spark.createDataFrame([row], "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{src}/f{i}")

        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", 1
        ).parquet(src + "/*")
        write = ingest_guard_delta_sink(
            ch, "doc_id", "text", out, app_id="guard-parity", window=10
        )
        q = (
            stream.writeStream.foreachBatch(write)
            .option("checkpointLocation", str(tmp_path / "guard_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            (r.id, r.is_known) for r in read_delta_fallback(spark, out).collect()
        }
        expect = {
            (r.id, r.is_known)
            for r in incremental_dedup_flags(
                spark.createDataFrame(new_rows, "doc_id long, text string"),
                corpus,
                "doc_id",
                "text",
                window=10,
            ).collect()
        }
        assert got == expect == {(10, True), (11, False), (12, True)}
    finally:
        ch.unpersist()


def test_stream_ingest_guard_delta_sink_exactly_once(spark, tmp_path):
    """The PRODUCTION guard sink: verdicts land in a delta table,
    executor-parallel, and a forcibly REDELIVERED batch (the
    foreachBatch at-least-once contract) is skipped by its txn marker
    — the table holds exactly one verdict per doc afterwards, with no
    driver collect anywhere in the sink."""
    import os

    from lakeapi_spark.operators.dedup import corpus_window_hashes
    from lakeapi_spark.sources.delta import last_txn_version, read_delta_fallback
    from lakeapi_spark.streaming.pipeline import ingest_guard_delta_sink

    boiler = " ".join(f"w{i}" for i in range(15))
    corpus = spark.createDataFrame(
        [(1, "x0 x1 " + boiler + " x2"), (2, " ".join(f"y{i}" for i in range(25)))],
        ["doc_id", "text"],
    )
    ch = corpus_window_hashes(corpus, "doc_id", "text", window=10).persist()
    out = str(tmp_path / "guard_delta")
    try:
        new_rows = [
            (10, "z0 " + boiler + " z1 z2"),
            (11, " ".join(f"q{i}" for i in range(25))),
            (12, boiler + " tail0 tail1"),
        ]
        src = str(tmp_path / "gd_src")
        os.makedirs(src)
        for i, row in enumerate(new_rows):
            spark.createDataFrame([row], "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{src}/f{i}")
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", 1
        ).parquet(src + "/*")
        write = ingest_guard_delta_sink(
            ch, "doc_id", "text", out, app_id="guard-test", window=10
        )
        q = (
            stream.writeStream.foreachBatch(write)
            .option("checkpointLocation", str(tmp_path / "gd_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        verdicts = {
            (r.id, r.is_known) for r in read_delta_fallback(spark, out).collect()
        }
        assert verdicts == {(10, True), (11, False), (12, True)}

        # forced redelivery: re-invoke the sink with an already-committed
        # batch id — the txn marker skips it, nothing is appended
        last = last_txn_version(spark, out, "guard-test")
        assert last >= 0
        row10 = next(r for r in new_rows if r[0] == 10)
        write(spark.createDataFrame([row10], "doc_id long, text string"), last)
        assert read_delta_fallback(spark, out).count() == len(new_rows)
        rows = read_delta_fallback(spark, out).collect()
        assert {r["_batch_id"] for r in rows} == {0, 1, 2}
    finally:
        ch.unpersist()


def test_stream_hll_registers_match_batch(spark, sf_dir, tmp_path):
    """HLL register builds are streaming-native BECAUSE the sketch is
    mergeable: groupBy(reg).max(rho) accumulates incrementally across
    micro-batches, and the drained register table estimates to exactly
    the batch sketch's value (bit-equal, not approximately)."""
    from lakeapi_spark.operators.sketches import hll_build, hll_estimate

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    regs = hll_build(stream, "user_id", ("event_type",), b=8)
    q = run_available_now(
        regs, "stream_hll_regs", str(tmp_path / "ckpt_hll"), output_mode="complete"
    )
    got = {
        (r.event_type,): (r.n_regs_set, float(r.n_est))
        for r in hll_estimate(
            spark.table("stream_hll_regs"), ("event_type",), b=8
        ).collect()
    }
    want = {
        (r.event_type,): (r.n_regs_set, float(r.n_est))
        for r in hll_estimate(
            hll_build(table(spark, sf_dir, "events"), "user_id", ("event_type",), b=8),
            ("event_type",),
            b=8,
        ).collect()
    }
    assert got == want and got
    q.stop()


def test_stream_merge_sink_upserts_and_skips_replay(spark, tmp_path):
    """Streaming UPSERT sink: keys re-delivered in later micro-batches
    REPLACE their rows (merge semantics, not append), new keys insert,
    and a redelivered batch id is a no-op via its txn marker."""
    import os

    from lakeapi_spark.sources.delta import read_delta_fallback
    from lakeapi_spark.streaming.pipeline import delta_merge_stream_sink

    src = str(tmp_path / "upsert_src")
    os.makedirs(src)
    batches = [
        [(1, "a", 1.0), (2, "b", 2.0)],          # create
        [(2, "b2", 20.0), (3, "c", 3.0)],        # update 2, insert 3
        [(1, "a3", 100.0)],                      # update 1
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k long, s string, v double").coalesce(
            1
        ).write.parquet(f"{src}/f{i}")

    out = str(tmp_path / "upsert_delta")
    write = delta_merge_stream_sink(out, on=["k"], app_id="upsert-test")
    stream = (
        spark.readStream.schema("k long, s string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "upsert_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def state():
        return {(r.k, r.s, r.v) for r in read_delta_fallback(spark, out).collect()}

    want = {(1, "a3", 100.0), (2, "b2", 20.0), (3, "c", 3.0)}
    assert state() == want

    # forced redelivery of an old batch id: txn marker skips the merge
    write(spark.createDataFrame([(1, "STALE", -1.0)], "k long, s string, v double"), 1)
    assert state() == want

    # a NEW batch id still applies
    write(spark.createDataFrame([(4, "d", 4.0)], "k long, s string, v double"), 99)
    assert state() == want | {(4, "d", 4.0)}


def test_stream_stateful_balance_matches_batch(spark, sf_dir, tmp_path):
    """Floor-clamped wallet balance: streaming applyInPandasWithState
    twin must reproduce the batch operator EXACTLY (integer cents) —
    including across micro-batch boundaries, exercised by splitting the
    events into two time-ordered files (maxFilesPerTrigger=1)."""
    import os

    from lakeapi_spark.streaming.pipeline import (
        _events_schema,
        run_available_now,
        running_balance_floor_stream,
    )
    from lakeapi_spark.operators.windows import running_balance_floor

    src = table(spark, sf_dir, "events")
    # two time-ordered files -> two micro-batches, state carries over
    from pyspark.sql.window import Window

    halves = src.withColumn(
        "_h", F.ntile(2).over(Window.orderBy("ts", "event_id"))
    )
    import glob as _glob
    import shutil

    d = str(tmp_path / "ev")
    os.makedirs(d)
    for i, cond in ((1, "_h = 1"), (2, "_h = 2")):
        stage = str(tmp_path / f"stage{i}")
        halves.filter(cond).drop("_h").coalesce(1).write.parquet(stage)
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, f"{d}/p{i}.parquet")  # plain FILES for the file source
    ts_type = src.schema["ts"].dataType
    stream = (
        spark.readStream.schema(_events_schema(ts_type))
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = run_available_now(
        running_balance_floor_stream(stream),
        "stream_balance",
        str(tmp_path / "ckpt_bal"),
        output_mode="update",
    )
    rows = spark.sql(
        """
        SELECT user_id, n_events, final_balance, n_floored FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM stream_balance
        ) WHERE rn = 1
        """
    ).collect()
    got = {r.user_id: (r.n_events, r.final_balance, r.n_floored) for r in rows}

    cents = F.round(F.col("value") * 100, 0).cast("long")
    delta = F.when(F.col("event_type") == "purchase", cents).otherwise(-cents)
    batch = running_balance_floor(
        src.select("user_id", "ts", "event_id", delta.alias("d")),
        "user_id", "ts", "event_id", "d",
    )
    want = {r.user_id: (r.n_events, r.final_balance, r.n_floored) for r in batch.collect()}
    assert got == want and len(got) > 0
    q.stop()


@pytest.mark.soak
def test_stream_maintained_lsh_index(spark, tmp_path):
    """The index-under-a-stream integration: documents arrive in three
    micro-batches, each one appends to the delta table (txn-marked)
    and advances the LSH index from the change feed. After the stream
    drains, the maintained index serves the SAME near-dup pairs as a
    from-scratch build over the final table, and a forcibly
    redelivered batch changes nothing."""
    import os

    from lakeapi_spark.operators.incremental import (
        lsh_index_build,
        lsh_index_pairs,
        lsh_index_version,
    )
    from lakeapi_spark.sources.delta import delta_snapshot, last_txn_version
    from lakeapi_spark.streaming.pipeline import lsh_maintained_delta_sink

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, base + f" extra{i}") for i in range(9)]  # mutual near-dups
    src = str(tmp_path / "lsh_src")
    os.makedirs(src)
    for i in range(3):
        spark.createDataFrame(
            rows[i * 3 : (i + 1) * 3], "doc_id long, text string"
        ).coalesce(1).write.parquet(f"{src}/f{i}")

    tbl, idx = str(tmp_path / "docs_delta"), str(tmp_path / "lsh_idx")
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src + "/*")
    write = lsh_maintained_delta_sink(tbl, idx, "doc_id", "text", app_id="lsh-test")
    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "lsh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final_v = delta_snapshot(spark, tbl).version
    assert lsh_index_version(spark, idx) == final_v

    full = str(tmp_path / "lsh_full")
    lsh_index_build(spark, tbl, full, "doc_id", "text")
    inc_pairs = {tuple(r) for r in lsh_index_pairs(spark, idx).collect()}
    full_pairs = {tuple(r) for r in lsh_index_pairs(spark, full).collect()}
    assert inc_pairs == full_pairs
    # pairs span batches: docs from batch 0 and batch 2 are near-dups
    ids = {i for p in inc_pairs for i in p[:2]}
    assert ids == set(range(9))

    # forced redelivery: table version and index untouched
    last = last_txn_version(spark, tbl, "lsh-test")
    write(spark.createDataFrame(rows[:1], "doc_id long, text string"), last)
    assert delta_snapshot(spark, tbl).version == final_v
    assert lsh_index_version(spark, idx) == final_v
    assert {tuple(r) for r in lsh_index_pairs(spark, idx).collect()} == full_pairs


def test_stream_maintained_aggregate(spark, tmp_path):
    """Materialized aggregate kept fresh under a live stream: three
    micro-batches append to the fact table and each refresh applies
    only the change-feed deltas, yet the aggregate table equals a
    from-scratch GROUP BY after the stream drains; a redelivered batch
    is a no-op; and a refresh after out-of-band fact commits catches
    up across the version gap (the crash-between-writes contract)."""
    import os

    from lakeapi_spark.sources.delta import (
        delta_snapshot,
        last_txn_version,
        read_delta,
        write_delta,
    )
    from lakeapi_spark.streaming.pipeline import agg_maintained_delta_sink

    rows = [(i, f"g{i % 3}", float(10 + i)) for i in range(12)]
    src = str(tmp_path / "agg_src")
    os.makedirs(src)
    for i in range(3):
        spark.createDataFrame(
            rows[i * 4 : (i + 1) * 4], "k long, g string, v double"
        ).coalesce(1).write.parquet(f"{src}/f{i}")

    fact, agg = str(tmp_path / "fact"), str(tmp_path / "agg")
    stream = spark.readStream.schema("k long, g string, v double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src + "/*")
    write = agg_maintained_delta_sink(fact, agg, ["g"], ["v"], app_id="agg-test")
    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "agg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from decimal import Decimal

    def agg_state():
        return {
            (r.g, r.n, Decimal(r.sum_v).normalize())
            for r in read_delta(spark, agg).collect()
        }

    def full_recompute():
        from pyspark.sql import functions as F

        return {
            (r.g, r.n, Decimal(r.sum_v).normalize())
            for r in read_delta(spark, fact)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("double").cast("decimal(28,10)")).alias(
                    "sum_v"
                ),
            )
            .collect()
        }

    final_v = delta_snapshot(spark, fact).version
    assert last_txn_version(spark, agg, "agg-test-agg") == final_v
    assert agg_state() == full_recompute()

    # redelivery: fact version unmoved, aggregate untouched
    before = agg_state()
    write(
        spark.createDataFrame(rows[:1], "k long, g string, v double"),
        last_txn_version(spark, fact, "agg-test"),
    )
    assert delta_snapshot(spark, fact).version == final_v
    assert agg_state() == before

    # out-of-band fact commits: the next refresh catches up the gap
    write_delta(
        spark.createDataFrame([(100, "g0", 5.0)], "k long, g string, v double"),
        fact,
    )
    write_delta(
        spark.createDataFrame([(101, "g9", 7.0)], "k long, g string, v double"),
        fact,
    )
    write(
        spark.createDataFrame(
            [(102, "g1", 1.0)], "k long, g string, v double"
        ),
        last_txn_version(spark, fact, "agg-test") + 1,
    )
    assert agg_state() == full_recompute()
    assert ("g9", 1, Decimal(7)) in agg_state()  # new group appeared


@pytest.mark.soak
def test_stream_maintained_ivf_index(spark, tmp_path):
    """The ANN-index-under-a-stream integration (IVF twin of the LSH
    test): embeddings arrive in three micro-batches; batch 0 bootstraps
    the index and seeds the FROZEN quantizer, later batches advance it
    from the change feed. After the stream drains, the maintained index
    serves the SAME top-k as a from-scratch build over the final table
    with the same centroids, and a redelivered batch changes nothing."""
    import os

    import numpy as np

    from lakeapi_spark.operators.incremental import (
        ivf_index_build_delta,
        ivf_index_topk_delta,
        ivf_index_version,
    )
    from lakeapi_spark.sources.delta import delta_snapshot, last_txn_version
    from lakeapi_spark.streaming.pipeline import ivf_maintained_delta_sink

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(6)]) for i in range(12)]
    src = str(tmp_path / "ivf_src")
    os.makedirs(src)
    for i in range(3):
        spark.createDataFrame(
            rows[i * 4 : (i + 1) * 4], "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(f"{src}/f{i}")

    tbl, idx = str(tmp_path / "emb_delta"), str(tmp_path / "ivf_idx")
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).option("maxFilesPerTrigger", 1).parquet(src + "/*")
    cent_ids = [0, 1]  # land in batch 0, the bootstrap build
    write = ivf_maintained_delta_sink(
        tbl, idx, "vec_id", "embedding", cent_ids, app_id="ivf-test"
    )
    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ivf_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final_v = delta_snapshot(spark, tbl).version
    assert ivf_index_version(spark, idx) == final_v

    full = str(tmp_path / "ivf_full")
    ivf_index_build_delta(spark, tbl, full, "vec_id", "embedding", cent_ids)
    queries = spark.createDataFrame(
        rows[2:4], "vec_id long, embedding array<double>"
    )
    inc = {
        tuple(r)
        for r in ivf_index_topk_delta(
            spark, idx, queries, "vec_id", "embedding", k=5
        ).collect()
    }
    ful = {
        tuple(r)
        for r in ivf_index_topk_delta(
            spark, full, queries, "vec_id", "embedding", k=5
        ).collect()
    }
    assert inc == ful and len(inc) > 0
    # neighbors span batches: some served ids arrived after the build
    assert {t[1] for t in inc} & set(range(4, 12))

    # forced redelivery: table version and index untouched
    last = last_txn_version(spark, tbl, "ivf-test")
    write(
        spark.createDataFrame(rows[:1], "vec_id long, embedding array<double>"),
        last,
    )
    assert delta_snapshot(spark, tbl).version == final_v
    assert ivf_index_version(spark, idx) == final_v


def test_stream_maintained_hll_windowed_distinct(spark, tmp_path):
    """Windowed distinct-count under a stream via the persisted HLL
    register sink: three micro-batches append to the fact table and
    merge churn-sized register deltas; after the drain the maintained
    table's per-day estimates are BIT-EQUAL to a from-scratch batch
    sketch of the whole fact table; a redelivered batch is a no-op;
    and a version gap (out-of-band fact commit with no register
    refresh) is closed from the change feed on the next trigger."""
    import os

    from pyspark.sql import functions as F

    from lakeapi_spark.operators.sketches import hll_build, hll_estimate
    from lakeapi_spark.sources.delta import (
        last_txn_version,
        read_delta,
        write_delta,
    )
    from lakeapi_spark.streaming.pipeline import hll_maintained_delta_sink

    rows = [
        (i, f"2024-03-{1 + (i % 3):02d}", 100 + (i * 7) % 40) for i in range(60)
    ]
    src = str(tmp_path / "hll_src")
    os.makedirs(src)
    for i in range(3):
        spark.createDataFrame(
            rows[i * 20 : (i + 1) * 20], "eid long, day string, user_id long"
        ).coalesce(1).write.parquet(f"{src}/f{i}")

    fact, hll = str(tmp_path / "hll_fact"), str(tmp_path / "hll_regs")
    stream = spark.readStream.schema("eid long, day string, user_id long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src + "/*")
    write = hll_maintained_delta_sink(
        fact, hll, "user_id", ["day"], b=8, app_id="hll-test"
    )
    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def estimates(regs_df):
        return {
            (r.day, r.n_regs_set, float(r.n_est))
            for r in hll_estimate(regs_df, ("day",), b=8).collect()
        }

    got = estimates(read_delta(spark, hll).select("day", "reg", "mx"))
    want = estimates(hll_build(read_delta(spark, fact), "user_id", ("day",), b=8))
    assert got == want and len(got) == 3

    # redelivery: same batch id / no fact movement -> register table
    # version unchanged
    v_before = last_txn_version(spark, hll, "hll-test-hll")
    write(spark.createDataFrame(rows[40:60], "eid long, day string, user_id long"), 2)
    assert last_txn_version(spark, hll, "hll-test-hll") == v_before

    # version gap: out-of-band fact append (new users), then a trigger
    # whose own batch is EMPTY must still fold the gap rows in from
    # the change feed
    extra = [(100 + i, "2024-03-01", 900 + i) for i in range(5)]
    write_delta(
        spark.createDataFrame(extra, "eid long, day string, user_id long"), fact
    )
    write(
        spark.createDataFrame([], "eid long, day string, user_id long"),
        3,
    )
    got2 = estimates(read_delta(spark, hll).select("day", "reg", "mx"))
    want2 = estimates(hll_build(read_delta(spark, fact), "user_id", ("day",), b=8))
    assert got2 == want2 and got2 != got


@pytest.mark.soak
def test_streaming_progress_metrics_matches_batch_replay(spark, tmp_path):
    """VERDICT r11 #6 property: the per-micro-batch metrics relation's
    rows_dropped_late must equal a BATCH replay of the watermark rule.
    Spark propagates the watermark with ONE BATCH of lag (measured
    here, and the reason the replay is worth pinning in a test): the
    filtering watermark for micro-batch N is
    (max event time through batch N-2) - delay — batch N-1's maximum
    is only committed at its end and becomes the filter at N — and a
    row drops iff its 5-minute window's END <= that watermark
    (INCLUSIVE: the 12:45 boundary row below, whose window end equals
    the watermark exactly, drops). Two scenarios: one late row, and a
    late burst with the boundary case. Also checks watermark
    progression, state growth, and input accounting."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from lakeapi_spark.streaming.pipeline import streaming_progress_metrics

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    def run(name, batches, delay_min=10, width_min=5):
        src = str(tmp_path / name)
        os.makedirs(src)
        for i, rows in enumerate(batches):
            d = f"{src}/f{i}"
            spark.createDataFrame(
                rows, "ts timestamp, user_id long, value double"
            ).coalesce(1).write.mode("overwrite").parquet(d)
            for root, _dirs, files in os.walk(d):
                for fn in files:
                    os.utime(os.path.join(root, fn), (1_000_000 + i,) * 2)
        stream = (
            spark.readStream.schema("ts timestamp, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        agg = (
            stream.withWatermark("ts", f"{delay_min} minutes")
            .groupBy(F.window("ts", f"{width_min} minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(f"metrics_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        prog = list(q.recentProgress)
        q.stop()
        return streaming_progress_metrics(prog, spark)

    def batch_replay_drops(batches, delay_min=10, width_min=5):
        """Replay the watermark rule: batch N filters with the
        watermark from data through batch N-2 (one-batch propagation
        lag), dropping rows whose window end <= watermark."""
        dropped, max_prev, max_prev_prev = 0, None, None
        for rows in batches:
            wm = (
                None
                if max_prev_prev is None
                else max_prev_prev - dt.timedelta(minutes=delay_min)
            )
            for (t, _u, _v) in rows:
                wend = t0 + dt.timedelta(
                    minutes=((t - t0).total_seconds() // 60 // width_min + 1)
                    * width_min
                )
                if wm is not None and wend <= wm:
                    dropped += 1
            batch_max = max(t for (t, _u, _v) in rows)
            max_prev_prev = max_prev
            max_prev = (
                batch_max if max_prev is None else max(max_prev, batch_max)
            )
        return dropped

    # scenario 1: single late row in batch 2
    b1 = [
        [(ts(0), 1, 1.0), (ts(2), 1, 1.0), (ts(30), 1, 1.0)],
        [(ts(31), 2, 1.0)],
        [(ts(1), 2, 99.0), (ts(32), 2, 1.0)],
    ]
    m1 = run("s1", b1).orderBy("batch_id").collect()
    data1 = [r for r in m1 if r.num_input_rows > 0]
    assert sum(r.rows_dropped_late for r in data1) == batch_replay_drops(b1) == 1
    assert sum(r.num_input_rows for r in m1) == 6
    # the drop lands in the batch that carried the late row
    assert data1[2].rows_dropped_late == 1
    # watermark is unset in batch 0, then advances monotonically
    assert data1[0].watermark is None
    wms = [r.watermark for r in data1[1:]]
    assert all(w is not None for w in wms) and wms == sorted(wms)
    assert all(
        r.watermark_lag_seconds is None or r.watermark_lag_seconds >= 0 for r in m1
    )
    # state holds at least the live (non-evicted) windows
    assert data1[0].state_rows >= 2 and data1[0].n_state_operators == 1

    # scenario 2: a late burst, plus a boundary row whose window end
    # equals the filtering watermark exactly (end <= wm: drops). The
    # one-batch propagation lag shows here: batch 1's late rows pass
    # (its filter watermark predates batch 0's max), batch 2 filters
    # with 13:00 - 10min = 12:50 and drops both the 12:45 boundary row
    # (window end 12:50 == wm) and the 12:07 row.
    b2 = [
        [(ts(0), 1, 1.0), (ts(60), 1, 1.0)],
        [(ts(3), 2, 1.0), (ts(4), 2, 1.0), (ts(61), 2, 1.0)],
        [(ts(45), 3, 1.0), (ts(7), 3, 1.0), (ts(62), 3, 1.0)],
    ]
    m2 = run("s2", b2).orderBy("batch_id").collect()
    data2 = [r for r in m2 if r.num_input_rows > 0]
    want2 = batch_replay_drops(b2)
    assert sum(r.rows_dropped_late for r in data2) == want2 == 2
    assert [r.rows_dropped_late for r in data2] == [0, 0, 2]


def test_stream_state_bound_growing_keys_evicted(spark, tmp_path):
    """r13 state-bound property (ROADMAP_r12 #4): a (window x user)
    aggregation whose key space GROWS every batch must hold exactly
    the keys its reported watermark admits — eviction at the end of
    batch b uses the same lagging watermark the progress row reports
    (max event time through b-1, minus the delay; measured r13) — and
    the final state must be a small fraction of the cumulative keys.
    ProgressCapture merges listener events with recentProgress because
    a fast availableNow drain can drop early progress rows."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from lakeapi_spark.streaming.pipeline import (
        ProgressCapture,
        streaming_progress_metrics,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    n_batches, per_batch = 4, 3
    batches = [
        [
            (t0 + dt.timedelta(minutes=30 * i), 10 * i + u, 1.0)
            for u in range(per_batch)
        ]
        for i in range(n_batches)
    ]
    src = str(tmp_path / "grow_src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        d = f"{src}/f{i}"
        spark.createDataFrame(
            rows, "ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("overwrite").parquet(d)
        for root, _dirs, files in os.walk(d):
            for fn in files:
                os.utime(os.path.join(root, fn), (1_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with ProgressCapture(spark) as cap:
        q = (
            agg.writeStream.format("memory")
            .queryName("grow_keys")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "grow_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        progress = cap.await_batches(
            q, n_batches=n_batches, min_input_rows=n_batches * per_batch
        )
        q.stop()
    metrics = (
        streaming_progress_metrics(progress, spark).orderBy("batch_id").collect()
    )

    def key_end(t, u):
        mins = (t - t0).total_seconds() // 60
        return (
            t0 + dt.timedelta(minutes=(mins // 5 + 1) * 5),
            u,
        )

    checked = 0
    for r in metrics:
        upto = min(r.batch_id, n_batches - 1)
        keys = {
            key_end(t, u)
            for rows in batches[: upto + 1]
            for (t, u, _v) in rows
        }
        if r.watermark is None:
            live = len(keys)
        else:
            wm = (
                r.watermark.replace(tzinfo=None)
                if r.watermark.tzinfo is not None
                else r.watermark
            )
            live = sum(1 for (end, _u) in keys if end > wm)
        assert r.state_rows == live, (r.batch_id, r.state_rows, live)
        checked += 1
    assert checked >= n_batches
    # boundedness: the final batch's watermark evicted the old windows
    final = metrics[-1]
    assert final.state_rows <= per_batch * 2
    assert final.state_rows < n_batches * per_batch


def test_rocksdb_state_store_matches_default(spark, sf_dir, tmp_path):
    """VERDICT r13 #7: the RocksDB state-store provider (surfaced via
    SPARK_GRAFT_STATE_STORE=rocksdb in the session factory) must
    produce bit-identical stateful results to the default provider.
    Cluster-relevant knob (disk-backed state + changelog
    checkpointing); no local latency change expected — this pins
    correctness, not speed. The provider conf is read per-query at
    stream start, so the test flips it on the shared session and
    restores it."""
    key = "spark.sql.streaming.stateStore.providerClass"
    chg = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    q = run_available_now(
        tumbling_counts_stream(stream), "rocks_base", str(tmp_path / "ck_base")
    )
    q.stop()
    want = {
        (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in spark.sql("SELECT * FROM rocks_base").collect()
    }
    assert want, "baseline stream produced no windows"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(chg, "true")
    try:
        q2 = run_available_now(
            tumbling_counts_stream(stream), "rocks_rdb", str(tmp_path / "ck_rdb")
        )
        # prove the provider actually engaged: RocksDB emits its own
        # state-operator custom metrics in the progress
        progress = q2.lastProgress
        q2.stop()
        got = {
            (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 4))
            for r in spark.sql("SELECT * FROM rocks_rdb").collect()
        }
        assert got == want
        ops = (progress or {}).get("stateOperators") or []
        assert any(
            any(str(m).startswith("rocksdb") for m in (op.get("customMetrics") or {}))
            for op in ops
        ), f"RocksDB provider did not engage: {ops}"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        spark.conf.unset(chg)


def test_session_factory_state_store_env(monkeypatch):
    """SPARK_GRAFT_STATE_STORE=rocksdb wires the provider + changelog
    confs through the session factory builder, and only then
    (config-only check on the options the builder receives — the
    behavioral twin above runs the provider for real)."""
    from pyspark.sql import SparkSession

    from lakeapi_spark.session import get_spark

    provider = "spark.sql.streaming.stateStore.providerClass"
    changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    seen: dict = {}

    def capture(builder):
        seen.clear()
        seen.update(builder._options)
        return builder

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    get_spark("lakeapi-spark-tests")
    assert seen[provider].endswith(".RocksDBStateStoreProvider")
    assert seen[changelog] == "true"
    monkeypatch.delenv("SPARK_GRAFT_STATE_STORE")
    get_spark("lakeapi-spark-tests")
    assert provider not in seen and changelog not in seen
