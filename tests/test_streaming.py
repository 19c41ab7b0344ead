"""Streaming tests: the file-ingest pipeline (T1 replacement) end-to-end
with exactly-once re-run semantics, which the oracle queries can't cover."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest

from house_price_etl_pipeline_spark.streaming.ingest import run_ingest_available_now


@pytest.fixture()
def landing_dir(house_csv_fixture, tmp_path) -> str:
    """Private mutable copy of the fixture dir (simulates the GCS landing
    bucket the reference's Cloud Function watches)."""
    d = tmp_path / "landing"
    shutil.copytree(house_csv_fixture, d)
    return str(d)


def test_file_ingest_available_now_exactly_once(spark, landing_dir, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    run_ingest_available_now(spark, landing_dir, out, ckpt)
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 == 3  # building rows surviving the cleaning pipeline
    assert "unit_price_ping" in first.columns

    # re-run with the same checkpoint: no new files → nothing reprocessed
    run_ingest_available_now(spark, landing_dir, out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # land a new file → only it is processed, rows appended (K3 semantics)
    shutil.copy(Path(landing_dir) / "101S4_g_lvr_land_a.csv",
                Path(landing_dir) / "102S1_e_lvr_land_a.csv")
    run_ingest_available_now(spark, landing_dir, out, ckpt)
    after = spark.read.parquet(out)
    assert after.count() == n1 + 2  # 2 building rows in the copied file
    assert after.filter("city = '高雄市'").count() == 2  # code 'e' from new name


def test_path_glob_filter_skips_non_matching_files(spark, landing_dir, tmp_path):
    """The *a.csv suffix predicate (reference cloud_function/main.py:8):
    a *_b.csv landing in the bucket must be invisible to the pipeline."""
    bogus = Path(landing_dir) / "101S4_g_lvr_land_b.csv"
    shutil.copy(Path(landing_dir) / "101S4_g_lvr_land_a.csv", bogus)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_ingest_available_now(spark, landing_dir, out, ckpt)
    assert spark.read.parquet(out).count() == 3  # unchanged by the b-file


def test_stateful_profile_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState must MERGE per-user state batch-over-batch,
    not recompute: feed two parquet files one-per-trigger and check the
    final profile equals the union's batch aggregate."""
    import pandas as pd
    from pyspark.sql import functions as F
    from house_price_etl_pipeline_spark.streaming.stateful import (
        OUTPUT_SCHEMA, drain_user_profiles)

    src = tmp_path / "events_src"
    src.mkdir()
    batch1 = [(1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
              (2, "2024-01-01 10:05:00", 7, "purchase", 2.0, "{}"),
              (3, "2024-01-01 10:06:00", 8, "view", 3.0, "{}")]
    batch2 = [(4, "2024-01-02 09:00:00", 7, "click", 4.0, "{}"),
              (5, "2024-01-02 09:30:00", 9, "click", 5.0, "{}")]
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate([batch1, batch2]):
        staging = tmp_path / f"staging{i}"
        (spark.createDataFrame(rows, cols)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .withColumn("ts", F.unix_micros("ts") * 1000)  # nanos-as-long layout
         .coalesce(1).write.parquet(str(staging)))
        part = next(staging.glob("part-*.parquet"))
        part.rename(src / f"b{i}.parquet")  # flat file: one file per trigger

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from house_price_etl_pipeline_spark.streaming.windows import EVENTS_RAW_SCHEMA
    stream = (spark.readStream.schema(EVENTS_RAW_SCHEMA)
              .option("maxFilesPerTrigger", 1)  # forces 2 micro-batches
              .parquet(str(src)))
    stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    final = {r.user_id: r for r in drain_user_profiles(spark, stream).collect()}
    assert final[7].n_events == 3 and final[7].n_clicks == 2
    assert final[7].n_purchases == 1
    assert str(final[7].first_ts) == "2024-01-01 10:00:00"
    assert str(final[7].last_ts) == "2024-01-02 09:00:00"  # merged across batches
    assert final[8].n_events == 1 and final[9].n_clicks == 1


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """Late-data policy (SURVEY §2.8 extension): an event arriving after
    the watermark passed its window must be DROPPED from an append-mode
    windowed aggregation — the contract that bounds state at 100 TB."""
    from pyspark.sql import functions as F

    import time

    src = tmp_path / "late_src"
    src.mkdir()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # batch 0 raises the watermark to 10:50; batch 1's end EVICTS and
    # emits the finalized [10:00,10:30) window (watermark > window end);
    # batch 2's 10:05 straggler then hits evicted state and is dropped.
    batches = [
        [(1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
         (2, "2024-01-01 10:10:00", 1, "view", 1.0, "{}"),
         (3, "2024-01-01 11:00:00", 1, "view", 1.0, "{}")],
        [(4, "2024-01-01 11:05:00", 1, "view", 1.0, "{}")],
        [(5, "2024-01-01 10:05:00", 1, "view", 1.0, "{}"),  # the straggler
         (6, "2024-01-01 11:10:00", 1, "view", 1.0, "{}")],
    ]
    for i, rows in enumerate(batches):
        staging = tmp_path / f"late_staging{i}"
        (spark.createDataFrame(rows, cols)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .withColumn("ts", F.unix_micros("ts") * 1000)
         .coalesce(1).write.parquet(str(staging)))
        next(staging.glob("part-*.parquet")).rename(src / f"b{i}.parquet")
        time.sleep(1.1)  # distinct mod-times → deterministic batch order

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from house_price_etl_pipeline_spark.streaming.windows import EVENTS_RAW_SCHEMA
    stream = (spark.readStream.schema(EVENTS_RAW_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src))
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "30 minutes"))
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("late_demo").trigger(availableNow=True).start())
    q.awaitTermination()
    out = {str(r.window.start): r.n
           for r in spark.table("late_demo").collect()}
    # the 10:00 window was finalized by batch1's watermark with 2 events;
    # batch2's late 10:05 event must not reappear in it
    assert out.get("2024-01-01 10:00:00") == 2


def _write_event_batches(spark, tmp_path, batches, name="src"):
    """Crafted micro-batch input: one flat parquet file per trigger, in
    the nanos-as-long layout the events loader expects."""
    from pyspark.sql import functions as F

    import time

    src = tmp_path / name
    src.mkdir()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(batches):
        staging = tmp_path / f"{name}_staging{i}"
        (spark.createDataFrame(rows, cols)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .withColumn("ts", F.unix_micros("ts") * 1000)
         .coalesce(1).write.parquet(str(staging)))
        next(staging.glob("part-*.parquet")).rename(src / f"b{i}.parquet")
        time.sleep(1.1)  # distinct mod-times → deterministic batch order
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from house_price_etl_pipeline_spark.streaming.windows import EVENTS_RAW_SCHEMA
    return (spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate arriving while the key
    is still in state is SUPPRESSED; after the watermark evicts the key,
    the same key is emitted again (the state-bounding trade-off the
    docstring in streaming/joins.py documents)."""
    from pyspark.sql import functions as F

    batches = [
        # batch 0: key A first seen at 10:00; duplicate at 10:02 suppressed
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 10:02:00", 1, "click", 1.0, "{}")],
        # batch 1: pushes max event time to 12:00 → watermark becomes
        # 11:50 only AFTER this batch commits
        [(3, "2024-01-01 12:00:00", 2, "view", 1.0, "{}")],
        # batch 2: runs with watermark 11:50 → key A (expiry 10:10) is
        # evicted during this batch's state cleanup
        [(4, "2024-01-01 12:30:00", 3, "view", 1.0, "{}")],
        # batch 3: key A recurs AFTER eviction → emitted a second time
        [(5, "2024-01-01 12:31:00", 1, "click", 1.0, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "dedup_src")
    deduped = (stream.withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["user_id", "event_type"]))
    q = (deduped.writeStream.outputMode("append").format("memory")
         .queryName("dedup_wm").trigger(availableNow=True).start())
    q.awaitTermination()
    out = [(r.event_id, r.user_id) for r in
           spark.table("dedup_wm").orderBy("event_id").collect()]
    # event 2 (in-state duplicate) suppressed; event 5 (post-eviction
    # recurrence of the same key) re-emitted
    assert out == [(1, 1), (3, 2), (4, 3), (5, 1)]


def test_stream_stream_join_emits_only_in_range_pairs(spark, tmp_path):
    """Stream-stream interval join on crafted input: only errors within
    [click_ts, click_ts+5m) per user match, across micro-batches."""
    from pyspark.sql import functions as F

    batches = [
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 10:03:00", 1, "error", 1.0, "{}")],   # in range
        [(3, "2024-01-01 10:04:59", 1, "error", 1.0, "{}"),    # in range (cross-batch)
         (4, "2024-01-01 10:05:00", 1, "error", 1.0, "{}"),    # boundary: excluded
         (5, "2024-01-01 10:01:00", 2, "error", 1.0, "{}")],   # wrong user
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "ssj_src")
    clicks = (stream.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("cts"))
              .withWatermark("cts", "10 minutes"))
    errors = (stream.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("error_id"),
                      F.col("user_id").alias("e_user_id"),
                      F.col("ts").alias("ets"))
              .withWatermark("ets", "10 minutes"))
    joined = clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("ets") >= F.col("cts"))
        & (F.col("ets") < F.col("cts") + F.expr("INTERVAL 5 MINUTES")))
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("ssj_out").trigger(availableNow=True).start())
    q.awaitTermination()
    pairs = sorted((r.click_id, r.error_id) for r in spark.table("ssj_out").collect())
    assert pairs == [(1, 2), (1, 3)]


def test_foreach_batch_upsert_keeps_latest_per_key(spark, tmp_path):
    """foreachBatch upsert sink: two micro-batches with overlapping keys
    must leave exactly one (latest) row per key in the target table."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        stream_upsert_foreach_batch)

    batches = [
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 10:05:00", 2, "view", 2.0, "{}")],
        # user 1 reappears later (wins), user 3 is new
        [(3, "2024-01-01 11:00:00", 1, "purchase", 9.0, "{}"),
         (4, "2024-01-01 11:05:00", 3, "click", 3.0, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "upsert_src")
    target = str(tmp_path / "upsert_target")
    q = stream_upsert_foreach_batch(
        stream, spark, target, str(tmp_path / "upsert_ckpt"),
        key_cols=["user_id"], order_col="ts")
    q.awaitTermination()
    rows = {r.user_id: r for r in spark.read.parquet(target).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].event_type == "purchase"  # batch-2 version won
    assert rows[2].event_type == "view" and rows[3].event_type == "click"


def test_foreach_batch_upsert_versioned_publication(spark, tmp_path):
    """The upsert sink publishes via atomic symlink flip over versioned
    snapshots (VERDICT r3 item 2): applied batch ids are journaled, old
    versions are pruned to current+prior, the readable path is always a
    complete snapshot, and re-delivered batch ids are exactly-once
    no-ops."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state, stream_upsert_foreach_batch)
    from house_price_etl_pipeline_spark.streaming.windows import (
        EVENTS_RAW_SCHEMA)

    batches = [
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")],
        [(2, "2024-01-01 11:00:00", 1, "view", 2.0, "{}"),
         (3, "2024-01-01 11:30:00", 2, "click", 3.0, "{}")],
        [(4, "2024-01-01 12:00:00", 2, "purchase", 9.0, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "ups_v_src")
    target = str(tmp_path / "ups_v_target")
    q = stream_upsert_foreach_batch(
        stream, spark, target, str(tmp_path / "ups_v_ckpt"),
        key_cols=["user_id"], order_col="ts")
    q.awaitTermination()

    assert os.path.islink(target)
    commits, applied = _journal_state(target + "_versions")
    assert sorted(applied) == [0, 1, 2] and commits[-1]["version"] == 2
    rows = {r.user_id: r.event_type
            for r in spark.read.parquet(target).collect()}
    assert rows == {1: "view", 2: "purchase"}
    vdirs = sorted(n for n in os.listdir(target + "_versions")
                   if n.startswith("v"))
    assert vdirs == ["v1", "v2"]  # retention: current + prior only

    # replayed batch ids (fresh checkpoint, same source) are no-ops:
    # the journal makes the merge exactly-once, state unchanged
    stream2 = (spark.readStream.schema(EVENTS_RAW_SCHEMA)
               .option("maxFilesPerTrigger", 1)
               .parquet(str(tmp_path / "ups_v_src"))
               .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    q2 = stream_upsert_foreach_batch(
        stream2, spark, target, str(tmp_path / "ups_v_ckpt2"),
        key_cols=["user_id"], order_col="ts")
    q2.awaitTermination()
    rows2 = {r.user_id: r.event_type
             for r in spark.read.parquet(target).collect()}
    assert rows2 == rows


def test_state_store_reader_exposes_streaming_state(spark, tmp_path):
    """Spark 4 state data source: the state store behind a streaming
    aggregation is directly queryable from its checkpoint — the
    debuggability story for stateful pipelines (inspect keys/values
    without instrumenting the job)."""
    from pyspark.sql import functions as F

    batches = [
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 10:01:00", 1, "view", 2.0, "{}"),
         (3, "2024-01-01 10:02:00", 2, "click", 3.0, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "state_src")
    ckpt = str(tmp_path / "state_ckpt")
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n"))
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("state_demo").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    state = spark.read.format("statestore").load(ckpt)
    # state exposes the aggregation BUFFER schema (internal name `count`),
    # keyed by the grouping columns
    rows = {r["key"]["user_id"]: r["value"]["count"] for r in state.collect()}
    assert rows == {1: 2, 2: 1}


def test_transform_with_state_carries_typed_state(spark, tmp_path):
    """transformWithStateInPandas (Spark 4): the typed ValueState must
    accumulate ACROSS micro-batches — final running totals equal the
    union's batch aggregate. Requires google.protobuf (the state-server
    wire protocol); the shim resolves it from the container's Cloud SDK
    — skipped only where neither a pip install nor the SDK exists."""
    from house_price_etl_pipeline_spark._vendor.protobuf_compat import (
        ensure_protobuf)

    if not ensure_protobuf():
        pytest.skip("no google.protobuf runtime available")
    from house_price_etl_pipeline_spark.streaming.stateful import (
        drain_running_totals)

    batches = [
        [(1, "2024-01-01 10:00:00", 7, "click", 1.5, "{}"),
         (2, "2024-01-01 10:05:00", 7, "purchase", 2.0, "{}"),
         (3, "2024-01-01 10:06:00", 8, "view", 3.0, "{}")],
        [(4, "2024-01-02 09:00:00", 7, "click", 4.0, "{}"),
         (5, "2024-01-02 09:30:00", 9, "click", 5.5, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "tws_src")
    final = {r.user_id: r for r in drain_running_totals(spark, stream).collect()}
    assert final[7].n_events == 3 and abs(final[7].sum_value - 7.5) < 1e-9
    assert final[8].n_events == 1 and final[9].n_events == 1


def test_update_mode_emits_only_changed_groups(spark, tmp_path):
    """UPDATE output mode (the third mode, next to complete/append):
    each micro-batch emits ONLY the groups whose aggregate changed in
    that batch — the incremental-materialized-view contract a downstream
    upsert sink depends on. Batch 2 touches user 7 only, so user 8 must
    NOT be re-emitted."""
    from pyspark.sql import functions as F

    batches = [
        [(1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
         (2, "2024-01-01 10:01:00", 8, "view", 2.0, "{}")],
        [(3, "2024-01-01 11:00:00", 7, "click", 3.0, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "upd_src")
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n"))
    q = (agg.writeStream.outputMode("update").format("memory")
         .queryName("upd_out").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = [(r.user_id, r.n) for r in
            spark.table("upd_out").orderBy("user_id", "n").collect()]
    # batch1: (7,1) and (8,1); batch2: only (7,2) — never (8,1) again
    assert rows == [(7, 1), (7, 2), (8, 1)]


def test_stream_stream_left_outer_join_emits_nulls_after_expiry(spark, tmp_path):
    """Stream-stream LEFT OUTER join: a click with no error inside its
    5-minute window may NOT emit eagerly — only once the watermark
    passes the click's join-window expiry can Spark prove no match will
    arrive and emit the null-padded row. Matched rows emit as they
    join; unmatched ones emit null-padded, and only after expiry."""
    from pyspark.sql import functions as F

    batches = [
        # click 1 gets a matching error 2 min later; click 4 never does
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 10:02:00", 1, "error", 1.0, "{}"),
         (4, "2024-01-01 10:03:00", 2, "click", 1.0, "{}")],
        # a matching pair advances BOTH branch watermarks past click 4's
        # state expiry (each side's watermark is computed on its own
        # filtered branch — a 'view' event would advance neither)
        [(9, "2024-01-01 12:00:00", 3, "click", 1.0, "{}"),
         (10, "2024-01-01 12:00:00", 3, "error", 1.0, "{}")],
        # one more pair so the cleanup after the advance runs
        [(11, "2024-01-01 13:00:00", 3, "click", 1.0, "{}"),
         (12, "2024-01-01 13:00:00", 3, "error", 1.0, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "sslo_src")
    clicks = (stream.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("cts"))
              .withWatermark("cts", "10 minutes"))
    errors = (stream.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("error_id"),
                      F.col("user_id").alias("e_user_id"),
                      F.col("ts").alias("ets"))
              .withWatermark("ets", "10 minutes"))
    joined = clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("ets") >= F.col("cts"))
        & (F.col("ets") < F.col("cts") + F.expr("INTERVAL 5 MINUTES")),
        "left_outer")
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("sslo_out").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {r.click_id: r.error_id for r in spark.table("sslo_out").collect()}
    # clicks 1/9/11 matched eagerly; click 4 null-padded only after its
    # state expired (watermark past cts + 5m + 10m delay)
    assert rows == {1: 2, 4: None, 9: 10, 11: 12}


def test_processing_time_timeout_closes_idle_sessions(spark, tmp_path):
    """GroupStateTimeout.ProcessingTimeTimeout: a key untouched since a
    prior batch times out on a later (possibly no-data) batch — the
    kernel emits its final 'closed' row and REMOVES the state (idle keys
    must leave the store; that is what bounds state at 100 TB). User 7
    (batch 0 only) is closed by a later batch with its full count of 2;
    user 8 closes on a subsequent no-data batch. NB: with
    processing-time timers Spark keeps scheduling no-data batches, so
    AvailableNow never self-terminates — the test polls for the
    expected emissions and stops the query explicitly."""
    import time

    from house_price_etl_pipeline_spark.streaming.stateful import (
        session_timeout_stream)

    batches = [
        [(1, "2024-01-01 10:00:00", 7, "view", 1.0, "{}"),
         (2, "2024-01-01 10:01:00", 7, "view", 1.0, "{}")],
        [(3, "2024-01-01 10:02:00", 8, "view", 1.0, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "timeout_src")
    q = (session_timeout_stream(stream)
         .writeStream.outputMode("update").format("memory")
         .queryName("timeout_demo").trigger(availableNow=True).start())
    try:
        deadline = time.time() + 120
        want = {(7, "closed", 2), (8, "closed", 1)}
        got = set()
        while time.time() < deadline and not want <= got:
            time.sleep(1)
            got = {(r.user_id, r.status, r.n_events)
                   for r in spark.table("timeout_demo").collect()}
    finally:
        q.stop()
    assert want <= got, got
    # the open emissions preceded the closes with the same counts
    assert (7, "open", 2) in got and (8, "open", 1) in got


def test_upsert_time_travel_reads(spark, tmp_path):
    """read_upsert_version: version=None reads the published snapshot;
    version=N reads a retained historical snapshot; an evicted version
    raises with the applied/retained inventory (the Delta/Iceberg
    time-travel contract on plain parquet)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, stream_upsert_foreach_batch)

    batches = [
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")],
        [(2, "2024-01-01 11:00:00", 1, "view", 2.0, "{}")],
        [(3, "2024-01-01 12:00:00", 1, "purchase", 3.0, "{}")],
    ]
    stream = _write_event_batches(spark, tmp_path, batches, "tt_src")
    target = str(tmp_path / "tt_target")
    q = stream_upsert_foreach_batch(
        stream, spark, target, str(tmp_path / "tt_ckpt"),
        key_cols=["user_id"], order_col="ts", keep_versions=3)
    q.awaitTermination()

    assert read_upsert_version(spark, target).collect()[0].event_type \
        == "purchase"
    assert read_upsert_version(spark, target, 1).collect()[0].event_type \
        == "view"
    assert read_upsert_version(spark, target, 0).collect()[0].event_type \
        == "click"
    # with keep_versions=2 (default), v0 would be evicted; simulate by
    # asking for a version that never existed
    with _pytest.raises(FileNotFoundError, match="not retained"):
        read_upsert_version(spark, target, 99)


def test_growing_band_index_catches_cross_batch_duplicates(spark, tmp_path):
    """Persistent LSH band index (streaming/index.py): a doc arriving in
    batch 2 that near-duplicates a BATCH-1 ARRIVAL (not in the seed
    corpus) must be rejected — proof the index grows between batches;
    same-batch twins resolve to the earlier doc_id; replaying a batch id
    is idempotent (per-batch overwrite)."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from house_price_etl_pipeline_spark.streaming.index import (
        build_band_index, read_band_index, read_decisions, run_index_ingest)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    seed_docs = [(100, base), (101, "totally different words " * 3)]
    # b1: 201 dups the seed, 202 is novel; 203/204 are same-batch twins
    novel = "one two three four five six seven eight nine ten"
    twin = "red orange yellow green blue indigo violet umber ochre teal"
    b1 = [(201, base + " kappa"), (202, novel), (203, twin), (204, twin)]
    # b2: 301 dups b1's novel arrival; 302 is new
    b2 = [(301, novel + " ten"), (302, "alone unique standalone " * 3)]

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    index_dir = str(tmp_path / "lsh_index")
    build_band_index(spark, spark.createDataFrame(seed_docs, schema),
                     index_dir)

    src = tmp_path / "docs_src"
    src.mkdir()
    for i, rows in enumerate([b1, b2]):
        staging = tmp_path / f"idx_staging{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(staging))
        next(staging.glob("part-*.parquet")).rename(src / f"b{i}.parquet")
        time.sleep(1.1)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    run_index_ingest(spark, stream, index_dir, str(tmp_path / "idx_ckpt"))

    d = {r.doc_id: (r.is_dup, r.matched_doc)
         for r in read_decisions(spark, index_dir).collect()}
    assert d[201] == (True, 100)     # vs seed corpus
    assert d[202][0] is False        # novel accepted
    assert d[203][0] is False        # earlier twin wins
    assert d[204] == (True, 203)     # same-batch twin rejected
    assert d[301] == (True, 202)     # vs a BATCH-1 ARRIVAL: index grew
    assert d[302][0] is False
    # only accepted docs' bands joined the index
    indexed = {r.doc_id for r in
               read_band_index(spark, index_dir).select("doc_id")
               .distinct().collect()}
    assert indexed == {100, 101, 202, 203, 302}

    # replay the same source through a FRESH checkpoint: batch ids
    # repeat, per-batch overwrite keeps decisions/bands identical
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(str(src)))
    run_index_ingest(spark, stream2, index_dir, str(tmp_path / "idx_ckpt2"))
    d2 = {r.doc_id: (r.is_dup, r.matched_doc)
          for r in read_decisions(spark, index_dir).collect()}
    assert d2 == d


def test_upsert_concurrent_writers_cas_retry(spark, tmp_path):
    """Optimistic-concurrency on the versioned upsert sink (VERDICT r4
    item 2): writer A stages its merge, then writer B commits first via
    the race hook; A's CAS loses, it discards the stale merge, retries
    against B's snapshot, and the final state equals SERIAL application
    of both batches. Exactly-once replay stays green afterwards."""
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    a_batch = frame([(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                     (2, "2024-01-01 10:05:00", 2, "view", 2.0, "{}")])
    b_batch = frame([(3, "2024-01-01 11:00:00", 1, "purchase", 9.0, "{}"),
                     (4, "2024-01-01 11:05:00", 3, "cart", 3.0, "{}")])
    target = str(tmp_path / "cas_target")

    hook_calls = []

    def interleave_b(attempt):
        # fires between A's stage and A's CAS attempt — on the FIRST
        # attempt only, writer B sneaks in a full commit
        hook_calls.append(attempt)
        if attempt == 0:
            r = upsert_commit_batch(b_batch, target, 100,
                                    key_cols=["user_id"], order_col="ts",
                                    keep_versions=4, writer="wB")
            assert r == "applied"

    result = upsert_commit_batch(a_batch, target, 200,
                                 key_cols=["user_id"], order_col="ts",
                                 keep_versions=4, writer="wA",
                                 _race_hook=interleave_b)
    assert result == "applied-after-retry"
    assert hook_calls == [0, 1]  # exactly one lost race, one won retry

    # final state == serial application: B wrote first (seq 0), A second
    rows = {r.user_id: r for r in spark.read.parquet(target).collect()}
    assert set(rows) == {1, 2, 3}
    # user 1: A's 10:00 click vs B's 11:00 purchase — keep-latest by ts
    assert rows[1].event_type == "purchase"
    assert rows[2].event_type == "view" and rows[3].event_type == "cart"

    commits = read_commit_journal(_commits_dir(target + "_versions"))
    assert [c["seq"] for c in commits] == [0, 1]
    assert [c["writer"] for c in commits] == ["wB", "wA"]

    # replayed ids from either writer are exactly-once no-ops
    assert upsert_commit_batch(a_batch, target, 200, key_cols=["user_id"],
                               order_col="ts", writer="wA") == "replayed"
    assert upsert_commit_batch(b_batch, target, 100, key_cols=["user_id"],
                               order_col="ts", writer="wB") == "replayed"
    rows2 = {r.user_id: r.event_type
             for r in spark.read.parquet(target).collect()}
    assert rows2 == {k: v.event_type for k, v in rows.items()}


def test_upsert_stale_publish_never_regresses(spark, tmp_path):
    """Stale-publish regression window (round-8 adversarial pass on the
    upsert protocol, same class as the band-index swap races): writer A
    wins seq 0, then — via the pre-swap seam inside ``_publish_commit``
    — writer B fully commits AND publishes seq 1 before A's symlink
    swap runs. A's stale swap would point the readable table back at
    its own older snapshot forever (no further commits arrive to fix
    it). The publish converge-loop must detect the moved journal and
    republish B's head."""
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    a_batch = frame([(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")])
    b_batch = frame([(2, "2024-01-01 11:00:00", 2, "view", 2.0, "{}")])
    target = str(tmp_path / "stale_publish_target")

    heads_seen = []

    def interleave_publisher(head):
        heads_seen.append(head["version_name"])
        if len(heads_seen) == 1:
            # B commits against A's journaled snapshot and PUBLISHES
            # while A is frozen between journal re-read and swap
            r = upsert_commit_batch(b_batch, target, 100,
                                    key_cols=["user_id"], order_col="ts",
                                    keep_versions=4, writer="wB")
            assert r == "applied"

    assert upsert_commit_batch(
        a_batch, target, 200, key_cols=["user_id"], order_col="ts",
        keep_versions=4, writer="wA",
        _pre_swap_hook=interleave_publisher) == "applied"

    # the converge loop ran: first iteration saw A's own head, second
    # republished B's newer head after detecting the moved journal
    assert len(heads_seen) == 2 and heads_seen[0] != heads_seen[1]
    commits = read_commit_journal(_commits_dir(target + "_versions"))
    head = commits[-1]
    assert head["writer"] == "wB"
    # the readable table is B's head (both batches merged), NOT A's
    # regressed snapshot
    import os as _os
    assert _os.path.basename(_os.path.realpath(target)) \
        == head["version_name"]
    assert {r.user_id for r in spark.read.parquet(target).collect()} \
        == {1, 2}


def test_upsert_merge_survives_base_pruned_mid_scan(spark, tmp_path):
    """Mid-merge base deletion (round-8 adversarial pass, the upsert
    analog of the band-index mid-scan swap crash): writer A reads its
    base snapshot lazily; before A's staging write scans it, concurrent
    writer B lands TWO commits at keep_versions=1, whose publish prunes
    A's base. A's scan must classify the vanished input as a lost CAS
    race (journal moved past its base), discard, and retry cleanly
    against the new head — not crash with FAILED_READ_FILE."""
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    target = str(tmp_path / "pruned_base_target")
    seed = frame([(1, "2024-01-01 09:00:00", 1, "seed", 0.0, "{}")])
    assert upsert_commit_batch(seed, target, 0, key_cols=["user_id"],
                               order_col="ts", keep_versions=1,
                               writer="w0") == "applied"

    a_batch = frame([(10, "2024-01-01 12:00:00", 1, "late", 9.0, "{}")])
    hook_bases = []

    def prune_base_under_a(attempt, base):
        hook_bases.append((attempt, base))
        if attempt == 0:
            for bid, uid in ((20, 2), (21, 3)):
                b = frame([(bid, f"2024-01-01 10:{bid}:00", uid,
                            "b", float(bid), "{}")])
                assert upsert_commit_batch(
                    b, target, bid, key_cols=["user_id"], order_col="ts",
                    keep_versions=1, writer="wB") == "applied"
            # B's second publish pruned A's base (retention 1)
            import os as _os
            assert not _os.path.isdir(
                _os.path.join(target + "_versions", base))

    result = upsert_commit_batch(a_batch, target, 10, key_cols=["user_id"],
                                 order_col="ts", keep_versions=1,
                                 writer="wA",
                                 _pre_stage_hook=prune_base_under_a)
    assert result == "applied-after-retry"
    assert hook_bases[0][0] == 0 and len(hook_bases) == 2
    # retry merged against the NEW head: all four batches' keys present
    rows = {r.user_id: r.event_type
            for r in spark.read.parquet(target).collect()}
    assert rows == {1: "late", 2: "b", 3: "b"}
    commits = read_commit_journal(_commits_dir(target + "_versions"))
    assert [c["seq"] for c in commits] == [0, 1, 2, 3]


def test_optimize_survives_head_pruned_mid_scan(spark, tmp_path):
    """OPTIMIZE's rewrite scans the journal-head snapshot; concurrent
    commits can retire and prune that head mid-rewrite. The compactor
    must treat the vanished input as the lost race it is and compact
    the NEW head on retry."""
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        optimize_upsert_target, upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    target = str(tmp_path / "pruned_head_target")
    assert upsert_commit_batch(
        frame([(1, "2024-01-01 09:00:00", 1, "seed", 0.0, "{}")]),
        target, 0, key_cols=["user_id"], order_col="ts",
        keep_versions=1, writer="w0") == "applied"

    hook_heads = []

    def prune_head_under_optimize(attempt, head_name):
        hook_heads.append((attempt, head_name))
        if attempt == 0:
            for bid, uid in ((1, 2), (2, 3)):
                assert upsert_commit_batch(
                    frame([(bid * 10, f"2024-01-01 10:0{bid}:00", uid,
                            "b", float(bid), "{}")]),
                    target, bid, key_cols=["user_id"], order_col="ts",
                    keep_versions=1, writer="wB") == "applied"
            import os as _os
            assert not _os.path.isdir(
                _os.path.join(target + "_versions", head_name))

    perm = optimize_upsert_target(
        spark, target, keep_versions=1,
        _pre_stage_hook=prune_head_under_optimize)
    assert perm is not None
    # retry compacted the NEW head (version 2), not the pruned seed
    assert len(hook_heads) == 2
    assert hook_heads[1][1] != hook_heads[0][1]
    assert perm.startswith("v2_compact_")
    rows = {r.user_id: r.event_type
            for r in spark.read.parquet(target).collect()}
    assert rows == {1: "seed", 2: "b", 3: "b"}


def test_upsert_concurrent_writers_optimize_stress(spark, tmp_path):
    """Live-thread stress of the upsert commit protocol — two writers
    and a looping optimizer genuinely interleaving (no hooks), the mode
    the deterministic tests above model one window at a time. The
    band-index twin of this test caught a mid-scan swap crash the
    hook-driven tests missed; invariants, not timings: every commit
    lands, journal strictly sequenced, the published symlink ends on
    the journal head (which records every applied batch), and the
    final table equals serial keep-latest application of every
    batch."""
    import os as _os
    import threading

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, optimize_upsert_target, upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    target = str(tmp_path / "stress_target")
    # batch id doubles as the keep-latest order: ts minute == batch id,
    # so the expected winner for a key is its highest covering batch id
    def batch(bid):
        keys = [(bid + j) % 8 for j in range(3)]
        return frame([(bid * 100 + k, f"2024-01-01 10:{bid:02d}:00",
                       k, f"b{bid}", float(bid), "{}") for k in keys])

    a_ids, b_ids = [1, 3, 5, 7, 9], [2, 4, 6, 8, 10]
    errors = []

    def writer(tag, ids):
        try:
            for bid in ids:
                r = upsert_commit_batch(batch(bid), target, bid,
                                        key_cols=["user_id"],
                                        order_col="ts", keep_versions=2,
                                        writer=tag, max_retries=16)
                assert r in ("applied", "applied-after-retry")
        except Exception as exc:  # pragma: no cover - failure surface
            errors.append((tag, exc))

    def optimizer(rounds):
        try:
            for _ in range(rounds):
                optimize_upsert_target(spark, target, keep_versions=2)
        except Exception as exc:  # pragma: no cover - failure surface
            errors.append(("optimize", exc))

    threads = [threading.Thread(target=writer, args=("wA", a_ids)),
               threading.Thread(target=writer, args=("wB", b_ids)),
               threading.Thread(target=optimizer, args=(3,))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []

    commits = read_commit_journal(_commits_dir(target + "_versions"))
    assert [c["seq"] for c in commits] == list(range(len(commits)))
    applied = sorted(c["version"] for c in commits if c["op"] == "upsert")
    assert applied == sorted(a_ids + b_ids)
    # published view converged on the journal head
    head = commits[-1]
    assert _os.path.basename(_os.path.realpath(target)) \
        == head["version_name"]
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state)
    assert sorted(_journal_state(target + "_versions")[1]) == applied
    # final table == serial keep-latest over every batch: each key won
    # by its highest covering batch id
    expected = {}
    for bid in a_ids + b_ids:
        for j in range(3):
            k = (bid + j) % 8
            if expected.get(k, -1) < bid:
                expected[k] = bid
    rows = {r.user_id: (r.event_type, r.value)
            for r in spark.read.parquet(target).collect()}
    assert rows == {k: (f"b{v}", float(v)) for k, v in expected.items()}


def test_optimize_preserves_time_travel_window(spark, tmp_path):
    """Retention counts distinct VERSIONS, not journal commits: an
    OPTIMIZE entry shares its version with the upsert it rewrote, so
    commit-counted retention silently shrank the time-travel window on
    every maintenance run (keep_versions=2 + one OPTIMIZE left a single
    readable version). Maintenance must never cost history; only a new
    VERSION may retire the oldest one."""
    import pytest
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        optimize_upsert_target, read_upsert_version, upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    target = str(tmp_path / "tt_target")
    for bid, et in ((0, "zero"), (1, "one")):
        assert upsert_commit_batch(
            frame([(bid, f"2024-01-01 10:0{bid}:00", 1, et,
                    float(bid), "{}")]),
            target, bid, key_cols=["user_id"], order_col="ts",
            keep_versions=2, writer="w") == "applied"
    assert optimize_upsert_target(spark, target,
                                  keep_versions=2) is not None
    # v0 is still the second-newest VERSION — the optimize commit must
    # not have evicted it from the 2-version window
    v0 = read_upsert_version(spark, target, 0)
    assert [r.event_type for r in v0.collect()] == ["zero"]
    # a genuinely NEW version does retire v0
    assert upsert_commit_batch(
        frame([(2, "2024-01-01 10:02:00", 1, "two", 2.0, "{}")]),
        target, 2, key_cols=["user_id"], order_col="ts",
        keep_versions=2, writer="w") == "applied"
    with pytest.raises(FileNotFoundError, match="not retained"):
        read_upsert_version(spark, target, 0)
    assert [r.event_type
            for r in read_upsert_version(spark, target, 1).collect()] \
        == ["one"]


def test_upsert_history_and_restore(spark, tmp_path):
    """DESCRIBE HISTORY + RESTORE complete the maintenance suite:
    restore re-publishes a retained version as a NEW commit (history-
    preserving, Delta's contract), serializes through the same CAS, is
    exactly-once on its version id, and refuses un-retained history."""
    import pytest
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        describe_upsert_history, read_upsert_version,
        restore_upsert_target, upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    target = str(tmp_path / "restore_target")
    for bid, et in ((0, "zero"), (1, "one")):
        upsert_commit_batch(
            frame([(bid, f"2024-01-01 10:0{bid}:00", 1, et,
                    float(bid), "{}")]),
            target, bid, key_cols=["user_id"], order_col="ts",
            keep_versions=3, writer="w")

    # current is v1; restore v0 as version 2
    perm = restore_upsert_target(spark, target, version=0, as_version=2,
                                 keep_versions=3)
    assert perm.startswith("v2_restore_")
    assert [r.event_type
            for r in spark.read.parquet(target).collect()] == ["zero"]
    # history-preserving: v1 still time-travel readable
    assert [r.event_type
            for r in read_upsert_version(spark, target, 1).collect()] \
        == ["one"]

    hist = describe_upsert_history(spark, target).collect()
    assert [h.seq for h in hist] == [2, 1, 0]       # newest first
    assert hist[0].writer == "restore" and hist[0].version == 2
    assert all(h.retained for h in hist)            # keep_versions=3

    # exactly-once on the restore's version id
    with pytest.raises(ValueError, match="already applied"):
        restore_upsert_target(spark, target, version=1, as_version=2)
    # un-retained history cannot be restored
    with pytest.raises(FileNotFoundError, match="not retained"):
        restore_upsert_target(spark, target, version=99, as_version=5)


def test_optimize_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE ZORDER (Delta's OPTIMIZE ... ZORDER BY): the rewrite
    range-partitions + sorts on the Morton z-value of two decorrelated
    columns, so EVERY output file is narrow in BOTH dimensions — parquet
    min/max stats can then prune a scan filtered on either column. The
    plain (hash-repartition) OPTIMIZE leaves every file spanning the
    full range of both."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, optimize_upsert_target, upsert_commit_batch)

    n = 40_000
    # a 200×200 grid: the two dims are genuinely independent (each
    # value of a co-occurs with every value of b), the regime where
    # zordering pays; perfectly correlated dims have no 2D structure
    # to exploit and any linearization is equally good
    df = (spark.range(n)
          .select(F.col("id").alias("k"),
                  (F.col("id") % 200).alias("a"),
                  ((F.col("id") / 200).cast("long") % 200).alias("b"),
                  F.col("id").alias("ord")))
    target = str(tmp_path / "zorder_target")
    assert upsert_commit_batch(df, target, 0, key_cols=["k"],
                               order_col="ord",
                               keep_versions=4) == "applied"

    def file_range_fractions(version_name):
        files = sorted(_glob.glob(_os.path.join(
            target + "_versions", version_name, "*.parquet")))
        assert len(files) >= 4
        fracs = {"a": [], "b": []}
        for f in files:
            md = _pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name
                     for i in range(md.num_columns)]
            for col in ("a", "b"):
                ci = names.index(col)
                mn = min(md.row_group(g).column(ci).statistics.min
                         for g in range(md.num_row_groups))
                mx = max(md.row_group(g).column(ci).statistics.max
                         for g in range(md.num_row_groups))
                fracs[col].append((mx - mn) / 199.0)
        return {c: sum(v) / len(v) for c, v in fracs.items()}

    plain = optimize_upsert_target(spark, target, keep_versions=4,
                                   target_file_bytes=16 * 1024)
    plain_fracs = file_range_fractions(plain)
    zord = optimize_upsert_target(spark, target, keep_versions=4,
                                  target_file_bytes=16 * 1024,
                                  zorder_by=["a", "b"])
    z_fracs = file_range_fractions(zord)

    # hash repartition: every file spans ~the full range of both dims
    assert plain_fracs["a"] > 0.8 and plain_fracs["b"] > 0.8
    # zorder: every file narrow in BOTH dims simultaneously
    assert z_fracs["a"] < 0.5 and z_fracs["b"] < 0.5
    # the clustered rewrite serves the same version through the journal
    commits = read_commit_journal(_commits_dir(target + "_versions"))
    assert commits[-1]["version_name"] == zord
    assert commits[-1]["zorder"] == ["a", "b"]
    assert commits[-1]["version"] == 0
    # and the same rows
    rows = spark.read.parquet(target)
    assert rows.count() == n
    assert rows.agg(F.sum("a"), F.sum("b")).collect()[0] == \
        df.agg(F.sum("a"), F.sum("b")).collect()[0]

    # string columns are refused with guidance, not silently hashed
    df2 = df.withColumn("s", F.col("k").cast("string"))
    target2 = str(tmp_path / "zorder_str_target")
    upsert_commit_batch(df2, target2, 0, key_cols=["k"], order_col="ord")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="order-preserving"):
        optimize_upsert_target(spark, target2, zorder_by=["s"])


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:

    @settings(max_examples=200, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.integers(1, 5), st.lists(
        st.tuples(st.booleans(), st.integers(0, 3)),
        min_size=1, max_size=20))
    def test_retention_window_counts_versions(keep, steps):
        """_retained_names invariants over arbitrary histories of
        upserts interleaved with OPTIMIZE rewrites (which share their
        version): exactly min(keep, n_versions) NEWEST distinct
        versions retained, and every name of a retained version kept —
        maintenance never shrinks the time-travel window."""
        from house_price_etl_pipeline_spark.streaming.ingest import \
            _retained_names

        commits, version = [], -1
        for is_optimize, vstep in steps:
            if is_optimize and version >= 0:
                commits.append({"op": "optimize", "version": version,
                                "version_name":
                                    f"v{version}_c{len(commits)}"})
            else:
                version += 1 + vstep
                commits.append({"op": "upsert", "version": version,
                                "version_name": f"v{version}"})
        retained = _retained_names(commits, keep)
        all_versions = sorted({c["version"] for c in commits})
        expect_versions = set(all_versions[-max(keep, 1):])
        got_versions = {c["version"] for c in commits
                        if c["version_name"] in retained}
        assert got_versions == expect_versions
        for c in commits:  # every name of a retained version survives
            if c["version"] in expect_versions:
                assert c["version_name"] in retained

    _DML_UPSERT = st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 99)),
        min_size=1, max_size=5).map(lambda ps: ("upsert", ps))
    _DML_OP = st.one_of(
        _DML_UPSERT,
        st.integers(0, 99).map(lambda t: ("delete", t)),
        st.tuples(st.integers(0, 99), st.integers(1, 7))
        .map(lambda tc: ("update", tc)),
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(_DML_UPSERT, st.lists(_DML_OP, max_size=3))
    def test_dml_sequence_matches_model(spark, first, rest):
        """Differential property test of the DML triad: an arbitrary
        upsert/DELETE WHERE/UPDATE WHERE sequence against the table
        format must land exactly where a dict model of the same
        semantics lands — keep-latest by order column across batches,
        three-valued DELETE (predicate TRUE removes), UPDATE SETs
        against the old row. Catches cross-op interaction bugs the
        per-op pinning tests can't (e.g. an UPDATE after a DELETE on a
        COW chain resurrecting a removed key)."""
        import tempfile

        from house_price_etl_pipeline_spark.streaming.ingest import (
            upsert_commit_batch, upsert_delete_where,
            upsert_update_where)

        target = os.path.join(tempfile.mkdtemp(), "tbl")
        model: dict[int, int] = {}
        ord_counter = 0
        for batch_id, (op, arg) in enumerate([first] + rest):
            if op == "upsert":
                rows = []
                for k, v in arg:
                    rows.append((k, ord_counter, v))
                    ord_counter += 1
                    model[k] = v        # later pair wins (higher ord)
                upsert_commit_batch(
                    spark.createDataFrame(rows,
                                          "k long, ord long, v long"),
                    target, batch_id, key_cols=["k"], order_col="ord",
                    keep_versions=8)
            elif op == "delete":
                upsert_delete_where(spark, target, batch_id,
                                    f"v > {arg}", keep_versions=8)
                model = {k: v for k, v in model.items() if not v > arg}
            else:
                t, c = arg
                upsert_update_where(spark, target, batch_id,
                                    f"v <= {t}", {"v": f"v + {c}"},
                                    key_cols=["k"], keep_versions=8)
                model = {k: (v + c if v <= t else v)
                         for k, v in model.items()}
        got = {r.k: r.v for r in spark.read.parquet(target).collect()}
        assert got == model

        # the fundamental CDC invariant: replaying the change feed
        # from empty reconstructs the final table exactly — inserts
        # add, deletes remove, update postimages replace (preimages
        # pair 1:1 with postimages by construction)
        from house_price_etl_pipeline_spark.streaming.ingest import (
            _journal_state, read_upsert_changes, read_upsert_version)
        versions = [c["version"] for c in
                    _journal_state(target + "_versions")[0]]
        replay = {r.k: r.v for r in
                  read_upsert_version(spark, target,
                                      versions[0]).collect()}
        for prev, v in zip(versions, versions[1:]):
            for r in read_upsert_changes(spark, target, prev, v,
                                         ["k"]).collect():
                if r.change_type in ("insert", "update_postimage"):
                    replay[r.k] = r.v
                elif r.change_type == "delete":
                    replay.pop(r.k, None)
        assert replay == model
        shutil.rmtree(os.path.dirname(target), ignore_errors=True)

    def _rows_of_equal_width():
        # generate equal-width rows directly (no rejection filter):
        # draw the dimension count k, then rows of exactly k values
        return st.integers(1, 3).flatmap(
            lambda k: st.lists(
                st.lists(st.integers(0, 255), min_size=k, max_size=k),
                min_size=1, max_size=6))

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.integers(1, 8), _rows_of_equal_width())
    def test_zorder_interleave_matches_python_mirror(spark, bits, rows):
        """Morton kernel bit layout, unit-level: dimension j's bit b
        lands at position b*k+j — the same contract the DuckDB oracle
        pins at sf0.01, guarded here for arbitrary widths/depths."""
        from pyspark.sql import functions as F

        from house_price_etl_pipeline_spark.streaming.ingest import \
            _interleave_bits

        k = len(rows[0])

        def mirror(vals):
            z = 0
            for b in range(bits):
                for j, v in enumerate(vals):
                    z |= ((v >> b) & 1) << (b * k + j)
            return z

        df = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)],
            "i long, " + ", ".join(f"c{j} long" for j in range(k)))
        z = _interleave_bits([F.col(f"c{j}") for j in range(k)], bits)
        got = [r.z for r in
               df.select("i", z.alias("z")).orderBy("i").collect()]
        assert got == [mirror(r) for r in rows]


def test_upsert_optimize_vacuum_and_change_feed(spark, tmp_path,
                                                monkeypatch):
    """Snapshot maintenance (VERDICT r4 item 3): OPTIMIZE compacts the
    published snapshot into fewer sized files while serving the same
    version through the journal; VACUUM reclaims orphaned/retired dirs
    but never journal-referenced ones; the change feed emits
    insert/update pre+post/delete rows between two versions."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming import ingest
    from house_price_etl_pipeline_spark.streaming.ingest import (
        optimize_upsert_target, read_upsert_changes, read_upsert_version,
        upsert_commit_batch, vacuum_upsert_target)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    target = str(tmp_path / "opt_target")
    # force sharded snapshots: disable AQE coalescing (would fold 3
    # rows to one file) AND pin the delta-scaled staging width wide
    # (round 15: _stage_width would otherwise size this KB-scale
    # table's commit to 1 partition = 1 file, leaving OPTIMIZE nothing
    # to compact)
    prev_coalesce = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    monkeypatch.setattr(ingest, "STAGE_PARTITION_BYTES", 1)
    try:
        b0 = frame([(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                    (2, "2024-01-01 10:05:00", 2, "view", 2.0, "{}")])
        upsert_commit_batch(b0, target, 0, key_cols=["user_id"],
                            order_col="ts", keep_versions=4)
        b1 = frame([(3, "2024-01-01 11:00:00", 1, "purchase", 9.0, "{}")])
        upsert_commit_batch(b1, target, 1, key_cols=["user_id"],
                            order_col="ts", keep_versions=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       prev_coalesce)
        monkeypatch.undo()

    versions_root = target + "_versions"
    pre_files = _glob.glob(os.path.join(os.path.realpath(target),
                                        "part-*.parquet"))
    assert len(pre_files) > 1  # shards accumulated

    perm = optimize_upsert_target(spark, target, keep_versions=4)
    assert perm is not None
    post_files = _glob.glob(os.path.join(os.path.realpath(target),
                                         "part-*.parquet"))
    assert len(post_files) == 1  # compacted
    # same data, same version number served through the journal
    assert read_upsert_version(spark, target, 1).count() == 2
    rows = {r.user_id: r.event_type
            for r in spark.read.parquet(target).collect()}
    assert rows == {1: "purchase", 2: "view"}

    # VACUUM: an orphaned staging dir is reclaimed; referenced dirs stay.
    # Zero retention needs the explicit force override (VERDICT r5
    # item 5) — without it the call must refuse, reclaiming nothing.
    os.makedirs(os.path.join(versions_root, "_stage_dead_beef"))
    (tmp_path / "probe").write_text("")  # noop, keeps mtime helpers happy
    import pytest as _pytest
    with _pytest.raises(ValueError, match="force=True"):
        vacuum_upsert_target(target, older_than_seconds=0.0,
                             keep_versions=4)
    # the DEFAULT call is race-safe: the just-staged dir is younger
    # than the retention floor, so it survives
    assert vacuum_upsert_target(target, keep_versions=4) == []
    assert os.path.isdir(os.path.join(versions_root, "_stage_dead_beef"))
    # even force-0 refuses a YOUNG journal-unreferenced dir — it could
    # be a live transaction (r12 VERDICT item 5); aged past the floor,
    # it's a crash orphan and reclaims
    assert "_stage_dead_beef" not in vacuum_upsert_target(
        target, older_than_seconds=0.0, keep_versions=4, force=True)
    import time as _time
    _old = _time.time() - 2 * 3600
    os.utime(os.path.join(versions_root, "_stage_dead_beef"),
             (_old, _old))
    removed = vacuum_upsert_target(target, older_than_seconds=0.0,
                                   keep_versions=4, force=True)
    assert "_stage_dead_beef" in removed
    assert os.path.isdir(os.path.realpath(target))
    assert read_upsert_version(spark, target, 1).count() == 2

    # change feed incl. delete: build a v2 by committing a batch that
    # wins user 2 with a NULL-payload tombstone? — the upsert sink never
    # deletes, so exercise delete via the generic diff on snapshots:
    # diff v1 -> v0 reverses the insert of user 1's later state
    feed = read_upsert_changes(spark, target, 0, 1, ["user_id"]) \
        .orderBy("user_id", "change_type").collect()
    kinds = [(r.user_id, r.change_type) for r in feed]
    assert kinds == [(1, "update_postimage"), (1, "update_preimage")] or \
        kinds == [(1, "update_preimage"), (1, "update_postimage")]
    rev = read_upsert_changes(spark, target, 1, 0, ["user_id"]).collect()
    assert [(r.user_id, r.change_type) for r in rev] in (
        [(1, "update_preimage"), (1, "update_postimage")],
        [(1, "update_postimage"), (1, "update_preimage")])


def test_band_index_compaction_bounds_files_and_preserves_rejection(
        spark, tmp_path):
    """compact_band_index (VERDICT r4 item 4): after N ingest batches the
    band index holds N+1 batch dirs; compaction merges them into ONE
    sized dir, drops purged docs' bands, and subsequent ingest rejects
    exactly as before (minus the purged doc's veto). An interrupted swap
    is recovered on next read."""
    import glob as _glob
    import os
    import time

    from pyspark.sql import types as T

    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, build_band_index, compact_band_index,
        read_band_index, read_decisions, run_index_ingest)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel = "one two three four five six seven eight nine ten"
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    index_dir = str(tmp_path / "cmp_index")
    build_band_index(spark, spark.createDataFrame(
        [(100, base)], schema), index_dir)

    src = tmp_path / "cmp_src"
    src.mkdir()
    batches = [[(201, novel)],
               [(301, "solo unique singleton " * 3)],
               [(401, "quite other respective words " * 2)]]
    for i, rows in enumerate(batches):
        staging = tmp_path / f"cmp_staging{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(staging))
        next(staging.glob("part-*.parquet")).rename(src / f"b{i}.parquet")
        time.sleep(1.1)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    run_index_ingest(spark, stream, index_dir, str(tmp_path / "cmp_ckpt"))

    bands_root = os.path.join(index_dir, BANDS_SUBDIR)
    n_dirs_before = len(_glob.glob(os.path.join(bands_root, "batch-*")))
    assert n_dirs_before == 4  # seed + 3 ingest batches: growth unbounded

    drop = spark.createDataFrame([(301,)], "doc_id long")
    stats = compact_band_index(spark, index_dir, drop_docs=drop)
    assert stats["batches_in"] == 4
    # bounded: ONE batch dir remains regardless of ingest history
    assert _glob.glob(os.path.join(bands_root, "batch-*")) \
        == [os.path.join(bands_root, "batch-seed")]
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {100, 201, 401}  # 301 purged

    # post-compaction ingest: dup-of-seed still rejected, dup-of-purged
    # doc now ACCEPTED (its veto is gone), novelty accepted
    src2 = tmp_path / "cmp_src2"
    src2.mkdir()
    b = [(501, base + " kappa"),            # dup of retained seed doc
         (502, "solo unique singleton " * 3)]  # dup of PURGED doc
    staging = tmp_path / "cmp_staging_post"
    spark.createDataFrame(b, schema).coalesce(1).write.parquet(str(staging))
    next(staging.glob("part-*.parquet")).rename(src2 / "b0.parquet")
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(str(src2)))
    run_index_ingest(spark, stream2, index_dir, str(tmp_path / "cmp_ckpt2"))
    d = {r.doc_id: (r.is_dup, r.matched_doc)
         for r in read_decisions(spark, index_dir).collect()
         if r.doc_id in (501, 502)}
    assert d[501] == (True, 100)
    assert d[502][0] is False  # purge took effect

    # interrupted swap: simulate crash between the two renames — the
    # live layout sits under the JOURNALED stage name and ``bands`` is
    # gone. (Recovery only ever promotes journal-committed stages now,
    # VERDICT r7 item 3; an arbitrary un-journaled stage name would be
    # an in-flight compactor's private staging, never promoted.)
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import _commits_dir
    committed_stage = next(
        c["stage"] for c in
        reversed(read_commit_journal(_commits_dir(index_dir)))
        if c["op"] == "compact")
    os.rename(bands_root, str(tmp_path / "gone"))
    os.rename(str(tmp_path / "gone"),
              os.path.join(index_dir, committed_stage))
    assert {r.doc_id for r in read_band_index(spark, index_dir)
            .select("doc_id").distinct().collect()} \
        == {100, 201, 401, 502}  # recovered: committed stage promoted


def test_upsert_optimize_parallel_rewrite(spark, tmp_path):
    """OPTIMIZE parallelism (VERDICT r5 item 2): the rewrite width is
    sized from the snapshot's own byte stats — a snapshot larger than
    ``target_file_bytes`` compacts across >1 task/file, never through a
    single coalesce(1) task; a tiny snapshot still compacts to one."""
    import glob as _glob
    import math
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        _data_file_bytes, optimize_upsert_target, upsert_commit_batch)

    target = str(tmp_path / "popt_target")
    batch = (spark.range(2000)
             .select(F.col("id").alias("event_id"),
                     (F.col("id") % 500).alias("user_id"),
                     F.sha2(F.col("id").cast("string"), 256).alias("blob")))
    upsert_commit_batch(batch, target, 0, key_cols=["user_id"],
                        order_col="event_id", keep_versions=4)

    # a target of a quarter of the snapshot's bytes -> one task and one
    # file per quarter (a 1-byte target would ask for a task per byte)
    nbytes = _data_file_bytes(os.path.realpath(target))
    target_file_bytes = nbytes // 4
    perm = optimize_upsert_target(spark, target, keep_versions=4,
                                  target_file_bytes=target_file_bytes)
    assert perm is not None
    files = _glob.glob(os.path.join(os.path.realpath(target),
                                    "part-*.parquet"))
    assert len(files) > 1
    assert len(files) == math.ceil(nbytes / target_file_bytes)
    assert spark.read.parquet(target).count() == 500

    # huge target -> exactly one output file (small-table case intact)
    perm2 = optimize_upsert_target(spark, target, keep_versions=4,
                                   target_file_bytes=1 << 40)
    files2 = _glob.glob(os.path.join(os.path.realpath(target),
                                     "part-*.parquet"))
    assert perm2 is not None and len(files2) == 1
    assert spark.read.parquet(target).count() == 500


def test_upsert_schema_evolution_and_change_feed(spark, tmp_path):
    """Schema evolution (VERDICT r5 item 3): a later batch ADDS a
    column — the upsert merges to the union schema with nulls (Delta
    mergeSchema), and the change feed between the two versions projects
    both sides to the merged payload schema with typed nulls."""
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_changes, read_upsert_version, upsert_commit_batch)

    target = str(tmp_path / "sev_target")
    b0 = (spark.createDataFrame(
        [(1, 10, "click"), (2, 11, "view")], ["user_id", "ts", "kind"]))
    upsert_commit_batch(b0, target, 0, key_cols=["user_id"],
                        order_col="ts", keep_versions=4)
    # v1 adds a 'score' column and a new key
    b1 = (spark.createDataFrame(
        [(1, 20, "buy", 0.9), (3, 21, "cart", 0.5)],
        ["user_id", "ts", "kind", "score"]))
    upsert_commit_batch(b1, target, 1, key_cols=["user_id"],
                        order_col="ts", keep_versions=4)

    latest = {r.user_id: r for r in
              read_upsert_version(spark, target, 1).collect()}
    assert set(latest) == {1, 2, 3}
    assert latest[1].score == 0.9 and latest[1].kind == "buy"
    assert latest[2].score is None  # evolved column null for old rows

    feed = read_upsert_changes(spark, target, 0, 1, ["user_id"]) \
        .orderBy("user_id", "change_type").collect()
    by_kind = {(r.user_id, r.change_type): r for r in feed}
    assert set(by_kind) == {(1, "update_preimage"),
                            (1, "update_postimage"), (3, "insert")}
    assert by_kind[(1, "update_preimage")].score is None   # typed null
    assert by_kind[(1, "update_postimage")].score == 0.9
    assert by_kind[(3, "insert")].kind == "cart"
    # reverse feed (dropped-column direction) works symmetrically
    rev = {(r.user_id, r.change_type): r for r in
           read_upsert_changes(spark, target, 1, 0, ["user_id"]).collect()}
    assert rev[(3, "delete")].score == 0.5


def _seed_band_index(spark, index_dir, docs):
    from pyspark.sql import types as T

    from house_price_etl_pipeline_spark.streaming.index import \
        build_band_index

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    build_band_index(spark, spark.createDataFrame(docs, schema), index_dir)


def _append_band_batch(spark, index_dir, batch_id, docs):
    """One committed ingest append through the PRODUCTION protocol
    (the same _append_committed used by run_index_ingest.process_batch:
    write → CAS → post-commit swap-survival verification) for
    deterministic interleaving."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from house_price_etl_pipeline_spark.streaming.index import \
        _append_committed
    from house_price_etl_pipeline_spark.streaming.joins import \
        _rowwise_band_keys

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    bands = _rowwise_band_keys(
        spark.createDataFrame(docs, schema)
        .select("doc_id", F.split("text", " ").alias("ws")))
    _append_committed(
        index_dir, str(batch_id),
        lambda dest: bands.write.mode("overwrite").parquet(dest))


def test_band_index_compaction_loses_cas_to_concurrent_append(
        spark, tmp_path):
    """Concurrent ingest vs compaction (VERDICT r5 item 4): an append
    commits between compaction's staging and its CAS attempt — the
    compaction loses, discards the stale stage, retries against the new
    journal, and the interleaved batch's bands SURVIVE in the compacted
    layout (no lost bands)."""
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import (
        _commits_dir, compact_band_index, read_band_index)

    index_dir = str(tmp_path / "ccr_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    _append_band_batch(spark, index_dir, 0,
                       [(201, "one two three four five six")])

    hook_calls = []

    def interleave_append(attempt):
        hook_calls.append(attempt)
        if attempt == 0:
            _append_band_batch(spark, index_dir, 1,
                               [(301, "seven eight nine ten eleven")])

    stats = compact_band_index(spark, index_dir,
                               _race_hook=interleave_append)
    assert hook_calls == [0, 1]          # one lost race, one won retry
    assert stats["batches_in"] == 3      # seed + batch-0 + batch-1
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {100, 201, 301}    # nothing lost
    ops = [c["op"] for c in read_commit_journal(_commits_dir(index_dir))]
    assert ops == ["append", "append", "append", "compact"]


def test_band_index_append_survives_pre_swap_compaction_window(
        spark, tmp_path):
    """The r7 lost-bands race (VERDICT r7 item 1a): a compaction WINS
    its CAS, and before its swap runs an ingest append reads the
    journal (compact entry visible), writes its dir into the OLD
    layout, and claims the next slot with NO conflict — the swap then
    renames that layout away. Post-commit verification in
    _append_committed must detect the vanished dir and re-establish it
    in the compacted layout: zero lost bands."""
    import glob as _glob
    import os

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _commits_dir, compact_band_index, read_band_index)

    index_dir = str(tmp_path / "psw_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    _append_band_batch(spark, index_dir, 0,
                       [(201, "one two three four five six")])

    hook_calls = []

    def append_in_pre_swap_window(attempt):
        hook_calls.append(attempt)
        # journal head is now the compact entry; the swap has NOT run.
        # Without post-commit verification this append's bands are
        # silently deleted by the swap below.
        _append_band_batch(spark, index_dir, 1,
                           [(301, "seven eight nine ten eleven")])

    stats = compact_band_index(spark, index_dir,
                               _post_commit_hook=append_in_pre_swap_window)
    assert hook_calls == [0]             # compaction won first try
    assert stats["batches_in"] == 2      # seed + batch-0 (batch-1 after)
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {100, 201, 301}    # nothing lost
    ops = [c["op"] for c in read_commit_journal(_commits_dir(index_dir))]
    assert ops == ["append", "append", "compact", "append"]
    # batch-1 survives as its own dir in the compacted layout
    names = {os.path.basename(p) for p in
             _glob.glob(os.path.join(index_dir, BANDS_SUBDIR, "batch-*"))}
    assert names == {"batch-seed", "batch-1"}
    # no stray rewrite staging or retired layouts left behind
    assert not _glob.glob(os.path.join(index_dir, BANDS_SUBDIR,
                                       ".rewrite_*"))
    assert not _glob.glob(os.path.join(index_dir, "bands_old_*"))


def test_band_index_recovery_applies_non_head_compaction(spark, tmp_path):
    """Head-only recovery hole (VERDICT r7 item 1b): compactor crashes
    between CAS and swap, then ONE append commits — the compact entry
    is no longer the journal head. Recovery must still apply it; the
    crashed-pre-verification appender's dir is swapped away, and the
    strict committed-dir check makes the next compaction refuse loudly
    until the batch is re-established (streaming replay's job)."""
    import os

    import pytest

    from house_price_etl_pipeline_spark.fsutil import (
        read_commit_journal, try_commit)
    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _commits_dir, compact_band_index, read_band_index)
    from house_price_etl_pipeline_spark.streaming.joins import \
        _rowwise_band_keys

    index_dir = str(tmp_path / "nhr_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    _append_band_batch(spark, index_dir, 0,
                       [(201, "one two three four five six")])

    # hand-build the won-but-unapplied compaction (stage = merged live
    # layout), journal: [append seed, append 0, compact]
    bands_root = os.path.join(index_dir, BANDS_SUBDIR)
    stage = os.path.join(index_dir, "bands_compact_crashed2")
    merged = spark.read.parquet(os.path.join(bands_root, "batch-*"))
    merged.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, "batch-seed"))
    cd = _commits_dir(index_dir)
    head = read_commit_journal(cd)[-1]
    assert try_commit(cd, head["seq"] + 1,
                      {"op": "compact", "stage": "bands_compact_crashed2"})

    # an appender writes into the OLD layout, commits the next slot
    # (no CAS conflict — the compactor claimed the earlier one), and
    # crashes before post-commit verification
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    bands = _rowwise_band_keys(
        spark.createDataFrame([(301, "seven eight nine ten eleven")], schema)
        .select("doc_id", F.split("text", " ").alias("ws")))
    bands.write.mode("overwrite").parquet(
        os.path.join(bands_root, "batch-7"))
    assert try_commit(cd, head["seq"] + 2, {"op": "append", "batch": "7"})

    # recovery applies the NON-HEAD compact entry (old code skipped it
    # because commits[-1] is the append); batch-7's dir is swapped away
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {100, 201}
    assert not os.path.isdir(stage)
    assert not os.path.isdir(os.path.join(bands_root, "batch-7"))

    # compaction refuses while the journaled batch-7 dir is missing —
    # proceeding would silently drop its bands from the seed forever
    # (short-circuit the self-heal wait: the appender is "crashed")
    import house_price_etl_pipeline_spark.streaming.index as idx_mod
    orig = (idx_mod.STRICT_WAIT_ROUNDS, idx_mod.STRICT_WAIT_S)
    idx_mod.STRICT_WAIT_ROUNDS, idx_mod.STRICT_WAIT_S = 2, 0.01
    try:
        with pytest.raises(RuntimeError, match="still missing"):
            compact_band_index(spark, index_dir)
    finally:
        idx_mod.STRICT_WAIT_ROUNDS, idx_mod.STRICT_WAIT_S = orig

    # streaming replay re-establishes the batch (same id), after which
    # compaction goes through with nothing lost
    _append_band_batch(spark, index_dir, 7,
                       [(301, "seven eight nine ten eleven")])
    stats = compact_band_index(spark, index_dir)
    assert stats["rows_out"] > 0
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {100, 201, 301}


def test_band_index_append_not_duplicated_after_later_compaction_folds_it(
        spark, tmp_path):
    """Phase-2 must tell apart 'dir lost to a PRE-commit swap' (rewrite)
    from 'dir folded into a LATER compaction's seed' (do nothing): an
    appender that stalls between its CAS and its verification, while a
    full compaction cycle runs, must NOT re-establish the dir — the
    bands already live in the compacted seed and a rewrite would
    duplicate every row."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _append_committed, compact_band_index,
        read_band_index)
    from house_price_etl_pipeline_spark.streaming.joins import \
        _rowwise_band_keys

    index_dir = str(tmp_path / "fold_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    bands = _rowwise_band_keys(
        spark.createDataFrame([(201, "one two three four five six")], schema)
        .select("doc_id", F.split("text", " ").alias("ws")))

    def compact_in_stall_window():
        stats = compact_band_index(spark, index_dir)
        assert stats["batches_in"] == 2  # seed + our committed batch-5

    _append_committed(
        index_dir, "5",
        lambda dest: bands.write.mode("overwrite").parquet(dest),
        _pre_verify_hook=compact_in_stall_window)

    # dir NOT re-established; bands live exactly once in the seed
    names = {os.path.basename(p) for p in
             _glob.glob(os.path.join(index_dir, BANDS_SUBDIR, "batch-*"))}
    assert names == {"batch-seed"}
    idx = read_band_index(spark, index_dir)
    assert idx.count() == idx.dropDuplicates(
        ["band_id", "band_hash", "doc_id"]).count()
    assert {r.doc_id for r in
            idx.select("doc_id").distinct().collect()} == {100, 201}


def test_prefix_fingerprint_null_text_emits_no_key(spark):
    """NULL-text docs must not collapse onto a shared empty-prefix hash
    (the oracle's NULL fp matches nothing): they emit no key row and
    therefore never veto anything."""
    from house_price_etl_pipeline_spark.streaming.index import \
        prefix_fingerprint_keys

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "alpha beta gamma delta")],
        "doc_id long, text string")
    keys = prefix_fingerprint_keys(df).collect()
    assert [r.doc_id for r in keys] == [3]


def test_band_index_live_journal_never_promotes_inflight_stage(
        spark, tmp_path):
    """Journal-aware legacy promotion (VERDICT r7 item 3): with a live
    journal and the bands dir missing, an UN-journaled stage (an
    in-flight compactor's private staging that may never win its CAS)
    must NOT be promoted; without any journal the legacy mtime
    promotion still works."""
    import os
    import shutil

    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _commits_dir, _recover_compaction, read_band_index)

    index_dir = str(tmp_path / "ljp_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    bands_root = os.path.join(index_dir, BANDS_SUBDIR)

    # live journal + bands missing + in-flight (uncommitted) stage
    inflight = os.path.join(index_dir, "bands_compact_inflight")
    shutil.move(bands_root, inflight)
    _recover_compaction(index_dir)
    assert os.path.isdir(inflight)          # untouched
    assert not os.path.isdir(bands_root)    # NOT promoted

    # no journal at all -> legacy mtime promotion still applies
    shutil.rmtree(_commits_dir(index_dir))
    _recover_compaction(index_dir)
    assert not os.path.isdir(inflight)
    assert {r.doc_id for r in read_band_index(spark, index_dir)
            .select("doc_id").distinct().collect()} == {100}


def test_band_index_recovery_applies_committed_compaction(spark, tmp_path):
    """Compactor crash AFTER winning its CAS but BEFORE the swap: the
    journal head names the staged dir; the next reader finishes the
    swap, so later appends land in the committed layout."""
    import os
    import shutil

    from house_price_etl_pipeline_spark.fsutil import (
        read_commit_journal, try_commit)
    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _commits_dir, read_band_index)

    index_dir = str(tmp_path / "crr_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    _append_band_batch(spark, index_dir, 0,
                       [(201, "one two three four five six")])

    # hand-build the won-but-unapplied compaction: stage = a copy of
    # the live layout merged down to batch-seed, journal head = compact
    bands_root = os.path.join(index_dir, BANDS_SUBDIR)
    stage = os.path.join(index_dir, "bands_compact_crashed")
    os.makedirs(os.path.join(stage, "batch-seed"))
    merged = spark.read.parquet(os.path.join(bands_root, "batch-*"))
    merged.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, "batch-seed"))
    head = read_commit_journal(_commits_dir(index_dir))[-1]
    assert try_commit(_commits_dir(index_dir), head["seq"] + 1,
                      {"op": "compact", "stage": "bands_compact_crashed"})

    # next read applies the committed swap
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {100, 201}
    assert not os.path.isdir(stage)
    import glob as _glob
    assert _glob.glob(os.path.join(bands_root, "batch-*")) \
        == [os.path.join(bands_root, "batch-seed")]
    # a post-recovery append lands in the compacted layout
    _append_band_batch(spark, index_dir, 1,
                       [(301, "seven eight nine ten eleven")])
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {100, 201, 301}
    shutil.rmtree(index_dir)


def test_band_index_compaction_relists_after_concurrent_commit(
        spark, tmp_path):
    """A CONCURRENT compaction's try_commit lands between this
    compactor's recovery pass and its journal read, swap unapplied
    (the compactor crashed, or is between CAS and swap): the journal
    names a compact entry the live layout doesn't reflect yet. Without
    the pending-swap check, this compactor's committed-names filter
    reduces its input to the OLD batch-seed — the concurrent
    compaction's folded appends are dropped from the new seed and its
    drop_docs purge is resurrected — under a CAS that succeeds. The
    fix applies the pending swap and re-lists."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _commits_dir, compact_band_index, read_band_index)

    index_dir = str(tmp_path / "ccu_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    _append_band_batch(spark, index_dir, 0,
                       [(201, "one two three four five six")])

    class _Crash(RuntimeError):
        pass

    def crash_before_swap(attempt):
        raise _Crash()

    hook_calls = []

    def concurrent_commit_in_window(loop):
        hook_calls.append(loop)
        if loop == 0:
            # the concurrent compactor: folds seed+batch-0, PURGES doc
            # 100, wins its CAS, crashes before its swap — committed
            # but unapplied, exactly what our journal read will see
            purged = spark.range(1).select(
                F.lit(100).cast("long").alias("doc_id"))
            import pytest
            with pytest.raises(_Crash):
                compact_band_index(spark, index_dir, drop_docs=purged,
                                   _post_commit_hook=crash_before_swap)

    stats = compact_band_index(
        spark, index_dir, _pre_list_hook=concurrent_commit_in_window)
    # loop 0: concurrent commit injected -> pending swap detected,
    # applied, re-list; loop 1: clean listing of the compacted layout
    assert hook_calls == [0, 1]
    assert stats["batches_in"] == 1      # just the swapped-in seed
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {201}              # purge NOT resurrected
    ops = [c["op"] for c in read_commit_journal(_commits_dir(index_dir))]
    assert ops == ["append", "append", "compact", "compact"]
    # exactly one live layout, no stray stages or retired dirs
    names = {os.path.basename(p) for p in
             _glob.glob(os.path.join(index_dir, BANDS_SUBDIR, "batch-*"))}
    assert names == {"batch-seed"}
    assert not _glob.glob(os.path.join(index_dir, "bands_compact_*"))
    assert not _glob.glob(os.path.join(index_dir, "bands_old_*"))


def test_resolve_live_index_never_misreads_mid_swap_as_unseeded(
        spark, tmp_path):
    """The ingest probe's seeded check (run_index_ingest) during a
    concurrent compaction's swap window — live ``bands`` renamed away,
    committed stage not yet renamed in. A bare filesystem probe reads
    this as 'unseeded' and admits the whole batch un-checked;
    _resolve_live_index must recover the committed swap and return the
    index instead."""
    import os
    import shutil

    from house_price_etl_pipeline_spark.fsutil import try_commit
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _commits_dir, _resolve_live_index)

    index_dir = str(tmp_path / "msw_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])

    # committed compact entry + mid-swap state: stage holds the
    # compacted layout, live bands dir renamed away (first of the two
    # swap renames done, second pending)
    bands_root = os.path.join(index_dir, BANDS_SUBDIR)
    stage = os.path.join(index_dir, "bands_compact_midswap")
    merged = spark.read.parquet(os.path.join(bands_root, "batch-*"))
    merged.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, "batch-seed"))
    cd = _commits_dir(index_dir)
    head = read_commit_journal(cd)[-1]
    assert try_commit(cd, head["seq"] + 1,
                      {"op": "compact", "stage": "bands_compact_midswap"})
    shutil.rmtree(bands_root)

    idx = _resolve_live_index(spark, index_dir)
    assert idx is not None
    assert {r.doc_id for r in
            idx.select("doc_id").distinct().collect()} == {100}

    # genuinely unseeded (no journal, no layout) -> None
    empty = str(tmp_path / "msw_empty")
    os.makedirs(empty)
    assert _resolve_live_index(spark, empty) is None

    # committed journal but no layout and no recoverable stage: REFUSE
    # (raising fails the batch for streaming replay) rather than treat
    # a seeded index as empty
    import pytest
    shutil.rmtree(bands_root)
    assert read_commit_journal(cd)
    with pytest.raises(RuntimeError, match="refusing"):
        _resolve_live_index(spark, index_dir, max_rounds=2, wait_s=0.01)


def test_band_index_replayed_append_is_idempotent(spark, tmp_path):
    """Checkpoint replay re-runs a batch whose append already committed
    (crash between the journal commit and foreachBatch returning). The
    replay must NOT claim a second journal slot, and after a compaction
    has folded the original entry it must write NOTHING — the old code
    re-journaled and resurrected the batch dir beside the compacted
    seed, permanently duplicating every one of its band rows."""
    import glob as _glob
    import os

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _commits_dir, compact_band_index, read_band_index)

    index_dir = str(tmp_path / "rpl_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    _append_band_batch(spark, index_dir, 0,
                       [(201, "one two three four five six")])

    # replay BEFORE any compaction: content re-established, journal
    # unchanged (exactly one append entry for batch 0)
    _append_band_batch(spark, index_dir, 0,
                       [(201, "one two three four five six")])
    ops = [(c["op"], c.get("batch"))
           for c in read_commit_journal(_commits_dir(index_dir))]
    assert ops == [("append", "seed"), ("append", "0")]
    idx = read_band_index(spark, index_dir)
    assert idx.count() == idx.dropDuplicates(
        ["band_id", "band_hash", "doc_id"]).count()

    # replay AFTER a compaction folded the batch: nothing written,
    # nothing journaled, zero duplicate rows
    compact_band_index(spark, index_dir)
    _append_band_batch(spark, index_dir, 0,
                       [(201, "one two three four five six")])
    ops = [c["op"] for c in read_commit_journal(_commits_dir(index_dir))]
    assert ops == ["append", "append", "compact"]
    names = {os.path.basename(p) for p in
             _glob.glob(os.path.join(index_dir, BANDS_SUBDIR, "batch-*"))}
    assert names == {"batch-seed"}          # dir NOT resurrected
    idx = read_band_index(spark, index_dir)
    assert idx.count() == idx.dropDuplicates(
        ["band_id", "band_hash", "doc_id"]).count()
    assert {r.doc_id for r in
            idx.select("doc_id").distinct().collect()} == {100, 201}
    # no stray side copies from the re-establishment path
    assert not _glob.glob(os.path.join(index_dir, BANDS_SUBDIR,
                                       ".rewrite_*"))


def test_band_index_two_streams_share_one_index_without_collision(
        spark, tmp_path):
    """Two streams (distinct stream tags, as run_index_ingest derives
    from distinct checkpoint dirs) both emit batch id 0 into ONE index:
    the appends must get distinct dirs and distinct journal identities —
    neither overwrites the other, and neither is misread as the other's
    replay. Same-stream re-append stays idempotent (no new entry)."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _append_committed, _commits_dir, read_band_index)
    from house_price_etl_pipeline_spark.streaming.joins import \
        _rowwise_band_keys

    index_dir = str(tmp_path / "two_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])

    def append(stream, docs):
        bands = _rowwise_band_keys(
            spark.createDataFrame(docs, schema)
            .select("doc_id", F.split("text", " ").alias("ws")))
        _append_committed(
            index_dir, "0",
            lambda dest: bands.write.mode("overwrite").parquet(dest),
            stream=stream)

    append("aaaa0000", [(201, "one two three four five six")])
    append("bbbb0000", [(301, "seven eight nine ten eleven")])
    names = {os.path.basename(p) for p in
             _glob.glob(os.path.join(index_dir, BANDS_SUBDIR, "batch-*"))}
    assert names == {"batch-seed", "batch-aaaa0000-0", "batch-bbbb0000-0"}
    assert {r.doc_id for r in read_band_index(spark, index_dir)
            .select("doc_id").distinct().collect()} == {100, 201, 301}

    # same-stream replay: journal unchanged
    append("aaaa0000", [(201, "one two three four five six")])
    entries = [(c["op"], c.get("stream"), c.get("batch"))
               for c in read_commit_journal(_commits_dir(index_dir))]
    assert entries == [("append", None, "seed"),
                       ("append", "aaaa0000", "0"),
                       ("append", "bbbb0000", "0")]


def test_stream_sources_read_directory_layout_tables(spark, tmp_path, sf_dir):
    """Layout regression (64x-replica-probe-found, round 8): the
    streaming table sources used a parent-dir scan glob-filtered to the
    table FILE name, which matches ZERO files when the table is a
    DIRECTORY of part files — Spark's own writer layout, i.e. every
    replica/production copy — so streaming queries silently drained
    zero batches. Both layouts must stream identical rows."""
    import os as _os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.sources.tables import load_table
    from house_price_etl_pipeline_spark.streaming.joins import \
        stream_documents
    from house_price_etl_pipeline_spark.streaming.windows import (
        _drain, stream_events)

    # rewrite both tables as Spark-writer DIRECTORIES named *.parquet
    dir_sf = str(tmp_path / "dirsf")
    _os.makedirs(dir_sf)
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(3).write.parquet(
        _os.path.join(dir_sf, "documents.parquet"))
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(3).write.parquet(
        _os.path.join(dir_sf, "events.parquet"))

    got_docs = _drain(stream_documents(spark, dir_sf), spark,
                      output_mode="append")
    assert got_docs.count() == docs.count()
    got_ev = _drain(stream_events(spark, dir_sf).select("event_id"),
                    spark, output_mode="append")
    assert got_ev.count() == ev.count()
    # and the single-file layout still streams (the testdata shape)
    one_file = _drain(stream_documents(spark, sf_dir), spark,
                      output_mode="append")
    assert one_file.count() == docs.count()


def test_band_index_append_write_swapped_mid_job(spark, tmp_path):
    """Write-side swap race (stress-found, round 8): an appender's
    parquet write INTO the live ``bands`` layout straddles a concurrent
    compaction's swap — the swap rmtree's the writer's in-progress
    ``_temporary`` dir and hadoop's local committer surfaces it as an
    ``ExitCodeException … chmod: cannot access … No such file or
    directory``, not a typed Spark error. ``_append_committed`` must
    classify that as the lost race it is (nothing journaled yet),
    recover any pending swap, and rewrite — and must still propagate
    genuinely foreign write errors."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import (
        _append_committed, _commits_dir, read_band_index)
    from house_price_etl_pipeline_spark.streaming.joins import \
        _rowwise_band_keys

    index_dir = str(tmp_path / "write_swap_index")
    _seed_band_index(spark, index_dir, [(1, "alpha beta gamma delta "
                                            "epsilon zeta eta")])
    schema = "doc_id long, text string"
    bands = _rowwise_band_keys(
        spark.createDataFrame([(7, "one two three four five six seven")],
                              schema)
        .select("doc_id", F.split("text", " ").alias("ws")))

    calls = []

    def write_swapped_under(dest):
        calls.append(dest)
        if len(calls) == 1:
            # simulate the mid-job swap: the committer's chmod on the
            # vanished _temporary path, verbatim hadoop message shape
            raise RuntimeError(
                "ExitCodeException exitCode=1: chmod: cannot access "
                f"'{dest}/_temporary/0/x.parquet': "
                "No such file or directory")
        bands.write.mode("overwrite").parquet(dest)

    _append_committed(index_dir, "9", write_swapped_under,
                      stream="ffff0000")
    assert len(calls) == 2                      # one retry, then success
    commits = read_commit_journal(_commits_dir(index_dir))
    appends = [c for c in commits if c["op"] == "append"
               and c.get("stream") == "ffff0000"]
    assert len(appends) == 1                    # no double-journal
    idx = read_band_index(spark, index_dir)
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} \
        == {1, 7}

    # a genuinely foreign write error still propagates unchanged
    def write_disk_full(dest):
        raise RuntimeError("java.io.IOException: No space left on device")

    with pytest.raises(RuntimeError, match="No space left"):
        _append_committed(index_dir, "10", write_disk_full,
                          stream="ffff0000")
    assert not os.path.isdir(os.path.join(
        index_dir, "bands", "batch-ffff0000-10"))


def test_band_index_concurrent_ingest_compaction_stress(spark, tmp_path):
    """Live-thread stress of the full journal protocol — two append
    streams and two compactors genuinely interleaving (no hooks), the
    mode the deterministic race tests model one window at a time.
    Invariants, not timings: every appended doc's bands present, zero
    duplicate band rows, journal strictly sequenced, exactly one live
    layout, no leaked stages after a final recovery."""
    import glob as _glob
    import os
    import threading

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, _append_committed, _commits_dir, _recover_compaction,
        compact_band_index, read_band_index)
    from house_price_etl_pipeline_spark.streaming.joins import \
        _rowwise_band_keys

    index_dir = str(tmp_path / "stress_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    words = ("one two three four five six seven eight nine ten "
             "eleven twelve thirteen fourteen fifteen").split()

    def doc(i):
        # distinct 5-gram shingle windows per doc: no cross-matches
        return (i, " ".join(words[(i * 3 + j) % len(words)]
                            for j in range(7)) + f" tail{i}")

    errors = []

    def appender(stream, ids):
        try:
            for b, i in enumerate(ids):
                bands = _rowwise_band_keys(
                    spark.createDataFrame([doc(i)], schema)
                    .select("doc_id", F.split("text", " ").alias("ws")))
                _append_committed(
                    index_dir, str(b),
                    lambda dest, bands=bands:
                        bands.write.mode("overwrite").parquet(dest),
                    stream=stream)
        except Exception as exc:  # pragma: no cover - failure surface
            errors.append((stream, exc))

    def compactor(tag, rounds):
        try:
            for _ in range(rounds):
                compact_band_index(spark, index_dir)
        except Exception as exc:  # pragma: no cover - failure surface
            errors.append((tag, exc))

    # 3 streams + 3 compactors: the shape that exposed the liveness gap
    # (consecutive-CAS-loss backstops exhausted without backoff) on top
    # of the 2+2 shape's two safety races
    a_ids, b_ids, c_ids = [201, 202, 203], [301, 302, 303], [401, 402, 403]
    threads = [
        threading.Thread(target=appender, args=("aaaa1111", a_ids)),
        threading.Thread(target=appender, args=("bbbb2222", b_ids)),
        threading.Thread(target=appender, args=("cccc3333", c_ids)),
        threading.Thread(target=compactor, args=("c1", 2)),
        threading.Thread(target=compactor, args=("c2", 2)),
        threading.Thread(target=compactor, args=("c3", 2)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        # generous: six threads each drive real Spark jobs, and a
        # saturated host (a concurrent bench run) can stretch the whole
        # interleaving well past wall-clock expectations — a hang is
        # still caught, just not misreported as one under load
        t.join(timeout=600)
    stuck = [t.name for t in threads if t.is_alive()]
    assert not stuck, f"threads still alive after 600s: {stuck}"
    assert not errors, f"worker exceptions: {errors!r}"

    _recover_compaction(index_dir)
    idx = read_band_index(spark, index_dir)
    # every appended doc's bands survive every interleaving…
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} \
        == {100, *a_ids, *b_ids, *c_ids}
    # …exactly once (no replay/re-establish/compaction duplication)
    assert idx.count() == idx.dropDuplicates(
        ["band_id", "band_hash", "doc_id"]).count()
    commits = read_commit_journal(_commits_dir(index_dir))
    assert [c["seq"] for c in commits] == list(range(len(commits)))
    appends = [(c.get("stream"), c["batch"]) for c in commits
               if c["op"] == "append"]
    assert len(appends) == len(set(appends)) == 10  # seed + 9, none doubled
    # one live layout, no retired layouts or stages left behind (every
    # stage was either swapped in, discarded by its losing compactor,
    # or GC'd by the final recovery above)
    assert not _glob.glob(os.path.join(index_dir, "bands_old_*"))
    assert not _glob.glob(os.path.join(index_dir, "bands_compact_*"))
    assert os.path.isdir(os.path.join(index_dir, BANDS_SUBDIR))


def test_band_index_ttl_orders_by_batch_id_not_mtime(spark, tmp_path):
    """TTL ordering (VERDICT r5 item 7): a REPLAYED old batch refreshes
    its dir mtime; the TTL must still evict it, because retention is
    decided by parsed batch id."""
    import os
    import time

    from house_price_etl_pipeline_spark.streaming.index import (
        BANDS_SUBDIR, compact_band_index, read_band_index)

    index_dir = str(tmp_path / "ttl_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    texts = {0: "one two three four five six",
             1: "seven eight nine ten eleven twelve",
             2: "crimson azure viridian ochre cobalt umber"}
    for bid, text in texts.items():
        _append_band_batch(spark, index_dir, bid, [(200 + bid, text)])

    # replay batch 0: newest mtime, oldest id
    _append_band_batch(spark, index_dir, 0, [(200, texts[0])])
    future = time.time() + 3600
    os.utime(os.path.join(index_dir, BANDS_SUBDIR, "batch-0"),
             (future, future))

    stats = compact_band_index(spark, index_dir, max_age_batches=2)
    assert stats["batches_kept"] == 2
    indexed = {r.doc_id for r in read_band_index(spark, index_dir)
               .select("doc_id").distinct().collect()}
    assert indexed == {201, 202}  # ids 1,2 kept; replayed id 0 evicted


def test_band_index_orphan_stage_gc_is_age_gated(spark, tmp_path):
    """With a live journal, a FRESH bands_compact_* stage (possibly an
    in-flight compactor's) survives recovery; one older than
    STAGE_GC_AGE_S (crashed pre-CAS) is reclaimed."""
    import os
    import time

    from house_price_etl_pipeline_spark.streaming.index import (
        STAGE_GC_AGE_S, _recover_compaction, read_band_index)

    index_dir = str(tmp_path / "gc_index")
    _seed_band_index(spark, index_dir,
                     [(100, "alpha beta gamma delta epsilon zeta")])
    fresh = os.path.join(index_dir, "bands_compact_fresh")
    stale = os.path.join(index_dir, "bands_compact_stale")
    os.makedirs(fresh)
    os.makedirs(stale)
    old = time.time() - STAGE_GC_AGE_S - 60
    os.utime(stale, (old, old))
    _recover_compaction(index_dir)
    assert os.path.isdir(fresh)        # young: maybe in-flight, kept
    assert not os.path.isdir(stale)    # crashed-pre-CAS leftover: GC'd
    # live layout untouched
    assert {r.doc_id for r in read_band_index(spark, index_dir)
            .select("doc_id").distinct().collect()} == {100}


def test_output_vanished_requires_index_path_or_committer_signature(
        tmp_path):
    """ADVICE r8: _output_vanished used to match ANY exception whose
    message contained 'No such file or directory' / 'does not exist',
    so a genuinely missing INPUT inside write_batch was classified as
    a transient swap race and retried for 24 jittered rounds before
    the real error surfaced. The tightened matcher accepts only (a)
    typed Spark read signatures, (b) messages naming a path under THIS
    index's bands tree, or (c) hadoop's local-committer
    ExitCodeException+chmod shape."""
    from house_price_etl_pipeline_spark.streaming.index import \
        _output_vanished

    index_dir = str(tmp_path / "ov_index")

    # foreign missing-input errors: NOT a swap race
    assert not _output_vanished(
        RuntimeError("Path does not exist: /srv/landing/input.csv"),
        index_dir)
    assert not _output_vanished(
        RuntimeError("open '/etc/app/config.yml': "
                     "No such file or directory"), index_dir)
    # same message shape naming a path under the index's bands tree:
    # the write-side swap race
    assert _output_vanished(
        RuntimeError(f"chmod: cannot access '{index_dir}/bands/"
                     "batch-x-1/_temporary/0/f.parquet': "
                     "No such file or directory"), index_dir)
    # committer signature without a usable path (hadoop sometimes
    # relativizes): still accepted
    assert _output_vanished(
        RuntimeError("ExitCodeException exitCode=1: chmod: cannot "
                     "access '_temporary/0/f.parquet': "
                     "No such file or directory"), index_dir)
    # typed Spark read-side signatures also need the index path (the
    # real race always names the swapped-away file — see the companion
    # typed-errors test below)
    assert _output_vanished(
        RuntimeError(f"[FAILED_READ_FILE] could not read file "
                     f"{index_dir}/bands/batch-y-2/part-0.parquet"),
        index_dir)
    # and an entirely unrelated error is never swallowed
    assert not _output_vanished(
        RuntimeError("java.io.IOException: No space left on device"),
        index_dir)


def test_append_surfaces_missing_input_immediately(spark, tmp_path):
    """The retry loop must NOT hide a genuinely missing input: a
    write_batch that fails on a path OUTSIDE the index propagates on
    the first attempt instead of burning 24 jittered retries."""
    import pytest

    from house_price_etl_pipeline_spark.streaming.index import \
        _append_committed

    index_dir = str(tmp_path / "missing_input_index")
    _seed_band_index(spark, index_dir,
                     [(1, "alpha beta gamma delta epsilon zeta")])
    attempts = []

    def write_missing_input(dest):
        attempts.append(dest)
        raise RuntimeError(
            "Path does not exist: /srv/landing/never_there.parquet")

    with pytest.raises(RuntimeError, match="never_there"):
        _append_committed(index_dir, "42", write_missing_input,
                          stream="aa11")
    assert len(attempts) == 1  # first attempt, no swallowed retries


def test_restore_same_as_version_is_replayed_noop(spark, tmp_path):
    """ADVICE r8: a racing restore of the SAME (version, as_version)
    that lost the CAS used to raise 'already applied' even though the
    table sits in exactly the requested state — it must return the
    winner's version_name as an exactly-once replay no-op, mirroring
    upsert_commit_batch's 'replayed'. A conflicting as_version (claimed
    by a different source commit) still raises."""
    import pytest
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        restore_upsert_target, upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    target = str(tmp_path / "replay_restore_target")
    for bid, et in ((0, "zero"), (1, "one")):
        upsert_commit_batch(
            frame([(bid, f"2024-01-01 10:0{bid}:00", 1, et,
                    float(bid), "{}")]),
            target, bid, key_cols=["user_id"], order_col="ts",
            keep_versions=3, writer="w")

    perm = restore_upsert_target(spark, target, version=0, as_version=2,
                                 keep_versions=3)
    # replay of the identical restore: no-op, same version_name back
    again = restore_upsert_target(spark, target, version=0, as_version=2,
                                  keep_versions=3)
    assert again == perm
    assert [r.event_type
            for r in spark.read.parquet(target).collect()] == ["zero"]
    # as_version claimed by a DIFFERENT restore source: conflict
    with pytest.raises(ValueError, match="different commit"):
        restore_upsert_target(spark, target, version=1, as_version=2,
                              keep_versions=3)
    # as_version colliding with a plain batch id: also a conflict
    with pytest.raises(ValueError, match="different commit"):
        restore_upsert_target(spark, target, version=0, as_version=1,
                              keep_versions=3)


def test_describe_history_missing_version_name_not_retained(
        spark, tmp_path):
    """ADVICE r8: a journal commit missing version_name used to join
    '' onto versions_root — which always exists — and report
    retained=True. It must report retained=False."""
    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import try_commit
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, _journal_state, describe_upsert_history,
        upsert_commit_batch)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    target = str(tmp_path / "hist_guard_target")
    upsert_commit_batch(
        spark.createDataFrame(
            [(0, "2024-01-01 10:00:00", 1, "zero", 0.0, "{}")], cols)
        .withColumn("ts", F.col("ts").cast("timestamp")),
        target, 0, key_cols=["user_id"], order_col="ts", writer="w")

    versions_root = target + "_versions"
    commits, _ = _journal_state(versions_root)
    assert try_commit(_commits_dir(versions_root),
                      commits[-1]["seq"] + 1,
                      {"op": "note", "version": 99, "writer": "ext"})

    hist = {h.seq: h for h in
            describe_upsert_history(spark, target).collect()}
    assert hist[0].retained is True          # real snapshot dir exists
    assert hist[1].version_name is None
    assert hist[1].retained is False         # no dir ⇒ not retained


def test_publish_converge_loop_is_bounded(spark, tmp_path, monkeypatch):
    """ADVICE r8: the publish converge loop is correct but was
    unbounded — under pathological sustained commit traffic it must
    surface a RuntimeError instead of spinning silently."""
    import os

    import pytest

    import house_price_etl_pipeline_spark.streaming.ingest as ingest
    from house_price_etl_pipeline_spark.fsutil import try_commit
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, _journal_state, _publish_commit)
    from pyspark.sql import functions as F

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    target = str(tmp_path / "livelock_target")
    ingest.upsert_commit_batch(
        spark.createDataFrame(
            [(0, "2024-01-01 10:00:00", 1, "zero", 0.0, "{}")], cols)
        .withColumn("ts", F.col("ts").cast("timestamp")),
        target, 0, key_cols=["user_id"], order_col="ts", writer="w")

    versions_root = target + "_versions"
    commits, _ = _journal_state(versions_root)
    base_dir = os.path.join(versions_root, commits[-1]["version_name"])

    def always_advance(_head):
        # a concurrent writer lands a new commit EVERY round: clone the
        # base snapshot under a fresh version name and journal it
        latest, _ = _journal_state(versions_root)
        seq = latest[-1]["seq"] + 1
        name = f"v{seq}_hot"
        import shutil
        shutil.copytree(base_dir,
                        os.path.join(versions_root, name))
        assert try_commit(_commits_dir(versions_root), seq,
                          {"op": "upsert", "version": seq,
                           "version_name": name, "writer": "hot"})

    monkeypatch.setattr(ingest, "PUBLISH_CONVERGE_MAX_ROUNDS", 6)
    commits, _ = _journal_state(versions_root)
    with pytest.raises(RuntimeError, match="failed to converge"):
        _publish_commit(target, versions_root, commits,
                        keep_versions=100,
                        _pre_swap_hook=always_advance)


def test_output_vanished_typed_spark_errors_also_need_index_path(
        tmp_path):
    """Review r9: the typed Spark signatures (PATH_NOT_FOUND /
    FAILED_READ_FILE / FileNotFoundException) must ALSO name a path
    under the index's bands tree to classify as a swap race — a
    foreign scan's typed missing-input error inside write_batch is a
    real error, not a retryable race."""
    from house_price_etl_pipeline_spark.streaming.index import \
        _output_vanished

    index_dir = str(tmp_path / "ov_typed_index")
    # typed error naming a FOREIGN path: real error, propagate
    assert not _output_vanished(
        RuntimeError("[PATH_NOT_FOUND] Path does not exist: "
                     "/srv/landing/never_there.parquet"), index_dir)
    assert not _output_vanished(
        RuntimeError("java.io.FileNotFoundException: "
                     "/etc/app/input.csv"), index_dir)
    # same typed shapes naming the index's bands tree: the swap race
    assert _output_vanished(
        RuntimeError(f"[PATH_NOT_FOUND] Path does not exist: "
                     f"{index_dir}/bands/batch-x-3"), index_dir)
    assert _output_vanished(
        RuntimeError(f"[FAILED_READ_FILE] could not read "
                     f"{index_dir}/bands/batch-x-3/part-0.parquet"),
        index_dir)


def test_upsert_delete_where_sql_semantics(spark, tmp_path):
    """DELETE WHERE removes rows iff the predicate is TRUE — FALSE and
    NULL keep the row (three-valued logic), the SQL DELETE contract."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_delete_where)

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20), (3, 0, None), (4, 0, 40)],
        "k long, ord long, v int")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    # v > 15 is TRUE for k=2,4; FALSE for k=1; NULL for k=3 → k=3 stays
    assert upsert_delete_where(spark, target, 1, "v > 15",
                               keep_versions=4) == "applied"
    got = sorted(r.k for r in spark.read.parquet(target).collect())
    assert got == [1, 3]


def test_upsert_delete_where_exactly_once_and_history(spark, tmp_path):
    """A replayed delete batch id is a no-op; the journal records the
    delete as its own op with a distinct version; time travel still
    reads the pre-delete snapshot."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, upsert_commit_batch, upsert_delete_where)

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, 0, i * 10) for i in range(8)], "k long, ord long, v int")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    assert upsert_delete_where(spark, target, 1, "k % 2 = 0",
                               keep_versions=4) == "applied"
    assert upsert_delete_where(spark, target, 1, "k % 2 = 0",
                               keep_versions=4) == "replayed"
    assert spark.read.parquet(target).count() == 4
    # time travel: version 0 still has all 8 rows
    assert read_upsert_version(spark, target, 0).count() == 8
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import _commits_dir
    journal = read_commit_journal(_commits_dir(target + "_versions"))
    assert [(c["op"], c["version"]) for c in journal] == \
        [("upsert", 0), ("delete", 1)]


def test_upsert_delete_where_emits_cdc_delete_rows(spark, tmp_path):
    """The change feed between the pre- and post-delete versions emits
    exactly one `delete` row per removed key — the leg the incremental
    MV folds with sign −1."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_changes, upsert_commit_batch, upsert_delete_where)

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, 0, i * 10) for i in range(6)], "k long, ord long, v int")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    upsert_delete_where(spark, target, 1, "k >= 4", keep_versions=4)
    ch = read_upsert_changes(spark, target, 0, 1, key_cols=["k"])
    rows = sorted((r.change_type, r.k) for r in ch.collect())
    assert rows == [("delete", 4), ("delete", 5)]


def test_read_upsert_as_of_timestamp(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the last versioning commit at or
    before the cut (commit-file mtime clock, Delta's convention): a
    midpoint cut reads v0, a post-head cut reads the head, a
    maintenance entry between versions is invisible to the resolver,
    and a pre-table timestamp errors with Delta's earliest-version
    message. History exposes the same clock as a `timestamp` column."""
    import time as _time

    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        describe_upsert_history, optimize_upsert_target,
        read_upsert_as_of_timestamp, upsert_commit_batch)

    target = str(tmp_path / "tbl")
    upsert_commit_batch(
        spark.createDataFrame([(1, 0, 10)], "k long, ord long, v int"),
        target, 0, key_cols=["k"], order_col="ord", keep_versions=8)
    t_mid = _time.time()
    _time.sleep(0.01)
    upsert_commit_batch(
        spark.createDataFrame([(2, 1, 20)], "k long, ord long, v int"),
        target, 1, key_cols=["k"], order_col="ord", keep_versions=8)
    # OPTIMIZE after v1: its journal entry's mtime is newest, but it
    # must not shadow v1 as "the version at time now"
    optimize_upsert_target(spark, target, keep_versions=8)

    assert {r.k for r in read_upsert_as_of_timestamp(
        spark, target, t_mid).collect()} == {1}
    assert {r.k for r in read_upsert_as_of_timestamp(
        spark, target, _time.time()).collect()} == {1, 2}
    with _pytest.raises(ValueError, match="precedes"):
        read_upsert_as_of_timestamp(spark, target, t_mid - 3600)

    hist = describe_upsert_history(spark, target).collect()
    assert all(h.timestamp is not None for h in hist)
    stamps = [h.timestamp for h in hist]          # newest first
    assert stamps == sorted(stamps, reverse=True)


def test_upsert_update_where_sql_semantics(spark, tmp_path):
    """UPDATE ... SET ... WHERE rewrites a row iff the predicate is
    TRUE (FALSE and NULL untouched, three-valued), every SET sees the
    OLD row (simultaneous assignment — a swap works), results cast
    back to the column's type, and SETs on key or absent columns are
    refused before any work."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_update_where)

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 0, 10, 1), (2, 0, 20, 2), (3, 0, None, 3), (4, 0, 40, 4)],
        "k long, ord long, v int, w int")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    # v > 15: TRUE for k=2,4; FALSE for k=1; NULL for k=3 → k=3 stays.
    # The swap pins simultaneous assignment; 'v + 0.9' pins the cast
    # back to int (store-assignment, not schema evolution).
    assert upsert_update_where(spark, target, 1, "v > 15",
                               {"v": "w", "w": "v + 0.9"},
                               key_cols=["k"], keep_versions=4) \
        == "applied"
    got = {r.k: (r.v, r.w) for r in spark.read.parquet(target).collect()}
    assert got == {1: (10, 1), 2: (2, 20), 3: (None, 3), 4: (4, 40)}
    assert dict(spark.read.parquet(target).dtypes)["w"] == "int"

    with _pytest.raises(ValueError, match="key column"):
        upsert_update_where(spark, target, 2, "true", {"k": "k + 1"},
                            key_cols=["k"], keep_versions=4)
    with _pytest.raises(ValueError, match="absent from the table"):
        upsert_update_where(spark, target, 2, "true", {"nope": "1"},
                            key_cols=["k"], keep_versions=4)


def test_upsert_update_where_exactly_once_history_cow(spark, tmp_path):
    """A replayed update batch id is a no-op; the journal records op
    'update'; time travel reads the pre-update snapshot; on the
    incremental path only files holding TRUE-predicate rows are
    rewritten, the rest carry by hard link (reuse stats recorded)."""
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, read_upsert_version, upsert_commit_batch,
        upsert_update_where)

    target = str(tmp_path / "tbl")
    lo = spark.createDataFrame(
        [(i, 0, i * 10) for i in range(8)], "k long, ord long, v int")
    hi = spark.createDataFrame(
        [(i, 0, i * 10) for i in range(8, 16)], "k long, ord long, v int")
    # two key-disjoint incremental commits → v1's dir holds the low
    # keys in files the k>=12 update must NOT rewrite
    upsert_commit_batch(lo, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4, incremental_min_bytes=0)
    upsert_commit_batch(hi, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=4, incremental_min_bytes=0)
    assert upsert_update_where(spark, target, 2, "k >= 12",
                               {"v": "v + 1"}, key_cols=["k"],
                               keep_versions=4,
                               incremental_min_bytes=0) == "applied"
    assert upsert_update_where(spark, target, 2, "k >= 12",
                               {"v": "v + 1"}, key_cols=["k"],
                               keep_versions=4,
                               incremental_min_bytes=0) == "replayed"
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {i: i * 10 + (1 if i >= 12 else 0) for i in range(16)}
    # time travel: version 1 still has the un-updated values
    pre = {r.k: r.v for r in
           read_upsert_version(spark, target, 1).collect()}
    assert pre == {i: i * 10 for i in range(16)}
    journal = read_commit_journal(_commits_dir(target + "_versions"))
    assert [(c["op"], c["version"]) for c in journal] == \
        [("upsert", 0), ("upsert", 1), ("update", 2)]
    upd = journal[-1]
    assert upd["files_rewritten"] >= 1 and upd["files_reused"] >= 1


def test_upsert_update_where_emits_cdc_update_pairs(spark, tmp_path):
    """The change feed sees an UPDATE as pre/postimage pairs for the
    rows the SET changed — carried rows inside rewritten files emit
    nothing (the equal-row suppression)."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_changes, upsert_commit_batch, upsert_update_where)

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, 0, i * 10) for i in range(6)], "k long, ord long, v int")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    upsert_update_where(spark, target, 1, "k >= 4", {"v": "v + 5"},
                        key_cols=["k"], keep_versions=4)
    ch = read_upsert_changes(spark, target, 0, 1, key_cols=["k"])
    rows = sorted((r.change_type, r.k, r.v) for r in ch.collect())
    assert rows == [("update_postimage", 4, 45),
                    ("update_postimage", 5, 55),
                    ("update_preimage", 4, 40),
                    ("update_preimage", 5, 50)]


def test_upsert_update_where_validates_post_image(spark, tmp_path):
    """VERDICT r10 item 6's partial-update gap: commit-time CHECK
    validation sees incoming batches, not rows an UPDATE rewrites in
    place — so UPDATE validates the post-image of the matching rows
    and refuses with the journal unmoved."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        CheckConstraintViolation, set_table_check_constraint,
        upsert_commit_batch, upsert_update_where)

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20)], "k long, ord long, v int")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    set_table_check_constraint(spark, target, "v_cap", "v <= 25")
    with _pytest.raises(CheckConstraintViolation, match="v_cap"):
        upsert_update_where(spark, target, 1, "k = 2", {"v": "v + 10"},
                            key_cols=["k"], keep_versions=4)
    assert {r.k: r.v for r in spark.read.parquet(target).collect()} \
        == {1: 10, 2: 20}   # journal unmoved
    # a post-image inside the cap commits
    assert upsert_update_where(spark, target, 1, "k = 1", {"v": "v + 10"},
                               key_cols=["k"], keep_versions=4) \
        == "applied"


def test_generated_columns_write_update_merge(spark, tmp_path):
    """GENERATED ALWAYS AS: a batch omitting the column gets it
    computed; a batch supplying a wrong value is refused (journal
    unmoved); an UPDATE touching the inputs recomputes it and a SET
    directly on it is refused; a MERGE source gets it computed too."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        GeneratedColumnViolation, set_table_generated_column,
        upsert_commit_batch, upsert_merge_into, upsert_update_where)

    target = str(tmp_path / "tbl")
    set_table_generated_column(spark, target, "band",
                               "cast(v div 10 as bigint)")
    b0 = spark.createDataFrame([(1, 0, 5), (2, 0, 25)],
                               "k long, ord long, v int")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    got = {r.k: r.band for r in spark.read.parquet(target).collect()}
    assert got == {1: 0, 2: 2}

    # supplying the column: right value passes, wrong value refused
    from pyspark.sql import functions as F
    ok = b0.withColumn("band", (F.col("v") / 10).cast("bigint"))
    upsert_commit_batch(ok, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    bad = b0.withColumn("band", F.lit(99).cast("bigint"))
    with _pytest.raises(GeneratedColumnViolation, match="band"):
        upsert_commit_batch(bad, target, 2, key_cols=["k"],
                            order_col="ord", keep_versions=4)

    # UPDATE: inputs change → band recomputes; SET band directly refused
    upsert_update_where(spark, target, 2, "k = 1", {"v": "v + 30"},
                        key_cols=["k"], keep_versions=4)
    got = {r.k: (r.v, r.band)
           for r in spark.read.parquet(target).collect()}
    assert got == {1: (35, 3), 2: (25, 2)}
    with _pytest.raises(ValueError, match="generated column"):
        upsert_update_where(spark, target, 3, "true", {"band": "0"},
                            key_cols=["k"], keep_versions=4)

    # MERGE source without the column gets it computed
    src = spark.createDataFrame([(3, 1, 47)], "k long, ord long, v int")
    upsert_merge_into(spark, target, 3, src, ["k"], keep_versions=4)
    got = {r.k: r.band for r in spark.read.parquet(target).collect()}
    assert got == {1: 3, 2: 2, 3: 4}


def test_generated_column_declaration_on_existing_data(spark, tmp_path):
    """Declaring on a table with data: accepted only if the head
    already satisfies name <=> expr; an absent column never backfills;
    a violating expression is refused. Clones carry declarations."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        GeneratedColumnViolation, clone_upsert_table,
        set_table_generated_column, table_generated_columns,
        upsert_commit_batch)

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 0, 5, 0), (2, 0, 25, 2)],
                               "k long, ord long, v int, band long")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    with _pytest.raises(GeneratedColumnViolation, match="backfill"):
        set_table_generated_column(spark, target, "nope", "v * 2")
    with _pytest.raises(GeneratedColumnViolation, match="violates"):
        set_table_generated_column(spark, target, "band",
                                   "cast(v div 10 + 1 as bigint)")
    set_table_generated_column(spark, target, "band",
                               "cast(v div 10 as bigint)")
    assert table_generated_columns(target) \
        == {"band": "cast(v div 10 as bigint)"}

    dst = str(tmp_path / "dst")
    clone_upsert_table(target, dst)
    assert table_generated_columns(dst) \
        == {"band": "cast(v div 10 as bigint)"}


def test_identity_column_allocation_and_refusals(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: commits allocate unique
    step-aligned ids above START WITH with disjoint per-commit ranges
    (the journal's high-water mark serializes allocation); a batch or
    MERGE source supplying the column is refused; UPDATE SET on it is
    refused; a MERGE assigns fresh ids to inserts only; declaration on
    a table with commits is refused; clones carry the declaration AND
    the mark."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        clone_upsert_table, set_table_identity_column,
        table_identity_column, upsert_commit_batch, upsert_merge_into,
        upsert_update_where)

    target = str(tmp_path / "tbl")
    set_table_identity_column(target, "uid", start=100, step=3)
    b0 = spark.createDataFrame([(1, 0, 10), (2, 0, 20)],
                               "k long, ord long, v int")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    ids0 = {r.k: r.uid for r in spark.read.parquet(target).collect()}
    assert len(set(ids0.values())) == 2
    assert all(u >= 100 and (u - 100) % 3 == 0 for u in ids0.values())

    # second commit: a NEW key gets a fresh id above batch 0's; a
    # re-upserted EXISTING key keeps its id (identity is assigned at
    # insert, stable across updates — Delta's contract, same rule on
    # the keep-latest path as on MERGE's matched rows)
    b1 = spark.createDataFrame([(3, 1, 30), (2, 1, 99)],
                               "k long, ord long, v int")
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    ids1 = {r.k: r.uid for r in spark.read.parquet(target).collect()}
    assert ids1[1] == ids0[1]
    assert ids1[2] == ids0[2]        # updated key: id STABLE
    assert {r.k: r.v for r in spark.read.parquet(target).collect()}[2] \
        == 99                        # ...but the payload did update
    assert ids1[3] > max(ids0.values())

    with _pytest.raises(ValueError, match="cannot be supplied"):
        upsert_commit_batch(
            b0.withColumn("uid", b0.k), target, 2, key_cols=["k"],
            order_col="ord", keep_versions=4)
    with _pytest.raises(ValueError, match="identity column"):
        upsert_update_where(spark, target, 2, "true", {"uid": "0"},
                            key_cols=["k"], keep_versions=4)
    with _pytest.raises(ValueError, match="table creation"):
        set_table_identity_column(target, "uid2")

    # MERGE: matched row keeps its id, inserted row gets a fresh one
    src = spark.createDataFrame([(2, 99), (9, 90)], "k long, v int")
    upsert_merge_into(spark, target, 2, src, ["k"], keep_versions=4)
    ids2 = {r.k: r.uid for r in spark.read.parquet(target).collect()}
    assert ids2[2] == ids0[2]                    # matched: id kept
    assert ids2[9] > max(ids1.values())          # insert: fresh, above
    assert len(set(ids2.values())) == 4          # still unique
    with _pytest.raises(ValueError, match="MERGE source cannot"):
        upsert_merge_into(spark, target, 3,
                          src.withColumn("uid", src.k), ["k"],
                          keep_versions=4)

    # incremental (COW) path: stability and fresh allocation hold when
    # untouched files carry by hard link and the hwm scan reads only
    # the rewritten files
    tgt2 = str(tmp_path / "tbl2")
    set_table_identity_column(tgt2, "uid", start=100, step=3)
    upsert_commit_batch(b0, tgt2, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4, incremental_min_bytes=0)
    i0 = {r.k: r.uid for r in spark.read.parquet(tgt2).collect()}
    upsert_commit_batch(b1, tgt2, 1, key_cols=["k"], order_col="ord",
                        keep_versions=4, incremental_min_bytes=0)
    i1 = {r.k: r.uid for r in spark.read.parquet(tgt2).collect()}
    assert i1[2] == i0[2] and i1[1] == i0[1]
    assert i1[3] > max(i0.values())
    assert len(set(i1.values())) == 3

    # clone: declaration + mark travel; allocation continues above
    dst = str(tmp_path / "dst")
    clone_upsert_table(target, dst)
    assert table_identity_column(dst) \
        == {"name": "uid", "start": 100, "step": 3}
    upsert_commit_batch(
        spark.createDataFrame([(50, 0, 1)], "k long, ord long, v int"),
        dst, 1, key_cols=["k"], order_col="ord", keep_versions=4)
    dids = {r.k: r.uid for r in spark.read.parquet(dst).collect()}
    assert dids[50] > max(ids2.values())
    assert len(set(dids.values())) == len(dids)


def test_restore_revalidates_generated_columns(spark, tmp_path):
    """RESTORE to a snapshot that predates (or violates) a generated
    column refuses loudly — write-path computation never covered it;
    enforce_constraints=False is the operator override."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        GeneratedColumnViolation, restore_upsert_target,
        set_table_generated_column, upsert_commit_batch)

    target = str(tmp_path / "tbl")
    # v0 has no `band` column; v1 adds it with correct values — only
    # then is the generated declaration possible
    upsert_commit_batch(
        spark.createDataFrame([(1, 0, 5)], "k long, ord long, v int"),
        target, 0, key_cols=["k"], order_col="ord", keep_versions=8)
    upsert_commit_batch(
        spark.createDataFrame([(1, 1, 25, 2)],
                              "k long, ord long, v int, band long"),
        target, 1, key_cols=["k"], order_col="ord", keep_versions=8)
    set_table_generated_column(spark, target, "band",
                               "cast(v div 10 as bigint)")
    with _pytest.raises(GeneratedColumnViolation, match="predates"):
        restore_upsert_target(spark, target, version=0, as_version=2,
                              keep_versions=8)
    # override restores anyway (restore first, repair second)
    restore_upsert_target(spark, target, version=0, as_version=2,
                          keep_versions=8, enforce_constraints=False)
    assert {r.k for r in spark.read.parquet(target).collect()} == {1}


def test_mv_incremental_fold_over_update_where(spark, tmp_path):
    """An UPDATE WHERE commit flows through the MV's change-feed fold
    as ±1 pre/postimage legs: the refresh after the UPDATE must take
    the incremental path and land bit-identical to a from-scratch
    recompute (group migration included — the UPDATE moves rows
    between groups)."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_update_where)
    from house_price_etl_pipeline_spark.streaming.matview import (
        read_mv, refresh_mv)

    target = str(tmp_path / "tbl")
    view = str(tmp_path / "mv")
    df = spark.createDataFrame(
        [(i, 0, "a" if i < 4 else "b", float(i)) for i in range(8)],
        "k long, ord long, g string, v double")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    assert refresh_mv(spark, target, view, ["k"], ["g"], "v") == "full"
    # move k in {2,3,6} to group 'c' and triple v
    upsert_update_where(spark, target, 1, "k % 4 >= 2 AND k != 7",
                        {"g": "'c'", "v": "v * 3"},
                        key_cols=["k"], keep_versions=4)
    assert refresh_mv(spark, target, view, ["k"], ["g"], "v") \
        == "incremental"
    got = {r.g: (r.n_rows, r.sum_value)
           for r in read_mv(spark, view).collect()}
    assert got == {"a": (2, 0.0 + 1.0), "b": (3, 4.0 + 5.0 + 7.0),
                   "c": (3, (2.0 + 3.0 + 6.0) * 3)}


def test_merge_into_clause_cascade(spark, tmp_path):
    """MERGE INTO applies Delta's clause order per matched key: DELETE
    first, then UPDATE SET * (missing source columns retain target
    values), then carry; source-only keys honor the INSERT condition
    (missing columns NULL); target-only keys always carry; source-only
    columns evolve the schema with NULLs on carried rows."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_merge_into)

    target = str(tmp_path / "tbl")
    t0 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
        "k long, v int, tag string")
    upsert_commit_batch(t0, target, 0, key_cols=["k"], order_col="v",
                        keep_versions=4)
    src = spark.createDataFrame(
        [(2, 15, 99), (3, 35, 98), (5, 50, 97), (6, 5, 96)],
        "k long, v int, extra int")
    assert upsert_merge_into(
        spark, target, 1, src, ["k"],
        matched_update="s.v > t.v",
        matched_delete="s.v < 18",
        not_matched_insert="s.v >= 50") == "applied"
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert got == sorted([
        (1, 10, "a", None),    # target-only: carried, evolved col NULL
        (3, 35, "c", 98),      # matched update: source v, target tag
        (4, 40, "d", None),    # target-only: carried
        (5, 50, None, 97),     # insert: missing tag NULL
    ])                          # k=2 deleted (15<18); k=6 insert cond false


def test_merge_into_null_delete_condition_falls_through(spark, tmp_path):
    """A matched DELETE condition that evaluates to NULL (3-valued
    logic, e.g. comparison on a NULL column) is an UNSATISFIED clause:
    SQL/Delta MERGE fall through to the UPDATE clause, which must still
    fire if its own condition holds. Pins the r10-advice bug where raw
    ``~NULL`` in take_source carried the row unchanged."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_merge_into)

    target = str(tmp_path / "tbl")
    t0 = spark.createDataFrame([(1, 10, "old")],
                               "k long, v int, tag string")
    upsert_commit_batch(t0, target, 0, key_cols=["k"], order_col="v",
                        keep_versions=4)
    # flag is NULL → matched_delete "s.flag > 0" is NULL, not TRUE;
    # matched_update "s.v > t.v" is TRUE and must take the source row
    src = spark.createDataFrame([(1, 99, "new", None)],
                                "k long, v int, tag string, flag int")
    assert upsert_merge_into(
        spark, target, 1, src, ["k"],
        matched_update="s.v > t.v",
        matched_delete="s.flag > 0") == "applied"
    got = [tuple(r) for r in
           spark.read.parquet(target).select("k", "v", "tag").collect()]
    assert got == [(1, 99, "new")]


def test_merge_into_replay_cdc_and_dup_source(spark, tmp_path):
    """Exactly-once by batch_id; the change feed across a merge emits
    the right insert/delete/update rows; a multi-row-per-key source is
    refused (Delta's multiple-source-rows-match error)."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_changes, upsert_commit_batch, upsert_merge_into)

    target = str(tmp_path / "tbl")
    t0 = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v int")
    upsert_commit_batch(t0, target, 0, key_cols=["k"], order_col="v",
                        keep_versions=4)
    src = spark.createDataFrame([(2, 25), (3, 1), (9, 90)],
                                "k long, v int")
    assert upsert_merge_into(
        spark, target, 1, src, ["k"],
        matched_delete="s.v < 5") == "applied"
    assert upsert_merge_into(
        spark, target, 1, src, ["k"],
        matched_delete="s.v < 5") == "replayed"
    ch = read_upsert_changes(spark, target, 0, 1, key_cols=["k"])
    rows = sorted((r.change_type, r.k) for r in ch.collect())
    assert rows == [("delete", 3), ("insert", 9),
                    ("update_postimage", 2), ("update_preimage", 2)]
    with _pytest.raises(ValueError, match="multiple rows"):
        upsert_merge_into(spark, target, 2, src.unionAll(src), ["k"])


def test_merge_source_unique_skips_precheck_same_result(spark, tmp_path):
    """``source_unique=True`` (the caller's by-construction uniqueness
    declaration, round-14 optimization: it skips the eager duplicate-
    key pre-check job) must produce a byte-identical table to the
    guarded default on a unique source."""
    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_merge_into

    src0 = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v int")
    src1 = spark.createDataFrame(
        [(2, 25), (3, 1), (9, 90)], "k long, v int")
    tables = {}
    for tag, unique in (("guarded", False), ("declared", True)):
        t = str(tmp_path / tag)
        assert upsert_merge_into(
            spark, t, 0, src0, ["k"], source_unique=unique) == "applied"
        assert upsert_merge_into(
            spark, t, 1, src1, ["k"], source_unique=unique,
            matched_delete="s.v < 5") == "applied"
        tables[tag] = sorted(
            tuple(r) for r in spark.read.parquet(t).collect())
    assert tables["guarded"] == tables["declared"]
    assert tables["guarded"] == [(1, 10), (2, 25), (9, 90)]


def test_merge_source_unique_debug_checks_rearm_guard(spark, tmp_path,
                                                      monkeypatch):
    """SPARK_GRAFT_DEBUG_CHECKS=1 re-arms the duplicate-source-key
    pre-check even under ``source_unique=True`` (ADVICE r14): a
    regression in an upstream dedup then fails loudly instead of
    silently duplicating target rows. Off by default: the declared
    path keeps skipping the job."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_merge_into

    target = str(tmp_path / "tbl")
    src = spark.createDataFrame([(1, 10), (2, 20)], "k long, v int")
    assert upsert_merge_into(
        spark, target, 0, src, ["k"], source_unique=True) == "applied"
    dup = src.unionAll(src)
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_CHECKS", "1")
    with _pytest.raises(ValueError, match="multiple rows"):
        upsert_merge_into(spark, target, 1, dup, ["k"],
                          source_unique=True)
    monkeypatch.delenv("SPARK_GRAFT_DEBUG_CHECKS")
    # unique source under the flag-off declared path still applies
    src2 = spark.createDataFrame([(2, 25)], "k long, v int")
    assert upsert_merge_into(
        spark, target, 1, src2, ["k"], source_unique=True) == "applied"


def test_merge_into_empty_table_inserts_only(spark, tmp_path):
    """MERGE into a table with no commits: only the INSERT clause can
    produce rows, and its condition is honored."""
    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_merge_into

    target = str(tmp_path / "tbl")
    src = spark.createDataFrame([(1, 5), (2, 50)], "k long, v int")
    assert upsert_merge_into(
        spark, target, 0, src, ["k"],
        not_matched_insert="s.v >= 10") == "applied"
    assert [tuple(r) for r in spark.read.parquet(target).collect()] \
        == [(2, 50)]


# --- file-granular copy-on-write commits (round 10) ------------------------

def _journal_entries(target):
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import _commits_dir
    return read_commit_journal(_commits_dir(target + "_versions"))


def _version_dir(target, version):
    import os
    for c in reversed(_journal_entries(target)):
        if c["version"] == version:
            return os.path.join(target + "_versions", c["version_name"])
    raise KeyError(version)


def _shares_inode(dir_a, dir_b):
    """True if any data file in dir_a is the same inode as one in
    dir_b — the hard-link reuse signature."""
    import os
    def files(d):
        return {f: os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(("_", "."))}
    fa, fb = files(dir_a), files(dir_b)
    return any(n in fb and os.path.samefile(p, fb[n])
               for n, p in fa.items())


def test_incremental_upsert_rewrites_only_touched_files(spark, tmp_path, monkeypatch):
    """An upsert whose keys live in a subset of the snapshot's files
    rewrites only those files; the rest carry into the new version as
    hard links, and the journal records the rewrite/reuse split."""
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_commit_batch

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(50)], "k long, ord long, v long")
    b1 = spark.createDataFrame(
        [(i, 0, i) for i in range(50, 100)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    ops = {c["version"]: c for c in _journal_entries(target)}
    # batch 1's keys touch nothing: zero rewrites, all files linked
    assert ops[1]["files_rewritten"] == 0 and ops[1]["files_reused"] >= 1
    assert spark.read.parquet(target).count() == 100

    # batch 2 updates keys 60..69 (only batch-1's files hold them)
    b2 = spark.createDataFrame(
        [(i, 1, i + 1000) for i in range(60, 70)],
        "k long, ord long, v long")
    upsert_commit_batch(b2, target, 2, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    ops = {c["version"]: c for c in _journal_entries(target)}
    assert ops[2]["files_rewritten"] >= 1 and ops[2]["files_reused"] >= 1
    # batch-0's untouched files are the SAME inodes in the new version
    assert _shares_inode(_version_dir(target, 0), _version_dir(target, 2))
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert len(got) == 100
    assert all(got[i] == i + 1000 for i in range(60, 70))
    assert all(got[i] == i for i in range(60)) and got[99] == 99


def test_incremental_delete_links_untouched_files(spark, tmp_path, monkeypatch):
    """DELETE WHERE rewrites only files containing matching rows; the
    predicate-free files are hard-linked, and results match SQL DELETE
    semantics."""
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_delete_where)

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(50)], "k long, ord long, v long")
    b1 = spark.createDataFrame(
        [(i, 0, i) for i in range(50, 100)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    assert upsert_delete_where(spark, target, 2, "k >= 90",
                               keep_versions=8) == "applied"
    ops = {c["version"]: c for c in _journal_entries(target)}
    assert ops[2]["files_rewritten"] >= 1
    assert ops[2]["files_reused"] >= 1
    assert _shares_inode(_version_dir(target, 0), _version_dir(target, 2))
    assert sorted(r.k for r in spark.read.parquet(target).collect()) \
        == list(range(90))


def test_incremental_delete_all_rows(spark, tmp_path, monkeypatch):
    """Deleting every row leaves a readable empty snapshot (schema
    preserved by the empty-write metadata file)."""
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_delete_where)

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 0, 1), (2, 0, 2)],
                               "k long, ord long, v long")
    upsert_commit_batch(df, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    assert upsert_delete_where(spark, target, 1, "true",
                               keep_versions=4) == "applied"
    out = spark.read.parquet(target)
    assert out.count() == 0
    assert set(out.columns) == {"k", "ord", "v"}


def test_incremental_merge_links_untouched_files(spark, tmp_path, monkeypatch):
    """MERGE INTO's touched-file join confines the rewrite to files
    holding source keys; inserts land in the rewritten portion and the
    rest is linked."""
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_merge_into)

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(50)], "k long, ord long, v long")
    b1 = spark.createDataFrame(
        [(i, 0, i) for i in range(50, 100)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    src = spark.createDataFrame(
        [(95, 0, 9500), (96, 0, 6), (200, 0, 4242)],
        "k long, ord long, v long")
    assert upsert_merge_into(
        spark, target, 2, src, ["k"],
        matched_update="s.v > t.v",          # fires for 95, not 96
        not_matched_insert="true", keep_versions=8) == "applied"
    ops = {c["version"]: c for c in _journal_entries(target)}
    assert ops[2]["files_rewritten"] >= 1 and ops[2]["files_reused"] >= 1
    assert _shares_inode(_version_dir(target, 0), _version_dir(target, 2))
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert len(got) == 101
    assert got[95] == 9500 and got[96] == 96 and got[200] == 4242


def test_incremental_null_key_claims_null_file(spark, tmp_path, monkeypatch):
    """The touched-file join is null-safe: a NULL-keyed delta row must
    claim the file holding the NULL-keyed base row, or the carried twin
    would duplicate the key that keep_latest treats as one group."""
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_commit_batch

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(None, 0, 1), (1, 0, 2)],
                               "k long, ord long, v long")
    b1 = spark.createDataFrame([(None, 1, 99)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    rows = sorted(((r.k, r.v) for r in
                   spark.read.parquet(target).collect()),
                  key=lambda t: (t[0] is None, t))
    assert rows == [(1, 2), (None, 99)]


def test_incremental_schema_evolution_falls_back(spark, tmp_path, monkeypatch):
    """A batch that ADDS a column cannot reuse linked files (they can't
    be evolved in place): the commit takes the full mergeSchema rewrite
    and records no reuse stats."""
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_commit_batch

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(1, 0, 1), (2, 0, 2)],
                               "k long, ord long, v long")
    b1 = spark.createDataFrame([(3, 0, 3, "x")],
                               "k long, ord long, v long, tag string")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    ops = {c["version"]: c for c in _journal_entries(target)}
    assert "files_rewritten" not in ops[1]
    got = {r.k: (r.v, r.tag) for r in spark.read.parquet(target).collect()}
    assert got == {1: (1, None), 2: (2, None), 3: (3, "x")}


def test_incremental_disabled_below_size_cutover(spark, tmp_path,
                                                 monkeypatch):
    """A base snapshot below the incremental size cutover (here an
    ``incremental_min_bytes`` no table reaches, overriding an env of 0)
    takes the full-rewrite path: same results, no reuse stats, no
    shared inodes."""
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_commit_batch

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(20)], "k long, ord long, v long")
    b1 = spark.createDataFrame(
        [(i, 1, i + 100) for i in range(5)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=8, incremental_min_bytes=1 << 62)
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=8, incremental_min_bytes=1 << 62)
    ops = {c["version"]: c for c in _journal_entries(target)}
    assert "files_rewritten" not in ops[1]
    assert not _shares_inode(_version_dir(target, 0),
                             _version_dir(target, 1))
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert all(got[i] == i + 100 for i in range(5))
    assert all(got[i] == i for i in range(5, 20))


def test_incremental_prune_keeps_shared_inodes_alive(spark, tmp_path, monkeypatch):
    """Retention pruning of an old version only unlinks NAMES: data
    files hard-linked into the surviving head stay readable — the
    inode-refcount property the reuse design rests on."""
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    import os

    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_commit_batch

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(50)], "k long, ord long, v long")
    b1 = spark.createDataFrame(
        [(i, 0, i) for i in range(50, 100)], "k long, ord long, v long")
    b2 = spark.createDataFrame(
        [(60, 1, 9999)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=1)
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=1)
    upsert_commit_batch(b2, target, 2, key_cols=["k"], order_col="ord",
                        keep_versions=1)
    # keep_versions=1: v0 and v1 dirs are pruned at publish
    versions_root = target + "_versions"
    dirs = [d for d in os.listdir(versions_root)
            if os.path.isdir(os.path.join(versions_root, d))
            and not d.startswith("_")]
    assert len(dirs) == 1
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert len(got) == 100 and got[60] == 9999 and got[0] == 0


def test_link_phase_vanished_base_retries(spark, tmp_path, monkeypatch):
    """A concurrent publish can retire the base snapshot between the
    touched-file join and the hard-link pass; the Python ENOENT that
    the link raises must classify as a lost race (journal moved) and
    retry against the new head — not crash the writer."""
    import house_price_etl_pipeline_spark.streaming.ingest as ing

    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(20)], "k long, ord long, v long")
    ing.upsert_commit_batch(b0, target, 0, key_cols=["k"],
                            order_col="ord", keep_versions=8)
    other = spark.createDataFrame(
        [(100, 0, 100)], "k long, ord long, v long")
    delta = spark.createDataFrame(
        [(5, 1, 5000)], "k long, ord long, v long")
    real = ing._stage_with_reuse
    state = {"raised": False}

    def flaky(base_dir, stage_dir, kept, df, **kwargs):
        if not state["raised"]:
            state["raised"] = True
            # another writer lands a commit while we stage, then our
            # link pass observes the pruned base
            ing.upsert_commit_batch(other, target, 5, key_cols=["k"],
                                    order_col="ord", keep_versions=8,
                                    writer="w-other")
            raise FileNotFoundError(
                2, "No such file or directory",
                base_dir + "/part-gone.parquet")
        return real(base_dir, stage_dir, kept, df, **kwargs)

    monkeypatch.setattr(ing, "_stage_with_reuse", flaky)
    assert ing.upsert_commit_batch(
        delta, target, 1, key_cols=["k"], order_col="ord",
        keep_versions=8) == "applied-after-retry"
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got[5] == 5000 and got[100] == 100 and len(got) == 21


# --- SHALLOW CLONE + CHECK constraints (round 10) ---------------------------

def test_shallow_clone_shares_files_then_diverges(spark, tmp_path):
    """A clone's first version hard-links the source head's data files
    (zero copy); afterwards the two tables evolve independently, and
    history records the provenance."""
    import os

    from house_price_etl_pipeline_spark.streaming.ingest import (
        clone_upsert_table, describe_upsert_history, upsert_commit_batch)

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    b0 = spark.createDataFrame([(1, 0, 10), (2, 0, 20)],
                               "k long, ord long, v long")
    upsert_commit_batch(b0, src, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    clone_upsert_table(src, dst)
    assert _shares_inode(os.path.realpath(src), os.path.realpath(dst))
    assert sorted(map(tuple, spark.read.parquet(dst).collect())) \
        == sorted(map(tuple, spark.read.parquet(src).collect()))
    hist = describe_upsert_history(spark, dst).collect()
    assert hist[0].writer == "clone" and hist[0].files_reused >= 1

    # divergence: a commit to the clone must not touch the source
    b1 = spark.createDataFrame([(2, 1, 99), (3, 1, 30)],
                               "k long, ord long, v long")
    upsert_commit_batch(b1, dst, 1, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    assert {r.k: r.v for r in spark.read.parquet(dst).collect()} \
        == {1: 10, 2: 99, 3: 30}
    assert {r.k: r.v for r in spark.read.parquet(src).collect()} \
        == {1: 10, 2: 20}
    # and vice versa
    upsert_commit_batch(
        spark.createDataFrame([(1, 2, 77)], "k long, ord long, v long"),
        src, 1, key_cols=["k"], order_col="ord", keep_versions=4)
    assert {r.k: r.v for r in spark.read.parquet(dst).collect()} \
        == {1: 10, 2: 99, 3: 30}


def test_shallow_clone_refuses_existing_destination(spark, tmp_path):
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        clone_upsert_table, upsert_commit_batch)

    src = str(tmp_path / "src")
    b0 = spark.createDataFrame([(1, 0, 10)], "k long, ord long, v long")
    upsert_commit_batch(b0, src, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    clone_upsert_table(src, str(tmp_path / "dst"))
    with _pytest.raises(FileExistsError):
        clone_upsert_table(src, str(tmp_path / "dst"))
    with _pytest.raises(FileNotFoundError):
        clone_upsert_table(str(tmp_path / "nope"), str(tmp_path / "d2"))


def test_shallow_clone_survives_source_retention(spark, tmp_path):
    """Pruning the source's old versions only unlinks the source's
    NAMES — the clone keeps reading the shared inodes."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        clone_upsert_table, upsert_commit_batch)

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(10)], "k long, ord long, v long")
    upsert_commit_batch(b0, src, 0, key_cols=["k"], order_col="ord",
                        keep_versions=1)
    clone_upsert_table(src, dst)
    # two source commits with keep_versions=1 retire the cloned version
    for bid in (1, 2):
        upsert_commit_batch(
            spark.createDataFrame([(bid, bid, bid * 100)],
                                  "k long, ord long, v long"),
            src, bid, key_cols=["k"], order_col="ord", keep_versions=1)
    assert spark.read.parquet(dst).count() == 10


def test_check_constraint_rejects_bad_batch_and_merge(spark, tmp_path):
    """CHECK semantics: FALSE rows rejected BEFORE any commit (journal
    unmoved), NULL passes (three-valued), MERGE sources validated too,
    dropping the constraint re-opens the gate, and adding a constraint
    existing data violates is refused."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        CheckConstraintViolation, drop_table_check_constraint,
        set_table_check_constraint, upsert_commit_batch,
        upsert_merge_into)

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(1, 0, 10), (2, 0, None)],
                               "k long, ord long, v int")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    set_table_check_constraint(spark, target, "v_nonneg", "v >= 0")

    bad = spark.createDataFrame([(3, 9, -5)], "k long, ord long, v int")
    with _pytest.raises(CheckConstraintViolation, match="v_nonneg"):
        upsert_commit_batch(bad, target, 1, key_cols=["k"],
                            order_col="ord", keep_versions=4)
    assert spark.read.parquet(target).count() == 2   # nothing committed

    with _pytest.raises(CheckConstraintViolation, match="v_nonneg"):
        upsert_merge_into(spark, target, 1, bad, ["k"], keep_versions=4)

    # NULL v passes (unknown is not a violation), valid rows commit
    ok = spark.createDataFrame([(3, 1, None), (4, 1, 40)],
                               "k long, ord long, v int")
    assert upsert_commit_batch(ok, target, 1, key_cols=["k"],
                               order_col="ord", keep_versions=4) \
        == "applied"

    drop_table_check_constraint(target, "v_nonneg")
    assert upsert_commit_batch(bad, target, 2, key_cols=["k"],
                               order_col="ord", keep_versions=4) \
        == "applied"

    # re-adding now fails on the existing -5 row
    with _pytest.raises(CheckConstraintViolation, match="existing"):
        set_table_check_constraint(spark, target, "v_nonneg", "v >= 0")


def test_shallow_clone_carries_check_constraints(spark, tmp_path):
    """SHALLOW CLONE copies table metadata, not just data references
    (Delta parity): a clone of a constrained table starts constrained —
    a violating batch against the CLONE is rejected — and dropping the
    constraint on the clone diverges without unconstraining the
    source."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        CheckConstraintViolation, clone_upsert_table,
        drop_table_check_constraint, set_table_check_constraint,
        table_check_constraints, upsert_commit_batch)

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    upsert_commit_batch(
        spark.createDataFrame([(1, 0, 10)], "k long, ord long, v int"),
        src, 0, key_cols=["k"], order_col="ord", keep_versions=4)
    set_table_check_constraint(spark, src, "v_nonneg", "v >= 0")
    clone_upsert_table(src, dst)
    assert table_check_constraints(dst) == {"v_nonneg": "v >= 0"}

    bad = spark.createDataFrame([(2, 1, -5)], "k long, ord long, v int")
    with _pytest.raises(CheckConstraintViolation, match="v_nonneg"):
        upsert_commit_batch(bad, dst, 1, key_cols=["k"],
                            order_col="ord", keep_versions=4)

    # metadata divergence: dropping on the clone leaves the source shut
    drop_table_check_constraint(dst, "v_nonneg")
    assert upsert_commit_batch(bad, dst, 1, key_cols=["k"],
                               order_col="ord", keep_versions=4) \
        == "applied"
    with _pytest.raises(CheckConstraintViolation, match="v_nonneg"):
        upsert_commit_batch(bad, src, 1, key_cols=["k"],
                            order_col="ord", keep_versions=4)


def test_shared_base_table_builds_once_and_revalidates(spark, tmp_path,
                                                       monkeypatch):
    """The session-cached harness base (VERDICT r10 item 1): build runs
    once per (name, sf_dir); a cache hit returns the same committed
    table; an externally wiped workspace rebuilds instead of handing
    out a dangling path."""
    import shutil

    from house_price_etl_pipeline_spark.streaming import ingest as ing

    monkeypatch.setattr(ing, "_SHARED_BASE_CACHE", {})
    calls = []

    def build(target):
        calls.append(target)
        ing.upsert_commit_batch(
            spark.createDataFrame([(1, 0, 10)],
                                  "k long, ord long, v int"),
            target, 0, key_cols=["k"], order_col="ord", keep_versions=4)

    sf = str(tmp_path)
    p1 = ing.shared_base_table(sf, "t_base", build)
    p2 = ing.shared_base_table(sf, "t_base", build)
    assert p1 == p2 and len(calls) == 1
    assert spark.read.parquet(p1).count() == 1

    shutil.rmtree(os.path.dirname(p1))
    p3 = ing.shared_base_table(sf, "t_base", build)
    assert len(calls) == 2
    assert spark.read.parquet(p3).count() == 1


def test_restore_revalidates_current_constraints(spark, tmp_path):
    """VERDICT r10 item 6: RESTORE to a version written BEFORE a
    constraint existed must re-validate that snapshot against the
    CURRENT constraint set — commit-time checks never saw it, so a
    silent restore would publish violating rows. The deliberate
    operator override (enforce_constraints=False) still restores."""
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        CheckConstraintViolation, restore_upsert_target,
        set_table_check_constraint, upsert_commit_batch)

    target = str(tmp_path / "tbl")
    # v0 contains a row the future constraint forbids
    upsert_commit_batch(
        spark.createDataFrame([(1, 0, -5), (2, 0, 20)],
                              "k long, ord long, v int"),
        target, 0, key_cols=["k"], order_col="ord", keep_versions=8)
    # v1 repairs it; only THEN is the constraint addable
    upsert_commit_batch(
        spark.createDataFrame([(1, 1, 5)], "k long, ord long, v int"),
        target, 1, key_cols=["k"], order_col="ord", keep_versions=8)
    set_table_check_constraint(spark, target, "v_nonneg", "v >= 0")

    with _pytest.raises(CheckConstraintViolation, match="v_nonneg"):
        restore_upsert_target(spark, target, version=0, as_version=2,
                              keep_versions=8)
    # refused loudly, nothing committed: head is still v1's state
    assert sorted((r.k, r.v) for r in
                  spark.read.parquet(target).collect()) \
        == [(1, 5), (2, 20)]

    restore_upsert_target(spark, target, version=0, as_version=2,
                          keep_versions=8, enforce_constraints=False)
    assert sorted((r.k, r.v) for r in
                  spark.read.parquet(target).collect()) \
        == [(1, -5), (2, 20)]


def test_check_constraint_missing_column_is_explained(spark, tmp_path):
    import pytest as _pytest

    from house_price_etl_pipeline_spark.streaming.ingest import (
        CheckConstraintViolation, set_table_check_constraint,
        upsert_commit_batch)

    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(1, 0, 10)], "k long, ord long, v int")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    set_table_check_constraint(spark, target, "v_ok", "v >= 0")
    narrow = spark.createDataFrame([(2, 1)], "k long, ord long")
    with _pytest.raises(CheckConstraintViolation, match="absent"):
        upsert_commit_batch(narrow, target, 1, key_cols=["k"],
                            order_col="ord", keep_versions=4)


def test_merge_into_null_key_matches_null_target(spark, tmp_path):
    """MERGE's ON is null-safe: the table format treats NULL as one key
    group (keep_latest, touched-file join), so a NULL-keyed source row
    UPDATES the NULL-keyed target row instead of inserting a duplicate
    that would break the unique-keys invariant CDC and MV folds rely
    on (deliberate divergence from Delta, which has no key invariant)."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        upsert_commit_batch, upsert_merge_into)

    target = str(tmp_path / "tbl")
    t0 = spark.createDataFrame([(None, 0, 1), (1, 0, 2)],
                               "k long, ord long, v long")
    upsert_commit_batch(t0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=4)
    src = spark.createDataFrame([(None, 1, 99)], "k long, ord long, v long")
    assert upsert_merge_into(spark, target, 1, src, ["k"],
                             keep_versions=4) == "applied"
    rows = sorted(((r.k, r.v) for r in
                   spark.read.parquet(target).collect()),
                  key=lambda t: (t[0] is None, t))
    assert rows == [(1, 2), (None, 99)]


def test_read_upsert_changes_scans_changed_files_only(spark, tmp_path,
                                                      monkeypatch):
    """The batch change feed reads only each version's name-unique
    files: a hard-linked (carried) file contributes no change rows and
    must not appear in either side's scan."""
    import os

    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_changes, upsert_commit_batch)

    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(50)], "k long, ord long, v long")
    b1 = spark.createDataFrame(
        [(i, 0, i) for i in range(50, 100)], "k long, ord long, v long")
    b2 = spark.createDataFrame([(60, 1, 9999)], "k long, ord long, v long")
    for bid, b in ((0, b0), (1, b1), (2, b2)):
        upsert_commit_batch(b, target, bid, key_cols=["k"],
                            order_col="ord", keep_versions=8)
    ch = read_upsert_changes(spark, target, 1, 2, key_cols=["k"])
    rows = sorted((r.change_type, r.k, r.v) for r in ch.collect())
    assert rows == [("update_postimage", 60, 9999),
                    ("update_preimage", 60, 60)]
    # the carried (linked) files must be absent from the scan set
    v1 = _version_dir(target, 1)
    v2 = _version_dir(target, 2)
    linked = {f for f in os.listdir(v1) if f.endswith(".parquet")} \
        & {f for f in os.listdir(v2) if f.endswith(".parquet")}
    scanned = {os.path.basename(p) for p in ch.inputFiles()}
    assert linked and not (scanned & linked)
    assert len(scanned) == 2            # one retired + one rewritten file


def test_merge_set_maps_and_not_matched_by_source(spark, tmp_path):
    """Delta's remaining MERGE surface: explicit SET {col: expr} maps
    (simultaneous, over t./s., store-assignment casts) and WHEN NOT
    MATCHED BY SOURCE DELETE/UPDATE over target-only rows — the
    'sync a dimension table' shape. NMBS merges take the full-target
    rewrite (the clause can hit any row); SET-map merges without
    inserts provably keep the target schema and stay on the COW path."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state, read_upsert_version, upsert_commit_batch,
        upsert_merge_into)

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [(i, i * 10, "live") for i in range(10)],
        "k long, v long, status string")
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    src = spark.createDataFrame([(1, 5), (2, 7), (100, 9)],
                                "k long, bonus long")
    upsert_merge_into(
        spark, t, 1, src, ["k"],
        matched_update_set={"v": "t.v + s.bonus"},
        not_matched_insert=None,
        not_matched_by_source_delete="t.k >= 8",
        not_matched_by_source_update="t.k < 8",
        not_matched_by_source_set={"status": "'stale'"},
        keep_versions=8, incremental_min_bytes=0)
    snap = read_upsert_version(spark, t)
    # SET-map mode with inserts off: no schema evolution from `bonus`
    assert snap.columns == ["k", "v", "status"]
    rows = {r.k: (r.v, r.status) for r in snap.collect()}
    assert rows[1] == (15, "live")      # SET v only; status untouched
    assert rows[2] == (27, "live")
    assert all(rows[k][1] == "stale" for k in (0, 3, 4, 5, 6, 7))
    assert 8 not in rows and 9 not in rows      # NMBS DELETE
    assert 100 not in rows                       # insert clause off
    # SET-map merge without NMBS stays incremental (COW stats present)
    src2 = spark.createDataFrame([(1, 1)], "k long, bonus long")
    upsert_merge_into(spark, t, 2, src2, ["k"],
                      matched_update_set={"v": "t.v + s.bonus"},
                      not_matched_insert=None,
                      keep_versions=8, incremental_min_bytes=0)
    entry = _journal_state(t + "_versions")[0][-1]
    assert entry.get("files_rewritten") is not None
    assert read_upsert_version(spark, t).filter("k = 1").first().v == 16
    # guards
    import pytest as _pytest
    with _pytest.raises(ValueError, match="key column"):
        upsert_merge_into(spark, t, 3, src2, ["k"],
                          matched_update_set={"k": "t.k + 1"})
    with _pytest.raises(ValueError, match="absent from"):
        upsert_merge_into(spark, t, 3, src2, ["k"],
                          matched_update_set={"ghost": "1"})


def test_not_null_constraint_distinct_from_check(spark, tmp_path):
    """NOT NULL is the constraint CHECK cannot express (3VL passes
    NULLs): declared via set_table_not_null, enforced on batches,
    MERGE sources, UPDATE post-images, and absent-column evolution;
    refused on existing NULLs; visible in DESCRIBE DETAIL; rides the
    writer-feature gate."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        CheckConstraintViolation, describe_upsert_detail,
        drop_table_not_null, read_upsert_version, set_table_not_null,
        upsert_commit_batch, upsert_merge_into, upsert_update_where)
    import pytest as _pytest

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="v",
                        keep_versions=8)
    # CHECK(v IS NOT NULL)-style expressions pass NULLs — prove the
    # distinct class is needed: a NULL batch passes CHECK but must
    # fail NOT NULL
    set_table_not_null(spark, t, "v")
    d = describe_upsert_detail(spark, t).first()
    assert d["check_constraints"] == {"v__not_null": "NOT NULL (v)"}
    bad = spark.createDataFrame([(3, None)], "k long, v long")
    with _pytest.raises(CheckConstraintViolation, match="NOT NULL"):
        upsert_commit_batch(bad, t, 1, key_cols=["k"], order_col="k",
                            keep_versions=8)
    # absent column = NULL through evolution: refused too
    nov = spark.createDataFrame([(3, "x")], "k long, note string")
    with _pytest.raises(CheckConstraintViolation, match="absent"):
        upsert_commit_batch(nov, t, 1, key_cols=["k"], order_col="k",
                            keep_versions=8)
    with _pytest.raises(CheckConstraintViolation, match="NOT NULL"):
        upsert_update_where(spark, t, 1, "k = 1",
                            {"v": "CAST(NULL AS BIGINT)"},
                            key_cols=["k"], keep_versions=8,
                            incremental_min_bytes=0)
    with _pytest.raises(CheckConstraintViolation, match="NOT NULL"):
        upsert_merge_into(spark, t, 1, bad, ["k"], keep_versions=8)
    # declaring over existing NULLs is refused
    t2 = os.path.join(str(tmp_path), "t2")
    upsert_commit_batch(
        spark.createDataFrame([(1, None)], "k long, v long"),
        t2, 0, key_cols=["k"], order_col="k", keep_versions=8)
    with _pytest.raises(CheckConstraintViolation, match="existing"):
        set_table_not_null(spark, t2, "v")
    # drop restores writability with NULLs
    drop_table_not_null(t, "v")
    upsert_commit_batch(bad, t, 2, key_cols=["k"], order_col="k",
                        keep_versions=8)
    assert read_upsert_version(spark, t).count() == 3


def test_column_defaults_fill_omitted_columns(spark, tmp_path):
    """SQL DEFAULT: a batch or MERGE INSERT omitting the column gets
    the declared expression instead of NULL; supplied values (even
    explicit NULLs) pass through; existing data never backfills."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, set_table_column_default,
        upsert_commit_batch, upsert_merge_into)

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame([(1, 10, "live")],
                               "k long, v long, status string")
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    set_table_column_default(t, "status", "'pending'")
    # batch omits status -> default; existing row 1 untouched
    d = spark.createDataFrame([(2, 20)], "k long, v long")
    upsert_commit_batch(d, t, 1, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    got = {r.k: r.status for r in read_upsert_version(spark, t).collect()}
    assert got == {1: "live", 2: "pending"}
    # MERGE INSERT whose source lacks the column -> default on inserts,
    # matched update keeps target value (SET * retains for missing col)
    src = spark.createDataFrame([(1, 99), (3, 30)], "k long, v long")
    upsert_merge_into(spark, t, 2, src, ["k"], keep_versions=8,
                      incremental_min_bytes=0)
    got = {r.k: (r.v, r.status) for r in
           read_upsert_version(spark, t).collect()}
    assert got[3] == (30, "pending")
    assert got[1] == (99, "live")
    # explicit NULL is NOT replaced (DEFAULT is absence, not NULL)
    e = spark.createDataFrame([(4, 40, None)],
                              "k long, v long, status string")
    upsert_commit_batch(e, t, 3, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    assert read_upsert_version(spark, t) \
        .filter("k = 4").first().status is None


def test_writer_feature_gate_blocks_unknown_enforcement(spark, tmp_path):
    """A table declaring a writer feature this build can't enforce is
    still READABLE but refuses commits — Delta's reader/writer split."""
    import os

    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, upsert_commit_batch, upsert_delete_where)
    from house_price_etl_pipeline_spark.streaming.partitioning import (
        UnsupportedTableFeature, register_table_feature)
    import pytest as _pytest

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="v",
                        keep_versions=8)
    register_table_feature(t, "row_tracking_v7", kind="writer")
    # reads fine
    assert read_upsert_version(spark, t).count() == 1
    # writes refuse
    with _pytest.raises(UnsupportedTableFeature, match="row_tracking"):
        upsert_commit_batch(df, t, 1, key_cols=["k"], order_col="v",
                            keep_versions=8)
    with _pytest.raises(UnsupportedTableFeature, match="row_tracking"):
        upsert_delete_where(spark, t, 1, "v > 0", keep_versions=8)


def test_merge_insert_default_satisfies_not_null(spark, tmp_path):
    """A MERGE source omitting a defaulted NOT NULL column must be
    accepted (the INSERT default fills it; updates retain the
    target's value) — and the post-image pass still catches a
    NULL-producing default."""
    import os

    from house_price_etl_pipeline_spark.streaming.ingest import (
        CheckConstraintViolation, read_upsert_version,
        set_table_column_default, set_table_not_null,
        upsert_commit_batch, upsert_merge_into)
    import pytest as _pytest

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame([(1, 10, "live")],
                               "k long, v long, status string")
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    set_table_column_default(t, "status", "'pending'")
    set_table_not_null(spark, t, "status")
    src = spark.createDataFrame([(1, 99), (2, 20)], "k long, v long")
    upsert_merge_into(spark, t, 1, src, ["k"], keep_versions=8,
                      incremental_min_bytes=0)
    got = {r.k: (r.v, r.status) for r in
           read_upsert_version(spark, t).collect()}
    assert got == {1: (99, "live"), 2: (20, "pending")}
    # a default that evaluates to NULL cannot launder NOT NULL
    from house_price_etl_pipeline_spark.streaming.ingest import (
        set_table_column_default as _setd)
    _setd(t, "status", "CAST(NULL AS STRING)")
    src2 = spark.createDataFrame([(3, 30)], "k long, v long")
    with _pytest.raises(CheckConstraintViolation, match="NOT NULL"):
        upsert_merge_into(spark, t, 2, src2, ["k"], keep_versions=8,
                          incremental_min_bytes=0)


def test_column_default_lands_at_table_column_type(spark, tmp_path):
    """A DEFAULT like '0' on a double column must land typed DOUBLE in
    the batch path (store-assignment cast to the table's column type,
    matching the MERGE insert path) — not at the expression's natural
    int type via union coercion (ADVICE r11)."""
    import os

    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, set_table_column_default,
        upsert_commit_batch)

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame([(1, 1.5)], "k long, score double")
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="score",
                        keep_versions=8, incremental_min_bytes=0)
    set_table_column_default(t, "score", "0")
    d = spark.createDataFrame([(2,)], "k long")
    upsert_commit_batch(d, t, 1, key_cols=["k"], order_col="score",
                        keep_versions=8, incremental_min_bytes=0)
    snap = read_upsert_version(spark, t)
    assert dict(snap.dtypes)["score"] == "double"
    got = {r.k: r.score for r in snap.collect()}
    assert got == {1: 1.5, 2: 0.0}


def test_flat_schema_cache_survives_concurrent_eviction(monkeypatch):
    """A reader that finds its snapshot's schema cached must not fail
    when another reader evicts that entry between its lookup and its
    LRU touch (cap 1 makes every insert evict). The lookup is held open
    until the other reader finishes, or 0.2 s when it cannot get in."""
    import threading
    from collections import OrderedDict
    from types import SimpleNamespace

    from house_price_etl_pipeline_spark.streaming import ingest

    entered, other_done = threading.Event(), threading.Event()

    class SlowHitCache(OrderedDict):
        def get(self, key, default=None):
            hit = super().get(key, default)
            if hit is not None:
                entered.set()
                other_done.wait(0.2)
            return hit

    class Read:
        def schema(self, schema):
            return self

        def parquet(self, *paths):
            return SimpleNamespace(schema="s")

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"),
                            read=Read())
    monkeypatch.setattr(ingest, "_FLAT_SCHEMA_CACHE",
                        SlowHitCache({("app", "d1"): "s"}))
    monkeypatch.setattr(ingest, "_FLAT_SCHEMA_CACHE_CAP", 1)
    errors = []

    def read(snap_dir, done=None):
        try:
            ingest._flat_parquet_read(spark, snap_dir, [snap_dir])
        except Exception as e:  # noqa: BLE001 — reported by the assert
            errors.append(e)
        finally:
            if done is not None:
                done.set()

    hit = threading.Thread(target=read, args=("d1",))
    hit.start()
    assert entered.wait(5)
    miss = threading.Thread(target=read, args=("d2", other_done))
    miss.start()
    hit.join(5)
    miss.join(5)
    assert not hit.is_alive() and not miss.is_alive()
    assert errors == []
    assert list(ingest._FLAT_SCHEMA_CACHE) == [("app", "d2")]


def test_incremental_dml_sequence_and_time_travel(spark, tmp_path):
    """Incremental UPDATE and DELETE on a two-file flat table, then the
    surfaces that read across the link-carried versions: time travel,
    the change feed between two versions, a full OPTIMIZE, and RESTORE
    of a carried version."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        optimize_upsert_target, read_upsert_changes, read_upsert_version,
        restore_upsert_target, upsert_commit_batch, upsert_delete_where,
        upsert_update_where)

    t = os.path.join(str(tmp_path), "tbl")
    for b, (lo, hi) in enumerate([(0, 200), (200, 400)]):
        df = spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit(0).alias("ord"))
        upsert_commit_batch(df, t, b, key_cols=["k"], order_col="ord",
                            keep_versions=8, incremental_min_bytes=0,
                            max_retries=4)
    upsert_update_where(spark, t, 2, "k < 10", {"v": F.lit(-5)},
                        keep_versions=8, incremental_min_bytes=0)
    upsert_delete_where(spark, t, 3, "k >= 390", keep_versions=8,
                        incremental_min_bytes=0)
    head = read_upsert_version(spark, t)
    assert head.count() == 390
    assert head.filter("v = -5").count() == 10
    v1 = read_upsert_version(spark, t, 1)
    assert v1.count() == 400 and v1.filter("v = -5").count() == 0
    # only real changes emit across the carried versions
    ch = read_upsert_changes(spark, t, 1, 3, key_cols=["k"])
    got = {r["change_type"]: r["n"] for r in
           ch.groupBy("change_type").agg(F.count("*").alias("n"))
           .collect()}
    assert got == {"update_preimage": 10, "update_postimage": 10,
                   "delete": 10}
    optimize_upsert_target(spark, t, keep_versions=8)
    assert read_upsert_version(spark, t).count() == 390
    restore_upsert_target(spark, t, 2, 4, keep_versions=8)
    restored = read_upsert_version(spark, t)
    assert restored.count() == 400
    assert restored.filter("v = -5").count() == 10


def test_full_rewrite_stage_walks_the_base_once(spark, tmp_path,
                                                monkeypatch):
    """A full-rewrite upsert or DELETE sizes its base snapshot ONCE per
    stage attempt: the same byte count decides the incremental cutover
    and the staging width."""
    import os

    import house_price_etl_pipeline_spark.streaming.ingest as ing

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.range(40).selectExpr("id as k", "id as v", "0 as ord")
    ing.upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="ord",
                            keep_versions=4)
    calls = []
    real = ing._data_file_bytes

    def counting(path, skip=()):
        calls.append(path)
        return real(path, skip)

    monkeypatch.setattr(ing, "_data_file_bytes", counting)
    full = 1 << 62          # every snapshot is below the cutover
    delta = spark.range(5).selectExpr("id as k", "-1 as v", "1 as ord")
    assert ing.upsert_commit_batch(
        delta, t, 1, key_cols=["k"], order_col="ord", keep_versions=4,
        incremental_min_bytes=full) == "applied"
    assert len(calls) == 1
    calls.clear()
    assert ing.upsert_delete_where(
        spark, t, 2, "k >= 30", keep_versions=4,
        incremental_min_bytes=full) == "applied"
    assert len(calls) == 1
    assert ing.read_upsert_version(spark, t).count() == 30


def test_insert_only_incremental_commit_keeps_session_width(
        spark, tmp_path, monkeypatch):
    """An incremental upsert whose keys touch no base file stages the
    whole delta, whose size is unknown: it must keep the session's
    staging width (hint None, as the first commit does) instead of a
    zero-byte hint that narrows the write to one task."""
    import os

    import house_price_etl_pipeline_spark.streaming.ingest as ing

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.range(40).selectExpr("id as k", "id as v", "0 as ord")
    ing.upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="ord",
                            keep_versions=4, incremental_min_bytes=0)
    hints = []
    real = ing._staged_write

    def capturing(*a, **k):
        hints.append(k.get("input_bytes_hint"))
        return real(*a, **k)

    monkeypatch.setattr(ing, "_staged_write", capturing)
    fresh = spark.range(100, 120).selectExpr("id as k", "id as v",
                                             "1 as ord")
    ing.upsert_commit_batch(fresh, t, 1, key_cols=["k"], order_col="ord",
                            keep_versions=4, incremental_min_bytes=0)
    entry = ing._journal_state(t + "_versions")[0][-1]
    assert entry["files_rewritten"] == 0 and entry["files_reused"] >= 1
    assert hints == [None]
    assert ing.read_upsert_version(spark, t).count() == 60
