"""Event-time windowed aggregation over the ``events`` stream (SURVEY
§2.8 extensions: watermarks, tumbling/sliding/session windows — absent
from the reference, table stakes for a streaming engine).

Each catalog query here runs a REAL Structured Streaming query (file
source over the events parquet → watermark → windowed agg → memory sink,
``Trigger.AvailableNow``) and returns the drained result as a DataFrame.
Because the input is finite, the streamed result must equal the batch
computation — which is exactly what the DuckDB oracle expresses, so the
driver's correctness gate covers the streaming path end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.catalog import register


# Legacy TIMESTAMP(NANOS) layout of the events table (ts as raw int64).
# stream_events() now sniffs the footer; tests still craft fixtures in
# this layout to exercise the nanos-as-long path end-to-end.
EVENTS_RAW_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),  # nanos-as-long (see sources/tables.py)
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events parquet, mirroring the batch loader's
    ts handling: the generator has shipped ``ts`` both as TIMESTAMP(NANOS)
    (read as raw int64 via nanosAsLong, then truncated to µs) and as plain
    TIMESTAMP(MICROS). Derive the schema from the parquet footer instead
    of hardcoding either encoding."""
    from ..session import rebind
    from ..sources.tables import (nanos_session, stream_table_reader,
                                  table_schema_raw)

    schema = table_schema_raw(spark, sf_dir, "events")  # memoized footer
    # layout-aware source: single-file testdata scans sf_dir glob-
    # filtered to the file name (the reference's *a.csv suffix trick);
    # a directory-shaped table (Spark writer layout) streams directly.
    # The source reads every batch with the session it was built on.
    raw = rebind(stream_table_reader(nanos_session(spark), sf_dir,
                                     "events", schema), spark)
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # Watermarks require TIMESTAMP (with local tz); the session tz is
        # pinned to UTC (session.py:38) so this cast is value-identical.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


# Stateful-stream shuffle sizing: every shuffle partition carries its own
# state store whose per-batch commit/snapshot overhead is FIXED cost —
# 32 stores for 1.5k keys is 4-5x slower than 8 on local[32] (measured:
# 13.1 s → 2.5 s for the user-profile query at sf0.1). On a real cluster
# this is sized to key cardinality x update rate, not to core count —
# override via SPARK_GRAFT_STREAM_PARTITIONS (read at call time, SCALE.md).
def stream_shuffle_partitions() -> int:
    return int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))


def _drain(agg: DataFrame, spark: SparkSession,
           output_mode: str = "complete",
           name: str | None = None,
           partitions: int | None = None,
           conf: dict[str, str] | None = None) -> DataFrame:
    """Run the streaming aggregation to completion into a memory sink and
    return the materialized result. ``complete`` mode + AvailableNow: the
    finite source drains in one trigger, so the final table is exactly
    the batch answer.

    The query runs on a private clone of ``spark`` whose shuffle width
    — the state-store count, fixed when the query starts — is
    ``partitions`` (default stream_shuffle_partitions()), plus any
    other start-time ``conf`` (a state-store provider); ``spark``'s
    own conf is never edited. The memory sink's view lives in the
    clone, so concurrent drains never share a sink and a finished
    drain's buffer goes with its result. ``name`` defaults to the
    CALLING function's name."""
    import sys

    from ..session import close_streams, private_session, rebind

    if name is None:
        name = f"drain_{sys._getframe(1).f_code.co_name}"
    width = partitions if partitions is not None \
        else stream_shuffle_partitions()
    own = private_session(spark, {"spark.sql.shuffle.partitions": str(width),
                                  **(conf or {})})
    q = (
        rebind(agg, own).writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
        close_streams(own)
    return rebind(own.table(name), spark)


@register(
    "stream_tumbling_hourly",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time window with a 10m watermark, executed as a
    real streaming query. On this finite input the drained result equals
    the batch GROUP BY date_trunc — asserted by the oracle."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
             .alias("sum_value"))
    )
    out = _drain(agg, spark)
    return (
        out.select(
            F.col("window.start").cast("string").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_sliding_2h",
    oracle="""
    WITH shifted AS (
      SELECT date_trunc('hour', ts) AS w, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w, value FROM events
    )
    SELECT CAST(w AS VARCHAR) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM shifted GROUP BY w ORDER BY window_start
    """,
)
def stream_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2h length, 1h slide): every event lands in two
    windows — the oracle expresses the same via a shifted UNION ALL."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
             .alias("sum_value"))
    )
    out = _drain(agg, spark)
    return (
        out.select(
            F.col("window.start").cast("string").alias("window_start"),
            "n_events", "sum_value",
        )
        .orderBy("window_start")
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM marked GROUP BY user_id ORDER BY user_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30m) per user — Spark's built-in stateful
    sessionization, run as a streaming query. The oracle reconstructs the
    same sessions with the classic lag/gap-marker SQL (a new session
    starts when the gap ≥ 30m, matching session_window's merge rule:
    an event extends a session that ends strictly after it starts)."""
    ev = stream_events(spark, sf_dir)
    per_session = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_in_session"))
    )
    out = _drain(per_session, spark)
    return (
        out.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.sum("n_in_session").alias("n_events"))
        .orderBy("user_id")
    )


@register(
    "stream_two_level_window",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    -- a day emits once the watermark reaches its END (WatermarkSupport
    -- finalizes on window.end <= watermark, probe-verified round 9),
    -- and the watermark itself is MILLISECOND-floored (Spark's
    -- event-time stats are ms): stating the actual cutoff keeps the
    -- oracle correct even when max(ts) falls within 10 minutes of (or
    -- exactly on) a midnight boundary
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY
          <= (SELECT date_trunc('millisecond', MAX(ts))
              - INTERVAL 10 MINUTE FROM events)
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_two_level_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained streaming time-window aggregations (Spark 3.5+): hourly
    partials re-aggregated to daily totals INSIDE one streaming query —
    the streaming analog of the re-aggregatable-rollup pattern (second
    level consumes window_time() of the first, so state stays bounded
    at both levels and the daily rollup never sees raw events). Chained
    aggs require APPEND mode, where a window only emits once the
    watermark passes it: on this finite input the final day (watermark
    stops 10 min short of max ts) is never finalized — the oracle
    therefore states all COMPLETE days, which is exactly what the
    stream emits."""
    ev = stream_events(spark, sf_dir)
    hourly = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(25,6)")).alias("s"))
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("window"), "1 day"))
        .agg(F.sum("n").alias("n_events"),
             F.sum("s").cast("double").alias("sum_value"))
    )
    # TWO stateful operators in one query → per-batch state-store
    # commit cost doubles; halving the store count pays for itself at
    # the window key cardinality here (hours/days, not users) — A/B'd
    # at sf0.1: 1.96 s → 1.44 s warm vs the default 8
    out = _drain(daily, spark, output_mode="append",
                 partitions=max(2, stream_shuffle_partitions() // 2))
    return (
        out.select(
            F.col("window.start").cast("date").cast("string").alias("day"),
            "n_events", "sum_value")
        .orderBy("day")
    )


@register(
    "stream_union_two_feeds",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           feed,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (
      SELECT ts, 'engagement' AS feed FROM events
      WHERE event_type IN ('click', 'view')
      UNION ALL
      SELECT ts, 'revenue' AS feed FROM events
      WHERE event_type = 'purchase'
    ) GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_union_two_feeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SOURCE streaming: two independent streaming feeds (an
    engagement feed and a revenue feed — here two readStream scans of
    the same finite source with disjoint filters, exactly how two Kafka
    topics or two landing prefixes would arrive) are unionByName'd into
    ONE streaming query, sharing a single watermark and windowed
    aggregation. Spark tracks each source's offsets independently in
    the same checkpoint; the watermark is the MIN across sources — the
    semantics a multi-topic ingest pipeline depends on. Drained over
    finite input this equals the batch union GROUP BY."""
    feed_a = (stream_events(spark, sf_dir)
              .filter(F.col("event_type").isin("click", "view"))
              .select("ts", F.lit("engagement").alias("feed")))
    feed_b = (stream_events(spark, sf_dir)
              .filter(F.col("event_type") == "purchase")
              .select("ts", F.lit("revenue").alias("feed")))
    agg = (
        feed_a.unionByName(feed_b)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "feed")
        .agg(F.count("*").alias("n_events"))
    )
    out = _drain(agg, spark)
    return (
        out.select(F.col("window.start").cast("string").alias("window_start"),
                   "feed", "n_events")
        .orderBy("window_start", "feed")
    )
