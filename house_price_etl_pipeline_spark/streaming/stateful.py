"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.8/§2.9: the reference has no stateful streaming at all; the
brief's operator ladder, option (b) — a Pandas-backed stateful kernel for
semantics the built-in windowed aggs don't cover).

The operator keeps one evolving state blob per user (event count,
per-type counts, first/last seen) across micro-batches — the shape of
any streaming feature-store / user-profile pipeline. State lives in
Spark's state store (checkpointed, partitioned by the grouping key);
the Python kernel only ever sees one key's Arrow batches.

On the finite events table the drained result must equal the batch
GROUP BY — which is what the DuckDB oracle asserts. Incremental
correctness across batches (state carried, not recomputed) is asserted
separately in tests/test_streaming.py with a two-file source.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .._vendor.protobuf_compat import ensure_protobuf
from ..plans.catalog import register
from .windows import stream_events

# Module-import side effect, deliberate: every Spark python worker that
# unpickles a StatefulProcessor from this module imports the module
# first, and transformWithState's protobuf imports are lazy — so running
# the shim here guarantees google.protobuf resolves (and the gencode
# version gate is relaxed) in the driver, the driver-side schema worker,
# and every executor worker, with no environment plumbing.
HAVE_PROTOBUF = ensure_protobuf()

STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("n_clicks", T.LongType()),
    T.StructField("n_purchases", T.LongType()),
    T.StructField("first_ts", T.TimestampType()),
    T.StructField("last_ts", T.TimestampType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("n_clicks", T.LongType()),
    T.StructField("n_purchases", T.LongType()),
    T.StructField("first_ts", T.TimestampType()),
    T.StructField("last_ts", T.TimestampType()),
])


def _update_profile(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    """Merge this batch's events for one user into the running profile and
    emit the updated profile row (outputMode=update)."""
    if state.exists:
        n, clicks, purchases, first_ts, last_ts = state.get
    else:
        n, clicks, purchases, first_ts, last_ts = 0, 0, 0, None, None
    for pdf in pdfs:
        n += len(pdf)
        clicks += int((pdf["event_type"] == "click").sum())
        purchases += int((pdf["event_type"] == "purchase").sum())
        b_first, b_last = pdf["ts"].min(), pdf["ts"].max()
        first_ts = b_first if first_ts is None else min(first_ts, b_first)
        last_ts = b_last if last_ts is None else max(last_ts, b_last)
    state.update((n, clicks, purchases, first_ts, last_ts))
    yield pd.DataFrame({
        "user_id": [key[0]], "n_events": [n], "n_clicks": [clicks],
        "n_purchases": [purchases], "first_ts": [first_ts], "last_ts": [last_ts],
    })


def user_profile_stream(events: DataFrame) -> DataFrame:
    """events stream → per-user evolving profile (one row per user per
    batch that touched them)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def drain_user_profiles(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Run the stateful query to completion (AvailableNow) into a memory
    sink; with update output the LAST emission per user is the final
    profile — deduped here by (user_id, n_events DESC) since n_events is
    monotone in batch order."""
    from .windows import _drain

    # state-store count = stream_shuffle_partitions() (see _drain)
    out = _drain(user_profile_stream(events), spark, output_mode="update",
                 name="user_profiles_out")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register(
    "stream_stateful_user_profile",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_clicks,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
           CAST(MIN(ts) AS VARCHAR) AS first_ts,
           CAST(MAX(ts) AS VARCHAR) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_stateful_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState profile over the finite events stream; the
    drained final state per user must equal the batch GROUP BY."""
    profiles = drain_user_profiles(spark, stream_events(spark, sf_dir))
    return (
        profiles.select(
            "user_id", "n_events", "n_clicks", "n_purchases",
            F.col("first_ts").cast("string").alias("first_ts"),
            F.col("last_ts").cast("string").alias("last_ts"),
        )
        .orderBy("user_id")
    )


# --- transformWithState (Spark 4 arbitrary-stateful API) -------------------

from pyspark.sql.streaming.stateful_processor import StatefulProcessor


class RunningTotalsProcessor(StatefulProcessor):
    """StatefulProcessor: per-user running totals via a typed ValueState —
    the transformWithState upgrade over applyInPandasWithState (typed
    state variables with independent lifecycles, optional timers/TTL,
    initial-state seeding). Emits one row per user per micro-batch with
    totals ACROSS batches. Module-level class: the driver-side schema
    worker unpickles the processor by reference, so it must be importable
    (a closure-local ``type(...)`` subclass crashes that worker).

    Runtime note: the transformWithState state-server protocol speaks
    protobuf; ``_vendor.protobuf_compat.ensure_protobuf`` (run at this
    module's import) resolves the runtime from the container's Cloud SDK
    when no pip protobuf exists. Where neither is available the
    companion test skips and the catalog entry is not registered;
    ``applyInPandasWithState`` (above) covers stateful streaming without
    the dependency."""

    def init(self, handle) -> None:
        # integer cents, not a float accumulator: the input values are
        # 2-decimal doubles, so per-element x*100 rounds exactly and the
        # running sum is EXACT across any batch split — which is what
        # lets the DuckDB oracle hash-match the drained totals. n_vals
        # counts NON-NULL values so a user whose values are all NULL
        # reports sum_value NULL like SQL SUM, not pandas' NaN-skipping
        # 0.0 (NULL audit, round 9).
        self.totals = handle.getValueState(
            "totals", "n_events long, n_vals long, sum_cents long")

    def handleInputRows(self, key, rows, timerValues):
        n, nv, c = 0, 0, 0
        for pdf in rows:
            n += len(pdf)
            nv += int(pdf["value"].notna().sum())
            c += int((pdf["value"] * 100).round().sum())
        prev = self.totals.get()
        if prev is not None:
            n += prev[0]
            nv += prev[1]
            c += prev[2]
        self.totals.update((n, nv, c))
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [c / 100.0 if nv > 0 else None],
        })

    def close(self) -> None:
        pass


def drain_running_totals(spark, stream_df):
    """Run the transformWithState query to completion (availableNow) and
    return the LAST emitted row per user (the final running totals)."""
    out_schema = "user_id long, n_events long, sum_value double"
    result = (
        stream_df.groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotalsProcessor(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="none",
        )
    )
    from .windows import _drain, stream_shuffle_partitions

    # Unlike the JVM-side stream-stream joins (fewer stores win there),
    # this drain's cost is the PYTHON state-server loop — one protobuf
    # get+update round trip per key, serialized within a partition — so
    # more partitions parallelize it until RocksDB open/commit overhead
    # bites. r14 interleaved A/B at sf0.1 (5 reps, medians): 4 parts
    # 4.89 s, 8 → 3.67 s, 16 → 3.54 s, 32 → 3.74 s; 2x the stream
    # default is the measured knee. transformWithState keeps each typed
    # state variable in its own column family — only the RocksDB
    # provider supports that (the HDFS-backed default refuses); Spark
    # bundles the RocksDB JNI.
    out = _drain(result, spark, output_mode="append", name="twstate_out",
                 partitions=max(2, 2 * stream_shuffle_partitions()),
                 conf={"spark.sql.streaming.stateStore.providerClass":
                       "org.apache.spark.sql.execution.streaming.state."
                       "RocksDBStateStoreProvider"})
    from pyspark.sql import Window as w
    latest = (out.withColumn(
        "_rn", F.row_number().over(
            w.partitionBy("user_id").orderBy(F.col("n_events").desc())))
        .filter(F.col("_rn") == 1).drop("_rn"))
    return latest


if HAVE_PROTOBUF:
    @register(
        "stream_transform_with_state",
        oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
                 AS sum_value
        FROM events GROUP BY user_id ORDER BY user_id
        """,
    )
    def stream_transform_with_state(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
        """transformWithStateInPandas running totals over the finite
        events stream: the drained final typed-ValueState per user must
        equal the batch GROUP BY. Cent-exact accumulation (see
        RunningTotalsProcessor.init) makes the double output
        bit-identical to the oracle's integer-cents form. Registered
        only where a google.protobuf runtime exists (the state-server
        wire protocol; resolved from the container's Cloud SDK by
        _vendor.protobuf_compat)."""
        final = drain_running_totals(spark, stream_events(spark, sf_dir))
        return (
            final.select("user_id", "n_events", "sum_value")
            .orderBy("user_id")
        )


# --------------------------------------------------------------------------
# Timeout-closed sessions: the idle-timeout contract that bounds state.
# --------------------------------------------------------------------------

SESSION_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("n_events", T.LongType()),
])

SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
])

SESSION_IDLE_MS = 1  # any later micro-batch closes an untouched session


def _session_with_timeout(key, pdfs, state: GroupState):
    """Processing-time-timeout session kernel: data extends the session
    (emits an 'open' row and re-arms the idle timer); a timeout fires on
    the first batch AFTER the timer lapsed with no data for the key —
    the kernel emits the final 'closed' row and REMOVES the state. This
    removal is the 100 TB contract: idle keys leave the store instead of
    accumulating forever."""
    if state.hasTimedOut:
        (n,) = state.get
        state.remove()
        yield pd.DataFrame({"user_id": [key[0]], "status": ["closed"],
                            "n_events": [n]})
        return
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    state.setTimeoutDuration(SESSION_IDLE_MS)
    yield pd.DataFrame({"user_id": [key[0]], "status": ["open"],
                        "n_events": [n]})


def session_timeout_stream(events: DataFrame) -> DataFrame:
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_with_timeout,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
