"""The engine never edits a caller's session-wide Spark conf: widths
live in the plan, and settings Spark reads at planning or stream-start
time go on a private clone of the session (``session.private_session``).
"""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / \
    "house_price_etl_pipeline_spark"
WIDTH = "spark.sql.shuffle.partitions"
SIZE_FIRST = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


def test_no_conf_edits_outside_session_py():
    """Tooling guard: ``conf.set(``/``conf.unset(`` appear only in
    session.py, where tune_session configures the driver's session and
    private_session configures its own clone."""
    edit = re.compile(r"\bconf\.(set|unset)\(")
    hits = [f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
            for path in sorted(PACKAGE.rglob("*.py"))
            if path.name != "session.py"
            for n, line in enumerate(path.read_text().splitlines(), 1)
            if edit.search(line)]
    assert not hits, "session-wide conf edits:\n" + "\n".join(hits)


def test_private_session_inherits_runtime_conf(spark):
    """A private session starts from its parent's conf as set at
    RUNTIME (spark.newSession() would not: it drops the timezone
    tune_session sets), and what is set on it stays on it. Making one
    leaves the process-wide ``RDD.toDF`` as it was."""
    from pyspark.rdd import RDD

    from house_price_etl_pipeline_spark.session import private_session

    tz = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz)
    try:
        spark.conf.set(tz, "Asia/Taipei")
        to_df = RDD.toDF
        own = private_session(spark, {WIDTH: "3"})
        assert RDD.toDF is to_df
        assert own.conf.get(tz) == "Asia/Taipei"
        assert own.conf.get(WIDTH) == "3"
        assert spark.conf.get(WIDTH) != "3"
    finally:
        spark.conf.set(tz, prev)
    assert own.conf.get(tz) == "Asia/Taipei"


def test_planning_time_confs_stay_on_the_query(spark, sf_dir):
    """The bloom-filter and aggregate-pushdown queries carry their
    switches in their own session: building them leaves the caller's
    conf exactly as it was."""
    from house_price_etl_pipeline_spark.operators.skew import \
        join_bloom_runtime_filter
    from house_price_etl_pipeline_spark.sources.formats import \
        scan_agg_pushdown_stats

    before = spark.conf.getAll
    bloom = join_bloom_runtime_filter(spark, sf_dir)
    agg = scan_agg_pushdown_stats(spark, sf_dir)
    assert spark.conf.getAll == before
    assert bloom.sparkSession.conf.get(
        "spark.sql.autoBroadcastJoinThreshold") == "-1"
    assert agg.sparkSession.conf.get(
        "spark.sql.sources.useV1SourceList") == ""


def test_query_planned_during_a_staged_write_keeps_the_width(
        spark, tmp_path, monkeypatch):
    """A query planned on the session while a staged upsert write runs
    sees the session's width, not the write's delta-scaled one (1 for
    a tiny copy-on-write commit): the write plans on its own session,
    size-first coalescing whether or not its input size is known (a
    first commit's is not), and a tiny commit still lands as one
    file."""
    import glob
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from house_price_etl_pipeline_spark.streaming.ingest import \
        upsert_commit_batch

    seen = []
    real = DataFrameWriter.parquet

    def planning_parquet(self, path, *a, **kw):
        seen.append((spark.conf.get(WIDTH), self._spark.conf.get(WIDTH),
                     self._spark.conf.get(SIZE_FIRST)))
        return real(self, path, *a, **kw)

    width = spark.conf.get(WIDTH)
    target = str(tmp_path / "t")
    monkeypatch.setattr(DataFrameWriter, "parquet", planning_parquet)
    upsert_commit_batch(spark.createDataFrame([(1, 1), (2, 2)],
                                              "k long, v long"),
                        target, 0, key_cols=["k"], order_col="v")
    upsert_commit_batch(spark.createDataFrame([(2, 3), (3, 3)],
                                              "k long, v long"),
                        target, 1, key_cols=["k"], order_col="v")
    monkeypatch.undo()
    assert seen == [(width, width, "false"), (width, "1", "false")]
    assert len(glob.glob(os.path.join(os.path.realpath(target),
                                      "part-*.parquet"))) == 1
    assert spark.conf.get(SIZE_FIRST, "true") == "true"


def test_drains_leave_no_listener_behind(spark):
    """A drain's private session unregisters its streaming listener bus
    once the stream stops: Spark never removes one, so without that
    every drain would leave a listener on the SparkContext's bus. (A
    session's query-execution listener bus goes when the session is
    garbage-collected, so only the streaming ones are counted.)"""
    from house_price_etl_pipeline_spark.streaming.windows import _drain

    bus = spark.sparkContext._jsc.sc().listenerBus()

    def stream_buses():
        return sum(1 for lst in bus.listeners()
                   if lst.getClass().getSimpleName()
                   == "StreamingQueryListenerBus")

    def drain(i):
        rate = spark.readStream.format("rate").load().select("value")
        _drain(rate, spark, output_mode="append", name=f"listener_{i}")

    drain(0)        # first stream of the process: Spark's own listeners
    before = stream_buses()
    drain(1)
    drain(2)
    assert stream_buses() == before
