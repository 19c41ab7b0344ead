"""SparkSession factory.

Single place where execution-relevant configuration lives, so local tests
and the driver's bench run exercise the same settings we would ship on a
real cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the 100 TB safety net for skewed keys and mis-estimated shuffles.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this would be ~2-3x total executor cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive/UTC timestamps) byte-for-byte.
- Arrow enabled for the few Pandas-UDF code paths (vectorized transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "house_price_etl_pipeline_spark",
              cores: int | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    n = cores if cores is not None else default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.maxMetadataStringLength", "2000")  # full plan strings
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Perf debugging: SPARK_GRAFT_EVENTLOG=/some/dir enables the event
    # log so a bench run can be post-mortemed job-by-job (driver gaps vs
    # task time) with the history server or a JSON parse.
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        # plain single-file JSONL (no rolling dir, no zstd) so offline
        # parsers (scripts/scale_probe.py) can read it with stdlib only
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", ev_dir)
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally-created session.

    The driver passes us its own SparkSession in ``entry()``/``queries()``;
    we cannot rebuild it, but timezone + AQE + shuffle sizing are runtime
    settable and required for oracle parity and sane local plans.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
        conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static configs on some builds; non-fatal
    return spark


def private_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A session owned by one query: a clone of ``spark`` (its runtime
    SQL conf, temp views, UDFs and Python data sources; same
    SparkContext and cache) with ``conf`` applied. Settings Spark reads
    at planning time — a staged write's width and coalescing mode, a
    stateful stream's state-store width, fixed when it starts; the
    broadcast and pushdown switches a plan is built under — go here,
    so ``spark``'s own conf is never edited and a query planned on it
    concurrently never sees them.
    (``spark.newSession()`` would drop conf set at runtime, such as
    tune_session's UTC pin.)"""
    # the wrapper is built without SparkSession.__init__, which
    # re-points the process-wide RDD.toDF at the session it builds (an
    # rdd.toDF() on another thread would land on the clone)
    clone = SparkSession.__new__(SparkSession)
    clone._sc, clone._jsc, clone._jvm = spark._sc, spark._jsc, spark._jvm
    clone._jsparkSession = spark._jsparkSession.cloneSession()
    clone._profiler_collector = spark._profiler_collector
    for k, v in conf.items():
        clone.conf.set(k, v)
    return clone


def close_streams(session: SparkSession) -> None:
    """Unregister the streaming listener bus of a private session whose
    streams have all stopped: Spark adds one to the SparkContext's
    listener bus the first time a session starts a stream and never
    removes it, so each drain on a fresh clone would leave one behind."""
    manager = session._jsparkSession.streams()
    field = manager.getClass().getDeclaredField("listenerBus")
    field.setAccessible(True)
    session._jsc.sc().listenerBus().removeListener(field.get(manager))


# py4j walks a class path one round trip per name component, so the
# Dataset class rebind needs is looked up once per JVM: (jvm, class)
_dataset_class: tuple = (None, None)


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s plan bound to ``session``: what is planned from the
    result is planned under ``session``'s conf. A file scan keeps the
    session it was read with (its reader honours that session's
    flags), so a frame read on a private session can be handed back
    to the caller's."""
    global _dataset_class
    jvm, cls = _dataset_class
    if jvm is not session._jvm:
        cls = session._jvm.org.apache.spark.sql.classic.Dataset
        _dataset_class = (session._jvm, cls)
    jds = cls.ofRows(session._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jds, session)
