"""Format round-trip coverage: JSON-lines and ORC sources/sinks.

The reference's only format is CSV-in / BigQuery-out (SURVEY §2.1/§2.7).
A Spark-native engine is format-pluggable for free — this module proves
value fidelity through the two other built-in columnar/text formats by
round-tripping a table through each and aggregating the result read back
from disk. The catalog entry is oracle-checked: if a format dropped
precision (JSON serializes doubles as text; ORC re-encodes timestamps),
the per-format aggregates would diverge from the parquet oracle.

Scale note: the round-trip writes are partitioned exactly like any sink
in sources/sinks.py — format choice changes encoding, not plan shape.
JSON costs ~5-10x parquet/ORC scan time at 100 TB (text parse, no column
pruning or predicate pushdown) — it's the interchange format, never the
analytics store; that asymmetry is the point of registering the
comparison.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import register
from .tables import load_table

_DEC = "decimal(25,6)"


def _agg_by_format(df: DataFrame, fmt: str) -> DataFrame:
    return df.agg(
        F.lit(fmt).alias("fmt"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("sum_price"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("max_date"),
    )


@register(
    "format_roundtrip_fidelity",
    oracle="""
    SELECT f.fmt,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           MAX(strftime(o_orderdate, '%Y-%m-%d')) AS max_date
    FROM orders, (SELECT unnest(['json', 'orc', 'parquet']) AS fmt) f
    GROUP BY f.fmt ORDER BY f.fmt
    """,
)
def format_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the VALUE-CHECKED projection of orders (o_totalprice,
    o_custkey, o_orderdate — the three columns the fidelity aggregates
    verify) to JSON-lines and ORC, read each back, and aggregate all
    three copies (parquet original included): identical aggregates per
    format == lossless round-trip of a double, a key, and a date
    through each encoding. The demonstrated surface is deliberately
    that projection, not the whole table (ADVICE r14) — columns the
    aggregates never checked bought no fidelity coverage at 2x the
    text-serialization cost. Timestamps travel as ISO strings in JSON
    (schema-applied on read); doubles survive via Spark's
    full-precision JSON serialization."""
    import shutil

    from ..fsutil import query_workspace

    o = load_table(spark, sf_dir, "orders")
    # project to the columns the fidelity aggregates actually verify
    # (guide §2.3: shuffle/serialize fewer bytes — the other columns
    # were written and read back but never value-checked, so encoding
    # them bought no fidelity coverage at 2x the text-serialization
    # cost; measured 1.55 -> 1.30 s steady at sf0.1)
    rt = o.select("o_totalprice", "o_custkey", "o_orderdate")
    # reused per (process, sf_dir): bench retries re-invoke this query —
    # a mkdtemp per call leaks a full table copy each time
    base = query_workspace("fmt_roundtrip", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    json_path = os.path.join(base, "orders_json")
    orc_path = os.path.join(base, "orders_orc")
    rt.write.mode("overwrite").json(json_path)
    rt.write.mode("overwrite").orc(orc_path)
    o_json = spark.read.schema(rt.schema).json(json_path)
    o_orc = spark.read.orc(orc_path)
    return (
        _agg_by_format(o_json, "json")
        .unionByName(_agg_by_format(o_orc, "orc"))
        .unionByName(_agg_by_format(o, "parquet"))
        .orderBy("fmt")
    )


@register(
    "format_xml_roundtrip",
    oracle="""
    SELECT f.fmt,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS sum_bal,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
           MAX(c_name) AS max_name
    FROM customer, (SELECT unnest(['parquet', 'xml']) AS fmt) f
    GROUP BY f.fmt ORDER BY f.fmt
    """,
)
def format_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's built-in XML source: write the VALUE-CHECKED
    projection of customer (c_acctbal, c_mktsegment, c_name — a
    double, a low-cardinality string, a high-cardinality string) as
    row-tagged XML, read it back schema-applied, and aggregate both
    copies — same narrowed fidelity contract as the JSON/ORC
    round-trip (ADVICE r14: the demonstrated surface is the checked
    projection, not the whole table). XML is the costliest text format
    (tag-per-field, no pushdown/pruning); like JSON it's an
    interchange edge, never the analytics store — the engine ingests
    it once and persists parquet."""
    import shutil

    from ..fsutil import query_workspace

    c = load_table(spark, sf_dir, "customer")
    # same projection discipline as the JSON/ORC round-trip: only the
    # value-checked columns travel through the costliest text format
    rt = c.select("c_acctbal", "c_mktsegment", "c_name")
    base = query_workspace("fmt_xml", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    xml_path = os.path.join(base, "customer_xml")
    (rt.write.mode("overwrite").format("xml")
     .option("rowTag", "customer").save(xml_path))
    c_xml = (spark.read.format("xml").option("rowTag", "customer")
             .schema(rt.schema).load(xml_path))

    def agg(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.lit(fmt).alias("fmt"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("sum_bal"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.max("c_name").alias("max_name"),
        )

    return agg(c, "parquet").unionByName(agg(c_xml, "xml")).orderBy("fmt")


# Landing dir for the binaryFile source demo: the source's point is
# FILE-level ingest (media corpora land as opaque files before any
# decode), so the query scans a fixed small drop rather than the
# sf-parameterized tables (same fixed-input precedent as the
# synthetic-source streaming entries). The dir must be ONE value baked
# into both sides at import — the oracle is a static SQL string, so a
# per-call sf_dir would desync the two engines — but it is
# env-overridable for other hosts/layouts (ADVICE r3):
# SPARK_GRAFT_BINARYFILE_DIR, set before process start.
BINARYFILE_DIR = os.environ.get("SPARK_GRAFT_BINARYFILE_DIR",
                                "/root/testdata/sf0.001")


@register(
    "format_binaryfile_listing",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           CAST(size AS BIGINT) AS n_bytes,
           TRUE AS content_sized_ok
    FROM read_blob('{BINARYFILE_DIR}/*.parquet')
    ORDER BY fname
    """,
)
def format_binaryfile_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source — the standard media-corpus ingest entry
    point (one row per file: path, modificationTime, length, content
    bytes; the layer below operators/multimodal.py's decode kernels).
    The oracle lists the same files via DuckDB's read_blob and checks
    name + size exactly; ``content_sized_ok`` asserts in-plan that the
    loaded content's octet_length equals the filesystem length (i.e.
    the bytes really arrived — a truncated read flips it). At 100 TB
    this source partitions by file and supports pathGlobFilter +
    recursiveFileLookup; content stays columnar binary end-to-end."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(BINARYFILE_DIR)
    )
    return (
        files.select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("length").cast("bigint").alias("n_bytes"),
            (F.octet_length("content") == F.col("length"))
            .alias("content_sized_ok"),
        )
        .orderBy("fname")
    )


@register(
    "scan_agg_pushdown_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    """,
)
def scan_agg_pushdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet AGGREGATE pushdown (DSv2): COUNT/MIN/MAX answered from
    parquet footer statistics — the scan reads row-group METADATA, not
    data pages. At 100 TB this is the difference between a stats lookup
    and a full-table scan for the table-profile queries every pipeline
    runs constantly. Needs the V2 parquet reader (parquet removed from
    useV1SourceList), so the query is built on a private session with
    DSv2 and aggregate pushdown on — the caller's session is never
    edited — and holds only for un-grouped/un-filtered aggregates over
    non-partition columns with footer stats; the plan gate asserts
    PushedAggregation actually reached the BatchScan."""
    from ..session import private_session

    own = private_session(spark, {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    })
    return (
        own.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .agg(F.count("*").alias("n_rows"),
             F.min("l_quantity").alias("min_qty"),
             F.max("l_quantity").alias("max_qty"))
    )
