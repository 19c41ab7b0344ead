"""The two reference ETL pipelines, rebuilt as pure DataFrame transforms.

Building-transaction pipeline ≙ reference `etl_pipeline_spark.py:51-80`;
land-transaction pipeline ≙ reference `etl_pipeline_beam.py:10-111`.
Each is one filter plus one projection over the raw CSV columns: no
shuffle, one stage, filters pushed into the CSV scan, zero Python UDFs (the
reference's three UDFs are native expressions here — SURVEY §2.4 X1-X3).

Deliberate divergences from the reference (SURVEY §7.4):
- invalid dates → NULL-and-filter instead of raising (X2/X3);
- the unit-price repair divides by the AREA (Beam semantics,
  `etl_pipeline_beam.py:99`) — the reference Spark variant divides by the
  zero unit price itself (`etl_pipeline_spark.py:73-74`), a bug;
- float64 everywhere (the reference mixes float32/float64, SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dates import minguo_to_date
from ..functions.geo import city_code_from_filename, city_from_code
from ..functions.numeric import dec_avg, m2_to_ping, ping_price_from_m2

# Raw Chinese header → English name (reference etl_pipeline_spark.py:43-45,
# etl_pipeline_beam.py:41-45). One map for both pipelines: a name a
# pipeline does not output never enters its plan.
RAW_NAMES = {
    "鄉鎮市區": "township_dist",
    "交易標的": "transaction_sign",
    "土地位置建物門牌": "position",
    "交易年月日": "transaction_date",
    "總價元": "total_price",
    "單價元平方公尺": "unit_price_m2",
    "建物移轉總面積平方公尺": "building_area_m2",
    "建築完成年月": "completion_date",
    "土地移轉總面積平方公尺": "land_area_m2",
}

BUILDING_OUTPUT = ["city", "township_dist", "transaction_sign", "position",
                   "building_area_ping", "completion_date", "transaction_date",
                   "total_price", "unit_price_ping"]
LAND_OUTPUT = ["city", "township_dist", "transaction_sign", "position", "section",
               "land_area_ping", "transaction_date", "total_price",
               "unit_price_ping"]


def _clean(raw: DataFrame, kind: Column, area: str,
           output: list[str]) -> DataFrame:
    """Shared cleaning pass: ONE filter and ONE projection over the raw
    all-string columns — dates, casts, repair, unit conversion.

    ``area`` is ``building`` or ``land``. One step each, because every
    DataFrame step re-runs analysis on the driver: a ~10-step
    withColumn chain spent 150-230 ms per cleaner there before any job
    ran, and the optimizer made the same filter + project of it.
    """
    c = {new: F.col(old) for old, new in RAW_NAMES.items()}
    area_m2 = c[f"{area}_area_m2"].try_cast("double")
    # Lenient numeric coercion matching pd.to_numeric(errors='coerce') at
    # etl_pipeline_beam.py:98: parse as DOUBLE first — a direct
    # try_cast('long') silently NULLs decimal-formatted strings like
    # '2000000.0' that pandas coerces fine (review r9) — then truncate to
    # the reference's integer TWD type.
    total = c["total_price"].try_cast("double").try_cast("long")
    unit_m2 = c["unit_price_m2"].try_cast("double")
    # Beam semantics: total / area (reference etl_pipeline_beam.py:99).
    # try_divide: NULL (not an ANSI error) when the area is 0 too.
    unit_m2 = F.when(unit_m2 == 0, F.round(
        F.try_divide(total.try_cast("double"), area_m2), 2)).otherwise(unit_m2)
    # Minguo → DateType, NULL on garbage, then filter — replaces the
    # reference's check_date UDF + "True"/"False" flag + drop
    # (etl_pipeline_spark.py:63-67).
    date = minguo_to_date(c["transaction_date"])
    exprs = {
        **c,
        # city from filename char 7 — map-literal, no UDF, no join
        "city": city_from_code(city_code_from_filename("檔名")),
        # land only: see clean_land_transactions
        "section": F.nullif(F.regexp_extract(c["position"], r"^(.*段)", 1),
                            F.lit("")),
        "transaction_date": date,
        "total_price": total,
        # m² → 坪 with 2-decimal rounding (etl_pipeline_spark.py:76-78)
        f"{area}_area_ping": m2_to_ping(area_m2),
        "unit_price_ping": ping_price_from_m2(unit_m2),
    }
    return (raw.filter(kind & date.isNotNull())
            .select(*[exprs[name].alias(name) for name in output]))


def clean_building_transactions(raw: DataFrame) -> DataFrame:
    """Building pipeline (reference `etl_pipeline_spark.py:51-80`).

    Input: all-string frame from ``load_raw_csv`` (with 檔名 lineage col).
    Keeps house+land transactions (prefix filter, etl_pipeline_spark.py:54).
    """
    return _clean(raw, F.col("交易標的").startswith("房地"), "building",
                  BUILDING_OUTPUT)


def clean_land_transactions(raw: DataFrame) -> DataFrame:
    """Land pipeline (reference `etl_pipeline_beam.py:10-111`).

    Keeps land transactions (etl_pipeline_beam.py:22) and adds the
    regex-derived ``section`` column: longest prefix ending in 段, NULL
    on no match (pandas ``str.extract`` semantics — Spark's
    ``regexp_extract`` returns ``''`` there, so wrap in nullif; SURVEY X10).
    """
    return _clean(raw, F.col("交易標的") == "土地", "land", LAND_OUTPUT)


def avg_price_by_year(cleaned: DataFrame, city: str = "宜蘭縣") -> DataFrame:
    """The reference's one documented analytic (README.md:103-106):
    average unit price by year for one city — the flagship query shape."""
    return (
        cleaned.filter(F.col("city") == city)
        .groupBy(F.year("transaction_date").alias("year"))
        # dec_avg, not plain avg: partition-order-independent result
        # (the numeric.py discipline every oracled aggregate follows)
        .agg(F.round(dec_avg("unit_price_ping"), 2)
             .alias("avg_unit_price_ping"))
        .orderBy("year")
    )


def materialize_partitioned(cleaned: DataFrame, path: str,
                            mode: str = "overwrite") -> None:
    """Post-ingest physical layout (SURVEY §4): parquet partitioned by
    (city, transaction year). The flagship analytic filters on city and
    groups by year, so at 100 TB it touches exactly the directories it
    needs — partition pruning instead of a full scan. CSV is an
    ingest-only format here; everything downstream reads this layout."""
    (cleaned
     .withColumn("year", F.year("transaction_date"))
     .write.mode(mode)
     .partitionBy("city", "year")
     .parquet(path))
