"""Golden-fixture tests for the reference ETL semantics (SURVEY §5.4):
Minguo conversion (6/7-digit, garbage), BOM + English-header handling,
X7 repair with Beam semantics, X10 null-on-no-match, unit conversion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from house_price_etl_pipeline_spark.functions.dates import minguo_to_date, minguo_to_iso
from house_price_etl_pipeline_spark.functions.geo import (
    CITY_CODE_MAP, city_code_from_filename, city_from_code)
from house_price_etl_pipeline_spark.operators.etl import (
    avg_price_by_year, clean_building_transactions, clean_land_transactions)
from house_price_etl_pipeline_spark.sources.csv_house import load_raw_csv


@pytest.fixture(scope="module")
def raw(spark, house_csv_fixture):
    return load_raw_csv(spark, house_csv_fixture + "/*_a.csv")


def test_bom_and_english_header_removed(raw):
    assert "鄉鎮市區" in raw.columns  # BOM stripped from first header cell
    assert raw.filter(F.col("交易標的") == "transaction sign").count() == 0
    assert raw.count() == 7  # 5 + 2 data rows, 2 English header rows dropped


def test_minguo_conversion_cases(spark):
    rows = [
        ("1100718", "2021-07-18"),   # 7-digit
        ("990101", "2010-01-01"),    # 6-digit (ROC year < 100)
        ("1100231", None),           # Feb 31 → invalid calendar date
        ("garbage", None),
        ("", None),
        (None, None),
        ("11007180", None),          # 8 digits → malformed
        ("10101", "1912-01-01"),     # 5-digit (ROC year < 10)
        ("1090229", "2020-02-29"),   # Feb 29, leap year
        ("1100229", None),           # Feb 29, non-leap year
        ("890229", "2000-02-29"),    # Feb 29, leap century
        (" 1100718 ", "2021-07-18"), # surrounding spaces trimmed
        ("1101301", None),           # month 13
        ("1100700", None),           # day 0
        ("00000", None),             # month 0
        ("１１００７１８", None),      # full-width digits are not ASCII
    ]
    df = spark.createDataFrame([(r[0],) for r in rows], "minguo string")
    got = [
        r[0] for r in
        df.select(F.date_format(minguo_to_date("minguo"), "yyyy-MM-dd")).collect()
    ]
    assert got == [r[1] for r in rows]


def test_city_mapping(spark):
    df = spark.createDataFrame(
        [("gs://bucket/land_data/101S4_g_lvr_land_a.csv",),
         ("/local/101S4_a_lvr_land_a.csv",),
         ("101S4_9_lvr_land_a.csv",)],
        "path string",
    )
    got = [r[0] for r in
           df.select(city_from_code(city_code_from_filename("path"))).collect()]
    assert got == ["宜蘭縣", "台北市", None]
    assert len(CITY_CODE_MAP) == 26


def test_building_pipeline_golden(spark, raw):
    out = {r["position"]: r for r in clean_building_transactions(raw).collect()}
    # invalid-date row and non-房地 rows dropped
    assert set(out) == {"大湖段572地號", "北成段77地號", "仁愛段100地號"}
    r = out["大湖段572地號"]
    assert r["city"] == "宜蘭縣"
    assert str(r["transaction_date"]) == "2021-07-18"
    assert r["building_area_ping"] == 25.0          # 82.64 / 3.30579 → 25.0
    assert r["unit_price_ping"] == 200000.3         # 60500 * 3.30579 → 200000.30
    assert r["completion_date"] == "0991231"        # kept raw, never cast
    # garbage unit price → NULL, not an error, not a dropped row
    assert out["北成段77地號"]["unit_price_ping"] is None


def test_land_pipeline_golden(spark, raw):
    out = {r["position"]: r for r in clean_land_transactions(raw).collect()}
    assert set(out) == {"金六結段123地號", "沒有那個字"}
    r = out["金六結段123地號"]
    assert r["section"] == "金六結段"                 # X10 regex extract
    assert str(r["transaction_date"]) == "2010-01-01"  # 6-digit Minguo
    # X7 repair, Beam semantics: unit_price 0 → total/area → ping
    assert r["unit_price_ping"] == round(round(2000000 / 66.12, 2) * 3.30579, 2)
    assert out["沒有那個字"]["section"] is None       # no 段 → NULL not ''


def test_flagship_analytic(spark, raw):
    rows = avg_price_by_year(clean_building_transactions(raw)).collect()
    assert [r["year"] for r in rows] == [2018, 2021]
    assert rows[1]["avg_unit_price_ping"] == 200000.3


def test_no_python_udf_in_plan(raw):
    """The reference's 3 UDFs must stay native expressions (SURVEY §4):
    no BatchEvalPython / ArrowEvalPython node anywhere in the ETL plan."""
    plan = clean_building_transactions(raw)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_cleaner_plans_stay_compact(raw):
    """The optimizer substitutes the Minguo date expression into each
    cleaner's ``IS NOT NULL`` filter, where repeated sub-trees are not
    shared: an expression that references its input many times is
    evaluated that many times per row (it once held 128 ``trim(`` calls
    per plan). Pin the compact form."""
    for clean in (clean_building_transactions, clean_land_transactions):
        plan = clean(raw)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("trim(") <= 16, (clean.__name__, plan.count("trim("))


# --- property tests (hypothesis): minguo date edge semantics ---------------

try:
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:
    import datetime as _dt

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.functions.dates import minguo_to_date

    @settings(max_examples=20, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.dates(min_value=_dt.date(1912, 1, 1), max_value=_dt.date(2099, 12, 31)))
    def test_minguo_roundtrips_any_valid_date(spark, d):
        """date → minguo digits → minguo_to_date == identity (6- and
        7-digit ROC years both occur across this range)."""
        minguo = f"{d.year - 1911}{d.month:02d}{d.day:02d}"
        out = (spark.range(1)
               .select(minguo_to_date(F.lit(minguo)).alias("d")).collect()[0].d)
        assert out == d, (minguo, out, d)

    @settings(max_examples=20, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.text(max_size=12))
    @example("10101")
    def test_minguo_never_raises_on_garbage(spark, s):
        """The reference UDF raises on garbage (etl_pipeline_spark.py:47);
        our expression must instead yield NULL for anything that is not a
        valid 5/6/7-digit minguo date — and never error."""
        row = (spark.range(1)
               .select(minguo_to_date(F.lit(s)).alias("d")).collect()[0])
        if row.d is not None:
            assert s.strip().isdigit() and 5 <= len(s.strip()) <= 7


def test_materialized_layout_prunes_city_and_year(spark, house_csv_fixture, tmp_path):
    """SURVEY §4 physical design: the flagship query over the partitioned
    layout must hit partition filters, not data filters."""
    from house_price_etl_pipeline_spark.operators.etl import (
        clean_building_transactions, materialize_partitioned)
    from house_price_etl_pipeline_spark.sources.csv_house import load_raw_csv

    cleaned = clean_building_transactions(
        load_raw_csv(spark, str(house_csv_fixture) + "/*_a.csv"))
    out = str(tmp_path / "warehouse")
    materialize_partitioned(cleaned, out)

    cities = [r.city for r in
              spark.read.parquet(out).select("city").distinct().collect()]
    q = spark.read.parquet(out).filter(F.col("city") == cities[0])
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "city" in plan.split("PartitionFilters")[1][:120]
    assert q.count() == cleaned.filter(F.col("city") == cities[0]).count()
