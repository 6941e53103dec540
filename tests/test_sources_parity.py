"""Transform-layer parity tests — each asserts a behavioral contract of
the reference (file:line cited per test), re-expressed over DataFrames."""

from __future__ import annotations

import datetime

import pytest

from economic_data_etl_spark.schemas import FACT_COLUMNS
from economic_data_etl_spark.sources.bls import build_dim_series, parse_bls_batch
from economic_data_etl_spark.sources.fred import parse_fred_observations
from economic_data_etl_spark.sources.transforms import combine_fact_tables
from tests.fixtures_ref import BLS_SERIES_MAP, RAW_BLS_JSON, RAW_FRED_JSON


# --- FRED (reference tests/test_transform.py:15-66) -----------------------
class TestParseFred:
    def test_columns_and_order(self, spark):
        df = parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "unemployment_rate")
        assert df.columns == FACT_COLUMNS

    def test_row_count(self, spark):
        df = parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "unemployment_rate")
        assert df.count() == 4

    def test_dot_becomes_null(self, spark):
        df = parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "unemployment_rate")
        row = df.filter("date = '2023-03-01'").collect()[0]
        assert row["value"] is None

    def test_values_parsed(self, spark):
        df = parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "unemployment_rate")
        rows = {r["date"]: r["value"] for r in df.collect()}
        assert rows[datetime.date(2023, 1, 1)] == 3.4
        assert rows[datetime.date(2023, 2, 1)] == 3.6

    def test_literals_attached(self, spark):
        df = parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "unemployment_rate")
        r = df.collect()[0]
        assert (r["series_id"], r["series_name"], r["source"]) == (
            "UNRATE",
            "unemployment_rate",
            "FRED",
        )

    def test_metadata_fields_excluded(self, spark):
        df = parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "unemployment_rate")
        assert "realtime_start" not in df.columns

    def test_missing_observations_key_raises(self, spark):
        with pytest.raises(ValueError, match="observations"):
            parse_fred_observations(spark, {"foo": 1}, "UNRATE", "x")


# --- BLS (reference tests/test_transform.py:74-176) -----------------------
class TestParseBls:
    def test_monthly_rows_flattened(self, spark):
        df = parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP)
        # 3 monthly rows for CES + 2 for UNMAPPED; M13 excluded
        assert df.count() == 5

    def test_m13_filtered(self, spark):
        df = parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP)
        assert df.filter("value = 155000 AND date >= '2023-12-01'").count() == 0

    def test_date_from_year_period(self, spark):
        df = parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP)
        dates = {r["date"] for r in df.filter("series_id = 'CES0000000001'").collect()}
        assert dates == {
            datetime.date(2023, 1, 1),
            datetime.date(2023, 2, 1),
            datetime.date(2023, 3, 1),
        }

    def test_name_mapping_and_fallback(self, spark):
        df = parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP)
        names = {r["series_id"]: r["series_name"] for r in df.collect()}
        assert names["CES0000000001"] == "nonfarm_payrolls"
        assert names["UNMAPPED_SERIES"] == "UNMAPPED_SERIES"  # id fallback

    def test_dash_becomes_null(self, spark):
        df = parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP)
        row = df.filter(
            "series_id = 'UNMAPPED_SERIES' AND date = '2023-02-01'"
        ).collect()[0]
        assert row["value"] is None

    def test_oldest_first(self, spark):
        df = parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP)
        dates = [r["date"] for r in df.collect()]
        assert dates == sorted(dates)

    def test_bad_status_raises(self, spark):
        with pytest.raises(RuntimeError, match="REQUEST_NOT_PROCESSED"):
            parse_bls_batch(spark, {"status": "REQUEST_NOT_PROCESSED"}, BLS_SERIES_MAP)


# --- dim build (reference tests/test_transform.py:131-157) ----------------
class TestBuildDim:
    def test_rows_and_sources(self, spark):
        dim = build_dim_series(spark, {"a": "A1", "b": "B1"}, {"c": "C1"})
        rows = {r["series_id"]: (r["series_name"], r["source"]) for r in dim.collect()}
        assert rows == {"A1": ("a", "FRED"), "B1": ("b", "FRED"), "C1": ("c", "BLS")}

    def test_columns(self, spark):
        dim = build_dim_series(spark, {"a": "A1"}, {})
        assert dim.columns == ["series_id", "series_name", "source"]


# --- combiner (reference tests/test_transform.py:184-218) -----------------
class TestCombine:
    def test_union_count_and_sources(self, spark):
        f = parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "u")
        b = parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP)
        combined = combine_fact_tables([f, b])
        assert combined.count() == f.count() + b.count()
        assert {r["source"] for r in combined.select("source").distinct().collect()} == {
            "FRED",
            "BLS",
        }

    def test_global_date_order(self, spark):
        f = parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "u")
        b = parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP)
        dates = [r["date"] for r in combine_fact_tables([f, b]).collect()]
        assert dates == sorted(dates)

    def test_empty_input_raises(self, spark):
        with pytest.raises(ValueError):
            combine_fact_tables([])
