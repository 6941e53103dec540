"""Transform-layer parity tests — each asserts a behavioral contract of
the reference (file:line cited per test), re-expressed over DataFrames."""

from __future__ import annotations

import datetime
from pathlib import Path

import pytest

from economic_data_etl_spark.schemas import DIM_SCHEMA, FACT_COLUMNS, FACT_SCHEMA
from economic_data_etl_spark.sources.bls import build_dim_series, parse_bls_batch
from economic_data_etl_spark.sources.fred import parse_fred_observations
from economic_data_etl_spark.sources.transforms import combine_fact_tables, local_frame
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


# --- local frames: one Arrow table each, read by the JVM ------------------
def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


class TestLocalFrames:
    BUILDERS = {
        "fred": lambda spark: parse_fred_observations(spark, RAW_FRED_JSON, "UNRATE", "u"),
        "bls": lambda spark: parse_bls_batch(spark, RAW_BLS_JSON, BLS_SERIES_MAP),
        "dim": lambda spark: build_dim_series(spark, {"a": "A1"}, {"c": "C1"}),
    }

    @pytest.mark.parametrize("builder", sorted(BUILDERS))
    def test_no_python_worker_in_lineage(self, spark, builder):
        lineage = _lineage(self.BUILDERS[builder](spark))
        assert "ParallelCollectionRDD" in lineage
        assert "PythonRDD" not in lineage

    def test_one_local_frame_builder(self):
        """Outside the shared helper no source module builds a frame
        from driver-side rows."""
        import economic_data_etl_spark.sources as sources

        root = Path(sources.__file__).parent
        offenders = []
        for py in sorted(root.rglob("*.py")):
            in_helper = False
            for n, line in enumerate(py.read_text().splitlines(), 1):
                if line.startswith("def "):
                    in_helper = py.name == "transforms.py" and line.startswith("def local_frame(")
                if "createDataFrame(" in line and not in_helper:
                    offenders.append(f"{py.relative_to(root)}:{n}")
        assert offenders == []

    def test_empty_fred_payload_keeps_fact_schema(self, spark):
        df = parse_fred_observations(spark, {"observations": []}, "UNRATE", "u")
        assert df.schema == FACT_SCHEMA
        assert df.collect() == []

    def test_bls_batch_without_monthly_points_keeps_fact_schema(self, spark):
        payload = {
            "status": "REQUEST_SUCCEEDED",
            "Results": {
                "series": [
                    {
                        "seriesID": "CES0000000001",
                        "data": [
                            {"year": "2023", "period": p, "value": "1.0"}
                            for p in ("M13", "Q01", "S01")
                        ],
                    }
                ]
            },
        }
        df = parse_bls_batch(spark, payload, BLS_SERIES_MAP)
        assert df.schema == FACT_SCHEMA
        assert df.collect() == []

    def test_dim_schema(self, spark):
        assert build_dim_series(spark, {"a": "A1"}, {"c": "C1"}).schema == DIM_SCHEMA

    def test_null_in_non_nullable_field_raises(self, spark):
        with pytest.raises(ValueError, match="series_id"):
            local_frame(spark, [(None, "a", "FRED")], DIM_SCHEMA)
