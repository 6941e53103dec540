"""JDBC sink round-trip against the embedded Derby driver bundled with
Spark — behavioral parity with reference tests/test_load.py: stats
{inserted, updated, unchanged}, idempotent reruns, NaN→NULL, in-place
update of changed values, insert-only dim path."""

from __future__ import annotations

import pytest

from economic_data_etl_spark.sources.jdbc import (
    ensure_table,
    jdbc_read,
    jdbc_upsert,
    table_exists,
)

FACT = "fact_economic_observations"
DIM = "dim_series"
KEYS = ["series_id", "obs_date"]
COMPARE = ["value"]
# Derby maps Spark StringType to CLOB by default, which its SQL layer
# refuses to compare; pin VARCHAR for the staged table's key columns.
STAGE_TYPES = (
    "series_id VARCHAR(64), obs_date VARCHAR(10), "
    "series_name VARCHAR(128), source VARCHAR(32)"
)

ROWS = [
    ("FEDFUNDS", "2024-01-01", 5.33, "Fed Funds Rate", "FRED"),
    ("UNRATE", "2024-01-01", 3.7, "Unemployment Rate", "FRED"),
    ("UNRATE", "2024-02-01", None, "Unemployment Rate", "FRED"),
]
SCHEMA = "series_id string, obs_date string, value double, series_name string, source string"


@pytest.fixture()
def derby_url(spark, tmp_path):
    spark._jvm.java.lang.System.setProperty(  # noqa: SLF001
        "derby.system.home", str(tmp_path)
    )
    url = f"jdbc:derby:{tmp_path}/testdb;create=true"
    ensure_table(
        spark,
        url,
        FACT,
        f"""CREATE TABLE {FACT} (
            "series_id"   VARCHAR(64) NOT NULL,
            "obs_date"    VARCHAR(10) NOT NULL,
            "value"       DOUBLE,
            "series_name" VARCHAR(128) NOT NULL,
            "source"      VARCHAR(32) NOT NULL,
            PRIMARY KEY ("series_id", "obs_date")
        )""",
    )
    ensure_table(
        spark,
        url,
        DIM,
        f"""CREATE TABLE {DIM} (
            "series_id"   VARCHAR(64) PRIMARY KEY,
            "series_name" VARCHAR(128) NOT NULL,
            "source"      VARCHAR(32) NOT NULL
        )""",
    )
    return url


def _upsert(spark, url, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return jdbc_upsert(
        spark, df, url, FACT, KEYS, COMPARE, create_types=STAGE_TYPES
    )


class TestEnsureTable:
    def test_creates_and_is_idempotent(self, spark, derby_url):
        assert table_exists(spark, derby_url, FACT)
        assert table_exists(spark, derby_url, DIM)
        ensure_table(spark, derby_url, FACT, "unused ddl")  # second call: no-op


class TestJdbcUpsert:
    def test_initial_insert(self, spark, derby_url):
        stats = _upsert(spark, derby_url, ROWS)
        assert stats == {"inserted": 3, "updated": 0, "unchanged": 0}
        assert jdbc_read(spark, derby_url, FACT).count() == 3

    def test_identical_rerun_is_idempotent(self, spark, derby_url):
        _upsert(spark, derby_url, ROWS)
        stats = _upsert(spark, derby_url, ROWS)
        assert stats == {"inserted": 0, "updated": 0, "unchanged": 3}
        assert jdbc_read(spark, derby_url, FACT).count() == 3

    def test_partial_update_changes_value_in_place(self, spark, derby_url):
        _upsert(spark, derby_url, ROWS)
        revised = [
            ("FEDFUNDS", "2024-01-01", 5.50, "Fed Funds Rate", "FRED")
        ] + ROWS[1:]
        stats = _upsert(spark, derby_url, revised)
        assert stats == {"inserted": 0, "updated": 1, "unchanged": 2}
        got = {
            (r["series_id"], r["obs_date"]): r["value"]
            for r in jdbc_read(spark, derby_url, FACT).collect()
        }
        assert got[("FEDFUNDS", "2024-01-01")] == pytest.approx(5.50)
        assert len(got) == 3

    def test_null_value_persists_and_stays_unchanged(self, spark, derby_url):
        _upsert(spark, derby_url, ROWS)
        row = jdbc_read(spark, derby_url, FACT).filter(
            "obs_date = '2024-02-01'"
        ).collect()
        assert row[0]["value"] is None
        stats = _upsert(spark, derby_url, ROWS)
        assert stats["unchanged"] == 3

    def test_mixed_insert_update(self, spark, derby_url):
        _upsert(spark, derby_url, ROWS)
        batch = [
            ("FEDFUNDS", "2024-01-01", 5.50, "Fed Funds Rate", "FRED"),
            ("GDP", "2024-01-01", 2.1, "Real GDP", "FRED"),
        ]
        stats = _upsert(spark, derby_url, batch)
        assert stats == {"inserted": 1, "updated": 1, "unchanged": 0}
        assert jdbc_read(spark, derby_url, FACT).count() == 4


class TestJdbcPipeline:
    """run_pipeline with jdbc_stores — the reference's DATABASE_URL
    target (src/config.py:16-19) end to end, stats parity with the
    parquet-store runs in tests/test_pipeline.py."""

    def test_full_run_and_idempotent_rerun(self, spark, tmp_path):
        from economic_data_etl_spark.pipeline import run_pipeline
        from economic_data_etl_spark.sources.jdbc import jdbc_stores
        from tests.fixtures_ref import RAW_BLS_JSON, RAW_FRED_JSON

        spark._jvm.java.lang.System.setProperty(  # noqa: SLF001
            "derby.system.home", str(tmp_path)
        )
        url = f"jdbc:derby:{tmp_path}/pipedb;create=true"
        fact_store, dim_store = jdbc_stores(spark, url)
        kwargs = dict(
            fred_series={"unemployment_rate": "UNRATE"},
            bls_series={"nonfarm_payrolls": "CES0000000001"},
        )
        res = run_pipeline(
            spark,
            lambda sid: RAW_FRED_JSON,
            lambda m, s, e: RAW_BLS_JSON,
            fact_store,
            dim_store,
            **kwargs,
        )
        assert res.fact_stats == {"inserted": 9, "updated": 0, "unchanged": 0}
        assert res.dim_stats == {"inserted": 2, "unchanged": 0}
        res2 = run_pipeline(
            spark,
            lambda sid: RAW_FRED_JSON,
            lambda m, s, e: RAW_BLS_JSON,
            fact_store,
            dim_store,
            **kwargs,
        )
        assert res2.fact_stats == {"inserted": 0, "updated": 0, "unchanged": 9}
        assert res2.dim_stats == {"inserted": 0, "unchanged": 2}
        got = jdbc_read(spark, url, FACT)
        assert got.count() == 9
        # dates stored as 'YYYY-MM-DD' strings, the reference's format
        assert all(len(r["date"]) == 10 for r in got.select("date").collect())


class TestJdbcDimInsert:
    def test_insert_only_never_overwrites(self, spark, derby_url):
        dims = spark.createDataFrame(
            [("FEDFUNDS", "Fed Funds Rate", "FRED"), ("UNRATE", "Unemployment", "FRED")],
            "series_id string, series_name string, source string",
        )
        stats = jdbc_upsert(spark, dims, derby_url, DIM, ["series_id"], compare_cols=[])
        assert stats == {"inserted": 2, "unchanged": 0}
        renamed = spark.createDataFrame(
            [("FEDFUNDS", "RENAMED", "FRED"), ("GDP", "Real GDP", "FRED")],
            "series_id string, series_name string, source string",
        )
        stats = jdbc_upsert(spark, renamed, derby_url, DIM, ["series_id"], compare_cols=[])
        assert stats == {"inserted": 1, "unchanged": 1}
        got = {
            r["series_id"]: r["series_name"]
            for r in jdbc_read(spark, derby_url, DIM).collect()
        }
        # existing metadata is stable: the rename was ignored
        assert got["FEDFUNDS"] == "Fed Funds Rate"
        assert got["GDP"] == "Real GDP"


class TestJdbcDuplicateKeys:
    def test_duplicate_batch_key_keeps_max_row(self, spark, derby_url):
        """The JDBC sink shares the parquet store's merge, so it shares
        its deterministic duplicate-key rule too."""
        dup = [
            ("UNRATE", "2024-01-01", 3.9, "Unemployment Rate", "FRED"),
            ("UNRATE", "2024-01-01", 3.7, "Unemployment Rate", "FRED"),
        ]
        stats = _upsert(spark, derby_url, dup)
        assert stats == {"inserted": 1, "updated": 0, "unchanged": 0}
        (row,) = jdbc_read(spark, derby_url, FACT).collect()
        assert row["value"] == pytest.approx(3.9)
