"""Custom Python DataSource: reading bronze snapshots must reproduce the
explicit parsers' output."""

from __future__ import annotations

import json
import math

import pytest

from economic_data_etl_spark.sources.bls import parse_bls_batch
from economic_data_etl_spark.sources.datasource import register
from economic_data_etl_spark.sources.fred import parse_fred_observations
from tests.fixtures_ref import RAW_BLS_JSON, RAW_FRED_JSON


class TestSnapshotDataSource:
    def test_reads_fred_and_bls_snapshots(self, spark, tmp_path):
        (tmp_path / "FRED_UNRATE_2024_01_15.json").write_text(
            json.dumps(RAW_FRED_JSON)
        )
        (tmp_path / "BLS_batch_2024_01_15.json").write_text(json.dumps(RAW_BLS_JSON))

        register(spark)
        df = spark.read.format("economic_snapshots").load(str(tmp_path))
        rows = {
            (r["series_id"], r["date"]): (r["series_name"], r["value"], r["source"])
            for r in df.collect()
        }
        # 4 FRED rows + 5 BLS monthly rows (M13 dropped)
        assert len(rows) == 9

        # parity with the explicit parsers
        fred = parse_fred_observations(
            spark, RAW_FRED_JSON, "UNRATE", "unemployment_rate"
        )
        for r in fred.collect():
            assert rows[("UNRATE", r["date"])] == (
                "unemployment_rate",
                r["value"],
                "FRED",
            )
        bls = parse_bls_batch(
            spark, RAW_BLS_JSON, {"nonfarm_payrolls": "CES0000000001"}
        )
        for r in bls.collect():
            got_name, got_value, got_source = rows[(r["series_id"], r["date"])]
            assert (got_value, got_source) == (r["value"], "BLS")

    def test_stream_reader_tails_new_snapshots(self, spark, tmp_path):
        """The streaming surface of the same source: first run consumes
        the initial drop; after a NEW snapshot lands, a second run from
        the same checkpoint reads only the new file."""
        src = tmp_path / "bronze"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")
        (src / "FRED_UNRATE_2024_01_15.json").write_text(
            json.dumps(RAW_FRED_JSON)
        )
        register(spark)

        out = str(tmp_path / "out")

        def run_once():
            q = (
                spark.readStream.format("economic_snapshots")
                .load(str(src))
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return spark.read.parquet(out).collect()

        first = run_once()
        assert {r["source"] for r in first} == {"FRED"}
        n_first = len(first)
        assert n_first == 4

        (src / "BLS_batch_2024_01_16.json").write_text(json.dumps(RAW_BLS_JSON))
        second = run_once()
        # memory sink accumulates across restarts within the session:
        # total = first drop + only the new file's rows (no re-read)
        assert len(second) == n_first + 5
        assert {r["source"] for r in second} == {"FRED", "BLS"}

    def test_partitioned_by_file(self, spark, tmp_path):
        for i in range(3):
            (tmp_path / f"FRED_S{i}_2024_01_15.json").write_text(
                json.dumps(RAW_FRED_JSON)
            )
        register(spark)
        df = spark.read.format("economic_snapshots").load(str(tmp_path))
        assert df.rdd.getNumPartitions() == 3  # one partition per snapshot
        assert df.count() == 12


class TestOneParser:
    """The in-memory parsers and the bronze DataSource share one row
    parser per format, so every value and date rule holds on both."""

    # raw FRED value → settled result (the reference's
    # pd.to_numeric(errors="coerce"))
    VALUES = {
        ".": None,
        "-": None,
        "": None,
        "nan": math.nan,
        "inf": math.inf,
        "Infinity": math.inf,
        "1_000": None,
        " 3.4 ": 3.4,
        "1e3": 1000.0,
        "0x10": None,
        "3.4d": None,
    }

    @staticmethod
    def _payload(values, dates=None):
        dates = dates or [f"2023-01-{i + 1:02d}" for i in range(len(values))]
        return {"observations": [{"date": d, "value": v} for d, v in zip(dates, values)]}

    @staticmethod
    def _read_snapshot(spark, tmp_path, payload):
        (tmp_path / "FRED_UNRATE_2024_01_15.json").write_text(json.dumps(payload))
        register(spark)
        return spark.read.format("economic_snapshots").load(str(tmp_path)).collect()

    def test_fred_values_identical_on_both_paths(self, spark, tmp_path):
        payload = self._payload(list(self.VALUES))
        frame = parse_fred_observations(spark, payload, "UNRATE", "unemployment_rate")
        snapshot = self._read_snapshot(spark, tmp_path, payload)

        def by_date(rows):  # repr() makes NaN comparable
            return {r["date"]: tuple(map(repr, r)) for r in rows}

        assert by_date(frame.collect()) == by_date(snapshot)
        got = [r["value"] for r in sorted(snapshot, key=lambda r: r["date"])]
        assert list(map(repr, got)) == list(map(repr, self.VALUES.values()))

    def test_compact_date_rejected_on_both_paths(self, spark, tmp_path):
        payload = self._payload(["3.4", "3.5"], dates=["2023-01-04", "20230105"])
        with pytest.raises(ValueError, match=r"UNRATE.*'20230105'"):
            parse_fred_observations(spark, payload, "UNRATE", "unemployment_rate")
        with pytest.raises(Exception, match=r"UNRATE.*'20230105'"):
            self._read_snapshot(spark, tmp_path, payload)
