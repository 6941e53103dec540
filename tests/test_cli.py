"""CLI offline mode: snapshots → warehouse end-to-end via __main__."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.fixtures_ref import RAW_BLS_JSON, RAW_FRED_JSON


def _offline(raw, wh):
    return subprocess.run(
        [
            sys.executable,
            "-m",
            "economic_data_etl_spark",
            "--offline",
            "--raw-dir",
            str(raw),
            "--warehouse",
            str(wh),
        ],
        capture_output=True,
        text=True,
        timeout=600,
        # The replay is 9 rows; a 4-thread child JVM avoids fighting the
        # test session's local[32] JVM for cores (the 300 s timeouts were
        # pure scheduler contention, not work).
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )


class TestOfflineCli:
    def test_offline_replay_builds_warehouse(self, spark, tmp_path):
        raw = tmp_path / "raw"
        raw.mkdir()
        (raw / "FRED_UNRATE_2024_01_15.json").write_text(json.dumps(RAW_FRED_JSON))
        (raw / "BLS_batch_2024_01_15.json").write_text(json.dumps(RAW_BLS_JSON))
        wh = tmp_path / "warehouse"

        proc = _offline(raw, wh)
        assert proc.returncode == 0, proc.stderr[-2000:]

        fact = spark.read.parquet(str(wh / "fact_economic_observations"))
        dim = spark.read.parquet(str(wh / "dim_series"))
        assert fact.count() == 9  # 4 FRED + 5 BLS monthly rows
        assert dim.count() == 14  # full registry (9 FRED + 5 BLS)

    def test_malformed_snapshot_fails_the_load_phase(self, tmp_path):
        """A snapshot the parser rejects fails the run the way
        run_pipeline does: the phase is named and the exit code is 1,
        no traceback escapes main."""
        raw = tmp_path / "raw"
        raw.mkdir()
        bad = json.loads(json.dumps(RAW_FRED_JSON))
        bad["observations"][0]["date"] = "20240101"  # compact dates are rejected
        (raw / "FRED_UNRATE_2024_01_15.json").write_text(json.dumps(bad))

        proc = _offline(raw, tmp_path / "warehouse")
        assert proc.returncode == 1, proc.stderr[-2000:]
        assert "Pipeline failed during loading" in proc.stderr
        assert "UNRATE: bad observation date" in proc.stderr
