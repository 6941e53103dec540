"""Upsert operator parity tests (reference tests/test_load.py:12-161):
insert/update/unchanged stats triple, NaN-safe epsilon equality, rerun
idempotency, insert-only dim semantics, deterministic duplicate keys,
staged parquet rewrite, crash safety of the table commit — all through
the production store, `upsert_parquet`."""

from __future__ import annotations

import datetime
import logging
import os

import pytest

from economic_data_etl_spark.operators import upsert as U
from tests.crash_points import Killed, crash_offsets, kill_fs_call

KEYS = ["series_id", "date"]
COMPARE = ["value", "series_name", "source"]


def _fact(spark, rows):
    return spark.createDataFrame(
        [
            (sid, "unemployment_rate", datetime.date.fromisoformat(d), v, "FRED")
            for sid, d, v in rows
        ],
        schema="series_id string, series_name string, date date, value double, source string",
    )


def _stored(spark, target):
    return {r["date"]: r["value"] for r in spark.read.parquet(target).collect()}


class TestUpsertStats:
    def test_fresh_insert(self, spark, tmp_path):
        target = str(tmp_path / "t")
        incoming = _fact(spark, [("U", "2023-01-01", 3.4), ("U", "2023-02-01", None)])
        stats = U.upsert_parquet(spark, incoming, target, KEYS, COMPARE)
        assert stats == {"inserted": 2, "updated": 0, "unchanged": 0}
        assert spark.read.parquet(target).count() == 2

    def test_rerun_is_unchanged(self, spark, tmp_path):
        target = str(tmp_path / "t")
        batch = _fact(
            spark,
            [("U", "2023-01-01", 3.4), ("U", "2023-02-01", None), ("U", "2023-03-01", 3.6)],
        )
        U.upsert_parquet(spark, batch, target, KEYS, COMPARE)
        stats = U.upsert_parquet(spark, batch, target, KEYS, COMPARE)
        assert stats == {"inserted": 0, "updated": 0, "unchanged": 3}
        assert spark.read.parquet(target).count() == 3  # no duplicate rows

    def test_revision_updates_in_place(self, spark, tmp_path):
        target = str(tmp_path / "t")
        v1 = _fact(spark, [("U", "2023-01-01", 3.4), ("U", "2023-02-01", 3.5)])
        U.upsert_parquet(spark, v1, target, KEYS, COMPARE)
        v2 = _fact(spark, [("U", "2023-01-01", 9.9), ("U", "2023-02-01", 3.5)])
        stats = U.upsert_parquet(spark, v2, target, KEYS, COMPARE)
        assert stats == {"inserted": 0, "updated": 1, "unchanged": 1}
        assert _stored(spark, target)[datetime.date(2023, 1, 1)] == 9.9

    def test_partial_stats_triple(self, spark, tmp_path):
        # 1 inserted, 2 updated, 0 unchanged (reference tests/test_load.py:98-123)
        target = str(tmp_path / "t")
        v1 = _fact(spark, [("U", "2023-01-01", 1.0), ("U", "2023-02-01", 2.0)])
        U.upsert_parquet(spark, v1, target, KEYS, COMPARE)
        v2 = _fact(
            spark,
            [("U", "2023-01-01", 1.5), ("U", "2023-02-01", 2.5), ("U", "2023-03-01", 3.0)],
        )
        stats = U.upsert_parquet(spark, v2, target, KEYS, COMPARE)
        assert stats == {"inserted": 1, "updated": 2, "unchanged": 0}


class TestNanSafeEquality:
    def test_null_vs_null_unchanged(self, spark, tmp_path):
        target = str(tmp_path / "t")
        batch = _fact(spark, [("U", "2023-01-01", None)])
        U.upsert_parquet(spark, batch, target, KEYS, COMPARE)
        stats = U.upsert_parquet(spark, batch, target, KEYS, COMPARE)
        assert stats["unchanged"] == 1

    def test_null_to_value_is_update(self, spark, tmp_path):
        target = str(tmp_path / "t")
        U.upsert_parquet(spark, _fact(spark, [("U", "2023-01-01", None)]), target, KEYS, COMPARE)
        stats = U.upsert_parquet(
            spark, _fact(spark, [("U", "2023-01-01", 3.4)]), target, KEYS, COMPARE
        )
        assert stats["updated"] == 1

    def test_epsilon_tolerance(self, spark, tmp_path):
        target = str(tmp_path / "t")
        U.upsert_parquet(spark, _fact(spark, [("U", "2023-01-01", 3.4)]), target, KEYS, COMPARE)
        stats = U.upsert_parquet(
            spark, _fact(spark, [("U", "2023-01-01", 3.4 + 1e-12)]), target, KEYS, COMPARE
        )
        assert stats["unchanged"] == 1  # |Δ| < 1e-9 counts as equal
        # the unchanged key keeps its stored value
        assert _stored(spark, target)[datetime.date(2023, 1, 1)] == 3.4


class TestDimInsertOnly:
    def test_no_compare_columns_is_insert_only(self, spark, tmp_path):
        """No compare columns = the dim table's insert-only mode
        (reference src/load.py:108-134): new keys are inserted, a
        matched key is unchanged and keeps its stored row."""
        target = str(tmp_path / "dim")
        schema = "series_id string, series_name string, source string"
        existing = spark.createDataFrame([("A1", "a", "FRED")], schema)
        U.upsert_parquet(spark, existing, target, ["series_id"], compare_cols=[])
        incoming = spark.createDataFrame(
            [("A1", "renamed", "FRED"), ("B1", "b", "BLS")], schema
        )
        stats = U.upsert_parquet(spark, incoming, target, ["series_id"], compare_cols=[])
        assert stats == {"inserted": 1, "unchanged": 1}
        stored = {r["series_id"]: r["series_name"] for r in spark.read.parquet(target).collect()}
        assert stored == {"A1": "a", "B1": "b"}


class TestDuplicateKeys:
    def test_same_row_kept_in_either_partition_order(self, spark, tmp_path, caplog):
        """A batch with two rows for one key stores the same row however
        the batch is partitioned, and the drop is logged, not counted in
        the stats."""
        d = datetime.date(2023, 1, 1)
        rows = [("U", "unemployment_rate", d, 1.0, "FRED"), ("U", "unemployment_rate", d, 2.0, "FRED")]
        schema = "series_id string, series_name string, date date, value double, source string"
        stored = []
        for i, order in enumerate((rows, rows[::-1])):
            target = str(tmp_path / f"t{i}")
            # one row per partition, so partition order is row order
            batch = spark.createDataFrame(spark.sparkContext.parallelize(order, 2), schema)
            with caplog.at_level(logging.WARNING, logger=U.__name__):
                stats = U.upsert_parquet(spark, batch, target, KEYS, COMPARE)
            assert stats == {"inserted": 1, "updated": 0, "unchanged": 0}
            assert "dropped 1 duplicate-key" in caplog.text
            caplog.clear()
            stored.append(_stored(spark, target))
        assert stored[0] == stored[1] == {d: 2.0}


class TestParquetUpsert:
    def test_staged_rewrite_roundtrip(self, spark, tmp_path):
        target = str(tmp_path / "fact")
        b1 = _fact(spark, [("U", "2023-01-01", 3.4)])
        s1 = U.upsert_parquet(spark, b1, target, KEYS, COMPARE)
        assert s1 == {"inserted": 1, "updated": 0, "unchanged": 0}
        b2 = _fact(spark, [("U", "2023-01-01", 9.9), ("U", "2023-02-01", 1.0)])
        s2 = U.upsert_parquet(spark, b2, target, KEYS, COMPARE)
        assert s2 == {"inserted": 1, "updated": 1, "unchanged": 0}
        final = {r["date"]: r["value"] for r in spark.read.parquet(target).collect()}
        assert final == {
            datetime.date(2023, 1, 1): 9.9,
            datetime.date(2023, 2, 1): 1.0,
        }


class TestCrashSafeCommit:
    """A process death at any point of the table commit loses no stored
    row: re-running the same batch gives the table a crash-free run
    gives, and leaves no staging or `.old` directory behind."""

    SEED = [("U", "2023-01-01", 3.4), ("U", "2023-02-01", 3.5), ("U", "2023-03-01", 3.6)]
    BATCH = [("U", "2023-04-01", 3.7)]

    def _seeded(self, spark, base):
        base.mkdir()
        target = str(base / "fact")
        U.upsert_parquet(spark, _fact(spark, self.SEED), target, KEYS, COMPARE)
        return target

    def _upsert(self, spark, target):
        return U.upsert_parquet(spark, _fact(spark, self.BATCH), target, KEYS, COMPARE)

    def _table(self, spark, target):
        return sorted(tuple(r) for r in spark.read.parquet(target).collect())

    def test_crash_at_any_commit_step_loses_no_rows(self, spark, tmp_path):
        clean = self._seeded(spark, tmp_path / "clean")
        with kill_fs_call(None) as calls:
            self._upsert(spark, clean)
        want = self._table(spark, clean)
        assert len(want) == 4

        cases = [(k, False) for k in crash_offsets(len(calls))]
        cases += [(k, True) for k, c in enumerate(calls) if c == "rmtree"]
        # again: a second death on the first file-system call of the
        # retry lands inside recovery whenever there is something to recover
        for again in (False, True):
            for k, partial in cases:
                base = tmp_path / f"k{k}{'p' * partial}{'a' * again}"
                target = self._seeded(spark, base)
                with pytest.raises(Killed), kill_fs_call(k, partial):
                    self._upsert(spark, target)
                if again:
                    with pytest.raises(Killed), kill_fs_call(0, partial=True):
                        self._upsert(spark, target)
                self._upsert(spark, target)
                case = f"kill_at={k} partial={partial} again={again}"
                assert self._table(spark, target) == want, case
                assert os.listdir(base) == ["fact"], case


class TestReferenceUpdateSemantics:
    """Two corners of the reference's UPDATE path (src/load.py:78-103)
    that a per-column coalesce silently diverges on."""

    def test_revision_to_null_is_stored(self, spark, tmp_path):
        """An updated row takes the incoming row WHOLESALE: a value
        revised to NULL (FRED '.' marker on re-release) must land as
        NULL, not resurrect the old number via coalesce."""
        import datetime

        from economic_data_etl_spark.operators.upsert import upsert_parquet

        target = str(tmp_path / "t")
        schema = "series_id string, date date, value double, series_name string, source string"
        d = datetime.date(2023, 1, 1)
        first = spark.createDataFrame(
            [("U", d, 5.0, "UNRATE", "FRED")], schema
        )
        upsert_parquet(spark, first, target, ["series_id", "date"], ["value"])
        revised = spark.createDataFrame(
            [("U", d, None, "UNRATE", "FRED")], schema
        )
        stats = upsert_parquet(
            spark, revised, target, ["series_id", "date"], ["value"]
        )
        assert stats == {"inserted": 0, "updated": 1, "unchanged": 0}
        (row,) = spark.read.parquet(target).collect()
        assert row["value"] is None

    def test_unchanged_row_keeps_existing_noncompare_columns(
        self, spark, tmp_path
    ):
        """The reference issues NO UPDATE for unchanged rows, so an
        incoming row with an equal value but a different series_name
        must leave the stored row untouched."""
        import datetime

        from economic_data_etl_spark.operators.upsert import upsert_parquet

        target = str(tmp_path / "t")
        schema = "series_id string, date date, value double, series_name string, source string"
        d = datetime.date(2023, 1, 1)
        first = spark.createDataFrame(
            [("U", d, 5.0, "OLD_NAME", "FRED")], schema
        )
        upsert_parquet(spark, first, target, ["series_id", "date"], ["value"])
        same_value = spark.createDataFrame(
            [("U", d, 5.0, "NEW_NAME", "FRED")], schema
        )
        stats = upsert_parquet(
            spark, same_value, target, ["series_id", "date"], ["value"]
        )
        assert stats == {"inserted": 0, "updated": 0, "unchanged": 1}
        (row,) = spark.read.parquet(target).collect()
        assert row["series_name"] == "OLD_NAME"

    def test_updated_row_refreshes_noncompare_columns(self, spark, tmp_path):
        """When the value DID change, the reference's UPDATE also sets
        series_name/source from the incoming row."""
        import datetime

        from economic_data_etl_spark.operators.upsert import upsert_parquet

        target = str(tmp_path / "t")
        schema = "series_id string, date date, value double, series_name string, source string"
        d = datetime.date(2023, 1, 1)
        first = spark.createDataFrame(
            [("U", d, 5.0, "OLD_NAME", "FRED")], schema
        )
        upsert_parquet(spark, first, target, ["series_id", "date"], ["value"])
        revised = spark.createDataFrame(
            [("U", d, 6.0, "NEW_NAME", "FRED")], schema
        )
        stats = upsert_parquet(
            spark, revised, target, ["series_id", "date"], ["value"]
        )
        assert stats == {"inserted": 0, "updated": 1, "unchanged": 0}
        (row,) = spark.read.parquet(target).collect()
        assert row["series_name"] == "NEW_NAME"
        assert row["value"] == 6.0
