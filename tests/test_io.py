"""Partitioned layout: round-trip fidelity + partition pruning proof."""

from __future__ import annotations

import contextlib
import io
import os
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.io import read_partitioned, write_partitioned
from economic_data_etl_spark.sources.tables import load_table
from tests.crash_points import Killed, crash_offsets, kill_fs_call


def _files_per_partition(path: str) -> Counter:
    return Counter(f.parent.name for f in Path(path).glob("*=*/*.parquet"))


class TestPartitionedLayout:
    def test_roundtrip_and_pruning(self, spark, sf_dir, tmp_path):
        orders = load_table(spark, sf_dir, "orders").withColumn(
            "order_year", F.year("o_orderdate")
        )
        path = str(tmp_path / "orders_by_year")
        write_partitioned(orders, path, ["order_year"])

        back = read_partitioned(spark, path)
        assert back.count() == orders.count()

        filtered = back.filter(F.col("order_year") == 1996)
        want = orders.filter(F.col("order_year") == 1996).count()
        assert filtered.count() == want

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            filtered.explain("formatted")
        plan = buf.getvalue()
        pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
        assert "order_year" in pf  # pruning happens at listing time

    def test_compaction_bounds_file_count(self, spark, sf_dir, tmp_path):
        from economic_data_etl_spark.operators.io import compact_partitioned

        orders = load_table(spark, sf_dir, "orders").withColumn(
            "order_year", F.year("o_orderdate")
        )
        path = str(tmp_path / "orders_fragmented")
        # simulate an accreting writer: 8 small files per partition
        orders.repartition(8).write.partitionBy("order_year").parquet(path)
        before = len(list(Path(path).glob("order_year=*/*.parquet")))
        n_parts = orders.select("order_year").distinct().count()
        assert before > n_parts  # genuinely fragmented

        compact_partitioned(spark, path, ["order_year"], files_per_partition=1)
        per_dir = _files_per_partition(path)
        assert all(n <= 2 for n in per_dir.values())  # bounded per partition
        back = spark.read.parquet(path)
        assert back.count() == orders.count()

    def test_compaction_crash_at_any_commit_step_loses_no_rows(self, spark, tmp_path):
        """A process death at any point of compaction's table commit,
        then a re-run, leaves the same rows compacted and no staging or
        `.old` directory behind."""
        from economic_data_etl_spark.operators.io import compact_partitioned

        rows = [(i, f"v{i}", 2000 + i % 3) for i in range(30)]
        df = spark.createDataFrame(rows, "id int, v string, yr int")

        def fragmented(base):
            base.mkdir()
            path = str(base / "t")
            df.repartition(6).write.partitionBy("yr").parquet(path)
            return path

        def table(path):
            return sorted(tuple(r) for r in spark.read.parquet(path).select("id", "v", "yr").collect())

        probe = fragmented(tmp_path / "probe")
        with kill_fs_call(None) as calls:
            compact_partitioned(spark, probe, ["yr"])
        want = sorted(rows)

        cases = [(k, False) for k in crash_offsets(len(calls))]
        cases += [(k, True) for k, c in enumerate(calls) if c == "rmtree"]
        for k, partial in cases:
            base = tmp_path / f"k{k}{'p' * partial}"
            path = fragmented(base)
            with pytest.raises(Killed), kill_fs_call(k, partial):
                compact_partitioned(spark, path, ["yr"])
            compact_partitioned(spark, path, ["yr"])
            case = f"kill_at={k} partial={partial}"
            assert table(path) == want, case
            assert all(n <= 2 for n in _files_per_partition(path).values()), case
            assert os.listdir(base) == ["t"], case

    def test_partitioned_json_roundtrip(self, spark, sf_dir, tmp_path):
        docs = load_table(spark, sf_dir, "documents")
        path = str(tmp_path / "docs_by_source")
        write_partitioned(docs, path, ["source"], fmt="json")
        back = read_partitioned(spark, path, fmt="json")
        assert back.count() == docs.count()
        assert back.filter(F.col("source") == "src1").count() == docs.filter(
            F.col("source") == "src1"
        ).count()


def test_one_commit_protocol():
    """Tables are replaced one way: outside operators/io.py no engine
    module renames a directory or names a staging path."""
    import economic_data_etl_spark

    root = Path(economic_data_etl_spark.__file__).parent
    offenders = [
        f"{py.relative_to(root)}:{n}"
        for py in sorted(root.rglob("*.py"))
        if py != root / "operators" / "io.py"
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if "os.rename(" in line or ".staging" in line
    ]
    assert offenders == []
