"""Partitioned-layout writers and pruning-aware readers.

The silver/gold layout story at 100 TB: facts written partitioned by a
coarse time column (and optionally bucketed by join key, see
operators/skew.py). A reader filtering on the partition column touches
only the matching directories — the scan lists N files, not the table
(`PartitionFilters` in the plan, verified in tests/test_io.py).

It also holds the one commit protocol for replacing a parquet table
(`commit_staged` + `recover_staging`), used by the warehouse upsert,
compaction and every standing-state streaming sink.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write a table hive-partitioned by `partition_cols`.

    Partition columns should be low-cardinality (date-derived buckets,
    source ids): each distinct combination is a directory, and >~10k
    partitions per write degrades listing and small-files behavior.
    """
    df.write.mode(mode).partitionBy(*partition_cols).format(fmt).save(path)


def read_partitioned(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a partitioned layout; partition-column filters prune
    directories before any data file is opened."""
    return spark.read.format(fmt).load(path)


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
    files_per_partition: int = 1,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Small-files compaction: rewrite a partitioned table with a bounded
    file count per partition.

    Streaming/incremental writers accrete many small files per partition;
    at scale that degrades scan listing and parquet row-group efficiency.
    `repartition(partition_cols)` co-locates each hive partition's rows so
    the writer emits `files_per_partition` files for it;
    `sortWithinPartitions` additionally clusters rows so min/max row-group
    stats become selective (poor-man's data clustering). Committed with
    `commit_staged`, like the upsert.
    """
    from pyspark.sql import functions as F

    recover_staging(path)
    df = spark.read.parquet(path)
    cols = [F.col(c) for c in partition_cols]
    compacted = df.repartition(files_per_partition * max(1, len(partition_cols)), *cols)
    if sort_cols:
        compacted = compacted.sortWithinPartitions(*sort_cols)
    commit_staged(compacted.write.partitionBy(*partition_cols), path)


def commit_staged(writer: DataFrameWriter, target: str) -> None:
    """Replace the parquet table at `target` with what `writer` writes.

    1. write to `<target>.staging` (Spark writes `_SUCCESS` last);
    2. rename `target` to `<target>.old`;
    3. rename staging to `target`;
    4. delete `.old`.

    Each step is a single rename or a delete of a directory no reader
    uses, so a crash at any point leaves either the old or the new table
    recoverable by `recover_staging`, which callers run before every
    read of `target`. Nothing partially deleted is ever under `target`.
    Readers see a plain parquet directory throughout.

    Local-FS scope (os.rename); a production deployment points these
    tables at a transactional table format instead.
    """
    staging, old = f"{target}.staging", f"{target}.old"
    writer.mode("overwrite").parquet(staging)
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(staging, target)
    if os.path.exists(old):
        shutil.rmtree(old)


def recover_staging(target: str) -> None:
    """Finish — or roll back — a `commit_staged` interrupted by a crash.

    With `target` missing, a complete staging dir (`_SUCCESS` present)
    is the committed next table and is promoted; otherwise `.old` is
    the last committed table and is restored. A partial staging dir is
    never promoted: for the streaming sinks its missing meta row would
    read as batch id -1 and the redelivered batch would fold twice.
    Any leftover staging or `.old` dir is then deleted.
    """
    staging, old = f"{target}.staging", f"{target}.old"
    if not os.path.exists(target):
        if os.path.exists(os.path.join(staging, "_SUCCESS")):
            os.rename(staging, target)
        elif os.path.exists(old):
            os.rename(old, target)
    for leftover in (staging, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
