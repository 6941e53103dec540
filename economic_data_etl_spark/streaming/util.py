"""Shared helpers for the incremental/streaming sinks.

`exactly_once_fold` is the one foreachBatch sequence of the
batch-marked sinks (CMS, KLL, KMV, CUSUM, Holt-Winters, LM, NB,
weighted sample): each declares its `BatchMark` and its fold, and the
helper owns recovery, the redelivery skip, the mark row and the staged
commit. `read_data_rows` / `last_batch_id` are the one reader of such a
state table. The erasure helpers below serve the standing indexes.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from economic_data_etl_spark.operators.io import (
    commit_staged,
    read_parquet_or_empty,
    recover_staging,
)


@dataclass(frozen=True)
class BatchMark:
    """Where a sink's state table records the last folded batch id.

    The mark is one sentinel row IN the state table, so state and mark
    are replaced together by one `commit_staged`: a crash can never
    leave a folded state with a stale mark, or the reverse.

    - `schema`: the state table's schema (StructType or DDL string);
    - `col` / `value`: the sentinel that identifies the mark row (no
      data row holds `value` in `col`; NULL in `col` is data);
    - `id_col`: the column holding the batch id on the mark row;
    - `row`: the mark row as written, its `id_col` slot filled per batch.
    """

    schema: StructType | str
    col: str
    value: object
    id_col: str
    row: tuple


def _is_mark(mark: BatchMark) -> Column:
    # null-safe: a NULL key is data, never the mark row
    return F.col(mark.col).eqNullSafe(F.lit(mark.value))


def read_data_rows(
    spark: SparkSession, state_dir: str, mark: BatchMark
) -> DataFrame:
    """The state table without its mark row (empty before the first
    batch)."""
    return read_parquet_or_empty(spark, state_dir, mark.schema).filter(
        ~_is_mark(mark)
    )


def last_batch_id(
    spark: SparkSession, state_dir: str, mark: BatchMark
) -> int:
    """The id of the last folded batch, -1 before the first."""
    rows = (
        read_parquet_or_empty(spark, state_dir, mark.schema)
        .filter(_is_mark(mark))
        .select(mark.id_col)
        .collect()
    )
    return rows[0][0] if rows else -1


def exactly_once_fold(
    state_dir: str,
    mark: BatchMark,
    fold: Callable[[DataFrame, DataFrame], DataFrame],
):
    """The foreachBatch function of a batch-marked sink.

    Per micro-batch: finish or roll back an interrupted commit, skip the
    batch if its id is at or below the mark (redelivery under
    foreachBatch's at-least-once contract), else
    `fold(data_rows, batch_df)` — returning the new data rows in the
    state schema — and commit them plus the new mark row with
    `commit_staged`. Folds need not be idempotent.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_staging(state_dir)
        if batch_id <= last_batch_id(spark, state_dir, mark):
            return  # redelivered batch: already folded
        merged = fold(read_data_rows(spark, state_dir, mark), batch_df)
        row = spark.createDataFrame([mark.row], mark.schema)
        row = row.withColumn(
            mark.id_col,
            F.lit(batch_id).cast(row.schema[mark.id_col].dataType),
        )
        commit_staged(merged.unionByName(row).write, state_dir)

    return handle


def erase_ids(df: DataFrame, ids: DataFrame, cols: list[str]) -> DataFrame:
    """Drop every row of `df` whose value in ANY of `cols` appears in
    the single-column id frame `ids` — the shared masking/compaction
    step of the standing-index erasure paths (a pairs table is erased
    on BOTH endpoints, an index table on its one id column). One
    anti-join per column; when the revoked set is small (the normal
    right-to-be-forgotten shape) each anti-join broadcasts."""
    ids = ids.select(F.col(ids.columns[0]).alias("__erase_id"))
    out_cols = df.columns
    for c in cols:
        df = df.join(
            ids.withColumnRenamed("__erase_id", c), c, "left_anti"
        )
    # a join moves its key to the front — restore the caller's order
    return df.select(*out_cols)


def tombstone_then_compact(
    spark: SparkSession,
    tombstones_dir: str,
    tombstones_schema: StructType,
    revoked: DataFrame,
    tables: list[tuple[str, StructType, list[str]]],
) -> None:
    """The shared tombstone-then-compact erasure sequence for standing
    indexes whose erasure is a pure per-table anti-join (BM25-shaped:
    semantic pairs/assignments, pHash fingerprints/pairs). For indexes
    that must REASSIGN state to survivors (substring gram firsts, crawl
    frontier firsts) see their modules' patch-carrying variants.

    1. APPEND revoked ids to the tombstone table — the commit point;
       the caller's read_*_erased masks every table from here on, and
       a replayed append only adds duplicate tombstone rows.
    2. Compact each table in turn: anti-join rewrite committed with
       `commit_staged` (operators/io.py), after `recover_staging` has
       finished or rolled back any interrupted commit. Re-erasing
       already-compacted rows is a no-op, so any crash+replay
       interleaving converges.
    3. Clear the tombstone table LAST — until then it keeps masking.

    `tables`: (path, schema, match_cols) — a row is erased when any of
    match_cols holds a tombstoned id.
    """
    import shutil

    id_col = tombstones_schema.fieldNames()[0]
    ids = revoked.select(
        F.col(revoked.columns[0])
        .cast(tombstones_schema[id_col].dataType)
        .alias(id_col)
    )
    ids.write.mode("append").parquet(tombstones_dir)  # commit point

    tombs = read_parquet_or_empty(
        spark, tombstones_dir, tombstones_schema
    ).dropDuplicates([id_col])
    for path, schema, cols in tables:
        recover_staging(path)
        kept = erase_ids(
            read_parquet_or_empty(spark, path, schema), tombs, cols
        )
        commit_staged(kept.write, path)
    shutil.rmtree(tombstones_dir)  # cleared last

