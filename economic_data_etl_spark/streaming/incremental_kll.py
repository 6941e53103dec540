"""Streaming quantile-sketch maintenance: each micro-batch is sketched
once on arrival and MERGED into the standing compactor sketch —
sketch merge is associative (level lists concatenate, compaction
counters add), so the streaming fold honors the same self-reported
rank-error bound as a batch build, and the standing state stays
O(k log(n/k)) rows however long the stream runs.

The streaming twin of `operators/kll.py:kll_sketch` — running
percentiles over an unbounded economic stream (latency SLAs, price
distributions) without ever sorting history. `quantiles_now` reads the
answer at any point in the stream.

Restart semantics: sketch merges are NOT idempotent, so the state
carries a batch-id high-water mark exactly like the CMS/heavy-hitters/
CUSUM sinks; a redelivered batch is skipped, making folds exactly-once
under foreachBatch's at-least-once delivery. The staged-write +
atomic-swap sequence (and its crash-window recovery) is the trending
sink's pattern. Property-fuzzed at every kill offset in
tests/test_incremental_kll_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.operators.kll import (
    SKETCH_SCHEMA,
    kll_quantiles,
    kll_sketch,
    merge_sketch_rows,
)
from economic_data_etl_spark.streaming.util import read_parquet_or_empty

# Standing state = serialized sketch rows plus one meta row
# (level = -2, value = -2, cnt = last_batch_id).
_BATCH_META_LEVEL = -2


def read_sketch_rows(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing sketch without its batch-id row — directly usable
    by operators/kll.py:kll_quantiles / merge_sketch_rows."""
    return read_parquet_or_empty(
        spark, state_dir, SKETCH_SCHEMA
    ).filter(F.col("level") != _BATCH_META_LEVEL)


def quantiles_now(
    spark: SparkSession, state_dir: str, qs: list[float]
) -> list[tuple[float, float, int, int]]:
    """(q, estimate, total_weight, rank_error_bound) served from the
    standing sketch (summary-sized read)."""
    return kll_quantiles(
        read_sketch_rows(spark, state_dir).toPandas(), qs
    )


def _last_batch_id(spark: SparkSession, state_dir: str) -> int:
    rows = (
        read_parquet_or_empty(spark, state_dir, SKETCH_SCHEMA)
        .filter(F.col("level") == _BATCH_META_LEVEL)
        .collect()
    )
    return rows[0].cnt if rows else -1


def foreach_batch_incremental_kll(
    state_dir: str, col: str, k: int = 256
):
    """Build the foreachBatch function. Per micro-batch: skip if
    already folded (batch-id high-water mark), else sketch the batch
    and merge it into the standing sketch, staged + swapped."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_staging(state_dir)
        if batch_id <= _last_batch_id(spark, state_dir):
            return  # redelivered batch: already folded
        batch_sketch = kll_sketch(batch_df, col, k)
        merged = (
            read_sketch_rows(spark, state_dir)
            .unionByName(batch_sketch)
            .groupBy(F.lit(1).alias("g"))
            .applyInPandas(
                lambda _, pdf: merge_sketch_rows(pdf, k), SKETCH_SCHEMA
            )
        )
        meta = spark.createDataFrame(
            [(_BATCH_META_LEVEL, float(_BATCH_META_LEVEL), batch_id)],
            SKETCH_SCHEMA,
        )
        # staged write is fully distributed (the sketch is tiny, but
        # nothing here assumes it fits on the driver)
        commit_staged(merged.unionByName(meta).write, state_dir)

    return handle
