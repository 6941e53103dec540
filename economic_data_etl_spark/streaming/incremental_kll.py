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
carries a batch-id mark and the handler is
`streaming/util.py:exactly_once_fold` — crash recovery, redelivery
skip and staged commit in one place. Property-fuzzed at every kill
offset in tests/test_incremental_kll_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.kll import (
    SKETCH_SCHEMA,
    kll_quantiles,
    kll_sketch,
    merge_sketch_rows,
)
from economic_data_etl_spark.streaming.util import (
    BatchMark,
    exactly_once_fold,
    read_data_rows,
)

# Standing state = serialized sketch rows plus the batch-id mark row
# (level = -2, value = -2.0, cnt = batch id).
_BATCH_META_LEVEL = -2
MARK = BatchMark(
    SKETCH_SCHEMA,
    "level",
    _BATCH_META_LEVEL,
    "cnt",
    (_BATCH_META_LEVEL, float(_BATCH_META_LEVEL), None),
)


def read_sketch_rows(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing sketch without its batch-id row — directly usable
    by operators/kll.py:kll_quantiles / merge_sketch_rows."""
    return read_data_rows(spark, state_dir, MARK)


def quantiles_now(
    spark: SparkSession, state_dir: str, qs: list[float]
) -> list[tuple[float, float, int, int]]:
    """(q, estimate, total_weight, rank_error_bound) served from the
    standing sketch (summary-sized read)."""
    return kll_quantiles(
        read_sketch_rows(spark, state_dir).toPandas(), qs
    )


def foreach_batch_incremental_kll(
    state_dir: str, col: str, k: int = 256
):
    """Build the foreachBatch function: sketch each new batch and merge
    it into the standing sketch."""

    def fold(sketch: DataFrame, batch_df: DataFrame) -> DataFrame:
        return (
            sketch.unionByName(kll_sketch(batch_df, col, k))
            .groupBy(F.lit(1).alias("g"))
            .applyInPandas(
                lambda _, pdf: merge_sketch_rows(pdf, k), SKETCH_SCHEMA
            )
        )

    return exactly_once_fold(state_dir, MARK, fold)
