"""Streaming Count-Min Sketch maintenance: each micro-batch's sketch
is ADDED into a standing sketch table — the linearity of CMS
(cms(A ∪ B) = cms(A) + cms(B) bucket-wise) makes the streaming fold
exactly the batch build, bit-for-bit, in any arrival order.

The streaming twin of `operators/cms.py:cms_build`. Per batch: one
scan of the batch (exploded by depth, collapsed map-side to
<= depth x width rows), then a bucket-wise sum with the standing
sketch — both sides sketch-sized, never stream-sized — committed with
`operators/io.py:commit_staged`.

Restart semantics: sketch addition is NOT idempotent, so the state
carries a batch-id mark and the handler is
`streaming/util.py:exactly_once_fold` — recovery, redelivery skip and
staged commit in one place. Property-fuzzed at every kill offset in
tests/test_incremental_cms_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from economic_data_etl_spark.operators.cms import cms_build
from economic_data_etl_spark.streaming.util import (
    BatchMark,
    exactly_once_fold,
    read_data_rows,
)

STATE_SCHEMA = StructType(
    [
        StructField("row", LongType(), True),
        StructField("bucket", LongType(), True),
        StructField("cnt", LongType(), True),
    ]
)

_META_KEY = -1
# batch-id mark row: (row = -1, bucket = -1, cnt = batch id)
MARK = BatchMark(
    STATE_SCHEMA, "row", _META_KEY, "cnt", (_META_KEY, _META_KEY, None)
)


def read_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing sketch without its mark row — directly usable by
    operators/cms.py:cms_estimate."""
    return read_data_rows(spark, state_dir, MARK)


def foreach_batch_incremental_cms(
    state_dir: str,
    col: str,
    depth: int = 3,
    width: int = 1024,
):
    """Build the foreachBatch function: add each new batch's sketch
    bucket-wise into the standing sketch."""

    def fold(sketch: DataFrame, batch_df: DataFrame) -> DataFrame:
        batch_sketch = cms_build(batch_df, col, depth, width).select(
            F.col("row").cast("long"), F.col("bucket"), F.col("cnt")
        )
        return (
            sketch.unionByName(batch_sketch)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return exactly_once_fold(state_dir, MARK, fold)
