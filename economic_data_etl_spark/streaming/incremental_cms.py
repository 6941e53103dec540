"""Streaming Count-Min Sketch maintenance: each micro-batch's sketch
is ADDED into a standing sketch table — the linearity of CMS
(cms(A ∪ B) = cms(A) + cms(B) bucket-wise) makes the streaming fold
exactly the batch build, bit-for-bit, in any arrival order.

The streaming twin of `operators/cms.py:cms_build`. Per batch: one
scan of the batch (exploded by depth, collapsed map-side to
<= depth x width rows), then a bucket-wise sum with the standing
sketch — both sides sketch-sized, never stream-sized — committed with
`operators/io.py:commit_staged`; every invocation first runs
`recover_staging`, which finishes or rolls back a commit a crash
interrupted, before reading.

Restart semantics: sketch addition is NOT idempotent, so the state
carries a batch-id high-water mark exactly like the heavy-hitters
sink; a redelivered batch is skipped, making folds exactly-once under
foreachBatch's at-least-once delivery. Property-fuzzed at every kill
offset in tests/test_incremental_cms_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from economic_data_etl_spark.operators.cms import cms_build
from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.streaming.util import read_parquet_or_empty

STATE_SCHEMA = StructType(
    [
        StructField("row", LongType(), True),
        StructField("bucket", LongType(), True),
        StructField("cnt", LongType(), True),
        # one meta row: (row = -1, bucket = -1, cnt = last_batch_id)
    ]
)

_META_KEY = -1


def read_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing sketch without its meta row — directly usable by
    operators/cms.py:cms_estimate."""
    return read_parquet_or_empty(spark, state_dir, STATE_SCHEMA).filter(
        F.col("row") != _META_KEY
    )


def _last_batch_id(spark: SparkSession, state_dir: str) -> int:
    rows = (
        read_parquet_or_empty(spark, state_dir, STATE_SCHEMA)
        .filter(F.col("row") == _META_KEY)
        .collect()
    )
    return rows[0].cnt if rows else -1


def foreach_batch_incremental_cms(
    state_dir: str,
    col: str,
    depth: int = 3,
    width: int = 1024,
):
    """Build the foreachBatch function. Per micro-batch: skip if
    already folded (batch-id high-water mark), else add the batch's
    sketch bucket-wise into the standing sketch and swap."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_staging(state_dir)
        if batch_id <= _last_batch_id(spark, state_dir):
            return  # redelivered batch: already folded
        batch_sketch = cms_build(batch_df, col, depth, width).select(
            F.col("row").cast("long"), F.col("bucket"), F.col("cnt")
        )
        merged = (
            read_sketch(spark, state_dir)
            .unionByName(batch_sketch)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        meta = spark.createDataFrame(
            [(_META_KEY, _META_KEY, batch_id)], STATE_SCHEMA
        )
        # staged write is fully distributed (the sketch is tiny, but
        # nothing here assumes it fits on the driver)
        commit_staged(merged.unionByName(meta).write, state_dir)

    return handle
