"""Streaming KMV distinct-count sketches: standing per-group k-minimum
-values state folded per micro-batch.

KMV is mergeable exactly like the weighted reservoir
(streaming/incremental_sample.py): the k SMALLEST distinct hashes of a
union are computable from the k smallest of each side, and the md5
hash is deterministic per key — so the stream fold equals the batch
sketch bit-for-bit in any arrival order, and redelivered/overlapping
keys are no-ops by the math (identical hash, deduped). The batch-id
high-water mark stays as the family-standard second fence. State is
<= groups x k + 1 rows regardless of stream size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.operators.kmv import kmv_sketch_by
from economic_data_etl_spark.streaming.util import read_parquet_or_empty

STATE_SCHEMA = StructType(
    [
        StructField("grp", StringType(), True),
        StructField("h", LongType(), True),
        # one meta row: (grp = '\x00meta', h = last_batch_id)
        # rn is re-derived on read; not persisted.
    ]
)

_META_GRP = "\x00meta"


def read_sketches(spark: SparkSession, state_dir: str, k: int) -> DataFrame:
    """(grp, h, rn): the standing per-group sketches with ranks
    re-derived — directly usable by operators/kmv.py:kmv_estimate /
    kmv_merge."""
    rows = read_parquet_or_empty(
        spark, state_dir, STATE_SCHEMA
    ).filter(F.col("grp") != _META_GRP)
    rn = F.row_number().over(Window.partitionBy("grp").orderBy("h"))
    return rows.select("grp", "h", rn.alias("rn")).filter(
        F.col("rn") <= k
    )


def _last_batch_id(spark: SparkSession, state_dir: str) -> int:
    rows = (
        read_parquet_or_empty(spark, state_dir, STATE_SCHEMA)
        .filter(F.col("grp") == _META_GRP)
        .collect()
    )
    return rows[0].h if rows else -1


def foreach_batch_incremental_kmv(
    state_dir: str, key_col: str, group_col: str, k: int
):
    """foreachBatch sink: sketch the micro-batch and merge it into the
    standing per-group state (k smallest distinct hashes per group)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_staging(state_dir)
        if batch_id <= _last_batch_id(spark, state_dir):
            return  # redelivered batch: already folded
        batch_sk = kmv_sketch_by(batch_df, key_col, group_col, k)
        merged = (
            read_sketches(spark, state_dir, k)
            .select("grp", "h")
            .unionByName(batch_sk.select("grp", "h"))
            .distinct()
        )
        rn = F.row_number().over(
            Window.partitionBy("grp").orderBy("h")
        )
        trimmed = (
            merged.select("grp", "h", rn.alias("rn"))
            .filter(F.col("rn") <= k)
            .select("grp", "h")
        )
        meta = spark.createDataFrame(
            [(_META_GRP, batch_id)], STATE_SCHEMA
        )
        commit_staged(trimmed.unionByName(meta).write, state_dir)

    return handle
