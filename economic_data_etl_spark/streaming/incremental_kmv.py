"""Streaming KMV distinct-count sketches: standing per-group k-minimum
-values state folded per micro-batch.

KMV is mergeable exactly like the weighted reservoir
(streaming/incremental_sample.py): the k SMALLEST distinct hashes of a
union are computable from the k smallest of each side, and the md5
hash is deterministic per key — so the stream fold equals the batch
sketch bit-for-bit in any arrival order, and redelivered/overlapping
keys are no-ops by the math (identical hash, deduped). The batch-id
mark of `streaming/util.py:exactly_once_fold` stays as a second fence;
a NULL group is a group like any other. State is <= groups x k + 1
rows regardless of stream size.
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

from economic_data_etl_spark.operators.kmv import kmv_sketch_by
from economic_data_etl_spark.streaming.util import (
    BatchMark,
    exactly_once_fold,
    read_data_rows,
)

STATE_SCHEMA = StructType(
    [
        StructField("grp", StringType(), True),
        StructField("h", LongType(), True),
        # rn is re-derived on read; not persisted.
    ]
)

_META_GRP = "\x00meta"
# batch-id mark row: (grp = '\x00meta', h = batch id)
MARK = BatchMark(STATE_SCHEMA, "grp", _META_GRP, "h", (_META_GRP, None))


def _trim(sketches: DataFrame, k: int) -> DataFrame:
    """(grp, h, rn): the k smallest hashes per group, ranked."""
    rn = F.row_number().over(Window.partitionBy("grp").orderBy("h"))
    return sketches.select("grp", "h", rn.alias("rn")).filter(
        F.col("rn") <= k
    )


def read_sketches(spark: SparkSession, state_dir: str, k: int) -> DataFrame:
    """(grp, h, rn): the standing per-group sketches with ranks
    re-derived — directly usable by operators/kmv.py:kmv_estimate /
    kmv_merge."""
    return _trim(read_data_rows(spark, state_dir, MARK), k)


def foreach_batch_incremental_kmv(
    state_dir: str, key_col: str, group_col: str, k: int
):
    """foreachBatch sink: sketch the micro-batch and merge it into the
    standing per-group state (k smallest distinct hashes per group)."""

    def fold(sketches: DataFrame, batch_df: DataFrame) -> DataFrame:
        batch_sk = kmv_sketch_by(batch_df, key_col, group_col, k)
        merged = sketches.unionByName(batch_sk.select("grp", "h"))
        return _trim(merged.distinct(), k).select("grp", "h")

    return exactly_once_fold(state_dir, MARK, fold)
