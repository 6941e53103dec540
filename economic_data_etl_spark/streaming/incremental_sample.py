"""Streaming weighted reservoir sampling: a standing top-k sample
index maintained per micro-batch.

The streaming twin of `curation_weighted_sample`
(Efraimidis-Spirakis A-Res): every doc's rank key
ln(u) / weight — with u the portable md5 bucket of (salt || doc_id) —
is DETERMINISTIC, so the weighted sample without replacement is just
"the k largest keys seen so far". That makes the reservoir MERGEABLE
(top-k of a union = top-k of the union of top-ks) and the stream fold
exactly the batch sample in any arrival order.

Per batch: key the batch rows (one map expression), union with the
standing <= k-row reservoir, dedupe by doc_id (a redelivered or
overlapping doc carries the identical key, so re-folding is a no-op by
construction — idempotence comes from the math, with the batch-id mark
of `streaming/util.py:exactly_once_fold` kept as a second fence), trim
to the k largest, staged commit. State is <= k+1 rows regardless of
stream size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from economic_data_etl_spark.operators.training import hash_bucket
from economic_data_etl_spark.streaming.util import (
    BatchMark,
    exactly_once_fold,
    read_data_rows,
)

STATE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("source", StringType(), True),
        StructField("weight", LongType(), True),
        StructField("rk", DoubleType(), True),
        StructField("bid", LongType(), True),  # NULL except on the mark
    ]
)

_META_ID = -1
# batch-id mark row: (doc_id = -1, source/weight/rk NULL, bid = batch id)
MARK = BatchMark(
    STATE_SCHEMA, "doc_id", _META_ID, "bid", (_META_ID, None, None, None, None)
)
SALT = "wsample-v1"  # shared with curation_weighted_sample


def rank_keyed(
    df: DataFrame, weight_col: str = "n_chars"
) -> DataFrame:
    """(doc_id, source, weight, rk): the A-Res rank key per doc.
    Zero-weight docs are excluded (they can never be sampled)."""
    u = (hash_bucket(F.col("doc_id"), SALT) + F.lit(0.5)) / F.lit(
        65536.0
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            "doc_id",
            "source",
            F.col(weight_col).cast("long").alias("weight"),
            (F.log(u) / F.col(weight_col)).alias("rk"),
        )
    )


def read_reservoir(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing sample rows (no mark row), unordered."""
    return read_data_rows(spark, state_dir, MARK).select(
        "doc_id", "source", "weight", "rk"
    )


def sample_now(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current sample in rank order — the batch query's output shape
    (doc_id, source, weight, rk), largest keys first."""
    return read_reservoir(spark, state_dir).orderBy(
        F.desc("rk"), "doc_id"
    )


def foreach_batch_incremental_sample(
    state_dir: str, k: int, weight_col: str = "n_chars"
):
    """foreachBatch sink: key the micro-batch and fold it into the
    standing <= k-row reservoir."""

    def fold(reservoir: DataFrame, batch_df: DataFrame) -> DataFrame:
        return (
            reservoir.drop("bid")
            .unionByName(rank_keyed(batch_df, weight_col))
            .dropDuplicates(["doc_id"])  # identical key either way
            .orderBy(F.desc("rk"), "doc_id")
            .limit(k)
            .withColumn("bid", F.lit(None).cast("long"))
        )

    return exactly_once_fold(state_dir, MARK, fold)
