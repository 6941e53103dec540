"""Streaming Stupid-Backoff LM index: the standing (order, gram, count)
table folded per micro-batch.

N-gram counts are ADDITIVE — the count table of a union of disjoint
document batches is the sum of the per-batch tables — so the stream
fold equals the one-shot build exactly at the value level, and serving
(plans/lmppl.py:score_with_counts — prune, conditional ratios, backoff
scoring) is a pure function of the standing counts. The two standard
fences of the sink family apply:

- the **batch-id high-water mark** makes redelivered micro-batches
  no-ops (counts are NOT idempotent per row — additivity cuts the
  other way — so the fence is load-bearing here, unlike the
  hash-dedup sinks where the math itself absorbs redelivery);
- the **staged commit** (`operators/io.py:commit_staged`, with
  `recover_staging` before every read) makes a crash at any offset
  leave either the old or the new index, never a torn one.

State is vocabulary-sized (all grams seen so far, orders 1-3), the
same growth class as the standing BM25 postings
(streaming/incremental_bm25.py); serving prunes to the top-K per
order, so the broadcast stays config-bounded regardless of how long
the stream has run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.streaming.util import read_parquet_or_empty

STATE_SCHEMA = StructType(
    [
        StructField("ord", IntegerType(), True),
        StructField("g", StringType(), True),
        StructField("c", LongType(), True),
        # one meta row: (ord = -1, g = '\x00meta', c = last_batch_id)
    ]
)

_META_ORD = -1
_META_G = "\x00meta"


def read_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing (ord, g, c) count table — directly servable by
    plans/lmppl.py:score_with_counts."""
    return read_parquet_or_empty(spark, state_dir, STATE_SCHEMA).filter(
        F.col("ord") != _META_ORD
    )


def last_batch_id(spark: SparkSession, state_dir: str) -> int:
    rows = (
        read_parquet_or_empty(spark, state_dir, STATE_SCHEMA)
        .filter(F.col("ord") == _META_ORD)
        .collect()
    )
    return rows[0].c if rows else -1


def fold_counts(standing: DataFrame, batch_counts: DataFrame) -> DataFrame:
    """Additive merge: union + per-(ord, gram) sum."""
    return (
        standing.select("ord", "g", "c")
        .unionByName(batch_counts.select("ord", "g", "c"))
        .groupBy("ord", "g")
        .agg(F.sum("c").alias("c"))
    )


def foreach_batch_incremental_lm(state_dir: str):
    """foreachBatch sink over a documents stream (doc_id, source,
    text): count the micro-batch's grams and fold them into the
    standing table."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from economic_data_etl_spark.plans.lmppl import (
            _gram_counts,
            _positions,
            token_arrays,
        )

        spark = batch_df.sparkSession
        recover_staging(state_dir)
        if batch_id <= last_batch_id(spark, state_dir):
            return  # redelivered batch: counts are additive, so skip
        batch_counts = _gram_counts(
            _positions(token_arrays(batch_df))
        ).withColumn("c", F.col("c").cast("long"))
        merged = fold_counts(
            read_counts(spark, state_dir), batch_counts
        ).select(
            F.col("ord").cast("int").alias("ord"),
            "g",
            F.col("c").cast("long").alias("c"),
        )
        meta = spark.createDataFrame(
            [(_META_ORD, _META_G, batch_id)], STATE_SCHEMA
        )
        commit_staged(merged.unionByName(meta).write, state_dir)

    return handle


def erase_counts(
    standing: DataFrame, revoked_counts: DataFrame
) -> DataFrame:
    """Right-to-be-forgotten for the standing LM index: counts are
    additive, so erasure is EXACT subtraction of the revoked
    documents' gram counts (recomputed from the revoked docs at
    erasure time — the count table itself is not doc-keyed, which is
    precisely why the anti-join recipe of the other indexes cannot
    apply here). Grams whose count reaches zero leave the index
    entirely, so the erased table is bit-identical to a from-scratch
    rebuild on the reduced corpus — the oracle's check in
    plans/governance.py:governance_erasure_lm."""
    negated = revoked_counts.select(
        "ord", "g", (-F.col("c")).cast("long").alias("c")
    )
    return fold_counts(standing, negated).filter(F.col("c") > 0)
