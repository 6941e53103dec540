"""Incremental weighted reservoir sampling: the A-Res rank key.

The incremental twin of `curation_weighted_sample`
(Efraimidis-Spirakis A-Res): every doc's rank key
ln(u) / weight — with u the portable md5 bucket of (salt || doc_id) —
is DETERMINISTIC, so the weighted sample without replacement is just
"the k largest keys seen so far". That makes the reservoir MERGEABLE
(top-k of a union = top-k of the union of top-ks) and a batch-by-batch
fold exactly the one-shot sample in any arrival order; a redelivered or
overlapping doc carries the identical key, so deduping by doc_id makes
re-folding a no-op (plans/training.py:curation_incremental_sample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.training import hash_bucket

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
