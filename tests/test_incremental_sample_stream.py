"""Incremental weighted reservoir: folding `rank_keyed` batches into a
top-k reservoir must equal the one-shot batch sample in any batch
split (mergeable top-k of deterministic A-Res keys)."""

from __future__ import annotations

from pyspark.sql import functions as F

from economic_data_etl_spark.sources.tables import load_table
from economic_data_etl_spark.streaming.incremental_sample import rank_keyed

K = 25
N_BATCHES = 4


def _rows(df):
    return [
        (r.doc_id, r.source, r.weight, round(r.rk, 9))
        for r in df.orderBy(F.desc("rk"), "doc_id").limit(K).collect()
    ]


def test_stream_equals_batch(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    reservoir = None
    for b in range(N_BATCHES):
        keyed = rank_keyed(docs.filter(F.col("doc_id") % N_BATCHES == b))
        merged = keyed if reservoir is None else reservoir.unionByName(keyed)
        reservoir = (
            merged.dropDuplicates(["doc_id"])
            .orderBy(F.desc("rk"), "doc_id")
            .limit(K)
            .localCheckpoint()
        )
    assert _rows(reservoir) == _rows(rank_keyed(docs))
