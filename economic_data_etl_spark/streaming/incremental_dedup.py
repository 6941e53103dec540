"""Streaming near-dedup: each micro-batch joins a persistent MinHash
signature index, emits near-dup pairs, and appends its own signatures.

The streaming twin of `operators/dedup.py:minhash_incremental_pairs` —
the pattern a continuously-ingesting 100 TB corpus needs: corpus text is
signed exactly once (on arrival), the standing index is parquet (in
production: bucketed by band bucket so the candidate join co-locates),
and per-batch work is proportional to the batch, not the corpus.

foreachBatch is the right Spark surface here rather than a stateful
operator: the signature index must outlive the stream (other jobs read
it), exactly the externalized-state shape of the foreachBatch-MERGE sink
in streaming/windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from economic_data_etl_spark.operators.dedup import (
    minhash_incremental_pairs,
    minhash_signatures,
)
from economic_data_etl_spark.operators.io import read_parquet_or_empty

SIG_SCHEMA = StructType(
    [
        StructField("doc", LongType(), True),
        StructField("sig", ArrayType(LongType(), True), True),
    ]
)


def _read_index(spark, index_dir: str) -> DataFrame:
    return read_parquet_or_empty(spark, index_dir, SIG_SCHEMA)


PAIRS_SCHEMA = StructType(
    [
        StructField("id_a", LongType(), True),
        StructField("id_b", LongType(), True),
        StructField("est_jaccard", DoubleType(), True),
    ]
)

TOMBSTONES_SCHEMA = StructType([StructField("doc", LongType(), True)])


def read_index_erased(
    spark,
    index_dir: str,
    pairs_dir: str,
    tombstones_dir: str,
):
    """(signatures, pairs) with tombstone masking: revoked docs are
    anti-joined out of the signature index and out of either end of
    the pairs table at read time. Masking is rebuild-exact: a MinHash
    pair's existence depends only on its two endpoints' signatures
    (band collision + verify), so the reduced corpus's pair set is
    precisely the full set minus pairs touching a revoked doc — the
    same frozen-per-row argument as the semantic and pHash twins."""
    from economic_data_etl_spark.streaming.util import erase_ids

    index = _read_index(spark, index_dir).dropDuplicates(["doc"])
    pairs = read_parquet_or_empty(
        spark, pairs_dir, PAIRS_SCHEMA
    ).dropDuplicates(["id_a", "id_b"])
    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    ).dropDuplicates(["doc"])
    return (
        erase_ids(index, tombs, ["doc"]),
        erase_ids(pairs, tombs, ["id_a", "id_b"]),
    )


def apply_erasure(
    spark,
    index_dir: str,
    pairs_dir: str,
    tombstones_dir: str,
    revoked: DataFrame,
) -> None:
    """Erase revoked docs from the standing MinHash state:
    tombstone-then-compact over the signature index (anti-join on doc)
    and the pairs table (both endpoints) — shared sequence + crash
    contract in streaming/util.py:tombstone_then_compact; fuzzed in
    tests/test_erasure_indexes.py."""
    from economic_data_etl_spark.streaming.util import (
        tombstone_then_compact,
    )

    tombstone_then_compact(
        spark,
        tombstones_dir,
        TOMBSTONES_SCHEMA,
        revoked,
        [
            (index_dir, SIG_SCHEMA, ["doc"]),
            (pairs_dir, PAIRS_SCHEMA, ["id_a", "id_b"]),
        ],
    )


def foreach_batch_incremental_dedup(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
):
    """Build the foreachBatch function. Per micro-batch:

    1. near-dup pairs of the batch vs (index + batch) → append pairs_dir
    2. batch signatures → append index_dir

    Restart semantics: foreachBatch can redeliver a batch, making both
    appends at-least-once; readers dedupe pairs by (id_a, id_b) and the
    index by doc — same contract as the reference's idempotent snapshot
    writes (reference src/extract.py:97-102, re-expressed for streams).
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        index_sigs = _read_index(spark, index_dir)
        pairs = minhash_incremental_pairs(
            index_sigs,
            batch_df,
            id_col,
            text_col,
            num_perm=num_perm,
            bands=bands,
            threshold=threshold,
            shingle_n=shingle_n,
        )
        pairs.write.mode("append").parquet(pairs_dir)
        minhash_signatures(
            batch_df, id_col, text_col, num_perm, shingle_n
        ).write.mode("append").parquet(index_dir)
        batch_df.unpersist()

    return handle
