"""Streaming image dedup: each micro-batch of binary payloads is
decoded and pHashed on arrival, matched against the persistent
fingerprint index (and within itself), and appended to the index.

The streaming twin of `operators/phash.py:near_dup_pairs_by_phash` /
`near_dup_pairs_by_phash_vs_index` — the continuously-ingesting shape
of media dedup: every image is decoded and hashed EXACTLY ONCE (on
arrival, inside the micro-batch's Arrow lanes), the standing index
holds (id, phash) rows — two longs per image, trivially re-readable
by other jobs — and per-batch work is the banded join of |batch|
against the index plus the batch's own self-join, never corpus².

foreachBatch rather than a stateful operator for the same reason as
the MinHash and semantic twins: the fingerprint index must outlive
the stream and be readable by other jobs (including the batch
incremental operator, which consumes the same layout).

Restart semantics: at-least-once appends; readers dedupe pairs by
(id_a, id_b) and the index by id — the shared contract across all
three incremental-dedup streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from economic_data_etl_spark.operators.io import read_parquet_or_empty

IDX_SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("phash", LongType(), True),
    ]
)


def _read_index(spark, index_dir: str) -> DataFrame:
    return read_parquet_or_empty(spark, index_dir, IDX_SCHEMA)


PAIRS_SCHEMA = StructType(
    [
        StructField("id_a", LongType(), True),
        StructField("id_b", LongType(), True),
    ]
)

TOMBSTONES_SCHEMA = StructType([StructField("id", LongType(), True)])


def read_index_erased(
    spark,
    index_dir: str,
    pairs_dir: str,
    tombstones_dir: str,
):
    """(fingerprints, pairs) with tombstone masking: revoked media ids
    are anti-joined out of the fingerprint index and out of either end
    of the pairs table at read time — correct the moment the tombstones
    land. Masking is rebuild-exact: a pHash pair's existence depends
    only on its two endpoints' hashes (the banding is a complete
    candidate generator up to the hamming bound), so the reduced
    universe's pair set is the full set minus pairs touching a revoked
    id. A doc's DERIVED media (recompression twins, keyframes) must be
    revoked with it — the caller maps doc ids to all media ids it
    planted/ingested for that doc, as governance_erasure_phash does."""
    from economic_data_etl_spark.streaming.util import erase_ids

    index = _read_index(spark, index_dir).dropDuplicates(["id"])
    pairs = read_parquet_or_empty(
        spark, pairs_dir, PAIRS_SCHEMA
    ).dropDuplicates(["id_a", "id_b"])
    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    ).dropDuplicates(["id"])
    return (
        erase_ids(index, tombs, ["id"]),
        erase_ids(pairs, tombs, ["id_a", "id_b"]),
    )


def apply_erasure(
    spark,
    index_dir: str,
    pairs_dir: str,
    tombstones_dir: str,
    revoked: DataFrame,
) -> None:
    """Erase revoked media ids from the standing fingerprint state:
    tombstone-then-compact over the (id, phash) index and the pairs
    table (both endpoints) — shared sequence + crash contract in
    streaming/util.py:tombstone_then_compact."""
    from economic_data_etl_spark.streaming.util import (
        tombstone_then_compact,
    )

    tombstone_then_compact(
        spark,
        tombstones_dir,
        TOMBSTONES_SCHEMA,
        revoked,
        [
            (index_dir, IDX_SCHEMA, ["id"]),
            (pairs_dir, PAIRS_SCHEMA, ["id_a", "id_b"]),
        ],
    )


def foreach_batch_incremental_phash(
    index_dir: str,
    pairs_dir: str,
    max_hamming: int = 7,
    id_col: str = "doc_id",
    payload_col: str = "payload",
):
    """Build the foreachBatch function. Per micro-batch of
    (id, binary payload) rows:

    1. decode + pHash every payload (Arrow batches; images that fail
       to decode are dropped — the curation contract for corrupt
       media, mirroring try_decode_media)
    2. near-dup pairs WITHIN the batch (banded self-join) plus batch
       vs the standing index (banded batch-vs-index join — the index
       is never self-joined) → append pairs_dir with canonical
       id_a < id_b
    3. append the batch's fingerprints to index_dir

    Streamed pairs over any drop order therefore accumulate to
    exactly the batch self-join over the full corpus (stream == batch,
    pinned in tests/test_incremental_phash_stream.py).
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from collections.abc import Iterator

        import pandas as pd

        from economic_data_etl_spark.operators.phash import (
            near_dup_pairs_by_phash,
            near_dup_pairs_by_phash_vs_index,
        )

        spark = batch_df.sparkSession

        def hash_batch(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            from economic_data_etl_spark.operators.codecs import (
                try_decode_media,
            )
            from economic_data_etl_spark.operators.phash import phash64

            for pdf in batches:
                rows = []
                for i, payload in zip(
                    pdf[id_col], pdf[payload_col]
                ):
                    media = try_decode_media(bytes(payload))
                    if media is None or getattr(
                        media["data"], "ndim", 0
                    ) not in (2, 3):
                        continue  # not an image: skip, don't fail
                    rows.append((int(i), phash64(media["data"])))
                yield pd.DataFrame(rows, columns=["id", "phash"])

        hashed = batch_df.mapInPandas(
            hash_batch, "id long, phash long"
        ).persist()
        hashed.count()  # materialize: decode once, scan many times
        index = _read_index(spark, index_dir)
        within = near_dup_pairs_by_phash(
            hashed, "id", "phash", max_hamming
        ).select("id_a", "id_b")
        vs_index = (
            near_dup_pairs_by_phash_vs_index(
                hashed, index, "id", "phash", max_hamming
            )
            .select(
                F.least("batch_id", "index_id").alias("id_a"),
                F.greatest("batch_id", "index_id").alias("id_b"),
            )
        )
        within.unionByName(vs_index).distinct().write.mode(
            "append"
        ).parquet(pairs_dir)
        hashed.write.mode("append").parquet(index_dir)
        hashed.unpersist()

    return handle
