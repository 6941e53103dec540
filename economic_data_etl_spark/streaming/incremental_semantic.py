"""Streaming semantic dedup: each micro-batch of embeddings joins a
persistent cluster-assignment index, emits near-dup pairs, and appends
its own assignments.

The streaming twin of `operators/semantic.py:semantic_near_dup_pairs` —
the continuously-ingesting shape: every vector is centroid-ranked exactly
once (on arrival, a pure expression over driver-constant centroids), the
standing index holds (cluster, vec_id, nv) rows — p rows per vector for
p probes, nv the L2-normalized vector — partitioned by cluster in
production so the per-batch candidate join co-locates, and per-batch
work is |batch| × (cluster occupancy), never corpus².

Centroids are FROZEN at pipeline start (passed in, not re-trained per
batch): re-training would silently re-cluster history and make results
batch-order-dependent. Re-clustering is an offline rebuild, exactly like
re-banding the MinHash index (streaming/incremental_dedup.py).

foreachBatch rather than a stateful operator for the same reason as the
MinHash twin: the index must outlive the stream and be readable by other
jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from economic_data_etl_spark.functions.vectors import dot_product, l2_normalize
from economic_data_etl_spark.operators.io import read_parquet_or_empty
from economic_data_etl_spark.operators.semantic import assign_clusters_cosine

# The index stores the L2-NORMALIZED vector at float64: pair scoring is
# then one dot product per candidate (same normalize-then-dot order as
# the batch operator, so stream == batch bit-for-bit; storing float32
# would re-round and break that equivalence).
IDX_SCHEMA = StructType(
    [
        StructField("cluster", IntegerType(), True),
        StructField("vec_id", LongType(), True),
        StructField("nv", ArrayType(DoubleType(), True), True),
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

TOMBSTONES_SCHEMA = StructType(
    [StructField("vec_id", LongType(), True)]
)


def read_index_erased(
    spark,
    index_dir: str,
    pairs_dir: str,
    tombstones_dir: str,
) -> tuple[DataFrame, DataFrame]:
    """(assignments, pairs) with tombstone masking: revoked vec_ids are
    anti-joined out of the assignment index and out of EITHER end of
    the pairs table at read time, so serving is correct the moment the
    tombstones land, regardless of compaction progress.

    This masking is REBUILD-EXACT, not just row hiding: with centroids
    frozen (the module contract), each pair's existence depends only on
    its two endpoints' assignments and dot product, so the pair set of
    a from-scratch pass over the reduced corpus is precisely the full
    pair set minus pairs touching a revoked id. The sharp SemDeDup case
    falls out: when the revoked doc was a pair's KEEPER (the lower id),
    its surviving twin loses that pair and re-enters the keep set
    exactly as a rebuild would — pinned in tests and value-checked by
    the governance_erasure_semantic oracle."""
    from economic_data_etl_spark.streaming.util import erase_ids

    index = _read_index(spark, index_dir).dropDuplicates(
        ["cluster", "vec_id"]
    )
    pairs = read_parquet_or_empty(
        spark, pairs_dir, PAIRS_SCHEMA
    ).dropDuplicates(["id_a", "id_b"])
    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    ).dropDuplicates(["vec_id"])
    return (
        erase_ids(index, tombs, ["vec_id"]),
        erase_ids(pairs, tombs, ["id_a", "id_b"]),
    )


def apply_erasure(
    spark,
    index_dir: str,
    pairs_dir: str,
    tombstones_dir: str,
    revoked: DataFrame,
) -> None:
    """Erase revoked vec_ids from the standing semantic-dedup state:
    tombstone-then-compact over the assignment index (anti-join on
    vec_id) and the pairs table (anti-join on both endpoints), shared
    sequence + crash contract in streaming/util.py:
    tombstone_then_compact. Idempotent under full replay; reads via
    read_index_erased are rebuild-exact from the tombstone append on
    (see its docstring for why masking alone is already exact here)."""
    from economic_data_etl_spark.streaming.util import (
        tombstone_then_compact,
    )

    tombstone_then_compact(
        spark,
        tombstones_dir,
        TOMBSTONES_SCHEMA,
        revoked,
        [
            (index_dir, IDX_SCHEMA, ["vec_id"]),
            (pairs_dir, PAIRS_SCHEMA, ["id_a", "id_b"]),
        ],
    )


def foreach_batch_incremental_semantic(
    index_dir: str,
    pairs_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.4,
    probes: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the foreachBatch function. Per micro-batch:

    1. rank the batch's vectors against the frozen centroids, explode
       the top-`probes` clusters
    2. near-dup pairs of batch vs (index ∪ batch) sharing a probed
       cluster with cosine >= threshold → append pairs_dir (canonical
       id_a < id_b, distinct)
    3. append the batch's assignments to index_dir

    Restart semantics: at-least-once appends; readers dedupe pairs by
    (id_a, id_b) and the index by (cluster, vec_id) — the same contract
    as the MinHash streaming twin.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assigned = (
            assign_clusters_cosine(batch_df, centroids, vec_col, probes)
            .select(
                F.col("cluster").cast("int"),
                F.col(id_col).cast("long").alias("vec_id"),
                l2_normalize(F.col(vec_col)).alias("nv"),
            )
            .persist()
        )
        assigned.count()
        seen = _read_index(spark, index_dir).unionByName(assigned)
        a = assigned.select(
            "cluster", F.col("vec_id").alias("__na")
        )
        b = seen.select("cluster", F.col("vec_id").alias("__nb"))
        cand = (
            a.join(b, "cluster")
            .filter(F.col("__na") != F.col("__nb"))
            .select(
                F.least("__na", "__nb").alias("id_a"),
                F.greatest("__na", "__nb").alias("id_b"),
            )
            .distinct()
        )
        vecs = seen.select("vec_id", "nv").dropDuplicates(["vec_id"])
        va = vecs.select(
            F.col("vec_id").alias("id_a"), F.col("nv").alias("__va")
        )
        vb = vecs.select(
            F.col("vec_id").alias("id_b"), F.col("nv").alias("__vb")
        )
        pairs = (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .filter(
                dot_product(F.col("__va"), F.col("__vb"))
                >= F.lit(threshold)
            )
            .select("id_a", "id_b")
        )
        pairs.write.mode("append").parquet(pairs_dir)
        assigned.write.mode("append").parquet(index_dir)
        assigned.unpersist()

    return handle
