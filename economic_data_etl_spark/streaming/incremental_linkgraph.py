"""Streaming link-index maintenance: each micro-batch of fetched pages
is link-extracted ONCE on arrival and appended to the standing edge
table; the anchor-text index and host statistics are served from the
stored edges at any time without re-parsing any page.

The streaming twin of the batch link lane (plans/linkgraph.py,
operators/linkgraph.py) — the serving shape for a crawler: pages are
parsed exactly once, the standing state is ONE parquet table of
(src_doc_id, src_url, pos, dst_url, anchor) edges, and each batch's
work is O(batch pages) plus one membership anti-join against the
stored source ids. The edge table never self-joins. In production the
table is written partitioned by a dst_url hash so anchor-index lookups
prune.

foreachBatch rather than a stateful operator for the same reason as
the BM25/pHash/semantic/substring/frontier twins: the index must
outlive the stream.

Restart semantics: the membership anti-join makes page-level appends
IDEMPOTENT — a redelivered batch's already-indexed pages contribute
nothing. A single table means the only crash window is inside the one
append job, which Spark's commit protocol makes atomic; a page that
yields ZERO edges is never marked indexed and is re-parsed (to
nothing) on every replay — harmless and documented. Fuzzed in
tests/test_incremental_linkgraph_stream.py.

Erasure (right-to-be-forgotten) is TWO-SIDED for a link graph — the
Google-Spain shape: the revoked doc must disappear as a LINKER (its
out-edges) and as a TARGET (other pages' anchor text describing its
URL — the part a replay-on-reduced-corpus would NOT remove, because
surviving pages still emit those links). Tombstones therefore carry
both the doc id and the doc's canonical page URL; masking drops an
edge when its src_doc_id is tombstoned OR its query-stripped dst_url
equals a tombstoned page URL.
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

from economic_data_etl_spark.operators.io import (
    commit_staged,
    read_parquet_or_empty,
    recover_staging,
)

EDGES_SCHEMA = StructType(
    [
        StructField("src_doc_id", LongType(), True),
        StructField("src_url", StringType(), True),
        StructField("pos", IntegerType(), True),
        StructField("dst_url", StringType(), True),
        StructField("anchor", StringType(), True),
    ]
)

TOMBSTONES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("base_url", StringType(), True),
    ]
)


def read_edges(spark: SparkSession, edges_dir: str) -> DataFrame:
    """Convergent read of the standing edge table: deduped by
    (src_doc_id, pos) — replay duplicates are exact copies, so any one
    row is correct."""
    return read_parquet_or_empty(
        spark, edges_dir, EDGES_SCHEMA
    ).dropDuplicates(["src_doc_id", "pos"])


def foreach_batch_incremental_links(edges_dir: str, n_docs: int):
    """Build the foreachBatch function. Per micro-batch:

    1. anti-join the batch's doc ids against the stored source ids
       (drop already-indexed pages — replay/overlap appends nothing);
    2. link-extract the surviving pages ONCE (Arrow lane);
    3. append their edge rows — one atomic parquet append.
    """
    from economic_data_etl_spark.operators.linkgraph import (
        link_edges_for_docs,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        indexed = read_parquet_or_empty(
            spark, edges_dir, EDGES_SCHEMA
        ).select(F.col("src_doc_id").alias("doc_id")).distinct()
        fresh = batch_df.select("doc_id").join(
            indexed, "doc_id", "left_anti"
        )
        link_edges_for_docs(fresh, n_docs).write.mode("append").parquet(
            edges_dir
        )

    return handle


def read_edges_erased(
    spark: SparkSession, edges_dir: str, tombstones_dir: str
) -> DataFrame:
    """read_edges with two-sided tombstone masking: an edge is dropped
    when its SOURCE doc is revoked or its TARGET (query-stripped) is a
    revoked page URL. Serving is correct the moment tombstones land,
    regardless of compaction progress; every downstream aggregate
    (in-degree, anchor sets, host stats, PageRank) derives from the
    masked edges, so the statistics shift exactly as the two-sided
    erasure semantics demand."""
    from economic_data_etl_spark.operators.linkgraph import (
        erase_link_edges,
    )

    edges = read_edges(spark, edges_dir)
    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    ).dropDuplicates(["doc_id"])
    return erase_link_edges(edges, tombs)


def apply_erasure(
    spark: SparkSession,
    edges_dir: str,
    tombstones_dir: str,
    revoked: DataFrame,
) -> None:
    """Erase revoked docs from the standing edge table, two-sided.

    `revoked` carries (doc_id, base_url) — id and the page's canonical
    URL (in production from the crawl table; the certification twin
    derives it from operators/html.py:linked_page_base_url).

    Tombstone-then-compact, same crash contract as the BM25 twin:
    1. APPEND (doc_id, base_url) tombstones — the commit point;
       read_edges_erased serves the reduced graph from here on, and a
       replayed append only adds duplicate tombstone rows;
    2. compact: rewrite of the edge table with both-sided anti-joins,
       committed with `operators/io.py:commit_staged` after
       `recover_staging`;
    3. clear the tombstone table LAST — re-masking already-compacted
       rows is a no-op, so every crash + replay interleaving
       converges to the reduced graph.
    """
    import shutil

    revoked.select(
        F.col("doc_id").cast("long"), F.col("base_url")
    ).write.mode("append").parquet(tombstones_dir)  # commit point

    recover_staging(edges_dir)
    kept = read_edges_erased(spark, edges_dir, tombstones_dir)
    commit_staged(kept.write, edges_dir)
    shutil.rmtree(tombstones_dir)  # cleared last
