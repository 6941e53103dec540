"""Streaming crawl frontier: canonical-URL dedup against a standing
seen-set, emitting only never-crawled pages.

The frontier is the stateful heart of a crawler: every discovered link
is canonicalized (operators/urls.py) and checked against the set of
URLs already seen; only new canonicals are emitted for fetching and
added to the seen-set. foreachBatch + a parquet seen-index is the right
Spark surface (the index outlives the stream — schedulers, re-crawl
policies and audits read it), the same externalized-state shape as the
other standing-index sinks (incremental_dedup/phash/semantic/substring).

Per-batch cost is O(batch): canonicalize (pure JVM projection), one
batch-local groupBy for first-occurrence, one anti-join against the
index on the canonical key. The index never self-joins.

Write order is load-bearing: frontier rows are appended BEFORE the index
rows. If the sink dies between the two appends, replay finds the batch's
canonicals still index-absent, recomputes the IDENTICAL frontier rows
(appended as exact duplicates — readers dedupe by canonical) and then
lands the index append; the reversed order would swallow the batch's
frontier output on replay. A fully redelivered batch appends nothing at
all (its canonicals are already indexed). Covered at every kill offset
by tests/test_crawl_frontier_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from economic_data_etl_spark.operators.io import (
    commit_staged,
    read_parquet_or_empty,
    recover_staging,
)
from economic_data_etl_spark.operators.urls import canonical_url

INDEX_SCHEMA = StructType(
    [
        StructField("canonical", StringType(), True),
        StructField("first_doc", LongType(), True),
    ]
)


TOMBSTONES_SCHEMA = StructType(
    [StructField("first_doc", LongType(), True)]
)


def frontier_erasure_patch(
    index: DataFrame,
    revoked: DataFrame,
    surviving_pages: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    canonical_col: str | None = None,
) -> DataFrame:
    """Replacement rows for erasing revoked docs from the standing
    seen-set: for each canonical whose retained first_doc is revoked,
    the earliest SURVIVING doc with that canonical (one canonicalize
    pass over the surviving pages, semi-joined to the affected
    canonicals — broadcast when revocations are few). Canonicals with
    no surviving occurrence leave the seen-set entirely, so a future
    re-crawl re-fetches them — the right-to-be-forgotten semantics a
    replay of the reduced stream would produce.

    ``canonical_col``: when the caller's pages already carry the
    canonical URL (e.g. a checkpointed canonicalize pass shared with
    the index build), name it here to skip re-running the
    canonicalization regex chain per page."""
    rev = revoked.select(
        F.col(revoked.columns[0]).alias("first_doc")
    )
    affected = index.join(rev, "first_doc", "left_semi").select(
        "canonical"
    )
    canon = (
        F.col(canonical_col)
        if canonical_col is not None
        else canonical_url(F.col(url_col))
    )
    return (
        surviving_pages.select(
            F.col(id_col).alias("first_doc"),
            canon.alias("canonical"),
        )
        .join(affected, "canonical", "left_semi")
        .groupBy("canonical")
        .agg(F.min("first_doc").alias("first_doc"))
        .select("canonical", "first_doc")
    )


def erase_frontier_index(
    index: DataFrame,
    revoked: DataFrame,
    surviving_pages: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    canonical_col: str | None = None,
) -> DataFrame:
    """The seen-set a from-scratch replay of the reduced stream would
    build: unaffected rows verbatim, affected canonicals reassigned to
    their earliest surviving doc (or dropped when none survives)."""
    patch = frontier_erasure_patch(
        index, revoked, surviving_pages, id_col, url_col, canonical_col
    )
    rev = revoked.select(
        F.col(revoked.columns[0]).alias("first_doc")
    )
    return index.join(rev, "first_doc", "left_anti").unionByName(patch)


def read_frontier_erased(
    spark,
    index_dir: str,
    tombstones_dir: str,
    patch_dir: str,
) -> DataFrame:
    """The seen-set with patch-carrying tombstone masking: rows whose
    first_doc is tombstoned are replaced by the patch's reassigned
    firsts. Rebuild-exact from the tombstone append on, at every
    compaction offset (post-compaction the standing table already
    carries the patch rows; re-unioning adds only identical rows,
    deduped by canonical — the sink's at-least-once read key)."""
    from economic_data_etl_spark.streaming.util import erase_ids

    index = read_parquet_or_empty(
        spark, index_dir, INDEX_SCHEMA
    ).dropDuplicates(["canonical"])
    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    ).dropDuplicates(["first_doc"])
    if tombs.limit(1).count() == 0:
        # no erasure committed: a patch written before a crash that
        # never reached the tombstone append must NOT be served.
        return index
    patch = read_parquet_or_empty(spark, patch_dir, INDEX_SCHEMA)
    return (
        erase_ids(index, tombs, ["first_doc"])
        .unionByName(patch)
        .dropDuplicates(["canonical"])
    )


def apply_erasure(
    spark,
    index_dir: str,
    frontier_dir: str,
    tombstones_dir: str,
    patch_dir: str,
    revoked: DataFrame,
    surviving_pages: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> None:
    """Erase revoked docs from the standing seen-set AND the emitted
    frontier table (both are (canonical, first_doc) layouts, so one
    patch serves both). Patch-then-tombstone-then-compact — the same
    sequence and crash contract as the substring twin
    (streaming/incremental_substring.py:apply_erasure): the patch lands
    before the tombstone commit point; a replay that finds tombstones
    present SKIPS patch computation (the on-disk patch is still valid
    for that tombstone set, while recomputing against a mid-compacted
    index would conclude nothing is affected); patches are cleared
    after compaction, tombstones LAST. Fuzzed at every crash offset in
    tests/test_crawl_frontier_stream.py."""
    import os
    import shutil

    for d in (index_dir, frontier_dir):
        recover_staging(d)

    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    )
    if tombs.limit(1).count() == 0:
        index = read_parquet_or_empty(
            spark, index_dir, INDEX_SCHEMA
        ).dropDuplicates(["canonical"])
        patch = frontier_erasure_patch(
            index, revoked, surviving_pages, id_col, url_col
        )
        patch.write.mode("overwrite").parquet(patch_dir)
        revoked.select(
            F.col(revoked.columns[0]).cast("long").alias("first_doc")
        ).write.mode("append").parquet(tombstones_dir)  # commit point

    for path in (index_dir, frontier_dir):
        masked = read_frontier_erased(
            spark, path, tombstones_dir, patch_dir
        )
        commit_staged(masked.write, path)
    if os.path.exists(patch_dir):
        shutil.rmtree(patch_dir)
    shutil.rmtree(tombstones_dir)  # cleared last


def foreach_batch_crawl_frontier(
    index_dir: str,
    frontier_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
):
    """Build the foreachBatch handler. Per micro-batch:

    1. canonicalize batch URLs; keep the batch-local first occurrence
       (min id) per canonical
    2. anti-join the standing seen-index -> new frontier rows
    3. append frontier rows to frontier_dir, THEN canonicals to
       index_dir (order is the crash-convergence contract above)
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = read_parquet_or_empty(spark, index_dir, INDEX_SCHEMA)
        firsts = (
            batch_df.select(
                F.col(id_col).alias("first_doc"),
                canonical_url(F.col(url_col)).alias("canonical"),
            )
            .groupBy("canonical")
            .agg(F.min("first_doc").alias("first_doc"))
        )
        new = firsts.join(
            index.select("canonical"), "canonical", "left_anti"
        ).persist()
        new.select("canonical", "first_doc").write.mode("append").parquet(
            frontier_dir
        )
        new.select("canonical", "first_doc").write.mode("append").parquet(
            index_dir
        )
        new.unpersist()

    return handle
