"""Streaming exact-substring dedup: each micro-batch marks its k-gram
occurrences against a persistent gram index, emits merged duplicated
spans, and appends the retained first occurrence of its index-new grams.

The streaming twin of `operators/substring.py` (the Lee et al.
exact-substring pass): corpus text is tokenized and grammed exactly once
— on arrival — the standing index is parquet, and per-batch work is
O(batch tokens) plus one index join; the index never self-joins. In
production the index is written BUCKETED by gram (operators/skew.py:
write_bucketed): the membership join then shuffles only the batch side
while the corpus-sized index scans Exchange-free — plan-pinned in
tests/test_substring.py (bucketed gram-index test).

foreachBatch rather than a stateful operator for the same reason as the
MinHash/pHash/semantic streaming twins: the gram index must outlive the
stream (later batch jobs and other streams read it), the externalized-
state shape of the foreachBatch-MERGE sink in streaming/windows.py.

Restart semantics: the index carries PROVENANCE — each gram's retained
first occurrence — so a redelivered batch reproduces its original spans
bit-for-bit (its own firsts stay firsts; see
substring_incremental_dups_prov) and appends no index rows. Both sinks
are therefore at-least-once with EXACT-duplicate rows only; readers
dedupe spans by (doc_id, span_start) and the index is convergent
as-is (a gram's row is unique by construction, replay appends none).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.operators.substring import (
    merge_spans,
    substring_incremental_dups_prov,
)
from economic_data_etl_spark.streaming.util import read_parquet_or_empty

INDEX_SCHEMA = StructType(
    [
        StructField("gram", StringType(), True),
        StructField("first_id", LongType(), True),
        StructField("first_pos", LongType(), True),
    ]
)


SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("span_start", LongType(), True),
        StructField("span_end", LongType(), True),
    ]
)

TOMBSTONES_SCHEMA = StructType(
    [StructField("doc_id", LongType(), True)]
)


def _patch_dirs(patch_dir: str) -> tuple[str, str]:
    import os

    return os.path.join(patch_dir, "index"), os.path.join(
        patch_dir, "spans"
    )


def read_index_erased(
    spark,
    index_dir: str,
    spans_dir: str,
    tombstones_dir: str,
    patch_dir: str,
):
    """(gram index, spans) with PATCH-CARRYING tombstone masking.

    Unlike the BM25/semantic/pHash indexes, erasing this index is not a
    pure anti-join: a revoked doc can BE a gram's retained first, and a
    rebuild reassigns that first to the earliest surviving occurrence
    (whose own doc's spans then shrink). apply_erasure therefore writes
    the replacement rows (operators/substring.py:
    substring_erasure_patch) BEFORE the tombstone commit point, and the
    masked read grafts them in:

    - index: standing rows whose first_id is tombstoned are replaced by
      the patch's new firsts;
    - spans: rows of tombstoned docs are dropped; rows of docs owning a
      new first are replaced wholesale by the patch's recomputed spans.

    Reads are therefore REBUILD-EXACT from the tombstone append on, at
    every compaction offset: post-compaction the standing tables
    already contain the patch rows, and re-unioning them only adds
    identical rows (deduped here). Both dedup keys match the sinks'
    at-least-once contracts (index unique by gram, spans by
    (doc_id, span_start))."""
    pidx_dir, pspan_dir = _patch_dirs(patch_dir)
    index = read_parquet_or_empty(
        spark, index_dir, INDEX_SCHEMA
    ).dropDuplicates(["gram"])
    spans = read_parquet_or_empty(
        spark, spans_dir, SPANS_SCHEMA
    ).dropDuplicates(["doc_id", "span_start"])
    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    ).dropDuplicates(["doc_id"])
    if tombs.limit(1).count() == 0:
        # no erasure committed: a patch written before a crash that
        # never reached the tombstone append must NOT be served — the
        # commit point is the tombstone append, nothing earlier.
        return index, spans
    patch_index = read_parquet_or_empty(spark, pidx_dir, INDEX_SCHEMA)
    patch_spans = read_parquet_or_empty(spark, pspan_dir, SPANS_SCHEMA)

    from economic_data_etl_spark.streaming.util import erase_ids

    index_m = (
        erase_ids(index, tombs, ["first_id"])
        .unionByName(patch_index)
        .dropDuplicates(["gram"])
    )
    patch_docs = patch_index.select(
        F.col("first_id").alias("doc_id")
    ).distinct()
    spans_m = (
        erase_ids(spans, tombs, ["doc_id"])
        .join(patch_docs, "doc_id", "left_anti")
        .unionByName(patch_spans)
        .dropDuplicates(["doc_id", "span_start"])
    )
    return index_m, spans_m


def apply_erasure(
    spark,
    index_dir: str,
    spans_dir: str,
    tombstones_dir: str,
    patch_dir: str,
    revoked,
    surviving_docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> None:
    """Erase revoked docs from the standing substring state, including
    first-occurrence reassignment. Patch-then-tombstone-then-compact:

    1. compute + write the patch tables (new firsts for grams whose
       first is revoked; recomputed spans for the docs that own a new
       first) — BEFORE the commit point, so a crash here leaves the old
       state served unerased and a replay simply overwrites the patch;
    2. APPEND the revoked ids to the tombstone table — the commit
       point; read_index_erased is rebuild-exact from here on;
    3. compact: staged-swap each standing table to its masked read
       (index first — the spans mask derives its redo-doc set from the
       PATCH table, not the index, so the order is free but fixed for
       the fuzz tests), then clear the patch tables, then the
       tombstones LAST.

    A replay that finds tombstones already present SKIPS step 1: the
    on-disk patch is still valid for that tombstone set, while
    recomputing it against a possibly mid-compacted index would
    conclude nothing is affected and drop the patch (the masked spans
    would then resurrect the redo docs' stale rows). One revocation
    wave at a time — concurrent waves must be unioned by the caller.
    Every crash offset is fuzzed in tests/test_substring_erasure.py."""
    import os
    import shutil

    from economic_data_etl_spark.operators.substring import (
        substring_erasure_patch,
    )

    pidx_dir, pspan_dir = _patch_dirs(patch_dir)
    recover_staging(index_dir)
    recover_staging(spans_dir)

    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    )
    if tombs.limit(1).count() == 0:
        index = read_parquet_or_empty(
            spark, index_dir, INDEX_SCHEMA
        ).dropDuplicates(["gram"])
        new_firsts, redo_spans = substring_erasure_patch(
            index, revoked, surviving_docs, id_col, text_col, k
        )
        new_firsts.write.mode("overwrite").parquet(pidx_dir)
        redo_spans.select(
            F.col(id_col).alias("doc_id"), "span_start", "span_end"
        ).write.mode("overwrite").parquet(pspan_dir)
        revoked.select(
            F.col(revoked.columns[0]).cast("long").alias("doc_id")
        ).write.mode("append").parquet(tombstones_dir)  # commit point

    index_m, spans_m = read_index_erased(
        spark, index_dir, spans_dir, tombstones_dir, patch_dir
    )
    for path, df in ((index_dir, index_m), (spans_dir, spans_m)):
        commit_staged(df.write, path)
    if os.path.exists(patch_dir):
        shutil.rmtree(patch_dir)
    shutil.rmtree(tombstones_dir)  # cleared last


def foreach_batch_incremental_substring(
    index_dir: str,
    spans_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
):
    """Build the foreachBatch function. Per micro-batch:

    1. merged duplicated spans of the batch vs (index + batch)
       → append spans_dir
    2. retained first occurrences of the batch's index-new grams
       → append index_dir (empty on a redelivered batch)
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        index = read_parquet_or_empty(spark, index_dir, INDEX_SCHEMA)
        dups, new_firsts = substring_incremental_dups_prov(
            index, batch_df, id_col, text_col, k
        )
        merge_spans(dups, id_col, k).write.mode("append").parquet(
            spans_dir
        )
        new_firsts.write.mode("append").parquet(index_dir)
        batch_df.unpersist()

    return handle
