"""Streaming BM25 index maintenance: each micro-batch of documents is
tokenized once on arrival and appended to the standing inverted index
(postings + doc lengths); queries score against the index at any time
without touching raw text.

The streaming twin of `operators/retrieval.py:build_postings` — the
serving shape for corpus search: the corpus is tokenized exactly ONCE
(on arrival), the standing index is two parquet tables —
(doc_id, token, tf) postings and (doc_id, dl) doc lengths — and each
batch's work is O(batch tokens) plus one membership anti-join against
the doc-length table; the corpus-sized index is never re-tokenized and
never self-joins. In production the postings table is written
partitioned/bucketed by token so a query's lookup prunes to its terms.

foreachBatch rather than a stateful operator for the same reason as the
MinHash/pHash/semantic/substring twins: the index must outlive the
stream (batch jobs and other queries read it).

Restart semantics: the membership anti-join makes document-level
appends IDEMPOTENT — a redelivered batch's already-indexed docs
contribute nothing. The crash window between the two appends (postings
landed, doclens missed) re-appends that batch's postings as EXACT
duplicate rows on replay (the doc still looks new to the anti-join);
postings are therefore at-least-once and readers dedupe by
(doc_id, token) — `read_index` does this — while doclens, written
LAST, stays exactly-once per doc. Writing doclens first would invert
the failure into silently MISSING postings (the doc would look indexed
on replay), which no reader could repair — the append order is
load-bearing. Property-fuzzed at every kill offset in
tests/test_incremental_bm25_stream.py, like the trending/semantic/
substring sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.operators.retrieval import append_to_index
from economic_data_etl_spark.streaming.util import read_parquet_or_empty

POSTINGS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("token", StringType(), True),
        StructField("tf", LongType(), True),
    ]
)

DOCLENS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("dl", LongType(), True),
    ]
)


def read_index(
    spark: SparkSession, postings_dir: str, doclens_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Convergent read of the standing index: postings deduped by
    (doc_id, token) — replay duplicates are exact copies, so any one
    row is correct — doclens by doc_id."""
    postings = read_parquet_or_empty(
        spark, postings_dir, POSTINGS_SCHEMA
    ).dropDuplicates(["doc_id", "token"])
    doclens = read_parquet_or_empty(
        spark, doclens_dir, DOCLENS_SCHEMA
    ).dropDuplicates(["doc_id"])
    return postings, doclens


def foreach_batch_incremental_bm25(
    postings_dir: str,
    doclens_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Build the foreachBatch function. Per micro-batch:

    1. anti-join the batch against the standing doc-length table
       (drop already-indexed docs — replay/overlap appends nothing)
    2. tokenize the surviving docs ONCE; append their (doc_id, token,
       tf) rows to postings_dir
    3. append their (doc_id, dl) rows to doclens_dir LAST (the
       membership commit point — see module docstring for why this
       order is load-bearing)
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        doclens = read_parquet_or_empty(
            spark, doclens_dir, DOCLENS_SCHEMA
        )
        new_postings, new_doclens = append_to_index(
            doclens, batch_df, id_col, text_col
        )
        new_postings.select(
            F.col(id_col).alias("doc_id"),
            "token",
            "tf",
        ).write.mode("append").parquet(postings_dir)
        new_doclens.select(
            F.col(id_col).alias("doc_id"), "dl"
        ).write.mode("append").parquet(doclens_dir)
        batch_df.unpersist()

    return handle


# ---------------------------------------------------------------------------
# Erasure (license revocation / right-to-be-forgotten) for the standing
# index — the streaming-side twin of plans/governance.py.
# ---------------------------------------------------------------------------
TOMBSTONES_SCHEMA = StructType(
    [StructField("doc_id", LongType(), True)]
)


def read_index_erased(
    spark: SparkSession,
    postings_dir: str,
    doclens_dir: str,
    tombstones_dir: str,
) -> tuple[DataFrame, DataFrame]:
    """read_index with tombstone masking: revoked docs are anti-joined
    out of BOTH tables at read time, so serving is correct the moment
    the tombstones land — regardless of whether (or how far) the
    physical compaction has progressed. BM25's corpus statistics
    (n_docs, avgdl, df) all derive from the masked tables, so they
    shift exactly as a from-scratch rebuild would."""
    postings, doclens = read_index(spark, postings_dir, doclens_dir)
    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    ).dropDuplicates(["doc_id"])
    return (
        postings.join(tombs, "doc_id", "left_anti"),
        doclens.join(tombs, "doc_id", "left_anti"),
    )


def apply_erasure(
    spark: SparkSession,
    postings_dir: str,
    doclens_dir: str,
    tombstones_dir: str,
    revoked: DataFrame,
) -> None:
    """Erase revoked doc_ids from the standing index.

    Tombstone-then-compact, because the index is TWO tables and no
    single physical rewrite order is crash-safe on its own (postings
    gone but doclens present inflates n_docs/avgdl; the reverse
    inflates df):

    1. APPEND the revoked ids to the tombstone table — the commit
       point; read_index_erased is correct from here on, and replaying
       this step only adds duplicate tombstone rows (readers dedupe);
    2. compact postings, then doclens: anti-join rewrite committed with
       `commit_staged` (operators/io.py; `recover_staging` finishes or
       rolls back an interrupted commit first);
    3. clear the tombstone table LAST. A crash anywhere before this
       leaves tombstones masking rows that may or may not still exist
       — the anti-join of already-deleted rows is a no-op, so every
       interleaving of crash + replay converges to the reduced index.
    """
    import shutil

    ids = revoked.select(
        F.col(revoked.columns[0]).cast("long").alias("doc_id")
    )
    ids.write.mode("append").parquet(tombstones_dir)  # commit point

    tombs = read_parquet_or_empty(
        spark, tombstones_dir, TOMBSTONES_SCHEMA
    ).dropDuplicates(["doc_id"])
    for path, schema in (
        (postings_dir, POSTINGS_SCHEMA),
        (doclens_dir, DOCLENS_SCHEMA),
    ):
        recover_staging(path)
        kept = read_parquet_or_empty(spark, path, schema).join(
            tombs, "doc_id", "left_anti"
        )
        commit_staged(kept.write, path)
    # tombstones cleared last: until here they keep masking reads
    shutil.rmtree(tombstones_dir)
