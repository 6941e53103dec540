"""Streaming crawl ingestion: micro-batches of WARC archive blobs are
parsed on arrival, every record's HTML payload goes through the
visible-text extractor, and the recovered (doc_id, uri, text) rows
land in a standing parquet table that the incremental dedup/index
sinks (MinHash, substring, BM25, semantic) consume downstream.

The front door of the pipeline the round-10 batch composition
(training_crawl_ingest) certifies: archives are decoded EXACTLY ONCE,
on arrival, inside the micro-batch's Arrow lanes — the same
decode-once discipline as the pHash image sink.

Restart semantics: extraction is a pure function of the archive, so a
redelivered batch re-lands EXACT duplicate rows; the landing table is
convergent under reader dedupe by doc_id (read_landed does this), the
shared at-least-once contract of the pairs-style sinks. A malformed
archive fails the batch loudly (ValueError from read_warc /
extract) rather than silently dropping records — corrupt-input
quarantine is the CALLER's policy decision (wrap the handler if
skip-and-log is wanted), never a silent default.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from economic_data_etl_spark.operators.io import read_parquet_or_empty

LANDED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("uri", StringType(), True),
        StructField("text", StringType(), True),
    ]
)


def read_landed(spark: SparkSession, landed_dir: str) -> DataFrame:
    """Convergent read of the landing table: replay duplicates are
    exact copies, so any one row per doc_id is correct."""
    return read_parquet_or_empty(
        spark, landed_dir, LANDED_SCHEMA
    ).dropDuplicates(["doc_id"])


def foreach_batch_crawl_ingest(
    landed_dir: str,
    archive_col: str = "archive",
):
    """Build the foreachBatch function. Per micro-batch of WARC blobs:
    parse records (Content-Length-sliced), extract visible text from
    each HTML payload, derive doc_id from the record's target URI
    (last path segment), append to the landing table."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        import pandas as pd

        def extract(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            from economic_data_etl_spark.operators.html import (
                html_to_text,
            )
            from economic_data_etl_spark.operators.warc import read_warc

            for pdf in batches:
                rows = []
                for blob in pdf[archive_col]:
                    for rec in read_warc(bytes(blob)):
                        uri = rec["headers"]["WARC-Target-URI"]
                        rows.append(
                            {
                                "doc_id": int(uri.rsplit("/", 1)[1]),
                                "uri": uri,
                                "text": html_to_text(
                                    rec["payload"].decode("utf-8")
                                ),
                            }
                        )
                yield pd.DataFrame(
                    rows, columns=["doc_id", "uri", "text"]
                )

        batch_df.select(archive_col).mapInPandas(
            extract, LANDED_SCHEMA
        ).write.mode("append").parquet(landed_dir)

    return handle
