"""Incremental Stupid-Backoff LM index: the batch-by-batch count fold
equals the one-shot counts (counts are additive), and subtractive
erasure equals a rebuild on the reduced corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from economic_data_etl_spark.plans.lmppl import (
    _gram_counts,
    _positions,
    token_arrays,
)
from economic_data_etl_spark.streaming.incremental_lm import fold_counts


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def _one_shot(docs):
    return _gram_counts(_positions(token_arrays(docs)))


def _count_set(df):
    return sorted((r.ord, r.g, r.c) for r in df.collect())


_ROWS = [
    (1, "s1", "the cat sat on the mat"),
    (2, "s1", "the cat ran"),
    (3, "s2", "a dog sat on a log"),
    (4, "s2", "the dog and the cat"),
    (5, "s1", "mat and log and cat"),
    (6, "s2", "on the mat sat a cat"),
]


def test_stream_fold_equals_one_shot(spark):
    docs = _docs(spark, _ROWS)
    standing = _one_shot(docs.filter(F.col("doc_id") % 3 == 0))
    for bi in (1, 2):
        standing = fold_counts(
            standing, _one_shot(docs.filter(F.col("doc_id") % 3 == bi))
        )
    assert _count_set(standing) == _count_set(_one_shot(docs))


def test_fold_is_additive(spark):
    docs = _docs(spark, _ROWS)
    a = _one_shot(docs.filter(F.col("doc_id") <= 2))
    b = _one_shot(docs.filter(F.col("doc_id") > 2))
    assert _count_set(fold_counts(a, b)) == _count_set(_one_shot(docs))


def test_erasure_equals_rebuild_and_drops_exclusive_grams(spark):
    """Subtractive erasure == from-scratch rebuild on the reduced
    corpus, and a gram occurring ONLY in revoked docs leaves the
    index entirely (the sharp case: zero-count rows must not linger)."""
    from economic_data_etl_spark.streaming.incremental_lm import (
        erase_counts,
    )

    docs = _docs(
        spark,
        [
            (1, "keep", "the cat sat"),
            (2, "keep", "the dog ran"),
            (3, "gone", "the cat sat"),        # overlaps doc 1 fully
            (4, "gone", "zebra quagga zebra"), # exclusive grams
        ],
    )
    full = _one_shot(docs)
    revoked = _one_shot(docs.filter(F.col("source") == "gone"))
    erased = erase_counts(full, revoked)
    rebuilt = _one_shot(docs.filter(F.col("source") == "keep"))
    assert _count_set(erased) == _count_set(rebuilt)
    grams = {r.g for r in erased.collect()}
    assert "zebra" not in grams and "zebra quagga" not in grams
    assert "the cat" in grams  # shared gram survives at reduced count
    the_cat = {
        (r.ord, r.g): r.c for r in erased.collect()
    }[(2, "the cat")]
    assert the_cat == 1  # was 2 in the full index
