"""Erasure propagation through the standing indexes (substring gram
firsts, crawl frontier seen-set): the batch erasure
algebra and the served frontier must equal a FROM-SCRATCH rebuild on the
reduced corpus, at every crash offset of the frontier's erasure sequence;
a full replay must be idempotent, and the sharp reassignment cases must
actually fire (a revoked retained-first gram/canonical moving to its
earliest survivor).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F


def _staged_swap(df, path: str) -> None:
    staging = f"{path}.staging"
    df.write.mode("overwrite").parquet(staging)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(staging, path)


def _rows(df) -> set:
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in row)
        for row in df.collect()
    }


# =====================================================================
# Substring gram-first index + spans
# =====================================================================
K = 3
# Gram layout (k=3): "a b c" first lives in doc 1 and recurs in docs 2
# and 3 — revoking doc 1 must move the first to doc 2 (whose span then
# disappears) while doc 3 stays duplicated. "p q r" repeats only inside
# doc 1 (leaves the index entirely). "x y z" first lives in doc 4
# (unaffected, must be byte-identical after erasure).
DOCS = [
    (1, "a b c p q r p q r"),
    (2, "z1 z2 a b c t1"),
    (3, "a b c q7 q8"),
    (4, "x y z m1 m2"),
    (5, "n1 x y z n2"),
]


class TestSubstringErasure:
    def _truth(self, spark, revoked_ids):
        from economic_data_etl_spark.operators.substring import (
            duplicate_spans,
            gram_index_firsts,
        )

        docs = spark.createDataFrame(
            [d for d in DOCS if d[0] not in revoked_ids],
            "doc_id long, text string",
        )
        return (
            _rows(gram_index_firsts(docs, "doc_id", "text", K)),
            _rows(duplicate_spans(docs, "doc_id", "text", K)),
        )

    def test_batch_operator_equals_rebuild(self, spark):
        """The batch algebra (operators/substring.py:
        erase_substring_index) reproduces the from-scratch rebuild,
        including first reassignment and span shrinkage."""
        from economic_data_etl_spark.operators.substring import (
            duplicate_spans,
            erase_substring_index,
            gram_index_firsts,
        )

        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        index = gram_index_firsts(docs, "doc_id", "text", K)
        spans = duplicate_spans(docs, "doc_id", "text", K)
        revoked = spark.createDataFrame([(1,)], "doc_id long")
        surviving = docs.filter(F.col("doc_id") != 1)
        idx2, spans2 = erase_substring_index(
            index, spans, revoked, surviving, "doc_id", "text", K
        )
        want_idx, want_spans = self._truth(spark, {1})
        assert _rows(idx2) == want_idx
        assert _rows(spans2) == want_spans
        # the sharp facts, asserted explicitly:
        assert ("a b c", 2, 2) in want_idx  # first moved doc1 -> doc2
        assert not any(g == "p q r" for g, _, _ in want_idx)  # gone
        assert ("x y z", 4, 0) in want_idx  # unaffected first kept
        assert not any(d == 2 for d, _, _ in want_spans)  # span freed
        assert any(d == 3 for d, _, _ in want_spans)  # still dup

# =====================================================================
# Crawl-frontier seen-set
# =====================================================================
URL_ROWS = [
    (i, f"HTTP://WWW.Site{i % 3}.COM:80//p//{i % 4}/?utm_s=x&b=2&a=1#f")
    for i in range(12)
]


class TestFrontierErasure:
    def _truth(self, spark, revoked_ids):
        from economic_data_etl_spark.operators.urls import canonical_url

        df = spark.createDataFrame(
            [r for r in URL_ROWS if r[0] not in revoked_ids],
            "doc_id long, url string",
        )
        return _rows(
            df.select(
                canonical_url(F.col("url")).alias("canonical"), "doc_id"
            )
            .groupBy("canonical")
            .agg(F.min("doc_id").alias("first_doc"))
        )

    def _build(self, spark, tmp_path, tag):
        from economic_data_etl_spark.streaming.crawl_frontier import (
            foreach_batch_crawl_frontier,
        )

        idx = str(tmp_path / f"{tag}_idx")
        fr = str(tmp_path / f"{tag}_fr")
        tb = str(tmp_path / f"{tag}_tb")
        patch = str(tmp_path / f"{tag}_patch")
        df = spark.createDataFrame(URL_ROWS, "doc_id long, url string")
        handle = foreach_batch_crawl_frontier(idx, fr)
        handle(df.filter(F.col("doc_id") < 6), 0)
        handle(df.filter(F.col("doc_id") >= 6), 1)
        return idx, fr, tb, patch

    def test_erasure_reassigns_firsts_and_fuzz(self, spark, tmp_path):
        from economic_data_etl_spark.streaming.crawl_frontier import (
            INDEX_SCHEMA,
            apply_erasure,
            frontier_erasure_patch,
            read_frontier_erased,
        )
        from economic_data_etl_spark.operators.io import (
            read_parquet_or_empty,
        )

        revoked_ids = {0, 1, 2}  # every canonical's original first
        want = self._truth(spark, revoked_ids)
        # reassignment fires: firsts move to later surviving docs
        assert want and all(fd not in revoked_ids for _, fd in want)
        revoked = spark.createDataFrame(
            [(i,) for i in sorted(revoked_ids)], "doc_id long"
        )
        surviving = spark.createDataFrame(
            [r for r in URL_ROWS if r[0] not in revoked_ids],
            "doc_id long, url string",
        )

        idx, fr, tb, patch = self._build(spark, tmp_path, "full")
        before = _rows(read_frontier_erased(spark, idx, tb, patch))
        assert before != want
        apply_erasure(
            spark, idx, fr, tb, patch, revoked, surviving
        )
        for path in (idx, fr):
            assert (
                _rows(read_frontier_erased(spark, path, tb, patch))
                == want
            )
        apply_erasure(  # replay no-op
            spark, idx, fr, tb, patch, revoked, surviving
        )
        assert _rows(read_frontier_erased(spark, idx, tb, patch)) == want
        assert not os.path.exists(tb) and not os.path.exists(patch)

        for kill_at in range(1, 6):
            idx, fr, tb, patch = self._build(
                spark, tmp_path, f"k{kill_at}"
            )

            def write_patch():
                index = read_parquet_or_empty(
                    spark, idx, INDEX_SCHEMA
                ).dropDuplicates(["canonical"])
                frontier_erasure_patch(
                    index, revoked, surviving
                ).write.mode("overwrite").parquet(patch)

            def compact(path):
                _staged_swap(
                    read_frontier_erased(spark, path, tb, patch), path
                )

            steps = [
                write_patch,
                lambda: revoked.select(
                    F.col("doc_id").alias("first_doc")
                ).write.mode("append").parquet(tb),
                lambda: compact(idx),
                lambda: compact(fr),
                lambda: shutil.rmtree(patch),
            ]
            for s in steps[:kill_at]:
                s()
            served = _rows(read_frontier_erased(spark, idx, tb, patch))
            if kill_at == 1:
                assert served == before, f"kill_at={kill_at}"
            else:
                assert served == want, f"kill_at={kill_at}"
            apply_erasure(
                spark, idx, fr, tb, patch, revoked, surviving
            )
            for path in (idx, fr):
                assert (
                    _rows(read_frontier_erased(spark, path, tb, patch))
                    == want
                ), f"post-replay kill_at={kill_at}"
            assert not os.path.exists(tb)
