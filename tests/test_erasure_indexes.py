"""Erasure propagation through the standing indexes (substring gram
firsts, crawl frontier seen-set): the batch erasure algebra must equal
a FROM-SCRATCH rebuild on the reduced corpus, and the sharp
reassignment cases must actually fire (a revoked retained-first
gram/canonical moving to its earliest survivor).
"""

from __future__ import annotations

from pyspark.sql import functions as F


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
# 12 canonicals, each seen twice: doc i and doc i + 12 share one
URL_ROWS = [
    (i, f"HTTP://WWW.Site{i % 3}.COM:80//p//{i % 4}/?utm_s=x&b=2&a=1#f")
    for i in range(24)
]


class TestFrontierErasure:
    def _index(self, spark, revoked_ids):
        """The (canonical, first_doc) seen-set a from-scratch build over
        the docs not in `revoked_ids` gives."""
        from economic_data_etl_spark.operators.urls import canonical_url

        df = spark.createDataFrame(
            [r for r in URL_ROWS if r[0] not in revoked_ids],
            "doc_id long, url string",
        )
        return (
            df.select(
                canonical_url(F.col("url")).alias("canonical"), "doc_id"
            )
            .groupBy("canonical")
            .agg(F.min("doc_id").alias("first_doc"))
        )

    def test_erasure_reassigns_firsts(self, spark):
        from economic_data_etl_spark.streaming.crawl_frontier import (
            erase_frontier_index,
            frontier_erasure_patch,
        )

        revoked_ids = {0, 1, 2}
        want = _rows(self._index(spark, revoked_ids))
        revoked = spark.createDataFrame(
            [(i,) for i in sorted(revoked_ids)], "doc_id long"
        )
        surviving = spark.createDataFrame(
            [r for r in URL_ROWS if r[0] not in revoked_ids],
            "doc_id long, url string",
        )

        def seen(df):
            return _rows(df.select("canonical", "first_doc"))

        index = self._index(spark, set())
        assert seen(index) != want
        # the revoked firsts move to their canonical's surviving twin
        affected = {c for c, fd in seen(index) if fd in revoked_ids}
        moved = {(c, fd) for c, fd in want if c in affected}
        assert {fd for _, fd in moved} == {12, 13, 14}
        assert seen(frontier_erasure_patch(index, revoked, surviving)) == moved
        erased = erase_frontier_index(index, revoked, surviving)
        assert seen(erased) == want
        # erasing again changes nothing: no first is revoked any more
        assert seen(erase_frontier_index(erased, revoked, surviving)) == want
