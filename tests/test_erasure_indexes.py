"""Erasure propagation through the remaining standing indexes
(semantic clusters, pHash fingerprints, substring gram firsts, crawl
frontier seen-set): served state must equal a FROM-SCRATCH rebuild on
the reduced corpus at every crash offset of the erasure sequence, a
full replay must be idempotent, and the sharp reassignment cases must
actually fire (a revoked pair KEEPER releasing its twin; a revoked
retained-first gram/canonical moving to its earliest survivor).

The BM25 twin's contract (tests/test_incremental_bm25_stream.py:
TestErasure) extended to the other four standing-state families.
"""

from __future__ import annotations

import os
import shutil

import pytest
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
# Semantic cluster index + pairs
# =====================================================================
CENTROIDS = [[1.0, 0.0], [0.0, 1.0]]
TAU = 0.95
# pair structure at TAU: (1,2) (1,5) (2,5) in cluster 0, (3,4) in
# cluster 1 — vec 1 is the KEEPER of (1,2): revoking it must release
# vec 2 back into the keep set (2 stays dropped only via (2,5)'s id_b=5)
VECS = [
    (1, [1.0, 0.05]),
    (2, [0.99, 0.04]),
    (3, [0.05, 1.0]),
    (4, [0.04, 0.98]),
    (5, [0.97, 0.06]),
    (6, [0.5, 0.5]),  # cluster tie-breaks to 0, far from the others
]


class TestSemanticErasure:
    def _build(self, spark, tmp_path, tag, ids):
        from economic_data_etl_spark.streaming.incremental_semantic import (
            foreach_batch_incremental_semantic,
        )

        idx = str(tmp_path / f"{tag}_idx")
        pairs = str(tmp_path / f"{tag}_pairs")
        tb = str(tmp_path / f"{tag}_tb")
        handle = foreach_batch_incremental_semantic(
            idx, pairs, CENTROIDS, TAU, probes=1
        )
        df = spark.createDataFrame(
            [r for r in VECS if r[0] in ids],
            "vec_id long, embedding array<double>",
        )
        handle(df.filter(F.col("vec_id") <= 3), 0)
        handle(df.filter(F.col("vec_id") > 3), 1)
        return idx, pairs, tb

    def _served(self, spark, idx, pairs, tb):
        from economic_data_etl_spark.streaming.incremental_semantic import (
            read_index_erased,
        )

        index, prs = read_index_erased(spark, idx, pairs, tb)
        return _rows(index), _rows(prs)

    @pytest.fixture()
    def want(self, spark, tmp_path):
        """Ground truth: a from-scratch build over the reduced corpus
        (vec 1 revoked) with the same frozen centroids."""
        idx, pairs, tb = self._build(
            spark, tmp_path, "truth", ids={2, 3, 4, 5, 6}
        )
        return self._served(spark, idx, pairs, tb)

    def test_sharp_case_keeper_revoked(self, spark, tmp_path, want):
        """Vec 1 keeps vec 2 via pair (1, 2); erasing vec 1 must leave
        the SAME pair set as the rebuild — including (2, 5), where the
        released vec 2 is now the keeper."""
        _, want_pairs = want
        assert (2, 5) in want_pairs and (1, 2) not in want_pairs
        idx, pairs, tb = self._build(
            spark, tmp_path, "full", ids={1, 2, 3, 4, 5, 6}
        )
        full_pairs = self._served(spark, idx, pairs, tb)[1]
        assert (1, 2) in full_pairs  # revoked keeper pair existed

        from economic_data_etl_spark.streaming.incremental_semantic import (
            apply_erasure,
        )

        revoked = spark.createDataFrame([(1,)], "vec_id long")
        apply_erasure(spark, idx, pairs, tb, revoked)
        assert self._served(spark, idx, pairs, tb) == want
        # replay is a no-op
        apply_erasure(spark, idx, pairs, tb, revoked)
        assert self._served(spark, idx, pairs, tb) == want
        assert not os.path.exists(tb)

    def test_crash_at_every_offset(self, spark, tmp_path, want):
        from economic_data_etl_spark.streaming.incremental_semantic import (
            IDX_SCHEMA,
            PAIRS_SCHEMA,
            TOMBSTONES_SCHEMA,
            apply_erasure,
        )
        from economic_data_etl_spark.operators.io import read_parquet_or_empty
        from economic_data_etl_spark.streaming.util import erase_ids

        for kill_at in range(1, 4):
            idx, pairs, tb = self._build(
                spark, tmp_path, f"k{kill_at}", ids={1, 2, 3, 4, 5, 6}
            )
            revoked = spark.createDataFrame([(1,)], "vec_id long")

            def tombs():
                return read_parquet_or_empty(
                    spark, tb, TOMBSTONES_SCHEMA
                ).dropDuplicates(["vec_id"])

            steps = [
                lambda: revoked.write.mode("append").parquet(tb),
                lambda: _staged_swap(
                    erase_ids(
                        read_parquet_or_empty(spark, idx, IDX_SCHEMA),
                        tombs(),
                        ["vec_id"],
                    ),
                    idx,
                ),
                lambda: _staged_swap(
                    erase_ids(
                        read_parquet_or_empty(spark, pairs, PAIRS_SCHEMA),
                        tombs(),
                        ["id_a", "id_b"],
                    ),
                    pairs,
                ),
            ]
            for s in steps[:kill_at]:
                s()
            # tombstones are in: reads are already rebuild-exact
            assert self._served(spark, idx, pairs, tb) == want, (
                f"mid-crash read wrong at kill_at={kill_at}"
            )
            apply_erasure(spark, idx, pairs, tb, revoked)  # replay
            assert self._served(spark, idx, pairs, tb) == want, (
                f"post-replay state wrong at kill_at={kill_at}"
            )
            assert not os.path.exists(tb)


# =====================================================================
# pHash fingerprint index + pairs
# =====================================================================
def _img_payload(i: int) -> bytes:
    from economic_data_etl_spark.operators.codecs import encode_png
    from economic_data_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )
    from economic_data_etl_spark.operators.planted import planted_texture

    if i % 4 == 3:  # near-dup twin of the previous image
        src = planted_texture(i - 1)
        return bytes(encode_png(decode_jpeg(encode_jpeg_gray(src))))
    return bytes(encode_png(planted_texture(i)))


N_IMG = 12  # pairs (2,3), (6,7), (10,11)


class TestPhashErasure:
    def _build(self, spark, tmp_path, tag, ids):
        from economic_data_etl_spark.streaming.incremental_phash import (
            foreach_batch_incremental_phash,
        )

        idx = str(tmp_path / f"{tag}_idx")
        pairs = str(tmp_path / f"{tag}_pairs")
        tb = str(tmp_path / f"{tag}_tb")
        rows = [
            (i, bytearray(_img_payload(i)))
            for i in range(N_IMG)
            if i in ids
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, payload binary"
        ).withColumn("payload", F.col("payload").cast("binary"))
        handle = foreach_batch_incremental_phash(idx, pairs)
        handle(df.filter(F.col("doc_id") < 6), 0)
        handle(df.filter(F.col("doc_id") >= 6), 1)
        return idx, pairs, tb

    def _served(self, spark, idx, pairs, tb):
        from economic_data_etl_spark.streaming.incremental_phash import (
            read_index_erased,
        )

        index, prs = read_index_erased(spark, idx, pairs, tb)
        return _rows(index), _rows(prs)

    def test_erasure_equals_rebuild_and_survivor_count_shifts(
        self, spark, tmp_path
    ):
        """Revoke image 2 (the pair-source of twin 3): the rebuild on
        the reduced universe has no (2, 3) pair, twin 3's fingerprint
        survives, and the other pairs are untouched."""
        from economic_data_etl_spark.streaming.incremental_phash import (
            apply_erasure,
        )

        t_idx, t_pairs, t_tb = self._build(
            spark, tmp_path, "truth", ids=set(range(N_IMG)) - {2}
        )
        want = self._served(spark, t_idx, t_pairs, t_tb)
        assert (6, 7) in want[1] and all(
            2 not in p for p in want[1]
        )
        assert any(r[0] == 3 for r in want[0])  # twin survives

        idx, pairs, tb = self._build(
            spark, tmp_path, "full", ids=set(range(N_IMG))
        )
        assert (2, 3) in self._served(spark, idx, pairs, tb)[1]
        revoked = spark.createDataFrame([(2,)], "id long")
        apply_erasure(spark, idx, pairs, tb, revoked)
        assert self._served(spark, idx, pairs, tb) == want
        apply_erasure(spark, idx, pairs, tb, revoked)  # idempotent
        assert self._served(spark, idx, pairs, tb) == want

    def test_tombstones_mask_before_compaction(self, spark, tmp_path):
        t_idx, t_pairs, t_tb = self._build(
            spark, tmp_path, "truth2", ids=set(range(N_IMG)) - {2}
        )
        want = self._served(spark, t_idx, t_pairs, t_tb)
        idx, pairs, tb = self._build(
            spark, tmp_path, "mask", ids=set(range(N_IMG))
        )
        spark.createDataFrame([(2,)], "id long").write.mode(
            "append"
        ).parquet(tb)
        assert self._served(spark, idx, pairs, tb) == want


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

    def _build(self, spark, tmp_path, tag):
        from economic_data_etl_spark.streaming.incremental_substring import (
            foreach_batch_incremental_substring,
        )

        idx = str(tmp_path / f"{tag}_idx")
        spans = str(tmp_path / f"{tag}_spans")
        tb = str(tmp_path / f"{tag}_tb")
        patch = str(tmp_path / f"{tag}_patch")
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        handle = foreach_batch_incremental_substring(
            idx, spans, k=K
        )
        handle(docs.filter(F.col("doc_id") <= 2), 0)
        handle(docs.filter(F.col("doc_id") > 2), 1)
        return idx, spans, tb, patch

    def _served(self, spark, idx, spans, tb, patch):
        from economic_data_etl_spark.streaming.incremental_substring import (
            read_index_erased,
        )

        index, sp = read_index_erased(spark, idx, spans, tb, patch)
        return _rows(index), _rows(sp)

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

    def test_stream_erasure_and_crash_fuzz(self, spark, tmp_path):
        from economic_data_etl_spark.operators.substring import (
            substring_erasure_patch,
        )
        from economic_data_etl_spark.streaming.incremental_substring import (
            INDEX_SCHEMA,
            SPANS_SCHEMA,
            _patch_dirs,
            apply_erasure,
            read_index_erased,
        )
        from economic_data_etl_spark.operators.io import (
            read_parquet_or_empty,
        )

        want = self._truth(spark, {1})
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        revoked = spark.createDataFrame([(1,)], "doc_id long")
        surviving = docs.filter(F.col("doc_id") != 1)

        # clean full run first
        idx, spans, tb, patch = self._build(spark, tmp_path, "full")
        before = self._served(spark, idx, spans, tb, patch)
        assert before != want  # erasure is not vacuous
        apply_erasure(
            spark, idx, spans, tb, patch, revoked, surviving,
            k=K,
        )
        assert self._served(spark, idx, spans, tb, patch) == want
        apply_erasure(  # replay is a no-op
            spark, idx, spans, tb, patch, revoked, surviving, k=K
        )
        assert self._served(spark, idx, spans, tb, patch) == want
        assert not os.path.exists(tb) and not os.path.exists(patch)

        # crash fuzz: kill after each step of the sequence
        for kill_at in range(1, 6):
            idx, spans, tb, patch = self._build(
                spark, tmp_path, f"k{kill_at}"
            )
            pidx, pspan = _patch_dirs(patch)

            def write_patch():
                index = read_parquet_or_empty(
                    spark, idx, INDEX_SCHEMA
                ).dropDuplicates(["gram"])
                nf, rs = substring_erasure_patch(
                    index, revoked, surviving, "doc_id", "text", K
                )
                nf.write.mode("overwrite").parquet(pidx)
                rs.write.mode("overwrite").parquet(pspan)

            def compact(which):
                index_m, spans_m = read_index_erased(
                    spark, idx, spans, tb, patch
                )
                _staged_swap(
                    index_m if which == "idx" else spans_m,
                    idx if which == "idx" else spans,
                )

            steps = [
                write_patch,
                lambda: revoked.write.mode("append").parquet(tb),
                lambda: compact("idx"),
                lambda: compact("spans"),
                lambda: shutil.rmtree(patch),
            ]
            for s in steps[:kill_at]:
                s()
            served = self._served(spark, idx, spans, tb, patch)
            if kill_at == 1:
                # patch written, tombstones NOT: erasure uncommitted
                assert served == before, f"kill_at={kill_at}"
            else:
                assert served == want, f"mid-crash kill_at={kill_at}"
            apply_erasure(
                spark, idx, spans, tb, patch, revoked, surviving, k=K
            )
            assert (
                self._served(spark, idx, spans, tb, patch) == want
            ), f"post-replay kill_at={kill_at}"
            assert not os.path.exists(tb)


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


# =====================================================================
# MinHash signature index + pairs
# =====================================================================
_SHARED = " ".join(f"w{i}" for i in range(30))
MINHASH_DOCS = [
    (1, _SHARED + " x1 x2"),
    (2, _SHARED + " x1 x3"),          # near-dup of 1 and 3
    (3, _SHARED + " x2 x4"),
    (4, " ".join(f"z{i}" for i in range(30))),  # unrelated
]


class TestMinhashErasure:
    def _build(self, spark, tmp_path, tag, ids):
        from economic_data_etl_spark.streaming.incremental_dedup import (
            foreach_batch_incremental_dedup,
        )

        idx = str(tmp_path / f"{tag}_idx")
        pairs = str(tmp_path / f"{tag}_pairs")
        tb = str(tmp_path / f"{tag}_tb")
        df = spark.createDataFrame(
            [d for d in MINHASH_DOCS if d[0] in ids],
            "doc_id long, text string",
        )
        handle = foreach_batch_incremental_dedup(idx, pairs)
        handle(df.filter(F.col("doc_id") <= 2), 0)
        handle(df.filter(F.col("doc_id") > 2), 1)
        return idx, pairs, tb

    def _served(self, spark, idx, pairs, tb):
        from economic_data_etl_spark.streaming.incremental_dedup import (
            read_index_erased,
        )

        index, prs = read_index_erased(spark, idx, pairs, tb)
        return _rows(index), _rows(prs)

    def test_erasure_equals_rebuild_with_masking_and_replay(
        self, spark, tmp_path
    ):
        from economic_data_etl_spark.streaming.incremental_dedup import (
            apply_erasure,
        )

        t = self._build(
            spark, tmp_path, "truth", ids={2, 3, 4}
        )
        want = self._served(spark, *t)
        assert any(
            (a, b) == (2, 3) for a, b, _ in want[1]
        )  # survivors still pair

        idx, pairs, tb = self._build(
            spark, tmp_path, "full", ids={1, 2, 3, 4}
        )
        full = self._served(spark, idx, pairs, tb)
        assert any(1 in (a, b) for a, b, _ in full[1])
        revoked = spark.createDataFrame([(1,)], "doc long")
        # masking alone is already rebuild-exact
        revoked.write.mode("append").parquet(tb)
        assert self._served(spark, idx, pairs, tb) == want
        # full erasure converges and is idempotent
        import shutil

        shutil.rmtree(tb)
        apply_erasure(spark, idx, pairs, tb, revoked)
        assert self._served(spark, idx, pairs, tb) == want
        apply_erasure(spark, idx, pairs, tb, revoked)
        assert self._served(spark, idx, pairs, tb) == want
        assert not os.path.exists(tb)
