"""Streaming link index: stream-built edge table must equal the
one-shot batch extraction, a redelivered batch must append nothing,
and the two-sided erasure (linker AND target) must equal the mask at
every crash offset of the tombstone-then-compact sequence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.linkgraph import (
    anchor_index_from_edges,
    erase_link_edges,
    link_edges_for_docs,
)
from economic_data_etl_spark.streaming.incremental_linkgraph import (
    EDGES_SCHEMA,
    apply_erasure,
    foreach_batch_incremental_links,
    read_edges,
    read_edges_erased,
)
from economic_data_etl_spark.operators.io import read_parquet_or_empty

N_DOCS = 64


def _all_docs(spark):
    return spark.range(N_DOCS).select(F.col("id").alias("doc_id"))


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def doc_drops(spark, tmp_path):
    """Three page-id file drops (= three micro-batches)."""
    src = tmp_path / "docs_src"
    src.mkdir()
    i = 0
    for lo, hi in ((0, 21), (21, 46), (46, N_DOCS)):
        d = tmp_path / f"b{lo}"
        _all_docs(spark).filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(str(d))
        for f in sorted(d.glob("*.parquet")):
            f.rename(src / f"drop{i}.parquet")
            i += 1
    return src


def test_stream_equals_batch(spark, tmp_path, doc_drops):
    edges_dir = str(tmp_path / "edges")
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(doc_drops))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_incremental_links(edges_dir, N_DOCS)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    want_edges = link_edges_for_docs(_all_docs(spark), N_DOCS)
    got = read_edges(spark, edges_dir)
    assert _rows(got) == _rows(want_edges)
    # served anchor index == the one-shot aggregation
    assert _rows(anchor_index_from_edges(got)) == _rows(
        anchor_index_from_edges(want_edges)
    )


def test_redelivered_batch_appends_nothing(spark, tmp_path):
    edges_dir = str(tmp_path / "edges")
    handle = foreach_batch_incremental_links(edges_dir, N_DOCS)
    batch = _all_docs(spark).filter(F.col("doc_id") < 10)
    handle(batch, 0)
    first = _rows(read_parquet_or_empty(spark, edges_dir, EDGES_SCHEMA))
    assert first
    handle(batch, 0)  # full redelivery
    assert (
        _rows(read_parquet_or_empty(spark, edges_dir, EDGES_SCHEMA))
        == first
    )
    # overlapping batch appends only the new docs' edges
    handle(_all_docs(spark).filter(F.col("doc_id") < 15), 1)
    got = read_edges(spark, edges_dir)
    assert _rows(got) == _rows(
        link_edges_for_docs(
            _all_docs(spark).filter(F.col("doc_id") < 15), N_DOCS
        )
    )


class TestLinkErasure:
    REVOKED = [2, 22]  # doc 9 links to doc 2's URL (7*9+3 = 66 % 64)

    def _revoked_df(self, spark):
        return spark.createDataFrame(
            [
                (d, f"https://site{d % 7}.example.com/doc/{d}")
                for d in self.REVOKED
            ],
            "doc_id long, base_url string",
        )

    def _build(self, spark, tmp_path, tag):
        edges_dir = str(tmp_path / f"{tag}_edges")
        handle = foreach_batch_incremental_links(edges_dir, N_DOCS)
        handle(_all_docs(spark).filter(F.col("doc_id") < 30), 0)
        handle(_all_docs(spark).filter(F.col("doc_id") >= 30), 1)
        return edges_dir, str(tmp_path / f"{tag}_tb")

    @pytest.fixture()
    def want(self, spark):
        """Ground truth: the two-sided mask over the one-shot edges."""
        return _rows(
            erase_link_edges(
                link_edges_for_docs(_all_docs(spark), N_DOCS),
                self._revoked_df(spark),
            )
        )

    def test_two_sided_erasure_and_replay(self, spark, tmp_path, want):
        edges_dir, tb = self._build(spark, tmp_path, "full")
        before = read_edges(spark, edges_dir)
        # sharp case: surviving doc 9's edge TO revoked doc 2's URL
        target2 = "https://site2.example.com/doc/2"
        assert (
            before.filter(
                (F.col("src_doc_id") == 9)
                & (F.col("dst_url") == target2)
            ).count()
            == 1
        )
        apply_erasure(spark, edges_dir, tb, self._revoked_df(spark))
        got = read_edges(spark, edges_dir)
        assert _rows(got) == want
        # linker side gone, target side gone, doc 9 otherwise survives
        assert got.filter(F.col("src_doc_id").isin(self.REVOKED)).count() == 0
        assert got.filter(F.col("dst_url") == target2).count() == 0
        assert got.filter(F.col("src_doc_id") == 9).count() == 6
        # the ?ref= query variant of a revoked page is masked too
        assert (
            got.filter(
                F.col("dst_url").startswith(target2 + "?")
            ).count()
            == 0
        )
        # replay is a no-op
        apply_erasure(spark, edges_dir, tb, self._revoked_df(spark))
        assert _rows(read_edges(spark, edges_dir)) == want
        assert not os.path.exists(tb)

    def test_crash_at_every_offset(self, spark, tmp_path, want):
        import shutil

        from economic_data_etl_spark.streaming.incremental_linkgraph import (
            TOMBSTONES_SCHEMA,
        )

        def step_tombstone(edges_dir, tb):
            self._revoked_df(spark).write.mode("append").parquet(tb)

        def step_compact(edges_dir, tb):
            staging = f"{edges_dir}.staging"
            kept = read_edges_erased(spark, edges_dir, tb)
            kept.write.mode("overwrite").parquet(staging)
            shutil.rmtree(edges_dir)
            os.rename(staging, edges_dir)

        def step_clear(edges_dir, tb):
            shutil.rmtree(tb)

        steps = [step_tombstone, step_compact, step_clear]
        for kill_at in range(1, 4):
            edges_dir, tb = self._build(spark, tmp_path, f"k{kill_at}")
            for s in steps[:kill_at]:
                s(edges_dir, tb)
            # masked read serves the reduced graph at every offset
            assert _rows(read_edges_erased(spark, edges_dir, tb)) == want, (
                f"mid-crash read wrong at kill_at={kill_at}"
            )
            # replay from the top converges
            apply_erasure(spark, edges_dir, tb, self._revoked_df(spark))
            assert _rows(read_edges(spark, edges_dir)) == want, (
                f"post-replay state wrong at kill_at={kill_at}"
            )
            assert not os.path.exists(tb)
            tombs = read_parquet_or_empty(spark, tb, TOMBSTONES_SCHEMA)
            assert tombs.count() == 0
