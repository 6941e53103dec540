"""Streaming BM25 index: stream-built index must serve the same scores
as the one-shot batch pass, a redelivered batch must append nothing,
and a crash at ANY offset in the append sequence must converge to the
no-crash state after replay (the postings-then-doclens order contract).
"""

from __future__ import annotations

from tests.crash_points import crash_offsets

import pytest
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.retrieval import (
    append_to_index,
    bm25_from_index,
    bm25_scores,
    build_postings,
)
from economic_data_etl_spark.sources.tables import load_table
from economic_data_etl_spark.streaming.incremental_bm25 import (
    DOCLENS_SCHEMA,
    foreach_batch_incremental_bm25,
    read_index,
)
from economic_data_etl_spark.operators.io import read_parquet_or_empty

SF_DIR = "/root/testdata/sf0.001"
TERMS = ["stream", "batch", "window"]


@pytest.fixture()
def doc_drops(spark, tmp_path):
    """Three document file drops (= three micro-batches)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = tmp_path / "docs_src"
    src.mkdir()
    i = 0
    for lo, hi in ((0, 150), (150, 300), (300, 10**9)):
        d = tmp_path / f"b{lo}"
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(str(d))
        for f in sorted(d.glob("*.parquet")):
            f.rename(src / f"drop{i}.parquet")
            i += 1
    return src


def _served_scores(spark, postings_dir, doclens_dir):
    postings, doclens = read_index(spark, postings_dir, doclens_dir)
    return {
        r.doc_id: r.score
        for r in bm25_from_index(postings, doclens, TERMS).collect()
    }


def test_stream_equals_batch(spark, tmp_path, doc_drops):
    postings_dir = str(tmp_path / "postings")
    doclens_dir = str(tmp_path / "doclens")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(doc_drops))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_incremental_bm25(postings_dir, doclens_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    docs = load_table(spark, SF_DIR, "documents")
    # index contents == one-shot build over the full corpus
    postings, doclens = read_index(spark, postings_dir, doclens_dir)
    want_p, want_l = build_postings(docs)
    assert sorted(map(tuple, postings.collect())) == sorted(
        map(tuple, want_p.collect())
    )
    assert sorted(map(tuple, doclens.collect())) == sorted(
        map(tuple, want_l.collect())
    )

    # served scores == the ad-hoc batch scorer over raw documents
    got = _served_scores(spark, postings_dir, doclens_dir)
    want = {
        r.doc_id: r.score for r in bm25_scores(docs, TERMS).collect()
    }
    assert got.keys() == want.keys() and got
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_redelivered_batch_appends_nothing(spark, tmp_path):
    postings_dir = str(tmp_path / "p")
    doclens_dir = str(tmp_path / "l")
    batch = spark.createDataFrame(
        [(1, "stream batch stream"), (2, "window scan")],
        "doc_id long, text string",
    )
    handle = foreach_batch_incremental_bm25(postings_dir, doclens_dir)
    handle(batch, 0)
    p1 = sorted(
        map(tuple, spark.read.parquet(postings_dir).collect())
    )
    l1 = sorted(map(tuple, spark.read.parquet(doclens_dir).collect()))
    assert p1 and l1

    handle(batch, 0)  # redelivery: membership anti-join drops everything
    p2 = sorted(
        map(tuple, spark.read.parquet(postings_dir).collect())
    )
    l2 = sorted(map(tuple, spark.read.parquet(doclens_dir).collect()))
    assert p2 == p1 and l2 == l1


def _run_with_kill(spark, batches, postings_dir, doclens_dir, kill_at):
    """Execute the handler's append sequence step-by-step (2 steps per
    batch: postings append, doclens append), killing after `kill_at`
    steps; then REPLAY from the interrupted batch through the real
    handler (foreachBatch redelivers the whole batch) and finish the
    remaining batches. Returns nothing; state is in the dirs."""
    handle = foreach_batch_incremental_bm25(postings_dir, doclens_dir)
    step = 0
    killed = False
    for bi, batch in enumerate(batches):
        if killed:
            handle(batch, bi)
            continue
        # replicate the handler's internals so the crash can land
        # between the two appends
        doclens = read_parquet_or_empty(
            spark, doclens_dir, DOCLENS_SCHEMA
        )
        new_p, new_l = append_to_index(doclens, batch)
        if step == kill_at:
            killed = True
        else:
            new_p.select(
                F.col("doc_id"), "token", "tf"
            ).write.mode("append").parquet(postings_dir)
        step += 1
        if not killed:
            if step == kill_at:
                killed = True
            else:
                new_l.select(F.col("doc_id"), "dl").write.mode(
                    "append"
                ).parquet(doclens_dir)
            step += 1
        if killed:
            # recovery: the stream redelivers THIS batch in full
            handle(batch, bi)
    # (kill_at >= total steps means no crash happened)


def test_crash_at_every_offset_converges(spark, tmp_path):
    rows = [
        (1, "stream batch stream window"),
        (2, "window scan batch"),
        (3, "stream stream stream filter"),
        (4, "batch window join"),
        (5, "scan merge stream"),
        (6, "window window batch stream"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batches = [
        df.filter(F.col("doc_id").isin([1, 2])),
        df.filter(F.col("doc_id").isin([3, 4])),
        df.filter(F.col("doc_id").isin([5, 6])),
    ]

    # clean run = ground truth
    clean_p = str(tmp_path / "clean_p")
    clean_l = str(tmp_path / "clean_l")
    handle = foreach_batch_incremental_bm25(clean_p, clean_l)
    for bi, b in enumerate(batches):
        handle(b, bi)
    want = _served_scores(spark, clean_p, clean_l)
    assert want  # non-trivial

    total_steps = 2 * len(batches)
    for kill_at in crash_offsets(total_steps):
        p_dir = str(tmp_path / f"k{kill_at}_p")
        l_dir = str(tmp_path / f"k{kill_at}_l")
        _run_with_kill(spark, batches, p_dir, l_dir, kill_at)
        got = _served_scores(spark, p_dir, l_dir)
        assert got.keys() == want.keys(), f"kill_at={kill_at}"
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-12), (
                f"kill_at={kill_at} doc={k}"
            )
        # doclens must be exactly-once per doc even after replay
        ldf = spark.read.parquet(l_dir)
        assert ldf.count() == ldf.select("doc_id").distinct().count()


class TestErasure:
    """Tombstone-then-compact erasure: served BM25 must equal a
    from-scratch build on the reduced corpus at EVERY crash offset of
    the erasure — including mid-crash reads before any recovery runs
    (tombstone masking), and idempotent full replays."""

    TERMS = ["stream", "batch", "window"]

    def _build(self, spark, sf_dir, tmp_path, tag):
        from pyspark.sql import functions as F

        from economic_data_etl_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        )
        p = str(tmp_path / f"{tag}_postings")
        dl = str(tmp_path / f"{tag}_doclens")
        tb = str(tmp_path / f"{tag}_tombstones")
        handle = foreach_batch_incremental_bm25(p, dl)
        for b in range(3):
            handle(docs.filter(F.col("doc_id") % 3 == b), b)
        revoked = docs.filter(F.col("source") == "src2").select(
            "doc_id"
        )
        return docs, p, dl, tb, revoked

    def _served(self, spark, p, dl, tb):
        from economic_data_etl_spark.operators.retrieval import (
            bm25_from_index,
        )
        from economic_data_etl_spark.streaming.incremental_bm25 import (
            read_index_erased,
        )

        postings, doclens = read_index_erased(spark, p, dl, tb)
        return {
            r.doc_id: round(r.score, 9)
            for r in bm25_from_index(
                postings, doclens, self.TERMS
            ).collect()
        }

    def _want(self, spark, docs):
        from pyspark.sql import functions as F

        from economic_data_etl_spark.operators.retrieval import (
            bm25_from_index,
            build_postings,
        )

        reduced = docs.filter(F.col("source") != "src2")
        postings, doclens = build_postings(reduced)
        return {
            r.doc_id: round(r.score, 9)
            for r in bm25_from_index(
                postings, doclens, self.TERMS
            ).collect()
        }

    def test_erasure_equals_rebuild(self, spark, sf_dir, tmp_path):
        from economic_data_etl_spark.streaming.incremental_bm25 import (
            apply_erasure,
        )

        docs, p, dl, tb, revoked = self._build(
            spark, sf_dir, tmp_path, "full"
        )
        apply_erasure(spark, p, dl, tb, revoked)
        assert self._served(spark, p, dl, tb) == self._want(spark, docs)
        # replaying the whole erasure is a no-op
        apply_erasure(spark, p, dl, tb, revoked)
        assert self._served(spark, p, dl, tb) == self._want(spark, docs)

    def test_tombstones_mask_before_compaction(
        self, spark, sf_dir, tmp_path
    ):
        """Crash right after the tombstone append (nothing compacted):
        reads must ALREADY serve the reduced index."""
        docs, p, dl, tb, revoked = self._build(
            spark, sf_dir, tmp_path, "mask"
        )
        revoked.select("doc_id").write.mode("append").parquet(tb)
        assert self._served(spark, p, dl, tb) == self._want(spark, docs)

    def test_crash_between_compactions_still_serves_reduced(
        self, spark, sf_dir, tmp_path
    ):
        """Crash after the postings compaction but before doclens:
        tombstones still mask doclens, so serving stays correct; the
        replayed erasure then converges."""
        from economic_data_etl_spark.streaming.incremental_bm25 import (
            DOCLENS_SCHEMA,
            POSTINGS_SCHEMA,
            apply_erasure,
        )
        from economic_data_etl_spark.operators.io import (
            read_parquet_or_empty,
        )
        import os
        import shutil

        docs, p, dl, tb, revoked = self._build(
            spark, sf_dir, tmp_path, "mid"
        )
        revoked.select("doc_id").write.mode("append").parquet(tb)
        # manually compact ONLY postings (simulating the mid-crash)
        kept = read_parquet_or_empty(spark, p, POSTINGS_SCHEMA).join(
            revoked.select("doc_id"), "doc_id", "left_anti"
        )
        staging = f"{p}.staging"
        kept.write.mode("overwrite").parquet(staging)
        shutil.rmtree(p)
        os.rename(staging, p)
        assert self._served(spark, p, dl, tb) == self._want(spark, docs)
        # replay the full erasure: converges and clears tombstones
        apply_erasure(spark, p, dl, tb, revoked)
        assert self._served(spark, p, dl, tb) == self._want(spark, docs)
        assert not os.path.exists(tb)
