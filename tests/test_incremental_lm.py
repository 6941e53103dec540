"""Streaming Stupid-Backoff LM index: stream fold == one-shot counts,
redelivery fenced by the batch-id high-water mark (counts are additive,
NOT idempotent — the fence is load-bearing), and crash-recovery
contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from economic_data_etl_spark.plans.lmppl import (
    _gram_counts,
    _positions,
    token_arrays,
)
from economic_data_etl_spark.streaming.incremental_lm import (
    MARK,
    foreach_batch_incremental_lm,
    fold_counts,
    read_counts,
)
from economic_data_etl_spark.streaming.util import last_batch_id


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


def test_stream_fold_equals_one_shot(spark, tmp_path):
    docs = _docs(spark, _ROWS)
    state = str(tmp_path / "lm")
    handle = foreach_batch_incremental_lm(state)
    for bi in range(3):
        handle(docs.filter(F.col("doc_id") % 3 == bi), bi)
    want = _count_set(_one_shot(docs))
    got = _count_set(read_counts(spark, state))
    assert got == want
    assert last_batch_id(spark, state, MARK) == 2


def test_redelivery_is_fenced_not_absorbed(spark, tmp_path):
    """Replaying batch 0 under its original id must be a no-op; the
    same ROWS under a NEW id would double-count (additive counts), so
    the test pins exactly the high-water-mark semantics the sink
    documents."""
    docs = _docs(spark, _ROWS)
    b0 = docs.filter(F.col("doc_id") <= 3)
    b1 = docs.filter(F.col("doc_id") > 3)
    state = str(tmp_path / "lm")
    handle = foreach_batch_incremental_lm(state)
    handle(b0, 0)
    handle(b1, 1)
    want = _count_set(_one_shot(docs))
    handle(b0, 0)  # exact redelivery: skipped by the fence
    handle(b1, 1)
    assert _count_set(read_counts(spark, state)) == want


def test_fold_is_additive(spark):
    docs = _docs(spark, _ROWS)
    a = _one_shot(docs.filter(F.col("doc_id") <= 2))
    b = _one_shot(docs.filter(F.col("doc_id") > 2))
    assert _count_set(fold_counts(a, b)) == _count_set(_one_shot(docs))


def test_partial_staging_discarded(spark, tmp_path):
    import os

    docs = _docs(spark, _ROWS)
    state = str(tmp_path / "lm")
    staging = f"{state}.staging"
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "part-0.parquet"), "wb") as f:
        f.write(b"mid-write crash leftovers")
    handle = foreach_batch_incremental_lm(state)
    handle(docs, 0)
    assert _count_set(read_counts(spark, state)) == _count_set(
        _one_shot(docs)
    )
    assert not os.path.exists(staging)


def test_completed_staging_promoted_on_recovery(spark, tmp_path):
    """A staging dir with _SUCCESS (crash AFTER the write, BEFORE the
    rename) must be promoted, not discarded — the other crash shape."""
    import os

    docs = _docs(spark, _ROWS)
    state = str(tmp_path / "lm")
    staging = f"{state}.staging"
    handle = foreach_batch_incremental_lm(state)
    handle(docs.filter(F.col("doc_id") <= 3), 0)
    # simulate: batch 1 wrote staging fully, crashed before rename
    import shutil

    from economic_data_etl_spark.streaming.incremental_lm import (
        STATE_SCHEMA,
        _META_G,
        _META_ORD,
    )

    merged = fold_counts(
        read_counts(spark, state),
        _one_shot(docs.filter(F.col("doc_id") > 3)),
    ).select(
        F.col("ord").cast("int").alias("ord"),
        "g",
        F.col("c").cast("long").alias("c"),
    )
    meta = spark.createDataFrame([(_META_ORD, _META_G, 1)], STATE_SCHEMA)
    merged.unionByName(meta).write.mode("overwrite").parquet(staging)
    # next batch (a redelivery of 1) finds the completed staging:
    # recover_staging must promote it, then the fence skips the batch
    handle(docs.filter(F.col("doc_id") > 3), 1)
    assert _count_set(read_counts(spark, state)) == _count_set(
        _one_shot(docs)
    )
    assert last_batch_id(spark, state, MARK) == 1
    assert not os.path.exists(staging)


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


def test_crash_at_every_offset_converges(spark, tmp_path):
    """The NB-sink fuzz applied to the LM sink (same staged swap):
    kill at each internal offset of every batch — partial staging,
    complete staging with old state present, state removed before
    rename — replay through the real handler, and require exact
    convergence to the clean run with the fence intact."""
    import os
    import shutil

    from economic_data_etl_spark.streaming.incremental_lm import (
        STATE_SCHEMA,
        _META_G,
        _META_ORD,
    )
    from economic_data_etl_spark.operators.io import (
        read_parquet_or_empty,
    )

    docs = _docs(spark, _ROWS)
    batches = [
        docs.filter(F.col("doc_id").isin([1, 2])),
        docs.filter(F.col("doc_id").isin([3, 4])),
        docs.filter(F.col("doc_id").isin([5, 6])),
    ]
    clean = str(tmp_path / "clean")
    handle = foreach_batch_incremental_lm(clean)
    for bi, b in enumerate(batches):
        handle(b, bi)
    want = _count_set(read_counts(spark, clean))

    def write_staging(state, staging, b, bi, complete):
        merged = fold_counts(
            read_parquet_or_empty(spark, state, STATE_SCHEMA).filter(
                F.col("ord") != _META_ORD
            ),
            _one_shot(b),
        ).select(
            F.col("ord").cast("int").alias("ord"),
            "g",
            F.col("c").cast("long").alias("c"),
        )
        meta = spark.createDataFrame(
            [(_META_ORD, _META_G, bi)], STATE_SCHEMA
        )
        if complete:
            merged.unionByName(meta).write.mode(
                "overwrite"
            ).parquet(staging)
        else:
            os.makedirs(staging, exist_ok=True)
            with open(
                os.path.join(staging, "part-0.parquet"), "wb"
            ) as f:
                f.write(b"torn mid-write")

    for kill_batch in range(len(batches)):
        for mode in ("partial", "complete", "renamed-away"):
            state = str(tmp_path / f"k{kill_batch}_{mode}")
            h = foreach_batch_incremental_lm(state)
            for bi, b in enumerate(batches):
                if bi < kill_batch:
                    h(b, bi)
                    continue
                if bi == kill_batch:
                    staging = f"{state}.staging"
                    write_staging(
                        state, staging, b, bi, mode != "partial"
                    )
                    if mode == "renamed-away" and os.path.exists(
                        state
                    ):
                        shutil.rmtree(state)
                h(b, bi)
            assert _count_set(read_counts(spark, state)) == want, (
                kill_batch,
                mode,
            )
            assert last_batch_id(spark, state, MARK) == len(batches) - 1
