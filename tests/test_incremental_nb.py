"""Streaming NB classifier index: stream fold == one-shot counts,
redelivery fence, and both crash shapes (mirrors the LM sink's
contracts — counts are additive, NOT idempotent)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from economic_data_etl_spark.plans.classify import (
    nb_counts,
    nb_doc_counts,
)
from economic_data_etl_spark.streaming.incremental_nb import (
    MARK,
    STATE_SCHEMA,
    _META_KIND,
    batch_state,
    fold_state,
    foreach_batch_incremental_nb,
    read_doc_counts,
    read_state,
    read_token_counts,
)
from economic_data_etl_spark.streaming.util import last_batch_id

_ROWS = [
    (1, "en", "the cat sat"),
    (2, "de", "der hund lief"),
    (3, "en", "the dog ran"),
    (4, "de", "die katze sass"),
    (5, "en", "cat and dog"),
    (6, "de", "der hund und die katze"),
]


def _toks(spark, rows=_ROWS):
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    return df.select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )


def _state_set(df):
    return sorted(
        (r["kind"], r["lang"], r["wd"], r["c"]) for r in df.collect()
    )


def test_stream_fold_equals_one_shot(spark, tmp_path):
    toks = _toks(spark)
    state = str(tmp_path / "nb")
    handle = foreach_batch_incremental_nb(state)
    for bi in range(3):
        handle(toks.filter(F.col("doc_id") % 3 == bi), bi)
    want_w = sorted(
        (r["lang"], r["wd"], r["c"])
        for r in nb_counts(toks).collect()
    )
    got_w = sorted(
        (r["lang"], r["wd"], r["c"])
        for r in read_token_counts(spark, state).collect()
    )
    assert got_w == want_w
    want_d = {
        r["lang"]: r["dc"] for r in nb_doc_counts(toks).collect()
    }
    assert read_doc_counts(spark, state) == want_d
    assert last_batch_id(spark, state, MARK) == 2


def test_redelivery_fenced(spark, tmp_path):
    toks = _toks(spark)
    b0 = toks.filter(F.col("doc_id") <= 3)
    b1 = toks.filter(F.col("doc_id") > 3)
    state = str(tmp_path / "nb")
    handle = foreach_batch_incremental_nb(state)
    handle(b0, 0)
    handle(b1, 1)
    want = _state_set(
        read_state(spark, state).filter(F.col("kind") != _META_KIND)
    )
    handle(b0, 0)  # redelivery must be a no-op
    handle(b1, 1)
    got = _state_set(
        read_state(spark, state).filter(F.col("kind") != _META_KIND)
    )
    assert got == want


def test_partial_staging_discarded(spark, tmp_path):
    toks = _toks(spark)
    state = str(tmp_path / "nb")
    staging = f"{state}.staging"
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "part-0.parquet"), "wb") as f:
        f.write(b"mid-write crash leftovers")
    handle = foreach_batch_incremental_nb(state)
    handle(toks, 0)
    assert sorted(
        (r["lang"], r["wd"], r["c"])
        for r in read_token_counts(spark, state).collect()
    ) == sorted(
        (r["lang"], r["wd"], r["c"])
        for r in nb_counts(toks).collect()
    )
    assert not os.path.exists(staging)


def test_completed_staging_promoted(spark, tmp_path):
    toks = _toks(spark)
    state = str(tmp_path / "nb")
    staging = f"{state}.staging"
    handle = foreach_batch_incremental_nb(state)
    handle(toks.filter(F.col("doc_id") <= 3), 0)
    merged = fold_state(
        read_state(spark, state).filter(F.col("kind") != _META_KIND),
        batch_state(toks.filter(F.col("doc_id") > 3)),
    )
    meta = spark.createDataFrame(
        [(_META_KIND, "", "", 1)], STATE_SCHEMA
    )
    merged.unionByName(meta).write.mode("overwrite").parquet(staging)
    # crash happened before the rename; redelivery of batch 1 must
    # promote the completed staging and then skip via the fence
    handle(toks.filter(F.col("doc_id") > 3), 1)
    assert sorted(
        (r["lang"], r["wd"], r["c"])
        for r in read_token_counts(spark, state).collect()
    ) == sorted(
        (r["lang"], r["wd"], r["c"])
        for r in nb_counts(toks).collect()
    )
    assert last_batch_id(spark, state, MARK) == 1


def test_model_from_standing_state_classifies(spark, tmp_path):
    """End-to-end: fold the stream, build the model from the standing
    state, classify a separable held-out doc correctly."""
    from economic_data_etl_spark.plans.classify import (
        model_from_counts,
        nb_score_predict,
    )

    toks = _toks(spark)
    state = str(tmp_path / "nb")
    handle = foreach_batch_incremental_nb(state)
    for bi in range(2):
        handle(toks.filter(F.col("doc_id") % 2 == bi), bi)
    langs, priors, floors, lp = model_from_counts(
        read_token_counts(spark, state),
        read_doc_counts(spark, state),
    )
    test = _toks(
        spark, [(100, "en", "the cat ran"), (101, "de", "der hund")]
    )
    got = {
        r["true_lang"]: r["pred_lang"]
        for r in nb_score_predict(
            test, langs, priors, floors, lp
        ).collect()
    }
    assert got == {"en": "en", "de": "de"}


def test_crash_at_every_offset_converges(spark, tmp_path):
    """Kill the sink at EVERY internal offset of every batch — (a)
    partial staging, no _SUCCESS; (b) complete staging, old state
    still present; (c) old state removed, rename not yet done — then
    let the stream redeliver the interrupted batch through the real
    handler and finish. Final state must equal the clean run exactly:
    (a) rolls back (partial staging deleted, batch refolds), (b)
    refolds over the intact old state (staging overwritten), (c)
    promotes the completed staging and the fence skips the replay."""
    import shutil

    toks = _toks(spark)
    batches = [
        toks.filter(F.col("doc_id").isin([1, 2])),
        toks.filter(F.col("doc_id").isin([3, 4])),
        toks.filter(F.col("doc_id").isin([5, 6])),
    ]
    clean = str(tmp_path / "clean")
    handle = foreach_batch_incremental_nb(clean)
    for bi, b in enumerate(batches):
        handle(b, bi)
    want = _state_set(
        read_state(spark, clean).filter(F.col("kind") != _META_KIND)
    )

    def write_staging(state, staging, b, bi, complete):
        from economic_data_etl_spark.operators.io import (
            read_parquet_or_empty,
        )

        merged = fold_state(
            read_parquet_or_empty(spark, state, STATE_SCHEMA).filter(
                F.col("kind") != _META_KIND
            ),
            batch_state(b),
        )
        meta = spark.createDataFrame(
            [(_META_KIND, "", "", bi)], STATE_SCHEMA
        )
        if complete:
            merged.unionByName(meta).write.mode(
                "overwrite"
            ).parquet(staging)
        else:
            os.makedirs(staging, exist_ok=True)
            with open(os.path.join(staging, "part-0.parquet"), "wb") as f:
                f.write(b"torn mid-write")

    for kill_batch in range(len(batches)):
        for mode in ("partial", "complete", "renamed-away"):
            state = str(tmp_path / f"k{kill_batch}_{mode}")
            h = foreach_batch_incremental_nb(state)
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
                    # crash here; the stream redelivers this batch
                h(b, bi)
            got = _state_set(
                read_state(spark, state).filter(
                    F.col("kind") != _META_KIND
                )
            )
            assert got == want, (kill_batch, mode)
            assert last_batch_id(spark, state, MARK) == len(batches) - 1


def test_erasure_equals_rebuild(spark):
    """Subtractive erasure == from-scratch rebuild on the survivors,
    for BOTH count kinds, including a class that disappears entirely
    (all 'de' docs revoked -> its doc-count and every exclusive word
    leave the state)."""
    from economic_data_etl_spark.streaming.incremental_nb import (
        erase_state,
    )

    toks = _toks(spark)
    full = batch_state(toks)
    revoked = toks.filter(F.col("lang") == "de")
    erased = erase_state(full, revoked)
    rebuilt = batch_state(toks.filter(F.col("lang") == "en"))
    assert _state_set(erased) == _state_set(rebuilt)
    assert not [
        r for r in erased.collect() if r["lang"] == "de"
    ]  # the revoked class leaves entirely
