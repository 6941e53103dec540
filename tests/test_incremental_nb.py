"""Incremental NB classifier index: the batch-by-batch fold of both
count kinds equals the one-shot counts, and a model built from the
folded state classifies."""

from __future__ import annotations

from pyspark.sql import functions as F

from economic_data_etl_spark.plans.classify import (
    nb_counts,
    nb_doc_counts,
)
from economic_data_etl_spark.streaming.incremental_nb import (
    batch_state,
    fold_state,
)

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


def _fold(toks, n_batches):
    standing = None
    for bi in range(n_batches):
        b = batch_state(toks.filter(F.col("doc_id") % n_batches == bi))
        standing = b if standing is None else fold_state(standing, b)
    return standing


def _token_counts(state):
    return state.filter(F.col("kind") == "w").select("lang", "wd", "c")


def _doc_counts(state):
    return {
        r["lang"]: r["c"]
        for r in state.filter(F.col("kind") == "d").collect()
    }


def test_stream_fold_equals_one_shot(spark):
    toks = _toks(spark)
    state = _fold(toks, 3)
    want_w = sorted(
        (r["lang"], r["wd"], r["c"])
        for r in nb_counts(toks).collect()
    )
    got_w = sorted(
        (r["lang"], r["wd"], r["c"])
        for r in _token_counts(state).collect()
    )
    assert got_w == want_w
    want_d = {
        r["lang"]: r["dc"] for r in nb_doc_counts(toks).collect()
    }
    assert _doc_counts(state) == want_d


def test_model_from_standing_state_classifies(spark):
    """End-to-end: fold the batches, build the model from the standing
    state, classify a separable held-out doc correctly."""
    from economic_data_etl_spark.plans.classify import (
        model_from_counts,
        nb_score_predict,
    )

    state = _fold(_toks(spark), 2)
    langs, priors, floors, lp = model_from_counts(
        _token_counts(state), _doc_counts(state)
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
