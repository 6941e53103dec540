"""Incremental Naive-Bayes classifier index: the standing (kind, lang,
wd, c) sufficient-statistics table folded one batch at a time.

The multinomial NB model is a pure function of two ADDITIVE count
tables — per-(class, word) token counts and per-class document counts
(plans/classify.py:nb_counts / nb_doc_counts) — so incremental
training is the same additive fold as the LM index
(streaming/incremental_lm.py): the folded state equals the one-shot
build exactly at the value level, and model building
(model_from_counts: prune, Laplace smoothing, OOV bucket, priors) is a
pure function of the standing counts
(plans/classify.py:ml_incremental_naive_bayes). No gradient state, no
replay — counts in, model out.

State rows: kind 'w' = (lang, wd, c) token counts, kind 'd' =
(lang, '', dc) doc counts. State is vocabulary x classes sized; the
model prune keeps the SERVING broadcast config-bounded however many
batches have been folded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batch_state(batch_toks: DataFrame) -> DataFrame:
    """The batch's own (kind, lang, wd, c) rows from tokenized docs
    (doc_id, lang, w)."""
    from economic_data_etl_spark.plans.classify import (
        nb_counts,
        nb_doc_counts,
    )

    w = nb_counts(batch_toks).select(
        F.lit("w").alias("kind"), "lang", "wd", "c"
    )
    d = nb_doc_counts(batch_toks).select(
        F.lit("d").alias("kind"),
        "lang",
        F.lit("").alias("wd"),
        F.col("dc").alias("c"),
    )
    return w.unionByName(d)


def fold_state(standing: DataFrame, batch: DataFrame) -> DataFrame:
    """Additive merge of both count kinds in one groupBy."""
    return (
        standing.select("kind", "lang", "wd", "c")
        .unionByName(batch.select("kind", "lang", "wd", "c"))
        .groupBy("kind", "lang", "wd")
        .agg(F.sum("c").cast("long").alias("c"))
    )
