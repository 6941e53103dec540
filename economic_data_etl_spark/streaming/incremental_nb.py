"""Streaming Naive-Bayes classifier index: the standing (kind, lang,
wd, c) sufficient-statistics table folded per micro-batch.

The multinomial NB model is a pure function of two ADDITIVE count
tables — per-(class, word) token counts and per-class document counts
(plans/classify.py:nb_counts / nb_doc_counts) — so incremental
training is the same additive fold as the LM index
(streaming/incremental_lm.py): the stream-folded state equals the
one-shot build exactly at the value level, and model building
(model_from_counts: prune, Laplace smoothing, OOV bucket, priors) is a
pure function of the standing counts. This is "the classifier
retrains continuously" in its honest distributed form: no gradient
state, no replay — counts in, model out.

The handler is `streaming/util.py:exactly_once_fold`: its batch-id
mark fences redelivery (counts are additive, NOT idempotent per row —
the fence is load-bearing, as in the LM sink), and its staged commit
leaves either the old or the new state on a crash at any offset, never
a torn one.

State rows: kind 'w' = (lang, wd, c) token counts, kind 'd' =
(lang, '', dc) doc counts, kind 'm' = the batch-id mark. State
is vocabulary x classes sized; the model prune keeps the SERVING
broadcast config-bounded regardless of stream lifetime.

Erasure note: both tables are additive, so right-to-be-forgotten is
exact count subtraction (the governance_erasure_lm recipe) — a
revoked source's recomputed counts subtract out and the model shifts
exactly as a retrain on the reduced corpus would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from economic_data_etl_spark.streaming.util import (
    BatchMark,
    exactly_once_fold,
    read_data_rows,
)

STATE_SCHEMA = StructType(
    [
        StructField("kind", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("wd", StringType(), True),
        StructField("c", LongType(), True),
    ]
)

_META_KIND = "m"
# batch-id mark row: (kind = 'm', lang = '', wd = '', c = batch id)
MARK = BatchMark(
    STATE_SCHEMA, "kind", _META_KIND, "c", (_META_KIND, "", "", None)
)


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Both count kinds, without the mark row."""
    return read_data_rows(spark, state_dir, MARK)


def read_token_counts(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """(lang, wd, c) — directly consumable by model_from_counts."""
    return (
        read_state(spark, state_dir)
        .filter(F.col("kind") == "w")
        .select("lang", "wd", "c")
    )


def read_doc_counts(spark: SparkSession, state_dir: str) -> dict:
    return {
        r["lang"]: r["c"]
        for r in read_state(spark, state_dir)
        .filter(F.col("kind") == "d")
        .collect()
    }


def batch_state(batch_toks: DataFrame) -> DataFrame:
    """The micro-batch's own (kind, lang, wd, c) rows from tokenized
    docs (doc_id, lang, w)."""
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


def foreach_batch_incremental_nb(state_dir: str):
    """foreachBatch sink over a tokenized documents stream
    (doc_id, lang, w): fold the micro-batch's counts into the
    standing table."""

    def fold(state: DataFrame, batch_df: DataFrame) -> DataFrame:
        return fold_state(state, batch_state(batch_df))

    return exactly_once_fold(state_dir, MARK, fold)


def erase_state(standing: DataFrame, revoked_toks: DataFrame) -> DataFrame:
    """Right-to-be-forgotten for the standing NB state: BOTH count
    kinds are additive, so erasure is exact subtraction of the revoked
    docs' recomputed counts (the governance_erasure_lm recipe —
    streaming/incremental_lm.py:erase_counts); zero-count rows leave,
    and the erased state is value-identical to a from-scratch build on
    the reduced corpus (pinned in tests/test_incremental_nb.py)."""
    neg = batch_state(revoked_toks).select(
        "kind", "lang", "wd", (-F.col("c")).cast("long").alias("c")
    )
    return fold_state(standing, neg).filter(F.col("c") > 0)
