"""Incremental Stupid-Backoff LM index: the standing (order, gram,
count) table folded one batch at a time.

N-gram counts are ADDITIVE — the count table of a union of disjoint
document batches is the sum of the per-batch tables — so the fold
equals the one-shot build exactly at the value level, and serving
(plans/lmppl.py:score_with_counts — prune, conditional ratios, backoff
scoring) is a pure function of the standing counts
(plans/lmppl.py:text_incremental_perplexity). Erasure is the same fold
with negated counts (plans/governance.py:governance_erasure_lm).

State is vocabulary-sized (all grams seen so far, orders 1-3), the
same growth class as the standing BM25 postings
(operators/retrieval.py); serving prunes to the top-K per
order, so the broadcast stays config-bounded regardless of how many
batches have been folded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fold_counts(standing: DataFrame, batch_counts: DataFrame) -> DataFrame:
    """Additive merge: union + per-(ord, gram) sum."""
    return (
        standing.select("ord", "g", "c")
        .unionByName(batch_counts.select("ord", "g", "c"))
        .groupBy("ord", "g")
        .agg(F.sum("c").alias("c"))
    )


def erase_counts(
    standing: DataFrame, revoked_counts: DataFrame
) -> DataFrame:
    """Right-to-be-forgotten for the standing LM index: counts are
    additive, so erasure is EXACT subtraction of the revoked
    documents' gram counts (recomputed from the revoked docs at
    erasure time — the count table itself is not doc-keyed, which is
    precisely why the anti-join recipe of the other indexes cannot
    apply here). Grams whose count reaches zero leave the index
    entirely, so the erased table is bit-identical to a from-scratch
    rebuild on the reduced corpus — the oracle's check in
    plans/governance.py:governance_erasure_lm."""
    negated = revoked_counts.select(
        "ord", "g", (-F.col("c")).cast("long").alias("c")
    )
    return fold_counts(standing, negated).filter(F.col("c") > 0)
