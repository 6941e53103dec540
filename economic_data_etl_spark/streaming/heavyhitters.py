"""Streaming heavy hitters: a persistent, mergeable Misra-Gries
summary maintained across micro-batches, with provable frequency
bounds at any point in the stream.

Mergeability (Agarwal et al., "Mergeable Summaries", PODS 2012): MG
summaries merge by adding weights item-wise and re-trimming to
capacity k — subtract the (k+1)-th largest weight m from every item
and drop the non-positive. Each trim discards >= (k+1)*m total weight,
so the CUMULATIVE undercount after any sequence of merges is
<= n/(k+1), n the total stream length. The maintained state therefore
guarantees, at every batch boundary:

    true_count(x) - err <= weight(x) <= true_count(x)

with `err` a tracked upper bound on the total undercount. Two layers
trim: the per-partition summaries inside a batch (bounded by
batch_n/(cap+1), cap the internal capacity) and the driver-side merge
(each trim's m recorded exactly). With internal capacity cap = 2k+1
both layers together stay err <= 2n/(cap+1) = n/(k+1) < n/k, so every
item with true_count > n/k is NECESSARILY present in the state (its
weight >= true_count - err > 0), and the sink splits its report into
guaranteed hitters (weight*k > n — the lower bound alone clears the
threshold) and possible hitters (weight + err reaches it). Exact counts
for the candidates need one recount over landed data — the batch
operator's shape (operators/heavyhitters.py) — which a stream cannot
do one-pass in bounded memory (exact single-pass heavy hitters is
Omega(n) space); the bounds are the honest streaming product.

State layout (`state_dir`): one parquet directory holding <= k item
rows (item, weight) plus a single meta row carrying (n_total, err,
batch_id). Scale shape: the per-batch MG summaries are k-bounded per
partition BEFORE leaving the executors (mapInPandas closure state),
so the driver-side merge touches <= k x partitions rows per batch —
never the stream volume — mirroring the k-means k-bounded-collect
argument.

Restart semantics: the state row carries the id of the last batch
folded in; a redelivered batch (batch_id <= stored) is SKIPPED, making
the fold exactly-once under foreachBatch's at-least-once delivery.
The state is replaced with `operators/io.py:commit_staged`; every
invocation first runs `recover_staging`, which finishes or rolls back
a commit a crash interrupted, before reading. Property-fuzzed at every kill
offset in tests/test_heavyhitters_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from economic_data_etl_spark.operators.heavyhitters import mg_summaries
from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.streaming.util import read_parquet_or_empty

STATE_SCHEMA = StructType(
    [
        StructField("item", StringType(), True),
        StructField("weight", LongType(), True),
        StructField("is_meta", BooleanType(), True),
        # meta row only; NULL on item rows
        StructField("n_total", LongType(), True),
        StructField("err", LongType(), True),
        StructField("batch_id", LongType(), True),
    ]
)


def _read_state(
    spark: SparkSession, state_dir: str
) -> tuple[dict[str, int], int, int, int]:
    """(counters, n_total, err, last_batch_id). The state is <= k+1
    rows by construction — this collect is k-bounded, not
    stream-bounded."""
    rows = read_parquet_or_empty(spark, state_dir, STATE_SCHEMA).collect()
    counters: dict[str, int] = {}
    n_total, err, last_bid = 0, 0, -1
    for r in rows:
        if r.is_meta:
            n_total, err, last_bid = r.n_total, r.err, r.batch_id
        else:
            counters[r.item] = r.weight
    return counters, n_total, err, last_bid


def _mg_merge(
    counters: dict[str, int], add: dict[str, int], k: int
) -> tuple[dict[str, int], int]:
    """Weighted MG merge: item-wise add, then trim to capacity k.
    Returns (merged, m_subtracted) — m is the exact per-item
    undercount this trim introduced (0 when no trim was needed)."""
    merged = dict(counters)
    for t, w in add.items():
        merged[t] = merged.get(t, 0) + w
    if len(merged) <= k:
        return merged, 0
    vals = sorted(merged.values(), reverse=True)
    m = vals[k]  # (k+1)-th largest
    return {t: w - m for t, w in merged.items() if w - m > 0}, m


def foreach_batch_heavy_hitters(
    state_dir: str,
    col: str,
    k: int,
):
    """Build the foreachBatch function. Per micro-batch:

    1. skip if batch_id <= the state's high-water mark (replay)
    2. bounded per-partition MG summaries of the batch (<= k rows
       leave each partition; NULL items excluded, matching the batch
       operator's non-NULL population)
    3. fold the partition summaries, then the standing state, through
       the weighted MG merge; accumulate the exact trim undercount
    4. staged write + atomic swap of the new state
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Internal capacity 2k+1: the partition layer and the driver layer
    # each undercount by <= n/(cap+1), so the stacked error stays
    # <= 2n/(2k+2) = n/(k+1) < n/k — without the doubling, a true
    # hitter at exactly n/k could be trimmed out of the state.
    cap = 2 * k + 1

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # finish an interrupted commit before reading (see module doc)
        recover_staging(state_dir)
        counters, n_total, err, last_bid = _read_state(spark, state_dir)
        if batch_id <= last_bid:
            return  # redelivered batch: already folded, exactly-once
        summ = mg_summaries(batch_df, col, cap).collect()
        batch_counters: dict[str, int] = {}
        batch_n = 0
        for r in summ:
            if r.is_count:
                batch_n += r.weight
            else:
                # same-item rows from different partitions add up
                batch_counters[r.item] = (
                    batch_counters.get(r.item, 0) + r.weight
                )
        merged, m = _mg_merge(counters, batch_counters, cap)
        # err accounting: the driver trim's m is exact; the partition
        # summaries' own spills are bounded by mg_summaries' guarantee
        # (each partition discards <= floor(n_p/(cap+1)) total weight,
        # and sum of floors <= floor of the sum), so the batch layer
        # adds at most batch_n // (cap + 1).
        err = err + m + batch_n // (cap + 1)
        n_total += batch_n
        rows = [
            (t, w, False, None, None, None) for t, w in merged.items()
        ] + [(None, None, True, n_total, err, batch_id)]
        state = spark.createDataFrame(rows, STATE_SCHEMA).coalesce(1)
        commit_staged(state.write, state_dir)

    return handle


def heavy_hitter_report(
    spark: SparkSession, state_dir: str, k: int
) -> DataFrame:
    """Current candidates with their frequency bounds:
    (item, weight_lower, weight_upper, guaranteed) where
    weight_lower = stored weight (never overcounts),
    weight_upper = weight + err, and guaranteed means the LOWER bound
    already clears the n/k threshold. Every item whose true count
    exceeds n/k appears (possibly only as non-guaranteed) — the
    pigeonhole/mergeability guarantee."""
    counters, n_total, err, _ = _read_state(spark, state_dir)
    rows = [
        (
            t,
            w,
            w + err,
            bool(w * k > n_total),
        )
        for t, w in counters.items()
        if (w + err) * k > n_total  # can't possibly be a hitter below
    ]
    return spark.createDataFrame(
        rows,
        "item string, weight_lower long, weight_upper long, "
        "guaranteed boolean",
    ).orderBy(F.desc("weight_lower"), "item")
