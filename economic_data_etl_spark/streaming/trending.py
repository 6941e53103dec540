"""Streaming trending top-k: heaviest event types per tumbling window,
maintained continuously as micro-batches arrive.

Rank-over-window is not allowed directly on a streaming aggregate
(non-time window functions are unsupported on streams), so the operator
uses the standard two-stage shape:

1. stream → watermarked tumbling `groupBy(window, key).count()` — the
   incremental, state-bounded part Spark maintains exactly;
2. `foreachBatch` re-rank: each micro-batch receives the UPDATED
   aggregate rows, merges them into a small per-(window, key) counts
   table, and rewrites the top-k per window from it. The re-rank input
   is the aggregate (|windows| × |keys| rows), never the raw events —
   at 100 TB/day the events stream stays in stage 1's bounded state and
   the foreachBatch side works on kilobytes.

Stream ≡ batch: the result equals `grouped_top_k` over the plain batch
tumbling aggregate on the same input (tests/test_trending_stream.py).
The deterministic tiebreak (count desc, key asc) makes that equality
exact, not just set-similar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.streaming.windows import _as_event_time


def windowed_key_counts(
    stream: DataFrame,
    key: str = "event_type",
    ts: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stage 1: watermarked tumbling counts per (window_start, key)."""
    return (
        _as_event_time(stream, ts)
        .withWatermark(ts, watermark)
        .groupBy(F.window(ts, window).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), key, "n_events")
    )


def foreach_batch_trending_topk(
    counts_path: str,
    topk_path: str,
    k: int = 3,
    key: str = "event_type",
):
    """Stage 2 sink for `outputMode("update")`: merge updated aggregate
    rows into a counts table, rewrite top-k per window.

    Update mode emits only (window, key) rows whose count changed in
    this micro-batch; the sink overlays them over the stored counts
    (last write wins per key — counts are totals, not deltas), then
    recomputes each window's top-k with the deterministic
    (n_events desc, key asc) order. Both writes are tiny: the counts
    table is |windows| × |keys| rows regardless of stream volume.
    """
    from economic_data_etl_spark.operators.topk import grouped_top_k

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Finish or roll back a commit a crash interrupted before
        # reading, or the bare first-run fallback below would silently
        # reset every total (operators/io.py:recover_staging).
        recover_staging(counts_path)
        fresh = batch_df.select("window_start", key, "n_events")
        try:
            old = spark.read.parquet(counts_path)
        except Exception:
            old = None
        if old is not None:
            keep = old.join(
                fresh.select("window_start", key),
                ["window_start", key],
                "left_anti",
            )
            merged = keep.unionByName(fresh)
        else:
            merged = fresh
        # commit through a staging path (read-then-overwrite of the
        # same path within one job is not safe in plain parquet). The
        # staged write is fully
        # distributed — no driver materialization, so the sink never
        # assumes the counts table fits on the driver.
        commit_staged(merged.write, counts_path)
        counts = spark.read.parquet(counts_path)
        grouped_top_k(
            counts,
            partition_by=["window_start"],
            order_by=[F.col("n_events").desc(), F.col(key).asc()],
            k=k,
            rank_col="rank",
        ).write.mode("overwrite").parquet(topk_path)

    return _apply
