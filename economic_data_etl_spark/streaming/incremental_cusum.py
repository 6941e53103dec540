"""Streaming CUSUM changepoint maintenance: each micro-batch's daily
totals are FOLDED into a standing (event_type, day, total, n) table —
daily totals are additive (sum and count are decomposable aggregates),
so the streaming fold equals the one-shot batch build in any arrival
order, up to float association absorbed by the output rounding.

The streaming twin of `operators/cusum.py:daily_totals`: the standing
index is days x types rows regardless of stream volume, each batch's
work is one map-side-combined aggregation of the batch plus an
index-sized merge, and `cusum_now` serves the changepoint scan from the
index at any point in the stream — monitoring an economic series for a
level shift as observations arrive, without re-scanning history.

Restart semantics: additive folds are NOT idempotent, so the state
carries a batch-id high-water mark exactly like the CMS/heavy-hitters
sinks; a redelivered batch is skipped, making folds exactly-once under
foreachBatch's at-least-once delivery. The state is replaced with
`operators/io.py:commit_staged`, and every invocation first runs
`recover_staging`, which finishes or rolls back a commit a crash
interrupted.
Property-fuzzed at every kill offset in
tests/test_incremental_cusum_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from economic_data_etl_spark.operators.cusum import (
    cusum_from_daily,
    daily_totals,
)
from economic_data_etl_spark.operators.io import commit_staged, recover_staging
from economic_data_etl_spark.streaming.util import read_parquet_or_empty

STATE_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), True),
        StructField("day", TimestampType(), True),
        StructField("total", DoubleType(), True),
        StructField("n", LongType(), True),
        # one meta row: (event_type = _META, day NULL, total NULL,
        # n = last_batch_id)
    ]
)

_META = "\x00meta"


def read_daily(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing daily table without its meta row — directly usable
    by operators/cusum.py:cusum_from_daily. NULL series keys are DATA
    (daily_totals groups them like any key), so the meta filter must
    keep them: a bare != would evaluate NULL and silently drop every
    previously-folded NULL-key total from each merge."""
    return read_parquet_or_empty(spark, state_dir, STATE_SCHEMA).filter(
        F.col("event_type").isNull() | (F.col("event_type") != _META)
    )


def cusum_now(spark: SparkSession, state_dir: str) -> DataFrame:
    """Changepoint table served from the standing index."""
    return cusum_from_daily(
        read_daily(spark, state_dir).select("event_type", "day", "total")
    )


def seasonal_now(spark: SparkSession, state_dir: str) -> DataFrame:
    """Seasonal decomposition served from the SAME standing index —
    fold batches once, read changepoints AND seasonally adjusted
    series from one state table."""
    from economic_data_etl_spark.operators.seasonal import (
        seasonal_from_daily,
    )

    return seasonal_from_daily(
        read_daily(spark, state_dir).select("event_type", "day", "total")
    )


def _last_batch_id(spark: SparkSession, state_dir: str) -> int:
    rows = (
        read_parquet_or_empty(spark, state_dir, STATE_SCHEMA)
        .filter(F.col("event_type") == _META)
        .collect()
    )
    return rows[0].n if rows else -1


def foreach_batch_incremental_cusum(
    state_dir: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Build the foreachBatch function. Per micro-batch: skip if
    already folded (batch-id high-water mark), else add the batch's
    daily totals into the standing table key-wise and swap."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_staging(state_dir)
        if batch_id <= _last_batch_id(spark, state_dir):
            return  # redelivered batch: already folded
        batch_daily = daily_totals(
            batch_df, key_col=key_col, ts_col=ts_col, value_col=value_col
        )
        merged = (
            read_daily(spark, state_dir)
            .unionByName(batch_daily)
            .groupBy("event_type", "day")
            .agg(F.sum("total").alias("total"), F.sum("n").alias("n"))
        )
        meta = spark.createDataFrame(
            [(_META, None, None, batch_id)], STATE_SCHEMA
        )
        # staged write is fully distributed (the index is tiny, but
        # nothing here assumes it fits on the driver)
        commit_staged(merged.unionByName(meta).write, state_dir)

    return handle
