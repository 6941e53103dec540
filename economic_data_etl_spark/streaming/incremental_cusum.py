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
carries a batch-id mark and the handler is
`streaming/util.py:exactly_once_fold` — crash recovery, redelivery
skip and staged commit in one place. Property-fuzzed at every kill offset in
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
from economic_data_etl_spark.streaming.util import (
    BatchMark,
    exactly_once_fold,
    read_data_rows,
)

STATE_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), True),
        StructField("day", TimestampType(), True),
        StructField("total", DoubleType(), True),
        StructField("n", LongType(), True),
    ]
)

_META = "\x00meta"
# batch-id mark row: (event_type = _META, day NULL, total NULL,
# n = batch id)
MARK = BatchMark(
    STATE_SCHEMA, "event_type", _META, "n", (_META, None, None, None)
)


def read_daily(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing daily table without its mark row — directly usable
    by operators/cusum.py:cusum_from_daily. NULL series keys are data
    (daily_totals groups them like any key)."""
    return read_data_rows(spark, state_dir, MARK)


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


def foreach_batch_incremental_cusum(
    state_dir: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Build the foreachBatch function: add each new batch's daily
    totals into the standing table key-wise."""

    def fold(daily: DataFrame, batch_df: DataFrame) -> DataFrame:
        batch_daily = daily_totals(
            batch_df, key_col=key_col, ts_col=ts_col, value_col=value_col
        )
        return (
            daily.unionByName(batch_daily)
            .groupBy("event_type", "day")
            .agg(F.sum("total").alias("total"), F.sum("n").alias("n"))
        )

    return exactly_once_fold(state_dir, MARK, fold)
