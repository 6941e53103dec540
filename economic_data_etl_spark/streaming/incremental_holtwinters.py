"""Streaming Holt-Winters: a true per-key FOLD state store — (level,
trend, M seasonals, position counter) plus a warm-up buffer — updated
one micro-batch of finalized daily totals at a time, with forecasts
served from the state at any point in the stream.

The streaming twin of `operators/holtwinters.py`, completing the
forecaster the way the CUSUM/KLL/CMS/KMV lanes were completed. The
batch fit folds the per-key ordered daily array through `hw_step`;
this sink folds the SAME step expression over each batch's new days,
starting from the stored state — so stream == batch is bit-exact by
construction (pinned in tests/test_incremental_holtwinters_stream.py),
not merely up-to-rounding. Keys still inside the classical two-week
initialization window buffer their raw values (at most 2*M doubles);
the moment a key's buffer reaches 2*M the init runs and the remainder
of the batch folds through.

Input contract (the standard watermarked-daily-aggregate shape): each
micro-batch delivers FINALIZED (key, day, total) rows — every day
complete in exactly one batch, days per key arriving in order (the
upstream watermarked tumbling-day aggregation emits exactly this).
A violation (a batch day at or before the key's folded last_day) is
the caller's bug and raises rather than silently mis-folding.

State is key-sized (a handful of doubles per key — the index the 100 TB
stream collapses to). Folds are not idempotent, so the state carries a
batch-id mark and the handler is `streaming/util.py:exactly_once_fold`
— crash recovery, redelivery skip and staged commit in one place.
Fuzzed at every kill offset in
tests/test_incremental_holtwinters_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from economic_data_etl_spark.operators.holtwinters import (
    M,
    forecast_from_state,
    hw_fold,
    hw_init,
)
from economic_data_etl_spark.streaming.util import (
    BatchMark,
    exactly_once_fold,
    read_data_rows,
)

STATE_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), True),
        # warm-up buffer (< 2*M values so far); NULL once fitted
        StructField("buf", ArrayType(DoubleType(), True), True),
        StructField("n", LongType(), True),  # days folded (mark: batch id)
        StructField("last_day", TimestampType(), True),
        StructField("level", DoubleType(), True),
        StructField("trend", DoubleType(), True),
        StructField("s", ArrayType(DoubleType(), True), True),
    ]
)

_META = "\x00meta"
MARK = BatchMark(
    STATE_SCHEMA,
    "event_type",
    _META,
    "n",
    (_META, None, None, None, None, None, None),
)


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The per-key state table without its mark row. NULL keys are
    data."""
    return read_data_rows(spark, state_dir, MARK)


def forecast_now(
    spark: SparkSession, state_dir: str, horizon: int = M
) -> DataFrame:
    """(key, h, forecast_day, yhat) served from the standing state —
    identical to the one-shot batch forecast over everything folded so
    far. Keys still warming up (no fit yet) are absent, exactly as the
    batch operator drops keys with < 2*M days."""
    fitted = read_state(spark, state_dir).filter(
        F.col("level").isNotNull()
    )
    return forecast_from_state(fitted, horizon)


def _fold_batch(state: DataFrame, batch_daily: DataFrame) -> DataFrame:
    """Pure-DataFrame fold of one batch of finalized daily totals into
    the state table (no I/O — shared by the foreachBatch sink and the
    in-memory catalog replay). Raises on an out-of-order day."""
    b = (
        batch_daily.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("day", "total"))
            ).alias("pts")
        )
        .select(
            "event_type",
            F.transform(
                F.col("pts"), lambda p: p["total"].cast("double")
            ).alias("new_ys"),
            F.element_at(F.col("pts"), 1)["day"].alias("b_first_day"),
            F.element_at(F.col("pts"), -1)["day"].alias("b_last_day"),
        )
    )
    j = state.join(b, "event_type", "full_outer")

    # contract check: every batch day strictly after the folded window
    bad = j.filter(
        F.col("last_day").isNotNull()
        & F.col("b_first_day").isNotNull()
        & (F.col("b_first_day") <= F.col("last_day"))
    ).limit(1)
    if bad.count() > 0:
        raise ValueError(
            "out-of-order daily batch: a (key, day) at or before the "
            "key's folded last_day — the input contract requires "
            "finalized, day-ordered daily totals (see module docstring)"
        )

    new_ys = F.coalesce(
        F.col("new_ys"), F.array().cast("array<double>")
    )
    all_buf = F.concat(
        F.coalesce(F.col("buf"), F.array().cast("array<double>")),
        new_ys,
    )
    was_fitted = F.col("level").isNotNull()
    # fitted: resume the fold from the stored (level, trend, s, t=n)
    resumed = hw_fold(
        F.struct(
            F.col("level").alias("l"),
            F.col("trend").alias("b"),
            F.col("s").alias("s"),
            F.col("n").cast("int").alias("t"),
        ),
        new_ys,
    )
    # warm-up completing this batch: init on the first 2*M buffered
    # values, fold the remainder
    boots = hw_fold(
        hw_init(all_buf),
        F.slice(
            all_buf,
            M + 1,
            F.greatest(F.size(all_buf) - M, F.lit(0)),
        ),
    )
    fitted_state = F.when(was_fitted, resumed).otherwise(boots)
    becomes_fitted = was_fitted | (F.size(all_buf) >= 2 * M)
    # Internal aliases first, rename after: giving an output column the
    # SAME name as an input column it shadows ("s", "n", ...) while
    # sibling expressions in the same select still reference the input
    # name made Catalyst rewire those references to the new projection
    # (observed: the resumed/boots folds silently read the freshly
    # computed seasonal array — level drifted from 28.44 to 31.04 on
    # the warm-up-completion fixture). Two projections keep every
    # reference unambiguous.
    out = j.select(
        "event_type",
        F.when(becomes_fitted, F.lit(None).cast("array<double>"))
        .otherwise(all_buf)
        .alias("__buf"),
        F.when(
            was_fitted, F.col("n") + F.size(new_ys)
        )
        .otherwise(F.size(all_buf).cast("long"))
        .alias("__n"),
        F.coalesce(F.col("b_last_day"), F.col("last_day")).alias(
            "__last_day"
        ),
        F.when(becomes_fitted, fitted_state["l"]).alias("__level"),
        F.when(becomes_fitted, fitted_state["b"]).alias("__trend"),
        F.when(becomes_fitted, fitted_state["s"]).alias("__s"),
    )
    return out.select(
        "event_type",
        F.col("__buf").alias("buf"),
        F.col("__n").alias("n"),
        F.col("__last_day").alias("last_day"),
        F.col("__level").alias("level"),
        F.col("__trend").alias("trend"),
        F.col("__s").alias("s"),
    )


def foreach_batch_incremental_holtwinters(
    state_dir: str,
    key_col: str = "event_type",
    day_col: str = "day",
    value_col: str = "total",
):
    """Build the foreachBatch function over finalized daily-total rows:
    fold each key's new days through the recurrence."""

    def fold(state: DataFrame, batch_df: DataFrame) -> DataFrame:
        batch_daily = batch_df.select(
            F.col(key_col).alias("event_type"),
            F.col(day_col).alias("day"),
            F.col(value_col).alias("total"),
        )
        return _fold_batch(state, batch_daily)

    return exactly_once_fold(state_dir, MARK, fold)
