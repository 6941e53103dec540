"""Incremental Holt-Winters: a per-key FOLD state — (level, trend, M
seasonals, position counter) plus a warm-up buffer — updated one batch
of finalized daily totals at a time.

The incremental twin of `operators/holtwinters.py`. The batch fit folds
the per-key ordered daily array through `hw_step`; `_fold_batch` folds
the SAME step expression over each batch's new days, starting from the
stored state — so the folded state forecasts bit-exactly what the
one-shot fit does (pinned in tests/test_incremental_holtwinters_stream.py;
served by plans/econometrics.py:ts_streaming_holt_winters). Keys still
inside the classical two-week initialization window buffer their raw
values (at most 2*M doubles); the moment a key's buffer reaches 2*M the
init runs and the remainder of the batch folds through.

Input contract: each batch delivers FINALIZED (key, day, total) rows —
every day complete in exactly one batch, days per key arriving in
order. A violation (a batch day at or before the key's folded last_day)
is the caller's bug and raises rather than silently mis-folding.

State is key-sized: a handful of doubles per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
    hw_fold,
    hw_init,
)

STATE_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), True),
        # warm-up buffer (< 2*M values so far); NULL once fitted
        StructField("buf", ArrayType(DoubleType(), True), True),
        StructField("n", LongType(), True),  # days folded
        StructField("last_day", TimestampType(), True),
        StructField("level", DoubleType(), True),
        StructField("trend", DoubleType(), True),
        StructField("s", ArrayType(DoubleType(), True), True),
    ]
)


def _fold_batch(state: DataFrame, batch_daily: DataFrame) -> DataFrame:
    """Pure-DataFrame fold of one batch of finalized daily totals into
    the state table (no I/O). Raises on an out-of-order day."""
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
