"""CUSUM mean-shift changepoint estimation over per-series daily totals.

`daily_totals` collapses a raw event volume to a days x types table (the
ONLY pass that touches stream-scale data), and `cusum_from_daily` runs
the changepoint scan as window passes over that tiny aggregate. Daily
totals are additive, so a table folded batch by batch equals the
one-shot build up to float association (the `ts_incremental_cusum`
query), and this function serves either.

Statistic: S_t = cumulative sum of (total_t - mean); the changepoint
estimate is the day of max |S_t| (Page's CUSUM in its offline argmax
form), reported with |S|/(sd*sqrt(n)) — the scale-free quantity
Brownian-bridge significance thresholds bind on.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def daily_totals(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(key, day, total, n): ONE shuffle on (key, day). At 100 TB this
    is the standard pre-aggregation — map-side combine collapses each
    partition to its local days x keys before anything moves."""
    return events.groupBy(
        F.col(key_col).alias("event_type"),
        F.date_trunc("day", ts_col).alias("day"),
    ).agg(
        F.sum(value_col).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


def cusum_from_daily(
    daily: DataFrame,
    round_fn: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """Changepoint table from a (event_type, day, total) daily table:
    one row per series with the argmax-|S| day and the normalized
    statistic. Everything is window passes over the days x types
    aggregate; the argmax is row_number = 1 (WindowGroupLimit), never
    a collect. `round_fn` (e.g. plans.catalog.biased_round) is applied
    to the two float outputs when given."""
    rnd = round_fn if round_fn is not None else (lambda c: c)
    wp = Window.partitionBy("event_type")
    st = daily.select(
        "event_type",
        "day",
        "total",
        F.avg("total").over(wp).alias("mu"),
        F.stddev_samp("total").over(wp).alias("sd"),
        F.count(F.lit(1)).over(wp).alias("n_days"),
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = st.select(
        "event_type",
        "day",
        "n_days",
        "sd",
        F.sum(F.col("total") - F.col("mu")).over(wrun).alias("s"),
    )
    rk = cs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs("s").desc(), F.asc("day")
            )
        ),
    )
    return (
        rk.filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("cp_day"),
            rnd(F.abs("s")).alias("s_max"),
            rnd(F.abs("s") / (F.col("sd") * F.sqrt("n_days"))).alias(
                "cusum_stat"
            ),
        )
        .orderBy("event_type")
    )
