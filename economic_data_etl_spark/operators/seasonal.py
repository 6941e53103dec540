"""Classical additive seasonal decomposition over per-series daily
totals — the moving-average core of X-11, the method behind every
'seasonally adjusted' official statistic.

Like operators/cusum.py, this consumes the (event_type, day, total)
daily table, NOT raw events: one pre-aggregation collapses the stream-
scale volume, and the decomposition is window passes over the tiny
days x types aggregate. One daily table therefore serves BOTH
analyses — fold batches once, read changepoints and seasonally
adjusted series from the same state.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dow_index(day_col) -> Column:
    """Day-of-week as pure integer arithmetic (days since 1970-01-01
    mod 7, so 0=Thursday) — portable across engines, unlike
    dayofweek()/weekday() whose origin conventions differ."""
    return (F.datediff(day_col, F.lit("1970-01-01")) % 7).cast("long")


def seasonal_from_daily(
    daily: DataFrame,
    round_fn: Callable[[Column], Column] | None = None,
    period: int = 7,
) -> DataFrame:
    """Decompose each series' daily totals into trend (centered
    `period`-day moving average, full windows only), day-of-week
    seasonal indices (mean detrended value, normalized to sum zero per
    series), and residual. Days whose dow has no detrended observation
    yet (a series younger than one full window) keep their rows with
    NULL trend/seasonal/residual — a cold-start series appears, it does
    not vanish. The input should be materialized (the decomposition
    joins the daily table against indices derived from it, so an
    unbroken lineage would recompute the upstream twice —
    plans/econometrics.py localCheckpoints)."""
    if period % 2 == 0:
        # An even centered MA needs the classical 2x`period` double
        # moving average; a naive period//2 half-window would span
        # period+1 rows and gate the trend to two arbitrary edge days.
        raise ValueError(
            f"period must be odd (got {period}); even periods need a "
            "2x-MA the operator does not implement"
        )
    rnd = round_fn if round_fn is not None else (lambda c: c)
    half = period // 2
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-half, half)
    )
    t = daily.select(
        "event_type",
        "day",
        "total",
        F.when(
            F.count(F.lit(1)).over(w7) == period,
            F.avg("total").over(w7),
        ).alias("trend"),
    )
    d = t.select(
        "*",
        dow_index(F.col("day")).alias("dow"),
        (F.col("total") - F.col("trend")).alias("detr"),
    )
    s0 = (
        d.filter(F.col("detr").isNotNull())
        .groupBy("event_type", "dow")
        .agg(F.avg("detr").alias("raw"))
    )
    # |types| x `period` rows: the normalizing window is tiny.
    s = s0.select(
        "event_type",
        "dow",
        (
            F.col("raw")
            - F.avg("raw").over(Window.partitionBy("event_type"))
        ).alias("seasonal"),
    )
    return (
        d.join(s, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "day",
            "dow",
            rnd(F.col("total")).alias("total"),
            rnd(F.col("trend")).alias("trend"),
            rnd(F.col("seasonal")).alias("seasonal"),
            rnd(
                F.col("total") - F.col("trend") - F.col("seasonal")
            ).alias("residual"),
        )
        .orderBy("event_type", "day")
    )
