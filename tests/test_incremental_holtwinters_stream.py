"""Incremental Holt-Winters fold: folding day-ordered batches through
`_fold_batch` must forecast the one-shot batch fit BIT-FOR-BIT (same
hw_step expression, same order), across any batch split — including
splits inside the two-week warm-up window — and an out-of-order batch
must be rejected."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.cusum import daily_totals
from economic_data_etl_spark.operators.holtwinters import (
    forecast_from_state,
    holt_winters_forecast,
)
from economic_data_etl_spark.sources.tables import load_table
from economic_data_etl_spark.streaming.incremental_holtwinters import (
    STATE_SCHEMA,
    _fold_batch,
)


def _daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return daily_totals(ev).select("event_type", "day", "total")


def _day_batches(spark, daily, cuts):
    """Split the daily table into batches by GLOBAL day rank ranges —
    per-key day order is preserved, each (key, day) lands in exactly
    one batch (the finalized-daily input contract)."""
    days = sorted(
        r.day for r in daily.select("day").distinct().collect()
    )
    bounds = [days[c] for c in cuts if c < len(days) - 1]
    batches = []
    lo = None
    for hi in bounds + [None]:
        b = daily
        if lo is not None:
            b = b.filter(F.col("day") > F.lit(lo))
        if hi is not None:
            b = b.filter(F.col("day") <= F.lit(hi))
        batches.append(b)
        lo = hi
    return batches


def _fold(spark, batches, state=None):
    if state is None:
        state = spark.createDataFrame([], STATE_SCHEMA)
    for b in batches:
        state = _fold_batch(state, b).localCheckpoint()
    return state


def _forecast(state):
    """Keys still warming up (no fit yet) are absent, as the batch
    operator drops keys with < 2*M days."""
    return forecast_from_state(state.filter(F.col("level").isNotNull()))


def _fc_rows(df):
    # exact doubles: fold == batch is bit-for-bit, no rounding
    return sorted(
        (r.event_type, r.h, r.forecast_day, r.yhat)
        for r in df.collect()
    )


@pytest.mark.parametrize("cuts", [(10,), (3, 9, 20), (1, 5, 13, 30)])
def test_stream_equals_batch_bit_exact(spark, sf_dir, cuts):
    daily = _daily(spark, sf_dir).localCheckpoint()
    state = _fold(spark, _day_batches(spark, daily, cuts))
    got = _fc_rows(_forecast(state))
    want = _fc_rows(holt_winters_forecast(daily))
    assert got == want and got


def test_warmup_keys_absent_until_two_weeks(spark):
    import datetime

    d0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", d0 + datetime.timedelta(days=i), float(10 + i % 7))
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, day timestamp, total double"
    )
    state = _fold(spark, [df])
    assert _forecast(state).count() == 0  # still warming
    st = state.collect()
    assert len(st) == 1 and st[0].level is None and len(st[0].buf) == 10
    # second batch crosses the 2*M threshold: init + fold the rest
    rows2 = [
        ("a", d0 + datetime.timedelta(days=i), float(10 + i % 7))
        for i in range(10, 17)
    ]
    state = _fold(
        spark,
        [
            spark.createDataFrame(
                rows2, "event_type string, day timestamp, total double"
            )
        ],
        state,
    )
    all_daily = spark.createDataFrame(
        rows + rows2, "event_type string, day timestamp, total double"
    )
    assert _fc_rows(_forecast(state)) == _fc_rows(
        holt_winters_forecast(all_daily)
    )


def test_out_of_order_batch_raises(spark, sf_dir):
    daily = _daily(spark, sf_dir).localCheckpoint()
    b0, b1 = _day_batches(spark, daily, (15,))
    state = _fold(spark, [b1])  # later days first
    with pytest.raises(ValueError, match="out-of-order"):
        _fold_batch(state, b0)
