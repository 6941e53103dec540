"""Streaming Holt-Winters state store: the per-batch fold must equal
the one-shot batch fit BIT-FOR-BIT (same hw_step expression, same
order), across any day-ordered batch split — including splits inside
the two-week warm-up window — with redelivery skipped, out-of-order
batches rejected, and a crash at any offset of the staged swap
converging after replay."""

from __future__ import annotations

from tests.crash_points import crash_offsets

import pytest
from pyspark.sql import functions as F

from economic_data_etl_spark.operators.cusum import daily_totals
from economic_data_etl_spark.operators.holtwinters import (
    holt_winters_forecast,
)
from economic_data_etl_spark.sources.tables import load_table
from economic_data_etl_spark.streaming.incremental_holtwinters import (
    STATE_SCHEMA,
    _META,
    _fold_batch,
    foreach_batch_incremental_holtwinters,
    forecast_now,
    read_state,
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


def _fc_rows(df):
    # exact doubles: stream == batch is bit-for-bit, no rounding
    return sorted(
        (r.event_type, r.h, r.forecast_day, r.yhat)
        for r in df.collect()
    )


@pytest.mark.parametrize("cuts", [(10,), (3, 9, 20), (1, 5, 13, 30)])
def test_stream_equals_batch_bit_exact(spark, sf_dir, tmp_path, cuts):
    daily = _daily(spark, sf_dir).localCheckpoint()
    state_dir = str(tmp_path / f"hw_{'_'.join(map(str, cuts))}")
    handle = foreach_batch_incremental_holtwinters(state_dir)
    for bi, b in enumerate(_day_batches(spark, daily, cuts)):
        handle(b, bi)
    got = _fc_rows(forecast_now(spark, state_dir))
    want = _fc_rows(holt_winters_forecast(daily))
    assert got == want and got


def test_warmup_keys_absent_until_two_weeks(spark, tmp_path):
    import datetime

    state_dir = str(tmp_path / "hw_warm")
    handle = foreach_batch_incremental_holtwinters(state_dir)
    d0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", d0 + datetime.timedelta(days=i), float(10 + i % 7))
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, day timestamp, total double"
    )
    handle(df, 0)
    assert forecast_now(spark, state_dir).count() == 0  # still warming
    st = read_state(spark, state_dir).collect()
    assert len(st) == 1 and st[0].level is None and len(st[0].buf) == 10
    # second batch crosses the 2*M threshold: init + fold the rest
    rows2 = [
        ("a", d0 + datetime.timedelta(days=i), float(10 + i % 7))
        for i in range(10, 17)
    ]
    handle(
        spark.createDataFrame(
            rows2, "event_type string, day timestamp, total double"
        ),
        1,
    )
    fc = forecast_now(spark, state_dir)
    all_daily = spark.createDataFrame(
        rows + rows2, "event_type string, day timestamp, total double"
    )
    assert _fc_rows(fc) == _fc_rows(holt_winters_forecast(all_daily))


def test_redelivery_skipped(spark, sf_dir, tmp_path):
    daily = _daily(spark, sf_dir).localCheckpoint()
    state_dir = str(tmp_path / "hw_re")
    handle = foreach_batch_incremental_holtwinters(state_dir)
    b0, b1 = _day_batches(spark, daily, (15,))
    handle(b0, 0)
    handle(b1, 1)
    want = _fc_rows(forecast_now(spark, state_dir))
    handle(b1, 1)  # redelivered: folds are not idempotent — must skip
    assert _fc_rows(forecast_now(spark, state_dir)) == want


def test_out_of_order_batch_raises(spark, sf_dir, tmp_path):
    daily = _daily(spark, sf_dir).localCheckpoint()
    state_dir = str(tmp_path / "hw_ooo")
    handle = foreach_batch_incremental_holtwinters(state_dir)
    b0, b1 = _day_batches(spark, daily, (15,))
    handle(b1, 0)  # later days first
    with pytest.raises(ValueError, match="out-of-order"):
        handle(b0, 1)


def test_crash_at_every_offset_converges(spark, sf_dir, tmp_path):
    import os
    import shutil

    daily = _daily(spark, sf_dir).localCheckpoint()
    batches = _day_batches(spark, daily, (8, 20))
    clean = str(tmp_path / "clean")
    handle = foreach_batch_incremental_holtwinters(clean)
    for bi, b in enumerate(batches):
        handle(b, bi)
    want = _fc_rows(forecast_now(spark, clean))
    assert want

    for kill_at in crash_offsets(3 * len(batches)):
        state_dir = str(tmp_path / f"k{kill_at}")
        staging = f"{state_dir}.staging"
        h = foreach_batch_incremental_holtwinters(state_dir)
        step = 0
        killed = False
        for bi, batch in enumerate(batches):
            if killed:
                h(batch, bi)
                continue
            # replicate the handler's step sequence
            from economic_data_etl_spark.operators.io import recover_staging

            recover_staging(state_dir)
            merged = _fold_batch(read_state(spark, state_dir), batch)
            meta = spark.createDataFrame(
                [(_META, None, bi, None, None, None, None)],
                STATE_SCHEMA,
            )
            steps = [
                lambda: merged.unionByName(meta)
                .write.mode("overwrite")
                .parquet(staging),
                lambda: shutil.rmtree(state_dir)
                if os.path.exists(state_dir)
                else None,
                lambda: os.rename(staging, state_dir),
            ]
            for fn in steps:
                if step == kill_at:
                    killed = True
                    break
                fn()
                step += 1
            if killed:
                h(batch, bi)  # recovery: redeliver through the handler
        got = _fc_rows(forecast_now(spark, state_dir))
        assert got == want, f"kill_at={kill_at}"
