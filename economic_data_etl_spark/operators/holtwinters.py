"""Additive Holt-Winters (triple exponential smoothing) forecasting.

The engine's first true forecaster (next to the descriptive
seasonal/CUSUM/trend lanes): level + trend + weekly additive
seasonality over the per-key daily series, with an h-step-ahead
forecast. Textbook form (Holt 1957 / Winters 1960), fixed smoothing
constants so the whole computation is deterministic:

    l_t = a*(y_t - s_{t-m}) + (1-a)*(l_{t-1} + b_{t-1})
    b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
    s_t = g*(y_t - l_t)     + (1-g)*s_{t-m}
    yhat_{n+h} = l_n + h*b_n + s_{n+h-m*ceil(h/m)}

Initialization (classical): l_0 = mean of week 1, b_0 = (mean of
week 2 - mean of week 1)/m, s_j = y_j - l_0 over week 1 — all written
as EXPLICIT left-associated sums so the DuckDB oracle can reproduce
every IEEE double bit-for-bit.

Execution shape: ONE groupBy collapses the daily table to a per-key
ordered array (days-sized — years of data is thousands of elements),
then the entire recurrence runs as a Catalyst `aggregate` (fold)
expression over that array: state = (level, trend, 7 seasonals, t),
zero Python, zero extra shuffles, embarrassingly parallel across keys.
The oracle replays the same recurrence as a recursive CTE. The 1-x
complements are passed as separate literals so both engines compute
e.g. 0.7, never 1 - 0.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

M = 7  # weekly seasonality

ALPHA, BETA, GAMMA = 0.3, 0.1, 0.2
ONE_M_ALPHA, ONE_M_BETA, ONE_M_GAMMA = 0.7, 0.9, 0.8


def _seq_sum(arr: Column, start: int, n: int) -> Column:
    """Explicit left-associated sum of arr[start .. start+n-1]
    (1-based): ((a+b)+c)+... — the association the oracle mirrors."""
    out = F.element_at(arr, start)
    for i in range(1, n):
        out = out + F.element_at(arr, start + i)
    return out


def hw_init(y: Column) -> Column:
    """Classical init struct(l, b, s, t=M) from the FIRST 2*M elements
    of the ordered value array `y` — explicit left-associated sums so
    the oracle reproduces every double bit-for-bit."""
    l0 = _seq_sum(y, 1, M) / F.lit(float(M))
    b0 = (_seq_sum(y, M + 1, M) / F.lit(float(M)) - l0) / F.lit(
        float(M)
    )
    s0 = F.transform(
        F.sequence(F.lit(1), F.lit(M)),
        lambda j: F.element_at(y, j) - l0,
    )
    return F.struct(
        l0.alias("l"),
        b0.alias("b"),
        s0.alias("s"),
        F.lit(M).alias("t"),
    )


def hw_step(acc: Column, yv: Column) -> Column:
    """One observation through the additive recurrence — the fold step
    shared by the one-shot fit and the incremental per-batch fold, so
    fold == batch is bit-exact by construction."""
    j = acc["t"] % M  # 0-based seasonal slot of this position
    s_j = F.element_at(acc["s"], j + 1)
    l_new = F.lit(ALPHA) * (yv - s_j) + F.lit(ONE_M_ALPHA) * (
        acc["l"] + acc["b"]
    )
    b_new = F.lit(BETA) * (l_new - acc["l"]) + F.lit(
        ONE_M_BETA
    ) * acc["b"]
    s_new_j = F.lit(GAMMA) * (yv - l_new) + F.lit(
        ONE_M_GAMMA
    ) * s_j
    s_new = F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda i: F.when(i == j, s_new_j).otherwise(
            F.element_at(acc["s"], i + 1)
        ),
    )
    return F.struct(
        l_new.alias("l"),
        b_new.alias("b"),
        s_new.alias("s"),
        (acc["t"] + 1).alias("t"),
    )


def hw_fold(init: Column, ys: Column) -> Column:
    """Fold an ordered value array through the recurrence from `init`."""
    return F.aggregate(ys, init, hw_step)


def holt_winters_state(
    daily: DataFrame,
    key_col: str = "event_type",
    day_col: str = "day",
    value_col: str = "total",
) -> DataFrame:
    """Per key: the fitted end state (n, last_day, level, trend,
    s array of M seasonals indexed by (position-1) mod M). Keys with
    fewer than 2*M days are dropped (not enough for the classical
    init)."""
    arr = (
        daily.groupBy(key_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(day_col, value_col))
            ).alias("pts")
        )
        .select(
            key_col,
            F.transform(
                F.col("pts"), lambda p: p[value_col].cast("double")
            ).alias("y"),
            F.element_at(F.col("pts"), -1)[day_col].alias("last_day"),
            F.size("pts").alias("n"),
        )
        .filter(F.col("n") >= 2 * M)
    )
    y = F.col("y")
    state = hw_fold(hw_init(y), F.slice(y, M + 1, F.size(y) - M))
    return arr.select(
        key_col,
        "n",
        "last_day",
        state["l"].alias("level"),
        state["b"].alias("trend"),
        state["s"].alias("s"),
    )


def holt_winters_forecast(
    daily: DataFrame,
    horizon: int = M,
    key_col: str = "event_type",
    day_col: str = "day",
    value_col: str = "total",
) -> DataFrame:
    """Per key and step h in 1..horizon: (key, h, forecast_day, yhat)
    — yhat = level + h*trend + seasonal[(n + h - 1) mod M]."""
    st = holt_winters_state(daily, key_col, day_col, value_col)
    return forecast_from_state(st, horizon, key_col)


def forecast_from_state(
    st: DataFrame, horizon: int = M, key_col: str = "event_type"
) -> DataFrame:
    """Forecast from a fitted state table (key, n, last_day, level,
    trend, s) — shared by the one-shot fit and the incremental fold
    state (streaming/incremental_holtwinters.py:_fold_batch)."""
    hs = F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("h")
    ex = st.select(key_col, "n", "last_day", "level", "trend", "s", hs)
    yhat = (
        F.col("level")
        + F.col("h") * F.col("trend")
        + F.element_at(
            F.col("s"),
            # cast: n is INT from the one-shot fit (array size) but
            # LONG from the incremental fold state; element_at's index
            # must be INT either way
            (((F.col("n") + F.col("h") - 1) % M) + 1).cast("int"),
        )
    )
    return ex.select(
        key_col,
        F.col("h").cast("int"),
        F.date_add(F.col("last_day").cast("date"), F.col("h")).alias(
            "forecast_day"
        ),
        yhat.alias("yhat"),
    )


# ---------------------------------------------------------------------------
# ETS-lite candidate models for holdout model selection
# (plans/econometrics.py:ts_forecast_model_select): damped-trend
# Holt-Winters (Gardner & McKenzie 1985) and level-only simple
# exponential smoothing. Same fixed constants, same classical init,
# same bit-portability discipline (left-associated sums, every
# composite constant precomputed ONCE in Python and passed as the same
# literal to both engines).
# ---------------------------------------------------------------------------
PHI = 0.9  # damping factor

# cumulative damped-trend forecast multipliers: DAMP_SUM[h-1] =
# phi + phi^2 + ... + phi^h, each term and sum computed left-to-right
# in Python once — Spark and the oracle both consume these exact
# doubles, so no engine re-derives powers in a different order.
DAMP_SUM: list[float] = []
_acc, _pow = 0.0, 1.0
for _ in range(M):
    _pow = _pow * PHI
    _acc = _acc + _pow
    DAMP_SUM.append(_acc)
del _acc, _pow


def hw_damped_step(acc: Column, yv: Column) -> Column:
    """One observation through the DAMPED-trend recurrence: the trend
    contribution is phi*b wherever plain Holt-Winters uses b."""
    j = acc["t"] % M
    s_j = F.element_at(acc["s"], j + 1)
    phib = F.lit(PHI) * acc["b"]
    l_new = F.lit(ALPHA) * (yv - s_j) + F.lit(ONE_M_ALPHA) * (
        acc["l"] + phib
    )
    b_new = F.lit(BETA) * (l_new - acc["l"]) + F.lit(
        ONE_M_BETA
    ) * phib
    s_new_j = F.lit(GAMMA) * (yv - l_new) + F.lit(
        ONE_M_GAMMA
    ) * s_j
    s_new = F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda i: F.when(i == j, s_new_j).otherwise(
            F.element_at(acc["s"], i + 1)
        ),
    )
    return F.struct(
        l_new.alias("l"),
        b_new.alias("b"),
        s_new.alias("s"),
        (acc["t"] + 1).alias("t"),
    )


def _state_table(
    daily: DataFrame, key_col: str, day_col: str, value_col: str
) -> DataFrame:
    """(key, y ordered value array, last_day, n) for keys with >= 2*M
    days — the shared eligibility rule, so every candidate model fits
    the SAME key set and the selection compares like with like."""
    return (
        daily.groupBy(key_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(day_col, value_col))
            ).alias("pts")
        )
        .select(
            key_col,
            F.transform(
                F.col("pts"), lambda p: p[value_col].cast("double")
            ).alias("y"),
            F.element_at(F.col("pts"), -1)[day_col].alias("last_day"),
            F.size("pts").alias("n"),
        )
        .filter(F.col("n") >= 2 * M)
    )


def holt_winters_damped_forecast(
    daily: DataFrame,
    horizon: int = M,
    key_col: str = "event_type",
    day_col: str = "day",
    value_col: str = "total",
) -> DataFrame:
    """Damped-trend Holt-Winters h-step forecast: same classical init
    as the additive model, phi-damped trend in both the recurrence and
    the forecast equation — yhat = l + (phi + ... + phi^h)*b + s[...]."""
    arr = _state_table(daily, key_col, day_col, value_col)
    y = F.col("y")
    state = F.aggregate(
        F.slice(y, M + 1, F.size(y) - M), hw_init(y), hw_damped_step
    )
    st = arr.select(
        key_col,
        "n",
        "last_day",
        state["l"].alias("level"),
        state["b"].alias("trend"),
        state["s"].alias("s"),
    )
    hs = F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("h")
    ex = st.select(key_col, "n", "last_day", "level", "trend", "s", hs)
    damp = F.element_at(
        F.lit(DAMP_SUM).cast("array<double>"), F.col("h").cast("int")
    )
    yhat = (
        F.col("level")
        + damp * F.col("trend")
        + F.element_at(
            F.col("s"),
            (((F.col("n") + F.col("h") - 1) % M) + 1).cast("int"),
        )
    )
    return ex.select(
        key_col,
        F.col("h").cast("int"),
        F.date_add(F.col("last_day").cast("date"), F.col("h")).alias(
            "forecast_day"
        ),
        yhat.alias("yhat"),
    )


def ses_forecast(
    daily: DataFrame,
    horizon: int = M,
    key_col: str = "event_type",
    day_col: str = "day",
    value_col: str = "total",
) -> DataFrame:
    """Simple exponential smoothing (level only, alpha = ALPHA): l_1 =
    y_1, l_t = alpha*y_t + (1-alpha)*l_{t-1}; flat h-step forecast.
    Restricted to the same >= 2*M-day keys as the seasonal models so
    the selection compares identical key sets."""
    arr = _state_table(daily, key_col, day_col, value_col)
    y = F.col("y")
    level = F.aggregate(
        F.slice(y, 2, F.size(y) - 1),
        F.element_at(y, 1),
        lambda acc, yv: F.lit(ALPHA) * yv + F.lit(ONE_M_ALPHA) * acc,
    )
    st = arr.select(key_col, "n", "last_day", level.alias("level"))
    hs = F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("h")
    return st.select(key_col, "last_day", "level", hs).select(
        key_col,
        F.col("h").cast("int"),
        F.date_add(F.col("last_day").cast("date"), F.col("h")).alias(
            "forecast_day"
        ),
        F.col("level").alias("yhat"),
    )
