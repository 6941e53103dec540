"""Batch sessionization (gap-based session windows).

Assign each event to a session: a new session starts when the gap since
the previous event of the same key exceeds `gap`. Classic lag + running
sum over a per-key window — one shuffle on the key, linear per partition.

This form exists so results are SQL-checkable (same lag+cumsum is
expressible in any ANSI engine) and usable in backfills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap: str = "30 minutes",
    session_col: str = "session_id",
) -> DataFrame:
    """Add a per-key `session_col` (0-based) to each row."""
    w_order = Window.partitionBy(key).orderBy(ts)
    prev_ts = F.lag(ts).over(w_order)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col(ts) > prev_ts + F.expr(f"INTERVAL {gap}")),
        1,
    ).otherwise(0)
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        session_col, F.sum(is_new).over(w_cum) - F.lit(1)
    )
