"""Timestamp arithmetic and comparison helpers (SURVEY.md §2.8 F6).

All JVM-side column expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_diff_seconds(start: Column | str, end: Column | str) -> Column:
    """µs-exact elapsed seconds between two timestamps, NTZ-safe.

    Spark 4.1 outlaws `TIMESTAMP_NTZ → DOUBLE` casts
    (DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION), so the engine's one
    blessed idiom for timestamp arithmetic is
    `timestampdiff(MICROSECOND, start, end)` — defined for both TIMESTAMP
    and TIMESTAMP_NTZ, timezone-free, and exact to the microsecond
    (SECOND-unit timestampdiff would truncate sub-second parts; the
    synthetic events table carries µs precision). DuckDB oracles express
    the same value as `epoch(end) - epoch(start)`.
    """
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    return F.timestamp_diff("MICROSECOND", s, e) / F.lit(1e6)


def ts_epoch_seconds(col: Column | str) -> Column:
    """µs-exact seconds-since-epoch for TIMESTAMP or TIMESTAMP_NTZ.

    An NTZ value is interpreted as a UTC instant (matching how the
    synthetic fixtures were written and how DuckDB's `epoch()` reads the
    same parquet), so batch and oracle agree bit-for-bit.
    """
    c = F.col(col) if isinstance(col, str) else col
    anchor = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", anchor, c.cast("timestamp_ntz")) / F.lit(
        1e6
    )


def nan_safe_eq(a: Column, b: Column, eps: float = 1e-9) -> Column:
    """Both-NULL → equal; one-NULL → unequal; else |a-b| < eps.

    Parity with the reference's `_nan_equal` (src/load.py:27-35): pandas NaN
    maps to SQL NULL in our engine. Plain eqNullSafe is exact equality; the
    epsilon tolerance is part of the reference's contract, so keep it.
    """
    return (a.isNull() & b.isNull()) | (
        a.isNotNull() & b.isNotNull() & (F.abs(a - b) < F.lit(eps))
    )
