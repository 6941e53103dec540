"""FRED observations → fact-table rows.

Reference parity: `parse_fred_observations`
(/root/reference/src/transform.py:4-30) — project (date, value), lenient
numeric cast where the string "." encodes a missing value, attach the
series literals, and emit the canonical 5-column fact schema
(/root/reference/src/transform.py:30).

`fred_rows` is the one FRED parser: the in-memory path
(`parse_fred_observations`) builds its DataFrame from it and the bronze
snapshot DataSource (sources/datasource.py) yields from it, so both
paths apply the same rules by construction.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from datetime import date
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from economic_data_etl_spark.schemas import FACT_SCHEMA
from economic_data_etl_spark.sources.transforms import fact_value

_ISO_DATE = re.compile(r"\d{4}-\d{2}-\d{2}", re.ASCII)


def _obs_date(raw: Any, series_id: str) -> date:
    """Strict YYYY-MM-DD; anything else fails naming the series."""
    if isinstance(raw, str) and _ISO_DATE.fullmatch(raw):
        try:
            return date.fromisoformat(raw)
        except ValueError:
            pass
    raise ValueError(f"FRED series {series_id}: bad observation date {raw!r}")


def fred_rows(
    payload: dict[str, Any], series_id: str, series_name: str
) -> Iterator[tuple]:
    """Raw FRED payload → FACT_SCHEMA tuples (series_id, series_name,
    date, value, source). `"."` (FRED's missing marker) and junk values
    → None; metadata fields (realtime_start etc.) are dropped."""
    if "observations" not in payload:
        # Reference raises ValueError on malformed responses
        # (/root/reference/src/extract.py:94-95).
        raise ValueError("Invalid FRED response: missing 'observations'")
    for obs in payload["observations"]:
        yield (
            series_id,
            series_name,
            _obs_date(obs.get("date"), series_id),
            fact_value(obs.get("value")),
            "FRED",
        )


def parse_fred_observations(
    spark: SparkSession,
    payload: dict[str, Any],
    series_id: str,
    series_name: str,
) -> DataFrame:
    """Raw FRED payload → fact rows (series_id, series_name, date, value,
    source), parsed by `fred_rows`."""
    return spark.createDataFrame(list(fred_rows(payload, series_id, series_name)), FACT_SCHEMA)
