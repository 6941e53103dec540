"""BLS v2 batch response → fact-table rows.

Reference parity: `parse_bls_batch` (/root/reference/src/transform.py:33-70)
— flatten series → datapoints, date construction from (year, period)
where "M01" → month 1, the string "-" → NULL value, series_id → human
name mapping with id fallback, sorted oldest-first (the API returns
most-recent-first).

Deliberate fix vs the reference: BLS also emits `M13` (annual average) and
quarterly/semiannual periods (`Q01..Q04`, `S01..S03`); the reference would
crash constructing month 13 (/root/reference/src/transform.py:61, SURVEY.md
§2.8 F3). We keep only true monthly observations `M01..M12`.

`bls_rows` is the one BLS parser: the in-memory path (`parse_bls_batch`)
builds its DataFrame from it and the bronze snapshot DataSource
(sources/datasource.py) yields from it.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import date
from operator import itemgetter
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from economic_data_etl_spark.schemas import DIM_SCHEMA, FACT_SCHEMA
from economic_data_etl_spark.sources.transforms import fact_value

# Monthly observations only; M13 (annual avg) and Q/S periods are
# different grains and would corrupt a monthly fact table.
MONTHLY_PERIODS = frozenset(f"M{m:02d}" for m in range(1, 13))


def bls_rows(payload: dict[str, Any], id_to_name: dict[str, str]) -> Iterator[tuple]:
    """Raw BLS batch payload → FACT_SCHEMA tuples in payload order.
    Unmapped series ids fall back to the raw id as their name
    (reference src/transform.py:52,60)."""
    status = payload.get("status")
    if status != "REQUEST_SUCCEEDED":
        # Reference raises RuntimeError (/root/reference/src/extract.py:155-156).
        raise RuntimeError(f"BLS API request failed: {status}")
    for series in (payload.get("Results") or {}).get("series") or []:
        sid = series["seriesID"]
        name = id_to_name.get(sid, sid)
        for point in series.get("data") or []:
            period = point.get("period")
            if period not in MONTHLY_PERIODS:
                continue
            yield (
                sid,
                name,
                date(int(point["year"]), int(period[1:]), 1),
                fact_value(point.get("value")),
                "BLS",
            )


def parse_bls_batch(
    spark: SparkSession,
    payload: dict[str, Any],
    series_map: dict[str, str],
) -> DataFrame:
    """Raw BLS batch payload → fact rows for all series, oldest-first.

    `series_map` maps human name → series_id (the registry,
    reference src/config.py:43-52).
    """
    id_to_name = {sid: name for name, sid in series_map.items()}
    # API returns most-recent-first; contract is oldest-first
    rows = sorted(bls_rows(payload, id_to_name), key=itemgetter(2))
    return spark.createDataFrame(rows, FACT_SCHEMA)


def build_dim_series(
    spark: SparkSession,
    fred_series: dict[str, str],
    bls_series: dict[str, str],
) -> DataFrame:
    """Registry dicts → dim_series rows (driver-side data, no distributed
    op needed; /root/reference/src/transform.py:73-94)."""
    rows = [(sid, name, "FRED") for name, sid in fred_series.items()] + [
        (sid, name, "BLS") for name, sid in bls_series.items()
    ]
    return spark.createDataFrame(rows, DIM_SCHEMA)
