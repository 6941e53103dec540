"""Explicit StructType schemas for every production table.

The reference's schemas are implicit (pandas inference + SQL DDL,
reference src/load.py:7-23, src/transform.py:30). Here every production
path declares its schema so Catalyst plans against known types and parquet
scans prune columns correctly (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

# --- Star schema of the economic-observations warehouse -------------------
# fact_economic_observations (reference src/load.py:7-16)
FACT_SCHEMA = StructType(
    [
        StructField("series_id", StringType(), False),
        StructField("series_name", StringType(), False),
        StructField("date", DateType(), False),
        StructField("value", DoubleType(), True),  # NULL = missing obs
        StructField("source", StringType(), False),
    ]
)
FACT_COLUMNS = [f.name for f in FACT_SCHEMA.fields]

# dim_series (reference src/load.py:17-23)
DIM_SCHEMA = StructType(
    [
        StructField("series_id", StringType(), False),
        StructField("series_name", StringType(), False),
        StructField("source", StringType(), False),
    ]
)
