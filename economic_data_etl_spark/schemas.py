"""Explicit StructType schemas for every production table.

The reference's schemas are implicit (pandas inference + SQL DDL,
reference src/load.py:7-23, src/transform.py:30). Here every production
path declares its schema so Catalyst plans against known types and parquet
scans prune columns correctly (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
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
DIM_COLUMNS = [f.name for f in DIM_SCHEMA.fields]

# Ingest state table (reference metadata JSON, src/extract.py:26-39).
INGEST_STATE_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("series_id", StringType(), False),
        StructField("last_hash", StringType(), True),
        StructField("last_observation_date", StringType(), True),
        StructField("last_updated", TimestampType(), True),
    ]
)

# --- Driver testdata (TPC-H-ish) schemas, for reference/tests --------------
LINEITEM_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType(), False),
        StructField("l_partkey", LongType(), False),
        StructField("l_suppkey", LongType(), False),
        StructField("l_linenumber", IntegerType(), False),
        StructField("l_quantity", DoubleType(), False),
        StructField("l_extendedprice", DoubleType(), False),
        StructField("l_discount", DoubleType(), False),
        StructField("l_tax", DoubleType(), False),
        StructField("l_returnflag", StringType(), False),
        StructField("l_linestatus", StringType(), False),
        StructField("l_shipdate", TimestampType(), False),
    ]
)

EMBEDDING_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), False),
        StructField("label", IntegerType(), True),
    ]
)
