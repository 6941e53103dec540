"""Fact-table transforms shared by both sources: the observation value
rule, the rows → DataFrame step and the combiner (reference parity:
transform.py's value coercion and combine_fact_tables, reference
src/transform.py:24,62,97-115)."""

from __future__ import annotations

import functools
import re
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Plain ASCII decimal or scientific notation, or inf/infinity/nan, each
# with an optional sign. Spellings only one runtime reads as a number are
# junk: Python's "1_000" and non-ASCII digits, Java's "3.4d" and "0x1p3".
_NUMBER = re.compile(
    r"[+-]?(?:(?:\d+\.?\d*|\.\d+)(?:e[+-]?\d+)?|inf|infinity|nan)",
    re.ASCII | re.IGNORECASE,
)


def fact_value(raw: str | None) -> float | None:
    """Raw observation value → double, or None for a missing marker
    (FRED ".", BLS "-") or any other junk — the reference's
    `pd.to_numeric(errors="coerce")`. Surrounding whitespace is ignored."""
    if raw is None:
        return None
    s = str(raw).strip()
    return float(s) if _NUMBER.fullmatch(s) else None


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: StructType) -> DataFrame:
    """Driver-side rows → DataFrame through one Arrow table.

    The JVM reads the Arrow batches itself, so no Python worker runs
    when the frame is computed (a list-of-tuples frame pays a fixed
    Python-task cost per partition). Columns are built straight from
    the tuples, not through pandas, so a NULL value stays distinct from
    a NaN. Arrow rejects a NULL in a non-nullable field.
    """
    arrow_schema = to_arrow_schema(schema)
    if rows:
        columns = [pa.array(col, f.type) for col, f in zip(zip(*rows), arrow_schema)]
        table = pa.Table.from_arrays(columns, schema=arrow_schema)
    else:
        table = arrow_schema.empty_table()
    return spark.createDataFrame(table, schema)


def combine_fact_tables(frames: Sequence[DataFrame]) -> DataFrame:
    """Union-all of n schema-aligned fact frames, oldest-first.

    Duplicates are preserved (the reference's combiner is a plain concat;
    dedup is the upsert's job). Empty input is a caller error — the
    reference also assumes at least one frame.
    """
    if not frames:
        raise ValueError("combine_fact_tables requires at least one frame")
    unioned = functools.reduce(DataFrame.unionByName, frames)
    # Ties (same date, different series) are unspecified in the reference's
    # quicksort too (SURVEY.md §2.6 O1); sort on the full key for
    # deterministic output.
    return unioned.orderBy(F.asc("date"), F.asc("series_id"))
