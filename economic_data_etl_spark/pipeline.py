"""End-to-end economic-data pipeline: extract → transform → load.

Reference parity: `run_pipeline` (/root/reference/src/main.py:18-74) —
three phases, each wrapped so a failure logs
"Pipeline failed during <phase>" and returns None rather than raising
(tested /root/reference/tests/test_main.py:76-95,131-139,167-173).

Spark shape: phase 1 (REST I/O) stays driver-side; phases 2-3 are lazy
DataFrame lineage with exactly two actions — the fact upsert and the dim
upsert (SURVEY.md §3.1).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from datetime import datetime
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from economic_data_etl_spark import config
from economic_data_etl_spark.operators import upsert as U
from economic_data_etl_spark.sources.bls import build_dim_series, parse_bls_batch
from economic_data_etl_spark.sources.fred import parse_fred_observations
from economic_data_etl_spark.sources.transforms import combine_fact_tables

logger = logging.getLogger(__name__)

FetchFred = Callable[[str], dict[str, Any] | None]
FetchBls = Callable[[dict[str, str], int, int], dict[str, Any] | None]
Store = Callable[[DataFrame, list[str], list[str]], dict[str, int]]


@dataclass
class PipelineResult:
    fact_stats: dict[str, int]
    dim_stats: dict[str, int]


def run_pipeline(
    spark: SparkSession,
    fetch_fred: FetchFred,
    fetch_bls: FetchBls,
    fact_store: Store,
    dim_store: Store,
    fred_series: dict[str, str] | None = None,
    bls_series: dict[str, str] | None = None,
) -> PipelineResult | None:
    """Run the 3-phase pipeline. Stores are injected (parquet-backed by
    default via `parquet_stores`) so tests can swap in-memory targets —
    the reference isolates the same seams by monkeypatching."""
    fred_series = fred_series if fred_series is not None else config.FRED_SERIES
    bls_series = bls_series if bls_series is not None else config.BLS_SERIES

    # --- Phase 1: extract (driver-side REST, sequential per series) -------
    try:
        fred_raw: dict[str, dict[str, Any]] = {}
        for name, series_id in fred_series.items():
            data = fetch_fred(series_id)
            fred_raw[name] = data
        bls_raw = fetch_bls(bls_series, 2021, datetime.now().year)
    except Exception:
        logger.exception("Pipeline failed during extraction")
        return None

    # --- Phase 2: transform (lazy DataFrame lineage) ----------------------
    try:
        frames = [
            parse_fred_observations(spark, data, fred_series[name], name)
            for name, data in fred_raw.items()
            if data is not None  # null-skip filter (reference src/main.py:43-47)
        ]
        if bls_raw is not None:
            frames.append(parse_bls_batch(spark, bls_raw, bls_series))
        fact_df = combine_fact_tables(frames)
        dim_df = build_dim_series(spark, fred_series, bls_series)
    except Exception:
        logger.exception("Pipeline failed during transformation")
        return None

    # --- Phase 3: load (two actions: fact upsert + dim upsert) ------------
    return load_tables(fact_store, dim_store, fact_df, dim_df)


def load_tables(
    fact_store: Store,
    dim_store: Store,
    fact_df: DataFrame,
    dim_df: DataFrame,
) -> PipelineResult | None:
    """Phase 3, shared by `run_pipeline` and the `--offline` replay: the
    fact upsert, then the dim upsert. A failure logs "Pipeline failed
    during loading" and returns None; the bronze replay's lazy snapshot
    scan runs (and fails on a malformed file) inside the fact upsert."""
    try:
        # Change classification compares VALUE ONLY — the reference's
        # upsert_observations (src/load.py:69-77) calls _nan_equal on
        # the value column alone, so a row whose series_name changed but
        # whose value did not counts as unchanged and is not rewritten;
        # when the value DID change, the UPDATE statement refreshes
        # series_name/source too (merge_with_status takes the incoming
        # row wholesale for updated rows).
        fact_stats = fact_store(fact_df, ["series_id", "date"], ["value"])
        dim_stats = dim_store(dim_df, ["series_id"], ["series_name", "source"])
    except Exception:
        logger.exception("Pipeline failed during loading")
        return None

    logger.info("fact upsert: %s", fact_stats)
    logger.info("dim upsert: %s", dim_stats)
    return PipelineResult(fact_stats=fact_stats, dim_stats=dim_stats)


def parquet_stores(spark: SparkSession, warehouse_dir: str):
    """Default plain-parquet stores: full upsert for the fact table,
    insert-only for the dim table (reference src/load.py:42-134
    semantics). Both go through the same merge and staged rewrite."""
    fact_path = f"{warehouse_dir}/fact_economic_observations"
    dim_path = f"{warehouse_dir}/dim_series"

    def fact_store(df: DataFrame, keys: list[str], compare: list[str]) -> dict[str, int]:
        return U.upsert_parquet(spark, df, fact_path, keys, compare)

    def dim_store(df: DataFrame, keys: list[str], compare: list[str]) -> dict[str, int]:
        return U.upsert_parquet(spark, df, dim_path, keys, compare_cols=[])

    return fact_store, dim_store
