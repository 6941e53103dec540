"""CLI entry point: `python -m economic_data_etl_spark [--offline]`.

Reference parity: `python -m src.main` (reference src/main.py) runs
extract → transform → load and logs per-phase stats. Here:

- default mode fetches FRED/BLS over HTTP (requires API keys in
  FRED_API_KEY / BLS_API_KEY and the `requests` package);
- `--offline` replays the bronze snapshot directory through the custom
  DataSource instead — no network, same downstream pipeline.

Either way the warehouse lands as parquet under --warehouse (default
data/warehouse).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys

from economic_data_etl_spark import config
from economic_data_etl_spark.pipeline import load_tables, parquet_stores, run_pipeline
from economic_data_etl_spark.session import get_spark


def _live_fetchers():
    import requests

    from economic_data_etl_spark.sources.ingest import fetch_with_retry

    @fetch_with_retry
    def fetch_fred(series_id: str):
        resp = requests.get(
            config.FRED_API_URL,
            params={
                "series_id": series_id,
                "api_key": os.environ.get("FRED_API_KEY", ""),
                "file_type": "json",
            },
            timeout=config.FRED_TIMEOUT_S,
        )
        resp.raise_for_status()
        data = resp.json()
        if "observations" not in data:
            raise ValueError(f"Invalid FRED response for {series_id}")
        return data

    @fetch_with_retry
    def fetch_bls(series_map: dict[str, str], start_year: int, end_year: int):
        resp = requests.post(
            config.BLS_API_URL,
            json={
                "seriesid": list(series_map.values()),
                "startyear": str(start_year),
                "endyear": str(end_year),
                "registrationkey": os.environ.get("BLS_API_KEY", ""),
            },
            timeout=config.BLS_TIMEOUT_S,
        )
        resp.raise_for_status()
        data = resp.json()
        if data.get("status") != "REQUEST_SUCCEEDED":
            raise RuntimeError(f"BLS API request failed: {data.get('status')}")
        return data

    return fetch_fred, fetch_bls


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="economic_data_etl_spark")
    parser.add_argument(
        "--offline",
        action="store_true",
        help="replay bronze snapshots from --raw-dir instead of hitting APIs",
    )
    parser.add_argument("--raw-dir", default=str(config.RAW_DIR))
    parser.add_argument("--warehouse", default=str(config.WAREHOUSE_DIR))
    args = parser.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(message)s")
    spark = get_spark(app_name="economic-data-etl")
    spark.sparkContext.setLogLevel("WARN")

    fact_store, dim_store = parquet_stores(spark, args.warehouse)

    if args.offline:
        from economic_data_etl_spark.sources.bls import build_dim_series
        from economic_data_etl_spark.sources.datasource import register

        register(spark)
        fact_df = spark.read.format("economic_snapshots").load(args.raw_dir)
        dim_df = build_dim_series(spark, config.FRED_SERIES, config.BLS_SERIES)
        result = load_tables(fact_store, dim_store, fact_df, dim_df)
    else:
        fetch_fred, fetch_bls = _live_fetchers()
        result = run_pipeline(spark, fetch_fred, fetch_bls, fact_store, dim_store)
    return 0 if result is not None else 1


if __name__ == "__main__":
    sys.exit(main())
