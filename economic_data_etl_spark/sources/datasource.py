"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) for the
bronze snapshot layer.

`spark.read.format("economic_snapshots").load(dir)` turns a directory of
raw FRED/BLS JSON snapshots (written by sources/ingest.py) into fact rows.
It has no parser of its own: each file is handed to the same row parsers
the in-memory path uses (`fred.fred_rows`, `bls.bls_rows`), with the
registry name mapping and id fallback of `config`.

Scale shape: one input partition per snapshot file, so a directory of
thousands of snapshots parses fully in parallel with no driver
involvement beyond listing. This is the SURVEY.md §2.1 S1/S2 surface as a
first-class Spark source instead of driver-side plumbing.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from economic_data_etl_spark import config
from economic_data_etl_spark.schemas import FACT_SCHEMA
from economic_data_etl_spark.sources.bls import bls_rows
from economic_data_etl_spark.sources.fred import fred_rows


class SnapshotPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SnapshotReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("economic_snapshots requires a path")

    def partitions(self):
        files = sorted(Path(self.root).glob("*.json"))
        return [SnapshotPartition(str(f)) for f in files]

    def read(self, partition: SnapshotPartition):
        path = Path(partition.path)
        payload = json.loads(path.read_text())
        # bronze naming: {SOURCE}_{IDENTIFIER}_{YYYY_MM_DD}.json
        source, rest = path.stem.split("_", 1)
        identifier = rest.rsplit("_", 3)[0]
        if source == "FRED":
            id_to_name = {v: k for k, v in config.FRED_SERIES.items()}
            yield from fred_rows(payload, identifier, id_to_name.get(identifier, identifier))
        elif source == "BLS":
            yield from bls_rows(payload, {v: k for k, v in config.BLS_SERIES.items()})
        else:
            raise ValueError(f"unknown snapshot source {source!r} in {path.name}")


class SnapshotStreamReader(DataSourceStreamReader):
    """Streaming tail of the bronze snapshot directory.

    `spark.readStream.format("economic_snapshots").load(dir)` — each
    micro-batch picks up snapshot files not seen by any previous batch.
    The offset is the SET of consumed file names (a JSON dict), so
    recovery from a checkpoint is exact regardless of listing order or
    clock skew, unlike an index/mtime watermark. The offset grows with
    file count — fine for bronze drops (thousands); a production source
    at millions of files would compact it into a manifest generation
    number. Parsing reuses the batch reader, one partition per new file.
    """

    def __init__(self, options: dict):
        self._batch = SnapshotReader(options)
        self.root = self._batch.root

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        return {"seen": sorted(str(f) for f in Path(self.root).glob("*.json"))}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["seen"]) - set(start["seen"]))
        # Zero-partition batches are disallowed; emit an empty marker.
        return [SnapshotPartition(p) for p in new] or [SnapshotPartition("")]

    def read(self, partition: SnapshotPartition):
        if not partition.path:
            return iter(())
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up; offsets live in the checkpoint

    def stop(self) -> None:
        pass


class SnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "economic_snapshots"

    def schema(self):
        return FACT_SCHEMA

    def reader(self, schema) -> SnapshotReader:
        return SnapshotReader(self.options)

    def streamReader(self, schema) -> SnapshotStreamReader:
        return SnapshotStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SnapshotDataSource)
