"""The one commit protocol for replacing a warehouse parquet table
(`commit_staged` + `recover_staging`, used by
`operators/upsert.py:upsert_parquet`), and the one read of such a
table that may not exist yet (`read_parquet_or_empty`).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql.types import StructType

# Error-class fragments Spark raises for a nonexistent read path; both
# the Spark-4 error-class name and the legacy message are matched so
# the check survives version drift.
_MISSING_PATH_MARKERS = ("PATH_NOT_FOUND", "Path does not exist")


def commit_staged(writer: DataFrameWriter, target: str) -> None:
    """Replace the parquet table at `target` with what `writer` writes.

    1. write to `<target>.staging` (Spark writes `_SUCCESS` last);
    2. rename `target` to `<target>.old`;
    3. rename staging to `target`;
    4. delete `.old`.

    Each step is a single rename or a delete of a directory no reader
    uses, so a crash at any point leaves either the old or the new table
    recoverable by `recover_staging`, which callers run before every
    read of `target`. Nothing partially deleted is ever under `target`.
    Readers see a plain parquet directory throughout.

    Local-FS scope (os.rename); a production deployment points these
    tables at a transactional table format instead.
    """
    staging, old = f"{target}.staging", f"{target}.old"
    writer.mode("overwrite").parquet(staging)
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(staging, target)
    if os.path.exists(old):
        shutil.rmtree(old)


def recover_staging(target: str) -> None:
    """Finish — or roll back — a `commit_staged` interrupted by a crash.

    With `target` missing, a complete staging dir (`_SUCCESS` present)
    is the committed next table and is promoted; otherwise `.old` is
    the last committed table and is restored. A partial staging dir is
    never promoted: it is a partial table, and promoting it would lose
    every warehouse row its writer had not reached yet.
    Any leftover staging or `.old` dir is then deleted.
    """
    staging, old = f"{target}.staging", f"{target}.old"
    if not os.path.exists(target):
        if os.path.exists(os.path.join(staging, "_SUCCESS")):
            os.rename(staging, target)
        elif os.path.exists(old):
            os.rename(old, target)
    for leftover in (staging, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """Read a parquet table with a known schema, or an empty DataFrame
    with that schema when the table has never been written.

    The read goes through spark.read (Hadoop FileSystem), so remote
    paths (hdfs://, s3a://) work exactly like local ones, and the
    explicit schema means no inference job. A missing path — the
    legitimate "first write ever" state — yields the empty frame;
    anything else (permissions, corrupt footer, a typo'd scheme)
    re-raises, so a misconfigured path can never silently behave as an
    empty table.
    """
    from pyspark.errors import AnalysisException

    try:
        # DataFrameReader.parquet resolves the path eagerly, so a
        # missing directory surfaces here, not at action time.
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if any(m in str(e) for m in _MISSING_PATH_MARKERS):
            return spark.createDataFrame([], schema)
        raise
