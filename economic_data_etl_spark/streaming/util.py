"""Shared helpers for the incremental/streaming sinks.

One definition of the standing-index bootstrap read, used by all the
foreachBatch sinks (MinHash, pHash, semantic, substring, heavy
hitters). Previously each sink carried its own os.path.isdir copy,
which (a) could drift, and (b) silently returned an EMPTY index for
any non-local path (HDFS/S3) — marking nothing as duplicate instead of
failing loudly. This version goes through Spark's own filesystem layer
(works on any Hadoop-visible path) and treats ONLY a missing path as
an empty index; every other failure (permissions, corrupt footer, a
typo'd scheme) propagates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from economic_data_etl_spark.operators.io import commit_staged, recover_staging

# Error-class fragments Spark raises for a nonexistent read path; both
# the Spark-4 error-class name and the legacy message are matched so
# the check survives version drift.
_MISSING_PATH_MARKERS = ("PATH_NOT_FOUND", "Path does not exist")


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Read a standing parquet index, or an empty DataFrame with the
    same schema when the index has never been written.

    The read goes through spark.read (Hadoop FileSystem), so remote
    paths (hdfs://, s3a://) work exactly like local ones. A missing
    path — the legitimate "first batch ever" state — yields the empty
    frame; anything else re-raises, so a misconfigured index path can
    never silently behave as an empty index.
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


def erase_ids(df: DataFrame, ids: DataFrame, cols: list[str]) -> DataFrame:
    """Drop every row of `df` whose value in ANY of `cols` appears in
    the single-column id frame `ids` — the shared masking/compaction
    step of the standing-index erasure paths (a pairs table is erased
    on BOTH endpoints, an index table on its one id column). One
    anti-join per column; when the revoked set is small (the normal
    right-to-be-forgotten shape) each anti-join broadcasts."""
    ids = ids.select(F.col(ids.columns[0]).alias("__erase_id"))
    out_cols = df.columns
    for c in cols:
        df = df.join(
            ids.withColumnRenamed("__erase_id", c), c, "left_anti"
        )
    # a join moves its key to the front — restore the caller's order
    return df.select(*out_cols)


def tombstone_then_compact(
    spark: SparkSession,
    tombstones_dir: str,
    tombstones_schema: StructType,
    revoked: DataFrame,
    tables: list[tuple[str, StructType, list[str]]],
) -> None:
    """The shared tombstone-then-compact erasure sequence for standing
    indexes whose erasure is a pure per-table anti-join (BM25-shaped:
    semantic pairs/assignments, pHash fingerprints/pairs). For indexes
    that must REASSIGN state to survivors (substring gram firsts, crawl
    frontier firsts) see their modules' patch-carrying variants.

    1. APPEND revoked ids to the tombstone table — the commit point;
       the caller's read_*_erased masks every table from here on, and
       a replayed append only adds duplicate tombstone rows.
    2. Compact each table in turn: anti-join rewrite committed with
       `commit_staged` (operators/io.py), after `recover_staging` has
       finished or rolled back any interrupted commit. Re-erasing
       already-compacted rows is a no-op, so any crash+replay
       interleaving converges.
    3. Clear the tombstone table LAST — until then it keeps masking.

    `tables`: (path, schema, match_cols) — a row is erased when any of
    match_cols holds a tombstoned id.
    """
    import shutil

    id_col = tombstones_schema.fieldNames()[0]
    ids = revoked.select(
        F.col(revoked.columns[0])
        .cast(tombstones_schema[id_col].dataType)
        .alias(id_col)
    )
    ids.write.mode("append").parquet(tombstones_dir)  # commit point

    tombs = read_parquet_or_empty(
        spark, tombstones_dir, tombstones_schema
    ).dropDuplicates([id_col])
    for path, schema, cols in tables:
        recover_staging(path)
        kept = erase_ids(
            read_parquet_or_empty(spark, path, schema), tombs, cols
        )
        commit_staged(kept.write, path)
    shutil.rmtree(tombstones_dir)  # cleared last

