"""`erase_ids`: the masking step of the standing-index erasure paths."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
