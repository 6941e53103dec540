"""The one MERGE: per-row outcome classification plus its stats.

Reference parity: `upsert_observations` / `upsert_dim_series`
(reference src/load.py:42-134) classify each incoming row as
inserted / updated / unchanged against the existing table, apply the
changes, and report a stats dict. The reference loads the whole table
into a Python dict and loops (src/load.py:55-77) — explicitly flagged
there as non-scalable (src/load.py:121-122).

Spark-first design: `merge_with_status` is the only classifier. It
dedups the batch deterministically, then runs ONE full-outer join on the
key with `when/otherwise` classification and NaN-safe epsilon equality.
`observed_merge` hangs the outcome counts on that lineage with
`observe()`, so the stats ride the write that applies the merge — no
second job. Every store calls it exactly once: the parquet fact and dim
tables here (`upsert_parquet`, one staged rewrite protocol for both) and
the JDBC sink (sources/jdbc.py). An empty `compare_cols` is the
insert-only (dim) mode: a matched key is unchanged and keeps its stored
row.
"""

from __future__ import annotations

import functools
import logging
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from economic_data_etl_spark.functions.casts import nan_safe_eq
from economic_data_etl_spark.operators.io import (
    commit_staged,
    read_parquet_or_empty,
    recover_staging,
)

logger = logging.getLogger(__name__)

STATUS_COL = "__change_status"
DROPPED_COL = "__dup_dropped"  # batch rows dropped for this key as duplicates
INSERTED, UPDATED, UNCHANGED = "inserted", "updated", "unchanged"
RETAINED = "retained"  # existing-only rows; kept, never counted in stats
EPS = 1e-9  # numeric equality tolerance (reference src/load.py:27-35)


def _dedup(incoming: DataFrame, keys: list[str]) -> DataFrame:
    """One row per key. The survivor is chosen by value — the max of the
    non-key columns as a struct — so it does not depend on how the batch
    is partitioned (dropDuplicates keeps an arbitrary row). The
    reference's SQL primary key would reject such a batch outright."""
    rest = [c for c in incoming.columns if c not in keys]
    best = incoming.groupBy(*keys).agg(
        F.max(F.struct(*rest)).alias("__row"),
        (F.count(F.lit(1)) - 1).alias(DROPPED_COL),
    )
    return best.select(
        *keys, *[F.col("__row")[c].alias(c) for c in rest], DROPPED_COL
    )


def merge_with_status(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """ONE full-outer join producing the merged target content plus
    STATUS_COL ∈ {inserted, updated, unchanged, retained} and
    DROPPED_COL (duplicate batch rows dropped for the key; NULL on
    retained rows).

    A row is `unchanged` when every compare column is NaN-safe-epsilon
    equal (reference src/load.py:27-35,64-77) — with no compare columns,
    every matched key is; `inserted` when the key is absent from
    `existing`. Each side is scanned once and shuffled on the key once.
    """
    all_cols = existing.columns
    inc = _dedup(incoming, keys).select(
        *[F.col(c).alias(f"__in_{c}") for c in all_cols],
        F.col(DROPPED_COL),
        F.lit(1).alias("__in_present"),
    )
    ex = existing.select(
        *[F.col(c).alias(f"__ex_{c}") for c in all_cols],
        F.lit(1).alias("__ex_present"),
    )
    cond = functools.reduce(
        Column.__and__, [inc[f"__in_{k}"] == ex[f"__ex_{k}"] for k in keys]
    )
    joined = inc.join(ex, cond, "full_outer")

    numeric = {
        f.name
        for f in existing.schema.fields
        if f.dataType.typeName()
        in ("double", "float", "decimal", "integer", "long", "short", "byte")
    }

    def col_equal(c: str) -> Column:
        if c in numeric:  # epsilon tolerance only makes sense for numbers
            return nan_safe_eq(F.col(f"__in_{c}"), F.col(f"__ex_{c}"), EPS)
        return F.col(f"__in_{c}").eqNullSafe(F.col(f"__ex_{c}"))

    all_equal = functools.reduce(
        Column.__and__, [col_equal(c) for c in compare_cols], F.lit(True)
    )
    status = (
        F.when(F.col("__ex_present").isNull(), INSERTED)
        .when(F.col("__in_present").isNull(), RETAINED)
        .when(all_equal, UNCHANGED)
        .otherwise(UPDATED)
    )
    # Row selection is STATUS-driven, not per-column coalesce, to match
    # the reference's UPDATE semantics (src/load.py:78-103) exactly:
    # - updated rows take the incoming row WHOLESALE, including NULL
    #   values — coalesce would resurrect the existing value and lose a
    #   revision-to-NULL ("." marker) entirely;
    # - unchanged rows keep the EXISTING row untouched — the reference
    #   issues no UPDATE for them, so an incoming row with an equal
    #   value but different non-compare columns (series_name) must not
    #   silently rewrite them.
    take_incoming = status.isin(INSERTED, UPDATED)
    merged_cols = [
        F.when(take_incoming, F.col(f"__in_{c}"))
        .otherwise(F.col(f"__ex_{c}"))
        .alias(c)
        for c in all_cols
    ]
    return joined.select(*merged_cols, status.alias(STATUS_COL), DROPPED_COL)


def observed_merge(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> tuple[DataFrame, Callable[[], dict[str, int]]]:
    """`merge_with_status` with its outcome counts observed on the same
    lineage. Returns the merged frame (STATUS_COL and DROPPED_COL still
    attached, for the caller to filter on and drop) and a function that
    reads the stats once an action over that frame has run:
    {inserted, updated, unchanged}, or {inserted, unchanged} in
    insert-only mode (reference src/load.py:134)."""
    merged = merge_with_status(existing, incoming, keys, compare_cols)
    outcomes = (INSERTED, UPDATED, UNCHANGED) if compare_cols else (INSERTED, UNCHANGED)
    obs = Observation()
    observed = merged.observe(
        obs,
        *[F.count(F.when(F.col(STATUS_COL) == s, 1)).alias(s) for s in outcomes],
        F.coalesce(F.sum(DROPPED_COL), F.lit(0)).alias(DROPPED_COL),
    )

    def stats() -> dict[str, int]:
        got = obs.get
        if got[DROPPED_COL]:
            logger.warning(
                "upsert dropped %d duplicate-key batch rows (kept the max row per key)",
                got[DROPPED_COL],
            )
        return {s: int(got[s]) for s in outcomes}

    return observed, stats


def upsert_parquet(
    spark,
    incoming: DataFrame,
    target_path: str,
    keys: list[str],
    compare_cols: list[str],
) -> dict[str, int]:
    """Plain-parquet upsert (no Delta needed): recover any interrupted
    commit, merge, and replace the table with `commit_staged`
    (operators/io.py), so a crash at any point loses no stored row.

    Single-pass: the full-outer merge and the outcome stats share one
    job — stats are collected by observe() metrics during the staging
    write, so neither table is scanned twice. The target is read with
    the incoming schema (no inference job), like `jdbc_upsert`.
    """
    recover_staging(target_path)
    existing = read_parquet_or_empty(spark, target_path, incoming.schema)

    merged, stats = observed_merge(existing, incoming, keys, compare_cols)
    commit_staged(merged.drop(STATUS_COL, DROPPED_COL).write, target_path)
    return stats()
