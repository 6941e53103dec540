"""Crawl-frontier seen-set erasure: the (canonical, first_doc) index a
crawler keeps of every canonical URL it has seen, with the earliest doc
that carried it.

Right-to-be-forgotten on that index must give the seen-set a
from-scratch build on the reduced corpus would: a canonical whose
retained first doc is revoked moves to its earliest SURVIVING doc, or
leaves the index when none survives (plans/governance.py:
governance_erasure_frontier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from economic_data_etl_spark.operators.urls import canonical_url

INDEX_SCHEMA = StructType(
    [
        StructField("canonical", StringType(), True),
        StructField("first_doc", LongType(), True),
    ]
)


def frontier_erasure_patch(
    index: DataFrame,
    revoked: DataFrame,
    surviving_pages: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    canonical_col: str | None = None,
) -> DataFrame:
    """Replacement rows for erasing revoked docs from the standing
    seen-set: for each canonical whose retained first_doc is revoked,
    the earliest SURVIVING doc with that canonical (one canonicalize
    pass over the surviving pages, semi-joined to the affected
    canonicals — broadcast when revocations are few). Canonicals with
    no surviving occurrence leave the seen-set entirely, so a future
    re-crawl re-fetches them — the right-to-be-forgotten semantics a
    rebuild on the reduced corpus would produce.

    ``canonical_col``: when the caller's pages already carry the
    canonical URL (e.g. a checkpointed canonicalize pass shared with
    the index build), name it here to skip re-running the
    canonicalization regex chain per page."""
    rev = revoked.select(
        F.col(revoked.columns[0]).alias("first_doc")
    )
    affected = index.join(rev, "first_doc", "left_semi").select(
        "canonical"
    )
    canon = (
        F.col(canonical_col)
        if canonical_col is not None
        else canonical_url(F.col(url_col))
    )
    return (
        surviving_pages.select(
            F.col(id_col).alias("first_doc"),
            canon.alias("canonical"),
        )
        .join(affected, "canonical", "left_semi")
        .groupBy("canonical")
        .agg(F.min("first_doc").alias("first_doc"))
        .select("canonical", "first_doc")
    )


def erase_frontier_index(
    index: DataFrame,
    revoked: DataFrame,
    surviving_pages: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    canonical_col: str | None = None,
) -> DataFrame:
    """The seen-set a from-scratch build on the reduced corpus would
    give: unaffected rows verbatim, affected canonicals reassigned to
    their earliest surviving doc (or dropped when none survives)."""
    patch = frontier_erasure_patch(
        index, revoked, surviving_pages, id_col, url_col, canonical_col
    )
    rev = revoked.select(
        F.col(revoked.columns[0]).alias("first_doc")
    )
    return index.join(rev, "first_doc", "left_anti").unionByName(patch)

