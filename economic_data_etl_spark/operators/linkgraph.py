"""Link-graph Spark lanes: edge extraction over planted pages and the
anchor-text aggregation behind the batch queries (plans/linkgraph.py).

The extraction lane is the certification harness: each doc is wrapped
in its deterministic linked page (operators/html.py:write_linked_page)
and run through the REAL extractor + resolver. A production deployment
swaps the page writer for the fetched payload column; everything
downstream (positions, resolution, aggregation, index maintenance,
erasure) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def link_edges_for_docs(docs: DataFrame, n_docs: int) -> DataFrame:
    """(src_doc_id, src_url, pos, dst_url, anchor) for every doc_id in
    `docs` — one Arrow mapInPandas lane, O(page) per row, no shuffle.
    Non-edges (fragment-only, missing href, commented/script links)
    never reach the output; positions number the RESOLVED edges in
    document order."""
    from collections.abc import Iterator

    import pandas as pd

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from economic_data_etl_spark.operators.html import (
            html_links,
            linked_page_base_url,
            resolve_url,
            write_linked_page,
        )

        for pdf_b in batches:
            rows = []
            for did in pdf_b["doc_id"]:
                did = int(did)
                base = linked_page_base_url(did)
                pos = 0
                for href, anchor in html_links(
                    write_linked_page(did, n_docs)
                ):
                    dst = resolve_url(base, href)
                    if dst is None:
                        continue
                    pos += 1
                    rows.append(
                        {
                            "src_doc_id": did,
                            "src_url": base,
                            "pos": pos,
                            "dst_url": dst,
                            "anchor": anchor,
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(
        extract,
        "src_doc_id long, src_url string, pos int, dst_url string, "
        "anchor string",
    )


def anchor_index_from_edges(edges: DataFrame) -> DataFrame:
    """The anchor-text index served from an edge set: one
    groupBy(dst_url) with map-side partial aggregation."""
    from economic_data_etl_spark.operators.urls import url_host

    return (
        edges.groupBy("dst_url")
        .agg(
            F.count(F.lit(1)).alias("in_degree"),
            F.countDistinct(url_host(F.col("src_url"))).alias(
                "n_src_hosts"
            ),
            F.countDistinct("anchor").alias("n_anchors"),
            F.min("anchor").alias("top_anchor"),
        )
        .orderBy("dst_url")
    )


def dst_base(col):
    """Query-stripped URL: every URL form of a page (?ref variants)
    matches the page's one base URL."""
    return F.substring_index(col, "?", 1)


def erase_link_edges(edges: DataFrame, revoked: DataFrame) -> DataFrame:
    """Two-sided link-graph erasure (the Google-Spain shape): drop an
    edge when its SOURCE doc is revoked (the doc as a linker) or its
    query-stripped TARGET equals a revoked page URL (other pages'
    anchor text describing the revoked page — the part a
    replay-on-reduced-corpus would NOT remove, because surviving pages
    still emit those links). `revoked` carries (doc_id, base_url);
    both anti-joins broadcast when the revoked set is small — the
    normal right-to-be-forgotten shape."""
    out_cols = edges.columns
    edges = edges.join(
        revoked.select(F.col("doc_id").alias("src_doc_id")),
        "src_doc_id",
        "left_anti",
    )
    return edges.join(
        revoked.select(dst_base(F.col("base_url")).alias("__dst_base")),
        dst_base(edges["dst_url"]) == F.col("__dst_base"),
        "left_anti",
    ).select(*out_cols)
