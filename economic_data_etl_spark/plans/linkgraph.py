"""Link-graph queries: hyperlink extraction, the anchor-text index,
host-level link statistics, and PageRank over the crawled graph.

The layer of a web-corpus pipeline that sits NEXT to the text funnel
(plans/crawlq.py): a crawler does not just keep page text — it keeps
the edges. Anchor text is a labeled description of the *target* page
(the classic anchor-text index used for retrieval and for describing
pages the crawler has not fetched yet), and host-level out-degree /
intra-host-fraction statistics feed link-spam and quality priors.
PageRank over the harvested edges is the canonical authority score.

Certification follows the planted-page pattern of the HTML lanes
(plans/compressq.py): each sampled document is wrapped in a
deterministic page (operators/html.py: write_linked_page) planting one
link per reference form the resolver must handle — absolute,
protocol-relative (with an entity-encoded anchor), root-relative
(single-quoted href), dot-segment relative (unquoted href), and
query-only — plus nav chrome links and four planted NON-edges
(fragment-only href, <a> without href, commented-out link, script-body
link). The Spark side runs the real extractor + resolver in Arrow
mapInPandas lanes; the DuckDB oracle replays the planted target
arithmetic exactly, so a decoy leak or a resolution bug is a
row-count / value-hash mismatch, never a silent pass.

Scale: extraction is O(page) per row in an Arrow lane with no shuffle;
the downstream index/stat queries are single hash aggregations on the
edge set; PageRank reuses operators/pagerank.py (edges cached once,
per-round shuffles move only the rank vector).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table

# Bounded certification universe, like compressq._CERT_DOCS: the lane
# is certified on a fixed 64-doc slice so the planted-link arithmetic
# is SF-independent; production runs drop the filter.
_LINK_DOCS = 64

# DuckDB twin of operators/html.py: write_linked_page target arithmetic
# + linked_page_base_url. Keep in lockstep with the page writer.
# _EDGES_BODY composes after other CTE chains (prepend WITH or a comma).
_EDGES_BODY = f"""
     t AS (
        SELECT doc_id AS d,
               (7 * doc_id + 3) % {_LINK_DOCS} AS t1,
               (13 * doc_id + 5) % {_LINK_DOCS} AS t2,
               (3 * doc_id + 1) % {_LINK_DOCS} AS t3,
               (5 * doc_id + 2) % {_LINK_DOCS} AS t4,
               'https://site' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example.com' AS h
        FROM documents WHERE doc_id < {_LINK_DOCS}
    ), edges AS (
        SELECT d AS src_doc_id, h || '/doc/' || CAST(d AS VARCHAR)
                   AS src_url,
               1 AS pos, h || '/nav/home' AS dst_url, 'Home' AS anchor
        FROM t
        UNION ALL
        SELECT d, h || '/doc/' || CAST(d AS VARCHAR), 2,
               h || '/nav/about', 'About' FROM t
        UNION ALL
        SELECT d, h || '/doc/' || CAST(d AS VARCHAR), 3,
               'https://site' || CAST(t1 % 7 AS VARCHAR)
                   || '.example.com/doc/' || CAST(t1 AS VARCHAR),
               'Topic ' || CAST(t1 % 13 AS VARCHAR) || ' in full' FROM t
        UNION ALL
        SELECT d, h || '/doc/' || CAST(d AS VARCHAR), 4,
               'https://site' || CAST(t2 % 7 AS VARCHAR)
                   || '.example.com/doc/' || CAST(t2 AS VARCHAR),
               'Q&A page ' || CAST(t2 AS VARCHAR) FROM t
        UNION ALL
        SELECT d, h || '/doc/' || CAST(d AS VARCHAR), 5,
               h || '/doc/' || CAST(t3 AS VARCHAR),
               'See also ' || CAST(t3 AS VARCHAR) FROM t
        UNION ALL
        SELECT d, h || '/doc/' || CAST(d AS VARCHAR), 6,
               h || '/doc/' || CAST(t4 AS VARCHAR),
               'Related ' || CAST(t4 AS VARCHAR) FROM t
        UNION ALL
        SELECT d, h || '/doc/' || CAST(d AS VARCHAR), 7,
               h || '/doc/' || CAST(d AS VARCHAR) || '?ref='
                   || CAST(d % 5 AS VARCHAR),
               'Sorted view' FROM t
    )
"""

_EDGES_SQL = "WITH" + _EDGES_BODY


def _link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The certification edge set: the real extractor + resolver
    (operators/linkgraph.py:link_edges_for_docs) over the bounded
    64-doc planted universe."""
    from economic_data_etl_spark.operators.linkgraph import (
        link_edges_for_docs,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _LINK_DOCS)
        .select("doc_id")
    )
    return link_edges_for_docs(docs, _LINK_DOCS)


@register(
    "crawl_link_extract",
    oracle=_EDGES_SQL
    + """
    SELECT src_doc_id, pos, dst_url, anchor
    FROM edges
    ORDER BY src_doc_id, pos
    """,
    doc="Hyperlink extraction + reference resolution "
    "(operators/html.py: html_links + resolve_url): each sampled "
    "document is wrapped in a deterministic page planting one link per "
    "reference form — absolute, protocol-relative (entity-encoded "
    "anchor), root-relative (single-quoted href), dot-segment relative "
    "(unquoted href), query-only — plus nav chrome, and four planted "
    "NON-edges (fragment-only href, missing href, commented-out link, "
    "script-body link). The oracle replays the planted target "
    "arithmetic, so a decoy leak is an extra row and a resolution bug "
    "is a value mismatch. O(page) Arrow lane, no shuffle before the "
    "output sort.",
)
def crawl_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _link_edges(spark, sf_dir)
        .select("src_doc_id", "pos", "dst_url", "anchor")
        .orderBy("src_doc_id", "pos")
    )


@register(
    "crawl_anchor_text_index",
    oracle=_EDGES_SQL
    + """
    SELECT dst_url,
           CAST(COUNT(*) AS BIGINT) AS in_degree,
           CAST(COUNT(DISTINCT src_doc_id % 7) AS BIGINT) AS n_src_hosts,
           CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_anchors,
           MIN(anchor) AS top_anchor
    FROM edges
    GROUP BY dst_url
    ORDER BY dst_url
    """,
    doc="Anchor-text index — the per-TARGET aggregation of link text "
    "(how the web describes a page, usable even for pages never "
    "fetched): in-degree, number of distinct linking hosts (host "
    "parsed from the page URL by operators/urls.py, not replayed "
    "arithmetic), distinct anchor strings, and the lexicographic top "
    "anchor. One hash aggregation over the extracted edge set — "
    "at 100 TB this is a single groupBy(dst_url) shuffle with "
    "map-side partial aggregation.",
)
def crawl_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.linkgraph import (
        anchor_index_from_edges,
    )

    return anchor_index_from_edges(_link_edges(spark, sf_dir))


@register(
    "crawl_host_link_stats",
    oracle=_EDGES_SQL
    + """
    SELECT regexp_extract(src_url, '^https://([^/]+)/', 1) AS src_host,
           CAST(COUNT(DISTINCT src_doc_id) AS BIGINT) AS n_pages,
           CAST(COUNT(*) AS BIGINT) AS out_degree,
           CAST(SUM(CASE WHEN regexp_extract(dst_url,
                        '^https://([^/]+)/', 1)
                    = regexp_extract(src_url, '^https://([^/]+)/', 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS intra_links,
           ROUND(5e-10 + SUM(CASE WHEN regexp_extract(dst_url,
                        '^https://([^/]+)/', 1)
                    = regexp_extract(src_url, '^https://([^/]+)/', 1)
                    THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS intra_frac
    FROM edges
    GROUP BY 1
    ORDER BY src_host
    """,
    doc="Host-level link statistics — the link-spam / quality prior of "
    "a crawl pipeline: per source host, page count, out-degree, "
    "intra-host link count and fraction (a host that links mostly to "
    "itself is a farm signal; one that never does is a hub). Hosts are "
    "parsed from URLs by operators/urls.py on the Spark side; the "
    "oracle parses with regexp. One hash aggregation, broadcast-free.",
)
def crawl_host_link_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.urls import url_host

    edges = _link_edges(spark, sf_dir).select(
        url_host(F.col("src_url")).alias("src_host"),
        url_host(F.col("dst_url")).alias("dst_host"),
        "src_doc_id",
    )
    intra = F.when(F.col("dst_host") == F.col("src_host"), 1).otherwise(0)
    return (
        edges.groupBy("src_host")
        .agg(
            F.countDistinct("src_doc_id").alias("n_pages"),
            F.count(F.lit(1)).alias("out_degree"),
            F.sum(intra).cast("long").alias("intra_links"),
            biased_round(
                F.sum(intra.cast("double")) / F.count(F.lit(1)), 6
            ).alias("intra_frac"),
        )
        .orderBy("src_host")
    )


_PAGERANK_TAIL = """
    , deg AS (
        SELECT src_url AS src, COUNT(*) AS deg FROM edges GROUP BY 1
    ), nodes AS (
        SELECT DISTINCT src_url AS node FROM edges
        UNION
        SELECT DISTINCT dst_url FROM edges
    ), nn AS (
        SELECT COUNT(*) AS n FROM nodes
    ), r0 AS (
        SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
        FROM nodes CROSS JOIN nn
    ), c1 AS (
        SELECT e.dst_url AS node, SUM(r.rank / d.deg) AS contrib
        FROM edges e
        JOIN deg d ON d.src = e.src_url
        JOIN r0 r ON r.node = e.src_url
        GROUP BY 1
    ), r1 AS (
        SELECT nd.node,
               CAST(0.15 AS DOUBLE) / nn.n
                   + CAST(0.85 AS DOUBLE) * COALESCE(c1.contrib, 0.0)
                   AS rank
        FROM nodes nd CROSS JOIN nn LEFT JOIN c1 ON c1.node = nd.node
    ), c2 AS (
        SELECT e.dst_url AS node, SUM(r.rank / d.deg) AS contrib
        FROM edges e
        JOIN deg d ON d.src = e.src_url
        JOIN r1 r ON r.node = e.src_url
        GROUP BY 1
    ), r2 AS (
        SELECT nd.node,
               CAST(0.15 AS DOUBLE) / nn.n
                   + CAST(0.85 AS DOUBLE) * COALESCE(c2.contrib, 0.0)
                   AS rank
        FROM nodes nd CROSS JOIN nn LEFT JOIN c2 ON c2.node = nd.node
    ), c3 AS (
        SELECT e.dst_url AS node, SUM(r.rank / d.deg) AS contrib
        FROM edges e
        JOIN deg d ON d.src = e.src_url
        JOIN r2 r ON r.node = e.src_url
        GROUP BY 1
    ), r3 AS (
        SELECT nd.node,
               CAST(0.15 AS DOUBLE) / nn.n
                   + CAST(0.85 AS DOUBLE) * COALESCE(c3.contrib, 0.0)
                   AS rank
        FROM nodes nd CROSS JOIN nn LEFT JOIN c3 ON c3.node = nd.node
    )
    SELECT node, ROUND(5e-10 + r3.rank * nn.n, 4) AS rank_scaled
    FROM r3 CROSS JOIN nn
    ORDER BY rank_scaled DESC, node
    LIMIT 20
"""


@register(
    "crawl_pagerank_links",
    oracle=_EDGES_SQL + _PAGERANK_TAIL,
    doc="PageRank over the harvested link graph — the canonical "
    "authority score a crawler feeds back into scheduling and corpus "
    "weighting. DIRECTED edges straight from crawl_link_extract "
    "(nav targets and query variants are dangling sink nodes — the "
    "documented mass-leak formulation of operators/pagerank.py), "
    "3 iterations, damping 0.85, top-20 by rank scaled to mean 1. "
    "Ordering breaks ties on the ROUNDED rank then node URL, so "
    "cross-engine float noise below display precision cannot reorder. "
    "Oracle = the identical three iterations unrolled as CTEs over the "
    "replayed edge set. Edge table cached once; per-round shuffles "
    "move only the rank vector.",
)
def crawl_pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.pagerank import pagerank

    edges = _link_edges(spark, sf_dir).select(
        F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
    )
    ranks = pagerank(edges, iterations=3, damping=0.85, symmetric=False)
    n_nodes = ranks.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranks.crossJoin(F.broadcast(n_nodes))
        .select(
            "node",
            biased_round(F.col("rank") * F.col("n")).alias("rank_scaled"),
        )
        .orderBy(F.desc("rank_scaled"), "node")
        .limit(20)
    )


_LINK_SPLIT = 40  # standing index: docs < 40; batch: docs >= 32 (overlap)
_LINK_OVERLAP = 32

_ANCHOR_AGG_SQL = """
    SELECT dst_url,
           CAST(COUNT(*) AS BIGINT) AS in_degree,
           CAST(COUNT(DISTINCT src_doc_id % 7) AS BIGINT) AS n_src_hosts,
           CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_anchors,
           MIN(anchor) AS top_anchor
"""


@register(
    "crawl_incremental_links",
    oracle=_EDGES_SQL
    + _ANCHOR_AGG_SQL
    + """
    FROM edges
    GROUP BY dst_url
    ORDER BY dst_url
    """,
    doc="INCREMENTAL link index: the standing edge table holds docs "
    f"below {_LINK_SPLIT}; the arriving batch (docs >= {_LINK_OVERLAP}"
    f", so {_LINK_SPLIT - _LINK_OVERLAP} docs are REDELIVERED) is "
    "membership-anti-joined against the stored source ids, the "
    "survivors link-extracted once, and the anchor-text index served "
    "from the union. The oracle is the ONE-SHOT full-corpus "
    "aggregation — green means index-served == one-shot; a broken "
    "anti-join would double the redelivered docs' in-degree "
    "contributions and fail the value hash. Per-batch cost "
    "O(batch pages) + one anti-join; the "
    "edge table never self-joins.",
)
def crawl_incremental_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.linkgraph import (
        anchor_index_from_edges,
        link_edges_for_docs,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _LINK_DOCS)
        .select("doc_id")
    )
    standing = link_edges_for_docs(
        docs.filter(F.col("doc_id") < _LINK_SPLIT), _LINK_DOCS
    )
    batch = docs.filter(F.col("doc_id") >= _LINK_OVERLAP)
    fresh = batch.join(
        standing.select(F.col("src_doc_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    appended = link_edges_for_docs(fresh, _LINK_DOCS)
    return anchor_index_from_edges(standing.unionByName(appended))


@register(
    "governance_erasure_linkgraph",
    oracle=_EDGES_SQL
    + f"""
    , revoked AS (
        SELECT doc_id,
               'https://site' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
                   AS base_url
        FROM documents WHERE doc_id < {_LINK_DOCS} AND source = 'src2'
    ), reduced AS (
        SELECT * FROM edges
        WHERE src_doc_id NOT IN (SELECT doc_id FROM revoked)
          AND split_part(dst_url, '?', 1)
              NOT IN (SELECT base_url FROM revoked)
    )
    """
    + _ANCHOR_AGG_SQL
    + """
    FROM reduced
    GROUP BY dst_url
    ORDER BY dst_url
    """,
    doc="Erasure propagation through the standing LINK GRAPH, "
    "two-sided (the Google-Spain shape, operators/linkgraph.py:"
    "erase_link_edges): revoking source 'src2' must remove its docs "
    "as LINKERS (their out-edges) and as TARGETS — other pages' "
    "anchor text describing the revoked pages' URLs, including every "
    "query-string variant (?ref= rows strip to the tombstoned base "
    "URL). The target side is deliberately STRONGER than "
    "replay-on-reduced-corpus (surviving pages still emit those "
    "links); the oracle replays both filters, so the served "
    "anchor-text index's in-degree / n_src_hosts / top_anchor shifts "
    "are value-checked. Both anti-joins broadcast — the revoked set "
    "is small by nature.",
)
def governance_erasure_linkgraph(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.linkgraph import (
        anchor_index_from_edges,
        erase_link_edges,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _LINK_DOCS
    )
    revoked = docs.filter(F.col("source") == "src2").select(
        "doc_id",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("base_url"),
    )
    edges = _link_edges(spark, sf_dir)
    return anchor_index_from_edges(
        erase_link_edges(edges, F.broadcast(revoked))
    )


# --------------------------------------------------------------------------
# Fielded retrieval: body BM25 + anchor-text BM25 (the BM25F-lite /
# Lucene multi-field shape — anchor text is the classic second field).
# --------------------------------------------------------------------------
_BM25F_TERMS = ("table", "view", "topic")
_BM25F_WA = 2.0  # anchor-field weight (anchor text is high-precision)
_BM25F_TOPK = 20

# Shared BM25 scoring tail (k1=1.2, b=0.75), parameterized over the
# tokenized CTE names — keep in lockstep with operators/retrieval.py.
def _bm25_sql(ex: str, dl: str, stats: str, out: str, terms) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
        {out}_tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM {ex}
          WHERE token IN ({tlist})
          GROUP BY 1, 2
        ), {out}_df AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df FROM {ex}
          WHERE token IN ({tlist})
          GROUP BY token
        ), {out} AS (
          SELECT t.doc_id,
                 ROUND(5e-10 + SUM(
                     ln(1.0 + ((SELECT n_docs FROM {stats}) - d.df + 0.5)
                              / (d.df + 0.5))
                     * t.tf * {1.2 + 1.0}
                     / (t.tf + 1.2 * (1 - 0.75
                          + 0.75 * l.dl / (SELECT avgdl FROM {stats})))
                 ), 4) AS score
          FROM {out}_tf t JOIN {out}_df d USING (token)
               JOIN {dl} l USING (doc_id)
          GROUP BY t.doc_id
        )
    """


@register(
    "retrieval_bm25f_anchor",
    oracle=_EDGES_SQL
    + f"""
    , btoks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                         x -> x <> '') AS w
      FROM documents
    ), bex AS (
      SELECT doc_id, unnest(w) AS token FROM btoks
    ), bdl AS (
      SELECT doc_id, len(w) AS dl FROM btoks
    ), bstats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM bdl
    ), {_bm25_sql("bex", "bdl", "bstats", "bsc", _BM25F_TERMS)}
    , ae AS (
      SELECT TRY_CAST(regexp_extract(split_part(dst_url, '?', 1),
                 '/doc/([0-9]+)$', 1) AS BIGINT) AS doc_id,
             anchor, split_part(dst_url, '?', 1) AS db
      FROM edges
    ), tgt AS (
      SELECT doc_id, anchor FROM ae
      WHERE doc_id IS NOT NULL
        AND db = 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                 || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
    ), atoks_doc AS (
      SELECT doc_id,
             list_filter(string_split_regex(string_agg(anchor, ' '),
                         '[ \\t\\n\\r]+'), x -> x <> '') AS w
      FROM tgt GROUP BY doc_id
    ), aex AS (
      SELECT doc_id, unnest(w) AS token FROM atoks_doc
    ), adl AS (
      SELECT doc_id, len(w) AS dl FROM atoks_doc
    ), astats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM adl
    ), {_bm25_sql("aex", "adl", "astats", "asc_", _BM25F_TERMS)}
    , fused AS (
      SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
             COALESCE(b.score, 0.0) AS s_body,
             COALESCE(a.score, 0.0) AS s_anchor
      FROM bsc b FULL OUTER JOIN asc_ a ON a.doc_id = b.doc_id
    ), ranked AS (
      SELECT doc_id, s_body, s_anchor,
             ROUND(5e-10 + s_body + {_BM25F_WA} * s_anchor, 4) AS score,
             CAST(ROW_NUMBER() OVER (
                 ORDER BY ROUND(5e-10 + s_body + {_BM25F_WA} * s_anchor,
                                4) DESC, doc_id) AS INT) AS rank
      FROM fused
    )
    SELECT doc_id, s_body, s_anchor, score, rank
    FROM ranked WHERE rank <= {_BM25F_TOPK} ORDER BY rank
    """,
    doc="Fielded retrieval (BM25F-lite, the Lucene multi-field-boost "
    f"shape) for the query {_BM25F_TERMS}: body BM25 over the full "
    "document corpus PLUS anchor-text BM25 over the per-target "
    "aggregation of the link graph (how the web describes a page — "
    "'view'/'topic' hit only anchors, 'table' only bodies, so the "
    "fused ranking differs from either field alone), combined as "
    f"s_body + {_BM25F_WA}*s_anchor. Each field is scored over its own "
    "corpus statistics by the SAME certified operator "
    "(operators/retrieval.py:bm25_scores); per-field scores are "
    "4dp-biased-rounded BEFORE fusion and the rank binds on the "
    "rounded fused score with doc_id tiebreak, so cross-engine libm "
    "ulp noise cannot reorder. Anchor targets resolve by exact "
    "canonical-URL match (query variants stripped). Top-20 cut "
    "compiles to TakeOrderedAndProject; the anchor corpus is the "
    "bounded 64-doc universe, the body lane is the same "
    "postings-filtered shape as text_bm25_retrieval.",
)
def retrieval_bm25f_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from economic_data_etl_spark.operators.linkgraph import dst_base
    from economic_data_etl_spark.operators.retrieval import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    body = bm25_scores(docs, list(_BM25F_TERMS)).select(
        "doc_id", biased_round(F.col("score")).alias("s_body")
    )

    edges = _link_edges(spark, sf_dir)
    base = dst_base(F.col("dst_url"))
    cand = F.regexp_extract(base, r"/doc/([0-9]+)$", 1)
    cand_id = F.nullif(cand, F.lit("")).cast("long")
    targets = (
        edges.select(
            cand_id.alias("doc_id"), base.alias("db"), "anchor"
        )
        .filter(
            F.col("doc_id").isNotNull()
            & (
                F.col("db")
                == F.concat(
                    F.lit("https://site"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example.com/doc/"),
                    F.col("doc_id").cast("string"),
                )
            )
        )
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("anchor")).alias("text"))
    )
    anch = bm25_scores(targets, list(_BM25F_TERMS)).select(
        "doc_id", biased_round(F.col("score")).alias("s_anchor")
    )

    fused = (
        body.join(anch, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("s_body"), F.lit(0.0)).alias("s_body"),
            F.coalesce(F.col("s_anchor"), F.lit(0.0)).alias("s_anchor"),
        )
        .withColumn(
            "score",
            biased_round(
                F.col("s_body") + F.lit(_BM25F_WA) * F.col("s_anchor")
            ),
        )
    )
    rank = F.row_number().over(
        Window.orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return (
        fused.select(
            "doc_id", "s_body", "s_anchor", "score",
            rank.cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= _BM25F_TOPK)
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities over the harvested link graph.
# --------------------------------------------------------------------------
_HITS_ITERS = 3


def _hits_oracle_tail(iterations: int = _HITS_ITERS) -> str:
    """Unrolled-CTE DuckDB twin of operators/pagerank.py:hits — the
    identical UNNORMALIZED half-steps (hub_i = sum of auth over
    out-edges, auth_i = sum of hub over in-edges; absent rows are the
    zeros) with one L1 normalization at the end, generated per
    iteration so the SQL cannot drift from the loop."""
    sql = """
    , nodes AS (
        SELECT DISTINCT src_url AS node FROM edges
        UNION
        SELECT DISTINCT dst_url FROM edges
    ), a0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS auth FROM nodes)
    """
    prev = "a0"
    for i in range(1, iterations + 1):
        sql += f"""
    , h{i} AS (
        SELECT e.src_url AS node, SUM(a.auth) AS hub
        FROM edges e JOIN {prev} a ON a.node = e.dst_url
        GROUP BY 1
    ), a{i} AS (
        SELECT e.dst_url AS node, SUM(h.hub) AS auth
        FROM edges e JOIN h{i} h ON h.node = e.src_url
        GROUP BY 1
    )"""
        prev = f"a{i}"
    k = iterations
    return sql + f"""
    , hn AS (
        SELECT nd.node, COALESCE(h.hub, 0.0) AS hub
        FROM nodes nd LEFT JOIN h{k} h ON h.node = nd.node
    ), an AS (
        SELECT nd.node, COALESCE(a.auth, 0.0) AS auth
        FROM nodes nd LEFT JOIN a{k} a ON a.node = nd.node
    )
    SELECT hn.node,
           ROUND(5e-10 + hn.hub / (SELECT SUM(hub) FROM hn), 6) AS hub,
           ROUND(5e-10 + an.auth / (SELECT SUM(auth) FROM an), 6)
               AS auth,
           CAST(ROW_NUMBER() OVER (
               ORDER BY ROUND(5e-10 + an.auth
                              / (SELECT SUM(auth) FROM an), 6) DESC,
                        hn.node)
               AS INT) AS rank
    FROM hn JOIN an USING (node)
    ORDER BY rank
    LIMIT 20
    """


@register(
    "crawl_hits_links",
    oracle=_EDGES_SQL + _hits_oracle_tail(),
    doc="HITS hubs & authorities (Kleinberg) over the harvested link "
    "graph — the mutual-reinforcement companion to PageRank: a good "
    "hub links to good authorities, a good authority is linked from "
    "good hubs (nav targets are pure authorities, article pages are "
    f"the hubs). {_HITS_ITERS} iterations with L1 normalization per "
    "half-step (operators/pagerank.py:hits — exactly SQL-replayable "
    "without sqrt), top-20 by the 6dp-biased-rounded authority with "
    "node-URL tiebreak so cross-engine sum-order noise cannot "
    "reorder. Oracle = the identical half-steps unrolled as generated "
    "CTEs. Edges cached once; per-round shuffles move only the two "
    "score vectors.",
)
def crawl_hits_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from economic_data_etl_spark.operators.pagerank import hits

    edges = _link_edges(spark, sf_dir).select(
        F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
    )
    scored = hits(edges, iterations=_HITS_ITERS).select(
        "node",
        biased_round(F.col("hub"), 6).alias("hub"),
        biased_round(F.col("auth"), 6).alias("auth"),
    )
    rank = F.row_number().over(
        Window.orderBy(F.desc("auth"), F.asc("node"))
    )
    return (
        scored.select("node", "hub", "auth", rank.cast("int").alias("rank"))
        .orderBy("rank")
        .limit(20)
    )


# --------------------------------------------------------------------------
# TrustRank: personalized PageRank from a trusted seed set.
# --------------------------------------------------------------------------
_TRUST_TAIL = """
    , seeds AS (
        SELECT DISTINCT src_url AS node FROM edges
        WHERE src_doc_id % 7 = 0
    ), ns AS (
        SELECT COUNT(*) AS s FROM seeds
    ), deg AS (
        SELECT src_url AS src, COUNT(*) AS deg FROM edges GROUP BY 1
    ), nodes AS (
        SELECT node,
               CASE WHEN node IN (SELECT node FROM seeds)
                    THEN CAST(0.15 AS DOUBLE) / (SELECT s FROM ns)
                    ELSE CAST(0.0 AS DOUBLE) END AS tele
        FROM (
            SELECT DISTINCT src_url AS node FROM edges
            UNION
            SELECT DISTINCT dst_url FROM edges
        )
    ), r0 AS (
        SELECT node,
               CASE WHEN tele > 0
                    THEN CAST(1.0 AS DOUBLE) / (SELECT s FROM ns)
                    ELSE CAST(0.0 AS DOUBLE) END AS rank
        FROM nodes
    ), c1 AS (
        SELECT e.dst_url AS node, SUM(r.rank / d.deg) AS contrib
        FROM edges e
        JOIN deg d ON d.src = e.src_url
        JOIN r0 r ON r.node = e.src_url
        GROUP BY 1
    ), r1 AS (
        SELECT nd.node,
               nd.tele + CAST(0.85 AS DOUBLE) * COALESCE(c1.contrib, 0.0)
                   AS rank
        FROM nodes nd LEFT JOIN c1 ON c1.node = nd.node
    ), c2 AS (
        SELECT e.dst_url AS node, SUM(r.rank / d.deg) AS contrib
        FROM edges e
        JOIN deg d ON d.src = e.src_url
        JOIN r1 r ON r.node = e.src_url
        GROUP BY 1
    ), r2 AS (
        SELECT nd.node,
               nd.tele + CAST(0.85 AS DOUBLE) * COALESCE(c2.contrib, 0.0)
                   AS rank
        FROM nodes nd LEFT JOIN c2 ON c2.node = nd.node
    ), c3 AS (
        SELECT e.dst_url AS node, SUM(r.rank / d.deg) AS contrib
        FROM edges e
        JOIN deg d ON d.src = e.src_url
        JOIN r3src r ON r.node = e.src_url
        GROUP BY 1
    ), r3 AS (
        SELECT nd.node,
               nd.tele + CAST(0.85 AS DOUBLE) * COALESCE(c3.contrib, 0.0)
                   AS rank
        FROM nodes nd LEFT JOIN c3 ON c3.node = nd.node
    )
    SELECT node,
           ROUND(5e-10 + r3.rank * 1000, 4) AS trust_x1000,
           CAST(ROW_NUMBER() OVER (
               ORDER BY ROUND(5e-10 + r3.rank * 1000, 4) DESC, node)
               AS INT) AS rank
    FROM r3
    ORDER BY rank
    LIMIT 20
"""


@register(
    "crawl_trustrank_links",
    oracle=_EDGES_SQL + _TRUST_TAIL.replace("r3src", "r2"),
    doc="TrustRank (Gyongyi et al., VLDB 2004) — personalized PageRank "
    "whose teleport mass lands only on a TRUSTED seed set (here: the "
    "site0 host's pages): trust flows out of the seeds along real "
    "links, so pages with no in-path from the trusted neighborhood "
    "score ~0 — the standard link-spam demotion signal a crawl "
    "pipeline runs next to uniform PageRank. 3 iterations via "
    "operators/pagerank.py:pagerank(seeds=...) — per-node teleport "
    "joined once into the persisted node table, per-round cost "
    "identical to the uniform case. Top-20 by the rounded "
    "trust-x1000 score with URL tiebreak; oracle = the identical "
    "seeded iterations unrolled as CTEs.",
)
def crawl_trustrank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from economic_data_etl_spark.operators.pagerank import pagerank

    edges_full = _link_edges(spark, sf_dir)
    edges = edges_full.select(
        F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
    )
    seeds = (
        edges_full.filter(F.col("src_doc_id") % 7 == 0)
        .select("src_url")
        .distinct()
    )
    ranks = pagerank(
        edges, iterations=3, damping=0.85, symmetric=False, seeds=seeds
    )
    scored = ranks.select(
        "node",
        biased_round(F.col("rank") * 1000).alias("trust_x1000"),
    )
    rank = F.row_number().over(
        Window.orderBy(F.desc("trust_x1000"), F.asc("node"))
    )
    return (
        scored.select(
            "node", "trust_x1000", rank.cast("int").alias("rank")
        )
        .orderBy("rank")
        .limit(20)
    )
