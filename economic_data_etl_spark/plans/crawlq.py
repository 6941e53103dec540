"""Crawl-frontier URL curation queries.

The frontier-side half of the crawl ingestion stack (WARC container +
HTML extraction live in plans/compressq.py): canonicalize URL aliases,
collapse the frontier by canonical form, and enforce per-domain quotas —
the three passes between "list of discovered links" and "list of pages
worth fetching/keeping".

URLs are synthesized deterministically from doc_id with every alias
class the canonicalizer handles (scheme/host case, www, default ports,
duplicate + trailing slashes, tracking params, shuffled-order queries,
fragments); the SAME synthesis expression is written on both engines, so
the oracle checks the full regex chain of operators/urls.py value by
value rather than trusting it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from economic_data_etl_spark.operators import urls
from economic_data_etl_spark.plans.catalog import register
from economic_data_etl_spark.sources.tables import load_table

_DOMAIN_QUOTA = 3

# ---- shared deterministic URL fixture (both engines) ------------------


def _raw_url(d):
    """Messy-but-deterministic URL from a doc_id column (Spark side).
    The DuckDB twin is _RAW_URL_SQL — keep the two in lockstep."""
    scheme = (
        F.when(d % 4 == 0, "HTTP")
        .when(d % 4 == 1, "https")
        .when(d % 4 == 2, "HtTpS")
        .otherwise("http")
    )
    www = (
        F.when(d % 3 == 0, "WWW.").when(d % 3 == 1, "www.").otherwise("")
    )
    host = F.concat(
        F.lit("Site"), (d % 7).cast("string"), F.lit(".Example.COM")
    )
    port = (
        F.when((d % 5 == 0) & ((d % 4 == 0) | (d % 4 == 3)), ":80")
        .when(d % 5 == 0, ":443")
        .when(d % 5 == 1, ":8080")
        .otherwise("")
    )
    path = F.concat(
        F.lit("//docs//"),
        (d % 11).cast("string"),
        F.when(d % 2 == 0, "/").otherwise(""),
    )
    query = (
        F.when(d % 3 == 0, "?utm_source=feed&b=2&a=1")
        .when(
            d % 3 == 1,
            F.concat(F.lit("?a=1&b=2&fbclid=X"), d.cast("string")),
        )
        .otherwise("")
    )
    frag = F.when(
        d % 2 == 0, F.concat(F.lit("#sec"), (d % 4).cast("string"))
    ).otherwise("")
    return F.concat(
        scheme, F.lit("://"), www, host, port, path, query, frag
    )


_RAW_URL_SQL = """
    CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
                    WHEN 2 THEN 'HtTpS' ELSE 'http' END
    || '://'
    || CASE doc_id % 3 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' ELSE '' END
    || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
    || CASE WHEN doc_id % 5 = 0 THEN
                CASE WHEN doc_id % 4 IN (0, 3) THEN ':80' ELSE ':443' END
            WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END
    || '//docs//' || CAST(doc_id % 11 AS VARCHAR)
    || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
            WHEN doc_id % 3 = 1 THEN '?a=1&b=2&fbclid=X'
                                     || CAST(doc_id AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN '#sec' || CAST(doc_id % 4 AS VARCHAR)
            ELSE '' END
"""

# DuckDB twin of operators/urls.py:canonical_url, step for step. DuckDB
# regexp_replace is first-match-only without the 'g' flag; the anchored
# replacements don't care, the slash-collapse does.
_CANON_CTES = f"""
WITH raw AS (
  SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
), base AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             AS scheme,
         regexp_replace(regexp_replace(url, '#.*$', ''),
                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM raw
), hp AS (
  SELECT *, lower(regexp_extract(rest, '^[^/?#]*', 0)) AS hostport,
         regexp_replace(rest, '^[^/?#]*', '') AS pathq
  FROM base
), parts AS (
  SELECT *,
         regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''),
                        '^www\\.', '') AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
         regexp_replace(regexp_extract(pathq, '^[^?]*', 0),
                        '/+', '/', 'g') AS path0,
         CASE WHEN pathq LIKE '%?%'
              THEN regexp_extract(pathq, '\\?(.*)$', 1) ELSE '' END AS q
  FROM hp
), canon AS (
  SELECT doc_id, url, host,
         CASE WHEN p1 <> '/' AND p1 LIKE '%/'
              THEN left(p1, length(p1) - 1) ELSE p1 END AS path,
         scheme || '://' || host
         || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                      OR (scheme = 'https' AND port = '443')
                 THEN '' ELSE ':' || port END
         || CASE WHEN p1 <> '/' AND p1 LIKE '%/'
                 THEN left(p1, length(p1) - 1) ELSE p1 END
         || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical
  FROM (SELECT *,
               CASE WHEN path0 = '' THEN '/' ELSE path0 END AS p1,
               -- COALESCE: DuckDB's array_to_string([]) is NULL where
               -- Spark's array_join([]) is '' (same divergence the
               -- substring-removal oracle normalizes).
               COALESCE(array_to_string(list_sort(list_filter(
                   string_split(q, '&'),
                   p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[a-z0-9]+|fbclid|gclid|ref)='))), '&'),
                   '') AS qs
        FROM parts)
)"""


def _canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    url = _raw_url(F.col("doc_id"))
    return docs.select(
        "doc_id",
        "n_chars",
        url.alias("url"),
        urls.url_host(url).alias("host"),
        urls.url_path(url).alias("path"),
        urls.canonical_url(url).alias("canonical"),
    )


@register(
    "crawl_url_canonicalize",
    oracle=_CANON_CTES
    + """
SELECT doc_id, url, canonical FROM canon ORDER BY doc_id
""",
    doc="URL canonicalization (operators/urls.py): scheme/host "
    "lower-casing, www and default-port stripping, slash collapsing, "
    "tracking-param removal, query-param sorting, fragment dropping — "
    "each step a built-in regexp/array expression (whole-stage codegen, "
    "no UDF, runs inside the scan projection) with the identical regex "
    "chain replayed by the DuckDB oracle value for value.",
)
def crawl_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _canonicalized(spark, sf_dir)
        .select("doc_id", "url", "canonical")
        .orderBy("doc_id")
    )


@register(
    "crawl_url_dedup",
    oracle=_CANON_CTES
    + """
SELECT canonical,
       CAST(COUNT(*) AS BIGINT) AS n_aliases,
       CAST(MIN(doc_id) AS BIGINT) AS rep_doc
FROM canon
GROUP BY canonical
HAVING COUNT(*) > 1
ORDER BY canonical
""",
    doc="Frontier dedup by canonical URL: alias groups (>1 spelling of "
    "the same page) with the smallest doc_id as the kept "
    "representative. One hash-aggregate on the canonical form; at "
    "frontier scale this is the groupBy the canonicalizer exists to "
    "make correct.",
)
def crawl_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _canonicalized(spark, sf_dir)
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_aliases"),
            F.min("doc_id").alias("rep_doc"),
        )
        .filter(F.col("n_aliases") > 1)
        .orderBy("canonical")
    )


@register(
    "crawl_domain_quota",
    oracle=_CANON_CTES
    + f"""
SELECT doc_id, host, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT c.doc_id, c.host,
         ROW_NUMBER() OVER (PARTITION BY c.host
                            ORDER BY COALESCE(d.n_chars, 0) DESC,
                                     c.doc_id) AS rk
  FROM canon c JOIN documents d USING (doc_id)
)
WHERE rk <= {_DOMAIN_QUOTA}
ORDER BY host, rk
""",
    doc=f"Per-domain quota (top {_DOMAIN_QUOTA} docs per canonical host "
    "by size, deterministic doc_id tie-break): the crawl-politeness / "
    "source-diversity cap a corpus applies before fetching or keeping. "
    "One window shuffle partitioned by host; at 100 TB hosts are the "
    "natural partition key and heavy hosts are exactly what the quota "
    "truncates.",
)
def crawl_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = _canonicalized(spark, sf_dir).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("host").orderBy(
                F.coalesce(F.col("n_chars"), F.lit(0)).desc(),
                F.col("doc_id"),
            )
        ),
    )
    return (
        ranked.filter(F.col("rk") <= _DOMAIN_QUOTA)
        .select("doc_id", "host", F.col("rk").cast("long").alias("rk"))
        .orderBy("host", "rk")
    )


_FRONTIER_SPLIT = 250


@register(
    "crawl_incremental_frontier",
    oracle=_CANON_CTES
    + f"""
SELECT canonical, CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM canon
WHERE doc_id >= {_FRONTIER_SPLIT}
  AND canonical NOT IN (SELECT canonical FROM canon
                        WHERE doc_id < {_FRONTIER_SPLIT})
GROUP BY canonical
ORDER BY canonical
""",
    doc="INCREMENTAL crawl frontier: the batch (doc_id >= "
    f"{_FRONTIER_SPLIT}) is canonicalized and deduped against the "
    "standing seen-set (canonicals below the split) — only never-seen "
    "canonicals are emitted, batch-local aliases collapse to their "
    "first occurrence. Per-batch cost O(batch): one groupBy + one "
    "anti-join on the canonical key; the index never self-joins.",
)
def crawl_incremental_frontier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    keyed = _canonicalized(spark, sf_dir).select("doc_id", "canonical")
    index = (
        keyed.filter(F.col("doc_id") < _FRONTIER_SPLIT)
        .select("canonical")
        .distinct()
    )
    batch = keyed.filter(F.col("doc_id") >= _FRONTIER_SPLIT)
    firsts = batch.groupBy("canonical").agg(
        F.min("doc_id").alias("first_doc")
    )
    return (
        firsts.join(index, "canonical", "left_anti")
        .select("canonical", "first_doc")
        .orderBy("canonical")
    )


# ---- robots.txt (REP) politeness gate ---------------------------------

# One robots.txt body per host; the shared body exercises the parser
# (foreign-agent group skipped, multi-agent group run, comments, unknown
# directives, empty Disallow = allow-all fallback group) and the REP
# precedence ladder over the fixture's /docs/N paths:
#   /docs/1  -> blocked  (Disallow /docs/1 — and it PREFIX-matches
#   /docs/10 as well, which the longer Allow /docs/10 then overrides)
#   /docs/3  -> blocked  (wildcard Disallow /*/3$)
#   /docs/7  -> allowed  (Allow/Disallow tie at length 7: allow wins)
#   site0 additionally blocks /docs/5 via a second merged group.
_ROBOTS_SHARED = """\
# corpus crawler policy
User-agent: badbot
Disallow: /

User-agent: spark-graft
User-agent: otherbot
Disallow: /docs/1
Allow: /docs/10
Disallow: /*/3$
Allow: /docs/7
Disallow: /docs/7
Crawl-delay: 5
Sitemap: http://example.com/sitemap.xml

User-agent: *
Disallow:
"""

_ROBOTS_BODIES = {
    f"site{k}.example.com": _ROBOTS_SHARED
    + ("\nUser-agent: spark-graft\nDisallow: /docs/5\n" if k == 0 else "")
    for k in range(7)
}

# Parse ONCE at import; the same compiled rows feed the Spark rule
# table and the oracle's inline VALUES, so both engines evaluate the
# identical (pattern, regex, length) set — the parser itself is
# unit-covered in tests/test_robots.py.
from economic_data_etl_spark.operators.robots import (  # noqa: E402
    parse_robots,
    rule_to_regex,
)

_RULE_ROWS = [
    (host, rule_type, pattern, rule_to_regex(pattern), len(pattern))
    for host, body in sorted(_ROBOTS_BODIES.items())
    for rule_type, pattern in parse_robots(body)
]
assert all(
    "'" not in p and "\\" not in rx for _, _, p, rx, _ in _RULE_ROWS
), "fixture rules must inline into SQL literals unescaped"

_RULES_VALUES = ",\n    ".join(
    f"('{h}', '{t}', '{p}', '{rx}', {ln})"
    for h, t, p, rx, ln in _RULE_ROWS
)


@register(
    "crawl_robots_filter",
    oracle=_CANON_CTES
    + f"""
, rules(host, rule_type, pattern, regex, rule_len) AS (
  VALUES {_RULES_VALUES}
), m AS (
  SELECT c.doc_id, r.rule_type, r.pattern, r.rule_len
  FROM canon c JOIN rules r ON r.host = c.host
  WHERE regexp_matches(c.path, r.regex)
), w AS (
  SELECT doc_id, rule_type, pattern,
         ROW_NUMBER() OVER (
             PARTITION BY doc_id
             ORDER BY rule_len DESC,
                      (rule_type = 'allow') DESC,
                      pattern DESC) AS rn
  FROM m
)
SELECT c.doc_id, c.host, c.path,
       COALESCE(w.rule_type = 'allow', TRUE) AS allowed,
       COALESCE(w.pattern, 'default') AS rule
FROM canon c
LEFT JOIN (SELECT * FROM w WHERE rn = 1) w USING (doc_id)
ORDER BY c.doc_id
""",
    doc="Robots Exclusion Protocol politeness gate (operators/"
    "robots.py, RFC 9309): per-host robots.txt bodies are parsed "
    "driver-side (crawl config, not corpus data — agent-group "
    "selection, comments, empty-Disallow handled), the compiled rule "
    "table broadcasts, and every frontier URL gets the REP verdict via "
    "anchored-regex prefix match + ONE max_by over (pattern length, "
    "allow-wins-ties). The oracle replays matching and the full "
    "precedence ladder on the identical inlined rules; the fixture "
    "exercises prefix shadowing (/docs/1 vs /docs/10), wildcard+anchor "
    "(/*/3$) and the exact-length tie (allow wins).",
)
def crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import robots

    rules = spark.createDataFrame(
        _RULE_ROWS,
        "host string, rule_type string, pattern string, "
        "regex string, rule_len int",
    )
    pages = _canonicalized(spark, sf_dir).select("doc_id", "host", "path")
    out = robots.robots_filter(pages, rules)
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# End-to-end web-corpus composition: the crawl twin of
# training_corpus_prep, chaining the whole certified ingestion stack.
# ---------------------------------------------------------------------------
_WEB_DOCS_PER_FILE = 8
_WEB_TAU = 0.73  # keeps ~2/3 of extracted mains (probed 2026-08-16)
_WEB_ROBOTS = "User-agent: *\nDisallow: /private/\n"


def _web_raw_url(did: int) -> str:
    """Messy-but-deterministic crawl URL for one doc (Python side —
    runs inside the WARC writer lane). Every 5th doc aliases the
    previous doc's URL (frontier-dedup fodder); every 7th base path is
    robots-disallowed; host case, default port, tracking params and
    fragment exercise the canonicalizer. The ORACLE replays only the
    funnel semantics (p = base id, p % 7 = 3 disallowed) because the
    alias classes themselves are already value-certified by
    crawl_url_canonicalize."""
    p = did - 1 if did % 5 == 4 else did
    seg = "private" if p % 7 == 3 else "doc"
    return (
        f"HTTPS://WWW.Example.COM:443/{seg}/{p}"
        f"?utm_source=feed&ref=rss#sec{did}"
    )


def _web_prep_oracle() -> str:
    from economic_data_etl_spark.operators.html import (
        CONST_PARA,
        PROSE_PREFIX,
    )

    pfx = PROSE_PREFIX.replace("'", "''")
    cst = CONST_PARA.replace("'", "''")
    return f"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 5 = 4 THEN doc_id - 1 ELSE doc_id END AS p
  FROM documents
), main AS (
  SELECT doc_id, p, (p % 7 <> 3) AS allowed,
         CASE WHEN trim(text) IS NULL OR trim(text) = ''
              THEN '{pfx}'
              ELSE '{pfx}' || ' ' ||
                   trim(regexp_replace(text, '[ \\t\\r\\n]+', ' ', 'g'))
         END || chr(10) || '{cst}' AS m
  FROM base
), uniqd AS (
  SELECT doc_id, m FROM (
    SELECT doc_id, m,
           ROW_NUMBER() OVER (PARTITION BY p ORDER BY doc_id) AS rn
    FROM main WHERE allowed
  ) WHERE rn = 1
), q AS (
  SELECT doc_id, m,
         list_filter(string_split_regex(m, '\\s+'), x -> x <> '') AS qw
  FROM uniqd
), kept AS (
  SELECT doc_id, m FROM (
    SELECT doc_id, m,
           ROUND(5e-10
             + 0.5 * (CASE WHEN len(qw) > 0
                           THEN len(list_distinct(qw)) * 1.0 / len(qw)
                           ELSE 0.0 END)
             + 0.3 * LEAST(len(qw) / 100.0, 1.0)
             + 0.2 * (1.0 - CASE WHEN length(m) > 0
                                 THEN length(regexp_replace(
                                          m, '[a-zA-Z0-9\\s]', '', 'g'))
                                      * 1.0 / length(m)
                                 ELSE 0.0 END), 4) AS s
    FROM q
  ) WHERE s >= {_WEB_TAU}
), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(m, '[ \\t\\n\\r]+'),
                     x -> x <> '') AS w
  FROM kept
), g0 AS (
  SELECT doc_id, w,
         unnest(CASE WHEN len(w) >= 20
                     THEN generate_series(1, len(w) - 19) ELSE [] END) AS i
  FROM toks
), grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+19], ' ') AS gram
  FROM g0
), ranked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM grams
), dup AS (
  SELECT doc_id, pos, pos + 20 AS e FROM ranked WHERE rn > 1
), marked AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos <= MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS new_span
  FROM dup
), spans AS (
  SELECT doc_id,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id,
         pos, e
  FROM marked
), agg AS (
  SELECT doc_id, span_id, MIN(pos) AS st, MAX(e) AS e
  FROM spans GROUP BY 1, 2
), dt AS (
  SELECT doc_id, SUM(e - st) AS dup_tokens FROM agg GROUP BY doc_id
), clean AS (
  SELECT t.doc_id, len(t.w) - COALESCE(d.dup_tokens, 0) AS n_clean
  FROM toks t LEFT JOIN dt d USING (doc_id)
), chunks AS (
  SELECT n_clean,
         CASE WHEN n_clean <= 32 THEN 1
              ELSE 1 + CAST(FLOOR((n_clean - 32 + 23) / 24) AS BIGINT)
         END AS n_chunks,
         CASE WHEN n_clean >= 32
              THEN CAST(FLOOR((n_clean - 32) / 24) AS BIGINT) + 1
              ELSE 0 END AS full_chunks
  FROM clean
)
SELECT * FROM (
  SELECT '1_crawl_records' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(NULL AS BIGINT) AS n_tokens FROM documents
  UNION ALL
  SELECT '2_robots_allowed', CAST(COUNT(*) AS BIGINT),
         CAST(NULL AS BIGINT) FROM main WHERE allowed
  UNION ALL
  SELECT '3_frontier_unique', CAST(COUNT(*) AS BIGINT),
         CAST(NULL AS BIGINT) FROM uniqd
  UNION ALL
  SELECT '4_quality_kept', CAST(COUNT(*) AS BIGINT),
         CAST(NULL AS BIGINT) FROM kept
  UNION ALL
  SELECT '5_substring_clean', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_clean) AS BIGINT) FROM clean
  UNION ALL
  SELECT '6_chunks', CAST(SUM(n_chunks) AS BIGINT),
         CAST(NULL AS BIGINT) FROM chunks
  UNION ALL
  SELECT '7_full_chunks', CAST(SUM(full_chunks) AS BIGINT),
         CAST(NULL AS BIGINT) FROM chunks
) ORDER BY stage
"""


@register(
    "training_web_corpus_prep",
    oracle=_web_prep_oracle(),
    doc="END-TO-END web-corpus composition — the crawl twin of "
    "training_corpus_prep, chaining the entire certified ingestion "
    "stack in one declarative plan: documents are packed into WARC "
    f"archives ({_WEB_DOCS_PER_FILE}/file, Content-Length-sliced) "
    "under messy deterministic URLs, parsed back, and their article "
    "pages run through MAIN-CONTENT extraction (jusText-style "
    "boilerplate removal, decoy chrome planted); then URL "
    "canonicalization (case/port/www/tracking aliases), the RFC-9309 "
    "robots gate (Disallow: /private/), frontier dedup by canonical "
    "URL (keep min doc_id), the quality gate (biased-rounded score >= "
    f"{_WEB_TAU}), exact substring dedup (k=20 — which also excises "
    "the shared article boilerplate, exactly what it exists for), and "
    "the closed-form chunk budget. Output: the per-stage funnel a "
    "crawl-data team reads before a run; the oracle replays every "
    "stage in SQL. Scale shape: the heavy decode runs once in an "
    "Arrow lane behind a lazy checkpoint, all gates are "
    "broadcast/banded, the only corpus-keyed shuffles are the "
    "frontier dedup (WindowGroupLimit) and the gram-keyed substring "
    "pass.",
)
def training_web_corpus_prep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    from economic_data_etl_spark.functions import text as T
    from economic_data_etl_spark.operators import substring
    from economic_data_etl_spark.operators.robots import (
        compile_rules,
        robots_filter,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("doc_id") / _WEB_DOCS_PER_FILE).cast("int").alias(
            "file_id"
        ),
    )

    def ingest(pdf_b: pd.DataFrame) -> pd.DataFrame:
        from economic_data_etl_spark.operators.html import (
            html_main_content,
            write_article_page,
        )
        from economic_data_etl_spark.operators.warc import (
            read_warc,
            write_warc,
        )

        g = pdf_b.sort_values("doc_id")
        dids = list(g["doc_id"])
        archive = write_warc(
            [
                (
                    _web_raw_url(int(did)),
                    write_article_page(f"Doc {did}", text or "").encode(
                        "utf-8"
                    ),
                )
                for did, text in zip(dids, g["text"])
            ]
        )
        rows = []
        for did, rec in zip(dids, read_warc(archive)):
            rows.append(
                {
                    "doc_id": did,
                    "url": rec["headers"]["WARC-Target-URI"],
                    "main": html_main_content(
                        rec["payload"].decode("utf-8")
                    ),
                }
            )
        return pd.DataFrame(rows)

    # the expensive Arrow lane (WARC build/parse + block classifier)
    # runs ONCE; every funnel branch below reads the checkpointed
    # (doc_id, url, main) rows — the extracted corpus a real pipeline
    # would persist at this point anyway. The explicit repartition by
    # the group key pins the lane's parallelism to the executor count
    # (the multimodal decode lanes' idiom): AQE's partition coalescing
    # sizes by BYTES, and this stage's MBs of shuffle coalesce to ONE
    # partition — serializing minutes of per-row Python onto one core
    # (guide §2: AQE coalescing is right for byte-bound stages, wrong
    # for CPU-bound Python lanes; measured 5.3 s -> 1.6 s at sf0.1).
    parsed = (
        docs.repartition(
            spark.sparkContext.defaultParallelism, "file_id"
        )
        .groupBy("file_id")
        .applyInPandas(ingest, "doc_id long, url string, main string")
        .localCheckpoint(eager=False)
    )
    u = F.col("url")
    canon = parsed.select(
        "doc_id",
        "main",
        urls.canonical_url(u).alias("curl"),
        urls.url_host(u).alias("host"),
        urls.url_path(u).alias("path"),
    )
    rules = compile_rules(spark, {"example.com": _WEB_ROBOTS})
    # The funnel gates (robots verdict, frontier rank, quality) are
    # computed ONCE into flag columns behind one lazy checkpoint:
    # stages 2-4 and the substring stage previously each re-ran the
    # canon -> robots -> window -> quality lineage per aggregate branch
    # (no CSE across the union's subtrees — 4x the window shuffle and
    # the canonicalization regex chain; guide §2.4/§5). The per-stage
    # sets are unchanged: stage 2 = all flagged rows, stage 3 = rn==1,
    # stage 4 = rn==1 AND quality >= tau.
    flagged = (
        robots_filter(canon, rules)
        .filter(F.col("allowed"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("curl").orderBy("doc_id")
            ),
        )
        .withColumn(
            "q_ok", T.quality_score(F.col("main")) >= _WEB_TAU
        )
        .select("doc_id", "main", "rn", "q_ok")
        .localCheckpoint(eager=False)
    )
    allowed = flagged
    uniq = flagged.filter(F.col("rn") == 1)
    kept = uniq.filter(F.col("q_ok")).select("doc_id", "main")
    cleaned = substring.remove_duplicate_spans(
        kept, "doc_id", "main", 20
    ).localCheckpoint(eager=False)
    n = F.col("n_clean_tokens")
    n_chunks = (
        F.when(n <= 32, F.lit(1))
        .otherwise(F.lit(1) + F.floor((n - 32 + 23) / 24))
        .cast("long")
    )
    full_chunks = (
        F.when(n >= 32, F.floor((n - 32) / 24) + 1)
        .otherwise(F.lit(0))
        .cast("long")
    )

    def stage(name: str, df: DataFrame, tok=None) -> DataFrame:
        toks = (
            F.sum(tok).cast("long")
            if tok is not None
            else F.lit(None).cast("long")
        )
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            toks.alias("n_tokens"),
        ).select(F.lit(name).alias("stage"), "n_rows", "n_tokens")

    def chunk_stage(name: str, expr) -> DataFrame:
        return cleaned.agg(
            F.sum(expr).cast("long").alias("n_rows"),
            F.lit(None).cast("long").alias("n_tokens"),
        ).select(F.lit(name).alias("stage"), "n_rows", "n_tokens")

    return (
        stage("1_crawl_records", parsed)
        .unionByName(stage("2_robots_allowed", allowed))
        .unionByName(stage("3_frontier_unique", uniq))
        .unionByName(stage("4_quality_kept", kept))
        .unionByName(stage("5_substring_clean", cleaned, n))
        .unionByName(chunk_stage("6_chunks", n_chunks))
        .unionByName(chunk_stage("7_full_chunks", full_chunks))
        .orderBy("stage")
    )
