"""Training-data pipeline queries: splits, mixtures, sequence packing.

The split/mix assignments are pure md5 functions of the row key (see
operators/training.py), so the DuckDB oracles replay the EXACT formula —
these are full value-checked queries, not rows-only: a one-bucket drift
between engines would flip a document's split and fail the hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.operators import training
from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
_MIX_RATES = {"en": 0.25, "fr": 0.5, "es": 0.75}  # zh/de keep default 1.0

_BUCKET_SQL = (
    "('0x' || substring(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 4))"
    "::BIGINT"
)


@register(
    "train_val_test_split",
    oracle=f"""
        WITH b AS (
            SELECT n_chars,
                   {_BUCKET_SQL.format(salt="split-v1", key="doc_id")}
                       AS bucket
            FROM documents
        )
        SELECT CASE WHEN bucket < {int(0.8 * 65536)} THEN 'train'
                    WHEN bucket < {int(0.9 * 65536)} THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM b
        GROUP BY 1
        ORDER BY split
    """,
    doc="Deterministic leakage-safe train/val/test assignment: 16-bit "
    "md5 bucket of the doc key against cumulative fraction thresholds. "
    "Stable under repartitioning and engine-portable (the oracle replays "
    "the identical md5 formula). One scan, one small agg shuffle.",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        training.hash_split(docs, "doc_id", _SPLITS)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@register(
    "dataset_mix_by_lang",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE {_BUCKET_SQL.format(salt="mix-v1", key="doc_id")} <
              CAST((CASE lang WHEN 'en' THEN 0.25
                              WHEN 'fr' THEN 0.5
                              WHEN 'es' THEN 0.75
                              ELSE 1.0 END) * 65536 AS BIGINT)
        GROUP BY lang
        ORDER BY lang
    """,
    doc="Training-mixture rebalance: per-language deterministic "
    "downsampling (keep 25% of en, 50% of fr, 75% of es, all zh/de) via "
    "md5 buckets — monotone in the rate, so raising a language's share "
    "only adds documents. Scalar filter in the scan stage; no shuffle "
    "before the final small agg.",
)
def dataset_mix_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        training.weighted_mix(docs, "lang", _MIX_RATES, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "stratified_quota_sample",
    oracle=f"""
        WITH ranked AS (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY md5('sample-v1' || CAST(c_custkey AS VARCHAR)),
                                c_custkey
                   ) AS rn
            FROM customer
        )
        SELECT c_mktsegment,
               COUNT(*) AS n_sampled,
               ROUND(5e-10 + SUM(c_acctbal), 4) AS sampled_acctbal
        FROM ranked WHERE rn <= 20
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    doc="Deterministic stratified QUOTA sampling: exactly 20 customers "
    "per market segment, chosen by ranking each stratum on the md5 of "
    "the key — reproducible across engines/reruns/layouts, unlike "
    "sampleBy (per-partition seeded, approximate counts). One window "
    "shuffle on the stratum; at scale WindowGroupLimit stops each "
    "partition after 20 rows.",
)
def stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.concat(F.lit("sample-v1"), F.col("c_custkey").cast("string"))),
        "c_custkey",
    )
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            biased_round(F.sum("c_acctbal")).alias("sampled_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "sequence_packing_stats",
    oracle=None,
    doc="Greedy shard-local FFD sequence packing of documents into "
    "2048-char training examples (operators/training.py:pack_sequences); "
    "per-shard pack counts and fill. Rows-only check: first-fit-"
    "decreasing is not SQL-expressible; invariants (every doc packed "
    "once, budget respected, fill >= 70%) are pinned in "
    "tests/test_training.py.",
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    packs = training.pack_sequences(
        docs, "doc_id", "n_chars", budget=2048, num_shards=16
    )
    return (
        packs.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_items").alias("n_docs"),
            F.sum("total_size").alias("total_chars"),
            biased_round(F.avg("fill")).alias("avg_fill"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Quality-ranked token-budget mixture.
# --------------------------------------------------------------------------
@register(
    "dataset_token_budget_mix",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, lang, text,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
            FROM documents
        ), m AS (
            SELECT doc_id, lang,
                   len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                       AS toks,
                   ROUND(5e-10
                       + 0.5 * (CASE WHEN len(w) > 0
                                     THEN len(list_distinct(w)) * 1.0 / len(w)
                                     ELSE 0.0 END)
                       + 0.3 * LEAST(len(w) / 100.0, 1.0)
                       + 0.2 * (1.0 - CASE WHEN length(text) > 0
                                           THEN length(regexp_replace(
                                               text, '[a-zA-Z0-9\s]', '', 'g'))
                                                * 1.0 / length(text)
                                           ELSE 0.0 END), 4) AS q
            FROM toks
        ), c AS (
            SELECT lang, doc_id, toks, q,
                   SUM(toks) OVER (
                       PARTITION BY lang ORDER BY q DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM m
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
               CAST(SUM(toks) AS BIGINT) AS tokens_kept,
               MIN(q) AS min_quality_kept
        FROM c
        WHERE cum <= 2000
        GROUP BY lang
        ORDER BY lang
    """,
    doc="Token-budget mixture construction: per language, take documents "
    "best-quality-first until a 2000-BPE-token budget fills — greedy "
    "curriculum selection as ONE window pass (cumulative token sum over "
    "quality-ranked docs), no iteration and no driver loop. Ordering "
    "ties break on doc_id and quality_score is already display-rounded, "
    "so the cut point is engine-independent.",
)
def dataset_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from economic_data_etl_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        T.bpe_token_count(F.col("text")).alias("toks"),
        T.quality_score(F.col("text")).alias("q"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("q").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum", F.sum("toks").over(w))
        .filter(F.col("cum") <= 2000)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("toks").alias("tokens_kept"),
            F.min("q").alias("min_quality_kept"),
        )
        .orderBy("lang")
    )


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 16


@register(
    "training_chunk_windows",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id, source,
                   len(list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '')) AS n_tok
            FROM documents
        ), chunks AS (
            SELECT doc_id, source, n_tok,
                   CASE WHEN n_tok = 0 THEN 0
                        WHEN n_tok <= {_CHUNK_SIZE} THEN 1
                        ELSE CAST(CEIL((n_tok - {_CHUNK_SIZE})
                                       * 1.0 / {_CHUNK_STRIDE}) AS BIGINT) + 1
                   END AS n_chunks
            FROM toks
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
               ROUND(5e-10 + SUM(n_chunks * 1.0 * {_CHUNK_SIZE})
                     / NULLIF(SUM(n_tok), 0), 4) AS duplication_factor
        FROM chunks
        GROUP BY source
        ORDER BY source
    """,
    doc=f"Sliding-window chunking plan (size {_CHUNK_SIZE}, stride "
    f"{_CHUNK_STRIDE}): how many training sequences each source yields "
    "and the token-duplication factor the overlap costs — the "
    "accounting every context-window pipeline needs before "
    "materializing chunks. Chunk counts are closed-form per doc "
    "(ceil((n-size)/stride)+1), so the query is one scan + one "
    "aggregation: no chunk rows are materialized until a downstream "
    "writer needs them, at which point the same formula drives a "
    "sequence()+explode that scales linearly with output tokens.",
)
def training_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tok = F.size(
        F.filter(
            F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")
        )
    ).cast("long")
    n_chunks = (
        F.when(F.col("n_tok") == 0, F.lit(0).cast("long"))
        .when(F.col("n_tok") <= _CHUNK_SIZE, F.lit(1).cast("long"))
        .otherwise(
            F.ceil(
                (F.col("n_tok") - _CHUNK_SIZE) / F.lit(float(_CHUNK_STRIDE))
            ).cast("long")
            + 1
        )
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", n_tok.alias("n_tok"))
        .withColumn("n_chunks", n_chunks)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chunks").alias("total_chunks"),
            biased_round(
                F.sum(F.col("n_chunks") * F.lit(float(_CHUNK_SIZE)))
                / F.nullif(F.sum("n_tok"), F.lit(0))
            ).alias("duplication_factor"),
        )
        .orderBy("source")
    )


_WSAMPLE_K = 50


@register(
    "curation_weighted_sample",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   LN(({_BUCKET_SQL.format(salt="wsample-v1", key="doc_id")}
                       + 0.5) / 65536.0) / n_chars AS rank_key
            FROM documents
            WHERE n_chars > 0
        )
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
               ROUND(5e-10 + rank_key, 4) AS rank_key
        FROM keyed
        ORDER BY keyed.rank_key DESC, doc_id
        LIMIT {_WSAMPLE_K}
    """,
    doc=f"Deterministic weighted sampling WITHOUT replacement "
    f"(Efraimidis-Spirakis A-Res, top-{_WSAMPLE_K}): each doc gets "
    "rank key ln(u)/w with u a uniform md5 bucket of (salt || doc_id) "
    "and w = n_chars, and the k largest keys are the sample — "
    "inclusion probability proportional to weight, no replacement, "
    "reproducible across engines because u comes from the same "
    "portable md5 formula the split/mix operators use. One map "
    "expression + a top-k (TakeOrderedAndProject — per-partition "
    "heads merge on the driver, no global sort) at any scale.",
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        training.hash_bucket(F.col("doc_id"), "wsample-v1") + F.lit(0.5)
    ) / F.lit(65536.0)
    rank_key = F.log(u) / F.col("n_chars")
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").alias("weight"),
            rank_key.alias("__rk"),
        )
        .orderBy(F.desc("__rk"), "doc_id")
        .limit(_WSAMPLE_K)
        .select(
            "doc_id",
            "source",
            "weight",
            biased_round(F.col("__rk")).alias("rank_key"),
        )
    )


# --------------------------------------------------------------------------
# Document chunking (fixed-token windows with overlap) + chunk-level dedup.
# --------------------------------------------------------------------------
_CHUNK, _OVERLAP = 32, 8
_STRIDE = _CHUNK - _OVERLAP

_CHUNK_CTES = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                     x -> x <> '') AS w
  FROM documents
), meta AS (
  SELECT doc_id, source, w,
         CASE WHEN len(w) <= {_CHUNK} THEN 1
              ELSE 1 + CAST(FLOOR((len(w) - {_CHUNK} + {_STRIDE} - 1)
                                  / {_STRIDE}) AS INT)
         END AS n_chunks
  FROM toks
), ex AS (
  SELECT doc_id, source, w,
         unnest(generate_series(0, n_chunks - 1)) AS k
  FROM meta
), chunks AS (
  SELECT doc_id, source,
         CAST(k AS INT) AS chunk_id,
         CAST(k * {_STRIDE} AS BIGINT) AS chunk_start,
         w[k*{_STRIDE}+1 : k*{_STRIDE}+{_CHUNK}] AS c
  FROM ex
)
"""


@register(
    "training_chunk_documents",
    oracle=_CHUNK_CTES
    + """
SELECT doc_id, chunk_id, chunk_start,
       CAST(len(c) AS BIGINT) AS n_chunk_tokens,
       md5(COALESCE(array_to_string(c, ' '), '')) AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_id
""",
    doc=f"Fixed-token document chunking ({_CHUNK} tokens, {_OVERLAP} "
    "overlap — the training-prep/retrieval splitter): every token "
    "covered, consecutive chunks share exactly the overlap, trailing "
    "chunk may be short. Entirely narrow (materialized token array + "
    "per-row sequence + posexplode), NO shuffle — scan-bound at any "
    "scale. Chunk text value-pinned via md5 on both engines.",
)
def training_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = training.chunk_documents(
        docs, "doc_id", "text", chunk_tokens=_CHUNK, overlap=_OVERLAP
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


@register(
    "dedup_chunk_exact",
    oracle=_CHUNK_CTES
    + f"""
, full_chunks AS (
  SELECT source, array_to_string(c, ' ') AS ct
  FROM chunks WHERE len(c) = {_CHUNK}
)
SELECT source,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT ct) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT ct) AS BIGINT) AS n_dups
FROM full_chunks
GROUP BY source
ORDER BY source
""",
    doc="Chunk-level exact dedup accounting (chunking composed with "
    "hash-groupBy dedup): per source, duplicate full-size chunks — the "
    "paragraph-granularity dedup lane between doc-level exact dedup "
    "and substring spans.",
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = training.chunk_documents(
        docs, "doc_id", "text", chunk_tokens=_CHUNK, overlap=_OVERLAP
    ).filter(F.col("n_chunk_tokens") == _CHUNK)
    with_src = chunks.join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return (
        with_src.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("chunk_text").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct("chunk_text")).alias(
                "n_dups"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# End-to-end corpus prep: quality gate -> substring dedup -> chunk budget.
# --------------------------------------------------------------------------
_PREP_TAU = 0.6  # keeps ~70% of docs at every SF (probed 2026-08-15)


@register(
    "training_corpus_prep",
    oracle=f"""
WITH q AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS qw
  FROM documents
), scored AS (
  SELECT doc_id, source, text,
         ROUND(5e-10
           + 0.5 * (CASE WHEN len(qw) > 0
                         THEN len(list_distinct(qw)) * 1.0 / len(qw)
                         ELSE 0.0 END)
           + 0.3 * LEAST(len(qw) / 100.0, 1.0)
           + 0.2 * (1.0 - CASE WHEN length(text) > 0
                               THEN length(regexp_replace(
                                        text, '[a-zA-Z0-9\\s]', '', 'g'))
                                    * 1.0 / length(text)
                               ELSE 0.0 END), 4) AS s
  FROM q
), kept AS (
  SELECT doc_id, source, text FROM scored WHERE s >= {_PREP_TAU}
), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
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
), per_doc AS (
  SELECT k.source, c.n_clean,
         CASE WHEN c.n_clean <= 32 THEN 1
              ELSE 1 + CAST(FLOOR((c.n_clean - 32 + 23) / 24) AS BIGINT)
         END AS n_chunks,
         CASE WHEN c.n_clean >= 32
              THEN CAST(FLOOR((c.n_clean - 32) / 24) AS BIGINT) + 1
              ELSE 0 END AS full_chunks
  FROM clean c JOIN kept k USING (doc_id)
), tot AS (
  SELECT source, COUNT(*) AS docs_in FROM documents GROUP BY source
)
SELECT t.source,
       CAST(t.docs_in AS BIGINT) AS docs_in,
       CAST(COUNT(p.n_clean) AS BIGINT) AS docs_kept,
       CAST(COALESCE(SUM(p.n_clean), 0) AS BIGINT) AS clean_tokens,
       CAST(COALESCE(SUM(p.n_chunks), 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(SUM(p.full_chunks), 0) AS BIGINT) AS full_chunks
FROM tot t LEFT JOIN per_doc p USING (source)
GROUP BY t.source, t.docs_in
ORDER BY t.source
""",
    doc=f"END-TO-END training-corpus prep, one declarative plan: quality "
    f"gate (score >= {_PREP_TAU}, ~70% pass) -> exact substring dedup "
    "(k=20 spans excised, counted via the conservation identity "
    "n_clean = n_tokens - dup_tokens) -> chunk budget (32/8 chunk "
    "counts in CLOSED FORM from the clean token count — no chunk "
    "explode). Per-source accounting of docs in/kept, surviving "
    "tokens, and chunk yield: the numbers a pretraining data team "
    "reads off before a run. Every stage reuses an already-certified "
    "operator; the oracle replays the whole pipeline in SQL.",
)
def training_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.functions import text as T
    from economic_data_etl_spark.operators import substring

    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(
        T.quality_score(F.col("text")) >= _PREP_TAU
    ).select("doc_id", "source", "text")
    cleaned = substring.remove_duplicate_spans(kept, "doc_id", "text", 20)
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
    per_source = cleaned.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum(n).alias("clean_tokens"),
        F.sum(n_chunks).alias("n_chunks"),
        F.sum(full_chunks).alias("full_chunks"),
    )
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("docs_in"))
    return (
        tot.join(per_source, "source", "left")
        .select(
            "source",
            "docs_in",
            F.coalesce("docs_kept", F.lit(0)).cast("long").alias(
                "docs_kept"
            ),
            F.coalesce("clean_tokens", F.lit(0)).cast("long").alias(
                "clean_tokens"
            ),
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("full_chunks", F.lit(0)).cast("long").alias(
                "full_chunks"
            ),
        )
        .orderBy("source")
    )


_ISAMPLE_SPLIT = 300
_ISAMPLE_OVERLAP = 250


@register(
    "curation_incremental_sample",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   LN(({_BUCKET_SQL.format(salt="wsample-v1", key="doc_id")}
                       + 0.5) / 65536.0) / n_chars AS rank_key
            FROM documents
            WHERE n_chars > 0
        )
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
               ROUND(5e-10 + rank_key, 4) AS rank_key
        FROM keyed
        ORDER BY keyed.rank_key DESC, doc_id
        LIMIT {_WSAMPLE_K}
    """,
    doc="INCREMENTAL weighted reservoir sampling "
    "(streaming/incremental_sample.py): the A-Res rank key "
    "ln(u)/weight is deterministic per doc, so the weighted sample "
    "without replacement is 'the k largest keys seen so far' — a "
    "MERGEABLE top-k reservoir. A standing reservoir is built from "
    f"docs below {_ISAMPLE_SPLIT}, a batch covering docs >= "
    f"{_ISAMPLE_OVERLAP} folds in through the same union + "
    "dedupe-by-doc + trim merge (the "
    "overlap is a simulated redelivery, a no-op because a re-seen doc "
    "carries the identical key), and the served sample is compared "
    "against the FULL-corpus one-shot A-Res oracle — a green row "
    "proves reservoir-merge == batch sample at the value level. "
    "State and every fold are <= k rows regardless of stream size.",
)
def curation_incremental_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.streaming.incremental_sample import (
        rank_keyed,
    )

    docs = load_table(spark, sf_dir, "documents")
    res0 = (
        rank_keyed(docs.filter(F.col("doc_id") < _ISAMPLE_SPLIT))
        .orderBy(F.desc("rk"), "doc_id")
        .limit(_WSAMPLE_K)
    )
    batch = rank_keyed(
        docs.filter(F.col("doc_id") >= _ISAMPLE_OVERLAP)
    )
    merged = (
        res0.unionByName(batch)
        .dropDuplicates(["doc_id"])
        .orderBy(F.desc("rk"), "doc_id")
        .limit(_WSAMPLE_K)
    )
    return merged.select(
        "doc_id",
        "source",
        "weight",
        biased_round(F.col("rk")).alias("rank_key"),
    ).orderBy(F.desc("rank_key"), "doc_id")


# --------------------------------------------------------------------------
# T5-style span corruption (denoising-objective training data).
# --------------------------------------------------------------------------
_T5_PCT = 5
_T5_LEN = 3


def _t5_oracle() -> str:
    from economic_data_etl_spark.operators.corruption import SALT

    b = (
        "(('0x' || substring(md5('"
        + SALT
        + "' || CAST(doc_id AS VARCHAR) || ':' || "
        "CAST(p AS VARCHAR)), 1, 4))::BIGINT)"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), pos AS (
          SELECT doc_id, len(w) AS n,
                 unnest(CASE WHEN len(w) >= 1
                             THEN generate_series(0, len(w) - 1)
                             ELSE [] END) AS p
          FROM toks
        ), starts AS (
          SELECT doc_id, p, LEAST(p + {_T5_LEN}, n) AS e
          FROM pos WHERE {b} % 100 < {_T5_PCT}
        ), marked AS (
          SELECT doc_id, p, e,
                 CASE WHEN p <= MAX(e) OVER (
                          PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING)
                      THEN 0 ELSE 1 END AS new_span
          FROM starts
        ), islands AS (
          SELECT doc_id,
                 SUM(new_span) OVER (
                     PARTITION BY doc_id ORDER BY p) AS sid,
                 p, e
          FROM marked
        ), spans AS (
          SELECT doc_id, MIN(p) AS st, MAX(e) AS en,
                 CAST(ROW_NUMBER() OVER (
                     PARTITION BY doc_id ORDER BY MIN(p)) - 1
                     AS INT) AS i
          FROM islands GROUP BY doc_id, sid
        ), tp AS (
          SELECT t.doc_id, t.w,
                 unnest(CASE WHEN len(t.w) >= 1
                             THEN generate_series(0, len(t.w) - 1)
                             ELSE [] END) AS p
          FROM toks t
        ), rendered AS (
          SELECT t.doc_id, t.p,
                 CASE WHEN s_at.i IS NOT NULL
                      THEN '<extra_id_' || CAST(s_at.i AS VARCHAR)
                           || '>'
                      WHEN s_in.doc_id IS NOT NULL THEN NULL
                      ELSE t.w[t.p + 1]
                 END AS part
          FROM tp t
          LEFT JOIN spans s_at
            ON s_at.doc_id = t.doc_id AND s_at.st = t.p
          LEFT JOIN spans s_in
            ON s_in.doc_id = t.doc_id
           AND t.p > s_in.st AND t.p < s_in.en
        ), inputs AS (
          SELECT doc_id,
                 string_agg(part, ' ' ORDER BY p) AS input_text
          FROM rendered WHERE part IS NOT NULL GROUP BY doc_id
        ), targets AS (
          SELECT s.doc_id,
                 string_agg('<extra_id_' || CAST(s.i AS VARCHAR)
                            || '> ' || array_to_string(
                                t.w[s.st + 1 : s.en], ' '),
                            ' ' ORDER BY s.i) AS target_text,
                 CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(s.en - s.st) AS BIGINT) AS n_masked
          FROM spans s JOIN toks t USING (doc_id)
          GROUP BY s.doc_id
        )
        SELECT t.doc_id,
               COALESCE(g.n_spans, 0) AS n_spans,
               COALESCE(g.n_masked, 0) AS n_masked,
               md5(COALESCE(i.input_text, '')) AS input_md5,
               md5(COALESCE(g.target_text, '')) AS target_md5
        FROM toks t
        LEFT JOIN inputs i USING (doc_id)
        LEFT JOIN targets g USING (doc_id)
        ORDER BY t.doc_id
    """


@register(
    "training_span_corruption",
    oracle=_t5_oracle(),
    doc="T5-style span corruption, derandomized "
    "(operators/corruption.py): position p starts a mask span when "
    f"the portable md5 bucket of (doc, p) falls below {_T5_PCT}%, "
    f"nominal span length {_T5_LEN} (~15% of tokens mask), "
    "overlapping/adjacent spans merge; input = unmasked tokens with "
    "one <extra_id_N> sentinel per span, target = sentinels + the "
    "masked tokens — the denoising-objective pair T5/UL2 training "
    "consumes, reproducible across engines and runs. EVERYTHING is "
    "per-row narrow expressions (span starts, an in-row interval-"
    "merge fold, both renderings in one projection): the corpus never "
    "shuffles. The oracle replays the same decisions with the "
    "row-based gaps-and-islands formulation and md5-checks both "
    "rendered texts per document.",
)
def training_span_corruption(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.corruption import (
        corrupt_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = corrupt_spans(
        docs, start_rate_pct=_T5_PCT, span_len=_T5_LEN
    )
    return out.select(
        "doc_id",
        "n_spans",
        "n_masked",
        F.md5(F.col("input_text")).alias("input_md5"),
        F.md5(F.col("target_text")).alias("target_md5"),
    ).orderBy("doc_id")


@register(
    "inv_corruption_rate",
    oracle="""
        SELECT CAST(1 AS INT) AS rate_in_band,
               CAST(1 AS INT) AS spans_merged,
               CAST(1 AS INT) AS conservation_exact
        """,
    doc="Certificate for the span-corruption operator: over the whole "
    "corpus (a) the MEASURED masked-token fraction lands in the "
    "designed band (5% start rate x nominal length 3 => ~15%; band "
    "[0.08, 0.22] absorbs merge overlap and doc-end clipping), (b) at "
    "least one document has fewer spans than md5-selected starts "
    "(proof the interval MERGE actually fires on real data), and (c) "
    "token conservation holds exactly on every doc: input tokens "
    "minus sentinels plus masked tokens equals original tokens. The "
    "oracle is the constant all-TRUE row, so any drift in the "
    "corruption schedule fails the driver's value hash.",
)
def inv_corruption_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.corruption import (
        _bucket,
        corrupt_spans,
    )
    from economic_data_etl_spark.operators.substring import word_array

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = corrupt_spans(
        docs, start_rate_pct=_T5_PCT, span_len=_T5_LEN
    ).select(
        "doc_id",
        "n_spans",
        "n_masked",
        F.size(word_array(F.col("text"))).alias("n_tokens"),
        F.size(
            F.filter(
                F.split(F.col("input_text"), " "),
                lambda t: t.startswith("<extra_id_"),
            )
        ).alias("n_sentinels"),
        F.size(
            F.filter(
                F.split(F.col("input_text"), " "),
                lambda t: (t != "") & ~t.startswith("<extra_id_"),
            )
        ).alias("n_kept"),
        F.size(
            F.when(
                F.size(word_array(F.col("text"))) > 0,
                F.filter(
                    F.sequence(
                        F.lit(0),
                        F.size(word_array(F.col("text"))) - 1,
                    ),
                    lambda p: (_bucket(F.col("doc_id"), p) % 100)
                    < F.lit(_T5_PCT),
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("n_starts"),
    )
    agg = out.agg(
        (F.sum("n_masked") / F.sum("n_tokens")).alias("rate"),
        F.sum(
            F.when(F.col("n_spans") < F.col("n_starts"), 1).otherwise(0)
        ).alias("n_merged_docs"),
        F.sum(
            F.when(
                (F.col("n_kept") + F.col("n_masked")
                 == F.col("n_tokens"))
                & (F.col("n_sentinels") == F.col("n_spans")),
                0,
            ).otherwise(1)
        ).alias("n_violations"),
    )
    return agg.select(
        F.when(
            (F.col("rate") >= 0.08) & (F.col("rate") <= 0.22), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("rate_in_band"),
        F.when(F.col("n_merged_docs") > 0, 1)
        .otherwise(0)
        .cast("int")
        .alias("spans_merged"),
        F.when(F.col("n_violations") == 0, 1)
        .otherwise(0)
        .cast("int")
        .alias("conservation_exact"),
    )


# --------------------------------------------------------------------------
# Curriculum ordering: the CCNet head/middle/tail split + epoch schedule.
# --------------------------------------------------------------------------
_CURR_TIERS = 3


@register(
    "training_curriculum_order",
    oracle=f"""
        WITH tg AS (
            SELECT d.doc_id,
                   substring(lower(d.text), CAST(i AS INTEGER), 3) AS g
            FROM documents d, UNNEST(range(1, length(d.text) - 1)) AS t(i)
            WHERE length(d.text) >= 3
        ), freq AS (
            SELECT g, COUNT(*) AS c FROM tg GROUP BY 1
        ), tot AS (
            SELECT SUM(c) AS s FROM freq
        ), doc_score AS (
            SELECT tg.doc_id,
                   ROUND(5e-10 + AVG(LN(freq.c / tot.s)), 4) AS lp
            FROM tg JOIN freq USING (g) CROSS JOIN tot
            GROUP BY 1
        ), toks AS (
            SELECT doc_id,
                   len(list_filter(string_split_regex(text,
                       '[ \\t\\n\\r]+'), x -> x <> '')) AS n_tokens
            FROM documents WHERE length(text) >= 3
        ), tiered AS (
            SELECT s.doc_id, s.lp, t.n_tokens,
                   NTILE({_CURR_TIERS}) OVER (ORDER BY s.lp DESC,
                                              s.doc_id) AS tier
            FROM doc_score s JOIN toks t USING (doc_id)
        )
        SELECT e.epoch, tiered.tier,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               ROUND(5e-10 + AVG(lp), 4) AS avg_lp
        FROM tiered
        CROSS JOIN (SELECT UNNEST(range(1, {_CURR_TIERS + 1})) AS epoch) e
        WHERE tiered.tier <= e.epoch
        GROUP BY 1, 2
        ORDER BY epoch, tier
    """,
    doc="Curriculum ordering (the CCNet head/middle/tail pattern, "
    "Wenzek et al. LREC 2020): every document is scored by the "
    "corpus-trained character-trigram LM (same model as "
    "text_lm_quality_score — the vocab-bounded trigram table "
    "BROADCASTS, so scoring never shuffles the corpus), tier "
    "membership binds on the 4dp-biased-rounded score with doc_id "
    "tiebreak, and the exact 3-way NTILE runs through the two-phase "
    "global rank (operators/rank.py — boundary literals + "
    "bucket-partitioned window, never a corpus-sized single-task "
    "sort). The epoch schedule is the standard expanding curriculum "
    "(epoch e trains tiers <= e); output is the per-(epoch, tier) "
    "doc/token/quality summary a training loop consumes. Oracle "
    "replays the model, the rounded score, NTILE, and the schedule.",
)
def training_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.functions.text import (
        WORD_SPLIT_RE as WORD_SPLIT,
    )
    from economic_data_etl_spark.operators.rank import (
        ntile_from_row_number,
        with_global_row_number,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .select(
            "doc_id",
            F.lower(F.col("text")).alias("lt"),
            F.length("text").alias("n"),
            F.size(
                F.filter(
                    F.split(F.col("text"), WORD_SPLIT),
                    lambda t: t != "",
                )
            ).cast("long").alias("n_tokens"),
        )
    )
    # trigram instances: positions over the ORIGINAL length, slices
    # from the lowered text (the documented semantics of the LM lanes);
    # lt/n are materialized attributes, so the lambda never re-lowers.
    tg = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - 2),
                lambda i: F.col("lt").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    freq = tg.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("s"))
    # vocab-bounded model (charset^3) -> broadcast; the corpus-sized
    # trigram stream never shuffles for the join.
    lp = (
        tg.join(F.broadcast(freq), "g")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            biased_round(F.avg(F.log(F.col("c") / F.col("s")))).alias(
                "lp"
            )
        )
    )
    scored = (
        lp.join(docs.select("doc_id", "n_tokens"), "doc_id")
        .select(
            "doc_id", "lp", "n_tokens", (-F.col("lp")).alias("neg_lp")
        )
        # LAZY CHECKPOINT, load-bearing for cost: the two-phase rank
        # below makes THREE passes over its input (boundary quantiles,
        # bucket counts, the final window) and this lineage contains
        # the full corpus trigram scoring — uncheckpointed, the
        # scoring re-ran once per pass (measured 13.5 s -> ~5 s at
        # sf0.1). The checkpointed table is doc-sized, not char-sized.
        .localCheckpoint(eager=False)
    )
    ranked = with_global_row_number(scored, ["neg_lp", "doc_id"])
    n_total = ranked.agg(F.count(F.lit(1)).alias("n_total"))
    tiered = ranked.crossJoin(F.broadcast(n_total)).select(
        "doc_id",
        "lp",
        "n_tokens",
        ntile_from_row_number(
            F.col("rn"), F.col("n_total"), _CURR_TIERS
        ).alias("tier"),
    )
    epochs = F.explode(
        F.array(*[F.lit(e) for e in range(1, _CURR_TIERS + 1)])
    ).alias("epoch")
    return (
        tiered.select("*", epochs)
        .filter(F.col("tier") <= F.col("epoch"))
        .groupBy("epoch", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            biased_round(F.avg("lp")).alias("avg_lp"),
        )
        .orderBy("epoch", "tier")
    )


# --------------------------------------------------------------------------
# Split-leakage audit: semantic contamination ACROSS the train/test cut.
# --------------------------------------------------------------------------
_LEAK_TAU = 0.9
_LEAK_TOPK = 10


@register(
    "training_split_leakage",
    oracle=f"""
        WITH s AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   CASE WHEN {_BUCKET_SQL.format(salt="split-v1",
                                                 key="vec_id")}
                             < {int(0.8 * 65536)} THEN 'train'
                        WHEN {_BUCKET_SQL.format(salt="split-v1",
                                                 key="vec_id")}
                             < {int(0.9 * 65536)} THEN 'val'
                        ELSE 'test' END AS split
            FROM embeddings
        ), pairs AS (
            SELECT t.vec_id AS test_id, r.vec_id AS train_id,
                   ROUND(5e-10 + list_cosine_similarity(t.e, r.e), 4)
                       AS cos_r
            FROM s t JOIN s r ON t.split = 'test' AND r.split = 'train'
        ), best AS (
            SELECT test_id, train_id, cos_r,
                   ROW_NUMBER() OVER (PARTITION BY test_id
                       ORDER BY cos_r DESC, train_id) AS rn
            FROM pairs
        ), ranked AS (
            SELECT test_id, train_id, cos_r,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY cos_r DESC, test_id) AS INT) AS rank
            FROM best WHERE rn = 1
        )
        SELECT rank, test_id, train_id, cos_r,
               cos_r >= {_LEAK_TAU} AS leaked
        FROM ranked WHERE rank <= {_LEAK_TOPK}
        ORDER BY rank
    """,
    doc="Split-leakage audit — semantic contamination ACROSS the "
    "train/test cut (the evaluation-integrity check next to the "
    "n-gram decontamination lanes): every test vector's nearest train "
    "vector by cosine, using the SAME leakage-safe md5 split the "
    "corpus splitter certifies (train_val_test_split). The test split "
    "is a small fixed fraction by construction, so it BROADCASTS "
    "against the train side — one corpus scan, no corpus shuffle; at "
    "larger test fractions the certified banded/IVF ANN lanes swap "
    f"in. Nearness and the leaked verdict (cos >= {_LEAK_TAU}) bind "
    "on the 4dp-biased-rounded cosine with id tiebreaks; top-"
    f"{_LEAK_TOPK} closest pairs returned, limit-pushed below the "
    "rank window.",
)
def training_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from economic_data_etl_spark.functions.vectors import (
        dot_product,
        l2_normalize,
    )

    emb = training.hash_split(
        load_table(spark, sf_dir, "embeddings"), "vec_id", _SPLITS
    ).select("vec_id", "embedding", "split")
    # normalize each side ONCE behind its projection: cosine per pair
    # then costs a single dot — computing cosine(te, re) raw would
    # recompute both norms for every one of the |train| x |test|
    # pairs (3x the interpreted-HOF work; measured 7.9 s -> ~3 s at
    # sf0.1). Same rounded values: dot of unit vectors IS the cosine.
    test = emb.filter(F.col("split") == "test").select(
        F.col("vec_id").alias("test_id"),
        l2_normalize(F.col("embedding")).alias("te"),
    )
    train = emb.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("train_id"),
        l2_normalize(F.col("embedding")).alias("re"),
    )
    pairs = train.join(F.broadcast(test)).select(
        "test_id",
        "train_id",
        biased_round(
            dot_product(F.col("te"), F.col("re"))
        ).alias("cos_r"),
    )
    rn = F.row_number().over(
        Window.partitionBy("test_id").orderBy(
            F.desc("cos_r"), F.asc("train_id")
        )
    )
    best = pairs.select("*", rn.alias("rn")).filter(F.col("rn") == 1)
    rank = F.row_number().over(
        Window.orderBy(F.desc("cos_r"), F.asc("test_id"))
    )
    return (
        best.select(
            rank.cast("int").alias("rank"),
            "test_id",
            "train_id",
            "cos_r",
            (F.col("cos_r") >= _LEAK_TAU).alias("leaked"),
        )
        .filter(F.col("rank") <= _LEAK_TOPK)
        .orderBy("rank")
    )
