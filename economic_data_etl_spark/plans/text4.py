"""Statistical language-model quality scoring (CCNet/Gopher-style) and
per-source duplication-rate profiling.

`text_lm_quality_score` is the two-pass pattern every corpus-level
quality filter at 100 TB reduces to:

  pass 1 — aggregate character-trigram counts over the whole corpus
           (map-side combinable groupBy; the vocabulary is bounded by
           charset³, a few MB, regardless of corpus size);
  pass 2 — broadcast the frequency table back onto the document scan
           and score each document as its mean trigram log-probability.

The model-build shuffle is vocab-bounded (map-side combine collapses
each task to at most |vocab| rows) and the scoring pass is a
shuffle-free Arrow mapInPandas over the broadcast model — the corpus
itself never shuffles. A real deployment swaps the corpus-trained
trigram model for a KenLM scored the same way — the Spark plumbing
(build-broadcast-score) is identical.

Also here: per-source exact duplication rate and the top-k vocabulary
coverage curve (tokenizer-design diagnostic — rank/cumulative windows
run over the vocab-sized term table, not the corpus).

Reference parity: the reference has no corpus analytics; this extends
the curation stack (plans/text2.py, plans/curation.py) the way CCNet
(Wenzek et al., LREC 2020) orders documents by LM perplexity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table


def _r(col):
    return biased_round(col)


@register(
    "text_lm_quality_score",
    oracle="""
        WITH tg AS (
            SELECT d.doc_id, d.source,
                   substring(lower(d.text), CAST(i AS INTEGER), 3) AS g
            FROM documents d, UNNEST(range(1, length(d.text) - 1)) AS t(i)
            WHERE length(d.text) >= 3
        ), freq AS (
            SELECT g, COUNT(*) AS c FROM tg GROUP BY 1
        ), tot AS (
            SELECT SUM(c) AS s FROM freq
        ), doc_score AS (
            SELECT tg.doc_id, tg.source,
                   AVG(LN(freq.c / tot.s)) AS lp
            FROM tg JOIN freq USING (g) CROSS JOIN tot
            GROUP BY 1, 2
        )
        SELECT source,
               COUNT(*) AS n_docs_scored,
               ROUND(5e-10 + AVG(lp), 4) AS avg_logprob,
               ROUND(5e-10 + MIN(lp), 4) AS min_logprob,
               ROUND(5e-10 + MAX(lp), 4) AS max_logprob
        FROM doc_score
        GROUP BY source
        ORDER BY source
    """,
    doc="Corpus-trained character-trigram LM quality score per source: "
    "pass 1 aggregates global trigram counts (bounded vocabulary -> "
    "map-side combine collapses the exchange to |vocab| rows per task), "
    "pass 2 broadcasts the log-prob model and scores each doc as its "
    "mean trigram log-probability inside an Arrow-batched mapInPandas "
    "— the CCNet build-score pattern with the KenLM swapped for a "
    "self-trained model. Scoring is row-local, so the corpus is never "
    "shuffled: only the vocab-sized model and the per-source summary "
    "move.",
)
def text_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pass 1 (model build): count trigram instances via the
    # Arrow-vectorized int64-packed lane (operators/textstats.py —
    # count-identical to the old explode pipeline by the injectivity of
    # the packing, pinned in tests/test_textstats.py). Partial
    # aggregation collapses every task to at most |vocab| rows before
    # the exchange, and the vocabulary is bounded by charset³
    # regardless of corpus size — so this shuffle and the driver
    # collect below are both constant-bounded, the same argument the
    # ANN operators use for their centroid tables. The model is keyed
    # by PACKED trigram, which is also exactly what the scoring pass
    # probes — no string round-trip anywhere.
    import math

    import pandas as pd

    from economic_data_etl_spark.operators.textstats import (
        _pack_gram,
        char_trigram_counts,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .select("doc_id", "source", "text")
    )
    freq_rows = (
        char_trigram_counts(docs.withColumn("__all", F.lit("")), "__all")
        .select("g", "c")
        .collect()
    )
    total = float(sum(r["c"] for r in freq_rows))
    lp_model = spark.sparkContext.broadcast(
        {r["g"]: math.log(r["c"] / total) for r in freq_rows}
    )

    # Pass 2 (scoring): the per-doc mean log-probability is row-local
    # once the model is broadcast, so score inside an Arrow-batched
    # mapInPandas — ZERO corpus shuffles (the earlier join formulation
    # re-shuffled all trigram instances on doc_id just to average them).
    def _score(batches):
        # Vectorized scorer: document trigrams are packed with the SAME
        # +1-offset int64 encoding the model keys use
        # (textstats._pack_gram) and looked up with one searchsorted
        # per document against the sorted model-key array, replacing
        # the per-trigram Python dict probes (round-3 verdict: the
        # per-character loop was the scoring bottleneck). Semantics
        # mirror pass 1 exactly: positions from the ORIGINAL length,
        # trigrams sliced from the lowered text, model misses skipped
        # (the oracle's inner-join semantics). Rows where lower()
        # changes the string length (exotic code points) fall back to
        # the exact slicing loop; short tail grams can only arise on
        # such rows and their packed keys stay reachable through the
        # same model dict (the packing is injective across lengths).
        import numpy as np

        model = lp_model.value
        mk = np.fromiter(model.keys(), dtype=np.int64, count=len(model))
        order = np.argsort(mk)
        mk = mk[order]
        mv = np.fromiter(
            model.values(), dtype=np.float64, count=len(model)
        )[order]

        def _slow(t: str):
            s = t.lower()
            known = [
                model[k]
                for k in (
                    _pack_gram(s[i : i + 3]) for i in range(len(t) - 2)
                )
                if k in model
            ]
            return sum(known) / len(known) if known else None

        for pdf in batches:
            lps = []
            for t in pdf["text"]:
                n = len(t) - 2
                s = t.lower()
                if n <= 0 or len(s) != len(t) or mk.size == 0:
                    lps.append(_slow(t))
                    continue
                codes = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64) + 1
                packed = (
                    (codes[:-2] << 42) | (codes[1:-1] << 21) | codes[2:]
                )
                idx = np.minimum(
                    np.searchsorted(mk, packed), mk.size - 1
                )
                hits = mv[idx[mk[idx] == packed]]
                lps.append(
                    float(hits.sum() / hits.size) if hits.size else None
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "lp": lps,
                }
            )

    doc_score = docs.mapInPandas(
        _score, "doc_id long, source string, lp double"
    ).filter(F.col("lp").isNotNull())
    return (
        doc_score.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_scored"),
            _r(F.avg("lp")).alias("avg_logprob"),
            _r(F.min("lp")).alias("min_logprob"),
            _r(F.max("lp")).alias("max_logprob"),
        )
        .orderBy("source")
    )


@register(
    "dataset_dedup_rate_by_source",
    oracle="""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts,
               ROUND(5e-10 + 1.0 - COUNT(DISTINCT text) * 1.0 / COUNT(*), 4)
                   AS dup_rate
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    doc="Exact duplication rate per source: docs vs distinct texts. "
    "COUNT(DISTINCT text) is one partial-then-final aggregation keyed "
    "on (source, text) — at real scale the text column would be "
    "replaced by its sha2 digest first so the shuffle moves 32-byte "
    "keys, which `dedup_exact_documents` already demonstrates; here the "
    "raw column keeps the oracle byte-identical.",
)
def dataset_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_unique_texts"),
            _r(
                F.lit(1.0)
                - F.countDistinct("text") / F.count(F.lit(1))
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


_VOCAB_KS = (100, 500, 1000)


@register(
    "text_vocab_coverage",
    oracle=rf"""
        WITH tok AS (
            SELECT unnest(list_filter(
                       string_split_regex(lower(text), '\s+'),
                       x -> x <> '')) AS term
            FROM documents
        ), cnt AS (
            SELECT term, COUNT(*) AS c FROM tok GROUP BY term
        ), ranked AS (
            SELECT c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rnk,
                   SUM(c) OVER () AS total,
                   SUM(c) OVER (ORDER BY c DESC, term
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM cnt
        )
        SELECT CAST(k.k AS BIGINT) AS vocab_size,
               ROUND(5e-10 + MAX(CASE WHEN rnk <= k.k
                                      THEN cum END) / ANY_VALUE(total), 4)
                   AS coverage
        FROM ranked CROSS JOIN (VALUES {", ".join(f"({k})" for k in _VOCAB_KS)}) AS k(k)
        GROUP BY k.k
        ORDER BY vocab_size
    """,
    doc="Tokenizer-design diagnostic: what fraction of all token "
    "instances a top-k vocabulary covers, for several k. One token "
    "count aggregation (map-side combinable; the only corpus-scale "
    "shuffle), then ranking/cumulative-share windows over the TERM "
    "TABLE, whose size is the vocabulary, not the corpus. Ties rank "
    "deterministically by (count desc, term) in both engines.",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cnt = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_ord = Window.orderBy(F.desc("c"), "term")
    ranked = cnt.select(
        "c",
        F.row_number().over(w_ord).alias("rnk"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
        F.sum("c")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _VOCAB_KS])).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            biased_round(
                F.max(F.when(F.col("rnk") <= F.col("k"), F.col("cum")))
                / F.any_value("total")
            ).alias("coverage")
        )
        .select(F.col("k").cast("long").alias("vocab_size"), "coverage")
        .orderBy("vocab_size")
    )


# --------------------------------------------------------------------------
# BM25 ranked retrieval.
# --------------------------------------------------------------------------
_BM25_TERMS = ("table", "scan", "merge")
_BM25_TAU = 0.8


@register(
    "text_bm25_retrieval",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), ex AS (
          SELECT doc_id, unnest(w) AS token FROM toks
        ), dl AS (
          SELECT doc_id, len(w) AS dl FROM toks
        ), stats AS (
          SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM ex
          WHERE token IN ('table', 'scan', 'merge')
          GROUP BY 1, 2
        ), df AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df FROM ex
          WHERE token IN ('table', 'scan', 'merge')
          GROUP BY token
        ), sc AS (
          SELECT t.doc_id,
                 ROUND(5e-10 + SUM(
                     ln(1.0 + ((SELECT n_docs FROM stats) - d.df + 0.5)
                              / (d.df + 0.5))
                     * t.tf * {1.2 + 1.0}
                     / (t.tf + 1.2 * (1 - 0.75
                          + 0.75 * l.dl / (SELECT avgdl FROM stats)))
                 ), 4) AS score
          FROM tf t JOIN df d USING (token) JOIN dl l USING (doc_id)
          GROUP BY t.doc_id
        )
        SELECT doc_id, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                    AS INT) AS rank
        FROM sc
        WHERE score >= {_BM25_TAU}
        ORDER BY rank
    """,
    doc="BM25 ranked retrieval (Robertson/Lucene non-negative idf) for "
    f"the query {_BM25_TERMS}: one token explode feeds tf and df, "
    "corpus stats broadcast as two doubles, scoring is a pure JVM "
    "expression — the inverted-index access pattern relationally (the "
    "tf shuffle carries only matching postings, pre-filtered at the "
    "scan). Threshold and rank bind on the 4dp-biased-rounded score so "
    "both engines agree on membership and order despite libm ulp "
    "differences in ln.",
)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from economic_data_etl_spark.operators.retrieval import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, list(_BM25_TERMS)).select(
        "doc_id", biased_round(F.col("score")).alias("score")
    )
    kept = scored.filter(F.col("score") >= _BM25_TAU)
    rank = F.row_number().over(
        Window.orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return kept.select(
        "doc_id", "score", rank.cast("int").alias("rank")
    ).orderBy("rank")


# --------------------------------------------------------------------------
# Incremental BM25: standing postings index + idempotent batch appends.
# --------------------------------------------------------------------------
_BM25I_TERMS = ("stream", "batch", "window")
_BM25I_TAU = 0.8
_BM25I_SPLIT = 250  # standing index = docs below; batch = docs >= 200
_BM25I_OVERLAP = 200  # overlap 200..249 exercises append idempotence


@register(
    "text_bm25_incremental",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), ex AS (
          SELECT doc_id, unnest(w) AS token FROM toks
        ), dl AS (
          SELECT doc_id, len(w) AS dl FROM toks
        ), stats AS (
          SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM ex
          WHERE token IN ('stream', 'batch', 'window')
          GROUP BY 1, 2
        ), df AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df FROM ex
          WHERE token IN ('stream', 'batch', 'window')
          GROUP BY token
        ), sc AS (
          SELECT t.doc_id,
                 ROUND(5e-10 + SUM(
                     ln(1.0 + ((SELECT n_docs FROM stats) - d.df + 0.5)
                              / (d.df + 0.5))
                     * t.tf * {1.2 + 1.0}
                     / (t.tf + 1.2 * (1 - 0.75
                          + 0.75 * l.dl / (SELECT avgdl FROM stats)))
                 ), 4) AS score
          FROM tf t JOIN df d USING (token) JOIN dl l USING (doc_id)
          GROUP BY t.doc_id
        )
        SELECT doc_id, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                    AS INT) AS rank
        FROM sc
        WHERE score >= {_BM25I_TAU}
        ORDER BY rank
    """,
    doc="INCREMENTAL BM25 over a standing inverted index: the index is "
    f"built from docs below {_BM25I_SPLIT}, then a batch covering docs "
    f">= {_BM25I_OVERLAP} is APPENDED through the idempotent membership "
    f"anti-join (the {_BM25I_OVERLAP}..{_BM25I_SPLIT - 1} overlap — a "
    "redelivered half-batch — contributes nothing), and the query "
    f"{_BM25I_TERMS} is served from the resulting index. The oracle is "
    "the FULL-CORPUS BM25 SQL, so a green row proves incremental-index "
    "scoring equals the one-shot batch pass at the value level — the "
    "stream≡batch certificate in driver-checkable form. Per-batch cost "
    "is O(batch tokens) + one anti-join; queries read only their own "
    "terms' postings (operators/retrieval.py:bm25_from_index).",
)
def text_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from economic_data_etl_spark.operators.retrieval import (
        append_to_index,
        bm25_from_index,
        build_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    # standing index: docs below the split, tokenized once
    postings0, doclens0 = build_postings(
        docs.filter(F.col("doc_id") < _BM25I_SPLIT)
    )
    # incremental append: a batch that OVERLAPS the index (simulating a
    # redelivered drop); the membership anti-join keeps it idempotent
    batch = docs.filter(F.col("doc_id") >= _BM25I_OVERLAP)
    postings1, doclens1 = append_to_index(doclens0, batch)
    postings = postings0.unionByName(postings1)
    doclens = doclens0.unionByName(doclens1)
    scored = bm25_from_index(postings, doclens, list(_BM25I_TERMS)).select(
        "doc_id", biased_round(F.col("score")).alias("score")
    )
    kept = scored.filter(F.col("score") >= _BM25I_TAU)
    rank = F.row_number().over(
        Window.orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return kept.select(
        "doc_id", "score", rank.cast("int").alias("rank")
    ).orderBy("rank")


_PHRASE = ("stream", "table", "hash")


@register(
    "text_phrase_search",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), g0 AS (
          SELECT doc_id, w,
                 unnest(CASE WHEN len(w) >= 1
                             THEN generate_series(1, len(w))
                             ELSE [] END) AS i
          FROM toks
        ), ex AS (
          SELECT doc_id, i - 1 AS pos, w[i] AS token FROM g0
        ), ph AS (
          SELECT * FROM (VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))})
                 AS p(off, term)
        ), cand AS (
          SELECT e.doc_id, e.pos - p.off AS start, p.off
          FROM ex e JOIN ph p ON e.token = p.term
        ), occ AS (
          SELECT doc_id, start FROM cand
          WHERE start >= 0
          GROUP BY doc_id, start
          HAVING COUNT(DISTINCT off) = {len(_PHRASE)}
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(MIN(start) AS BIGINT) AS first_pos
        FROM occ
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc=f"Exact positional phrase search for {' '.join(_PHRASE)!r} "
    "(Lucene-style positional postings, relationally): one posexplode "
    "scan pre-filtered to the phrase's terms feeds a broadcast join "
    "against the m-row (offset, term) table; a candidate start where "
    "all m distinct offsets vote is a phrase occurrence. Shuffle is "
    "O(matching postings) — the corpus token stream never moves. "
    "Output: per-doc match count + first occurrence position "
    "(0-indexed).",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.retrieval import (
        phrase_occurrences,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_occurrences(docs, list(_PHRASE)).orderBy("doc_id")


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of lexical + phrase + semantic.
# --------------------------------------------------------------------------
_RRF_K = 60
_RRF_TOPN = 10
# Each lane contributes only its top-K candidates to the fusion
# (standard RRF serving semantics). The cut makes every lane's rank
# window WindowGroupLimit-able: each map partition pre-trims to K rows
# before the single-partition rank, so the shuffle moves K*partitions
# rows instead of the corpus. Sound for the displayed top-N because a
# doc outside a lane's top-K would have contributed < 1/(60+K) from
# that lane anyway; the query DEFINES fusion over lane survivors, and
# the oracle applies the identical cut.
_RRF_LANE_K = 100


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), ex AS (
          SELECT doc_id, unnest(w) AS token FROM toks
        ), dl AS (
          SELECT doc_id, len(w) AS dl FROM toks
        ), stats AS (
          SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM ex
          WHERE token IN ('stream', 'table', 'hash')
          GROUP BY 1, 2
        ), df AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df FROM ex
          WHERE token IN ('stream', 'table', 'hash')
          GROUP BY token
        ), bm AS (
          SELECT t.doc_id,
                 ROUND(5e-10 + SUM(
                     ln(1.0 + ((SELECT n_docs FROM stats) - d.df + 0.5)
                              / (d.df + 0.5))
                     * t.tf * {1.2 + 1.0}
                     / (t.tf + 1.2 * (1 - 0.75
                          + 0.75 * l.dl / (SELECT avgdl FROM stats)))
                 ), 4) AS s
          FROM tf t JOIN df d USING (token) JOIN dl l USING (doc_id)
          GROUP BY t.doc_id
        ), bm_r AS (
          SELECT doc_id, r FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
            FROM bm
          ) WHERE r <= {_RRF_LANE_K}
        ), g0 AS (
          SELECT doc_id, w,
                 unnest(CASE WHEN len(w) >= 1
                             THEN generate_series(1, len(w))
                             ELSE [] END) AS i
          FROM toks
        ), px AS (
          SELECT doc_id, i - 1 AS pos, w[i] AS token FROM g0
        ), ph AS (
          SELECT * FROM (VALUES (0, 'stream'), (1, 'table'), (2, 'hash'))
                 AS p(off, term)
        ), pc AS (
          SELECT e.doc_id, e.pos - p.off AS start, p.off
          FROM px e JOIN ph p ON e.token = p.term
        ), po AS (
          SELECT doc_id, start FROM pc
          WHERE start >= 0
          GROUP BY doc_id, start
          HAVING COUNT(DISTINCT off) = 3
        ), pm AS (
          SELECT doc_id, COUNT(*) AS n_matches FROM po GROUP BY doc_id
        ), ph_r AS (
          SELECT doc_id, r FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY n_matches DESC, doc_id) AS r
            FROM pm
          ) WHERE r <= {_RRF_LANE_K}
        ), sem AS (
          SELECT e.vec_id AS doc_id,
                 ROUND(5e-10 + list_cosine_similarity(
                     e.embedding::DOUBLE[],
                     (SELECT embedding::DOUBLE[] FROM embeddings
                      WHERE vec_id = 0)), 4) AS c
          FROM embeddings e
        ), sem_r AS (
          SELECT doc_id, r FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS r
            FROM sem
          ) WHERE r <= {_RRF_LANE_K}
        ), fused AS (
          SELECT COALESCE(b.doc_id, p.doc_id, s.doc_id) AS doc_id,
                 COALESCE(1.0 / ({_RRF_K} + b.r), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + p.r), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + s.r), 0.0) AS rrf,
                 b.r AS r_bm25, p.r AS r_phrase, s.r AS r_sem
          FROM bm_r b
          FULL OUTER JOIN ph_r p USING (doc_id)
          FULL OUTER JOIN sem_r s USING (doc_id)
        ), ranked AS (
          SELECT doc_id,
                 ROUND(5e-10 + rrf, 4) AS rrf,
                 CAST(r_bm25 AS BIGINT) AS r_bm25,
                 CAST(r_phrase AS BIGINT) AS r_phrase,
                 CAST(r_sem AS BIGINT) AS r_sem,
                 CAST(ROW_NUMBER() OVER (ORDER BY ROUND(5e-10 + rrf, 4)
                                         DESC, doc_id) AS INT) AS rank
          FROM fused
        )
        SELECT doc_id, rrf, r_bm25, r_phrase, r_sem, rank
        FROM ranked WHERE rank <= {_RRF_TOPN}
        ORDER BY rank
    """,
    doc="Hybrid retrieval by reciprocal rank fusion (RRF, k=60): three "
    "independent rankings — BM25 over ('stream','table','hash'), exact "
    "phrase-match count for the same phrase, and embedding cosine to "
    "the query vector (vec_id 0; the synthetic tables align doc_id to "
    "vec_id) — fused as sum of 1/(60 + rank) with a missing lane "
    "contributing 0. Every lane ranks on the 4dp-biased-rounded score "
    "with id tiebreak, lane scores add in fixed column order (never a "
    "groupBy sum), and 1/(60+r) on integer ranks is IEEE-exact, so the "
    "fused ordering is bit-deterministic cross-engine. Each lane is cut "
    f"to its top-{_RRF_LANE_K} BEFORE fusion (standard RRF serving "
    "semantics; a doc outside a lane's top-K contributes 0 from that "
    "lane, and its rank column is NULL) — the rank<=K filter compiles "
    "to WindowGroupLimit, so every map partition pre-trims to K rows "
    "before the single-partition rank exchange and the shuffle moves "
    "O(K x partitions) rows, never the corpus. Top-10 with per-lane "
    "ranks for explainability — the modern hybrid-search serving shape "
    "composed from the engine's own lanes.",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from economic_data_etl_spark.functions.vectors import (
        dot_product,
        l2_normalize,
    )
    from economic_data_etl_spark.operators.retrieval import (
        bm25_scores,
        phrase_occurrences,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    bm = bm25_scores(docs, list(_PHRASE)).select(
        "doc_id", biased_round(F.col("score")).alias("s")
    )
    bm_r = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("s"), F.asc("doc_id")))
        .alias("r_bm25"),
    ).filter(F.col("r_bm25") <= _RRF_LANE_K)
    pm = phrase_occurrences(docs, list(_PHRASE)).select(
        "doc_id", "n_matches"
    )
    ph_r = pm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("n_matches"), F.asc("doc_id")))
        .alias("r_phrase"),
    ).filter(F.col("r_phrase") <= _RRF_LANE_K)
    qrow = (
        emb.filter(F.col("vec_id") == 0)
        .select(l2_normalize(F.col("embedding")).alias("q"))
        .collect()
    )
    if qrow:
        qlit = F.array(*[F.lit(float(x)) for x in qrow[0]["q"]])
        sem = emb.select(
            F.col("vec_id").alias("doc_id"),
            biased_round(
                dot_product(l2_normalize(F.col("embedding")), qlit)
            ).alias("c"),
        )
    else:  # empty corpus / no query vector: empty semantic lane
        sem = spark.createDataFrame([], "doc_id long, c double")
    sem_r = sem.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("doc_id")))
        .alias("r_sem"),
    ).filter(F.col("r_sem") <= _RRF_LANE_K)
    fused = (
        bm_r.join(ph_r, "doc_id", "full_outer")
        .join(sem_r, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_bm25")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_phrase")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_sem")),
                    F.lit(0.0),
                )
            ).alias("rrf_raw"),
            F.col("r_bm25").cast("long").alias("r_bm25"),
            F.col("r_phrase").cast("long").alias("r_phrase"),
            F.col("r_sem").cast("long").alias("r_sem"),
        )
    )
    ranked = fused.select(
        "doc_id",
        biased_round(F.col("rrf_raw")).alias("rrf"),
        "r_bm25",
        "r_phrase",
        "r_sem",
    ).select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rrf"), F.asc("doc_id")))
        .cast("int")
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= _RRF_TOPN).orderBy("rank")


@register(
    "text_phrase_incremental",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), g0 AS (
          SELECT doc_id, w,
                 unnest(CASE WHEN len(w) >= 1
                             THEN generate_series(1, len(w))
                             ELSE [] END) AS i
          FROM toks
        ), ex AS (
          SELECT doc_id, i - 1 AS pos, w[i] AS token FROM g0
        ), ph AS (
          SELECT * FROM (VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))})
                 AS p(off, term)
        ), cand AS (
          SELECT e.doc_id, e.pos - p.off AS start, p.off
          FROM ex e JOIN ph p ON e.token = p.term
        ), occ AS (
          SELECT doc_id, start FROM cand
          WHERE start >= 0
          GROUP BY doc_id, start
          HAVING COUNT(DISTINCT off) = {len(_PHRASE)}
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(MIN(start) AS BIGINT) AS first_pos
        FROM occ
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc="INCREMENTAL positional phrase search: a standing (doc, token, "
    f"pos) index is built from docs below {_BM25I_SPLIT}, a batch "
    f"covering docs >= {_BM25I_OVERLAP} is appended through the same "
    "idempotent membership anti-join as the BM25 index (the overlap "
    "is a simulated redelivery, contributing nothing), and the phrase "
    f"query {' '.join(_PHRASE)!r} is served from the index WITHOUT "
    "re-tokenizing the corpus (token filter prunes to the phrase's "
    "postings). The oracle is the FULL-CORPUS positional replay, so a "
    "green row proves index-served phrase search equals the one-shot "
    "pass — the standing-index twin of text_phrase_search "
    "(operators/retrieval.py:build_positional_postings/"
    "append_positional/phrase_from_index).",
)
def text_phrase_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.retrieval import (
        append_positional,
        build_positional_postings,
        phrase_from_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < _BM25I_SPLIT)
    postings0 = build_positional_postings(base)
    doclens0 = base.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.col("text"), "[ \\t\\n\\r]+"),
                lambda t: t != "",
            )
        )
        .cast("long")
        .alias("dl"),
    )
    batch = docs.filter(F.col("doc_id") >= _BM25I_OVERLAP)
    postings1, _doclens1 = append_positional(doclens0, batch)
    postings = postings0.unionByName(postings1)
    return phrase_from_index(postings, list(_PHRASE)).orderBy("doc_id")
