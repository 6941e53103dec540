"""Training-data curation queries, part 3: mixing, weighting, and
semantic dedup.

Six operators a web-scale pretraining pipeline runs after quality
filtering and before tokenization:

- per-domain quotas (cap any one source's share of the corpus),
- temperature-scaled source mixing (mT5-style n^τ sampling rates with
  deterministic hash membership),
- DSIR-style importance weighting (Xie et al., arXiv:2302.03169 —
  rank raw docs by how target-like their unigram distribution is),
- cross-document duplicated-ngram fraction (corpus-level repetition,
  the complement of the within-doc Gopher filters in text2.py),
- exact-substring duplicated spans (gaps-and-islands over duplicated
  sliding windows — the relational stand-in for suffix-array dedup),
- SemDeDup semantic dedup over embeddings (operators/semantic.py).

No reference counterpart (the reference is an economic-series ETL);
these extend the LLM-pipeline surface next to plans/text.py / text2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table

_QUOTA = 15
_DSIR_TOP = 50
_SEM_K = 8
_SEM_TAU = 0.4
_SEM_PROBES = 3
# Clusters scale with the corpus (k ≈ n/250): with fixed k the
# within-cluster self-join is O(p²n²/k) — quadratic, a scale-killer; with
# k ∝ n it is O(p²·n·250) — linear. At the test SFs (n ≤ 2000) this
# floor keeps k at 8, so the oracle is unchanged while the scale path is
# real.
_SEM_DOCS_PER_CLUSTER = 250


@register(
    "curation_source_quota",
    oracle=f"""
        SELECT doc_id, source, rk FROM (
            SELECT doc_id, source,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS INT) AS rk
            FROM documents
        ) t
        WHERE rk <= {_QUOTA}
        ORDER BY source, rk
    """,
    doc="Per-source quota sampling: cap every source at a fixed number "
    "of documents, chosen by deterministic hash order (md5 of the doc "
    "id — unbiased w.r.t. position in the crawl, reproducible across "
    "engines). The rank<=k filter compiles to WindowGroupLimit: each "
    "map task keeps only its local top-k per source BEFORE the "
    "shuffle, so a 100 TB corpus with a million-doc domain moves "
    "~quota rows per source per task, not the domain. One shuffle on "
    "source.",
)
def curation_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= _QUOTA)
        .orderBy("source", "rk")
    )


@register(
    "text_importance_weights",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id, lang,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS term
            FROM documents
        ), raw AS (
            SELECT term, COUNT(*) AS c_raw FROM toks GROUP BY term
        ), tgt AS (
            SELECT term, COUNT(*) AS c_tgt FROM toks
            WHERE lang = 'en' GROUP BY term
        ), scal AS (
            SELECT CAST(SUM(c_raw) AS DOUBLE) AS total_raw,
                   CAST(COUNT(*) AS DOUBLE) AS vocab
            FROM raw
        ), tscal AS (
            SELECT CAST(COALESCE(SUM(c_tgt), 0) AS DOUBLE) AS total_tgt
            FROM tgt
        ), weighted AS (
            SELECT t.doc_id,
                   AVG(ln(((COALESCE(g.c_tgt, 0) + 1) / (ts.total_tgt + s.vocab))
                        / ((r.c_raw + 1) / (s.total_raw + s.vocab))))
                       AS w
            FROM toks t
            JOIN raw r USING (term)
            LEFT JOIN tgt g USING (term)
            CROSS JOIN scal s CROSS JOIN tscal ts
            GROUP BY t.doc_id
        )
        SELECT d.doc_id, d.lang,
               ROUND(5e-10 + w.w, 4) AS importance
        FROM weighted w JOIN documents d USING (doc_id)
        ORDER BY ROUND(5e-10 + w.w, 4) DESC, d.doc_id
        LIMIT {_DSIR_TOP}
    """,
    doc="DSIR-style importance weights (Xie et al., arXiv:2302.03169, "
    "simplified to unigrams): score every raw document by the mean "
    "log-likelihood ratio of its tokens under a smoothed target "
    "unigram LM (English docs) vs the raw-corpus LM; top docs are the "
    "ones importance sampling would keep. The two LMs are "
    "term->count tables built with one token-explode + groupBy and "
    "broadcast back against the token stream — at 100 TB the LM is "
    "the only state and it is vocabulary-sized, not corpus-sized. "
    "Ordering binds on the ROUNDED weight then doc_id so float-sum "
    "noise below display precision can't reorder the cut.",
)
def text_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
        ).alias("term"),
    )
    raw = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    scal = raw.agg(
        F.sum("c_raw").cast("double").alias("total_raw"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    tscal = tgt.agg(
        F.coalesce(F.sum("c_tgt"), F.lit(0)).cast("double").alias("total_tgt")
    )
    lm = (
        raw.join(tgt, "term", "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(tscal))
        .select(
            "term",
            F.log(
                ((F.coalesce(F.col("c_tgt"), F.lit(0)) + 1)
                 / (F.col("total_tgt") + F.col("vocab")))
                / ((F.col("c_raw") + 1)
                   / (F.col("total_raw") + F.col("vocab")))
            ).alias("llr"),
        )
    )
    weighted = (
        toks.join(F.broadcast(lm), "term")
        .groupBy("doc_id")
        .agg(F.avg("llr").alias("w"))
    )
    return (
        weighted.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            biased_round(F.col("w")).alias("importance"),
        )
        .orderBy(F.col("importance").desc(), "doc_id")
        .limit(_DSIR_TOP)
    )


@register(
    "dedup_semantic_embedding",
    oracle=f"""
        WITH seeds AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
            FROM embeddings
            WHERE vec_id < GREATEST({_SEM_K},
                (SELECT COUNT(*) // {_SEM_DOCS_PER_CLUSTER} FROM embeddings))
        ), scored AS (
            SELECT e.vec_id, s.cid,
                   list_cosine_similarity(e.embedding::DOUBLE[], s.cv) AS d
            FROM embeddings e CROSS JOIN seeds s
        ), ranked AS (
            SELECT vec_id, CAST(cid AS INT) AS cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d DESC, cid ASC
                   ) AS rn
            FROM scored
        ), best AS (
            SELECT vec_id, cluster FROM ranked WHERE rn = 1
        ), probed AS (
            SELECT vec_id, cluster FROM ranked WHERE rn <= {_SEM_PROBES}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM probed a JOIN probed b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        ), normed AS (
            SELECT vec_id,
                   list_transform(
                       embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                           embedding::DOUBLE[], y -> y * y)))) AS nv
            FROM embeddings
        ), pairs AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN normed na ON na.vec_id = c.id_a
            JOIN normed nb ON nb.vec_id = c.id_b
            WHERE list_dot_product(na.nv, nb.nv) >= {_SEM_TAU}
        ), dropped AS (
            SELECT DISTINCT p.id_b, bb.cluster
            FROM pairs p JOIN best bb ON bb.vec_id = p.id_b
        ), sizes AS (
            SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors
            FROM best GROUP BY cluster
        ), drops AS (
            SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_dropped
            FROM dropped GROUP BY cluster
        )
        SELECT s.cluster, s.n_vectors,
               CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped
        FROM sizes s LEFT JOIN drops d USING (cluster)
        ORDER BY cluster
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540) "
    "over the embeddings table: rank k seed centroids per vector by "
    "cosine (pure expressions, no shuffle), probe the top 3, and find "
    "near-dup pairs only among vectors sharing a probed cluster (one "
    "shuffle on the cluster key; O(p²n²/k) instead of O(n²); measured "
    "recall 0.92 vs the exact pairwise baseline at τ=0.4). The higher "
    "id of each pair is dropped, attributed to its primary cluster. "
    "Seed centroids (first k by id, raw) keep every float op "
    "sequential-order-identical across engines, so this approximate "
    "operator still gets an EXACT value-hash oracle; the Lloyd-refined "
    "variant (operators/semantic.py, iters>0) is behaviorally tested "
    "instead (tests/test_semantic_dedup.py).",
)
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.semantic import (
        semantic_dedup_summary,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # one scalar to the driver — sizes k to the corpus (see
    # _SEM_DOCS_PER_CLUSTER); same GREATEST floor as the oracle.
    k = max(_SEM_K, emb.count() // _SEM_DOCS_PER_CLUSTER)
    return semantic_dedup_summary(
        emb, k=k, iters=0, threshold=_SEM_TAU, probes=_SEM_PROBES
    )


@register(
    "dedup_semantic_bucketed",
    oracle=f"""
        WITH seeds AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
            FROM embeddings
            WHERE vec_id < GREATEST({_SEM_K},
                (SELECT COUNT(*) // {_SEM_DOCS_PER_CLUSTER} FROM embeddings))
        ), scored AS (
            SELECT e.vec_id, s.cid,
                   list_cosine_similarity(e.embedding::DOUBLE[], s.cv) AS d
            FROM embeddings e CROSS JOIN seeds s
        ), probed AS (
            SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY d DESC, cid ASC
                       ) AS rn
                FROM scored
            ) r WHERE rn <= {_SEM_PROBES}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM probed a JOIN probed b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        ), normed AS (
            SELECT vec_id,
                   list_transform(
                       embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                           embedding::DOUBLE[], y -> y * y)))) AS nv
            FROM embeddings
        )
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN normed na ON na.vec_id = c.id_a
        JOIN normed nb ON nb.vec_id = c.id_b
        WHERE list_dot_product(na.nv, nb.nv) >= {_SEM_TAU}
        ORDER BY id_a, id_b
    """,
    doc="The cluster-PARTITIONED semantic-dedup layout — the 100 TB "
    "execution the module docstring promises, demonstrated end to end: "
    "the multi-probe assignment (cluster, id, normalized vector) is "
    "written as a table bucketed by `cluster` "
    "(operators/skew.py:write_bucketed), then the within-cluster pair "
    "self-join reads the buckets twice and joins WITHOUT any Exchange "
    "on the cluster key (plan pinned in tests/test_plan_shapes.py) — "
    "the one corpus shuffle the in-memory operator pays per pass is "
    "paid once at write time and amortized over every dedup pass "
    "against the layout. Pair set is identical to the in-memory "
    "operator's (pinned in tests/test_semantic_dedup.py) and "
    "oracle-checked against the same DuckDB pair CTE as "
    "dedup_semantic_embedding.",
)
def dedup_semantic_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = build_semantic_bucketed_layout(spark, sf_dir)
    if table is None:
        return spark.createDataFrame([], "id_a long, id_b long")
    return semantic_bucketed_pairs_only(spark, table)


def build_semantic_bucketed_layout(
    spark: SparkSession, sf_dir: str
) -> str | None:
    """Phase 1 of dedup_semantic_bucketed: write the cluster-bucketed
    assignment layout for `sf_dir` and return its table name (None on
    an empty corpus). Split out so bench.py can time the ONE-TIME
    layout write separately from the per-pass join it amortizes.

    The table name is derived from sf_dir so concurrent or interleaved
    invocations against different corpora cannot clobber each other's
    layout mid-read (deterministic per corpus, so re-runs still
    reuse/replace their own table)."""
    import hashlib

    from economic_data_etl_spark.operators.semantic import (
        seed_centroids,
        write_assignment_bucketed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = max(_SEM_K, emb.count() // _SEM_DOCS_PER_CLUSTER)
    cents = seed_centroids(emb, k)
    if not cents:
        return None
    sig = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"semantic_assignment_by_cluster_{sig}"
    # num_buckets should match the executor parallelism the pair pass
    # runs at (1 bucket file = 1 scan task): 16 buckets on local[32]
    # left half the cores idle — measured 32 buckets: write 7.4→4.1 s,
    # pair pass 6.1→4.7 s at sf0.1 (array layout; the scalar-component
    # layout then takes the pair pass to ~1.1 s warm / 2.7 s
    # cold-JVM-harness — see SCALAR_DOT_MAX_DIM in operators/semantic).
    # At 100 TB pick buckets ≈ cluster task slots, capped so one bucket
    # fits a task's memory.
    write_assignment_bucketed(
        emb, cents, table, probes=_SEM_PROBES, num_buckets=32
    )
    return table


def semantic_bucketed_pairs_only(
    spark: SparkSession, table: str
) -> DataFrame:
    """Phase 2 of dedup_semantic_bucketed: the Exchange-free pair pass
    against a PREBUILT layout — the cost paid per dedup run once the
    layout exists. bench.py times this phase alone
    (`dedup_semantic_bucketed_pairs_only`) to quantify the
    amortization claim."""
    from economic_data_etl_spark.operators.semantic import (
        semantic_near_dup_pairs_from_bucketed,
    )

    return semantic_near_dup_pairs_from_bucketed(
        spark, table, threshold=_SEM_TAU
    ).orderBy("id_a", "id_b")


_DUP_NGRAM_N = 5
_DUP_FRAC_MAX = 0.5
_TEMP_TAU = 0.7


@register(
    "dedup_duplicated_ngram_fraction",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(w) >= {_DUP_NGRAM_N}
                            THEN list_transform(
                                generate_series(1, len(w) - {_DUP_NGRAM_N - 1}),
                                i -> concat_ws(' ', w[i], w[i+1], w[i+2],
                                               w[i+3], w[i+4]))
                            ELSE [array_to_string(w, ' ')]
                       END) AS shingles
            FROM toks
        ), inv AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM sh
        ), cnt AS (
            SELECT shingle, COUNT(*) AS n_docs FROM inv GROUP BY shingle
        ), per_doc AS (
            SELECT i.doc_id,
                   COUNT(*) AS n_shingles,
                   SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
            FROM inv i JOIN cnt c USING (shingle)
            GROUP BY i.doc_id
        )
        SELECT doc_id,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               ROUND(5e-10 + n_dup * 1.0 / n_shingles, 4) AS dup_frac,
               CAST(CASE WHEN n_dup * 1.0 / n_shingles <= {_DUP_FRAC_MAX}
                         THEN 1 ELSE 0 END AS INT) AS keep
        FROM per_doc
        ORDER BY doc_id
    """,
    doc="Cross-document duplicated-text fraction (the corpus-level twin "
    "of the Gopher WITHIN-doc repetition filters; cf. Lee et al., "
    "'Deduplicating Training Data Makes Language Models Better', "
    "arXiv:2107.06499): per document, the fraction of its distinct "
    "5-word shingles that also appear in at least one OTHER document, "
    "and a keep verdict at a fixed ceiling. Two shuffles total — one "
    "groupBy counting docs per shingle, one join back + per-doc "
    "re-agg; both key on the shingle/doc, never on the corpus "
    "pairwise. The verdict binds on the RAW ratio so display rounding "
    "can't flip it.",
)
def dedup_duplicated_ngram_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    inv = docs.select(
        "doc_id",
        F.explode(
            word_shingles(F.col("text"), _DUP_NGRAM_N)
        ).alias("shingle"),
    )
    cnt = inv.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_doc = (
        inv.join(cnt, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("n_docs") >= 2, 1).otherwise(0)
            ).alias("n_dup"),
        )
    )
    raw_frac = F.col("n_dup") / F.col("n_shingles")
    return (
        per_doc.select(
            "doc_id",
            "n_shingles",
            biased_round(raw_frac).alias("dup_frac"),
            (raw_frac <= _DUP_FRAC_MAX).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "curation_temperature_mix",
    oracle=f"""
        WITH sizes AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_docs
            FROM documents GROUP BY source
        ), w AS (
            SELECT source, n_docs, pow(n_docs, {_TEMP_TAU}) AS wt
            FROM sizes
        ), rates AS (
            SELECT source, n_docs,
                   wt / (SELECT SUM(wt) FROM w) AS rate
            FROM w
        ), sampled AS (
            SELECT d.source, COUNT(*) AS n_sampled
            FROM documents d JOIN rates r USING (source)
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) / 4294967296.0 < r.rate
            GROUP BY d.source
        )
        SELECT r.source,
               CAST(r.n_docs AS BIGINT) AS n_docs,
               ROUND(5e-10 + r.rate, 4) AS rate,
               CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
        FROM rates r LEFT JOIN sampled s USING (source)
        ORDER BY r.source
    """,
    doc="Temperature-scaled source mixing (the multilingual-sampling "
    "rule of Xue et al., mT5, arXiv:2010.11934, applied to sources): "
    "source s is sampled with probability ∝ n_s^τ (τ=0.7), flattening "
    "the head and boosting the tail vs proportional sampling. "
    "Membership is decided per doc by deterministic hash "
    "(first 8 md5 hex digits as a uniform [0,1) draw < rate) — "
    "reproducible across engines and restarts, no RNG state. One "
    "groupBy for sizes; the rate table is tiny and broadcast back; "
    "the corpus scan never shuffles.",
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    w = sizes.select(
        "source", "n_docs", F.pow("n_docs", F.lit(_TEMP_TAU)).alias("wt")
    )
    tot = w.agg(F.sum("wt").alias("tot"))
    rates = w.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", (F.col("wt") / F.col("tot")).alias("rate")
    )
    draw = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        / F.lit(4294967296.0)
    )
    sampled = (
        docs.join(F.broadcast(rates.select("source", "rate")), "source")
        .filter(draw < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        rates.join(sampled, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            biased_round(F.col("rate")).alias("rate"),
            F.coalesce(F.col("n_sampled"), F.lit(0).cast("long")).alias(
                "n_sampled"
            ),
        )
        .orderBy("source")
    )


_SPAN_L = 8  # window length in tokens for exact-substring detection


@register(
    "dedup_longest_duplicated_span",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
            FROM documents
        ), wins AS (
            SELECT doc_id, i AS pos,
                   concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                             w[i+4], w[i+5], w[i+6], w[i+7]) AS win
            FROM toks, UNNEST(generate_series(1, len(w) - {_SPAN_L - 1})) AS t(i)
            WHERE len(w) >= {_SPAN_L}
        ), cnt AS (
            SELECT win, COUNT(*) AS n FROM wins GROUP BY win
        ), marked AS (
            SELECT w.doc_id, w.pos
            FROM wins w JOIN cnt c USING (win)
            WHERE c.n >= 2
        ), islands AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS isl
            FROM marked
        ), runs AS (
            SELECT doc_id, COUNT(*) AS run_len
            FROM islands GROUP BY doc_id, isl
        ), per_doc AS (
            SELECT w.doc_id,
                   COUNT(*) AS n_windows,
                   COUNT(*) FILTER (WHERE c.n >= 2) AS n_dup_windows
            FROM wins w JOIN cnt c USING (win)
            GROUP BY w.doc_id
        )
        SELECT p.doc_id,
               CAST(p.n_windows AS BIGINT) AS n_windows,
               CAST(p.n_dup_windows AS BIGINT) AS n_dup_windows,
               CAST(COALESCE(MAX(r.run_len) + {_SPAN_L - 1}, 0) AS BIGINT)
                   AS longest_dup_span
        FROM per_doc p LEFT JOIN runs r USING (doc_id)
        GROUP BY p.doc_id, p.n_windows, p.n_dup_windows
        ORDER BY p.doc_id
    """,
    doc="Exact-substring duplication spans (Lee et al., 'Deduplicating "
    "Training Data Makes Language Models Better', arXiv:2107.06499, "
    "re-expressed relationally — no suffix array): hash every "
    f"{_SPAN_L}-token sliding window with its POSITION, count windows "
    "globally, then per document find the longest RUN of consecutive "
    "duplicated positions (gaps-and-islands: pos − row_number is "
    "constant within a run). longest_dup_span is in TOKENS (run + L−1); "
    "docs shorter than L tokens are excluded (no windows). One "
    "groupBy on the window text, one join back, one per-doc window "
    "pass — the corpus never self-joins pairwise.",
)
def dedup_longest_duplicated_span(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array behind a projection boundary BEFORE the
    # window-building lambda touches it: a captured filter(split(text))
    # expression re-splits the whole document on every element_at
    # invocation (8 per window — measured 55 s vs 2 s at sf0.1).
    toked = docs.select(
        "doc_id",
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "").alias(
            "w"
        ),
    ).filter(F.size("w") >= _SPAN_L)
    toks = F.col("w")
    n_win = F.size(toks) - F.lit(_SPAN_L - 1)
    wins = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(
                        " ",
                        *[F.element_at(toks, i + j) for j in range(_SPAN_L)],
                    ).alias("win"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.win")
    cnt = wins.groupBy("win").agg(F.count(F.lit(1)).alias("n"))
    joined = wins.join(cnt, "win")
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).alias(
            "n_dup_windows"
        ),
    )
    marked = joined.filter(F.col("n") >= 2).select("doc_id", "pos")
    isl = marked.withColumn(
        "isl",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    runs = isl.groupBy("doc_id", "isl").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    longest = runs.groupBy("doc_id").agg(
        (F.max("run_len") + F.lit(_SPAN_L - 1)).alias("span")
    )
    return (
        per_doc.join(longest, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.coalesce(F.col("span"), F.lit(0)).cast("long").alias(
                "longest_dup_span"
            ),
        )
        .orderBy("doc_id")
    )


_INC_SPLIT = 400  # vec_id >= split = the "newly arrived" batch


@register(
    "dedup_incremental_semantic",
    oracle=f"""
        WITH seeds AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
            FROM embeddings WHERE vec_id < {_SEM_K}
        ), scored AS (
            SELECT e.vec_id, s.cid,
                   list_cosine_similarity(e.embedding::DOUBLE[], s.cv) AS d
            FROM embeddings e CROSS JOIN seeds s
        ), probed AS (
            SELECT vec_id, cluster FROM (
                SELECT vec_id, CAST(cid AS INT) AS cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY d DESC, cid ASC
                       ) AS rn
                FROM scored
            ) t WHERE rn <= {_SEM_PROBES}
        ), cand AS (
            SELECT DISTINCT LEAST(b.vec_id, o.vec_id) AS id_a,
                            GREATEST(b.vec_id, o.vec_id) AS id_b
            FROM probed b JOIN probed o
              ON b.cluster = o.cluster AND b.vec_id <> o.vec_id
            WHERE b.vec_id >= {_INC_SPLIT}
        ), normed AS (
            SELECT vec_id,
                   list_transform(
                       embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                           embedding::DOUBLE[], y -> y * y)))) AS nv
            FROM embeddings
        )
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN normed na ON na.vec_id = c.id_a
        JOIN normed nb ON nb.vec_id = c.id_b
        WHERE list_dot_product(na.nv, nb.nv) >= {_SEM_TAU}
        ORDER BY id_a, id_b
    """,
    doc="Incremental semantic dedup: near-dup pairs with at least one "
    f"side in the newly-arrived batch (vec_id >= {_INC_SPLIT}) against "
    "the standing corpus — batch-vs-index and batch-vs-batch, never "
    "index-vs-index, so per-increment work is |batch| × cluster "
    "occupancy while history is never re-paired. Centroids are FROZEN "
    "(first k of the original corpus) — the invariant a standing "
    "index relies on; "
    "tests/test_semantic_dedup.py pins incremental ≡ full-minus-"
    "index-only-pairs.",
)
def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.semantic import (
        seed_centroids,
        semantic_incremental_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    index = emb.filter(F.col("vec_id") < _INC_SPLIT)
    batch = emb.filter(F.col("vec_id") >= _INC_SPLIT)
    cents = seed_centroids(index, _SEM_K)
    return semantic_incremental_pairs(
        index, batch, cents, _SEM_TAU, probes=_SEM_PROBES
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Blocklist gating: word + phrase lexicon filter.
# --------------------------------------------------------------------------
_BLOCK_WORDS = ("error", "slow")
_BLOCK_PHRASES = (("stream", "table", "hash"),)
_BLOCK_MAX_WORD_FRAC = 0.05  # > 5% blocked tokens -> drop
# any phrase hit -> drop


@register(
    "curation_blocklist_filter",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, source,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), scored AS (
          SELECT doc_id, source, len(w) AS n_tokens,
                 len(list_filter(w, t -> t IN
                     ({", ".join(f"'{{x}}'".format(x=x) for x in _BLOCK_WORDS)}))) AS word_hits,
                 len(list_filter(
                     CASE WHEN len(w) >= 3
                          THEN generate_series(1, len(w) - 2)
                          ELSE [] END,
                     i -> w[i] = 'stream' AND w[i+1] = 'table'
                          AND w[i+2] = 'hash')) AS phrase_hits
          FROM toks
        ), verdicts AS (
          SELECT source,
                 CAST(word_hits AS BIGINT) AS word_hits,
                 CAST(phrase_hits AS BIGINT) AS phrase_hits,
                 (phrase_hits > 0 OR (n_tokens > 0 AND
                  word_hits * 1.0 / n_tokens > {_BLOCK_MAX_WORD_FRAC}))
                     AS dropped
          FROM scored
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               CAST(SUM(word_hits) AS BIGINT) AS total_word_hits,
               CAST(SUM(phrase_hits) AS BIGINT) AS total_phrase_hits
        FROM verdicts
        GROUP BY source ORDER BY source
    """,
    doc="Blocklist gating — the lexicon filter every production "
    "curation pipeline runs (profanity/spam/boilerplate lists): "
    f"token-exact word hits against {_BLOCK_WORDS!r} and exact "
    "phrase hits against the 3-gram "
    f"{' '.join(_BLOCK_PHRASES[0])!r}; a doc drops on ANY phrase hit "
    f"or a blocked-word fraction above {_BLOCK_MAX_WORD_FRAC}. "
    "Per-source accounting (docs, drops, hit totals). EVERYTHING is "
    "per-row narrow array expressions over one tokenization — the "
    "blocklist is a literal, the corpus never shuffles before the "
    "sources-sized summary. The oracle replays hits, verdicts, and "
    "accounting per source.",
)
def curation_blocklist_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.substring import word_array

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", word_array(F.col("text")).alias("w")
    )
    w = F.col("w")
    words = F.array(*[F.lit(x) for x in _BLOCK_WORDS])
    word_hits = F.size(
        F.filter(w, lambda t: F.array_contains(words, t))
    )
    ph = _BLOCK_PHRASES[0]
    phrase_hits = F.when(
        F.size(w) >= len(ph),
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(w) - (len(ph) - 1)),
                lambda i: (F.element_at(w, i) == ph[0])
                & (F.element_at(w, i + 1) == ph[1])
                & (F.element_at(w, i + 2) == ph[2]),
            )
        ),
    ).otherwise(F.lit(0))
    scored = toks.select(
        "source",
        F.size(w).alias("n_tokens"),
        word_hits.cast("long").alias("word_hits"),
        phrase_hits.cast("long").alias("phrase_hits"),
    )
    dropped = (F.col("phrase_hits") > 0) | (
        (F.col("n_tokens") > 0)
        & (
            F.col("word_hits") / F.col("n_tokens")
            > F.lit(_BLOCK_MAX_WORD_FRAC)
        )
    )
    return (
        scored.withColumn("dropped", dropped)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("dropped").cast("long"))
            .cast("long")
            .alias("n_dropped"),
            F.sum("word_hits").cast("long").alias("total_word_hits"),
            F.sum("phrase_hits")
            .cast("long")
            .alias("total_phrase_hits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Neyman-allocated stratified sampling

_STRAT_N = 100  # total sample budget
_STRAT_SALT = "strat-v1"


@register(
    "curation_stratified_sample",
    oracle=f"""
    WITH mom AS (
        SELECT source, COUNT(*) AS nh,
               SUM(n_chars * 1.0) AS sx,
               SUM(n_chars * 1.0 * n_chars) AS sxx
        FROM documents GROUP BY source
    ), sig AS (
        SELECT source, nh,
               SQRT(GREATEST(sxx / nh - (sx / nh) * (sx / nh),
                             0.0)) AS sigma
        FROM mom
    ), shares AS (
        SELECT source, nh, sigma,
               ROUND(5e-10 + {_STRAT_N} * (nh * sigma)
                     / SUM(nh * sigma) OVER (), 6) AS share
        FROM sig
    ), alloc0 AS (
        SELECT *, CAST(FLOOR(share) AS BIGINT) AS a0,
               share - FLOOR(share) AS rem
        FROM shares
    ), defic AS (
        SELECT {_STRAT_N} - SUM(a0) AS d FROM alloc0
    ), alloc AS (
        SELECT source, nh, sigma,
               a0 + CASE WHEN ROW_NUMBER() OVER (
                        ORDER BY rem DESC, source) <= (SELECT d
                                                       FROM defic)
                    THEN 1 ELSE 0 END AS nh_alloc
        FROM alloc0
    ), ranked AS (
        SELECT d.source, d.doc_id, a.nh, a.sigma, a.nh_alloc,
               ROW_NUMBER() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('{_STRAT_SALT}'
                                || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id) AS rn
        FROM documents d JOIN alloc a USING (source)
    )
    SELECT source,
           CAST(MAX(nh) AS BIGINT) AS n_docs,
           ROUND(5e-10 + MAX(sigma), 4) AS sigma,
           CAST(MAX(nh_alloc) AS BIGINT) AS alloc,
           CAST(SUM(CASE WHEN rn <= nh_alloc THEN 1 ELSE 0 END)
                AS BIGINT) AS sampled,
           CAST(SUM(CASE WHEN rn <= nh_alloc THEN doc_id ELSE 0 END)
                AS BIGINT) AS id_sum
    FROM ranked GROUP BY source ORDER BY source
    """,
    doc=f"Neyman-allocated stratified sampling (budget {_STRAT_N} "
    "docs): per-source allocation proportional to N_h * sigma_h (the "
    "variance-optimal allocation for estimating the corpus mean), "
    "integerized by the largest-remainder (Hamilton) method so the "
    "budget is hit exactly. The membership decisions are rounded-"
    "gate-safe: shares are biased-rounded to 6dp BEFORE floor/"
    "remainder so both engines integerize identically, and the "
    "within-stratum sample is the md5-hash-ranked prefix (determin"
    "istic, uniform, engine-portable — ranks compare lowercase hex "
    "strings). ONE moment pass over the corpus (3 doubles per "
    "stratum), allocation arithmetic on the strata-bounded table, "
    "then a source-partitioned rank to cut each stratum's prefix. "
    "id_sum value-checks the EXACT sample membership, not just "
    "counts.",
)
def curation_stratified_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars") * F.lit(1.0)
    mom = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(x).alias("sx"),
        F.sum(x * F.col("n_chars")).alias("sxx"),
    )
    nh = F.col("nh")
    sig = mom.select(
        "source",
        "nh",
        F.sqrt(
            F.greatest(
                F.col("sxx") / nh
                - (F.col("sx") / nh) * (F.col("sx") / nh),
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    wall = Window.partitionBy()
    shares = sig.select(
        "source",
        "nh",
        "sigma",
        biased_round(
            F.lit(_STRAT_N)
            * (nh * F.col("sigma"))
            / F.sum(nh * F.col("sigma")).over(wall),
            6,
        ).alias("share"),
    )
    alloc0 = shares.select(
        "*",
        F.floor("share").cast("long").alias("a0"),
        (F.col("share") - F.floor("share")).alias("rem"),
    )
    wrem = Window.orderBy(F.desc("rem"), F.asc("source"))
    defic = F.lit(_STRAT_N) - F.sum("a0").over(wall)
    alloc = alloc0.select(
        "source",
        "nh",
        "sigma",
        (
            F.col("a0")
            + F.when(
                F.row_number().over(wrem) <= defic, 1
            ).otherwise(0)
        ).alias("nh_alloc"),
    )
    hashed = F.md5(
        F.concat(
            F.lit(_STRAT_SALT), F.col("doc_id").cast("string")
        )
    )
    wsrc = Window.partitionBy("source").orderBy(
        hashed, F.col("doc_id")
    )
    ranked = (
        docs.select("source", "doc_id")
        .join(F.broadcast(alloc), "source")
        .withColumn("rn", F.row_number().over(wsrc))
    )
    inpick = F.col("rn") <= F.col("nh_alloc")
    return (
        ranked.groupBy("source")
        .agg(
            F.max("nh").cast("long").alias("n_docs"),
            biased_round(F.max("sigma")).alias("sigma"),
            F.max("nh_alloc").cast("long").alias("alloc"),
            F.sum(F.when(inpick, 1).otherwise(0))
            .cast("long")
            .alias("sampled"),
            F.sum(F.when(inpick, F.col("doc_id")).otherwise(0))
            .cast("long")
            .alias("id_sum"),
        )
        .orderBy("source")
    )
