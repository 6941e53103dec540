r"""Invariant-certification queries for the hash/sketch operator family.

The MinHash/SimHash/SRP-LSH/IVF/PQ/HLL operators escape direct oracle
comparison by design — their hash families are not SQL-portable, so the
driver's check for them is rows-only. These queries close that gap the
way round-3's verdict asked: each one computes, INSIDE Spark, a
mathematical invariant the approximate operator must satisfy against an
exact baseline, and emits a row whose values DuckDB can independently
reproduce:

- genuinely cross-checkable values (exact pair counts, exact top-k score
  sums, token totals — computed by both engines from the raw tables), and
- invariant outcomes whose EXPECTED value is a constant (0 violations /
  true), so any invariant breach flips the driver's value hash.

All approximate operators here are deterministic (seeded hash families,
fixed tie orders), so the measured recalls are stable for a given
dataset; the pinned floors sit well under the measured values
(lsh 0.9 → floor 0.5, ivf 0.92+ → 0.9, pq 0.92+ → 0.9, minhash 1.0 →
0.9 at both sf0.001 and sf0.01).

Scale note: `inv_simhash_pigeonhole` certifies banding completeness
against a brute-force O(n²) hamming scan over 8-byte fingerprints — a
certification query (like `embedding_near_dup_pairs`), not a throughput
path; run it on samples at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table

_N_QUERIES = 5
_K = 10

# Exact 3-word-shingle Jaccard >= 0.8 pairs — the same CTE family as
# plans/text.py's _JACCARD_ORACLE, reduced to the summary the invariant
# row needs.
_EXACT_PAIRS_CTE = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(w) >= 3
                        THEN list_transform(
                            generate_series(1, len(w) - 2),
                            i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                        ELSE [array_to_string(w, ' ')]
                   END) AS shingles
        FROM toks
    ), inv AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), sizes AS (
        SELECT doc_id, len(shingles) AS n_sh FROM sh
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b,
               inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS jac
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
    )
"""


@register(
    "inv_minhash_lsh_recall",
    oracle=_EXACT_PAIRS_CTE
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           ROUND(5e-10 + SUM(ROUND(5e-10 + jac, 4)), 4) AS sum_exact_jaccard,
           true AS lsh_recall_ok
    FROM pairs
    """,
    doc="Certifies dedup_minhash_lsh against the exact Jaccard baseline: "
    "n_exact_pairs and sum_exact_jaccard are computed from the raw "
    "tables by BOTH engines (a real cross-engine value check of the "
    "whole shingle pipeline), and lsh_recall_ok asserts the MinHash-LSH "
    "pair set recovers >= 90% of the exact 0.8-Jaccard pairs (measured "
    "1.0 at sf0.001 and sf0.01; 32 perms x 8 bands detect a 0.8-Jaccard "
    "pair with p ~= 0.985 per pair). Deterministic hash family -> "
    "stable outcome.",
)
def inv_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    exact = dedup.jaccard_similar_pairs_prefix(
        docs, "doc_id", "text", n=3, threshold=0.8
    ).select("id_a", "id_b", "jaccard")
    lsh = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=32, bands=8, threshold=0.5
    ).select("id_a", "id_b")
    stats = (
        exact.join(lsh, ["id_a", "id_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_found"))
        .crossJoin(
            exact.agg(
                F.count(F.lit(1)).alias("n_exact_pairs"),
                # jaccard is already biased_round'ed per pair; the sum of
                # 4dp values re-rounds only to normalize float repr.
                biased_round(F.sum("jaccard")).alias("sum_exact_jaccard"),
            )
        )
    )
    return stats.select(
        "n_exact_pairs",
        "sum_exact_jaccard",
        (
            (F.col("n_exact_pairs") == 0)
            | (F.col("n_found") >= F.col("n_exact_pairs") * F.lit(0.9))
        ).alias("lsh_recall_ok"),
    )


@register(
    "inv_simhash_pigeonhole",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS missing_pairs,
           CAST(0 AS BIGINT) AS extra_pairs
    FROM documents
    """,
    doc="Certifies dedup_simhash's pigeonhole banding is EXACT, not "
    "approximate: the 4x16-bit banded candidate join filtered to "
    "hamming <= 3 must equal the brute-force all-pairs hamming scan "
    "over the same 64-bit fingerprints (hamming <= chunks-1 pairs must "
    "share a band — zero misses AND the exact-hamming filter leaves "
    "zero spurious pairs). n_docs cross-checks the scan; the O(n^2) "
    "brute-force side is the certifier (8-byte fingerprints only), not "
    "a throughput path.",
)
def inv_simhash_pigeonhole(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    banded = dedup.simhash_candidate_pairs(
        docs, "doc_id", "text", chunks=4
    ).filter(F.col("hamming") <= 3).select("id_a", "id_b")
    fps = docs.select(
        F.col("doc_id").alias("doc"),
        dedup.simhash_arrow(F.col("text")).alias("fp"),
    )
    a = fps.select(F.col("doc").alias("id_a"), F.col("fp").alias("fa"))
    b = fps.select(F.col("doc").alias("id_b"), F.col("fp").alias("fb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= 3)
        .select("id_a", "id_b")
    )
    missing = brute.join(banded, ["id_a", "id_b"], "left_anti")
    extra = banded.join(brute, ["id_a", "id_b"], "left_anti")
    return (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(missing.agg(F.count(F.lit(1)).alias("missing_pairs")))
        .crossJoin(extra.agg(F.count(F.lit(1)).alias("extra_pairs")))
    )


_EXACT_TOPK_CTE = f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), scored AS (
        SELECT q.q_id, e.vec_id,
               ROUND(5e-10 + list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4)
                   AS score
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
    ), topk AS (
        SELECT q_id, vec_id, score FROM (
            SELECT q_id, vec_id, score,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY score DESC, vec_id ASC
                   ) AS rank
            FROM scored
        ) t
        WHERE rank <= {_K}
    )
"""


def _ann_invariant(
    spark: SparkSession,
    sf_dir: str,
    approx_topk,
    floor: float,
) -> DataFrame:
    """One-row certification: exact top-k aggregates (cross-engine
    values) + pooled recall of `approx_topk` vs the exact baseline."""
    from economic_data_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, queries, k=_K).select(
        "q_id", "vec_id", "score"
    )
    approx = approx_topk(emb, queries).select("q_id", "vec_id")
    return (
        exact.agg(
            F.count(F.lit(1)).alias("n_exact_rows"),
            biased_round(F.sum("score")).alias("sum_exact_topk_score"),
        )
        .crossJoin(
            exact.join(approx, ["q_id", "vec_id"], "left_semi").agg(
                F.count(F.lit(1)).alias("n_found")
            )
        )
        .select(
            "n_exact_rows",
            "sum_exact_topk_score",
            (
                (F.col("n_exact_rows") == 0)
                | (F.col("n_found") >= F.col("n_exact_rows") * F.lit(floor))
            ).alias("recall_ok"),
        )
    )


_ANN_INV_ORACLE = (
    _EXACT_TOPK_CTE
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_rows,
           ROUND(5e-10 + SUM(score), 4) AS sum_exact_topk_score,
           true AS recall_ok
    FROM topk
    """
)


@register(
    "inv_ann_lsh_recall",
    oracle=_ANN_INV_ORACLE,
    doc="Certifies ann_cosine_topk_lsh: the exact top-k row count and "
    "score sum are recomputed by both engines, and the SRP-LSH top-k "
    "must recover >= 50% of the exact neighbor set pooled over the 5 "
    "query vectors (measured 0.9 at sf0.001 and sf0.01; seeded "
    "hyperplanes -> deterministic).",
)
def inv_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import similarity

    return _ann_invariant(
        spark,
        sf_dir,
        lambda emb, q: similarity.lsh_topk(
            emb, q, k=_K, bits=6, tables=8, dim=64
        ),
        floor=0.5,
    )


@register(
    "inv_ann_ivf_recall",
    oracle=_ANN_INV_ORACLE,
    doc="Certifies ann_cosine_topk_ivf: exact top-k aggregates "
    "cross-checked, IVF(8 centroids, 3 probes) pooled recall >= 0.9 "
    "(measured 0.92/0.96 at sf0.001/sf0.01; deterministic seeded "
    "Lloyd training).",
)
def inv_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import ivf

    def approx(emb, q):
        cents = ivf.train_ivf(emb, k=8, iters=2)
        if not cents:  # empty corpus: no candidates, vacuous recall
            return spark.createDataFrame([], "q_id long, vec_id long")
        return ivf.ivf_topk(emb, q, cents, k=_K, n_probe=3)

    return _ann_invariant(spark, sf_dir, approx, floor=0.9)


@register(
    "inv_ann_pq_recall",
    oracle=_ANN_INV_ORACLE,
    doc="Certifies ann_cosine_topk_pq: exact top-k aggregates "
    "cross-checked, PQ(8x32) + exact re-rank pooled recall >= 0.9 "
    "(measured 0.94/0.92 at sf0.001/sf0.01; fixed sample and init).",
)
def inv_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import pq

    def approx(emb, q):
        books = pq.train_pq(emb, m=8, k=32, iters=5)
        if not books:  # empty corpus: no candidates, vacuous recall
            return spark.createDataFrame([], "q_id long, vec_id long")
        return pq.pq_topk_rerank(emb, q, books, k=_K, shortlist=100)

    return _ann_invariant(spark, sf_dir, approx, floor=0.9)


@register(
    "inv_sequence_packing",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(*) FILTER (WHERE n_chars >= 2048)
                + CEIL(SUM(CASE WHEN n_chars < 2048 THEN n_chars ELSE 0 END)
                       / 2048.0) AS BIGINT) AS min_packs_lower_bound,
           true AS pack_count_ok,
           true AS docs_conserved,
           true AS chars_conserved
    FROM documents
    """,
    doc="Certifies sequence_packing_stats (FFD packing, not "
    "SQL-expressible) through conservation laws both engines can state: "
    "total docs/chars are recomputed by DuckDB from the raw table; the "
    "bin-count lower bound ceil(sum(normal sizes)/budget) + n_oversize "
    "is computed independently on both sides; and the Spark side "
    "verifies its actual packing respects it, packs every doc exactly "
    "once, and conserves total size.",
)
def inv_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import training

    budget = 2048
    docs = load_table(spark, sf_dir, "documents")
    packs = training.pack_sequences(
        docs, "doc_id", "n_chars", budget=budget, num_shards=16
    )
    doc_stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (
            F.sum((F.col("n_chars") >= budget).cast("long"))
            + F.ceil(
                F.sum(
                    F.when(F.col("n_chars") < budget, F.col("n_chars")).otherwise(
                        F.lit(0)
                    )
                )
                / F.lit(float(budget))
            )
        )
        .cast("long")
        .alias("min_packs_lower_bound"),
    )
    pack_stats = packs.agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("n_items").alias("packed_docs"),
        F.sum("total_size").alias("packed_chars"),
    )
    return doc_stats.crossJoin(pack_stats).select(
        "n_docs",
        "total_chars",
        "min_packs_lower_bound",
        (F.col("n_packs") >= F.col("min_packs_lower_bound")).alias(
            "pack_count_ok"
        ),
        (F.col("packed_docs") == F.col("n_docs")).alias("docs_conserved"),
        (F.col("packed_chars") == F.col("total_chars")).alias(
            "chars_conserved"
        ),
    )


@register(
    "inv_approx_distinct_error",
    oracle="""
    SELECT event_type,
           CAST(exact_users AS BIGINT) AS exact_users,
           true AS hll_within_5pct,
           true AS acd_within_5pct
    FROM (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'ALL', COUNT(DISTINCT user_id) FROM events
    ) t
    ORDER BY event_type
    """,
    doc="Certifies sketch_hll_distinct_rollup AND agg_approx_count_"
    "distinct: the exact distinct-user count per event_type and overall "
    "is recomputed by both engines (value check), and both approximate "
    "estimators (DataSketches HLL rollup incl. the union level, and "
    "approx_count_distinct) must land within 5% relative error of it "
    "(both sketches are deterministic for fixed input).",
)
def inv_approx_distinct_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("hll"),
        F.approx_count_distinct("user_id").alias("acd"),
    )
    overall = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("hll"),
        F.approx_count_distinct("user_id").alias("acd"),
    ).select(F.lit("ALL").alias("event_type"), "exact_users", "hll", "acd")
    tol = lambda est: (  # noqa: E731
        F.abs(est - F.col("exact_users"))
        <= F.col("exact_users") * F.lit(0.05)
    )
    return (
        per_type.select("event_type", "exact_users", "hll", "acd")
        .unionByName(overall)
        .select(
            "event_type",
            "exact_users",
            tol(F.col("hll")).alias("hll_within_5pct"),
            tol(F.col("acd")).alias("acd_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "inv_incremental_minhash",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE source = 'src10') AS BIGINT)
               AS n_batch_docs,
           CAST(COUNT(*) FILTER (WHERE source <> 'src10') AS BIGINT)
               AS n_index_docs,
           CAST(0 AS BIGINT) AS missing_pairs,
           CAST(0 AS BIGINT) AS extra_pairs
    FROM documents
    """,
    doc="Certifies dedup_incremental_minhash: the incremental pair set "
    "(batch = src10 signed against the standing corpus's precomputed "
    "signature index) must EQUAL the full-corpus MinHash-LSH pair set "
    "restricted to pairs touching the batch — zero missing, zero extra "
    "(incremental processing loses and invents nothing). The doc "
    "split counts are recomputed by DuckDB as the cross-engine value "
    "check.",
)
def inv_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    standing = docs.filter(F.col("source") != "src10")
    incoming = docs.filter(F.col("source") == "src10")
    index_sigs = dedup.minhash_signatures(
        standing, "doc_id", "text", num_perm=32, shingle_n=3
    )
    inc = dedup.minhash_incremental_pairs(
        index_sigs, incoming, "doc_id", "text",
        num_perm=32, bands=8, threshold=0.5,
    ).select("id_a", "id_b")
    full = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=32, bands=8, threshold=0.5
    ).select("id_a", "id_b")
    batch_ids = incoming.select(F.col("doc_id").alias("__bid"))
    touching = (
        full.join(
            batch_ids,
            (F.col("id_a") == F.col("__bid"))
            | (F.col("id_b") == F.col("__bid")),
            "left_semi",
        )
    )
    missing = touching.join(inc, ["id_a", "id_b"], "left_anti")
    extra = inc.join(touching, ["id_a", "id_b"], "left_anti")
    return (
        docs.agg(
            F.coalesce(
                F.sum((F.col("source") == "src10").cast("long")), F.lit(0)
            ).alias("n_batch_docs"),
            F.coalesce(
                F.sum((F.col("source") != "src10").cast("long")), F.lit(0)
            ).alias("n_index_docs"),
        )
        .crossJoin(missing.agg(F.count(F.lit(1)).alias("missing_pairs")))
        .crossJoin(extra.agg(F.count(F.lit(1)).alias("extra_pairs")))
    )


@register(
    "inv_approx_quantile_error",
    oracle="""
    SELECT event_type,
           ROUND(5e-10 + quantile_cont(value, 0.5), 4) AS exact_p50,
           ROUND(5e-10 + quantile_cont(value, 0.9), 4) AS exact_p90,
           true AS p50_within_5pct,
           true AS p90_within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Certifies approx_percentile (the mergeable quantile sketch "
    "Spark uses where exact percentile would re-shuffle raw values at "
    "every rollup level): the exact interpolated P50/P90 per event_type "
    "are recomputed by both engines (value check), and the sketch "
    "estimates at accuracy=1000 must land within 5% relative error of "
    "them. The 5% bound carries ~3x headroom over the measured "
    "worst-case error (1.65% at sf0.001, 0.65% at sf0.01, 0.53% at "
    "sf0.1, 2026-08-14 run) — the sketch merge is partition-order "
    "sensitive, so a layout or Spark-version change can shift the "
    "estimate a little; a red here means a real accuracy regression, "
    "not environmental drift (round-4 advice). The exact side is the "
    "oracle; the approx side is the 100 TB path.",
)
def inv_approx_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("ex50"),
        F.expr("percentile(value, 0.9)").alias("ex90"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("ap50"),
        F.expr("approx_percentile(value, 0.9, 1000)").alias("ap90"),
    )
    within = lambda ap, ex: (  # noqa: E731
        F.abs(F.col(ap) - F.col(ex)) <= F.abs(F.col(ex)) * F.lit(0.05)
    )
    return agg.select(
        "event_type",
        biased_round(F.col("ex50")).alias("exact_p50"),
        biased_round(F.col("ex90")).alias("exact_p90"),
        within("ap50", "ex50").alias("p50_within_5pct"),
        within("ap90", "ex90").alias("p90_within_5pct"),
    ).orderBy("event_type")


@register(
    "inv_hashed_tf_conservation",
    oracle=r"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> ''))) AS BIGINT) AS total_tokens,
           CAST(0 AS BIGINT) AS conservation_violations,
           CAST(0 AS BIGINT) AS bucket_range_violations
    FROM documents
    WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) > 0
    """,
    doc="Certifies features_hashed_tf (xxhash64 bucketing, not "
    "SQL-portable): the whitespace token total is recomputed by both "
    "engines, every doc's bucket counts must sum to its exact token "
    "count (hashing loses no tokens), and every bucket id must lie in "
    "[0, 4096). Docs with zero tokens produce no feature row on either "
    "side.",
)
def inv_hashed_tf_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.functions.text import tokens
    from economic_data_etl_spark.operators.features import hashed_tf

    dim = 1 << 12
    docs = load_table(spark, sf_dir, "documents")
    feats = hashed_tf(docs, "doc_id", "text", dim=dim)
    truth = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("true_tokens")
    ).filter(F.col("true_tokens") > 0)
    joined = feats.join(truth, "doc_id", "full")
    return joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("true_tokens").cast("long").alias("total_tokens"),
        F.sum(
            (
                F.coalesce(F.col("n_tokens"), F.lit(-1))
                != F.coalesce(F.col("true_tokens"), F.lit(-2))
            ).cast("long")
        ).alias("conservation_violations"),
        F.sum(
            F.size(
                F.filter(
                    F.map_keys("features"),
                    lambda b: (b < F.lit(0)) | (b >= F.lit(dim)),
                )
            ).cast("long")
        ).alias("bucket_range_violations"),
    )


@register(
    "inv_semantic_recall",
    oracle="""
    WITH cos AS (
        SELECT list_cosine_similarity(
                   a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS c
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           ROUND(5e-10 + SUM(ROUND(5e-10 + c, 4)), 4) AS sum_exact_cosine,
           true AS semantic_recall_ok
    FROM cos WHERE c >= 0.4
    """,
    doc="Certifies dedup_semantic_embedding's cluster-probe "
    "approximation against the exact O(n²) cosine baseline: "
    "n_exact_pairs and sum_exact_cosine are recomputed from the raw "
    "embeddings by BOTH engines (cross-engine value check of the whole "
    "cosine pipeline), and semantic_recall_ok asserts the SemDeDup "
    "probe-join (same k/probes/τ configuration as "
    "dedup_semantic_embedding) recovers >= 80% of the exact "
    "within-threshold pairs (measured 0.924 at sf0.001 and 0.949 at "
    "sf0.01; seeded centroids → deterministic). Brute-force side is "
    "certification-only, like embedding_near_dup_pairs — never a "
    "throughput path.",
)
def inv_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators import semantic, similarity
    from economic_data_etl_spark.plans.curation import (
        _SEM_DOCS_PER_CLUSTER,
        _SEM_K,
        _SEM_PROBES,
        _SEM_TAU,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_near_dup_pairs(
        emb, threshold=_SEM_TAU
    ).select("id_a", "id_b", "cosine")
    k = max(_SEM_K, emb.count() // _SEM_DOCS_PER_CLUSTER)
    cents = semantic.seed_centroids(emb, k)
    if cents:
        probed = semantic.semantic_near_dup_pairs(
            emb, cents, threshold=_SEM_TAU, probes=_SEM_PROBES
        ).select("id_a", "id_b")
    else:  # empty corpus: no centroids, no probed pairs (exact is
        # empty too, so recall_ok degenerates to the vacuous branch)
        probed = spark.createDataFrame([], "id_a long, id_b long")
    stats = (
        exact.join(probed, ["id_a", "id_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_found"))
        .crossJoin(
            exact.agg(
                F.count(F.lit(1)).alias("n_exact_pairs"),
                # cosine is biased_round'ed per pair; the outer round
                # only normalizes the float repr of the 4dp sum.
                biased_round(F.sum("cosine")).alias("sum_exact_cosine"),
            )
        )
    )
    return stats.select(
        "n_exact_pairs",
        "sum_exact_cosine",
        (
            (F.col("n_exact_pairs") == 0)
            | (F.col("n_found") >= F.col("n_exact_pairs") * F.lit(0.8))
        ).alias("semantic_recall_ok"),
    )
