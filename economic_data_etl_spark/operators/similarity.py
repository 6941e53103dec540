"""Similarity search over embedding columns (`array<float>`).

Two tiers, as a 100 TB engine needs both:

- **Brute-force cosine top-k** — the exact baseline. Queries are broadcast
  (a query set is small by definition); the corpus is scanned once, scores
  computed JVM-side via zip_with/aggregate, and per-query top-k taken with
  a window (WindowGroupLimit keeps only k rows per partition before the
  shuffle). Cost: one corpus scan per query batch — optimal for exact search.
- **LSH (sign-random-projection) bucketing** — the approximate scale path.
  Each vector gets a b-bit code from signs of dot products with b fixed
  hyperplanes; only same-bucket (or neighboring-probe) vectors are scored.
  Hyperplanes are seeded-deterministic driver constants.

An IVF variant (Lloyd-refined centroids, probe top-c clusters) is the
natural next step; SRP-LSH is implemented first because it is stateless
and needs no training pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from economic_data_etl_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_normalize,
)
from economic_data_etl_spark.operators.topk import grouped_top_k
from economic_data_etl_spark.plans.catalog import biased_round


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    Returns (q_id, vec_id, score, rank), rank 1..k, ties broken by vec_id.
    """
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec")
    )
    joined = corpus.join(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col(query_id))
    scored = joined.select(
        query_id,
        corpus_id,
        biased_round(cosine_similarity(F.col(vec_col), F.col("__qvec"))).alias("score"),
    )
    return (
        grouped_top_k(
            scored,
            [query_id],
            [F.desc("score"), F.asc(corpus_id)],
            k,
            rank_col="rank",
        )
        .select(query_id, corpus_id, "score", "rank")
    )


def quantize_int8(vec: Column, as_storage: bool = False) -> Column:
    """Symmetric per-vector int8 quantization: q_i = floor(x_i·127/max|x| + 0.5).

    The 100 TB story: a float32 embedding column is usually the widest
    thing in a training corpus; int8 codes cut it 4× (64-dim: 256 B →
    64 B/row) while cosine survives almost unchanged — per-vector scale
    factors cancel in the cosine ratio, so rank order degrades only
    through the ±0.5 rounding noise (recall@10 ≥ 0.9 pinned in
    tests/test_ann.py).

    floor(x+0.5) instead of round(): identical in every engine, whereas
    round() half-ties differ between Spark (HALF_UP) and DuckDB
    (multiply-based) — this keeps the oracle exact. The max|x| bind goes
    through let() so it is computed once per row, not once per element
    (interpreted-HOF re-evaluation pitfall).

    as_storage=True returns array<tinyint> (the compact layout);
    default returns array<double> codes ready for JVM-side dot products.
    """
    from economic_data_etl_spark.functions.text import let

    def build(mx: Column) -> Column:
        q = F.transform(
            vec, lambda x: F.floor(x * F.lit(127.0) / mx + F.lit(0.5))
        )
        if as_storage:
            q = F.transform(q, lambda c: c.cast("tinyint"))
        return q

    return let(F.array_max(F.transform(vec, F.abs)), build)


def _srp_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def _srp_table_codes_udf(planes: list[list[float]], bits: int, tables: int):
    """Arrow-vectorized SRP encoder: one matmul per batch → array of
    per-table bucket codes.

    This is the one place a pandas_udf beats JVM expressions: computing
    tables×bits dot products per row with interpreted higher-order
    functions costs ~25k scalar ops/row (measured 11 s at sf0.1), while
    numpy does the whole Arrow batch in one (n, dim) @ (dim, tables*bits)
    matmul (~1 s). Codes are integers, so no float-parity concerns.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (tables*bits, dim)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def encode(vecs: pd.Series) -> pd.Series:
        X = np.vstack(vecs.to_numpy())  # (n, dim)
        signs = (X @ P.T) >= 0  # (n, tables*bits)
        by_table = signs.reshape(len(X), tables, bits)
        codes = (by_table * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(codes.astype(np.int64)))

    return encode


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 6,
    tables: int = 8,
    dim: int = 64,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via multi-table SRP-LSH with 1-bit
    multi-probe: `tables` independent b-bit codes per vector; a corpus
    vector is scored iff it shares a bucket (exactly, or within one bit
    flip) with the query in ANY table.

    Parameter intuition: P(bit agrees) = 1 - θ/π; for cos≈0.4 neighbors
    that's ~0.63, so one 8-bit table recalls ~10% of the true top-10 —
    useless. 6 bits × 8 tables × multiprobe-1 pushes recall above 90%
    while still scoring only the collided fraction of the corpus. At
    scale, corpus codes are precomputed once (tables×8 bytes/vector) and
    the join fans each query out to tables×(bits+1) bucket lookups.
    """
    all_planes = _srp_hyperplanes(dim, bits * tables, seed)
    encode = _srp_table_codes_udf(all_planes, bits, tables)
    # corpus: one row per (vector, table) with that table's bucket code
    coded_corpus = corpus.select(
        corpus_id,
        vec_col,
        F.posexplode(encode(F.col(vec_col))).alias("__ctable", "__code"),
    )

    q = queries.select(query_id, F.col(vec_col).alias("__qvec"))
    q_coded = q.select(
        query_id,
        "__qvec",
        F.posexplode(encode(F.col("__qvec"))).alias("__table", "__qcode"),
    )
    # Multi-probe: own bucket + every 1-bit flip within the table.
    probes = F.array(
        F.col("__qcode"),
        *[F.col("__qcode").bitwiseXOR(F.lit(1 << j)) for j in range(bits)],
    )
    q_probed = q_coded.withColumn("__probe", F.explode(probes))

    joined = coded_corpus.join(
        F.broadcast(q_probed),
        (F.col("__ctable") == F.col("__table"))
        & (F.col("__code") == F.col("__probe")),
    ).filter(F.col(corpus_id) != F.col(query_id))
    scored = joined.select(
        query_id,
        corpus_id,
        biased_round(cosine_similarity(F.col(vec_col), F.col("__qvec"))).alias("score"),
    ).dropDuplicates([query_id, corpus_id])
    return grouped_top_k(
        scored, [query_id], [F.desc("score"), F.asc(corpus_id)], k, rank_col="rank"
    ).select(query_id, corpus_id, "score", "rank")


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — exact, O(n²) scoring.

    Correct baseline for embedding near-dedup; the scale path buckets by
    SRP code first (see lsh_topk) so only same-bucket pairs are scored.
    """
    # Pre-normalize each vector ONCE (n folds, projection-materialized)
    # so the O(n²) pair score is a single dot product: higher-order
    # functions are interpreted, and the naive per-pair cosine paid
    # dot + BOTH norms + two casts per pair — measured 109 s -> ~8 s at
    # sf0.1 (2k vectors). Same trick as the semantic-dedup pair join
    # (functions/vectors.py:l2_normalize docstring).
    a = df.select(
        F.col(id_col).alias("id_a"),
        l2_normalize(F.col(vec_col)).alias("va"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        l2_normalize(F.col(vec_col)).alias("vb"),
    )
    spark = df.sparkSession
    # the embeddings table often arrives as ONE small file = one task;
    # spread the n² scoring across the cluster (cheap: n rows move, the
    # pair stream never materializes)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    a = a.repartition(n_part)
    # Threshold binds on the raw score; round() is display precision
    # only. Cross-engine caveat: this computes dot(normalize(a),
    # normalize(b)) while the DuckDB oracle computes
    # dot(a,b)/(|a||b|) — identical in exact arithmetic, last-ulp
    # different in float64, so a pair landing WITHIN ulps of the
    # threshold could diverge between engines. The test suite asserts
    # a margin (>= 1e-6) between every data score and the threshold
    # (tests/test_semantic_dedup.py::test_threshold_margin), which
    # makes the raw-score binding deterministic on this corpus.
    raw = dot_product(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", raw.alias("__raw"))
        .filter(F.col("__raw") >= threshold)
        .select("id_a", "id_b", biased_round(F.col("__raw")).alias("cosine"))
    )
