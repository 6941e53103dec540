"""Semantic (embedding-space) near-duplicate removal — SemDeDup-style.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (arXiv:2303.09540): cluster the corpus embeddings
with k-means, then look for near-duplicate pairs ONLY within each
cluster — pairwise cost drops from O(n²) to O(p²·n²/k) for p probes over
k clusters, and each cluster's pair generation is an independent,
shuffle-local self-join.

Execution shape (the 100 TB story):

- Centroids are driver constants: either the first k vectors by id
  (`iters=0`, exact-SQL-reproducible) or Lloyd-refined via
  operators/ivf.train_ivf (`iters>0`); only k×dim floats ever touch the
  driver, regardless of corpus size.
- Cluster assignment is a pure expression — sort k cosine similarities
  against centroid literals, keep the top `probes`. Cosine is
  norm-invariant in the centroid, so no normalization step is needed,
  which keeps the assignment bit-identical to a SQL oracle computing
  the same sequential-order cosines.
- Multi-probe (probes>1) is the recall lever: a near-dup pair is found
  if the two vectors share ANY of their top-p clusters. Measured on the
  synthetic embeddings at τ=0.4 (weak pairs — the hard case): p=1
  recall 0.29, p=3 recall 0.92. Cost scales p²/k relative to brute
  force, so at corpus scale pick k ≫ p² (k ~ √n in the paper's regime)
  and the self-join stays cheap.
- The within-cluster self-join shuffles the corpus ONCE on the cluster
  key; at warehouse scale the corpus would be written partitioned by
  `cluster`, making the self-join co-located reads.
- The drop rule is deterministic: in every near-dup pair (a, b) with
  a < b, the higher id `b` is dropped — the same greedy rule the
  MinHash/LSH dedup family uses, so verdicts are comparable across
  dedup operators.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves type hints here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from economic_data_etl_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_normalize,
)
from economic_data_etl_spark.operators.ivf import train_ivf


def _lit_vec(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vals])


def _ranked_clusters(
    vec: Column, centroids: list[list[float]]
) -> Column:
    """Array of cluster ids sorted by cosine desc, ties to lowest id.

    The row's own norm is bound ONCE via `let` instead of re-running
    the O(dim) interpreted fold inside every centroid's cosine (k
    norm folds -> 1 per row; the arithmetic is unchanged expression
    for expression — denom = |v|·|c|, same guard, same division — so
    the doubles are bit-identical to cosine_similarity's)."""
    from economic_data_etl_spark.functions.text import let
    from economic_data_etl_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )

    def ranked(vn: Column) -> Column:
        entries = []
        for i, c in enumerate(centroids):
            lc = _lit_vec(c)
            denom = vn * l2_norm(lc)
            cos = F.when(denom != 0.0, dot_product(vec, lc) / denom)
            entries.append(
                F.struct(
                    (-cos).alias("neg"),
                    F.lit(i).cast("int").alias("cid"),
                )
            )
        return F.array_sort(F.array(*entries))["cid"]

    return let(l2_norm(vec), ranked)


# Above this k, the expression path's O(k) interpreted cosine folds per
# row dominate; the broadcast-centroid + numpy-matmul path takes over
# (one b×dim @ dim×k GEMM per Arrow batch). Below it, the expression
# path stays the default because it is bit-identical to the SQL oracle
# BY CONSTRUCTION — the numpy path is measurably faster even at k=16
# (3.7 s vs 2.0 s for a probes=3 corpus pass at sf0.1 on local[32], and
# proven assignment-identical at every test SF), but its float-sum
# order differs, so a near-tie on unseen data could flip an argmax;
# oracle-gated callers keep the provable path, scale callers opt in via
# `vectorized=True` or large k.
#
# 64 is a measured ceiling, not a guess (probes=3, dim=128, local[8],
# 2026-08-14): k=64/n=2000 expr 15.5 s vs numpy 3.9 s (first-call
# overhead included); k=256/n=2000 expr 42 s vs 0.44 s; k=1024 the
# expression TREE itself (k structs × 3 O(dim) folds) takes ~131 s to
# plan+codegen even on a 50-row corpus vs 2.9 s vectorized, assignments
# identical throughout (tests/test_semantic_dedup.py, incl. the
# slow-marked k=1024/dim=128 stress). So 64 is the last k where the
# provable expression path remains usable; past it the lane switch is
# mandatory for the k ~ √n regime, and the identity pins are the
# license to switch.
VECTORIZED_K_THRESHOLD = 64


def _assign_ranked_vectorized(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    probes: int,
    _resources: list | None = None,
):
    """Top-`probes` cluster ids per row via a broadcast centroid matrix
    and one float64 GEMM per Arrow batch — O(k·dim) FLOPs per row on
    BLAS instead of O(k) interpreted folds. Only k×dim floats are
    broadcast; no shuffle. Tie/edge semantics mirror the expression
    path: ties on cosine break to the LOWEST cluster id (stable argsort
    on -cos); undefined cosines (zero-norm vector or centroid) sort
    last (−inf), degenerating to ascending cluster ids; NULL or
    wrong-dimension vectors are mapped to the zero vector, which lands
    in the same all-undefined → ascending-ids ordering the expression
    path gives an all-NULL cosine struct array (pinned against the
    expression path in tests/test_semantic_dedup.py). Element-level
    NULLs become NaN, and NaN cosines sort last in BOTH lanes (struct
    ordering and np.argsort agree NaN > any number).

    The centroid broadcast is appended to `_resources` when given —
    callers that own a cache list (semantic_dedup_summary/_keep) must
    unpersist it after their consuming action, or repeated invocations
    in a long-lived session accumulate broadcast blocks. When None
    (direct catalog/bench calls, one query per session), the broadcast
    dies with the session."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(C, axis=1)
    bc = df.sparkSession.sparkContext.broadcast((C, cnorm))
    if _resources is not None:
        _resources.append(bc)
    p = int(probes)

    @pandas_udf("array<int>")
    def _topp(vecs: pd.Series) -> pd.Series:
        Cm, cn = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        dim = Cm.shape[1]
        zero = np.zeros(dim)
        M = np.stack(
            [
                np.asarray(v, dtype=np.float64)
                if v is not None and len(v) == dim
                else zero
                for v in vecs
            ]
        )
        mn = np.linalg.norm(M, axis=1)
        denom = np.outer(mn, cn)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom != 0.0, (M @ Cm.T) / denom, -np.inf)
        order = np.argsort(-cos, axis=1, kind="stable")[:, :p]
        return pd.Series(list(order.astype(np.int32)))

    return _topp(F.col(vec_col))


def assign_topp_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    probes: int = 1,
    vectorized: bool | None = None,
    _resources: list | None = None,
) -> DataFrame:
    """Add `__clusters`: the top-`probes` cluster ids per row, WITHOUT
    exploding. The O(k)-cosine ranking is the expensive part of every
    assignment; computing the ranked array once lets callers derive
    both the primary (element 0) and the multi-probe explode from ONE
    corpus pass instead of two (semantic_dedup_summary does).

    `_resources`, when given, collects session-lifetime artifacts the
    vectorized lane allocates (the centroid broadcast) so the caller
    can unpersist them after its consuming action."""
    if vectorized is None:
        vectorized = len(centroids) > VECTORIZED_K_THRESHOLD
    if vectorized:
        ranked = _assign_ranked_vectorized(
            df, centroids, vec_col, probes, _resources
        )
        return df.withColumn("__clusters", ranked)
    ranked = _ranked_clusters(F.col(vec_col), centroids)
    return df.withColumn("__clusters", F.slice(ranked, 1, probes))


def assign_clusters_cosine(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    probes: int = 1,
    vectorized: bool | None = None,
    _resources: list | None = None,
) -> DataFrame:
    """probes=1: add `cluster` = argmax cosine (one row per input row).
    probes>1: explode the top-p clusters (p rows per input row).

    Two physical strategies behind one semantic:
    - k <= VECTORIZED_K_THRESHOLD (default): pure expressions against
      centroid literals — no shuffle, no Python, bit-identical to the
      SQL oracle (the correctness default).
    - k > threshold (or vectorized=True): broadcast centroid matrix +
      Arrow-batched numpy GEMM — the SemDeDup paper's k ~ √n regime,
      where O(k) interpreted folds per row would dominate.
    Both paths produce identical assignments (pinned at k=256 in
    tests/test_semantic_dedup.py)."""
    topp = assign_topp_clusters(
        df, centroids, vec_col, probes, vectorized, _resources
    )
    if probes == 1:
        return topp.withColumn(
            "cluster", F.col("__clusters")[0]
        ).drop("__clusters")
    return topp.withColumn(
        "cluster", F.explode("__clusters")
    ).drop("__clusters")


def seed_centroids(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """First k vectors by id, raw (unnormalized) — the deterministic,
    SQL-reproducible centroid choice. k×dim floats to the driver."""
    rows = corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    return [list(r[0]) for r in rows]


def _pair_dot_vectorized():
    """Arrow-batched pandas_udf computing the dot product of two
    normalized-vector columns with one numpy einsum per batch — the
    scale lane for candidate-pair scoring (the expression path costs
    O(dim) interpreted fold steps per pair; einsum is one BLAS-ish
    pass per Arrow batch). Float-sum order differs from the
    left-to-right expression fold, so a pair sitting within ulps of
    the threshold could classify differently on unseen data —
    oracle-gated callers keep the expression path (same policy as
    VECTORIZED_K_THRESHOLD); pair-set equality on the test corpora is
    pinned in tests/test_semantic_dedup.py.

    NULL / mismatched-dimension pairs score NaN, which Arrow delivers
    to Spark as NULL — exactly what the expression path's dot_product
    returns for them, so the caller's `dot >= threshold` filter drops
    the pair in both lanes (NaN itself would NOT be dropped: Spark
    orders NaN above every number, so `NaN >= t` is true — the Arrow
    NaN→NULL conversion is load-bearing and pinned in tests)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        av = [None if v is None else np.asarray(v, np.float64) for v in a]
        bv = [None if v is None else np.asarray(v, np.float64) for v in b]
        bad = [
            x is None or y is None or x.shape != y.shape
            for x, y in zip(av, bv)
        ]
        dims = {x.shape for x, m in zip(av, bad) if not m}
        if len(dims) == 1 and not any(bad):  # fast path: one clean GEMM
            A, B = np.stack(av), np.stack(bv)
            return pd.Series(np.einsum("ij,ij->i", A, B))
        out = np.full(len(av), np.nan)
        for i, (x, y, m) in enumerate(zip(av, bv, bad)):
            if not m:
                out[i] = float(np.dot(x, y))
        return pd.Series(out)

    return _dot


def semantic_near_dup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 3,
    vectorized_scoring: bool = False,
    _caches: list[DataFrame] | None = None,
    _assigned: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) with id_a < id_b for pairs sharing at least one of
    their top-`probes` clusters and cosine >= threshold. Distinct —
    a pair colliding in two probed clusters appears once. Pairs whose
    probe sets are disjoint are never generated — the approximation
    being traded for the O(n²) savings (recall pinned in tests).

    `_assigned`, when provided, is a precomputed (cluster, __id)
    multi-probe assignment (backed by a cache the caller owns) — used
    by semantic_dedup_summary to share ONE ranking pass between the
    candidate join and the primary-cluster attribution.

    Cache ownership: two projections are persist()ed (see below). When
    `_caches` is passed, they are appended there and the CALLER must
    unpersist after its consuming action (semantic_dedup_summary /
    semantic_dedup_keep do). When it is None, direct callers own the
    cleanup: unpersist via spark.catalog.clearCache() or accept LRU
    eviction (acceptable in one-query-per-session runs like bench.py's
    subprocess isolation, not in long-lived sessions).

    Execution shape (measured 67 s → 12 s at sf0.1):
    - The candidate join carries IDS ONLY — two 8-byte longs per row
      through the cluster-key shuffle, never the vectors.
    - Candidates are DISTINCT'd before scoring, so a pair colliding in
      up to `probes` clusters is scored once, not `probes` times.
    - Vectors are L2-normalized ONCE per corpus row; each unique pair
      then costs one dot product instead of cosine's three folds.
      dot(v̂_a, v̂_b) and cos(v_a, v_b) are the same quantity; the
      oracle mirrors the normalize-then-dot order so float results stay
      bit-identical across engines.
    - The assignment (k interpreted cosine folds per row) and the
      normalized vectors are each PERSISTED and read by both join
      sides — without that, self-joining the projection re-evaluates
      every fold twice (measured ~2x on the assignment stage). Both
      caches are ids+small payloads, never the raw corpus join state.
    """
    if _assigned is not None:
        assigned = _assigned
    else:
        assigned = (
            assign_clusters_cosine(
                corpus, centroids, vec_col, probes, _resources=_caches
            )
            .select("cluster", F.col(id_col).alias("__id"))
            .persist()
        )
        if _caches is not None:
            _caches.append(assigned)
    a = assigned.select("cluster", F.col("__id").alias("id_a"))
    b = assigned.select("cluster", F.col("__id").alias("id_b"))
    cand = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    dim = len(centroids[0]) if centroids else 0
    scalar = not vectorized_scoring and 0 < dim <= SCALAR_DOT_MAX_DIM
    nv = l2_normalize(F.col(vec_col))
    if scalar:
        # Same codegen-dot trick as the bucketed layout: persist the
        # normalized vector as dim SCALAR columns so per-pair scoring
        # is a left-associated multiply-add chain (whole-stage
        # codegen), not an interpreted fold over a per-pair array. The
        # `+` chain evaluates in the fold's exact left-to-right float
        # order, so the pair set is bitwise unchanged (the oracle
        # comparison and the bucketed-equality pins hold as-is).
        normed = corpus.select(
            F.col(id_col).alias("__nid"), nv.alias("__nv")
        ).select(
            "__nid", *_scalar_nv_components(F.col("__nv"), dim)
        ).persist()
    else:
        normed = corpus.select(
            F.col(id_col).alias("__nid"), nv.alias("__nv")
        ).persist()
    if _caches is not None:
        _caches.append(normed)
    if scalar:
        vec_a, vec_b, dot = _scalar_pair_scoring(dim)
        va = normed.select(F.col("__nid").alias("id_a"), *vec_a)
        vb = normed.select(F.col("__nid").alias("id_b"), *vec_b)
    else:
        va = normed.select(
            F.col("__nid").alias("id_a"), F.col("__nv").alias("__va")
        )
        vb = normed.select(
            F.col("__nid").alias("id_b"), F.col("__nv").alias("__vb")
        )
        if vectorized_scoring:
            dot = _pair_dot_vectorized()(F.col("__va"), F.col("__vb"))
        else:
            dot = dot_product(F.col("__va"), F.col("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(dot >= F.lit(threshold))
        .select("id_a", "id_b")
    )


def semantic_incremental_pairs(
    index: DataFrame,
    batch: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 3,
) -> DataFrame:
    """(id_a, id_b), id_a < id_b, for near-dup pairs with AT LEAST ONE
    side in `batch`: batch-vs-index plus batch-vs-batch, never
    index-vs-index — per-call work is |batch| × cluster occupancy, the
    corpus (index) is re-scanned but never self-joined. Centroids must
    be the FROZEN set both sides were assigned with.
    """
    if not centroids:
        return batch.sparkSession.createDataFrame(
            [], "id_a long, id_b long"
        )
    b_assigned = assign_clusters_cosine(
        batch, centroids, vec_col, probes
    ).select("cluster", F.col(id_col).alias("id_a"))
    all_assigned = assign_clusters_cosine(
        index.unionByName(batch), centroids, vec_col, probes
    ).select("cluster", F.col(id_col).alias("id_b"))
    cand = (
        b_assigned.join(all_assigned, "cluster")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    nv = l2_normalize(F.col(vec_col))
    dim = len(centroids[0])
    vecs = index.unionByName(batch).select(
        F.col(id_col).alias("__vid"), nv.alias("__nv")
    )
    if dim <= SCALAR_DOT_MAX_DIM:
        # same codegen-chain scoring + dimension contract as the batch
        # and bucketed pair passes (see _scalar_pair_scoring /
        # _scalar_nv_components)
        vecs = vecs.select(
            "__vid", *_scalar_nv_components(F.col("__nv"), dim)
        )
        vec_a, vec_b, dot = _scalar_pair_scoring(dim)
        va = vecs.select(F.col("__vid").alias("id_a"), *vec_a)
        vb = vecs.select(F.col("__vid").alias("id_b"), *vec_b)
    else:
        va = vecs.select(
            F.col("__vid").alias("id_a"), F.col("__nv").alias("__va")
        )
        vb = vecs.select(
            F.col("__vid").alias("id_b"), F.col("__nv").alias("__vb")
        )
        dot = dot_product(F.col("__va"), F.col("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(dot >= F.lit(threshold))
        .select("id_a", "id_b")
    )


def _centroids(
    corpus: DataFrame, k: int, iters: int, id_col: str, vec_col: str
) -> list[list[float]]:
    if iters == 0:
        return seed_centroids(corpus, k, id_col, vec_col)
    return train_ivf(corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col)


def semantic_dedup_summary(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 0,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 3,
) -> DataFrame:
    """Per-cluster dedup report: (cluster, n_vectors, n_dropped).

    Sizes count PRIMARY (top-1) assignments, so Σ n_vectors = |corpus|
    regardless of probes; a dropped vector (the higher id of ≥1 pair)
    is attributed to its primary cluster.

    The k-row result is materialized eagerly (localCheckpoint) so every
    intermediate cache can be unpersisted before returning — repeated
    invocations in a long-lived session no longer accumulate executor
    storage (round-3 advice).
    """
    centroids = _centroids(corpus, k, iters, id_col, vec_col)
    if not centroids:
        # empty corpus (seed sample came back empty): empty summary with
        # the normal schema — upstream slices are routinely empty.
        return corpus.sparkSession.createDataFrame(
            [], "cluster int, n_vectors long, n_dropped long"
        )
    # ONE ranking pass serves everything: the persisted (id, top-p
    # clusters) projection yields the primary assignment (element 0 ==
    # the probes=1 argmax) AND the multi-probe candidate assignment
    # (explode) — previously these were two full O(k)-cosine corpus
    # passes (measured ~3.7 s each at sf0.1/k=16 on the expression
    # path). The cache holds ids + p ints per row, never the vectors.
    caches: list = []  # DataFrames and Broadcasts; both expose unpersist()
    topp = (
        assign_topp_clusters(
            corpus, centroids, vec_col, probes, _resources=caches
        )
        .select(id_col, "__clusters")
        .persist()
    )
    caches.append(topp)
    primary = topp.select(
        id_col, F.col("__clusters")[0].alias("cluster")
    )
    assigned = topp.select(
        F.explode("__clusters").alias("cluster"),
        F.col(id_col).alias("__id"),
    )
    pairs = semantic_near_dup_pairs(
        corpus, centroids, threshold, id_col, vec_col, probes,
        _caches=caches, _assigned=assigned,
    )
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .join(primary, id_col)
    )
    sizes = primary.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    drops = dropped.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dropped")
    )
    result = (
        sizes.join(drops, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("long")).alias(
                "n_dropped"
            ),
        )
        .orderBy("cluster")
        # k rows: eager materialization is O(k), and it detaches the
        # result from the caches so they can be released NOW.
        .localCheckpoint(eager=True)
    )
    for c in caches:
        c.unpersist()
    return result


def semantic_dedup_keep(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 3,
) -> DataFrame:
    """The surviving corpus: input rows minus dropped near-dup twins.

    The dropped-id set (ids only, ≤|corpus| longs) is materialized
    eagerly so the pair-generation caches can be unpersisted before
    returning; the surviving corpus itself stays lazy.
    """
    centroids = _centroids(corpus, k, iters, id_col, vec_col)
    if not centroids:
        return corpus  # empty corpus: nothing to drop
    caches: list = []  # DataFrames and Broadcasts; both expose unpersist()
    pairs = semantic_near_dup_pairs(
        corpus, centroids, threshold, id_col, vec_col, probes,
        _caches=caches,
    )
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for c in caches:
        c.unpersist()
    return corpus.join(dropped, id_col, "left_anti")


def write_assignment_bucketed(
    corpus: DataFrame,
    centroids: list[list[float]],
    table_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 3,
    num_buckets: int = 16,
) -> None:
    """Materialize the multi-probe cluster assignment as a table
    BUCKETED BY `cluster` — the storage layout the module docstring
    promises at warehouse scale ("the corpus would be written
    partitioned by cluster, making the self-join co-located reads").

    Each row is one (vector, probed cluster) assignment carrying the
    L2-normalized vector so the within-cluster scoring join needs
    nothing else. Two scans of this table joined on `cluster` are
    co-located by construction — no Exchange in the plan (pinned in
    tests/test_plan_shapes.py) — so the ONE corpus shuffle the
    in-memory operator pays (the cluster-key exchange inside
    semantic_near_dup_pairs) is paid once at WRITE time and amortized
    over every subsequent dedup pass against the layout.

    Vector storage: for dim ≤ SCALAR_DOT_MAX_DIM the normalized vector
    is stored as `__nv0..__nv{d-1}` SCALAR double columns instead of
    one array — the pair pass's dot product then compiles to a plain
    left-associated multiply-add chain (whole-stage-codegen
    arithmetic) instead of an interpreted higher-order-function fold
    over a per-pair array. Measured at sf0.1: pair pass 4.7 s → 1.1 s,
    pair set identical (the `+` chain evaluates left-to-right, the
    exact float-sum order of the fold and of the DuckDB oracle's
    list_dot_product). Past the threshold the array layout returns:
    a thousand-term expression chain blows the JVM's 64 KB codegen
    method budget and the join row width, while the fold stays O(1)
    in plan size.
    """
    from economic_data_etl_spark.operators.skew import write_bucketed

    assigned = _bucketed_assignment_rows(
        corpus, centroids, id_col, vec_col, probes
    )
    # Pre-shuffle on the bucket key: without it every input task opens
    # up to num_buckets files (tasks × buckets small files, and the
    # commit protocol's per-file overhead dominated the write —
    # measured 4.2 s → 1.3 s for the table write at sf0.1). This
    # repartition IS the "one corpus shuffle paid at write time" the
    # layout promises; after it each task owns exactly one bucket and
    # writes exactly one file. At 100 TB pick num_buckets so a single
    # bucket fits a task (clusters per bucket ≈ k / num_buckets).
    assigned = assigned.repartition(num_buckets, F.col("cluster"))
    write_bucketed(assigned, table_name, "cluster", num_buckets)


# Above this dimensionality the scalar-component layout stops paying:
# the left-assoc dot chain approaches the JVM's 64 KB per-method codegen
# budget, the join schema exceeds the whole-stage-codegen field limit by
# an order of magnitude, and parquet metadata overhead grows per column.
# Below it, scalar columns turn the pair-scoring dot into pure codegen
# arithmetic (measured 4.3× on the sf0.1 pair pass at dim=64).
SCALAR_DOT_MAX_DIM = 128


def _scalar_pair_scoring(
    dim: int,
) -> tuple[list[Column], list[Column], Column]:
    """(a-side aliases, b-side aliases, dot) for scalar-component pair
    scoring — the ONE definition of the left-associated multiply-add
    chain. Its left-to-right evaluation order is a load-bearing
    bitwise-equality contract (it reproduces the HOF fold's sequential
    float sum and the DuckDB oracle's list_dot_product exactly);
    keeping it in one place means no lane can drift from the other
    two (batch, incremental, bucketed — all route here)."""
    import functools
    import operator as op

    vec_a = [F.col(f"__nv{i}").alias(f"__a{i}") for i in range(dim)]
    vec_b = [F.col(f"__nv{i}").alias(f"__b{i}") for i in range(dim)]
    dot = functools.reduce(
        op.add,
        [F.col(f"__a{i}") * F.col(f"__b{i}") for i in range(dim)],
    )
    return vec_a, vec_b, dot


def _scalar_nv_components(nv: Column, dim: int) -> list[Column]:
    """Extract `dim` scalar components `__nv{i}` from a normalized
    vector column. Component 0 carries the dimension CONTRACT: it is
    NULL unless size(nv) == dim exactly, so any wrong-length vector —
    including one LONGER than the centroid dim, which plain F.get
    would silently truncate-and-score — nulls the multiply-add chain
    and the pair is dropped, the same verdict the array fold's
    zip_with NULL-padding gives every length mismatch. (size(NULL) is
    NULL, so NULL vectors fall through the same gate.)"""
    return [
        F.when(F.size(nv) == dim, F.get(nv, 0)).alias("__nv0"),
        *[F.get(nv, i).alias(f"__nv{i}") for i in range(1, dim)],
    ]


def _bucketed_assignment_rows(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    probes: int,
) -> DataFrame:
    """One row per (vector, probed cluster) carrying everything the
    co-located pair join needs: the normalized vector (scoring — as
    scalar `__nv{i}` columns for dim ≤ SCALAR_DOT_MAX_DIM, else one
    `__nv` array) and the row's FULL probe set `__probes`
    (canonical-cluster dedup — see
    semantic_near_dup_pairs_from_bucketed). `F.get` extraction is
    NULL-safe: a NULL/short/ragged vector yields NULL components, so
    the scalar dot goes NULL and the threshold filter drops the pair —
    the exact verdict the array fold's NULL propagation gives."""
    dim = len(centroids[0]) if centroids else 0
    topp = assign_topp_clusters(corpus, centroids, vec_col, probes)
    # The normalization (an O(dim) aggregate) is aliased in its own
    # projection; CollapseProject keeps it un-duplicated because it is
    # not a cheap expression, so the per-component extraction below
    # reads the computed array, not 64 re-normalizations.
    base = topp.select(
        F.explode("__clusters").alias("cluster"),
        F.col(id_col).alias("__id"),
        l2_normalize(F.col(vec_col)).alias("__nv"),
        F.col("__clusters").alias("__probes"),
    )
    if 0 < dim <= SCALAR_DOT_MAX_DIM:
        return base.select(
            "cluster",
            "__id",
            "__probes",
            *_scalar_nv_components(F.col("__nv"), dim),
        )
    return base


def semantic_near_dup_pairs_from_bucketed(
    spark,
    table_name: str,
    threshold: float = 0.4,
) -> DataFrame:
    """(id_a, id_b), id_a < id_b — same contract and same pair set as
    semantic_near_dup_pairs (pinned in tests), but read from the
    cluster-bucketed layout written by write_assignment_bucketed: the
    self-join on `cluster` consumes the buckets' HashPartitioning
    directly, so the ENTIRE pair pass is Exchange-free (plan pinned).
    Scoring happens inside the join — the vectors are already
    co-located, so at warehouse scale this is a local merge, not a
    network move.

    Canonical-cluster dedup, no shuffle: a pair whose probe sets share
    j clusters meets in j co-located join rows; each row also carries
    both FULL probe sets, so a pure expression keeps only the row whose
    join cluster is the MINIMUM shared cluster — every pair survives
    exactly once, the other j−1 meetings are dropped BEFORE the O(dim)
    dot product, and the final `distinct` (a pairs shuffle) disappears.
    Measured at sf0.1 (k=8, probes=3 → high multi-collision): 8.2 s →
    the canonical filter removes both the ~2-3× duplicate scoring and
    the last Exchange.

    Scoring adapts to the table's vector layout (detected from the
    schema): scalar `__nv{i}` component columns score with a
    left-associated multiply-add chain (codegen arithmetic, measured
    4.7 s → 1.1 s at sf0.1); an `__nv` array column scores with the
    interpreted fold. Both evaluate the identical left-to-right float
    sum, so the pair set is bitwise the same either way (pinned in
    tests/test_semantic_dedup.py).
    """
    t = spark.table(table_name)
    comps = sorted(
        (c for c in t.columns if c.startswith("__nv") and c != "__nv"),
        key=lambda c: int(c[4:]),
    )
    if comps:
        vec_a, vec_b, scalar_dot = _scalar_pair_scoring(len(comps))
    else:
        vec_a = [F.col("__nv").alias("__va")]
        vec_b = [F.col("__nv").alias("__vb")]
    a = t.select(
        F.col("cluster").alias("__ca"),
        F.col("__id").alias("id_a"),
        F.col("__probes").alias("__pa"),
        *vec_a,
    )
    b = t.select(
        F.col("cluster").alias("__cb"),
        F.col("__id").alias("id_b"),
        F.col("__probes").alias("__pb"),
        *vec_b,
    )
    canonical = F.col("__ca") == F.array_min(
        F.array_intersect(F.col("__pa"), F.col("__pb"))
    )
    # The O(dim) dot must run only where the cheap predicates (id
    # order, canonical cluster) already hold — but the optimizer
    # REORDERS residual join conjuncts freely (measured: it floats the
    # dot to the FRONT of the merged condition, doubling the work by
    # scoring mirrored orientations and duplicate cluster meetings — 6.4
    # vs 3.1 s at sf0.1). A CASE WHEN is the structural fix: its guard
    # is evaluated before its branch BY DEFINITION, so no conjunct
    # shuffle can hoist the dot above the cheap tests.
    guard = (F.col("id_a") < F.col("id_b")) & canonical
    dot = scalar_dot if comps else dot_product(
        F.col("__va"), F.col("__vb")
    )
    return (
        a.join(b, F.col("__ca") == F.col("__cb"))
        .filter(
            F.when(guard, dot >= F.lit(threshold)).otherwise(F.lit(False))
        )
        .select("id_a", "id_b")
    )

