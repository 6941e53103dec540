"""SemDeDup semantic dedup: the approximation is measured, not assumed.

The operator only generates pairs WITHIN a cluster; the quality claim is
that near-dup pairs (high cosine) rarely straddle cluster boundaries.
Pin recall against the exact O(n²) pairwise baseline, and check the
keep-set algebra (kept + dropped = corpus; no kept vector is the higher
twin of another kept vector in-cluster)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from economic_data_etl_spark.operators.semantic import (
    assign_clusters_cosine,
    seed_centroids,
    semantic_dedup_keep,
    semantic_dedup_summary,
    semantic_near_dup_pairs,
)
from economic_data_etl_spark.operators.similarity import (
    cosine_near_dup_pairs,
)
from economic_data_etl_spark.sources.tables import load_table

TAU = 0.4


def test_threshold_margin(spark, sf_dir):
    """Every pairwise cosine must sit >= 1e-6 away from the 0.4
    threshold: the Spark plan scores dot(normalize(a), normalize(b))
    while the DuckDB oracle scores dot(a,b)/(|a||b|) — equal in exact
    arithmetic, last-ulp different in float64 — so a score within ulps
    of the threshold could make pair MEMBERSHIP diverge cross-engine.
    This pins that no data score is anywhere near the cliff (ulps are
    ~1e-16; the margin is 10 orders of magnitude wider)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = np.array(
        [r[0] for r in emb.select("embedding").collect()], dtype=np.float64
    )
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = vecs @ vecs.T
    iu = np.triu_indices(len(vecs), k=1)
    assert np.min(np.abs(cos[iu] - TAU)) >= 1e-6


class TestSemanticDedup:
    def test_recall_vs_exact_pairs(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        cents = seed_centroids(emb, 8)
        approx = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs(
                emb, cents, TAU, probes=3
            ).collect()
        }
        exact = {
            (r["id_a"], r["id_b"])
            for r in cosine_near_dup_pairs(emb, threshold=TAU).collect()
        }
        assert approx <= exact  # never invents pairs
        recall = len(approx) / len(exact) if exact else 1.0
        # k=8 probes=3: measured 0.92 at sf0.001 on the WEAK-pair case
        # (τ=0.4; true dups would cluster together far more reliably).
        # Pin a floor so a regression fails loudly.
        assert recall >= 0.8, f"recall {recall} ({len(approx)}/{len(exact)})"

    def test_lloyd_refinement_does_not_lose_pairs_wholesale(
        self, spark, sf_dir
    ):
        from economic_data_etl_spark.operators.ivf import train_ivf

        emb = load_table(spark, sf_dir, "embeddings")
        refined = train_ivf(emb, k=8, iters=2)
        pairs = semantic_near_dup_pairs(
            emb, refined, TAU, probes=3
        ).count()
        exact = cosine_near_dup_pairs(emb, threshold=TAU).count()
        assert pairs / exact >= 0.8 if exact else True

    def test_keep_set_algebra(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        kept = semantic_dedup_keep(emb, k=8, iters=0, threshold=TAU)
        summary = semantic_dedup_summary(
            emb, k=8, iters=0, threshold=TAU
        )
        tot = summary.agg(
            F.sum("n_vectors").alias("n"), F.sum("n_dropped").alias("d")
        ).collect()[0]
        assert tot["n"] == emb.count()
        assert kept.count() == tot["n"] - tot["d"]
        # no kept vector is the higher twin of another kept vector
        cents = seed_centroids(emb, 8)
        kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
        for r in semantic_near_dup_pairs(
            emb, cents, TAU, probes=3
        ).collect():
            assert not (
                r["id_a"] in kept_ids and r["id_b"] in kept_ids
            ), f"pair {r} fully kept"

    def test_assignment_is_total_and_stable(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        cents = seed_centroids(emb, 8)
        a1 = assign_clusters_cosine(emb, cents)
        assert a1.filter(F.col("cluster").isNull()).count() == 0
        assert a1.filter(
            (F.col("cluster") < 0) | (F.col("cluster") >= 8)
        ).count() == 0

    @pytest.mark.slow
    def test_vectorized_assignment_matches_expression_k256(
        self, spark, sf_dir
    ):
        """The broadcast-centroid numpy path (auto-selected above
        VECTORIZED_K_THRESHOLD) must produce the SAME top-p assignment
        as the expression path — same argmax, same tie-break to lowest
        cluster id — so near-dup pair sets are identical at k ~ sqrt(n)
        scale."""
        emb = load_table(spark, sf_dir, "embeddings")
        k = min(256, emb.count())
        cents = seed_centroids(emb, k)
        assert len(cents) > 64  # must actually cross the threshold
        for probes in (1, 3):
            expr = assign_clusters_cosine(
                emb, cents, probes=probes, vectorized=False
            ).select("vec_id", "cluster")
            vec = assign_clusters_cosine(
                emb, cents, probes=probes, vectorized=True
            ).select("vec_id", "cluster")
            e = {(r[0], r[1]) for r in expr.collect()}
            v = {(r[0], r[1]) for r in vec.collect()}
            assert e == v, (
                f"probes={probes}: {len(e ^ v)} assignment diffs"
            )

    @pytest.mark.slow
    def test_vectorized_pairs_match_expression_k256(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        k = min(256, emb.count())
        cents = seed_centroids(emb, k)
        # auto-selection: k=256 > threshold → vectorized under the hood
        auto = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs(
                emb, cents, TAU, probes=3
            ).collect()
        }
        # force the expression path for the same centroids
        from economic_data_etl_spark.operators import semantic as sem

        orig = sem.VECTORIZED_K_THRESHOLD
        sem.VECTORIZED_K_THRESHOLD = 10**9
        try:
            expr = {
                (r["id_a"], r["id_b"])
                for r in semantic_near_dup_pairs(
                    emb, cents, TAU, probes=3
                ).collect()
            }
        finally:
            sem.VECTORIZED_K_THRESHOLD = orig
        assert auto == expr

    @pytest.mark.slow
    def test_vectorized_assignment_matches_expression_k1024_dim128(
        self, spark
    ):
        """The regime VECTORIZED_K_THRESHOLD exists for: k=1024,
        dim=128 (the SemDeDup k ~ √n shape for a ~1M-doc shard). The
        expression lane needs ~131 s just to plan+codegen the
        1024-struct ranking tree (row count irrelevant — a 50-row
        corpus suffices to prove identity), the numpy lane ~3 s; the
        assignments must still be IDENTICAL, which is the license for
        the automatic lane switch. Slow-marked: the expression side's
        planning cost IS the measurement."""
        import numpy as np

        rng = np.random.default_rng(7)
        n, dim, k = 50, 128, 1024
        M = rng.normal(size=(n, dim))
        C = rng.normal(size=(k, dim))
        emb = spark.createDataFrame(
            [(i, M[i].tolist()) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        cents = [C[i].tolist() for i in range(k)]
        vec = {
            (r["vec_id"], r["cluster"])
            for r in assign_clusters_cosine(
                emb, cents, probes=3, vectorized=True
            ).collect()
        }
        expr = {
            (r["vec_id"], r["cluster"])
            for r in assign_clusters_cosine(
                emb, cents, probes=3, vectorized=False
            ).collect()
        }
        assert vec == expr

    def test_vectorized_lanes_tolerate_null_and_ragged_vectors(
        self, spark
    ):
        """Round-4 advice: a single NULL or wrong-dimension embedding
        must not crash the numpy lanes (np.stack ValueError) — the
        vectorized path is AUTO-selected at k>64, so NULL tolerance is
        a correctness property, not a nicety. NULL/ragged vectors get
        the same verdicts the expression path gives them: ascending
        cluster ids for the assignment (all cosines undefined), and
        NULL dot → pair dropped for scoring."""
        rows = [
            (0, [1.0, 0.0]),
            (1, None),             # NULL vector
            (2, [1.0]),            # wrong dimension (short)
            (3, [0.0, 0.0]),       # zero norm
            (4, [1.0, 0.05]),      # near-dup of 0
            (5, [1.0, 0.0, 0.0]),  # wrong dimension (LONG — a scalar
            # component lane that truncated instead of nulling would
            # wrongly score this against 0/4)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        cents = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
        expr = assign_clusters_cosine(
            emb, cents, probes=2, vectorized=False
        ).select("vec_id", "cluster")
        vec = assign_clusters_cosine(
            emb, cents, probes=2, vectorized=True
        ).select("vec_id", "cluster")
        assert {tuple(r) for r in expr.collect()} == {
            tuple(r) for r in vec.collect()
        }
        # pair scoring: NULL/ragged sides must be silently dropped in
        # BOTH lanes (NaN→NULL through Arrow; NULL >= τ is false).
        for vs in (False, True):
            pairs = {
                (r["id_a"], r["id_b"])
                for r in semantic_near_dup_pairs(
                    emb, cents, TAU, probes=2, vectorized_scoring=vs
                ).collect()
            }
            assert (0, 4) in pairs
            assert not any(
                1 in p or 2 in p or 5 in p for p in pairs
            ), pairs
        # the bucketed scalar-component lane enforces the same
        # dimension contract (component 0 nulls on size mismatch)
        from economic_data_etl_spark.operators.semantic import (
            semantic_near_dup_pairs_from_bucketed,
            write_assignment_bucketed,
        )

        write_assignment_bucketed(
            emb, cents, "t_sem_ragged_bucketed", probes=2, num_buckets=2
        )
        bucketed = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs_from_bucketed(
                spark, "t_sem_ragged_bucketed", threshold=TAU
            ).collect()
        }
        assert (0, 4) in bucketed
        assert not any(
            1 in p or 2 in p or 5 in p for p in bucketed
        ), bucketed

    def test_vectorized_assignment_broadcast_is_released(self, spark):
        """The centroid broadcast created by the vectorized lane must be
        handed to the caller-owned resource list so long-lived sessions
        can release it (round-4 advice: broadcast-block leak)."""
        from economic_data_etl_spark.operators.semantic import (
            assign_topp_clusters,
        )
        from pyspark.broadcast import Broadcast

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        resources: list = []
        out = assign_topp_clusters(
            emb,
            [[1.0, 0.0], [0.0, 1.0]],
            probes=1,
            vectorized=True,
            _resources=resources,
        )
        assert out.count() == 2
        bcs = [r for r in resources if isinstance(r, Broadcast)]
        assert len(bcs) == 1
        bcs[0].unpersist()  # the cleanup call every cache-owner makes

    def test_incremental_equals_full_minus_index_only(self, spark, sf_dir):
        from economic_data_etl_spark.operators.semantic import (
            semantic_incremental_pairs,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        index = emb.filter(F.col("vec_id") < 400)
        batch = emb.filter(F.col("vec_id") >= 400)
        cents = seed_centroids(index, 8)  # == first 8 of the full corpus

        inc = {
            (r["id_a"], r["id_b"])
            for r in semantic_incremental_pairs(
                index, batch, cents, TAU, probes=3
            ).collect()
        }
        full = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs(
                emb, cents, TAU, probes=3
            ).collect()
        }
        index_only = {
            (a, b) for a, b in full if a < 400 and b < 400
        }
        assert inc == full - index_only
        assert inc, "fixture must produce at least one incremental pair"

    def test_bucketed_layout_pairs_identical_to_in_memory(
        self, spark, sf_dir
    ):
        """The cluster-bucketed storage path (write once bucketed by
        cluster, self-join the buckets) must produce EXACTLY the pair
        set of the in-memory operator — the layout changes where the
        shuffle happens (write time vs query time), never the answer."""
        from economic_data_etl_spark.operators.semantic import (
            semantic_near_dup_pairs_from_bucketed,
            write_assignment_bucketed,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cents = seed_centroids(emb, 8)
        write_assignment_bucketed(
            emb, cents, "t_sem_bucketed_pairs", probes=3, num_buckets=8
        )
        bucketed = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs_from_bucketed(
                spark, "t_sem_bucketed_pairs", threshold=TAU
            ).collect()
        }
        memory = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs(
                emb, cents, TAU, probes=3
            ).collect()
        }
        assert bucketed == memory
        assert bucketed, "fixture must produce pairs"

    def test_bucketed_layout_array_fallback_above_dim_threshold(
        self, spark
    ):
        """dim > SCALAR_DOT_MAX_DIM must fall back to the `__nv` array
        layout (a thousand-term codegen chain would blow the JVM method
        budget) and the fold-scored pair pass must still match the
        in-memory operator — both layouts, one contract."""
        import numpy as np

        from economic_data_etl_spark.operators.semantic import (
            SCALAR_DOT_MAX_DIM,
            semantic_near_dup_pairs_from_bucketed,
            write_assignment_bucketed,
        )

        dim = SCALAR_DOT_MAX_DIM + 2
        rng = np.random.default_rng(5)
        base = rng.normal(size=(4, dim))
        rows = []
        for i in range(40):
            v = base[i % 4] + rng.normal(scale=0.05, size=dim)
            rows.append((i, [float(x) for x in v]))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        cents = seed_centroids(emb, 4)
        tbl = "t_sem_bucketed_highdim"
        write_assignment_bucketed(emb, cents, tbl, probes=2, num_buckets=4)
        t = spark.table(tbl)
        assert "__nv" in t.columns, "high-dim layout must store the array"
        assert not any(c.startswith("__nv") and c != "__nv" for c in t.columns)
        got = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs_from_bucketed(
                spark, tbl, threshold=TAU
            ).collect()
        }
        want = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs(
                emb, cents, TAU, probes=2
            ).collect()
        }
        assert got == want
        assert got, "fixture must produce pairs"

    def test_vectorized_scoring_matches_expression(self, spark, sf_dir):
        """The einsum pair-scoring lane must produce the SAME pair set
        as the expression dot-product fold (same candidates, same
        threshold verdicts) on the test corpus."""
        emb = load_table(spark, sf_dir, "embeddings")
        cents = seed_centroids(emb, 16)
        expr = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs(
                emb, cents, TAU, probes=3
            ).collect()
        }
        vec = {
            (r["id_a"], r["id_b"])
            for r in semantic_near_dup_pairs(
                emb, cents, TAU, probes=3, vectorized_scoring=True
            ).collect()
        }
        assert expr == vec
        assert expr, "fixture must produce pairs"
