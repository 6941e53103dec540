"""KMV sketch (operators/kmv.py): exactness below k, estimator accuracy
above k, merge == one-shot, NULL exclusion."""

from __future__ import annotations

from pyspark.sql import functions as F

from economic_data_etl_spark.operators.kmv import (
    kmv_estimate,
    kmv_merge,
    kmv_sketch_by,
)

K = 32


def _df(spark, rows):
    return spark.createDataFrame(rows, "grp string, key long")


def _sketch_set(df):
    return sorted((r.grp, r.h) for r in df.collect())


def test_exact_below_k(spark):
    df = _df(spark, [("a", v) for v in range(10)])
    est = kmv_estimate(kmv_sketch_by(df, "key", "grp", K), K).collect()
    assert est[0].n_sketch == 10 and est[0].est == 10.0


def test_estimator_above_k_within_bound(spark):
    n = 5000
    df = _df(spark, [("a", v) for v in range(n)])
    est = kmv_estimate(kmv_sketch_by(df, "key", "grp", K), K).collect()
    assert est[0].n_sketch == K
    assert abs(est[0].est - n) / n < 3.0 / (K - 2) ** 0.5


def test_duplicates_and_nulls_ignored(spark):
    rows = [("a", v % 50) for v in range(1000)] + [("a", None)] * 10
    df = _df(spark, rows)
    est = kmv_estimate(kmv_sketch_by(df, "key", "grp", K), K).collect()
    assert est[0].n_sketch == K or est[0].n_sketch == 50
    # 50 distinct > K=32 -> sketch full; estimate near 50
    assert est[0].n_sketch == K
    assert abs(est[0].est - 50) / 50 < 3.0 / (K - 2) ** 0.5


def test_merge_equals_one_shot(spark):
    rows = [("a", v) for v in range(400)] + [
        ("b", v) for v in range(200, 700)
    ]
    df = _df(spark, rows)
    per_grp = kmv_sketch_by(df, "key", "grp", K)
    merged = kmv_merge(per_grp, K)
    one_shot = kmv_sketch_by(
        df.select(F.lit("ALL").alias("g2"), "key"), "key", "g2", K
    )
    assert _sketch_set(merged.select("grp", "h")) == _sketch_set(
        one_shot.select(F.lit("ALL").alias("grp"), "h")
    )

