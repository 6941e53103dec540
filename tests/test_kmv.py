"""KMV sketch (operators/kmv.py + streaming/incremental_kmv.py):
exactness below k, estimator accuracy above k, merge == one-shot,
NULL exclusion, and the streaming fold's stream==batch / redelivery /
crash-recovery contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from economic_data_etl_spark.operators.kmv import (
    kmv_estimate,
    kmv_merge,
    kmv_sketch_by,
)
from economic_data_etl_spark.streaming.incremental_kmv import (
    foreach_batch_incremental_kmv,
    read_sketches,
)

K = 32


def _df(spark, rows):
    return spark.createDataFrame(rows, "grp string, key long")


def _sketch_set(df):
    # NULL groups sort first (None does not compare with str)
    return sorted(
        ((r.grp, r.h) for r in df.collect()),
        key=lambda t: (t[0] is not None, t),
    )


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


def test_stream_fold_equals_batch_and_redelivery_noop(spark, tmp_path):
    # a NULL group is data: it must survive every fold and the read
    rows = (
        [("a", v) for v in range(300)]
        + [("b", v * 7) for v in range(250)]
        + [(None, v * 5) for v in range(200)]
    )
    df = _df(spark, rows)
    state = str(tmp_path / "kmv")
    handle = foreach_batch_incremental_kmv(state, "key", "grp", K)
    batches = [df.filter(F.col("key") % 3 == b) for b in range(3)]
    for bi, b in enumerate(batches):
        handle(b, bi)
    want = _sketch_set(
        kmv_sketch_by(df, "key", "grp", K).select("grp", "h")
    )
    got = _sketch_set(read_sketches(spark, state, K).select("grp", "h"))
    assert got == want
    handle(batches[0], 0)  # exact redelivery: high-water mark skip
    handle(batches[1], 99)  # overlap under a new id: no-op by the math
    assert (
        _sketch_set(read_sketches(spark, state, K).select("grp", "h"))
        == want
    )


def test_partial_staging_discarded(spark, tmp_path):
    import os

    rows = [("a", v) for v in range(200)]
    df = _df(spark, rows)
    state = str(tmp_path / "kmv")
    staging = f"{state}.staging"
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "part-0.parquet"), "wb") as f:
        f.write(b"mid-write crash leftovers")
    handle = foreach_batch_incremental_kmv(state, "key", "grp", K)
    handle(df, 0)
    want = _sketch_set(
        kmv_sketch_by(df, "key", "grp", K).select("grp", "h")
    )
    assert (
        _sketch_set(read_sketches(spark, state, K).select("grp", "h"))
        == want
    )
    assert not os.path.exists(staging)
