"""Perceptual image hashing (pHash) + banded near-duplicate detection.

Image-level near-dup detection for multimodal corpora: re-encoded,
re-compressed, or slightly-filtered copies of an image survive
DCT-based perceptual hashing (the classic pHash construction), so
grouping/joining on the hash — or on its sub-bands for a
hamming-tolerant match — deduplicates image columns the way
MinHash/SimHash deduplicate text. Reference scope note: no codecs or
media exist in the reference repo; this extends the multimodal
curation surface next to the decode lanes.

Construction (pHash-standard):
1. grayscale (channel mean), box-resample to 32x32 with EXACT area
   means (vectorized np.add.reduceat over both axes — no
   interpolation kernel, so the hash is platform-deterministic),
2. 32x32 orthonormal 2D DCT (same matrix family as the JPEG codec),
3. keep the top-left 8x8 low-frequency block, threshold each
   coefficient against the MEDIAN of the 63 AC coefficients
   (DC excluded — intensity-offset invariance),
4. pack into a 64-bit integer (DC bit forced 0).

Scale design: hashing is per-row independent (Arrow batches); the
near-dup join never compares all pairs — the 64-bit hash splits into
8 one-byte bands, candidates must share at least one exact band
(pigeonhole: any pair within hamming distance 7 shares a band — same
argument as the SimHash text path in operators/dedup.py), and the
verify step is a JVM `bit_count(a ^ b) <= max_hamming` on candidates
only. Measured separation on the catalog's planted corpus:
JPEG-recompressed twins differ by <= 2 bits, unrelated textures by
>= 20 — the default threshold 7 sits in a dead zone.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BANDS = 8  # 8 bands x 8 bits: pigeonhole-complete for hamming <= 7
# The banded candidate step only guarantees a shared band for pairs
# within hamming N_BANDS - 1 (pigeonhole): a pair at hamming N_BANDS
# with exactly one differing bit per band shares no band. The default
# threshold therefore matches the recall guarantee exactly.
DEFAULT_MAX_HAMMING = N_BANDS - 1


def _dct_matrix(n: int) -> np.ndarray:
    return np.array(
        [
            [
                (np.sqrt(1 / n) if u == 0 else np.sqrt(2 / n))
                * np.cos((2 * x + 1) * u * np.pi / (2 * n))
                for x in range(n)
            ]
            for u in range(n)
        ],
        dtype=np.float64,
    )


_M32 = _dct_matrix(32)


def _box_resample_32(img: np.ndarray) -> np.ndarray:
    """Exact 32x32 box means of an (h, w) float array via reduceat —
    deterministic (no interpolation kernel), vectorized."""
    h, w = img.shape
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    rows = np.add.reduceat(img, ys, axis=0)
    cells = np.add.reduceat(rows, xs, axis=1)
    ye = np.append(ys[1:], h)
    xe = np.append(xs[1:], w)
    areas = (ye - ys)[:, None] * (xe - xs)[None, :]
    return cells / areas


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash of an (h, w) or (h, w, 3) uint8 image
    (h, w >= 32 recommended; smaller inputs still hash, boxes just
    repeat pixels unevenly)."""
    a = img.astype(np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    if a.shape[0] < 1 or a.shape[1] < 1:
        raise ValueError("empty image")
    small = _box_resample_32(a)
    d = _M32 @ small @ _M32.T
    block = d[:8, :8].ravel()
    med = float(np.median(block[1:]))
    bits = block > med
    bits[0] = False  # DC excluded: intensity-offset invariance
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v


def near_dup_pairs_by_phash(
    hashes: DataFrame,
    id_col: str = "id",
    hash_col: str = "phash",
    max_hamming: int = DEFAULT_MAX_HAMMING,
) -> DataFrame:
    """(id, phash) -> distinct candidate-verified near-dup pairs
    (id_a < id_b, hamming). Banded self-join (8 x 8-bit bands), then a
    codegen bit_count verify — never an all-pairs comparison.

    The banding is complete only for max_hamming <= N_BANDS - 1; a
    larger threshold would silently return a subset of the pairs its
    predicate promises, so it is rejected rather than approximated.
    """
    if max_hamming >= N_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the banded recall "
            f"guarantee: {N_BANDS} bands are pigeonhole-complete only "
            f"for hamming <= {N_BANDS - 1}"
        )
    bands = hashes.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col(hash_col), 8 * i)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("id", "h", "band.band_idx", "band.band_val")
    left = bands.alias("a")
    right = bands.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(
            F.col("h_a").bitwiseXOR(F.col("h_b"))
        ).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def near_dup_pairs_by_phash_vs_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "id",
    hash_col: str = "phash",
    max_hamming: int = DEFAULT_MAX_HAMMING,
) -> DataFrame:
    """Incremental near-dup detection: match a NEW batch's hashes
    against an EXISTING fingerprint index without ever comparing the
    index to itself — the maintenance shape of media dedup at corpus
    scale (the index is written once and appended to; each ingest
    increment pays O(batch), not O(corpus), exactly like the
    incremental MinHash and incremental semantic operators).

    Banding is identical to the self-join path (8 x 8-bit bands,
    pigeonhole-complete for hamming <= N_BANDS - 1), but the join is
    batch-vs-index, so candidates are only generated where a batch
    band collides with an index band. Returns
    (batch_id, index_id, hamming) distinct pairs.
    """
    if max_hamming >= N_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the banded recall "
            f"guarantee: {N_BANDS} bands are pigeonhole-complete only "
            f"for hamming <= {N_BANDS - 1}"
        )

    def explode_bands(df: DataFrame, bid: str, bh: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(bid),
            F.col(hash_col).alias(bh),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            F.shiftrightunsigned(F.col(hash_col), 8 * i)
                            .bitwiseAND(F.lit(255))
                            .alias("band_val"),
                        )
                        for i in range(N_BANDS)
                    ]
                )
            ).alias("band"),
        ).select(bid, bh, "band.band_idx", "band.band_val")

    b = explode_bands(batch, "batch_id", "h_b")
    x = explode_bands(index, "index_id", "h_x")
    return (
        b.join(x, ["band_idx", "band_val"])
        .select("batch_id", "index_id", "h_b", "h_x")
        .dropDuplicates(["batch_id", "index_id"])
        .select(
            "batch_id",
            "index_id",
            F.bit_count(
                F.col("h_b").bitwiseXOR(F.col("h_x"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def near_dup_videos_by_phash(
    keyframes: DataFrame,
    id_col: str = "video_id",
    frame_col: str = "frame_idx",
    hash_col: str = "phash",
    max_hamming: int = DEFAULT_MAX_HAMMING,
    min_match_frac: float = 0.5,
) -> DataFrame:
    """Video-level near-duplicate detection by composing the banded
    pHash join over sampled keyframes: input is one row per
    (video_id, frame_idx, keyframe pHash); two videos are near-dups
    when MORE THAN min_match_frac of the shorter video's keyframes
    match at the SAME frame index within `max_hamming` (the
    majority-of-aligned-keyframes rule — the standard media-dedup
    shape for re-encoded/transcoded copies).

    Scale design: candidates must share (frame_idx, band) — the
    banded self-join from near_dup_pairs_by_phash with the frame
    index added to the key, so the pigeonhole recall guarantee holds
    per frame and cross-position frame pairs are never generated.
    The verify step and the per-pair majority count are plain
    codegen aggregations; no all-pairs comparison at any level.

    Returns (id_a, id_b, n_matched, n_frames_a, n_frames_b) with
    id_a < id_b.
    """
    if max_hamming >= N_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the banded recall "
            f"guarantee: {N_BANDS} bands are pigeonhole-complete only "
            f"for hamming <= {N_BANDS - 1}"
        )
    counts = keyframes.groupBy(
        F.col(id_col).alias("vid")
    ).agg(F.count(F.lit(1)).alias("n_frames"))
    bands = keyframes.select(
        F.col(id_col).alias("vid"),
        F.col(frame_col).alias("fidx"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col(hash_col), 8 * i)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("vid", "fidx", "h", "band.band_idx", "band.band_val")
    left = bands.alias("a")
    right = bands.alias("b")
    matched = (
        left.join(
            right,
            (F.col("a.fidx") == F.col("b.fidx"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.col("a.fidx").alias("fidx"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b", "fidx"])
        .where(
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
            <= max_hamming
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        matched.join(
            counts.select(
                F.col("vid").alias("id_a"),
                F.col("n_frames").alias("n_frames_a"),
            ),
            "id_a",
        )
        .join(
            counts.select(
                F.col("vid").alias("id_b"),
                F.col("n_frames").alias("n_frames_b"),
            ),
            "id_b",
        )
        .where(
            F.col("n_matched")
            > F.lit(min_match_frac)
            * F.least("n_frames_a", "n_frames_b")
        )
        .select(
            "id_a", "id_b", "n_matched", "n_frames_a", "n_frames_b"
        )
    )
