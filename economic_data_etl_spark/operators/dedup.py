"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Design for 100 TB:

- **Exact**: `dropDuplicates` on the key columns — one shuffle, map-side
  partial dedup first.
- **Jaccard via inverted index**: explode distinct shingles, self-join on
  the shingle (the inverted-index trick), count intersections, compute
  |A∩B| / (|A|+|B|-|A∩B|). Avoids the O(n²) doc-pair cross join; the only
  quadratic blowup is per-shingle document frequency, which `max_df`
  caps (a shingle appearing in > max_df docs is a stopword-shingle and
  carries ~no signal).
- **MinHash**: the signature is computed entirely per-row with nested
  higher-order functions (no explode, no shuffle):
  sig[i] = min over shingles s of xxhash64(s, i). LSH banding then buckets
  signatures so only same-bucket docs are compared — the standard
  shuffle-light path to near-dedup at scale.
- **SimHash**: 64-bit per-row fingerprint from token hashes; near-dups are
  found by banding the fingerprint into chunks (pigeonhole: hamming
  distance ≤ d pairs must share one of d+1 chunks).

No row-at-a-time Python UDFs anywhere — xxhash64 / transform / filter /
aggregate are all JVM expressions inside whole-stage codegen. The one
Python touchpoint is `simhash_arrow`, a vectorized Arrow pandas_udf fast
path for SimHash bit-counting (the O(tokens × 64) majority vote is ~20×
faster in numpy than as interpreted HOF lambdas); it consumes JVM-side
xxhash64 token hashes and is proven bit-identical to the pure-expression
`simhash()` by tests/test_dedup_quality.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from economic_data_etl_spark.functions.text import tokens, word_shingles
from economic_data_etl_spark.plans.catalog import biased_round


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keep one row per distinct value of `cols` (arbitrary survivor)."""
    return df.dropDuplicates(cols)


# --------------------------------------------------------------------------
# N-gram Jaccard (exact set similarity, inverted-index join)
# --------------------------------------------------------------------------
def jaccard_similar_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All doc pairs (a < b) with shingle-set Jaccard >= threshold.

    Returns (id_a, id_b, jaccard). `max_df` drops shingles present in more
    than that many docs before pairing (scale guard; None = keep all).
    """
    shingled = df.select(
        F.col(id_col).alias("doc"), word_shingles(F.col(text_col), n).alias("sh")
    )
    # The inverted index is read three times (both join sides + sizes) —
    # persist it so the shingling scan runs once, not three times.
    inv = shingled.select("doc", F.explode("sh").alias("shingle")).persist()
    sizes = inv.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        inv = inv.join(freq.filter(F.col("df") <= max_df), "shingle")
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"))
    # Threshold binds on the raw ratio; round() is display precision only.
    raw = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(raw >= threshold)
        .select("id_a", "id_b", biased_round(raw).alias("jaccard"))
    )


def jaccard_similar_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING (the PPJoin
    family of exact set-similarity joins). Identical output to
    `jaccard_similar_pairs` — same DuckDB oracle — at a fraction of the
    join cost.

    Why it's exact: order every document's shingles by a global
    rarest-first key (document frequency, ties by shingle). J(A,B) >= t
    implies |A∩B| >= t·|A∪B| >= ⌈t·|A|⌉; a set sharing >= ⌈t·|A|⌉
    elements with A cannot avoid the first |A| - ⌈t·|A|⌉ + 1 elements
    of A under ANY consistent total order (pigeonhole) — only that
    prefix needs to enter the inverted index. At t=0.8 that is
    ~20% of each doc's shingles, and because the prefix keeps the
    RAREST shingles, the quadratic per-shingle pair blowup collapses
    (frequent shingles — the expensive ones — never reach the join).
    Candidates are then verified EXACTLY with array_intersect on the
    full shingle arrays, plus the length filter |B| >= t·|A| (a pair
    failing it cannot reach threshold).

    Shuffle budget: one occurrence shuffle (the df window), the
    candidate join, two candidate-only verify joins — all on keys that
    shrink as threshold rises.

    Pass-count note (r13): the shingle projection is expensive
    (interpreted HOF over every token), so the operator derives it
    exactly ONCE corpus-wide — document frequency rides a window over
    the same occurrence stream instead of a groupBy+join re-derivation
    — and the verify sides re-shingle only CANDIDATE docs (the
    candidate id set is checkpointed; it is pairs-of-ids small by the
    prefix filter's selectivity). Corpus-wide shingle builds: 4 -> 1.
    """
    shingled = df.select(
        F.col(id_col).alias("doc"),
        word_shingles(F.col(text_col), n).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    # Deliberately NOT persisted: materializing a corpus-sized array
    # column into the cache measured 2× slower cold at sf0.1, and at
    # real scale caching the full shingle table is exactly the memory
    # pressure to avoid.

    inv = shingled.select("doc", "n_sh", F.explode("sh").alias("shingle"))
    # Re-assemble each doc's shingles rarest-first; keep only the prefix
    # that can witness a >= t pair.
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    wsh = Window.partitionBy("shingle")
    ordered = (
        inv.withColumn("df", F.count(F.lit(1)).over(wsh))
        .groupBy("doc")
        .agg(
            F.first("n_sh").alias("n_sh"),
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("ord"),
        )
        .select(
            "doc",
            "n_sh",
            F.slice(
                F.transform(F.col("ord"), lambda x: x["shingle"]),
                F.lit(1),
                prefix_len,
            ).alias("prefix"),
        )
    )
    pre_inv = ordered.select(
        "doc", "n_sh", F.explode("prefix").alias("shingle")
    )
    a, b = pre_inv.alias("a"), pre_inv.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            # length filter: J >= t forces t·|A| <= |B| <= |A|/t; the
            # doc-id ordering says nothing about sizes, so bound both ways
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= threshold * F.col("b.n_sh")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("doc"))
        .unionByName(cand.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    cand_sh = df.join(
        F.broadcast(cand_ids.withColumnRenamed("doc", id_col)),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("doc"),
        word_shingles(F.col(text_col), n).alias("sh"),
    )
    sa = cand_sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = cand_sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    raw = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__raw", raw)
        .filter(F.col("__raw") >= threshold)
        .select("id_a", "id_b", biased_round(F.col("__raw")).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def minhash_signature(text: Column, num_perm: int = 64, shingle_n: int = 3) -> Column:
    """array<long> MinHash signature, computed per-row (no shuffle).

    sig[i] = min over shingles s of xxhash64(s, i) — xxhash64 over
    (shingle, permutation index) is a family of independent-enough hash
    functions.

    Shape matters: higher-order-function lambdas are interpreted (not
    codegen'd), and an expression referenced inside a lambda re-evaluates
    per invocation. So we hash each shingle ONCE into a 64-wide array and
    fold signatures with zip_with/least — the shingle array is built once
    per row, not once per permutation (the naive
    `transform(perms, i -> array_min(transform(shingles, ...)))` is ~100×
    slower because it rebuilds the shingle array per permutation).
    """
    sh = word_shingles(text, shingle_n)
    per_shingle_hashes = F.transform(
        sh,
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(num_perm - 1)), lambda i: F.xxhash64(s, i)
        ),
    )
    max_long = F.lit((1 << 63) - 1).cast("long")
    return F.aggregate(
        per_shingle_hashes,
        F.array_repeat(max_long, num_perm),
        lambda acc, h: F.zip_with(acc, h, lambda a, b: F.least(a, b)),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 64, shingle_n: int = 3
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"),
        minhash_signature(F.col(text_col), num_perm, shingle_n).alias("sig"),
    )


def band_buckets(
    sig_df: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(doc, band, bucket) rows: bucket = xxhash64(band slice, band idx).

    The shared banding step for self-join dedup AND incremental
    batch-vs-index dedup — both sides of any candidate join must band
    identically for buckets to collide."""
    return sig_df.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band), b
                ),
            )
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on at least one LSH band.

    Bucket key = xxhash64(band slice, band index); self-join on the bucket
    — the join is on a 64-bit key, so only same-bucket docs ever meet.
    """
    banded = band_buckets(sig_df, bands, rows_per_band)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates refined by estimated Jaccard (fraction of agreeing
    signature positions). Returns (id_a, id_b, est_jaccard >= threshold)."""
    rows_per_band = num_perm // bands
    # Signatures feed the banding AND both sides of the candidate join —
    # persist so the (expensive) signature scan runs once, not three times.
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_n).persist()
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band)
    sa = sigs.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(num_perm)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", biased_round(est))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_incremental_pairs(
    index_sigs: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs of an INCOMING batch against a precomputed corpus
    signature index, plus pairs within the batch itself.

    The daily-increment pattern for a 100 TB corpus: signatures for the
    standing corpus are computed once and persisted (`index_sigs` is the
    (doc, sig) table `minhash_signatures` produces — in production, read
    back from the signature store, bucketed by band); each new batch
    only signs ITS OWN documents, bands them, and joins against the
    index's buckets. Corpus text is never re-read, and the join touches
    only colliding buckets. Returns (id_a, id_b, est_jaccard) with
    id_a < id_b, est_jaccard >= threshold.
    """
    rows_per_band = num_perm // bands
    inc_sigs = minhash_signatures(
        incoming, id_col, text_col, num_perm, shingle_n
    ).persist()
    all_sigs = index_sigs.unionByName(inc_sigs)
    inc_b = band_buckets(inc_sigs, bands, rows_per_band)
    all_b = band_buckets(all_sigs, bands, rows_per_band)
    a, b = inc_b.alias("a"), all_b.alias("b")
    # incoming vs (index + incoming): doc-id inequality both dedups the
    # (x,x) self-match and canonicalizes within-batch pairs to a < b;
    # cross pairs keep incoming on the left.
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("id_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("id_b"),
        )
        .distinct()
    )
    sa = all_sigs.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = all_sigs.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(num_perm)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", biased_round(est))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def simhash(text: Column, bits: int = 64) -> Column:
    """Per-row 64-bit SimHash over whitespace tokens (long column).

    bit_i = 1 iff a majority of token hashes have bit i set. Built from a
    Python loop over bit positions (literal shift amounts) so everything
    stays a JVM expression.
    """
    from economic_data_etl_spark.functions.text import let

    weights = F.array(
        *[
            (F.lit(-(2**63)) if i == bits - 1 else F.lit(1 << i)).cast("long")
            for i in range(bits)
        ]
    )

    def build(hashes: Column) -> Column:
        # `hashes` is a bound variable (see let()): size() and the folds
        # below read it O(1) instead of re-hashing the tokens per element.
        n = F.size(hashes)
        bit_arrays = F.transform(
            hashes,
            lambda h: F.array(
                *[
                    F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)).cast("long")
                    for i in range(bits)
                ]
            ),
        )
        counts = F.aggregate(
            bit_arrays,
            F.array_repeat(F.lit(0).cast("long"), bits),
            lambda acc, b: F.zip_with(acc, b, lambda x, y: x + y),
        )
        contributions = F.zip_with(
            counts,
            weights,
            lambda c, w: F.when(c * 2 >= n, w).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(
            contributions, F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    return let(F.transform(tokens(text), lambda t: F.xxhash64(t)), build)


def simhash_arrow(text: Column) -> Column:
    """Vectorized SimHash: same fingerprints as `simhash()`, ~20× faster.

    Token hashing stays JVM-side (xxhash64 inside the scan stage); only
    the O(tokens × 64) bit-majority vote crosses to Python, as ONE Arrow
    batch of long arrays per ~10k rows. numpy unpackbits/packbits with
    bitorder='little' reproduces the expression version's bit layout
    ((h >> i) & 1 at position i, two's-complement weight at bit 63), so
    the two implementations are interchangeable mid-pipeline.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _pack(hashes):  # pd.Series of int64 arrays
        import numpy as np
        import pandas as pd

        out = np.zeros(len(hashes), dtype=np.int64)
        isnull = np.zeros(len(hashes), dtype=bool)
        for i, arr in enumerate(hashes):
            if arr is None:
                isnull[i] = True
                continue
            a = np.asarray(arr, dtype=np.int64)
            n = a.shape[0]
            if n == 0:
                # matches the expression version: 0*2 >= 0 → every bit's
                # majority test passes → all-ones fingerprint (-1).
                out[i] = -1
                continue
            bit_mat = np.unpackbits(
                a.view(np.uint64).view(np.uint8).reshape(n, 8),
                axis=1,
                bitorder="little",
            )
            counts = bit_mat.sum(axis=0, dtype=np.int64)
            maj = (counts * 2 >= n).astype(np.uint8)
            out[i] = np.packbits(maj, bitorder="little").view(np.int64)[0]
        res = pd.array(out, dtype="Int64")
        res[isnull] = pd.NA
        return pd.Series(res)

    return _pack(F.transform(tokens(text), lambda t: F.xxhash64(t)))


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunks: int = 8,
    use_arrow: bool = True,
) -> DataFrame:
    """Near-dup candidates by the pigeonhole principle: split the 64-bit
    fingerprint into `chunks` slices; pairs within hamming distance
    (chunks-1) must share at least one exact slice. Join on (slice index,
    slice value) — no pairwise scan."""
    width = 64 // chunks
    fp = simhash_arrow if use_arrow else simhash
    # Fingerprints feed both sides of the banded self-join; persist so the
    # tokenize+hash+majority pipeline runs once per doc, not twice.
    sh = df.select(
        F.col(id_col).alias("doc"), fp(F.col(text_col)).alias("fp")
    ).persist()
    sliced = sh.select(
        "doc",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("fp"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("chunk", "val"),
    )
    a, b = sliced.alias("a"), sliced.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    # Exact hamming distance on the candidates only (one POPCNT, not 64
    # shift/mask/add terms).
    xor = F.col("fp_a").bitwiseXOR(F.col("fp_b"))
    return pairs.withColumn("hamming", F.bit_count(xor)).select(
        "id_a", "id_b", "hamming"
    )
