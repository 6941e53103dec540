"""From-scratch mergeable quantile sketch: a deterministic compactor
sketch in the MRL / KLL family (Manku-Rajagopalan-Lindsay compaction;
Karnin-Lang-Liberty gave the randomized refinement — here the
compaction offset alternates deterministically instead of coin-flipping
so replay and certificates are exactly reproducible).

Structure: level i holds items of weight 2^i. When a level exceeds its
capacity k, it is sorted and every other item is promoted with doubled
weight (the alternating offset halves the systematic bias; an
odd-length level holds its maximum back so TOTAL WEIGHT IS CONSERVED
EXACTLY — the sketch's weight always equals the true row count, pinned
by test and certificate).

Error accounting: one compaction at level i perturbs any rank by at
most 2^i (the classical MRL argument: within each promoted pair, the
discarded item's weight moves by one position). The sketch carries its
compaction counts, so it reports its own worst-case rank-error bound
B = sum_i C_i * 2^i — the certificate (inv_kll_rank_error) checks the
MEASURED rank error of every reported quantile against B.

Scale shape: one mapInPandas pass builds a per-partition sketch
(numpy-vectorized — the whole partition enters level 0 and compacts in
O(n log n) sorts, never an item-at-a-time loop), then summaries merge
level-wise. Each summary is O(k log(n/k)) rows regardless of data
size; the final merge is one task over P such summaries (for very
large P, merge pairwise in a tree — the operation is associative).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Serialized sketch rows: level >= 0 are items; level = -1 rows are
# per-level compaction counters (value = level index, cnt = count).
SKETCH_SCHEMA = "level int, value double, cnt long"

_META_LEVEL = -1


def _compress(levels: list[np.ndarray], comp: dict[int, int], k: int):
    """Compact every over-capacity level upward, in place."""
    i = 0
    while i < len(levels):
        if len(levels[i]) > k:
            arr = np.sort(levels[i])
            if len(arr) % 2 == 1:
                # hold the max back so promoted weight is exact
                hold, arr = arr[-1:], arr[:-1]
            else:
                hold = arr[:0]
            off = comp.get(i, 0) & 1
            promoted = arr[off::2]
            comp[i] = comp.get(i, 0) + 1
            levels[i] = hold
            if i + 1 == len(levels):
                levels.append(promoted)
            else:
                levels[i + 1] = np.concatenate([levels[i + 1], promoted])
        i += 1


def _to_rows(levels, comp) -> pd.DataFrame:
    recs = [
        (lvl, float(v), 1)
        for lvl, arr in enumerate(levels)
        for v in arr
    ] + [(_META_LEVEL, float(lvl), c) for lvl, c in comp.items()]
    return pd.DataFrame(recs, columns=["level", "value", "cnt"])


def _from_rows(pdf: pd.DataFrame):
    items = pdf[pdf["level"] >= 0]
    n_levels = int(items["level"].max()) + 1 if len(items) else 1
    levels = [
        items.loc[items["level"] == i, "value"].to_numpy(dtype=float)
        for i in range(n_levels)
    ]
    comp = {
        int(r.value): int(r.cnt)
        for r in pdf[pdf["level"] == _META_LEVEL].itertuples()
    }
    return levels, comp


def merge_sketch_rows(pdf: pd.DataFrame, k: int = 256) -> pd.DataFrame:
    """Merge any number of serialized sketches (their rows concatenated
    into one frame): level lists concatenate, compaction counters add,
    then one compression pass restores capacity. Associative, so
    batches can be folded through it in any grouping."""
    items = pdf[pdf["level"] >= 0]
    n_levels = int(items["level"].max()) + 1 if len(items) else 1
    levels = [
        items.loc[items["level"] == i, "value"].to_numpy(dtype=float)
        for i in range(n_levels)
    ]
    meta = pdf[pdf["level"] == _META_LEVEL]
    comp: dict[int, int] = {}
    for r in meta.itertuples():
        lvl = int(r.value)
        comp[lvl] = comp.get(lvl, 0) + int(r.cnt)
    _compress(levels, comp, k)
    return _to_rows(levels, comp)


def kll_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Serialized sketch of the non-null values of `col`: one
    mapInPandas pass builds per-partition sketches, one single-group
    applyInPandas merges them (summary-sized input)."""

    def build(batches):
        levels = [np.empty(0, dtype=float)]
        comp: dict[int, int] = {}
        for pdf in batches:
            vals = pdf[col].to_numpy(dtype=float)
            vals = vals[~np.isnan(vals)]
            levels[0] = np.concatenate([levels[0], vals])
            _compress(levels, comp, k)
        yield _to_rows(levels, comp)

    parts = df.select(F.col(col).alias(col)).mapInPandas(
        build, SKETCH_SCHEMA
    )
    # one merge task over P summary sketches (associative — tree-merge
    # for very large P)
    return parts.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda _, pdf: merge_sketch_rows(pdf, k), SKETCH_SCHEMA
    )


def kll_quantiles(
    sketch_pdf: pd.DataFrame, qs: list[float]
) -> list[tuple[float, float, int, int]]:
    """(q, estimate, total_weight, rank_error_bound) per quantile,
    driver-side over the summary-sized sketch rows."""
    levels, comp = _from_rows(sketch_pdf)
    vals = np.concatenate(levels) if levels else np.empty(0)
    wts = np.concatenate(
        [np.full(len(arr), 1 << i) for i, arr in enumerate(levels)]
    ) if levels else np.empty(0)
    order = np.argsort(vals, kind="stable")
    vals, wts = vals[order], wts[order]
    cum = np.cumsum(wts)
    total = int(cum[-1]) if len(cum) else 0
    bound = int(sum(c * (1 << lvl) for lvl, c in comp.items()))
    out = []
    for q in qs:
        if total == 0:
            out.append((q, float("nan"), 0, bound))
            continue
        target = q * total
        idx = int(np.searchsorted(cum, target, side="left"))
        idx = min(idx, len(vals) - 1)
        out.append((q, float(vals[idx]), total, bound))
    return out
