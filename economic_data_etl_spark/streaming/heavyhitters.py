"""Mergeable Misra-Gries: the weighted merge of two heavy-hitter
summaries, with provable frequency bounds after any sequence of
merges.

Mergeability (Agarwal et al., "Mergeable Summaries", PODS 2012): MG
summaries merge by adding weights item-wise and re-trimming to
capacity k — subtract the (k+1)-th largest weight m from every item
and drop the non-positive. Each trim discards >= (k+1)*m total weight,
so the CUMULATIVE undercount after any sequence of merges is
<= n/(k+1), n the total stream length, and a summary folded batch by
batch guarantees

    true_count(x) - err <= weight(x) <= true_count(x)

with `err` the sum of the trims' m plus the per-partition summaries'
own spills (operators/heavyhitters.py:mg_summaries). With capacity
cap = 2k+1 both layers together stay err <= n/(k+1) < n/k, so every
item with true_count > n/k is NECESSARILY present. The batch fold and
its certificate are plans/sketches.py:inv_mg_mergeable_bounds.
"""

from __future__ import annotations


def _mg_merge(
    counters: dict[str, int], add: dict[str, int], k: int
) -> tuple[dict[str, int], int]:
    """Weighted MG merge: item-wise add, then trim to capacity k.
    Returns (merged, m_subtracted) — m is the exact per-item
    undercount this trim introduced (0 when no trim was needed)."""
    merged = dict(counters)
    for t, w in add.items():
        merged[t] = merged.get(t, 0) + w
    if len(merged) <= k:
        return merged, 0
    vals = sorted(merged.values(), reverse=True)
    m = vals[k]  # (k+1)-th largest
    return {t: w - m for t, w in merged.items() if w - m > 0}, m
