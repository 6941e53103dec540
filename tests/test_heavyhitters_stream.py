"""Mergeable Misra-Gries: a summary folded batch by batch through
per-partition `mg_summaries` and the weighted `_mg_merge` must
sandwich the true counts, with presence guaranteed for every true
hitter (the fold of plans/sketches.py:inv_mg_mergeable_bounds)."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from economic_data_etl_spark.operators.heavyhitters import mg_summaries
from economic_data_etl_spark.streaming.heavyhitters import _mg_merge


def _df(spark, items, parts=3):
    return spark.createDataFrame(
        [(t,) for t in items], "item string"
    ).repartition(parts)


def _fold(spark, batches, k):
    """(counters, n_total, err) after folding every batch at internal
    capacity 2k+1: the partition layer and the merge layer each
    undercount by <= n/(cap+1), so err <= n/(k+1) < n/k."""
    cap = 2 * k + 1
    counters: dict[str, int] = {}
    n_total, err = 0, 0
    for items in batches:
        bc: dict[str, int] = {}
        bn = 0
        for r in mg_summaries(_df(spark, items), "item", cap).collect():
            if r.is_count:
                bn += r.weight
            else:
                bc[r.item] = bc.get(r.item, 0) + r.weight
        counters, m = _mg_merge(counters, bc, cap)
        err += m + bn // (cap + 1)
        n_total += bn
    return counters, n_total, err


def _check_guarantees(spark, batches, k):
    """The bounds of the mergeable summary, against brute force.
    Returns the reported candidates: item -> guaranteed."""
    counters, n_total, err = _fold(spark, batches, k)
    cnt = Counter(t for b in batches for t in b if t is not None)
    n = sum(cnt.values())
    assert n_total == n
    assert err * (k + 1) <= n  # err <= n/(k+1)
    # candidates: items whose upper bound can still reach n/k
    rep = {t: w for t, w in counters.items() if (w + err) * k > n}
    # presence: every true hitter is a candidate
    for t, c in cnt.items():
        if c * k > n:
            assert t in rep, f"true hitter {t} missing"
    # sandwich: lower <= true <= upper for every candidate
    for t, w in rep.items():
        assert w <= cnt[t] <= w + err, t
    # guaranteed (the lower bound clears n/k) implies true hitter
    for t, w in rep.items():
        if w * k > n:
            assert cnt[t] * k > n, f"false guarantee on {t}"
    return {t: w * k > n for t, w in rep.items()}


def test_stream_bounds_and_presence(spark):
    batches = [
        ["hot"] * 40 + [f"c{i}" for i in range(30)],
        ["hot"] * 30 + ["warm"] * 25 + [f"d{i}" for i in range(20)],
        ["warm"] * 35 + [f"e{i}" for i in range(25)] + [None] * 10,
    ]
    guaranteed = _check_guarantees(spark, batches, 4)
    # with this data the two heavy items must be GUARANTEED, not just
    # possible: they dominate their batches
    assert guaranteed["hot"] and guaranteed["warm"]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    batches=st.lists(
        st.lists(
            st.sampled_from(
                ["h1"] * 6 + ["h2"] * 4 + [f"v{i}" for i in range(15)]
            ),
            min_size=0,
            max_size=120,
        ),
        min_size=1,
        max_size=4,
    ),
    k=st.integers(min_value=2, max_value=6),
)
def test_property_bounds_hold(spark, batches, k):
    nonempty = [b for b in batches if b] or [["h1"]]
    _check_guarantees(spark, nonempty, k)
