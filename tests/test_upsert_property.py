"""Property-style upsert tests (SURVEY.md §7 M7): random revision patterns
pushed through the production parquet store and checked against a
driver-side dict model of the reference's MERGE semantics."""

from __future__ import annotations

import datetime
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from economic_data_etl_spark.operators.upsert import upsert_parquet

KEYS = ["series_id", "date"]
COMPARE = ["value"]
# series_name is a non-compare column: it must follow the row the MERGE keeps
SCHEMA = "series_id string, date date, value double, series_name string"

_dates = st.integers(min_value=0, max_value=5).map(
    lambda i: datetime.date(2023, 1, 1) + datetime.timedelta(days=i)
)
_values = st.one_of(st.none(), st.floats(min_value=-100, max_value=100, width=32))
_batch = st.dictionaries(
    st.tuples(st.sampled_from(["A", "B"]), _dates),
    st.tuples(_values, st.sampled_from(["old", "new"])),
    max_size=8,
)


def _df(spark, batch):
    rows = [(k[0], k[1], v, name) for k, (v, name) in batch.items()]
    return spark.createDataFrame(rows, SCHEMA)


def _model_eq(a, b, eps=1e-9):
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    return abs(a - b) < eps


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(existing=_batch, incoming=_batch)
def test_upsert_matches_dict_model(spark, tmp_path, existing, incoming):
    target = str(tmp_path / uuid.uuid4().hex)
    if existing:
        seeded = upsert_parquet(spark, _df(spark, existing), target, KEYS, COMPARE)
        assert seeded == {"inserted": len(existing), "updated": 0, "unchanged": 0}
    stats = upsert_parquet(spark, _df(spark, incoming), target, KEYS, COMPARE)

    # model: classify each incoming key against existing; an unchanged key
    # keeps the stored row, an inserted or updated one takes the incoming row
    want = {"inserted": 0, "updated": 0, "unchanged": 0}
    merged_model = dict(existing)
    for k, row in incoming.items():
        if k not in existing:
            want["inserted"] += 1
            merged_model[k] = row
        elif _model_eq(existing[k][0], row[0]):
            want["unchanged"] += 1
        else:
            want["updated"] += 1
            merged_model[k] = row
    assert stats == want

    stored = spark.read.parquet(target).collect()
    merged = {(r["series_id"], r["date"]): (r["value"], r["series_name"]) for r in stored}
    assert len(stored) == len(merged)  # one row per key
    assert set(merged) == set(merged_model)
    for k, (want_value, want_name) in merged_model.items():
        value, name = merged[k]
        assert name == want_name
        assert (value is None) == (want_value is None)
        if value is not None:
            assert abs(value - want_value) < 1e-6
