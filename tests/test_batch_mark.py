"""The batch-id mark of the standing-state sinks: the mark row is split
off null-safely (a NULL key is data), and a drift guard keeps the
redelivery skip and the mark reader only in streaming/util.py
(`exactly_once_fold`, `last_batch_id`), never as a per-sink copy."""

from __future__ import annotations

import re
from pathlib import Path

from economic_data_etl_spark.streaming.util import (
    BatchMark,
    exactly_once_fold,
    last_batch_id,
    read_data_rows,
)

ROOT = Path(__file__).resolve().parents[1]
STREAMING = ROOT / "economic_data_etl_spark" / "streaming"
# heavyhitters keeps its own mark: its mark row carries fold outputs
# (n_total, err) of a k-bounded state collected per batch
_OWNERS = {"util.py", "heavyhitters.py"}
_COPY = re.compile(r"batch_id\s*<=|def\s+_?last_batch_id\b")


def test_one_mark_protocol():
    offenders = sorted(
        f"{p.name}: {m.group(0).strip()}"
        for p in STREAMING.glob("*.py")
        if p.name not in _OWNERS
        for m in _COPY.finditer(p.read_text())
    )
    assert not offenders, offenders


def test_null_key_is_data_not_the_mark(spark, tmp_path):
    schema = "grp string, h long"
    mark = BatchMark(schema, "grp", "\x00meta", "h", ("\x00meta", None))
    state = str(tmp_path / "state")
    batch = spark.createDataFrame([(None, 7), ("a", 1)], schema)
    exactly_once_fold(state, mark, lambda rows, b: rows.unionByName(b))(
        batch, 3
    )
    data = read_data_rows(spark, state, mark).collect()
    assert sorted(data, key=lambda r: r.h) == [("a", 1), (None, 7)]
    assert last_batch_id(spark, state, mark) == 3
