"""Drift guard for the batch-id mark of the standing-state sinks: the
redelivery skip and the mark reader live only in streaming/util.py
(`exactly_once_fold`, `last_batch_id`), never as a per-sink copy."""

from __future__ import annotations

import re
from pathlib import Path

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
