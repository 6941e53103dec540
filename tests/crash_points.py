"""Crash-offset selection for the warehouse commit's crash-recovery
tests.

What distinguishes kill offsets is their class — crash before any
commit, between staging and commit, at the final commit — not their
exact index. The default tier therefore kills at the first two, one
middle, and the last two offsets (every class), and the exhaustive
sweep stays one env var away for release verification:

    SPARK_GRAFT_EXHAUSTIVE_CRASH=1 python -m pytest tests/ -k crash

`kill_fs_call` simulates the crash inside the table commit itself
(operators/io.py): it makes the k-th `os.rename`/`shutil.rmtree` call
raise, optionally after a partial delete.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager


def crash_offsets(n: int) -> list[int]:
    """Kill points to exercise for a sequence of `n` crash slots."""
    if os.environ.get("SPARK_GRAFT_EXHAUSTIVE_CRASH"):
        return list(range(n))
    pts = {0, 1, n // 2, n - 2, n - 1}
    return sorted(p for p in pts if 0 <= p < n)


class Killed(Exception):
    """The simulated process death."""


@contextmanager
def kill_fs_call(k: int | None, partial: bool = False) -> Iterator[list[str]]:
    """Inside the block, make the k-th (0-based) `os.rename` or
    `shutil.rmtree` call raise `Killed` instead of running; k=None only
    counts. With `partial`, a killed rmtree first deletes one file of
    its tree (a data file when there is one), as a death in the middle
    of a non-atomic delete would. Yields the names of the calls made,
    the killed one included."""
    calls: list[str] = []
    real = {"rename": os.rename, "rmtree": shutil.rmtree}

    def hook(name: str):
        def call(path, *args, **kwargs):
            calls.append(name)
            if len(calls) - 1 != k:
                return real[name](path, *args, **kwargs)
            if partial and name == "rmtree":
                files = sorted(
                    os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                )
                data = [f for f in files if f.endswith(".parquet")] or files
                os.remove(data[0])
            raise Killed(f"killed at {name} #{k} ({path})")

        return call

    os.rename, shutil.rmtree = hook("rename"), hook("rmtree")
    try:
        yield calls
    finally:
        os.rename, shutil.rmtree = real["rename"], real["rmtree"]
