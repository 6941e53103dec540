"""The one commit protocol for warehouse parquet tables."""

from __future__ import annotations

from pathlib import Path

import economic_data_etl_spark

ROOT = Path(economic_data_etl_spark.__file__).parent


def test_one_commit_protocol():
    """Tables are replaced one way: outside operators/io.py no engine
    module renames a directory or names a staging path."""
    offenders = [
        f"{py.relative_to(ROOT)}:{n}"
        for py in sorted(ROOT.rglob("*.py"))
        if py != ROOT / "operators" / "io.py"
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if "os.rename(" in line or ".staging" in line
    ]
    assert offenders == []


def test_only_the_warehouse_upsert_commits():
    """Only the warehouse upsert replaces or recovers a table: outside
    operators/io.py, `commit_staged(` and `recover_staging(` are called
    from operators/upsert.py alone."""
    callers = {
        str(py.relative_to(ROOT))
        for py in ROOT.rglob("*.py")
        if py != ROOT / "operators" / "io.py"
        and any(f"{f}(" in py.read_text() for f in ("commit_staged", "recover_staging"))
    }
    assert callers == {"operators/upsert.py"}
