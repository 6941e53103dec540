"""Ingest-control layer: content hashing, snapshot sink, watermark state,
retry — the driver-side machinery around the REST sources (SURVEY.md §2.1
S3/S4/S9-S12).

Network fetches stay on the driver (they're per-series REST calls, not
data-parallel work); everything downstream of the raw JSON is DataFrame
lineage. State is a small JSON-file store keyed (source, series_id) — at
scale this becomes a Delta/metastore table or a Structured Streaming
checkpoint, and the interface here doesn't change.
"""

from __future__ import annotations

import functools
import hashlib
import json
import logging
import time
from datetime import datetime, timezone
from pathlib import Path
from typing import Any, Callable

from economic_data_etl_spark.config import RETRY_ATTEMPTS

logger = logging.getLogger(__name__)


class RetryableFetchError(Exception):
    """Transient network-class failure — the only kind retried."""


def fetch_with_retry(fn: Callable) -> Callable:
    """Retry a fetch up to 3 attempts with exponential backoff (1s, 2s).

    Only `RetryableFetchError` (and, if `requests` is importable, its
    RequestException) is retried; all other exceptions propagate
    immediately — parity with /root/reference/src/extract.py:49-62.
    """
    retryable: tuple[type[BaseException], ...] = (RetryableFetchError,)
    try:  # requests isn't a hard dependency of the engine
        import requests  # type: ignore

        retryable = (RetryableFetchError, requests.RequestException)
    except ImportError:
        pass

    @functools.wraps(fn)
    def wrapper(*args: Any, **kwargs: Any) -> Any:
        last: BaseException | None = None
        for attempt in range(RETRY_ATTEMPTS):
            try:
                return fn(*args, **kwargs)
            except retryable as exc:
                last = exc
                if attempt < RETRY_ATTEMPTS - 1:
                    delay = 2**attempt
                    logger.warning(
                        "fetch failed (attempt %d/%d), retrying in %ds: %s",
                        attempt + 1,
                        RETRY_ATTEMPTS,
                        delay,
                        exc,
                    )
                    time.sleep(delay)
        assert last is not None
        raise last

    return wrapper


def compute_hash(payload: Any) -> str:
    """SHA-256 over canonical JSON (sorted keys) — key-order independent.

    Parity with /root/reference/src/extract.py:20-23. Callers must hash the
    *data payload only* (e.g. `observations`, `Results.series`), never the
    envelope: the reference hashes the whole BLS response including the
    volatile `responseTime` field, so its skip never fires — a latent bug,
    not a spec (SURVEY.md §2.1 S10).
    """
    canonical = json.dumps(payload, sort_keys=True).encode()
    return hashlib.sha256(canonical).hexdigest()


def snapshot_path(base_dir: Path, source: str, identifier: str) -> Path:
    """Bronze-layer naming: {SOURCE}_{IDENTIFIER}_{YYYY_MM_DD}.json —
    same-day refetches overwrite (parity /root/reference/src/extract.py:42-46)."""
    day = datetime.now(timezone.utc).strftime("%Y_%m_%d")
    return base_dir / f"{source.upper()}_{identifier}_{day}.json"


class MetadataStore:
    """Per-series ingest state: last_hash, last_observation_date,
    last_updated — keyed (source, series_id).

    File-per-series JSON (parity /root/reference/src/extract.py:26-39).
    The same three fields back a Delta state table at scale.
    """

    def __init__(self, state_dir: Path) -> None:
        self.state_dir = Path(state_dir)
        self.state_dir.mkdir(parents=True, exist_ok=True)

    def _path(self, source: str, series_id: str) -> Path:
        return self.state_dir / f"{source.lower()}_{series_id}_metadata.json"

    def load(self, source: str, series_id: str) -> dict[str, Any]:
        p = self._path(source, series_id)
        if not p.exists():
            return {}
        return json.loads(p.read_text())

    def save(self, source: str, series_id: str, state: dict[str, Any]) -> None:
        self._path(source, series_id).write_text(json.dumps(state, indent=2))

    def update_watermark(
        self,
        source: str,
        series_id: str,
        payload_hash: str,
        latest_observation_date: str | None,
    ) -> None:
        """Advance state; an empty batch (None date) preserves the previous
        watermark (parity /root/reference/src/extract.py:109-113)."""
        state = self.load(source, series_id)
        state["last_hash"] = payload_hash
        if latest_observation_date is not None:
            state["last_observation_date"] = latest_observation_date
        state["last_updated"] = datetime.now(timezone.utc).isoformat()
        self.save(source, series_id, state)

    def watermark(self, source: str, series_id: str) -> str | None:
        return self.load(source, series_id).get("last_observation_date")


def write_snapshot_if_changed(
    raw_dir: Path,
    store: MetadataStore,
    source: str,
    identifier: str,
    payload: dict[str, Any],
    data_for_hash: Any,
    latest_observation_date: str | None,
) -> bool:
    """Idempotent bronze write: skip the file write when the data-payload
    hash is unchanged, but still advance last_updated. Returns True when a
    snapshot was written. The payload is RETURNED downstream either way —
    the DB stays idempotent via the upsert, not here (parity
    /root/reference/src/extract.py:97-106)."""
    new_hash = compute_hash(data_for_hash)
    old_hash = store.load(source, identifier).get("last_hash")
    wrote = False
    if new_hash != old_hash:
        raw_dir.mkdir(parents=True, exist_ok=True)
        snapshot_path(raw_dir, source, identifier).write_text(json.dumps(payload))
        wrote = True
    store.update_watermark(source, identifier, new_hash, latest_observation_date)
    return wrote
