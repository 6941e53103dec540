"""Seeded inputs for the benchmark workloads.

Everything the engine receives is made here from the run's seed, before the
timer starts: FRED observation payloads, BLS v2 batches, bronze snapshot
drops named ``{SOURCE}_{ID}_{YYYY_MM_DD}.json`` and the parquet tables of the
query catalog. The economic generator also keeps the warehouse the engine
should end up with, so every refresh comes with the inserted / updated /
unchanged counts the upsert must report and the final fact table with its
key count and value checksum.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from datetime import date, timedelta
from pathlib import Path

FRED_START = date(2010, 1, 1)
BLS_FIRST_YEAR = 1995
FRED_MISSING, BLS_MISSING = ".", "-"


@dataclass(frozen=True)
class EconSpec:
    n_fred: int  # FRED series, one payload each
    fred_obs: int  # daily observations per FRED series at the first load
    n_bls: int  # series in the single BLS batch
    bls_years: int  # years of monthly history per BLS series
    revise_frac: float  # share of published points revised per refresh
    fred_append: int  # new daily observations per FRED series per refresh


@dataclass(frozen=True)
class Expected:
    """What one load must report, and the warehouse it must leave."""

    fact_stats: dict[str, int]
    dim_stats: dict[str, int]
    observations: int  # rows the engine reconciles after grain filtering
    raw_points: int  # points in the payloads, before grain filtering


def _name_map(registry: dict[str, str], n: int, prefix: str) -> dict[str, str]:
    """The first `n` series: the engine's own registry, then synthetic ids
    (so both the registry name lookup and the id fallback are exercised)."""
    out = dict(list(registry.items())[:n])
    for i in range(n - len(out)):
        out[f"{prefix.lower()}_series_{i:03d}"] = f"{prefix}{i:03d}"
    return out


class EconGenerator:
    """Full-history payloads of FRED and BLS series that change a little at
    every refresh, like the real APIs: revisions of published values
    (some to the missing markers ``.`` / ``-`` and back), a few appended
    dates, and BLS periods of other grains (M13 annual averages, Q and S
    periods) that the parsers must drop."""

    def __init__(self, spec: EconSpec, seed: int, fred_registry, bls_registry):
        self.spec = spec
        self.rng = random.Random(seed)
        self.fred_series = _name_map(fred_registry, spec.n_fred, "SYNF")
        self.bls_series = _name_map(bls_registry, spec.n_bls, "SYNB")
        rng = self.rng
        # raw published points: FRED {sid: {iso_date: str}}, BLS {sid: {(year, period): str}}
        self.fred: dict[str, dict[str, str]] = {}
        # series levels are fixed so that storage size does not depend on the seed
        for i, sid in enumerate(self.fred_series.values()):
            base = 50.0 + 25 * i
            self.fred[sid] = {
                (FRED_START + timedelta(days=d)).isoformat(): self._value(base, 2, FRED_MISSING)
                for d in range(spec.fred_obs)
            }
        self.bls: dict[str, dict[tuple[str, str], str]] = {}
        self.bls_cursor: dict[str, tuple[int, int]] = {}
        for j, sid in enumerate(self.bls_series.values()):
            base = 100.0 + 10 * j
            points: dict[tuple[str, str], str] = {}
            last_year = BLS_FIRST_YEAR + spec.bls_years - 1
            for year in range(BLS_FIRST_YEAR, last_year + 1):
                months = 12 if year < last_year else 6
                for m in range(1, months + 1):
                    points[(str(year), f"M{m:02d}")] = self._value(base, 1, BLS_MISSING)
                if year < last_year:
                    points[(str(year), "M13")] = self._value(base, 1, BLS_MISSING)
                if j % 3 == 0:  # some series also publish quarterly / semiannual grains
                    for q in range(1, 5):
                        points[(str(year), f"Q0{q}")] = self._value(base, 1, BLS_MISSING)
                    for s in (1, 2):
                        points[(str(year), f"S0{s}")] = self._value(base, 1, BLS_MISSING)
            self.bls[sid] = points
            self.bls_cursor[sid] = (last_year, 6)
        # the warehouse as the engine must hold it: {(series_id, iso_date): float | None}
        self.table: dict[tuple[str, str], float | None] = {}
        self.dim_keys: set[str] = set()
        self.refreshes = 0

    # -- value model -------------------------------------------------------
    def _value(self, base: float, digits: int, missing: str) -> str:
        if self.rng.random() < 0.01:
            return missing
        return f"{base * self.rng.uniform(0.8, 1.2):.{digits}f}"

    def _revise(self, old: str, digits: int, missing: str) -> str:
        rng = self.rng
        if old == missing:
            return f"{rng.uniform(5, 500):.{digits}f}"
        if rng.random() < 0.1:
            return missing  # revision to NULL
        step = rng.uniform(1, 500) / 10**digits * rng.choice((-1, 1))
        new = f"{float(old) + step:.{digits}f}"
        return new if new != old else f"{float(old) + 1:.{digits}f}"

    # -- refresh -------------------------------------------------------------
    def advance(self) -> None:
        """Move the published data one refresh forward: revise about
        `revise_frac` of all points and append new dates."""
        spec, rng = self.spec, self.rng
        self.refreshes += 1
        for sid, points in self.fred.items():
            for d in rng.sample(sorted(points), max(1, int(len(points) * spec.revise_frac))):
                points[d] = self._revise(points[d], 2, FRED_MISSING)
            last = date.fromisoformat(max(points))
            for i in range(1, spec.fred_append + 1):
                points[(last + timedelta(days=i)).isoformat()] = f"{rng.uniform(5, 500):.2f}"
        for sid, points in self.bls.items():
            keys = sorted(points)
            for k in rng.sample(keys, max(1, int(len(keys) * spec.revise_frac))):
                points[k] = self._revise(points[k], 1, BLS_MISSING)
            year, month = self.bls_cursor[sid]
            if month == 12:
                points[(str(year), "M13")] = f"{rng.uniform(20, 300):.1f}"
                year, month = year + 1, 0
            points[(str(year), f"M{month + 1:02d}")] = f"{rng.uniform(20, 300):.1f}"
            self.bls_cursor[sid] = (year, month + 1)

    # -- payloads ------------------------------------------------------------
    def fred_payload(self, series_id: str) -> dict:
        obs = [
            {"realtime_start": "2024-01-01", "realtime_end": "9999-12-31", "date": d, "value": v}
            for d, v in sorted(self.fred[series_id].items())
        ]
        return {
            "realtime_start": "2024-01-01",
            "realtime_end": "9999-12-31",
            "observation_start": obs[0]["date"],
            "observation_end": obs[-1]["date"],
            "units": "lin",
            "count": len(obs),
            "observations": obs,
        }

    def bls_payload(self) -> dict:
        series = []
        for sid, points in self.bls.items():
            # the API lists the most recent period first
            data = [
                {"year": y, "period": p, "periodName": p, "value": v, "footnotes": [{}]}
                for (y, p), v in sorted(points.items(), reverse=True)
            ]
            series.append({"seriesID": sid, "data": data})
        return {
            "status": "REQUEST_SUCCEEDED",
            "responseTime": 100 + self.refreshes,
            "message": [],
            "Results": {"series": series},
        }

    def write_drop(self, directory: Path, drop_date: date) -> int:
        """One bronze drop: a file per FRED series plus one BLS batch file.
        Returns the number of files written."""
        directory.mkdir(parents=True)
        stamp = drop_date.strftime("%Y_%m_%d")
        for sid in self.fred:
            (directory / f"FRED_{sid}_{stamp}.json").write_text(json.dumps(self.fred_payload(sid)))
        (directory / f"BLS_batch_{stamp}.json").write_text(json.dumps(self.bls_payload()))
        return len(self.fred) + 1

    # -- expectations --------------------------------------------------------
    def _parsed_rows(self):
        for sid, points in self.fred.items():
            for d, v in points.items():
                yield (sid, d), None if v == FRED_MISSING else float(v)
        for sid, points in self.bls.items():
            for (y, p), v in points.items():
                if p.startswith("M") and p != "M13":
                    yield (sid, f"{y}-{p[1:]}-01"), None if v == BLS_MISSING else float(v)

    def expect(self, dim_ids: list[str]) -> Expected:
        """Apply the current payloads to the model warehouse and return the
        counts the engine must report for the same load (value-only change
        classification with the upsert's 1e-9 tolerance)."""
        stats = {"inserted": 0, "updated": 0, "unchanged": 0}
        n = 0
        for key, value in self._parsed_rows():
            n += 1
            if key not in self.table:
                stats["inserted"] += 1
            else:
                old = self.table[key]
                same = (old is None and value is None) or (
                    old is not None and value is not None and abs(old - value) < 1e-9
                )
                stats["unchanged" if same else "updated"] += 1
            self.table[key] = value
        new_dims = [i for i in dim_ids if i not in self.dim_keys]
        self.dim_keys.update(new_dims)
        raw = sum(map(len, self.fred.values())) + sum(map(len, self.bls.values()))
        return Expected(
            fact_stats=stats,
            dim_stats={"inserted": len(new_dims), "unchanged": len(dim_ids) - len(new_dims)},
            observations=n,
            raw_points=raw,
        )

    def table_summary(self) -> tuple[int, int, int]:
        """(rows, non-null values, sum of round(value * 100)) of the model
        warehouse; compared against the engine's fact table."""
        values = [v for v in self.table.values() if v is not None]
        return len(self.table), len(values), sum(round(v * 100) for v in values)


# --------------------------------------------------------------------------
# Query-catalog tables (TPC-H-like star schema, an event stream, a corpus)
# --------------------------------------------------------------------------
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["red", "blue", "green", "small", "large", "steel"], ["bolt", "ring", "widget", "gear", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"]
VOCAB = (
    "a the data table row column value key join agg sort scan filter query "
    "group order window batch stream merge hash spark part line customer "
    "fast slow big small vector index shard cache plan stage task"
).split()


def write_catalog_tables(out_dir: Path, seed: int, n_orders: int) -> dict[str, int]:
    """Write the tables the catalog queries read as ``<name>.parquet`` under
    `out_dir`, sized from `n_orders`. Returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = n_orders // 10, max(20, n_orders // 150), n_orders * 2 // 15
    day = np.timedelta64(1, "D")
    tables: dict[str, pa.Table] = {}

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_WORDS[0], n_part), rng.choice(PART_WORDS[1], n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2),
        }
    )
    order_date = np.datetime64("1995-01-01") + rng.integers(0, 2404, n_orders) * day
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": money(1000, 500000, n_orders),
            "o_orderdate": pa.array(order_date.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders), lines)
    l_number = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship = order_date[l_order] + rng.integers(1, 122, n_li) * day
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_number, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": money(900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    n_ev = n_orders * 2 // 3
    offsets = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(20, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = max(50, n_orders // 30)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(20, 80))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def drop_date(k: int) -> date:
    return date(2024, 1, 1) + timedelta(days=k)
