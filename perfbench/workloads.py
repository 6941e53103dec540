"""The benchmark's workloads: two refresh paths into the warehouse and the
read-only query catalog.

Each workload prepares its inputs from the seed, sets up `setup_reps`
times (the median is `setup_s`), then runs one operation at a time in a
closed loop with a single client. Every operation is checked: upsert
stats against the generator's expected counts, query results against the
DuckDB oracle. Per-layer numbers come from spans recorded around calls
into the engine's public functions and from Spark's status API.
"""

from __future__ import annotations

import hashlib
import math
import shutil
import statistics
import struct
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

import gen
from economic_data_etl_spark import config, pipeline
from economic_data_etl_spark.pipeline import parquet_stores, run_pipeline
from economic_data_etl_spark.sources.bls import build_dim_series
from economic_data_etl_spark.sources.datasource import register as register_snapshots
from economic_data_etl_spark.sources.tables import load_table
from tracing import sql_metric

FACT_KEYS, FACT_COMPARE = ["series_id", "date"], ["value"]
DIM_KEYS, DIM_COMPARE = ["series_id"], ["series_name", "source"]


@dataclass
class OpResult:
    seconds: float
    ok: bool
    items: int  # observations reconciled, or queries answered
    op_id: int


def parquet_files(directory: Path) -> dict[str, int]:
    return {str(p): p.stat().st_size for p in directory.rglob("*.parquet")}


def idle_slot_frac(busy_s: float, wall_s: float, cores: int) -> float:
    return 1 - busy_s / (wall_s * cores) if wall_s > 0 else 0.0


class Workload:
    name = ""
    setup_reps = 3  # set-ups per run; setup_s reports their median
    warmup_ops = 0  # checked but untimed operations between setup and measurement

    def __init__(self, spark, work: Path, seed: int, tracer, cores: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.cores = tracer, cores
        self.next_op = 0

    def _op_id(self) -> int:
        self.next_op += 1
        self.tracer.op = self.next_op
        return self.next_op


# --------------------------------------------------------------------------
# ETL workloads
# --------------------------------------------------------------------------
class _Etl(Workload):
    """Shared by both refresh paths: the parquet warehouse, the generator
    that predicts it, and the upsert layer's metrics."""

    spec: gen.EconSpec
    # The first load also warms the JVM (JIT, code generation) and costs
    # about three later ones; two fit the run-time budget.
    setup_reps = 2
    # the first refresh after the loads still compiles the merge path
    warmup_ops = 1

    def _fresh_warehouse(self, rep: int) -> None:
        self.gen = gen.EconGenerator(self.spec, self.seed, config.FRED_SERIES, config.BLS_SERIES)
        self.warehouse = self.work / f"warehouse{rep}"
        self.fact_store, self.dim_store = parquet_stores(self.spark, str(self.warehouse))
        self.written: dict[int, tuple[int, int]] = {}  # op -> (files, bytes) written
        self.outcomes: dict[int, int] = {}  # op -> inserted + updated rows
        self.sizes: list[float] = []  # warehouse bytes per live fact row after each refresh

    def setup(self) -> list[float]:
        times = []
        for rep in range(self.setup_reps):
            self._fresh_warehouse(rep)
            res = self._load()
            if not res.ok:
                raise RuntimeError(f"{self.name}: initial load returned wrong stats")
            times.append(res.seconds)
        return times

    def op(self, traced: bool) -> OpResult:
        self.gen.advance()
        res = self._load(traced)
        # every rewrite lays rows out anew, so its compressed size varies
        self.sizes.append(sum(parquet_files(self.warehouse).values()) / self.gen.table_summary()[0])
        return res

    def _stores(self, traced: bool):
        if not traced:
            return self.fact_store, self.dim_store
        t = self.tracer
        return (
            t.wrap("upsert.fact", self.fact_store, job_group=True),
            t.wrap("upsert.dim", self.dim_store, job_group=True),
        )

    def _record(self, op_id: int, before: dict[str, int], fact_stats, dim_stats) -> None:
        after = parquet_files(self.warehouse)
        new = [size for path, size in after.items() if path not in before]
        self.written[op_id] = (len(new), sum(new))
        self.outcomes[op_id] = (
            fact_stats["inserted"] + fact_stats["updated"] + dim_stats["inserted"]
        )

    def final_check(self) -> bool:
        """The fact table holds exactly the model warehouse: one row per
        key, the same non-null values and the same value checksum."""
        fact = self.spark.read.parquet(str(self.warehouse / "fact_economic_observations"))
        row = fact.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("series_id", "date").alias("keys"),
            F.count("value").alias("values"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("checksum"),
        ).first()
        rows, values, checksum = self.gen.table_summary()
        return (row["rows"], row["keys"], row["values"], row["checksum"] or 0) == (
            rows, rows, values, checksum,
        )

    def bytes_per_row(self) -> float:
        return statistics.median(self.sizes)

    def upsert_metrics(self, ops: set[int], groups: dict[str, dict], exclude_stages=()) -> dict:
        t, n = self.tracer, len(ops)
        fact_s, dim_s = t.total("upsert.fact", ops), t.total("upsert.dim", ops)
        spans = t.named("upsert.fact", ops) + t.named("upsert.dim", ops)
        g = [groups.get(s["group"], {}) for s in spans]
        skip = {id(st) for st in exclude_stages}
        stages = [st for x in g for st in x.get("stages", []) if id(st) not in skip]
        busy = sum(st["executorRunTime"] for st in stages) / 1000
        rewritten = sum(st["outputRecords"] for st in stages)
        return {
            "upsert.fact_s": fact_s / n,
            "upsert.dim_s": dim_s / n,
            "upsert.jobs": sum(x.get("jobs", 0) for x in g) / n,
            "upsert.tasks": sum(st["numCompleteTasks"] for st in stages) / n,
            "upsert.busy_s": busy / n,
            "upsert.idle_slot_frac": idle_slot_frac(busy, fact_s + dim_s, self.cores),
            "upsert.gc_s": sum(st["jvmGcTime"] for st in stages) / 1000 / n,
            "upsert.shuffle_bytes": sum(st["shuffleWriteBytes"] for st in stages) / n,
            "upsert.rows_rewritten": rewritten / n,
            "upsert.useful_write_ratio": (
                sum(self.outcomes.get(o, 0) for o in ops) / rewritten if rewritten else 0.0
            ),
            "upsert.files_written": sum(self.written.get(o, (0, 0))[0] for o in ops) / n,
            "upsert.bytes_written": sum(self.written.get(o, (0, 0))[1] for o in ops) / n,
        }


class EtlRefresh(_Etl):
    """`pipeline.run_pipeline` with in-memory FRED/BLS fetch seams that
    return generated payloads."""

    name = "etl_refresh"
    spec = gen.EconSpec(
        n_fred=2, fred_obs=2000, n_bls=10, bls_years=30, revise_frac=0.05, fred_append=3
    )
    # engine functions run_pipeline calls through its own module namespace
    SOURCE_FUNCS = {
        "parse_fred_observations": "sources.parse_fred",
        "parse_bls_batch": "sources.parse_bls",
        "combine_fact_tables": "sources.combine",
        "build_dim_series": "sources.build_dim",
    }

    def _load(self, traced: bool = False) -> OpResult:
        g = self.gen
        expected = g.expect(list(g.fred_series.values()) + list(g.bls_series.values()))
        fred = {sid: g.fred_payload(sid) for sid in g.fred_series.values()}
        bls = g.bls_payload()
        fetch_fred = fred.__getitem__

        def fetch_bls(series_map, start_year, end_year):
            return bls

        fact_store, dim_store = self._stores(traced)
        patched = {}
        if traced:
            t = self.tracer
            fetch_fred = t.wrap("pipeline.extract", fetch_fred)
            fetch_bls = t.wrap("pipeline.extract", fetch_bls)
            for attr, span in self.SOURCE_FUNCS.items():
                patched[attr] = getattr(pipeline, attr)
                setattr(pipeline, attr, t.wrap(span, patched[attr]))
        op_id = self._op_id()
        before = parquet_files(self.warehouse) if traced else {}
        try:
            with self.tracer.span("pipeline.run"):
                start = time.perf_counter()
                result = run_pipeline(
                    self.spark, fetch_fred, fetch_bls, fact_store, dim_store,
                    g.fred_series, g.bls_series,
                )
                seconds = time.perf_counter() - start
        finally:
            for attr, fn in patched.items():
                setattr(pipeline, attr, fn)
        ok = (
            result is not None
            and result.fact_stats == expected.fact_stats
            and result.dim_stats == expected.dim_stats
        )
        if traced and result is not None:
            self._record(op_id, before, result.fact_stats, result.dim_stats)
        return OpResult(seconds, ok, expected.observations, op_id)

    def layer_metrics(self, ops: set[int], groups: dict[str, dict]) -> dict:
        t, n = self.tracer, len(ops)
        extract = t.total("pipeline.extract", ops)
        load = t.total("upsert.fact", ops) + t.total("upsert.dim", ops)
        source_spans = [s for name in self.SOURCE_FUNCS.values() for s in t.named(name, ops)]
        return {
            "pipeline.extract_s": extract / n,
            "pipeline.transform_s": (t.total("pipeline.run", ops) - extract - load) / n,
            "pipeline.load_s": load / n,
            "sources.parse_calls": len(source_spans) / n,
            "sources.build_s": sum(s["end"] - s["start"] for s in source_spans) / n,
            **self.upsert_metrics(ops, groups),
        }


class EtlSnapshotReplay(_Etl):
    """The offline path: a bronze drop read through the engine's
    `economic_snapshots` DataSource (one partition per file, parsed in
    Python workers) into the same fact and dim upserts."""

    name = "etl_snapshot_replay"
    spec = gen.EconSpec(
        n_fred=8, fred_obs=2000, n_bls=10, bls_years=30, revise_frac=0.005, fred_append=1
    )

    def __init__(self, *args):
        super().__init__(*args)
        register_snapshots(self.spark)
        self.drops = 0
        self.scan: dict[int, tuple[int, int]] = {}  # op -> (files, raw points)

    def _load(self, traced: bool = False) -> OpResult:
        g = self.gen
        drop = self.work / "bronze" / f"drop{self.drops:05d}"
        n_files = g.write_drop(drop, gen.drop_date(self.drops))
        self.drops += 1
        expected = g.expect(list(config.FRED_SERIES.values()) + list(config.BLS_SERIES.values()))
        fact_store, dim_store = self._stores(traced)
        t = self.tracer
        op_id = self._op_id()
        self.scan[op_id] = (n_files, expected.raw_points)
        before = parquet_files(self.warehouse) if traced else {}
        start = time.perf_counter()
        try:
            with t.span("sources.read"):
                fact_df = self.spark.read.format("economic_snapshots").load(str(drop))
            fact_stats = fact_store(fact_df, FACT_KEYS, FACT_COMPARE)
            with t.span("sources.build_dim"):
                dim_df = build_dim_series(self.spark, config.FRED_SERIES, config.BLS_SERIES)
            dim_stats = dim_store(dim_df, DIM_KEYS, DIM_COMPARE)
        except Exception:  # noqa: BLE001 - a failed refresh is counted, not fatal
            return OpResult(time.perf_counter() - start, False, expected.observations, op_id)
        seconds = time.perf_counter() - start
        shutil.rmtree(drop)
        if traced:
            self._record(op_id, before, fact_stats, dim_stats)
        ok = fact_stats == expected.fact_stats and dim_stats == expected.dim_stats
        return OpResult(seconds, ok, expected.observations, op_id)

    def layer_metrics(self, ops: set[int], groups: dict[str, dict]) -> dict:
        t, n = self.tracer, len(ops)
        scan_stages, rows_out, raw = [], 0, 0
        for span in t.named("upsert.fact", ops):
            grp = groups.get(span["group"], {})
            n_files, points = self.scan[span["op"]]
            # the DataSource scan is the stage with one task per snapshot file
            scan_stages += [st for st in grp.get("stages", []) if st["numTasks"] == n_files]
            rows_out += sql_metric(
                grp.get("sql_nodes", []), "BatchScan economic_snapshots", "number of output rows"
            )
            raw += points
        build = t.named("sources.build_dim", ops) + t.named("sources.read", ops)
        return {
            "sources.parse_calls": len(build) / n,
            "sources.build_s": sum(s["end"] - s["start"] for s in build) / n,
            "sources.scan_busy_s": sum(st["executorRunTime"] for st in scan_stages) / 1000 / n,
            "sources.scan_tasks": sum(st["numCompleteTasks"] for st in scan_stages) / n,
            "sources.rows_out": rows_out / n,
            "sources.rows_kept_ratio": rows_out / raw if raw else 0.0,
            **self.upsert_metrics(ops, groups, exclude_stages=scan_stages),
        }


# --------------------------------------------------------------------------
# Query catalog
# --------------------------------------------------------------------------
# One query per plan shape of each family. The slowest shapes of the
# catalog (ts_linear_interpolate, ts_holt_winters_forecast,
# dedup_ngram_jaccard, q5_region_revenue) and near-repeats of kept shapes
# (join_broadcast_dims, q19_disjunctive_predicates) stay out: short passes
# give the median of a run more samples.
QUERY_MIX = {
    "relational": [
        "q1_pricing_summary", "q3_shipping_priority", "window_rank_parts_per_brand",
        "agg_rollup_orders",
    ],
    "timeseries": ["ts_ohlc_daily", "events_session_windows"],
    "corpus": ["dedup_minhash_lsh", "text_quality_metrics"],
}
CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents",
)


def _norm(v):
    """Bitwise float identity, the strict comparison of the repo's oracle tests."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack("<d", v)
    return v


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, so that two engines' results
    compare regardless of column and row order."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    body = [tuple(_norm(r[i]) for i in order) for r in rows]
    body.sort(key=lambda row: tuple((v is None, str(type(v)), str(v)) for v in row))
    return [names[i] for i in order], body


def _digest(result) -> str:
    return hashlib.sha256(repr(result).encode()).hexdigest()


class CatalogReads(Workload):
    """A fixed mix of catalog queries over generated tables, one pass at a
    time. Read-only: no sources, no upsert."""

    name = "catalog_reads"
    warmup_ops = 1  # the cold pass: code generation for every query
    N_ORDERS = 6000

    def __init__(self, *args):
        super().__init__(*args)
        import economic_data_etl_spark.plans  # noqa: F401 - registers the catalog
        from economic_data_etl_spark.plans.catalog import REGISTRY

        self.registry = REGISTRY
        self.data = self.work / "catalog"
        self.table_rows = gen.write_catalog_tables(self.data, self.seed, self.N_ORDERS)
        self.expected: dict[str, object] = {}

    def setup(self) -> list[float]:
        times = []
        for _ in range(self.setup_reps):
            start = time.perf_counter()
            for table in CATALOG_TABLES:
                load_table(self.spark, str(self.data), table).count()
            times.append(time.perf_counter() - start)
        self._oracle_results()
        return times

    def _oracle_results(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for table in CATALOG_TABLES:
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM '{self.data / table}.parquet'"
                )
            for q in self.queries():
                oracle = self.registry[q].oracle
                if oracle is not None:
                    cur = con.execute(oracle)
                    self.expected[q] = canonical([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()

    @staticmethod
    def queries() -> list[str]:
        return [q for qs in QUERY_MIX.values() for q in qs]

    def op(self, traced: bool) -> OpResult:
        t = self.tracer
        op_id = self._op_id()
        results, seconds = {}, 0.0
        for family, names in QUERY_MIX.items():
            for q in names:
                start = time.perf_counter()
                try:
                    with t.span("plans.build", job_group=True, family=family, query=q):
                        df = self.registry[q].spark(self.spark, str(self.data))
                    with t.span("plans.execute", job_group=True, family=family, query=q):
                        rows = df.collect()
                    results[q] = canonical(df.columns, rows)
                except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                    results[q] = None
                seconds += time.perf_counter() - start
        ok = True
        for q, got in results.items():
            if got is None:
                ok = False
            elif self.registry[q].oracle is not None:
                ok &= got == self.expected[q]
            else:  # no oracle: the row count and digest of the first pass
                ok &= (len(got[1]), _digest(got)) == self.expected.setdefault(
                    q, (len(got[1]), _digest(got))
                )
        return OpResult(seconds, ok, len(results), op_id)

    def final_check(self) -> bool:
        return True  # every pass is checked as it completes

    def bytes_per_row(self) -> float:
        size = sum((self.data / f"{t}.parquet").stat().st_size for t in CATALOG_TABLES)
        return size / sum(self.table_rows.values())

    def layer_metrics(self, ops: set[int], groups: dict[str, dict]) -> dict:
        t, n = self.tracer, len(ops)
        spans = t.named("plans.build", ops) + t.named("plans.execute", ops)
        g = [groups.get(s["group"], {}) for s in spans]
        n_queries = len(t.named("plans.execute", ops))
        busy = sum(x.get("busy_s", 0.0) for x in g)
        wall = sum(s["end"] - s["start"] for s in spans)
        out = {
            "plans.build_s": t.total("plans.build", ops) / n,
            "plans.execute_s": t.total("plans.execute", ops) / n,
            "plans.jobs_per_query": sum(x.get("jobs", 0) for x in g) / n_queries,
            "plans.tasks_per_query": sum(x.get("tasks", 0) for x in g) / n_queries,
            "plans.busy_s": busy / n,
            "plans.idle_slot_frac": idle_slot_frac(busy, wall, self.cores),
            "plans.gc_s": sum(x.get("gc_s", 0.0) for x in g) / n,
            "plans.shuffle_bytes_per_query": sum(x.get("shuffle_bytes", 0) for x in g) / n_queries,
        }
        for family in QUERY_MIX:
            out[f"plans.{family}.execute_s"] = sum(
                s["end"] - s["start"] for s in t.named("plans.execute", ops)
                if s["family"] == family
            ) / n
        return out


WORKLOADS = {w.name: w for w in (EtlRefresh, EtlSnapshotReplay, CatalogReads)}
