"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 10 --trace 0

Runs one workload (see BENCHMARK.json) in this process on a fresh local
Spark session with one executor slot per available CPU, and prints one
JSON line last on stdout: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Everything it writes goes under ``.bench_work/`` in the
checkout (removed at exit) and the span dump under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "2g"


def pin_environment(work: Path) -> None:
    """Settings the engine and Spark read at start-up; must run before
    pyspark is imported."""
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    submit = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    java = [
        f"-Djava.io.tmpdir={tmp}",
        # C1 only: the JIT settles within the first operation instead of
        # recompiling with C2 for minutes, which made early operations drift
        "-XX:TieredStopAtLevel=1",
        # the whole heap from the start: no heap-growth phase in the timed loop
        f"-Xms{DRIVER_MEMORY}",
    ]
    submit += ["--driver-java-options", " ".join(java), "pyspark-shell"]
    os.environ.update(
        # session.get_spark defaults to local[32] whatever the machine has
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # Python workers import the engine (the snapshot DataSource needs it)
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=str(local),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit),
    )
    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from tracing import descendants

    children = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def measure(workload, seconds: float, trace: bool):
    """Closed loop, one client: the next operation starts when the previous
    one ends, until `seconds` have passed. With tracing, operations
    alternate untraced and traced, so that both see the same warm-up."""
    ops, traced_ops = [], []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or not ops or (trace and not traced_ops):
        traced = trace and len(traced_ops) < len(ops)
        workload.tracer.enabled = traced
        res = workload.op(traced)
        workload.tracer.enabled = False
        (traced_ops if traced else ops).append(res)
    return ops, traced_ops


def run(args, work: Path, spec: dict) -> dict:
    from economic_data_etl_spark.session import get_spark
    from tracing import RssSampler, Tracer, spark_group_metrics
    from workloads import WORKLOADS

    # the sampler's /proc scans hold the GIL, so only traced runs pay for them
    with RssSampler(enabled=bool(args.trace)) as rss:
        start = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - start
        try:
            spark.sparkContext.setLogLevel("ERROR")
            cores = spark.sparkContext.defaultParallelism
            tracer = Tracer(spark)
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, cores)
            setup_times = wl.setup()
            warmup = [wl.op(False) for _ in range(wl.warmup_ops)]
            rss.new_window()
            ops, traced_ops = measure(wl, args.seconds, args.trace)
            peak_rss = rss.window_peak()
            final_ok = wl.final_check()
            every = warmup + ops + traced_ops
            failed = sum(not r.ok for r in every) + (not final_ok)
            attempted = len(every) + len(setup_times) + 1  # + the final table check
            if args.trace:
                groups = spark_group_metrics(spark.sparkContext)
                layers = wl.layer_metrics({r.op_id for r in traced_ops}, groups)
                layers["session.start_s"] = session_s
                layers["process.peak_rss_mb"] = peak_rss / 2**20
                layers["trace.overhead_frac"] = (
                    statistics.median(r.seconds for r in traced_ops)
                    / statistics.median(r.seconds for r in ops) - 1
                )
                out_dir = ROOT / ".bench_out"
                out_dir.mkdir(exist_ok=True)
                tracer.dump(out_dir / f"spans-{args.workload}-{args.seed}.json")
                values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
                units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            else:
                values = {
                    "setup_s": session_s + statistics.median(setup_times),
                    "op_s_p50": statistics.median(r.seconds for r in ops),
                    "throughput_per_s": statistics.median(r.items / r.seconds for r in ops),
                    "ok_ops_ratio": 1 - failed / attempted,
                    "warehouse_bytes_per_row": wl.bytes_per_row(),
                }
                units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        finally:
            stop_spark(spark)
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(
        f"{args.workload}: setup {setup_times} "
        f"warmup {[round(r.seconds, 3) for r in warmup]} ops {[round(r.seconds, 3) for r in ops]} "
        f"traced {[round(r.seconds, 3) for r in traced_ops]}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=names)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=spec["run_seconds"])
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not (ROOT / "economic_data_etl_spark" / "__init__.py").is_file():
        print("economic_data_etl_spark not found next to perfbench/", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        pin_environment(work)
        sys.path.insert(0, str(ROOT))
        result = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
