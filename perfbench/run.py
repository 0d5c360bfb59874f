#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest   # tampered checksums count as failures
    python3 perfbench/run.py --record     # re-record analyst checksums (DuckDB-checked)

Run from the repository root. Each run builds its inputs from ``--seed``
in a private scratch directory under ``.perfbench/`` (Spark local dirs,
warehouse and index roots included), measures for ``--seconds``, checks
every output, removes the scratch directory and stops the JVM it started.
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its
per-layer metrics (``--trace 1``). The line before it is a record with
host stamps, the workload's own named metrics and any failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "northwind_warehouse_spark" / "__init__.py"
SCRATCH = ROOT / ".perfbench"
DRIVER_MEM = "1g"
SPIN = 10_000_000


def _spin() -> None:
    x = 0
    for i in range(SPIN):
        x += i
    if x != SPIN * (SPIN - 1) // 2:
        raise SystemExit(1)


def host_stamps(cores: int) -> dict:
    """loadavg plus single- and all-core spin canaries: recorded beside
    the result to tell a slow host from a slow program, never gated."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    _spin()
    single = time.perf_counter() - t0
    # fork: no threads exist yet, and spawn's interpreter start-up would
    # be timed as part of the canary
    ctx = mp.get_context("fork")
    procs = [ctx.Process(target=_spin) for _ in range(cores)]
    t0 = time.perf_counter()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return {"loadavg": list(os.getloadavg()), "spin_s": single,
            "spin_all_cores_s": time.perf_counter() - t0, "cores": cores}


def isolate(work: Path, cores: int, event_log: Path | None) -> None:
    """Point every place the program writes at this run's scratch dir."""
    for d in ("local", "warehouse", "index", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_GRAFT_INDEX_ROOT": str(work / "index"),
        "TMPDIR": str(work / "tmp"),
        "TZ": "UTC",
    })
    time.tzset()
    args = ["--driver-java-options", f"-Djava.io.tmpdir={work / 'tmp'}",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_log}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_spark(ctx) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if ctx is not None and ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, work: Path) -> tuple[dict, dict]:
    import workloads as wl
    from spans import Tracer, median

    cores = len(os.sched_getaffinity(0))
    stamps = host_stamps(cores)
    event_log = work / "eventlog" if args.trace else None
    isolate(work, cores, event_log)
    sys.path.insert(0, str(ROOT))
    tracer = Tracer()
    if args.trace:
        wl.install_tracing(tracer)
    ctx = wl.Ctx(args.seed, args.seconds, work, cores, tracer, trace=bool(args.trace))
    try:
        res = wl.WORKLOADS[args.workload](ctx)
        rss = ctx.peak_rss_mb()
        ctx.mark("window")
    finally:
        stop_spark(ctx)
    ctx.mark("stopped")
    lat = res["lat"][False] + res["lat"][True]
    if args.trace:
        metrics = wl.per_layer(tracer, res, cores, str(event_log))
        out = SCRATCH / "out"
        out.mkdir(parents=True, exist_ok=True)
        with open(out / f"{args.workload}-{args.seed}-spans.json", "w") as f:
            json.dump([vars(s) for s in tracer.spans], f)
    else:
        metrics = {
            "setup_s": median(ctx.setup_s),
            "peak_rss_mb": rss,
            "op_p50_s": median(lat),
        }
    declared = declared_units("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(declared))}")
    named = {k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()}
    named["failed_op_ratio"] = {"value": ctx.failed / max(1, ctx.attempted), "unit": "ratio"}
    record = {"workload": args.workload, "seed": args.seed, "host": stamps,
              "samples": len(lat), "lat_s": [round(x, 4) for x in lat],
              "marks_s": ctx.marks,
              "named": named, "problems": ctx.problems[:20]}
    result = {"correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
              "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()}}
    return record, result


def selftest(work: Path) -> int:
    """A tiny warehouse and analyst run whose honest checks pass and
    whose tampered checksums each count as one failed operation."""
    import gen
    import workloads as wl
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    isolate(work, cores, None)
    sys.path.insert(0, str(ROOT))
    ctx = wl.Ctx(1, 0.0, work, cores, Tracer())
    try:
        ctx.start_session()
        from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

        batches = gen.warehouse_batches(1, 0.001, str(work / "in"), 1, cores)
        lake = str(work / "lake")
        pipe = WarehousePipeline(ctx.spark, lake)
        ctx.op(lambda: pipe.run(batches[0].dir))
        ctx.op(lambda: pipe.run(batches[1].dir), wl.WarehouseChecks(ctx, batches, lake).all(1))
        tiny = str(work / "tiny")
        gen.single_dir(wl.ANALYST_DATA_SEED, 0.001, tiny)
        cs = wl.run_query(ctx, "q1_pricing_summary", tiny, None, {})
        wl.run_query(ctx, "q1_pricing_summary", tiny, cs, {})
        honest = ctx.failed
        ctx.op(lambda: None, wl.WarehouseChecks(ctx, batches, lake, tamper=True).all(1))
        wl.run_query(ctx, "q1_pricing_summary", tiny, cs + "0", {})
    finally:
        stop_spark(ctx)
    ok = honest == 0 and ctx.failed == 2 and ctx.attempted == 6
    print(json.dumps({"selftest": "ok" if ok else "FAILED", "attempted": ctx.attempted,
                      "failed": ctx.failed, "problems": ctx.problems}))
    return 0 if ok else 1


def record_checksums(work: Path) -> int:
    """Check every analyst query against its DuckDB oracle on the fixed
    analyst snapshot, then record its checksum in expected.json."""
    import gen
    import workloads as wl
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    isolate(work, cores, None)
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry
    from tests.oracle_util import compare

    sf_dir = str(work / "in")
    gen.single_dir(wl.ANALYST_DATA_SEED, wl.ANALYST_SCALE, sf_dir)
    ctx = wl.Ctx(0, 0.0, work, cores, Tracer())
    sums, oracle = {}, entry.oracle_sql()
    try:
        ctx.start_session()
        for q in wl.ANALYST_MIX:
            problems = compare(wl.query_fn(q)(ctx.spark, sf_dir), oracle[q], sf_dir)
            if problems:
                print(f"{q}: {problems[0]}", file=sys.stderr)
                return 1
            sums[q] = wl.checksum(wl.query_fn(q)(ctx.spark, sf_dir))
    finally:
        stop_spark(ctx)
    with open(wl.EXPECTED, "w") as f:
        json.dump({"data_seed": wl.ANALYST_DATA_SEED, "scale": wl.ANALYST_SCALE,
                   "checked_against": "each query's DuckDB oracle SQL (tests/oracle_util.compare)",
                   "checksums": sums}, f, indent=1)
        f.write("\n")
    print(json.dumps(sums))
    return 0


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not PACKAGE.is_file():
        print(f"perfbench: no program to measure: {PACKAGE.relative_to(ROOT)} is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    import workloads as wl

    if not (args.selftest or args.record or args.workload in wl.WORKLOADS):
        ap.error(f"--workload must be one of {sorted(wl.WORKLOADS)}")
    work = SCRATCH / f"{args.workload or 'maint'}-{args.seed}-{os.getpid()}"
    try:
        if args.selftest:
            return selftest(work)
        if args.record:
            return record_checksums(work)
        record, result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
