"""The benchmark workloads, their output checks and their per-layer figures.

Each workload runs in its own process with its own Spark session, one
closed-loop client: an operation starts when the previous one returned.

- ``warehouse_incremental``: ``WarehousePipeline.run`` over an initial
  load, then over seeded change batches (one event day, one order month,
  customer updates, late-arriving customers). The write path a user
  runs on a schedule.
- ``analyst_queries``: rounds of a fixed mix of read-only registry
  queries, each round in a seeded order, over one fixed generated
  snapshot; every query is forced by an order-insensitive checksum over
  all its columns and compared with the value recorded for the snapshot.

Only warm operations are in ``op_p50_s``: the cold first operation (the
initial load; a first round of the mix) is reported by name, not gated.
"""

from __future__ import annotations

import json
import os
import random
import resource
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import gen
from spans import Tracer, dir_bytes, event_log_stages, median

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"

SETUP_REPS = 3
# sf0.01 shapes: on a 4-core host a run is ~50 s, most of it the JVM start
# and the cold first operation, which cost the same at sf0.003
WAREHOUSE_SCALE = 0.01
WAREHOUSE_BATCHES = 8
ANALYST_SCALE = 0.01
ANALYST_DATA_SEED = 42
ANALYST_MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_revenue",
    "q7_nation_volume", "q10_returned_items", "fact_lineitem", "scd2_users",
    "events_sessionize", "asof_events", "dim_customer",
)
PIPELINE_STAGES = ("run_staging", "run_dim_users", "run_fact_orders", "refresh_failed_lookups")


def now() -> float:
    return time.perf_counter()


def checksum(df) -> str:
    """Row count and exact sum of xxhash64 over every column (sorted by
    name): forces every output expression and ignores row order."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return f"{row['n']}:{row['s']}"


def query_fn(name: str):
    from northwind_warehouse_spark.plans import analytics, medallion

    return getattr(analytics, name, None) or getattr(medallion, name)


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


@dataclass
class Ctx:
    """One run: its inputs, its session, its tally of operations."""

    seed: int
    seconds: float
    work: Path
    cores: int
    tracer: Tracer
    trace: bool = False
    spark: object = None
    setup_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    last_ok: bool = True
    t0: float = field(default_factory=time.perf_counter)
    marks: dict[str, float] = field(default_factory=dict)

    def mark(self, name: str) -> None:
        """Seconds since the run began, by phase: where a run's wall time goes."""
        self.marks[name] = round(now() - self.t0, 2)

    def start_session(self):
        from northwind_warehouse_spark import session

        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self) -> None:
        """Start a fresh session ``SETUP_REPS`` times; the median is
        ``setup_s`` (the first start also launches the JVM). Traced in a
        traced run."""
        self.tracer.enabled = self.trace
        for _ in range(SETUP_REPS):
            t0 = now()
            with self.tracer.span("setup"):
                self.start_session()
            self.setup_s.append(now() - t0)
        self.tracer.enabled = False

    def op(self, fn, checks=()) -> float | None:
        """Run one operation, timed, then ``check(checks)``. Returns the
        latency, or None if the operation raised; the operation counts as
        failed if it raised or a check failed."""
        self.attempted += 1
        lat = None
        try:
            t0 = now()
            with self.tracer.span("op"):
                fn()
            lat = now() - t0
        except Exception as exc:  # a failing op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.problems.append(f"{type(exc).__name__}: {exc}")
        self.last_ok = lat is not None
        if self.last_ok:
            self.check(checks)
        return lat

    def check(self, checks) -> None:
        """Checks of the state the operations so far left, untimed and
        untraced; if one fails, the last operation counts as failed
        unless it already did."""
        traced, self.tracer.enabled = self.tracer.enabled, False
        try:
            bad = [msg for ok, msg in (c() for c in checks) if not ok]
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            bad = [f"{type(exc).__name__}: {exc}"]
        finally:
            self.tracer.enabled = traced
        if bad and self.last_ok:
            self.failed += 1
            self.last_ok = False
        self.problems.extend(bad)

    def peak_rss_mb(self) -> float:
        """High-water resident set of this process plus the JVM it drives."""
        from pyspark import SparkContext

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        return kb / 1024.0


def phases(ctx: Ctx) -> list[tuple[bool, float]]:
    """(traced, seconds) phases of the measured window: the whole window
    untraced, or in a traced run its halves untraced then traced."""
    if not ctx.trace:
        return [(False, ctx.seconds)]
    return [(False, ctx.seconds / 2), (True, ctx.seconds / 2)]


# -- warehouse_incremental -------------------------------------------------------


class WarehouseChecks:
    """Output checks after the pipeline has run over batches ``0..b``."""

    def __init__(self, ctx: Ctx, batches: list[gen.Batch], lake: str, tamper: bool = False):
        self.ctx, self.batches, self.lake, self.tamper = ctx, batches, lake, tamper

    def _cum(self, b: int, table: str):
        from functools import reduce

        from northwind_warehouse_spark.catalog import load

        return reduce(lambda a, x: a.unionByName(x),
                      [load(self.ctx.spark, x.dir, table) for x in self.batches[: b + 1]])

    def _table(self, name: str):
        from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

        return WarehousePipeline(self.ctx.spark, self.lake).table(name)

    def scd2(self, b: int):
        """Latest dim_users_scd2 version == a from-scratch SCD2 build over
        every event delivered so far."""
        from northwind_warehouse_spark.functions.hashing import num_str, surrogate_key
        from northwind_warehouse_spark.operators.scd2 import scd2_from_change_stream

        ev = self._cum(b, "events").select("event_id", "user_id", "ts", "event_type", "value")
        want = checksum(scd2_from_change_stream(
            ev, key_cols=["user_id"], ts_col="ts",
            hash_col=surrogate_key("event_type", num_str("value")),
            attr_cols=["event_type", "value"], tiebreak_cols=["event_id"], sk_name="user_sk"))
        if self.tamper:
            want += "0"
        got = checksum(self._table("dim_users_scd2"))
        return got == want, f"batch {b}: dim_users_scd2 {got} != rebuilt {want}"

    def facts(self, b: int):
        """fact_orders holds exactly the orders delivered so far."""
        from pyspark.sql import functions as F

        cols = ["order_id", "customer_id", "order_status", "total_price", "order_date"]
        src = self._cum(b, "orders").select(
            F.col("o_orderkey").alias("order_id"), F.col("o_custkey").alias("customer_id"),
            F.col("o_orderstatus").alias("order_status"),
            F.col("o_totalprice").alias("total_price"),
            F.col("o_orderdate").cast("date").alias("order_date"))
        got, want = checksum(self._table("fact_orders").select(*cols)), checksum(src)
        return got == want, f"batch {b}: fact_orders {got} != source orders {want}"

    def lookups(self, b: int):
        """No fact row keeps the dummy customer SK once its customer is present."""
        from pyspark.sql import functions as F

        from northwind_warehouse_spark.catalog import load
        from northwind_warehouse_spark.functions.hashing import surrogate_key

        present = load(self.ctx.spark, self.batches[b].dir, "customer").select(
            F.col("c_custkey").alias("customer_id"))
        stuck = (self._table("fact_orders")
                 .filter(F.col("customer_sk") == surrogate_key(F.lit(0)))
                 .join(present, "customer_id", "left_semi").count())
        return stuck == 0, f"batch {b}: {stuck} fact rows keep the dummy SK of a present customer"

    def hwm(self, b: int):
        """The audit high watermark equals the newest event delivered."""
        from northwind_warehouse_spark.operators.incremental import AuditControl

        got = AuditControl(self.ctx.spark, f"{self.lake}/_audit/audit_control").get(
            "dim_users_scd2").hwm_date
        want = self.batches[b].max_event_ts
        return got == want, f"batch {b}: audit hwm {got} != max event ts {want}"

    def all(self, b: int):
        return tuple(lambda f=f: f(b) for f in (self.scd2, self.facts, self.lookups, self.hwm))


def lake_bytes_since(lake: str, wall0: float) -> int:
    """Bytes of the lake files written at or after ``wall0``."""
    total = 0
    for root, _, names in os.walk(lake):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= wall0:
                total += st.st_size
    return total


def warehouse_incremental(ctx: Ctx) -> dict:
    batches = gen.warehouse_batches(ctx.seed, WAREHOUSE_SCALE, str(ctx.work / "in"),
                                    WAREHOUSE_BATCHES, ctx.cores)
    ctx.mark("inputs")
    ctx.setup()
    ctx.mark("setup")
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    lake = str(ctx.work / "lake")
    pipe = WarehousePipeline(ctx.spark, lake)
    # the cold initial load warms the JVM up and is not in op_p50_s
    first_s = ctx.op(lambda: pipe.run(batches[0].dir))
    ctx.mark("warm_up")
    lat = {False: [], True: []}
    rows = lake_b = change_b = 0
    traced_batches = []
    b = 1
    for traced, seconds in phases(ctx):
        ctx.tracer.enabled = traced
        deadline, done = now() + seconds, 0
        while b < len(batches) and (done == 0 or now() < deadline):
            wall0 = time.time() - 0.01
            t = ctx.op(lambda: pipe.run(batches[b].dir))
            if t is not None:
                lat[traced].append(t)
                rows += batches[b].change_rows
                change_b += batches[b].change_bytes
                lake_b += lake_bytes_since(lake, wall0)
                if traced:
                    traced_batches.append(batches[b])
            b, done = b + 1, done + 1
    ctx.tracer.enabled = False
    # once, after the window: every check is over the cumulative state
    ctx.check(WarehouseChecks(ctx, batches, lake).all(b - 1))
    measured = lat[False] + lat[True]
    return {
        "lat": lat,
        "named": {
            "initial_load_s": (first_s, "s"),
            "batch_p50_s": (median(measured), "s"),
            "change_rows_per_s": (rows / sum(measured), "rows/s"),
            "lake_bytes_per_change_byte": (lake_b / change_b, "B/B"),
        },
        "changed_keys": sum(len(set(batch_users(x))) for x in traced_batches),
    }


def batch_users(batch: gen.Batch) -> list[int]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(batch.dir, "events.parquet"),
                         columns=["user_id"])["user_id"].to_pylist()


# -- analyst_queries ---------------------------------------------------------------


def expected_checksums() -> dict[str, str]:
    with open(EXPECTED) as f:
        return json.load(f)["checksums"]


def run_query(ctx: Ctx, name: str, sf_dir: str, want: str | None, timings: dict) -> str | None:
    """One query: build its plan, force it, compare its checksum with
    ``want``. Appends (build_s, exec_s) to ``timings[name]``."""
    fn = query_fn(name)
    got = {}

    def go():
        t0 = now()
        with ctx.tracer.span("plans.build"):
            df = fn(ctx.spark, sf_dir)
        t1 = now()
        with ctx.tracer.span("plans.exec"):
            got["cs"] = checksum(df)
        timings.setdefault(name, []).append((t1 - t0, now() - t1))

    ctx.op(go, (lambda: (want is None or got.get("cs") == want,
                         f"{name}: checksum {got.get('cs')} != recorded {want}"),))
    return got.get("cs")


def analyst_queries(ctx: Ctx) -> dict:
    sf_dir = str(ctx.work / "in")
    gen.single_dir(ANALYST_DATA_SEED, ANALYST_SCALE, sf_dir)
    want = expected_checksums()
    ctx.mark("inputs")
    ctx.setup()
    ctx.mark("setup")
    # the cold warm-up round runs in a fixed order, so every seed warms
    # the JIT alike; the measured rounds are in seeded orders
    t0 = now()
    for name in ANALYST_MIX:
        run_query(ctx, name, sf_dir, want[name], {})
    first_s = now() - t0
    ctx.mark("warm_up")
    rng = random.Random(ctx.seed)
    timings = {False: {}, True: {}}
    for traced, seconds in phases(ctx):
        ctx.tracer.enabled = traced
        deadline = now() + seconds
        while True:  # whole rounds, so every query weighs the same
            for name in rng.sample(ANALYST_MIX, len(ANALYST_MIX)):
                run_query(ctx, name, sf_dir, want[name], timings[traced])
            if now() >= deadline:
                break
    ctx.tracer.enabled = False
    lat = {k: [b + e for t in v.values() for b, e in t] for k, v in timings.items()}
    measured = lat[False] + lat[True]
    return {
        "lat": lat,
        "timings": timings[True],
        "named": {
            "first_round_s": (first_s, "s"),
            "query_p50_s": (median(measured), "s"),
            "query_p90_s": (p90(measured), "s"),
            "queries_per_s": (len(measured) / sum(measured), "1/s"),
        },
    }


WORKLOADS = {
    "warehouse_incremental": warehouse_incremental,
    "analyst_queries": analyst_queries,
}


# -- tracing -----------------------------------------------------------------------


def install_tracing(tracer: Tracer) -> None:
    """Wrap the public calls each per-layer figure is read from."""
    from northwind_warehouse_spark import catalog, session
    from northwind_warehouse_spark.operators import incremental, spread
    from northwind_warehouse_spark.plans import analytics, medallion, pipeline  # noqa: F401
    from northwind_warehouse_spark.sources import lake, versioned

    def written(span, args, kwargs, result):
        span.counts["bytes"], span.counts["files"] = dir_bytes(args[1])

    def version_written(span, args, kwargs, result):
        import pyarrow.dataset as ds

        path = os.path.join(args[0].dir, f"v={result}")
        span.counts["bytes"], span.counts["files"] = dir_bytes(path)
        if os.path.basename(args[0].dir) == pipeline.WarehousePipeline.DIM_USERS:
            span.counts["dim_rows"] = ds.dataset(path, format="parquet").count_rows()

    def spread_applied(span, args, kwargs, result):
        span.counts["applied"] = float(result is not args[0])

    tracer.patch_function(session, "get_spark", "session.get_spark")
    tracer.patch_function(catalog, "load", "catalog.load")
    tracer.patch_function(spread, "spread_scan", "operators.spread.spread_scan", spread_applied)
    tracer.patch_function(lake, "write_table", "sources.lake.write_table", written)
    tracer.patch_method(versioned.VersionedTable, "write", "sources.versioned.write",
                        version_written)
    for m in ("initialize", "get", "update"):
        tracer.patch_method(incremental.AuditControl, m, "operators.incremental.audit")
    for m in PIPELINE_STAGES:
        tracer.patch_method(pipeline.WarehousePipeline, m, f"plans.pipeline.{m}")


def per_layer(tracer: Tracer, res: dict, cores: int, log_dir: str) -> dict[str, float]:
    """Per-layer figures of the traced half of the window: totals per
    traced operation, averaged over those operations (0 for a layer the
    workload never calls); medians for per-call and per-query times."""
    ops = tracer.ops()
    stages = event_log_stages(log_dir)

    def per_op(total) -> float:
        return sum(total(op) for op in ops) / len(ops) if ops else 0.0

    def layer(name: str, value=lambda s: s.dur) -> float:
        return per_op(lambda op: sum(value(s) for s in tracer.within(op, name)))

    def spark(key: str):
        return lambda op: sum(stages.get((s.app, j), {}).get(key, 0.0)
                              for s in tracer.spans if s.op == op.sid for j in s.jobs)

    def calls(name: str) -> list[float]:
        return [s.dur for s in tracer.spans if s.name == name]

    out = {
        "session.get_spark.s": median(calls("session.get_spark")),
        "catalog.load.calls": layer("catalog.load", lambda s: 1),
        "catalog.load.s": layer("catalog.load"),
        "operators.spread.spread_scan.applied": layer(
            "operators.spread.spread_scan", lambda s: s.counts.get("applied", 0.0)),
        "operators.incremental.audit.s": layer("operators.incremental.audit"),
        "operators.incremental.audit.jobs": layer("operators.incremental.audit",
                                                  lambda s: len(s.jobs)),
        "sources.versioned.write.s": layer("sources.versioned.write"),
        "sources.versioned.write.bytes": layer("sources.versioned.write",
                                               lambda s: s.counts.get("bytes", 0)),
        "sources.versioned.write.files": layer("sources.versioned.write",
                                               lambda s: s.counts.get("files", 0)),
        "sources.lake.write_table.s": layer("sources.lake.write_table"),
        "sources.lake.write_table.bytes": layer("sources.lake.write_table",
                                                lambda s: s.counts.get("bytes", 0)),
        "plans.build_s": median(calls("plans.build")),
        "plans.exec_s": median(calls("plans.exec")),
        "spark.jobs": per_op(lambda op: sum(len(s.jobs) for s in tracer.spans if s.op == op.sid)),
        "spark.stages": per_op(spark("stages")),
        "spark.tasks": per_op(spark("tasks")),
        "spark.shuffle_write_bytes": per_op(spark("shuffle_write_bytes")),
        "spark.spill_bytes": per_op(spark("spill_bytes")),
        "spark.executor_busy_ratio": (per_op(spark("task_ms")) / 1000.0
                                      / (per_op(lambda op: op.dur) * cores) if ops else 0.0),
        "trace.overhead_s": median(res["lat"][True]) - median(res["lat"][False]),
    }
    for m in PIPELINE_STAGES:
        out[f"plans.pipeline.{m}.s"] = layer(f"plans.pipeline.{m}")
    dim_rows = sum(s.counts.get("dim_rows", 0) for s in tracer.spans)
    out["operators.scd2.dim_rows_written_per_changed_key"] = (
        dim_rows / res["changed_keys"] if res.get("changed_keys") else 0.0)
    timings = res.get("timings", {})
    for q in ANALYST_MIX:
        out[f"analyst.{q}.s"] = median(b + e for b, e in timings.get(q, []))
    return out
