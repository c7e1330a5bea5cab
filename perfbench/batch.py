"""Batch workloads: passes over a query mix, each query built and fully
collected, every result checked against its DuckDB oracle outside the
timed window.

Untraced passes time only ``Query.build`` + ``collect``.  A traced pass
also sets one Spark job group per call, forces ``executedPlan`` between
build and collect (``plans.optimize``), and reads the status store, the
final plan and the persistent-RDD census after each query.
"""

from __future__ import annotations

import sys
import time
from contextlib import ExitStack

from crawl_streams_spark.operators.iterate import unpin
from crawl_streams_spark.plans import REGISTRY

from . import counters as C

_SUMMED = (
    "build_s", "optimize_s", "collect_s", "load_calls", "load_s", "build_jobs", "jobs",
    "codegen_s", "result_rows", "driver_tail_s", "pins_new", "pins_live_after",
    *C.STAGE_KEYS,
    "scan_s", "scan_bytes", "agg_s", "python_rows", "python_bytes", "python_s", "python_boot_s",
)


#: the first timed pass still runs up to a third slower than the next (JIT
#: and codegen warming after one warm pass), so every run times the same
#: number of passes: with the benchmark's window two passes always
#: overrun it, and the reported median is their mean in every run
MIN_PASSES = 2


class BatchRunner:
    def __init__(self, spark, workload, data_dir, expected, tracer: C.Tracer | None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.w = workload
        self.data_dir = data_dir
        self.expected = expected
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self._op = 0
        self._load = {"calls": 0, "s": 0.0}
        #: (query, result DataFrame, collected rows), compared after the pass
        self._pending: list[tuple[str, object, list]] = []

    # -- one operation -------------------------------------------------
    def check_pending(self) -> None:
        """Compare every collected result with its oracle (benchmark work,
        run outside the timed windows)."""
        for name, df, rows in self._pending:
            self.attempted += 1
            why = self.expected[name].check(df.columns, df.dtypes, rows)
            if why:
                self.failures.append(f"{name}: {why}")
        self._pending = []

    def run_op(self, name: str) -> float | None:
        """Build + collect one query; latency in seconds, None if it raised."""
        q = REGISTRY[name]
        try:
            t0 = time.perf_counter()
            df = q.build(self.spark, self.data_dir)
            rows = df.collect()
            wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            self.attempted += 1
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        self._pending.append((name, df, rows))
        unpin(df)
        return wall

    def run_traced_op(self, name: str) -> tuple[float | None, dict]:
        q = REGISTRY[name]
        tr, sc = self.tracer, self.sc
        self._op += 1
        gb, gc = f"pb-{self._op}-build", f"pb-{self._op}-collect"
        pins0 = C.persistent_rdds(sc)
        cg0 = C.codegen_s(sc)
        self._load = {"calls": 0, "s": 0.0}
        rec: dict = {}
        try:
            with tr.span("op", query=name) as op:
                sc.setJobGroup(gb, name)
                with tr.span("plans.build") as sb:
                    df = q.build(self.spark, self.data_dir)
                with tr.span("plans.optimize") as so:
                    df._jdf.queryExecution().executedPlan()
                sc.setJobGroup(gc, name)
                with tr.span("exec.collect") as sx:
                    rows = df.collect()
                collect_end = time.time()
        except Exception as e:  # noqa: BLE001
            self.attempted += 1
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None, {}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall = op["end"] - op["start"]
        pins1 = C.persistent_rdds(sc)
        self._pending.append((name, df, rows))
        unpin(df)
        pins2 = C.persistent_rdds(sc)
        build_jobs, collect_jobs = C.job_ids(sc, gb), C.job_ids(sc, gc)
        last_done = None
        for j in build_jobs + collect_jobs:
            times = C.job_times(sc, j)
            if times is None:
                continue
            a, b = (t - tr.epoch_offset for t in times)
            tr.add("spark.job", a, b, tr.innermost(op["id"], a), job=j)
            if j in collect_jobs:
                last_done = max(last_done or 0.0, times[1])
        stage, skew = C.stage_counters(sc, build_jobs + collect_jobs)
        rec.update(stage)
        rec.update(C.plan_counters(df))
        rec.update(
            build_s=sb["end"] - sb["start"],
            optimize_s=so["end"] - so["start"],
            collect_s=sx["end"] - sx["start"],
            load_calls=self._load["calls"],
            load_s=self._load["s"],
            build_jobs=len(build_jobs),
            jobs=len(build_jobs) + len(collect_jobs),
            codegen_s=C.codegen_s(sc) - cg0,
            result_rows=len(rows),
            driver_tail_s=max(0.0, collect_end - last_done) if last_done else 0.0,
            pins_new=len(pins1 - pins0),
            pins_live_after=len(pins2 - pins0),
            skew=skew,
        )
        return wall, rec

    def load_wrapper(self, load_table):
        """Times every ``tables.load_table`` call made inside a traced build."""

        def traced_load_table(*args, **kwargs):
            t0 = time.perf_counter()
            with self.tracer.span("tables.load_table", table=args[2] if len(args) > 2 else None):
                try:
                    return load_table(*args, **kwargs)
                finally:
                    self._load["calls"] += 1
                    self._load["s"] += time.perf_counter() - t0

        return traced_load_table

    # -- passes ----------------------------------------------------------
    def run_pass(self, traced: bool) -> dict:
        per_q: dict[str, float] = {}
        recs = []
        t0 = time.perf_counter()
        with ExitStack() as stack:
            if traced:
                stack.callback(C.wrap_load_table(self.load_wrapper))
                stack.enter_context(self.tracer.span("pass"))
            for name in self.w.queries:
                if traced:
                    wall, rec = self.run_traced_op(name)
                    recs.append(rec)
                else:
                    wall = self.run_op(name)
                if wall is not None:
                    per_q[name] = wall
        return {"wall": time.perf_counter() - t0, "ops": per_q, "recs": recs}

    def measure(self, seconds: float, trace: bool) -> list[dict]:
        """Complete passes until ``seconds`` have elapsed (the last pass
        started in time is finished, so every pass runs the whole mix), and
        at least ``MIN_PASSES``.  In a traced run, passes alternate
        untraced / traced / untraced ..., at least three, so the traced
        pass sits between two untraced ones."""
        passes = []
        end = time.perf_counter() + seconds
        least = 3 if trace else MIN_PASSES
        while time.perf_counter() < end or len(passes) < least:
            traced = trace and len(passes) % 2 == 1
            p = self.run_pass(traced)
            self.check_pending()
            p["traced"] = traced
            passes.append(p)
            print(f"pass {len(passes)} traced={traced} {p['wall']:.3f}s", file=sys.stderr)
        return passes


def layer_metrics(passes: list[dict], cores: int) -> dict[str, float]:
    """Per-layer numbers: per-pass sums over queries, median over the
    traced passes."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    rows = []
    for p in traced:
        recs = [r for r in p["recs"] if r]
        s = {k: sum(r.get(k, 0.0) for r in recs) for k in _SUMMED}
        s["busy_frac"] = s["task_s"] / (p["wall"] * cores) if p["wall"] > 0 else 0.0
        s["task_skew"] = C.median([x for r in recs for x in r.get("skew", [])])
        s["wall"] = p["wall"]
        rows.append(s)

    def med(key):
        return C.median(r[key] for r in rows)

    out = {
        "plans.build_s": med("build_s"),
        "plans.build_jobs": med("build_jobs"),
        "plans.optimize_s": med("optimize_s"),
        "tables.load_calls": med("load_calls"),
        "tables.load_s": med("load_s"),
        "sources.scan_rows": med("scan_rows"),
        "sources.scan_bytes": med("scan_bytes"),
        "sources.scan_s": med("scan_s"),
        "sources.write_bytes": med("write_bytes"),
        "exec.collect_s": med("collect_s"),
        "exec.jobs": med("jobs"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
        "exec.task_s": med("task_s"),
        "exec.task_cpu_s": med("task_cpu_s"),
        "exec.gc_s": med("gc_s"),
        "exec.busy_frac": med("busy_frac"),
        "exec.shuffle_write_bytes": med("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": med("shuffle_read_bytes"),
        "exec.spill_bytes": med("spill_bytes"),
        "exec.task_skew": med("task_skew"),
        "exec.codegen_s": med("codegen_s"),
        "exec.agg_s": med("agg_s"),
        "exec.result_rows": med("result_rows"),
        "exec.driver_tail_s": med("driver_tail_s"),
        "operators.python_rows": med("python_rows"),
        "operators.python_bytes": med("python_bytes"),
        "operators.python_s": med("python_s"),
        "operators.python_boot_s": med("python_boot_s"),
        "operators.pins_new": med("pins_new"),
        "operators.pins_live_after": med("pins_live_after"),
        "trace.pass_s": med("wall"),
        "trace.overhead_s": med("wall") - C.median(p["wall"] for p in plain),
    }
    names = {n for p in plain for n in p["ops"]}
    for n in names:
        out[f"q.{n}.s"] = C.median(p["ops"][n] for p in plain if n in p["ops"])
    return out
