"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytics_k8 --seed 1 --seconds 4 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` into
``.perfbench_work/`` (cached per seed and workload, outside every timed
window) and every result is checked against its DuckDB oracle.  The last
line of standard output is one JSON object::

    {"correct": ..., "attempted": n, "failed": k, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (``perfbench/workloads.py`` names both).  A run also
writes ``.perfbench_work/last-<workload>.json``: the notes (failures,
sample counts, the tail percentile) and, when traced, every span.

End-to-end metrics:
  setup_s      process start to ready: imports, session and the warm
               passes (one batch pass, which also infers and caches each
               table's schema; two stream catch-ups), input generation and
               the oracle excluded
  pass_s       median wall of one pass (stream: catch-up drain)
  op_p50_s     median latency of one operation: a query's build + collect
               (the median over the mix's queries of each query's median,
               so the value does not jump between two queries' latencies),
               or a stream file's creation to the snapshot that holds it
  op_tail_s    the highest percentile of the same latencies with at least
               10 samples beyond it; with fewer than 11 samples (a batch
               run collects passes x queries), the slowest sample.  The
               notes record the percentile and the sample count.
  rows_per_s   input rows of the workload / pass_s
Failed operations are the ``failed`` count, not a metric: it is 0 on a
healthy run.  Peak resident memory of the Spark JVM and its Python
workers is the per-layer ``mem.peak_rss_mb``: it follows the JVM's heap
sizing decisions and spreads too widely between runs to carry a bound.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE_KEEP = 6  # generated datasets kept per workload


def pin_environment(cores: int) -> None:
    """Everything Spark, its workers and the engine write goes under the
    work directory; workers import the engine from the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEMORY="2g",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(paths),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # -XX:-UsePerfData: no hsperfdata files in the system temp directory
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = tmp


def dataset(workload, seed: int) -> tuple[str, dict[str, int]]:
    """Generated tables for (workload, seed), written once and reused."""
    from perfbench import gen

    d = os.path.join(WORK, "data", f"{workload.name}-{seed}")
    meta = os.path.join(d, "rows.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        rows = gen.write_tables(d, seed, workload.scale, workload.copies)
        with open(meta, "w") as f:
            json.dump(rows, f)
        prefix = os.path.join(WORK, "data", f"{workload.name}-")
        old = sorted(
            (p for p in (os.path.join(WORK, "data", x) for x in os.listdir(os.path.join(WORK, "data")))
             if p.startswith(prefix) and p != d),
            key=os.path.getmtime,
        )
        for p in old[: max(0, len(old) - CACHE_KEEP + 1)]:
            shutil.rmtree(p, ignore_errors=True)
    with open(meta) as f:
        return d, json.load(f)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (and the Python workers under it)
    and wait for it: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def calibration_s(spark, cores: int) -> float:
    """bench.py's fixed range -> modulo key -> hash aggregate job, warm,
    median of three: a box-drift reading independent of the engine."""
    from perfbench.counters import median

    def job():
        spark.range(0, 50_000_000, 1, cores).selectExpr("id % 9973 AS k", "id AS v").groupBy(
            "k"
        ).sum("v").collect()

    job()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t0)
    return median(runs)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


#: samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


def tail_q(n: int) -> float:
    """The highest percentile (q in [0, 1]) of n samples that has
    ``TAIL_BEYOND`` samples beyond it: sample n - 11 of the sorted n.  With
    fewer samples no such percentile exists and the tail is the maximum."""
    return (n - 1 - TAIL_BEYOND) / (n - 1) if n > TAIL_BEYOND else 1.0


#: batch passes run during set-up (a second would add a pass to every run)
WARM_PASSES = 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import crawl_streams_spark.plans  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as e:
        print(f"the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload}; one of {W.WORKLOADS}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    pin_environment(cores)

    from perfbench import counters as C

    tracer = C.Tracer() if args.trace else None
    excluded = 0.0  # input generation and the oracle: the benchmark's work
    stream = args.workload == W.STREAM
    if not stream:
        from crawl_streams_spark.plans import REGISTRY
        from perfbench import oracle

        wl = W.BATCH[args.workload]
        t = time.perf_counter()
        data_dir, table_rows = dataset(wl, args.seed)
        expected = oracle.expected_results(data_dir, [REGISTRY[q] for q in wl.queries])
        excluded += time.perf_counter() - t
    else:
        from perfbench.stream import StreamRunner

        runner = StreamRunner(os.path.join(WORK, f"stream-{args.seed}-{os.getpid()}"), args.seed, tracer)
        t = time.perf_counter()
        runner.write_backlog()
        excluded += time.perf_counter() - t

    from crawl_streams_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    session_start_s = time.perf_counter() - t
    sampler = C.RssSampler()
    jvm = C.find_jvm(os.getpid())
    if jvm is not None:
        sampler.start(jvm)
    notes: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    try:
        if stream:
            runner.spark = spark
            runner.warm()
        else:
            from perfbench.batch import BatchRunner, layer_metrics

            runner = BatchRunner(spark, wl, data_dir, expected, tracer)
            for _ in range(WARM_PASSES):
                runner.run_pass(traced=False)
        setup_s = time.perf_counter() - T_PROCESS - excluded
        runner.check_pending()
        cal = calibration_s(spark, cores) if args.trace else 0.0

        if stream:
            res = runner.run(args.seconds)
            shutil.rmtree(runner.dir, ignore_errors=True)
            pass_s, lat, rows = C.median(res["passes"]), res["latencies"], res["catchup_rows"]
            p50 = percentile(lat, 0.5)
            notes["passes"] = res["passes"]
            layers = {**runner.layer_metrics(res), "trace.pass_s": pass_s}
        else:
            passes = runner.measure(args.seconds, bool(args.trace))
            plain = [p for p in passes if not p["traced"]]
            pass_s = C.median(p["wall"] for p in plain)
            lat = [w for p in plain for w in p["ops"].values()]
            per_query = [[p["ops"][q] for p in plain if q in p["ops"]] for q in wl.queries]
            p50 = C.median(C.median(v) for v in per_query if v)
            rows = sum(table_rows.values())
            layers = layer_metrics(passes, cores) if args.trace else {}
            notes["passes"] = [round(p["wall"], 4) for p in passes]
    finally:
        peak_mb = sampler.stop()
        stop_spark(spark)

    failed = len(runner.failures)
    notes.update(
        attempted=runner.attempted,
        failed=failed,
        failed_frac=failed / max(1, runner.attempted),
        failures=runner.failures[:20],
        op_samples=len(lat),
        op_tail_percentile=100 * tail_q(len(lat)),
    )
    if args.trace:
        layers.update(
            {"session.start_s": session_start_s, "session.calibration_s": cal,
             "mem.peak_rss_mb": peak_mb},
        )
        layers.update({f"self.{k}_s": v for k, v in tracer.self_times().items()})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in W.LAYER_UNITS.items()}
        notes["traffic_checks"] = W.traffic_checks(
            args.workload, {k: v["value"] for k, v in metrics.items()}
        )
        for check, ok in notes["traffic_checks"].items():
            print(f"traffic check {'holds' if ok else 'FAILS'}: {check}", file=sys.stderr)
        notes["spans"] = tracer.spans
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "op_p50_s": p50,
            "op_tail_s": percentile(lat, tail_q(len(lat))),
            "rows_per_s": rows / pass_s if pass_s > 0 else 0.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in W.E2E_UNITS.items()}
    with open(os.path.join(WORK, f"last-{args.workload}.json"), "w") as f:
        json.dump({**notes, "metrics": metrics}, f)
    for line in runner.failures[:20]:
        print(f"FAILED {line}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
