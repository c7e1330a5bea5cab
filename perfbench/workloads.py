"""The benchmark's workloads and the metric names it prints.

Each batch workload is one seeded dataset plus a fixed mix of registry
queries; one pass builds and fully collects every query of the mix once,
in this order.  The mixes are sized so a pass takes a few seconds on a
4-core box: every run pays a JVM start and a cold warm-up pass on top of
its measured window, and a full set of runs (ten seeds per workload,
twice) should stay well under an hour.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class BatchWorkload:
    name: str
    scale: float  # scale factor of the generated tables
    copies: int  # files per fact table
    queries: tuple[str, ...]


BATCH = {
    w.name: w
    for w in (
        BatchWorkload(
            "analytics_k8",
            0.04,
            8,
            (
                "pricing_summary",
                "event_type_stats",
                "hll_distinct_users",
                "referrer_host_histogram",
            ),
        ),
        BatchWorkload(
            "tx_ops_sf001",
            0.01,
            1,
            ("tx_generated_dml_state", "host_graph_distances", "media_wav_features"),
        ),
    )
}

STREAM = "crawl_stream"

WORKLOADS = (*BATCH, STREAM)


def traffic_checks(workload: str, m: dict[str, float]) -> dict[str, bool]:
    """What a traced run of ``workload`` should show if the workload loads
    the layer it was chosen for; a False is reported, not fatal."""
    if workload == "analytics_k8":
        return {
            "plans.build_s is under a quarter of trace.pass_s":
                m["plans.build_s"] < 0.25 * m["trace.pass_s"],
            "exec.task_s exceeds plans.build_s": m["exec.task_s"] > m["plans.build_s"],
            "operators.python_s is 0": m["operators.python_s"] == 0,
        }
    if workload == "tx_ops_sf001":
        return {
            "plans.build_s is most of trace.pass_s":
                m["plans.build_s"] > 0.5 * m["trace.pass_s"],
            "plans.build_jobs is most of exec.jobs":
                m["plans.build_jobs"] > 0.5 * m["exec.jobs"],
            "operators.pins_live_after is above 0": m["operators.pins_live_after"] > 0,
            "operators.python_s is above 0": m["operators.python_s"] > 0,
            "sources.write_bytes is above 0": m["sources.write_bytes"] > 0,
        }
    # a job that keeps up reads a file at the next trigger at the latest, so
    # no file waits longer than the trigger interval plus the longest batch
    return {
        "streaming.live_lag_max_s is at most streaming.live_lag_bound_s":
            m["streaming.live_lag_max_s"] <= m["streaming.live_lag_bound_s"],
    }

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
}

_LAYER_UNITS = {
    "session.start_s": "s",
    "session.calibration_s": "s",
    "mem.peak_rss_mb": "MiB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.optimize_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_s": "s",
    "sources.write_bytes": "bytes",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_frac": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "exec.codegen_s": "s",
    "exec.agg_s": "s",
    "exec.result_rows": "count",
    "exec.driver_tail_s": "s",
    "operators.python_rows": "count",
    "operators.python_bytes": "bytes",
    "operators.python_s": "s",
    "operators.python_boot_s": "s",
    "operators.pins_new": "count",
    "operators.pins_live_after": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.offsets_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.backlog_files_end": "count",
    "streaming.live_lag_max_s": "s",
    "streaming.live_lag_bound_s": "s",
    "streaming.generator_late_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "self.op_s": "s",
    "self.plans.build_s": "s",
    "self.tables.load_table_s": "s",
    "self.plans.optimize_s": "s",
    "self.exec.collect_s": "s",
    "self.spark.job_s": "s",
    "self.streaming.batch_s": "s",
}

#: every per-layer metric, in print order; ``q.<query>.s`` is the median
#: wall of one query over the run's untraced passes
LAYER_UNITS = {
    **_LAYER_UNITS,
    **{f"q.{q}.s": "s" for w in BATCH.values() for q in w.queries},
}
