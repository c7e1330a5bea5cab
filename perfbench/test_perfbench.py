"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q

The last two tests run the command for real on the cheapest workload
(about a minute together).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, stream, workloads  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_same_seed_same_bytes_other_seed_differs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_tables(a, 5, 0.002, copies=2)
    gen.write_tables(b, 5, 0.002, copies=2)
    gen.write_tables(c, 6, 0.002, copies=2)
    def files(d):
        return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)

    assert files(a) == files(b)
    for f in files(a):
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f
    differs = [
        n for n in ("lineitem.parquet", "events.parquet", "documents.parquet")
        if not filecmp.cmp(os.path.join(a, n, "part-000.parquet"),
                           os.path.join(c, n, "part-000.parquet"), shallow=False)
    ]
    assert differs == ["lineitem.parquet", "events.parquet", "documents.parquet"]
    assert gen.crawl_log_lines(5, 3, 50) == gen.crawl_log_lines(5, 3, 50)
    assert gen.crawl_log_lines(5, 3, 50) != gen.crawl_log_lines(6, 3, 50)


def test_gate_passes_the_oracle_and_flags_a_perturbed_result(tmp_path):
    d = str(tmp_path / "data")
    gen.write_tables(d, 1, 0.001)
    con = oracle.connect(d)
    sql = (
        "SELECT event_type, count(*) AS n, ROUND(sum(value), 2) AS total "
        "FROM events GROUP BY event_type"
    )
    exp = oracle.Expected.from_duckdb(con, sql)
    rows = con.execute(sql).fetchall()
    cols = ["event_type", "n", "total"]
    dtypes = [("event_type", "string"), ("n", "bigint"), ("total", "double")]
    assert exp.check(cols, dtypes, rows) is None
    assert exp.check(cols, dtypes, list(reversed(rows))) is None  # order-insensitive
    bad = [rows[0][:2] + (rows[0][2] + 0.01,)] + rows[1:]
    assert exp.check(cols, dtypes, bad) == f"1/{len(rows)} rows differ"
    assert exp.check(cols, dtypes, rows[1:]).startswith("row count")
    assert exp.check(cols, [("event_type", "string"), ("n", "int"), ("total", "double")],
                     rows).startswith("types differ")


def test_stream_gate_flags_a_perturbed_snapshot(tmp_path):
    d = str(tmp_path / "in")
    os.makedirs(d)
    files = [os.path.join(d, gen.write_stream_file(d, 9, i, 300)) for i in range(3)]
    want = stream.expected_snapshot(files)
    assert sum(r[2] for r in want) == 900
    hosts = [
        {"win": {"start": f"{h}:00:00.000Z"}, "host": host, "total": n,
         "first_timestamp": lo, "last_timestamp": hi}
        for h, host, n, lo, hi in want
    ]
    snap = tmp_path / "snapshot.json"
    snap.write_text(json.dumps({"batch_id": 0, "hosts": hosts}))
    assert stream.snapshot_rows(str(snap)) == want
    hosts[0]["total"] += 1
    snap.write_text(json.dumps({"batch_id": 0, "hosts": hosts}))
    assert stream.snapshot_rows(str(snap)) != want


def _live_files(n=40, interval=0.1):
    return [i * interval for i in range(n)]


def test_stream_traffic_check_holds_when_the_job_keeps_up():
    # a batch every 2 s, 0.6 s long, reads every file written before it started
    stamps = _live_files()
    done = [(int(t // stream.TRIGGER_S) + 1) * stream.TRIGGER_S + 0.6 for t in stamps]
    m = stream.live_lag(stamps, done, [0.6] * 3)
    assert workloads.traffic_checks(workloads.STREAM, m) == {
        "streaming.live_lag_max_s is at most streaming.live_lag_bound_s": True
    }


def test_stream_traffic_check_fails_when_the_job_stalls():
    stamps = _live_files()
    # no live file read until one batch after the generator stopped
    stalled = stream.live_lag(stamps, [5.0] * len(stamps), [0.6])
    # the job reads files at half the rate they arrive: the lag grows
    behind = stream.live_lag(
        stamps, [2.6 + 0.2 * i for i in range(len(stamps))], [0.6, 0.9, 1.2]
    )
    for m in (stalled, behind):
        assert list(workloads.traffic_checks(workloads.STREAM, m).values()) == [False]


def test_tail_percentile_leaves_ten_samples_beyond_it():
    from perfbench import run

    assert run.tail_q(8) == 1.0
    assert run.tail_q(11) == 0.0
    v = list(range(40))
    tail = run.percentile(v, run.tail_q(len(v)))
    assert sum(x > tail for x in v) == 10


def test_metric_names_and_units_match_benchmark_json():
    b = _bench_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == workloads.LAYER_UNITS
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)


def _run(cwd, *extra):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workloads.STREAM, "--seed", "3",
         "--seconds", "2", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
def test_command_prints_exactly_the_declared_metrics(trace):
    res = _run(ROOT, "--trace", trace)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    b = _bench_json()
    declared = {m["name"]: m["unit"] for m in b["end_to_end" if trace == "0" else "per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared


def test_command_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(str(tmp_path), "--trace", "0")
    assert res.returncode != 0
    assert res.stdout.strip() == ""
