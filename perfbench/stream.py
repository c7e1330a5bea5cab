"""The ``crawl_stream`` workload: the ``analyse`` job (``stream_crawl_log``
+ ``run_analysis``) over crawl-log files written by a separate generator
process.

1. Catch-up: the generator writes a backlog of files, then a fresh job
   starts with a short fixed trigger.  A pass is the wall from ``start()``
   to the end of the micro-batch that has read every backlog event.  Set-up
   runs the warm passes; the timed passes each start a new job with its
   own checkpoint.
2. Live: the generator writes files open-loop at a fixed rate well under
   capacity.  Each file is one operation; its latency runs from the stamp
   in its name to the end of the micro-batch that read it (that batch
   wrote the snapshot holding it).  The file-to-batch map comes from the
   file source's own log in the checkpoint; batch times from
   ``StreamingQuery.recentProgress``.  A job that keeps up reads every
   file at the next trigger at the latest, so no file's latency exceeds
   the trigger interval plus the longest live batch; a stalled or
   falling-behind job breaks that bound.
3. Each snapshot (every catch-up's, and the final one after the live
   phase) is compared with a DuckDB aggregate over the files it should
   hold, after the timed windows.  The generator's 40 hosts over a few
   hours of event time keep (window, host) rows far below the snapshot's
   top-500 cut.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time

import duckdb

from crawl_streams_spark.sources.jsonl import stream_crawl_log
from crawl_streams_spark.streaming.analysis_job import run_analysis

from . import counters as C
from . import gen

#: longer than a live micro-batch takes, so a file's latency is its wait for
#: the next trigger plus one batch; with a 500 ms trigger batches ran back
#: to back and the latency median spread by a third between runs
TRIGGER_S = 2.0
#: a fresh job's catch-up keeps getting faster over its first few runs in
#: a process (3.1, 2.8, 2.5 s on a 4-core VM after one warm run), so
#: set-up drains the backlog twice before the timed passes
WARM_PASSES = 2
CATCHUP_PASSES = 2
BACKLOG_FILES = 20
BACKLOG_EVENTS = 2500  # per file
LIVE_INTERVAL_S = 0.1
LIVE_EVENTS = 200  # per file: 2 000 events/s offered
WAIT_S = 60.0


def _batch_end(p) -> float:
    """Epoch seconds at which a micro-batch finished."""
    ts = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    start = ts.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p.durationMs.get("triggerExecution", 0) / 1e3


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def expected_snapshot(files: list[str]) -> set[tuple]:
    """(hour, host, total, first, last) per window and host over
    ``files``, by DuckDB."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            WITH e AS (
              SELECT regexp_extract(url, '^[a-z]+://([^/:]+)', 1) AS host, "timestamp" AS ts
              FROM read_json({files!r}, format='newline_delimited',
                             columns={{'url': 'VARCHAR', 'timestamp': 'VARCHAR'}})
            )
            SELECT strftime(date_trunc('hour',
                     CAST(replace(replace(ts, 'T', ' '), 'Z', '') AS TIMESTAMP)),
                     '%Y-%m-%dT%H'),
                   host, count(*), min(ts), max(ts)
            FROM e GROUP BY ALL
            """
        ).fetchall()
    finally:
        con.close()
    return set(rows)


def snapshot_rows(path: str) -> set[tuple]:
    with open(path) as f:
        doc = json.load(f)
    return {
        (h["win"]["start"][:13], h["host"], h["total"], h["first_timestamp"], h["last_timestamp"])
        for h in doc["hosts"]
    }


#: how late a trigger may fire against its schedule (a GC pause, a busy
#: driver) before the live-lag bound counts it as falling behind
TRIGGER_SLACK_S = 0.25


def live_lag(stamps: list[float], done: list[float], batch_s: list[float]) -> dict[str, float]:
    """Latency of the live files (creation stamp to the end of the batch
    that read them, epoch seconds) against what a job that keeps up allows:
    the trigger interval plus the longest batch that read a live file."""
    return {
        "streaming.live_lag_max_s": max((d - t for t, d in zip(stamps, done)), default=0.0),
        "streaming.live_lag_bound_s": TRIGGER_S + TRIGGER_SLACK_S + max(batch_s, default=0.0),
    }


class StreamRunner:
    def __init__(self, work_dir: str, seed: int, tracer: C.Tracer | None):
        self.spark = None  # set once the session is up
        self.dir = work_dir
        self.in_dir = os.path.join(work_dir, "in")
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.progress: dict[int, object] = {}
        #: (snapshot, files it should hold, label), compared by check_pending
        self.pending: list[tuple[str, list[str], str]] = []
        os.makedirs(work_dir, exist_ok=True)

    def _generator(self, first, files, events, interval=0.0) -> subprocess.Popen:
        cmd = [
            sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
            "--seed", str(self.seed), "--dir", self.in_dir, "--first", str(first),
            "--files", str(files), "--events", str(events), "--interval", str(interval),
        ]
        return subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    @staticmethod
    def _finish(proc: subprocess.Popen, timeout: float) -> str:
        """Output of a generator process; it is killed if it overruns."""
        try:
            out, _ = proc.communicate(timeout=timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode:
            raise RuntimeError(f"stream generator exited with {proc.returncode}")
        return out

    def _files(self) -> list[str]:
        return [
            os.path.join(self.in_dir, n) for n in sorted(os.listdir(self.in_dir))
            if not n.startswith(".")
        ]

    def write_backlog(self) -> None:
        """Input generation, before the session starts and outside set-up."""
        self._finish(self._generator(0, BACKLOG_FILES, BACKLOG_EVENTS), WAIT_S)

    def warm(self) -> None:
        """Set-up passes: drain the backlog with throw-away jobs."""
        for i in range(WARM_PASSES):
            q, _ = self._catch_up(f"warm{i}")
            q.stop()
            self._expect(f"warm{i}", f"warm {i}")

    def _expect(self, tag: str, what: str) -> None:
        self.pending.append((os.path.join(self.dir, f"snapshot-{tag}.json"), self._files(), what))

    def check_pending(self) -> None:
        """Compare every finished snapshot with its oracle (benchmark work,
        run outside the timed windows)."""
        for snap, files, what in self.pending:
            self.attempted += 1
            want, got = expected_snapshot(files), snapshot_rows(snap)
            if want != got:
                self.failures.append(
                    f"{what} snapshot differs from oracle: "
                    f"{len(want - got)} rows missing, {len(got - want)} extra"
                )
        self.pending = []

    def _catch_up(self, tag: str):
        """Start a fresh job over the backlog and wait until it has read
        every backlog event; returns the running query and (start, end)."""
        self.progress = {}
        snap = os.path.join(self.dir, f"snapshot-{tag}.json")
        ckpt = os.path.join(self.dir, f"ckpt-{tag}")
        t0 = time.time()
        q = run_analysis(
            stream_crawl_log(self.spark, self.in_dir), snap, ckpt,
            update_interval=f"{TRIGGER_S:g} seconds",
        )
        try:
            if not self._wait_rows(q, self.progress, BACKLOG_FILES * BACKLOG_EVENTS):
                raise RuntimeError("catch-up did not drain the backlog")
        except BaseException:
            q.stop()
            raise
        end = max(_batch_end(p) for p in self.progress.values() if p.numInputRows)
        return q, (t0, end)

    @staticmethod
    def _poll(q, progress: dict) -> int:
        for p in q.recentProgress:
            progress[p.batchId] = p
        return sum(p.numInputRows for p in progress.values())

    def _wait_rows(self, q, progress: dict, rows: int) -> bool:
        end = time.monotonic() + WAIT_S
        while time.monotonic() < end:
            if self._poll(q, progress) >= rows:
                return True
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(0.05)
        return False

    def run(self, seconds: float) -> dict:
        backlog_rows = BACKLOG_FILES * BACKLOG_EVENTS
        live_files = max(1, round(seconds / LIVE_INTERVAL_S))
        total_rows = backlog_rows + live_files * LIVE_EVENTS

        # catch-up passes, each a fresh job over the whole backlog; the
        # last one stays up for the live phase
        passes = []
        for i in range(CATCHUP_PASSES):
            q, span = self._catch_up(str(i))
            passes.append(span)
            if i < CATCHUP_PASSES - 1:
                q.stop()
                self._expect(str(i), f"catch-up {i}")
        last = str(CATCHUP_PASSES - 1)

        try:
            live = self._generator(BACKLOG_FILES, live_files, LIVE_EVENTS, LIVE_INTERVAL_S)
            out = self._finish(live, seconds + WAIT_S)
            live_end = time.time()
            late = json.loads(out.strip().splitlines()[-1])["late_max_s"]
            drained = self._wait_rows(q, self.progress, total_rows)
            self._poll(q, self.progress)
        finally:
            q.stop()
        self._expect(last, "final")

        batch_of = source_log(os.path.join(self.dir, f"ckpt-{last}"))
        end_of = {b: _batch_end(p) for b, p in self.progress.items()}
        stamps, done, live_batches, backlog_end = [], [], set(), 0
        for path in self._files():
            name = os.path.basename(path)
            if gen.stream_file_index(name) < BACKLOG_FILES:
                continue
            self.attempted += 1
            b = batch_of.get(name)
            if b not in end_of:
                self.failures.append(f"{name} never read by a batch")
                continue
            stamps.append(gen.stream_file_stamp_ns(name) / 1e9)
            done.append(end_of[b])
            live_batches.add(b)
            # written but not yet in a snapshot when the generator finished
            backlog_end += end_of[b] > live_end
        if not drained:
            self.failures.append("the live phase did not drain")
        self.check_pending()

        if self.tracer is not None:
            epoch = self.tracer.epoch_offset
            for t0, end in passes:
                self.tracer.add("pass", t0 - epoch, end - epoch, None)
            for b, p in sorted(self.progress.items()):
                e = _batch_end(p) - epoch
                dur = dict(p.durationMs)
                self.tracer.add(
                    "streaming.batch", e - dur.get("triggerExecution", 0) / 1e3, e, None,
                    batch=b, rows=p.numInputRows, duration_ms=dur,
                )
        batch_s = [self.progress[b].durationMs.get("triggerExecution", 0) / 1e3 for b in live_batches]
        return {
            "passes": [end - t0 for t0, end in passes],
            "catchup_rows": backlog_rows,
            "latencies": [d - t for t, d in zip(stamps, done)],
            "live_lag": live_lag(stamps, done, batch_s),
            "backlog_files_end": backlog_end,
            "generator_late_s": late,
        }

    def layer_metrics(self, result: dict) -> dict[str, float]:
        ps = [p for p in self.progress.values() if p.numInputRows]

        def dur(*keys):
            return C.median(sum(p.durationMs.get(k, 0) for k in keys) / 1e3 for p in ps)

        last = self.progress[max(self.progress)] if self.progress else None
        ops = last.stateOperators if last is not None else []
        state = ops[0] if ops else None
        return {
            "streaming.batches": float(len(ps)),
            "streaming.batch_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.planning_s": dur("queryPlanning"),
            "streaming.offsets_s": dur("latestOffset", "getBatch"),
            "streaming.commit_s": dur("walCommit", "commitOffsets"),
            "streaming.state_rows": float(state.numRowsTotal) if state else 0.0,
            "streaming.state_bytes": float(state.memoryUsedBytes) if state else 0.0,
            "streaming.backlog_files_end": float(result["backlog_files_end"]),
            "streaming.generator_late_s": float(result["generator_late_s"]),
            **result["live_lag"],
        }
