"""Seeded input generator for the engine benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables``: the ten TPC-H-ish + crawl tables the registry queries
  read (``crawl_streams_spark.tables.TABLE_NAMES``), with the schemas and
  value ranges of the repository's test data (TESTDATA.md).  Fact tables
  can be split into ``copies`` files under ``<name>.parquet/`` — how
  append-only crawl data lands — which ``load_table`` and DuckDB's
  globbing both read.
* ``crawl_log_lines``: one crawl-log JSONL file (FIXTURES.md section 1
  schema, Heritrix variant) with Zipf-skewed hosts and event times that
  run out of order by up to ``JITTER_S`` -- well inside the analysis
  job's 10 minute watermark, so no event is dropped as late.

Run as a program, it is the stream workload's load generator: a process
of its own that writes crawl-log files into a watched directory on an
open-loop schedule (it never waits for the consumer)::

    python3 perfbench/gen.py --seed 7 --dir D --first 0 --files 40
    python3 perfbench/gen.py --seed 7 --dir D --first 40 --files 80 --interval 0.1

Each file is written under a temporary name and renamed into place, and
its name carries the creation stamp (``<index>-<epoch_ns>.json``).  With
``--interval`` the generator prints how late it ran against its schedule.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per unit scale factor, as in the repository's test data (sf0.01 has
#: 60 000 lineitem rows, 10 000 events, 500 documents ...)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
SPLIT_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (
    ["small", "red", "blue", "large", "green", "shiny", "old", "new"],
    ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "panel"],
)
LANGS = ["en", "en", "en", "en", "fr", "es", "de", "zh"]

_US = np.int64(1_000_000)


def _epoch_us(y: int, m: int, d: int) -> np.int64:
    return np.int64(int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp())) * _US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _day_range(rng, n, start, end):
    days = (end - start) // (86_400 * _US)
    return start + rng.integers(0, days + 1, n) * 86_400 * _US


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; about 5% are edited copies of an earlier
    document, so the dedup and span operators find near-duplicates."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``scale``; rows of every fact table
    are in a seed-dependent order (no table is sorted by its key)."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, round(r * scale)) for t, r in ROWS_PER_SF.items()}
    n_users = max(1, n["customer"] // 10)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    k = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, len(k))],
        }
    )
    k = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        }
    )
    k = np.arange(n["part"], dtype=np.int64)
    adj, noun = PART_WORDS
    t["part"] = pa.table(
        {
            "p_partkey": k,
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (len(k), 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, len(k))],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, len(k))],
            "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
            "p_retailprice": np.round(900 + (k % 1000) * 0.1, 2),
        }
    )
    k = rng.permutation(n["orders"]).astype(np.int64)
    t["orders"] = pa.table(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], len(k)).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, len(k))],
            "o_totalprice": _money(rng, 1000, 500000, len(k)),
            "o_orderdate": _ts(_day_range(rng, len(k), _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1))),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, len(k))],
        }
    )
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
            "l_shipdate": _ts(_day_range(rng, m, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4))),
        }
    )
    m = n["events"]
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * 86_400 * _US, m))
    perm = rng.permutation(m)
    t["events"] = pa.table(
        {
            "event_id": np.arange(m, dtype=np.int64)[perm],
            "ts": _ts(ts[perm]),
            "user_id": rng.integers(0, n_users, m).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, m)],
            "value": np.maximum(np.round(rng.exponential(50.0, m), 2), 0.01),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, m)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, scale: float, copies: int = 1) -> dict[str, int]:
    """Write every table to ``out_dir``; returns rows per table.

    With ``copies`` > 1 each fact table becomes a directory of ``copies``
    files (consecutive row slices); dimension tables stay single files."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        rows[name] = table.num_rows
        if copies > 1 and name in SPLIT_TABLES:
            os.makedirs(path, exist_ok=True)
            step = -(-table.num_rows // copies)
            for c in range(copies):
                pq.write_table(
                    table.slice(c * step, step), os.path.join(path, f"part-{c:03d}.parquet")
                )
        else:
            pq.write_table(table, path)
    return rows


# -- crawl-log stream ------------------------------------------------------

N_HOSTS = 40
ZIPF_S = 1.1
#: event time advanced per file, and the most an event runs behind it
FILE_SPAN_S = 120.0
JITTER_S = 90.0
STATUS = np.array([200, 200, 200, 200, 301, 404, -5003, -6])
MIMES = ["text/html", "image/png", "image/jpeg", "application/pdf", None]


def stream_base_time(seed: int) -> dt.datetime:
    return dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=seed % 97)


def crawl_log_lines(seed: int, index: int, events: int) -> list[str]:
    """The JSONL lines of stream file ``index``: a pure function of
    (seed, index, events), so any file can be regenerated for the oracle."""
    rng = np.random.default_rng([seed, index])
    w = 1.0 / np.arange(1, N_HOSTS + 1) ** ZIPF_S
    hosts = rng.choice(N_HOSTS, events, p=w / w.sum())
    t0 = stream_base_time(seed).timestamp() + index * FILE_SPAN_S
    offs = rng.uniform(0.0, FILE_SPAN_S, events) - rng.uniform(0.0, JITTER_S, events)
    status = rng.choice(STATUS, events)
    paths = rng.integers(0, 10_000, events)
    mimes = rng.integers(0, len(MIMES), events)
    sizes = rng.integers(200, 200_000, events)
    lines = []
    for h, off, st, p, mi, sz in zip(hosts, offs, status, paths, mimes, sizes):
        host = f"host{h:02d}.example.org"
        ts = dt.datetime.fromtimestamp(t0 + off, dt.timezone.utc)
        ok = st > 0
        rec = {
            "url": f"https://{host}/page/{p}",
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z",
            "status_code": int(st),
            "host": host,
            "content_digest": f"sha1:{p:032d}" if ok else None,
            "content_length": int(sz) if ok else None,
            "hop_path": "L" * int(p % 4),
            "via": f"https://host{(h + 1) % N_HOSTS:02d}.example.org/",
            "thread": int(p % 400) + 1,
            "crawl_name": "frequent-npld",
            "mimetype": MIMES[mi],
            "size": int(sz) if ok else None,
            "annotations": f"ip:10.0.{h}.{p % 250},{int(p % 3) + 1}t",
        }
        lines.append(json.dumps(rec, separators=(",", ":")))
    return lines


def stream_file_index(name: str) -> int:
    return int(name.split("-", 1)[0])


def stream_file_stamp_ns(name: str) -> int:
    return int(name.split("-", 1)[1].split(".", 1)[0])


def write_stream_file(directory: str, seed: int, index: int, events: int) -> str:
    body = "\n".join(crawl_log_lines(seed, index, events)) + "\n"
    tmp = os.path.join(directory, f".{index:06d}.tmp")
    with open(tmp, "w") as f:
        f.write(body)
    name = f"{index:06d}-{time.time_ns()}.json"
    os.replace(tmp, os.path.join(directory, name))
    return name


def _stream_main(args) -> None:
    """Open-loop writer: file k is due at start + k * interval; a late
    write is not skipped and does not shift the schedule."""
    os.makedirs(args.dir, exist_ok=True)
    start = time.monotonic()
    late = []
    for k in range(args.files):
        due = start + k * args.interval
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        late.append(max(0.0, time.monotonic() - due))
        write_stream_file(args.dir, args.seed, args.first + k, args.events)
    print(json.dumps({"files": args.files, "late_max_s": max(late, default=0.0)}))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="Write crawl-log JSONL files on a schedule.")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--dir", required=True)
    p.add_argument("--first", type=int, default=0)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--events", type=int, default=1000, help="events per file")
    p.add_argument("--interval", type=float, default=0.0, help="seconds between files")
    _stream_main(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
