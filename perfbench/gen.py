"""Seeded input generators for the benchmark.

Every generator draws from ``numpy.random.default_rng(seed)`` only and
writes its files in a fixed order and format, so one seed gives
byte-identical inputs. The device-message generator also returns the
ground truth the output checks need (which rows are late).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 3, 1)
WATERMARK_MS = 15_000
APPS = ["mail", "maps", "music", "news", "photos", "search", "social", "video"]


def _zipf_choice(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


# -- device messages (lambda_replay) ----------------------------------------


@dataclass
class DeviceTruth:
    users: list[tuple[str, str, str, int]]  # (id, name, email, quota)
    events_path: str  # parquet: ts_ms, id, antenna_id, app, bytes, file, lateness
    file_max_ts_ms: list[int]
    n_events: int
    n_out_of_order: int
    n_beyond_watermark: int


def device_messages(
    seed: int,
    out_dir: str,
    truth_path: str,
    n_events: int,
    n_files: int,
    hours: int,
    n_users: int = 400,
    n_antennas: int = 40,
) -> DeviceTruth:
    """Write ``n_files`` JSON-lines files of device messages covering
    ``hours`` event-hours from :data:`EPOCH`, named in arrival order.

    User ids are Zipf-distributed over a generated dimension. About 5 %
    of events arrive out of order within the 15 s watermark. About 1 %
    arrive one and a half to two and a half files' spans late: beyond
    the watermark by so much that Spark, which drops late rows against
    the previous micro-batch's watermark, drops most of them. The rest
    arrive in event-time order."""
    rng = np.random.default_rng(seed)
    ids = [str(uuid.UUID(bytes=rng.bytes(16))) for _ in range(n_users)]
    quotas = rng.choice([5_000, 25_000, 100_000, 240_000, 500_000, 1_000_000], n_users)
    users = [
        (ids[i], f"user{i:04d}", f"user{i:04d}@example.com", int(quotas[i]))
        for i in range(n_users)
    ]
    span_ms = hours * 3_600_000
    ts = np.sort(rng.integers(0, span_ms, n_events))
    kind = rng.choice(3, n_events, p=[0.94, 0.05, 0.01])
    file_span = span_ms // n_files
    delay = np.where(
        kind == 1,
        rng.integers(1_000, WATERMARK_MS, n_events),
        np.where(kind == 2, rng.integers(3 * file_span // 2, 5 * file_span // 2, n_events), 0),
    )
    order = np.lexsort((np.arange(n_events), ts + delay))
    ts, kind = ts[order], kind[order]
    user = _zipf_choice(rng, n_users, n_events, 1.1)[order]
    antenna = _zipf_choice(rng, n_antennas, n_events, 0.8)[order]
    app = rng.integers(0, len(APPS), n_events)[order]
    nbytes = rng.integers(100, 60_000, n_events)[order]
    file_of = np.arange(n_events) * n_files // n_events

    os.makedirs(out_dir, exist_ok=True)
    file_max = []
    for f in range(n_files):
        rows = np.nonzero(file_of == f)[0]
        file_max.append(int(ts[rows].max()))
        lines = []
        for i in rows:
            t = EPOCH + dt.timedelta(milliseconds=int(ts[i]))
            lines.append(
                json.dumps(
                    {
                        "timestamp": t.strftime("%Y-%m-%dT%H:%M:%S.")
                        + f"{t.microsecond // 1000:03d}Z",
                        "id": ids[user[i]],
                        "antenna_id": f"ant-{antenna[i]:03d}",
                        "bytes": int(nbytes[i]),
                        "app": APPS[app[i]],
                    },
                    separators=(",", ":"),
                )
            )
        with open(os.path.join(out_dir, f"part-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    table = pa.table(
        {
            "ts_ms": pa.array(ts, pa.int64()),
            "id": pa.array([ids[u] for u in user]),
            "antenna_id": pa.array([f"ant-{a:03d}" for a in antenna]),
            "app": pa.array([APPS[a] for a in app]),
            "bytes": pa.array(nbytes, pa.int64()),
            "file": pa.array(file_of, pa.int32()),
            "lateness": pa.array(kind, pa.int8()),
        }
    )
    pq.write_table(table, truth_path)
    return DeviceTruth(
        users=users,
        events_path=truth_path,
        file_max_ts_ms=file_max,
        n_events=n_events,
        n_out_of_order=int((kind == 1).sum()),
        n_beyond_watermark=int((kind == 2).sum()),
    )


# -- registry tables (registry_sweep) ---------------------------------------

_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window"
).split()


def registry_tables(seed: int, out_dir: str) -> None:
    """Write the ten star-schema tables the query registry reads, with
    the schemas, value ranges and sf0.001 row counts of the test tables
    described in FIXTURES.md."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.datetime, n_days: int, n: int) -> pa.Array:
        d = rng.integers(0, n_days, n)
        return pa.array([start + dt.timedelta(days=int(x)) for x in d], pa.timestamp("us"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part = 150, 10, 200
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "ring", "rod", "widget"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    n_ord = 1500
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 450000.0, n_ord),
        "o_orderdate": days(dt.datetime(1995, 1, 1), 2400, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    n_line = 4 * n_ord
    lorders = np.sort(rng.integers(0, n_ord, n_line))
    linenum = np.ones(n_line, np.int32)
    for i in range(1, n_line):
        if lorders[i] == lorders[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    write("lineitem", {
        "l_orderkey": pa.array(lorders, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days(dt.datetime(1995, 1, 2), 2500, n_line),
    })
    n_ev = 1000
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(
            [dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=int(t)) for t in ev_ts],
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = 500
    texts = [
        " ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 95))))
        for _ in range(n_doc)
    ]
    write("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_vec = 500
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
