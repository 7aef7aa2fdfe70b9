"""Deterministic inputs for the benchmark.

Two kinds of input:

- the base tables: a TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the schemas and value
  ranges of the engine's sf0.01 test data. They come from a fixed
  generator seed, so every benchmark seed reads the same base tables.
- the seeded parts: the op order of each pass, the literals of the
  ad-hoc SQL templates, and the write batches of the ingest workload.
  They come from ``--seed`` and a cycle index, so the same seed gives
  byte-identical batches.

Everything is plain numpy + pyarrow; the engine only ever reads the
parquet files written here.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per base table (the engine's sf0.01 shape)
ROWS = {
    "region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
    "part": 2_000, "orders": 15_000, "lineitem": 60_000,
    "events": 10_000, "documents": 500, "embeddings": 500,
}
BASE_SEED = 42
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) % (1 << 63) for k in key])


def _days(start: dt.date, n_days: int, rng: np.random.Generator, n: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict[str, pa.Table]:
    """The base tables, always the same (fixed generator seed)."""
    rng = _rng(BASE_SEED)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    np_ = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(types)[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2404, rng, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, nl)})
    t["events"] = _events(rng, 0, n["events"], EVENTS_START, EVENTS_SPAN_US,
                          n_users=n["customer"] // 10)
    t["documents"] = _documents(rng, n["documents"])
    ne = n["embeddings"]
    vec = rng.standard_normal((ne, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, ne).astype(np.int32)})
    return t


def _events(rng: np.random.Generator, first_id: int, n: int,
            start: dt.datetime, span_us: int, n_users: int) -> pa.Table:
    """``n`` events with ids from ``first_id``, timestamps increasing
    with id inside ``[start, start + span_us)``."""
    offs = np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": np.datetime64(start, "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; about one in twelve is a near-copy of an
    earlier one (a few words replaced, ``dup`` appended), so the dedup
    and clustering ops have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append("dup")
        else:
            words = [VOCAB[k] for k in
                     rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    langs = np.array(["en"] * 5 + ["es", "zh", "de", "fr"] * 2)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _source_digest() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def ensure_base(root: str) -> tuple[str, dict[str, dict[str, int]]]:
    """Write the base tables under ``root`` once per generator version
    and return (directory, {table: {rows, bytes}})."""
    out = os.path.join(root, f"base-{_source_digest()}")
    if not os.path.isdir(out):
        staging = f"{out}.staging-{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        for name, table in base_tables().items():
            write_table(table, os.path.join(staging, f"{name}.parquet"))
        try:
            os.rename(staging, out)
        except OSError:  # another run finished first: its copy is identical
            shutil.rmtree(staging, ignore_errors=True)
    stats = {}
    for name in ROWS:
        path = os.path.join(out, f"{name}.parquet")
        stats[name] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                       "bytes": os.path.getsize(path)}
    return out, stats


# --------------------------------------------------------------------------
# Seeded parts
# --------------------------------------------------------------------------

def op_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The order the ops run in within one pass."""
    perm = _rng(seed, pass_no, 1).permutation(len(names))
    return [names[i] for i in perm]


def sql_literals(seed: int) -> dict[str, object]:
    """Literals for the ad-hoc SQL templates (one set per run)."""
    r = _rng(seed, 2)
    year = int(r.integers(1995, 2001))
    return {
        "year": year,
        "next_year": year + 1,
        "segment": SEGMENTS[int(r.integers(0, 5))],
        "region": int(r.integers(0, 5)),
        "discount": round(float(r.integers(2, 9)) / 100.0, 2),
        "quantity": int(r.integers(20, 40)),
        "priority": PRIORITIES[int(r.integers(0, 5))],
        "event_type": EVENT_TYPES[int(r.integers(0, 5))],
    }


def orders_batch(seed: int, cycle: int) -> pa.Table:
    """A 1% upsert batch for the benchmark's copy of ``orders``:
    mostly updates of existing keys, some inserts of new keys."""
    r = _rng(seed, cycle, 3)
    no = ROWS["orders"]
    n_upd = int(r.integers(no // 150, no // 75))
    n_new = int(r.integers(no // 1500, no // 300))
    upd = r.choice(no, n_upd, replace=False)
    new = no + cycle * no // 100 + np.arange(n_new)
    keys = np.concatenate([upd, new]).astype(np.int64)
    n = len(keys)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": r.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[r.integers(0, 3, n)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _days(dt.date(2001, 8, 2), 365, r, n),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)]})


def customer_batch(seed: int, cycle: int) -> pa.Table:
    """SCD2 updates for ``customer``: changed tracked columns for about
    1% of keys, a few unchanged rows, and a few new keys."""
    r = _rng(seed, cycle, 4)
    nc = ROWS["customer"]
    n_chg = int(r.integers(nc // 150, nc // 75))
    keys = r.choice(nc, n_chg, replace=False).astype(np.int64)
    new = (nc + cycle * 10 + np.arange(int(r.integers(1, 6)))).astype(np.int64)
    keys = np.concatenate([keys, new])
    n = len(keys)
    return pa.table({
        "c_custkey": keys,
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)],
        "c_acctbal": _money(r, -999.99, 9999.99, n)})


def events_batch(seed: int, cycle: int) -> pa.Table:
    """The next micro-batch of the event stream: seeded size and time
    boundaries, ids and times continuing after the base table."""
    r = _rng(seed, cycle, 5)
    n = int(r.integers(200, 601))
    hour_us = 3_600_000_000
    start = (EVENTS_START + dt.timedelta(microseconds=EVENTS_SPAN_US)
             + dt.timedelta(hours=int(cycle) * 6))
    span = int(r.integers(1, 6)) * hour_us
    return _events(r, ROWS["events"] + cycle * 1000, n, start, span,
                   n_users=ROWS["customer"] // 10)
