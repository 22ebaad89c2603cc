"""Seeded input tables for the benchmark.

``base_tables`` writes the ten tables the queries read (TPC-H-shaped
``region .. lineitem``, the ``events`` stream, ``documents`` and
``embeddings``) with the row counts and value distributions of the
repository's seed-42 test data at sf0.01.  A seed changes row
order and content, never row counts or key fan-out:

- ``event_id`` is ``0 .. n-1``, so the ``event_id % 8`` and
  ``event_id div 5`` groups have fixed sizes;
- every ``user_id % 25`` class holds exactly ``n / 25`` events, because
  the separation family pins ``play_id = user_id % 25`` and its work grows
  with the square of those group sizes.

``replicated`` scales a base directory up by calling
``scripts/gen_stress_sf.py`` (replica ``i`` shifts every key by
``i * 1e8``), the construction the repository's stress sweep uses.
"""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table, as in the seed-42 data at sf0.01
COUNTS = dict(customer=1500, supplier=100, part=2000, orders=15000,
              lineitem=60000, events=10000, documents=500, embeddings=500)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
PLAY_GROUPS = 25  # user_id % 25 ≙ play_id in the separation family

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget",
             "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DUP_SHARE = 0.05  # documents that copy another one plus the token "dup"


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    day = np.datetime64(start, "us")
    return day + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _events(rng, n, users):
    # ts ascends with event_id, as in the seed-42 stream
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    # exactly n/25 events per user_id % 25 class; users drawn inside it
    cls = rng.permutation(np.arange(n) % PLAY_GROUPS)
    per_cls = users // PLAY_GROUPS
    user = cls + PLAY_GROUPS * rng.integers(0, per_cls, n)
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n)]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    for d in dups:
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    ids = np.arange(n)
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def base_tables(out: str, seed: int) -> None:
    """Write the ten tables for ``seed`` into ``out``."""
    c = COUNTS
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32 = pa.int32()
    _write(out, "region", {"r_regionkey": pa.array(range(5), i32),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc = c["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})
    ns = c["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = c["part"]
    keys = np.arange(npart)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (npart, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1))})
    no = c["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1), no),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, no)])})
    nl = c["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4), nl),
                               pa.timestamp("us"))})
    _write(out, "events", _events(rng, c["events"], nc // 10))
    _write(out, "documents", _documents(rng, c["documents"]))
    _write(out, "embeddings", _embeddings(rng, c["embeddings"]))


def replicated(src: str, out: str, replicas: int) -> None:
    """Scale ``src`` up ``replicas`` times with the repository's stress
    generator (run from the checkout root)."""
    subprocess.run([sys.executable, os.path.join("scripts",
                                                 "gen_stress_sf.py"),
                    out, str(replicas), src],
                   check=True, stdout=subprocess.DEVNULL)
