"""Seeded inputs for the benchmark.

The engine reads the ten-table star schema described in FIXTURES.md
(region .. lineitem, events, documents, embeddings).  The benchmark never
reads a fixture from outside its checkout, so it generates that schema here:
same column names, physical types, value domains and the same per-scale-factor
row counts, with every random choice drawn from one numpy generator seeded by
the workload seed.  The same (sf, factor, seed) always gives byte-identical
tables.

`bulk_scale` input is the repo's own `tools/gen_scale.py` replica (key-shifted
copies) of a generated base, with the row order of every table then permuted
by the seed.  Each prepared input is cached under the checkout's build
directory by (sf, factor, seed).
"""
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]


def _ts_us(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()
               * 1_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    """Midnight timestamps (µs) uniformly between two dates, inclusive."""
    day = 86_400_000_000
    return lo + rng.integers(0, (hi - lo) // day + 1, n) * day


def _ts_col(us):
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def generate(sf, seed):
    """The ten tables at scale factor `sf` (row counts as in FIXTURES.md)."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, n_cust // 10)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(ADJS)[rng.integers(0, len(ADJS), n_part)]
    noun = np.array(NOUNS)[rng.integers(0, len(NOUNS), n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "P", "O"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts_col(_days(rng, _ts_us(1995, 1, 1),
                                     _ts_us(2001, 8, 1), n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_col(_days(rng, _ts_us(1995, 1, 2),
                                    _ts_us(2001, 11, 4), n_line))})
    # events: ids in time order over 30 days, µs resolution
    span_us = 30 * 86_400_000_000
    gaps = rng.exponential(span_us / n_ev, n_ev)
    ts = _ts_us(2024, 1, 1) + np.floor(np.cumsum(gaps)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_col(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random token strings; ~5 % are planted near-duplicates of
    # another document (its text plus one or two "dup" tokens)
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in lens]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        src = int(rng.integers(0, n_doc))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def _write(tables, dst):
    os.makedirs(dst, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(dst, f"{name}.parquet"))


def _permute_rows(d, seed):
    """Shuffle the row order of every table in `d` by the seed."""
    rng = np.random.default_rng(seed + 1_000_003)
    for name in TABLES:
        path = os.path.join(d, f"{name}.parquet")
        tb = pq.read_table(path)
        pq.write_table(tb.take(rng.permutation(tb.num_rows)), path)


def row_counts(d):
    return {n: pq.ParquetFile(os.path.join(d, f"{n}.parquet")).metadata.num_rows
            for n in TABLES}


def prepare(cache_root, sf, factor, seed):
    """The input directory for (sf, factor, seed), built once and cached.

    Returns (dir, seconds spent preparing, cached?).  factor > 1 replicates
    the generated base with tools/gen_scale.py and permutes row order.
    """
    name = f"sf{sf}-x{factor}-s{seed}"
    d = os.path.join(cache_root, name)
    if os.path.exists(os.path.join(d, "_READY")):
        return d, 0.0, True
    t0 = time.perf_counter()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if factor == 1:
        _write(generate(sf, seed), tmp)
    else:
        base = tmp + "-base"
        shutil.rmtree(base, ignore_errors=True)
        _write(generate(sf, seed), base)
        subprocess.run([sys.executable, os.path.join("tools", "gen_scale.py"),
                        base, tmp, str(factor)], check=True,
                       stdout=subprocess.DEVNULL)
        shutil.rmtree(base)
        _permute_rows(tmp, seed)
    with open(os.path.join(tmp, "_READY"), "w") as f:
        json.dump(row_counts(tmp), f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, time.perf_counter() - t0, False
