"""Oracle check: hash each benchmark output and its DuckDB twin in the
canonical row form of tools/check.py (columns sorted by name, dtype kinds
compared, NaN and bool normalised, rows in output order) and compare.

The DuckDB side is computed once per input directory and oracle SQL text,
and cached next to the input.
"""
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    return v


def digest(table):
    """(sorted columns, dtype kinds, row count, sha256 of canonical rows)."""
    cols = sorted(table.column_names)
    pdf = table.to_pandas()
    kinds = [pdf[c].dtype.kind for c in cols]
    h = hashlib.sha256()
    n = 0
    for r in table.to_pylist():
        h.update(repr(tuple(_canon(r[c]) for c in cols)).encode())
        h.update(b"\n")
        n += 1
    return {"cols": cols, "kinds": kinds, "rows": n, "sha256": h.hexdigest()}


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_digests(data_dir, sqls):
    """DuckDB digest per key, cached in <data_dir>/_oracle.json."""
    cache_path = os.path.join(data_dir, "_oracle.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    con = None
    out = {}
    for key, sql in sqls.items():
        sha = hashlib.sha256(sql.encode()).hexdigest()
        hit = cache.get(key)
        if hit is None or hit.get("sql_sha256") != sha:
            if con is None:
                con = _connect(data_dir)
            hit = dict(digest(con.execute(sql).fetch_arrow_table()), sql_sha256=sha)
            cache[key] = hit
        out[key] = hit
    if con is not None:
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out


def check(data_dir, verify_dir, sqls, names):
    """Compare every output in `names` with its oracle; returns
    {name: None if it matches, else the reason}.
    """
    missing = [n for n in names if not sqls.get(n)]
    oracles = oracle_digests(data_dir, {n: sqls[n] for n in names if sqls.get(n)})
    con = duckdb.connect()
    verdict = {n: "no oracle SQL" for n in missing}
    for n, want in oracles.items():
        files = glob.glob(os.path.join(verify_dir, n, "*.parquet"))
        if not files:
            verdict[n] = "no output written"
            continue
        got = digest(con.execute(
            f"SELECT * FROM read_parquet('{verify_dir}/{n}/*.parquet')")
            .fetch_arrow_table())
        bad = [f for f in ("cols", "kinds", "rows", "sha256") if got[f] != want[f]]
        verdict[n] = "; ".join(f"{f}: oracle={want[f]} spark={got[f]}"
                               for f in bad) or None
    return verdict
