#!/usr/bin/env python3
"""Result hashes for the benchmark's correctness check.

A query is correct when its result, as the engine wrote it to parquet,
hashes the same as the result of the query's oracle SQL
(`graft.SparkEntry.oracleSql`) run by DuckDB over the same input files.
Both sides go through one hashing function, in DuckDB:

  - columns are taken in name order; the column names are hashed too;
  - every value is cast to one canonical text form per type family:
    integers of any width as BIGINT, every float or decimal as DOUBLE
    (-0.0 folded into 0.0), timestamps at microsecond precision, nested
    values through their DuckDB text form;
  - the row hashes are summed, so the hash does not depend on row order.

Running every oracle takes many minutes, so the expected hashes are
cached in `oracle_cache.json`, keyed by the query name, a hash of its
oracle SQL and the fingerprint of the input files. A query whose key is
not in the cache (its oracle SQL changed) is run through DuckDB when it
is first checked, and the result is kept in the build directory.

Refresh the committed cache (needs the built harness, see run.py):

    python3 perfbench/oracle.py

It keeps every cached key that is still current and runs the oracle only
for the keys that are missing.
"""
import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "oracle_cache.json")

_INT = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT")
_FLOAT = ("FLOAT", "DOUBLE", "REAL")


def _canon(col, typ):
    c = '"' + col.replace('"', '""') + '"'
    t = typ.upper()
    if t in _INT:
        v = f"CAST(CAST({c} AS BIGINT) AS VARCHAR)"
    elif t in _FLOAT or t.startswith("DECIMAL"):
        v = f"CAST(CAST({c} AS DOUBLE) + 0.0 AS VARCHAR)"
    elif t.startswith("TIMESTAMP"):
        v = f"strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    elif t == "BLOB":
        v = f"hex({c})"
    else:
        v = f"CAST({c} AS VARCHAR)"
    return f"coalesce({v}, '\\N')"


def result_hash(con, relation):
    """(rows, hash) of the rows of `relation` (a table or a subquery)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted((c[0], c[1]) for c in cols)
    row = " || chr(31) || ".join(_canon(n, t) for n, t in cols) or "''"
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM {relation}").fetchone()
    names = hashlib.sha256("\x1f".join(n for n, _ in cols).encode()).hexdigest()[:16]
    return int(n), f"{names}:{int(s):x}"


def connect(data_dir, threads=2):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    return con


def cache_key(name, sql, inputs_fp):
    return hashlib.sha256(f"{name}\x00{sql}\x00{inputs_fp}".encode()).hexdigest()


def expected(con, sql):
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {sql}")
    try:
        return result_hash(con, "oracle_result")
    finally:
        con.execute("DROP TABLE oracle_result")


def load_cache(path):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def check(dump_dir, names, catalog, data_dir, inputs_fp, local_cache):
    """{name: None if correct else reason} for the dumped results.

    `catalog` maps each query to its oracle SQL; expected hashes come
    from the committed cache, else from `local_cache` (a JSON file that
    this function extends), else from running the oracle."""
    committed, local = load_cache(CACHE), load_cache(local_cache)
    con = connect(data_dir)
    out = {}
    for name in names:
        key = cache_key(name, catalog[name], inputs_fp)
        want = committed.get(key) or local.get(key)
        if want is None:
            rows, h = expected(con, catalog[name])
            want = local[key] = {"query": name, "rows": rows, "hash": h}
            with open(local_cache, "w") as f:
                json.dump(local, f, indent=1, sort_keys=True)
        path = os.path.join(dump_dir, name)
        if not os.path.isdir(path):
            out[name] = "no result written"
            continue
        rows, h = result_hash(con, f"read_parquet('{path}/*.parquet')")
        if (rows, h) != (want["rows"], want["hash"]):
            out[name] = f"rows {rows} hash {h}, oracle rows {want['rows']} hash {want['hash']}"
        else:
            out[name] = None
    con.close()
    return out


def main():
    import run
    root = run.checkout_root()
    run.check_inputs()
    run.build(root)
    catalog = run.catalog(root)
    fp = run.inputs_fingerprint()
    cache = load_cache(CACHE)
    known = {v["query"]: k for k, v in cache.items()}
    con = connect(run.DATA, threads=3)
    fresh = {}
    for name in sorted(catalog):
        key = cache_key(name, catalog[name], fp)
        if key in cache:
            fresh[key] = cache[key]
            continue
        t0 = time.time()
        rows, h = expected(con, catalog[name])
        fresh[key] = {"query": name, "rows": rows, "hash": h}
        print(f"{name:32s} {rows:8d} rows {time.time() - t0:8.2f} s"
              + ("" if name not in known else " (replaced)"), flush=True)
        with open(CACHE, "w") as f:
            json.dump({**cache, **fresh}, f, indent=1, sort_keys=True)
    with open(CACHE, "w") as f:
        json.dump(fresh, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
