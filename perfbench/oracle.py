"""Correctness check of a batch run's outputs: each query's result, written
as parquet by the JVM after the timed passes, against the query's DuckDB
oracle SQL over the same input tables (the compare of `tools/check.py`:
columns sorted by name, rows in order, exact values).

Oracle results are cached per input directory as a digest, so repeated
runs on the same seed run each oracle once.
"""
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def digest(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    h = hashlib.sha256(json.dumps(cols).encode())
    n = 0
    for r in rel.fetchall():
        h.update(json.dumps(canon([r[i] for i in idx]), default=str).encode())
        n += 1
    return {"cols": cols, "rows": n, "sha": h.hexdigest()}


def check(data, out_dir, queries):
    """Returns {query: "" if its output matches, else the reason}."""
    con = duckdb.connect()
    con.sql(f"SET threads TO {os.cpu_count() or 1}")
    con.sql(f"SET temp_directory = '{out_dir}/.duckdb_tmp'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    cache_path = os.path.join(data, "oracle_cache.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    result = {}
    for name, q in sorted(queries.items()):
        if q["error"]:
            result[name] = f"check pass threw: {q['error']}"
            continue
        try:
            got = digest(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
            if not q["oracle"]:
                # no SQL twin: the output must exist and be non-empty
                result[name] = "" if got["rows"] > 0 else "empty output"
                continue
            key = hashlib.sha256(q["oracle"].encode()).hexdigest()
            if key not in cache:
                cache[key] = digest(con.sql(q["oracle"]))
            exp = cache[key]
        except Exception as e:  # noqa: BLE001 - any error fails the query
            result[name] = f"error: {e}".splitlines()[0][:300]
            continue
        if got["cols"] != exp["cols"]:
            result[name] = f"columns {got['cols']} != {exp['cols']}"
        elif got != exp:
            result[name] = f"{got['rows']} rows differ from oracle's {exp['rows']}"
        else:
            result[name] = ""
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return result
