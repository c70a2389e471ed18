"""DuckDB oracle for the curation_ops workload.

`oracle` runs each operator's oracle SQL in DuckDB over the workload's
`documents` and `embeddings` tables (perfbench/data/sf0.1, a copy of the
project's fixed sf0.1 test-data tables) and reduces the result to (row count,
digest) with the value normalisation of tools/selfcheck.py, so it can be
compared with the digest the benchmark computes from the Spark result.
"""
import hashlib
import json
import math
import os


def norm(v):
    """Value normalisation of tools/selfcheck.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def digest(cols, rows):
    """Row count and SHA-256 of the rows with columns in name order, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    text = "\n".join("\x1f".join(r) for r in canon)
    return len(canon), hashlib.sha256(text.encode("utf-8")).hexdigest()


def oracle(tables_dir, sql_by_leaf):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for leaf, sql in sorted(sql_by_leaf.items()):
        rows = con.execute(sql).fetchall()
        cols = [d[0] for d in con.description]
        n, h = digest(cols, rows)
        out[leaf] = {"rows": n, "digest": h}
    con.close()
    return out


def cached_oracle(tables_dir, sql_by_leaf, cache_dir):
    """Oracle results, computed once per table contents and SQL text."""
    h = hashlib.sha256(json.dumps(sql_by_leaf, sort_keys=True).encode())
    for t in ("documents", "embeddings"):
        with open(os.path.join(tables_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    res = oracle(tables_dir, sql_by_leaf)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, path)
    return res
