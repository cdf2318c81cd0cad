"""DuckDB check of the query workloads' outputs.

Each panel query's Spark result is written to <check_dir>/<name>/ as
parquet, and <check_dir>/oracle_sql.json holds the oracle SQL of the
queries that have one. A query with oracle SQL must match DuckDB over the
same parquet tables, canonicalised as scripts/check.py does: columns
sorted by name, rows sorted, exact value equality. The oracle results
are cached across runs. A query without oracle SQL must have only scalar
columns and at least one row.
"""
import hashlib
import json
import math
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NON_SCALAR = ("[]", "STRUCT(", "MAP(", "UNION(")


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]

    def key(row):
        return tuple((v is None, str(type(v)), str(v)) for v in row)
    return sorted(out, key=key), [cols[i] for i in order]


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


def _oracle(con, sql, cache_dir, sf_dir):
    """The oracle's canonical result. It depends only on the SQL and the
    parquet tables, so it is computed once and kept in `cache_dir`."""
    key = hashlib.sha256(f"{sf_dir}\0{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    o = con.sql(sql)
    result = _canon(o.fetchall(), [d[0] for d in o.description])
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(result, fh)
    os.replace(path + ".tmp", path)
    return result


def _compare(con, out_glob, sql, cache_dir, sf_dir):
    s = con.sql(f"SELECT * FROM '{out_glob}'")
    s_canon, s_names = _canon(s.fetchall(), [d[0] for d in s.description])
    o_canon, o_names = _oracle(con, sql, cache_dir, sf_dir)
    if s_names != o_names:
        return f"schema spark={s_names} oracle={o_names}"
    if len(s_canon) != len(o_canon):
        return f"rows spark={len(s_canon)} oracle={len(o_canon)}"
    for i, (sr, orow) in enumerate(zip(s_canon, o_canon)):
        if not all(_eq(a, b) for a, b in zip(sr, orow)):
            return f"value row{i} spark={sr} oracle={orow}"
    return None


def _shape(con, out_glob):
    rel = con.sql(f"SELECT * FROM '{out_glob}'")
    bad = [f"{n} {t}" for n, t in zip(rel.columns, map(str, rel.types))
           if any(m in t for m in NON_SCALAR)]
    if not rel.columns or bad:
        return f"non-scalar schema {bad or 'empty'}"
    n = con.sql(f"SELECT count(*) FROM '{out_glob}'").fetchone()[0]
    return None if n > 0 else "no rows"


def check(sf_dir, check_dir, names, cache_dir):
    """Return {query: reason} for every panel query that fails its check."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for name in names:
        out = os.path.join(check_dir, name)
        if not os.path.isdir(out):
            bad[name] = "no output (the query raised in the check pass)"
            continue
        try:
            why = (_compare(con, f"{out}/*.parquet", oracle[name], cache_dir,
                            sf_dir)
                   if name in oracle else _shape(con, f"{out}/*.parquet"))
        except Exception as e:  # a DuckDB error is a failed check
            why = f"error {e}"
        if why:
            bad[name] = why[:300]
    con.close()
    return bad
