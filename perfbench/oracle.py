"""Output check: each query's check-pass parquet against its DuckDB oracle.

The comparison rules are those of `tools/oracle_compare.py` (a script, so
not importable): columns compared by name in sorted order, DuckDB types collapsed to the
families the hash distinguishes (all integers up to 64 bits are one
family), rows sorted by value, the oracle cast to the Spark side's dtypes,
then an exact match. The oracle side is a pure function of (seed, input
sizes, SQL), so it is cached per seed.
"""
import glob
import hashlib
import os
import pickle

import duckdb


def type_family(t):
    t = t.strip().upper()
    if t.endswith("[]"):
        return type_family(t[:-2]) + "[]"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"):
        return "INT<=64"
    return t


def _types(con, sql):
    return {r[0]: type_family(r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()}


def _connect(data_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _oracle(con, sql, cache_path):
    if os.path.exists(cache_path):
        with open(cache_path, "rb") as f:
            return pickle.load(f)
    res = (con.execute(sql).fetchdf(), _types(con, sql))
    tmp = cache_path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(res, f)
    os.replace(tmp, cache_path)
    return res


def compare_one(con, spark_dir, sql, cache_path):
    """Return (ok, rows, message) for one query's output directory."""
    src = f"read_parquet('{spark_dir}/*.parquet')"
    spark_df = con.execute(f"SELECT * FROM {src}").fetchdf()
    oracle_df, otypes = _oracle(con, sql, cache_path)
    cols = sorted(spark_df.columns)
    if cols != sorted(oracle_df.columns):
        return False, len(spark_df), f"schema {cols} vs {sorted(oracle_df.columns)}"
    stypes = _types(con, f"SELECT * FROM {src}")
    bad = {c: (stypes[c], otypes.get(c)) for c in stypes if otypes.get(c) != stypes[c]}
    if bad:
        return False, len(spark_df), f"types {bad}"
    s = spark_df[cols].sort_values(by=cols, ignore_index=True)
    o = oracle_df[cols].sort_values(by=cols, ignore_index=True)
    if len(s) != len(o):
        return False, len(s), f"rows {len(s)} vs {len(o)}"
    if not s.equals(o.astype(s.dtypes.to_dict())):
        return False, len(s), "values differ"
    if len(s) == 0:
        return False, 0, "empty output"
    return True, len(s), "ok"


def _cache_path(cache_dir, cache_key, sql, run_dir):
    # `run_dir` is replaced before hashing: an oracle may read a file the
    # run wrote (q08's spec CSV) whose content does not depend on the run.
    digest = hashlib.sha256(
        (cache_key + "\0" + sql.replace(run_dir, "<run>")).encode()).hexdigest()[:24]
    return os.path.join(cache_dir, digest + ".pkl")


def precompute(data_dir, oracle_sql, run_dir, cache_dir, cache_key, snapshot):
    """Fill the cache while the engine may still write into `run_dir`: an
    oracle that reads a file under `run_dir` reads its copy in `snapshot`."""
    con = _connect(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    for sql in oracle_sql.values():
        try:
            _oracle(con, sql.replace(run_dir, snapshot),
                    _cache_path(cache_dir, cache_key, sql, run_dir))
        except Exception:  # reported by check(), which runs it again
            pass
    con.close()


def check(check_dir, data_dir, oracle_sql, run_dir, cache_dir, cache_key):
    """Compare every query in `oracle_sql`; return {query: (ok, rows, msg)}."""
    con = _connect(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        qdir = os.path.join(check_dir, q)
        if not os.path.isdir(qdir):
            out[q] = (False, 0, "no output")
            continue
        try:
            out[q] = compare_one(con, qdir, sql,
                                 _cache_path(cache_dir, cache_key, sql, run_dir))
        except Exception as e:  # an oracle or read error is a failed check
            out[q] = (False, 0, f"error {e}"[:300])
    con.close()
    return out
