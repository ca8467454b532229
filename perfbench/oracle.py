"""Oracle check: each entry's result against its DuckDB oracle
(`SparkEntry.oracleSql`) over the same generated files, with
tools/check.py's canonicalisation (order-insensitive rows, columns by
name, floats to 6 dp).

Oracle answers depend only on table contents, which the generator keeps
independent of the seed, so they are cached under .bench_cache keyed by
the content fingerprint and the oracle text. Tables that change during a
run (the ingest table) are never cached.
"""
import glob
import hashlib
import importlib.util
import os
import pickle

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_module():
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_check = _check_module()
canon = _check.canon


def _source(path):
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet')"
    return f"'{path}'"


def connect(table_paths, tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=4")
    for t, p in table_paths.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_source(p)}")
    return con


def spark_rows(result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return None
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    cols = tbl.column_names
    return canon([tuple(r[c] for c in cols) for r in tbl.to_pylist()], list(cols))


def check(results, oracles, table_paths, tmp_dir, cache_dir=None, fingerprint=None):
    """results: {entry: result dir}. Returns {entry: None | reason}."""
    con = None
    out = {}
    for name, rdir in sorted(results.items()):
        sql = oracles.get(name)
        if not sql:
            out[name] = "no oracle"
            continue
        got = spark_rows(rdir) if os.path.isdir(rdir) else None
        if got is None:
            out[name] = "no result"
            continue
        want = None
        cache_file = None
        if cache_dir and fingerprint:
            key = hashlib.sha256(f"{fingerprint}\n{name}\n{sql}".encode()).hexdigest()[:24]
            cache_file = os.path.join(cache_dir, f"{name}-{key}.pkl")
            if os.path.exists(cache_file):
                with open(cache_file, "rb") as f:
                    want = pickle.load(f)
        if want is None:
            if con is None:
                con = connect(table_paths, tmp_dir)
            try:
                res = con.sql(sql)
                want = canon(res.fetchall(), list(res.columns))
            except Exception as e:  # an oracle that cannot run is a failed check
                out[name] = f"oracle error: {str(e)[:200]}"
                continue
            if cache_file:
                os.makedirs(cache_dir, exist_ok=True)
                tmp = cache_file + f".{os.getpid()}"
                with open(tmp, "wb") as f:
                    pickle.dump(want, f)
                os.replace(tmp, cache_file)
        if got[0] != want[0]:
            out[name] = f"columns differ: {got[0]} vs {want[0]}"
        elif got[1] != want[1]:
            diff = next((i for i, (a, b) in enumerate(zip(got[1], want[1])) if a != b),
                        min(len(got[1]), len(want[1])))
            out[name] = (f"rows differ ({len(got[1])} vs {len(want[1])}), first at {diff}: "
                         f"{got[1][diff] if diff < len(got[1]) else None} vs "
                         f"{want[1][diff] if diff < len(want[1]) else None}")[:400]
        else:
            out[name] = None
    if con is not None:
        con.close()
    return out
