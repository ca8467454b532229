"""Seeded input generator for the graft benchmark.

Table contents are a pure function of (table, scale) and a fixed content
seed; the run seed only permutes row order (and, for the ingest
workload, picks which rows each cycle lands). So the DuckDB oracle
answer of an entry is the same for every seed, while every run still
reads a differently laid-out file.

Schemas mirror the tables the program reads (`graft.Tables.names`) that
the workloads use: one parquet file and one row group per table.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20261017

# Rows per table at scale factor 1.
BASE_ROWS = {
    "customer": 150_000, "events": 1_000_000, "documents": 50_000, "embeddings": 20_000,
}
# a table's position in graft.Tables.names keys its content stream
TABLE_INDEX = {t: i for i, t in enumerate(
    ["region", "nation", "customer", "supplier", "part", "orders",
     "lineitem", "events", "documents", "embeddings"])}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

TS_US = pa.timestamp("us")


def rows_for(table, sf):
    return max(10, int(round(BASE_ROWS[table] * sf)))


def _rng(*key):
    return np.random.default_rng([CONTENT_SEED, *key])


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(table, sf):
    """Content of one table in key order (independent of the run seed)."""
    n = rows_for(table, sf)
    r = _rng(TABLE_INDEX[table], int(sf * 1_000_000))
    if table == "customer":
        k = np.arange(n, dtype=np.int64)
        return pa.table({
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": r.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(r, n, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]})
    if table == "events":
        start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        span = 30 * 86_400_000_000
        ts = np.sort(r.integers(0, span, n)) + start
        return pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]"), TS_US),
            "user_id": r.integers(0, max(2, n // 67), n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": np.round(r.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})
    if table == "documents":
        texts = []
        vocab = np.array(VOCAB)
        for i in range(n):
            if i >= 20 and i % 20 == 11:
                # planted near-duplicate: an earlier doc, lightly edited
                words = texts[int(r.integers(0, i))].split(" ")
                for j in r.integers(0, len(words), 2):
                    words[j] = vocab[r.integers(0, len(vocab))]
                texts.append(" ".join(words) + " dup")
            elif i >= 20 and i % 997 == 5:
                texts.append(texts[int(r.integers(0, i))])  # exact duplicate
            else:
                texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))]))
        return pa.table({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if table == "embeddings":
        v = r.standard_normal((n, 64))
        for i in range(20, n, 50):  # planted near-duplicate vectors
            v[i] = v[int(r.integers(0, i))] + 0.02 * r.standard_normal(64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        v = v.astype(np.float32)
        emb = pa.ListArray.from_arrays(np.arange(0, 64 * n + 1, 64, dtype=np.int32),
                                       pa.array(v.reshape(-1), pa.float32()))
        return pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": r.integers(0, 10, n).astype(np.int32)})
    raise ValueError(table)


def permuted(table, sf, seed):
    """The table's rows in the order the run seed picks."""
    t = _table(table, sf)
    order = np.random.default_rng([seed, TABLE_INDEX[table]]).permutation(t.num_rows)
    return t.take(pa.array(order))


def write_table(t, path):
    pq.write_table(t, path, row_group_size=max(1, t.num_rows))


def content_fingerprint(spec):
    """Identifies table contents across seeds: generator source + spec."""
    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    h.update(repr(sorted(spec.items())).encode())
    return h.hexdigest()[:16]


def generate(out_dir, spec, seed):
    """Write each table of spec {table: sf} into out_dir/<table>.parquet.
    Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for table, sf in spec.items():
        t = permuted(table, sf, seed)
        write_table(t, os.path.join(out_dir, f"{table}.parquet"))
        rows[table] = t.num_rows
    return rows


def events_slices(sf, seed, n_slices):
    """The events table cut into n_slices seeded slices (the ingest pool)."""
    t = _table("events", sf)
    order = np.random.default_rng([seed, 1000]).permutation(t.num_rows)
    return [t.take(pa.array(part)) for part in np.array_split(order, n_slices)]
