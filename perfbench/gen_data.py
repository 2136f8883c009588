"""Input generation for the benchmark.

`base(dir)` writes a fixed synthetic corpus with the schema, row counts
and value ranges of graft's sf0.1 test tables: a TPC-H-ish star schema
plus `events`, `documents` (5% planted near-duplicates) and `embeddings`.
Each table is one parquet file with one row group, so every scan is a
single split.  The corpus does not depend on the workload seed: the
expected output digests in `expected.json` are taken over it.

`split(base_dir, out_dir, seed, splits)` rewrites the same rows in a
seed-chosen order into `splits` files per table (a directory named
`<table>.parquet`), the multi-split side of the scan-parallelism choice.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _day_ts(rng, n, start, days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def tables():
    """The corpus as {name: pyarrow.Table}, deterministic."""
    rng = np.random.default_rng(CORPUS_SEED)
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = 15000
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n)})
    n = 1000
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = 20000
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": _choice(rng, [f"{a} {b}" for a in adj for b in noun], n),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1)})
    n = 150000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, 15000, n), i64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _day_ts(rng, n, "1995-01-01", 2404),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n)})
    n = 600000
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150000, n), i64),
        "l_partkey": pa.array(rng.integers(0, 20000, n), i64),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _day_ts(rng, n, "1995-01-02", 2499)})
    n = 100000
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup",
                                    "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n, ndup = 5000, 250
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n)]
    for d in rng.choice(n, ndup, replace=False):
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": _choice(rng, ["en", "de", "es", "fr", "zh"], n,
                        p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    n = 2000
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})
    return out


def _write_atomic(dir_, write):
    tmp = dir_ + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    write(tmp)
    os.rename(tmp, dir_)


def base(dir_):
    """Write the corpus to `dir_` unless it is already there."""
    if os.path.isdir(dir_):
        return
    def write(tmp):
        for name, t in tables().items():
            pq.write_table(t, f"{tmp}/{name}.parquet")
    _write_atomic(dir_, write)


def split(base_dir, out_dir, seed, splits):
    """Rewrite `base_dir` with a seed-permuted row order into `splits`
    files per table; checks every table's row count against the base."""
    if os.path.isdir(out_dir):
        return
    rng = np.random.default_rng(seed)
    def write(tmp):
        for name in TABLES:
            t = pq.read_table(f"{base_dir}/{name}.parquet")
            t = t.take(pa.array(rng.permutation(t.num_rows)))
            os.makedirs(f"{tmp}/{name}.parquet")
            bounds = np.linspace(0, t.num_rows, min(splits, t.num_rows) + 1)
            bounds = bounds.astype(int)
            for i in range(len(bounds) - 1):
                pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                               f"{tmp}/{name}.parquet/part-{i:05d}.parquet")
            back = pq.ParquetDataset(f"{tmp}/{name}.parquet").read()
            if back.num_rows != t.num_rows:
                raise RuntimeError(f"split {name}: {back.num_rows} rows "
                                   f"written, {t.num_rows} in the base")
    _write_atomic(out_dir, write)
