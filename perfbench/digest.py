"""Order-insensitive result digests, computed by DuckDB on either side.

A result's digest covers its sorted column names, its row count and the
sum of one 64-bit hash per row.  Before hashing, every value is cast to
text; floating-point values (also inside lists) are first rounded to 6
decimals as `tools/verify_local.py` does, then to 10 significant digits,
so that sums taken in another order (another split count) still agree.
The Spark side is the parquet a run writes per entry; the expected side
is the entry's DuckDB oracle SQL (or a recorded Spark result).
"""
import hashlib

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _float_text(x):
    return f"printf('%.10g', round({x}::DOUBLE, 6) + 0.0)"


def _norm(col, typ):
    q = '"' + col.replace('"', '""') + '"'
    t = str(typ).upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return _float_text(q)
    if t in ("DOUBLE[]", "FLOAT[]"):
        return f"list_transform({q}, v -> {_float_text('v')})::VARCHAR"
    return f"{q}::VARCHAR"


def of_relation(con, sql):
    """(rows, digest) of the relation `sql` on connection `con`."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, rel.types), key=lambda c: c[0])
    norm = ", ".join(_norm(c, t) for c, t in cols)
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash({norm})::HUGEINT), 0) "
                   f"FROM ({sql})").fetchone()
    key = "|".join(c for c, _ in cols) + f"|{n}|{h}"
    return int(n), hashlib.sha256(key.encode()).hexdigest()[:16]


def of_parquet(path):
    """Digest of a directory of parquet files written by Spark."""
    con = duckdb.connect()
    return of_relation(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def oracle_connection(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con
