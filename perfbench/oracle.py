"""Reference answers for the batch queries.

Output digests follow tools/verify_local.py: columns sorted by name,
floats rounded to 9 places, decimals as floats, timestamps naive ISO,
rows hashed in order. The reference answer is DuckDB running the
query's oracle SQL (`SparkEntry.oracleSql`) over the same parquet.
"""
import datetime
import decimal
import glob
import hashlib
import os

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _cell(v):
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return repr(v)


def digest(cols, rows):
    """Order-sensitive digest of rows given as sequences aligned with cols."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256("\x02".join(cols[i] for i in order).encode())
    for r in rows:
        h.update("\x01".join(_cell(r[i]) for i in order).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def parquet_digest(out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {out_dir}")
    t = pq.read_table(files[0]) if len(files) == 1 else pq.read_table(out_dir)
    return digest(t.column_names, list(zip(*[t.column(c).to_pylist() for c in t.column_names])))


def duckdb_digests(tables_dir, sqls):
    """{query: digest} for each oracle SQL; an oracle error maps to None."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for name, sql in sqls.items():
        try:
            cur = con.execute(sql)
            out[name] = digest([d[0] for d in cur.description], cur.fetchall())
        except duckdb.Error:
            out[name] = None
    return out
