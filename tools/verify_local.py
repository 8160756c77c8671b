#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/verify_local.py /tmp/verify_out [sfDir]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran (or
run with --run to invoke it). Compares each <outDir>/<name>/ parquet
against the DuckDB result of oracle_sql.json[<name>] over the same
tables: row count, column names (sorted), and cell values (both
order-sensitive and order-insensitive hashing reported). A dump with
no oracle (a rows-only query) is checked only to exist and read.
"""
import sys, os, json, glob, subprocess, hashlib
import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm_cell(v):
    import datetime, decimal
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return repr(v)

def table_digest(cols, rows, order_sensitive):
    lines = ["\x01".join(norm_cell(v) for v in r) for r in rows]
    if not order_sensitive:
        lines = sorted(lines)
    h = hashlib.sha256()
    h.update(("\x02".join(cols)).encode())
    for ln in lines:
        h.update(ln.encode()); h.update(b"\n")
    return h.hexdigest()[:16]

def read_dump(spark_dir):
    files = glob.glob(f"{spark_dir}/*.parquet")
    if not files:
        raise FileNotFoundError("no spark output")
    return pq.read_table(files[0]) if len(files) == 1 else pq.read_table(spark_dir)

def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_dir = args[0] if args else "/tmp/verify_out"
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
    if "--run" in sys.argv:
        subprocess.run(["sbt", "--batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
                       cwd="/root/repo", check=True)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in oracle.items():
        try:
            tbl = read_dump(f"{out_dir}/{name}")
            s_cols = sorted(tbl.column_names)
            s_rows = [[r[c] for c in s_cols] for r in tbl.to_pylist()]
            cur = con.execute(sql)
            d_cols_raw = [d[0] for d in cur.description]
            d_rows_raw = cur.fetchall()
            d_order = sorted(range(len(d_cols_raw)), key=lambda i: d_cols_raw[i])
            d_cols = [d_cols_raw[i] for i in d_order]
            d_rows = [[r[i] for i in d_order] for r in d_rows_raw]
        except FileNotFoundError as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        except Exception as e:
            print(f"FAIL {name}: error {e}"); n_fail += 1; continue
        problems = []
        if s_cols != d_cols:
            problems.append(f"cols spark={s_cols} duck={d_cols}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rows spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            h_s = table_digest(s_cols, s_rows, True)
            h_d = table_digest(d_cols, d_rows, True)
            if h_s != h_d:
                hu_s = table_digest(s_cols, s_rows, False)
                hu_d = table_digest(d_cols, d_rows, False)
                if hu_s == hu_d:
                    problems.append("ordered hash differs (unordered matches)")
                else:
                    problems.append("value hash differs")
                    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
                        na = [norm_cell(v) for v in a]; nb = [norm_cell(v) for v in b]
                        if na != nb:
                            problems.append(f"  first diff row {i}: spark={na} duck={nb}")
                            break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems)); n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows)"); n_pass += 1
    n_rows_only = 0
    for spark_dir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(os.path.normpath(spark_dir))
        if name in oracle:
            continue
        try:
            print(f"ROWS {name}: dump reads, no oracle ({read_dump(spark_dir).num_rows} rows)")
            n_rows_only += 1
        except Exception as e:
            print(f"FAIL {name}: rows-only dump does not read: {e}"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only dumps read")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
