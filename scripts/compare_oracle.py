#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/compare_oracle.py <sfDir> <verifyOutDir> [only ...]

Reads <verifyOutDir>/oracle_sql.json, registers every parquet table in
<sfDir> as a DuckDB view (documents, embeddings, events, ...), runs each
oracle SQL, and compares against the Spark result parquet written by
graft.Verify: row count, column-name set, and value-hash with columns
sorted by name (the driver's contract). Each entry's line also gives the
DuckDB wall time of its oracle SQL (execute + fetch), so a slow twin shows.
"""
import sys, json, glob, os, time
import duckdb
import pyarrow.parquet as pq

def norm(v):
    if isinstance(v, float):
        return repr(v)
    return str(v)

def frame_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(norm(r[i]) for i in order) for r in rows]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        src = p if os.path.isfile(p) else f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_none = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"{name}: NO SPARK OUTPUT")
            n_fail += 1
            continue
        t = pq.read_table(spark_files[0])
        s_cols = list(t.column_names)
        s_rows = [tuple(row[c] for c in s_cols) for row in t.to_pylist()]
        t0 = time.perf_counter()
        try:
            res = con.execute(sql)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        except Exception as e:
            print(f"{name}: ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        secs = time.perf_counter() - t0
        ok_rows = len(s_rows) == len(o_rows)
        ok_schema = sorted(s_cols) == sorted(o_cols)
        sf = frame_rows(s_cols, s_rows)
        of = frame_rows(o_cols, o_rows)
        ok_hash = sf == of
        if ok_rows and ok_schema and ok_hash:
            print(f"{name}: PASS ({len(s_rows)} rows, {secs:.2f} s)")
            n_pass += 1
        else:
            print(f"{name}: FAIL rows={len(s_rows)}/{len(o_rows)} schema={ok_schema} "
                  f"hash={ok_hash} ({secs:.2f} s)")
            if ok_schema and not ok_hash:
                for i, (a, b) in enumerate(zip(sf, of)):
                    if a != b:
                        print(f"  first diff at row {i}:\n   spark={a}\n   duck ={b}")
                        break
                if len(sf) != len(of):
                    longer, side = (sf, "spark") if len(sf) > len(of) else (of, "duck")
                    print(f"  extra rows on {side} side, first: {longer[min(len(sf), len(of))]}")
            elif not ok_schema:
                print(f"  spark cols={sorted(s_cols)}\n  duck  cols={sorted(o_cols)}")
            n_fail += 1
    for name in sorted(set(os.listdir(out_dir)) - set(oracles) - {"oracle_sql.json"}):
        if only and name not in only:
            continue
        n_none += 1
        print(f"{name}: no_oracle")
    print(f"== {n_pass} pass, {n_fail} fail, {n_none} no_oracle")
    sys.exit(1 if n_fail else 0)

main()
