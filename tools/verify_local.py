#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables, compare to the Spark parquet dumps
(column-name-sorted, row-sorted, exact + tolerant compare).

Usage: verify_local.py <sfdir> <outdir>   (after `sbt "runMain graft.Verify <sfdir> <outdir>"`)
"""
import json, math, os, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        # partial sf dirs (GenScale table-subset mode) only carry the
        # tables their queries read; skip the rest
        if os.path.exists(f"{sfdir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        sql = oracles[name]
        spark_dir = os.path.join(outdir, name)
        status, detail = compare(con, sql, spark_dir)
        mark = "PASS" if status else "FAIL"
        if status: n_pass += 1
        else: n_fail += 1
        print(f"{mark}  {name}{'  ' + detail if detail else ''}")
    # queries with no oracle: rows-only check
    for name in sorted(os.listdir(outdir)):
        p = os.path.join(outdir, name)
        if os.path.isdir(p) and name not in oracles:
            try:
                n = con.execute(f"SELECT count(*) FROM '{p}/*.parquet'").fetchone()[0]
                print(f"{'PASS' if n > 0 else 'FAIL'}  {name}  rows-only n={n}")
            except Exception as e:
                print(f"FAIL  {name}  rows-only: {e}")
    print(f"\n{n_pass} pass, {n_fail} fail (oracle-checked)")
    return 1 if n_fail else 0

def compare(con, sql, spark_dir):
    try:
        want = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        return False, f"oracle error: {e}"
    try:
        got = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'").fetch_arrow_table()
    except Exception as e:
        return False, f"spark output missing: {e}"
    wcols, gcols = sorted(want.column_names), sorted(got.column_names)
    if [c.lower() for c in wcols] != [c.lower() for c in gcols]:
        return False, f"schema mismatch: oracle={wcols} spark={gcols}"
    wrows = sorted(map(tuple, want.select(wcols).to_pandas().itertuples(index=False)), key=repr)
    grows = sorted(map(tuple, got.select(gcols).to_pandas().itertuples(index=False)), key=repr)
    if len(wrows) != len(grows):
        return False, f"row count: oracle={len(wrows)} spark={len(grows)}"
    exact = True
    for wr, gr in zip(wrows, grows):
        for w, g in zip(wr, gr):
            if not eq(w, g):
                return False, f"value mismatch: oracle={wr} spark={gr}"
            if repr(w) != repr(g) and not both_nan(w, g):
                exact = False
    return True, ("" if exact else "(tolerant only — driver hash may fail!)")

def both_nan(w, g):
    try: return math.isnan(w) and math.isnan(g)
    except (TypeError, ValueError): return False

def eq(w, g):
    if w is None or g is None:
        # pandas turns None into NaN for float cols
        wn = w is None or (isinstance(w, float) and math.isnan(w))
        gn = g is None or (isinstance(g, float) and math.isnan(g))
        return wn == gn
    if isinstance(w, float) and isinstance(g, float):
        if math.isnan(w) or math.isnan(g): return math.isnan(w) == math.isnan(g)
        if w == g: return True
        return abs(w - g) <= 1e-9 * max(1.0, abs(w), abs(g))
    if hasattr(w, "timestamp") and hasattr(g, "timestamp"):
        return w == g
    return w == g

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
