#!/usr/bin/env python3
"""Record the expected output of every batch and streaming entry.

Runs every non-vt_ SparkEntry entry in two fresh JVMs, keeps its row count
and order-insensitive digest, and checks each result once against DuckDB
through the entry's oracle SQL. An entry whose digest differs between the
two JVMs, or that has no oracle or disagrees with it, is checked by row
count only; one whose row count differs, or that fails, is left out of the
workloads. An oracle still running after ORACLE_TIMEOUT_S is recorded as
"timeout" and its entry keeps the digest check when the digest repeats.

Usage: python3 perfbench/gen_expected.py
Writes perfbench/expected/sf0.001.json (run.EXPECTED). Run it at the
reference commit only: the file is what later commits are checked against.
"""
import json
import math
import os
import shutil
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

ORACLE_TIMEOUT_S = 3600
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def gen_once(classes, workdir, out, dump=None):
    args = ["--gen", out, "--data", run.DATA]
    if dump:
        args += ["--dump", dump]
    rc = run.run_jvm(run.java_cmd(classes, workdir, args), workdir, out + ".log", 3000)
    if rc != 0:
        sys.exit(f"gen JVM failed (exit {rc}); see {out}.log")
    with open(out) as f:
        return json.load(f)["entries"]


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) if math.isfinite(v) else str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return v


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def oracle_check(con, sql, dump_dir):
    """Spark's rows against DuckDB's: same column names, same multiset of
    rows, floats equal to 1e-6 relative. An oracle still running after
    ORACLE_TIMEOUT_S is interrupted (DuckDB raises InterruptException)."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        want = con.execute(sql)
        wcols = [d[0].lower() for d in want.description]
        wrows = want.fetchall()
    finally:
        timer.cancel()
    got = con.execute(f"SELECT * FROM '{dump_dir}/*.parquet'")
    gcols = [d[0].lower() for d in got.description]
    grows = got.fetchall()
    if sorted(wcols) != sorted(gcols):
        return f"columns {gcols} != oracle {wcols}"
    order = [gcols.index(c) for c in sorted(gcols)]
    worder = [wcols.index(c) for c in sorted(wcols)]
    g = sorted((tuple(_norm(r[i]) for i in order) for r in grows), key=repr)
    w = sorted((tuple(_norm(r[i]) for i in worder) for r in wrows), key=repr)
    if len(g) != len(w):
        return f"rows {len(g)} != oracle {len(w)}"
    bad = sum(1 for x, y in zip(g, w) if not _close(x, y))
    return f"{bad} rows differ" if bad else None


def main():
    import duckdb
    classes = build.build()
    work = os.path.join(build.build_dir(), "gen")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.join(work, "dump")
    first = gen_once(classes, work, os.path.join(work, "gen1.json"), dump)
    second = gen_once(classes, work, os.path.join(work, "gen2.json"))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    entries, skipped = {}, {}
    for name in sorted(first):
        e1, e2 = first[name], second.get(name, {})
        if "error" in e1 or "error" in e2:
            skipped[name] = e1.get("error") or e2.get("error")
            continue
        if e1["rows"] != e2["rows"]:
            skipped[name] = f"row count not deterministic ({e1['rows']} vs {e2['rows']})"
            continue
        rec = {"rows": e1["rows"], "digest": e1["digest"]}
        stable = e1["digest"] == e2["digest"]
        if "oracle_sql" in e1:
            try:
                err = oracle_check(con, e1["oracle_sql"], os.path.join(dump, name))
                rec["oracle"] = "pass" if err is None else f"FAIL: {err}"
            except duckdb.InterruptException:
                rec["oracle"] = "timeout"
            except Exception as ex:  # noqa: BLE001 - recorded per entry
                rec["oracle"] = f"FAIL: oracle error: {ex}"
        else:
            rec["oracle"] = "none (rows-only)"
        # the digest is checked where it repeats across JVMs and DuckDB did
        # not disagree with it; everything else is checked by row count
        rec["check"] = "digest" if stable and rec["oracle"] in ("pass", "timeout") else "rows"
        entries[name] = rec
    out = {"sf": run.SF, "entries": entries, "skipped": skipped}
    path = run.EXPECTED
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    n_pass = sum(1 for e in entries.values() if e["oracle"] == "pass")
    n_fail = sum(1 for e in entries.values() if e["oracle"].startswith("FAIL"))
    n_timeout = sum(1 for e in entries.values() if e["oracle"] == "timeout")
    print(f"{len(entries)} entries, {n_pass} oracle pass, {n_fail} oracle fail, {n_timeout} oracle timeout, "
          f"{sum(1 for e in entries.values() if e['check'] == 'rows')} rows-only digests, "
          f"{len(skipped)} skipped -> {path}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
