#!/usr/bin/env python3
"""Compare benchmark runs of two commits, or check the spread of one set.

  python3 perfbench/compare.py BASE_DIR CHANGE_DIR
  python3 perfbench/compare.py --spread RUNS_DIR

Each directory holds the run records run.py writes (<build dir>/results by
default; pass --results to run.py to keep the two sides apart). Run the two
commits alternately, BASE first, then CHANGE, with the same seeds.

Runs are paired in the order they started: the i-th base run with the i-th
change run, which ran beside it. The verdict rests on the per-pair ratios
change / base, so a drift of the host's speed that moves both runs of a pair
alike cancels out. For each workload and end-to-end metric the comparison
prints both sides' median and quartiles, the median and quartiles of the
ratios, the share of pairs the change won (ties counting for neither) and a
verdict:

  improved      the change won at least 9 of 10 pairs and the median ratio
                is further from 1 than the base's own quartile spread (as a
                share of its median)
  worse         the median ratio is worse than 1 by more than the metric's
                bound
  unresolved    the ratios' quartile spread is wider than the bound, so "no
                worse" cannot be told from noise (unless every change run
                beats every base run)
  within bound  otherwise

Two sets of runs of the same code, made side by side, should read "within
bound" on every metric.

Per-layer metrics of traced runs are listed with their medians, without a
verdict, and the tracing overhead is the traced wall_s median minus the
untraced one. Records whose fingerprints (cores, heap, Spark, Java, cache
budget, benchmark code) differ are refused.

--spread prints, per workload and metric, the quartile spread as a share of
the median against a third of the bound, and exits 1 when one is above it
(setup_s excepted, as the acceptance rule allows).
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
FP_KEYS = ("cores", "heap_max_mb", "spark", "java", "query_cache_rows", "bench")


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        if p.endswith(".spans.json"):
            continue
        with open(p) as f:
            recs.append(json.load(f))
    recs.sort(key=lambda r: r.get("started", 0))
    return recs


def fingerprint(r):
    return tuple((k, r["fingerprint"].get(k)) for k in FP_KEYS)


def quart(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def spread(vs):
    q1, q2, q3 = quart(vs)
    return (q3 - q1) / q2 if q2 else float("inf")


def by_workload(recs, traced):
    out = {}
    for r in recs:
        if bool(r["traced"]) == traced:
            out.setdefault(r["workload"], []).append(r)
    return out


def ratios(base, change):
    """change / base of each pair; a pair with a zero base is left out."""
    return [c / b for b, c in zip(base, change) if b]


def verdict(m, base, change):
    """(ratio quartiles, share of pairs won, verdict) of one metric."""
    lower = m["better"] == "lower"
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if (c < b if lower else c > b))
    won = wins / len(pairs) if pairs else 0.0
    rs = ratios(base, change)
    if not rs:
        return None, won, "unresolved"
    q1r, mr, q3r = quart(rs)
    better_all = (max(change) < min(base)) if lower else (min(change) > max(base))
    worse_by = (mr - 1) if lower else (1 - mr)
    if won >= 0.9 and worse_by < 0 and abs(mr - 1) > spread(base):
        v = "improved"
    elif worse_by > m["bound"]:
        v = "worse"
    elif q3r - q1r > m["bound"] and not better_all:
        v = "unresolved"
    else:
        v = "within bound"
    return (q1r, mr, q3r), won, v


def fmt(x):
    return f"{x:.4g}"


def compare(base_dir, change_dir, spec):
    base, change = load(base_dir), load(change_dir)
    if not base or not change:
        sys.exit("no run records found")
    fps = {fingerprint(r) for r in base + change}
    if len(fps) > 1:
        sys.exit("refusing to compare: fingerprints differ:\n" +
                 "\n".join("  " + json.dumps(dict(f)) for f in sorted(fps, key=str)))
    print(f"base {sorted({r['commit'] for r in base})}  change {sorted({r['commit'] for r in change})}")
    bw, cw = by_workload(base, False), by_workload(change, False)
    for w in sorted(set(bw) & set(cw)):
        print(f"\n{w}: {len(bw[w])} base runs, {len(cw[w])} change runs")
        if len(bw[w]) != len(cw[w]):
            print(f"  warning: unequal run counts; only the first {min(len(bw[w]), len(cw[w]))} pairs count")
        print(f"  {'metric':<14}{'base median [q1, q3]':<32}{'change median [q1, q3]':<32}"
              f"{'ratio median [q1, q3]':<26}{'won':>5}  verdict")
        for m in spec["end_to_end"]:
            b = [r["end_to_end"][m["name"]] for r in bw[w]]
            c = [r["end_to_end"][m["name"]] for r in cw[w]]
            qr, won, v = verdict(m, b, c)
            qb, qc = quart(b), quart(c)
            rtxt = f"{qr[1]:.3f} [{qr[0]:.3f}, {qr[2]:.3f}]" if qr else "-"
            print(f"  {m['name']:<14}{fmt(qb[1]) + ' [' + fmt(qb[0]) + ', ' + fmt(qb[2]) + '] ' + m['unit']:<32}"
                  f"{fmt(qc[1]) + ' [' + fmt(qc[0]) + ', ' + fmt(qc[2]) + '] ' + m['unit']:<32}"
                  f"{rtxt:<26}{won:>5.0%}  {v}")
    bt, ct = by_workload(base, True), by_workload(change, True)
    for w in sorted(set(bt) | set(ct)):
        print(f"\n{w} (traced): per-layer medians, base -> change")
        for m in spec["per_layer"]:
            vals = []
            for side in (bt.get(w, []), ct.get(w, [])):
                vs = [r["per_layer"][m["name"]] for r in side]
                vals.append(fmt(statistics.median(vs)) if vs else "-")
            print(f"  {m['name']:<36}{vals[0]:>12} -> {vals[1]:<12}{m['unit']}")
        for name, tr, un in (("base", bt, bw), ("change", ct, cw)):
            if tr.get(w) and un.get(w):
                oh = (statistics.median(r["end_to_end"]["wall_s"] for r in tr[w]) -
                      statistics.median(r["end_to_end"]["wall_s"] for r in un[w]))
                print(f"  tracing overhead ({name}): {oh:+.3f} s of wall_s")


def spread_check(d, spec):
    recs = load(d)
    if len({fingerprint(r) for r in recs}) > 1:
        sys.exit("refusing: fingerprints differ within the set")
    bad = 0
    for w, rs in sorted(by_workload(recs, False).items()):
        print(f"{w}: {len(rs)} runs, seeds {sorted(r['seed'] for r in rs)}")
        for m in spec["end_to_end"]:
            vs = [r["end_to_end"][m["name"]] for r in rs]
            s = spread(vs) if len(vs) >= 2 else float("nan")
            lim = m["bound"] / 3
            ok = s <= lim or m["name"] == "setup_s"
            bad += not ok
            print(f"  {m['name']:<14} median {fmt(statistics.median(vs)):>10} {m['unit']:<3}"
                  f" spread {s:7.2%}  (limit {lim:.2%}){'' if ok else '  TOO WIDE'}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--spread", action="store_true")
    a = ap.parse_args()
    with open(SPEC) as f:
        spec = json.load(f)
    if a.spread:
        return spread_check(a.dirs[0], spec)
    if len(a.dirs) != 2:
        ap.error("give BASE_DIR and CHANGE_DIR")
    compare(a.dirs[0], a.dirs[1], spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
