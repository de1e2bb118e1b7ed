#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 with a few operations per workload.

Checks that:
  1. every metric of BENCHMARK.json is printed, by name and with its unit,
     for every workload, untraced and traced;
  2. the same seed reproduces the vtab_interactive stream exactly and a
     different seed changes it;
  3. a deliberately corrupted expected digest is reported as a failure
     (correct false, failed >= 1, fail_frac > 0).

Usage: python3 perfbench/selftest.py      (exit 0 when every check holds)
"""
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def bench(workload, seed, trace, results, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--setups", "1", "--max-ops", "3", "--results", results] + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd[2:])}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    recs = sorted(glob.glob(os.path.join(results, f"{workload}_s{seed}_t{trace}_*[0-9].json")),
                  key=os.path.getmtime)
    with open(recs[-1]) as f:
        return line, json.load(f)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = os.path.join(build.build_dir(), "selftest")
    shutil.rmtree(results, ignore_errors=True)
    os.makedirs(results)
    fails = []

    def check(ok, what):
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            fails.append(what)

    # 1. every metric, by name and unit
    streams = {}
    for w in run.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line, rec = bench(w, 7, trace, results)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in line["metrics"].items()}
            numeric = all(isinstance(v.get("value"), (int, float)) for v in line["metrics"].values())
            check(got == want and numeric, f"{w} trace={trace}: all {len(want)} {key} metrics with units")
            check(set(line) == {"correct", "attempted", "failed", "metrics"} and line["attempted"] >= 1,
                  f"{w} trace={trace}: result line keys, attempted={line['attempted']}")
            check(line["correct"] and line["failed"] == 0, f"{w} trace={trace}: outputs correct")
            if w == "vtab_interactive":
                streams.setdefault(7, []).append(rec["stream_sha"])

    # 2. the vtab stream is a function of the seed
    _, other = bench("vtab_interactive", 8, 0, results)
    check(len(set(streams[7])) == 1, "vtab_interactive: same seed, same stream")
    check(other["stream_sha"] != streams[7][0], "vtab_interactive: another seed, another stream")

    # 3. a corrupted expected digest counts as a failure
    line, rec = bench("batch_and_streaming", 7, 0, results, "--corrupt", "1")
    check(not line["correct"] and line["failed"] >= 1 and rec["end_to_end"]["fail_frac"] > 0,
          f"batch_and_streaming: corrupted digest reported (failed={line['failed']}, "
          f"fail_frac={rec['end_to_end']['fail_frac']:.3f})")

    shutil.rmtree(results, ignore_errors=True)
    print(f"\n{'all checks passed' if not fails else f'{len(fails)} checks failed'}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
