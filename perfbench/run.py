#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload in a fresh JVM.

Usage (from the checkout root):
  python3 perfbench/run.py --workload vtab_interactive --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark code when needed (perfbench/build.py),
starts one JVM at local[<cores>], sets the workload up (one or more times),
runs its operations in a closed loop (how many is set by --seconds; see
perfbench/LAYERS.md), checks every output, and prints as the last line of
stdout one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer metrics
with --trace 1). The full record of the run, with its fingerprint, is written
under <build dir>/results for perfbench/compare.py.
"""
import argparse
import glob
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
WORKLOADS = ("vtab_interactive", "batch_and_streaming")
SF = "sf0.001"  # data scale of the entry workloads (see LAYERS.md)
DATA = os.path.join(BENCH, "data", SF)
DIMS = os.path.join(BENCH, "data", "sf0.1")  # nation and supplier of the interactive joins
EXPECTED = os.path.join(BENCH, "expected", f"{SF}.json")
DEADLINE_S = 170  # a run must end within 180 s, build excluded
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def commit_id():
    """The git commit when the checkout is a repository, else a hash of the
    engine's sources (a source copy without .git)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    srcs, res = build.inputs()
    return "src-" + build.stamp([s for s in srcs if not s.startswith(BENCH)] + res)[:16]


def bench_hash():
    """Hash of everything that decides what a run measures (docs excluded)."""
    files = [p for p in glob.glob(os.path.join(BENCH, "**", "*"), recursive=True)
             if os.path.isfile(p) and "__pycache__" not in p and not p.endswith(".md")]
    return build.stamp(files + [os.path.join(ROOT, "BENCHMARK.json")])[:16]


def java_cmd(classes, workdir, args):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # the JVM options of the project's own `run` task (build.sbt), with the
    # JVM's default heap, and scratch files kept inside the build directory (no
    # /tmp/hsperfdata file either)
    return (["java"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
             "-cp", cp, "graftbench.Main"] + args)


def run_jvm(cmd, cwd, log_path, timeout):
    """Run the JVM in its own process group; kill the group on timeout and
    always wait for it, so nothing outlives the run."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setups", type=int, default=None, help="self-test: set-ups per run")
    ap.add_argument("--max-ops", type=int, default=0, help="self-test: ops per run")
    ap.add_argument("--corrupt", type=int, default=0, help="self-test: corrupt one digest")
    ap.add_argument("--results", default=None, help="directory for the full run record")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        classes = build.build()
    except Exception as e:  # noqa: BLE001 - no result without a build
        sys.stderr.write(f"build failed: {e}\n")
        return 1
    t0 = time.time()
    bdir = build.build_dir()
    workdir = os.path.join(bdir, "work")
    os.makedirs(workdir, exist_ok=True)
    results = a.results or os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}_s{a.seed}_t{a.trace}_{time.strftime('%Y%m%dT%H%M%S')}_{os.getpid()}"
    out = os.path.join(workdir, tag + ".json")
    spans = os.path.join(results, tag + ".spans.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--dims", DIMS, "--expected", EXPECTED,
            "--max-ops", str(a.max_ops),
            "--corrupt", str(a.corrupt), "--out", out]
    if a.setups:
        args += ["--setups", str(a.setups)]
    if a.trace:
        args += ["--spans", spans]
    log = os.path.join(workdir, tag + ".log")
    rc = run_jvm(java_cmd(classes, workdir, args), workdir, log, DEADLINE_S - (time.time() - t0))
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.stderr.write(f"benchmark JVM failed (exit {rc})\n")
        return 1
    with open(out) as f:
        rec = json.load(f)
    os.remove(out)
    os.remove(log)
    rec["fingerprint"]["bench"] = bench_hash()
    rec["commit"] = commit_id()
    rec["started"] = t0
    key = "per_layer" if a.trace else "end_to_end"
    have = rec["per_layer"] if a.trace else rec["end_to_end"]
    metrics = {m["name"]: {"value": have[m["name"]], "unit": m["unit"]} for m in spec[key]}
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    e2e = rec["end_to_end"]
    sys.stderr.write(
        f"[perfbench] {a.workload} seed={a.seed} ops={rec['attempted']} "
        f"failed={rec['failed']} fail_frac={e2e['fail_frac']:.4f} pinned_mb={e2e['pinned_mb']:.2f} "
        f"tail=p{rec['tail_percentile']:.1f} (n={rec['latency_samples']}) "
        f"setup_ms={[round(x) for x in rec['setup_ms']]} timed_s={rec['timed_s']:.1f}\n")
    for fl in rec["failures"][:5]:
        sys.stderr.write(f"[perfbench] FAILED {fl['op'][:100]}: {fl['error'][:300]}\n")
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
