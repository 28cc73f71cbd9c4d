#!/usr/bin/env python3
"""Runs one benchmark workload against the program built from this checkout.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness on first use (see build.py), generates the
batch tables once, runs the workload in one JVM and prints its result as the
last line of stdout. Exits nonzero if a run cannot complete or an output
does not match its reference. Everything it writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

# player_stream and batch_mix run by hand; BENCHMARK.json leaves them out
# (see README.md)
WORKLOADS = ("quarter_stream", "player_stream", "curation_stream", "batch_mix")
# scale factor of the generated batch tables
BATCH_SF = "0.01"
# a run must end within this many seconds, build excluded
RUN_LIMIT_S = 170
HEAP = {"batch_mix": "4g"}


def batch_data(work, sf):
    """Generates the batch tables once per generator version and scale."""
    gen = os.path.join(HERE, "gen_tables.py")
    with open(gen, "rb") as f:
        key = hashlib.sha256(f.read() + sf.encode()).hexdigest()[:12]
    out = os.path.join(work, f"data-{key}")
    if not os.path.exists(os.path.join(out, ".ok")):
        tmp = f"{out}.tmp-{os.getpid()}"
        subprocess.run([sys.executable, gen, tmp, sf], check=True,
                       stdout=sys.stderr)
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def declared(root, trace, metrics):
    """The metrics BENCHMARK.json declares for this kind of run, in its order.

    A per-layer metric of a layer the workload does not run reads 0 (a
    stream builds no snapshots, a batch pass has no triggers). A metric the
    harness reports but the file does not declare is an error."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    for name, m in metrics.items():
        if units.get(name) != m["unit"]:
            sys.exit(f"perfbench: metric {name} [{m['unit']}] is not declared")
    return {n: metrics.get(n, {"value": 0, "unit": u}) for n, u in units.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="batch_mix: also dump results for tools/check.py")
    a = ap.parse_args()

    root = build.repo_root()
    work = os.path.join(root, ".bench_build")
    classpath = build.build(root, work)
    started = time.time()
    extra = []
    if a.workload == "batch_mix" or (a.workload == "curation_stream" and a.trace):
        extra = ["--data", batch_data(work, BATCH_SF),
                 "--queries", os.path.join(HERE, "batch_queries.tsv")]
        if a.record:
            extra += ["--record", os.path.abspath(a.record)]
    tmp = os.path.join(work, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP.get(a.workload, '2g')}", f"-Djava.io.tmpdir={tmp}"]
           + build.java_options() + ["-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work] + extra)
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded its time limit")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.strip().splitlines()
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: harness exited with {proc.returncode}")
    result = json.loads(lines[-1])
    result["metrics"] = declared(root, a.trace, result["metrics"])
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
