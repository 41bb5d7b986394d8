#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  control_plane   batches of trivial jobs into one growing admin store,
                  each followed by the status reads
  query_mix       declared queries written in full to the noop sink

The run builds the program from source when it changed (perfbench/build.py),
then starts one JVM with a fixed heap that runs a fixed number of warm-up ops
(charged to setup_s) and a fixed number of measured ops (`--seconds` times
the workload's nominal op rate; never a time box). Every op's output is
checked, against the values pinned in perfbench/expected/ where it is data
(see perfbench/METRICS.md). The last line of
standard output is one JSON object: with `--trace 0` the end-to-end metrics,
with `--trace 1` the per-layer metrics of a traced run, where every other
measured op is traced and the ops in between give the tracing overhead.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("control_plane", "query_mix")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark task threads: two of the four cores, so the Spark driver thread,
# the JIT and the GC keep cores of their own; queries ran faster and steadier
# than with local[4].
CORES = 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    data = os.path.join(HERE, "data")
    if not os.path.isfile(os.path.join(data, "documents.parquet")):
        raise SystemExit("perfbench: input tables missing under perfbench/data")
    expected = os.path.join(HERE, "expected", a.workload + ".txt")

    work = os.path.join(build.build_dir(), f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cores = min(CORES, os.cpu_count() or 1)
    load_start = os.getloadavg()[0]
    launch_ms = time.time() * 1e3
    # The default tiered JIT, as the program runs under sbt. Op times still
    # fall slowly through a run as C2 compiles more of Spark; the warm-up and
    # measured op counts are fixed, so every run samples the same stretch.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m"]
           + build.JVM_FILES + build.java_opens()
           + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.local.dir={work}/local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.system.home={work}/tmp",
              "-cp", build.classpath(classes), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--cores", str(cores),
              "--launch-epoch-ms", f"{launch_ms:.3f}", "--out", out,
              "--expected", expected])
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    cwd=work)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.isfile(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: JVM "
                             f"{'timed out' if code is None else f'exited {code}'}")
        with open(out) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()[0]

    print(f"workload {r['workload']} seed {r['seed']} trace {a.trace} "
          f"cores {r['cores']} load1 {load_start:.2f} -> {load_end:.2f}")
    print(f"ops {r['attempted']} attempted, {r['failed']} failed; "
          f"warm-up op s {[round(x, 3) for x in r['warmup_s']]}; "
          f"window {r['window_s']:.3f} s")
    print("setup phases s " + ", ".join(
        f"{k} {v:.3f}" for k, v in r["setup_phases_s"].items()))
    print(f"measured op s {[round(x, 3) for x in r['op_s']]}")
    for f in r["failures"]:
        print(f"CHECK FAILED {f}")
    for k, v in list(r["e2e"].items()) + list(r["detail"].items()):
        if isinstance(v, dict) and "value" in v:
            print(f"  {k} = {v['value']:.6g} {v['unit']} (n={v['n']})")
        else:
            print(f"  {k} = {v}")
    for k, v in r["layers"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']} (n={v['n']})")
    if r["counters"]:
        print("counters " + json.dumps(r["counters"]["by_op"], sort_keys=True))
        print(f"counters that did not repeat: {r['counters']['unstable']}")
    metrics = r["layers"] if a.trace else r["e2e"]
    print(json.dumps({
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
