#!/usr/bin/env python3
"""Compare two traced perfbench runs: counters first, then CPU, then wall.

    python3 tools/counter_diff.py <before.txt> <after.txt>

Each input is the standard output of
`python3 perfbench/run.py --workload <w> --seed <n> --seconds <s> --trace 1`.

The per-op deterministic counters (Spark jobs, stages, tasks, output rows,
store calls...) repeat exactly for one program on one input, so they are
compared exactly and decide first. Task CPU time is compared next, as the
run-level `ops.task_cpu_s` median, within CPU_TOL. Wall time comes
last: per op, the `query_s_median_by_name` medians (query_mix), and the
run's `trace.op_s_p50`. Every op whose wall time moved by more than
WALL_TOL is labelled:

  counters    its counters changed: the program did different work
  cpu         its counters held but the run's task CPU moved
  host noise  counters and CPU held: the move is the host's, not the code's

Prints one line per op whose counters or wall time changed, then the
unchanged ops. Exit 0 always; the labels are the answer.
"""
import argparse
import ast
import json
import re
import sys


# Relative moves beyond these count as moved: above the 10-20% a single
# query's wall swings between two runs of one program on a shared host.
WALL_TOL = 0.2
CPU_TOL = 0.2


def parse(path):
    """counters by op, run-level layer values, and per-op wall medians."""
    counters, layers, walls = {}, {}, {}
    with open(path) as f:
        for line in f:
            if line.startswith("counters that did not repeat"):
                continue
            if line.startswith("counters "):
                counters = json.loads(line[len("counters "):])
                continue
            m = re.match(r"\s+query_s_median_by_name = (\{.*\})\s*$", line)
            if m:
                walls = ast.literal_eval(m.group(1))
                continue
            m = re.match(r"\s+([a-z_]+\.[a-z_0-9]+) = (\S+) ", line)
            if m:
                layers[m.group(1)] = float(m.group(2))
    if not counters:
        sys.exit(f"counter_diff: {path} has no `counters` line "
                 f"(run perfbench with --trace 1)")
    return counters, layers, walls


def moved(a, b, tol):
    if a is None or b is None:
        return False
    base = max(abs(a), 1e-9)
    return abs(b - a) / base > tol


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()

    c0, l0, w0 = parse(a.before)
    c1, l1, w1 = parse(a.after)
    cpu0, cpu1 = l0.get("ops.task_cpu_s"), l1.get("ops.task_cpu_s")
    cpu_moved = moved(cpu0, cpu1, CPU_TOL)
    print(f"run task CPU (ops.task_cpu_s median): {cpu0} -> {cpu1} s"
          f"{' MOVED' if cpu_moved else ''}")
    p0, p1 = l0.get("trace.op_s_p50"), l1.get("trace.op_s_p50")
    print(f"run op p50 (trace.op_s_p50): {p0} -> {p1} s")

    unchanged = []
    for op in sorted(set(c0) | set(c1)):
        if op not in c0 or op not in c1:
            print(f"{op}: only in {'after' if op in c1 else 'before'}")
            continue
        diff = {k: (c0[op].get(k), c1[op].get(k))
                for k in sorted(set(c0[op]) | set(c1[op]))
                if c0[op].get(k) != c1[op].get(k)}
        t0, t1 = w0.get(op), w1.get(op)
        wall = moved(t0, t1, WALL_TOL)
        if not diff and not wall:
            unchanged.append(op)
            continue
        label = "counters" if diff else ("cpu" if cpu_moved else "host noise")
        parts = [f"{k} {x}->{y}" for k, (x, y) in diff.items()]
        if t0 is not None and t1 is not None:
            parts.append(f"wall {t0:.3f}->{t1:.3f} s")
        print(f"{op}: {label}: " + ", ".join(parts))
    print(f"unchanged ({len(unchanged)}): {' '.join(unchanged)}")


if __name__ == "__main__":
    main()
