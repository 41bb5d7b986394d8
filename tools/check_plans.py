#!/usr/bin/env python3
"""Structural plan-diff lint (round-12 verdict task 4).

Wall-clock is the weakest signal in the loop (host noise ~1.5x between
rounds), so plan REGRESSIONS are detected structurally instead: PLANS.md is
regenerated each round by `sbt "runMain graft.Plans"`, and this lint diffs
per-query plan FINGERPRINTS between the committed PLANS.md and the fresh
dump, failing on unexplained exchange growth.

A fingerprint is the per-query multiset of load-bearing physical node kinds
(shuffle exchanges, join strategies, window/aggregate nodes, scan kinds)
plus the pushed-filter count — the properties the plan audits check by eye.
Formatting, node ids, codegen ids, stats, and expression text are ignored,
so a Spark upgrade or cosmetic re-dump stays quiet; an extra Exchange, a
broadcast join degrading to SortMergeJoin, or a lost PushedFilters does not.

Usage:
  python3 tools/check_plans.py <committed PLANS.md> <regenerated PLANS.md>
      [--allow q1,q2]   # queries whose growth is explained this round

Exit 1 iff any NOT-allowed query grew its shuffle-exchange count, turned a
broadcast join into a shuffled one, or lost scan pushdown. Shrinkage and
allowed queries are reported but pass (improvements are the point of most
rounds). New/removed queries are informational (the correctness gate owns
surface membership).

It also lists the queries of the regenerated dump with an unpartitioned
Window (no partition spec: every row of its input meets in one task at any
scale). The list is informational and never fails the lint.
"""
import re, sys
from collections import Counter

# Node kinds whose count changes plan economics. "Exchange" in formatted
# explain is the shuffle; broadcast sends print as "BroadcastExchange".
NODES = [
    "Exchange", "BroadcastExchange", "BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "HashAggregate", "SortAggregate", "ObjectHashAggregate", "Window",
    "WindowGroupLimit", "Sort", "Generate", "Expand",
]
SCAN_RE = re.compile(r"^\s*\(\d+\)\s+Scan (\w+)")
NODE_RE = re.compile(r"^\s*\(\d+\)\s+([A-Za-z]+)")
PUSHED_RE = re.compile(r"PushedFilters: \[(?!\])")  # non-empty list

# Shuffle-side regressions: growth in any of these fails the lint.
GROWTH_FAILS = {"Exchange", "SortMergeJoin", "ShuffledHashJoin",
                "CartesianProduct"}


def sections(path):
    """PLANS.md -> {query: [plan lines]}."""
    plans, name = {}, None
    for line in open(path, errors="replace"):
        m = re.match(r"^## (\S+)", line)
        if m:
            name = m.group(1)
            plans[name] = []
        elif name is not None:
            plans[name].append(line)
    return plans


def parse(path):
    """PLANS.md -> {query: Counter(fingerprint)}."""
    return {q: fingerprint(lines) for q, lines in sections(path).items()}


def fingerprint(lines):
    c = Counter()
    for ln in lines:
        sm = SCAN_RE.match(ln)
        if sm:
            c[f"Scan:{sm.group(1)}"] += 1
            continue
        nm = NODE_RE.match(ln)
        if nm and nm.group(1) in NODES:
            c[nm.group(1)] += 1
        if PUSHED_RE.search(ln):
            c["PushedFilters"] += 1
    return c


def top_lists(args):
    """'[a, f(b, c)], [d]' -> [['a', 'f(b, c)'], ['d']]: the bracketed
    lists of a node's Arguments line, split into their top-level items."""
    lists, item, depth = [], "", 0
    for ch in args:
        if ch in "[(":
            depth += 1
            if depth == 1:
                lists.append([])
                item = ""
                continue
        elif ch in "])":
            depth -= 1
            if depth == 0:
                lists[-1].append(item.strip())
                continue
        elif ch == "," and depth == 1:
            lists[-1].append(item.strip())
            item = ""
            continue
        if depth >= 1:
            item += ch
    return lists


SORT_ORDER_RE = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)$")


def unpartitioned_windows(lines):
    """Window nodes whose partition spec is empty. Formatted explain prints
    `Arguments: [window exprs], [partition spec], [order spec]` and drops an
    empty list, so a Window with one list, or with two whose second holds
    sort orders, has no partition spec."""
    n, in_window = 0, False
    for ln in lines:
        if re.match(r"^\(\d+\) Window$", ln.strip()):
            in_window = True
        elif in_window and ln.startswith("Arguments: "):
            lists = top_lists(ln[len("Arguments: "):].strip())
            if len(lists) == 1 or (len(lists) == 2 and all(
                    SORT_ORDER_RE.search(x) for x in lists[1])):
                n += 1
            in_window = False
        elif re.match(r"^\(\d+\) ", ln):
            in_window = False
    return n


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--allow")]
    allow = set()
    for a in sys.argv[1:]:
        if a.startswith("--allow="):
            allow = set(a.split("=", 1)[1].split(","))
    old, new = parse(args[0]), parse(args[1])
    unpart = {q: k for q, lines in sections(args[1]).items()
              if (k := unpartitioned_windows(lines))}
    print(f"unpartitioned Window ({len(unpart)} queries): "
          + ", ".join(f"{q} ({k})" if k > 1 else q
                      for q, k in sorted(unpart.items())))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    if added:
        print(f"new queries ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed queries ({len(removed)}): {', '.join(removed)}")
    n_same = n_changed = 0
    failures = []
    for q in sorted(set(old) & set(new)):
        if old[q] == new[q]:
            n_same += 1
            continue
        n_changed += 1
        diffs = []
        grew = False
        for k in sorted(set(old[q]) | set(new[q])):
            a, b = old[q][k], new[q][k]
            if a != b:
                diffs.append(f"{k} {a}->{b}")
                if k in GROWTH_FAILS and b > a:
                    grew = True
                if (k == "PushedFilters" and b < a
                        and new[q]["Scan:parquet"] >= old[q]["Scan:parquet"]):
                    # fewer pushdowns on the SAME scans = lost pushdown;
                    # fewer pushdowns because scans were replaced by a
                    # checkpointed memo (Scan:ExistingRDD) is shrinkage
                    grew = True
                if k == "BroadcastHashJoin" and b < a and (
                        new[q]["SortMergeJoin"] > old[q]["SortMergeJoin"]
                        or new[q]["ShuffledHashJoin"]
                        > old[q]["ShuffledHashJoin"]):
                    grew = True
        tag = "GROWTH" if grew else "changed"
        if grew and q not in allow:
            failures.append(q)
        elif grew:
            tag = "GROWTH(allowed)"
        print(f"{tag:16s} {q}: {'; '.join(diffs)}")
    print(f"plan lint: {n_same} unchanged, {n_changed} changed, "
          f"{len(failures)} unexplained growth")
    if failures:
        print("FAIL: unexplained exchange growth in: " + ", ".join(failures))
        sys.exit(1)
    print("PASS")


if __name__ == "__main__":
    main()
