#!/usr/bin/env python3
"""Compare two checkouts, a parent and a change, on the benchmark.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR \
        [--workloads bootcamp,curation,stream]

Each side runs its own perfbench/run.py, which must be byte-identical on
both sides (a change that claims a gain may not edit the benchmark).
Pair i of 10 runs both sides with seed 1+i and BENCHMARK.json's
run_seconds, the parent first on even pairs and the change first on odd
ones. Per workload and end-to-end metric it prints each side's median
and quartiles, the change's win share (ties count for neither side) and
a verdict:

  better      the change wins at least 9 of 10 pairs, the medians
              differ by more than the parent's quartile spread, and the
              change failed no more label runs or epochs than the parent
  worse       the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  either side's quartile spread, as a share of its median,
              exceeds the bound, and not every change run beats every
              parent run
  same        none of the above
"""
import argparse
import hashlib
import json
import pathlib
import statistics
import subprocess
import sys

PAIRS = 10
BASE_SEED = 1


def bench_hash(root):
    h = hashlib.sha256()
    for f in sorted((root / "perfbench").rglob("*")):
        rel = f.relative_to(root)
        if (f.is_file() and "target" not in rel.parts
                and rel.parts[:3] != ("perfbench", "project", "project")):
            h.update(str(rel).encode() + f.read_bytes())
    return h.hexdigest()


def run(root, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=1200)
    if p.returncode != 0:
        sys.exit(f"{root}: {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound, parent_failed, change_failed):
    sign = 1 if better == "lower" else -1
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    share = wins / len(parent)
    if (share >= 0.9 and sign * (pmed - cmed) > pq3 - pq1
            and change_failed <= parent_failed):
        v = "better"
    elif sign * (cmed - pmed) > bound * pmed:
        v = "worse"
    elif max((pq3 - pq1) / pmed, (cq3 - cq1) / cmed) > bound and not (
            max(sign * c for c in change) < min(sign * p for p in parent)):
        v = "unresolved"
    else:
        v = "same"
    return (pq1, pmed, pq3), (cq1, cmed, cq3), share, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", type=pathlib.Path)
    ap.add_argument("change", type=pathlib.Path)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    parent, change = a.parent.resolve(), a.change.resolve()
    if bench_hash(parent) != bench_hash(change):
        sys.exit("perfbench/ differs between the two sides; compare with "
                 "identical benchmark code")
    spec = json.loads((change / "BENCHMARK.json").read_text())
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in spec["workloads"]])
    for w in workloads:
        res = {"parent": [], "change": []}
        for i in range(PAIRS):
            sides = [("parent", parent), ("change", change)]
            for name, root in (sides if i % 2 == 0 else sides[::-1]):
                res[name].append(run(root, w, BASE_SEED + i, spec["run_seconds"]))
        failed = {}
        for name in res:
            failed[name] = sum(r["failed"] for r in res[name])
            attempted = sum(r["attempted"] for r in res[name])
            print(f"{w} {name}: {failed[name]} of {attempted} failed")
        print(f"{w:9s} {'metric':14s} {'parent q1/med/q3':>30s} "
              f"{'change q1/med/q3':>30s} {'wins':>5s} verdict")
        for m in spec["end_to_end"]:
            n = m["name"]
            p = [r["metrics"][n]["value"] for r in res["parent"]]
            c = [r["metrics"][n]["value"] for r in res["change"]]
            pq, cq, share, v = verdict(p, c, m["better"], m["bound"],
                                        failed["parent"], failed["change"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:9s} {n:14s} {fmt(pq):>30s} {fmt(cq):>30s} "
                  f"{share:5.2f} {v} ({m['unit']}, bound {m['bound']})")


if __name__ == "__main__":
    main()
