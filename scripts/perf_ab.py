#!/usr/bin/env python3
"""A/B the benchmark: a parent revision against the working tree.

    python3 scripts/perf_ab.py [--parent REV] [--seeds N] [--workloads w1,w2]

Exports the parent revision (default HEAD) into a temporary directory
with `git archive`, then runs `perfbench/run.py` in both checkouts, seed
by seed (seeds 1..N, default 10), each run as long as BENCHMARK.json's
`run_seconds`. Within a seed each workload runs on both sides back
to back, and the side that goes first flips from one seed to the next, so
a drift of the host hits both sides alike. Each side builds its own
sources once (perfbench caches the build in its checkout).

For each workload it prints, for every end-to-end metric of
BENCHMARK.json, each side's median and quartiles over the seeds, the
change/parent ratio of the medians and in how many same-seed pairs the
change was better; then failed/attempted per side, and the change/parent
ratio of the median operation time per operation kind (from the run
files perfbench writes to .bench_out/). Exit status 1 if any run failed
to produce a result.
"""
import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Write the tree of `rev` to `dest` (no .git; run.py then records a
    source digest instead of a commit)."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                             check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tf:
        tf.extractall(dest)
    return dest


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns its result object plus per-kind op times,
    or None when the run did not end with a result."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    try:
        res = json.loads(lines[-1])
        assert "metrics" in res
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(f"perf_ab: {workload} seed {seed} in {checkout} gave no result "
                         f"(exit {r.returncode})\n{r.stderr[-2000:]}\n")
        return None
    kinds = {}
    path = os.path.join(checkout, ".bench_out", f"{workload}-seed{seed}-trace0.json")
    try:
        with open(path) as fh:
            for op in json.load(fh)["ops"]:
                if op["ok"]:
                    kinds.setdefault(op["kind"], []).append(op["ms"])
    except (OSError, ValueError, KeyError):
        pass
    res["kind_p50_ms"] = {k: statistics.median(v) for k, v in kinds.items()}
    return res


def median_of(runs, f):
    vals = [v for v in map(f, runs) if v is not None]
    return statistics.median(vals) if vals else None


def quartiles(vals):
    if len(vals) < 2:
        return (vals[0], vals[0]) if vals else (None, None)
    q = statistics.quantiles(vals, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, runs, metrics):
    par, chg = runs["parent"], runs["change"]
    print(f"== {workload}: {len(par)} parent runs, {len(chg)} change runs")
    for name, better in metrics:
        def value(r):
            return r["metrics"][name]["value"]
        pv, cv = [value(r) for r in par], [value(r) for r in chg]
        if not pv or not cv:
            print(f"  {name:<11} no data")
            continue
        p, c = statistics.median(pv), statistics.median(cv)
        (p1, p3), (c1, c3) = quartiles(pv), quartiles(cv)
        by_seed = {r["seed"]: value(r) for r in par}
        pairs = [(by_seed[r["seed"]], value(r)) for r in chg if r["seed"] in by_seed]
        wins = sum((cc < pp) if better == "lower" else (cc > pp) for pp, cc in pairs)
        print(f"  {name:<11} parent {p:9.3f} [{p1:.3f}, {p3:.3f}]  change {c:9.3f} "
              f"[{c1:.3f}, {c3:.3f}]  change/parent {c / p if p else float('nan'):.3f}  "
              f"change better in {wins}/{len(pairs)} pairs ({better} is better)")
    for side, rs in (("parent", par), ("change", chg)):
        print(f"  failed/attempted {side}: {sum(r['failed'] for r in rs)}/"
              f"{sum(r['attempted'] for r in rs)}")
    kinds = sorted({k for r in par + chg for k in r["kind_p50_ms"]})
    for k in kinds:
        p = median_of(par, lambda r: r["kind_p50_ms"].get(k))
        c = median_of(chg, lambda r: r["kind_p50_ms"].get(k))
        if p is not None and c is not None:
            print(f"  kind {k:<14} op p50 parent {p:9.1f} ms  change {c:9.1f} ms  "
                  f"change/parent {c / p if p else float('nan'):.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", default="HEAD", help="parent revision (default HEAD)")
    ap.add_argument("--seeds", type=int, default=10, help="seeds 1..N (default 10)")
    ap.add_argument("--workloads", help="comma-separated (default: all of BENCHMARK.json)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    seconds = bench["run_seconds"]

    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    missing = 0
    try:
        sides = {"parent": export(a.parent, tmp), "change": ROOT}
        runs = {w: {"parent": [], "change": []} for w in workloads}
        for seed in range(1, a.seeds + 1):
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            for w in workloads:
                for side in order:
                    print(f"perf_ab: seed {seed} {w} {side}", file=sys.stderr, flush=True)
                    res = run_once(sides[side], w, seed, seconds)
                    if res is None:
                        missing += 1
                    else:
                        res["seed"] = seed
                        runs[w][side].append(res)
        print(f"parent {a.parent} vs working tree; {a.seeds} seeds, {seconds:g} s runs")
        for w in workloads:
            report(w, runs[w], metrics)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(1 if missing else 0)


if __name__ == "__main__":
    main()
