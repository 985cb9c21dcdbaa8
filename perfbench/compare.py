#!/usr/bin/env python3
"""Repeat the benchmark and judge the spread, or compare two checkouts.

Two sets of runs of one checkout (does the benchmark agree with itself?):

    python3 perfbench/compare.py sets [--runs 10] [--workload W ...] [--out FILE]

For each workload and end-to-end metric: each set's median and quartiles,
the spread (Q3 - Q1) / median against the metric's bound, and the shift of
the second set's median against the first. Exits 1 if a spread or a
shift exceeds the bound.

Paired parent-against-change (does a change win?):

    python3 perfbench/compare.py paired PARENT_DIR CHANGE_DIR [--pairs 10] ...

Runs pair i with seed i on both checkouts, alternating which side runs
first. Per metric: both sides' medians and quartiles, and the change's
wins. A gain needs wins in at least 9/10 of the pairs (ties count for
neither) and a difference of medians larger than the parent's IQR; a
regression is a change median worse than the parent's by more than the
bound. Where the parent's spread exceeds the bound, a metric is
"unresolved" unless every change run beats every parent run.

Both modes read workloads, metrics, bounds and run_seconds from
BENCHMARK.json, run `python3 perfbench/run.py` from each checkout's root,
and stop at the first run that fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root, spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"run failed in {root}: {' '.join(cmd)}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"incorrect output in {root}: {' '.join(cmd)}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def worse(metric, a, b):
    """How much worse b is than a, as a share of a (negative: better)."""
    d = (b - a) / a
    return d if metric["better"] == "lower" else -d


def cmd_sets(args):
    root = os.path.dirname(HERE)
    spec = load_spec(root)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    out, ok = {}, True
    for w in workloads:
        sets = []
        for k in range(2):
            seeds = range(1 + k * args.runs, 1 + (k + 1) * args.runs)
            sets.append([run_once(root, spec, w, s) for s in seeds])
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = []
            for runs in sets:
                q1, med, q3 = quartiles([r[name] for r in runs])
                stats.append(dict(q1=q1, median=med, q3=q3, spread=(q3 - q1) / med,
                                  values=[r[name] for r in runs]))
            shift = worse(m, stats[0]["median"], stats[1]["median"])
            bad = any(s["spread"] > bound for s in stats)
            verdict = "FAIL" if bad or shift > bound else "ok"
            ok &= verdict == "ok"
            out[f"{w}.{name}"] = dict(sets=stats, shift=shift, bound=bound, verdict=verdict)
            print(f"{w:12s} {name:14s} " + "  ".join(
                f"med {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] spread {s['spread']:.3f}"
                for s in stats) + f"  shift {shift:+.3f} bound {bound}  {verdict}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    return 0 if ok else 1


def cmd_paired(args):
    roots = [os.path.abspath(args.parent), os.path.abspath(args.change)]
    spec = load_spec(roots[0])
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    out = {}
    for w in workloads:
        runs = [[], []]
        for i in range(1, args.pairs + 1):
            order = [0, 1] if i % 2 else [1, 0]
            for side in order:
                runs[side].append(run_once(roots[side], spec, w, i))
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            par, chg = [r[name] for r in runs[0]], [r[name] for r in runs[1]]
            (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(par), quartiles(chg)
            wins = sum(worse(m, p, c) < 0 for p, c in zip(par, chg))
            diff = worse(m, pmed, cmed)
            if wins >= 0.9 * len(par) and abs(cmed - pmed) > pq3 - pq1:
                verdict = "gain"
            elif diff > bound:
                verdict = "regression"
            elif (pq3 - pq1) / pmed > bound and not all(worse(m, p, c) < 0 for p in par for c in chg):
                verdict = "unresolved"
            else:
                verdict = "no change"
            out[f"{w}.{name}"] = dict(parent=par, change=chg, wins=wins, diff=diff, verdict=verdict)
            print(f"{w:12s} {name:14s} parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}]  "
                  f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  wins {wins}/{len(par)}  "
                  f"worse {diff:+.3f} (bound {bound})  {verdict}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("sets")
    s.add_argument("--runs", type=int, default=10)
    p = sub.add_parser("paired")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--pairs", type=int, default=10)
    for x in (s, p):
        x.add_argument("--workload", action="append")
        x.add_argument("--out")
    args = ap.parse_args()
    sys.exit(cmd_sets(args) if args.mode == "sets" else cmd_paired(args))


if __name__ == "__main__":
    main()
