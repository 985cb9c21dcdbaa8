#!/usr/bin/env python3
"""The benchmark's own test: its output checks must catch wrong answers.

    python3 perfbench/selftest.py

Runs the harness with one altered expectation at a time and asserts that
the run reports failed operations (op_fail_ratio > 0):
  - ingest:     one manifest entry's SHA-256 changed;
  - zip_scan:   one manifest entry's name changed;
  - pair_graph: one recorded query fingerprint changed;
and, as the control, pair_graph with nothing altered reports no failure.
Each case is a short run (--seconds 1); the whole test takes a few minutes.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import corpus  # noqa: E402
import run  # noqa: E402


def args_for(workload):
    return argparse.Namespace(workload=workload, seed=1, seconds=1.0, trace=0)


def tamper_manifest(column, new_value):
    path = os.path.join(run.CORPUS, "manifest.tsv")
    lines = open(path).read().splitlines()
    fields = lines[len(lines) // 2].split("\t")
    fields[column] = new_value(fields[column])
    lines[len(lines) // 2] = "\t".join(fields)
    open(path, "w").write("\n".join(lines) + "\n")


def fail_ratio(res):
    return res["failed"] / res["attempted"]


def case(name, workload, tamper=None, fingerprints=run.FINGERPRINTS, expect_fail=True):
    a = args_for(workload)
    if workload in run.ZIP_WORKLOADS:
        corpus.generate(a.seed, run.CORPUS, run.CORPUS_MB)
    if tamper:
        tamper()
    r = fail_ratio(run.run_jvm(a, [], fingerprints))
    ok = (r > 0) == expect_fail
    print(f"{'ok  ' if ok else 'FAIL'} {name}: op_fail_ratio = {r:.3f}", flush=True)
    return ok


def main():
    os.makedirs(run.WORK, exist_ok=True)
    run.build()
    fp_altered = os.path.join(run.WORK, "fingerprints-altered.tsv")
    rows = open(run.FINGERPRINTS).read().splitlines()
    q, fp = rows[0].split("\t")
    open(fp_altered, "w").write("\n".join([f"{q}\t{fp[:-1]}{'0' if fp[-1] != '0' else '1'}"] + rows[1:]) + "\n")
    results = [
        case("ingest, one manifest hash altered", "ingest",
             tamper=lambda: tamper_manifest(3, lambda h: ("0" if h[0] != "0" else "1") + h[1:])),
        case("zip_scan, one manifest name altered", "zip_scan",
             tamper=lambda: tamper_manifest(1, lambda n: n + ".renamed")),
        case(f"pair_graph, fingerprint of {q} altered", "pair_graph", fingerprints=fp_altered),
        case("pair_graph, nothing altered", "pair_graph", expect_fail=False),
    ]
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
