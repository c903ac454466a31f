#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs of the same code,
interleaved, compared against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed0 1]
    python3 perfbench/steady.py --workload <name> --counters [--seed0 1]

Set A and set B each run seeds seed0 .. seed0+runs-1, one run of A then
one of B. For every end-to-end metric the script prints each set's
median and quartiles, the spread (quartile distance over median) and
the host steal seconds of every run, then whether the sets agree: every
spread within its metric's bound, set B's median within the bound of
set A's in either direction, and the same share of failed operations.
For information it also prints the wall-clock set-up time of every run
(the per-layer `jvm.setup_wall_s`), which is not bounded.

`--counters` instead makes two traced runs on one seed with an untraced
run between them, compares the deterministic per-layer counters of the
traced runs, which must be identical, and prints the tracing overhead:
the traced runs' query wall and CPU seconds against the untraced run's.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import steal_s  # noqa: E402

COUNTERS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_records",
            "entry.rows_out", "stream.batches", "stream.input_rows"]


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(b, workload, seed, trace):
    cmd = b["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(b["run_seconds"]), "--trace", str(trace)]
    s0 = steal_s()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    steal = steal_s() - s0
    if r.returncode != 0:
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {r.returncode})")
    return json.loads(r.stdout.strip().splitlines()[-1]), steal


def last_raw():
    """The harness's raw record of the run that just ended."""
    with open(os.path.join(ROOT, ".perfbench-work", "run", "out", "result.json")) as f:
        return json.load(f)


def quartiles(v):
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def compare_sets(b, sets):
    ok = True
    for m in b["end_to_end"]:
        name, bound = m["name"], m["bound"]
        meds = []
        for label, runs in sets.items():
            v = [r["metrics"][name]["value"] for r, _, _ in runs]
            q1, q2, q3 = quartiles(v)
            spread = (q3 - q1) / q2
            meds.append(q2)
            flag = "" if spread <= bound else "  SPREAD ABOVE BOUND"
            if flag:
                ok = False
            print(f"{name:>14} set {label}: median {q2:.4f} q1 {q1:.4f} q3 {q3:.4f} "
                  f"spread {spread:.3f} (bound {bound}){flag}")
        drift = (meds[1] - meds[0]) / meds[0]
        drift_ok = abs(drift) <= bound
        ok &= drift_ok
        print(f"{name:>14} B vs A: {100 * drift:+.1f}% {'ok' if drift_ok else 'BEYOND BOUND'}")
    shares = {label: sum(r["failed"] for r, _, _ in runs) / sum(r["attempted"] for r, _, _ in runs)
              for label, runs in sets.items()}
    same_failed = len(set(shares.values())) == 1
    ok &= same_failed
    correct = all(r["correct"] for runs in sets.values() for r, _, _ in runs)
    ok &= correct
    for label, runs in sets.items():
        print(f"set {label} steal s per run: " + " ".join(f"{s:.1f}" for _, s, _ in runs))
    for label, runs in sets.items():
        v = [w for _, _, w in runs]
        q1, q2, q3 = quartiles(v)
        print(f"set {label} wall set-up s per run: " + " ".join(f"{w:.1f}" for w in v) +
              f" (median {q2:.2f}, spread {(q3 - q1) / q2:.3f}, not bounded)")
    print(f"failed share per set: {shares} ({'same' if same_failed else 'DIFFERENT'})")
    print(f"all runs correct: {correct}")
    print("AGREE" if ok else "DISAGREE")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--counters", action="store_true")
    a = ap.parse_args()
    b = bench()
    if a.counters:
        runs = [one_run(b, a.workload, a.seed0, 1)[0]]
        untraced = one_run(b, a.workload, a.seed0, 0)[0]
        # the untraced run's query wall time, from the harness's raw record
        raw = last_raw()["samples"]
        untraced_wall = sum(s["m"]["entry.wall_s"] for s in raw if not s["failed"])
        runs.append(one_run(b, a.workload, a.seed0, 1)[0])
        traced_wall = statistics.mean(r["metrics"]["entry.wall_s"]["value"] for r in runs)
        traced_cpu = statistics.mean(r["metrics"]["entry.cpu_s"]["value"] for r in runs)
        untraced_cpu = untraced["metrics"]["cpu_s"]["value"]
        print(f"tracing overhead: wall {traced_wall:.2f}s traced vs {untraced_wall:.2f}s "
              f"({100 * (traced_wall / untraced_wall - 1):+.1f}%), cpu {traced_cpu:.2f}s vs "
              f"{untraced_cpu:.2f}s ({100 * (traced_cpu / untraced_cpu - 1):+.1f}%)")
        same = True
        for c in COUNTERS:
            v = [r["metrics"][c]["value"] for r in runs]
            same &= v[0] == v[1]
            print(f"{c:>22}: {v[0]:.0f} {v[1]:.0f} {'same' if v[0] == v[1] else 'DIFFERENT'}")
        print("IDENTICAL" if same else "DIFFERENT")
        sys.exit(0 if same else 1)
    sets = {"A": [], "B": []}
    for i in range(a.runs):
        for label in sets:
            r, steal = one_run(b, a.workload, a.seed0 + i, 0)
            sets[label].append((r, steal, last_raw()["setup_wall_s"]))
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"[{label}{i}] seed {a.seed0 + i} steal {steal:.1f}s {vals}", flush=True)
    sys.exit(0 if compare_sets(b, sets) else 1)


if __name__ == "__main__":
    main()
