#!/usr/bin/env python3
"""Steadiness command: run each workload repeatedly, one seed per run, and
print each end-to-end metric's median, quartiles and spread against its
bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--sets 1] [--first-seed 1]
                                [--workloads ingest,curate,stream]

The spread is the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median; it should
stay below a third of the bound, for every metric. With `--sets 2` the
runs are made twice with the same seeds, and the command also prints how
far the second median moved from the first and whether the share of failed
operations is identical, which is how two sets of runs of one commit are
shown to agree.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, cwd=ROOT)
    last = (r.stdout.strip().splitlines() or [""])[-1]
    # a run with a failed check prints its result and exits with 1
    if r.returncode not in (0, 1) or not last.startswith("{"):
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {r.returncode}")
    return json.loads(last)


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    higher = {m["name"] for m in spec["end_to_end"] if m["better"] == "higher"}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.runs):
                seed = a.first_seed + i
                runs.append(one(w, seed, spec["run_seconds"]))
                print(f"{w} set {s + 1} seed {seed}: " + json.dumps(
                    {k: round(v["value"], 4) for k, v in runs[-1]["metrics"].items()}),
                    flush=True)
            sets.append(runs)
        for s, runs in enumerate(sets):
            share = {(r["failed"], r["attempted"]) for r in runs}
            ok &= all(r["correct"] for r in runs)
            print(f"{w} set {s + 1}: failed/attempted {sorted(share)}")
            for name, bound in bounds.items():
                med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in runs])
                steady = spread < bound / 3
                ok &= steady
                print(f"  {name:12s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                      f"spread {spread:6.3f}  bound {bound}  {'ok' if steady else 'WIDE'}")
        if a.sets == 2:
            ratios = [{r["failed"] / r["attempted"] for r in runs} for runs in sets]
            same = len(ratios[0] | ratios[1]) == 1
            ok &= same
            print(f"{w}: failed share identical across sets: {same}")
            for name, bound in bounds.items():
                m1 = statistics.median([r["metrics"][name]["value"] for r in sets[0]])
                m2 = statistics.median([r["metrics"][name]["value"] for r in sets[1]])
                worse = (m1 - m2) / m1 if name in higher else (m2 - m1) / m1
                fine = worse <= bound
                ok &= fine
                print(f"  {name:12s} set1 {m1:12.4f}  set2 {m2:12.4f}  "
                      f"worse by {worse:+.3f}  bound {bound}  {'ok' if fine else 'MOVED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
