#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest|curate|stream --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

The run builds the program from source if needed (`build.py`), generates
its inputs from the seed (`gen.py`), starts one JVM with one local Spark
session running the harness (`harness/`), checks every output the timed
rounds left against DuckDB running the program's oracle SQL (`check.py`),
and prints one JSON object as the last line of standard output:
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Everything it writes goes under `.bench_build/` of the checkout.

`--seconds` defaults to `run_seconds` of BENCHMARK.json. A run whose
outputs fail a check prints `"correct": false` and exits with code 1.

`--self-test` runs all three workloads on small inputs for a few seconds
each, checks included, and exits non-zero if any output is wrong.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
SETUP_REPS = 3
JVM_HEAP = "3g"
TIME_LIMIT_S = 170

# Rounds per run: `warmup` untimed rounds (the JIT's steep part, see
# README), then timed rounds for --seconds, at least `timed_min` and at most
# `timed_max` of them, then (traced runs only) `traced` rounds with tracing
# on. A stream round uses up one drop, so the pool holds one drop for every
# round a run can make, the traced ones included.
ROUNDS = {"ingest": dict(warmup=1, timed_min=1, timed_max=4, traced=1),
          "curate": dict(warmup=1, timed_min=1, timed_max=4, traced=1),
          "stream": dict(warmup=2, timed_min=4, timed_max=4, traced=2)}
POOL = ROUNDS["stream"]["warmup"] + ROUNDS["stream"]["timed_max"] + ROUNDS["stream"]["traced"]

# Input sizes per workload. The heavy documents pass the skew salter's
# threshold, so only the ingest table carries them (see README: the DuckDB
# text oracles cannot check a 50,000-word document); `lookups` point
# lookups follow each ingest round.
SIZES = {
    "ingest": dict(docs=5000, heavy=1, vecs=400, lookups=12, drops=0),
    "curate": dict(docs=1000, heavy=0, vecs=400, lookups=0, drops=0),
    "stream": dict(docs=250 * POOL, heavy=0, vecs=200, lookups=0, drops=POOL),
}
SELF_TEST_SIZES = {
    "ingest": dict(docs=600, heavy=1, vecs=100, lookups=3, drops=0),
    "curate": dict(docs=300, heavy=0, vecs=200, lookups=0, drops=0),
    "stream": dict(docs=400, heavy=0, vecs=100, lookups=0, drops=POOL),
}

# Spark 4 on JDK 17 outside spark-submit (as in the project's build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "op_p50_ms": "ms",
              "cpu_ms_per_doc": "ms/doc"}
# the operation whose latency is op_p50_ms
OP_SAMPLES = {"ingest": "lookup_ms", "curate": "query_ms", "stream": "drop_ms"}


def log(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.stderr.flush()


def cpu_times():
    """Host-wide CPU time counters (the `cpu` line of /proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of host CPU time the hypervisor took (steal) between two reads."""
    if not before or not after or len(before) < 8:
        return None
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def generate(input_dir, seed, size, oracle_sql):
    """Generate the inputs SETUP_REPS times; check they are byte-identical;
    return the median time."""
    times, digests = [], set()
    for _ in range(SETUP_REPS):
        shutil.rmtree(input_dir, ignore_errors=True)
        t0 = time.perf_counter()
        summary = gen.write_inputs(input_dir, seed, size["docs"], size["heavy"],
                                   size["vecs"], size["drops"], oracle_sql["synth_spans"])
        if size["lookups"]:
            # heavy documents are checked by a property, not the oracle
            rng = np.random.default_rng(seed + 31)
            ids = rng.choice(np.setdiff1d(np.arange(size["docs"]), summary["heavy_ids"]),
                             size["lookups"], replace=False)
            with open(os.path.join(input_dir, "lookup_ids.txt"), "w") as fh:
                fh.write("".join(f"doc-{int(i):08d}\n" for i in ids))
        times.append(time.perf_counter() - t0)
        digests.add(gen.digest(input_dir))
    if len(digests) != 1:
        raise SystemExit("perfbench: the same seed gave different inputs")
    return statistics.median(times), summary


def run_harness(cp, workload, input_dir, work, seconds, trace, deadline, cores):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
           "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--input", input_dir, "--work", work,
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--cores", str(cores), "--result", result,
           "--launch-ms", str(int(time.time() * 1000)),
           *[x for k, v in ROUNDS[workload].items()
             for x in (f"--{k.replace('_', '-')}", str(v))]]
    with open(os.path.join(work, "harness.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness ran past the time limit")
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(result) as fh:
        return json.load(fh)


def end_to_end(workload, res, gen_s):
    nums, lists = res["nums"], res["lists"]
    setup = gen_s + nums["session_s"] + nums["prep_s"] + nums.get("plan_s", 0.0)
    return {
        "setup_s": setup,
        "docs_per_s": statistics.median(lists["docs_per_s"]),
        "op_p50_ms": statistics.median(lists[OP_SAMPLES[workload]]),
        "cpu_ms_per_doc": statistics.median(lists["cpu_ms_per_doc"]),
    }


def per_layer(res, layer_units):
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    nums = res["nums"]
    return {name: float(nums.get(name, 0.0)) for name in layer_units}


def one_run(workload, seed, seconds, trace, sizes, cores=None):
    cores = cores or min(4, os.cpu_count() or 1)
    start = time.time()
    deadline = start + TIME_LIMIT_S
    cp = build.build()
    work = os.path.join(ROOT, ".bench_build", "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    input_dir = os.path.join(work, "input")
    try:
        oracle_sql = check.load_oracle_sql(build.ORACLE_SQL)
        gen_s, summary = generate(input_dir, seed, sizes[workload], oracle_sql)
        t0, cpu0 = time.time(), cpu_times()
        res = run_harness(cp, workload, input_dir, work, seconds, trace, deadline, cores)
        harness_s, steal = time.time() - t0, steal_share(cpu0, cpu_times())
        landed = None
        if "landed_drops" in res["nums"]:
            drops = sorted(os.listdir(os.path.join(input_dir, "drops")))
            landed = np.concatenate([
                pd.read_parquet(os.path.join(input_dir, "drops", d), columns=["doc_id"])
                ["doc_id"].to_numpy() for d in drops[:int(res["nums"]["landed_drops"])]])
        checker = check.Checker(input_dir, oracle_sql, summary["heavy_ids"],
                                os.path.join(work, "tmp"), landed)
        t0 = time.time()
        failed, msgs = checker.run(res["checks"])
        log(f"harness {harness_s:.1f} s (finish {res['nums']['finish_s']:.1f} s), "
            f"checks {time.time() - t0:.1f} s, host CPU steal during the harness "
            f"{'unknown' if steal is None else f'{100 * steal:.1f} %'}")
        for m in msgs:
            log(f"check failed: {m}")
        last = os.path.join(ROOT, ".bench_build", "last")
        os.makedirs(last, exist_ok=True)
        shutil.copy(os.path.join(work, "result.json"), os.path.join(last, f"{workload}.json"))
        if trace:
            shutil.copy(os.path.join(work, "result.trace.json"),
                        os.path.join(last, f"{workload}.trace.json"))
        nums, lists = res["nums"], res["lists"]
        log(f"{workload} seed={seed} inputs={json.dumps(summary)}")
        log(f"warm-up rounds (s): {[round(x, 3) for x in lists['warmup_round_s']]}; "
            f"timed rounds (s): {[round(x, 3) for x in lists['timed_round_s']]}")
        log(f"op samples: {len(lists[OP_SAMPLES[workload]])} ({OP_SAMPLES[workload]})")
        if "stream_batches" in nums:
            log(f"micro-batches with input: {int(nums['stream_batches'])} "
                f"for {int(nums['landed_drops'])} drops into each tail")
        return res, gen_s, failed
    finally:
        shutil.rmtree(work, ignore_errors=True)
        log(f"run took {time.time() - start:.1f} s")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def self_test():
    ok = True
    for w in ("ingest", "curate", "stream"):
        res, gen_s, failed = one_run(w, 1, 1, False, SELF_TEST_SIZES)
        e2e = end_to_end(w, res, gen_s)
        good = failed == 0 and res["attempted"] > 0 and all(v > 0 for v in e2e.values())
        ok &= good
        print(f"self-test {w}: {'ok' if good else 'FAILED'} attempted={res['attempted']} "
              f"failed={failed} {json.dumps(e2e)}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, help="Spark local[N] (default: min(4, nproc))")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if not a.workload:
        ap.error("--workload is required")
    spec = load_spec()
    seconds = spec["run_seconds"] if a.seconds is None else a.seconds
    res, gen_s, failed = one_run(a.workload, a.seed, seconds, bool(a.trace), SIZES, a.cores)
    if a.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in per_layer(res, units).items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in end_to_end(a.workload, res, gen_s).items()}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
