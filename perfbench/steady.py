#!/usr/bin/env python3
"""Steadiness record: run every workload N times with distinct seeds and
record each end-to-end metric's median, quartiles and spread.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--first-seed 1]
                                [--out perfbench/STEADINESS.json]
                                [--workloads etl_scan,vector_serve] [--traced]

Per workload: one discarded warm-up run (it also builds), then --sets sets
of --runs runs, every run with its own seed. Spread is (Q3 - Q1) / median
with Q1, Q3 from statistics.quantiles(n=4); a metric is steady when its
spread stays under a third of its bound in BENCHMARK.json, and two sets
agree when the second set's median is not worse than the first's by more
than the bound. Each run's host.steal_ticks and host.load1 are recorded
with it. Runs are sequential; one run at a time owns the machine.
--traced adds one traced run per workload to an existing record instead:
its per-layer metrics, including the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds, trace=0):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {r.returncode}")
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    # the run's host facts and printed-only numbers, from its "# checks" line
    checks = json.loads(next(l for l in lines if l.startswith("# checks "))[len("# checks "):])
    res["host"] = {k: checks.get(k) for k in
                   ["host.steal_ticks", "host.load1", "ops_per_s", "lat_p50_ms_by_op",
                    "streaming.serve.recall_at_10", "recall_at_10.hamming",
                    "recall_at_10.graph"] if k in checks}
    return res


def spread_stats(runs, bounds):
    stats = {}
    for m, bound in bounds.items():
        xs = [r[m] for r in runs]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("inf")
        stats[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                    "bound": bound, "steady": spread < bound / 3}
        print(f"  {m:14s} median {med:10.4f} q1 {q1:10.4f} q3 {q3:10.4f} "
              f"spread {spread:.4f} (bound {bound})", flush=True)
    return stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    if a.traced:
        record = json.load(open(a.out))
        for w in names:
            res = one(w, a.first_seed, bench["run_seconds"], trace=1)
            record["workloads"][w]["traced_run"] = {
                "seed": a.first_seed, "wall_s": round(res["wall_s"], 1),
                "correct": res["correct"],
                **{k: v["value"] for k, v in res["metrics"].items()}}
            print(f"{w} traced: overhead {res['metrics']['trace.overhead_pct']['value']:.1f} %",
                  flush=True)
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)
        return
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    record = {"runs_per_set": a.runs, "sets": a.sets, "run_seconds": bench["run_seconds"],
              "cores": os.cpu_count(), "workloads": {}}
    seed = a.first_seed
    for w in names:
        # one discarded run first: it builds, and the recorded runs start warm
        one(w, 0, bench["run_seconds"])
        sets = []
        for set_no in range(1, a.sets + 1):
            runs = []
            for _ in range(a.runs):
                res = one(w, seed, bench["run_seconds"])
                runs.append({"seed": seed, "wall_s": round(res["wall_s"], 1),
                             "correct": res["correct"], "attempted": res["attempted"],
                             "failed": res["failed"],
                             **{k: v["value"] for k, v in res["metrics"].items()},
                             **res["host"]})
                print(f"{w} seed {seed}: {json.dumps(runs[-1])}", flush=True)
                seed += 1
            print(f"{w} set {set_no}:", flush=True)
            sets.append({"runs": runs, "metrics": spread_stats(runs, bounds)})
        entry = {"sets": sets}
        if len(sets) > 1:
            # the second set's median may not be worse than the first's by more than the bound
            first, second = sets[0]["metrics"], sets[1]["metrics"]
            entry["second_vs_first"] = {}
            for m, bound in bounds.items():
                change = second[m]["median"] / first[m]["median"] - 1
                worse = change if better[m] == "lower" else -change
                entry["second_vs_first"][m] = {"change": change, "within_bound": worse <= bound}
                print(f"  {m:14s} second vs first median {change:+.4f} (bound {bound})",
                      flush=True)
        record["workloads"][w] = entry
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
