"""Fast self-check of the benchmark harness on fixture-sized (sf0.001) inputs.

    python3 perfbench/run.py --self-check

1. Outside a checkout (a directory holding only BENCHMARK.json and
   perfbench/), run.py must fail without printing a result line.
2. Every workload, untraced, on --tiny inputs for 2 seconds: the result
   line has exactly the contract's keys, every end-to-end metric of
   BENCHMARK.json with its unit, and a correct run.
3. One traced run: every per-layer metric of BENCHMARK.json is present.
"""
import json
import os
import shutil
import subprocess
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def last_json(stdout):
    lines = [l for l in stdout.strip().splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def main(python, run_py):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []

    scratch = os.path.join(os.environ.get("CARGO_TARGET_DIR") or
                           os.path.join(ROOT, ".bench_build"), "selfcheck")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        r = subprocess.run([python, "perfbench/run.py", "--workload", "etl_scan",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=170)
        if r.returncode == 0 or last_json(r.stdout):
            problems.append("run outside a checkout did not fail cleanly")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    def run(workload, trace):
        r = subprocess.run([python, run_py, "--workload", workload, "--seed", "7",
                            "--seconds", "2", "--trace", str(trace), "--tiny"],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        res = last_json(r.stdout) if r.returncode == 0 else None
        if res is None:
            problems.append(f"{workload} trace={trace}: no result (rc {r.returncode})\n"
                            + r.stderr[-2000:])
            return
        want = bench["per_layer"] if trace else bench["end_to_end"]
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"{workload}: result keys {sorted(res)}")
        if set(res["metrics"]) != {m["name"] for m in want}:
            problems.append(f"{workload} trace={trace}: metric names differ from BENCHMARK.json")
        for m in want:
            got = res["metrics"].get(m["name"], {})
            if got.get("unit") != m["unit"]:
                problems.append(f"{workload}: {m['name']} unit {got.get('unit')}")
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            problems.append(f"{workload} trace={trace}: correct={res['correct']} "
                            f"attempted={res['attempted']} failed={res['failed']}")
        print(f"self-check {workload} trace={trace}: ok={res['correct']} "
              f"attempted={res['attempted']}", flush=True)

    for w in ["etl_scan", "vector_serve", "curation", "ingest_cdc"]:
        run(w, 0)
    run("etl_scan", 1)
    for p in problems:
        print("SELF-CHECK PROBLEM:", p)
    print("self-check", "FAILED" if problems else "passed")
    return 1 if problems else 0
