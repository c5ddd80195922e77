#!/usr/bin/env python3
"""The graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-check

Run from the repository root. A run
  1. builds the engine and the harness from source (once per source
     state; outputs under $CARGO_TARGET_DIR, default .bench_build/),
  2. generates the workload's inputs from the seed (perfbench/gen.py) and
     reads them once so they sit in the page cache,
  3. runs the Scala harness in a fresh JVM with its own java.io.tmpdir and
     spark.local.dir (set-up, then a closed loop for --seconds),
  4. checks every output outside the timed region (DuckDB twins, brute-
     force cosine top-10, ingest end state),
  5. prints each metric with unit and direction, then one JSON line:
     {"correct", "attempted", "failed", "metrics"} — end-to-end metrics
     with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ["etl_scan", "curation", "vector_serve", "ingest_cdc"]
RUN_TIMEOUT_S = 165

# (name, unit, better) — must match BENCHMARK.json
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("lat_p50_ms", "ms", "lower"),
    ("rss_peak_mb", "MB", "lower"),
]
KERNELS = ["minhash_sigs", "shingles3", "word_fingerprint", "cdc_starts",
           "digests60", "cosine_sim", "pq_adc_dist", "collect_topk"]
# the packs of the etl_scan query list, timed on every workload's inputs
PACKS = ["RelationalQueries", "WindowQueries", "ExtQueries", "AnalyticsQueries"]
PER_LAYER = (
    [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.driver_ms", "ms"), ("spark.task_ms", "ms"), ("spark.task_cpu_ms", "ms"),
     ("spark.task_wait_ms", "ms"), ("spark.busy_share", "share"),
     ("spark.input_bytes", "bytes"), ("spark.input_rows", "rows"),
     ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
     ("spark.spill_bytes", "bytes"), ("spark.gc_ms", "ms"),
     ("spark.failed_tasks", "count")]
    + [(f"queries.{p}.ms", "ms") for p in PACKS]
    + [("tables.scan_ms", "ms"), ("tables.scan_rows_per_s", "rows/s"),
       ("plans.asof_ms", "ms"), ("plans.range_ms", "ms")]
    + [(f"expressions.{k}.rows_per_s", "rows/s") for k in KERNELS]
    + [("streaming.serve.hamming.ms", "ms"), ("streaming.serve.graph.ms", "ms"),
       ("streaming.serve.hnsw.ms", "ms"), ("streaming.serve.index_read_ms", "ms"),
       ("streaming.serve.scored_per_query", "rows"),
       ("streaming.serve.index_files", "count"),
       ("streaming.serve.recall_at_10", "share")]
    + [(f"streaming.ingest.{p}_ms", "ms") for p in
       ["gate", "band_append", "annidx_append", "graph_append", "delete", "compact"]]
    + [("streaming.ingest.loop.ms", "ms"), ("streaming.ingest.keep_share", "share"),
       ("streaming.ingest.write_amp", "ratio"), ("streaming.ingest.docs_per_s", "docs/s"),
       ("host.steal_ticks", "ticks"), ("host.load1", "load"),
       ("trace.overhead_pct", "%")])
HIGHER = {"tables.scan_rows_per_s", "spark.busy_share", "streaming.serve.recall_at_10",
          "streaming.ingest.docs_per_s"} | {f"expressions.{k}.rows_per_s" for k in KERNELS}

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                           os.path.join(ROOT, ".bench_build"))


def source_stamp():
    h = hashlib.sha256()
    files = []
    for pat in ["perfbench/build.sbt", "perfbench/project/*.properties",
                "perfbench/src/**/*.scala", "src/main/**/*.scala", "src/main/**/*.java"]:
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state and dump a class-data
    sharing archive of one short tiny run, so every run's JVM maps the Spark
    and engine classes instead of loading them. Returns the classpath."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_TARGET=os.path.join(out, "sbt-target"),
               SBT_OPTS="-Dsbt.override.build.repos=true "
                        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                        " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    # class-data sharing needs jars, not a class directory, on the classpath
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "package", "export Runtime/fullClasspathAsJars"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, timeout=800)
    cps = [l for l in r.stdout.splitlines() if "sbt-target" in l and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    cp = cps[-1].strip()
    log(f"built engine + harness in {time.time() - t0:.0f} s")
    jsa = os.path.join(out, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    t0 = time.time()
    run_dir = os.path.join(out, "runs", "archive")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    gen.main("etl_scan", 0, data, tiny=True)
    # a failed dump fails the build: no stamp is written, so no run of this
    # source state starts its JVM without the archive
    try:
        run_harness(cp, "etl_scan", data, os.path.join(run_dir, "out"), 1, 0,
                    os.cpu_count() or 1, run_dir, [f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(jsa):
        raise SystemExit("class-data archive was not written")
    log(f"class-data archive in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def prewarm(d):
    for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        with open(f, "rb") as fh:
            while fh.read(1 << 20):
                pass


def run_harness(cp, workload, data, out, seconds, trace, cores, run_dir, jvm=None):
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    mem = "3g"  # fixed heap (-Xms = -Xmx): steadier GC and peak RSS
    if jvm is None:
        jvm = [f"-XX:SharedArchiveFile={os.path.join(build_dir(), 'classes.jsa')}"]
    cmd = (["java", "-cp", cp, f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UseParallelGC"] + jvm + ADD_OPENS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "graft.perfbench.Harness", workload, data, out, str(seconds),
            str(trace), str(cores)])
    logf = open(os.path.join(run_dir, "harness.log"), "w")
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = -9
    logf.close()
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness exited with {rc}")
    with open(res) as f:
        return json.load(f)


def pct(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


def run(workload, seed, seconds, trace, tiny=False):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources not found: run from the repository root")
    cp = build()
    run_dir = os.path.join(build_dir(), "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    try:
        sizes = gen.main(workload, seed, data, tiny=tiny)
        prewarm(data)
        cores = os.cpu_count() or 1
        r = run_harness(cp, workload, data, out, seconds, trace, cores, run_dir)
        wrong_ops, facts, probe_bad = checks.check(workload, data, out, r)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = r["samples"] + r["untraced_samples"]
    failed = sum(1 for s in samples if not s["ok"] or s["op"] in wrong_ops)
    attempted = len(samples)
    ms = [s["ms"] for s in r["samples"]]
    e2e = {
        "setup_s": r["session_s"] + statistics.median(r["setup_reps_s"]),
        "pass_s": statistics.median(r["passes_s"]) if r["passes_s"] else 0.0,
        "lat_p50_ms": statistics.median(ms) if ms else 0.0,
        "rss_peak_mb": r["rss_peak_mb"],
    }
    by_name = {}
    for s in r["samples"]:
        by_name.setdefault(s["name"], []).append(s["ms"])
    info = {
        "error_rate": failed / max(attempted, 1),
        "ops_per_s": len(ms) / r["measure_s"] if r["measure_s"] else 0.0,
        "lat_p90_ms": pct(ms, 0.9) if len(ms) >= 100 else None,
        "lat_p50_ms_by_op": {n: statistics.median(v) for n, v in sorted(by_name.items())},
        "n_ops": len(ms), "passes_s": r["passes_s"],
        "setup_reps_s": r["setup_reps_s"], "session_s": r["session_s"],
        "setup_parts_s": r["setup_parts_s"],
        "host.steal_ticks": r["layers"].get("host.steal_ticks"),
        "host.load1": r["layers"].get("host.load1"),
        **r["info"], **facts,
    }
    layers = dict(r["layers"], **r["info"])
    if "streaming.serve.recall_at_10" in facts:
        layers["streaming.serve.recall_at_10"] = facts["streaming.serve.recall_at_10"]

    print(f"# workload {workload} seed {seed}: sizes {json.dumps(sizes)}")
    print(f"# checks {json.dumps(info)}")
    if trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
        for n, u in PER_LAYER:
            print(f"{n:40s} {metrics[n]['value']:14.4f} {u:7s} "
                  f"({'higher' if n in HIGHER else 'lower'} is better)")
        extra = {n: v for n, v in layers.items() if n not in metrics}
        if extra:
            print(f"# other layers {json.dumps(extra)}")
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u, _ in END_TO_END}
        for n, u, b in END_TO_END:
            print(f"{n:40s} {e2e[n]:14.4f} {u:7s} ({b} is better)")
        # printed, not gated (see perfbench/README.md)
        print(f"{'error_rate':40s} {info['error_rate']:14.4f} share   (lower is better)")
        print(f"{'ops_per_s':40s} {info['ops_per_s']:14.4f} 1/s     (higher is better)")
        if "streaming.serve.recall_at_10" in facts:
            print(f"{'recall_at_10':40s} {facts['streaming.serve.recall_at_10']:14.4f} "
                  f"share   (higher is better)")
    print(json.dumps({"correct": failed == 0 and not probe_bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="fixture-sized inputs (the sf0.001 shape)")
    ap.add_argument("--self-check", action="store_true",
                    help="every workload untraced and etl_scan traced, on tiny inputs")
    a = ap.parse_args()
    if a.self_check:
        import selfcheck
        raise SystemExit(selfcheck.main(sys.executable, __file__))
    if not a.workload:
        ap.error("--workload is required")
    run(a.workload, a.seed, a.seconds, a.trace, tiny=a.tiny)


if __name__ == "__main__":
    main()
