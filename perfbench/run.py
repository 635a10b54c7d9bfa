#!/usr/bin/env python3
"""Customer360 benchmark: one command, four workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark driver from source (sbt); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from --seed, launches
the driver JVM in a fresh directory under .bench_build/perfbench/runs, checks
every output in DuckDB outside the timed window, removes the run directory,
and prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics (see README.md).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER = os.path.join(HERE, "driver")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
DOCS = os.path.join(HERE, "data", "sf0.1", "documents.parquet")
QUERIES = os.path.join(HERE, "registry_slice.txt")
DRIVER_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

WORKLOADS = ["customer360_etl", "query_registry", "stream_ingest"]
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_mean_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "pipeline.build_ms": "ms", "pipeline.jobs": "count", "pipeline.stages": "count",
    "sources.scan_ms": "ms", "sources.input_bytes": "bytes",
    "sources.sink_ms": "ms", "sources.output_bytes": "bytes",
    "tables.read_ms": "ms", "tables.read_jobs": "count",
    "operators.content_type_map_ms": "ms", "operators.pivot_daily_ms": "ms",
    "operators.profile_ms": "ms", "operators.top_keyword_ms": "ms",
    "operators.trend_ms": "ms", "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.executor_run_ms": "ms",
    "semantic.classify_ms": "ms", "semantic.distinct_keywords": "count",
    "semantic.rows_per_keyword": "ratio",
    "registry.construct_ms": "ms", "registry.construct_jobs": "count",
    "registry.analysis_ms": "ms", "registry.optimization_ms": "ms",
    "registry.planning_ms": "ms", "registry.exec_ms": "ms",
    "registry.exec_jobs": "count", "registry.exec_stages": "count",
    "registry.tasks": "count", "registry.executor_run_ms": "ms",
    "registry.task_idle_ms": "ms",
    "index.build_ms": "ms", "index.jobs": "count", "index.trained": "count",
    "index.adopted": "count",
    "streaming.seed_ms": "ms", "streaming.batch_jobs": "count",
    "streaming.batch_exec_ms": "ms", "streaming.task_idle_ms": "ms",
    "streaming.bytes_written": "bytes", "streaming.bloom_probes": "count",
    "streaming.exact_scans": "count",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    """Digest of every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(DRIVER, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(DRIVER, "build.sbt"), os.path.join(DRIVER, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build the program and the driver if their sources changed since the
    last build in this checkout; return the driver's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program sources (build.sbt, src/main) at %s" % ROOT)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=DRIVER, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed (sbt exit %d)" % p.returncode)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, input_dir):
    """Generate the run's inputs; returns (driver --input, facts)."""
    rng = random.Random(seed)
    if workload == "customer360_etl":
        rows = gen.interaction_logs(rng, os.path.join(input_dir, "interactions"))
        search_rows, labels = gen.search_logs(rng, os.path.join(input_dir, "search"))
        pq.write_table(pa.table({"keyword": list(labels), "category": list(labels.values())}),
                       os.path.join(input_dir, "labels.parquet"))
        return input_dir, {"rows": rows + search_rows}
    if workload == "stream_ingest":
        per_batch = gen.stream_batches(rng, DOCS, os.path.join(input_dir, "stream"))
        return input_dir, {"rows": per_batch}
    return SF_DIR, {}  # query_registry reads the fixed sf0.01 tables


# ------------------------------------------------------------------ check

def check(workload, input_dir, res):
    """Returns (number of failed checked operations, isolation ok, notes)."""
    c = res["check"]
    notes = []
    if workload == "customer360_etl":
        bad_a, n_a = checks.check_outputs(
            checks.profile_sql(os.path.join(input_dir, "interactions", "*.json")),
            c["outputs"]["profiles"])
        bad_b, n_b = checks.check_outputs(
            checks.trend_sql(os.path.join(input_dir, "search", "*", "*.parquet"),
                             os.path.join(input_dir, "labels.parquet")), c["outputs"]["trends"])
        notes.append("expected %d profile rows and %d trend rows" % (n_a, n_b))
        bad = bad_a + bad_b
        # an operation fails once, whichever of its two outputs is wrong
        return len({os.path.dirname(d) for d, _ in bad}), True, notes + [
            "%s: %s" % b for b in bad]
    elif workload == "query_registry":
        bad = oracle.check_registry(SF_DIR, c["oracle_sql"], c["outputs"].get("results", []),
                                    os.path.join(BUILD, "oracle_cache.json"))
        if c["missing_queries"]:
            notes.append("queries not in the registry: %s" % c["missing_queries"])
        if c["lazy_builds"]:
            notes.append("queries that built an index artifact: %s" % c["lazy_builds"])
        if "index_trained" in c:  # traced runs prebuild into a fresh catalog
            notes.append("index trained=%d adopted=%d of %d builders" % (
                c["index_trained"], c["index_adopted"], c["index_builders"]))
            if c["index_adopted"] != 0 or c["index_trained"] != c["index_builders"]:
                return len(bad), False, notes + ["index artifacts were not all built cold"]
    else:
        stream = os.path.join(input_dir, "stream")
        files = [os.path.join(stream, "seed.parquet")] + \
            [os.path.join(stream, b) for b in c["batches"]]
        bad, n = checks.check_stream(c["oracle_sql"], files, res["pairs_final"],
                                     res["pairs_replay"])
        notes.append("expected %d pairs touching %d batches" % (n, len(c["batches"])))
        if bad:  # the pair state cannot be attributed to one batch
            return sum(1 for o in res["ops"] if o["ok"]), True, notes + [
                "%s: %s" % b for b in bad]
    return len(bad), True, notes + ["%s: %s" % b for b in bad]


# ---------------------------------------------------------------- metrics

def percentile(xs, q):
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its driver JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    work = os.path.join(BUILD, "runs", "%s-s%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("input", "out", "catalog", "local", "tmp"):
        os.makedirs(os.path.join(work, d))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    proc = None
    try:
        t_gen = time.time()
        driver_input, facts = make_inputs(a.workload, a.seed, os.path.join(work, "input"))
        env = dict(os.environ, GRAFT_CATALOG_DIR=os.path.join(work, "catalog"),
                   SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        result_file = os.path.join(work, "result.json")
        # a heap sized up front keeps peak RSS repeatable; lower JIT
        # thresholds shorten the warm-up before steady code
        cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:CompileThresholdScaling=0.1",
               "-XX:ReservedCodeCacheSize=512m",
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dderby.system.home=" + work]
        for m in ADD_OPENS:
            cmd += ["--add-opens", m + "=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Driver", "--workload", a.workload,
                "--trace", str(a.trace), "--seconds", str(a.seconds),
                "--input", driver_input, "--out", os.path.join(work, "out"),
                "--result", result_file, "--queries", QUERIES,
                "--trace-file", os.path.join(traces, "%s-seed%d.json" % (a.workload, a.seed))]
        log_path = os.path.join(work, "driver.log")
        with open(log_path, "w") as log:
            t_launch = time.time()
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=DRIVER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0 or not os.path.exists(result_file):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail("driver %s" % ("timed out" if rc is None else "exited with %s" % rc))
        with open(result_file) as f:
            res = json.load(f)
        if a.workload == "stream_ingest":
            res["pairs_final"] = os.path.join(work, "out", "pairs_final")
            res["pairs_replay"] = os.path.join(work, "out", "pairs_replay")
        t_check = time.time()
        bad, isolated, notes = check(a.workload, os.path.join(work, "input"), res)
        t_done = time.time()
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    lat = [o["s"] for o in ops if o["ok"]]
    if not lat:
        fail("no operation succeeded: %s" % res["errors"][:3])
    for e in res["errors"]:
        print("error: " + e)
    for n in notes:
        print("check: " + n)
    failed = (len(ops) - len(lat)) + bad
    correct = bad == 0 and isolated
    summary = {
        "setup_s": res["first_op_epoch_s"] - t_launch,
        "op_p50_s": statistics.median(lat),
        "op_mean_s": statistics.fmean(lat),
        "peak_rss_mb": res["phase"]["vm_hwm_mb"],
    }
    # figures printed for reading only; BENCHMARK.json lists the metrics
    print("workload %s seed %d trace %d: %d operations, %d failed" % (
        a.workload, a.seed, a.trace, len(ops), failed))
    print("  run phases (s): inputs %.1f, driver %.1f, checks %.1f" % (
        t_launch - t_gen, t_check - t_launch, t_done - t_check))
    print("  wall_s %.4f s (timed phase)" % res["phase"]["wall_s"])
    print("  op latencies (s): " + " ".join("%.3f" % x for x in lat))
    if len(lat) >= 200:
        print("  op_p95_s %.4f s over %d operations" % (percentile(lat, 0.95), len(lat)))
    if facts.get("rows"):
        print("  input_rows_per_s %.1f rows/s" % (facts["rows"] * len(lat) / sum(lat)))
    for k, v in summary.items():
        print("  %s %.4f %s" % (k, v, END_TO_END[k]))
    if a.trace:
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        for k, m in metrics.items():
            print("  %s %.4f %s" % (k, m["value"], m["unit"]))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in summary.items()}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
