#!/usr/bin/env python3
"""Layered benchmark of the FA ETL pipeline and the operator library.

Run from the repository root:

    python3 perfbench/run.py --workload fa_etl --seed 1 --seconds 8 --trace 0

One run builds the program if needed (sbt, cached under .bench_build/),
generates the workload's inputs from the seed, runs the workload in one
fresh harness JVM (set-up, an untimed warm-up pass, then whole timed passes
until --seconds have elapsed and enough operations are timed), checks the
outputs against DuckDB, and
prints every metric with its unit. The last line of standard output is a
JSON object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. METRICS.md lists what each metric measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks
import tables

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("fa_etl", "relational_queries", "dedup_graph_queries")
HEAP = "4g"
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs(root):
    """Files whose content decides the build."""
    out = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(p for p in out if os.path.isfile(p))


def build(root):
    """Compiles the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise BenchError("run from the repository root: build.sbt and "
                         "src/main/scala/graft are missing")
    h = hashlib.sha256()
    for p in build_inputs(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cache = os.path.join(root, ".bench_build")
    # The stamp of the sources sbt compiled last, then the classpath: the
    # class directories hold only the last build, so no older one is reused.
    cp_file = os.path.join(cache, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            last, cp = (f.read().split("\n") + [""])[:2]
        if last == stamp:
            return cp
    os.makedirs(cache, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    with open(os.path.join(cache, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise BenchError(f"build failed (exit {p.returncode}); see .bench_build/build.log\n"
                         + p.stdout[-3000:])
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(f"{stamp}\n{lines[-1]}")
    return lines[-1]


def java_cmd(cp, work, main, args, heap=HEAP):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", *opens, f"-Xms{heap}", f"-Xmx{heap}",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "-cp", cp, main, *args])


def run_jvm(cmd, work, name, timeout):
    with open(os.path.join(work, f"{name}.log"), "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=lf,
                               text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{name} JVM did not finish within {timeout:.0f} s")
    if p.returncode != 0:
        with open(os.path.join(work, f"{name}.log")) as f:
            tail = f.read()[-4000:]
        raise BenchError(f"{name} JVM exited with {p.returncode}:\n{tail}")
    return p.stdout


def quantile(xs, q):
    """Linear-interpolated quantile (xs non-empty)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build(root)
    run_start = time.time()

    work = os.path.join(root, ".bench_run", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    if a.workload == "fa_etl":
        run_jvm(java_cmd(cp, work, "perfbench.FaCorpus", [
            os.path.join(work, "fa"), str(a.seed), str(cores)], heap="2g"),
            work, "generator", 60)
    else:
        tables.generate(os.path.join(work, "tables"), a.seed)
    log(f"inputs generated in {time.time() - run_start:.1f} s")

    remaining = RUN_LIMIT_S - (time.time() - run_start)
    run_jvm(java_cmd(cp, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--cores", str(cores)]), work, "harness", remaining - 10)
    with open(os.path.join(work, "harness.log")) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                print(line, end="", file=sys.stderr)
    with open(os.path.join(work, "result.json")) as f:
        r = json.load(f)
    setup = r["setup"]
    log(f"harness JVM done at {time.time() - started:.1f} s: set-up "
        f"{setup['setup_s']:.1f} s, warm-up {r['warmup_s']:.1f} s, "
        f"timed {r['timed_s']:.1f} s, passes "
        + " ".join(f"{w:.2f}" for w in r["untraced_wall_s"]))

    runs, errors = r["op_runs"], r["op_errors"]
    if a.workload == "fa_etl":
        fa = os.path.join(work, "fa")
        status = {"fa.Pipeline.run": checks.check_fa(
            os.path.join(fa, "raw"), os.path.join(work, "check_text"),
            os.path.join(fa, "pass0", "unified", "merged.parquet"))}
        # Absent from the runs when it hit the known defect (reported below).
        if "fa.Pipeline.run[damaged_keys]" in runs:
            status["fa.Pipeline.run[damaged_keys]"] = checks.check_fa(
                os.path.join(fa, "keys", "raw"), os.path.join(work, "check_keys"),
                os.path.join(fa, "keys_pass", "unified", "merged.parquet"))
    else:
        status = checks.check_queries(os.path.join(work, "tables"),
                                      os.path.join(work, "out"))
    wrong = [n for n in runs if not status.get(n, "").startswith("OK")]
    attempted = sum(runs.values())
    failed = sum(errors.values()) + sum(runs[n] - errors.get(n, 0) for n in wrong)
    for n in sorted(status):
        log(f"check {n}: {status[n]}")
    for d in r["known_defects"]:
        log(f"KNOWN DEFECT, not counted in failed (see METRICS.md): {d}")

    wall = statistics.median(r["untraced_wall_s"])
    lat = r["op_latency_s"] or [wall]
    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": wall,
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "input_rows_per_s": r["input_rows_per_pass"] / wall,
        "output_bytes_per_input_byte":
            r["output_bytes_per_pass"] / max(1, r["input_bytes_per_pass"]),
        "peak_rss_mb": r["peak_rss_mb"],
        "failed_frac": failed / max(1, attempted),
    }
    layers = dict(r["layers"])
    layers["GraftSession.build_s"] = setup["build_s"]
    layers["GraftSession.warm_job_s"] = setup["warm_job_s"]
    layers["jvm.peak_rss_mb"] = r["peak_rss_mb"]

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(peak_rss_mb="MB", failed_frac="ratio")
    print(f"workload {a.workload} seed {a.seed}: {len(r['untraced_wall_s'])} timed "
          f"passes, {len(r['traced_wall_s'])} traced, {len(lat)} operation "
          f"latencies, {failed} of {attempted} operations failed, local[{cores}], "
          f"heap {r['heap_mb']:.0f} MB, {time.time() - started:.1f} s total")
    for d in r["known_defects"]:
        print(f"  known defect, not counted in failed: {d}")
    for k, v in e2e.items():
        print(f"  {k:<40} {v:>16.6g} {units.get(k, '')}")
    if a.trace:
        for k in sorted(layers):
            print(f"  {k:<40} {layers[k]:>16.6g} {units.get(k, '')}")
        spans = os.path.join(root, ".bench_run", "spans")
        os.makedirs(spans, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
            spans, f"{a.workload}-s{a.seed}.jsonl"))

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in names}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"ERROR: {e}")
        sys.exit(2)
