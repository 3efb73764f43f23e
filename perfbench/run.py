#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <query_mix|stream_ingest|curation_step>
                             --seed <n> --seconds <s> --trace <0|1>
                             [--trace-out spans.jsonl]

Run it from the root of a checkout. The first run builds the engine and
the benchmark driver (sbt, once; the classpath is cached under
`.bench_build/`), later runs start the JVM directly on that classpath.
Inputs are generated from the seed (gen.py, cached per seed, never
inside the measured set-up), every run works in a fresh directory under
`.bench_build/runs/` that is removed at exit, the outputs are checked
against computations made apart from the engine (check.py), and the
last line of stdout is the result:

    {"correct": true, "attempted": n, "failed": n, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the run records spans and the metrics
are the per-layer ones (layers.py), and each layer's self time goes to
stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("query_mix", "stream_ingest", "curation_step")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same set to its forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every source the build reads, so an edited checkout
    rebuilds and an unchanged one never does."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build once per source state and return the benchmark's classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources next to the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine and driver with sbt (first run of this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {p.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


RUNNING = []     # the JVM of this run, stopped on SIGTERM too


def run_jvm(cp, workload, inputs, run_dir, seconds, trace, seed):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "derby"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby', 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", cp, "graft.perfbench.Main", workload, inputs,
                          run_dir, str(seconds), str(trace), str(seed)])
    out = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    RUNNING.append(proc)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = "timeout"
    finally:
        out.close()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            lines = f.read().splitlines()
        main_err = [i for i, l in enumerate(lines) if l.startswith('Exception in thread "main"')]
        for l in (lines[main_err[0]:main_err[0] + 12] if main_err else lines[-40:]):
            sys.stderr.write(l + "\n")
        raise SystemExit(f"perfbench: JVM failed ({rc})")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="also keep the span file here")
    a = ap.parse_args()

    t0 = time.time()
    cp = classpath()
    import check
    import gen
    import layers

    inputs = gen.ensure_inputs(os.path.join(BUILD, "inputs"), a.seed,
                               a.workload, a.seconds)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = os.path.join(runs, f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)

    def cleanup(*_):
        for p in RUNNING:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit(1)
    signal.signal(signal.SIGTERM, cleanup)
    try:
        t1 = time.time()
        res = run_jvm(cp, a.workload, inputs, run_dir, a.seconds, a.trace, a.seed)
        t2 = time.time()
        log("set-up: session %.2f s, repetitions %s s" % (
            res["session_s"], ", ".join("%.2f" % r for r in res["setup_reps_s"])))
        if "burst_batches" in res:
            log("burst drained in %s batches per query" % [int(b) for b in res["burst_batches"]])
        verdict = check.check(a.workload, inputs, run_dir, res)
        log("wall: build and inputs %.1f s, JVM %.1f s, checks %.1f s" % (
            t1 - t0, t2 - t1, time.time() - t2))
        if a.trace:
            spans = layers.load(os.path.join(run_dir, "spans.jsonl"))
            metrics = layers.metrics(a.workload, spans, res)
            layers.print_self_times(spans)
            log("traced latency_p50_ms %.1f (tracing overhead: compare with --trace 0)"
                % res["latency_p50_ms"])
            if a.trace_out:
                shutil.copy(os.path.join(run_dir, "spans.jsonl"), a.trace_out)
        else:
            metrics = check.end_to_end(a.workload, inputs, res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": verdict["correct"],
                      "attempted": verdict["attempted"],
                      "failed": verdict["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
