#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload ingest|serve|gate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the benchmark (the engine's
sources plus perfbench/src) with sbt when the build is missing or older
than any source, runs one workload in a fresh JVM, and prints the result
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1
the per_layer ones and writes the run's spans to perfbench/.traces/.
Every file a run writes lands in perfbench/.runs/<id>/, which is removed
when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
RUNS = os.path.join(HERE, ".runs")
TRACES = os.path.join(HERE, ".traces")
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "-Xmx3g"

# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = os.path.getmtime(os.path.join(HERE, "build.sbt"))
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for dirpath, _, files in os.walk(top):
            if os.sep + "target" in dirpath:
                continue
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    print("perfbench: building with sbt", file=sys.stderr)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"]
    try:
        rc = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=BUILD_TIMEOUT_S).returncode
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}", 3)
    if rc != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed (sbt exit {rc})", 3)


def clear_stale_runs():
    """Removes run dirs left by runs that were killed."""
    if not os.path.isdir(RUNS):
        return
    for d in os.listdir(RUNS):
        pid = d.split("-")[0]
        try:
            os.kill(int(pid), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)
        except PermissionError:
            pass


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def result_line(raw, trace, workload):
    """The launcher's result from the JVM's line: metrics named and
    united as in BENCHMARK.json. An end-to-end metric must be measured,
    unless the run is incorrect (its ops failed: it reads 0); a per-layer
    metric the workload never reached (it bypasses that layer) reads 0."""
    e2e_spec, layer_spec = metric_specs()
    spec = layer_spec if trace else e2e_spec
    got = raw["layers"] if trace else raw["e2e"]
    known = {m["name"] for m in spec}
    unknown = sorted(set(got) - known)
    if unknown:
        die(f"workload {workload} reports metrics missing from BENCHMARK.json: {unknown}", 5)
    metrics = {}
    for m in spec:
        v = got.get(m["name"])
        if v is None and not trace and raw["correct"]:
            die(f"end-to-end metric {m['name']} not measured", 5)
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    return {"correct": raw["correct"], "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "gate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
            "run from the root of a full checkout", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH", 2)
    build()
    clear_stale_runs()

    run_dir = os.path.join(RUNS, f"{os.getpid()}-{int(time.time())}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(TRACES, exist_ok=True)
    trace_out = os.path.join(TRACES, f"{args.workload}-seed{args.seed}.jsonl")
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--scratch", run_dir, "--data", os.path.join(HERE, "data"),
              "--trace-out", trace_out])
    # Spark's own directory settings must not send files out of the run dir.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS", "SPARK_CONF_DIR")}

    proc = None

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stderr=sys.stderr, text=True)
        try:
            out, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload did not finish within {JAVA_TIMEOUT_S} s", 4)
        if proc.returncode != 0:
            die(f"workload exited with {proc.returncode}", 4)
        lines = [l for l in out.splitlines() if l.strip()]
        if not lines:
            die("workload printed no result", 4)
        raw = json.loads(lines[-1])
        print("detail: " + json.dumps(raw["detail"], sort_keys=True))
        print(json.dumps(result_line(raw, args.trace == 1, args.workload)))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
