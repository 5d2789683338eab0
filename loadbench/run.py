#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 loadbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0
    python3 loadbench/run.py --self-test

Run from the root of a checkout. The first call compiles the library and the
benchmark (see build.py); later calls reuse the classes while the sources are
unchanged. Scratch data, logs and per-run records go to `.bench_work/`.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

# The JVM of one run is stopped after this long; the build and class-data
# archive that the first run in a checkout makes come on top of it.
RUN_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


# Layers a workload never calls. Its traced runs report 0 for their per-layer
# metrics, so that every run prints the manifest's whole per-layer set.
IDLE_LAYERS = {
    "dashboard": ("ingest.", "compact.", "text.", "dedup.", "sim.", "pipeline.", "curation."),
    "ingest_mixed": ("server.", "promql.", "text.", "dedup.", "sim.", "pipeline.", "curation."),
    "curation": ("server.", "promql.", "engine.", "prune.", "catalog.", "format.", "ingest.",
                 "compact."),
}


def manifest_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json lists for this kind of run."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        m = json.load(f)
    return [(x["name"], x["unit"]) for x in m["per_layer" if trace else "end_to_end"]]


def conform(metrics, workload, trace):
    """The run's metrics in manifest order, idle layers filled in with 0; an
    error string if a metric is unknown, has the wrong unit or is missing."""
    want = manifest_metrics(trace)
    units = dict(want)
    for name, m in metrics.items():
        if units.get(name) != m["unit"]:
            return None, f"metric {name} ({m['unit']}) is not in BENCHMARK.json with that unit"
    out = {}
    for name, unit in want:
        if name in metrics:
            out[name] = metrics[name]
        elif trace and name.startswith(IDLE_LAYERS[workload]):
            out[name] = {"value": 0.0, "unit": unit}
        else:
            return None, f"workload {workload} did not report metric {name}"
    return out, None


def java_cmd(cp):
    """A function (extra JVM flags, main class, args) -> command line."""
    tmp = os.path.join(build.ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return lambda flags, main, args: [
        "java", "-Xms4g", "-Xmx4g", "-Xmn512m", "-XX:+UseG1GC", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
        "-Dsun.net.httpserver.nodelay=true", *flags, "-cp", cp, main, *args]


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, "timed out"
    return proc.returncode, out.decode("utf-8", "replace")


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    cp, stamp = build.build(tests=a.self_test)
    java = java_cmd(cp)
    work = os.path.join(build.ROOT, ".bench_work")
    logs = os.path.join(work, "logs")
    os.makedirs(logs, exist_ok=True)
    if a.self_test:
        log = os.path.join(logs, "self-test.log")
        code, out = run_jvm(java([], "loadbench.SelfTest", []), log, RUN_TIMEOUT_S)
        sys.stdout.write(out or "")
        if code != 0:
            sys.stderr.write(tail(log))
            sys.exit(1)
        return

    jsa = build.class_archive(cp, stamp, java)
    flags = [f"-XX:SharedArchiveFile={jsa}"] if jsa else []
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    code, out = run_jvm(java(flags, "loadbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work]), log, RUN_TIMEOUT_S)
    lines = (out or "").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    why = out if code is None else f"exit {code}"
    ok = (code == 0 and isinstance(result, dict)
          and set(result) == {"correct", "attempted", "failed", "metrics"})
    if ok:
        result["metrics"], err = conform(result["metrics"], a.workload, a.trace)
        if err:
            why, ok = err, False
    for line in lines[:-1] if ok else lines:
        print(line, file=sys.stderr)
    if not ok:
        print(f"loadbench: run failed ({why}); log {os.path.relpath(log, build.ROOT)}:",
              file=sys.stderr)
        sys.stderr.write(tail(log))
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
