#!/usr/bin/env python3
"""Run one layerbench workload and print its metrics.

    python3 layerbench/run.py --workload portfolio_api --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline), later runs reuse the build until a
source file changes. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics: the end_to_end metrics of
BENCHMARK.json with --trace 0, its per_layer metrics with --trace 1 (0 where a
metric does not exist on the workload). The line before it is the run's full
report: every metric the workload has, its sizes and the host-noise labels.
Exit status is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "layerbench.stamp")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
TRACES = os.path.join(HERE, "traces")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("portfolio_api", "table_lifecycle", "llm_batch")
CORES = 4
# A fixed heap, as a deployment sets one: a heap that grows with demand
# collects more often, and at times set by G1's pause-time heuristics,
# which spreads the latencies. Memory is measured as live heap after
# collections (heap_live_peak_mb), not as resident size, which a fixed
# heap pins near HEAP.
HEAP = "2g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


CHILD = None  # the build or the benchmark JVM, whichever is running


def start(cmd, **kw):
    """Start a child in its own process group, so that stopping it also
    stops whatever it started (sbt's launcher starts a JVM)."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    return CHILD


def stop_child():
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


class Stopped(Exception):
    """Raised by the signal handler; main's caller stops the child."""


def on_signal(*_):
    raise Stopped()


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (LIB_SRC, BENCH_SRC):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}; "
             "run from the root of a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"{SPARK_JARS} not found")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["clean", "compile"]
    env = dict(os.environ, COURSIER_MODE="offline")
    # outside target/, which the build's clean step deletes
    log = os.path.join(HERE, "build.log")
    with open(log, "w") as out:
        rc = start(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT).wait()
    if rc != 0 or not os.path.isdir(CLASSES):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); full log in {os.path.relpath(log, ROOT)}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    build()

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = min(CORES, os.cpu_count() or 1)
    jvm = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [
        # the library's optimizer rules and SQL functions, as a deployment
        # injects them; GraftSession.local picks spark.* system properties up
        "-Dspark.sql.extensions=graft.GraftExtensions",
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", f"{CLASSES}{os.pathsep}{SPARK_JARS}/*",
        "layerbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--work", work,
    ]
    proc = start(jvm, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(TRACES, exist_ok=True)
        shutil.move(spans, os.path.join(TRACES, f"{args.workload}_seed{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        report = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stdout.write(out)
        fail(f"benchmark JVM did not end with its report (exit {proc.returncode})")
    result = contract_line(report, args.trace)
    print("\n".join(lines))
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


def contract_line(report, trace):
    """The metrics BENCHMARK.json names for this mode, taken from the report."""
    with open(SPEC) as fh:
        spec = json.load(fh)
    have = report["metrics"]
    metrics = {}
    if trace:
        for m in spec["per_layer"]:
            metrics[m["name"]] = have.get(m["name"], {"value": 0.0, "unit": m["unit"]})
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in have]
        if missing:
            fail(f"report lacks end-to-end metrics {missing}")
        metrics = {m["name"]: have[m["name"]] for m in spec["end_to_end"]}
    return {"correct": bool(report["correct"]), "attempted": int(report["attempted"]),
            "failed": int(report["failed"]), "metrics": metrics}


if __name__ == "__main__":
    try:
        main()
    except Stopped:
        stop_child()
        sys.exit(1)
