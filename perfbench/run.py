"""Benchmark command: runs one workload on the graft engine and its stock
Spark twin and prints every metric as the last line of stdout.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine (perfbench/build.py) and writes the 10x data replica; both are
reused afterwards and kept out of every timing. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones. Outputs are checked
on every run; a wrong or failed query makes the command exit 1.
PROTOCOL.md describes the workloads and the measurement protocol.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

# workload -> data it reads: the committed fixture, or its 10x replica
WORKLOADS = {"tpch": "x10", "iterative_lake": "fixture"}
CORES = 4
HEAP = "3g"
DEADLINE_S = 170
EXPECTED = os.path.join(HERE, "expected", "fingerprints.json")
# JDK 17 module opens that spark-submit would pass (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java(classes, work, args, timeout):
    """Runs perfbench.Main in a fresh JVM; returns its raw JSON record."""
    out = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    # no perf-data file: the JVM would write it under the system /tmp
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=1024m",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.lake.warehouse={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}", "perfbench.Main",
              "--out", out, "--cores", str(CORES)] + args)
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def prepare(classes, state, fixture, timeout):
    """Writes the 10x replica once per checkout."""
    data = os.path.join(state, "data")
    ready = os.path.join(data, "x10.ready")
    if os.path.exists(ready):
        return data
    work = os.path.join(state, "prepare")
    fresh_dir(work)
    fresh_dir(data)
    for d in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(work, d))
    rec = java(classes, work, ["--mode", "prepare", "--fixture", fixture, "--data", data,
                               "--work", work], timeout)
    with open(ready, "w") as f:
        json.dump(rec, f)
    shutil.rmtree(work, ignore_errors=True)
    return data


def state_dir(root):
    """The checkout's benchmark state: build, data and work directories."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    state = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(state, exist_ok=True)
    return state


def run_workload(root, workload, seed, seconds, trace, budget):
    """Builds if needed and runs one workload in a fresh JVM; returns the
    raw record. Runs in one checkout take turns on its state directory."""
    started = time.time()
    state = state_dir(root)
    with open(os.path.join(state, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fixture = os.path.join(HERE, "fixture")
        try:
            classes = build.build(root, state)
        except RuntimeError as e:
            fail(str(e))
        data = prepare(classes, state, fixture, 600)
        data_dir = fixture if WORKLOADS[workload] == "fixture" else os.path.join(data, "x10")
        work = os.path.join(state, "work")
        fresh_dir(work)
        for d in ("tmp", "warehouse", "local"):
            os.makedirs(os.path.join(work, d))
        # a run keeps to its budget; one that first built and prepared data
        # (allowed far longer) still gets a full run's time
        raw = java(classes, work, [
            "--mode", "run", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(int(trace)), "--dir", data_dir,
            "--work", work], max(120, budget - (time.time() - started)))
        shutil.move(os.path.join(work, "raw.json"), os.path.join(state, "last_raw.json"))
        shutil.rmtree(work, ignore_errors=True)
    return raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    raw = run_workload(os.getcwd(), a.workload, a.seed, a.seconds, a.trace, DEADLINE_S)
    with open(EXPECTED) as f:
        expected = json.load(f).get(a.workload, {})
    bad = metrics.check_outputs(raw, expected)
    for q, eng, p, why in bad[:20]:
        print(f"perfbench: output check failed: {q} on {eng}, pass {p}: {why}", file=sys.stderr)
    attempted, failed = len(metrics.executions(raw)), len(bad)

    if a.trace:
        values = metrics.per_layer(raw)
        units = metrics.per_layer_units()
    else:
        values, detail = metrics.end_to_end(raw)
        units = dict(metrics.END_TO_END_METRICS)
        print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics.render(values, units)}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
