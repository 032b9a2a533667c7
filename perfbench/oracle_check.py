"""Re-records expected/fingerprints.json and cross-checks the benchmark's
queries against the DuckDB oracle on the benchmark's own data, the
evidence behind that file.

    python3 perfbench/oracle_check.py [--record]   # from the repository root

With --record it first makes one traced run of each workload and writes
graft's fingerprints as the expected ones, but only when every
execution of the run, graft's and the stock-Spark twin's, agrees with
them. Then, for each workload, it dumps graft's result of every
workload query with graft.Verify on that workload's dataset, and
compares them with SparkEntry.oracleSql run by DuckDB
(tools/check_oracle.py). Queries
without an oracle are listed as such. The report goes to stdout; the
recorded one is expected/ORACLE.txt. Re-record only when a query's
intended result changes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def record(root):
    """Writes graft's fingerprints of one traced run per workload as the
    expected ones, after checking that both engines agree on them."""
    expected = {}
    for wl in run.WORKLOADS:
        raw = run.run_workload(root, wl, seed=1, seconds=1, trace=1, budget=600)
        fps = metrics.graft_fingerprints(raw)
        bad = metrics.check_outputs(raw, fps)
        if bad:
            sys.exit(f"{wl}: executions disagree, nothing recorded: {bad[:5]}")
        expected[wl] = fps
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    root = os.getcwd()
    if "--record" in sys.argv[1:]:
        record(root)
    state = run.state_dir(root)
    classes = build.build(root, state)
    fixture = os.path.join(HERE, "fixture")
    data = run.prepare(classes, state, fixture, 600)
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    cp = f"{classes}:{os.path.join(build.spark_jars(), '*')}"
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    for wl, dataset in run.WORKLOADS.items():
        d = fixture if dataset == "fixture" else os.path.join(data, "x10")
        out = os.path.join(state, "oracle", wl)
        shutil.rmtree(out, ignore_errors=True)
        queries = sorted(expected[wl])
        subprocess.run(["java", "-Xmx3g", *opens, "-Dspark.ui.enabled=false", "-cp", cp,
                        "graft.Verify", d, out, *queries],
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       env={**os.environ, "SPARK_GRAFT_CPUS": str(run.CORES)})
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracled = set(json.load(f))
        print(f"== {wl} ({dataset}): {len(queries)} queries")
        for q in queries:
            if q not in oracled:
                print(f"{q}: no oracle")
        res = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"), d, out,
                              *queries], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        print(res.stdout.strip())


if __name__ == "__main__":
    main()
