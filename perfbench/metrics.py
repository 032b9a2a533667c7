"""Metric arithmetic of the benchmark: everything run.py derives from the
raw record the benchmark JVM writes (walls, set-up times, fingerprints,
spans and Spark listener events). Pure functions, no I/O."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MB = 1e6

# per-layer metrics measured for each engine; vanilla's carry a "vanilla." prefix
QUERY_LAYER_METRICS = [
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.executions", "count"),
    ("plans.exchanges", "count"), ("plans.exchanges_reused", "count"),
    ("plans.round_robin_exchanges", "count"), ("plans.broadcasts", "count"),
    ("plans.codegen_stages", "count"), ("plans.scans", "count"),
    ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("codegen.classes_per_stage", "ratio"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.empty_task_frac", "frac"), ("scheduler.driver_gap_s", "s"),
    ("scheduler.tasks_failed", "count"), ("scheduler.stages_resubmitted", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.deserialize_s", "s"), ("executor.busy_frac", "frac"),
    ("executor.straggler_s", "s"),
    ("tables.scan_mb", "MB"), ("tables.scan_rows", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.records", "count"),
    ("shuffle.write_s", "s"), ("shuffle.fetch_wait_s", "s"),
    ("memory.peak_task_mb", "MB"), ("memory.spill_mb", "MB"),
    ("sources.cache_mb", "MB"), ("sources.lake_files_written", "count"),
    ("sources.lake_mb_written", "MB"),
    ("self.execute_s", "s"), ("self.job_s", "s"), ("self.stage_s", "s"),
]
RUN_LAYER_METRICS = [
    ("session.start_s", "s"), ("session.warmup_s", "s"), ("session.cold_start_s", "s"),
    ("memory.peak_heap_mb", "MB"), ("jvm.jit_s", "s"),
    ("compare.vs_vanilla", "ratio"),
    ("trace.overhead_frac", "frac"), ("trace.spans", "count"),
]
END_TO_END_METRICS = [
    ("setup_s", "s"), ("wall_s", "s"), ("geomean_s", "s"), ("peak_rss_mb", "MB"),
]


def per_layer_names():
    names = [n for n, _ in RUN_LAYER_METRICS + QUERY_LAYER_METRICS]
    return names + ["vanilla." + n for n, _ in QUERY_LAYER_METRICS]


def per_layer_units():
    units = dict(RUN_LAYER_METRICS + QUERY_LAYER_METRICS)
    units.update({"vanilla." + n: u for n, u in QUERY_LAYER_METRICS})
    return units


# ---------------------------------------------------------------- intervals

def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def supported_percentile(n):
    """Highest of p90/p95/p99 with at least ten samples beyond it, else None."""
    best = None
    for p in (90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def percentile(xs, p):
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(p / 100 * len(s)) - 1))
    return s[k]


def summary(xs):
    out = {"n": len(xs), "median": median(xs)}
    p = supported_percentile(len(xs))
    if p:
        out[f"p{p}"] = percentile(xs, p)
    return out


# ---------------------------------------------------------------- walls

def executions(raw):
    """Every query execution of the run, warm-up pass included."""
    return [w for p in raw["passes"] for w in p["walls"]]


def query_walls(raw, engine, traced):
    """query -> walls of one engine's successful executions in the timed
    passes with the given traced flag."""
    out = {}
    for p in raw["passes"]:
        if p["warmup"] or p["traced"] != traced:
            continue
        for w in p["walls"]:
            if w["engine"] == engine and w["ok"]:
                out.setdefault(w["query"], []).append(w["wall_s"])
    return out


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(raw):
    """End-to-end metrics of an untraced run, plus a detail block that
    gives each timing's sample count and supported percentile.

    A query's wall is the fastest of its timed passes. The VM's speed
    swings by up to 2x for seconds at a time, and that only ever adds
    time, so the minimum is the estimate of the engine's own cost that
    the host disturbs least. The detail gives the same two figures from
    the per-query medians."""
    walls = query_walls(raw, "graft", traced=False)
    fastest = [min(v) for v in walls.values()]
    medians = [median(v) for v in walls.values()]
    setup = [s["total_s"] for s in raw["setups"]]
    pooled = [x for v in walls.values() for x in v]
    values = {
        "setup_s": median(setup),
        "wall_s": sum(fastest),
        "geomean_s": geomean(fastest),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    detail = {"setup_s": summary(setup), "cold_start_s": setup[0], "query_wall_s": summary(pooled),
              "median_wall_s": sum(medians), "median_geomean_s": geomean(medians),
              "timed_passes": sum(1 for p in raw["passes"] if not p["warmup"] and not p["traced"]),
              "measured_s": raw["measured_s"]}
    return values, detail


# ---------------------------------------------------------------- fingerprints

def check_outputs(raw, expected):
    """Failed executions as (query, engine, pass, reason). Every execution
    of every engine must succeed and match the expected fingerprint."""
    bad = []
    for p in raw["passes"]:
        for w in p["walls"]:
            want = expected.get(w["query"])
            if not w["ok"]:
                why = "failed: " + (w["error"] or "no fingerprint")
            elif want is None:
                why = "no expected fingerprint"
            elif (w["rows"], w["hash"]) != (want["rows"], want["hash"]):
                why = (f"rows/hash {w['rows']}/{w['hash']} != expected "
                       f"{want['rows']}/{want['hash']}")
            else:
                continue
            bad.append((w["query"], w["engine"], p["pass"], why))
    return bad


def graft_fingerprints(raw):
    """Fingerprints of graft's warm-up pass, the form of the expected file."""
    return {w["query"]: {"rows": w["rows"], "hash": w["hash"]}
            for p in raw["passes"] if p["warmup"]
            for w in p["walls"] if w["engine"] == "graft" and w["ok"]}


# ---------------------------------------------------------------- trace

def build_tree(raw):
    """Attaches Spark's events to the benchmark's query spans.

    Returns {query span id: node}, where a node holds the query span, its
    build/execute spans, and the jobs, stages, tasks and Catalyst
    executions of that query run. Jobs and executions carry the run's id;
    stages follow the job that listed them first, tasks their stage."""
    spans = raw["spans"]
    queries = {s["id"]: {"span": s, "children": [], "jobs": [], "stages": [], "tasks": [],
                         "executions": []} for s in spans if s["name"] == "query"}
    for s in spans:
        if s["query"] in queries and s["name"] != "query":
            queries[s["query"]]["children"].append(s)
    stage_owner = {}
    for j in sorted(raw.get("jobs", []), key=lambda j: j["job"]):
        if j["query"] in queries:
            queries[j["query"]]["jobs"].append(j)
            for sid in j["stages"]:
                stage_owner.setdefault(sid, j["query"])
    for st in raw.get("stages", []):
        if st["stage"] in stage_owner:
            queries[stage_owner[st["stage"]]]["stages"].append(st)
    fields = raw.get("task_fields", [])
    for row in raw.get("tasks", []):
        t = dict(zip(fields, row))
        if t["stage"] in stage_owner:
            queries[stage_owner[t["stage"]]]["tasks"].append(t)
    for e in raw.get("executions", []):
        if e["query"] in queries:
            queries[e["query"]]["executions"].append(e)
    return queries


def layer_metrics(nodes, cores, n_passes):
    """Per-layer metrics of one engine's traced query nodes, per pass."""
    m = {name: 0.0 for name, _ in QUERY_LAYER_METRICS}
    wall = 0.0
    peak_task = 0.0
    for node in nodes:
        q = node["span"]
        wall += (q["end_ms"] - q["start_ms"]) / 1000
        kids = {c["name"]: c for c in node["children"]}
        job_iv = [(j["start_ms"], j["end_ms"]) for j in node["jobs"]]
        phase_iv = [(p["start_ms"], p["end_ms"]) for e in node["executions"]
                    for p in e["phases"].values()]
        build = kids.get("operators.build")
        execute = kids.get("execute")
        analysis = kids.get("catalyst.analysis")
        if analysis:
            phase_iv.append((analysis["start_ms"], analysis["end_ms"]))
            m["catalyst.analysis_s"] += (analysis["end_ms"] - analysis["start_ms"]) / 1000
        if build:
            m["operators.build_s"] += self_time(build["start_ms"], build["end_ms"],
                                                job_iv + phase_iv) / 1000
            m["operators.build_jobs"] += sum(
                1 for j in node["jobs"] if build["start_ms"] <= j["start_ms"] <= build["end_ms"])
        if execute:
            m["self.execute_s"] += self_time(execute["start_ms"], execute["end_ms"],
                                             job_iv + phase_iv) / 1000
        for e in node["executions"]:
            m["catalyst.executions"] += 1
            for phase in ("analysis", "optimization", "planning"):
                p = e["phases"].get(phase)
                if p:
                    m[f"catalyst.{phase}_s"] += (p["end_ms"] - p["start_ms"]) / 1000
            for k, v in e["plan"].items():
                m["plans." + k] += v
        m["codegen.compile_s"] += q["compile_ns"] / 1e9
        m["codegen.classes"] += q["classes"]
        m["sources.cache_mb"] += q["cache_b"] / MB
        m["sources.lake_files_written"] += q["lake_files"]
        m["sources.lake_mb_written"] += q["lake_b"] / MB
        m["scheduler.jobs"] += len(node["jobs"])
        m["scheduler.driver_gap_s"] += self_time(q["start_ms"], q["end_ms"], job_iv) / 1000
        by_stage = {}
        for t in node["tasks"]:
            by_stage.setdefault((t["stage"], t["attempt"]), []).append(t["run_ms"])
        for j in node["jobs"]:
            st_iv = [(s["start_ms"], s["end_ms"]) for s in node["stages"] if s["stage"] in j["stages"]]
            m["self.job_s"] += self_time(j["start_ms"], j["end_ms"], st_iv) / 1000
        for s in node["stages"]:
            m["scheduler.stages"] += 1
            m["scheduler.stages_resubmitted"] += 1 if s["attempt"] > 0 else 0
            m["self.stage_s"] += max(0, s["end_ms"] - s["start_ms"]) / 1000
            runs = by_stage.get((s["stage"], s["attempt"]), [])
            if runs:
                m["executor.straggler_s"] += (max(runs) - statistics.median(runs)) / 1000
        for t in node["tasks"]:
            m["scheduler.tasks"] += 1
            m["scheduler.tasks_failed"] += t["failed"]
            m["scheduler.empty_task_frac"] += 1 if t["input_records"] + t["shuffle_read_records"] == 0 else 0
            m["executor.run_s"] += t["run_ms"] / 1000
            m["executor.cpu_s"] += t["cpu_ns"] / 1e9
            m["executor.gc_s"] += t["gc_ms"] / 1000
            m["executor.deserialize_s"] += t["deserialize_ms"] / 1000
            m["tables.scan_mb"] += t["input_b"] / MB
            m["tables.scan_rows"] += t["input_records"]
            m["shuffle.write_mb"] += t["shuffle_write_b"] / MB
            m["shuffle.read_mb"] += t["shuffle_read_b"] / MB
            m["shuffle.records"] += t["shuffle_write_records"]
            m["shuffle.write_s"] += t["shuffle_write_ns"] / 1e9
            m["shuffle.fetch_wait_s"] += t["fetch_wait_ms"] / 1000
            m["memory.spill_mb"] += t["disk_spill_b"] / MB
            peak_task = max(peak_task, t["peak_mem_b"] / MB)
    # ratios are over the whole traced sample; everything else is per pass
    tasks = m["scheduler.tasks"]
    m["scheduler.empty_task_frac"] = m["scheduler.empty_task_frac"] / tasks if tasks else 0.0
    m["executor.busy_frac"] = m["executor.run_s"] / (wall * cores) if wall else 0.0
    stages = m["plans.codegen_stages"]
    m["codegen.classes_per_stage"] = m["codegen.classes"] / stages if stages else 0.0
    ratios = {"scheduler.empty_task_frac", "executor.busy_frac", "codegen.classes_per_stage"}
    n = max(n_passes, 1)
    out = {k: (v if k in ratios else v / n) for k, v in m.items()}
    out["memory.peak_task_mb"] = peak_task
    return out


def per_layer(raw):
    tree = build_tree(raw)
    n_traced = sum(1 for p in raw["passes"] if p["traced"])
    values = {}
    for eng, prefix in (("graft", ""), ("vanilla", "vanilla.")):
        nodes = [n for n in tree.values() if n["span"]["engine"] == eng]
        for k, v in layer_metrics(nodes, raw["cores"], n_traced).items():
            values[prefix + k] = v
    values["session.start_s"] = median([s["start_s"] for s in raw["setups"]])
    values["session.warmup_s"] = median([s["warmup_s"] for s in raw["setups"]])
    values["session.cold_start_s"] = raw["setups"][0]["total_s"]
    values["memory.peak_heap_mb"] = raw["peak_heap_mb"]
    values["jvm.jit_s"] = median([p["jit_s"] for p in raw["passes"]
                                  if not p["warmup"] and not p["traced"]])
    g = query_walls(raw, "graft", traced=False)
    v = query_walls(raw, "vanilla", traced=False)
    common = [q for q in g if q in v]
    vsum = sum(median(v[q]) for q in common)
    values["compare.vs_vanilla"] = sum(median(g[q]) for q in common) / vsum if vsum else 0.0
    traced = query_walls(raw, "graft", traced=True)
    both = [q for q in g if q in traced]
    base = sum(median(g[q]) for q in both)
    values["trace.overhead_frac"] = sum(median(traced[q]) for q in both) / base - 1 if base else 0.0
    spans = sum(len(n["children"]) + 1 + len(n["jobs"]) + len(n["stages"])
                + sum(len(e["phases"]) for e in n["executions"]) for n in tree.values())
    values["trace.spans"] = spans / max(n_traced, 1)
    return values


def render(values, units):
    return {k: {"value": values[k], "unit": units[k]} for k in units}
