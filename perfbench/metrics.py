"""Turns one run's raw measurements (written by perfbench.Main) into the
benchmark's metrics, output checks and structural counts."""
import json
import math
import statistics
from collections import defaultdict
from pathlib import Path

import workloads

MB = 1048576.0


def tail(samples, beyond=10):
    """The highest percentile (nearest rank, 50 to 99) that has at least
    `beyond` samples above it. With fewer than 2 * `beyond` samples no
    such percentile exists and the maximum is reported as percentile 100."""
    s = sorted(samples)
    n = len(s)
    for pct in range(99, 49, -1):
        k = math.ceil(pct * n / 100)
        if n - k >= beyond:
            return {"value": s[k - 1], "pct": pct, "beyond": n - k, "n": n}
    return {"value": s[-1], "pct": 100, "beyond": 0, "n": n}


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start"]
        for a, b in sorted((c["start"], c["end"]) for c in children[s["id"]]):
            a, b = max(a, end), min(b, s["end"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def open_loop_latencies(files, commit_ms):
    """Seconds from each file's due time (not its actual landing) to the
    end of the micro-batch that committed it."""
    return [(commit_ms[f["name"]] - f["due_ms"]) / 1000.0 for f in files]


def source_batches(checkpoint):
    """File name -> id of the micro-batch that read it, from the file
    source's log under a stream checkpoint."""
    out = {}
    for p in (Path(checkpoint) / "sources" / "0").iterdir():
        if p.name.startswith("."):
            continue
        for line in p.read_text().splitlines()[1:]:
            e = json.loads(line)
            name = e["path"].rsplit("/", 1)[-1]
            out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def latency_s(q):
    return q.get("construct_s", 0.0) + q.get("plan_s", 0.0) + q.get("exec_s", 0.0)


def step_wall_s(q):
    return latency_s(q) + q.get("release_s", 0.0)


def step_median_sum(passes, value):
    """Sum over the steps of each step's median `value` over the given
    passes: the figure of a pass in which every step takes its median. A
    burst of host load that slows one step of one pass moves this less than
    it moves that pass's total."""
    by = defaultdict(list)
    for p in passes:
        for q in p["queries"]:
            by[q["name"]].append(value(q))
    return sum(statistics.median(v) for v in by.values())


# ---------------------------------------------------------------- checks

def check_batch(raw, fingerprints, rest_expected):
    """Every step of the run, first-use pass included: each query against
    its expected fingerprint, the REST pull against the rows and 429s its
    options imply, the landing stream's sinks against their batch twins.
    Returns (attempted, failed, problems)."""
    attempted, problems = 0, []
    for p in raw["warm"] + raw["passes"]:
        for q in p["queries"]:
            attempted += 1
            name, where = q["name"], f"pass {q['pass']} {q['name']}"
            if "error" in q:
                problems.append(f"{where}: {q['error']}")
            elif name == workloads.STREAM_LAND:
                check = raw["stream_checks"].get(f"pass-{q['pass']}", {})
                bad = {job: c for job, c in check.items() if not c["ok"]}
                if bad or not check:
                    problems.append(f"{where}: batch twins differ: {json.dumps(bad)}")
            elif name == workloads.REST_PULL:
                got = {"rows": q["rows"], "throttled": q["throttled"]}
                if got != rest_expected:
                    problems.append(f"{where}: got {got}, want {rest_expected}")
            else:
                want = fingerprints.get(name)
                got = {k: q[k] for k in ("rows", "hash", "cols")}
                if want != got:
                    problems.append(f"{where}: got {got}, want {want}")
    return attempted, len(problems), problems


# ---------------------------------------------------------------- batch

def _children(spans):
    by = defaultdict(dict)
    for s in spans:
        by[s["parent"]][s["name"]] = s["id"]
    return by


def structural(raw):
    """Per traced pass, per query: Spark jobs in construction and in
    execution, tasks, shuffle bytes, bytes written and simulated 429s."""
    kids = _children(raw["spans"])
    counters = raw["counters"]
    zero = {"jobs": 0, "tasks": 0, "shuffle_read": 0, "shuffle_write": 0,
            "out_bytes": 0}
    out = []
    for p in raw["passes"]:
        if not p["traced"]:
            continue
        per = {}
        for q in p["queries"]:
            c = {ph: counters.get(str(kids[q["span"]].get(ph)), zero)
                 for ph in ("construct", "exec")}
            per[q["name"]] = {
                "construct_jobs": c["construct"]["jobs"],
                "exec_jobs": c["exec"]["jobs"],
                "tasks": c["construct"]["tasks"] + c["exec"]["tasks"],
                "shuffle_bytes": sum(c[ph]["shuffle_read"] + c[ph]["shuffle_write"]
                                     for ph in c),
                "bytes_written": sum(c[ph]["out_bytes"] for ph in c),
                "throttled": q["throttled"],
            }
        out.append(per)
    return out


def order_dependent(runs):
    """Queries whose structural counts differ between any two of the given
    per-query count maps (traced passes of this run and of other seeds)."""
    names = set()
    for per in runs[1:]:
        for name, counts in per.items():
            if name in runs[0] and runs[0][name] != counts:
                names.add(name)
    return sorted(names)


def batch_end_to_end(raw):
    untraced = [p for p in raw["passes"] if not p["traced"]]
    lat = [latency_s(q) for p in untraced for q in p["queries"]]
    return ({"setup_s": raw["setup_s"],
             "run_cpu_s": step_median_sum(untraced, lambda q: q["cpu_s"])},
            {"run_s": step_median_sum(untraced, step_wall_s),
             "passes": len(untraced),
             "query_p50_s": statistics.median(lat), "query_tail": tail(lat),
             "jit_cpu_s": statistics.median(p["jit_cpu_s"] for p in untraced)})


def batch_layers(raw, cores):
    kids = _children(raw["spans"])
    counters = raw["counters"]
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]

    def c(span_id, key):
        return counters.get(str(span_id), {}).get(key, 0)

    per_pass = []
    for p in traced:
        m = defaultdict(float)
        for q in p["queries"]:
            ph = kids[q["span"]]
            for name in ("construct", "plan", "exec"):
                m[f"{name}.s"] += q.get(f"{name}_s", 0.0)
            m["construct.jobs"] += c(ph.get("construct"), "jobs")
            m["construct.task_s"] += c(ph.get("construct"), "task_ms") / 1e3
            for k in ("analysis", "optimization", "planning"):
                m[f"plan.{k}_s"] += q.get(f"{k}_ms", 0) / 1e3
            m["plan.nodes"] += q.get("plan_nodes", 0)
            e = ph.get("exec")
            m["exec.jobs"] += c(e, "jobs")
            m["exec.tasks"] += c(e, "tasks")
            m["exec.task_s"] += c(e, "task_ms") / 1e3
            m["exec.input_mb"] += c(e, "input_bytes") / MB
            m["exec.shuffle_read_mb"] += c(e, "shuffle_read") / MB
            m["exec.shuffle_write_mb"] += c(e, "shuffle_write") / MB
            m["exec.spill_mb"] += c(e, "spill_bytes") / MB
            m["exec.gc_s"] += c(e, "gc_ms") / 1e3
            spans = [ph.get(k) for k in ("construct", "plan", "exec", "release")]
            if q.get("rest_rows", -1) >= 0:
                m["rest.s"] += latency_s(q)
                m["rest.rows"] += q["rest_rows"]
                m["rest.tasks"] += sum(c(s, "tasks") for s in spans)
            m["rest.throttled"] += q["throttled"]
            m["sink.mb"] += sum(c(s, "out_bytes") for s in spans) / MB
            m["sink.records"] += sum(c(s, "out_records") for s in spans)
            m["input_mb"] += sum(c(s, "input_bytes") for s in spans) / MB
            m["cache.release_s"] += q.get("release_s", 0.0)
            m["cache.blocks_peak"] = max(m["cache.blocks_peak"], q.get("blocks", 0))
            m["cache.storage_peak_mb"] = max(m["cache.storage_peak_mb"],
                                             q.get("storage_mb", 0.0))
            m["cache.mb_after_release"] = max(m["cache.mb_after_release"],
                                              q.get("storage_mb_after_release", 0.0))
        m["sink.files"] = p["lake_files"]
        m["run_s"] = p["wall_s"]
        per_pass.append(m)

    def mean(k):
        return statistics.fmean(m[k] for m in per_pass)

    landing = [q for p in traced for q in p["queries"]
               if q["name"] == workloads.STREAM_LAND and "files" in q]

    keys = set().union(*per_pass)
    out = {k: mean(k) for k in keys if k not in ("input_mb", "run_s")}
    run_s = mean("run_s")
    out["construct.share"] = out["construct.s"] / run_s
    out["exec.util"] = out["exec.task_s"] / (out["exec.s"] * cores)
    out["sink.write_amp"] = out["sink.mb"] / mean("input_mb") if mean("input_mb") else 0.0
    out["trace.coverage"] = (out["construct.s"] + out["plan.s"] + out["exec.s"]
                             + out["cache.release_s"]) / run_s
    out["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced)
                             / statistics.median(p["wall_s"] for p in untraced))
    if landing:
        out.update(stream_layers(landing))
    return out


# ---------------------------------------------------------------- stream

def landing_summary(step):
    """Open-loop figures of one run of the landing stream."""
    commit = {}
    for st in step["streams"].values():
        end = {b["batch"]: b["start_ms"] + b["durations_ms"].get("triggerExecution", 0)
               for b in st["progress"]}
        for name, batch in source_batches(st["checkpoint"]).items():
            commit[name] = max(commit.get(name, 0), end[batch])
    files = step["files"]
    last_landing = max(f["landed_ms"] for f in files)
    return {
        "latencies": open_loop_latencies(files, commit),
        "backlog_end": sum(1 for f in files if commit[f["name"]] > last_landing),
        "gen_late_s": max(f["landed_ms"] - f["due_ms"] for f in files) / 1e3,
        "data_batches": [b for st in step["streams"].values() for b in st["progress"]
                         if b["input_rows"] > 0],
        "last": [st["progress"][-1] for st in step["streams"].values()],
    }


def stream_layers(steps):
    """stream.* metrics over the landing-stream steps of the traced passes."""
    sums = [landing_summary(s) for s in steps]
    batches = [b for x in sums for b in x["data_batches"]]
    lat = [v for x in sums for v in x["latencies"]]

    def med(key):
        return statistics.median(b["durations_ms"].get(key, 0) for b in batches)

    return {
        "stream.batches": len(batches) / len(sums),
        "stream.trigger_ms_p50": med("triggerExecution"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.get_batch_ms": med("getBatch"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.state_rows_end": statistics.fmean(
            sum(b["state_rows"] for b in x["last"]) for x in sums),
        "stream.state_mb_end": statistics.fmean(
            sum(b["state_bytes"] for b in x["last"]) for x in sums) / MB,
        "stream.gen_late_s": max(x["gen_late_s"] for x in sums),
        "stream.backlog_end": statistics.fmean(x["backlog_end"] for x in sums),
        "stream.event_lat_p50_s": statistics.median(lat),
        "stream.event_lat_tail_s": tail(lat)["value"],
    }


def stream_spans(raw):
    """batch:<stream>:<id> spans of every landing-stream step, with the
    micro-batch progress phases, in seconds since the step's first due
    time."""
    out = []
    for p in raw["warm"] + raw["passes"]:
        for q in p["queries"]:
            if q["name"] != workloads.STREAM_LAND or "files" not in q:
                continue
            t0 = min(f["due_ms"] for f in q["files"])
            for sname, st in q["streams"].items():
                for b in st["progress"]:
                    start = (b["start_ms"] - t0) / 1e3
                    out.append({"pass": p["pass"], "parent": q["span"],
                                "name": f"batch:{sname}:{b['batch']}", "start": start,
                                "end": start + b["durations_ms"].get("triggerExecution", 0) / 1e3,
                                "phases_ms": b["durations_ms"]})
    return out


LAYER_METRICS = [
    "construct.s", "construct.jobs", "construct.task_s", "construct.share",
    "plan.s", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "plan.nodes",
    "exec.s", "exec.jobs", "exec.tasks", "exec.task_s", "exec.util",
    "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.gc_s",
    "rest.s", "rest.rows", "rest.tasks", "rest.throttled",
    "sink.mb", "sink.records", "sink.files", "sink.write_amp",
    "cache.release_s", "cache.blocks_peak", "cache.mb_after_release",
    "cache.storage_peak_mb",
    "stream.batches", "stream.trigger_ms_p50", "stream.add_batch_ms",
    "stream.get_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
    "stream.state_rows_end", "stream.state_mb_end", "stream.gen_late_s",
    "stream.backlog_end", "stream.event_lat_p50_s", "stream.event_lat_tail_s",
    "trace.overhead", "trace.coverage",
]
PER_LAYER = LAYER_METRICS + [
    "repeat.order_dependent",
    "ctx.cpus", "ctx.load_start", "ctx.load_end", "ctx.canary_s",
]
# End-to-end metrics with the share of the parent's median by which each
# may worsen before a change counts as a regression.
END_TO_END = {"setup_s": 0.25, "run_cpu_s": 0.25}
HIGHER_IS_BETTER = {"exec.util", "trace.coverage", "ctx.cpus"}


def unit(name):
    if "_ms" in name:
        return "ms"
    if "_mb" in name or ".mb" in name:
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.rsplit(".", 1)[-1] in ("share", "util", "coverage", "overhead", "write_amp"):
        return "ratio"
    if name.startswith("ctx.load"):
        return "load"
    return "count"


def better(name):
    return "higher" if name in HIGHER_IS_BETTER else "lower"
