#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload curate_index --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark harness from source into .bench_build/
(once per source change), writes the seeded run plan, runs it in one JVM
on local[2], checks every output, and prints a few summary lines and
then, as the last line, one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end
metrics of an untraced run; with --trace 1 they are the per-layer
metrics of a traced run. The full record of the run, with machine
context, per-query figures, spans and structural counts, is written to
.bench_build/records/. Exits non-zero on a wrong output.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "sbt" / "scala-2.13" / "classes"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
JVM_TIMEOUT_S = 170
# Spark task threads, and the processor count the JVM sizes its garbage
# collector for. On a small shared VM, local[<all cores>] plus the JVM's own
# threads oversubscribe the cores, and times then follow the host's
# scheduler more than the engine. The JIT compiler gets one thread per
# core, so it falls behind less while the engine runs; its CPU time is
# left out of run_cpu_s.
CORES = 2
BUILD_TIMEOUT_S = 800
# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        fail("SPARK_HOME must name a Spark install with a jars/ directory")
    return jars


def source_stamp():
    h = hashlib.sha256()
    files = [p for d in (ENGINE_SRC, HERE / "src") for p in sorted(d.rglob("*.scala"))]
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt unless the classes on
    disk were built from the current sources."""
    stamp_file = BUILD / "stamp"
    stamp = source_stamp()
    if stamp_file.exists() and stamp_file.read_text() == stamp and CLASSES.is_dir():
        return stamp
    BUILD.mkdir(exist_ok=True)
    print("perfbench: building", file=sys.stderr)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed")
    stamp_file.write_text(stamp)
    return stamp


def run_jvm(args, cores, work, log):
    jars = spark_jars()
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), "-Xms2g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-XX:ActiveProcessorCount={cores}",
           f"-XX:CICompilerCount={max(2, os.cpu_count())}",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dgraft.lake.dir={work / 'lake'}",
           f"-Dgraft.warehouse.dir={work / 'warehouse'}",
           f"-Dderby.system.home={work}",
           "-cp", f"{CLASSES}{os.pathsep}{jars / '*'}", "perfbench.Main", *args]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited {code}")


def record_dir(workload):
    d = BUILD / "records" / workload
    d.mkdir(parents=True, exist_ok=True)
    return d


def other_seed_counts(workload, stamp, seed):
    """Structural counts of traced runs of other seeds on the same build."""
    out = []
    for p in sorted(record_dir(workload).glob("*.json")):
        r = json.loads(p.read_text())
        if r["stamp"] == stamp and r["seed"] != seed and r.get("structural"):
            out.append(r["structural"][0])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}")
    spark_jars()
    stamp = build()

    cpus = os.cpu_count()
    cores = min(CORES, cpus)
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    plan = workloads.plan(a.workload, a.seed, a.seconds, a.trace)
    plan.update({"cores": cores, "work": str(work), "data": str(HERE / "data")})
    (work / "plan.json").write_text(json.dumps(plan))
    t0 = time.time()
    run_jvm(["--plan", str(work / "plan.json"), "--out", str(work / "raw.json")],
            cores, work, work / "jvm.log")
    raw = json.loads((work / "raw.json").read_text())

    fps = json.loads((HERE / "fingerprints.json").read_text())["queries"]
    expected = (workloads.rest_expected(plan["rest_options"])
                if "rest_options" in plan else None)
    attempted, failed, problems = metrics.check_batch(raw, fps, expected)
    e2e, info = metrics.batch_end_to_end(raw)
    selfs = metrics.self_times(raw["spans"])
    spans = [dict(s, self=selfs[s["id"]]) for s in raw["spans"]] + metrics.stream_spans(raw)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "stamp": stamp, "wall_s": time.time() - t0,
              "ctx": dict(raw["ctx"], cpus=cpus, cores=cores), "plan": plan,
              "end_to_end": e2e, "info": info, "problems": problems,
              "pass_wall_s": [p["wall_s"] for p in raw["warm"] + raw["passes"]],
              "spans": spans}
    if a.trace:
        layers = {k: 0.0 for k in metrics.PER_LAYER}
        layers.update(metrics.batch_layers(raw, cores))
        record["structural"] = metrics.structural(raw)
        runs = record["structural"] + other_seed_counts(a.workload, stamp, a.seed)
        record["order_dependent_queries"] = metrics.order_dependent(runs)
        layers["repeat.order_dependent"] = len(record["order_dependent_queries"])
        ctx = raw["ctx"]
        layers.update({"ctx.cpus": cpus, "ctx.load_start": ctx["load_start"],
                       "ctx.load_end": ctx["load_end"], "ctx.canary_s": ctx["canary_s"]})
        record["per_layer"] = layers
        shown = {k: layers[k] for k in metrics.PER_LAYER}
    else:
        shown = e2e
    record["queries"] = per_query(raw)
    name = f"seed{a.seed}-trace{a.trace}.json"
    (record_dir(a.workload) / name).write_text(json.dumps(record, indent=1))

    for p in problems:
        print(f"FAIL {p}")
    for k, v in shown.items():
        print(f"{k:28s} {v:.6g} {metrics.unit(k)}")
    if not a.trace:
        print(f"{'(run_s, wall, unbounded)':28s} {info['run_s']:.6g} s "
              f"over {info['passes']} passes")
    if record.get("order_dependent_queries"):
        print("order_dependent_queries: " + " ".join(record["order_dependent_queries"]))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.unit(k)} for k, v in shown.items()}}))
    sys.exit(0 if failed == 0 else 1)


def per_query(raw):
    """Median phase times of each query over the untraced timed passes."""
    by = {}
    for p in raw["passes"]:
        if not p["traced"]:
            for q in p["queries"]:
                by.setdefault(q["name"], []).append(q)
    return {n: {k: statistics.median(q.get(k, 0.0) for q in qs)
                for k in ("construct_s", "plan_s", "exec_s", "release_s")}
            for n, qs in sorted(by.items())}


if __name__ == "__main__":
    main()
