"""The benchmark's workloads and the seeded run plans the engine sees.

The seed is the only source of variation between runs of one workload:
it permutes the step order of every pass, picks the REST pull's date
window and its simulated-429 date, and sets the landing stream's slices
and schedule jitter. The engine only ever receives the generated plan.
"""
import datetime
import random

INTRADAY = ["calories", "distance", "elevation", "floors", "steps",
            "swimming-strokes", "heart", "active-zone-minutes"]
REST_PULL = "rest_pull"
REST_DAYS = 1
REST_THROTTLE_COUNT = 1
STREAM_LAND = "stream_land"
STREAM_FILES = 3
STREAM_INTERVAL_S = 0.2

# Untimed passes before timing: the first-use pass only. The JIT compiler
# is still busy through the timed passes after it, so run_cpu_s takes each
# step's median over at least three timed passes.
WARM_PASSES = 1
# Timed passes, each in its own seeded order. An untraced run starts
# another pass while it is expected to end within --seconds, and runs at
# least MIN_PASSES; a traced run runs MIN_PASSES (traced, untraced,
# traced).
MIN_PASSES = 3
MAX_PASSES = 64

# Per workload: the steps of one pass. Each list keeps the layer mix it was
# chosen for (see README.md).
BATCH = {
    "ingest_lake": {
        "queries": [REST_PULL, "e2_activities_snapshot", "k1_partitioned_sink",
                    "k6_compaction", STREAM_LAND],
    },
    "curate_index": {
        "queries": ["d3_simhash", "d7_dedup_cc", "g1b_pagerank_converge"],
    },
}
WHY = {
    "ingest_lake": "the paper's pipelines: a seeded REST pull, lake sink writes and an "
                   "open-loop landing stream; the only workload for the rest, sink and "
                   "streaming layers",
    "curate_index": "fixpoints, checkpoints and pinned caches: construction is over half "
                    "of each pass, so lazier queries show here first",
}
WORKLOADS = list(BATCH)


def rest_options(rng):
    start = datetime.date(2024, 1, 1) + datetime.timedelta(days=rng.randrange(300))
    days = [start + datetime.timedelta(days=i) for i in range(REST_DAYS)]
    throttled = rng.choice(days)
    return {
        "resources": ",".join(INTRADAY),
        "start": days[0].isoformat(), "end": days[-1].isoformat(),
        "simulate429Dates": throttled.isoformat(),
        "simulate429Count": str(REST_THROTTLE_COUNT),
        "maxRetries": "3", "retryBackoffMs": "20",
    }


def rest_expected(options):
    """Rows and simulated 429s the pull's options imply: one fetch unit per
    (resource, day), heart at 1-second grain, the rest at 1 minute."""
    start = datetime.date.fromisoformat(options["start"])
    end = datetime.date.fromisoformat(options["end"])
    days = (end - start).days + 1
    resources = options["resources"].split(",")
    rows = days * sum(86400 if r == "heart" else 1440 for r in resources)
    throttled_days = len(options["simulate429Dates"].split(","))
    throttled = (throttled_days * len(resources)
                 * int(options["simulate429Count"]))
    return {"rows": rows, "throttled": throttled}


def stream_plan(rng):
    """Slice cut points of the landing stream (fractions of the events table
    in event-time order) and each file's due time after the step starts:
    evenly spaced, with jitter below half an interval, so files land in
    order."""
    n = STREAM_FILES
    cuts = [(i + rng.uniform(-0.3, 0.3)) / n for i in range(1, n)]
    due = [max(0.0, (i + rng.uniform(-0.3, 0.3)) * STREAM_INTERVAL_S) for i in range(n)]
    return {"cuts": cuts, "due_offsets_s": due}


def plan(workload, seed, seconds, trace):
    rng = random.Random(f"{workload}:{seed}")
    p = {"workload": workload, "seconds": seconds, "trace": trace,
         "min_passes": MIN_PASSES}
    queries = BATCH[workload]["queries"]
    p["warm_orders"] = [rng.sample(queries, len(queries)) for _ in range(WARM_PASSES)]
    p["pass_orders"] = [rng.sample(queries, len(queries))
                        for _ in range(MIN_PASSES if trace else MAX_PASSES)]
    if REST_PULL in queries:
        p["rest_options"] = rest_options(rng)
    if STREAM_LAND in queries:
        p["stream"] = stream_plan(rng)
    return p
