"""Turns a run record into the benchmark's metrics.

Pure functions over the JSON the JVM harness writes: tail percentiles,
span self time, job-to-span attribution, call-site-to-module mapping and
the per-layer sums. `test_layers.py` checks each on tiny synthetic runs.
"""
import math
import re
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# Modules the per-module engine counters are split by, in report order.
# `other` is graft code outside these modules and `harness` is no graft
# code; graft.sources and graft.functions launch no job of their own in any
# workload (parsing runs on the driver, text functions inside other
# modules' jobs), so their jobs, if any appear, count under `other`.
MODULES = ("Tables", "analytics", "operators.Dedup", "operators.Decontaminate",
           "operators.TrainPrep", "operators.Upsert", "pipeline",
           "store", "streaming", "other", "harness")
MODULE_COUNTERS = ("jobs", "tasks", "task_ms", "shuffle_bytes")

ENGINE = ("jobs", "stages", "tasks", "sched_delay_ms", "core_busy_frac",
          "task_cpu_ms", "gc_ms", "deser_ms", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "fetch_wait_ms", "input_bytes",
          "output_bytes")

# Every per-layer metric the traced run prints: name -> (unit, better).
PER_LAYER = {
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.sched_delay_ms": ("ms", "lower"),
    "spark.core_busy_frac": ("fraction", "higher"),
    "spark.task_cpu_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.deser_ms": ("ms", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.fetch_wait_ms": ("ms", "lower"),
    "spark.input_bytes": ("B", "lower"),
    "spark.output_bytes": ("B", "lower"),
    "module.Tables.jobs": ("count", "lower"),
    "module.Tables.tasks": ("count", "lower"),
    "module.Tables.task_ms": ("ms", "lower"),
    "module.Tables.shuffle_bytes": ("B", "lower"),
    "module.analytics.jobs": ("count", "lower"),
    "module.analytics.tasks": ("count", "lower"),
    "module.analytics.task_ms": ("ms", "lower"),
    "module.analytics.shuffle_bytes": ("B", "lower"),
    "module.operators.Dedup.jobs": ("count", "lower"),
    "module.operators.Dedup.tasks": ("count", "lower"),
    "module.operators.Dedup.task_ms": ("ms", "lower"),
    "module.operators.Dedup.shuffle_bytes": ("B", "lower"),
    "module.operators.Decontaminate.jobs": ("count", "lower"),
    "module.operators.Decontaminate.tasks": ("count", "lower"),
    "module.operators.Decontaminate.task_ms": ("ms", "lower"),
    "module.operators.Decontaminate.shuffle_bytes": ("B", "lower"),
    "module.operators.TrainPrep.jobs": ("count", "lower"),
    "module.operators.TrainPrep.tasks": ("count", "lower"),
    "module.operators.TrainPrep.task_ms": ("ms", "lower"),
    "module.operators.TrainPrep.shuffle_bytes": ("B", "lower"),
    "module.operators.Upsert.jobs": ("count", "lower"),
    "module.operators.Upsert.tasks": ("count", "lower"),
    "module.operators.Upsert.task_ms": ("ms", "lower"),
    "module.operators.Upsert.shuffle_bytes": ("B", "lower"),
    "module.pipeline.jobs": ("count", "lower"),
    "module.pipeline.tasks": ("count", "lower"),
    "module.pipeline.task_ms": ("ms", "lower"),
    "module.pipeline.shuffle_bytes": ("B", "lower"),
    "module.store.jobs": ("count", "lower"),
    "module.store.tasks": ("count", "lower"),
    "module.store.task_ms": ("ms", "lower"),
    "module.store.shuffle_bytes": ("B", "lower"),
    "module.streaming.jobs": ("count", "lower"),
    "module.streaming.tasks": ("count", "lower"),
    "module.streaming.task_ms": ("ms", "lower"),
    "module.streaming.shuffle_bytes": ("B", "lower"),
    "module.other.jobs": ("count", "lower"),
    "module.other.tasks": ("count", "lower"),
    "module.other.task_ms": ("ms", "lower"),
    "module.other.shuffle_bytes": ("B", "lower"),
    "module.harness.jobs": ("count", "lower"),
    "module.harness.tasks": ("count", "lower"),
    "module.harness.task_ms": ("ms", "lower"),
    "module.harness.shuffle_bytes": ("B", "lower"),
    "Tables.load_ms": ("ms", "lower"),
    "Tables.load_jobs": ("count", "lower"),
    "analytics.build_ms": ("ms", "lower"),
    "analytics.build_jobs": ("count", "lower"),
    "catalyst.plan_ms": ("ms", "lower"),
    "dedup.staging_ms": ("ms", "lower"),
    "dedup.cluster_ms": ("ms", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.useful_frac": ("fraction", "higher"),
    "dedup.staged_bytes": ("B", "lower"),
    "dedup.fold_ms": ("ms", "lower"),
    "decontaminate.ms": ("ms", "lower"),
    "trainprep.curate_ms": ("ms", "lower"),
    "trainprep.pack_ms": ("ms", "lower"),
    "trainprep.shard_ms": ("ms", "lower"),
    "sources.parse_ms": ("ms", "lower"),
    "sources.rows_rejected_frac": ("fraction", "lower"),
    "pipeline.quality_ms": ("ms", "lower"),
    "store.upsert_ms": ("ms", "lower"),
    "store.logs_ms": ("ms", "lower"),
    "store.bootstrap_ms": ("ms", "lower"),
    "store.bytes_written_per_row": ("B/row", "lower"),
    "store.files_written": ("count", "lower"),
    "store.monitor_ms": ("ms", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.addbatch_ms": ("ms", "lower"),
    "streaming.commit_ms": ("ms", "lower"),
    "streaming.plan_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes": ("B", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.replay_setup_ms": ("ms", "lower"),
    "streaming.batch_p50_ms": ("ms", "lower"),
    "streaming.events_per_s": ("1/s", "higher"),
    "jvm.heap_peak_mb": ("MB", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "trace.overhead_frac": ("fraction", "lower"),
    "trace.span_coverage": ("fraction", "higher"),
    "trace.jobs_unattributed": ("count", "lower"),
    "failed_frac": ("fraction", "lower"),
    "tail.ms": ("ms", "lower"),
    "tail.percentile": ("pct", "higher"),
    "tail.samples": ("count", "higher"),
    "host.canary_cpu_s": ("s", "lower"),
    "host.canary_shuffle_s": ("s", "lower"),
    "host.cpu_steal_frac": ("fraction", "lower"),
}

# Named layer metrics computed from jobs: (metric, frame pattern). A job
# counts toward the metric when any graft frame of its call site matches.
JOB_LAYERS = {
    "sources.parse_ms": r"StockPipeline\.ingest\(|sources\.AlphaVantage",
    "pipeline.quality_ms": r"StockPipeline\.qualityChecks\(",
    "store.upsert_ms": r"StockPipeline\.upsertIntoStockData\(",
    "store.logs_ms": r"StockPipeline\.writeLogs\(",
}

# Named layer metrics computed from SQL executions (DDL and other
# commands that run on the driver and launch no job), by the same rule.
EXEC_LAYERS = {
    "store.bootstrap_ms": r"store\.Catalog\$?\.bootstrap\(",
}

# Writes that belong to the store: a graft.store method or the stock
# table's upsert on the write's call site. Other writes (the harness's
# check outputs, graft's staging, the run logs) are not counted.
STORE_WRITE = r"^graft\.store\.|StockPipeline\.upsertIntoStockData\("

# Spans the harness opens around calls into a named layer.
SPAN_LAYERS = {
    "analytics.build_ms": "analytics.build",
    "dedup.staging_ms": "dedup.staging",
    "dedup.cluster_ms": "dedup.cluster",
    "dedup.fold_ms": "dedup.fold",
    "decontaminate.ms": "decontaminate",
    "trainprep.curate_ms": "trainprep.curate",
    "trainprep.pack_ms": "trainprep.pack",
    "trainprep.shard_ms": "trainprep.shard",
    "store.monitor_ms": "store.monitor",
}

# The span holding a unit of work whose children (the named module spans
# of the pipeline run; build + execute of a query) must explain it.
COVER = {"llm_e2e": "llm.e2e", "olap_mix": "query"}


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(values):
    """(percentile, value): the highest ladder percentile with at least ten
    samples beyond it; the median when there are fewer than twenty."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in segs:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span id -> self time in ms: duration minus the part of it that
    child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_ms([(c["start_ns"], c["end_ns"]) for c in kids.get(s["id"], [])], a, b)
        out[s["id"]] = (b - a - covered) / 1e6
    return out


def attribute_jobs(jobs, spans):
    """Job id -> span id. A job carries the span that was open on the
    submitting thread; a job without one (submitted from a thread that
    did not inherit it) goes to the innermost span whose interval holds
    its start, else to -1 (outside every span)."""
    out = {}
    for j in jobs:
        if j["span"] >= 0:
            out[j["id"]] = j["span"]
            continue
        best = -1
        best_len = None
        for s in spans:
            if s["start_wall_ms"] <= j["start_ms"] <= s["end_wall_ms"]:
                length = s["end_wall_ms"] - s["start_wall_ms"]
                if best_len is None or length < best_len:
                    best, best_len = s["id"], length
        out[j["id"]] = best
    return out


_FRAME = re.compile(r"^graft\.([A-Za-z0-9_.$]+?)\.[A-Za-z0-9_$]+\(")


def _frame_module(frame):
    m = _FRAME.match(frame)
    if not m:
        return None
    parts = m.group(1).split(".")
    cls = parts[-1].split("$")[0]
    name = f"operators.{cls}" if parts[0] == "operators" else (parts[0] if len(parts) > 1 else cls)
    return name if name in MODULES else None


def module_of(frames):
    """Graft module of a job: the module of the innermost graft frame of
    its call site that belongs to a named module
    (`graft.operators.Dedup$.f(Dedup.scala:1)` -> `operators.Dedup`,
    `graft.Tables$.load(...)` -> `Tables`, `graft.pipeline.StockPipeline.f`
    -> `pipeline`); `other` when only unnamed graft code (Conf, other
    operators) is on the stack; `harness` when no graft frame is."""
    if not frames:
        return "harness"
    for f in frames:
        mod = _frame_module(f)
        if mod:
            return mod
    return "other"


# Module a harness span calls into, for jobs whose call site holds no
# graft frame (the harness runs the action on a frame graft built).
SPAN_MODULE = {"analytics.build": "analytics", "execute": "analytics",
               "dedup.staging": "operators.Dedup", "dedup.cluster": "operators.Dedup",
               "dedup.fold": "operators.Dedup", "decontaminate": "operators.Decontaminate",
               "trainprep.curate": "operators.TrainPrep", "trainprep.pack": "operators.TrainPrep",
               "trainprep.shard": "operators.TrainPrep",
               "store.monitor": "store", "ingest.run": "pipeline", "stream": "streaming"}


def span_modules(spans):
    """Span id -> module of the innermost enclosing span that names one."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        sid, mod = s["id"], "harness"
        while sid >= 0:
            if by_id[sid]["name"] in SPAN_MODULE:
                mod = SPAN_MODULE[by_id[sid]["name"]]
                break
            sid = by_id[sid]["parent"]
        out[s["id"]] = mod
    return out


def job_module(job, span_id, span_module):
    """A job's module: from its call site when a graft frame is on it,
    else from the span it ran in."""
    mod = module_of(job["frames"])
    if mod == "harness" and span_id >= 0:
        return span_module.get(span_id, "harness")
    return mod


def job_ms(j):
    return max(0, j["end_ms"] - j["start_ms"]) if j["end_ms"] >= 0 else 0


def engine_counters(jobs, wall_ms, cores, ops):
    """Spark engine counters summed over `jobs`, per unit of work (`ops`),
    except core_busy_frac = sum of task run time / (wall x cores)."""
    tot = {k: 0.0 for k in ENGINE}
    for j in jobs:
        m = j["m"]
        tot["jobs"] += 1
        tot["stages"] += j["stages"]
        tot["tasks"] += m["tasks"]
        tot["sched_delay_ms"] += m["sched_delay_ms"]
        tot["task_cpu_ms"] += m["cpu_ms"]
        for k in ("gc_ms", "deser_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "fetch_wait_ms", "input_bytes", "output_bytes"):
            tot[k] += m[k]
        tot["core_busy_frac"] += m["run_ms"]
    out = {f"spark.{k}": v / max(1, ops) for k, v in tot.items()}
    out["spark.core_busy_frac"] = tot["core_busy_frac"] / max(1e-9, wall_ms * cores)
    return out


def module_counters(jobs, by_span, span_module, ops):
    out = {f"module.{m}.{c}": 0.0 for m in MODULES for c in MODULE_COUNTERS}
    for j in jobs:
        mod = job_module(j, by_span[j["id"]], span_module)
        m = j["m"]
        out[f"module.{mod}.jobs"] += 1
        out[f"module.{mod}.tasks"] += m["tasks"]
        out[f"module.{mod}.task_ms"] += m["run_ms"]
        out[f"module.{mod}.shuffle_bytes"] += m["shuffle_write_bytes"] + m["shuffle_read_bytes"]
    return {k: v / max(1, ops) for k, v in out.items()}


def coverage(spans, parent_name):
    """Share of the time of the spans named `parent_name` that their
    child spans cover: 1 - self time / duration, summed over them."""
    st = self_times(spans)
    parents = [s for s in spans if s["name"] == parent_name]
    total = sum(s["end_ns"] - s["start_ns"] for s in parents) / 1e6
    return 1.0 - sum(st[s["id"]] for s in parents) / total if total else 0.0


def overhead(untraced, traced):
    """Tracing overhead: the median over operation names of (median traced
    latency / median untraced latency) - 1, pairing samples by name so a
    mix of different operations compares like with like."""
    ratios = []
    for name in {s["name"] for s in traced} & {s["name"] for s in untraced}:
        t = median([s["ms"] for s in traced if s["name"] == name])
        u = median([s["ms"] for s in untraced if s["name"] == name])
        if u > 0:
            ratios.append(t / u)
    return median(ratios) - 1.0 if ratios else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def store_writes(writes, ops):
    """(bytes per written row, files per operation) over the writes whose
    call site is the store's (`STORE_WRITE`); zeros when there are none."""
    rx = re.compile(STORE_WRITE)
    mine = [w for w in writes if any(rx.search(f) for f in w["frames"])]
    rows = sum(w["rows"] for w in mine)
    return (sum(w["bytes"] for w in mine) / rows if rows else 0.0,
            sum(w["files"] for w in mine) / max(1, ops))


def streaming(progress, spans):
    """Streaming metrics per replay (per `stream` span) from the
    micro-batch progress of the queries the replays ran. State rows and
    bytes are each query's peak over its micro-batches, averaged over the
    queries; replay_setup_ms is the replay's wall time minus its
    triggers' time, i.e. the harness around the micro-batches."""
    calls = [s for s in spans if s["name"] == "stream"]
    if not calls or not progress:
        return {k: 0.0 for k in PER_LAYER if k.startswith("streaming.")}
    n = len(calls)

    def total(key):
        return sum(p["ms"].get(key, 0) for p in progress)

    peak = {}
    for p in progress:
        r, b = peak.get(p["run"], (0, 0))
        peak[p["run"]] = (max(r, p["state_rows"]), max(b, p["state_bytes"]))
    trig = total("triggerExecution")
    wall = sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in calls)
    return {
        "streaming.trigger_ms": trig / n,
        "streaming.addbatch_ms": total("addBatch") / n,
        "streaming.commit_ms": (total("walCommit") + total("commitOffsets")) / n,
        "streaming.plan_ms": total("queryPlanning") / n,
        "streaming.state_rows": sum(r for r, _ in peak.values()) / len(peak),
        "streaming.state_bytes": sum(b for _, b in peak.values()) / len(peak),
        "streaming.state_commit_ms": sum(p["state_commit_ms"] for p in progress) / n,
        "streaming.replay_setup_ms": (wall - trig) / n,
        "streaming.batch_p50_ms": median([p["ms"].get("triggerExecution", 0) for p in progress]),
        "streaming.events_per_s": sum(p["input_rows"] for p in progress) / (trig / 1e3) if trig else 0.0,
    }


def matched_ms(recs, pattern):
    """Summed duration of the records (jobs or SQL executions) any of
    whose call-site frames matches `pattern`."""
    rx = re.compile(pattern)
    return sum(job_ms(r) for r in recs if any(rx.search(f) for f in r["frames"]))
