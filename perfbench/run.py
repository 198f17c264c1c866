#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds graft and the harness from
source (sbt, into .bench_build/), generates the workload's inputs from the
seed, runs the workload in one JVM on local[nproc], checks every output
against its oracle, and prints one JSON object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Each run works in a fresh scratch root under .bench_work/ that
holds the inputs, the warehouse, java.io.tmpdir, spark.local.dir and the
SQL warehouse, and deletes it on exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("olap_mix", "llm_e2e", "ingest_upsert")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
# Class-data-sharing archive of the classes a run loads, written by the
# first run after a build and mapped by every later one: it takes about
# 5 s of class loading off each run's cold JVM start. A JVM that cannot
# use it (another JDK, a changed class path) runs without it.
CDS_ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
SPARK_JARS = os.environ.get("SPARK_GRAFT_JARS") or (
    os.path.join(os.environ["SPARK_HOME"], "jars") if os.environ.get("SPARK_HOME") else "")
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]
DEADLINE_S = 170


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build compiles, so an unchanged checkout
    reuses its build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala/graft: run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS!r}: set SPARK_HOME or SPARK_GRAFT_JARS")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building graft and the harness from source")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's temp files, server socket and JNA scratch stay in the checkout
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")


def cpu_jiffies():
    """(steal, total) CPU jiffies of the host since boot; zeros where
    /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(args, work, cores, deadline):
    dirs = {k: os.path.join(work, k) for k in ("data", "out", "tmp", "local", "warehouse", "sqlwh")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    dump = CDS_ARCHIVE + f".{os.getpid()}"
    cds_flag = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
                else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={dirs['tmp']}", "-Duser.timezone=UTC",
           f"-Dspark.local.dir={dirs['local']}", f"-Dspark.sql.warehouse.dir={dirs['sqlwh']}",
           f"-Dderby.system.home={work}", "-Dspark.callstack.depth=200",
           cds_flag, "-cp", f"{JAR}{os.pathsep}{SPARK_JARS}/*", "perfbench.Main",
           "--workload", args.workload, "--data", dirs["data"], "--out", dirs["out"],
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--seed", str(args.seed), "--cores", str(cores)]
    env = dict(os.environ, GRAFT_WAREHOUSE=dirs["warehouse"])
    left = deadline - time.time()
    steal0, total0 = cpu_jiffies()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        logtxt, _ = proc.communicate(timeout=max(10, left))
    except subprocess.TimeoutExpired:
        proc.kill()
        logtxt = None
        proc.communicate()
    steal1, total1 = cpu_jiffies()
    if os.path.exists(dump):
        if proc.returncode == 0:
            os.replace(dump, CDS_ARCHIVE)
        else:
            os.remove(dump)
    if logtxt is None:
        fail("workload run exceeded its time limit")
    rec_path = os.path.join(dirs["out"], "record.json")
    if proc.returncode != 0 or not os.path.exists(rec_path):
        sys.stderr.write(logtxt[-4000:])
        fail(f"workload JVM exited with {proc.returncode}")
    with open(rec_path) as f:
        record = json.load(f)
    # CPU time the hypervisor gave to other guests while the JVM ran: the
    # main source of run-to-run spread on a shared host
    record["host"]["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return record, dirs


def sample_failed(s, failed_checks):
    return not s["ok"] or s["ms"] is None or any(c in failed_checks for c in s["checks"])


def op_samples(record, kind, traced=None, failed_checks=None):
    """Samples of one kind; only the correct ones unless `failed_checks`
    is None."""
    return [s for s in record["samples"] if s["kind"] == kind
            and (traced is None or s["traced"] == traced)
            and (failed_checks is None or not sample_failed(s, failed_checks))]


def end_to_end(record, failed_checks):
    """setup_s: median of the run's session set-ups. latency_ms: geometric
    mean latency of the workload's unit of work over the run."""
    ops = op_samples(record, "op", failed_checks=failed_checks)
    if not ops:
        return None
    return {
        "setup_s": (layers.median(record["setup_ms"]) / 1e3, "s"),
        "latency_ms": (layers.geomean([s["ms"] for s in ops]), "ms"),
    }


def per_layer(workload, record, dirs, failed_checks, attempted, failed):
    tr = record["trace"]
    spans, jobs = tr["spans"], tr["jobs"]
    cores = record["host"]["cores"]
    traced_ops = op_samples(record, "op", traced=True)
    n_ops = max(1, len(traced_ops))
    wall = record["traced_ms"]
    span_module = layers.span_modules(spans)
    out = {}
    out.update(layers.engine_counters(jobs, wall, cores, n_ops))
    by_span = layers.attribute_jobs(jobs, spans)
    out.update(layers.module_counters(jobs, by_span, span_module, n_ops))

    span_name = {s["id"]: s["name"] for s in spans}
    parents = {s["id"]: s["parent"] for s in spans}

    def in_span(job, name):
        sid = by_span[job["id"]]
        while sid >= 0:
            if span_name[sid] == name:
                return True
            sid = parents[sid]
        return False

    def span_total(name):
        return sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name)

    table_jobs = [j for j in jobs if layers.module_of(j["frames"]) == "Tables"]
    out["Tables.load_ms"] = sum(layers.job_ms(j) for j in table_jobs) / n_ops
    out["Tables.load_jobs"] = len(table_jobs) / n_ops
    for metric, name in layers.SPAN_LAYERS.items():
        out[metric] = span_total(name) / n_ops
    out["analytics.build_jobs"] = sum(1 for j in jobs if in_span(j, "analytics.build")) / n_ops
    out["catalyst.plan_ms"] = sum(q["plan_ms"] for q in tr["queries"]) / n_ops
    for metric, pat in layers.JOB_LAYERS.items():
        out[metric] = layers.matched_ms(jobs, pat) / n_ops
    for metric, pat in layers.EXEC_LAYERS.items():
        out[metric] = layers.matched_ms(tr["executions"], pat) / n_ops

    extra = record["extra"]
    cand, useful = check.dedup_pairs(dirs)
    out["dedup.candidate_pairs"] = float(cand)
    out["dedup.useful_frac"] = useful / cand if cand else 0.0
    out["dedup.staged_bytes"] = float(sum(g["bytes"] for g in extra.get("staging", []) if g["done"]))

    served = sum(sm["served"] for sm in extra.get("summaries", []))
    kept = sum(r[2] for sm in extra.get("summaries", []) for r in sm["rows"])
    out["sources.rows_rejected_frac"] = (served - kept) / served if served else 0.0
    out["store.bytes_written_per_row"], out["store.files_written"] = \
        layers.store_writes(tr["writes"], n_ops)
    out.update(layers.streaming(tr["progress"], spans))

    out["jvm.heap_peak_mb"] = tr["jvm"]["heap_peak_mb"]
    out["jvm.gc_ms"] = tr["jvm"]["gc_ms"] / n_ops
    # round 0 is traced for the profile; later rounds pair up for overhead
    later = [s for s in op_samples(record, "op", failed_checks=failed_checks) if s["round"] > 0]
    out["trace.overhead_frac"] = layers.overhead([s for s in later if not s["traced"]],
                                                 [s for s in later if s["traced"]])
    parent = layers.COVER.get(workload)
    out["trace.span_coverage"] = layers.coverage(spans, parent) if parent else 0.0
    out["trace.jobs_unattributed"] = float(sum(1 for v in by_span.values() if v < 0))
    out["failed_frac"] = failed / attempted if attempted else 0.0
    lat = [s["ms"] for s in op_samples(record, "op", failed_checks=failed_checks)]
    pct, tail_ms = layers.tail(lat) if lat else (0.0, 0.0)
    out["tail.ms"] = tail_ms
    out["tail.percentile"] = pct
    out["tail.samples"] = float(len(lat))
    out["host.canary_cpu_s"] = record["canaries"]["cpu_s"]
    out["host.canary_shuffle_s"] = record["canaries"]["shuffle_s"]
    out["host.cpu_steal_frac"] = record["host"]["cpu_steal_frac"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_started = time.time()
    build()
    # the run's own time limit leaves out the build
    deadline = STARTED + DEADLINE_S + (time.time() - build_started)
    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        props, manifest = gen.generate(args.workload, args.seed, os.path.join(work, "data"))
        log("inputs:", json.dumps(props))
        t0 = time.time()
        record, dirs = run_jvm(args, work, cores, deadline)
        t1 = time.time()
        failed_checks, notes = check.check(args.workload, record, dirs, manifest)
        log(f"workload JVM {t1 - t0:.1f} s, output checks {time.time() - t1:.1f} s")
        for n in notes:
            log("check:", n)
        samples = record["samples"]
        attempted = len(samples)
        failed = sum(1 for s in samples if sample_failed(s, failed_checks))
        by_name = {}
        for s in samples:
            if s.get("err"):
                log("error:", s["name"], s["err"])
            if s["ms"] is not None:
                by_name.setdefault((s["kind"], s["name"]), []).append(s["ms"])
        log("median ms by operation:", json.dumps(
            {f"{k}:{n}": round(layers.median(v), 1) for (k, n), v in sorted(by_name.items())}))
        log("setup ms:", json.dumps(record["setup_ms"]))
        correct = failed == 0 and not notes
        if args.trace:
            values = per_layer(args.workload, record, dirs, failed_checks, attempted, failed)
            if set(values) != set(layers.PER_LAYER):
                fail(f"per-layer metrics differ from the declared set: "
                     f"{sorted(set(values) ^ set(layers.PER_LAYER))}", 1)
            metrics = {k: (values[k], unit) for k, (unit, _) in layers.PER_LAYER.items()}
        else:
            metrics = end_to_end(record, failed_checks)
            if metrics is None:
                fail("no operation completed correctly", 1)
            log("host:", json.dumps(record["host"]))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass


STARTED = time.time()

if __name__ == "__main__":
    main()
