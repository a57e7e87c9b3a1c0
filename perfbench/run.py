#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload gwas_lookup --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the harness from source (sbt, offline) into perfbench/target; later
runs reuse the build while the sources are unchanged. Each run then

1. generates the workload's inputs from --seed (gen.py),
2. runs them in one JVM on local[4], one client, each request sent only
   after the previous one returned, for --seconds,
3. checks every output, untimed (check.py),
4. prints one JSON line: the end-to-end metrics with --trace 0, the
   per-layer metrics from spans and listeners with --trace 1.

See perfbench/README.md for the workloads and the metric definitions.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spans as sp  # noqa: E402

CPUS = 4
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 880
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
PRIMARY = {"gwas_lookup": {"region", "facet", "marker", "locus", "chr_counts", "catalog"},
           "study_ingest": {"append", "merge", "delete", "compact"}}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    for base in SOURCES + [os.path.join(HERE, "build.sbt")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the JVM classpath."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4.1 install")
    stamp = os.path.join(HERE, "target", "graftbench.stamp")
    want = source_hash()
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        log("building engine + harness (sbt compile)")
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "compile"], cwd=HERE,
                               timeout=BUILD_TIMEOUT_S,
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        with open(stamp, "w") as f:
            f.write(want)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    return classes + os.pathsep + os.path.join(spark_home, "jars", "*")


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, indir, rundir, seconds, trace):
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else "java"
    cmd = [java, "-Xmx2g", "-XX:+UseParallelGC",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(rundir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main", workload, indir, rundir, str(seconds), str(trace)]
    # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch in the run
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(rundir, "jvm.log"), "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=rundir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {JVM_TIMEOUT_S} s")
    res = os.path.join(rundir, "result.json")
    if r.returncode != 0 or not os.path.exists(res):
        with open(os.path.join(rundir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM exited with {r.returncode}")
    with open(res) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def pct(xs, q):
    """Percentile q (0-100) with linear interpolation between samples."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(result, primary, window_s):
    ms = [o["ms"] for o in primary]
    return {
        "setup_s": metric(statistics.median(result["setup_s"]), "s"),
        "op_p50_ms": metric(pct(ms, 50), "ms"),
        "ops_per_s": metric(len(ms) / window_s, "1/s"),
        "peak_rss_mb": metric(result["extra"]["peak_rss_mb"], "MB"),
    }


def per_layer(workload, result, primary, window_s, model):
    """Per-layer metrics of the timed window. Time and count metrics are
    per request (a lookup, or a commit with its reads)."""
    n = len(primary)
    lay = result["layer"]
    lo, hi = result["window_ns"]
    spans = [s for s in result["spans"] if lo <= s[3] and s[4] <= hi]
    # job times are whole milliseconds: keep jobs that start in the window
    jobs = [j for j in result["jobs"] if lo <= j[2] <= hi and j[3] >= 0]
    selfs = sp.self_by_name(spans)
    path = sp.ancestors(spans)
    ops = [o for o in result["ops"] if o["kind"] != "check" and not o.get("warm")]

    def self_ms(name, per=None):
        ns, k = selfs.get(name, (0, 0))
        return ns / 1e6 / (per if per is not None else max(k, 1))

    def jobs_under(names):
        return sum(1 for j in jobs if path.get(j[1], frozenset()) & names)

    in_jobs = [(j[2], j[3]) for j in jobs]
    op_spans = [s for s in spans if s[2].startswith("op.")]
    residue = sum((s[4] - s[3]) - sp.covered(in_jobs, s[3], s[4]) for s in op_spans)
    rows = sum(o.get("rows", 0) for o in ops)
    commits = [o for o in primary if o["kind"] in PRIMARY["study_ingest"]]
    m = {
        "queries.construct_ms": metric(self_ms("construct", n), "ms"),
        "queries.construct_jobs": metric(jobs_under({"construct"}) / n, "count"),
        "catalyst.analysis_ms": metric(lay.get("analysis_ms", 0) / n, "ms"),
        "catalyst.optimization_ms": metric(lay.get("optimization_ms", 0) / n, "ms"),
        "catalyst.planning_ms": metric(lay.get("planning_ms", 0) / n, "ms"),
        "codegen.compiles": metric(lay["codegen_compiles"] / n, "count"),
        "codegen.compile_ms": metric(lay["codegen_compile_ns"] / 1e6 / n, "ms"),
        "spark.jobs": metric(len(jobs) / n, "count"),
        "spark.stages": metric(lay.get("stages", 0) / n, "count"),
        "spark.tasks": metric(lay.get("tasks", 0) / n, "count"),
        "spark.scheduler_delay_ms": metric(lay.get("scheduler_delay_ms", 0) / n, "ms"),
        "spark.task_run_ms": metric(lay.get("task_run_ms", 0) / n, "ms"),
        "spark.task_cpu_ms": metric(lay.get("task_cpu_ns", 0) / 1e6 / n, "ms"),
        "spark.shuffle_write_bytes": metric(lay.get("shuffle_write_bytes", 0) / n, "B"),
        "spark.shuffle_read_bytes": metric(lay.get("shuffle_read_bytes", 0) / n, "B"),
        "spark.spill_bytes": metric(lay.get("spill_bytes", 0) / n, "B"),
        "scan.rows_per_result": metric(lay.get("input_records", 0) / max(rows, 1), "ratio"),
        "driver.residue_ms": metric(residue / 1e6 / n, "ms"),
        "jvm.gc_ms": metric(lay["gc_ms"] / n, "ms"),
        "host.calib_ms": metric(max(result["extra"]["calib_ms"]), "ms"),
        "trace.op_p50_ms": metric(pct([o["ms"] for o in primary], 50), "ms"),
        "trace.op_p75_ms": metric(pct([o["ms"] for o in primary], 75), "ms"),
    }
    # storage and gwas layers: study_ingest only
    ingest = workload == "study_ingest"
    ex = result["extra"]
    reads = [o["ms"] for o in ops if o["kind"] in ("read_head", "read_pinned")]
    def loads(commit_ops):
        return [o["i"] for o in commit_ops if o["ok"] and o["kind"] in ("append", "merge")]
    # the table holds the base load and every load before and inside the window
    every = [o for o in result["ops"] if o["kind"] in PRIMARY["study_ingest"]]
    load_bytes = (model.commit_bytes[0] + sum(model.commit_bytes[i] for i in loads(every))) \
        if ingest else 0
    ckpt = [o["ms"] for o in commits if o.get("version", -1) > 0 and o["version"] % 10 == 0]
    st = model.stats if ingest else {}
    m.update({
        "storage.append_ms": metric(self_ms("storage.append"), "ms"),
        "storage.merge_ms": metric(self_ms("storage.merge"), "ms"),
        "storage.delete_ms": metric(self_ms("storage.delete"), "ms"),
        "storage.compact_ms": metric(self_ms("storage.compact"), "ms"),
        "storage.jobs_per_commit": metric(
            jobs_under({f"op.{k}" for k in PRIMARY["study_ingest"]}) / max(len(commits), 1),
            "count"),
        "storage.checkpoint_commit_ms": metric(statistics.mean(ckpt) if ckpt else 0, "ms"),
        "storage.read_plan_ms": metric(self_ms("storage.read_plan"), "ms"),
        "storage.pinned_read_plan_ms": metric(self_ms("storage.pinned_read_plan"), "ms"),
        "storage.read_p50_ms": metric(pct(reads, 50) if reads else 0, "ms"),
        "storage.read_p75_ms": metric(pct(reads, 75) if reads else 0, "ms"),
        "storage.files_live": metric(ex.get("files_live", 0), "count"),
        "storage.bytes_written": metric(ex.get("table_bytes", 0), "B"),
        "storage.log_bytes": metric(ex.get("log_bytes", 0), "B"),
        "storage.write_amp": metric(ex["table_bytes"] / load_bytes if ingest else 0, "ratio"),
        "storage.space_amp": metric(ex["table_bytes"] / ex["plain_bytes"] if ingest else 0,
                                    "ratio"),
        "ingest.rows_per_s": metric(
            sum(model.commit_rows[i] for i in loads(commits)) / window_s if ingest else 0,
            "1/s"),
        "gwas.qc_kept_ratio": metric(st["kept"] / st["resolved"] if ingest else 0, "ratio"),
        "gwas.unresolved_ratio": metric(
            1 - st["resolved"] / st["load_rows"] if ingest else 0, "ratio"),
        "gwas.audit_append_ms": metric(self_ms("gwas.audit_append"), "ms"),
    })
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src: run from a graft source checkout")
    cp = build()

    # kept when the run fails, for its jvm.log
    work = os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    indir, rundir = os.path.join(work, "in"), os.path.join(work, "run")
    t0 = time.time()
    gen.generate(a.workload, a.seed, indir)
    os.makedirs(rundir)
    t1 = time.time()
    result = run_jvm(cp, a.workload, indir, rundir, a.seconds, a.trace)
    t2 = time.time()
    with open(os.path.join(indir, "spec.json")) as f:
        spec = json.load(f)

    model = None
    if a.workload == "gwas_lookup":
        wrong = check.check_gwas_lookup(indir, spec, result)
    else:
        wrong, model = check.check_study_ingest(indir, spec, result)
    ops = result["ops"]
    failed = sum(1 for k, o in enumerate(ops) if not o["ok"] or k in wrong)
    for k in sorted(wrong):
        log(f"wrong output: {json.dumps(ops[k])[:300]}")

    primary = [o for o in ops if o["kind"] in PRIMARY[a.workload] and not o.get("warm")]
    if not primary:
        fail("no request completed inside the window")
    lo, hi = result["window_ns"]
    window_s = (hi - lo) / 1e9
    metrics = (per_layer(a.workload, result, primary, window_s, model) if a.trace
               else end_to_end(result, primary, window_s))
    log(f"{len(primary)} requests in {window_s:.1f} s, setup {result['setup_s']}, "
        f"calib {result['extra']['calib_ms']}; generate {t1 - t0:.1f} s, "
        f"jvm {t2 - t1:.1f} s, check {time.time() - t2:.1f} s")
    if a.trace:
        # the spans, jobs and counters behind the per-layer numbers
        shutil.copy(os.path.join(rundir, "result.json"), work + ".trace.json")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
