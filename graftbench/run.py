#!/usr/bin/env python3
"""Benchmark of the morph kernel and the graft-avro table.

    python3 graftbench/run.py --workload record_morph --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source with scalac (cached under graftbench/.build), runs one workload in
one JVM against local Spark, and prints as its last line one JSON object:
correct, attempted, failed and metrics (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). The line before it carries the detail:
calibration probe times, sizes, sample counts, tail percentiles and each
op kind's and reference's latency in milliseconds.

See NOTES.md for the workloads and the metric map.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

# each workload's op kinds in role order (op1, op2, op3 of the end-to-end metrics)
ROLES = {
    "record_morph": ("batch", "plan", "sql_call"),
    "table_ingest": ("commit", "lookup", "delete"),
}
OP_KINDS = tuple(k for kinds in ROLES.values() for k in kinds)
MAX_CORES = 4
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("engine sources (src/main/scala) not found: run from a full checkout")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True)
    return sorted(files)


def build(jars):
    """Compile engine + benchmark once per source state; return class dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(HERE, ".build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile]
    print("graftbench: compiling engine and benchmark ...", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_jvm(args, jars, classes, work, out):
    cores = min(MAX_CORES, os.cpu_count() or 1)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    # a fixed young generation: with G1's adaptive eden sizing,
    # record_morph's runs fell into a fast and a slow group (six seeds each
    # way: batch latency spread 28% adaptive, 15% fixed). Lower compile
    # thresholds: plans and record.sql calls were still speeding up in the
    # timed phase as Spark's planner code reached the optimising compiler
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC",
            "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmpdir]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", out,
              "--cores", str(cores)])
    # keep Spark's scratch space inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {rc}")
    return cores


def op_table(raw):
    ops = [dict(zip(("kind", "t0", "t1", "traced", "ok"), o)) for o in raw["ops"]]
    for i, o in enumerate(ops):
        o["i"] = i
        o["ms"] = (o["t1"] - o["t0"]) / 1e6
    return ops


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(workload, raw, ops):
    """The user-visible metrics; every workload reports every one.

    Each op is timed against a reference op run right after it on the same
    inputs by Spark's or Avro's own code (NOTES.md, "References"): `_rel`
    is the 10%-trimmed mean of the op/reference ratios and `_tail_rel`
    their tail. The host's speed drifts by up to 2x within minutes; both
    halves of a pair see the same speed, so the ratio does not.
    """
    info = raw["info"]
    roles = ROLES[workload]
    seq = [(o["kind"], o["ms"]) for o in ops if o["ok"]]
    m = {
        "setup_s": metric(stats.median(info["setup_s"]), "s"),
        "heap_retained_mb": metric(info["heap_retained_mb"], "MB"),
    }
    tails = {}
    for n, kind in enumerate(roles, start=1):
        rs = stats.pair_ratios(seq, kind, kind + "_ref")
        m[f"op{n}_rel"] = metric(stats.trimmed_mean(rs), "ratio")
        if n <= 2:
            t = stats.tail(rs)
            m[f"op{n}_tail_rel"] = metric(t[1] if t else max(rs, default=0.0), "ratio")
            tails[kind] = {"percentile": t[0] if t else 100, "samples": len(rs)}
    return m, tails


def per_layer(workload, raw, ops):
    """Layer metrics from the traced steps; 0 where the workload makes no
    such call (e.g. commits in record_morph)."""
    info = raw["info"]
    traced = [o for o in ops if o["traced"]]
    spans, jobs, attrs = {}, {}, {}
    for op, name, t0, t1 in raw["spans"]:
        spans.setdefault(op, {}).setdefault(name, []).append((t0, t1))
    for op, t0, t1 in raw["jobs"]:
        jobs.setdefault(op, []).append((t0, t1))
    for op, name, v in raw["attrs"]:
        attrs.setdefault(op, {})[name] = v
    tasks = {row[0]: row[1:] for row in raw["tasks"]}

    def of(kind):
        return [o for o in traced if o["kind"] == kind and o["ok"]]

    def span_ms(o, name):
        return sum(e - s for s, e in spans.get(o["i"], {}).get(name, [])) / 1e6

    def med(xs):
        return stats.median(list(xs))

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def job_ms(o):
        return stats.union_length(jobs.get(o["i"], []), clip=(o["t0"], o["t1"])) / 1e6

    def driver_ms(o):
        return stats.driver_only((o["t0"], o["t1"]), jobs.get(o["i"], [])) / 1e6

    def attr(o, name):
        return attrs.get(o["i"], {}).get(name, 0.0)

    m = {}
    # a plan op builds the whole deck and a sql_call op runs one record
    # through it: their layer metrics are per projector and per call
    plans, batches = of("plan"), of("batch")
    parts = ("sql.parse", "sql.plan", "avro.schema_convert")
    recs = sum(attr(o, "records") for o in batches) or 1

    def per_projector_us(name):
        return med(span_ms(o, name) * 1e3 / attr(o, "projectors") for o in plans)

    m["sql.parse_us"] = metric(per_projector_us("sql.parse"), "us")
    m["sql.plan_us"] = metric(per_projector_us("sql.plan"), "us")
    m["avro.schema_convert_us"] = metric(per_projector_us("avro.schema_convert"), "us")
    m["avro.projector_build_ms"] = metric(med(
        (o["ms"] - sum(span_ms(o, p) for p in parts)) / attr(o, "projectors")
        for o in plans), "ms")
    m["avro.decode_ns_per_rec"] = metric(
        sum(span_ms(o, "avro.decode") for o in batches) * 1e6 / recs, "ns")
    m["avro.encode_ns_per_rec"] = metric(
        sum(span_ms(o, "avro.encode") for o in batches) * 1e6 / recs, "ns")
    m["avro.apply_ns_per_rec"] = metric(sum(o["ms"] for o in batches) * 1e6 / recs, "ns")
    m["avro.alloc_bytes_per_rec"] = metric(
        sum(attr(o, "alloc_bytes") for o in batches) / recs, "B")
    calls = of("sql_call")
    m["avro.sql_call_jobs"] = metric(
        mean(len(jobs.get(o["i"], [])) / attr(o, "calls") for o in calls), "count")
    m["avro.sql_call_driver_ms"] = metric(
        med(driver_ms(o) / attr(o, "calls") for o in calls), "ms")

    commits, deletes = of("commit"), of("delete")
    # job spans have the listener's millisecond resolution: means, not medians
    m["write.job_ms"] = metric(mean(job_ms(o) for o in commits), "ms")
    m["write.driver_ms"] = metric(med(driver_ms(o) for o in commits), "ms")
    m["write.jobs_per_commit"] = metric(mean(len(jobs.get(o["i"], [])) for o in commits), "count")
    m["write.tasks_per_commit"] = metric(
        mean(tasks.get(o["i"], [0])[0] for o in commits), "count")
    for a, unit in (("meta_bytes_rewritten", "B"), ("meta_files_touched", "count"),
                    ("data_bytes_per_row", "B")):
        m["write." + a] = metric(med(attr(o, a) for o in commits), unit)
    m["delete.job_ms"] = metric(mean(job_ms(o) for o in deletes), "ms")
    m["delete.driver_ms"] = metric(med(driver_ms(o) for o in deletes), "ms")
    m["table.data_files"] = metric(info.get("table.data_files", 0), "count")
    m["table.meta_bytes"] = metric(info.get("table.meta_bytes", 0), "B")

    lookups = of("lookup")
    m["scan.plan_ms"] = metric(med(span_ms(o, "scan.plan") for o in lookups), "ms")
    m["scan.exec_ms"] = metric(med(span_ms(o, "scan.exec") for o in lookups), "ms")
    m["scan.partitions_planned"] = metric(
        mean(attr(o, "partitions_planned") for o in lookups), "count")
    m["scan.files_pruned_ratio"] = metric(mean(
        1 - attr(o, "partitions_planned") / attr(o, "data_files")
        for o in lookups if attr(o, "data_files")), "ratio")
    m["scan.rows_out"] = metric(mean(attr(o, "rows_out") for o in lookups), "count")
    for kind in OP_KINDS:
        os_ = of(kind)
        t = [tasks.get(o["i"], [0, 0, 0.0, 0]) for o in os_]
        m[f"spark.{kind}.jobs"] = metric(mean(len(jobs.get(o["i"], [])) for o in os_), "count")
        m[f"spark.{kind}.tasks"] = metric(mean(x[0] for x in t), "count")
        m[f"spark.{kind}.executor_run_ms"] = metric(mean(x[1] for x in t), "ms")
        m[f"spark.{kind}.executor_cpu_ms"] = metric(mean(x[2] for x in t), "ms")
        m[f"spark.{kind}.driver_only_ms"] = metric(mean(driver_ms(o) for o in os_), "ms")
        m[f"spark.{kind}.shuffle_bytes"] = metric(mean(x[3] for x in t), "B")

    m["jvm.gc_ms"] = metric(info["gc_ms"], "ms")
    m["jvm.gc_count"] = metric(info["gc_count"], "count")
    m["bench.calib_pre_s"] = metric(info["calib_pre_s"], "s")
    m["bench.calib_post_s"] = metric(info["calib_post_s"], "s")
    # whole steps, tracing work included; the listener runs in both halves
    steps = [(kind, (t1 - t0) / 1e6, traced) for kind, t0, t1, traced in raw["steps"]]
    m["trace.overhead_pct"] = metric(stats.tracing_overhead_pct(steps), "%")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    cores = run_jvm(args, jars, classes, work, out)
    with open(out) as fh:
        raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    ops = op_table(raw)
    info = raw["info"]
    checks = {k: {"passed": v[0], "failed": v[1]} for k, v in raw["checks"].items()}
    failed = (sum(1 for o in ops if not o["ok"]) + info.get("warmup_failed", 0)
              + sum(c["failed"] for c in checks.values()))
    e2e, tails = end_to_end(args.workload, raw, ops)
    metrics = per_layer(args.workload, raw, ops) if args.trace else e2e
    kinds = [k for r in ROLES[args.workload] for k in (r, r + "_ref")]
    counts = {k: sum(1 for o in ops if o["kind"] == k) for k in kinds}
    detail = {k: v for k, v in info.items() if not k.startswith("table.")}
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "clients": 1, "spark_cores": cores, "op_roles": dict(zip(("op1", "op2", "op3"),
                                                                 ROLES[args.workload])),
        "op_counts": counts, "tails": tails, "checks": checks,
        "ops_per_s": sum(1 for o in ops if o["ok"]) / info["phase_s"],
        "op_mean_ms": {k: stats.trimmed_mean([o["ms"] for o in ops if o["kind"] == k and o["ok"]])
                       for k in kinds},
        "op_p50_ms": {k: stats.median([o["ms"] for o in ops if o["kind"] == k and o["ok"]])
                      for k in kinds},
    })
    if args.trace:
        detail["end_to_end_of_traced_run"] = {k: v["value"] for k, v in e2e.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0 and bool(checks),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
