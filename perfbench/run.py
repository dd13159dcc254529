#!/usr/bin/env python3
"""Delivery benchmark of the Spark-native event streamer.

Run from the repository root:

    python3 perfbench/run.py --workload steady_fanout --seed 1 --seconds 10 --trace 0

Builds the repository's main sources together with the harness under
perfbench/src (sbt, cached by a hash of every source file), runs one
workload in a fresh JVM against the system under test, checks its outputs
and prints, as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced run. Exits non-zero, without a result line,
when the build or the run fails, and with code 1 after the result line
when any output was wrong. Workloads and metrics: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("steady_fanout", "many_groups", "backfill", "query_mix")

END_TO_END = {
    "latency_p50_ms": "ms", "latency_tail_ms": "ms", "throughput_per_s": "1/s",
    "setup_s": "s", "heap_live_mb": "MiB",
}
PER_LAYER = {
    "ingest.emit_rtt_p50_ms": "ms", "ingest.emit_rtt_p99_ms": "ms",
    "loadgen.late_p99_ms": "ms",
    "trigger.wait_p50_ms": "ms", "trigger.batches": "count",
    "trigger.rows_per_batch": "count",
    "batch.exec_p50_ms": "ms", "batch.body_p50_ms": "ms", "batch.plan_ms": "ms",
    "batch.commit_ms": "ms", "batch.write_ms": "ms", "batch.count_ms": "ms",
    "batch.ledger_ms": "ms",
    "deliver.after_batch_p50_ms": "ms", "deliver.dup_ratio": "ratio",
    "split.residual_ms": "ms",
    "pull.hydrate_s": "s", "pull.hydrate_ms_per_notification": "ms",
    "pull.concurrency": "ratio",
    "dispatch.offers": "count", "dispatch.redeliveries": "count",
    "dispatch.failovers": "count", "dispatch.acks_per_offer": "ratio",
    "ledger.pending_rows_start": "count", "ledger.pending_rows_end": "count",
    "ledger.pending_metas": "count", "ledger.acked_resident": "count",
    "wal.bytes": "bytes", "wal.records": "count", "wal.bytes_per_event": "bytes",
    "spark.jobs": "count", "spark.batch_jobs_per_batch": "ratio",
    "spark.other_jobs_per_pull": "ratio", "spark.tasks": "count",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.scheduler_delay_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "query.analysis_ms": "ms", "query.optimization_ms": "ms",
    "query.planning_ms": "ms", "query.exec_ms": "ms", "query.residue_ms": "ms",
    "query.jobs": "count",
    "failed_ratio": "ratio",
}
PER_LAYER.update({f"traced.{k}": u for k, u in END_TO_END.items()})

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, log=None):
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def heap_size():
    """A quarter of the box's memory, 1 to 4 GiB: the box is shared."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration):
        return "2g"


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Returns the runtime classpath, compiling only when a source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no src/main/scala here: run from the root of a checkout of the repository")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java must be on PATH")
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    os.makedirs(STATE, exist_ok=True)
    cp_file, stamp = os.path.join(STATE, "classpath.txt"), os.path.join(STATE, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        die("build failed", log)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip().endswith(".jar") and os.pathsep in l]
    if not lines:
        die("build printed no classpath", log)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def run_jvm(cp, args, work, extra):
    log = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xms{heap_size()}", f"-Xmx{heap_size()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(args.cpus), "--nproc", str(nproc())] + extra)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                               timeout=170, text=True)
        except subprocess.TimeoutExpired:
            die("the benchmark JVM did not finish within 170 s", log)
    found = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not found:
        die(f"the benchmark JVM failed (exit {p.returncode})", log)
    return json.loads(found[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=nproc(),
                    help="Spark cores (local[N]); defaults to nproc")
    args = ap.parse_args()

    cp = build()
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra = []
    checks = None
    if args.workload == "query_mix":
        import querymix
        data = os.path.join(work, "data")
        querymix.generate(data, args.seed)
        extra = ["--data", data]
    res = run_jvm(cp, args, work, extra)
    if args.workload == "query_mix":
        checks = querymix.check(data, os.path.join(work, "out"))
        res["attempted"] += checks["attempted"]
        res["failed"] += checks["failed"]
        res["problems"] += checks["problems"]
    if args.trace:
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for p in res["problems"]:
        sys.stderr.write(f"perfbench: {p}\n")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if args.trace:
        layer = dict(res["per_layer"])
        layer["failed_ratio"] = failed / max(1, attempted)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res["end_to_end"][k]), "unit": u}
                   for k, u in END_TO_END.items()}
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    sys.path.insert(0, BENCH)
    main()
