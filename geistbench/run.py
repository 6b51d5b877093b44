#!/usr/bin/env python3
"""geistspark benchmark: one workload, one seed, one result line.

    python3 geistbench/run.py --workload ingest_bulk --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the library and the
harness from source (sbt, offline) into geistbench/target; later runs reuse
the build while the sources are unchanged. The JVM writes raw samples to a
work directory under .bench_work/; this script turns them into medians and
tails, runs the DuckDB oracle check of the batch queries in interactive's
traced run, keeps the full record under .bench_work/results/, and prints one
JSON object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics. See NOTES.md for what each workload and metric means.
"""
import argparse
import fcntl
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

WORKLOADS = ("ingest_bulk", "interactive")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_ms_p50": "ms",
    "op_ms_tail": "ms",
}

PER_LAYER = {
    "spec.parse_us": "us",
    "compile.compile_ms": "ms",
    "json.parse_ns_per_event": "ns",
    "json.bytes_per_event": "B",
    "path.eval_ns_per_event": "ns",
    "functions.pipeline_ns_per_event": "ns",
    "runtime.jobs_per_batch": "count",
    "runtime.stages_per_batch": "count",
    "runtime.tasks_per_batch": "count",
    "runtime.records_read_per_event": "count",
    "runtime.batch_ms": "ms",
    "runtime.sink_ms_per_load": "ms",
    "runtime.trigger_addBatch_ms": "ms",
    "runtime.trigger_queryPlanning_ms": "ms",
    "runtime.trigger_walCommit_ms": "ms",
    "runtime.trigger_latestOffset_ms": "ms",
    "runtime.events_per_s_1thread": "1/s",
    "runtime.jobs_per_publish": "count",
    "runtime.job_ms_per_publish": "ms",
    "runtime.jobs_per_swap": "count",
    "runtime.records_read_per_publish": "count",
    "sinks.files_in_table": "count",
    "sinks.bytes_in_table": "B",
    "sinks.jobs_per_readback": "count",
    "sinks.files_scanned_per_readback": "count",
    "sources.eventsim_rows_per_trigger": "count",
    "sources.eventsim_busy_frac": "ratio",
    "entries.construct_s": "s",
    "entries.plan_s": "s",
    "entries.execute_s": "s",
    "entries.construct_jobs": "count",
    "entries.schema_jobs": "count",
    "ops.execute_jobs": "count",
    "ops.loop_jobs": "count",
    "ops.shuffle_write_mb": "MB",
    "ops.shuffle_read_mb": "MB",
    "ops.spill_mb": "MB",
    "trace.overhead_ms": "ms",
    "trace.overhead_frac": "ratio",
}

# the sample series behind op_ms_* in each workload
OP_SAMPLES = {"ingest_bulk": "op_ms", "interactive": "publish_ms"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 150


def fail(msg):
    print(f"geistbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("cannot find Spark's jars: set SPARK_HOME")
    return jars


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no library sources under {ROOT}/src/main/scala: run from a full checkout")
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(target, "source.stamp")
        cp_file = os.path.join(target, "classpath.txt")
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read() == stamp:
                    with open(cp_file) as cp:
                        return cp.read().strip()
        env = dict(os.environ, SPARK_JARS=spark_jars())
        log = os.path.join(target, "build.log")
        tmp = os.path.join(target, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               f"-Djava.io.tmpdir={tmp}", "writeClasspath"]
        rc = run_group(cmd, HERE, env, log, BUILD_TIMEOUT_S)
        if rc != 0 or not os.path.exists(cp_file):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"build failed (log: {log})")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        with open(cp_file) as cp:
            return cp.read().strip()


def run_group(cmd, cwd, env, log, timeout):
    """Run cmd in its own process group, output to log; kill the whole group
    on timeout, and wait for it. Returns the exit code (-1 on timeout)."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1


def run_jvm(classpath, workload, seed, seconds, trace, work, cpus):
    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "geistbench.Main", workload, str(seed), str(seconds),
            str(trace), work, str(cpus)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    rc = run_group(cmd, ROOT, None, log, RUN_TIMEOUT_S)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"{workload} run failed with code {rc} (log: {log})")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def with_tail(detail, name, values):
    if not values:
        return
    detail[f"{name}_p50"] = stats.median(values)
    v, pct, n = stats.tail(values)
    detail[f"{name}_tail"] = v
    detail[f"{name}_tail_percentile"] = pct
    detail[f"{name}_samples"] = n


def summarize(workload, raw, trace, oracle):
    """Turn the JVM's raw record into (result line, full record)."""
    samples = raw["samples"]
    attempted = raw["attempted"] + oracle.get("attempted", 0)
    misses = list(raw["misses"]) + oracle.get("misses", [])
    failed = raw["failed"] + len(oracle.get("misses", []))
    ops = samples.get(OP_SAMPLES[workload], [])
    if not ops:
        fail(f"{workload} recorded no {OP_SAMPLES[workload]} samples")
    op_tail, op_pct, op_n = stats.tail(ops)
    e2e = {
        "setup_s": stats.median(samples["setup_s"]),
        "throughput_per_s": raw["scalars"]["throughput_per_s"],
        "op_ms_p50": stats.median(ops),
        "op_ms_tail": op_tail,
    }
    detail = {"failed_frac": stats.failed_frac(attempted, failed),
              "heap_live_mb": raw["scalars"]["heap_live_mb"],
              "op_ms_tail_percentile": op_pct, "op_ms_samples": op_n}
    if workload == "ingest_bulk":
        detail["events_per_s"] = e2e["throughput_per_s"]
        with_tail(detail, "batch_ms", ops)
        with_tail(detail, "readback_ms", samples.get("readback_ms", []))
    elif workload == "interactive":
        detail["iterations_per_s"] = e2e["throughput_per_s"]
        with_tail(detail, "publish_ms", ops)
        with_tail(detail, "readback_ms", samples.get("readback_ms", []))
        for k in ("swap_ms", "swap_resume_ms"):
            if samples.get(k):
                detail[f"{k}_p50"] = stats.median(samples[k])
                detail[f"{k}_samples"] = len(samples[k])
        if "query_ms" in samples:
            detail["query_total_s"] = raw["info"]["query_total_s"]
            with_tail(detail, "query_ms", samples["query_ms"])
    if trace:
        metrics = {k: (raw["layers"].get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    line = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {"workload": workload, "trace": trace, "end_to_end": e2e, "detail": detail,
              "layers": raw["layers"], "misses": misses, "info": raw["info"],
              "samples": samples, "result": line}
    return line, record


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cpus = min(4, os.cpu_count() or 1)

    classpath = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        oracle = {}
        queries = args.workload == "interactive" and args.trace == 1
        if queries:
            import querydata
            querydata.generate(os.path.join(work, "data"), args.seed)
        raw = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace, work, cpus)
        if queries:
            import oracle as oracle_check
            oracle = oracle_check.check(os.path.join(work, "data"), os.path.join(work, "outputs"))
        line, record = summarize(args.workload, raw, args.trace, oracle)
        results = os.path.join(ROOT, ".bench_work", "results")
        os.makedirs(results, exist_ok=True)
        record["seed"] = args.seed
        record["seconds"] = args.seconds
        record["cpus"] = cpus
        with open(os.path.join(results, f"{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(results, f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "detail": record["detail"],
                      "misses": record["misses"][:20]}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
