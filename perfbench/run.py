#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles src/main/scala plus
perfbench/src with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, else the install that spark-submit on PATH belongs to)
into .bench_build/; later runs
reuse the build while the sources are unchanged. The workload runs in one
JVM (local[4], fixed flags below) inside .bench_build/work/.

Any workload perfbench.Main knows can be run; BENCHMARK.json lists the ones
the benchmark gates on. The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, where metrics are the end_to_end metrics of BENCHMARK.json
(--trace 0) or its per_layer metrics (--trace 1). The line before it holds
every metric the workload measured, with its unit. A traced run fails if a
per_layer metric its workload owns (OWNS below) is missing, and reports 0
for one that only other workloads measure.
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

BUILD = ".bench_build"
RUN_LIMIT_S = 165
BUILD_LIMIT_S = 700
HEAP = "3g"
# The JVM flags the project's own build passes to forked runs (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:TieredStopAtLevel=1",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
]

# The per_layer metrics each workload measures in a traced run.
COMMON = ["op_p95_ms", "failed_ratio", "rss_peak_mb", "jvm.gc_ms",
          "jvm.process_cpu_s", "trace.spans"]
WRITE = ["engine.put_us_p50", "engine.put_us_p99", "engine.sync_ms_p50",
         "engine.sync_ms_max", "engine.syncs", "engine.sync.task_cpu_s"]
READ = ["engine.get." + m for m in (
    "capture_ms", "analysis_ms", "optimization_ms", "planning_ms", "exec_ms",
    "idle_ms", "jobs", "stages", "tasks", "broadcasts", "static_broadcasts",
    "shuffle_bytes", "files_read", "rows_scanned_per_returned", "task_cpu_ms")
] + ["get_static_p50_ms", "get_wildcard_p50_ms"]
OWNS = {
    "get_mix": COMMON + READ + [
        "engine.data_files", "engine.files_per_partition_max",
        "engine.bytes_on_disk", "trace.self_ms.graft.engine"],
    "wire_ingest": COMMON + WRITE + [
        "engine.bytes_on_disk", "model.topic_parse_ns", "model.topic_matches_ns",
        "streaming.utp.encode_us_per_packet", "streaming.utp.decode_us_per_packet",
        "streaming.utp.accept_msgs_per_s", "streaming.utp.final_sync_s",
        "streaming.utp.delivered_ratio", "publish_ack_p99_ms", "delivery_p50_ms",
        "delivery_p99_ms", "bench.gen_lag_ms_p99", "trace.self_ms.graft.streaming",
        "trace.self_ms.graft.model"],
    "churn": COMMON + WRITE + READ + [
        "engine.data_files", "engine.files_per_partition_max",
        "engine.tombstone_rows", "engine.compact_ms", "engine.compact.partitions",
        "engine.get_during_maintenance_p50_ms", "engine.vacuum.bytes_rewritten",
        "engine.bytes_on_disk", "get_p50_ms", "get_p95_ms", "vacuum_s",
        "space_amp", "bench.gen_lag_ms_p99", "trace.self_ms.graft.engine"],
}
OWNS["churn_race"] = OWNS["churn"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        fail("no program sources under src/main/scala (run from a checkout root)")
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return files + bench


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler in {jars}")
    return jars


def build(jars):
    """Compile once per source state; returns the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    os.rename(tmp, out)
    return out


def run_jvm(classes, jars, args, work, limit_s):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp",
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work])
    with open(os.path.join(work, "stdout.log"), "wb") as out, \
            open(os.path.join(work, "stderr.log"), "wb") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, start_new_session=True)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    with open(os.path.join(work, "stdout.log"), errors="replace") as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if code != 0 or not lines:
        with open(os.path.join(work, "stderr.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"workload {args.workload} " +
             ("timed out" if code is None else f"exited with {code}"))
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found (run from a checkout root)")
    owned = {n for names in OWNS.values() for n in names}
    for m in spec["per_layer"]:
        if m["name"] not in owned:
            fail(f"per_layer metric {m['name']} is measured by no workload")
    if args.workload not in OWNS:
        fail(f"unknown workload {args.workload}")
    jars = spark_jars()
    classes = build(jars)
    work = os.path.abspath(os.path.join(
        BUILD, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = run_jvm(classes, jars, args, work, RUN_LIMIT_S)
        if args.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                dest = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.jsonl")
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.copyfile(spans, dest)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = out["metrics"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            v = measured[m["name"]]
            metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
        elif args.trace and m["name"] not in OWNS[args.workload]:
            # a layer only other workloads exercise
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"workload {args.workload} did not measure {m['name']}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "notes": out["notes"],
                      "measured": measured}))
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
