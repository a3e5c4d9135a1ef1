#!/usr/bin/env python3
"""Benchmark of the cardinality pipeline.

    python3 perfbench/run.py --workload live_ref --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (output in .bench_build/), then every run
launches one JVM (perfbench.Main) that generates the seeded inputs, sets
the pipeline up, warms it, measures it for --seconds and checks every
output against an exact reference. The full run record, with a host
record before and after, is kept in .bench_build/runs/; the last line of
standard output is the summary the metrics in BENCHMARK.json are read
from. Exits non-zero without a summary when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
# operations run before timing starts, after the three set-up repetitions
WARMUP_OPS = {"live_ref": 2, "replay_dense": 2, "batch_rollup": 1}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles once per source state; later runs reuse the classes."""
    stamp = os.path.join(BUILD, "stamp")
    classpath = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(classpath) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(classpath).read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={BUILD}/tmp"
                       f" -Dsbt.global.base={BUILD}/sbt-global -XX:-UsePerfData")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "exportClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(classpath):
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(classpath).read().strip()


def host():
    """nproc, load, available memory and cumulative CPU jiffies (with steal)."""
    rec = {"nproc": os.cpu_count(), "affinity": len(os.sched_getaffinity(0)), "time": time.time()}
    try:
        rec["loadavg"] = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
        for line in open("/proc/meminfo"):
            if line.startswith("MemAvailable:"):
                rec["mem_available_mib"] = int(line.split()[1]) // 1024
        cpu = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        rec["cpu_jiffies"] = sum(cpu)
        rec["steal_jiffies"] = cpu[7] if len(cpu) > 7 else 0
    except OSError:
        pass
    return rec


def steal_share(before, after):
    total = after.get("cpu_jiffies", 0) - before.get("cpu_jiffies", 0)
    steal = after.get("steal_jiffies", 0) - before.get("steal_jiffies", 0)
    return steal / total if total > 0 else 0.0


def run_jvm(classpath, args, run_id):
    runs = os.path.join(BUILD, "runs")
    work = os.path.join(BUILD, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(runs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(runs, run_id + ".json")
    spans = os.path.join(runs, run_id + ".spans.json")
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads",
              "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--warmup-ops", str(WARMUP_OPS[args.workload]), "--trace", str(args.trace),
              "--work", work, "--out", out, "--spans", spans])
    with open(os.path.join(runs, run_id + ".log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s, see {log.name}", 4)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        fail(f"run failed with code {proc.returncode}, see {os.path.join(runs, run_id + '.log')}", 5)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(SOURCES[0]):
        fail(f"no program sources at {SOURCES[0]}; run from the root of a checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None or "SPARK_HOME" not in os.environ:
        fail("needs sbt, java and SPARK_HOME", 2)

    classpath = build()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    before = host()
    out = run_jvm(classpath, args, run_id)
    after = host()
    with open(out) as f:
        record = json.load(f)
    record["host"] = {"before": before, "after": after, "steal_share": steal_share(before, after)}
    with open(out, "w") as f:
        json.dump(record, f)

    names = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    got = record.get("metrics", {})
    summary = {
        "correct": bool(record["correct"]),
        "attempted": max(int(record["attempted"]), 1),
        "failed": int(record["failed"]) if record["attempted"] else 1,
        "metrics": {n: {"value": got.get(n, 0.0), "unit": spec[0]} for n, spec in names.items()},
    }
    for e in record.get("errors", [])[:5]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
