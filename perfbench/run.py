#!/usr/bin/env python3
"""Repo benchmark: KG-job and operator workloads at local[nproc].

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from the checkout's sources when they
changed (sbt, offline), runs one workload in one JVM, checks its outputs,
writes the full record under perfbench/target/records/ and prints as the
last stdout line {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named
in BENCHMARK.json. See perfbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
JAR = os.path.join(TARGET, "scala-2.13", "perfbench_2.13-0.1.0.jar")
STAMP = os.path.join(TARGET, "perfbench.stamp")
# class-data-sharing archive of the classes a run loads. build() writes it
# with one untimed training run, so every measured run maps the same
# archive; it shortens JVM and Spark start-up.
CDS = os.path.join(TARGET, "perfbench.jsa")
WORKLOADS = ("kg_bulk", "ops_loops", "ops_scan")
MIN_FREE_GB = 2
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (the list
# org.apache.spark.launcher.JavaModuleOptions gives; build.sbt uses the same)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """sha256 over every source file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest, heap, spark_jars):
    if all(os.path.exists(f) for f in (JAR, CDS, STAMP)):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    print("perfbench: building (sbt package)", file=sys.stderr)
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "package"], BENCH, env, out, out, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(JAR):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); full log in {log}")
    if os.path.exists(CDS):
        os.remove(CDS)
    print("perfbench: training run for the class-data-sharing archive",
          file=sys.stderr)
    train = os.path.join(TARGET, f"train-{os.getpid()}-{time.time_ns()}")
    try:
        os.makedirs(train)
        run_jvm([f"-XX:ArchiveClassesAtExit={CDS}"], "ops_scan", 0, 1, 0,
                heap, spark_jars, train)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    if not os.path.exists(CDS):
        fail("the training run wrote no class-data-sharing archive")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def run_child(cmd, cwd, env, stdout, stderr, timeout_s):
    """Runs cmd in its own process group and waits for it; on timeout or on
    a signal to this script the whole group is killed and reaped."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cmd[0]} exceeded {timeout_s} s", file=sys.stderr)
        return -1
    finally:
        # kill the whole group: a forked helper may outlive its leader
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def run_jvm(share, workload, seed, seconds, trace, heap, spark_jars, tmp):
    """Runs one workload in a JVM whose scratch files all live under tmp and
    returns its record; `share` are the class-data-sharing flags."""
    record_path = os.path.join(tmp, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{heap}m", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-XX:-UsePerfData"] + share
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([JAR, os.path.join(spark_jars, "*")]),
            "perfbench.Main", "run", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace),
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--pins", os.path.join(BENCH, "pins", "ops_sf0.01.tsv"),
            "--tmp", tmp, "--record", record_path]
    log = os.path.join(tmp, "jvm.log")
    with open(log, "w") as out:
        rc = run_child(cmd, ROOT, os.environ, out, out, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(record_path):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {rc})")
    with open(record_path) as f:
        return json.load(f)


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    fail("no MemTotal in /proc/meminfo")


def heap_mb(mem_mb):
    """A quarter of physical memory, within [1 GiB, 8 GiB]: local mode runs
    driver and executors in this one heap, and the box is shared."""
    return max(1024, min(8192, mem_mb // 4))


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def main():
    # a signal becomes SystemExit, so every finally below still runs: child
    # process groups are killed and the run's directory is removed
    for s in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(s, lambda n, _: sys.exit(128 + n))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not 0 <= a.seed < 2 ** 40:
        fail("--seed must be in [0, 2^40)")
    if not 1 <= a.seconds <= 600:
        fail("--seconds must be in [1, 600]")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {ENGINE_SRC}; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    spark_jars = os.path.join(spark_home, "jars")
    if not spark_home or not os.path.isdir(spark_jars):
        fail("SPARK_HOME must name a Spark installation with a jars/ dir")
    free_gb = shutil.disk_usage(ROOT).free / 2 ** 30
    if free_gb < MIN_FREE_GB:
        fail(f"only {free_gb:.1f} GiB free under {ROOT}; "
             f"the benchmark needs {MIN_FREE_GB} GiB")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    mem_mb = mem_total_mb()
    heap = heap_mb(mem_mb)
    digest = source_digest()
    build(digest, heap, spark_jars)

    tmp = os.path.join(TARGET, f"run-{os.getpid()}-{time.time_ns()}")
    try:
        os.makedirs(tmp)
        # -Xshare:on: a run that cannot map the archive fails instead of
        # silently measuring a slower start-up
        rec = run_jvm([f"-XX:SharedArchiveFile={CDS}", "-Xshare:on"],
                      a.workload, a.seed, a.seconds, a.trace, heap,
                      spark_jars, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rec["info"].update({
        "nproc": str(os.cpu_count()), "mem_total_mb": str(mem_mb),
        "jvm_heap_mb": str(heap), "git_commit": git_commit(),
        "source_sha256": digest, "seconds": str(a.seconds),
        "trace": str(a.trace)})
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    units["kg_pages_per_s"] = "pages/s"
    got = rec["metrics"]
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None and not a.trace:
            fail(f"end-to-end metric {m['name']} was not measured")
        # a per-layer metric a workload never reaches did no work in it
        metrics[m["name"]] = {"value": 0.0 if v is None else v,
                              "unit": m["unit"]}

    os.makedirs(os.path.join(TARGET, "records"), exist_ok=True)
    rec_file = os.path.join(
        TARGET, "records",
        f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.time_ns()}.json")
    with open(rec_file, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)

    for k, v in rec["info"].items():
        print(f"# {k}: {v}")
    for k in sorted(got):
        print(f"{k} {got[k]} {units.get(k, '')}".rstrip())
    for p in rec["problems"]:
        print(f"! {p}")
    print(f"# record: {os.path.relpath(rec_file, ROOT)}")
    print(json.dumps({"correct": rec["failed"] == 0 and not rec["problems"],
                      "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
