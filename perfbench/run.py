#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a source checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program together with the benchmark's own Scala code
(perfbench/build.sbt, skipped when the sources are unchanged since the
last build), generates
the workload's inputs from the seed, runs one JVM with one local Spark
session (local[nproc]) as a closed loop, checks every operation's output
(sf workloads additionally against tools/check_oracle.py's DuckDB
oracle) and prints one JSON line as the last line of stdout:

  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Build output, inputs and scratch
go to $CARGO_TARGET_DIR (default .bench_build) inside the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
RUN_LIMIT_S = 170

# Per workload: (generator kind, generator arguments, JVM flags, the least
# number of timed passes). maintenance times two passes: q140's single-call
# time varies run to run (its Future overlap and shared-conf race), and one
# pass per run spread its makespan 0.25 across seeds.
# Sized so a pass takes 10-15 s on 4 cores and a run ends well inside its
# limit. maintenance runs C1 only: its pass is a few hundred short driver
# calls, far shorter than C2's warm-up, whose compile bursts otherwise
# took 2+ cores through the timed pass and spread single-pass times
# 7.7-13.5 s; under C1 they agree within a few percent. contacts-etl is
# executor-CPU bound in kernels C2 does compile within a pass; C1 slowed
# its pass about twofold.
WORKLOADS = {
    "contacts-etl": ("contacts", ["2000"], [], 1),
    "maintenance": ("tables", ["10000", "500"],
                    # C1 alone reserves a 48 MB code cache, which a traced
                    # run fills; a full code cache crashes the executor.
                    ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"], 2),
}
# The same module list as `javaOptions` in the program's build.sbt:
# Spark on JDK 17 outside spark-submit needs these packages opened.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(d, exist_ok=True)
    return d


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, tmp, archive, flags):
    # -UsePerfData: no hsperfdata file outside the checkout.
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"] + flags + [f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    # A workload's first run after a build dumps the classes it loaded
    # into a class-data-sharing archive at exit; its later runs map it,
    # which cuts set-up by 5-10 s. Without it a run only sets up slower.
    if os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graft.perfbench.Main"]


def build(out):
    """Packages the program and the benchmark with sbt unless this exact
    source set was built already. Returns the classpath."""
    jar = os.path.join(BENCH, "target", "scala-2.13", "perfbench_2.13-0.jar")
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("SPARK_HOME/jars not found")
    classpath = f"{jar}:{jars}/*"
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_stamp()
    if (os.path.exists(jar) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return classpath
    for f in [stamp_file] + glob.glob(os.path.join(out, "classes-*.jsa")):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "package"],
                           cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, env=env, timeout=800)
    if r.returncode != 0 or not os.path.exists(jar):
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def manifest():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found in the working directory")
    with open(path) as fh:
        return json.load(fh)


def run_logged(cmd, log, timeout, env=None):
    """Runs cmd in its own process group; on timeout kills the group."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC) or not os.path.exists(ORACLE):
        fail("run from the root of a source checkout (src/main/scala and "
             "tools/check_oracle.py are missing)")
    spec = manifest()
    out = build_dir()
    classpath = build(out)
    archive = os.path.join(out, f"classes-{args.workload}.jsa")
    t_start = time.time()  # the run limit starts after a (first-run) build

    work = os.path.join(out, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    kind, params, flags, passes = WORKLOADS[args.workload]
    g0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), kind, inputs,
                        str(args.seed)] + params, stdout=subprocess.DEVNULL)
    if r.returncode != 0:
        fail("input generation failed")
    gen_s = time.time() - g0

    record = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    java = java_cmd(classpath, tmp, archive, flags) + [
             "--workload", args.workload, "--inputs", inputs, "--work", work,
             "--seconds", str(args.seconds), "--passes", str(passes),
             "--trace", str(args.trace),
             "--out", record, "--cpus", cpus]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    jvm_log = os.path.join(work, "jvm.log")
    # The program keeps fixtures and stream checkpoints in tmpfs
    # (graft_* under /dev/shm); remove what this run added, however it ends.
    shm_before = set(glob.glob("/dev/shm/graft_*"))
    rc = run_logged(java, jvm_log, RUN_LIMIT_S - (time.time() - t_start), env)
    for f in set(glob.glob("/dev/shm/graft_*")) - shm_before:
        shutil.rmtree(f, ignore_errors=True)
    if rc != 0 or not os.path.exists(record):
        print(tail(jvm_log), file=sys.stderr)
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
    with open(record) as fh:
        rec = json.load(fh)

    failed = rec["failed"]
    errors = list(rec["errors"])
    oracle_s = 0.0
    oracle_dir = os.path.join(work, "oracle")
    if os.path.isdir(oracle_dir):
        o0 = time.time()
        olog = os.path.join(work, "oracle.log")
        orc = run_logged([sys.executable, ORACLE, inputs, oracle_dir], olog,
                         RUN_LIMIT_S - (time.time() - t_start))
        oracle_s = time.time() - o0
        text = tail(olog, 1000)
        bad = set(re.findall(r"^FAIL\s+(\S+?):", text, re.M))
        if orc != 0 or not re.search(r"== \d+ ok, 0 bad ==", text):
            errors.append("oracle: " + (", ".join(sorted(bad)) or text[-300:]))
            failed_ops = sum(1 for p in rec["passes"] for o in p["ops"]
                             if not bad or o["op"] in bad)
            failed = max(failed, failed_ops)

    if args.trace:
        values = dict(rec["layer"])
        values.update({"bench.gen_s": gen_s, "bench.oracle_s": oracle_s})
        for when in ("start", "end"):
            for k, v in rec["host"][when].items():
                values[f"host.{k}_{when}"] = v
        wanted = spec["per_layer"]
    else:
        values = rec["metrics"]
        wanted = spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "passes": rec["samples"]["passes"],
                      "makespan_s_max": rec["samples"]["makespan_s_max"],
                      "host": rec["host"]}), file=sys.stderr)
    shutil.rmtree(inputs, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not errors,
                      "attempted": rec["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0)


if __name__ == "__main__":
    main()
