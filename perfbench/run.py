#!/usr/bin/env python3
"""The repository benchmark: builds the library and the benchmark from source,
runs one workload, checks its outputs and prints its metrics.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  backlog_fanout    closed-loop drain of a 16-shard backlog into the four-sink
                    fan-out; its traced run adds layer-isolation runs and a
                    paced 2,000 rec/s replay into the parquet file sink
  queries_headline  16 headline queries on the fixed tables in perfbench/testdata,
                    first in a fresh session, then warm

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics untraced, the per-layer metrics traced).
Everything the run writes stays under .bench_build/ in the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# the fixed table set the queries read: the library's scale-factor-0.01 test tables
TABLES = os.path.join(HERE, "testdata", "sf0.01")
# the workload's JVM is killed after this; with the oracle check (at most
# 12 s) and the metrics the whole run stays within 180 s
RUN_LIMIT_S = 160
# the JVM flags the library's build gives forked runs (Spark on JDK 17)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(tree):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the library and the benchmark with sbt once per source state;
    returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library's sources are not in the checkout; nothing to build")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    stamp = sources_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # scratch files of the build stay in the checkout too
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def loadavg1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def steal_s():
    """CPU time the host took from this machine so far (the steal column of
    /proc/stat), -1 where unreadable."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def run_jvm(classpath, args, deadline):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main"] + args)
    log = os.path.join(BUILD, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=BUILD, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the workload did not finish in time", 4)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the workload exited with {code}", 4)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_pre, steal_pre = loadavg1(), steal_s()
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--dir", run_dir]
        if a.workload == "queries_headline":
            args += ["--tables", TABLES, "--queries", ",".join(metrics.QUERIES)]
        run_jvm(classpath, args, deadline)
        with open(os.path.join(run_dir, "raw.json")) as f:
            raw = json.load(f)
        result = metrics.evaluate(a.workload, raw, TABLES, run_dir, bool(a.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_post, steal = loadavg1(), steal_s() - steal_pre
    for line in result.notes:
        print(line)
    print(f"host: nproc={raw['nproc']} load1=[{load_pre:.2f},{load_post:.2f}] "
          f"steal_s={steal:.2f} seed={a.seed}")
    units = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": result.values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
