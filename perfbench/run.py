#!/usr/bin/env python3
"""Build the program with the benchmark harness and run one workload.

    python3 perfbench/run.py --workload kg_checkpointed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds (sbt, offline) into
the checkout; later runs reuse the build until a source file changes. Each
run gets its own scratch directory under .bench_build/ in the checkout,
removed when the run ends. The last line of standard output is the JSON
result. `--main <class> [args...]` runs another harness main instead (for
example perfbench.Pin or perfbench.SelfTest).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
# perfbench.SelfTest and perfbench.Pin are not timed runs
MAIN_TIMEOUT_S = 900

# Spark on JDK 17 outside spark-submit (same list as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(REPO, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return files


def build():
    """Compile the program and the harness; return the runtime classpath."""
    newest = max(os.path.getmtime(f) for f in source_files())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           "-Dsbt.repository.config=" + repos +
                           " -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def heap():
    """Half of MemTotal in GiB, clamped to [2, 8] (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def run_java(cp, main, args, scratch, timeout):
    h = heap()
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in env else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx" + h, "-Xms" + h, "-XX:+AlwaysPreTouch",
        "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
        "-Dspark.ui.enabled=false",
        "-Dperfbench.pins=" + os.path.join(BENCH, "pins.properties"),
        "-Dperfbench.data=" + os.path.join(BENCH, "data"),
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-cp", cp, main] + args
    p = subprocess.Popen(cmd, env=env, cwd=REPO, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("run exceeded %d s" % timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--main", help="run this harness main instead of a workload")
    a, rest = ap.parse_known_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        die("no program sources next to the benchmark (run from a checkout root)")
    if a.main is None and (a.workload is None or a.seed is None or a.seconds is None):
        die("--workload, --seed and --seconds are required")
    cp = build()
    scratch = os.path.join(BUILD, "run-%d" % os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        if a.main:
            code = run_java(cp, a.main, rest + [os.path.join(scratch, "work")], scratch,
                            MAIN_TIMEOUT_S)
        else:
            trace_out = os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
            code = run_java(cp, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--scratch", os.path.join(scratch, "work"),
                "--trace-out", trace_out], scratch, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
