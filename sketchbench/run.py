"""Run one sketchbench workload and print its result line.

    python3 sketchbench/run.py --workload build|query|curate --seed N \
        --seconds S --trace 0|1

Builds the library and the benchmark from source on first use (see
build.py), then runs one JVM with the pinned environment below. The last
stdout line is the result JSON; the line before it is a report with the
run environment, the git commit and the quality metrics. Exits non-zero,
without a result line, when the sources are missing or the build fails,
and non-zero with ``"correct": false`` when an op fails its gate.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

# The pinned run environment. local[4] is capped by the machine's cores
# inside the JVM; the heap is fixed because the library's own sbt default
# is 32g.
DRIVER_MEM = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return out.stdout.strip() or "none"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["build", "query", "curate"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()

    try:
        classes, sha = build.build()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        sys.exit(f"sketchbench: {e}")

    work = os.path.join(build.OUT, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM, COURSIER_MODE="offline",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    opens = [x for o in JDK17_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    cmd = [java, f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           *opens,
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "graft.sketchbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work-dir", work, "--commit", commit(), "--sources", sha]
    # start-up, set-ups and exact answers take up to about 150 s under
    # host load; the timed ops scale with --seconds
    timeout = max(170, 3 * a.seconds + 150)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    # the JVM runs in its own session, so a signal to this script does
    # not reach it: stop it here
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("sketchbench: terminated"))
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        sys.exit(f"sketchbench: run exceeded {timeout:g} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(out)
        sys.exit(f"sketchbench: JVM exited with code {proc.returncode} and no result line")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
