#!/usr/bin/env python3
"""Run one benchmark workload of the raptorspark engine.

    python3 perfbench/run.py --workload <assign_derive|pyramid_rw> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/.work; later runs start the JVM directly. Each
run uses its own JVM and its own scratch directory under perfbench/.work,
which is removed at the end. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. The line before it
is the human-readable report (every operation with its status, the named
figures, the setup breakdown). Traced runs (--trace 1) also write their
spans to perfbench/.work/traces/.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("assign_derive", "pyramid_rw")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# A fixed heap (-Xms = -Xmx): a heap that grows as load demands is sized,
# and collected, differently from run to run, which showed in the
# latency of the short requests.
HEAP = "2g"

# Spark on JDK 17 needs these when the session is built outside
# spark-submit (the engine's build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build with sbt unless the cached classpath matches the sources."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    if os.path.exists(cp_file):
        os.remove(cp_file)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "writeClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, check=True,
                timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired,
                FileNotFoundError) as e:
            die(f"build failed ({e}); see {log}")
    if not os.path.exists(cp_file):
        die(f"build wrote no classpath; see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine source {need} not found next to perfbench/; "
                "run from a full checkout")
    cp = classpath()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", run_dir])
    log_path = os.path.join(WORK, f"{a.workload}.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=log, stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            die(f"run exceeded {RUN_LIMIT_S} s; see {log_path}")
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if p.returncode != 0 or not isinstance(result, dict) or "correct" not in result:
        sys.stderr.write("\n".join(lines[-5:]) + "\n")
        die(f"run failed (exit {p.returncode}) after {time.time() - t0:.1f} s; "
            f"see {log_path}")
    for l in lines[:-1]:
        print(l)
    report = next((json.loads(l)["report"] for l in lines
                   if l.startswith('{"report"')), {})
    for f in report.get("check_failures", []):
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    for o in report.get("ops", []):
        if not o.get("ok"):
            print(f"perfbench: {o['kind']} failed: {o.get('error', '')}",
                  file=sys.stderr)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
