#!/usr/bin/env python3
"""Benchmark launcher: build once per source state, then run one workload.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 1 --trace 0

Steps:
  1. Hash the program's main sources, its build definition and the benchmark
     sources. If .bench_build/<hash>/ holds no finished build, compile them
     with sbt using the offline settings of the repository's Tier-1 check.
  2. Start the driver JVM directly on the compiled classes plus the Spark
     jars (no sbt at run time), with cores and heap derived the way Tier-1
     derives them.
  3. Forward the driver's last stdout line (the result JSON) to stdout;
     everything else goes to stderr. Remove the run's scratch directory on
     every exit path.

Exit codes: 0 success, 1 a workload operation failed (the driver names the
workload and the operation on stderr), 2 the checkout cannot be built or run.
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

SPARK_JARS = "/opt/spark/jars"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175
WORKLOADS = ("er_batch", "dedup_batch")
# JDK 17 module opens Spark needs outside spark-submit (same list as the
# repository's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    """Every file whose content decides the compiled classes."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    proj = os.path.join(root, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(root, "src", "main"),
                os.path.join(root, "perfbench", "src")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java"))]
    return files


def source_hash(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()[:20]


def sbt_env():
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=/root/.sbt/repositories "
                       "-Dsbt.offline=true -Dsbt.server.autostart=false "
                       "-Xmx2g")
    return env


def build(root, build_root):
    """Compile into build_root/<hash>/classes unless already there."""
    digest = source_hash(root)
    out = os.path.join(build_root, digest)
    classes = os.path.join(out, "target", "scala-2.13", "classes")
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return classes
    stage = os.path.join(build_root, f"stage-{digest}-{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(os.path.join(stage, "project"))
    shutil.copy(os.path.join(root, "perfbench", "build.sbt"), stage)
    shutil.copy(os.path.join(root, "perfbench", "project", "build.properties"),
                os.path.join(stage, "project"))
    log(f"building {digest} (sbt compile, offline)")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.root={root}",
           f"-Dperfbench.target={os.path.join(stage, 'target')}",
           "compile"]
    try:
        proc = subprocess.run(cmd, cwd=stage, env=sbt_env(),
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        shutil.rmtree(stage, ignore_errors=True)
        die(f"build failed: {e}")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-6000:])
        shutil.rmtree(stage, ignore_errors=True)
        die(f"build failed: sbt exited {proc.returncode}")
    log(f"built in {time.time() - t0:.1f}s")
    open(os.path.join(stage, "BUILD_OK"), "w").close()
    try:
        os.rename(stage, out)
    except OSError:
        # another run finished the same build first
        shutil.rmtree(stage, ignore_errors=True)
    return classes


def heap_gb():
    """MemTotal / 2, clamped to [2, 8] GiB (the Tier-1 rule)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def clean_stale(build_root):
    """Remove scratch dirs of runs that were killed before their cleanup."""
    for name in os.listdir(build_root):
        if not name.startswith(("run-", "stage-")):
            continue
        try:
            pid = int(name.rsplit("-", 1)[1])
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(build_root, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "src")):
        if not os.path.exists(os.path.join(root, need)):
            die(f"not a checkout of the program: {need} is missing")
    if not os.path.isdir(SPARK_JARS) or shutil.which("java") is None \
            or shutil.which("sbt") is None:
        die(f"needs java, sbt and the Spark jars in {SPARK_JARS}")

    build_root = os.path.join(root, ".bench_build")
    os.makedirs(build_root, exist_ok=True)
    clean_stale(build_root)
    classes = build(root, build_root)

    work = os.path.join(build_root, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", f"{classes}:{SPARK_JARS}/*",
              "perfbench.BenchMain",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--cores", str(cores)])
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    proc = None

    def stop(signum, _frame):
        raise KeyboardInterrupt(f"signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    result, code = None, 2
    try:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"workload {a.workload}: driver exceeded {RUN_TIMEOUT_S}s, killed", 1)
        lines = out.decode(errors="replace").splitlines()
        for line in lines[:-1]:
            print(line, file=sys.stderr)
        if lines:
            try:
                parsed = json.loads(lines[-1])
                if isinstance(parsed, dict) and "metrics" in parsed:
                    result = lines[-1]
            except ValueError:
                print(lines[-1], file=sys.stderr)
        code = proc.returncode
    except KeyboardInterrupt as e:
        log(f"interrupted ({e}); stopping the driver")
        code = 2
    finally:
        if proc is not None and proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is not None:
        print(result, flush=True)
    if code != 0:
        log(f"workload {a.workload}: driver exited {code}")
        sys.exit(1 if code == 1 else 2)
    if result is None:
        die(f"workload {a.workload}: driver printed no result")


if __name__ == "__main__":
    main()
