#!/usr/bin/env python3
"""Run one workload of the product-path benchmark.

    python3 pipebench/run.py --workload land_transform --seed 1 --seconds 20 --trace 0

Run from the root of an engine checkout. Builds the engine and the
benchmark from source with sbt on first use (and again whenever a source
file changes), then runs `pipebench.Main` in one JVM and relays its output;
the last line of standard output is the JSON result. Exits non-zero when
the engine sources are missing, the build fails, an output is wrong, or
the run does not finish in time.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("land_transform", "upsert_query", "cdc_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} did not finish in {timeout} s; stopping it")
        return -1, None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def build(tmp):
    """Compile engine + benchmark; return the runtime classpath."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
           "-Dsbt.server.autostart=false", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_bounded(cmd, HERE, env, BUILD_TIMEOUT_S, subprocess.PIPE)
    if out:
        sys.stderr.write(out)
    if code != 0 or not out:
        log("build failed")
        return None
    lines = [l.strip() for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        log("build printed no classpath")
        return None
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to the benchmark (looked in {ROOT})")
        return 2

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = build(tmp)
    if cp is None:
        return 3

    run_dir = os.path.join(WORK, "run")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "pipebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", run_dir]
    code, out = run_bounded(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, subprocess.PIPE)
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if out is None:
        return 4
    sys.stdout.write(out)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
