#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload weekly_chain --seed 1 --seconds 30 --trace 0

Run it from the root of a graft checkout. The first run builds graft and the
benchmark harness from source with sbt (offline); later runs reuse the build
while the sources are unchanged. The harness JVM runs in perfbench/.work/, so
everything a run writes stays inside the checkout.

The work of a run is fixed, so --seconds is passed on and not used. Extra
flags for the self-test: --size tiny (a short run) and
--break pair|page|count|rows (plant one wrong output, which must count as
failed).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
RUN_LIMIT_S = 175
HEAP = "4g"

# JDK 17 needs these for Spark outside spark-submit (as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: graft's main sources and build, and the
    harness's (this script too: it packs the jars and the class archive)."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.abspath(__file__),
              os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_checked(cmd, cwd, env, timeout, quiet=False):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL if quiet else sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compile graft and the harness; return the runtime classpath."""
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        sys.exit("[run.py] sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
        f"-Djava.io.tmpdir={tmp}"]).strip()
    log("building graft and the harness with sbt")
    t0 = time.time()
    code, out = run_checked(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export perfbench/Runtime/fullClasspath"], HERE, env, 840)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        sys.exit(f"[run.py] build failed (exit {code})")
    cp = ":".join(jarred(p) for p in lines[-1].strip().split(":"))
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    train_class_archive(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def jarred(entry):
    """A class directory packed as a jar: a class-data archive can only map
    classes from jars."""
    if not os.path.isdir(entry):
        return entry
    name = hashlib.sha256(entry.encode()).hexdigest()[:12] + ".jar"
    jar = os.path.join(BUILD, name)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(entry):
            for n in sorted(names):
                full = os.path.join(d, n)
                z.write(full, os.path.relpath(full, entry))
    return jar


def java_cmd(cp, args, extra=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Xlog:disable",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dperfbench.data=" + os.path.join(HERE, "data", "sf0.01"), *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main", *args]


def train_class_archive(cp):
    """Record the classes a run loads into a class-data archive, so every
    later run maps them instead of loading and verifying ~20k classes: this
    takes several seconds off each run's start. A failed training run only
    means runs start without the archive."""
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    run_dir = os.path.join(WORK, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    t0 = time.time()
    cmd = java_cmd(cp, ["--workload", "report_paging", "--seed", "1", "--seconds", "2",
                        "--trace", "0", "--size", "tiny"],
                   [f"-XX:ArchiveClassesAtExit={archive}",
                    f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"])
    try:
        code, _ = run_checked(cmd, run_dir, dict(os.environ), 300, quiet=True)
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ok = code == 0 and os.path.exists(archive)
    if not ok and os.path.exists(archive):
        os.remove(archive)
    log(f"class-data archive {'recorded' if ok else 'not recorded'} in {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", default="full")
    ap.add_argument("--break", dest="brk", default="")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("[run.py] no graft sources next to perfbench/: run from a graft checkout")

    cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    extra = [f"-Djava.io.tmpdir={tmp}"]
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        extra.append(f"-XX:SharedArchiveFile={archive}")
    if a.trace == "1":
        # the traced run's spans outlive the run directory
        spans = os.path.join(WORK, "spans")
        os.makedirs(spans, exist_ok=True)
        extra.append("-Dperfbench.spans=" + os.path.join(
            spans, f"{a.workload}-seed{a.seed}.jsonl"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size]
    if a.brk:
        args += ["--break", a.brk]
    cmd = java_cmd(cp, args, extra)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    try:
        code, out = run_checked(cmd, run_dir, env, RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"[run.py] the run took over {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l, file=sys.stdout if l.startswith("# ") else sys.stderr)
    if not result:
        sys.exit(f"[run.py] the harness printed no result (exit {code})")
    print(result[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
