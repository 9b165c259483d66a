#!/usr/bin/env python3
"""Loader-path benchmark.

    python3 loaderbench/run.py --workload bulk|dag_small --seed N --seconds S --trace 0|1

Builds the harness together with the repository's main sources (once per
state of those sources, with sbt), runs it in one JVM, and prints the
result as the last line of standard output. Exits non-zero without a
result when the sources are missing, the build fails or the run fails.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[loaderbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file the build reads, relative to the repository root."""
    files = [os.path.join(HERE, f) for f in ("build.sbt", "jvm.options")]
    files.append(os.path.join(HERE, "project", "build.properties"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first unless the sources are unchanged."""
    stamp_file = os.path.join(TARGET, "loaderbench.stamp")
    cp_file = os.path.join(TARGET, "loaderbench.classpath")
    want = stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    cps = [ln for ln in lines if ln.startswith(os.sep) and os.pathsep in ln]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        log(f"build failed (exit {proc.returncode})")
        sys.exit(1)
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cps[-1]


def main(argv):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the repository's sources (src/main/scala/graft) are not here; nothing to build")
        return 2
    cp = classpath()
    with open(os.path.join(HERE, "jvm.options")) as fh:
        opts = [ln.strip() for ln in fh if ln.strip()]
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *opts, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "loaderbench.Main", *argv, "--work", os.path.join(work, "bench"),
           "--out", os.path.join(HERE, "out")]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        log(f"run failed (exit {proc.returncode})")
        return 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
