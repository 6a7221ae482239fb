#!/usr/bin/env python3
"""Run one perfbench workload against the graft library in this checkout.

    python3 perfbench/run.py --workload esg_batch --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (offline) and caches the classpath
under $CARGO_TARGET_DIR (default .bench_build); later runs start the
JVM directly. The last line of standard output is the result JSON.
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
WORKLOADS = ["esg_batch", "doc_ingest"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPTS = [
    # a fixed heap and young generation keep peak RSS comparable run to run
    "-Xms2g", "-Xmx2g", "-Xmn512m",
    "-XX:ReservedCodeCacheSize=256m",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    arg
    for p in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    ]
    for arg in ("--add-opens", p + "=ALL-UNNAMED")
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def source_fingerprint():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = []
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log("timed out after %ds: %s" % (timeout, " ".join(cmd[:3])))
        return None, None
    return p.returncode, out


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    bdir = build_dir()
    cache = os.path.join(bdir, "classpath.txt")
    fp = source_fingerprint()
    if os.path.isfile(cache):
        with open(cache) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    log("building the library and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    if rc != 0:
        if out:
            sys.stderr.write(out[-4000:])
        log("build failed")
        return None
    cp = [l for l in out.splitlines() if l.strip() and "classes" in l and os.pathsep in l]
    if not cp:
        log("build printed no classpath")
        return None
    os.makedirs(bdir, exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(fp + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def run_java(cp, main, args, tag):
    bdir = build_dir()
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    logfile = os.path.join(bdir, "%s.log" % tag)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, main] + args
    with open(logfile, "w") as fh:
        rc, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT)
    with open(logfile) as fh:
        lines = fh.read().splitlines()
    for l in lines:
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("%s exited with %s; full log in %s" % (main, rc, logfile))
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="check that the output checks catch planted faults")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no graft sources next to %s: run from the root of a full checkout" % HERE)
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        return 2
    cp = classpath()
    if cp is None:
        return 3
    bdir = build_dir()
    if a.selftest:
        return run_java(cp, "perfbench.SelfTest", ["--work", os.path.join(bdir, "selftest")], "selftest")
    work = os.path.join(bdir, "work-" + a.workload)
    out = os.path.join(bdir, "result.json")
    if os.path.exists(out):
        os.remove(out)
    rc = run_java(cp, "perfbench.Main",
                  ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--work", work, "--out", out],
                  "run-" + a.workload)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(out):
        return rc or 4
    with open(out) as fh:
        print(fh.read().strip(), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
