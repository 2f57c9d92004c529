#!/usr/bin/env python3
"""graft's benchmark: one command for every workload.

    python3 perfbench/run.py --workload <ingest_live|curate_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. On first use it builds graft and the
benchmark driver from source with sbt (perfbench/build.sbt); later runs
reuse the build while no source is newer. Each run gets a fresh work
directory under .bench_build/work, which is deleted when the run ends.
The build also packs the compiled classes into jars; the first run after
a build records the classes it loads in a class-data-sharing archive
(.bench_build/classes.jsa), which every later run maps instead of
loading those classes one by one.
The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; lines before it, prefixed
with '#', give the same metrics with units and the run's notes.
A traced run (--trace 1) also writes its spans to
.bench_build/traces/<workload>-seed<n>.json.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
JARS = os.path.join(BUILD, "jars")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("ingest_live", "curate_batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (graft's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*"), recursive=True)
    return max(os.path.getmtime(f) for f in files if os.path.isfile(f))


def build():
    """Compile graft and the driver; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("graft's build.sbt is not in this checkout")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source():
        cp = open(CLASSPATH).read().strip()
        if cp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("# building graft and the benchmark driver (sbt)", flush=True)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = pack(lines[-1])
    for f in (ARCHIVE, ARCHIVE + ".tmp", ARCHIVE + ".failed"):
        if os.path.exists(f):
            os.remove(f)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def pack(cp):
    """Replace each class directory on `cp` by a jar of it: a class-data-
    sharing archive records classes from jars only."""
    shutil.rmtree(JARS, ignore_errors=True)
    os.makedirs(JARS)
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(JARS, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in os.walk(p):
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def drive(cp, args, work, jvm_flags):
    """Run the driver JVM in `work` (made fresh, deleted after); returns
    its exit code and stdout lines, or None for a run that timed out."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed-size heap: no heap resizing between runs to add noise; the
    # JVM's own warnings (class-data sharing logs to stdout by default) go
    # to stderr, so stdout carries only the driver's lines
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Xlog:disable", "-Xlog:all=warning:stderr"] + jvm_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        return proc.returncode, out.splitlines()
    except subprocess.TimeoutExpired:
        return None, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    os.chdir(ROOT)
    cp = build()

    # fresh state: nothing from an earlier run survives
    shutil.rmtree(os.path.join(BUILD, "work"), ignore_errors=True)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    results = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.trace:
        args += ["--artifact", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")]
        try:
            with open(results) as f:
                args += ["--untraced", str(json.load(f)["metrics"]["throughput_per_s"]["value"])]
        except (OSError, ValueError, KeyError):
            pass
    # the first run after a build records the archive; if that fails,
    # later runs go without it
    recording = not os.path.exists(ARCHIVE) and not os.path.exists(ARCHIVE + ".failed")
    flags = ([f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp"] if recording
             else [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else [])

    started = time.monotonic()
    code, lines = drive(cp, args, work, flags)
    if recording and code in (0, 1) and os.path.isfile(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    elif recording:
        open(ARCHIVE + ".failed", "w").close()
        if code not in (0, 1):
            # a JVM that cannot record may not even start: run once more without
            code, lines = drive(cp, args, work, [])
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)

    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or code not in (0, 1):
        sys.stdout.write("\n".join(lines[-40:]) + "\n")
        fail(f"driver exited with {code} and no result", 4)
    print("\n".join(lines[:-1]))
    print(f"# run wall time {time.monotonic() - started:.1f} s")
    if not a.trace and result["correct"]:
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "w") as f:
            json.dump(result, f)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
