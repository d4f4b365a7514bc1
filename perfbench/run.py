#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the library and the benchmark from
source with sbt (offline) and packages them; it also records a class-data
sharing archive, so later JVMs start quickly.
Build outputs, generated inputs and indexes all stay under
$CARGO_TARGET_DIR (default `.bench_build`). The last stdout line is the
JSON result; anything else goes before it or to stderr.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ("rag_serve", "ingest_sync")
FIXTURE = os.path.join("perfbench", "fixtures", "documents_sf0.1.parquet")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
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


def source_stamp(root):
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src"),
              os.path.join(root, "perfbench", "build.sbt"),
              os.path.join(root, "perfbench", "project", "build.properties"),
              os.path.join(root, "perfbench", "run.py"),
              os.path.join(root, "perfbench", "log4j2.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(out, classpath, extra):
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={out}/tmp",
           f"-Dlog4j2.configurationFile={log4j}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + extra + ["-cp", classpath, "perfbench.Main"]


def build(root, out, stamp):
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["CARGO_TARGET_DIR"] = out
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={out}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building library and benchmark (first run in this checkout)",
          file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die("build failed")
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    with open(os.path.join(out, "stamp"), "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (src/main/scala/graft not found)")
    fixture = os.path.join(root, FIXTURE)
    if not os.path.isfile(fixture):
        die(f"input fixture {FIXTURE} not found")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    stamp = source_stamp(root)
    stamp_file = os.path.join(out, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        build(root, out, stamp)
    with open(os.path.join(out, "classpath.txt")) as f:
        classpath = f.read().strip()

    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    # class-data sharing: the first run after a build records the classes
    # it loads; later runs map them instead of loading them again
    archive = os.path.join(out, "classes.jsa")
    extra = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) \
        else [f"-XX:ArchiveClassesAtExit={archive}"]
    extra += ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    cmd = java_cmd(out, classpath, extra) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--fixture", fixture]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = r.stdout.decode().splitlines()
    # the result is the last line that is a JSON object; anything the JVM
    # printed after it (it should print nothing) goes to stderr
    last = max((i for i, l in enumerate(lines) if l.startswith("{")), default=-1)
    sys.stderr.write("".join(l + "\n" for l in lines[last + 1:]))
    lines = lines[:last + 1]
    if a.trace == "1":
        spans = os.path.join(work, f"spans-{a.workload}-{a.seed}.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(out, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, keep)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not lines:
        sys.stderr.write("".join(l + "\n" for l in lines))
        die(f"benchmark exited with code {r.returncode} and no result")
    sys.stdout.write("".join(l + "\n" for l in lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
