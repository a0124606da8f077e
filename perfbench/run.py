#!/usr/bin/env python3
"""Lifecycle benchmark launcher.

Run from the root of an engine checkout:

    python3 perfbench/run.py --workload assemble --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt the first time (and
whenever a source file changes), then runs one workload in a fresh JVM with
cores and heap pinned to this host. The JVM prints a record line and, as the
last line of stdout, the result object
{"correct", "attempted", "failed", "metrics"}.

Workloads: assemble, serve, supplement, curate (see perfbench/README.md).
Everything the benchmark writes goes under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("assemble", "serve", "supplement", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint(root):
    """Paths, sizes and mtimes of every build input; a change forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench", "build.sbt")]
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        base = os.path.join(root, top)
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "target" and d != "project")
            inputs.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    for path in inputs:
        if os.path.isfile(path):
            st = os.stat(path)
            h.update(f"{os.path.relpath(path, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, work):
    cpfile = os.path.join(work, "classpath.txt")
    stamp = os.path.join(work, "build.stamp")
    fp = source_fingerprint(root)
    if os.path.isfile(cpfile) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == fp:
                return cpfile
    log_path = os.path.join(work, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           f"-Dperfbench.cpfile={cpfile}", "compile", "writeClasspath"]
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=os.path.join(root, "perfbench"), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out; see {log_path}")
    if code != 0 or not os.path.isfile(cpfile):
        fail(f"build failed (exit {code}); see {log_path}")
    with open(stamp, "w") as f:
        f.write(fp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cpfile


def host_resources():
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        cores = os.cpu_count() or 1
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    # 768 MB per task thread, at least 2 GB, never more than a quarter of
    # physical memory: the host is shared and the inputs are small
    heap_mb = max(2048, min(768 * cores, phys_mb // 4))
    return cores, heap_mb, phys_mb


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return os.environ.get("PERFBENCH_COMMIT", "unknown")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a small one)")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of an engine checkout (build.sbt and src/main/scala/graft)")
    work = os.path.join(root, ".bench_build")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)

    cpfile = build(root, work)
    with open(cpfile) as f:
        classpath = f.read().strip()
    cores, heap_mb, phys_mb = host_resources()
    java = ["java", f"-Xmx{heap_mb}m", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--scale", str(args.scale),
             "--cores", str(cores), "--heap-mb", str(heap_mb), "--phys-mb", str(phys_mb),
             "--work", work, "--commit", git_commit(root)]
    proc = subprocess.Popen(java, cwd=root, stdout=subprocess.PIPE, start_new_session=True,
                            text=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"workload {args.workload} exceeded {RUN_TIMEOUT_S}s", code=3)
    for line in lines:
        print(line)
    if proc.returncode != 0:
        sys.exit(proc.returncode)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("the benchmark printed no result line", code=4)
    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        f.write("\n".join(lines[-2:]) + "\n")
    sys.exit(0 if result.get("correct") else 1)


if __name__ == "__main__":
    main()
