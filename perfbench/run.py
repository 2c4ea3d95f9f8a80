#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the library. The first run builds the
library and the benchmark from source with sbt (perfbench/build.sbt) and
caches the classpath under .bench_build/; later runs start the benchmark
JVM directly. The JVM writes its full results to
.bench_build/results/<workload>-seed<n>-trace<t>.json; this script prints
the contract line built from that file as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Workloads, metrics and their meaning:
perfbench/NOTES.md.
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
BENCH_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
BUILD_DIR = ".bench_build"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
# The heap may grow to this size but starts small, so that peak RSS
# follows what the program keeps alive rather than the heap setting.
HEAP_MAX = "3g"

# Spark on JDK 17 needs these outside spark-submit (the library's own
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project", "src", "perfbench/build.sbt",
              "perfbench/project", "perfbench/src"]
    for top in inputs:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files = [path]
        else:
            files = []
            for d, dirs, names in os.walk(path):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, cwd, env, limit_s, log_path):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{cmd[0]} exceeded {limit_s:.0f} s (log: {log_path})")


def classpath(root):
    """Build if any input changed since the cached classpath was made."""
    build = os.path.join(root, BUILD_DIR)
    cp_file = os.path.join(build, "classpath.txt")
    stamp_file = os.path.join(build, "classpath.stamp")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), 0.0
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(build, "build.log")
    t0 = time.monotonic()
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       os.path.join(root, "perfbench"), sbt_env(), BUILD_LIMIT_S, log)
    if code != 0:
        fail(f"build failed with code {code} (log: {log})")
    with open(log, errors="replace") as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        fail(f"build printed no classpath (log: {log})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], time.monotonic() - t0


def contract_line(result, spec, trace):
    names = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["per_layer"] if trace else result["end_to_end"]
    known = {m["name"] for m in names}
    unknown = sorted(set(got) - known)
    if unknown:
        fail(f"results carry metrics BENCHMARK.json does not list: {unknown}")
    metrics = {}
    for m in names:
        if m["name"] not in got:
            fail(f"metric {m['name']} missing from the results")
        value = got[m["name"]]
        if value is None:
            fail(f"metric {m['name']} is not a finite number")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(BENCH_JSON):
        fail("BENCHMARK.json not found next to perfbench/")
    with open(BENCH_JSON) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    # the benchmark measures the library in this checkout; without its
    # sources there is nothing to build or measure
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the library (build.sbt and src/ not found)")

    started = time.monotonic()
    os.makedirs(os.path.join(root, BUILD_DIR, "results"), exist_ok=True)
    cp, build_s = classpath(root)
    limit = (BUILD_LIMIT_S if build_s > 0 else RUN_LIMIT_S) - (time.monotonic() - started)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, BUILD_DIR, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(root, BUILD_DIR, "results", f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", f"-Xms{HEAP_MAX}", f"-Xmx{HEAP_MAX}", "-Xmn512m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    log = os.path.join(root, BUILD_DIR, "results", f"{tag}.log")
    code = run_bounded(cmd, root, dict(os.environ), limit, log)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM exited with code {code} (log: {log})")
    with open(out) as f:
        result = json.load(f)
    for p in result.get("problems", []):
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps(contract_line(result, spec, args.trace)))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
