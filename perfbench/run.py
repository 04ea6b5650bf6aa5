#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_csv --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The first run builds graft and the
harness from source with sbt (offline); later runs reuse the build
until a source file changes. Every metric is printed as
`name = value unit`; the last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1` (0 where the workload does not call into
that layer). Everything the run writes stays under `.bench_build/`.
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

BUILD = ".bench_build"
RESULT_PREFIX = "PERFBENCH_RESULT "
MAX_LINE_BYTES = 1900
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is built outside
# spark-submit (the root build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile graft and the harness unless the sources are unchanged;
    returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    cp = fh2.read()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the build's scratch files in the checkout too
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    print("perfbench: building graft and the harness with sbt", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeClasspath"],
        cwd="perfbench", env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed", 3)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read()


def run_java(classpath, argv, work):
    """Runs the harness; returns its result object, echoing its other
    output lines as they come."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: under C2 each JVM settles on code of its own, and warm
    # passes over the same input differed by up to 30% between JVMs;
    # under C1 they repeat within a few per cent.
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + argv + ["--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    deadline = time.time() + JAVA_TIMEOUT_S

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGALRM, kill)
    signal.alarm(JAVA_TIMEOUT_S)
    result = None
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_PREFIX):
                result = json.loads(line[len(RESULT_PREFIX):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        signal.alarm(0)
        kill()
        proc.wait()
    if time.time() > deadline:
        fail(f"timed out after {JAVA_TIMEOUT_S} s", 4)
    if proc.returncode != 0 or result is None:
        fail(f"harness exited with {proc.returncode} and no result", 4)
    return result


def select(result, spec, traced):
    """The metrics BENCHMARK.json lists for this mode, in its order."""
    measured = result["metrics"]
    out = {}
    for m in spec["per_layer" if traced else "end_to_end"]:
        got = measured.get(m["name"])
        if got is None:
            if not traced:
                fail(f"end-to-end metric {m['name']} was not measured", 5)
            got = {"value": 0, "unit": m["unit"]}  # layer not used here
        if got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            fail(f"metric {m['name']}: {got} does not match {m['unit']}", 5)
        out[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="damage each output before checking it (checker self-test)")
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft "
             "are missing", 2)
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}", 2)
    classpath = build()

    work = os.path.abspath(os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    argv = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.corrupt:
        argv.append("--corrupt")
    try:
        result = run_java(classpath, argv, work)
        if a.trace:
            trace = os.path.join(work, "trace.jsonl")
            if os.path.exists(trace):
                os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
                shutil.copy(trace, os.path.join(
                    BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, m in result["metrics"].items():
        print(f"{a.workload} {name} = {m['value']} {m['unit']}")
    attempted, failed = result["attempted"], result["failed"]
    print(f"{a.workload} failed_frac = {failed / attempted:.4f} ({failed} of {attempted})")
    line = json.dumps({"correct": result["correct"], "attempted": attempted,
                       "failed": failed, "metrics": select(result, spec, a.trace)},
                      separators=(",", ":"))
    if len(line.encode()) > MAX_LINE_BYTES:
        fail(f"result line is {len(line.encode())} bytes, over {MAX_LINE_BYTES}", 5)
    print(line)


if __name__ == "__main__":
    main()
