#!/usr/bin/env python3
"""Self-tests of the benchmark itself, run from the root of a checkout:

    python3 perfbench/selftest.py

1. The generators give the same input digest for the same seed and a
   different one for another seed.
2. Per workload, a run whose outputs are deliberately corrupted before
   checking reports every pass (or stream file) as failed.
3. Per workload, two traced runs with the same seed report identical
   exact counts, and every final line parses as JSON of at most 1,900
   bytes holding exactly the metrics BENCHMARK.json lists. In a batch
   workload's traced passes, the jobs the Spark counters saw equal the
   jobs run inside the benchmark's spans, so the checker's own jobs
   are not counted.
4. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.
Exits non-zero if any check fails.
"""

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the benchmark's own launcher)

# Counts that depend only on the seed. The stream's batch, job and
# state counts depend on when files arrive, so only its input repeats.
EXACT = {
    "etl_csv": ["spark.jobs", "spark.stages", "spark.tasks", "etl.jobs_per_go",
                "etl.loaded", "etl.rejected.invalid_format", "etl.rejected.rejection",
                "etl.rejected.ignore_row", "sources.rows", "sources.input_bytes",
                "sinks.bytes", "sinks.files", "spark.shuffle_write_bytes"],
    "train_pack": ["spark.jobs", "spark.stages", "spark.tasks", "ops.pack.sequences",
                   "ops.pack.pad_frac", "sources.rows", "sinks.bytes", "sinks.files",
                   "spark.shuffle_write_bytes"],
    "stream_sessions": ["sources.rows", "sources.input_bytes"],
}

# Each run measures a short window: enough for the cold pass and a
# few warm, traced ones.
SECONDS = 6

failures = []


def check(ok, what):
    print(f"selftest: {'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def bench(args, cwd="."):
    """Runs the benchmark; returns (exit code, every printed metric,
    the final line)."""
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    printed = {}
    for ln in lines:
        parts = ln.split()
        if len(parts) == 5 and parts[2] == "=":
            printed[parts[1]] = float(parts[3])
    return p.returncode, printed, lines[-1] if lines else ""


def final_line_ok(line, spec, traced, what):
    try:
        r = json.loads(line)
    except ValueError:
        check(False, f"{what}: final line parses as JSON")
        return None
    want = [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    check(len(line.encode()) <= run.MAX_LINE_BYTES, f"{what}: final line is {len(line.encode())} bytes")
    check(sorted(r) == ["attempted", "correct", "failed", "metrics"] and list(r["metrics"]) == want,
          f"{what}: final line holds exactly the listed metrics")
    return r


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)

    p = subprocess.run(["java", "-cp", run.build(), "perfbench.Main", "--selftest-gen"],
                       stdout=subprocess.PIPE, text=True)
    print(p.stdout, end="")
    check(p.returncode == 0, "generators: same seed, same digest; other seed, other digest")

    for w in EXACT:
        base = ["--workload", w, "--seconds", str(SECONDS)]
        code, _, line = bench(base + ["--seed", "3", "--trace", "0", "--corrupt"])
        r = final_line_ok(line, spec, False, f"{w} corrupted")
        check(code == 0 and r is not None and not r["correct"]
              and r["failed"] == r["attempted"],
              f"{w}: corrupted output is caught ({r and r['failed']} of {r and r['attempted']} failed)")
        runs = []
        for i in range(2):
            code, printed, line = bench(base + ["--seed", "5", "--trace", "1"])
            r = final_line_ok(line, spec, True, f"{w} traced run {i + 1}")
            check(code == 0 and r is not None and r["correct"] and r["failed"] == 0,
                  f"{w} traced run {i + 1}: correct")
            runs.append(printed)
        for k in EXACT[w]:
            a1, a2 = runs[0].get(k), runs[1].get(k)
            check(a1 is not None and a1 == a2, f"{w}: {k} repeats exactly ({a1} vs {a2})")
        if "trace.span_jobs" in runs[0]:
            # the Spark counters cover the pass and nothing else: every
            # job they count ran inside one of the benchmark's spans
            j, sj = runs[0].get("spark.jobs"), runs[0]["trace.span_jobs"]
            check(j == sj, f"{w}: spark.jobs equals the jobs inside spans ({j} vs {sj})")

    bare = os.path.abspath(os.path.join(run.BUILD, "work", "bare"))
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    # the committed files only: no build output
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=lambda d, names: [n for n in names if n in ("target", "__pycache__")
                                             or (n == "project" and d.endswith("project"))])
    code, _, line = bench(["--workload", "etl_csv", "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=bare)
    check(code != 0 and not line.startswith("{"), f"bare directory: exit {code}, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"selftest: {len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
