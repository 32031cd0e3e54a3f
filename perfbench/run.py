#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload encode_transcripts --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

Run from any directory of a checkout; the program is built from its
sources on first use (see build.py). With --trace 0 the result carries the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones,
and the traced run writes its spans under .bench_build/perfbench/spans/.
The exit code is 0 when every output check passed, 1 when one failed, and
2 when the benchmark could not run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# A run, build excluded, must finish within 180 s.
RUN_LIMIT_S = 170
HEAP = "3g"
LINEITEM = os.path.join(HERE, "data", "lineitem.parquet")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java(classpath, main, args, work):
    """Runs a main class; returns (exit code, parsed PERFBENCH_RESULT or None)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join(classpath), main] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    timer = threading.Timer(RUN_LIMIT_S, proc.kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code, result


def main():
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=workloads)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the output checks catch a corrupt file and a dropped row")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")

    try:
        classpath, digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "work", f"{os.getpid()}-{int(time.time())}")

    if args.selftest:
        code, _ = java(classpath, "graftbench.SelfTest", ["--work", work, "--lineitem", LINEITEM],
                       work)
        return code

    spans = os.path.join(build.OUT, "spans", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work, "--lineitem", LINEITEM, "--spans", spans, "--source", digest]
    commit = git_commit()
    if commit:
        jargs += ["--commit", commit]
    code, result = java(classpath, "graftbench.Main", jargs, work)
    if result is None:
        print(f"perfbench: the run ended without a result (exit code {code})", file=sys.stderr)
        return 2

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = result["metrics"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        print(f"perfbench: metrics not measured: {', '.join(missing)}", file=sys.stderr)
        return 2
    for m in wanted:
        print(f"perfbench metric {m['name']:<34} {values[m['name']]:>16.6g} {m['unit']}")
    correct = bool(result["correct"]) and code == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
