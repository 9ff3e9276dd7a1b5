"""Benchmark entry point.

    python3 perfbench/run.py --workload serve-repeat --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Starts one workload process
(perfbench/workload.py) in its own session with PYTHONPATH set for Spark's
Python workers and all of its output (Spark and pyspark stderr included)
sent to perfbench/out/logs/, waits for it, stops every process left in its
session, and removes its working directory. Prints one line per metric
(name, value, unit, sample count) and, as the last line, the JSON result:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.

A traced run also keeps its spans, Spark event log and per-layer table in
perfbench/out/traces/, and reports the tracing overhead: its own
end-to-end numbers minus the median of the untraced runs of the same
workload on the same code (a hash of lsearch_spark/ and perfbench/)
recorded in perfbench/out/results.jsonl.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CHILD_TIMEOUT_S = 170


def session_pids(sid: int) -> list[int]:
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process still in the session; return
    once none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def tail(path: str, n: int = 40) -> str:
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def code_hash() -> str:
    """Hash of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for pattern in ("lsearch_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def untraced_medians(workload: str, tiny: bool, code: str) -> tuple[dict[str, float], int]:
    path = os.path.join(OUT, "results.jsonl")
    rows = []
    if os.path.exists(path):
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    rows = [r for r in rows
            if r["workload"] == workload and not r["trace"] and r["tiny"] == tiny and r.get("code") == code]
    names = set().union(*(r["end_to_end"] for r in rows)) if rows else set()
    return {m: statistics.median(r["end_to_end"][m][0] for r in rows if m in r["end_to_end"])
            for m in names}, len(rows)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one top-k before its check (smoke test of the checker)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "lsearch_spark")):
        print(f"no lsearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    code = code_hash()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-tiny' if args.tiny else ''}"
    work = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(OUT, "logs", f"{tag}.log")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", work] + ["--tiny"] * args.tiny + ["--plant-wrong"] * args.plant_wrong
    try:
        with open(log_path, "w") as log:
            child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                     stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                stop_session(child.pid)
                child.wait()
        if rc != 0:
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"workload process {why}; log {log_path}:\n{tail(log_path)}", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        if args.trace:
            trace_dir = os.path.join(OUT, "traces", tag)
            shutil.rmtree(trace_dir, ignore_errors=True)
            os.makedirs(trace_dir)
            shutil.move(os.path.join(work, "eventlog"), os.path.join(trace_dir, "eventlog"))
            shutil.move(os.path.join(work, "spans.json"), os.path.join(trace_dir, "spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = result["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"workload process did not report {missing}", file=sys.stderr)
        return 1
    for name, (value, unit, n) in metrics.items():
        print(f"{name:40s} {value:16.6f} {unit:12s} n={n}")
    for failure in result["failures"]:
        print(f"FAILED: {failure}")
    if args.trace:
        base, n_runs = untraced_medians(args.workload, args.tiny, code)
        overhead = {m: (v - base[m], u) for m, (v, u, _) in result["end_to_end"].items() if m in base}
        for name, (delta, unit) in overhead.items():
            print(f"overhead {name:31s} {delta:+16.6f} {unit:12s} traced - median of {n_runs} untraced")
        if not overhead:
            print("overhead: no untraced run of this workload on this code in perfbench/out/results.jsonl")
        with open(os.path.join(trace_dir, "layers.json"), "w") as f:
            json.dump({"per_layer": metrics, "end_to_end_traced": result["end_to_end"],
                       "overhead": overhead}, f, indent=1)
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                            "tiny": args.tiny, "code": code, "end_to_end": result["end_to_end"]}) + "\n")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]][0], "unit": metrics[m["name"]][1]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
