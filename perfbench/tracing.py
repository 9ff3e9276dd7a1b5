"""Spans, Spark event-log reduction and the per-layer metric table.

Spans are recorded by the benchmark around each call it makes into an
engine module (session, extract, tokenize, codec, build, catalog, fsio,
query), never inside the engine. Spark-side work is attributed through
job groups the benchmark sets per op, read back from the run's event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
}


EMPTY_GROUP = {
    "jobs": 0, "tasks": 0, "cpu_s": 0.0, "wait_ms": 0.0, "shuffle_write_b": 0, "spill_b": 0,
    **{v: 0.0 for v in PY_METRICS.values()},
}


class Tracer:
    """In-memory spans (name, start, end, parent, op id) plus per-op Spark
    job groups. A disabled tracer records nothing and sets no job group,
    so untraced runs pay one attribute test per call."""

    def __init__(self, on: bool = False):
        self.on = on
        self.sc = None  # the SparkContext, once the session is up
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _span(self, name: str, op, group):
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(group, group, False)
        rec = {"name": name, "op": op, "group": group,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setJobDescription(None)

    def span(self, name: str, op=None, group: str | None = None):
        """Context manager around one call into a layer; ``group`` tags the
        Spark jobs the call starts."""
        if not self.on:
            return contextlib.nullcontext()
        return self._span(name, op, group)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans], f
            )


def _event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def reduce_event_log(log_dir: str) -> dict[tuple, dict]:
    """Per (job group, job description): job count and summed task
    metrics (CPU, scheduler wait, shuffle write, spill, Python worker SQL
    metrics)."""
    stage_key: dict[int, tuple] = {}
    agg: dict[tuple, dict] = {}

    def bucket(key):
        return agg.setdefault(key, dict(EMPTY_GROUP))

    with open(_event_log_file(log_dir)) as f:
        for line in f:
            if '"SparkListenerJobStart"' not in line[:60] and '"SparkListenerTaskEnd"' not in line[:60]:
                continue
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                key = (props.get("spark.jobGroup.id"), props.get("spark.job.description"))
                for sid in e["Stage IDs"]:
                    stage_key[sid] = key
                bucket(key)["jobs"] += 1
                continue
            key = stage_key.get(e["Stage ID"])
            tm, ti = e.get("Task Metrics"), e["Task Info"]
            if key is None or tm is None:
                continue
            b = bucket(key)
            b["tasks"] += 1
            b["cpu_s"] += tm["Executor CPU Time"] / 1e9
            dur = ti["Finish Time"] - ti["Launch Time"]
            run, deser = tm["Executor Run Time"], tm["Executor Deserialize Time"]
            b["wait_ms"] += max(0, dur - run - deser - tm["Result Serialization Time"]) + deser
            b["shuffle_write_b"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            b["spill_b"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            for a in ti.get("Accumulables") or []:
                name = PY_METRICS.get(a.get("Name"))
                if name is not None:
                    b[name] += float(a.get("Update") or 0)
    return agg


def by_group(agg: dict[tuple, dict]) -> dict[str, dict]:
    """Collapse (group, description) keys to per-group sums."""
    out: dict[str, dict] = {}
    for (group, _), v in agg.items():
        if group is None:
            continue
        g = out.setdefault(group, dict(EMPTY_GROUP))
        for k, x in v.items():
            g[k] += x
    return out


def med(xs: list[float]) -> tuple[float, int]:
    xs = [x for x in xs if x is not None]
    return (statistics.median(xs) if xs else 0.0), len(xs)
