"""Spans around the engine's layer calls, and their Spark counters.

A traced run opens a span around each call into a layer (workload -> pass
or tick -> layer), tags every Spark job submitted inside it with the span
id (the ``bench.span`` local property), and keeps the spans in memory.
After the session stops, the uncompressed Spark event log is parsed and
each job's task metrics are credited to its span. Untraced runs use
``NullTracer``, whose spans cost nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

SPAN_PROP = "bench.span"

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_write_bytes", "spill_bytes", "input_records",
            "input_bytes", "failed_tasks")


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def mark(self, name: str, start: float, **attrs) -> None:
        pass


class Tracer:
    """In-memory spans; each Spark job launched inside a span carries the
    span id as a local property so the event log can attribute it."""

    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _open(self, name: str, start: float, attrs: dict) -> dict:
        rec = {"id": f"{self.run_id}.{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, "start": start, "end": None,
               "attrs": attrs}
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self._open(name, time.time(), attrs)
        self._stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROP, rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, self._stack[-1]["id"] if self._stack else None)

    def mark(self, name: str, start: float, **attrs) -> None:
        """Record a span that ends now and began at ``start`` (for
        intervals only visible after the fact, like a checkpoint wave)."""
        self._open(name, start, attrs)["end"] = time.time()


@contextlib.contextmanager
def patched(patches: list[tuple[object, str, object]]):
    """Temporarily replace attributes: ``(owner, name, new)`` triples."""
    saved = [(o, n, getattr(o, n)) for o, n, _ in patches]
    try:
        for o, n, new in patches:
            setattr(o, n, new)
        yield
    finally:
        for o, n, old in reversed(saved):
            setattr(o, n, old)


def wrap(tracer, name: str, fn):
    """``fn`` with a span named ``name`` around each call."""
    def inner(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return inner


def force(df) -> None:
    """Materialize a lazy DataFrame without keeping it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


# --- event log -------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """(jobs {job_id: {span, submit_ms, stages}}, tasks [...]) from the one
    event log file under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "span": props.get(SPAN_PROP),
                        "submit_ms": ev.get("Submission Time"),
                        "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sw = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0)
                        + m.get("Memory Bytes Spilled", 0),
                        "in_records": inp.get("Records Read", 0),
                        "in_bytes": inp.get("Bytes Read", 0),
                        "dur_ms": info["Finish Time"] - info["Launch Time"],
                        "failed": bool(info.get("Failed"))
                        or ev.get("Task End Reason", {}).get("Reason")
                        != "Success",
                    })
    return jobs, tasks


def attribute(spans: list[dict], log_dir: str) -> None:
    """Add ``self`` and ``total`` Spark counters to every span in place.
    Jobs without the span property (submitted from another thread) go to
    the innermost span open at their submission time."""
    jobs, tasks = read_event_log(log_dir)
    by_id = {s["id"]: s for s in spans}

    def innermost(t_ms: float) -> str | None:
        best = None
        for s in spans:
            if s["start"] * 1000 <= t_ms <= s["end"] * 1000 and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else None

    stage_span: dict[int, str] = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        sid = j["span"] if j["span"] in by_id else innermost(j["submit_ms"])
        j["span"] = sid
        for st in j["stages"]:
            stage_span.setdefault(st, sid)

    own = defaultdict(lambda: defaultdict(float))
    durs = defaultdict(list)
    for j in jobs.values():
        if j["span"]:
            own[j["span"]]["jobs"] += 1
    stages_seen = defaultdict(set)
    for t in tasks:
        sid = stage_span.get(t["stage"])
        if sid is None:
            continue
        c = own[sid]
        stages_seen[sid].add(t["stage"])
        c["tasks"] += 1
        c["executor_run_s"] += t["run_ms"] / 1000
        c["executor_cpu_s"] += t["cpu_ns"] / 1e9
        c["gc_s"] += t["gc_ms"] / 1000
        c["shuffle_write_bytes"] += t["shuffle_write"]
        c["spill_bytes"] += t["spill"]
        c["input_records"] += t["in_records"]
        c["input_bytes"] += t["in_bytes"]
        c["failed_tasks"] += t["failed"]
        durs[sid].append(t["dur_ms"])
    for sid, st in stages_seen.items():
        own[sid]["stages"] = len(st)

    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s["id"])

    def subtree(sid: str) -> list[str]:
        out = [sid]
        for c in children[sid]:
            out.extend(subtree(c))
        return out

    for s in spans:
        s["self"] = {k: own[s["id"]].get(k, 0) for k in COUNTERS}
        ids = subtree(s["id"])
        s["total"] = {k: sum(own[i].get(k, 0) for i in ids) for k in COUNTERS}
        ds = [d for i in ids for d in durs[i]]
        med = statistics.median(ds) if ds else 0
        s["total"]["task_skew"] = max(ds) / med if med else 0.0


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def coverage(spans: list[dict], root: dict) -> float:
    """Share of ``root``'s wall time covered by its direct children."""
    kids = sorted((s["start"], s["end"]) for s in spans
                  if s["parent"] == root["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / dur(root) if dur(root) > 0 else 0.0
