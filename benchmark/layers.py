"""Per-layer metrics of a traced run, derived from its spans.

Every traced run reports every metric in ``METRICS``; a layer the workload
never calls reports 0 (the "bypassed" prediction). Times are medians over
the run's traced passes or ticks. A lazy layer's self time is its forced
span minus the forced span of the layer before it; a curation processor's
self time also adds the eager work done inside its factory call.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import coverage, dur

PROCESSORS = ("pii_scrub", "c4_filter", "gopher_filter", "dedup_exact",
              "dedup_minhash", "quality_filter")
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
         "gc_s", "shuffle_write_bytes", "spill_bytes", "task_skew",
         "failed_tasks")

# (name, unit, better)
METRICS: list[tuple[str, str, str]] = [
    ("scan.self_s", "s", "lower"),
    ("scan.rows", "count", "lower"),
    ("scan.bytes", "B", "lower"),
    ("parse.self_s", "s", "lower"),
    ("parse.executor_cpu_s", "s", "lower"),
    ("enrich.self_s", "s", "lower"),
    ("route.self_s", "s", "lower"),
    ("route.dead_letter_ratio", "ratio", "lower"),
    ("write_sinks.s", "s", "lower"),
    ("write_sinks.files", "count", "lower"),
    ("write_sinks.bytes", "B", "lower"),
    ("aggregate.self_s", "s", "lower"),
    ("aggregate.shuffle_write_bytes", "B", "lower"),
    ("checkpoint.ledger_read_s", "s", "lower"),
    ("checkpoint.wave_p50_s", "s", "lower"),
    ("checkpoint.wave_max_s", "s", "lower"),
    ("checkpoint.commit_s", "s", "lower"),
    ("checkpoint.scan_amplification", "ratio", "lower"),
    ("checkpoint.bucket_skew", "ratio", "lower"),
    ("incremental.pending_s", "s", "lower"),
    ("incremental.probe_s", "s", "lower"),
    ("incremental.read_count_s", "s", "lower"),
    ("incremental.action_s", "s", "lower"),
    ("incremental.commit_s", "s", "lower"),
    ("incremental.jobs_per_tick", "count", "lower"),
    ("incremental.files_per_tick", "count", "higher"),
    ("incremental.ledger_files", "count", "lower"),
    ("incremental.backlog_max_files", "count", "lower"),
    *[(f"{p}.{m}", u, b) for p in PROCESSORS for m, u, b in (
        ("call_s", "s", "lower"), ("self_s", "s", "lower"),
        ("jobs", "count", "lower"), ("kept_ratio", "ratio", "lower"))],
    ("exporter.parquet_s", "s", "lower"),
    ("minhash.signature_s", "s", "lower"),
    ("minhash.candidate_pairs", "count", "lower"),
    ("minhash.verified_pairs", "count", "lower"),
    ("minhash.verified_ratio", "ratio", "higher"),
    ("minhash.cc_s", "s", "lower"),
    ("minhash.cc_jobs", "count", "lower"),
    *[(f"spark.{c}", "s" if c.endswith("_s") else
       "B" if c.endswith("_bytes") else
       "ratio" if c == "task_skew" else "count", "lower") for c in SPARK],
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.coverage", "ratio", "higher"),
    ("batch.local1_rows_per_s", "rows/s", "higher"),
    ("batch.scaling_1_to_4", "ratio", "higher"),
    ("freshness.tail_percentile", "%", "higher"),
    ("freshness.tail_samples", "count", "higher"),
    ("host.loadavg_1m", "count", "lower"),
    ("host.membw_gbps", "GB/s", "higher"),
    ("loadgen.late_p50_ms", "ms", "lower"),
    ("loadgen.late_max_ms", "ms", "lower"),
]
UNITS = {n: u for n, u, _ in METRICS}


class Tree:
    """Index over one run's spans."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.kids = defaultdict(list)
        for s in spans:
            if s["parent"]:
                self.kids[s["parent"]].append(s)

    def under(self, root_id: str, name: str) -> list[dict]:
        """Descendants of ``root_id`` named ``name``."""
        out, stack = [], list(self.kids[root_id])
        while stack:
            s = stack.pop()
            if s["name"] == name:
                out.append(s)
            stack.extend(self.kids[s["id"]])
        return sorted(out, key=lambda s: s["start"])

    def one(self, root_id: str, name: str) -> dict | None:
        found = self.under(root_id, name)
        return found[0] if found else None


def _d(span) -> float:
    return dur(span) if span else 0.0


def _t(span, counter: str) -> float:
    return span["total"][counter] if span else 0.0


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _per_root(res, tree: Tree, fn) -> dict:
    """Median over traced passes/ticks of ``fn(root_span) -> dict``."""
    rows = [fn(tree.by_id[p["root"]]) for p in res.passes
            if p.get("traced") and p.get("ok") and p.get("root")]
    keys = {k for r in rows for k in r}
    return {k: _med(r[k] for r in rows if k in r) for k in keys}


def _spark(root: dict) -> dict:
    return {f"spark.{c}": root["total"][c] for c in SPARK}


def _batch(res, tree: Tree, truth: dict) -> dict:
    n = truth["n_rows"]

    def one(root):
        rid = root["id"]
        scan, parse, enrich, route = (tree.one(rid, x) for x in
                                      ("scan", "parse", "enrich", "route"))
        ckpt, agg = tree.one(rid, "checkpoint"), tree.one(rid, "aggregate")
        waves = [dur(s) for s in tree.under(rid, "checkpoint.wave")]
        return {
            "scan.self_s": _d(scan),
            "scan.rows": _t(scan, "input_records"),
            "scan.bytes": _t(scan, "input_bytes"),
            "parse.self_s": _d(parse) - _d(scan),
            "parse.executor_cpu_s": _t(parse, "executor_cpu_s")
            - _t(scan, "executor_cpu_s"),
            "enrich.self_s": _d(enrich) - _d(parse),
            "route.self_s": _d(route) - _d(enrich),
            "write_sinks.s": sum(map(dur, tree.under(rid, "write_sinks"))),
            "aggregate.self_s": _d(agg),
            "aggregate.shuffle_write_bytes": _t(agg, "shuffle_write_bytes"),
            "checkpoint.ledger_read_s": sum(
                map(dur, tree.under(rid, "checkpoint.ledger_read"))),
            "checkpoint.wave_p50_s": _med(waves),
            "checkpoint.wave_max_s": max(waves, default=0.0),
            "checkpoint.commit_s": sum(
                map(dur, tree.under(rid, "checkpoint.commit"))),
            "checkpoint.scan_amplification": _t(ckpt, "input_records") / n,
            **_spark(root),
        }

    out = _per_root(res, tree, one)
    traced = [p for p in res.passes if p.get("traced") and p.get("ok")]
    if traced:
        p = traced[-1]
        tot = p["totals"]
        rows = p["bucket_rows"]
        out.update({
            "route.dead_letter_ratio": tot["n_dead_letter"]
            / (tot["n_dead_letter"] + tot["n_routed_ok"]),
            "write_sinks.files": p["sink_files"],
            "write_sinks.bytes": p["sink_bytes"],
            "checkpoint.bucket_skew": max(rows) / (sum(rows) / len(rows)),
        })
    return out


def _ticks(res, tree: Tree, truth: dict) -> dict:
    def one(root):
        rid = root["id"]
        parse, enrich, route = (tree.one(rid, x) for x in
                                ("parse", "enrich", "route"))
        agg = tree.one(rid, "aggregate")
        return {
            "parse.self_s": _d(parse),
            "parse.executor_cpu_s": _t(parse, "executor_cpu_s"),
            "enrich.self_s": _d(enrich) - _d(parse),
            "route.self_s": _d(route) - _d(enrich),
            "write_sinks.s": _d(tree.one(rid, "write_sinks")),
            "aggregate.self_s": _d(agg),
            "aggregate.shuffle_write_bytes": _t(agg, "shuffle_write_bytes"),
            "incremental.pending_s": _d(tree.one(rid, "incremental.pending")),
            "incremental.probe_s": _d(tree.one(rid, "incremental.probe")),
            "incremental.read_count_s": _d(
                tree.one(rid, "incremental.read_count")),
            "incremental.action_s": _d(tree.one(rid, "incremental.action")),
            "incremental.commit_s": _d(tree.one(rid, "incremental.commit")),
            "incremental.jobs_per_tick": root["total"]["jobs"],
            **_spark(root),
        }

    out = _per_root(res, tree, one)
    ticks = [p for p in res.passes if p.get("ok")]
    sinks = truth["sinks"]
    n_ticks = len(ticks) + 1  # the warm-up tick wrote sink files too
    out.update({
        "route.dead_letter_ratio": sinks.get("dead_letter", 0)
        / sum(sinks.values()),
        "write_sinks.files": res.metrics["_sink_files"] / n_ticks,
        "write_sinks.bytes": res.metrics["_sink_bytes"] / n_ticks,
        "incremental.files_per_tick": _med(p["files"] for p in ticks),
        "incremental.ledger_files": res.metrics["_ledger_files"],
        "incremental.backlog_max_files": max(
            (p["backlog"] for p in ticks), default=0),
    })
    return out


def _curation(res, tree: Tree, truth: dict) -> dict:
    def one(root):
        rid = root["id"]
        scan = tree.one(rid, "scan")
        out = {"scan.self_s": _d(scan),
               "scan.rows": _t(scan, "input_records"),
               "scan.bytes": _t(scan, "input_bytes"),
               "exporter.parquet_s": _d(tree.one(rid, "exporter.parquet")),
               "minhash.signature_s": _d(tree.one(rid, "minhash.signature")),
               "minhash.cc_s": _d(tree.one(rid, "minhash.cc")),
               "minhash.cc_jobs": _t(tree.one(rid, "minhash.cc"), "jobs"),
               **_spark(root)}
        prev_force = _d(scan)
        for p in PROCESSORS:
            call, forced = tree.one(rid, f"{p}.call"), tree.one(rid, f"{p}.force")
            out[f"{p}.call_s"] = _d(call)
            out[f"{p}.self_s"] = _d(call) + _d(forced) - prev_force
            out[f"{p}.jobs"] = _t(tree.one(rid, p), "jobs")
            prev_force = _d(forced)
        return out

    out = _per_root(res, tree, one)
    traced = [p for p in res.passes if p.get("traced") and p.get("ok")]
    if traced:
        kept = traced[-1]["kept"]
        prev = kept["scan"]
        for p in PROCESSORS:
            out[f"{p}.kept_ratio"] = len(kept[p]) / max(len(prev), 1)
            prev = kept[p]
        cand, ver = kept["_candidates"], kept["_verified"]
        out.update({"minhash.candidate_pairs": cand,
                    "minhash.verified_pairs": ver,
                    "minhash.verified_ratio": ver / cand if cand else 0.0})
    return out


def per_layer(workload: str, res, spans: list[dict], truth: dict) -> dict:
    tree = Tree(spans)
    fn = {"batch_checkpointed": _batch, "incremental_ticks": _ticks,
          "curation_chain": _curation}[workload]
    got = fn(res, tree, truth)
    roots = [tree.by_id[p["root"]] for p in res.passes
             if p.get("traced") and p.get("ok") and p.get("root")]
    got["trace.coverage"] = _med(coverage(spans, r) for r in roots)
    got["trace.overhead_ratio"] = overhead(res)
    return {n: float(got.get(n, 0.0)) for n in UNITS}


def overhead(res) -> float:
    """Median traced pass (or tick) wall time over the median untraced
    one; the first, cold pass is left out when another untraced pass
    exists."""
    ok = [p for p in res.passes if p.get("ok")]
    walls_t = [p["end"] - p["start"] for p in ok if p["traced"]]
    walls_u = [p["end"] - p["start"] for p in ok if not p["traced"]]
    if len(walls_u) > 1:
        walls_u = walls_u[1:]
    return _med(walls_t) / _med(walls_u) if walls_t and walls_u else 0.0


def conditions(host: dict, res) -> dict:
    tail = res.metrics.get("_freshness_tail", {})
    gen = res.metrics.get("_loadgen", {})
    return {
        "host.loadavg_1m": host["loadavg_1m"],
        "host.membw_gbps": host["membw_gbps"],
        "loadgen.late_p50_ms": gen.get("late_p50_ms", 0.0),
        "loadgen.late_max_ms": gen.get("late_max_ms", 0.0),
        "freshness.tail_percentile": tail.get("percentile", 0.0),
        "freshness.tail_samples": tail.get("n", 0),
    }

