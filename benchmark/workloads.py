"""The three benchmark workloads, each driving the engine's public calls.

Every workload runs measured work until ``seconds`` of it have elapsed and
returns a ``Result``. Untraced work makes exactly the calls a user makes;
traced work (``ctx.tracer`` is a ``Tracer``) makes the same calls with a
span around each layer and a noop write forcing each lazy layer's output.

* ``batch_checkpointed`` - the CLI batch sequence (``__main__.py``):
  ``Pipeline.routed`` -> ``CheckpointedRunner.run`` (16 buckets, 4 per
  wave) -> ``sink_counts`` export, repeated pass after pass.
* ``incremental_ticks`` - an open loop: a loader thread lands one tick file
  every ``TICK_INTERVAL_S`` (dot-name, then atomic rename) while the
  driver calls ``IncrementalSource.process_new`` back to back.
* ``curation_chain`` - ``run_service`` over a documents receiver ->
  pii_scrub -> c4_filter -> gopher_filter -> dedup_exact -> dedup_minhash
  -> quality_filter -> parquet exporter, repeated pass after pass.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import checks
import procstats
import tracing
from tracing import force, patched

N_BUCKETS = 16
BUCKETS_PER_WAVE = 4
TICK_INTERVAL_S = 0.6
CURATION_PROCESSORS = ("pii_scrub", "c4_filter", "gopher_filter",
                       "dedup_exact", "dedup_minhash", "quality_filter")


@dataclass
class Ctx:
    spark: object
    work: str  # scratch directory of this run
    inputs: str  # generated inputs
    truth: dict  # generator summary
    seconds: float
    tracer: object = field(default_factory=tracing.NullTracer)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # end-to-end
    passes: list = field(default_factory=list)  # per pass/tick records


def _mod(name: str):
    """An engine submodule by dotted name (``operators.route`` is shadowed
    by the ``route`` function in its package namespace)."""
    return importlib.import_module(f"opentelemetry_collector_spark.{name}")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that has at least
    ten samples beyond it. Below 20 samples that percentile would fall
    under the median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _attempt(res: Result, label: str, fn):
    """Run one operation; an exception or failed check counts as failed."""
    res.attempted += 1
    try:
        problems = fn()
    except Exception as e:  # noqa: BLE001 - reported, counted as failed
        problems = [f"{label}: {type(e).__name__}: {str(e)[:300]}"]
    if problems:
        res.failed += 1
        res.errors.extend(problems)
    return not problems


# --- batch_checkpointed ----------------------------------------------------


def _batch_pass(ctx: Ctx, out: str, trace_rec: dict) -> dict:
    """One CLI batch sequence over the generated transcripts."""
    from opentelemetry_collector_spark.operators.aggregate import sink_counts
    from opentelemetry_collector_spark.operators.route import routed_ok
    from opentelemetry_collector_spark.plans.checkpoint import (
        CheckpointConfig,
        CheckpointedRunner,
    )
    from opentelemetry_collector_spark.plans.pipeline import (
        Pipeline,
        PipelineConfig,
    )
    src_mod = _mod("sources.transcripts")

    spark, tr = ctx.spark, ctx.tracer
    src = os.path.join(ctx.inputs, "transcripts")
    cfg = PipelineConfig(source_path=src, sink_base_path=out)
    pipeline = Pipeline(spark, cfg)
    transcripts = src_mod.read_transcripts(spark, src)
    routed = pipeline.routed(transcripts)
    runner = CheckpointedRunner(spark, CheckpointConfig(
        base_path=out, n_buckets=N_BUCKETS, buckets_per_wave=BUCKETS_PER_WAVE,
        max_records_per_file=cfg.max_records_per_file))
    if runner.committed_buckets():
        raise RuntimeError("output ledger exists before a fresh run")
    with tr.span("checkpoint"):
        totals = runner.run(routed)
    with tr.span("aggregate"):
        counts = sink_counts(routed_ok(routed), cfg.bucket_seconds)
        counts.coalesce(1).write.mode("overwrite").parquet(
            f"{out}/_metrics/sink_counts")
    trace_rec["totals"] = totals
    return totals


def _batch_patches(tr, state: dict) -> list:
    """Spans around the batch layers' public calls (traced passes only)."""
    route_mod = _mod("operators.route")
    pipe_mod = _mod("plans.pipeline")
    from opentelemetry_collector_spark.plans.checkpoint import (
        CheckpointedRunner,
    )
    src_mod = _mod("sources.transcripts")

    def lazy(name, fn):
        def inner(*a, **k):
            with tr.span(name):
                out = fn(*a, **k)
                force(out)
            return out
        return inner

    orig_read = CheckpointedRunner.committed_buckets
    orig_commit = CheckpointedRunner._commit

    def ledger_read(self):
        with tr.span("checkpoint.ledger_read"):
            out = orig_read(self)
        state["boundary"] = time.time()
        return out

    def commit(self, records):
        with tr.span("checkpoint.commit"):
            orig_commit(self, records)
        tr.mark("checkpoint.wave", state["boundary"])
        state["boundary"] = time.time()

    return [
        (src_mod, "read_transcripts", lazy("scan", src_mod.read_transcripts)),
        (pipe_mod, "parse_turns", lazy("parse", pipe_mod.parse_turns)),
        (pipe_mod, "enrich", lazy("enrich", pipe_mod.enrich)),
        (pipe_mod, "route", lazy("route", pipe_mod.route)),
        (route_mod, "write_sinks",
         tracing.wrap(tr, "write_sinks", route_mod.write_sinks)),
        (CheckpointedRunner, "committed_buckets", ledger_read),
        (CheckpointedRunner, "_commit", commit),
    ]


def run_batch(ctx: Ctx, alternate: bool = False) -> Result:
    """Passes until ``ctx.seconds`` of pass time; with ``alternate`` (the
    traced run) passes alternate untraced / traced, at least three of them
    so a warm untraced pass exists to compare the traced one with."""
    res = Result()
    n_rows = ctx.truth["n_rows"]
    tracer = ctx.tracer
    busy, i = 0.0, 0
    while i == 0 or busy < ctx.seconds or (alternate and i < 3):
        traced = alternate and i % 2 == 1
        ctx.tracer = tracer if traced else tracing.NullTracer()
        out = os.path.join(ctx.work, f"batch-pass{i}")
        rec = {"pass": i, "traced": traced}
        state: dict = {"boundary": time.time()}
        patches = _batch_patches(tracer, state) if traced else []
        usage = procstats.Usage()

        def op():
            with patched(patches), ctx.tracer.span("pass") as root:
                rec["root"] = root.get("id")
                rec["start"] = time.time()
                _batch_pass(ctx, out, rec)
            rec["end"] = time.time()
            rec.update(usage.stop())
            return checks.check_batch(out, ctx.inputs, ctx.truth)

        ok = _attempt(res, f"pass {i}", op)
        rec["ok"] = ok
        if ok:
            rec["wall"] = rec["end"] - rec["start"]
            rec["bucket_fresh_s"] = checks.bucket_freshness(out, rec["start"])
            rec["bucket_rows"] = checks.bucket_rows(out)
            rec["sink_files"], rec["sink_bytes"] = checks.dir_files(
                os.path.join(out, "sinks"))
            busy += rec["wall"]
        else:
            busy += ctx.seconds  # a failed pass ends the run
        res.passes.append(rec)
        shutil.rmtree(out, ignore_errors=True)
        i += 1
    ctx.tracer = tracer
    good = [p for p in res.passes if p["ok"] and not p["traced"]]
    if good:
        fresh = [f for p in good for f in p["bucket_fresh_s"]]
        _common_metrics(res, good, n_rows * len(good),
                        sum(p["wall"] for p in good), fresh)
    return res


def _common_metrics(res: Result, passes: list, rows: int, wall: float,
                    fresh_s: list[float]) -> None:
    t, pct, n = tail(fresh_s)
    res.metrics.update({
        "rows_per_s": rows / wall,
        "freshness_p50_ms": _median(fresh_s) * 1000,
        "freshness_tail_ms": t * 1000,
        "cpu_s": sum(p["cpu_s"] for p in passes) / len(passes),
        "peak_rss_mb": max(p["peak_rss_mb"] for p in passes),
    })
    res.metrics["_freshness_tail"] = {"percentile": pct, "n": n}


# --- incremental_ticks -----------------------------------------------------


class Loader(threading.Thread):
    """Lands pre-built files into ``landing`` on a fixed schedule: copy to
    a dot-name, then rename atomically. Records how late each landing ran."""

    def __init__(self, src_dir: str, landing: str, names: list[str],
                 interval: float, t0: float):
        super().__init__(daemon=True)
        self.src_dir, self.landing, self.names = src_dir, landing, names
        self.t0 = t0
        self.due = {n: t0 + i * interval for i, n in enumerate(names)}
        self.late_s: list[float] = []
        self.error: Exception | None = None
        self._landed = 0
        self._lock = threading.Lock()

    def run(self) -> None:
        try:
            for name in self.names:
                wait = self.due[name] - time.time()
                if wait > 0:
                    time.sleep(wait)
                tmp = os.path.join(self.landing, f".{name}.tmp")
                shutil.copyfile(os.path.join(self.src_dir, name), tmp)
                os.rename(tmp, os.path.join(self.landing, name))
                self.late_s.append(time.time() - self.due[name])
                with self._lock:
                    self._landed += 1
        except Exception as e:  # noqa: BLE001 - re-raised by the tick loop
            self.error = e

    def n_landed(self) -> int:
        with self._lock:
            return self._landed


def _tick_action(spark, tr, tick_id: str, paths: dict, traced: bool):
    from pyspark.sql import functions as F

    route_mod = _mod("operators.route")
    from opentelemetry_collector_spark.operators.aggregate import sink_counts
    from opentelemetry_collector_spark.operators.enrich import enrich
    from opentelemetry_collector_spark.operators.parse import parse_turns

    def layer(name, fn, *args):
        if not traced:
            return fn(*args)
        with tr.span(name):
            out = fn(*args)
            force(out)
        return out

    def action(df):
        with tr.span("incremental.action"):
            parsed = layer("parse", parse_turns, df)
            enriched = layer("enrich", enrich, parsed, spark)
            routed = layer("route", route_mod.route, enriched)
            with tr.span("write_sinks"):
                route_mod.write_sinks(
                    routed.withColumn("tick", F.lit(tick_id)), paths["sinks"],
                    extra_partition_cols=["tick"])
            with tr.span("aggregate"):
                sink_counts(route_mod.routed_ok(routed)).coalesce(1).write \
                    .mode("append").parquet(paths["counts"])
    return action


def _tick_patches(tr, state: dict) -> list:
    from opentelemetry_collector_spark.sources.incremental import (
        IncrementalSource,
    )

    orig_probe = IncrementalSource._probe_files
    orig_commit = IncrementalSource._commit

    def probe(self, files):
        with tr.span("incremental.probe"):
            out = orig_probe(self, files)
        state["probe_end"] = time.time()
        return out

    def commit(self, *a, **k):
        with tr.span("incremental.commit"):
            return orig_commit(self, *a, **k)

    return [(IncrementalSource, "_probe_files", probe),
            (IncrementalSource, "_commit", commit)]


def run_ticks(ctx: Ctx, alternate: bool = False) -> Result:
    """Open loop over the pre-built tick files; with ``alternate`` (the
    traced run) ticks alternate untraced / traced."""
    from opentelemetry_collector_spark.sources.incremental import (
        IncrementalSource,
    )

    spark, res, tracer = ctx.spark, Result(), ctx.tracer
    landing = os.path.join(ctx.work, "landing")
    paths = {"sinks": os.path.join(ctx.work, "tick_out", "sinks"),
             "counts": os.path.join(ctx.work, "tick_out", "sink_counts"),
             "ledger": os.path.join(ctx.work, "tick_out", "_ledger")}
    os.makedirs(landing)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    files = [f for f in ctx.truth["files"] if not f["warm"]]
    corrupt = {f["name"] for f in files if f["corrupt"]}
    rows_of = {f["name"]: f["n_rows"] for f in files}
    source = IncrementalSource(spark, landing, paths["ledger"])
    # a long-running ticker is warm: one untimed tick before the open loop
    for f in ctx.truth["files"]:
        if f["warm"]:
            shutil.copyfile(os.path.join(ctx.inputs, "ticks", f["name"]),
                            os.path.join(landing, f["name"]))
    pending = source.pending()
    source.process_new(_tick_action(spark, tracing.NullTracer(),
                                    pending.tick_id, paths, False),
                       pending=pending)
    usage = procstats.Usage()
    loader = Loader(os.path.join(ctx.inputs, "ticks"), landing,
                    [f["name"] for f in files], TICK_INTERVAL_S,
                    time.time() + 0.2)
    loader.start()
    committed: dict[str, float] = {}
    give_up = loader.t0 + len(files) * TICK_INTERVAL_S + 10 * ctx.seconds + 60
    i = 0
    try:
        while len(committed) < len(files) and time.time() < give_up:
            if loader.error:
                raise loader.error
            traced = alternate and i % 2 == 1
            ctx.tracer = tracer if traced else tracing.NullTracer()
            tr = ctx.tracer
            rec: dict = {"tick": i, "traced": traced, "start": time.time(),
                         "backlog": loader.n_landed() - len(committed)}
            state: dict = {}
            with patched(_tick_patches(tr, state) if traced else []), \
                    tr.span("tick") as root:
                with tr.span("incremental.pending"):
                    pending = source.pending()
                if pending is None:
                    rec = None
                else:
                    names = {os.path.basename(p): p for p in pending.files}
                    expect_bad = {n for n in names if n in corrupt}
                    expect_rows = sum(rows_of[n] for n in names
                                      if n not in corrupt)
                    act = _tick_action(spark, tr, pending.tick_id, paths,
                                       traced)

                    def timed_action(df, act=act):
                        if traced:
                            tr.mark("incremental.read_count",
                                    state["probe_end"])
                        act(df)

                    def op(pending=pending, names=names):
                        with tr.span("incremental.process"):
                            out = source.process_new(timed_action,
                                                     pending=pending)
                        done = time.time()
                        for n in names:
                            committed[n] = done
                        rec.update(out_rows=out["n_rows"],
                                   bad=len(out["failed_files"]))
                        return checks.check_tick(out, names, expect_bad,
                                                 expect_rows)

                    rec.update(files=len(names), rows=expect_rows,
                               root=root.get("id"))
                    rec["ok"] = _attempt(res, f"tick {i}", op)
                    rec["end"] = time.time()
            if rec is None:
                if loader.n_landed() == len(files) and not loader.is_alive() \
                        and len(committed) < len(files):
                    # everything landed but nothing pending: files lost
                    res.attempted += 1
                    res.failed += 1
                    res.errors.append("landed files never became pending")
                    break
                time.sleep(0.05)
                continue
            res.passes.append(rec)
            i += 1
    finally:
        ctx.tracer = tracer
        loader.join(timeout=10 + len(files) * TICK_INTERVAL_S)
    stats = usage.stop()
    if len(committed) < len(files):
        res.attempted += 1
        res.failed += 1
        res.errors.append(f"only {len(committed)}/{len(files)} files "
                          "committed before the deadline")

    def final_check():
        return checks.check_ticks_output(paths, ctx.inputs, ctx.truth)

    if not checks.run_check(res, "tick output", final_check):
        res.failed = res.attempted  # the whole run's output is wrong
    fresh = [committed[n] - loader.due[n] for n in committed]
    ticks = [p for p in res.passes if p.get("ok") and not p["traced"]]
    busy = sum(p["end"] - p["start"] for p in ticks)
    if ticks and fresh:
        t, pct, n = tail(fresh)
        res.metrics.update({
            "rows_per_s": sum(p["rows"] for p in ticks) / busy,
            "freshness_p50_ms": _median(fresh) * 1000,
            "freshness_tail_ms": t * 1000,
            "cpu_s": stats["cpu_s"],
            "peak_rss_mb": stats["peak_rss_mb"],
        })
        res.metrics["_freshness_tail"] = {"percentile": pct, "n": n}
    res.metrics["_loadgen"] = {
        "late_p50_ms": _median(loader.late_s) * 1000,
        "late_max_ms": max(loader.late_s, default=0.0) * 1000}
    res.metrics["_ledger_files"] = checks.dir_files(paths["ledger"])[0]
    res.metrics["_sink_files"], res.metrics["_sink_bytes"] = \
        checks.dir_files(paths["sinks"])
    return res


# --- curation_chain --------------------------------------------------------


def curation_config(docs_path: str, out: str) -> dict:
    return {
        "receivers": {"documents": {"path": docs_path}},
        "processors": {p: ({"drop_repetitive": True}
                           if p == "quality_filter" else {})
                       for p in CURATION_PROCESSORS},
        "exporters": {"parquet": {"path": out}},
        "service": {"pipelines": {"curation": {
            "receivers": ["documents"],
            "processors": list(CURATION_PROCESSORS),
            "exporters": ["parquet"]}}},
    }


def _curation_wrappers(ctx: Ctx, kept: dict) -> tuple[dict, dict, dict, list]:
    """Traced stand-ins for the receiver, processors and exporter, plus the
    dedup-module patches; each records spans and the kept doc_ids."""
    dd = _mod("operators.dedup")
    service = _mod("plans.service")

    tr = ctx.tracer
    recv = service._builtin_receivers()["documents"]
    procs = service._builtin_processors()
    export = service._builtin_exporters()["parquet"]

    def collect(name, df):
        with tr.span(f"{name}.collect"):
            kept[name] = {r[0] for r in df.select("doc_id").collect()}

    def receiver(spark, cfg):
        with tr.span("scan"):
            df = recv(spark, cfg)
            force(df)
        collect("scan", df)
        return df

    def processor(name):
        fn = procs[name]

        def inner(spark, df, cfg):
            if name == "dedup_minhash":
                minhash_probe(spark, df)
            with tr.span(name):
                with tr.span(f"{name}.call"):
                    out = fn(spark, df, cfg)
                with tr.span(f"{name}.force"):
                    force(out)
            collect(name, out)
            return out
        return inner

    def exporter(spark, df, cfg):
        with tr.span("exporter.parquet"):
            export(spark, df, cfg)

    def minhash_probe(spark, df):
        """Separate probes on the dedup_minhash input, outside its span:
        the signature stage alone, the band-join candidate pairs and the
        verified pairs."""
        from pyspark.sql import functions as F

        with tr.span("minhash.signature"):
            sig = dd.minhash_signatures(spark, "", docs=df).persist()
            force(sig)
        with tr.span("minhash.candidates"):
            b = dd.bands_from_signatures(sig)
            x, y = b.alias("x"), b.alias("y")
            kept["_candidates"] = (
                x.join(y, ["band", "key"])
                .filter(F.col("x.doc_id") < F.col("y.doc_id"))
                .select("x.doc_id", "y.doc_id").distinct().count())
        sig.unpersist()
        with tr.span("minhash.verify"):
            kept["_verified"] = dd.dedup_minhash_pairs(
                spark, "", docs=df).count()

    patches = [(dd, "connected_components",
                tracing.wrap(tr, "minhash.cc", dd.connected_components))]
    return ({"documents": receiver},
            {p: processor(p) for p in CURATION_PROCESSORS},
            {"parquet": exporter}, patches)


def run_curation(ctx: Ctx, alternate: bool = False) -> Result:
    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    res, tracer = Result(), ctx.tracer
    docs = os.path.join(ctx.inputs, "documents.parquet")
    oracle: dict = {}
    busy, i = 0.0, 0
    while i == 0 or busy < ctx.seconds or (alternate and i < 3):
        traced = alternate and i % 2 == 1
        ctx.tracer = tracer if traced else tracing.NullTracer()
        out = os.path.join(ctx.work, f"curated-pass{i}")
        cfg = ServiceConfig.from_sources(curation_config(docs, out))
        kept: dict = {}
        rec = {"pass": i, "traced": traced, "kept": kept}
        if traced:
            rx, px, ex, patches = _curation_wrappers(ctx, kept)
        else:
            rx = px = ex = None
            patches = []
        usage = procstats.Usage()

        def op():
            with patched(patches), ctx.tracer.span("pass") as root:
                rec["root"] = root.get("id")
                rec["start"] = time.time()
                run_service(ctx.spark, cfg, extra_receivers=rx,
                            extra_processors=px, extra_exporters=ex)
            rec["end"] = time.time()
            rec.update(usage.stop())
            if not oracle:  # after the first pass, so it is not measured
                oracle.update(checks.curation_oracle(
                    docs, os.path.join(os.path.dirname(ctx.work),
                                       "oracle-cache")))
            return checks.check_curation(out, oracle, ctx.truth,
                                         kept if traced else None)

        ok = _attempt(res, f"pass {i}", op)
        rec["ok"] = ok
        if ok:
            rec["wall"] = rec["end"] - rec["start"]
            busy += rec["wall"]
        else:
            busy += ctx.seconds
        res.passes.append(rec)
        shutil.rmtree(out, ignore_errors=True)
        i += 1
    ctx.tracer = tracer
    good = [p for p in res.passes if p["ok"] and not p["traced"]]
    if good:
        _common_metrics(res, good, ctx.truth["n_rows"] * len(good),
                        sum(p["wall"] for p in good),
                        [p["wall"] for p in good])
    res.metrics["_oracle_kept"] = {k: len(v) for k, v in oracle.items()}
    return res


WORKLOADS = {
    "batch_checkpointed": run_batch,
    "incremental_ticks": run_ticks,
    "curation_chain": run_curation,
}
