"""Shows that every output check accepts a real engine output and rejects
a deliberately corrupted copy of it.

    python3 benchmark/selftest.py

Runs one small pass of each workload on a ``local[2]`` session, then for
each corruption copies the output, damages the copy and asserts that the
workload's check reports a problem. Prints one line per case and exits
non-zero if any check misses a corruption or rejects a clean output.
Takes about three minutes; writes only under ``.bench_work/``.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen
import run
import workloads

SIZES = gen.Sizes(batch_turns=20_000, tick_files=20, docs=300)


def _first(pattern: str) -> str:
    found = sorted(glob.glob(pattern, recursive=True))
    if not found:
        raise FileNotFoundError(pattern)
    return found[0]


def _rewrite(path: str, fn) -> None:
    """Replace one parquet file with ``fn(table)``."""
    t = fn(pq.read_table(path))
    os.remove(path)
    pq.write_table(t, path)


def _set(t: pa.Table, col: str, i: int, value) -> pa.Table:
    vals = t.column(col).to_pylist()
    vals[i] = value
    return t.set_column(t.schema.get_field_index(col), col,
                        pa.array(vals, t.schema.field(col).type))


class Cases:
    def __init__(self):
        self.failures = 0

    def expect(self, label: str, problems: list[str], clean: bool) -> None:
        ok = (not problems) if clean else bool(problems)
        self.failures += not ok
        what = "accepted" if not problems else f"rejected: {problems[0][:100]}"
        print(f"{'ok ' if ok else 'BAD'} {label}: {what}")

    def corrupt(self, label: str, src: str, damage, check) -> None:
        """Copy ``src``, apply ``damage(copy)`` and expect ``check(copy)``
        to report a problem."""
        dst = src + ".corrupt"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
        try:
            damage(dst)
            self.expect(label, check(dst), clean=False)
        finally:
            shutil.rmtree(dst, ignore_errors=True)


def batch_cases(c: Cases, ctx: workloads.Ctx) -> None:
    out = os.path.join(ctx.work, "batch-out")
    workloads._batch_pass(ctx, out, {})
    check = lambda d: checks.check_batch(d, ctx.inputs, ctx.truth)  # noqa: E731
    c.expect("batch clean output", check(out), clean=True)
    c.corrupt("batch: a sink file lost", out, lambda d: os.remove(
        _first(f"{d}/sinks/part_bucket=*/sink=user*/*.parquet")), check)
    c.corrupt("batch: dead-letter rows filed under a sink", out,
              lambda d: shutil.move(
                  _first(f"{d}/sinks/part_bucket=*/sink=dead_letter/*.parquet"),
                  _first(f"{d}/sinks/part_bucket=*/sink=user*/")
                  + "moved.parquet"), check)
    c.corrupt("batch: a bucket committed twice", out, lambda d: shutil.copy(
        _first(f"{d}/_checkpoints/*.parquet"),
        f"{d}/_checkpoints/part-dup.parquet"), check)
    c.corrupt("batch: a sink_counts row off by one", out, lambda d: _rewrite(
        _first(f"{d}/_metrics/sink_counts/*.parquet"),
        lambda t: _set(t, "n_rows", 0, t.column("n_rows")[0].as_py() + 1)),
        check)


def tick_cases(c: Cases, ctx: workloads.Ctx) -> None:
    res = workloads.run_ticks(ctx)
    c.expect("ticks clean run", res.errors, clean=True)
    base = os.path.join(ctx.work, "tick_out")

    def check(d):
        paths = {"sinks": f"{d}/sinks", "counts": f"{d}/sink_counts",
                 "ledger": f"{d}/_ledger"}
        return checks.check_ticks_output(paths, ctx.inputs, ctx.truth)

    c.expect("ticks clean output", check(base), clean=True)
    bad = next(f["name"] for f in ctx.truth["files"] if f["corrupt"])

    def processed_truncated(d):
        for p in glob.glob(f"{d}/_ledger/*.parquet"):
            t = pq.read_table(p)
            names = [os.path.basename(x) for x in t.column("file_path").to_pylist()]
            if bad in names:
                _rewrite(p, lambda t: _set(t, "error", names.index(bad), None))

    c.corrupt("ticks: truncated file marked processed", base,
              processed_truncated, check)
    c.corrupt("ticks: a file committed twice", base, lambda d: shutil.copy(
        _first(f"{d}/_ledger/*.parquet"), f"{d}/_ledger/part-dup.parquet"),
        check)
    c.corrupt("ticks: one tick's sink file lost", base, lambda d: os.remove(
        _first(f"{d}/sinks/tick=*/sink=tool*/*.parquet")), check)
    c.corrupt("ticks: a sink_counts append lost", base, lambda d: os.remove(
        _first(f"{d}/sink_counts/*.parquet")), check)
    good = {"tick_id": "t", "n_rows": 10, "n_files": 1,
            "failed_files": {}}
    c.expect("tick counters: truncated file read as good",
             checks.check_tick(good, {"a": 1, "b": 2}, {"b"}, 10), clean=False)


def curation_cases(c: Cases, ctx: workloads.Ctx) -> None:
    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    docs = os.path.join(ctx.inputs, "documents.parquet")
    out = os.path.join(ctx.work, "curated")
    run_service(ctx.spark, ServiceConfig.from_sources(
        workloads.curation_config(docs, out)))
    oracle = checks.curation_oracle(docs)
    check = lambda d: checks.check_curation(d, oracle, ctx.truth, None)  # noqa: E731
    c.expect("curation clean output", check(out), clean=True)
    kept = sorted(oracle["quality_filter"])
    cluster = next(g for g in ctx.truth["docs"]["clusters"]
                   if set(g) & oracle["quality_filter"])
    extra = next(d for d in cluster if d not in oracle["quality_filter"])

    def add_member(d):
        _rewrite(_first(f"{d}/*.parquet"), lambda t: pa.concat_tables(
            [t, _set(t.slice(0, 1), "doc_id", 0, extra)]))

    def drop_one(d):
        for p in glob.glob(f"{d}/*.parquet"):
            _rewrite(p, lambda t: t.filter(pc.not_equal(
                t.column("doc_id"), kept[0])))

    def leak_pii(d):
        token = next(tok for did, (_, tok) in ctx.truth["docs"]["pii"].items()
                     if int(did) in oracle["quality_filter"])
        p = _first(f"{d}/*.parquet")
        _rewrite(p, lambda t: _set(t, "text", 0,
                                   t.column("text")[0].as_py() + " " + token))

    c.corrupt("curation: a kept document dropped", out, drop_one, check)
    c.corrupt("curation: a second cluster member kept", out, add_member, check)
    c.corrupt("curation: a PII token put back", out, leak_pii, check)
    wrong = {name: set(oracle[name]) for name in workloads.CURATION_PROCESSORS}
    wrong["c4_filter"].discard(kept[0])
    c.expect("curation: kept set after c4_filter differs",
             checks.check_curation(out, oracle, ctx.truth, wrong), clean=False)


def manifest_cases(c: Cases) -> None:
    """BENCHMARK.json names exactly the metrics the runs print."""
    import json

    import layers

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    names = tuple(w["name"] for w in bench["workloads"])
    c.expect("BENCHMARK.json workloads match run.WORKLOADS",
             [] if names == run.WORKLOADS == tuple(workloads.WORKLOADS)
             else [f"{names} != {run.WORKLOADS}"], clean=True)
    c.expect("BENCHMARK.json end_to_end matches run.E2E",
             [] if e2e == run.E2E else [f"{e2e} != {run.E2E}"], clean=True)
    c.expect("BENCHMARK.json per_layer matches layers.METRICS",
             [] if per == layers.METRICS else ["per_layer differs"],
             clean=True)


def generator_cases(c: Cases, work: str) -> None:
    """The same seed gives byte-identical inputs; another seed gives
    other bytes with the same planted shares."""
    import hashlib

    def digest(d: str) -> dict:
        return {os.path.relpath(p, d): hashlib.sha256(open(p, "rb").read())
                .hexdigest() for p in glob.glob(f"{d}/**/*", recursive=True)
                if os.path.isfile(p)}

    def shares(w: str, t: dict) -> tuple:
        if w == "curation_chain":
            d = t["docs"]
            return (d["kinds"], [len(x) for x in d["clusters"]],
                    len(d["exact_dups"]), len(d["pii"]))
        if w == "incremental_ticks":
            return ([f["corrupt"] for f in t["files"]],
                    t["sinks"]["dead_letter"])
        return t["n_rows"], t["sinks"]["dead_letter"]

    for w in run.WORKLOADS:
        a, b, o = (os.path.join(work, f"gen-{w}-{x}") for x in "abo")
        ta, _, to = (gen.generate(seed, d, w, SIZES)
                     for seed, d in ((5, a), (5, b), (6, o)))
        da, db, do = digest(a), digest(b), digest(o)
        c.expect(f"{w}: same seed, identical bytes",
                 [] if da == db else ["inputs differ"], clean=True)
        c.expect(f"{w}: other seed, other bytes",
                 [k for k in da if da[k] == do.get(k)], clean=True)
        c.expect(f"{w}: other seed, same planted shares",
                 [] if shares(w, ta) == shares(w, to) else ["shares differ"],
                 clean=True)


def main() -> int:
    sys.path.insert(0, run.ROOT)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = run.DRIVER_MEM
    c = Cases()
    manifest_cases(c)
    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    os.makedirs(work)
    generator_cases(c, work)
    spark = run.start_spark(work, 2)
    try:
        for name, fn in (("batch_checkpointed", batch_cases),
                         ("incremental_ticks", tick_cases),
                         ("curation_chain", curation_cases)):
            inputs = os.path.join(work, name)
            truth = gen.generate(7, inputs, name, SIZES)
            fn(c, workloads.Ctx(spark, os.path.join(work, f"{name}-w"),
                                inputs, truth, seconds=0.0))
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"{c.failures} check(s) misbehaved")
    return 1 if c.failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
