"""Benchmark entry point.

    python3 benchmark/run.py --workload batch_checkpointed --seed 1 \\
        --seconds 15 --trace 0

Builds a fresh Spark session with the engine's ``session.get_spark``
(``local[<cores>]``, driver memory through ``SPARK_GRAFT_DRIVER_MEM``),
generates the workload's inputs from the seed, measures the workload for
``--seconds`` seconds of work, checks every output, and prints one JSON
object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate traced run reporting the
per-layer metrics. Everything is written under ``.bench_work/`` at the
root of the checkout; traced runs keep their spans there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import procstats

T_PROC = procstats.process_start_time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
# A fixed heap shape: with the whole heap committed up front and a fixed
# young generation, peak RSS tracks retained memory instead of the
# collector's resizing decisions (which spread it by ~20% run to run).
DRIVER_MEM = "2g"
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEM} -Xmn600m"
WORKLOADS = ("batch_checkpointed", "incremental_ticks", "curation_chain")
E2E = {  # name -> unit; every one is printed for every workload
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "freshness_p50_ms": "ms",
    "freshness_tail_ms": "ms",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, n_cores: int, extra: dict | None = None):
    """The engine's session, with every scratch path inside ``work``."""
    from opentelemetry_collector_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} {JVM_HEAP_OPTS}",
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }
    spark = get_spark("otelcol-spark-bench", cores=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # one trivial job
    return spark


def stop_spark(spark) -> None:
    """Stop the session and end its JVM, waiting until it has exited.

    ``SparkSession.stop`` leaves the py4j gateway JVM running until this
    process exits; closing the JVM's stdin makes it shut down now."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.close()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _sigterm(signum, frame):
    raise SystemExit(128 + signum)  # run every ``finally`` on the way out


def single_core_pass(inputs: str, work: str) -> float:
    """rows/s of one cold ``batch_checkpointed`` pass at ``local[1]``."""
    import workloads

    spark = start_spark(work, 1)
    try:
        with open(os.path.join(inputs, "truth", "summary.json")) as fh:
            truth = json.load(fh)
        ctx = workloads.Ctx(spark, work, inputs, truth, seconds=0.0)
        res = workloads.run_batch(ctx)
        if res.failed:
            raise RuntimeError(f"local[1] pass failed: {res.errors}")
        return res.metrics["rows_per_s"]
    finally:
        stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--single-core-pass", metavar="INPUTS",
                   help=argparse.SUPPRESS)  # internal: local[1] baseline
    args = p.parse_args(argv)
    procstats.become_subreaper()
    signal.signal(signal.SIGTERM, _sigterm)
    try:
        return _main(args)
    finally:
        procstats.end_descendants()


def _main(args) -> int:
    sys.path.insert(0, ROOT)
    # read by the engine's session module when it is imported
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        import opentelemetry_collector_spark as engine
    except ImportError as e:
        print(f"engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"engine imported from {engine.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    import tracing

    if args.single_core_pass:
        work = os.path.join(WORK_ROOT, f"local1-{os.getpid()}")
        try:
            print(json.dumps({"rows_per_s": single_core_pass(
                args.single_core_pass, work)}))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return 0

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    n_cores = cores()
    evlog = os.path.join(work, "eventlog")
    spark = None
    try:
        spark = start_spark(
            work, n_cores, tracing.event_log_conf(evlog) if args.trace else None)
        setup_s = time.time() - T_PROC
        import gen  # the benchmark's own modules load after set-up
        import workloads

        inputs = os.path.join(work, "inputs")
        sizes = gen.Sizes(tick_files=max(
            32, int(args.seconds / workloads.TICK_INTERVAL_S)))
        truth = gen.generate(args.seed, inputs, args.workload, sizes)
        host = procstats.host_probe()
        tracer = tracing.Tracer(spark, run_id) if args.trace \
            else tracing.NullTracer()
        ctx = workloads.Ctx(spark, work, inputs, truth, args.seconds, tracer)
        res = workloads.WORKLOADS[args.workload](ctx, alternate=bool(args.trace))
        local1 = None
        if args.trace and args.workload == "batch_checkpointed":
            local1 = _local1(inputs)
        stop_spark(spark)
        spark = None
        res.metrics["setup_s"] = setup_s
        if args.trace:
            import layers

            tracing.attribute(tracer.spans, evlog)
            metrics = layers.per_layer(args.workload, res, tracer.spans, truth)
            metrics.update(layers.conditions(host, res))
            if local1:
                cold = next(p for p in res.passes if not p["traced"])
                metrics["batch.local1_rows_per_s"] = local1
                metrics["batch.scaling_1_to_4"] = (
                    truth["n_rows"] / cold["wall"] / local1)
            _write_trace(run_id, tracer.spans, res, metrics)
            units = layers.UNITS
        else:
            metrics = {k: res.metrics.get(k) for k in E2E}
            units = E2E
        correct = _report(args, res, metrics, units, host)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            procstats.end_descendants()
            shutil.rmtree(work, ignore_errors=True)
    return 0 if correct else 1


def _local1(inputs: str) -> float | None:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", "-",
         "--seed", "0", "--seconds", "0", "--single-core-pass", inputs],
        capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        print(out.stderr[-2000:], file=sys.stderr)
        return None
    return json.loads(out.stdout.strip().splitlines()[-1])["rows_per_s"]


def _write_trace(run_id: str, spans: list, res, metrics: dict) -> None:
    path = os.path.join(WORK_ROOT, "traces", f"{run_id}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"spans": spans, "per_layer": metrics,
                   "passes": [{k: v for k, v in p.items() if k != "kept"}
                              for p in res.passes]}, fh, default=str)
    print(f"# spans written to {os.path.relpath(path, ROOT)}")


def _report(args, res, metrics: dict, units: dict, host: dict) -> bool:
    """Human-readable lines, then the one-line JSON result; returns
    whether the run is correct."""
    fail_ratio = res.failed / res.attempted if res.attempted else 1.0
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={res.attempted} failed={res.failed} "
          f"failed_ratio={fail_ratio:.4f}")
    for name in units:
        v = metrics.get(name)
        print(f"#   {name:34s} {v!s:>24} {units[name]}")
    cond = {"host": host, **{k[1:]: v for k, v in res.metrics.items()
                            if k.startswith("_")}}
    print("# conditions " + json.dumps(cond, sort_keys=True))
    for e in res.errors[:20]:
        print(f"# FAILED: {e}")
    correct = res.failed == 0 and all(
        isinstance(metrics.get(k), (int, float)) for k in units)
    print(json.dumps({
        "correct": correct,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": {k: {"value": metrics.get(k), "unit": u}
                    for k, u in units.items()},
    }))
    return correct


if __name__ == "__main__":
    raise SystemExit(main())
