"""The write-then-commit ledger protocol (plans/ledger.py), one suite over
all seven holders: a missing ledger reads empty, a double commit of one
tick or wave does not duplicate what the holder reads, append-ledger
compaction leaves reads unchanged, and a doc-ledger tick retried after its
ledger commit recomputes the same accepted set."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.bloom import IncrementalBloom
from opentelemetry_collector_spark.operators.incremental_dedup import (
    IncrementalCurator,
    IncrementalDeduper,
    IncrementalMinHashDeduper,
)
from opentelemetry_collector_spark.operators.sketch import IncrementalSketcher
from opentelemetry_collector_spark.plans.checkpoint import (
    CheckpointConfig,
    CheckpointedRunner,
)
from opentelemetry_collector_spark.sources.incremental import IncrementalSource
from tests.conftest import SF_CORRECT


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _wave(runner, k):
    runner._commit([{
        "run_id": "r", "bucket": k, "input_fingerprint": k, "n_input": 1,
        "n_routed_ok": 1, "n_dead_letter": 0, "wall_ms": 1,
    }])


def _file(src, k):
    src._commit({f"/data/part{k}.parquet": 100 + k}, "r", 1)


@dataclass
class Holder:
    make: Callable  # (spark, path) -> holder
    commit: Callable  # (spark, holder, k) -> None: commits tick/wave k
    read: Callable  # holder -> what the holder reads back, as a set
    append: bool = False  # append ledger (compactable) vs tick ledger


HOLDERS = {
    "checkpoint": Holder(
        lambda spark, p: CheckpointedRunner(
            spark, CheckpointConfig(base_path=p, n_buckets=4)
        ),
        lambda spark, h, k: _wave(h, k),
        lambda h: h.committed_buckets(),
        append=True,
    ),
    "source": Holder(
        lambda spark, p: IncrementalSource(spark, f"{p}/data", f"{p}/_ledger"),
        lambda spark, h, k: _file(h, k),
        lambda h: h.processed_files(),
        append=True,
    ),
    "exact": Holder(
        lambda spark, p: IncrementalDeduper(spark, p),
        lambda spark, h, k: h.commit(
            h.dedup(_docs(spark, [(k, f"text {k}")])), f"t{k}"
        ),
        lambda h: {tuple(r) for r in h.seen().collect()},
    ),
    "curation": Holder(
        lambda spark, p: IncrementalCurator(spark, p),
        lambda spark, h, k: h.commit(
            spark.createDataFrame(
                [(f"fp{k}", k)], "prefix_fp string, doc_id long"
            ),
            f"t{k}",
        ),
        lambda h: {tuple(r) for r in h.seen().collect()},
    ),
    "minhash": Holder(
        lambda spark, p: IncrementalMinHashDeduper(spark, p),
        lambda spark, h, k: h.commit(
            _docs(spark, [(k, " ".join(f"w{k}x{i} tok" for i in range(8)))]),
            f"t{k}",
        ),
        lambda h: {
            (r.doc_id, tuple(r.sig), r.tick_id) for r in h.seen().collect()
        },
    ),
    "bloom": Holder(
        lambda spark, p: IncrementalBloom(spark, p),
        lambda spark, h, k: h.commit(
            h.sketch(spark.createDataFrame([(f"fp{k}",)], "fp string")),
            f"t{k}",
        ),
        lambda h: {r.pos for r in h.merged_bits().collect()},
    ),
    "hll": Holder(
        lambda spark, p: IncrementalSketcher(spark, p),
        lambda spark, h, k: h.commit(
            h.sketch(spark.createDataFrame(
                [(f"e{k}-{i}",) for i in range(20)], "event_id string"
            )),
            f"t{k}",
        ),
        lambda h: {
            (r.j, r.m_j) for r in h.merged_registers().collect() if r.m_j
        },
    ),
}
APPEND = [n for n, h in HOLDERS.items() if h.append]


@pytest.mark.parametrize("name", list(HOLDERS))
def test_missing_ledger_reads_empty(spark, tmp_path, name):
    spec = HOLDERS[name]
    assert spec.read(spec.make(spark, str(tmp_path / "fresh"))) == set()


@pytest.mark.parametrize(
    "name, empty",
    [
        ("checkpoint", None),
        ("source", None),
        ("exact", {"accepted_docs": 0, "ticks": 0}),
        ("minhash", {"accepted_docs": 0, "ticks": 0}),
    ],
)
def test_fresh_ledger_metrics_read_empty(spark, tmp_path, name, empty):
    """A fresh deployment reads empty gauges instead of raising
    PATH_NOT_FOUND before its first commit."""
    m = HOLDERS[name].make(spark, str(tmp_path / "fresh")).metrics()
    if empty is None:
        assert m.count() == 0
    else:
        assert m == empty


@pytest.mark.parametrize("name", list(HOLDERS))
def test_double_commit_does_not_duplicate(spark, tmp_path, name):
    spec = HOLDERS[name]
    h = spec.make(spark, str(tmp_path / "ledger"))
    spec.commit(spark, h, 0)
    spec.commit(spark, h, 1)
    once = spec.read(h)
    assert once
    spec.commit(spark, h, 1)  # the retried tick / wave
    assert spec.read(h) == once
    if not spec.append:  # a tick ledger replaces the tick's partition
        raw = spark.read.parquet(h.ledger_path)
        assert raw.count() == raw.distinct().count()


@pytest.mark.parametrize("name", APPEND)
def test_append_ledger_compaction_keeps_reads(spark, tmp_path, name):
    spec = HOLDERS[name]
    h = spec.make(spark, str(tmp_path / "ledger"))
    for k in range(3):
        spec.commit(spark, h, k)
    before = spec.read(h)
    stats = h.compact_ledger()
    assert (stats["files_before"], stats["files_after"]) == (3, 1)
    assert spec.read(h) == before
    assert h.metrics().count() > 0


# --- retry after the ledger commit, before the file-ledger bookmark ----------

_BASE = " ".join(f"w{i:02d} common corpus token" for i in range(10))
_NEAR = _BASE.replace("w03", "x03")
_NOVEL = " ".join(f"z{i:02d} different text entirely" for i in range(10))
_FRESH = "totally fresh words appear here in this new document today ok"
_FRESH_NEAR = _FRESH.replace("totally", "entirely")
_OTHER = " ".join(f"q{i:02d} other corpus body" for i in range(10))


def _text_ticks(spark, ticks):
    return [_docs(spark, rows) for rows in ticks]


def _corpus_ticks(spark):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    return [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 40))
        for lo in (0, 40, 80)
    ]


DOC_LEDGERS = {
    "exact": (
        lambda h, df, tick: h.dedup(df, tick),
        lambda spark: _text_ticks(spark, [
            [(1, "aa"), (2, "bb"), (3, "aa")],
            [(10, "aa"), (11, "cc"), (12, "dd")],
            [(20, "cc"), (21, "ee")],
        ]),
    ),
    "curation": (
        lambda h, df, tick: h.curate(df, tick),
        _corpus_ticks,
    ),
    "minhash": (
        lambda h, df, tick: h.dedup(df, tick),
        lambda spark: _text_ticks(spark, [
            [(1, _BASE), (2, _NOVEL), (3, _NEAR)],
            [(10, _NEAR), (11, _FRESH)],
            [(20, _FRESH_NEAR), (21, _OTHER)],
        ]),
    ),
}


def _accepted_per_tick(spark, base, name, crash_tick):
    """Run three IncrementalSource ticks through a doc ledger; on
    ``crash_tick`` the action crashes right after the ledger commit, and
    the tick is retried over the same pending snapshot. Returns the sink's
    doc ids per tick."""
    accept, make_ticks = DOC_LEDGERS[name]
    holder = HOLDERS[name].make(spark, f"{base}/doc_ledger")
    src = IncrementalSource(spark, f"{base}/incoming", f"{base}/file_ledger")
    out = f"{base}/accepted"
    crash = {"armed": True}
    for k, batch in enumerate(make_ticks(spark)):
        batch.coalesce(1).write.mode("overwrite").parquet(
            f"{base}/incoming/part{k}"
        )
        pending = src.pending()

        def action(df, _tick=pending.tick_id, _k=k):
            accepted = accept(holder, df, _tick)
            # idempotent sink: tick-keyed overwrite
            accepted.write.mode("overwrite").parquet(f"{out}/{_k}")
            holder.commit(accepted, _tick)
            if _k == crash_tick and crash["armed"]:
                crash["armed"] = False
                raise RuntimeError("crash after the ledger commit")

        if k == crash_tick:
            with pytest.raises(RuntimeError):
                src.process_new(action, pending=pending)
            pending = src.pending()  # file ledger uncommitted: same tick
        src.process_new(action, pending=pending)
    assert src.pending() is None
    return [
        {r.doc_id for r in spark.read.parquet(f"{out}/{k}").collect()}
        for k in range(3)
    ]


@pytest.mark.parametrize("name", list(DOC_LEDGERS))
def test_retry_after_ledger_commit_recomputes_same_accepted_set(
    spark, tmp_path, name
):
    clean = _accepted_per_tick(spark, str(tmp_path / "clean"), name, None)
    assert clean[1], "the crashed tick must accept something"
    crashed = _accepted_per_tick(spark, str(tmp_path / "crashed"), name, 1)
    assert crashed == clean
