"""Output checks for every workload. Each returns a list of problems; an
empty list means the output is correct. They read the engine's outputs
with pyarrow and compare them with the generator's truth or with the
engine's own DuckDB oracle SQL, never with another Spark query."""

from __future__ import annotations

import os
from collections import Counter
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq


def run_check(res, label: str, fn) -> bool:
    """Run a whole-run check; record its problems on ``res``."""
    try:
        problems = fn()
    except Exception as e:  # noqa: BLE001 - a crashed check is a failed one
        problems = [f"{label}: {type(e).__name__}: {str(e)[:300]}"]
    res.errors.extend(problems)
    return not problems


def _data_files(root: str):
    """Yield (relative dir parts, path) for every data file under root."""
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                rel = os.path.relpath(d, root)
                yield ([] if rel == "." else rel.split(os.sep)), \
                    os.path.join(d, f)


def dir_files(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``."""
    n = size = 0
    for _, p in _data_files(root):
        n += 1
        size += os.path.getsize(p)
    return n, size


def partition_rows(root: str) -> Counter:
    """Row count per partition-value tuple, from parquet footers only."""
    out: Counter = Counter()
    for parts, p in _data_files(root):
        key = tuple(unquote(x.split("=", 1)[1]) for x in parts)
        out[key] += pq.ParquetFile(p).metadata.num_rows
    return out


def _read_dir(root: str) -> pa.Table:
    paths = [p for _, p in _data_files(root)]
    return pa.concat_tables([pq.read_table(p) for p in paths]) if paths \
        else pa.table({})


def _counts_table(t: pa.Table) -> list[tuple]:
    keys = ["bucket_start_epoch", "sink_role", "sink_tool"]
    g = t.group_by(keys).aggregate([("n_rows", "sum"),
                                    ("n_error_severity", "sum")])
    return sorted(zip(*(g.column(c).to_pylist() for c in
                        [*keys, "n_rows_sum", "n_error_severity_sum"])))


def _sink_problems(label: str, got: Counter, want: dict) -> list[str]:
    if dict(got) != want:
        diff = {k: (got.get(k, 0), want.get(k, 0))
                for k in set(got) | set(want) if got.get(k, 0) != want.get(k, 0)}
        return [f"{label}: per-sink rows differ (got, want): {diff}"]
    return []


def _sink_counts_problems(path: str, inputs: str) -> list[str]:
    want = _counts_table(pq.read_table(
        os.path.join(inputs, "truth", "sink_counts.parquet")))
    got = _counts_table(_read_dir(path))
    if got != want:
        return [f"sink_counts: {len(set(got) ^ set(want))} rows differ "
                "from the generator's truth"]
    return []


# --- batch_checkpointed ----------------------------------------------------


def check_batch(out: str, inputs: str, truth: dict) -> list[str]:
    problems = []
    rows = partition_rows(os.path.join(out, "sinks"))  # (bucket, sink)
    per_sink: Counter = Counter()
    per_bucket: Counter = Counter()
    for (bucket, sink), n in rows.items():
        per_sink[sink] += n
        per_bucket[int(bucket)] += n
    problems += _sink_problems("batch", per_sink, truth["sinks"])
    if sum(per_sink.values()) != truth["n_rows"]:
        problems.append(f"batch: sink + dead-letter rows "
                        f"{sum(per_sink.values())} != input {truth['n_rows']}")
    ledger = _read_dir(os.path.join(out, "_checkpoints")).to_pylist()
    buckets = Counter(r["bucket"] for r in ledger)
    from workloads import N_BUCKETS

    if sorted(buckets) != list(range(N_BUCKETS)) or set(buckets.values()) != {1}:
        problems.append(f"batch: buckets not committed exactly once: "
                        f"{dict(buckets)}")
    for r in ledger:
        if r["status"] != "committed" or r["n_input"] != per_bucket[r["bucket"]]:
            problems.append(f"batch: ledger row {r['bucket']} says "
                            f"{r['n_input']} rows ({r['status']}), sinks hold "
                            f"{per_bucket[r['bucket']]}")
    problems += _sink_counts_problems(
        os.path.join(out, "_metrics", "sink_counts"), inputs)
    return problems


def bucket_freshness(out: str, start: float) -> list[float]:
    """Seconds from pass start to each bucket's commit."""
    ledger = _read_dir(os.path.join(out, "_checkpoints"))
    ts = ledger.column("committed_at").cast(pa.timestamp("us")).cast(pa.int64())
    return [t / 1e6 - start for t in ts.to_pylist()]


def bucket_rows(out: str) -> list[int]:
    ledger = _read_dir(os.path.join(out, "_checkpoints"))
    return ledger.column("n_input").to_pylist()


# --- incremental_ticks -----------------------------------------------------


def check_tick(out: dict, names: dict, expect_bad: set,
               expect_rows: int) -> list[str]:
    """One tick's counters against the files it was given."""
    bad = {os.path.basename(p) for p in out["failed_files"]}
    problems = []
    if bad != expect_bad:
        problems.append(f"tick {out['tick_id']}: dead-lettered {sorted(bad)}, "
                        f"truncated {sorted(expect_bad)}")
    if out["n_rows"] != expect_rows or out["n_files"] != len(names) - len(bad):
        problems.append(f"tick {out['tick_id']}: read {out['n_rows']} rows "
                        f"from {out['n_files']} files, expected {expect_rows}")
    return problems


def check_ticks_output(paths: dict, inputs: str, truth: dict) -> list[str]:
    problems = []
    rows = partition_rows(paths["sinks"])  # (tick, sink)
    per_sink: Counter = Counter()
    for (_, sink), n in rows.items():
        per_sink[sink] += n
    problems += _sink_problems("ticks", per_sink, truth["sinks"])
    ledger = _read_dir(paths["ledger"]).to_pylist()
    seen = Counter(os.path.basename(r["file_path"]) for r in ledger)
    names = {f["name"]: f["corrupt"] for f in truth["files"]}
    if dict(seen) != {n: 1 for n in names}:
        problems.append("ticks: files not committed exactly once: "
                        f"{sorted((k, v) for k, v in seen.items() if v != 1)}"
                        f" missing {sorted(set(names) - set(seen))}")
    for r in ledger:
        name = os.path.basename(r["file_path"])
        if names.get(name) and r["error"] is None:
            problems.append(f"ticks: truncated file {name} was processed")
        if names.get(name) is False and r["error"] is not None:
            problems.append(f"ticks: good file {name} was dead-lettered")
    problems += _sink_counts_problems(paths["counts"], inputs)
    return problems


# --- curation_chain --------------------------------------------------------


def _components(pairs) -> dict[int, int]:
    """doc_id -> smallest doc_id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def curation_oracle(docs_path: str, cache_dir: str | None = None
                    ) -> dict[str, set]:
    """Kept doc_id set after each processor of the chain, computed in
    DuckDB with each processor module's oracle SQL. The MinHash oracle
    takes seconds, so with ``cache_dir`` the result is kept there, keyed
    by the input bytes and the oracle SQL text."""
    import hashlib
    import json

    from opentelemetry_collector_spark.operators import (
        cleaning,
        dedup,
        quality,
        textstats,
    )

    key = hashlib.sha256()
    with open(docs_path, "rb") as fh:
        key.update(fh.read())
    for sql in (cleaning.DOC_PII_ORACLE, cleaning.DOC_C4_ORACLE,
                quality.DOC_GOPHER_ORACLE, dedup.DEDUP_EXACT_ORACLE,
                dedup.DEDUP_MINHASH_ORACLE, textstats.DOC_REPETITION_ORACLE):
        key.update(sql.encode())
    cached = cache_dir and os.path.join(cache_dir, key.hexdigest() + ".json")
    if cached and os.path.exists(cached):
        with open(cached) as fh:
            return {k: {tuple(x) if isinstance(x, list) else x for x in v}
                    for k, v in json.load(fh).items()}
    kept = _curation_oracle(docs_path)
    if cached:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{cached}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({k: sorted(v) for k, v in kept.items()}, fh)
        os.replace(tmp, cached)
    return kept


def _curation_oracle(docs_path: str) -> dict[str, set]:
    import duckdb

    from opentelemetry_collector_spark.operators.cleaning import (
        DOC_C4_ORACLE,
        DOC_PII_ORACLE,
    )
    from opentelemetry_collector_spark.operators.dedup import (
        DEDUP_EXACT_ORACLE,
        DEDUP_MINHASH_ORACLE,
    )
    from opentelemetry_collector_spark.operators.quality import (
        DOC_GOPHER_ORACLE,
    )
    from opentelemetry_collector_spark.operators.textstats import (
        DOC_REPETITION_ORACLE,
    )

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE TABLE s0 AS SELECT doc_id, text "
                f"FROM read_parquet('{docs_path}')")
    kept: dict[str, set] = {}

    def stage(name: str, prev: str, sql: str) -> None:
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {prev}")
        con.execute(f"CREATE TABLE {name} AS {sql}")
        kept[name] = {r[0] for r in con.execute(
            f"SELECT doc_id FROM {name}").fetchall()}

    stage("pii_scrub", "s0", f"SELECT doc_id, text FROM ({DOC_PII_ORACLE})")
    stage("c4_filter", "pii_scrub",
          f"SELECT doc_id, clean_text AS text FROM ({DOC_C4_ORACLE}) WHERE keep")
    stage("gopher_filter", "c4_filter",
          f"SELECT d.doc_id, d.text FROM c4_filter d JOIN ({DOC_GOPHER_ORACLE})"
          " g USING (doc_id) WHERE g.keep")
    stage("dedup_exact", "gopher_filter",
          f"SELECT d.doc_id, d.text FROM gopher_filter d JOIN "
          f"({DEDUP_EXACT_ORACLE}) e USING (doc_id) WHERE NOT e.is_dup")
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM dedup_exact")
    pairs = con.execute(f"SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_ORACLE})"
                        ).fetchall()
    drop = [d for d, c in _components(pairs).items() if d != c]
    con.execute("CREATE TABLE mh_drop (doc_id BIGINT)")
    if drop:
        con.executemany("INSERT INTO mh_drop VALUES (?)", [(d,) for d in drop])
    stage("dedup_minhash", "dedup_exact",
          "SELECT * FROM dedup_exact WHERE doc_id NOT IN "
          "(SELECT doc_id FROM mh_drop)")
    stage("quality_filter", "dedup_minhash",
          f"SELECT d.doc_id, d.text FROM dedup_minhash d JOIN "
          f"({DOC_REPETITION_ORACLE}) r USING (doc_id) WHERE NOT r.repetitive")
    kept["_minhash_pairs"] = {tuple(p) for p in pairs}
    con.close()
    return kept


def check_curation(out: str, oracle: dict, truth: dict,
                   kept: dict | None) -> list[str]:
    """Final curated set (and, when traced, the set after every processor)
    against the oracle; planted duplicates keep at most one document; no
    planted PII token survives."""
    from workloads import CURATION_PROCESSORS

    problems = []
    t = _read_dir(out)
    final = set(t.column("doc_id").to_pylist()) if t.num_columns else set()
    if final != oracle["quality_filter"]:
        problems.append(f"curation: {len(final ^ oracle['quality_filter'])} "
                        "doc_ids differ from the oracle chain")
    for name in CURATION_PROCESSORS if kept else ():
        if kept.get(name) != oracle[name]:
            problems.append(f"curation: kept set after {name} differs from "
                            "its oracle")
    docs = truth["docs"]
    groups = docs["clusters"] + docs["exact_dups"]
    over = [g for g in groups if len(final & set(g)) > 1]
    if over:
        problems.append(f"curation: {len(over)} planted duplicate groups keep "
                        "more than one document")
    if t.num_columns:
        text = "\n".join(t.column("text").to_pylist())
        leaked = [tok for _, tok in docs["pii"].values() if tok in text]
        if leaked:
            problems.append(f"curation: {len(leaked)} PII tokens survived")
    return problems
