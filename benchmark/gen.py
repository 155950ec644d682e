"""Seeded input generator for the benchmark workloads.

One process, numpy + pyarrow, no Spark. From a seed it writes

* ``transcripts/`` — the batch input in the production layout (zstd,
  conv_id-clustered, 16 files): Zipf conversation lengths, one hot
  conversation, ~1.5% dead-letter rows;
* ``ticks/`` — pre-built tick files of ~2.5k turns each for the open-loop
  incremental workload (plus three for the warm-up tick), one in twenty
  truncated on purpose;
* ``documents.parquet`` — a curation corpus of real sentences with planted
  exact duplicates, near-duplicate clusters, PII and boilerplate;

and the ground truth beside them (``truth/``): the sink and dead-letter
verdict of every turn, the expected ``sink_counts`` rows, the planted
clusters, PII tokens and corrupt files. The truth is derived from the
generation parameters, not by re-running the engine's regexes.

Run standalone: ``python3 benchmark/gen.py --seed 1 --out /tmp/gen``.
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- transcripts -----------------------------------------------------------

# The engine's severity ladder and tool lookup, restated here so the truth
# does not depend on the code under test.
_BANDS = ["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"]
SEVERITIES = [b if i == 0 else f"{b}{i + 1}" for b in _BANDS for i in range(4)]
SEV_NUMBER = {s: n + 1 for n, s in enumerate(SEVERITIES)}
ERROR_THRESHOLD = SEV_NUMBER["ERROR"]
UNKNOWN_SEVERITIES = ["SEVERE", "NOTICE"]
TOOL_FAMILY = {"search": "search", "browser": "search", "python": "code",
               "bash": "code", "calculator": "compute"}
TOOLS = list(TOOL_FAMILY) + ["grep"]  # grep is not in the lookup -> unknown
ROLES = ["user", "assistant", "tool", "system"]
ROLE_P = [0.3, 0.3, 0.3, 0.1]
BUCKET_SECONDS = 300
EPOCH0 = 1_735_689_600  # 2025-01-01T00:00:00Z

EMPTY_SHARE = 0.010  # dead-lettered as empty_text
UNKNOWN_SEV_SHARE = 0.005  # dead-lettered as unknown_severity
HOT_SHARE = 0.03  # share of turns in the one hot conversation
N_LAYOUT_FILES = 16
TICK_TURNS = 2500
TICK_CORRUPT_EVERY = 20
TICK_WARM_FILES = 3

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _hex(rng: np.random.Generator, n: int, width: int) -> list[str]:
    raw = rng.integers(0, 256, size=(n, width // 2), dtype=np.uint8)
    return [r.tobytes().hex() for r in raw]


def gen_turns(rng: np.random.Generator, n_turns: int, prefix: str,
              hot: bool = True) -> tuple[pa.Table, dict]:
    """``n_turns`` transcript turns, each conversation contiguous and in
    turn order, plus per-turn truth columns (sink, err_sev, bucket)."""
    n_hot = int(n_turns * HOT_SHARE) if hot else 0
    lengths = [n_hot] if n_hot else []
    left = n_turns - n_hot
    while left > 0:
        k = int(min(rng.zipf(1.7), 400, left))
        lengths.append(k)
        left -= k
    conv_idx = np.repeat(np.arange(len(lengths)), lengths)
    turn_idx = np.concatenate([np.arange(k) for k in lengths]).astype(np.int32)
    conv_names = np.array([f"{prefix}-{i:07d}" for i in range(len(lengths))])
    if n_hot:
        conv_names[0] = f"{prefix}-hot"
    conv_id = conv_names[conv_idx]

    role = np.array(ROLES)[rng.choice(4, size=n_turns, p=ROLE_P)]
    role[turn_idx == 0] = "system"
    tool_pick = np.array(TOOLS)[rng.integers(0, len(TOOLS), n_turns)]
    sev_pick = np.array(SEVERITIES)[rng.integers(0, len(SEVERITIES), n_turns)]
    # planted dead letters in exact counts, so every seed plants the same
    # share: empty texts anywhere, unknown severities on tool turns
    empty = np.zeros(n_turns, dtype=bool)
    empty[rng.permutation(n_turns)[:round(n_turns * EMPTY_SHARE)]] = True
    unknown_sev = np.zeros(n_turns, dtype=bool)
    unknown_sev[rng.choice(np.flatnonzero((role == "tool") & ~empty),
                           round(n_turns * UNKNOWN_SEV_SHARE),
                           replace=False)] = True
    sev_pick = np.where(
        unknown_sev,
        np.array(UNKNOWN_SEVERITIES)[rng.integers(0, 2, n_turns)], sev_pick)
    status = np.where(rng.random(n_turns) < 0.1, "ERROR", "OK")
    k = rng.integers(0, 100_000, n_turns)
    dur = rng.integers(1, 5000, n_turns)
    trace = _hex(rng, n_turns, 32)
    span = _hex(rng, n_turns, 16)

    text, tool_col = [], []
    for i in range(n_turns):
        r = role[i]
        if r == "assistant":
            t = tool_pick[i]
            s = (f"[INFO] calling tool={t} trace_id={trace[i]} "
                 f"span_id={span[i]} dur_ms={dur[i]} args={{\"k\": {k[i]}}}")
            tool_col.append(t)
        elif r == "tool":
            t = tool_pick[i]
            s = (f"[{sev_pick[i]}] tool={t} status={status[i]} "
                 f"result: payload-{k[i]}")
            tool_col.append(t)
        elif r == "user":
            s = f"please look up item {k[i]} and summarise it"
            tool_col.append(None)
        else:
            s = f"system prompt update {k[i]}"
            tool_col.append(None)
        text.append("" if empty[i] else s)

    # timestamps: each conversation starts somewhere in one day, turns
    # advance by a few seconds
    start = EPOCH0 + rng.integers(0, 86_400, len(lengths))
    step = rng.integers(1, 30, n_turns)
    ts_s = np.empty(n_turns, dtype=np.int64)
    pos = 0
    for c, kk in enumerate(lengths):
        ts_s[pos:pos + kk] = start[c] + np.cumsum(step[pos:pos + kk])
        pos += kk

    # truth: sink = role/tool_family for routed rows, dead_letter otherwise
    has_tool = (role == "assistant") | (role == "tool")
    family = np.array([TOOL_FAMILY.get(t, "unknown") for t in tool_pick])
    family = np.where(has_tool, family, "none")
    dead = empty | unknown_sev
    sink = np.where(dead, "dead_letter", np.char.add(np.char.add(role, "/"),
                                                     family))
    sev_num = np.array([SEV_NUMBER.get(s, 0) for s in sev_pick])
    err_sev = (role == "tool") & ~dead & (sev_num >= ERROR_THRESHOLD)
    bucket = ts_s // BUCKET_SECONDS * BUCKET_SECONDS

    table = pa.table({
        "conv_id": pa.array(conv_id, pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool_col, pa.string()),
        "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
    }, schema=TRANSCRIPT_SCHEMA)
    truth = {"sink": sink, "role": role, "family": family,
             "err_sev": err_sev, "bucket": bucket}
    return table, truth


def sink_truth(truth: dict) -> dict[str, int]:
    keys, counts = np.unique(truth["sink"], return_counts=True)
    return {str(k): int(c) for k, c in zip(keys, counts)}


def sink_counts_truth(truth: dict) -> pa.Table:
    """Expected ``sink_counts`` rows: per (bucket, role, tool_family) of the
    routed rows, the row count and the error-severity count."""
    ok = truth["sink"] != "dead_letter"
    t = pa.table({
        "bucket_start_epoch": pa.array(truth["bucket"][ok], pa.int64()),
        "sink_role": pa.array(truth["role"][ok]),
        "sink_tool": pa.array(truth["family"][ok]),
        "n_rows": pa.array(np.ones(int(ok.sum()), dtype=np.int64)),
        "n_error_severity": pa.array(truth["err_sev"][ok].astype(np.int64)),
    })
    return t.group_by(["bucket_start_epoch", "sink_role", "sink_tool"]).aggregate(
        [("n_rows", "sum"), ("n_error_severity", "sum")]
    ).rename_columns(["bucket_start_epoch", "sink_role", "sink_tool",
                      "n_rows", "n_error_severity"])


def write_layout(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Production layout: conv_id-clustered, zstd, ``n_files`` files."""
    os.makedirs(out_dir, exist_ok=True)
    conv = table.column("conv_id").to_numpy(zero_copy_only=False)
    # split at conversation boundaries so each conv_id lives in one file
    bounds = np.flatnonzero(conv[1:] != conv[:-1]) + 1
    targets = [len(conv) * i // n_files for i in range(1, n_files)]
    cuts = sorted({int(bounds[min(np.searchsorted(bounds, t), len(bounds) - 1)])
                   for t in targets})
    edges = [0, *cuts, len(conv)]
    for i, (a, b) in enumerate(zip(edges[:-1], edges[1:])):
        pq.write_table(table.slice(a, b - a),
                       os.path.join(out_dir, f"part-{i:05d}.zstd.parquet"),
                       compression="zstd")


# --- documents -------------------------------------------------------------

_SUBJ = ("engineer", "analyst", "gardener", "pilot", "teacher", "farmer",
         "doctor", "painter", "writer", "student", "baker", "sailor",
         "plumber", "chemist", "porter", "singer", "lawyer", "nurse",
         "grocer", "miner", "tailor", "ranger", "curator", "editor")
_VERB = ("repaired", "measured", "studied", "painted", "collected", "opened",
         "checked", "described", "carried", "planted", "cleaned", "sorted",
         "visited", "designed", "noticed", "ordered", "borrowed", "moved",
         "shipped", "tested", "finished", "counted", "watched", "followed")
_ADJ = ("old", "quiet", "bright", "narrow", "heavy", "golden", "wooden",
        "distant", "careful", "sudden", "gentle", "crowded", "modern",
        "rusty", "hidden", "famous", "simple", "windy", "silver", "broken")
_OBJ = ("bridge", "garden", "report", "engine", "window", "harbor", "market",
        "ladder", "library", "station", "kitchen", "meadow", "factory",
        "tunnel", "village", "island", "museum", "orchard", "canal", "tower",
        "cabinet", "journal", "lantern", "valley", "compass", "fountain")
_TAIL = ("before sunrise", "after heavy storms", "during winter",
         "without help", "near quiet rivers", "for several hours",
         "with great care", "in haste", "under clear skies",
         "across town", "at dawn", "by wooden fences", "late yesterday",
         "as planned", "despite rain", "for local festivals")
_END = (".", ".", ".", "!", "?")
_NAMES = ("alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi")

# planted shares of the document corpus (of the base documents)
DOC_SHARES = {
    "lorem": 0.03,  # dropped by c4 (lorem ipsum)
    "brace": 0.03,  # dropped by c4 (curly brace)
    "short": 0.03,  # dropped by c4 (< 5 sentences)
    "tiny": 0.04,  # passes c4, dropped by gopher (< 50 words)
    "numeric": 0.03,  # passes c4, dropped by gopher (alpha fraction)
    "spam": 0.04,  # passes c4/gopher, dropped by quality_filter
}
BOILERPLATE_SHARE = 0.15  # menu / javascript lines the c4 line filter drops
PII_SHARE = 0.15
EXACT_DUP_SHARE = 0.06  # copies of a kept document
PII_TWIN_SHARE = 0.02  # copies differing only in a scrubbed e-mail
CLUSTER_SIZES = (40, 12, 8, 6, 5, 5, 4, 4, 3, 3, 3, 3)  # incl. the center


def _sentence(rng: np.random.Generator, article: str) -> str:
    return (f"{article.capitalize()} {_ADJ[rng.integers(len(_ADJ))]} "
            f"{_SUBJ[rng.integers(len(_SUBJ))]} "
            f"{_VERB[rng.integers(len(_VERB))]} "
            f"{'the' if article == 'a' else 'a'} "
            f"{_ADJ[rng.integers(len(_ADJ))]} "
            f"{_OBJ[rng.integers(len(_OBJ))]} "
            f"{_TAIL[rng.integers(len(_TAIL))]}"
            f"{_END[rng.integers(len(_END))]}")


def _paragraphs(rng: np.random.Generator, n_sent: int) -> list[str]:
    """Lines of 1-3 sentences; each line ends in terminal punctuation."""
    sents = [_sentence(rng, "the" if i % 2 else "a") for i in range(n_sent)]
    lines, i = [], 0
    while i < n_sent:
        k = int(rng.integers(1, 4))
        lines.append(" ".join(sents[i:i + k]))
        i += k
    return lines


def _pii(rng: np.random.Generator) -> tuple[str, str, str]:
    """(sentence, category, token) with one PII token."""
    kind = int(rng.integers(0, 4))
    if kind == 0:
        tok = (f"{_NAMES[rng.integers(len(_NAMES))]}.{rng.integers(100, 999)}"
               f"@example.org")
        return f"Write to {tok} for the full schedule.", "email", tok
    if kind == 1:
        tok = ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
        return f"The gateway answered from {tok} without delay.", "ip", tok
    if kind == 2:
        tok = (f"+{rng.integers(1, 99)} {rng.integers(100, 999)} "
               f"{rng.integers(1000, 9999)} {rng.integers(1000, 9999)}")
        return f"Call the front desk on {tok} after lunch.", "phone", tok
    tok = f"{rng.integers(100, 999)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)}"
    return f"The record lists the number {tok} on page two.", "ssn", tok


def gen_documents(rng: np.random.Generator, n_docs: int) -> tuple[pa.Table, dict]:
    """Corpus of ``n_docs`` documents with planted categories."""
    n_cluster = sum(CLUSTER_SIZES)
    n_dup = int(n_docs * EXACT_DUP_SHARE)
    n_twin = int(n_docs * PII_TWIN_SHARE)
    n_base = n_docs - n_dup - n_twin - (n_cluster - len(CLUSTER_SIZES))
    kinds = np.array(["good"] * n_base, dtype=object)
    pos = 0
    order = rng.permutation(n_base)
    for kind, share in DOC_SHARES.items():
        k = int(n_docs * share)
        kinds[order[pos:pos + k]] = kind
        pos += k

    good_idx = np.flatnonzero(kinds == "good")
    with_pii = set(rng.choice(good_idx, int(n_docs * PII_SHARE),
                              replace=False).tolist())
    boiler = set(rng.choice(good_idx, int(n_docs * BOILERPLATE_SHARE),
                            replace=False).tolist())

    texts: list[str] = []
    pii: dict[int, list] = {}
    for i, kind in enumerate(kinds):
        if kind == "good":
            lines = _paragraphs(rng, int(rng.integers(7, 11)))
            if i in with_pii:
                s, cat, tok = _pii(rng)
                lines.insert(int(rng.integers(0, len(lines) + 1)), s)
                pii[i] = [cat, tok]
            if i in boiler:
                lines.insert(0, "Home About Contact Careers")
                lines.append("Please enable javascript to view the comments.")
        elif kind == "lorem":
            lines = _paragraphs(rng, 10)
            lines.insert(1, "Lorem ipsum dolor sit amet, consectetur elit.")
        elif kind == "brace":
            lines = _paragraphs(rng, 10)
            lines.append("The config reads {retries: 3} by default.")
        elif kind == "short":
            lines = [_sentence(rng, "the"), _sentence(rng, "a"),
                     "Menu Search Login"]
        elif kind == "tiny":
            lines = [f"{_SUBJ[rng.integers(len(_SUBJ))].capitalize()} "
                     f"{_VERB[rng.integers(len(_VERB))]} the "
                     f"{_OBJ[rng.integers(len(_OBJ))]}{e}"
                     for e in (".", "!", ".", "?", ".", ".")]
            lines[0] = lines[0].replace(" the ", " a ")
        elif kind == "numeric":
            nums = " ".join(str(int(x)) for x in rng.integers(10, 99, 40))
            lines = _paragraphs(rng, 5) + [f"Totals were {nums} overall."]
        else:  # spam: one sentence repeated
            item = _OBJ[rng.integers(len(_OBJ))]
            lines = _paragraphs(rng, 3) + [
                f"Buy the {item} now and get a bonus {item} free!"] * 8
        texts.append("\n".join(lines))

    good = [i for i in range(n_base) if kinds[i] == "good"]
    good_pii = [i for i in good if i in pii and pii[i][0] == "email"]
    good_plain = [i for i in good if i not in pii and i not in boiler]
    pick = rng.permutation(len(good_plain))
    centers = [good_plain[j] for j in pick[:len(CLUSTER_SIZES)]]
    dup_src = [good_plain[j] for j in pick[len(CLUSTER_SIZES):]]

    planted_exact: list[list[int]] = []
    src_of: dict[int, int] = {}
    for _ in range(n_dup):
        s = dup_src[int(rng.integers(len(dup_src)))]
        src_of[len(texts)] = s
        texts.append(texts[s])
    for s, dup in src_of.items():
        planted_exact.append([dup, s])
    for _ in range(n_twin):
        s = good_pii[int(rng.integers(len(good_pii)))]
        old = pii[s][1]
        new = f"{_NAMES[rng.integers(len(_NAMES))]}.{rng.integers(1000, 9999)}@example.net"
        pii[len(texts)] = ["email", new]
        planted_exact.append([len(texts), s])
        texts.append(texts[s].replace(old, new))

    # near-duplicate clusters: each member is the center with its last word
    # replaced. That changes one 3-word shingle of ~70, so every pair sits
    # near Jaccard 0.97, where the 4x4 LSH banding misses a pair with
    # probability ~2e-4 and a cluster splits far less often; no two members
    # are byte-equal
    clusters: list[list[int]] = []
    for c, size in zip(centers, CLUSTER_SIZES):
        members = [c]
        base = texts[c].split("\n")
        words = base[-1].split(" ")
        for m in range(1, size):
            w = list(words)
            w[-1] = f"{_OBJ[m % len(_OBJ)]}{m}{w[-1][-1]}"
            members.append(len(texts))
            texts.append("\n".join(base[:-1] + [" ".join(w)]))
        clusters.append(members)

    perm = rng.permutation(len(texts))  # doc_id order independent of kind
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[perm] = np.arange(len(texts), dtype=np.int64)
    idx = np.argsort(doc_id)
    table = pa.table({
        "doc_id": pa.array(doc_id[idx]),
        "text": pa.array([texts[i] for i in idx]),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"src{int(doc_id[i]) % 4}" for i in idx]),
        "n_chars": pa.array([len(texts[i]) for i in idx], pa.int64()),
    })
    did = lambda i: int(doc_id[i])  # noqa: E731
    kind_of = {did(i): str(kinds[i]) for i in range(n_base)}
    truth = {
        "n_docs": len(texts),
        "kinds": {k: sum(1 for v in kind_of.values() if v == k)
                  for k in ("good", *DOC_SHARES)},
        "kind_of": kind_of,
        "clusters": [[did(i) for i in c] for c in clusters],
        "exact_dups": [[did(a), did(b)] for a, b in planted_exact],
        "pii": {str(did(i)): v for i, v in pii.items()},
    }
    return table, truth


# --- entry -----------------------------------------------------------------


@dataclass
class Sizes:
    batch_turns: int = 100_000
    tick_files: int = 40
    docs: int = 600


def generate(seed: int, out: str, workload: str, sizes: Sizes) -> dict:
    """Write the inputs ``workload`` needs under ``out`` and return a
    summary; everything is a pure function of ``seed``."""
    os.makedirs(os.path.join(out, "truth"), exist_ok=True)
    summary: dict = {"seed": seed, "workload": workload}
    if workload == "batch_checkpointed":
        rng = np.random.default_rng([seed, 1])
        table, truth = gen_turns(rng, sizes.batch_turns, f"c{seed}")
        write_layout(table, os.path.join(out, "transcripts"), N_LAYOUT_FILES)
        pq.write_table(sink_counts_truth(truth),
                       os.path.join(out, "truth", "sink_counts.parquet"))
        summary.update(n_rows=table.num_rows, sinks=sink_truth(truth))
    elif workload == "incremental_ticks":
        rng = np.random.default_rng([seed, 2])
        tick_dir = os.path.join(out, "ticks")
        os.makedirs(tick_dir, exist_ok=True)
        files, all_truth = [], []
        # the warm-up tick's files come first (one of them truncated, so
        # the dead-letter path is warm too); then the scheduled files, with
        # the truncated ones at fixed positions so every seed plants the
        # same share at the same place in the schedule
        names = [f"warm-{i}.parquet" for i in range(TICK_WARM_FILES)] + [
            f"tick-{i:04d}.parquet" for i in range(sizes.tick_files)]
        corrupt_at = {1} | set(range(TICK_WARM_FILES + TICK_CORRUPT_EVERY // 2,
                                     len(names), TICK_CORRUPT_EVERY))
        for f, name in enumerate(names):
            table, truth = gen_turns(rng, TICK_TURNS, f"t{seed}-{f:04d}",
                                     hot=False)
            path = os.path.join(tick_dir, name)
            pq.write_table(table, path, compression="zstd")
            corrupt = f in corrupt_at
            if corrupt:  # truncate: drops the footer
                size = os.path.getsize(path)
                with open(path, "r+b") as fh:
                    fh.truncate(size * 3 // 5)
            else:
                all_truth.append(truth)
            files.append({"name": name, "n_rows": table.num_rows,
                          "corrupt": corrupt, "warm": f < TICK_WARM_FILES})
        merged = {k: np.concatenate([t[k] for t in all_truth])
                  for k in all_truth[0]}
        pq.write_table(sink_counts_truth(merged),
                       os.path.join(out, "truth", "sink_counts.parquet"))
        summary.update(files=files, sinks=sink_truth(merged),
                       n_rows=int(len(merged["sink"])))
    elif workload == "curation_chain":
        rng = np.random.default_rng([seed, 3])
        table, truth = gen_documents(rng, sizes.docs)
        pq.write_table(table, os.path.join(out, "documents.parquet"))
        summary.update(n_rows=table.num_rows, docs=truth)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out, "truth", "summary.json"), "w") as fh:
        json.dump(summary, fh, sort_keys=True)
    return summary


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--workload", required=True)
    args = p.parse_args()
    s = generate(args.seed, args.out, args.workload, Sizes())
    print(json.dumps({k: v for k, v in s.items() if k not in ("docs", "files")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
