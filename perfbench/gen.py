"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is made here from the
benchmark's `--seed`; the same seed gives byte-identical files and a
different seed gives different files (`generate` checks both).  Nothing
is read from outside the checkout: trades and documents are synthesized
from the statistics of the sf0.1 `events` and `documents` tables below,
measured once with perfbench/shape.py (the numbers and how they were
taken are in perfbench/README.md, "Input shape"), then expanded and
perturbed as each workload needs.

Every injected anomaly is counted in the returned manifest, which the
correctness gate compares the program's outputs against.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

# ---- measured on sf0.1 (perfbench/shape.py) ----
# events, read as trades (symbol = event_type, price = value,
# volume = props.k): 100 000 rows over 720 hours, five event types with
# 19.8-20.3 % of the rows each, so one symbol trades every 129.6 s on
# average; gaps are exponential (quartiles 7.4 / 17.8 / 35.8 s overall).
BASE_SYMBOLS = ("click", "error", "purchase", "signup", "view")
SF_SYMBOL_GAP_MS = 129_598
# value is exponential with mean 49.87 (quartiles 14.6 / 34.8 / 68.9,
# max 560); props.k is uniform on 0..99.
SF_PRICE_MEAN = 49.87
SF_VOLUME_MAX = 99
# 1.04 % of the rows are invalid trades (k = 0 or value = 0); there
# are no duplicate (symbol, ts) keys and no late rows.
SF_INVALID_SHARE = 0.0104
# documents: 5 000 rows, token counts uniform on 10..100 (quartiles
# 32 / 54 / 76), 30 words of equal frequency (3.3 % each); 250 documents
# (5 %) are another document's text with the token "dup" appended, and
# 8 (0.16 %) are exact copies.
SF_TOKENS = (10, 100)
SF_NEAR_DUP_SHARE = 0.05
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_TOKEN = "dup"

# The feed is centred on midnight between 2024-01-01 and 2024-01-02 (the
# first two days of the events table), so day-over-day compares two days.
MIDNIGHT_MS = 1_704_153_600_000

# Late rows are stamped this far before the feed's first trade, i.e.
# far beyond the jobs' 10-minute watermark: whether a stateful operator
# drops them depends only on whether it has already seen a batch, never
# on where a batch boundary falls.
LATE_OFFSET_MS = 2 * 3600 * 1000

INVALID_KINDS = ("negative_price", "price_too_high", "volume_zero", "negative_volume")

# Injected into the trade feed, none of which sf0.1 has: shares of the
# on-time trades that get an exact duplicate and that get a late twin.
DUP_SHARE = 0.02
LATE_SHARE = 0.005

# Delta documents take ids from here on, above every first-cut id.
DELTA_ID_BASE = 10_000_000

# A planted row's source has at least this many tokens: a near
# duplicate's 3-shingle Jaccard with its source is then >= 58/59, and the
# ingest job's 4x4-band minhash LSH misses such a pair with probability
# < 1e-4.
NEAR_DUP_MIN_TOKENS = 60


def _dumps(row: dict) -> str:
    return json.dumps(row, sort_keys=True, separators=(",", ":"))


def _invalid(row: dict, kind: str) -> dict:
    bad = dict(row)
    if kind == "negative_price":
        bad["p"] = -abs(bad["p"])
    elif kind == "price_too_high":
        bad["p"] = 2_000_000.0
    elif kind == "volume_zero":
        bad["v"] = 0
    else:
        bad["v"] = -5
    return bad


def trade_feed(
    seed: int,
    n_trades: int,
    n_symbols: int,
    n_files: int,
) -> tuple[list[list[dict]], dict]:
    """A backfill trade feed: `n_files` event-time-ordered lists of wire
    records ({"s","p","v","t"}) plus a ground-truth manifest.

    Symbols are the five base types expanded to `n_symbols` keys by a
    seeded remap, each key trading at the rate of one sf0.1 symbol
    (exponential gaps), with sf0.1's price and volume distributions.
    On-time trades have globally unique, strictly increasing timestamps
    (so every (symbol, timestamp) dedup key is unique and stream/batch
    tie-breaks never differ).  Injected rows, none of which sf0.1 has
    except invalid ones (at its measured share):

    - exact duplicates of on-time trades, placed right after the original;
    - invalid rows (one of INVALID_KINDS in turn, so every validation
      rule fires; never a null field), each at a timestamp of its own
      between two on-time trades;
    - late rows, valid but stamped LATE_OFFSET_MS before the first trade,
      only in files after the first, on symbols with at least two on-time
      trades (so they can never be a symbol's latest or previous trade).
    """
    rng = random.Random(f"trades:{seed}")
    remap = list(range(n_symbols))
    rng.shuffle(remap)
    symbols = [f"{BASE_SYMBOLS[k % len(BASE_SYMBOLS)]}.{remap[k]:05d}" for k in range(n_symbols)]

    def price() -> float:
        return max(0.01, round(rng.expovariate(1 / SF_PRICE_MEAN), 2))

    gap_ms = SF_SYMBOL_GAP_MS / n_symbols
    t0 = MIDNIGHT_MS - int(n_trades * gap_ms / 2)
    t = t0
    on_time: list[dict] = []
    for _ in range(n_trades):
        t += 2 * max(1, round(rng.expovariate(1 / gap_ms) / 2))  # even: odd slots host invalid rows
        s = symbols[rng.randrange(n_symbols)]
        on_time.append({"s": s, "p": price(), "v": rng.randint(1, SF_VOLUME_MAX), "t": t})

    seq: list[dict] = []
    n_dup = n_inv = 0
    for row in on_time:
        seq.append(row)
        if rng.random() < DUP_SHARE:
            seq.append(dict(row))
            n_dup += 1
        if rng.random() < SF_INVALID_SHARE:
            kind = INVALID_KINDS[n_inv % len(INVALID_KINDS)]
            bad = _invalid({**row, "s": symbols[rng.randrange(n_symbols)]}, kind)
            bad["t"] = row["t"] + 1
            seq.append(bad)
            n_inv += 1

    per = -(-len(seq) // n_files)
    files = [seq[i * per:(i + 1) * per] for i in range(n_files)]

    counts: dict[str, int] = {}
    for row in on_time:
        counts[row["s"]] = counts.get(row["s"], 0) + 1
    late_symbols = sorted(s for s, c in counts.items() if c >= 2)
    n_late = int(round(LATE_SHARE * n_trades)) if n_files > 1 else 0
    for i in range(n_late):
        row = {
            "s": late_symbols[rng.randrange(len(late_symbols))],
            "p": price(),
            "v": rng.randint(1, SF_VOLUME_MAX),
            "t": t0 - LATE_OFFSET_MS - 1000 * i,
        }
        f = files[1 + rng.randrange(n_files - 1)]
        f.insert(rng.randrange(len(f) + 1), row)

    manifest = {
        "on_time": len(on_time),
        "duplicates": n_dup,
        "invalid": n_inv,
        "late": n_late,
        "rows": len(seq) + n_late,
        "files": n_files,
        "symbols": n_symbols,
        "late_before_ms": t0 - LATE_OFFSET_MS + 1,
    }
    return files, manifest


def _text(rng: random.Random) -> str:
    return " ".join(VOCAB[rng.randrange(len(VOCAB))] for _ in range(rng.randint(*SF_TOKENS)))


def doc_feed(
    seed: int,
    n_docs: int,
    exact_copies: int,
    delta_docs: int,
    bench_docs: int,
) -> tuple[list[dict], list[dict], dict]:
    """A document feed of `n_docs` {doc_id, text} rows with monotone ids
    in sf0.1's shape, plus a delta batch of `delta_docs` rows (none when
    0).  Planted rows, each from a source of its own that is a plain
    document outside the first `bench_docs` (the decontamination
    benchmark set) with at least NEAR_DUP_MIN_TOKENS tokens, and placed
    after it:

    - exact copies (same text, new id) — the ingest dedup must drop them;
    - near duplicates at sf0.1's share, made the way sf0.1's are (the
      source's text plus the token "dup") — the near-dup index must drop
      them.

    A source's distinct token set is also unique among the plain
    documents, so the ingest job's exact dedup (a fingerprint of that
    set) never drops a source and every planted row is dropped for
    being planted.

    The delta batch holds fresh documents plus one exact copy and one
    near duplicate of ingested documents.  Returns (docs, delta,
    manifest); the manifest lists the planted ids, which must not reach
    the corpus."""
    rng = random.Random(f"docs:{seed}")
    near_dups = round(SF_NEAR_DUP_SHARE * n_docs)
    n_plain = n_docs - exact_copies - near_dups
    docs = [_text(rng) for _ in range(n_plain)]
    token_sets: dict[frozenset, int] = {}
    for d in docs:
        key = frozenset(d.split())
        token_sets[key] = token_sets.get(key, 0) + 1
    sources = [
        i for i in range(bench_docs, n_plain)
        if len(docs[i].split()) >= NEAR_DUP_MIN_TOKENS and token_sets[frozenset(docs[i].split())] == 1
    ]
    in_delta = 2 if delta_docs else 0
    picked = rng.sample(sources, exact_copies + near_dups + in_delta)
    planted = [(src, "copy", docs[src]) for src in picked[:exact_copies]]
    planted += [(src, "near", f"{docs[src]} {NEAR_DUP_TOKEN}") for src in picked[exact_copies:exact_copies + near_dups]]
    order: list[tuple[str, str]] = [("plain", d) for d in docs]
    for src, kind, text in sorted(planted, key=lambda p: p[0], reverse=True):
        pos = min(len(order), src + 1 + rng.randrange(n_plain - src))
        order.insert(pos, (kind, text))
    rows = [{"doc_id": i, "text": text} for i, (_, text) in enumerate(order)]
    ids = {kind: [i for i, (k, _) in enumerate(order) if k == kind] for kind in ("copy", "near")}

    delta = []
    if delta_docs:
        delta = [{"doc_id": DELTA_ID_BASE + i, "text": _text(rng)} for i in range(delta_docs - 2)]
        copy_src, near_src = picked[-2:]
        ids["copy"].append(DELTA_ID_BASE + delta_docs - 2)
        delta.append({"doc_id": ids["copy"][-1], "text": docs[copy_src]})
        ids["near"].append(DELTA_ID_BASE + delta_docs - 1)
        delta.append({"doc_id": ids["near"][-1], "text": f"{docs[near_src]} {NEAR_DUP_TOKEN}"})

    manifest = {
        "docs": len(rows) + len(delta),
        "copy_ids": ids["copy"],
        "near_ids": ids["near"],
        "bench_docs": bench_docs,
        "delta_docs": delta_docs,
    }
    return rows, delta, manifest


def write_jsonl(path: str, rows: list[dict], mtime: float) -> None:
    """Write one JSON-lines file atomically (temp name, then rename) with
    a fixed modification time, so a file stream source lists files in
    generation order and never sees a half-written file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as fh:
        fh.write("".join(_dumps(r) + "\n" for r in rows))
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def digest(parts: list[list[dict]]) -> str:
    h = hashlib.sha256()
    for rows in parts:
        for r in rows:
            h.update(_dumps(r).encode())
            h.update(b"\n")
        h.update(b"\x00")
    return h.hexdigest()


def generate(make, parts, seed: int):
    """Call `make` for seed, seed again and seed + 1.  Returns the first
    result, the three wall times, and whether the self-check holds: the
    same seed gave byte-identical inputs and the next seed different
    ones.  `parts(result)` lists a result's files as row lists."""
    results, times = [], []
    for s in (seed, seed, seed + 1):
        t = time.perf_counter()
        results.append(make(s))
        times.append(time.perf_counter() - t)
    d = [digest(parts(res)) for res in results]
    return results[0], times, d[0] == d[1] != d[2]
