"""Incremental-dedup flat-cost evidence at a 10x corpus (round-6
VERDICT task 2): the round-5 claim (per-batch cost stays flat as the
on-disk corpus/index grows) rested on 10 small batches over the sf0.1
documents table.  This probe rebuilds the evidence at 10x the corpus
over ~30 micro-batches with periodic stream-stopped compaction — the
operational pattern of a long-lived ingest.

    python scripts/incr_dedup_scale.py [base_sf_dir] [out_json]

Corpus generator (deterministic, seeded from the driver's documents
table — no randomness, replays identically):
  - 10 replicas of the 5k-doc table, doc_id = orig + replica * 10_000;
  - replica 0 is the original text;
  - per (replica >= 1, doc), pmod(xxhash64(doc_id), 20) selects:
      0  -> EXACT dup of the replica-0 doc (cross-corpus fingerprint
            anti-join must drop it),
      1  -> NEAR dup (first word dropped: high shingle-Jaccard with the
            replica-0 doc; the LSH index must drop it),
      else -> genuinely unique (every token salted with the replica id,
            so every shingle differs — the index GROWS with these).
  ~90% of replica docs are unique, so the index grows ~9x over the run
  while ~10% of every batch exercises the dedup joins against it.

The stream drains in 3 legs of ~10 availableNow micro-batches each,
with IncrementalDedupJob.compact() between legs (stream stopped — the
compact contract).  Per-batch durations come from recentProgress; the
index size is sampled after every leg.  The claim holds if the last
batches cost ~the same as the first despite the index being ~10x
larger (<= 1.2x first -> last).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from pyspark.sql import functions as F

from real_time_financial_market_data_pipeline_spark.session import get_spark
from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
    IncrementalDedupJob,
    corpus_view,
)
from real_time_financial_market_data_pipeline_spark.tables import load_table

N_REPLICAS = 10
ID_STRIDE = 10_000
N_BATCHES = 30
LEGS = 3


def make_corpus(spark, base_dir: str):
    docs = load_table(spark, base_dir, "documents").select("doc_id", "text")
    n_base = docs.count()
    parts = []
    for i in range(N_REPLICAS):
        sel = F.pmod(F.xxhash64(F.col("doc_id") + F.lit(i * ID_STRIDE)), F.lit(20))
        if i == 0:
            text = F.col("text")
        else:
            text = (
                F.when(sel == 0, F.col("text"))  # planted exact dup
                .when(  # planted near dup: drop the first word
                    sel == 1,
                    F.regexp_replace(F.col("text"), r"^\S+\s*", ""),
                )
                .otherwise(  # unique: salt every token with a per-doc tag
                    # (replica id + doc_id mod 97) so base-corpus near-dup
                    # CLUSTERS also break apart across replicas — the
                    # index must grow ~9x over the run, not ~3x
                    F.regexp_replace(
                        F.col("text"),
                        F.lit(r"(\S+)"),
                        F.concat(
                            F.lit(f"q{i}x"),
                            F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
                            F.lit("$1"),
                        ),
                    )
                )
            )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * ID_STRIDE)).alias("doc_id"),
                text.alias("text"),
            )
        )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    return corpus.persist(), n_base


def write_batch_files(corpus, n_base: int, feed: str, batches: range) -> None:
    """Write one JSON file per micro-batch, ordered (replica, doc_id) so
    replicas arrive AFTER their originals — the dedup direction under
    test.  Files appear per leg: availableNow drains only what exists."""
    n = n_base * N_REPLICAS
    per = (n + N_BATCHES - 1) // N_BATCHES
    rank = (F.col("doc_id") / ID_STRIDE).cast("long") * n_base + (
        F.col("doc_id") % ID_STRIDE
    )
    for b in batches:
        chunk = corpus.filter((rank >= b * per) & (rank < (b + 1) * per))
        chunk.coalesce(1).write.mode("append").json(feed)
        time.sleep(0.05)  # distinct mod-times => deterministic file order


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def listing_probe(base: str, out_json: str | None) -> None:
    """Round-9 VERDICT task 1: per-batch drain cost vs accumulated
    UNCOMPACTED batch_id dirs.  `_read_prior` unions every prior batch
    dir, so an uncompacted B-batch drain pays O(B^2) total file-listing
    work; `compact_every` bounds it.  Same feed drained twice:

        python scripts/incr_dedup_scale.py --listing-probe [base] [out]

      run A: compact_every=None (dirs grow 1 per batch)
      run B: compact_every=12   (inline fold every 12 batches)

    Evidence = last5/first5 per-batch mean + final dir counts per run.
    Near-dup is ON (the production path); the batches are ~100 docs
    each so per-batch compute is small and listing cost is visible."""
    import re

    spark = get_spark(app_name="incr_dedup_listing_probe")
    n_batches = 48
    work = tempfile.mkdtemp(prefix="incr_listing_")
    try:
        docs = load_table(spark, base, "documents").select("doc_id", "text")
        n_docs = docs.count()
        per = max(1, n_docs // n_batches)
        feed = os.path.join(work, "feed")
        for b in range(n_batches):
            chunk = docs.filter(
                (F.col("doc_id") >= b * per)
                & (F.col("doc_id") < ((b + 1) * per if b < n_batches - 1 else n_docs))
            )
            chunk.coalesce(1).write.mode("append").json(feed)
            time.sleep(0.05)

        def drain(tag: str, compact_every: int | None) -> dict:
            out = os.path.join(work, f"out_{tag}")
            job = IncrementalDedupJob(out_dir=out, compact_every=compact_every)
            t0 = time.perf_counter()
            q = job.start(
                read_doc_stream(spark, feed, max_files_per_trigger=1)
                .select("doc_id", "text")
            )
            assert q.awaitTermination(1800), f"{tag} did not drain"
            total = round(time.perf_counter() - t0, 2)
            durs = [
                p["batchDuration"] / 1000.0
                for p in q.recentProgress
                if p.get("numInputRows", 0) > 0
            ]
            dirs = {
                t: len(
                    [
                        d
                        for d in os.listdir(os.path.join(out, t))
                        if re.fullmatch(r"batch_id=\d+", d)
                    ]
                )
                for t in ("corpus", "index_bands")
            }
            res = {
                "tag": tag,
                "compact_every": compact_every,
                "total_drain_s": total,
                "n_batches_observed": len(durs),
                "first5_mean_s": round(sum(durs[:5]) / 5, 3),
                "last5_mean_s": round(sum(durs[-5:]) / 5, 3),
                "last5_over_first5": round(
                    (sum(durs[-5:]) / 5) / (sum(durs[:5]) / 5), 3
                ),
                "final_dirs": dirs,
                "corpus_docs": corpus_view(spark, out).count(),
                "per_batch_s": [round(d, 3) for d in durs],
            }
            print(json.dumps(res), flush=True)
            return res

        uncompacted = drain("uncompacted", None)
        cadenced = drain("cadence12", 12)
        summary = {
            "n_batches": n_batches,
            "uncompacted": uncompacted,
            "cadence12": cadenced,
            "docs_equal": uncompacted["corpus_docs"] == cadenced["corpus_docs"],
        }
        print(json.dumps({k: v for k, v in summary.items() if k != "uncompacted" and k != "cadence12"}), flush=True)
        if out_json:
            with open(out_json, "w") as f:
                json.dump(summary, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--listing-probe"]
    if "--listing-probe" in sys.argv[1:]:
        listing_probe(
            args[0] if args else "/root/testdata/sf0.1",
            args[1] if len(args) > 1 else None,
        )
        return
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark(app_name="incr_dedup_scale")
    work = tempfile.mkdtemp(prefix="incr_scale_")
    feed, out = os.path.join(work, "feed"), os.path.join(work, "out")
    try:
        corpus, n_base = make_corpus(spark, base)
        n_in = n_base * N_REPLICAS
        print(json.dumps({"input_docs": n_in, "batches": N_BATCHES}), flush=True)

        job = IncrementalDedupJob(out_dir=out)
        durs: list[float] = []
        legs: list[dict] = []
        per_leg = N_BATCHES // LEGS
        t_all = time.perf_counter()
        for leg in range(LEGS):
            # each leg's files appear, are drained availableNow
            # (maxFilesPerTrigger=1 => one micro-batch per file), then
            # the job compacts stream-stopped
            write_batch_files(
                corpus, n_base, feed, range(leg * per_leg, (leg + 1) * per_leg)
            )
            q = job.start(
                read_doc_stream(spark, feed, max_files_per_trigger=1)
                .select("doc_id", "text")
            )
            assert q.awaitTermination(900), "leg did not drain"
            leg_durs = [
                p["batchDuration"] / 1000.0
                for p in q.recentProgress
                if p.get("numInputRows", 0) > 0
            ]
            durs.extend(leg_durs)
            folded = job.compact(spark)
            legs.append(
                {
                    "leg": leg,
                    "batches": len(leg_durs),
                    "folded_dirs": folded,
                    "index_bands_mb": round(dir_bytes(os.path.join(out, "index_bands")) / 1e6, 2),
                    "corpus_mb": round(dir_bytes(os.path.join(out, "corpus")) / 1e6, 2),
                    "corpus_docs": corpus_view(spark, out).count(),
                }
            )
            print(json.dumps(legs[-1]), flush=True)
        total = round(time.perf_counter() - t_all, 2)

        srt = sorted(durs)
        summary = {
            "total_drain_s": total,
            "n_batches": len(durs),
            "first_batch_s": round(durs[0], 3),
            "median_batch_s": round(srt[len(srt) // 2], 3),
            "last_batch_s": round(durs[-1], 3),
            "max_batch_s": round(srt[-1], 3),
            "last_over_first": round(durs[-1] / durs[0], 3),
            # trend that ignores single-batch noise: mean of first 5 vs
            # mean of last 5 data-carrying batches
            "first5_mean_s": round(sum(durs[:5]) / 5, 3),
            "last5_mean_s": round(sum(durs[-5:]) / 5, 3),
            "last5_over_first5": round(
                (sum(durs[-5:]) / 5) / (sum(durs[:5]) / 5), 3
            ),
            "per_batch_s": [round(d, 3) for d in durs],
            "legs": legs,
            "final_corpus_docs": legs[-1]["corpus_docs"],
            "input_docs": n_in,
        }
        print(json.dumps(summary), flush=True)
        if out_json:
            with open(out_json, "w") as f:
                json.dump(summary, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
