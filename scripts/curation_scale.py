"""Composed curation pipeline scale probe (round 9): the e2e flow
(`CuratedCorpusPipeline`: repair → decontam excise+verify → dedup vs
index → span index → finalize) driven over a corpus with EVERY
pathology planted at known rates, measuring per-batch flatness of the
streaming phase, finalize cost as the corpus grows, and the invariant
set (clean / dup-free / byte-preserving) at full scale.

    python scripts/curation_scale.py [base_sf_dir] [out_json] \
        [n_replicas] [n_batches] [legs] [curated_max_gens] [monotone]

`monotone` (0/1, default 0) opts into the monotone-doc_id ingest
contract — the generator's ids are already strictly increasing in drain
order — so every finalize records the settled span set and the postings
table's own compaction (compact_every=9 here) drops those rows inside
the rewrite it performs anyway, bounding the span-postings inverted
index to the not-yet-settled fps.  Each leg records `postings_rows`, so
a monotone-vs-default pair of runs shows the bounded-index claim with
the same view ≡ recompute certification.

Round-11 (VERDICT task 3): one finalize per leg, so legs = cuts; with
legs >= 12 and curated_max_gens lowered (e.g. 5) at least two
GENERATION FOLDS fire mid-run, and on every leg where a fold fired the
merged curated_view is certified row-identical to a full
finalize_frame recompute (on top of the end-of-run certification the
probe always does).

Deterministic generator: N_REPLICAS copies of the documents table;
replica 0 is the original text; for replica >= 1,
pmod(xxhash64(doc_id), 20) selects the pathology:
  0     -> EXACT dup of the replica-0 doc (index anti-join drops it)
  1     -> NEAR dup (first word dropped; LSH index drops it)
  2     -> CONTAMINATED: salted-unique text with the benchmark
           question spliced mid-page (ingest excise+verify removes it)
  3     -> INTERNAL repeats: salted-unique text with a phrase repeated
           (keep-first repair fires)
  else  -> salted-unique; every 5th additionally carries the fixed
           boilerplate block (cross-doc span excision work at finalize)
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
from real_time_financial_market_data_pipeline_spark.streaming.curation import (
    CuratedCorpusPipeline,
    curated_view,
)
from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
    build_benchmark_span_index,
    corpus_view,
)
from real_time_financial_market_data_pipeline_spark.tables import load_table

N_REPLICAS = 6
ID_STRIDE = 10_000_000
N_BATCHES = 30
LEGS = 3
QUESTION = (
    "which ancient city stood at the mouth of the river crossing "
    "seven hills beneath the old citadel walls"
)
BOILER = (
    "this material is provided as is without warranty of any kind "
    "express or implied"
)
# round-12: the boilerplate-HEAVY variant (argv[9]) carries a longer
# license-style block — more qualifying windows per carrier, the
# heavy-tailed posting lists the postings prune targets.  Distinct
# sentences (no internal repeats) so keep-first repair never fires on it.
BOILER_LONG = (
    BOILER
    + " redistribution and use in source and binary forms with or without"
    " modification are permitted provided that the above copyright notice"
    " and this permission notice appear in all copies of the software"
)
BOILER_EVERY = 5  # 1-in-N docs carry the block (argv[8])
REPEAT = "chorus alpha beta gamma delta epsilon refrain"


def make_corpus(spark, base_dir: str, boiler_text: str = None):
    boiler_text = BOILER if boiler_text is None else boiler_text
    docs = load_table(spark, base_dir, "documents").select("doc_id", "text")
    n_base = docs.count()
    parts = []
    for i in range(N_REPLICAS):
        sel = F.pmod(F.xxhash64(F.col("doc_id") + F.lit(i * ID_STRIDE)), F.lit(20))
        uniq = F.regexp_replace(
            F.col("text"),
            F.lit(r"(\S+)"),
            F.concat(
                F.lit(f"u{i}x"),
                F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
                F.lit("$1"),
            ),
        )
        boiler_carrier = (
            F.pmod(F.xxhash64(F.col("doc_id") + F.lit(3 + i)), F.lit(BOILER_EVERY))
            == 0
        )
        uniq_maybe_boiler = F.when(
            boiler_carrier, F.concat_ws(" ", uniq, F.lit(boiler_text))
        ).otherwise(uniq)
        if i == 0:
            text = uniq_maybe_boiler  # replica 0: the originals (salted u0)
        else:
            zero_text = F.regexp_replace(
                F.col("text"),
                F.lit(r"(\S+)"),
                F.concat(
                    F.lit("u0x"),
                    F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
                    F.lit("$1"),
                ),
            )
            zero_boiler = (
                F.pmod(F.xxhash64(F.col("doc_id") + F.lit(3)), F.lit(BOILER_EVERY))
                == 0
            )
            zero_full = F.when(
                zero_boiler, F.concat_ws(" ", zero_text, F.lit(boiler_text))
            ).otherwise(zero_text)
            text = (
                F.when(sel == 0, zero_full)  # exact dup of replica 0
                .when(sel == 1, F.regexp_replace(zero_full, r"^\S+\s*", ""))  # near dup
                .when(  # contaminated: question spliced mid-page
                    sel == 2,
                    F.concat_ws(
                        " ",
                        uniq,
                        F.lit(QUESTION),
                        # differently-salted tail so the page's two
                        # halves don't look internally repeated
                        F.regexp_replace(
                            F.col("text"),
                            F.lit(r"(\S+)"),
                            F.concat(
                                F.lit(f"v{i}x"),
                                F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
                                F.lit("$1"),
                            ),
                        ),
                    ),
                )
                .when(  # internal repeats: phrase twice
                    sel == 3,
                    F.concat_ws(" ", F.lit(REPEAT), F.lit(REPEAT), uniq),
                )
                .otherwise(uniq_maybe_boiler)
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
    n = n_base * N_REPLICAS
    per = (n + N_BATCHES - 1) // N_BATCHES
    rank = (F.col("doc_id") / ID_STRIDE).cast("long") * n_base + (
        F.col("doc_id") % ID_STRIDE
    )
    for b in batches:
        chunk = corpus.filter((rank >= b * per) & (rank < (b + 1) * per))
        chunk.coalesce(1).write.mode("append").json(feed)
        time.sleep(0.05)


def main() -> None:
    global N_REPLICAS, N_BATCHES, LEGS
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else None
    if len(sys.argv) > 3:
        N_REPLICAS = int(sys.argv[3])
    if len(sys.argv) > 4:
        N_BATCHES = int(sys.argv[4])
    if len(sys.argv) > 5:
        LEGS = int(sys.argv[5])
    curated_max_gens = int(sys.argv[6]) if len(sys.argv) > 6 else 8
    monotone = bool(int(sys.argv[7])) if len(sys.argv) > 7 else False
    global BOILER_EVERY
    if len(sys.argv) > 8:
        BOILER_EVERY = int(sys.argv[8])
    long_boiler = bool(int(sys.argv[9])) if len(sys.argv) > 9 else False
    spark = get_spark(app_name="curation_scale")
    work = tempfile.mkdtemp(prefix="curation_scale_")
    feed, out = os.path.join(work, "feed"), os.path.join(work, "out")
    bench_dir = os.path.join(work, "bench_fp")
    try:
        bench_df = spark.createDataFrame(
            [(0, QUESTION + " choose the best answer")], "doc_id long, text string"
        )
        build_benchmark_span_index(bench_df, bench_dir, k=13)
        corpus, n_base = make_corpus(
            spark, base, BOILER_LONG if long_boiler else BOILER
        )
        n_in = n_base * N_REPLICAS
        print(json.dumps({"input_docs": n_in, "batches": N_BATCHES}), flush=True)

        pipe = CuratedCorpusPipeline(
            out_dir=out,
            benchmark_fp_dir=bench_dir,
            decontam_k=13,
            internal_k=3,
            span_k=8,
            span_min_docs=5,
            compact_every=9,
            curated_max_gens=curated_max_gens,
            monotone_ids=monotone,
        )
        durs: list[float] = []
        legs: list[dict] = []
        per_leg = N_BATCHES // LEGS
        t_all = time.perf_counter()
        for leg in range(LEGS):
            write_batch_files(
                corpus, n_base, feed, range(leg * per_leg, (leg + 1) * per_leg)
            )
            q = pipe.start(
                read_doc_stream(spark, feed, max_files_per_trigger=1)
                .select("doc_id", "text")
            )
            assert q.awaitTermination(1800), "leg did not drain"
            leg_durs = [
                p["batchDuration"] / 1000.0
                for p in q.recentProgress
                if p.get("numInputRows", 0) > 0
            ]
            durs.extend(leg_durs)
            gens_before = len(pipe._committed_gens())
            t0 = time.perf_counter()
            pipe.finalize(spark)
            fin_s = round(time.perf_counter() - t0, 3)
            cv = corpus_view(spark, out)
            # the generation this cut committed: its docs list IS the
            # redo set — the delta the cut actually re-curated
            gens = pipe._committed_gens()
            redo = (
                spark.read.parquet(
                    os.path.join(out, "finalize_state", "docs", f"gen={gens[-1]}")
                ).count()
                if gens
                else None
            )
            # a FOLD collapses the committed list to 1; certify the
            # post-fold view against a full recompute on the spot
            fold_fired = gens_before > 1 and len(gens) == 1
            fold_diff = None
            if fold_fired:
                cur_now = curated_view(spark, out)
                full_now = pipe.finalize_frame(spark).localCheckpoint(eager=True)
                cols = cur_now.columns
                fold_diff = (
                    cur_now.select(cols).exceptAll(full_now.select(cols)).count()
                    + full_now.select(cols).exceptAll(cur_now.select(cols)).count()
                )
            legs.append(
                {
                    "leg": leg,
                    "batches": len(leg_durs),
                    "corpus_docs": cv.count(),
                    "decontam_excised_docs": cv.filter(
                        F.col("decontam_excised_tokens") > 0
                    ).count(),
                    "repaired_docs": cv.filter(
                        F.col("internal_excised_tokens") > 0
                    ).count(),
                    "finalize_s": fin_s,
                    "finalize_mode": "full" if leg == 0 else "delta",
                    "finalize_redo_docs": redo,
                    "committed_gens": len(gens),
                    "fold_fired": fold_fired,
                    "post_fold_diff_rows": fold_diff,
                    "curated_chunks": curated_view(spark, out).count(),
                    "postings_rows": spark.read.parquet(
                        os.path.join(out, "index_spanpostings")
                    ).count(),
                }
            )
            print(json.dumps(legs[-1]), flush=True)
            assert fold_diff in (None, 0), "post-fold view != full recompute"
        total = round(time.perf_counter() - t_all, 2)

        # invariants at full scale
        from real_time_financial_market_data_pipeline_spark.operators.dedup import span_contaminated_ids

        cur = curated_view(spark, out)
        chunk_docs = cur.select(
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("doc_id"), "text"
        )
        n_contam = span_contaminated_ids(chunk_docs, bench_df, k=13).count()
        cv = corpus_view(spark, out)
        n_dup_fp = (
            cv.groupBy("fingerprint").count().filter(F.col("count") > 1).count()
        )
        # certification + cost anchor for the delta cuts: the merged
        # generational view must EQUAL a full recompute over the final
        # corpus/span state, and timing that full pass prices what every
        # cut would have cost without the delta machinery
        t0 = time.perf_counter()
        full = pipe.finalize_frame(spark).localCheckpoint(eager=True)
        full_recompute_s = round(time.perf_counter() - t0, 3)
        cmp_cols = [c for c in cur.columns]
        n_only_view = cur.select(cmp_cols).exceptAll(full.select(cmp_cols)).count()
        n_only_full = full.select(cmp_cols).exceptAll(cur.select(cmp_cols)).count()
        srt = sorted(durs)
        summary = {
            "total_drain_s": total,
            "n_batches": len(durs),
            "median_batch_s": round(srt[len(srt) // 2], 3),
            "first5_mean_s": round(sum(durs[:5]) / 5, 3),
            "last5_mean_s": round(sum(durs[-5:]) / 5, 3),
            "last5_over_first5": round(
                (sum(durs[-5:]) / 5) / (sum(durs[:5]) / 5), 3
            ),
            "per_batch_s": [round(d, 3) for d in durs],
            "legs": legs,
            "final_corpus_docs": legs[-1]["corpus_docs"],
            "input_docs": n_in,
            "invariant_clean_contaminated_chunks": n_contam,
            "invariant_duplicate_fingerprints": n_dup_fp,
            "full_recompute_s": full_recompute_s,
            "monotone_ids": monotone,
            "final_postings_rows": legs[-1]["postings_rows"],
            "view_vs_full_recompute_diff_rows": n_only_view + n_only_full,
        }
        print(json.dumps(summary), flush=True)
        assert n_contam == 0, "curated output contaminated"
        assert n_dup_fp == 0, "corpus has duplicate fingerprints"
        assert n_only_view == n_only_full == 0, "delta view != full recompute"
        if out_json:
            with open(out_json, "w") as f:
                json.dump(summary, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
