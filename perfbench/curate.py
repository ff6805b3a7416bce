"""doc_curation — closed loop through the curated-corpus pipeline.

Setup writes a seeded document feed in sf0.1's shape (planted exact
copies and near duplicates) and builds the decontamination benchmark
index from its first documents, so decontamination does real work.
The timed cycle ingests the feed as BATCHES micro-batches through
`CuratedCorpusPipeline`, runs `finalize`, ingests one delta micro-batch,
runs the delta `finalize`, then reads the curated output.  This is where
`streaming.incremental`, `streaming.curation` and `operators.dedup`
run; the market workloads never touch them.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

import gen
import probes
import replay
from stats import another_cycle, percentile, refresh_time

from real_time_financial_market_data_pipeline_spark.functions.text import doc_fingerprint
from real_time_financial_market_data_pipeline_spark.operators.certify import (
    planted_duplicate_certificate,
    span_decontamination_certificate,
)
from real_time_financial_market_data_pipeline_spark.operators.dedup import (
    minhash_near_dup_pairs,
    span_contaminated_ids,
)
from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
from real_time_financial_market_data_pipeline_spark.streaming.curation import (
    CuratedCorpusPipeline,
    curated_view,
)
from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
    build_benchmark_span_index,
    corpus_view,
)

BENCH_DOCS = 5  # documents 0..4 form the decontamination benchmark set
SHAPE = dict(n_docs=160, exact_copies=6, delta_docs=30, bench_docs=BENCH_DOCS)
WARM = dict(n_docs=30, exact_copies=1, delta_docs=0, bench_docs=0)
BATCHES = 1  # micro-batches of the first cut
ROUNDS = 2  # curated-read rounds after the delta finalize; refresh_ms takes each read's fastest
DRAIN_TIMEOUT_S = 60  # a drain takes 5-20 s


def _drain(r, pipe, feed: str) -> object:
    with r.tracer.span("job.start"):
        q = pipe.start(read_doc_stream(r.spark, feed, max_files_per_trigger=1))
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError("curation drain did not finish")
    return q


def reads(spark, out: str, doc_id: int) -> dict:
    return {
        "curated_splits": lambda: curated_view(spark, out).groupBy("split").count(),
        "curated_doc": lambda: curated_view(spark, out).filter(F.col("doc_id") == doc_id),
        "corpus_size": lambda: corpus_view(spark, out).agg(F.count(F.lit(1))),
    }


def cycle(r, tag: str, docs: list[dict], delta: list[dict], bench_dir: str, rounds: int) -> dict:
    """Drain `docs` as BATCHES micro-batches, finalize, then (if there is
    a `delta`) drain the delta batch and finalize again, then `rounds`
    rounds of reads."""
    feed, out = os.path.join(r.work, f"feed-{tag}"), os.path.join(r.work, f"out-{tag}")
    os.makedirs(feed)
    per = -(-len(docs) // BATCHES)
    for i in range(BATCHES):
        gen.write_jsonl(os.path.join(feed, f"part-{i:05d}.json"), docs[i * per:(i + 1) * per], 1_000_000_000 + i)
    pipe = CuratedCorpusPipeline(out_dir=out, benchmark_fp_dir=bench_dir, compact_every=4)
    t0 = time.perf_counter()
    queries = [_drain(r, pipe, feed)]
    t1 = time.perf_counter()
    with r.tracer.span("finalize"):
        pipe.finalize(r.spark)
    t2 = t3 = t4 = time.perf_counter()
    if delta:
        gen.write_jsonl(os.path.join(feed, f"part-{BATCHES:05d}.json"), delta, 1_000_000_000 + BATCHES)
        queries.append(_drain(r, pipe, feed))
        t3 = time.perf_counter()
        with r.tracer.span("delta_finalize"):
            pipe.finalize(r.spark)
        t4 = time.perf_counter()
    r.count(True, "curation cycle")
    samples = []
    for k in range(rounds):
        for name, build in reads(r.spark, out, docs[-1 - k]["doc_id"]).items():
            _, secs = r.panel(name, build, f"read:{tag}:{k}:{name}")
            samples.append((name, secs))
    return {
        "out": out,
        "wall_s": t4 - t0,
        "visible_s": [t2 - t0, t4 - t2],
        "finalize_s": t2 - t1,
        "delta_finalize_s": t4 - t3,
        "reads": samples,
        "queries": queries,
        "docs": len(docs) + len(delta),
    }


def run(r) -> probes.Outcome:
    spark = r.spark
    out = probes.Outcome()
    (docs, delta, manifest), out.gen_s, ok = gen.generate(
        lambda s: gen.doc_feed(s, **SHAPE), lambda res: [res[0], res[1]], r.seed
    )
    r.count(ok, "generator self-check")

    t = time.perf_counter()
    bench_df = spark.createDataFrame(docs[:BENCH_DOCS], "doc_id long, text string")
    bench_dir = os.path.join(r.work, "bench_fp")
    build_benchmark_span_index(bench_df, bench_dir, k=13)
    # the warm-up skips the delta half: the delta drain runs the same
    # code as the first drain, and a full warm cycle would add ~10 s
    w_docs, w_delta, _ = gen.doc_feed(r.seed + 1_000_003, **WARM)
    with r.tracer.span("warm_up"):
        cycle(r, "warm", w_docs, w_delta, bench_dir, rounds=1)
    out.warm_s = time.perf_counter() - t

    clock = probes.Meter()
    cycles = []
    while another_cycle(time.time() - clock.t0, [c["cycle_s"] for c in cycles], r.seconds):
        t = time.perf_counter()
        with r.tracer.span("cycle"):
            cycles.append(cycle(r, f"c{len(cycles)}", docs, delta, bench_dir, ROUNDS))
        cycles[-1]["cycle_s"] = time.perf_counter() - t
    cpu_s = clock.stop(out) / len(cycles)
    peak = clock.peak_rss_mb

    with r.tracer.span("verify"):
        verify(r, cycles[-1]["out"], docs, delta, bench_df, manifest)

    rates = [c["docs"] / c["wall_s"] for c in cycles]
    visible = [v for c in cycles for v in c["visible_s"]]
    reads = [x for c in cycles for x in c["reads"]]
    out.end_to_end = {
        "ingest_per_s": (percentile(rates, 50), "1/s"),
        "visible_p50_s": (percentile(visible, 50), "s"),
        "cpu_s": (cpu_s, "s"),
        "peak_rss_mb": (peak, "MB"),
    }
    out.lines = [
        ("docs_per_s", percentile(rates, 50), "docs/s", len(rates)),
        ("visible_p50_s", percentile(visible, 50), "s", len(visible)),
        ("query_p50_ms", 1000 * percentile([s for _, s in reads], 50), "ms", len(reads)),
        ("refresh_ms", 1000 * refresh_time(reads), "ms", len(reads)),
        ("cpu_s", cpu_s, "s", len(cycles)),
        ("peak_rss_mb", peak, "MB", 1),
    ]
    if r.traced:
        out.layers = layers(r, cycles, out.window)
    return out


def expected_corpus(batches: list[list[int]], fp: dict[int, str], near_src: dict[int, int]) -> set[int]:
    """The doc ids the ingest job must keep, batch by batch: within a
    batch the lowest id of each content fingerprint, unless a kept
    document already has that fingerprint; then a planted near duplicate
    is dropped when its source was kept.  Fingerprints are the package's
    `doc_fingerprint` (a hash of the document's distinct token SET, so
    two long documents over sf0.1's 30-word vocabulary that use every
    word count as copies).  No two unplanted documents are near
    duplicates: their 3-shingle Jaccard is about 0.002, far below the
    job's 0.5 threshold."""
    kept: set[int] = set()
    kept_fps: set[str] = set()
    for ids in batches:
        first: dict[str, int] = {}
        for i in sorted(ids):
            first.setdefault(fp[i], i)
        for i in sorted(first.values()):
            if fp[i] not in kept_fps and near_src.get(i) not in kept:
                kept.add(i)
                kept_fps.add(fp[i])
    return kept


def verify(r, out: str, docs: list[dict], delta: list[dict], bench_df, manifest: dict) -> None:
    """The correctness gate, on what the pipeline wrote: the corpus is
    exactly expected_corpus() over every ingested document; the curated
    documents are corpus documents and no benchmark window survives in
    their text.  Then the two certificates of the operators the pipeline
    is built from."""
    spark = r.spark
    corpus_ids = {row.doc_id for row in corpus_view(spark, out).select("doc_id").collect()}
    ingested = docs + delta
    fp = {
        row.doc_id: row.fp
        for row in spark.createDataFrame(ingested, "doc_id long, text string")
        .select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
        .collect()
    }
    # decontamination excises a benchmark document of 13 tokens or more
    # to an empty text, so those share one fingerprint
    for d in docs[:manifest["bench_docs"]]:
        if len(d["text"].split()) >= 13:
            fp[d["doc_id"]] = ""
    text = {d["doc_id"]: d["text"] for d in ingested}
    first_with = {}
    for d in ingested:
        first_with.setdefault(d["text"], d["doc_id"])
    near_src = {i: first_with[text[i].rsplit(" ", 1)[0]] for i in manifest["near_ids"]}
    per = -(-len(docs) // BATCHES)
    batches = [[d["doc_id"] for d in docs[i * per:(i + 1) * per]] for i in range(BATCHES)]
    want = expected_corpus(batches + [[d["doc_id"] for d in delta]], fp, near_src)
    r.check("corpus = expected dedup of the ingested documents", len(corpus_ids ^ want))
    curated = curated_view(spark, out).select("doc_id", "text")
    curated_ids = {row.doc_id for row in curated.select("doc_id").distinct().collect()}
    r.check("curated docs are corpus docs", len(curated_ids - corpus_ids))
    r.check("curated output not empty", 0 if curated_ids else 1)
    r.check("no benchmark window in the curated text", span_contaminated_ids(curated, bench_df, k=13).count())
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    certificate = planted_duplicate_certificate(
        frame.filter(F.col("doc_id") < 100),
        lambda d: minhash_near_dup_pairs(d, threshold=0.5),
        family="minhash_near_dups",
        id_col="doc_id",
        qualify=F.length("text") >= 30,
    )
    r.check("planted_duplicate_certificate", certificate.count())
    r.check("span_decontamination_certificate", span_decontamination_certificate(bench_df).count())


def layers(r, cycles: list[dict], window) -> dict[str, float]:
    sc = r.spark.sparkContext
    recs, jobs = [], 0
    for c in cycles:
        for q in c["queries"]:
            recs += [d for d in probes.progress_records(q) if d.get("numInputRows", 0) > 0]
            jobs += probes.group_counts(sc, str(q.runId))[0]
    folded = probes.fold_query(recs, jobs, 0)
    all_recs = [d for c in cycles for q in c["queries"] for d in probes.progress_records(q)]
    durs = [d["durationMs"].get("triggerExecution", 0) / 1000 for d in recs]
    last = cycles[-1]
    # the first cut's batch and the delta batch, which runs on a grown corpus
    data = [d for q in last["queries"] for d in probes.progress_records(q) if d.get("numInputRows", 0) > 0]
    n = len(cycles)
    lay = {
        "curation.batch_p50_s": percentile(durs, 50) or 0.0,
        "curation.batch_first_s": data[0]["durationMs"]["triggerExecution"] / 1000 if data else 0.0,
        "curation.batch_last_s": data[-1]["durationMs"]["triggerExecution"] / 1000 if data else 0.0,
        "curation.jobs_per_batch": folded["jobs_per_batch"],
        "curation.finalize_s": sum(c["finalize_s"] for c in cycles) / n,
        "curation.delta_finalize_s": sum(c["delta_finalize_s"] for c in cycles) / n,
    }
    for k in ("offsets_s", "planning_s", "add_batch_s", "commit_s"):
        lay[f"curation.{k}"] = folded[k] / n
    lay.update(replay.unattributed(r, all_recs, n))
    lay.update(replay.serving_layers(
        r, [x for c in cycles for x in c["reads"]], lambda g: not g.startswith("read:warm:"), window
    ))
    return lay
