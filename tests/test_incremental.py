"""Incremental corpus dedup: streaming ingest deduped against the
accumulated on-disk corpus + minhash LSH index (streaming/incremental.py).
Covers intra-batch exact, cross-batch exact, cross-batch near-dup, and
the replay-safety contract (batch_id < N index reads)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
    IncrementalDedupJob,
    corpus_view,
)

LONG_A = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "home tonight while the moon rises slowly over the quiet sleeping town"
)
# one-word edit of LONG_A -> high true Jaccard, near-dup of it
LONG_A2 = LONG_A.replace("quiet", "silent")
LONG_B = (
    "completely different content about distributed query engines and the "
    "catalyst optimizer planning adaptive shuffles across executor fleets "
    "with bucketed joins and broadcast dimension tables at petabyte scale"
)


def _write_doc_feed(dirpath: str, batches: list[list[dict]]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    base = time.time() - len(batches)
    for i, batch in enumerate(batches):
        p = os.path.join(dirpath, f"docs_{i}.json")
        with open(p, "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")
        os.utime(p, (base + i, base + i))  # deterministic oldest-first order


def _drain(spark, feed_dir: str, out_dir: str) -> None:
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    docs = read_doc_stream(spark, feed_dir, max_files_per_trigger=1)
    job = IncrementalDedupJob(out_dir=out_dir)
    q = job.start(docs.select("doc_id", "text"))
    assert q.awaitTermination(180)


def test_incremental_dedup_exact_and_near(spark, tmp_path):
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [
                {"doc_id": 1, "text": LONG_A},
                {"doc_id": 2, "text": LONG_A},  # intra-batch exact dup -> dropped
                {"doc_id": 3, "text": LONG_B},
            ],
            [
                {"doc_id": 4, "text": LONG_A},   # cross-batch exact dup -> dropped
                {"doc_id": 5, "text": LONG_A2},  # cross-batch NEAR dup -> dropped
                {"doc_id": 6, "text": "tiny unrelated note"},
            ],
        ],
    )
    _drain(spark, feed, out)
    kept = sorted(r["doc_id"] for r in corpus_view(spark, out).collect())
    assert kept == [1, 3, 6]

    # the index holds bands+sigs for exactly the kept (indexable) docs
    # (the signature rides the band-0 rows of the bands table; no
    # separate index_sigs dir exists on a fresh corpus)
    bands = spark.read.parquet(os.path.join(out, "index_bands"))
    assert set(r["id"] for r in bands.select("id").distinct().collect()) == {1, 3, 6}
    assert not os.path.isdir(os.path.join(out, "index_sigs"))
    sigs = bands.filter(F.col("sig").isNotNull()).select("id", "sig")
    assert sigs.groupBy("id").count().filter(F.col("count") > 1).count() == 0
    assert set(r["id"] for r in sigs.select("id").collect()) == {1, 3, 6}
    # sig is masked to exactly the band-0 rows (stored once per doc)
    assert bands.filter(F.col("sig").isNotNull() & (F.col("band") != 0)).count() == 0


def test_incremental_dedup_replay_does_not_lose_or_duplicate(spark, tmp_path):
    """Crash-before-checkpoint replay: the last micro-batch re-runs
    against an index that already contains its own crashed half-write.
    The batch_id < N read bound makes the replay idempotent — without
    it, batch N's docs would anti-join against themselves and the
    replay would publish an empty batch (silent data loss)."""
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [{"doc_id": 1, "text": LONG_A}],
            [{"doc_id": 2, "text": LONG_B}],
        ],
    )
    _drain(spark, feed, out)
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2]

    # simulate crash-before-checkpoint of the LAST batch: remove its
    # commit marker so the restart replays it
    commits = os.path.join(out, "_checkpoints", "incremental_dedup", "commits")
    newest = max((d for d in os.listdir(commits) if d.isdigit()), key=int)
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar
        os.remove(crc)

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    docs = read_doc_stream(spark, feed, max_files_per_trigger=1)
    q = IncrementalDedupJob(out_dir=out).start(docs.select("doc_id", "text"))
    assert q.awaitTermination(180)
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2]


def test_incremental_compact_preserves_corpus_and_index(spark, tmp_path):
    """`.compact()` folds every table to one batch_id dir with identical
    contents, and a post-compaction stream restart keeps deduping
    correctly against the folded index (snapshot batch_id < next batch
    id, so the replay-safety bound still admits it)."""
    import re

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [{"doc_id": 1, "text": LONG_A}],
            [{"doc_id": 2, "text": LONG_B}],
        ],
    )
    _drain(spark, feed, out)
    before = sorted(tuple(r) for r in corpus_view(spark, out).select("doc_id", "fingerprint").collect())
    job = IncrementalDedupJob(out_dir=out)
    assert job.compact(spark) > 0
    for table in ("corpus", "index_bands"):  # sigs ride index_bands (layout 2)
        dirs = [
            d
            for d in os.listdir(os.path.join(out, table))
            if re.fullmatch(r"batch_id=\d+", d)
        ]
        assert len(dirs) == 1, (table, dirs)
    after = sorted(tuple(r) for r in corpus_view(spark, out).select("doc_id", "fingerprint").collect())
    assert after == before

    # new batch with a near-dup of doc 1 arrives AFTER compaction: the
    # folded index must still catch it
    _write_doc_feed_append(feed, [{"doc_id": 7, "text": LONG_A2}, {"doc_id": 8, "text": "fresh new doc"}])
    _drain(spark, feed, out)
    kept = sorted(r["doc_id"] for r in corpus_view(spark, out).collect())
    assert kept == [1, 2, 8]


def _write_doc_feed_append(dirpath: str, records: list[dict]) -> None:
    p = os.path.join(dirpath, f"docs_late_{len(os.listdir(dirpath))}.json")
    with open(p, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")


def test_compact_with_uncommitted_tail_survives_replay(spark, tmp_path):
    """The tail-batch replay-clobber hazard: the last micro-batch's sink
    write landed but its checkpoint commit did not.  Folding that dir
    into the snapshot (which takes its batch_id) would let the restart's
    replay overwrite the ENTIRE folded history with one batch's delta.
    compact() must detect the missing commit marker and exclude the tail
    dir from the fold, so the replay touches only its own delta."""
    import re

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [{"doc_id": 1, "text": LONG_A}],
            [{"doc_id": 2, "text": LONG_B}],
            [{"doc_id": 3, "text": "third unrelated little note"}],
        ],
    )
    _drain(spark, feed, out)
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2, 3]

    # crash between sink write and checkpoint commit of the LAST batch
    commits = os.path.join(out, "_checkpoints", "incremental_dedup", "commits")
    newest = max((d for d in os.listdir(commits) if d.isdigit()), key=int)
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    # operator compacts "with the stream stopped" before restarting
    job = IncrementalDedupJob(out_dir=out)
    job.compact(spark)
    # the uncommitted tail dir must still exist as its own delta
    corpus_dirs = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(out, "corpus"))
        if re.fullmatch(r"batch_id=\d+", d)
    }
    assert int(newest) in corpus_dirs

    # restart: the tail batch replays; history must be intact afterwards
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    docs = read_doc_stream(spark, feed, max_files_per_trigger=1)
    q = IncrementalDedupJob(out_dir=out).start(docs.select("doc_id", "text"))
    assert q.awaitTermination(180)
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2, 3]

    # with the commit log complete, a follow-up compact folds fully
    assert job.compact(spark) > 0
    for table in ("corpus", "index_bands"):  # sigs ride index_bands (layout 2)
        dirs = [
            d
            for d in os.listdir(os.path.join(out, table))
            if re.fullmatch(r"batch_id=\d+", d)
        ]
        assert len(dirs) == 1, (table, dirs)
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2, 3]


def test_views_on_never_written_output(spark, tmp_path):
    """Views over streams whose every micro-batch was empty: no
    PATH_NOT_FOUND AnalysisException — empty frame (or a pointed error
    for corpus_view without a schema)."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.streaming.annserve import results_view

    out = str(tmp_path / "nothing")
    res = results_view(spark, out)
    assert res.count() == 0
    assert res.columns == ["query_id", "neighbor_id", "cosine", "rank", "batch_id"]

    empty = corpus_view(
        spark, out, empty_schema="doc_id bigint, text string, fingerprint string, batch_id int"
    )
    assert empty.count() == 0
    with pytest.raises(FileNotFoundError, match="empty_schema"):
        corpus_view(spark, out)


def test_ingest_time_span_decontamination(spark, tmp_path):
    """Span-level benchmark decontamination at INGEST: a training doc
    embedding a verbatim 13-token benchmark window never enters the
    corpus; clean docs do; a crash-replay restart reproduces the same
    decision (the gate is deterministic and inside the idempotent
    batch write)."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import build_benchmark_span_index

    question = (
        "which ancient city stood at the mouth of the river crossing "
        "seven hills beneath the old citadel walls"
    )  # 18 tokens
    bench_df = spark.createDataFrame(
        [(900, question + " choose the best answer")], "doc_id long, text string"
    )
    bench_dir = str(tmp_path / "bench_fp")
    n_fp = build_benchmark_span_index(bench_df, bench_dir, k=13)
    assert n_fp > 0

    filler = " ".join(f"page{i} words{i * 3} here{i * 7}" for i in range(30))
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [
                {"doc_id": 1, "text": LONG_A},
                {"doc_id": 2, "text": filler + " " + question + " " + filler},
            ],
            [{"doc_id": 3, "text": LONG_B}],
        ],
    )

    def drain():
        docs = read_doc_stream(spark, feed, max_files_per_trigger=1)
        job = IncrementalDedupJob(out_dir=out, benchmark_fp_dir=bench_dir)
        q = job.start(docs.select("doc_id", "text"))
        assert q.awaitTermination(180)

    drain()
    kept = sorted(r["doc_id"] for r in corpus_view(spark, out).collect())
    assert kept == [1, 3]  # contaminated doc 2 never entered

    # crash before the last commit -> replay must decide identically
    commits = os.path.join(out, "_checkpoints", "incremental_dedup", "commits")
    newest = max((d for d in os.listdir(commits) if d.isdigit()), key=int)
    for f in (newest, f".{newest}.crc"):
        p = os.path.join(commits, f)
        if os.path.exists(p):
            os.remove(p)
    drain()
    kept = sorted(r["doc_id"] for r in corpus_view(spark, out).collect())
    assert kept == [1, 3]

    # surgical mode (round 8): the same feed through decontam_mode=
    # "excise" keeps doc 2 with the benchmark window REMOVED and the
    # page content intact, recording the removal count
    out2 = str(tmp_path / "out_excise")
    pristine = "A Clean Document, with Punctuation — and CASE preserved!"
    _write_doc_feed_append(feed, [{"doc_id": 8, "text": pristine}])

    def drain_excise():
        docs = read_doc_stream(spark, feed, max_files_per_trigger=1)
        job = IncrementalDedupJob(
            out_dir=out2, benchmark_fp_dir=bench_dir, decontam_mode="excise"
        )
        q = job.start(docs.select("doc_id", "text"))
        assert q.awaitTermination(180)

    drain_excise()
    rows = {r["doc_id"]: r for r in corpus_view(spark, out2).collect()}
    assert sorted(rows) == [1, 2, 3, 8]       # doc 2 survives now
    assert rows[2]["decontam_excised_tokens"] >= 13
    assert question not in rows[2]["text"]
    assert "page0 words0 here0" in rows[2]["text"]     # page content kept
    assert rows[1]["decontam_excised_tokens"] == 0
    # clean docs keep their ORIGINAL bytes — surgical mode must not
    # token-normalize the untouched corpus as a side effect
    assert rows[8]["text"] == pristine
    # the surviving corpus is clean by the detection rule itself
    from real_time_financial_market_data_pipeline_spark.operators.dedup import span_contaminated_ids

    assert (
        span_contaminated_ids(
            corpus_view(spark, out2).select("doc_id", "text"), bench_df, k=13
        ).count()
        == 0
    )

    # invalid mode fails fast
    import pytest

    with pytest.raises(ValueError, match="decontam_mode"):
        IncrementalDedupJob(out_dir=out2, decontam_mode="banish").start(
            read_doc_stream(spark, feed).select("doc_id", "text")
        )


def test_incremental_span_index_matches_batch_recompute(spark, tmp_path):
    """span_index=True (round-8 VERDICT task 3): the per-batch span-fp
    partials merged at read time produce common_spans output IDENTICAL
    to batch recompute over the accumulated corpus — fragment AND
    merged forms — and the identity survives (a) a dropped duplicate
    doc (only KEPT docs are indexed), (b) `.compact()` folding the
    partials with the sum/min re-reduce, and (c) further batches landing
    on the folded snapshot."""
    import re

    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        common_spans,
        merged_common_spans,
    )
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import common_spans_view

    boiler = "all rights reserved by the example company and subsidiaries"
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [
                {"doc_id": 1, "text": "intro words one " + boiler + " tail words here"},
                {"doc_id": 2, "text": LONG_B},
            ],
            [
                {"doc_id": 3, "text": "different preface text " + boiler + " other ending"},
                {"doc_id": 4, "text": LONG_A},
            ],
            [
                # exact dup of doc 1 -> dropped; must NOT enter the index
                {"doc_id": 5, "text": "intro words one " + boiler + " tail words here"},
                {"doc_id": 6, "text": "third carrier opens then " + boiler + " closes"},
            ],
        ],
    )

    def drain():
        docs = read_doc_stream(spark, feed, max_files_per_trigger=1)
        job = IncrementalDedupJob(out_dir=out, near_dup=False, span_index=True, span_k=6)
        q = job.start(docs.select("doc_id", "text"))
        assert q.awaitTermination(180)
        return job

    job = drain()

    def view_rows(merged: bool):
        return sorted(
            tuple(r)
            for r in common_spans_view(
                spark, out, min_docs=2, k=6, merged=merged
            ).collect()
        )

    def recompute_rows(merged: bool):
        fn = merged_common_spans if merged else common_spans
        corpus = corpus_view(spark, out).select("doc_id", "text")
        return sorted(tuple(r) for r in fn(corpus, k=6, min_docs=2).collect())

    frag = view_rows(False)
    assert frag  # the boiler actually produced common spans
    assert frag == recompute_rows(False)
    assert view_rows(True) == recompute_rows(True)
    # dropped duplicate never entered the index: rep of every boiler
    # fragment is doc 1, and no fragment reports more carriers than the
    # three kept ones
    stats = common_spans_view(spark, out, min_docs=2, k=6).collect()
    assert all(r["n_docs"] <= 3 for r in stats)

    # compact folds the partials exactly (sum/min re-reduce)
    assert job.compact(spark) > 0
    dirs = [
        d
        for d in os.listdir(os.path.join(out, "index_spanfps"))
        if re.fullmatch(r"batch_id=\d+", d)
    ]
    assert len(dirs) == 1, dirs
    assert view_rows(False) == frag
    assert view_rows(True) == recompute_rows(True)

    # further batches extend the folded index without re-fingerprinting
    _write_doc_feed_append(
        feed,
        [
            {"doc_id": 9, "text": "late arrival mentions " + boiler + " again"},
            {"doc_id": 10, "text": "completely unrelated closing document text"},
        ],
    )
    drain()
    assert view_rows(False) == recompute_rows(False)
    assert view_rows(True) == recompute_rows(True)
    stats = common_spans_view(spark, out, min_docs=2, k=6).collect()
    assert any(r["n_docs"] == 4 for r in stats)  # 4 carriers now

    # the point of the index: EXCISION against the growing corpus runs
    # straight off the view (no re-fingerprinting) and is identical to
    # excision against a full recompute
    from real_time_financial_market_data_pipeline_spark.operators.dedup import excise_common_spans

    corpus = corpus_view(spark, out).select("doc_id", "text")

    def excised_rows(spans_df):
        return sorted(
            tuple(r) for r in excise_common_spans(corpus, spans_df, k=6).collect()
        )

    from_index = excised_rows(common_spans_view(spark, out, min_docs=2, k=6))
    from_recompute = excised_rows(common_spans(corpus, k=6, min_docs=2))
    assert from_index == from_recompute
    # and the treatment did something: non-rep carriers lost the boiler
    assert any(r[2] > 0 for r in from_index)

    # a k that doesn't match the span_k the corpus spec locks raises
    # instead of silently slicing wrong span_text
    import pytest

    with pytest.raises(ValueError, match="span_k=6"):
        common_spans_view(spark, out, min_docs=2, k=8)


def test_benchmark_index_k_mismatch_fails_fast(spark, tmp_path):
    """Round-9 ADVICE: the benchmark fp index records its build k in
    _span_spec.json; a job whose decontam_k differs would match ZERO
    fingerprints (silent decontamination no-op) — it must raise at
    start() instead, in both drop and excise modes."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        build_benchmark_span_index,
        stored_benchmark_k,
    )

    bench_df = spark.createDataFrame(
        [(900, " ".join(f"w{i}" for i in range(20)))], "doc_id long, text string"
    )
    bench_dir = str(tmp_path / "bench_fp")
    build_benchmark_span_index(bench_df, bench_dir, k=13)
    assert stored_benchmark_k(bench_dir) == 13

    feed = str(tmp_path / "feed")
    _write_doc_feed(feed, [[{"doc_id": 1, "text": LONG_A}]])
    docs = read_doc_stream(spark, feed).select("doc_id", "text")
    for mode in ("drop", "excise"):
        with pytest.raises(ValueError, match="k=13"):
            IncrementalDedupJob(
                out_dir=str(tmp_path / f"out_{mode}"),
                benchmark_fp_dir=bench_dir,
                decontam_k=10,
                decontam_mode=mode,
            ).start(docs)
    # the matching k passes validation and actually runs
    job = IncrementalDedupJob(
        out_dir=str(tmp_path / "out_ok"), benchmark_fp_dir=bench_dir, decontam_k=13
    )
    q = job.start(docs)
    assert q.awaitTermination(180)
    rows = corpus_view(spark, str(tmp_path / "out_ok")).collect()
    assert [r["doc_id"] for r in rows] == [1]
    # drop mode also emits the excise column (schema-stable corpora)
    assert rows[0]["decontam_excised_tokens"] == 0


def test_corpus_spec_locks_schema_shaping_config(spark, tmp_path):
    """Round-9 ADVICE: settings that shape the on-disk schema/index
    (decontam column presence, span index + k) are fixed for a corpus's
    lifetime — a restart with a conflicting config raises instead of
    writing schema-heterogeneous batch dirs or silently starving the
    span index."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        build_benchmark_span_index,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(feed, [[{"doc_id": 1, "text": LONG_A}]])
    job = IncrementalDedupJob(out_dir=out, span_index=True, span_k=6)
    q = job.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(180)

    docs = read_doc_stream(spark, feed).select("doc_id", "text")
    # span index off -> the view would silently miss future batches
    with pytest.raises(ValueError, match="span_index"):
        IncrementalDedupJob(out_dir=out).start(docs)
    # span_k change -> fingerprints of different window sizes don't mix
    with pytest.raises(ValueError, match="span_k"):
        IncrementalDedupJob(out_dir=out, span_index=True, span_k=8).start(docs)
    # enabling decontamination mid-life -> schema-heterogeneous batches
    bench_df = spark.createDataFrame([(9, LONG_B)], "doc_id long, text string")
    bench_dir = str(tmp_path / "bench_fp")
    build_benchmark_span_index(bench_df, bench_dir, k=13)
    with pytest.raises(ValueError, match="decontam_col"):
        IncrementalDedupJob(
            out_dir=out, span_index=True, span_k=6, benchmark_fp_dir=bench_dir
        ).start(docs)
    # the original config restarts cleanly
    _write_doc_feed_append(feed, [{"doc_id": 2, "text": LONG_B}])
    q = IncrementalDedupJob(out_dir=out, span_index=True, span_k=6).start(
        read_doc_stream(spark, feed).select("doc_id", "text")
    )
    assert q.awaitTermination(180)
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2]


def test_excise_verify_drops_splice_survivors(spark, tmp_path):
    """Round-9 ADVICE hard guarantee: the concatenating rebuild can
    re-form a benchmark k-gram ACROSS an excision seam.  Canonical
    splice: benchmark = 'alpha beta gamma' (k=3); doc tokens
    [alpha beta alpha beta gamma gamma] contain exactly one matched
    window at positions 3-5, whose removal leaves [alpha(1) beta(2)
    gamma(6)] — the benchmark trigram, re-formed.  excise_verify=True
    (default) must DROP the doc; excise_verify=False documents the
    soft guarantee (the spliced text survives)."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import span_contaminated_ids
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        build_benchmark_span_index,
    )

    bench_df = spark.createDataFrame(
        [(900, "alpha beta gamma")], "doc_id long, text string"
    )
    bench_dir = str(tmp_path / "bench_fp")
    build_benchmark_span_index(bench_df, bench_dir, k=3)

    splice_doc = "alpha beta alpha beta gamma gamma"
    feed = str(tmp_path / "feed")
    _write_doc_feed(
        feed,
        [
            [
                {"doc_id": 1, "text": splice_doc},
                {"doc_id": 2, "text": LONG_A},
            ]
        ],
    )

    def run(out, verify):
        job = IncrementalDedupJob(
            out_dir=out,
            benchmark_fp_dir=bench_dir,
            decontam_k=3,
            decontam_mode="excise",
            excise_verify=verify,
        )
        q = job.start(read_doc_stream(spark, feed).select("doc_id", "text"))
        assert q.awaitTermination(180)
        return corpus_view(spark, out)

    # soft mode: the splice survives and IS contaminated by the rule
    soft = run(str(tmp_path / "out_soft"), verify=False)
    rows = {r["doc_id"]: r for r in soft.collect()}
    assert sorted(rows) == [1, 2]
    assert rows[1]["text"] == "alpha beta gamma"  # the re-formed k-gram
    assert (
        span_contaminated_ids(
            soft.select("doc_id", "text"), bench_df, k=3
        ).count()
        == 1
    )

    # verified mode (default): the splice survivor is dropped; the
    # clean doc still passes; the corpus is clean by the detection rule
    hard = run(str(tmp_path / "out_hard"), verify=True)
    assert sorted(r["doc_id"] for r in hard.collect()) == [2]
    assert (
        span_contaminated_ids(
            hard.select("doc_id", "text"), bench_df, k=3
        ).count()
        == 0
    )


def test_auto_compaction_cadence(spark, tmp_path):
    """Round-9 VERDICT task 1: compact_every=N folds the accumulated
    batch dirs inline every N batches.  After a 6-batch drain with
    cadence 2 the tables hold a handful of dirs (not 6), corpus content
    is identical to the uncompacted run, and dedup against the folded
    index still works across a restart."""
    import re

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    texts = {
        1: LONG_A,
        2: LONG_B,
        3: "third doc with its own words entirely",
        4: LONG_A,            # cross-batch exact dup -> dropped
        5: "fifth unique document text right here",
        6: LONG_A2,           # cross-batch NEAR dup of 1 -> dropped
    }
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(feed, [[{"doc_id": i, "text": texts[i]}] for i in range(1, 7)])

    job = IncrementalDedupJob(out_dir=out, compact_every=2)
    q = job.start(read_doc_stream(spark, feed, max_files_per_trigger=1).select("doc_id", "text"))
    assert q.awaitTermination(300)

    kept = sorted(r["doc_id"] for r in corpus_view(spark, out).collect())
    assert kept == [1, 2, 3, 5]
    for table in ("corpus", "index_bands"):  # sigs ride index_bands (layout 2)
        dirs = [
            d
            for d in os.listdir(os.path.join(out, table))
            if re.fullmatch(r"batch_id=\d+", d)
        ]
        # 6 batches landed; the cadence folded history behind each
        # compaction point — far fewer than 6 dirs remain
        assert len(dirs) <= 3, (table, sorted(dirs))

    # restart on the compacted state: dedup still catches a near dup
    _write_doc_feed_append(feed, [{"doc_id": 7, "text": LONG_A2}, {"doc_id": 8, "text": "a genuinely fresh closing doc"}])
    q = IncrementalDedupJob(out_dir=out, compact_every=2).start(
        read_doc_stream(spark, feed, max_files_per_trigger=1).select("doc_id", "text")
    )
    assert q.awaitTermination(300)
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2, 3, 5, 8]


def test_crash_mid_compaction_publish_recovers_at_start(spark, tmp_path, monkeypatch):
    """Round-10 ADVICE (medium): a crash inside the compaction's
    publish phase leaves the folded history underscore-staged
    (invisible to parquet) — and the restart REPLAYS the uncommitted
    batch, whose _read_prior would dedup against incomplete history
    and let duplicates of folded docs permanently enter the corpus.
    start() must finish the staged publish before the first history
    read.  (Round-12 snapshot-visible-first shape: at the simulated
    crash point the pending marker is down, the ORIGINAL max in-scope
    dir is retired aside, and OLDER batch dirs are still visible —
    history is no longer fully invisible, but it is still incomplete
    for _read_prior until recovery runs.)"""
    import re

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [{"doc_id": 1, "text": LONG_A}],
            [{"doc_id": 2, "text": LONG_B}],
            # batch 2: exact dup of folded doc 1 + one genuinely new doc
            [{"doc_id": 3, "text": LONG_A}, {"doc_id": 4, "text": "a fresh closing document"}],
        ],
    )
    _drain(spark, feed, out)
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2, 4]

    # crash-before-checkpoint of the newest DATA batch (walk back past
    # availableNow's trailing empty batch, per the round-7 recipe)
    corpus_dir = os.path.join(out, "corpus")
    n = max(
        int(d.split("=")[1])
        for d in os.listdir(corpus_dir)
        if re.fullmatch(r"batch_id=\d+", d)
    )
    ckpt = os.path.join(out, "_checkpoints", "incremental_dedup")
    for log_dir, keep_below in ((os.path.join(ckpt, "commits"), n), (os.path.join(ckpt, "offsets"), n + 1)):
        for f in os.listdir(log_dir):
            name = f.lstrip(".").split(".")[0]
            if name.isdigit() and int(name) >= keep_below:
                os.remove(os.path.join(log_dir, f))

    # drive the REAL compaction code into the hazard window: the old
    # dirs are deleted, then the publish rename "crashes"
    import pytest

    real_rename = os.rename

    def crashing_rename(src, dst):
        if "_compact_staged_" in str(src) and "batch_id=" in str(dst):
            raise RuntimeError("simulated crash during publish rename")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        IncrementalDedupJob(out_dir=out).compact(spark)
    monkeypatch.undo()

    # the hazard state: the in-scope max dir retired aside mid-publish
    # (pending marker present), older in-scope dirs + the uncommitted
    # tail still visible — incomplete history either way
    dirs = sorted(os.listdir(corpus_dir))
    assert any(d.startswith("_compact_staged_") for d in dirs), dirs
    assert "_compact_publish_pending.json" in dirs, dirs
    visible = [d for d in dirs if re.fullmatch(r"batch_id=\d+", d)]
    assert f"batch_id={n}" in visible and len(visible) < n + 1, dirs

    # restart: start() must recover the stage BEFORE the replay of
    # batch n — the dup of folded doc 1 stays dropped
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    q = IncrementalDedupJob(out_dir=out).start(
        read_doc_stream(spark, feed, max_files_per_trigger=1).select("doc_id", "text")
    )
    assert q.awaitTermination(300)
    rows = corpus_view(spark, out).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 4]
    fps = [r["fingerprint"] for r in rows]
    assert len(fps) == len(set(fps))
    assert not any(
        d.startswith("_compact_staged_") for d in os.listdir(corpus_dir)
    )


def test_repair_internal_index_matches_recompute(spark, tmp_path):
    """Round-10: with the job-level repair_internal stage on (hoisted
    from the pipeline's pre_transform), every index must still be built
    on the post-repair text.  The proof obligation is the same view ≡
    recompute identity that certified the index: common_spans_view off
    the incremental index must equal common_spans recomputed from the
    FINAL corpus text — with a repaired doc, a decontam-excised doc,
    an exact-dup drop, and untouched docs all in play."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import common_spans
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        build_benchmark_span_index,
        common_spans_view,
    )

    boiler = "all rights reserved by the example company and subsidiaries"
    question = (
        "which ancient city stood at the mouth of the river crossing "
        "seven hills beneath the old citadel walls"
    )
    repaired = (
        "start alpha beta gamma delta epsilon zeta " 
        "alpha beta gamma delta epsilon zeta finish with unique tail words"
    )
    contaminated = (
        "filler opening words for the page " + question + " closing filler text"
    )

    bench_df = spark.createDataFrame(
        [(900, question + " choose the best answer")], "doc_id long, text string"
    )
    bench_dir = str(tmp_path / "bench_fp")
    build_benchmark_span_index(bench_df, bench_dir, k=13)

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [
                {"doc_id": 1, "text": "intro words one " + boiler + " tail words here"},
                {"doc_id": 2, "text": repaired},
            ],
            [
                {"doc_id": 3, "text": "different preface text " + boiler + " other ending"},
                {"doc_id": 4, "text": contaminated},
            ],
            [
                # exact dup of doc 1 -> dropped, must NOT enter the index
                {"doc_id": 5, "text": "intro words one " + boiler + " tail words here"},
                {"doc_id": 6, "text": LONG_B},
            ],
        ],
    )
    job = IncrementalDedupJob(
        out_dir=out,
        near_dup=False,
        span_index=True,
        span_k=6,
        repair_internal=True,
        internal_k=6,
        internal_min_occurrences=2,
        benchmark_fp_dir=bench_dir,
        decontam_k=13,
        decontam_mode="excise",
    )
    q = job.start(read_doc_stream(spark, feed, max_files_per_trigger=1).select("doc_id", "text"))
    assert q.awaitTermination(300)

    corpus = {r["doc_id"]: r for r in corpus_view(spark, out).collect()}
    assert sorted(corpus) == [1, 2, 3, 4, 6]
    assert corpus[2]["internal_excised_tokens"] == 6     # rewritten by repair
    assert corpus[4]["decontam_excised_tokens"] >= 13    # rewritten by decontam
    assert corpus[1]["internal_excised_tokens"] == 0
    assert corpus[1]["decontam_excised_tokens"] == 0

    # the identity: index-served spans == recompute over the FINAL text
    via_index = sorted(
        tuple(r) for r in common_spans_view(spark, out, min_docs=2, k=6).collect()
    )
    recomputed = sorted(
        tuple(r)
        for r in common_spans(
            corpus_view(spark, out).select("doc_id", "text"), k=6, min_docs=2
        ).collect()
    )
    assert via_index == recomputed
    assert len(via_index) > 0  # the boiler span actually qualifies

    # stats identity at the fingerprint level too (rep + counts):
    from real_time_financial_market_data_pipeline_spark.operators.dedup import span_fingerprints
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import span_stats_view

    direct = sorted(
        tuple(r)
        for r in span_fingerprints(
            corpus_view(spark, out).select("doc_id", "text"), k=6
        )
        .groupBy("fp")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("id", "pos")).alias("_rep"),
        )
        .select(
            "fp", "n_docs", "n_occurrences",
            F.col("_rep.id").alias("rep_id"), F.col("_rep.pos").alias("rep_pos"),
        )
        .filter(F.col("n_docs") >= 1)
        .collect()
    )
    via_stats = sorted(
        tuple(r) for r in span_stats_view(spark, out, min_docs=1).collect()
    )
    assert via_stats == direct


def test_span_postings_track_docs_and_survive_compaction(spark, tmp_path):
    """span_postings=True (round-10): the per-batch (fp, doc_id)
    posting rows must (a) exactly equal the distinct window
    fingerprints of the kept corpus text — dropped duplicates never
    post, repaired/excised docs post their FINAL text — and (b) fold
    through compaction byte-identically (per-key-latest on the unique
    (fp, doc_id) key is an exact rewrite)."""
    import re

    from real_time_financial_market_data_pipeline_spark.operators.dedup import span_fingerprints
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import span_postings_view

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [{"doc_id": 1, "text": LONG_A}],
            [{"doc_id": 2, "text": LONG_B}, {"doc_id": 3, "text": LONG_A}],  # 3: exact dup
            [{"doc_id": 4, "text": "alpha beta gamma delta epsilon alpha beta gamma delta epsilon closing words one two"}],
        ],
    )
    job = IncrementalDedupJob(
        out_dir=out,
        near_dup=False,
        span_index=True,
        span_k=5,
        span_postings=True,
        repair_internal=True,
        internal_k=5,
    )
    q = job.start(read_doc_stream(spark, feed, max_files_per_trigger=1).select("doc_id", "text"))
    assert q.awaitTermination(180)

    expected = sorted(
        tuple(r)
        for r in span_fingerprints(
            corpus_view(spark, out).select("doc_id", "text"), k=5
        )
        .select("fp", F.col("id").alias("doc_id"))
        .distinct()
        .collect()
    )
    got = sorted(tuple(r) for r in span_postings_view(spark, out).collect())
    assert got == expected
    assert {d for _, d in got} == {1, 2, 4}  # dup 3 never posted

    assert job.compact(spark) > 0
    dirs = [
        d
        for d in os.listdir(os.path.join(out, "index_spanpostings"))
        if re.fullmatch(r"batch_id=\d+", d)
    ]
    assert len(dirs) == 1
    assert sorted(tuple(r) for r in span_postings_view(spark, out).collect()) == expected


def test_span_postings_requires_span_index(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="span_postings"):
        IncrementalDedupJob(
            out_dir=str(tmp_path / "o"), span_postings=True, span_index=False
        )._validate_config()


def test_map_typed_passthrough_column_survives_batch_dedup(spark, tmp_path):
    """Round-10 ADVICE: the per-batch doc_id dedup window tie-broke on
    every passthrough column, and Spark cannot ORDER BY a map-typed
    column — any input schema carrying a map passthrough made the batch
    fail at analysis time.  Map-containing columns must tie-break via
    their to_json serialization instead (deterministic for the stored
    value), so (a) the batch runs and (b) redelivered duplicates still
    collapse replay-stably."""
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [
                # exact redelivery with identical map metadata
                {"doc_id": 1, "text": LONG_A, "meta": {"src": "cc", "v": "1"}},
                {"doc_id": 1, "text": LONG_A, "meta": {"src": "cc", "v": "1"}},
                # same id + text, DIFFERENT map: the to_json tie-break
                # must pick one deterministically (json-min wins)
                {"doc_id": 2, "text": LONG_B, "meta": {"src": "a"}},
                {"doc_id": 2, "text": LONG_B, "meta": {"src": "b"}},
            ]
        ],
    )
    docs = (
        spark.readStream.schema("doc_id long, text string, meta map<string,string>")
        .format("json")
        .load(feed)
    )
    job = IncrementalDedupJob(out_dir=out)
    q = job.start(docs)
    assert q.awaitTermination(180)

    rows = {r["doc_id"]: r.asDict() for r in corpus_view(spark, out).collect()}
    assert sorted(rows) == [1, 2]
    assert rows[1]["meta"] == {"src": "cc", "v": "1"}
    assert rows[2]["meta"] == {"src": "a"}  # '{"src":"a"}' < '{"src":"b"}'


def test_overlap_executes_all_and_propagates(spark):
    """sinks.overlap (the one mechanism behind every overlapped write):
    every action runs exactly once and results come back in argument
    order; a failing action's exception propagates only after its
    pooled siblings have finished; a single action runs inline on the
    caller's thread."""
    import threading

    import pytest

    from real_time_financial_market_data_pipeline_spark.streaming.sinks import overlap

    # pooled path: all run once, results in argument order
    ran: list[str] = []

    def _act(name: str, delay: float):
        def run() -> str:
            time.sleep(delay)
            ran.append(name)
            return name

        return run

    assert overlap(spark, [_act("w1", 0.2), _act("w2", 0.0)]) == ["w1", "w2"]
    assert sorted(ran) == ["w1", "w2"]

    # the failure surfaces only after the slower sibling finished
    ran.clear()

    def _boom() -> None:
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        overlap(spark, [_boom, _act("slow", 0.5)])
    assert ran == ["slow"]

    # a single action skips the pool
    threads: list[threading.Thread] = []
    assert overlap(spark, [lambda: threads.append(threading.current_thread()) or 7]) == [7]
    assert threads == [threading.current_thread()]
    assert overlap(spark, []) == []


def test_pooled_index_writes_keep_query_job_group(spark, tmp_path):
    """Every Spark job a foreachBatch drain starts — including the
    index writes overlap() runs on pool threads — carries the query's
    runId job group, so query.stop() cancels in-flight pooled writes
    and per-query job accounting sees them.  Near-dup + span index
    means at least two writes are pooled per batch."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(
        feed,
        [
            [{"doc_id": 1, "text": LONG_A}, {"doc_id": 2, "text": LONG_B}],
            [{"doc_id": 3, "text": LONG_A2}, {"doc_id": 4, "text": "another tiny note"}],
        ],
    )
    tracker = spark.sparkContext.statusTracker()
    docs = read_doc_stream(spark, feed, max_files_per_trigger=1).select("doc_id", "text")
    job = IncrementalDedupJob(out_dir=out, span_index=True)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    q = job.start(docs)
    assert q.awaitTermination(180)
    ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert sorted(r["doc_id"] for r in corpus_view(spark, out).collect()) == [1, 2, 4]
    assert tracker.getJobIdsForGroup(str(q.runId))
    assert not ungrouped, f"jobs outside the query's job group: {sorted(ungrouped)}"


def test_corpus_of_other_format_version_is_refused(spark, tmp_path, monkeypatch):
    """_corpus_spec.json records the corpus format_version; a spec with
    any other version — or none, i.e. written by a build from before
    the field existed — is refused with a ValueError by every entry
    point that reads the corpus: start(), finalize() (before its
    crash recovery touches anything) and common_spans_view."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.curation import (
        CuratedCorpusPipeline,
    )
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        common_spans_view,
        stored_span_k,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_doc_feed(feed, [[{"doc_id": 1, "text": LONG_A}]])
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4)
    pipe.job()._validate_config()
    marker = os.path.join(out, "_corpus_spec.json")
    with open(marker) as fh:
        spec = json.load(fh)
    assert stored_span_k(out) == 4

    def no_recover(self, spark):
        raise AssertionError("finalize ran recover() before the format check")

    monkeypatch.setattr(IncrementalDedupJob, "recover", no_recover)
    docs = read_doc_stream(spark, feed).select("doc_id", "text")
    missing = {k: v for k, v in spec.items() if k != "format_version"}
    for stored in (missing, {**spec, "format_version": 99}):
        with open(marker, "w") as fh:
            json.dump(stored, fh)
        with pytest.raises(ValueError, match="format_version"):
            pipe.start(docs)
        with pytest.raises(ValueError, match="format_version"):
            pipe.finalize(spark)
        with pytest.raises(ValueError, match="format_version"):
            common_spans_view(spark, out, k=4)

    # this build's own spec still validates
    with open(marker, "w") as fh:
        json.dump(spec, fh)
    pipe.job()._validate_config()


def test_corpus_spec_write_survives_a_crash_mid_dump(tmp_path, monkeypatch):
    """A crash while the corpus spec (or finalize's _finalize_spec.json)
    is being written must not leave a torn file that fails every later
    start() (or delta cut) with a JSON parse error: both writers stage
    to a tmp file and rename it into place."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.streaming.curation import (
        CuratedCorpusPipeline,
    )

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash inside json.dump")

    out = str(tmp_path / "out")
    job = IncrementalDedupJob(out_dir=out, span_index=True, span_k=6)
    with monkeypatch.context() as m:
        m.setattr(json, "dump", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            job._validate_config()
    job._validate_config()  # writes the spec the crash lost
    job._validate_config()  # and the written spec validates
    with open(os.path.join(out, "_corpus_spec.json")) as fh:
        assert json.load(fh)["span_k"] == 6

    pipe = CuratedCorpusPipeline(out_dir=out)
    with monkeypatch.context() as m:
        m.setattr(json, "dump", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            pipe._write_finalize_spec()
    pipe._check_finalize_spec()
