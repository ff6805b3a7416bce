"""End-to-end curated-corpus composition (round-9 VERDICT task 2):
CuratedCorpusPipeline wires within-doc repair → surgical benchmark
decontamination → exact+near dedup vs the incremental index → span-fp
index → (stream-stopped) splice-safe cross-doc excision off the index →
quality gate → PII redact → deterministic split into ONE flow.

The e2e assertion set is exactly the verdict's bar: the final corpus is
simultaneously (a) CLEAN under the span detection rule, (b) DUP-FREE at
the index, and (c) BYTE-PRESERVING for untouched docs."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from real_time_financial_market_data_pipeline_spark.streaming.curation import (
    CuratedCorpusPipeline,
    curated_view,
)
from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
    build_benchmark_span_index,
    corpus_view,
)

QUESTION = (
    "which ancient city stood at the mouth of the river crossing "
    "seven hills beneath the old citadel walls"
)  # 18 tokens -> 6 windows at k=13
PRISTINE = (
    "Remarkable Zebras Prefer; Colorful Mountain Meadows, where Seventeen "
    "Quiet Rivers FLOW gently beneath Ancient Stone Bridges forever!"
)
LONG_A = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "home tonight while the moon rises slowly over the quiet sleeping town"
)
LONG_A2 = LONG_A.replace("quiet", "silent")  # near dup of LONG_A
LONG_B = (
    "completely different content about distributed query engines and the "
    "catalyst optimizer planning adaptive shuffles across executor fleets"
)
BOILER = "all rights reserved worldwide"  # the shared 4-token span
CARRIER_A = (
    "the first carrier document opens with substantial original content "
    "before " + BOILER + " and then continues onward with its happy tale"
)
CARRIER_B = (
    "a completely separate second story text follows along right here "
    + BOILER
    + " then closes with its own particular unique ending notes today"
)
INTERNAL = (
    "start alpha beta gamma alpha beta gamma finish with several more "
    "unique trailing words that should easily pass the quality gate"
)
JUNK = "zzz !!!! ### @@@"
FILLER_1 = " ".join(f"open{i} words{i * 3} flows{i * 7} the" for i in range(8))
FILLER_2 = " ".join(f"shut{i} notes{i * 5} coda{i * 11} and" for i in range(8))
CONTAMINATED = FILLER_1 + " " + QUESTION + " " + FILLER_2


def _write_feed(dirpath: str, batches: list[list[dict]], prefix: str = "docs") -> None:
    os.makedirs(dirpath, exist_ok=True)
    base = time.time() - len(batches)
    for i, batch in enumerate(batches):
        p = os.path.join(dirpath, f"{prefix}_{i}.json")
        with open(p, "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")
        os.utime(p, (base + i, base + i))


def test_curated_corpus_pipeline_end_to_end(spark, tmp_path):
    from real_time_financial_market_data_pipeline_spark.operators.dedup import span_contaminated_ids
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    bench_df = spark.createDataFrame(
        [(900, QUESTION + " choose the best answer")], "doc_id long, text string"
    )
    bench_dir = str(tmp_path / "bench_fp")
    assert build_benchmark_span_index(bench_df, bench_dir, k=13) > 0

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_feed(
        feed,
        [
            [
                {"doc_id": 1, "text": PRISTINE},
                {"doc_id": 2, "text": CONTAMINATED},
                {"doc_id": 10, "text": LONG_A},
            ],
            [
                {"doc_id": 11, "text": LONG_A2},  # near dup of 10 -> dropped
                {"doc_id": 20, "text": LONG_B},
                {"doc_id": 30, "text": JUNK},     # survives dedup, fails gate
            ],
            [
                {"doc_id": 21, "text": LONG_B},   # exact dup of 20 -> dropped
                {"doc_id": 40, "text": CARRIER_A},
                {"doc_id": 41, "text": CARRIER_B},
                {"doc_id": 50, "text": INTERNAL},
            ],
        ],
    )

    pipe = CuratedCorpusPipeline(
        out_dir=out,
        benchmark_fp_dir=bench_dir,
        decontam_k=13,
        internal_k=3,
        internal_min_occurrences=2,
        span_k=4,
        span_min_docs=2,
        compact_every=2,
    )
    q = pipe.start(
        read_doc_stream(spark, feed, max_files_per_trigger=1).select("doc_id", "text")
    )
    assert q.awaitTermination(300)

    # --- ingest phase: dedup + decontam + repair all landed in corpus ---
    corpus = {r["doc_id"]: r for r in corpus_view(spark, out).collect()}
    assert sorted(corpus) == [1, 2, 10, 20, 30, 40, 41, 50]
    fps = [r["fingerprint"] for r in corpus.values()]
    assert len(fps) == len(set(fps))  # (b) dup-free at the index
    assert corpus[2]["decontam_excised_tokens"] >= 13
    assert all(
        corpus[i]["decontam_excised_tokens"] == 0 for i in corpus if i != 2
    )
    assert corpus[50]["internal_excised_tokens"] == 3  # one repeated trigram
    assert all(
        corpus[i]["internal_excised_tokens"] == 0 for i in corpus if i != 50
    )
    assert corpus[50]["text"].count("alpha beta gamma") == 1
    assert QUESTION not in corpus[2]["text"]

    # --- finalize: split excision off the index + gate + split ---
    path = pipe.finalize(spark)
    assert path == pipe.curated_dir()
    cur = curated_view(spark, out)
    rows = [r.asDict() for r in cur.collect()]
    by_doc: dict[int, list[dict]] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r)

    # (a) CLEAN under the detection rule, chunk by chunk
    chunk_docs = cur.select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("doc_id"), "text"
    )
    assert span_contaminated_ids(chunk_docs, bench_df, k=13).count() == 0

    # (b) dup-free: dropped dup/near-dup ids never reach curated; the
    # junk doc fails the quality gate
    assert sorted(by_doc) == [1, 2, 10, 20, 40, 41, 50]

    # (c) BYTE-PRESERVING for untouched docs: original punctuation and
    # case survive the whole pipeline untouched
    assert len(by_doc[1]) == 1
    assert by_doc[1][0]["text"] == PRISTINE
    assert by_doc[1][0]["excised_tokens"] == 0
    # the rep carrier keeps the boilerplate embedded, byte-identical
    assert len(by_doc[40]) == 1
    assert by_doc[40][0]["text"] == CARRIER_A
    # the non-rep carrier lost exactly the boiler span, splice-safely
    b_chunks = by_doc[41]
    assert len(b_chunks) == 2
    assert all(BOILER not in c["text"] for c in b_chunks)
    assert all(c["excised_tokens"] == 4 for c in b_chunks)
    assert b_chunks[0]["token_start"] == 1
    # internal repair result flows through: single occurrence remains
    assert len(by_doc[50]) == 1
    assert by_doc[50][0]["text"].count("alpha beta gamma") == 1
    assert by_doc[50][0]["internal_excised_tokens"] == 3

    # all chunks of a doc share one split (no leakage across splits)
    assert (
        cur.groupBy("doc_id")
        .agg(F.count_distinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )
    # split values are the directory partitions a training job prunes on
    assert set(r["split"] for r in rows) <= {"train", "val", "test"}

    # finalize is idempotent (overwrite): rerun yields identical rows
    pipe.finalize(spark)
    again = [r.asDict() for r in curated_view(spark, out).collect()]
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted(again, key=key) == sorted(rows, key=key)


def test_finalize_frame_plan_shape(spark, tmp_path):
    """The finalize pass must stay equi-join-only: no cartesian /
    nested-loop operator anywhere in the plan (the classic failure mode
    for span joins is an accidental cross product when a join key gets
    lost in a refactor), and its exchange count stays within a pinned
    budget — the plan-budget discipline applied to the composed
    pipeline's OPTIMIZE stage."""
    from real_time_financial_market_data_pipeline_spark.plans.inspect import count_shuffles, physical_plan
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_feed(
        feed,
        [
            [
                {"doc_id": 1, "text": CARRIER_A},
                {"doc_id": 2, "text": CARRIER_B},
            ]
        ],
    )
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(180)

    frame = pipe.finalize_frame(spark)
    plan = physical_plan(frame, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n = count_shuffles(frame)
    assert n <= 12, (
        f"finalize_frame grew to {n} exchanges — a refactor added a "
        "shuffle; remove it or consciously re-pin"
    )


def test_curated_pipeline_crash_replay_reproduces_state(spark, tmp_path):
    """Composition crash-safety: the components are individually
    replay-safe, but the composed per-batch chain (repair -> decontam
    excise+verify -> dedup -> span partials, compact_every on) must
    ALSO replay deterministically — the corpus, the span view, and the
    finalized table all come out identical after a crash-before-commit
    of the last data batch."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import common_spans_view

    bench_df = spark.createDataFrame(
        [(900, QUESTION + " choose the best answer")], "doc_id long, text string"
    )
    bench_dir = str(tmp_path / "bench_fp")
    build_benchmark_span_index(bench_df, bench_dir, k=13)

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_feed(
        feed,
        [
            [{"doc_id": 1, "text": CARRIER_A}, {"doc_id": 2, "text": CONTAMINATED}],
            [{"doc_id": 3, "text": CARRIER_B}, {"doc_id": 4, "text": INTERNAL}],
        ],
    )
    pipe = CuratedCorpusPipeline(
        out_dir=out,
        benchmark_fp_dir=bench_dir,
        decontam_k=13,
        internal_k=3,
        span_k=4,
        span_min_docs=2,
        compact_every=2,
    )

    def drain():
        q = pipe.start(
            read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)

    drain()
    corpus_before = sorted(
        tuple(r) for r in corpus_view(spark, out).collect()
    )
    spans_before = sorted(
        tuple(r)
        for r in common_spans_view(spark, out, min_docs=2, k=4).collect()
    )
    pipe.finalize(spark)
    curated_before = sorted(
        (r["doc_id"], r["chunk_idx"], r["text"])
        for r in curated_view(spark, out).collect()
    )

    # crash before the newest DATA batch's commit (availableNow appends
    # a trailing empty batch — walk back to the newest data-carrying
    # commit, per the round-7 crash-simulation recipe)
    commits = os.path.join(out, "_checkpoints", "incremental_dedup", "commits")
    offsets = os.path.join(out, "_checkpoints", "incremental_dedup", "offsets")
    import re

    data_batches = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(out, "corpus"))
        if re.fullmatch(r"batch_id=\d+", d)
    }
    n = max(data_batches)
    for log_dir, keep_below in ((commits, n), (offsets, n + 1)):
        for f in os.listdir(log_dir):
            name = f.lstrip(".").split(".")[0]
            if name.isdigit() and int(name) >= keep_below:
                os.remove(os.path.join(log_dir, f))

    drain()  # replay
    assert sorted(tuple(r) for r in corpus_view(spark, out).collect()) == corpus_before
    assert (
        sorted(
            tuple(r)
            for r in common_spans_view(spark, out, min_docs=2, k=4).collect()
        )
        == spans_before
    )
    pipe.finalize(spark)
    assert (
        sorted(
            (r["doc_id"], r["chunk_idx"], r["text"])
            for r in curated_view(spark, out).collect()
        )
        == curated_before
    )


def test_duplicate_doc_ids_within_one_batch_collapse_deterministically(spark, tmp_path):
    """Round-10 ADVICE: an at-least-once source can deliver the same
    doc_id twice WITHIN one micro-batch.  Without input hygiene the
    repair rewrite join fans out 2x2 and same-id rows with different
    text mix their covered-position sets.  The job must collapse to one
    row per doc_id (deterministic min-text keeper) before any join."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_feed(
        feed,
        [
            [
                # exact redelivery: identical row twice in one batch
                {"doc_id": 1, "text": LONG_A},
                {"doc_id": 1, "text": LONG_A},
                # pathological same-id different-text: min text wins
                {"doc_id": 2, "text": "zebra version of this document"},
                {"doc_id": 2, "text": "aardvark version of this document"},
                # a doc with an internal repeat AND a same-batch twin —
                # the repair join must not fan it out
                {"doc_id": 3, "text": INTERNAL},
                {"doc_id": 3, "text": INTERNAL},
            ]
        ],
    )
    pipe = CuratedCorpusPipeline(out_dir=out, internal_k=3, span_k=4, span_min_docs=2)
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)

    rows = {r["doc_id"]: r for r in corpus_view(spark, out).collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[2]["text"] == "aardvark version of this document"
    # repair ran exactly once on the collapsed row (no 2x2 fan-out):
    # one repeated trigram excised, single occurrence survives
    assert rows[3]["internal_excised_tokens"] == 3
    assert rows[3]["text"].count("alpha beta gamma") == 1
    # corpus stays one-row-per-doc and one-row-per-fingerprint
    fps = [r["fingerprint"] for r in rows.values()]
    assert len(fps) == len(set(fps))


def test_published_metrics_describe_redacted_text(spark, tmp_path):
    """Round-10 ADVICE: redaction must run BEFORE the metric
    projection, so n_tokens/quality/repetition describe the text a
    training job actually reads.  A doc whose email is replaced by
    <EMAIL> must publish the post-redaction token count (and the
    redacted bytes), while chunk_tokens/token_start keep ORIGINAL
    token-space provenance."""
    from real_time_financial_market_data_pipeline_spark.functions.text import token_count
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    pii_doc = (
        "please contact our support team at help.desk@example-corp.com "
        "for any further questions regarding the enterprise onboarding "
        "process and the quarterly billing statements we send out"
    )
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_feed(feed, [[{"doc_id": 1, "text": pii_doc}, {"doc_id": 2, "text": LONG_B}]])
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)

    rows = {r["doc_id"]: r.asDict() for r in curated_view(spark, out).collect()}
    assert "<EMAIL>" in rows[1]["text"]
    assert "example-corp.com" not in rows[1]["text"]
    # the published token count is computed ON the published text
    recount = (
        spark.createDataFrame([(rows[1]["text"],)], "text string")
        .select(token_count(F.col("text")).alias("n"))
        .first()["n"]
    )
    assert rows[1]["n_tokens"] == recount
    # provenance columns stay in original token space: the whole-doc
    # chunk still claims every ORIGINAL token
    assert rows[1]["token_start"] == 1
    assert rows[1]["chunk_tokens"] == (
        spark.createDataFrame([(pii_doc,)], "text string")
        .select(token_count(F.col("text")).alias("n"))
        .first()["n"]
    )
    # a clean doc is untouched byte-for-byte
    assert rows[2]["text"] == LONG_B
    assert rows[2]["n_tokens"] == rows[2]["chunk_tokens"]


# --- incremental (delta) finalize: round-10 VERDICT task 3 ---

BOILER2 = "please subscribe to our newsletter today"  # 6 tokens -> 3 windows at k=4
DOC15 = (
    "the fifteenth story narrates wonderful adventures "
    + BOILER2
    + " before wandering onward through misty mountain villages"
)
DOC16 = (
    "sixteen separate sentences describe the harbor area "
    + BOILER2
    + " and conclude with evening bells ringing softly tonight"
)
DOC3 = (
    "three early arrivals mention that "
    + BOILER2
    + " matters much for community growth and neighborly goodwill everywhere"
)
DOC40 = (
    "forty fresh paragraphs celebrate renewable harvest festivals across "
    "coastal plains where farmers trade amber grain under autumn skies"
)
DOC60 = (
    "sixty final entries chronicle deep ocean expeditions mapping thermal "
    "vents while submarines drift past luminous creatures far below"
)


def _sorted_rows(df) -> list[dict]:
    return sorted(
        (r.asDict(recursive=True) for r in df.collect()),
        key=lambda r: (r["doc_id"], r["chunk_idx"]),
    )


def _gen_docs(spark, out: str, gen: int) -> set[int]:
    return {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(out, "finalize_state", "docs", f"gen={gen}")
        ).collect()
    }


def test_incremental_finalize_equals_full_recompute(spark, tmp_path):
    """The delta finalize's proof obligation (round-10 VERDICT task 3):
    after every cut, curated_view (merged generations) must equal
    finalize_frame recomputed over the FULL corpus with the CURRENT
    span set — the same view-equals-recompute discipline that certified
    the span index — while each delta generation touches only the
    delta's docs.  The scenario plants every way a doc's curated rows
    can change between cuts:

      cut 1 (gen 0, full): docs 10 (sole BOILER carrier), 12
        (pristine), 15+16 (BOILER2 pair, rep 15), 20.
      cut 2 (gen 1, delta): doc 5 makes BOILER newly QUALIFY (and
        takes its rep, so old doc 10 must be re-excised); doc 3 MOVES
        the already-qualified BOILER2's rep off doc 15 (15 and 16 must
        be re-excised); doc 31 is an exact dup (dropped, no effect);
        doc 40 is fresh and unaffected; doc 20/12 must NOT be redone.
      cut 3 (gen 2, delta): doc 60 fresh — the redo set is exactly
        {60}; then the generation fold (curated_max_gens=2) collapses
        everything into one committed generation with an identical
        view."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    pipe = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=2, curated_max_gens=2
    )

    phase = [0]

    def drain(batches):
        # unique names per phase: the file source tracks seen PATHS, so
        # overwriting docs_0.json would be silently skipped
        phase[0] += 1
        _write_feed(feed, batches, prefix=f"docs{phase[0]}")
        q = pipe.start(
            read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)

    # --- cut 1: full ---
    drain(
        [
            [
                {"doc_id": 10, "text": CARRIER_A},
                {"doc_id": 12, "text": PRISTINE},
                {"doc_id": 15, "text": DOC15},
            ],
            [{"doc_id": 16, "text": DOC16}, {"doc_id": 20, "text": LONG_B}],
        ]
    )
    pipe.finalize(spark)
    gen0 = _sorted_rows(curated_view(spark, out))
    assert gen0 == _sorted_rows(pipe.finalize_frame(spark))
    assert _gen_docs(spark, out, 0) == {10, 12, 15, 16, 20}
    # BOILER not yet qualified: doc 10 untouched; BOILER2 rep is 15
    by_doc = {r["doc_id"]: r for r in gen0}
    assert by_doc[10]["text"] == CARRIER_A
    assert BOILER2 in by_doc[15]["text"]
    assert BOILER2 not in by_doc[16]["text"]

    # --- cut 2: delta (qualify-crossing + rep-move + dup + fresh) ---
    drain(
        [
            [
                {"doc_id": 5, "text": CARRIER_B},
                {"doc_id": 3, "text": DOC3},
            ],
            [
                {"doc_id": 31, "text": LONG_B},  # exact dup of 20 -> dropped
                {"doc_id": 40, "text": DOC40},
            ],
        ]
    )
    pipe.finalize(spark)  # auto -> delta
    redo1 = _gen_docs(spark, out, 1)
    assert redo1 == {3, 5, 10, 15, 16, 40}, redo1  # 12/20 NOT redone
    cur1 = _sorted_rows(curated_view(spark, out))
    assert cur1 == _sorted_rows(pipe.finalize_frame(spark))
    by_doc = {}
    for r in cur1:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(by_doc) == [3, 5, 10, 12, 15, 16, 20, 40]
    # BOILER now qualifies with rep 5: old doc 10 lost it, doc 5 keeps it
    assert all(BOILER not in c["text"] for c in by_doc[10])
    assert len(by_doc[10]) == 2
    assert any(BOILER in c["text"] for c in by_doc[5])
    # BOILER2's rep moved to doc 3: 15 lost it, 3 keeps it
    assert all(BOILER2 not in c["text"] for c in by_doc[15])
    assert any(BOILER2 in c["text"] for c in by_doc[3])
    # untouched docs still byte-identical, served from gen 0
    assert by_doc[12][0]["text"] == PRISTINE
    assert by_doc[20][0]["text"] == LONG_B
    # the LIVE (latest) generation per chunk: untouched docs still
    # served from gen 0, re-finalized docs from gen 1.  max() rather
    # than a last-row-wins dict — a chunk key of a re-finalized doc
    # legitimately exists in BOTH gens and collect order is not part
    # of the contract.
    gen_of: dict[tuple, int] = {}
    for r in spark.read.parquet(os.path.join(out, "curated")).collect():
        key = (r["doc_id"], r["chunk_idx"])
        gen_of[key] = max(gen_of.get(key, 0), r["gen"])
    assert gen_of[(20, 0)] == 0 and gen_of[(12, 0)] == 0
    assert gen_of[(10, 0)] == 1 and gen_of[(15, 0)] == 1

    # --- cut 3: fresh doc only; then the fold collapses generations ---
    drain([[{"doc_id": 60, "text": DOC60}]])
    pipe.finalize(spark)
    cur2 = _sorted_rows(curated_view(spark, out))
    assert cur2 == _sorted_rows(pipe.finalize_frame(spark))
    assert {r["doc_id"] for r in cur2} == {3, 5, 10, 12, 15, 16, 20, 40, 60}
    # the fold ran (3 committed > curated_max_gens=2): ONE generation
    # left, and it's the union
    committed = pipe._committed_gens()
    assert len(committed) == 1
    assert _gen_docs(spark, out, committed[0]) == {
        3, 5, 10, 12, 15, 16, 20, 40, 60,
    }
    # pre-fold gen 2 touched exactly the fresh doc (checked via the
    # fold's own docs union minus cut-2 state is not recoverable after
    # cleanup, so assert on the view instead: doc 60 present, all else
    # unchanged vs cut 2)
    assert [r for r in cur2 if r["doc_id"] != 60] == cur1

    # --- idempotence: a cut with nothing new writes no generation ---
    pipe.finalize(spark)
    assert pipe._committed_gens() == committed
    assert _sorted_rows(curated_view(spark, out)) == cur2


def test_curated_view_ignores_uncommitted_generation(spark, tmp_path):
    """Commit protocol: a generation whose docs marker (_SUCCESS) never
    landed is crash debris — curated_view must serve the last committed
    state, and a re-run finalize must repair it."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)
    _write_feed(
        feed,
        [
            [{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 20, "text": LONG_B}],
        ],
    )
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)
    base = _sorted_rows(curated_view(spark, out))

    _write_feed(feed, [[], [{"doc_id": 5, "text": CARRIER_B}]], prefix="docs2")
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)
    full = _sorted_rows(curated_view(spark, out))

    # crash point A — after the docs marker, BEFORE the manifest write
    # (round-12: the manifest is the last commit step): readers follow
    # the stale-but-consistent manifest and see the PREVIOUS state; the
    # writer sees the committed gen, and the next (no-op) finalize
    # refreshes the manifest so readers catch up without a recompute
    from real_time_financial_market_data_pipeline_spark.streaming.curation import (
        _write_curated_manifest,
    )

    _write_curated_manifest(out, [0])
    assert _sorted_rows(curated_view(spark, out)) == base  # stale, consistent
    pipe.finalize(spark)  # delta finds nothing to redo; manifest refreshed
    assert _sorted_rows(curated_view(spark, out)) == full

    # crash point B — BEFORE the docs marker landed: gen 1 is invisible
    # to writer and readers alike, and a re-run repairs it by
    # recomputing the same delta
    marker = os.path.join(out, "finalize_state", "docs", "gen=1", "_SUCCESS")
    os.remove(marker)
    _write_curated_manifest(out, [0])
    assert _sorted_rows(curated_view(spark, out)) == base  # rolled back
    pipe.finalize(spark)  # re-runs the same delta
    assert _sorted_rows(curated_view(spark, out)) == full


def test_delta_cut_refuses_changed_finalize_settings(spark, tmp_path):
    """Round-10 review: finalize-shaping settings are locked across
    delta cuts — a delta applies policy only to the redo docs, so a
    drifted quality_min (or split fractions, redaction, span_min_docs)
    would produce a silently mixed-policy curated table.  A full cut
    re-records the spec and unlocks the new policy."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_feed(
        feed,
        [[{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 20, "text": LONG_B}]],
    )
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)

    _write_feed(feed, [[{"doc_id": 30, "text": DOC40}]], prefix="late")
    drifted = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=2, quality_min=0.9
    )
    q = drifted.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    with pytest.raises(ValueError, match="mixed-policy"):
        drifted.finalize(spark)  # auto -> delta -> locked
    # a FULL cut under the new policy is the sanctioned path: it
    # re-curates everything and re-records the spec...
    drifted.finalize(spark, mode="full")
    # ...after which delta cuts under the new settings work again
    _write_feed(feed, [[{"doc_id": 40, "text": DOC60}]], prefix="later")
    q = drifted.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    drifted.finalize(spark)
    assert _sorted_rows(curated_view(spark, out)) == _sorted_rows(
        drifted.finalize_frame(spark)
    )


def test_finalize_recovers_crashed_compaction_before_reading_history(
    spark, tmp_path, monkeypatch
):
    """Round-10 ADVICE: a stream crash mid-compaction-publish leaves
    the only complete copy of folded history underscore-staged
    (invisible to parquet readers).  If the user runs the
    stream-stopped finalize BEFORE restarting the stream, the cut must
    not be computed against that incomplete history — finalize() runs
    the job's staged-publish recovery before any corpus/span read."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_feed(
        feed,
        [
            [{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}],
            [{"doc_id": 20, "text": LONG_B}],
        ],
    )
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)
    q = pipe.start(
        read_doc_stream(spark, feed, max_files_per_trigger=1).select("doc_id", "text")
    )
    assert q.awaitTermination(300)

    # drive the REAL compaction into the publish-crash hazard window:
    # old batch dirs deleted, staged snapshot rename "crashes"
    real_rename = os.rename

    def crashing_rename(src, dst):
        if "_compact_staged_" in str(src) and "batch_id=" in str(dst):
            raise RuntimeError("simulated crash during publish rename")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.job().compact(spark)
    monkeypatch.undo()

    # finalize WITHOUT restarting the stream: recovery runs first, so
    # the cut sees complete history — all three docs are curated and
    # the shared-span excision (10/11 both carry BOILER) still fires
    pipe.finalize(spark)
    rows = _sorted_rows(curated_view(spark, out))
    assert {r["doc_id"] for r in rows} == {10, 11, 20}
    assert rows == _sorted_rows(pipe.finalize_frame(spark))
    excised = {r["doc_id"]: r["excised_tokens"] for r in rows}
    assert excised[11] > 0  # non-rep carrier lost the boiler span


def test_refinalize_applies_new_policy_like_a_fresh_corpus(spark, tmp_path):
    """Round-11 VERDICT task 2: refinalize(**new_settings) is the
    sanctioned way to change cut policy mid-life — it re-records the
    spec and runs a full cut.  Proof obligation: a span_min_docs
    change applied by refinalize over an AGED corpus (several delta
    generations deep) yields exactly the curated table a FRESH corpus
    finalized once under that setting would produce; and delta cuts
    after the refinalize run under the new policy without the
    mixed-policy guard firing."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    batches = [
        [{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 12, "text": PRISTINE}],
        [{"doc_id": 15, "text": DOC15}, {"doc_id": 20, "text": LONG_B}],
        [{"doc_id": 16, "text": DOC16}, {"doc_id": 40, "text": DOC40}],
    ]

    def build(root: str, finalize_each: bool) -> CuratedCorpusPipeline:
        feed, out = os.path.join(root, "feed"), os.path.join(root, "out")
        pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)
        for i, batch in enumerate(batches):
            _write_feed(feed, [batch], prefix=f"b{i}")
            q = pipe.start(
                read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                    "doc_id", "text"
                )
            )
            assert q.awaitTermination(300)
            if finalize_each:
                pipe.finalize(spark)  # gen 0 full, then deltas
        return pipe

    # aged corpus: three generations of cuts under span_min_docs=2
    aged = build(str(tmp_path / "aged"), finalize_each=True)
    assert len(aged._committed_gens()) >= 2

    # policy change mid-life: only BOILER2 carried by >= 3 docs now
    # qualifies (15/16/... hold it via DOC15/DOC16 — with min_docs=3 it
    # no longer does, so prior excisions must be undone)
    aged.refinalize(spark, span_min_docs=3)
    aged_rows = _sorted_rows(curated_view(spark, aged.out_dir))

    # fresh corpus, single finalize under the new setting
    fresh_root = str(tmp_path / "fresh")
    fresh = build(fresh_root, finalize_each=False)
    fresh.span_min_docs = 3
    fresh.finalize(spark)
    fresh_rows = _sorted_rows(curated_view(spark, fresh.out_dir))
    assert aged_rows == fresh_rows

    # the spec was re-recorded: a delta cut under the new policy works
    _write_feed(
        os.path.join(str(tmp_path / "aged"), "feed"),
        [[{"doc_id": 60, "text": DOC60}]],
        prefix="late",
    )
    q = aged.start(
        read_doc_stream(
            spark, os.path.join(str(tmp_path / "aged"), "feed"), max_files_per_trigger=1
        ).select("doc_id", "text")
    )
    assert q.awaitTermination(300)
    aged.finalize(spark)  # auto -> delta; no mixed-policy raise
    assert {r["doc_id"] for r in _sorted_rows(curated_view(spark, aged.out_dir))} == {
        10, 12, 15, 16, 20, 40, 60,
    }

    # fingerprint-shaping settings stay locked even through refinalize
    with pytest.raises(ValueError, match="locked"):
        aged.refinalize(spark, span_k=6)


def test_publish_bucketed_serves_point_reads_shuffle_free(spark, tmp_path):
    """Round-11: the curated serving companion.  publish_bucketed
    writes the merged view bucketed by doc_id; (a) content identical
    to curated_view, (b) a doc_id point lookup prunes to ONE bucket
    (SelectedBucketsCount in the scan), (c) a per-doc aggregate runs
    with ZERO Exchange (the bucketed scan already satisfies its
    ClusteredDistribution)."""
    from real_time_financial_market_data_pipeline_spark.plans.inspect import count_shuffles, physical_plan
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _write_feed(
        feed,
        [
            [
                {"doc_id": 10, "text": CARRIER_A},
                {"doc_id": 11, "text": CARRIER_B},
                {"doc_id": 20, "text": LONG_B},
                {"doc_id": 30, "text": DOC40},
            ]
        ],
    )
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)

    table = pipe.publish_bucketed(spark, table="curated_serving_t", n_buckets=4)
    served = spark.table(table)
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted((r.asDict() for r in served.collect()), key=key) == sorted(
        (r.asDict() for r in curated_view(spark, out).collect()), key=key
    )

    # (b) point lookup bucket-prunes.  A bare filter+sort query has no
    # clustering requirement, so Spark's autoBucketedScan heuristic
    # falls back to a plain (splittable) scan; the point-READ serving
    # posture pins the heuristic off, which is when bucket pruning
    # applies (same knob a serving endpoint would set).
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        lookup = served.filter(F.col("doc_id") == 11).orderBy("chunk_idx")
        plan = physical_plan(lookup, "formatted")
        assert "SelectedBucketsCount: 1 out of 4" in plan, plan[:2000]
        chunks = [r["text"] for r in lookup.collect()]
        assert len(chunks) == 2 and all(BOILER not in c for c in chunks)
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")

    # (c) per-doc aggregate: zero Exchange off the bucketed scan
    per_doc = served.groupBy("doc_id").agg(
        F.sum("chunk_tokens").alias("kept"), F.count(F.lit(1)).alias("n")
    )
    assert count_shuffles(per_doc) == 0, physical_plan(per_doc, "simple")
    spark.sql("DROP TABLE IF EXISTS curated_serving_t")


def _publish_pipe(spark, tmp_path, name: str) -> CuratedCorpusPipeline:
    """A small finalized corpus for the publish-protocol tests."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / f"{name}_feed"), str(tmp_path / f"{name}_out")
    _write_feed(
        feed,
        [
            [
                {"doc_id": 10, "text": CARRIER_A},
                {"doc_id": 11, "text": CARRIER_B},
                {"doc_id": 20, "text": LONG_B},
                {"doc_id": 30, "text": DOC40},
            ]
        ],
    )
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)
    return pipe


def test_publish_bucketed_delta_reuses_untouched_buckets(spark, tmp_path):
    """Round-12 VERDICT task 3: after a delta cut, publish(mode=auto)
    rebuilds ONLY the buckets containing redo docs — every other bucket
    file is the SAME inode as the previous snapshot's (hardlink reuse:
    zero read/shuffle/write for unaffected buckets) — and the served
    content stays exactly curated_view.  Also pins the doc_id→bucket
    contract the delta math relies on: Spark's bucket file id IS
    pmod(murmur3_hash(doc_id), n)."""
    import glob
    import re

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    pipe = _publish_pipe(spark, tmp_path, "delta")
    n = 4
    table = "curated_serving_delta_t"
    assert pipe.publish_bucketed(spark, table=table, n_buckets=n) == table
    root = pipe._serving_root(table)
    snap0 = os.path.join(root, "snap_0")
    assert os.path.isdir(snap0)

    # bucket-id contract: every file's rows hash to its file suffix
    for f in glob.glob(os.path.join(snap0, "*.parquet")):
        bid = int(re.search(r"_(\d{5})\.c", os.path.basename(f)).group(1))
        got = (
            spark.read.parquet(f)
            .select(F.pmod(F.hash("doc_id"), F.lit(n)).alias("b"))
            .distinct()
            .collect()
        )
        assert {r["b"] for r in got} == {bid}, (f, got)

    # ingest one more doc (same feed dir — the checkpointed source
    # path), delta cut, auto publish -> delta path
    feed = str(tmp_path / "delta_feed")
    _write_feed(feed, [[{"doc_id": 60, "text": DOC60}]], prefix="late")
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)  # auto -> delta (gen 1)
    assert len(pipe._committed_gens()) == 2
    inodes0 = {
        os.path.basename(p): os.stat(p).st_ino
        for p in glob.glob(os.path.join(snap0, "*.parquet"))
    }
    assert pipe.publish_bucketed(spark, table=table, n_buckets=n) == table
    snap1 = os.path.join(root, "snap_1")
    assert os.path.isdir(snap1) and os.path.isdir(snap0)  # prev retained

    affected = {
        r["b"]
        for r in spark.range(1)
        .select(F.pmod(F.hash(F.lit(60).cast("long")), F.lit(n)).alias("b"))
        .collect()
    }
    reused = rebuilt = 0
    for p in glob.glob(os.path.join(snap1, "*.parquet")):
        bid = int(re.search(r"_(\d{5})\.c", os.path.basename(p)).group(1))
        if bid in affected:
            rebuilt += 1
            assert os.path.basename(p) not in inodes0 or (
                os.stat(p).st_ino != inodes0[os.path.basename(p)]
            )
        else:
            reused += 1
            assert os.stat(p).st_ino == inodes0[os.path.basename(p)], p
    assert reused >= 1 and rebuilt >= 1

    # served content identical to the merged view, point read intact
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted((r.asDict() for r in spark.table(table).collect()), key=key) == sorted(
        (r.asDict() for r in curated_view(spark, pipe.out_dir).collect()), key=key
    )
    # already fresh: auto is a no-op (no new snapshot dir)
    assert pipe.publish_bucketed(spark, table=table, n_buckets=n) == table
    assert not os.path.isdir(os.path.join(root, "snap_2"))
    # explicit delta with nothing staged after a fold-style marker loss
    import pytest

    with pytest.raises(ValueError, match="full publish"):
        pipe.publish_bucketed(spark, table="never_published_t", n_buckets=n, mode="delta")
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_publish_bucketed_per_table_paths_and_ident_guard(spark, tmp_path):
    """Round-12 ADVICE (medium): two serving tables published from the
    same pipeline get DISJOINT directories — publishing B (different
    bucket count) must not clobber A's files, which A's catalog entry
    still points at.  Plus the identifier guard: a non-identifier
    table name raises before any SQL or filesystem effect."""
    pipe = _publish_pipe(spark, tmp_path, "paths")
    a, b = "serving_paths_a", "serving_paths_b"
    pipe.publish_bucketed(spark, table=a, n_buckets=4)
    pipe.publish_bucketed(spark, table=b, n_buckets=2)
    assert os.path.isdir(pipe._serving_root(a)) and os.path.isdir(pipe._serving_root(b))

    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    expect = sorted(
        (r.asDict() for r in curated_view(spark, pipe.out_dir).collect()), key=key
    )
    for t in (a, b):
        assert sorted((r.asDict() for r in spark.table(t).collect()), key=key) == expect
    # A's 4-bucket point read still prunes correctly (files untouched by B)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        plan = spark.table(a).filter(F.col("doc_id") == 11)._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 4" in plan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")

    import pytest

    for bad in ("x; DROP TABLE y", "a-b", "`tick`", "", "a b"):
        with pytest.raises(ValueError, match="identifier"):
            pipe.publish_bucketed(spark, table=bad)
    for t in (a, b):
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")


def test_publish_bucketed_republish_under_concurrent_reader(spark, tmp_path):
    """Round-12 VERDICT task 2: a reader doing point lookups THROUGH a
    republish sees old-or-new rows and NEVER an error — the catalog
    swap is metadata-only (ALTER ... SET LOCATION), the new snapshot is
    complete before the swap, and the previous snapshot stays on disk
    until the next publish supersedes it."""
    import threading

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    pipe = _publish_pipe(spark, tmp_path, "reader")
    table = "curated_serving_reader_t"
    pipe.publish_bucketed(spark, table=table, n_buckets=4)

    stop = threading.Event()
    errors: list[str] = []
    seen: set[tuple] = set()

    def reader() -> None:
        while not stop.is_set():
            try:
                rows = (
                    spark.table(table)
                    .filter(F.col("doc_id") == 11)
                    .select("doc_id", "chunk_idx")
                    .collect()
                )
                seen.add(tuple(sorted((r["doc_id"], r["chunk_idx"]) for r in rows)))
            except Exception as exc:  # noqa: BLE001 — the assertion target
                errors.append(f"{type(exc).__name__}: {exc}"[:500])
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        # two republishes under the running reader: one delta (after a
        # new cut), one forced full — late docs go into the ORIGINAL
        # feed dir (the checkpointed source path)
        feed = str(tmp_path / "reader_feed")
        _write_feed(feed, [[{"doc_id": 61, "text": DOC60}]], prefix="late")
        q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
        assert q.awaitTermination(300)
        pipe.finalize(spark)
        pipe.publish_bucketed(spark, table=table, n_buckets=4)
        pipe.publish_bucketed(spark, table=table, n_buckets=4, mode="full")
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors, errors
    # doc 11's chunks are stable across cuts: every read saw exactly them
    expect = tuple(
        sorted(
            (r["doc_id"], r["chunk_idx"])
            for r in curated_view(spark, pipe.out_dir)
            .filter(F.col("doc_id") == 11)
            .select("doc_id", "chunk_idx")
            .collect()
        )
    )
    assert seen == {expect}, (seen, expect)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_refinalize_restores_policy_on_failed_cut(spark, tmp_path, monkeypatch):
    """Round-12 ADVICE: when the full cut inside refinalize throws, the
    in-memory pipeline must roll back to the prior policy — otherwise
    it carries the NEW settings while the on-disk spec records the OLD
    ones, and every later finalize(auto) raises the mixed-policy error
    instead of proceeding."""
    import pytest

    pipe = _publish_pipe(spark, tmp_path, "rollback")
    prior = pipe.quality_min

    def boom(self, *a, **k):  # noqa: ANN001
        raise RuntimeError("simulated cut failure")

    monkeypatch.setattr(CuratedCorpusPipeline, "finalize_frame", boom)
    with pytest.raises(RuntimeError, match="simulated cut failure"):
        pipe.refinalize(spark, quality_min=0.93)
    monkeypatch.undo()
    assert pipe.quality_min == prior
    # the rolled-back pipeline still matches the stored spec: no
    # mixed-policy raise on the next cut
    pipe.finalize(spark, mode="auto")
    # and a RETRIED refinalize completes normally
    pipe.refinalize(spark, quality_min=0.0)
    assert pipe.quality_min == 0.0


def test_finalize_gate_filter_reads_metrics_as_attributes(spark, tmp_path):
    """Round-12 ADVICE: pin the _pb predicate-pushdown fence's effect
    in the OPTIMIZED plan — the quality/repetition gate must sit ABOVE
    the metric projection and reference `quality` as a computed
    attribute, not re-inline the regex-heavy metric expression into a
    pushed-down Filter copy (which would evaluate the metrics twice, at
    the under-parallelized scan partitioning).  If a Spark upgrade
    dissolves the fence, this fails loudly instead of silently
    regressing the cut by ~2 s."""
    pipe = _publish_pipe(spark, tmp_path, "fence")
    frame = pipe.finalize_frame(spark)
    plan = frame._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    # the metric projection: the Project that ALIASES quality
    proj = [i for i, l in enumerate(lines) if "Project" in l and "AS quality#" in l]
    assert proj, plan[:3000]
    gate = [
        i
        for i, l in enumerate(lines)
        if l.lstrip(" +:-").startswith("Filter") and "quality#" in l
    ]
    assert gate, plan[:3000]
    # tree prints parents first: the gate Filter must be ABOVE (before)
    # the metric Project, i.e. evaluated after it — not pushed below
    assert max(gate) < min(proj), plan[:3000]
    # and the Filter consumes the attribute, not a re-inlined metric
    # expression (no aliasing inside a Filter line)
    assert all("AS quality#" not in lines[i] for i in gate)


def test_fold_under_concurrent_reader_and_grace_sweep(spark, tmp_path):
    """Round-12 VERDICT task 5: a reader evaluating curated_view WHILE
    generations fold sees a complete committed state — never an error,
    never a partial/mixed row set.  The fold tombstones superseded
    generations instead of deleting them (their rows and markers stay
    on disk for readers holding a pre-fold manifest) and the NEXT
    finalize's grace sweep removes them; the reader's generation set
    comes from one atomically-replaced manifest file."""
    import threading

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.curation import (
        _committed_generations,
        _read_curated_manifest,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    texts = {
        10: CARRIER_A, 11: CARRIER_B, 20: LONG_B, 30: DOC40,
        40: DOC15, 41: DOC16, 50: INTERNAL, 60: DOC60,
    }
    ids = sorted(texts)
    _write_feed(feed, [[{"doc_id": ids[0], "text": texts[ids[0]]}]])
    # max_gens=2: every second finalize folds
    pipe = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=2, curated_max_gens=2
    )
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)

    stop = threading.Event()
    errors: list[str] = []
    observed: set[frozenset] = set()

    def reader() -> None:
        while not stop.is_set():
            try:
                docs = frozenset(
                    r["doc_id"]
                    for r in curated_view(spark, out).select("doc_id").collect()
                )
                observed.add(docs)
            except Exception as exc:  # noqa: BLE001 — the assertion target
                errors.append(f"{type(exc).__name__}: {exc}"[:500])
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    valid_states: list[set] = [set(ids[:1])]
    try:
        for i, doc_id in enumerate(ids[1:], start=1):
            _write_feed(feed, [[{"doc_id": doc_id, "text": texts[doc_id]}]], prefix=f"b{i}")
            q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
            assert q.awaitTermination(300)
            pipe.finalize(spark)  # every 2nd call folds (max_gens=2)
            valid_states.append(set(ids[: i + 1]))
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, errors
    # every observed doc set is exactly one committed cut state —
    # nothing partial, nothing mixed across generations
    assert observed, "reader never completed a read"
    for docs in observed:
        assert set(docs) in valid_states, (sorted(docs), valid_states)

    # folds happened and the manifest tracks the writer's committed set
    committed = _committed_generations(out)
    assert committed and len(committed) <= 2
    assert _read_curated_manifest(out) == committed

    # grace mechanics: fold tombstones, next finalize sweeps.  Force one
    # more fold and check the superseded gen survives until the cut after.
    # (retention 0 = sweep at the very next cut; the reader phase above
    # ran with the default retention so a slow read can span cycles)
    pipe.fold_retention_sec = 0.0
    import glob

    pre = set(_committed_generations(out))
    _write_feed(feed, [[{"doc_id": 90, "text": DOC3}]], prefix="z1")
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)
    now = _committed_generations(out)
    on_disk = {
        int(d.split("=")[1])
        for d in glob.glob(os.path.join(out, "curated", "gen=*"))
        for d in [os.path.basename(d)]
    }
    if len(pre) == 2:  # this cut folded: superseded gens still on disk
        assert len(now) == 1
        assert (pre | set(now)) <= on_disk
        # ... and the following cut's grace sweep removes them
        _write_feed(feed, [[{"doc_id": 91, "text": PRISTINE}]], prefix="z2")
        q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
        assert q.awaitTermination(300)
        pipe.finalize(spark)
        manifest = set(_read_curated_manifest(out) or [])
        swept = {
            int(d.split("=")[1])
            for d in os.listdir(os.path.join(out, "curated"))
            if d.startswith("gen=")
        }
        assert swept <= (set(_committed_generations(out)) | manifest)
        assert not (pre & swept)  # pre-fold gens are gone

    # final content is the full corpus regardless of fold timing
    expect = set(ids) | ({90, 91} if len(pre) == 2 else {90})
    got = {r["doc_id"] for r in curated_view(spark, out).select("doc_id").collect()}
    assert got == expect


def test_monotone_ids_postings_pruning_sound_and_bounded(spark, tmp_path):
    """Round-12 VERDICT task 4: with the opt-in monotone-doc_id ingest
    contract, finalize prunes the span-postings inverted index down to
    the not-yet-settled fingerprints.  Twin corpora over identical
    batches (A: monotone_ids=True, B: default) must stay row-identical
    in curated_view after every cut — including the critical post-prune
    scenario (a NEW doc holding an already-settled boilerplate fp must
    still be excised, via its own post-prune posting rows) — while A's
    postings table holds strictly fewer rows.  compact_every=1 makes the
    ingest job's inline compaction — which applies each cut's recorded
    settled set — run on every drained batch.  A full refinalize on the
    pruned corpus falls back to the fingerprint sweep and stays
    correct."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        span_postings_pruned,
        span_postings_view,
    )

    batches = [
        [{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}],
        [
            {"doc_id": 20, "text": LONG_B},
            {"doc_id": 21, "text": DOC15},
            {"doc_id": 22, "text": DOC16},
        ],
        # doc 30 holds BOILER2, which SETTLED (qualified + pruned) at
        # the previous cut — the post-prune excision scenario
        [{"doc_id": 30, "text": "thirty late arrivals remark that " + BOILER2 + " matters for steady community growth and neighborly goodwill everywhere"}],
    ]

    def build(name: str, monotone: bool, finalize_each: bool) -> CuratedCorpusPipeline:
        feed, out = str(tmp_path / f"{name}_feed"), str(tmp_path / f"{name}_out")
        pipe = CuratedCorpusPipeline(
            out_dir=out, span_k=4, span_min_docs=2, monotone_ids=monotone,
            compact_every=1,
        )
        for i, batch in enumerate(batches):
            _write_feed(feed, [batch], prefix=f"b{i}")
            q = pipe.start(
                read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                    "doc_id", "text"
                )
            )
            assert q.awaitTermination(300)
            if finalize_each:
                pipe.finalize(spark)
        if not finalize_each:
            pipe.finalize(spark)
        return pipe

    a = build("mono", monotone=True, finalize_each=True)
    b = build("plain", monotone=False, finalize_each=True)
    fresh = build("fresh", monotone=False, finalize_each=False)

    rows_a = _sorted_rows(curated_view(spark, a.out_dir))
    rows_b = _sorted_rows(curated_view(spark, b.out_dir))
    rows_f = _sorted_rows(curated_view(spark, fresh.out_dir))
    assert rows_a == rows_b == rows_f
    # doc 30 WAS excised post-prune (BOILER2 removed)
    d30 = [r for r in rows_a if r["doc_id"] == 30]
    assert d30 and all(BOILER2 not in r["text"] for r in d30)
    assert sum(r["excised_tokens"] for r in d30) > 0

    # the pruned index is strictly smaller and marked
    n_a = span_postings_view(spark, a.out_dir).count()
    n_b = span_postings_view(spark, b.out_dir).count()
    assert n_a < n_b, (n_a, n_b)
    assert span_postings_pruned(a.out_dir)
    assert not span_postings_pruned(b.out_dir)

    # full cut on the pruned corpus: sweep fallback, still identical
    a.refinalize(spark, quality_min=0.0)
    b.refinalize(spark, quality_min=0.0)
    assert _sorted_rows(curated_view(spark, a.out_dir)) == _sorted_rows(
        curated_view(spark, b.out_dir)
    )

    # the contract is lifetime-locked like every index-shaping setting
    import pytest

    flipped = CuratedCorpusPipeline(
        out_dir=a.out_dir, span_k=4, span_min_docs=2, monotone_ids=False
    )
    with pytest.raises(ValueError, match="lifetime"):
        flipped.job()._validate_config()


def test_monotone_ids_violation_fails_the_stream(spark, tmp_path):
    """The monotone contract is ENFORCED, not assumed: a batch whose
    smallest doc_id does not exceed the high-water mark fails the
    stream (silently admitting it would make the postings pruning
    unsound)."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    pipe = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=2, monotone_ids=True
    )
    _write_feed(feed, [[{"doc_id": 10, "text": CARRIER_A}]])
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)

    _write_feed(feed, [[{"doc_id": 5, "text": CARRIER_B}]], prefix="bad")
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    with pytest.raises(Exception, match="monotone_ids contract violated"):
        q.awaitTermination(300)


def test_publish_crash_leaves_only_inprog_debris(spark, tmp_path):
    """Round-12 crash-path pin: a crashed publish leaves only
    `_publish_inprog` debris — the live table keeps serving and the
    next publish clears it."""
    pipe = _publish_pipe(spark, tmp_path, "crashpub")
    table = "crashpub_serving_t"
    pipe.publish_bucketed(spark, table=table, n_buckets=4)
    before = sorted(
        (r["doc_id"], r["chunk_idx"]) for r in spark.table(table).collect()
    )

    # crash mid-publish: staged dir exists, catalog untouched
    root = pipe._serving_root(table)
    inprog = os.path.join(root, "_publish_inprog")
    os.makedirs(inprog, exist_ok=True)
    with open(os.path.join(inprog, "partial.parquet"), "w") as fh:
        fh.write("garbage")  # half-written debris
    assert sorted(
        (r["doc_id"], r["chunk_idx"]) for r in spark.table(table).collect()
    ) == before  # reader unaffected by the debris
    pipe.publish_bucketed(spark, table=table, n_buckets=4, mode="full")
    assert not os.path.exists(os.path.join(inprog, "partial.parquet"))
    assert sorted(
        (r["doc_id"], r["chunk_idx"]) for r in spark.table(table).collect()
    ) == before

    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_delta_publish_after_refinalize_full_cut(spark, tmp_path):
    """A refinalize (full cut) commits a generation whose docs list is
    the WHOLE corpus — a following delta publish must classify every
    bucket affected and rebuild them all from the new generation's
    rows, landing exactly curated_view under the new policy."""
    pipe = _publish_pipe(spark, tmp_path, "refpub")
    table = "refpub_serving_t"
    pipe.publish_bucketed(spark, table=table, n_buckets=4)
    pipe.refinalize(spark, quality_min=0.0)
    pipe.publish_bucketed(spark, table=table, n_buckets=4, mode="delta")
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted((r.asDict() for r in spark.table(table).collect()), key=key) == sorted(
        (r.asDict() for r in curated_view(spark, pipe.out_dir).collect()), key=key
    )
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_prune_marker_written_before_first_rewrite(spark, tmp_path):
    """Round-13 ADVICE (medium), against record_settled_fps: the
    may-be-pruned marker must be down BEFORE the pending settled set
    goes live — otherwise a compaction could drop posting rows while
    span_postings_pruned() is still False, and a later FULL cut would
    take the postings-split branch and silently emit old holders of
    settled fps unexcised.  A crash at the final rename (staged set ->
    `_prune_pending`) leaves the marker down and NO pending set (rows
    merely linger until the next cut re-records; sound)."""
    import pytest

    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        _PRUNE_PENDING,
        _write_monotone_watermark,
        pending_settled_fps,
        record_settled_fps,
        span_postings_pruned,
    )

    out = str(tmp_path / "idx")
    post = os.path.join(out, "index_spanpostings")
    for i in range(2):
        spark.createDataFrame(
            [(100 + i, 1), (999, 2)], "fp long, doc_id long"
        ).write.parquet(os.path.join(post, f"batch_id={i}"))
    settled = spark.createDataFrame([(999,)], "fp long")

    # no watermark yet -> nothing can be scoped: no recording, NO marker
    assert record_settled_fps(out, settled) is False
    assert not span_postings_pruned(out)
    assert pending_settled_fps(spark, out) is None

    _write_monotone_watermark(out, 1, 2)
    final = os.path.join(post, _PRUNE_PENDING)
    real_rename = os.rename
    seen = []

    def observing_rename(src, dst):
        if os.path.normpath(str(dst)) == os.path.normpath(final):
            # the pending set is about to go live: the marker must
            # already be down
            seen.append(span_postings_pruned(out))
            raise RuntimeError("simulated crash at the pending-set rename")
        return real_rename(src, dst)

    os.rename = observing_rename
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            record_settled_fps(out, settled)
    finally:
        os.rename = real_rename
    assert seen == [True]
    assert span_postings_pruned(out)
    assert pending_settled_fps(spark, out) is None

    # the re-run records the set; the posting rows are untouched until
    # a compaction applies it
    assert record_settled_fps(out, settled) is True
    fps, max_doc_id = pending_settled_fps(spark, out)
    assert [r["fp"] for r in fps.collect()] == [999] and max_doc_id == 2
    assert spark.read.parquet(post).count() == 4


def test_publish_retention_spares_catalog_snapshot_over_debris(spark, tmp_path):
    """Round-13 ADVICE (low): a crash between the snap rename and the
    catalog swap leaves an UNDECLARED snap_K debris dir with a higher
    id than the reader-visible snapshot.  The next publish's retention
    must spare the snapshot the CATALOG points at (cur_loc) — not
    snaps[-1], which would retain the debris and delete the directory
    in-flight readers still resolve."""
    import shutil

    pipe = _publish_pipe(spark, tmp_path, "retain")
    table = "retain_serving_t"
    pipe.publish_bucketed(spark, table=table, n_buckets=4, mode="full")
    pipe.publish_bucketed(spark, table=table, n_buckets=4, mode="full")
    root = pipe._serving_root(table)
    declared = pipe._serving_location(spark, table)
    assert os.path.basename(declared) == "snap_1"
    expect = sorted(
        (r["doc_id"], r["chunk_idx"]) for r in spark.table(table).collect()
    )

    # simulate the crash window: a fully-renamed but never-declared
    # snapshot with a higher id
    debris = os.path.join(root, "snap_2")
    shutil.copytree(declared, debris)

    pipe.publish_bucketed(spark, table=table, n_buckets=4, mode="full")
    assert os.path.basename(pipe._serving_location(spark, table)) == "snap_3"
    # the reader-visible previous snapshot survived; the debris did not
    assert os.path.isdir(declared)
    assert not os.path.isdir(debris)
    assert not os.path.isdir(os.path.join(root, "snap_0"))
    assert sorted(
        (r["doc_id"], r["chunk_idx"]) for r in spark.table(table).collect()
    ) == expect
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_delta_publish_filename_guard_falls_back_to_full(spark, tmp_path):
    """Round-13 VERDICT task 2: the delta publish maps previous-
    snapshot files to buckets by parsing Spark's PRIVATE bucketed
    file-name format.  A file that fails the format regex (a future
    Spark naming change, or foreign debris) must force a warned
    full-publish fallback — the pre-guard behavior silently DROPPED
    every non-redo row of the affected buckets and every untouched
    bucket."""
    import shutil

    import pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    pipe = _publish_pipe(spark, tmp_path, "nameguard")
    n, table = 4, "nameguard_serving_t"
    pipe.publish_bucketed(spark, table=table, n_buckets=n)

    # make the table stale (a delta cut) so auto resolves to delta
    feed = str(tmp_path / "nameguard_feed")
    _write_feed(feed, [[{"doc_id": 60, "text": DOC60}]], prefix="late")
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)

    # plant a valid-parquet file whose NAME doesn't carry a bucket id
    cur = pipe._serving_location(spark, table)
    src = next(f for f in os.listdir(cur) if f.endswith(".parquet"))
    shutil.copy2(os.path.join(cur, src), os.path.join(cur, "part-oddly-named.parquet"))

    with pytest.warns(UserWarning, match="bucketed file-name"):
        pipe.publish_bucketed(spark, table=table, n_buckets=n)

    # the fallback rebuilt everything from curated_view: content exact,
    # no unmappable file carried forward, every file conforms
    new_loc = pipe._serving_location(spark, table)
    assert new_loc != cur
    files = [f for f in os.listdir(new_loc) if f.endswith(".parquet")]
    assert files
    import re as _re

    assert all(_re.search(r"_(\d{5})\.c.*\.parquet$", f) for f in files), files
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted(
        (r.asDict() for r in spark.table(table).collect()), key=key
    ) == sorted(
        (r.asDict() for r in curated_view(spark, pipe.out_dir).collect()), key=key
    )
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_auto_delta_high_affected_fraction_falls_back_to_full(spark, tmp_path):
    """Round-13 VERDICT task 3 (fallback half): an AUTO-resolved delta
    that would rebuild more than half the buckets takes the plain full
    rewrite instead (the delta's file-minus-join assembly would cost
    more than it avoids); an EXPLICIT mode='delta' is honored as
    asked.  Path taken is observed through the staging dir each mode
    writes its snapshot to."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    pipe = _publish_pipe(spark, tmp_path, "fracfall")
    n, table = 2, "fracfall_serving_t"
    pipe.publish_bucketed(spark, table=table, n_buckets=n)

    calls: list[str] = []
    orig = pipe._write_serving_snapshot

    def spy(spark_, frame, table_, n_buckets_, dest):
        calls.append(os.path.basename(dest))
        return orig(spark_, frame, table_, n_buckets_, dest)

    pipe._write_serving_snapshot = spy

    # ids covering BOTH buckets (pmod(hash, 2)) -> affected fraction 1
    cand = spark.createDataFrame(
        [(i,) for i in range(60, 80)], "doc_id long"
    ).select("doc_id", F.pmod(F.hash("doc_id"), F.lit(n)).alias("b"))
    by_bucket = {r["b"]: r["doc_id"] for r in cand.collect()}
    assert set(by_bucket) == {0, 1}
    feed = str(tmp_path / "fracfall_feed")
    _write_feed(
        feed,
        [[{"doc_id": int(by_bucket[0]), "text": DOC60},
          {"doc_id": int(by_bucket[1]), "text": DOC15}]],
        prefix="wide",
    )
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)

    pipe.publish_bucketed(spark, table=table, n_buckets=n)  # auto
    assert calls and calls[-1] == "_publish_inprog", calls  # full path

    # stale again -> EXPLICIT delta still honored even at fraction 1
    bigger = max(by_bucket.values()) + max(by_bucket.values())
    wide2 = {
        r["b"]: r["doc_id"]
        for r in spark.createDataFrame(
            [(int(bigger) + i,) for i in range(20)], "doc_id long"
        ).select("doc_id", F.pmod(F.hash("doc_id"), F.lit(n)).alias("b")).collect()
    }
    assert set(wide2) == {0, 1}
    _write_feed(
        feed,
        [[{"doc_id": int(wide2[0]), "text": DOC16},
          {"doc_id": int(wide2[1]), "text": LONG_B}]],
        prefix="wider",
    )
    q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
    assert q.awaitTermination(300)
    pipe.finalize(spark)
    pipe.publish_bucketed(spark, table=table, n_buckets=n, mode="delta")
    assert calls[-1] == "_publish_delta_tmp", calls

    # both paths end at the same place: content exact
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted(
        (r.asDict() for r in spark.table(table).collect()), key=key
    ) == sorted(
        (r.asDict() for r in curated_view(spark, pipe.out_dir).collect()), key=key
    )
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_auto_publish_serving_never_stale_across_cuts_and_fold(spark, tmp_path):
    """Round-13 VERDICT task 3 (hook half): with auto_publish=True the
    serving table reflects EVERY committed generation immediately
    after each finalize — across delta cuts AND a generation fold
    (whose renumbering forces the publish's own full fallback) — and
    its content always equals curated_view."""
    import json

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.curation import _SERVING_GENS_MARKER

    feed, out = str(tmp_path / "ap_feed"), str(tmp_path / "ap_out")
    table = "autopub_serving_t"
    pipe = CuratedCorpusPipeline(
        out_dir=out,
        span_k=4,
        span_min_docs=2,
        curated_max_gens=2,  # the third cut folds
        fold_retention_sec=0.0,
        auto_publish=True,
        serving_table=table,
        serving_buckets=4,
    )
    batches = [
        [{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}],
        [{"doc_id": 20, "text": LONG_B}, {"doc_id": 21, "text": DOC15}],
        [{"doc_id": 30, "text": DOC16}],
        [{"doc_id": 40, "text": DOC40}],
    ]
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    for i, batch in enumerate(batches):
        _write_feed(feed, [batch], prefix=f"b{i}")
        q = pipe.start(read_doc_stream(spark, feed).select("doc_id", "text"))
        assert q.awaitTermination(300)
        pipe.finalize(spark)
        loc = pipe._serving_location(spark, table)
        assert loc is not None
        with open(os.path.join(loc, _SERVING_GENS_MARKER)) as fh:
            assert json.load(fh)["gens"] == pipe._committed_gens(), f"stale after cut {i}"
        assert sorted(
            (r.asDict() for r in spark.table(table).collect()), key=key
        ) == sorted(
            (r.asDict() for r in curated_view(spark, out).collect()), key=key
        ), f"content drift after cut {i}"
    # the fold actually happened during the run (gens were renumbered)
    assert len(pipe._committed_gens()) < len(batches)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_fused_prune_rides_compaction_and_stays_equivalent(spark, tmp_path):
    """Round-13 VERDICT task 4: with monotone_ids, finalize records the
    settled fp set at each cut (record_settled_fps) and the postings
    table's own compaction — a rewrite it performs anyway — drops those
    rows inside its resolve.  Twin guarantee: curated_view stays
    row-identical to an unpruned twin and a from-scratch recompute
    after every cut, including the post-prune excision scenario (a NEW
    doc holding an already-settled fp), while the pruned corpus's
    postings table ends strictly smaller."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        pending_settled_fps,
        span_postings_pruned,
        span_postings_view,
    )

    batches = [
        [{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}],
        [
            {"doc_id": 20, "text": LONG_B},
            {"doc_id": 21, "text": DOC15},
            {"doc_id": 22, "text": DOC16},
        ],
        # doc 30 holds BOILER2, settled at a previous cut — the
        # post-prune excision scenario
        [{"doc_id": 30, "text": "thirty late arrivals remark that " + BOILER2 + " matters for steady community growth and neighborly goodwill everywhere"}],
    ]

    def build(name: str, **kw) -> CuratedCorpusPipeline:
        feed, out = str(tmp_path / f"{name}_feed"), str(tmp_path / f"{name}_out")
        pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2, **kw)
        for i, batch in enumerate(batches):
            _write_feed(feed, [batch], prefix=f"b{i}")
            q = pipe.start(
                read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                    "doc_id", "text"
                )
            )
            assert q.awaitTermination(300)
            pipe.finalize(spark)
        return pipe

    # compact_every=1: inline compaction fires every batch, so each
    # cut's recorded settled set is swept by the very next drain.
    a = build("fused", monotone_ids=True, compact_every=1)
    b = build("plain", monotone_ids=False, compact_every=1)

    rows_a = _sorted_rows(curated_view(spark, a.out_dir))
    rows_b = _sorted_rows(curated_view(spark, b.out_dir))
    assert rows_a == rows_b
    d30 = [r for r in rows_a if r["doc_id"] == 30]
    assert d30 and all(BOILER2 not in r["text"] for r in d30)
    assert sum(r["excised_tokens"] for r in d30) > 0

    # the marker landed at record time (before any removal could)
    assert span_postings_pruned(a.out_dir)
    assert not span_postings_pruned(b.out_dir)
    # the final cut's recording is pending; a stream-stopped compaction
    # sweeps it inside its rewrite — after which the fused postings
    # table is strictly smaller than the unpruned twin's
    assert pending_settled_fps(spark, a.out_dir) is not None
    a.job().compact(spark)
    b.job().compact(spark)
    n_a = span_postings_view(spark, a.out_dir).count()
    n_b = span_postings_view(spark, b.out_dir).count()
    assert n_a < n_b, (n_a, n_b)
    assert _sorted_rows(curated_view(spark, a.out_dir)) == rows_a

    # delta cut AFTER the fused sweep: doc 40 (a new holder of settled
    # BOILER2) lands in one batch, doc 41 in the NEXT — whose inline
    # compaction (compact_every=1) folds doc 40's now-committed batch
    # dir while the pending recording exists.  The watermark scope
    # must keep doc 40's posting rows live (40 > the recording cut's
    # max id) or the excision split would classify it untouched and
    # emit the boilerplate unexcised — the exact failure the fused
    # twin aging run's fold certification caught pre-fix.  Doc 40's
    # context words are UNIQUE (no k-gram shared with any other doc's
    # boundary), so its only qualifying windows are BOILER2-internal —
    # all settled, all in the pending set: an unscoped anti-join
    # leaves it with zero live rows and the test fails (verified).
    for pipe, nm in ((a, "fused"), (b, "plain")):
        f = str(tmp_path / f"{nm}_feed")
        _write_feed(f, [[{"doc_id": 40, "text": "forty fresh reviews mention quietly " + BOILER2 + " whereas distant hills echo calm evening songs across quiet meadows tonight"}]], prefix="b3")
        _write_feed(f, [[{"doc_id": 41, "text": "forty one plain unique closing statements about gardens rivers and mountain paths for everyone"}]], prefix="b4")
        q = pipe.start(
            read_doc_stream(spark, f, max_files_per_trigger=1).select("doc_id", "text")
        )
        assert q.awaitTermination(300)
        pipe.finalize(spark)
    rows_a2 = _sorted_rows(curated_view(spark, a.out_dir))
    rows_b2 = _sorted_rows(curated_view(spark, b.out_dir))
    assert rows_a2 == rows_b2
    d40 = [r for r in rows_a2 if r["doc_id"] == 40]
    assert d40 and all(BOILER2 not in r["text"] for r in d40)


def test_monotone_ids_without_compaction_cadence_is_refused(tmp_path):
    """The postings prune rides the compaction rewrite, so monotone_ids
    without a compact_every cadence would record settled rows that are
    never removed — refused at CONSTRUCTION instead of at a later cut."""
    import pytest

    with pytest.raises(ValueError, match="compact_every"):
        CuratedCorpusPipeline(
            out_dir=str(tmp_path / "bad_out"), monotone_ids=True, compact_every=None
        )
    # either half alone is a valid configuration
    CuratedCorpusPipeline(out_dir=str(tmp_path / "a"), monotone_ids=False, compact_every=None)
    CuratedCorpusPipeline(out_dir=str(tmp_path / "b"), monotone_ids=True, compact_every=1)


def test_fused_prune_applied_mark_skips_repeat_compactions(spark, tmp_path):
    """Round-14 VERDICT task 1 (second half): once a compaction has
    applied the pending settled set (anti-join executed, publish
    complete), an applied mark with the recording's identity is
    written — subsequent compactions of the postings table SKIP the
    anti-join (bit-identical: the snapshot already lost those rows and
    post-recording deltas sit above the doc_id watermark) until a new
    cut re-records a different identity."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        _pending_prune_identity,
        _read_prune_applied,
        span_postings_view,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    # compact_every high: inline compaction never fires in this test, so
    # every fold below is an explicit compact() whose join count we pin
    pipe = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=2,
        monotone_ids=True, compact_every=100,
    )

    def drain(batches, prefix):
        _write_feed(feed, batches, prefix=prefix)
        q = pipe.start(
            read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)

    # two batches -> two postings dirs, so the first compact really folds
    drain([[{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}]], "b0")
    drain([[{"doc_id": 20, "text": LONG_B}]], "b1")
    pipe.finalize(spark)  # fused: records the settled set
    ident0 = _pending_prune_identity(out)
    assert ident0 is not None
    assert _read_prune_applied(out) is None

    job = pipe.job()
    job.compact(spark)  # applies the recording inside the fold
    assert getattr(job, "_prune_joins_run", 0) == 1
    assert _read_prune_applied(out) == ident0
    rows_after_apply = sorted(
        (r["fp"], r["doc_id"]) for r in span_postings_view(spark, out).collect()
    )

    # a new batch lands (doc above the watermark), then a REPEAT compact:
    # the pending identity is unchanged, so the anti-join is skipped —
    # and the result is bit-identical (old rows as applied, new doc's
    # rows intact above the watermark)
    drain([[{"doc_id": 30, "text": "thirty late arrivals remark that " + BOILER2 + " matters for steady community growth and neighborly goodwill everywhere"}]], "b2")
    job.compact(spark)
    assert getattr(job, "_prune_joins_run", 0) == 1, "repeat compaction re-paid the join"
    assert _read_prune_applied(out) == ident0
    rows_after_skip = sorted(
        (r["fp"], r["doc_id"]) for r in span_postings_view(spark, out).collect()
    )
    assert set(rows_after_apply) <= set(rows_after_skip)
    assert any(d == 30 for _, d in rows_after_skip), "new doc's rows lost"

    # the next cut re-records (higher watermark) -> the join runs again
    pipe.finalize(spark)
    ident1 = _pending_prune_identity(out)
    assert ident1 is not None and ident1 != ident0
    drain([[{"doc_id": 40, "text": "forty one plain unique closing statements about gardens rivers and mountain paths for everyone"}]], "b3")
    job.compact(spark)
    assert getattr(job, "_prune_joins_run", 0) == 2
    assert _read_prune_applied(out) == ident1

    # crash sim: the publish completed but the mark write didn't land
    # (the mark is written AFTER compact_latest_state returns, so this
    # is exactly the crash-between window).  The protocol's answer is
    # a conservative RE-PAY: the next compaction runs the (idempotent)
    # anti-join again, regenerates the mark, and the view is unchanged.
    rows_before = _sorted_rows(curated_view(spark, out))
    os.remove(os.path.join(out, "index_spanpostings", "_prune_applied.json"))
    drain([[{"doc_id": 50, "text": "fifty final remarks on orchards bridges and winding coastal trails for travellers"}]], "b4")
    job.compact(spark)
    assert getattr(job, "_prune_joins_run", 0) == 3, "lost mark must re-pay"
    assert _read_prune_applied(out) == ident1
    assert _sorted_rows(curated_view(spark, out)) == rows_before


def test_settled_recording_seq_invalidates_applied_mark_at_same_watermark(
    spark, tmp_path
):
    """Round-14 ADVICE (low): the recording identity must distinguish
    two cuts at the SAME monotone watermark — e.g. a full cut after
    lowering span_min_docs enlarges the settled set with no new drained
    batches.  Without the per-record seq counter both recordings share
    (max_doc_id, batch_id), so the second would be skipped as
    already-applied and its enlarged settled set silently never pruned
    until the watermark next advances."""
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        _pending_prune_identity,
        _read_prune_applied,
        _write_monotone_watermark,
        _write_prune_applied,
        record_settled_fps,
    )

    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "index_spanpostings"))
    _write_monotone_watermark(out, 3, 42)

    assert record_settled_fps(
        out, spark.createDataFrame([(11,), (12,)], "fp long")
    )
    i0 = _pending_prune_identity(out)
    assert i0 is not None and i0[0] == 42 and i0[2] == 1
    _write_prune_applied(out, i0)  # a compaction applied it

    # enlarged settled set, SAME watermark: identity must still change
    assert record_settled_fps(
        out, spark.createDataFrame([(11,), (12,), (13,)], "fp long")
    )
    i1 = _pending_prune_identity(out)
    assert i1 is not None and i1[:2] == i0[:2], "watermark fields unchanged"
    assert i1[2] == 2 and i1 != i0, "seq must discriminate the re-record"
    # the stale applied mark no longer matches -> the next postings
    # resolve re-runs the anti-join instead of skipping
    assert _read_prune_applied(out) == i0 != i1


def test_replayed_uncommitted_batch_settled_rows_linger_soundly(spark, tmp_path):
    """Round-15 VERDICT task 1: execute the one applied-mark edge argued
    sound only in prose (incremental._write_prune_applied docstring).
    The monotone watermark advances inside process(), BEFORE the
    checkpoint commit — so a crash in that window leaves an uncommitted
    batch whose delta carries doc_ids <= the watermark a cut then
    records.  A compaction applies the recording (anti-join over the
    COMMITTED fold only; the uncommitted delta is outside the fold by
    committed_fold_bound) and writes the applied mark.  The restarted
    stream REPLAYS the batch; the next compaction folds it in under the
    matching mark's skip, so its settled rows LINGER in the snapshot.
    Pins: (a) the lingering rows are present and harmless — curated
    output unchanged, the doc's settled span excised, and the whole
    view ≡ a from-scratch full recompute; (b) the next cut re-records a
    different identity and ITS compaction removes them."""
    import re

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        _pending_prune_identity,
        _read_prune_applied,
        span_postings_view,
    )

    doc15 = (
        "the fifteenth interlude describes remote glaciers and ancient "
        "lighthouses guarding emerald harbors through long winters"
    )
    carrier_c = (
        "the twentieth chronicle arrives and proudly states "
        + BOILER
        + " before drifting toward wholly original closing sentences about winding rivers"
    )
    doc30 = (
        "the thirtieth afterword lists renovated observatories beside "
        "tranquil meadows during gentle autumn rainfall seasons"
    )
    batches = [
        [{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}],
        [{"doc_id": 15, "text": doc15}],
        [{"doc_id": 20, "text": carrier_c}],  # the to-be-replayed batch
        [{"doc_id": 30, "text": doc30}],
    ]

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    # compact_every high: no inline compaction — every fold below is an
    # explicit compact() whose anti-join count we pin
    pipe = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=2,
        monotone_ids=True, compact_every=100,
    )

    def drain(batch=None, prefix=None):
        if batch is not None:
            _write_feed(feed, [batch], prefix=prefix)
        q = pipe.start(
            read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)

    drain(batches[0], "b0")
    drain(batches[1], "b1")
    drain(batches[2], "b2")

    # CRASH between the watermark write and the checkpoint commit of the
    # doc-20 batch (process() writes the watermark before Spark commits,
    # so trimming the commit log reproduces the window exactly — the
    # round-7 recipe)
    commits = os.path.join(out, "_checkpoints", "incremental_dedup", "commits")
    offsets = os.path.join(out, "_checkpoints", "incremental_dedup", "offsets")
    n = max(
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(out, "corpus"))
        if re.fullmatch(r"batch_id=\d+", d)
    )
    for log_dir, keep_below in ((commits, n), (offsets, n + 1)):
        for f in os.listdir(log_dir):
            name = f.lstrip(".").split(".")[0]
            if name.isdigit() and int(name) >= keep_below:
                os.remove(os.path.join(log_dir, f))

    # the cut records the settled set (BOILER: docs 10, 11, 20) at a
    # watermark that already covers the UNCOMMITTED doc 20
    pipe.finalize(spark)
    ident0 = _pending_prune_identity(out)
    assert ident0 is not None and ident0[0] >= 20
    settled_fps = {
        r["fp"]
        for r in spark.read.parquet(
            os.path.join(out, "index_spanpostings", "_prune_pending")
        ).collect()
    }
    assert settled_fps

    def lingering():
        return sorted(
            (r["fp"], r["doc_id"])
            for r in span_postings_view(spark, out).collect()
            if r["fp"] in settled_fps and r["doc_id"] <= ident0[0]
        )

    # compaction applies the recording over the COMMITTED fold only:
    # docs 10/11 lose their settled rows; the uncommitted doc-20 delta
    # (outside the fold) keeps its settled row
    job = pipe.job()
    job.compact(spark)
    assert getattr(job, "_prune_joins_run", 0) == 1
    assert _read_prune_applied(out) == ident0
    assert {d for _, d in lingering()} == {20}
    curated_before = _sorted_rows(curated_view(spark, out))

    # restart -> the stream replays the uncommitted batch; the repeat
    # compaction folds it in under the matching mark's SKIP, so doc
    # 20's settled rows linger inside the published snapshot
    drain()
    job.compact(spark)
    assert getattr(job, "_prune_joins_run", 0) == 1, "skip must hold on replay"
    assert _read_prune_applied(out) == ident0
    assert {d for _, d in lingering()} == {20}, "lingering settled rows expected"

    # (a) harmless: curated output unchanged; the doc's settled span is
    # excised (doc 10 is the protected representative)
    assert _sorted_rows(curated_view(spark, out)) == curated_before
    d20 = [r for r in curated_before if r["doc_id"] == 20]
    assert d20 and all(BOILER not in r["text"] for r in d20)

    # (b) the next cut re-records a different identity; ITS compaction
    # re-runs the anti-join and the lingering rows leave
    drain(batches[3], "b3")
    pipe.finalize(spark)
    ident1 = _pending_prune_identity(out)
    assert ident1 is not None and ident1 != ident0
    job.compact(spark)
    assert getattr(job, "_prune_joins_run", 0) == 2
    assert _read_prune_applied(out) == ident1
    assert lingering() == []

    # output ≡ full recompute: a from-scratch twin over the same docs
    twin_feed = str(tmp_path / "twin_feed")
    twin = CuratedCorpusPipeline(
        out_dir=str(tmp_path / "twin_out"), span_k=4, span_min_docs=2,
        monotone_ids=True, compact_every=100,
    )
    for i, batch in enumerate(batches):
        _write_feed(twin_feed, [batch], prefix=f"b{i}")
        q = twin.start(
            read_doc_stream(spark, twin_feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)
    twin.finalize(spark)
    assert _sorted_rows(curated_view(spark, out)) == _sorted_rows(
        curated_view(spark, twin.out_dir)
    )


def test_refinalize_lower_min_docs_reprunes_despite_applied_mark(spark, tmp_path):
    """Round-14 ADVICE (low), e2e form of the seq-discriminator fix: a
    refinalize that LOWERS span_min_docs runs a full cut that enlarges
    the settled set with NO new drained batches — same monotone
    watermark, same batch id.  Under the old (max_doc_id, batch_id)
    identity the re-recording matched the applied mark, so repeat
    compactions skipped the anti-join and the enlarged settled set was
    silently never pruned until the watermark next advanced.  With the
    per-record seq, the re-recording invalidates the mark and the next
    compaction prunes the newly-settled rows."""
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        _pending_prune_identity,
        _read_prune_applied,
        span_postings_view,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    carrier_c = (
        "the twentieth chronicle arrives and proudly states "
        + BOILER
        + " before drifting toward wholly original closing sentences about winding rivers"
    )
    # BOILER held by docs 10/11/20 (n_docs=3); BOILER2 by 21/22 (n_docs=2)
    batches = [
        [{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}],
        [
            {"doc_id": 20, "text": carrier_c},
            {"doc_id": 21, "text": DOC15},
            {"doc_id": 22, "text": DOC16},
        ],
    ]
    pipe = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=3,
        monotone_ids=True, compact_every=100,
    )
    for i, batch in enumerate(batches):
        _write_feed(feed, [batch], prefix=f"b{i}")
        q = pipe.start(
            read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)

    def pending_fps():
        return {
            r["fp"]
            for r in spark.read.parquet(
                os.path.join(out, "index_spanpostings", "_prune_pending")
            ).collect()
        }

    # cut at min_docs=3: only BOILER (3 holders) settles
    pipe.finalize(spark)
    ident1 = _pending_prune_identity(out)
    assert ident1 is not None and ident1[2] == 1
    s1 = pending_fps()
    assert s1

    job = pipe.job()
    job.compact(spark)  # applies S1
    assert getattr(job, "_prune_joins_run", 0) == 1
    assert _read_prune_applied(out) == ident1

    # POLICY CHANGE, no new data: full cut at min_docs=2 enlarges the
    # settled set (BOILER2, 2 holders) at the SAME watermark
    pipe.refinalize(spark, span_min_docs=2)
    ident2 = _pending_prune_identity(out)
    assert ident2 is not None
    assert ident2[:2] == ident1[:2], "watermark/batch must be unchanged"
    assert ident2[2] == 2 and ident2 != ident1
    s2 = pending_fps()
    enlarged = s2 - s1
    assert enlarged, "lowered threshold must enlarge the settled set"

    def lingering():
        return sorted(
            (r["fp"], r["doc_id"])
            for r in span_postings_view(spark, out).collect()
            if r["fp"] in enlarged and r["doc_id"] <= ident2[0]
        )

    assert lingering(), "newly-settled rows should still be live pre-compact"
    # a compaction needs >=2 dirs to fold (a single-snapshot layer is a
    # no-op — no resolve, no join either way): land one more batch, the
    # shape under which the OLD identity's silent skip would manifest.
    # Doc 30 sits ABOVE ident2's watermark, so the scoped anti-join
    # never touches its rows.
    _write_feed(feed, [[{"doc_id": 30, "text": (
        "the thirtieth afterword lists renovated observatories beside "
        "tranquil meadows during gentle autumn rainfall seasons"
    )}]], prefix="b2")
    q = pipe.start(
        read_doc_stream(spark, feed, max_files_per_trigger=1).select(
            "doc_id", "text"
        )
    )
    assert q.awaitTermination(300)
    job.compact(spark)
    assert getattr(job, "_prune_joins_run", 0) == 2, (
        "re-record at unchanged watermark must re-run the anti-join "
        "(the advice's silent-skip failure)"
    )
    assert _read_prune_applied(out) == ident2
    assert lingering() == [], "enlarged settled set was not pruned"

    # the new policy actually took effect: BOILER2 is excised from its
    # non-representative holder (doc 21 is the min-id representative)
    rows = _sorted_rows(curated_view(spark, out))
    d22 = [r for r in rows if r["doc_id"] == 22]
    assert d22 and all(BOILER2 not in r["text"] for r in d22)


# ---------------------------------------------------------------------------
# exhaustive crash-point sweeps of the fused-prune protocol (round 15)
# ---------------------------------------------------------------------------
#
# Same method as test_compaction_guard's staged-publish sweep (shared
# harness in tests/crashsweep.py): count every Python-side filesystem
# mutation the protocol performs under the postings table, then re-run
# it crashing at each one.  The round-13 fused-prune bug and the
# round-14/15 identity edges were each caught by a test that PLANTED a
# specific window; these sweeps cover all of them mechanically.


def test_settled_recording_crash_sweep_never_torn(spark, tmp_path):
    """record_settled_fps at every crash point: the readable pending
    recording is always ABSENT, the OLD complete set, or the NEW
    complete set — never a torn set (the staged inprog dir only becomes
    readable via the final atomic rename), and recovery is simply
    re-recording (seq keeps advancing, so a matching applied mark can
    never survive a re-record)."""
    from crashsweep import _FsCrasher, _SimCrash

    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        _pending_prune_identity,
        _read_prune_applied,
        _write_monotone_watermark,
        _write_prune_applied,
        pending_settled_fps,
        record_settled_fps,
    )

    out = str(tmp_path / "out")
    postings = os.path.join(out, "index_spanpostings")
    os.makedirs(postings)
    _write_monotone_watermark(out, 3, 42)

    def settled(fps: list[int]):
        return spark.createDataFrame([(f,) for f in fps], "fp long")

    def pending_fps() -> set[int] | None:
        got = pending_settled_fps(spark, out)
        if got is None:
            return None
        df, max_doc_id = got
        assert max_doc_id == 42
        return {r["fp"] for r in df.select("fp").collect()}

    old, new = {11, 12}, {11, 12, 13, 14}

    # count a crash-free first recording on a throwaway twin dir
    twin = str(tmp_path / "twin")
    os.makedirs(os.path.join(twin, "index_spanpostings"))
    _write_monotone_watermark(twin, 3, 42)
    with _FsCrasher(os.path.join(twin, "index_spanpostings")) as c:
        assert record_settled_fps(twin, settled(sorted(old)))
    n_first = c.count
    assert n_first >= 3

    # sweep the FIRST recording (no prior set): pending is None or new
    import pytest as _pytest
    import shutil

    for k in range(1, n_first + 1):
        shutil.rmtree(postings)
        os.makedirs(postings)
        with _FsCrasher(postings) as c:
            c.crash_at = k
            with _pytest.raises(_SimCrash):
                record_settled_fps(out, settled(sorted(old)))
        assert pending_fps() in (None, old), f"torn first recording at {k}"
        # recovery: re-record; the result must be complete
        assert record_settled_fps(out, settled(sorted(old)))
        assert pending_fps() == old

    # sweep the OVERWRITE (a complete prior recording exists, and a
    # compaction APPLIED it — the worst case for identity reuse):
    # pending is the old complete set, the new complete set, or None
    # (the documented crash-between-renames window — rows linger one
    # cut), and the recovery re-record's identity NEVER equals the
    # applied mark (the protocol's actual contract: a crash that loses
    # an unapplied recording may reissue its seq, but a seq colliding
    # with the applied mark would make the skip eat the re-record)
    with _FsCrasher(postings) as c:
        record_settled_fps(out, settled(sorted(old)))  # fresh baseline
    n_over = c.count
    seqs = []
    for k in range(1, n_over + 1):
        shutil.rmtree(postings)
        os.makedirs(postings)
        assert record_settled_fps(out, settled(sorted(old)))
        base_ident = _pending_prune_identity(out)
        _write_prune_applied(out, base_ident)  # a compaction applied it
        with _FsCrasher(postings) as c:
            c.crash_at = k
            with _pytest.raises(_SimCrash):
                record_settled_fps(out, settled(sorted(new)))
        assert pending_fps() in (None, old, new), f"torn overwrite at {k}"
        # recovery re-records the enlarged set; its identity must not
        # match the applied mark, whatever the crash destroyed
        assert record_settled_fps(out, settled(sorted(new)))
        assert pending_fps() == new
        ident = _pending_prune_identity(out)
        assert ident is not None and ident != _read_prune_applied(out), (
            f"crash at {k}: recovery identity collides with applied mark"
        )
        seqs.append(ident[2])
    assert all(s is not None and s >= 2 for s in seqs)


def test_postings_compaction_crash_sweep_recovers_fused_prune(spark, tmp_path):
    """IncrementalDedupJob.compact() crashed at every filesystem
    mutation under the postings table (the fused anti-join fold, its
    staged publish, and the applied-mark write): a restart-shaped
    recovery (fresh job -> recover() -> compact()) always converges to
    the crash-free twin's postings rows, the curated view never
    changes, and the applied mark is only ever absent (conservative
    re-pay) or exactly the pending recording's identity — never a
    stale or foreign identity."""
    from crashsweep import _FsCrasher, _SimCrash

    import pytest as _pytest
    import shutil

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
        _pending_prune_identity,
        _read_prune_applied,
        span_postings_view,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    pipe = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=2,
        monotone_ids=True, compact_every=100,
    )

    def drain(batches, prefix):
        _write_feed(feed, batches, prefix=prefix)
        q = pipe.start(
            read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)

    drain([[{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}]], "b0")
    drain([[{"doc_id": 20, "text": LONG_B}]], "b1")
    pipe.finalize(spark)  # fused: records the settled set
    ident = _pending_prune_identity(out)
    assert ident is not None and _read_prune_applied(out) is None
    # one more batch ABOVE the recording watermark, so the scoped prune
    # has rows it must keep as well as rows it must drop
    drain(
        [[{"doc_id": 30, "text": "thirty late arrivals remark that "
           + BOILER + " matters for steady community growth and "
           "neighborly goodwill everywhere"}]],
        "b2",
    )

    pristine = str(tmp_path / "pristine")
    shutil.copytree(out, pristine)
    postings_root = os.path.join(out, "index_spanpostings")

    def postings_rows():
        return sorted(
            (r["fp"], r["doc_id"])
            for r in span_postings_view(spark, out).collect()
        )

    # crash-free counted twin
    with _FsCrasher(postings_root) as c:
        pipe.job().compact(spark)
    n_mutations = c.count
    assert n_mutations >= 8, f"sweep saw only {n_mutations} mutations"
    twin_postings = postings_rows()
    twin_curated = _sorted_rows(curated_view(spark, out))
    assert _read_prune_applied(out) == ident

    def restore() -> None:
        shutil.rmtree(out)
        shutil.copytree(pristine, out)

    for k in range(1, n_mutations + 1):
        restore()
        with _FsCrasher(postings_root) as c:
            c.crash_at = k
            with _pytest.raises(_SimCrash):
                pipe.job().compact(spark)

        # the curated output table is untouched by an index compaction
        # crash — end users never see the window at all
        assert _sorted_rows(curated_view(spark, out)) == twin_curated, (
            f"crash at mutation {k}: curated view changed"
        )

        # DOUBLE CRASH: the restart-shaped recovery itself crashes at
        # its own k-th postings mutation (the pattern that found the
        # stale-inprog leak in the sinks sweep) — the applied-mark
        # machinery must tolerate a crash while being consumed too
        with _FsCrasher(postings_root) as c2:
            c2.crash_at = k
            job = pipe.job()
            try:
                job.recover(spark)
                job.compact(spark)
            except _SimCrash:
                pass

        # final restart-shaped recovery
        job = pipe.job()
        job.recover(spark)
        job.compact(spark)
        assert postings_rows() == twin_postings, (
            f"crash at mutation {k}: recovery did not converge"
        )
        applied = _read_prune_applied(out)
        assert applied in (None, ident), (
            f"crash at mutation {k}: foreign applied mark {applied}"
        )
        assert _pending_prune_identity(out) == ident, (
            f"crash at mutation {k}: compaction disturbed the recording"
        )


def test_fold_crash_state_enumeration_reader_invariant(spark, tmp_path):
    """Mechanically execute _fold_gens's docstring claim that "a crash
    anywhere mid-fold" leaves a state readers resolve identically to
    the fold: enumerate every intermediate state in protocol order —
    (S1) fold generation written but its docs commit marker absent,
    (S2) committed with zero tombstones, (S3) a partial tombstone set,
    (S4) all tombstones down but the reader manifest still naming the
    old generations, (S5) complete — and assert curated_view returns
    the exact pre-fold rows in every one, then that a full finalize
    converges each state to a single consistent manifest with the same
    rows."""
    import shutil

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.curation import (
        _FOLDED_TOMBSTONE,
        _committed_generations,
        _read_curated_manifest,
        _write_curated_manifest,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    # curated_max_gens high: finalize never folds on its own; the fold
    # under sweep is driven explicitly
    pipe = CuratedCorpusPipeline(
        out_dir=out, span_k=4, span_min_docs=2, curated_max_gens=99
    )

    def drain(batches, prefix):
        _write_feed(feed, batches, prefix=prefix)
        q = pipe.start(
            read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)

    drain([[{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}]], "b0")
    pipe.finalize(spark)
    drain([[{"doc_id": 20, "text": LONG_B}]], "b1")
    pipe.finalize(spark)

    old_gens = _committed_generations(out)
    assert len(old_gens) == 2, old_gens
    expected = _sorted_rows(curated_view(spark, out))
    pristine = str(tmp_path / "pristine")
    shutil.copytree(out, pristine)
    fg = old_gens[-1] + 1

    def tomb(gen: int) -> str:
        return os.path.join(
            out, "finalize_state", "docs", f"gen={gen}", _FOLDED_TOMBSTONE
        )

    def build_state(state: str) -> None:
        shutil.rmtree(out)
        shutil.copytree(pristine, out)
        pipe._fold_gens(spark)  # complete fold, then peel back to `state`
        if state == "S5":
            return
        _write_curated_manifest(out, old_gens)  # manifest write never ran
        if state == "S4":
            return
        os.remove(tomb(old_gens[0]))  # first tombstone never landed
        if state == "S3":
            return
        os.remove(tomb(old_gens[1]))
        if state == "S2":
            return
        assert state == "S1"  # crash before the docs commit marker
        os.remove(
            os.path.join(out, "finalize_state", "docs", f"gen={fg}", "_SUCCESS")
        )

    for state in ("S1", "S2", "S3", "S4", "S5"):
        build_state(state)
        assert _sorted_rows(curated_view(spark, out)) == expected, (
            f"{state}: reader saw a non-committed row set"
        )

        # convergence: the next full finalize rewrites the manifest
        # from the writer's marker-derived committed set
        pipe.finalize(spark, mode="full")
        assert _sorted_rows(curated_view(spark, out)) == expected, (
            f"{state}: finalize after the crash changed the rows"
        )
        manifest = _read_curated_manifest(out)
        committed = _committed_generations(out)
        assert manifest == committed, (
            f"{state}: manifest {manifest} != committed {committed}"
        )


def test_serving_publish_crash_sweep_catalog_reads_survive(spark, tmp_path):
    """Crash-point sweep of publish_bucketed (both assembly paths: the
    full rewrite and the delta with hardlinked untouched buckets): at
    every Python-side filesystem mutation under the serving root, a
    concurrent catalog reader (`spark.table`) resolves the OLD or the
    NEW published rows — never an error, never a mix — and a recovery
    publish (mode='auto') converges to the new rows while the snapshot
    the catalog pointed at during the crash stays on disk (retention
    keys on the reader-visible location, not the newest snap id).  The
    one window this primitive sweep cannot reach — a crash between the
    snap rename and the catalog ALTER, both sides of which are
    adjacent here — is pinned by
    test_publish_and_prune_crash_recovery_paths's targeted injection."""
    import shutil

    from crashsweep import _FsCrasher, _SimCrash

    import pytest as _pytest

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    T = "crash_sweep_serving"
    pipe = CuratedCorpusPipeline(out_dir=out, span_k=4, span_min_docs=2)

    def drain(batches, prefix):
        _write_feed(feed, batches, prefix=prefix)
        q = pipe.start(
            read_doc_stream(spark, feed, max_files_per_trigger=1).select(
                "doc_id", "text"
            )
        )
        assert q.awaitTermination(300)

    spark.sql(f"DROP TABLE IF EXISTS `{T}`")
    drain([[{"doc_id": 10, "text": CARRIER_A}, {"doc_id": 11, "text": CARRIER_B}]], "b0")
    pipe.finalize(spark)
    pipe.publish_bucketed(spark, T, n_buckets=4, mode="full")   # snap_0
    drain([[{"doc_id": 20, "text": LONG_B}]], "b1")
    pipe.finalize(spark)
    pipe.publish_bucketed(spark, T, n_buckets=4, mode="auto")   # snap_1
    drain([[{"doc_id": 30, "text": DOC40}]], "b2")
    pipe.finalize(spark)  # table now stale: snaps [0, 1], catalog -> snap_1

    root = os.path.join(out, "serving", T)
    snap1 = os.path.join(root, "snap_1")
    loc0 = pipe._serving_location(spark, T)
    assert loc0 and os.path.normpath(loc0) == os.path.normpath(snap1)
    old_rows = _sorted_rows(spark.table(T))
    pristine = str(tmp_path / "pristine")
    shutil.copytree(out, pristine)

    def restore() -> None:
        shutil.rmtree(out)
        shutil.copytree(pristine, out)
        # the catalog crashes with the publisher in this simulation:
        # re-pin it to the pristine snapshot alongside the fs restore
        spark.sql(f"ALTER TABLE `{T}` SET LOCATION '{snap1}'")
        spark.sql(f"REFRESH TABLE `{T}`")

    new_rows = None
    for mode in ("full", "auto"):  # auto resolves to delta here (1/4 buckets)
        # crash-free counted twin
        restore()
        with _FsCrasher(root) as c:
            pipe.publish_bucketed(spark, T, n_buckets=4, mode=mode)
        n_mutations = c.count
        assert n_mutations >= (7 if mode == "auto" else 3), (mode, n_mutations)
        twin_rows = _sorted_rows(spark.table(T))
        if new_rows is None:
            new_rows = twin_rows
            assert {r["doc_id"] for r in spark.table(T).select("doc_id").collect()} \
                >= {10, 11, 20, 30}
        else:
            # delta assembly must be row-identical to the full rewrite
            assert twin_rows == new_rows, "delta snapshot != full snapshot"

        for k in range(1, n_mutations + 1):
            restore()
            with _FsCrasher(root) as c:
                c.crash_at = k
                with _pytest.raises(_SimCrash):
                    pipe.publish_bucketed(spark, T, n_buckets=4, mode=mode)

            loc_at_crash = pipe._serving_location(spark, T)
            rows = _sorted_rows(spark.table(T))
            assert rows in (old_rows, new_rows), (
                f"{mode}, crash at {k}: catalog reader saw a mixed state"
            )

            # DOUBLE CRASH: the recovery publish crashes at its own
            # k-th mutation; catalog readers must still see a pure
            # old-or-new state afterwards
            with _FsCrasher(root) as c2:
                c2.crash_at = k
                try:
                    pipe.publish_bucketed(spark, T, n_buckets=4, mode="auto")
                except _SimCrash:
                    pass
            rows = _sorted_rows(spark.table(T))
            assert rows in (old_rows, new_rows), (
                f"{mode}, double crash at {k}: catalog reader saw a mixed state"
            )

            pipe.publish_bucketed(spark, T, n_buckets=4, mode="auto")
            assert _sorted_rows(spark.table(T)) == new_rows, (
                f"{mode}, crash at {k}: recovery did not converge"
            )
            # the snapshot in-flight readers resolved during the crash
            # window must survive the recovery publish (reader grace)
            assert loc_at_crash and os.path.isdir(loc_at_crash), (
                f"{mode}, crash at {k}: reader-visible snapshot deleted"
            )
            assert not os.path.isdir(os.path.join(root, "_publish_inprog"))

    spark.sql(f"DROP TABLE IF EXISTS `{T}`")
