"""Incremental corpus deduplication — streaming ingest deduped against
the ACCUMULATED HISTORICAL CORPUS, not just the watermark horizon.

Why this exists: `DocStreamJob`'s `dropDuplicatesWithinWatermark` holds
dedup state in the state store, bounded by ingest-rate x watermark — the
right tool for replay/at-least-once dup collapse, but it cannot answer
"have we EVER ingested this document?"  At 100 TB corpus scale the
historical answer must live on disk, as an index the per-batch work can
equi-join against:

  corpus/        batch_id=N dirs of kept docs (the growing corpus)
  index_bands/   batch_id=N dirs of (id, band, bhash, sig) — the minhash
                 LSH candidate key index (operators.dedup.
                 banded_signatures); `sig` is the full signature for
                 index-only Jaccard estimation (no text re-read),
                 non-null ONLY on a doc's band-0 row so it is stored
                 once per doc (one write action + one directory
                 listing/read fewer per batch than a separate table)
  index_spanfps/ (span_index=True) batch_id=N dirs of per-fingerprint
                 partial span stats — common_spans/excision against the
                 growing corpus without re-fingerprinting history

Per micro-batch (foreachBatch, serialized per query):
  1. intra-batch EXACT dedup on content fingerprint (deterministic
     keeper: min doc_id);
  2. cross-corpus EXACT dedup: anti-join batch fingerprints against the
     corpus (column-pruned scan of `fingerprint` only);
  3. intra-batch NEAR-dup: band self-join on the batch's own banded
     signatures, signature-Jaccard gate, drop the higher doc_id;
  4. cross-corpus NEAR-dup: band equi-join batch bands x index bands,
     signature-Jaccard gate, drop the new doc;
  5. append survivors (+ their bands/sigs) as batch_id=N overwrite dirs.

Crash safety / exactly-once: all three tables use deterministic
batch_id=N OVERWRITE directories, and — the crucial detail — every
index/corpus read FILTERS batch_id < N (partition-pruned).  A replayed
batch therefore never sees its own crashed half-write: without the
bound, batch N's docs would anti-join against themselves and the replay
would overwrite batch N with an EMPTY directory, silently losing data.

Scale: per-batch cost is |batch| x (bands equi-join against bounded LSH
buckets) + one column-pruned fingerprint scan; nothing is quadratic in
corpus size.  The band index grows linearly with the corpus — at 100 TB
it is itself a big table, which is exactly why candidates come from an
equi-join on (band, bhash) (shuffle on the band key, partition-prunable
by batch_id) and why scoring uses stored signatures instead of text.
Periodically fold the accumulated batch_id dirs with `.compact()` (the
tables are append-only with unique keys, so per-key-latest folding is
an exact rewrite) — bounds the directory count readers list, same
motivation as the gold sink's auto-compaction.

On-disk format: `_corpus_spec.json` records the corpus format version
and the lifetime-locked settings.  It has one reader and one writer
(`_read_corpus_spec` / `_write_corpus_spec`); the reader refuses any
format version but this build's, so every entry point that reads a
corpus (start, finalize, the span views) fails fast on an old or
foreign layout instead of misreading it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from real_time_financial_market_data_pipeline_spark.functions.text import doc_fingerprint
from real_time_financial_market_data_pipeline_spark.operators.dedup import (
    banded_signatures,
    signature_jaccard,
)
from real_time_financial_market_data_pipeline_spark.streaming.sinks import overlap


def _contains_map(dtype) -> bool:
    """True when a DataType has a MapType anywhere in it (top-level,
    array element, or struct field) — such columns cannot appear in an
    ORDER BY."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _contains_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    return False


def _orderable(field) -> "F.Column":
    """A sort-key expression for a StructField: the raw column when its
    type is orderable, else (map-containing types) its to_json
    serialization — deterministic for a given stored value, so the
    keep-first tie-break stays replay-stable."""
    col = F.col(field.name)
    return F.to_json(col) if _contains_map(field.dataType) else col


@dataclass
class IncrementalDedupJob:
    """Wire a document stream (doc_id, text, ...) into an incrementally
    deduplicated corpus with a persistent minhash LSH index."""

    out_dir: str
    num_hashes: int = 16
    bands: int = 4
    threshold: float = 0.5
    shingle_n: int = 3
    near_dup: bool = True
    # Span-level benchmark decontamination at INGEST (the GPT-3 n-gram
    # rule, streaming form): path to a fingerprint index built by
    # `build_benchmark_span_index` — every batch drops docs containing a
    # verbatim decontam_k-token window of any benchmark doc BEFORE they
    # enter the corpus (cheaper than a post-hoc sweep, and the corpus is
    # clean from the first byte).  Per-batch cost: map-side window
    # hashing of the batch + one equi-join against the static index —
    # flat in corpus size.  None disables.
    benchmark_fp_dir: str | None = None
    decontam_k: int = 13
    # "drop" (default): a doc containing any verbatim benchmark window
    # never enters the corpus (the GPT-3 rule).  "excise": SURGICAL —
    # the contaminated token positions are removed at ingest (before
    # fingerprinting, so dedup keys on the cleaned text) and the rest
    # of the page is kept, with the removal count recorded as
    # `decontam_excised_tokens`.  Only actually-excised docs take the
    # rebuilt token-normalized text; clean docs keep their original
    # bytes.  A page that was nothing but benchmark text survives as
    # an empty string — downstream quality gates' problem, not the
    # dedup job's.
    decontam_mode: str = "drop"
    # Excise-mode hard guarantee (round-9 ADVICE): the concatenating
    # rebuild can in degenerate self-overlapping cases re-form a
    # benchmark k-gram ACROSS an excision seam.  With excise_verify on
    # (default), every doc that was actually excised is re-checked
    # against the same fingerprint index and the (vanishingly rare)
    # splice survivors are DROPPED — falling back to the GPT-3 drop
    # rule exactly where surgery provably failed.  Cost: one extra
    # fingerprint pass over ONLY the excised docs per batch.  Off =
    # the soft guarantee documented on excise_contaminated_spans.
    excise_verify: bool = True
    # Incremental CORPUS span-fp index (round-8 VERDICT task 3): when
    # enabled, every batch appends a per-fingerprint PARTIAL aggregate
    # of its kept docs' span_k-token window fingerprints to
    # `index_spanfps/batch_id=N` (fp, n_docs, n_occurrences, rep_id,
    # rep_pos).  Partials merge EXACTLY (see merge_span_stats) because
    # a doc_id lives in exactly one batch — so `common_spans_view` /
    # excision can run against the growing corpus without ever
    # re-fingerprinting history, and the table compacts with the same
    # fold machinery as the band index (a sum/min re-aggregate instead
    # of per-key-latest).  Per-batch cost: one map-side fingerprint
    # pass over the batch + one hash-agg — flat in corpus size.  The
    # index grows like the band index (rows ≈ distinct windows), which
    # is the standard space/recompute trade of substring-dedup indexes.
    # Contract: doc_ids are insert-only (same as the corpus table —
    # re-ingesting an id with different text would double-count).
    span_index: bool = False
    span_k: int = 8
    # fp -> doc POSTING LIST (round-10 VERDICT task 3): when enabled
    # (requires span_index), every batch also appends the DISTINCT
    # (fp, doc_id) pairs of its kept docs' windows to
    # `index_spanpostings/batch_id=N`.  This is the inverted index an
    # INCREMENTAL finalize needs: when a span's qualify-status or
    # representative changes, the docs whose excision must be redone
    # are exactly the posting rows of the changed fps — one equi-join
    # against the postings instead of a fingerprint sweep of the whole
    # corpus.  The aggregated span-fp partials CANNOT answer that
    # question (they deliberately collapse doc membership into counts).
    # Per-batch cost: one distinct hash-agg + write over rows the span
    # partial already computes; storage O(distinct windows per doc
    # summed over docs) ≈ corpus token count — the standard
    # inverted-index space trade, linear like the corpus itself.
    # Folds with the shared compaction machinery (rows unique on
    # (fp, doc_id), per-key-latest is an exact rewrite).
    span_postings: bool = False
    # Within-document keep-first repeat repair (round-10: hoisted from
    # CuratedCorpusPipeline's pre_transform into the job).  Runs FIRST
    # in every batch — before decontamination and fingerprinting — so
    # dedup keys, the LSH index, and the span-fp index are all built on
    # the repaired text and stay position-consistent with the corpus.
    # Settings are corpus-lifetime (recorded in _corpus_spec.json)
    # because they shape every stored fingerprint.
    #
    # DELIBERATELY NOT FUSED with the span-fp index pass: sharing the
    # repair pass's window fingerprints with the step-5 index partial
    # (localCheckpoint the exploded (id, pos, fp) frame, leftsemi-join
    # it against the kept ids, re-fingerprint only rewritten docs) was
    # built and A/B-measured in round 10 — at 20x sf0.1 volume the
    # "fused" form was ~25% SLOWER (min-of-3 27.9 s vs 22.4 s drain):
    # span_fingerprints is a pure map-side projection (tokenize + hash,
    # no shuffle), so recomputing it over the kept docs is cheaper than
    # materializing the exploded frame (~3x the text bytes) and paying
    # an extra join.  Recompute-the-cheap-map-work wins at every scale
    # here; see SCALE.md (round 10) for the measurement.
    repair_internal: bool = False
    internal_k: int = 8
    internal_min_occurrences: int = 2
    # Auto-compaction cadence (round-9 VERDICT task 1): fold the
    # accumulated batch_id dirs INLINE every N processed batches, right
    # after the batch's own writes.  Without it `_read_prior` unions
    # every prior batch dir, so an uncompacted drain is O(B^2) in file
    # listings across B batches (measured: scripts/incr_dedup_scale.py
    # --listing-probe).  Safe inside foreachBatch: the callback is
    # serialized per query, and committed_fold_bound excludes the
    # current batch (its checkpoint commit hasn't landed yet), so a
    # post-crash replay still overwrites only its own delta.  None
    # disables (compact() remains available stream-stopped).
    compact_every: int | None = None
    # Opt-in MONOTONE doc_id ingest contract (round-12 VERDICT task 4):
    # every batch's smallest doc_id must exceed every previously
    # ingested id (enforced per batch against a crash-safe high-water
    # mark; violation fails the stream).  What it buys: once a span fp
    # qualifies, its min-(id, pos) representative can never move again
    # (new docs only have LARGER ids), so the fp can never re-enter a
    # delta finalize's changed set — its posting rows are DEAD for redo
    # detection and the postings fold may drop them (see
    # record_settled_fps).  WITHOUT the contract that pruning is unsound
    # (a later smaller-id doc moves the rep and the delta would miss
    # the old holders), so the default keeps today's behavior exactly.  Lifetime-locked like every
    # fingerprint-shaping setting.
    monotone_ids: bool = False
    # Optional STATELESS per-batch preparation applied before anything
    # else (repair, decontamination, fingerprinting, dedup): batch_df
    # -> batch_df with the same doc_id/text contract.  Running it here
    # (before fingerprinting) means dedup keys, the LSH index, and the
    # span-fp index are all built on the TRANSFORMED text, so every
    # index remains position-consistent with the corpus it describes.
    # Must be deterministic and fixed for the corpus's lifetime (it
    # cannot be recorded in _corpus_spec.json — it's code).  For
    # within-document repair use `repair_internal` instead (first-class
    # config: lifetime-locked AND fingerprint-fused).
    pre_transform: object | None = None
    # Streaming shuffle-partition count applied to the per-batch work
    # (round-20 optimization pass; same knob MedallionStreamJob and
    # QuoteEnrichJob have carried since round 5, extended here).  The
    # job's per-batch plans are window/join/agg pipelines over ONE
    # micro-batch, and AQE is disabled under streaming queries, so the
    # session's global shuffle-partition count (sized for full-table
    # batch scans) is paid as per-task scheduling overhead on every
    # exchange of every action of every batch.  Size to the expected
    # per-batch volume: the default 8 suits micro-batches up to a few
    # hundred MB; a deployment draining multi-GB batches should raise
    # it toward (batch bytes / 128 MB).  None = leave the session conf
    # untouched (pre-round-20 behavior).
    shuffle_partitions: int | None = 8
    trigger: dict = field(default_factory=lambda: {"availableNow": True})

    def checkpoints(self) -> str:
        return os.path.join(self.out_dir, "_checkpoints")

    def compact(self, spark) -> int:
        """Fold each table's accumulated batch_id dirs into one snapshot
        (run with the stream stopped, like any OPTIMIZE).  The tables
        are append-only with unique keys (doc_id / (id, band)), so
        per-key-latest folding (sinks.compact_latest_state, crash-safe
        two-phase protocol) is an exact rewrite; the snapshot lands as
        the highest batch_id seen, below every future batch id, so the
        replay-safety bound (batch_id < N) keeps working unchanged.

        Replay hazard at the tail: if the stream crashed BETWEEN the
        sink write and the checkpoint commit, the highest on-disk batch
        will be REPLAYED on restart, and its idempotent overwrite of
        `batch_id=<max>` would clobber a snapshot folded under that id —
        losing the entire folded history, not just one batch.  So the
        tail dir is folded only when the checkpoint commit log proves
        batch <max> committed; otherwise it is excluded via
        `only_below=<max>` and a replay overwrites only its own delta.

        Returns total directories folded."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import (
            committed_fold_bound,
            compact_latest_state,
        )

        commit_log = os.path.join(self.checkpoints(), "incremental_dedup")
        # identity (max_doc_id, batch_id, seq) stashed by
        # _postings_resolve when its anti-join ran; written as the
        # applied mark only after the publish completes.  The sibling
        # `_prune_joins_run` int is a test-observability counter of
        # anti-join executions (see _postings_resolve).
        self._prune_applied_candidate: tuple[int, int, int] | None = None

        def _fold_one(spec) -> int:
            path, key_cols, resolve = spec
            if not os.path.isdir(path):
                return 0
            bound = committed_fold_bound(path, commit_log)
            return compact_latest_state(
                spark, path, key_cols, only_below=bound, resolve=resolve
            )

        # the four tables' folds are independent staged-publish
        # protocols confined to their own directories (compact_
        # latest_state touches only `path`); overlap them so each
        # fold's fixed costs (listing, job submission, snapshot write,
        # rename protocol) back-fill each other (round-20 optimization
        # pass).  _postings_resolve's applied-mark stash is written by
        # exactly one fold (the postings table's), so the single-writer
        # contract holds under the pool.
        folded = sum(
            overlap(
                spark,
                [lambda spec=spec: _fold_one(spec) for spec in self._fold_specs()],
            )
        )
        # the postings fold ran its settled anti-join and its publish
        # completed (compact_latest_state returned): mark the recording
        # applied so the next compaction skips the join until a new cut
        # re-records (round-14 task 1).  Unset when the fold was a
        # no-op (<=1 dir) or resumed a crashed publish without
        # re-resolving — those paths keep the conservative re-pay.
        if self._prune_applied_candidate is not None:
            _write_prune_applied(self.out_dir, self._prune_applied_candidate)
            self._prune_applied_candidate = None
        return folded

    def _fold_specs(self):
        """(path, key_cols, resolve) per table — shared by compact()
        and the start()-time staged-publish recovery.  The span-fp
        table stores per-batch PARTIALS of an associative sum/min
        aggregate, not per-key upserts — it folds with the exact
        re-reduce instead of per-key-latest (same override the quote
        job's batch-maxima sink uses)."""
        return [
            (os.path.join(self.out_dir, "corpus"), ["doc_id"], None),
            (os.path.join(self.out_dir, "index_bands"), ["id", "band"], None),
            (
                os.path.join(self.out_dir, "index_spanfps"),
                ["fp"],
                lambda combined: merge_span_stats(combined.drop("batch_id")),
            ),
            (
                os.path.join(self.out_dir, "index_spanpostings"),
                ["fp", "doc_id"],
                # fused pruning (round-13 task 4): when a settled set is
                # pending, the compaction rewrite that happens anyway
                # also drops those rows; identical to the default fold
                # otherwise
                self._postings_resolve,
            ),
        ]

    def _postings_resolve(self, combined: DataFrame) -> DataFrame:
        """Postings fold: exact per-key dedup (same as the default
        per-key-latest — keys are unique), MINUS the currently-settled
        fps when a fused prune recording is pending
        (record_settled_fps).  The anti-join rides the rewrite the
        compaction performs anyway, so the per-cut prune cost folds to
        ~0 on corpora where compaction cadence ≈ cut cadence.  Scoped
        to doc_id <= the recording's watermark: rows of docs ingested
        AFTER the recording cut must stay live for the next delta
        cut's excision split (see record_settled_fps, which also holds
        the soundness argument); bit-identical to the plain fold when
        nothing is pending.

        ALREADY-APPLIED SKIP (round-14 VERDICT task 1): when the
        applied mark matches the pending identity — a previous
        compaction ran this anti-join and published — the join is
        skipped (bit-identical, see _write_prune_applied).  Otherwise
        the identity is stashed on the job; compact()/recover() write
        the mark only after the publish completes, so a crash between
        resolve and publish conservatively re-pays the join."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import latest_state_on_read

        resolved = latest_state_on_read(combined, ["fp", "doc_id"])
        ident = _pending_prune_identity(self.out_dir)
        if ident is not None and ident != _read_prune_applied(self.out_dir):
            pending = pending_settled_fps(combined.sparkSession, self.out_dir)
            if pending is not None:
                fps, max_doc_id = pending
                curated = resolved.filter(F.col("doc_id") <= F.lit(max_doc_id))
                later = resolved.filter(F.col("doc_id") > F.lit(max_doc_id))
                resolved = curated.join(fps, "fp", "left_anti").unionByName(later)
                self._prune_applied_candidate = ident
                # observability: lets tests (and operators) verify the
                # already-applied skip — repeat compactions must not
                # grow this counter until a new cut re-records
                self._prune_joins_run = getattr(self, "_prune_joins_run", 0) + 1
        return resolved

    def recover(self, spark) -> int:
        """Finish any compaction publish a crash interrupted — runs in
        start() BEFORE the query launches (round-10 ADVICE, medium).
        Without it, a restart replays the uncommitted batch whose
        `_read_prior` sees incomplete history (the folded snapshot is
        still underscore-staged, invisible to parquet; some old dirs
        are already deleted), so duplicates of folded history would
        permanently enter the corpus.  Returns the number of tables
        recovered (0 in the normal no-crash case — one listdir each)."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import finish_staged_compaction

        commit_log = os.path.join(self.checkpoints(), "incremental_dedup")
        self._prune_applied_candidate = None
        recovered = sum(
            finish_staged_compaction(spark, path, key_cols, commit_log, resolve=resolve)
            for path, key_cols, resolve in self._fold_specs()
        )
        # same applied-mark rule as compact(): only when a recovery
        # REFOLD actually re-ran the postings resolve (stale stage
        # discarded) and published — resuming a crashed publish without
        # re-resolving leaves the mark absent (conservative re-pay)
        if self._prune_applied_candidate is not None:
            _write_prune_applied(self.out_dir, self._prune_applied_candidate)
            self._prune_applied_candidate = None
        return recovered

    def _read_prior(self, spark, table: str, batch_id: int) -> DataFrame | None:
        """Partition-pruned read of a table's batches STRICTLY BELOW the
        current batch id (replay safety — see module docstring)."""
        path = os.path.join(self.out_dir, table)
        if not os.path.isdir(path) or not any(
            d.startswith("batch_id=") for d in os.listdir(path)
        ):
            return None
        df = spark.read.parquet(path).filter(F.col("batch_id") < batch_id)
        return df

    def _validate_config(self) -> None:
        """Fail-fast config validation at start() time (round-9 ADVICE):
        (a) decontam_k must match the k the on-disk benchmark index was
        built with — a mismatch produces ZERO fp matches and turns
        decontamination into a silent no-op; (b) settings that shape the
        on-disk corpus schema/index (decontam column presence, span
        index + its k) must not change over a corpus's lifetime — batch
        dirs would go schema-heterogeneous (plain spark.read.parquet
        samples one footer) or the span view would silently miss the
        batches ingested while the index was off; (c) the stored corpus
        spec must record this build's format version (_read_corpus_spec
        raises otherwise)."""
        if self.decontam_mode not in ("drop", "excise"):
            raise ValueError(
                f"decontam_mode must be 'drop' or 'excise' (got {self.decontam_mode!r})"
            )
        if self.span_postings and not self.span_index:
            raise ValueError(
                "span_postings=True requires span_index=True — the posting "
                "list is the doc-membership companion of the span-fp index"
            )
        if self.benchmark_fp_dir is not None:
            built_k = stored_benchmark_k(self.benchmark_fp_dir)
            if built_k is not None and built_k != self.decontam_k:
                raise ValueError(
                    f"decontam_k={self.decontam_k} but the benchmark index at "
                    f"{self.benchmark_fp_dir} was built with k={built_k} — "
                    "fingerprints of different window sizes never match, so "
                    "decontamination would be a silent no-op; pass the "
                    "matching k (or rebuild the index)"
                )
        spec = {
            "decontam_col": self.benchmark_fp_dir is not None,
            "span_index": self.span_index,
            "span_k": self.span_k if self.span_index else None,
            "span_postings": self.span_postings,
            "repair_internal": self.repair_internal,
            "internal_k": self.internal_k if self.repair_internal else None,
            "internal_min_occurrences": (
                self.internal_min_occurrences if self.repair_internal else None
            ),
            "monotone_ids": self.monotone_ids,
        }
        prior = _read_corpus_spec(self.out_dir)
        if prior is None:
            _write_corpus_spec(
                self.out_dir,
                {
                    **spec,
                    "decontam_mode": self.decontam_mode,
                    "decontam_k": self.decontam_k,
                },
            )
            return
        diffs = {
            key: (prior[key], spec[key]) for key in spec if prior[key] != spec[key]
        }
        if diffs:
            raise ValueError(
                f"IncrementalDedupJob config conflicts with the corpus at "
                f"{self.out_dir} (fields are fixed for a corpus's "
                f"lifetime; stored vs requested: {diffs}) — reuse the "
                "original settings or start a fresh out_dir"
            )

    def start(self, docs: DataFrame) -> StreamingQuery:
        self._validate_config()
        # staged-publish crash recovery BEFORE the first _read_prior:
        # a replayed batch must always see complete history
        self.recover(docs.sparkSession)
        # per-batch shuffle sizing (see the shuffle_partitions field):
        # set before .start() — the stream snapshots the session conf
        # into its cloned execution session, so every foreachBatch
        # action inherits it — and restored after, so other work on
        # the shared session keeps the global batch-scan sizing.
        # Same set/restore pattern as MedallionStreamJob.start.
        session = docs.sparkSession
        old_parts = None
        if self.shuffle_partitions is not None:
            old_parts = session.conf.get("spark.sql.shuffle.partitions")
            session.conf.set(
                "spark.sql.shuffle.partitions", str(self.shuffle_partitions)
            )

        # benchmark-index frame built ONCE per stream run (round-21,
        # guide §1.2 "don't rebuild what is invariant"): the micro-batch
        # execution session is cloned once per run and stable across
        # batches, and the benchmark fp index is lifetime-locked for the
        # corpus (decontam_k is validated against its _span_spec at
        # start), so re-constructing the read per batch only re-paid
        # file listing + py4j plan construction.  Identity-compared and
        # strongly referenced so a restarted run (fresh clone) rebuilds.
        _bench_fps_cache: dict = {"session": None, "df": None}

        def _bench_fps(spark) -> DataFrame:
            if _bench_fps_cache["session"] is not spark:
                _bench_fps_cache["session"] = spark
                _bench_fps_cache["df"] = spark.read.parquet(self.benchmark_fp_dir)
            return _bench_fps_cache["df"]

        def process(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            spark = batch_df.sparkSession

            # at-least-once input hygiene (round-10 ADVICE): a source
            # may deliver the same doc_id twice WITHIN one micro-batch
            # (redelivery, overlapping files).  Everything downstream —
            # the repair/excision rewrite joins, the span-fp partials,
            # the per-batch-unique doc_id contract of the span index —
            # assumes batch-unique ids; duplicate rows would fan out
            # 2x2 through the doc_id joins and same-id rows with
            # DIFFERENT text would silently mix their covered-position
            # sets.  Keeper ordering (round-10 review): text NULLS LAST
            # (a corrupted null-text redelivery must never beat the
            # real row), then every passthrough column as tie-break —
            # same-text rows differing only in passthrough columns
            # would otherwise be picked arbitrarily and a crash replay
            # could keep the other row, breaking idempotent overwrite.
            # Map-typed passthrough columns are NOT orderable (Spark
            # rejects them at analysis time), so any column whose type
            # contains a map is tie-broken by its to_json serialization
            # instead — a deterministic, collision-free function of the
            # stored value (round-10 ADVICE).
            one_per_id = Window.partitionBy("doc_id").orderBy(
                F.col("text").asc_nulls_last(),
                *[
                    _orderable(field).asc_nulls_last()
                    for field in batch_df.schema.fields
                    if field.name not in ("doc_id", "text")
                ],
            )
            batch_df = (
                batch_df.withColumn("_idrn", F.row_number().over(one_per_id))
                .filter(F.col("_idrn") == 1)
                .drop("_idrn")
            )

            # monotone-doc_id contract enforcement (round-12 task 4):
            # one map-side min/max over the batch against the high-water
            # mark.  Replay-safe: the mark is advanced only AFTER the
            # batch's writes, keyed by batch_id — a replayed batch
            # (batch_id <= mark's) skips the check (its ids were already
            # admitted), and a crash before the mark update leaves the
            # mark at the previous batch, so the re-run validates
            # against exactly what the first run did.
            mono_max = None
            if self.monotone_ids:
                wm = _read_monotone_watermark(self.out_dir)
                row = batch_df.agg(
                    F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
                ).first()
                mono_max = row["mx"]
                if wm is not None and batch_id > wm["batch_id"] and row["mn"] <= wm["max_id"]:
                    raise ValueError(
                        f"monotone_ids contract violated: batch {batch_id} "
                        f"contains doc_id {row['mn']} <= previously ingested "
                        f"max {wm['max_id']} — the span-postings pruning this "
                        "contract licenses would silently miss redo docs; "
                        "re-ingest with strictly increasing ids or rebuild "
                        "the corpus with monotone_ids=False"
                    )

            if self.pre_transform is not None:
                batch_df = self.pre_transform(batch_df)

            # 0a. within-document keep-first repeat repair, BEFORE any
            # fingerprinting — every index is built on the repaired
            # text (see the field comment for the position-drift
            # rationale).  Byte-preserving for untouched docs: only
            # docs that actually lost tokens take the token-normalized
            # rebuild.  The fingerprint pass here is map-side recompute
            # by design — see the repair_internal field comment for the
            # measured fusion non-win.
            if self.repair_internal:
                from real_time_financial_market_data_pipeline_spark.operators.dedup import (
                    _internal_covered,
                    _rebuild_excised,
                )

                covered = _internal_covered(
                    batch_df.select("doc_id", "text"),
                    "doc_id",
                    "text",
                    self.internal_k,
                    self.internal_min_occurrences,
                )
                rewritten = _rebuild_excised(
                    batch_df.select("doc_id", "text"), covered, "doc_id", "text"
                ).select(
                    "doc_id",
                    F.col("text").alias("_repaired"),
                    F.col("excised_tokens").alias("internal_excised_tokens"),
                )
                batch_df = batch_df.join(rewritten, "doc_id").select(
                    *[c for c in batch_df.columns if c != "text"],
                    F.when(
                        F.col("internal_excised_tokens") > 0, F.col("_repaired")
                    )
                    .otherwise(F.col("text"))
                    .alias("text"),
                    "internal_excised_tokens",
                )

            # 0. surgical decontamination BEFORE fingerprinting (excise
            # mode): dedup must key on the cleaned text, or a page that
            # differs only in its embedded benchmark quote would evade
            # the exact-dup collapse of its clean twin
            if self.benchmark_fp_dir is not None and self.decontam_mode == "excise":
                from real_time_financial_market_data_pipeline_spark.operators.dedup import (
                    excise_contaminated_spans_from_index,
                )

                bench_fps = _bench_fps(spark)
                rewritten = excise_contaminated_spans_from_index(
                    batch_df.select("doc_id", "text"), bench_fps, k=self.decontam_k
                ).select(
                    "doc_id",
                    F.col("text").alias("_cleaned"),
                    F.col("excised_tokens").alias("decontam_excised_tokens"),
                )
                # only ACTUALLY-excised docs take the rebuilt (token-
                # normalized) text — clean docs keep their original
                # bytes, so surgical decontamination never degrades the
                # untouched 99.9% of a corpus as a side effect
                batch_df = batch_df.join(rewritten, "doc_id").select(
                    *[c for c in batch_df.columns if c != "text"],
                    F.when(
                        F.col("decontam_excised_tokens") > 0, F.col("_cleaned")
                    )
                    .otherwise(F.col("text"))
                    .alias("text"),
                    "decontam_excised_tokens",
                )
                # hard-guarantee verification (round-9 ADVICE): the
                # concat rebuild can splice a benchmark k-gram across an
                # excision seam; re-detect over ONLY the excised docs
                # and DROP the rare survivors (surgery provably failed
                # for them — fall back to the drop rule).  The
                # localCheckpoint keeps the excision join from being
                # recomputed by the verify branch and every later step.
                if self.excise_verify:
                    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
                        span_fingerprints,
                    )

                    # executes everything upstream: input collapse,
                    # within-doc repair, the decontam excision join
                    batch_df = batch_df.localCheckpoint(eager=True)
                    spliced = (
                        span_fingerprints(
                            batch_df.filter(
                                F.col("decontam_excised_tokens") > 0
                            ).select("doc_id", "text"),
                            k=self.decontam_k,
                        )
                        .join(bench_fps.select("fp"), "fp")
                        .select(F.col("id").alias("doc_id"))
                        .distinct()
                    )
                    batch_df = batch_df.join(spliced, "doc_id", "left_anti")

            batch = batch_df.withColumn("fingerprint", doc_fingerprint(F.col("text")))

            # 1. intra-batch exact dedup, deterministic keeper
            one_per_fp = Window.partitionBy("fingerprint").orderBy("doc_id")
            batch = (
                batch.withColumn("_rn", F.row_number().over(one_per_fp))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )

            # 2. cross-corpus exact dedup (column-pruned fingerprint scan)
            prior_corpus = self._read_prior(spark, "corpus", batch_id)
            if prior_corpus is not None:
                batch = batch.join(
                    prior_corpus.select("fingerprint"), "fingerprint", "left_anti"
                )

            # 2b. span-level benchmark decontamination at ingest: drop
            # docs containing any verbatim k-token benchmark window
            # (excise mode already handled it at step 0)
            if self.benchmark_fp_dir is not None and self.decontam_mode == "drop":
                from real_time_financial_market_data_pipeline_spark.operators.dedup import span_fingerprints

                bench_fps = _bench_fps(spark)
                hit = (
                    span_fingerprints(
                        batch.select("doc_id", "text"), k=self.decontam_k
                    )
                    .join(bench_fps.select("fp"), "fp")
                    .select(F.col("id").alias("doc_id"))
                    .distinct()
                )
                batch = batch.join(hit, "doc_id", "left_anti")

            # schema stability (round-9 ADVICE): the excise column
            # exists in EVERY batch whenever decontamination is on, so
            # drop-mode and excise-mode corpora read with the same
            # schema from any footer sample (drop mode never excises —
            # the count is identically 0)
            if (
                self.benchmark_fp_dir is not None
                and "decontam_excised_tokens" not in batch.columns
            ):
                batch = batch.withColumn(
                    "decontam_excised_tokens", F.lit(0).cast("long")
                )

            if self.near_dup:
                bands_df = banded_signatures(
                    batch,
                    id_col="doc_id",
                    text_col="text",
                    num_hashes=self.num_hashes,
                    bands=self.bands,
                    shingle_n=self.shingle_n,
                ).localCheckpoint(eager=True)  # reused by 3 joins below

                est = signature_jaccard(F.col("l.sig"), F.col("r.sig"))

                # 3. intra-batch near-dup: keep the lower doc_id
                l, r = bands_df.alias("l"), bands_df.alias("r")
                intra_drop = (
                    l.join(
                        r,
                        (F.col("l.band") == F.col("r.band"))
                        & (F.col("l.bhash") == F.col("r.bhash"))
                        & (F.col("l.id") < F.col("r.id")),
                    )
                    .filter(est >= self.threshold)
                    .select(F.col("r.id").alias("doc_id"))
                    .distinct()
                )
                batch = batch.join(intra_drop, "doc_id", "left_anti")

                # 4. cross-corpus near-dup against the persistent index
                prior_bands = self._read_prior(spark, "index_bands", batch_id)
                if prior_bands is not None:
                    # the signature rides the band-0 rows of the bands
                    # table — deriving the sigs view from the SAME read
                    # skips a directory listing + read construction per
                    # batch (the filter prunes to the one non-null sig
                    # row per doc at the parquet scan)
                    prior_sigs = prior_bands.filter(F.col("sig").isNotNull()).select(
                        "id", "sig"
                    )
                    cand = (
                        bands_df.select("id", "band", "bhash")
                        .alias("l")
                        .join(
                            prior_bands.select("id", "band", "bhash").alias("r"),
                            ["band", "bhash"],
                        )
                        .select(
                            F.col("l.id").alias("new_id"), F.col("r.id").alias("old_id")
                        )
                        .distinct()
                    )
                    new_sigs = bands_df.select("id", "sig").dropDuplicates(["id"])
                    cross_drop = (
                        cand.join(
                            new_sigs.select(
                                F.col("id").alias("new_id"), F.col("sig").alias("_ns")
                            ),
                            "new_id",
                        )
                        .join(
                            prior_sigs.select(
                                F.col("id").alias("old_id"), F.col("sig").alias("_os")
                            ),
                            "old_id",
                        )
                        .filter(
                            signature_jaccard(F.col("_ns"), F.col("_os"))
                            >= self.threshold
                        )
                        .select(F.col("new_id").alias("doc_id"))
                        .distinct()
                    )
                    batch = batch.join(cross_drop, "doc_id", "left_anti")

            # 5. publish survivors + their index rows (idempotent
            # overwrite).  The corpus write IS the materialization of
            # the batch's dedup lineage; reading the just-written dir
            # back gives the same reuse a localCheckpoint would, minus
            # one whole evaluation job per batch (round-10 task 2's
            # job-count trim — measured on the composed pipeline).
            corpus_dir = os.path.join(
                self.out_dir, "corpus", f"batch_id={batch_id}"
            )
            # executes the fingerprint + exact-dedup window, the
            # cross-corpus anti-join, splice-verify, and both near-dup
            # anti-joins (all lazy until this write)
            batch.write.mode("overwrite").parquet(corpus_dir)
            kept = spark.read.parquet(corpus_dir)
            # The index writes below are INDEPENDENT actions over
            # already-materialized inputs (`kept` re-read from the
            # just-written corpus dir, `bands_df` localCheckpointed):
            # distinct output dirs, no cross-reads.  They are collected
            # as thunks and OVERLAPPED (sinks.overlap; round-20
            # optimization pass, guide §2.6 — Spark's scheduler runs
            # concurrent jobs fine; each action's fixed job-submission/
            # planning cost and straggler tail back-fill each other
            # instead of serializing).  Crash contract unchanged: every
            # write is an idempotent batch_id=N overwrite and the
            # checkpoint commit lands only after process() returns, so
            # a crash mid-pool leaves only partial dirs a replay
            # overwrites — same as sequential.
            index_writes: list = []
            if self.span_index:
                from real_time_financial_market_data_pipeline_spark.operators.dedup import span_fingerprints

                # map-side recompute over the kept docs by design —
                # see the repair_internal field comment (the fused
                # shared-frame form measured slower)
                kept_fps = span_fingerprints(
                    kept.select("doc_id", "text"), k=self.span_k
                )
                partial = (
                    kept_fps
                    .groupBy("fp")
                    .agg(
                        F.count_distinct("id").alias("n_docs"),
                        F.count(F.lit(1)).alias("n_occurrences"),
                        F.min(F.struct("id", "pos")).alias("_rep"),
                    )
                    .select(
                        "fp",
                        "n_docs",
                        "n_occurrences",
                        F.col("_rep.id").alias("rep_id"),
                        F.col("_rep.pos").alias("rep_pos"),
                    )
                )
                span_dir = os.path.join(self.out_dir, "index_spanfps")
                index_writes.append(
                    lambda: partial.write.mode("overwrite").parquet(
                        os.path.join(span_dir, f"batch_id={batch_id}")
                    )
                )
                if self.span_postings:
                    # the inverted fp -> doc map the incremental
                    # finalize joins changed spans against (see the
                    # field comment); same idempotent per-batch
                    # overwrite as every other index table
                    index_writes.append(
                        lambda: kept_fps.select(
                            "fp", F.col("id").alias("doc_id")
                        ).distinct().write.mode("overwrite").parquet(
                            os.path.join(
                                self.out_dir,
                                "index_spanpostings",
                                f"batch_id={batch_id}",
                            )
                        )
                    )
            if self.near_dup:
                kept_ids = kept.select(F.col("doc_id").alias("id"))
                kept_bands = bands_df.join(kept_ids, "id", "leftsemi")
                # ONE write carries bands and signatures (round-21);
                # sig is masked to the band-0 row so each doc's
                # signature is stored exactly once (one fewer
                # action + one fewer dropDuplicates shuffle per batch
                # than a separate table; banded_signatures emits every
                # band index for every indexable doc, so band 0 is total)
                index_writes.append(
                    lambda: kept_bands.select(
                        "id",
                        "band",
                        "bhash",
                        F.when(F.col("band") == 0, F.col("sig")).alias("sig"),
                    ).write.mode("overwrite").parquet(
                        os.path.join(
                            self.out_dir, "index_bands", f"batch_id={batch_id}"
                        )
                    )
                )
            overlap(spark, index_writes)

            # advance the monotone high-water mark only after every
            # table write above landed (crash-before-here = re-run
            # validates identically; see the check at batch entry)
            if self.monotone_ids and mono_max is not None:
                wm = _read_monotone_watermark(self.out_dir)
                if wm is None or batch_id > wm["batch_id"]:
                    prev = wm["max_id"] if wm is not None else mono_max
                    _write_monotone_watermark(
                        self.out_dir, batch_id, max(mono_max, prev)
                    )

            # inline auto-compaction (round-9 VERDICT task 1): bound
            # the batch-dir count the next batches must list.  Safe
            # here — foreachBatch is serialized per query, and the
            # CURRENT batch's checkpoint commit hasn't landed yet, so
            # committed_fold_bound excludes it from the fold and a
            # post-crash replay of this batch overwrites only its own
            # delta, never a folded snapshot.
            if self.compact_every and (batch_id + 1) % self.compact_every == 0:
                self.compact(spark)

        try:
            return (
                docs.writeStream.foreachBatch(process)
                .outputMode("append")
                .queryName("incremental_dedup")
                .option(
                    "checkpointLocation",
                    os.path.join(self.checkpoints(), "incremental_dedup"),
                )
                .trigger(**self.trigger)
                .start()
            )
        finally:
            if old_parts is not None:
                session.conf.set("spark.sql.shuffle.partitions", old_parts)


def corpus_view(spark, out_dir: str, empty_schema=None) -> DataFrame:
    """The deduplicated corpus accumulated so far.

    A stream whose every micro-batch was empty never creates `corpus/`
    (process() early-returns before any write).  The corpus schema is
    the input doc schema + `fingerprint string` + `batch_id int`, which
    this view cannot know a priori — pass `empty_schema` (StructType or
    DDL string) to get an empty frame in that case; without it the
    missing directory raises, with a pointer here instead of a bare
    PATH_NOT_FOUND."""
    path = os.path.join(out_dir, "corpus")
    if not os.path.isdir(path):
        if empty_schema is not None:
            return spark.createDataFrame([], empty_schema)
        raise FileNotFoundError(
            f"{path} does not exist — every micro-batch was empty (or the "
            "stream never ran). Pass empty_schema= to corpus_view for an "
            "empty frame with your doc schema."
        )
    return spark.read.parquet(path)


_SPAN_SPEC_MARKER = "_span_spec.json"
_CORPUS_SPEC_MARKER = "_corpus_spec.json"
# The corpus's on-disk format, recorded in _corpus_spec.json.  Bump it
# on ANY change that makes stored state unreadable or wrong for this
# build: the minhash scheme (signatures/band keys from another scheme
# never estimate correctly), the index layouts (signatures ride the
# index_bands band-0 rows), the spec's own fields.  _read_corpus_spec
# refuses every other version — a missing one included — so there is
# one compatibility check, not one per layout change.
_FORMAT_VERSION = 1


def _dump_json_atomic(path: str, obj) -> None:
    """Write-tmp + os.replace: a crash mid-write leaves the previous
    file (or none), never a torn one a later read would choke on."""
    import json

    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _read_corpus_spec(out_dir: str) -> dict | None:
    """The corpus spec (_corpus_spec.json), or None before the first
    start().  Raises ValueError unless it records this build's
    _FORMAT_VERSION."""
    import json

    try:
        with open(os.path.join(out_dir, _CORPUS_SPEC_MARKER)) as fh:
            spec = json.load(fh)
    except FileNotFoundError:
        return None
    if spec.get("format_version") != _FORMAT_VERSION:
        raise ValueError(
            f"the corpus at {out_dir} records format_version "
            f"{spec.get('format_version')!r}, but this build reads and "
            f"writes only format_version {_FORMAT_VERSION} — rebuild the "
            "corpus in a fresh out_dir"
        )
    return spec


def _write_corpus_spec(out_dir: str, spec: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    _dump_json_atomic(
        os.path.join(out_dir, _CORPUS_SPEC_MARKER),
        {"format_version": _FORMAT_VERSION, **spec},
    )


def stored_benchmark_k(fp_dir: str) -> int | None:
    """The k a benchmark fingerprint index (`build_benchmark_span_index`
    output) was built with — None when the marker predates round 9 or
    the index doesn't exist yet."""
    import json

    try:
        with open(os.path.join(fp_dir, _SPAN_SPEC_MARKER)) as fh:
            return json.load(fh).get("span_k")
    except (OSError, ValueError):
        return None


def stored_span_k(out_dir: str) -> int | None:
    """The span_k the corpus's span index is built with, from the
    corpus spec (None before the first start() or with span_index
    off).  Raises ValueError on a foreign format version, so every
    k-checking reader refuses an unreadable corpus too."""
    spec = _read_corpus_spec(out_dir)
    return None if spec is None else spec["span_k"]


def merge_span_stats(partials: DataFrame) -> DataFrame:
    """EXACT merge of per-batch span-fp partial aggregates
    (fp, n_docs, n_occurrences, rep_id, rep_pos): distinct-doc counts
    are additive because a doc_id's windows all live in the one batch
    that kept it (per-batch overwrite + insert-only doc_ids), occurrence
    counts are plain sums, and the global min-(id, pos) representative
    is the min of batch minima.  One hash-agg on fp — the same shuffle
    shape as recomputing stats, minus the re-fingerprinting of history."""
    return (
        partials.groupBy("fp")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
            F.min(
                F.struct(
                    F.col("rep_id").alias("id"), F.col("rep_pos").alias("pos")
                )
            ).alias("_rep"),
        )
        .select(
            "fp",
            "n_docs",
            "n_occurrences",
            F.col("_rep.id").alias("rep_id"),
            F.col("_rep.pos").alias("rep_pos"),
        )
    )


def span_stats_view(spark, out_dir: str, min_docs: int = 2) -> DataFrame:
    """The corpus-wide per-fingerprint span stats accumulated so far
    (merged across batch partials), filtered to fingerprints in >=
    min_docs documents — the `_common_span_stats` equivalent served
    straight off the incremental index, no re-fingerprinting."""
    path = os.path.join(out_dir, "index_spanfps")
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"{path} does not exist — run IncrementalDedupJob with "
            "span_index=True (and at least one non-empty batch) first"
        )
    merged = merge_span_stats(spark.read.parquet(path).drop("batch_id"))
    return merged.filter(F.col("n_docs") >= min_docs)


def span_postings_view(spark, out_dir: str) -> DataFrame:
    """The accumulated fp -> doc posting list (fp, doc_id) — which
    documents contain each span_k-token window fingerprint.  Written
    per batch by `IncrementalDedupJob(span_postings=True)`; the
    incremental finalize's changed-span -> affected-docs join runs
    against this instead of re-fingerprinting the corpus."""
    path = os.path.join(out_dir, "index_spanpostings")
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"{path} does not exist — run IncrementalDedupJob with "
            "span_postings=True (and at least one non-empty batch) first"
        )
    return spark.read.parquet(path).select("fp", "doc_id")


_MONOTONE_WATERMARK = "_monotone_watermark.json"
_POSTINGS_PRUNED_MARKER = "_pruned.json"


def _read_monotone_watermark(out_dir: str) -> dict | None:
    import json

    try:
        with open(os.path.join(out_dir, _MONOTONE_WATERMARK)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _write_monotone_watermark(out_dir: str, batch_id: int, max_id) -> None:
    _dump_json_atomic(
        os.path.join(out_dir, _MONOTONE_WATERMARK),
        {"batch_id": batch_id, "max_id": max_id},
    )


_PRUNE_PENDING = "_prune_pending"


def _mark_postings_pruned(path: str) -> None:
    """Write the may-be-pruned marker (idempotent, atomic).  MUST land
    before any posting row can be dropped — see record_settled_fps;
    semantics are 'may be pruned', so a marker with zero rows actually
    removed only forces the conservative full-sweep path on FULL
    cuts."""
    marker = os.path.join(path, _POSTINGS_PRUNED_MARKER)
    if not os.path.isfile(marker):
        _dump_json_atomic(marker, {"pruned": True})


def record_settled_fps(out_dir: str, settled: "DataFrame") -> bool:
    """Postings pruning, record side (round-13 VERDICT task 4): persist
    the settled fp set under the postings table so its NEXT compaction
    — which rewrites every folded dir anyway — drops the settled rows
    inside its resolve (IncrementalDedupJob._postings_resolve).  The
    may-be-pruned marker is written BEFORE the pending set goes live
    (no row can be dropped without the marker), and rows linger at
    most one compaction cadence (skipping/deferring removal is always
    sound — leftover settled rows are never looked up by the
    changed-fps join).

    Why the rows are dead — sound ONLY under the monotone_ids ingest
    contract, which the caller (CuratedCorpusPipeline.finalize) gates:
    `settled` is the qualifying span set of the generation that just
    COMMITTED.  Under monotone ids a qualifying fp's min-(id, pos)
    representative can never move (new docs only have larger ids) and
    n_docs only grows, so the fp can never appear in a later delta's
    changed set — the changed-fps -> postings join (`_redo_docs`) will
    never look these rows up again.  The posting-pruned excision split
    stays sound for DELTA cuts too: a redo doc is either new (its
    posting rows are above the recording's watermark, see below) or
    holds a changed fp (never settled, so never pruned) — either way
    at least one live row classifies it affected, and the excision
    itself re-fingerprints the doc's own text against the full span
    set.  FULL cuts lose the split (old holders of settled fps are no
    longer discoverable) — span_postings_pruned() marks the corpus so
    finalize_frame falls back to the full sweep there.

    The recording also captures the monotone HIGH-WATER MARK (max
    ingested doc_id) at cut time, and the removal is scoped to rows
    with doc_id <= that mark: a compaction can run MID-DRAIN and would
    otherwise delete rows of docs ingested AFTER the cut — rows the
    next delta cut's excision split still needs (a new doc whose only
    qualifying spans are settled would lose its last live row and be
    classified untouched, emitting unexcised text; caught by the
    round-13 twin aging run's fold certification).  Docs above the
    mark keep their rows until a LATER cut — which curates them —
    records a higher mark.

    The pending set is OVERWRITTEN each cut: under the monotone-qualify
    invariant (n_docs only grows) the settled set of cut N+1 is a
    superset of cut N's and its watermark is >= cut N's, so the latest
    recording subsumes every prior one — no clear protocol needed, and
    a crash between the two renames below merely leaves no pending set
    (rows linger until the next cut re-records; sound).  Returns False
    when the postings table doesn't exist or no watermark has been
    written yet (nothing can be scoped safely)."""
    import json
    import shutil

    path = os.path.join(out_dir, "index_spanpostings")
    if not os.path.isdir(path):
        return False
    wm = _read_monotone_watermark(out_dir)
    if wm is None:
        return False
    seq = _next_prune_seq(out_dir)
    _mark_postings_pruned(path)
    inprog = os.path.join(path, _PRUNE_PENDING + "_inprog")
    shutil.rmtree(inprog, ignore_errors=True)
    settled.select("fp").write.mode("overwrite").parquet(inprog)
    with open(os.path.join(inprog, "_watermark.json"), "w") as fh:
        # (max_doc_id, batch_id, seq) is the recording's IDENTITY: a
        # compaction that applied this exact recording marks it applied
        # (_write_prune_applied) and later compactions skip the
        # anti-join until a new cut records a different identity
        # (round-14 VERDICT task 1).  seq is a per-record monotone
        # counter (round-14 ADVICE, low): two cuts at the SAME
        # watermark — e.g. a full cut after lowering span_min_docs,
        # which enlarges the settled set with no new drained batches —
        # must not share an identity, or the second recording would be
        # skipped as already-applied and its enlarged settled set
        # silently never pruned until the watermark next advances.
        json.dump(
            {"max_doc_id": wm["max_id"], "batch_id": wm["batch_id"], "seq": seq},
            fh,
        )
    final = os.path.join(path, _PRUNE_PENDING)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(inprog, final)
    return True


def pending_settled_fps(spark, out_dir: str):
    """The recorded (settled fp set, max_doc_id watermark) awaiting
    removal, or None.  Underscore-prefixed dir and side file, so
    table-level parquet reads never see either."""
    p = os.path.join(out_dir, "index_spanpostings", _PRUNE_PENDING)
    ident = _pending_prune_identity(out_dir)
    if ident is None:
        return None
    return spark.read.parquet(p), ident[0]


_PRUNE_APPLIED = "_prune_applied.json"


def _prune_identity(path: str) -> tuple[int, int, int] | None:
    """(max_doc_id, batch_id, seq) stored in a recording's side file,
    or None when it is absent or unreadable."""
    import json

    try:
        with open(path) as fh:
            d = json.load(fh)
        return int(d["max_doc_id"]), int(d["batch_id"]), int(d["seq"])
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _pending_prune_identity(out_dir: str) -> tuple[int, int, int] | None:
    """(max_doc_id, batch_id, seq) identity of the pending settled-fp
    recording, or None when there is no readable pending set."""
    p = os.path.join(out_dir, "index_spanpostings", _PRUNE_PENDING)
    if not os.path.isdir(p) or not any(
        f.endswith(".parquet") for f in os.listdir(p)
    ):
        return None
    return _prune_identity(os.path.join(p, "_watermark.json"))


def _next_prune_seq(out_dir: str) -> int:
    """Next value of the per-record monotone cut counter: one more than
    the highest seq visible in either the pending recording (about to
    be overwritten) or the applied mark.  A crash that lost an
    unapplied pending recording may hand its seq out again — fine: the
    identity only needs to differ from the APPLIED mark, and a lost
    recording was never applied."""
    seqs = [
        ident[2]
        for ident in (_pending_prune_identity(out_dir), _read_prune_applied(out_dir))
        if ident is not None
    ]
    return max(seqs, default=0) + 1


def _read_prune_applied(out_dir: str) -> tuple[int, int, int] | None:
    """Identity of the last settled-fp recording a compaction APPLIED
    (anti-join executed and its publish completed), or None."""
    return _prune_identity(
        os.path.join(out_dir, "index_spanpostings", _PRUNE_APPLIED)
    )


def _write_prune_applied(out_dir: str, ident: tuple[int, int, int]) -> None:
    """Mark a settled-fp recording as applied (round-14 VERDICT task 1):
    written by compact()/recover() AFTER the postings fold's publish
    completes, never inside the resolve itself — a crash between
    resolve and publish must leave the mark absent so the next
    compaction conservatively re-pays the (idempotent) anti-join.
    While the mark matches the pending identity, _postings_resolve
    skips the anti-join: every row the pending set could remove is
    already gone from the snapshot, and post-recording deltas only
    carry doc_ids above the watermark (monotone contract), which the
    scoped removal never touches — so the skip is bit-identical on the
    normal path.  One crash edge is merely SOUND rather than
    identical: the watermark advances before the checkpoint commit, so
    a replayed uncommitted batch's delta can carry doc_ids <= the
    recorded watermark; its settled rows then linger under the skip.
    Lingering settled rows are harmless by the standing envelope (the
    changed-fps join never looks settled fps up; extra live rows only
    route a doc onto the excision split it didn't need — the
    conservative direction) and bounded by one batch; a later cut
    re-records a higher identity and they leave at its compaction.  A
    new cut re-records with a different identity — the per-record seq
    guarantees "different" even at an unchanged watermark (round-14
    ADVICE) — and the join runs again."""
    _dump_json_atomic(
        os.path.join(out_dir, "index_spanpostings", _PRUNE_APPLIED),
        {"max_doc_id": ident[0], "batch_id": ident[1], "seq": ident[2]},
    )


def span_postings_pruned(out_dir: str) -> bool:
    """True once record_settled_fps has armed pruning on this corpus —
    the signal for a FULL finalize cut to fall back to the full
    fingerprint sweep (settled fps' old holders are no longer
    discoverable through the postings; delta cuts stay posting-driven,
    see record_settled_fps)."""
    return os.path.isfile(
        os.path.join(out_dir, "index_spanpostings", _POSTINGS_PRUNED_MARKER)
    )


def common_spans_view(
    spark,
    out_dir: str,
    min_docs: int = 2,
    k: int = 8,
    merged: bool = False,
) -> DataFrame:
    """`operators.dedup.common_spans` (or, with merged=True, the
    maximal-block `merged_common_spans`) over the ACCUMULATED corpus,
    computed from the incremental span index: only the representative-
    text equi-join against the (column-pruned) corpus runs at query
    time — batch-identical output (e2e-tested) at per-query cost
    independent of how many batches built the index.  `k` must match
    the job's span_k (fingerprints of different window sizes don't
    mix) — validated against the corpus spec (stored_span_k), so a
    mismatch, or a corpus of another format version, raises instead
    of silently slicing wrong span_text."""
    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        common_spans_from_stats,
        merged_common_spans_from_stats,
    )

    built_k = stored_span_k(out_dir)
    if built_k is not None and built_k != k:
        raise ValueError(
            f"common_spans_view(k={k}) but the index at {out_dir} was "
            f"built with span_k={built_k} — fingerprints of different "
            "window sizes don't mix; pass the matching k (or rebuild "
            "the index with the new one)"
        )
    stats = span_stats_view(spark, out_dir, min_docs=min_docs)
    corpus = corpus_view(spark, out_dir).select("doc_id", "text")
    builder = merged_common_spans_from_stats if merged else common_spans_from_stats
    return builder(stats, corpus, id_col="doc_id", text_col="text", k=k)


def build_benchmark_span_index(
    benchmark: DataFrame,
    out_dir: str,
    k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Materialize the distinct span fingerprints of a benchmark corpus
    as the static index `IncrementalDedupJob.benchmark_fp_dir` consumes
    (one column `fp bigint` — the smallest thing the per-batch
    decontamination join can read).  Rebuild whenever the benchmark set
    changes; the ingest job picks the new index up on its next batch.
    Returns the number of distinct fingerprints written.

    The build k is recorded in a `_span_spec.json` marker beside the
    parquet (underscore-prefixed — invisible to parquet listings);
    `IncrementalDedupJob.start` validates its decontam_k against it, so
    a window-size mismatch raises instead of silently matching nothing
    (round-9 ADVICE)."""
    import json

    from real_time_financial_market_data_pipeline_spark.operators.dedup import span_fingerprints

    fps = (
        span_fingerprints(benchmark, id_col=id_col, text_col=text_col, k=k)
        .select("fp")
        .distinct()
    )
    fps.write.mode("overwrite").parquet(out_dir)
    # AFTER the parquet overwrite (which clears the directory)
    with open(os.path.join(out_dir, _SPAN_SPEC_MARKER), "w") as fh:
        json.dump({"span_k": k}, fh)
    return benchmark.sparkSession.read.parquet(out_dir).count()
