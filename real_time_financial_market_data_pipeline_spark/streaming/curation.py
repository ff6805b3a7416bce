"""End-to-end curated-corpus pipeline (round-9 VERDICT task 2): the
composition a training-data user would actually run, wiring the whole
span machinery into ONE flow —

  ingest stream
    └─ within-document repeat repair  (repair_internal, keep-first)
    └─ surgical benchmark decontamination (excise + splice verify)
    └─ exact + near dedup vs the incremental LSH index
    └─ span-fp index accumulation (+ auto-compaction cadence)
  finalize (stream-stopped OPTIMIZE)
    └─ splice-safe cross-doc span excision OFF THE INDEX
    └─ quality / repetition gate       └─ PII redaction
    └─ deterministic train/val/test split → curated/ (partition=split)

ORDERING is the load-bearing design decision (this is where the
composition bugs live):

  1. WITHIN-DOC repair runs FIRST, inside the ingest batch, BEFORE
     fingerprinting (`IncrementalDedupJob.repair_internal`).  Every
     index — dedup fingerprints, LSH bands, span-fp positions — is
     then built on the repaired text, so the stream-stopped excision
     pass can consume the span index without any position drift.
     Running repair AFTER ingest (the naive reading of the stage list)
     would rewrite text the span index had already fingerprinted:
     rep_pos would point into stale token space and the index-driven
     excision would slice the wrong spans.
  2. DECONTAMINATION runs AFTER repair (IncrementalDedupJob step 0):
     repair's concatenating rebuild can in principle splice NEW
     k-grams, including benchmark ones — detection must therefore see
     the post-repair text, and excise_verify re-checks the excised
     docs, so the corpus is clean under the detection rule from the
     first byte with a HARD guarantee.
  3. CROSS-DOC excision runs stream-stopped in split mode
     (`split_excise_common_spans`): chunks are verbatim substrings of
     the indexed text, so no k-gram — benchmark or boilerplate — can
     form that was not already present and verified clean.  The spans
     come from the incremental index, and finalize validates span_k
     against the corpus spec (`_corpus_spec.json`, which also carries
     the corpus format version) — a window-size or format mismatch
     raises instead of slicing wrong text.
  4. The quality/repetition gate and PII redaction run on the FINAL
     chunk text (what a training job reads); the split is hashed on
     doc_id so all chunks of a document land in the same split (no
     train/val leakage through shared provenance).

Scale: the streaming phase is `IncrementalDedupJob`'s per-batch
envelope (map-side fingerprinting + band/fp equi-joins, flat in corpus
size; `compact_every` bounds directory listings).  The finalize pass
writes GENERATIONS: the first cut is one fingerprint sweep of the
corpus (inside split excision) + one fp equi-join against the
index-served spans + map-side metric projection — no pair enumeration
anywhere — and every later cut is DELTA-sized: only new docs and docs
holding a changed span fingerprint (found via the `index_spanpostings`
inverted index, one equi-join) are re-curated, and `curated_view`
resolves latest-generation-wins.  See finalize() for the protocol and
the correctness argument.

Reference parity note: the reference pipeline curates market ticks
(validate → dedup → gold), not documents; this module is the
LLM-data-pipeline extension of the same medallion shape
(reference src/consumer/spark_processor.py:61-133 is the
ingest-validate-publish analogue).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from real_time_financial_market_data_pipeline_spark.functions.text import (
    detect_lang,
    quality_score,
    redact_pii,
    repetition_metrics,
    token_count,
)
from real_time_financial_market_data_pipeline_spark.operators.sampling import train_val_test_split
from real_time_financial_market_data_pipeline_spark.streaming.incremental import (
    IncrementalDedupJob,
    _dump_json_atomic,
    corpus_view,
    record_settled_fps,
    span_postings_pruned as _postings_pruned_here,
    span_postings_view,
    span_stats_view,
    stored_span_k,
)
from real_time_financial_market_data_pipeline_spark.streaming.sinks import overlap


# snapshot-dir marker naming the committed generations a published
# serving snapshot reflects — the delta-publish staleness contract
_SERVING_GENS_MARKER = "_published_gens.json"

# reader-facing snapshot pointer at curated/_committed.json (round-12
# VERDICT task 5): ONE atomically-replaced file naming the committed
# generations, so a reader's "which gens" step is a single atomic read
# instead of a marker-directory listing that a concurrent fold can
# invalidate between the list and the parquet scan.  Everything a
# manifest references outlives the NEXT finalize (grace deletion), so a
# reader holding either the old or the new manifest always finds every
# file it needs.  At cluster scale this is also the listing-cost fix:
# one GET replaces O(generations) LIST calls per read.
_CURATED_MANIFEST = "_committed.json"

# tombstone file inside finalize_state/docs/gen=K marking the gen as
# folded away: the WRITER's committed-set excludes it immediately (the
# fold's whole point is bounding the supersede join), while the marker
# parquet and the gen's rows stay on disk for readers holding a
# pre-fold manifest until the next finalize's grace sweep deletes them.
_FOLDED_TOMBSTONE = "_FOLDED"


@dataclass
class CuratedCorpusPipeline:
    """One-stop document curation: `start()` the streaming ingest
    phase, `finalize()` the stream-stopped excision/gate/split pass,
    read the result with `curated_view()`."""

    out_dir: str
    # --- decontamination (surgical, hard-verified) ---
    benchmark_fp_dir: str | None = None
    decontam_k: int = 13
    # --- within-document repair (pre-index, keep-first) ---
    internal_k: int = 8
    internal_min_occurrences: int = 2
    # --- near-dup index ---
    num_hashes: int = 16
    bands: int = 4
    threshold: float = 0.5
    shingle_n: int = 3
    # --- cross-doc span excision (off the incremental index) ---
    span_k: int = 8
    span_min_docs: int = 2
    # --- curation gate / split ---
    quality_min: float = 0.5
    max_dup_line_ratio: float = 0.3
    redact: bool = True
    val_frac: float = 0.1
    test_frac: float = 0.1
    # --- operations ---
    compact_every: int | None = 8
    # Opt-in monotone doc_id ingest contract (round-12 VERDICT task 4):
    # enforced per batch by the job; licenses finalize() to PRUNE the
    # span-postings inverted index down to the not-yet-settled
    # fingerprints after each cut.  The prune rides the postings
    # table's own compaction: finalize records the settled fp set
    # (incremental.record_settled_fps) and the next compaction — which
    # rewrites every folded dir anyway — drops those rows inside its
    # resolve, so settled rows linger at most one compaction cadence
    # (cheaper than a per-cut rewrite, measured in SCALE.md).  Requires
    # compact_every (otherwise rows would never be removed).  Off =
    # postings behavior exactly as before.
    monotone_ids: bool = False
    # Fold curated generations (see finalize) into one when the
    # committed count exceeds this — bounds the per-read supersede
    # join and the directory listing, same motivation as compact_every.
    curated_max_gens: int = 8
    # How long a folded-away generation's files stay on disk after its
    # tombstone lands, for readers that resolved a pre-fold manifest
    # (round-12 task 5) — the same knob as Delta's
    # deletedFileRetentionDuration.  A reader whose scan outlives this
    # window can hit deleted files; size it to the longest expected
    # read.  0 deletes at the next finalize.
    fold_retention_sec: float = 600.0
    # Opt-in serving-table freshness hook (round-13 VERDICT task 3):
    # when True, every finalize() ends by re-publishing the bucketed
    # serving table via publish_bucketed(mode="auto") — no-op when the
    # table already reflects every committed generation, delta-sized
    # when cheap, full otherwise (including after a generation fold,
    # whose renumbering makes the delta ineligible).  The staleness
    # contract becomes "never stale after a cut" instead of "re-run
    # publish_bucketed manually".
    auto_publish: bool = False
    serving_table: str = "curated_serving"
    serving_buckets: int = 8
    trigger: dict = field(default_factory=lambda: {"availableNow": True})
    # per-batch shuffle sizing, forwarded to the ingest job — see
    # IncrementalDedupJob.shuffle_partitions (round-20 optimization
    # pass): size to expected micro-batch volume, None leaves the
    # session conf untouched.
    shuffle_partitions: int | None = 8

    def __post_init__(self) -> None:
        """Fail-fast config validation at CONSTRUCTION (round-14
        ADVICE, low) instead of at a later cut."""
        if self.monotone_ids and self.compact_every is None:
            raise ValueError(
                "monotone_ids=True requires compact_every: the postings "
                "prune rides the compaction rewrite, so without a "
                "compaction cadence the settled rows would never be removed"
            )

    def job(self) -> IncrementalDedupJob:
        """The configured ingest job (exposed for compact()/inspection).
        Within-doc repair runs as the job's own first stage
        (repair_internal) rather than a pre_transform callback, so its
        window size is recorded in _corpus_spec.json and lifetime-
        locked like every other fingerprint-shaping setting."""
        return IncrementalDedupJob(
            out_dir=self.out_dir,
            num_hashes=self.num_hashes,
            bands=self.bands,
            threshold=self.threshold,
            shingle_n=self.shingle_n,
            benchmark_fp_dir=self.benchmark_fp_dir,
            decontam_k=self.decontam_k,
            decontam_mode="excise",
            excise_verify=True,
            span_index=True,
            span_k=self.span_k,
            repair_internal=True,
            internal_k=self.internal_k,
            internal_min_occurrences=self.internal_min_occurrences,
            span_postings=True,
            compact_every=self.compact_every,
            monotone_ids=self.monotone_ids,
            trigger=self.trigger,
            shuffle_partitions=self.shuffle_partitions,
        )

    def start(self, docs: DataFrame) -> StreamingQuery:
        """Phase 1: stream (doc_id, text, ...) into the decontaminated,
        repaired, deduplicated corpus + its LSH and span-fp indexes."""
        return self.job().start(docs)

    def curated_dir(self) -> str:
        return os.path.join(self.out_dir, "curated")

    def _state_dir(self, *parts: str) -> str:
        return os.path.join(self.out_dir, "finalize_state", *parts)

    def _finalize_spec(self) -> dict:
        """The settings that shape curated rows.  A DELTA cut reuses
        the prior generations' rows for unaffected docs, so these must
        not drift between cuts — _redo_docs only tracks SPAN-SET
        change, and e.g. a raised span_min_docs or quality_min applied
        to only the redo docs would produce a silently mixed-policy
        table (round-10 review).  Recorded by every full cut, validated
        by every delta cut; to change a setting, run
        finalize(mode="full")."""
        return {
            "span_k": self.span_k,
            "span_min_docs": self.span_min_docs,
            "quality_min": self.quality_min,
            "max_dup_line_ratio": self.max_dup_line_ratio,
            "redact": self.redact,
            "val_frac": self.val_frac,
            "test_frac": self.test_frac,
        }

    def _check_finalize_spec(self) -> None:
        import json

        marker = self._state_dir("_finalize_spec.json")
        if not os.path.exists(marker):
            return  # pre-lock state: the next full cut records it
        with open(marker) as fh:
            prior = json.load(fh)
        spec = self._finalize_spec()
        diffs = {
            key: (prior[key], spec[key])
            for key in spec
            if key in prior and prior[key] != spec[key]
        }
        if diffs:
            raise ValueError(
                "finalize settings changed since the last full cut "
                f"(stored vs requested: {diffs}) — a delta cut would "
                "apply the new policy to only the redo docs, producing "
                "a mixed-policy curated table; run "
                "finalize(mode='full') to re-curate everything under "
                "the new settings"
            )

    def _write_finalize_spec(self) -> None:
        os.makedirs(self._state_dir(), exist_ok=True)
        _dump_json_atomic(self._state_dir("_finalize_spec.json"), self._finalize_spec())

    def refinalize(self, spark, **new_settings) -> str:
        """The operational half of the finalize-spec lock (round-11
        VERDICT task 2): change curation POLICY mid-life.  Updates the
        given finalize-shaping settings on this pipeline (span_min_docs,
        quality_min, max_dup_line_ratio, redact, val_frac, test_frac)
        and runs a FULL cut, which re-curates every corpus doc under
        the new policy and atomically re-records the spec (the spec
        file is written only after the new generation's commit marker
        lands, so a crash mid-refinalize leaves the OLD spec guarding
        the OLD committed state).  The result is identical to a
        fresh-corpus finalize with the new settings (proven in
        tests/test_curation_pipeline.py); subsequent delta cuts run
        under the new policy.

        Fingerprint-shaping settings (span_k, and everything locked in
        _corpus_spec.json) canNOT be changed this way — they shape the
        on-disk index, not just the cut; attempting it raises."""
        allowed = set(self._finalize_spec()) - {"span_k"}
        bad = set(new_settings) - allowed
        if bad:
            raise ValueError(
                f"refinalize cannot change {sorted(bad)} — only the "
                f"cut-shaping settings {sorted(allowed)} are "
                "re-recordable; span_k and the _corpus_spec.json "
                "settings shape the stored index itself and are locked "
                "for the corpus lifetime"
            )
        # apply-with-rollback (round-12 ADVICE): if the full cut throws,
        # restore the prior attribute values — otherwise the in-memory
        # pipeline would carry the NEW policy while the on-disk spec
        # still records the OLD one, and the next finalize(auto) would
        # raise the mixed-policy error instead of proceeding.  (A
        # process crash mid-cut stays safe regardless: the spec file is
        # only rewritten after the new generation commits.)
        prior = {key: getattr(self, key) for key in new_settings}
        for key, value in new_settings.items():
            setattr(self, key, value)
        try:
            return self.finalize(spark, mode="full")
        except BaseException:
            for key, value in prior.items():
                setattr(self, key, value)
            raise

    def _serving_root(self, table: str) -> str:
        """Per-TABLE serving directory (round-12 ADVICE): the round-11
        fixed `out_dir/curated_serving` path let a second table name
        (or a re-publish with a different n_buckets) overwrite the
        files a first table's catalog entry — with its old bucket spec
        — still pointed at, so bucket-pruned reads of the stale table
        scanned the wrong bucket files and silently missed rows."""
        return os.path.join(self.out_dir, "serving", table)

    @staticmethod
    def _check_serving_ident(table: str) -> None:
        """Serving table names are interpolated into SQL (ALTER/CREATE/
        DROP) and into filesystem paths — restrict them to plain
        identifiers so neither surface can be broken or injected
        (round-12 ADVICE); they are still backtick-quoted in every
        statement as defense in depth."""
        import re

        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]{0,127}", table):
            raise ValueError(
                f"serving table name {table!r} must be a plain SQL "
                "identifier ([A-Za-z_][A-Za-z0-9_]*, <=128 chars)"
            )

    def _write_serving_snapshot(
        self, spark, frame: DataFrame, table: str, n_buckets: int, dest: str
    ) -> None:
        """Write `frame` as a doc_id-bucketed, (doc_id, chunk_idx)-
        sorted parquet layout at `dest`, via a throwaway external table
        (the only API Spark exposes for bucketed writes) — the same
        mechanism as sinks.write_bucketed (gold compaction)."""
        tmp = f"{table}__publish_staging"
        spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
        (
            frame.repartition(n_buckets, "doc_id")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, "doc_id")
            .sortBy("doc_id", "chunk_idx")
            .option("path", dest)
            .saveAsTable(tmp)
        )
        spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")  # external: files stay

    def _declare_serving_table(
        self, spark, table: str, n_buckets: int, snap: str
    ) -> None:
        """Point the catalog entry at the new snapshot dir.  Fast path
        (same schema + bucket spec): ALTER TABLE ... SET LOCATION — a
        metadata-only swap, so a concurrent reader NEVER sees the table
        missing from the catalog (round-12 VERDICT task 2; the round-11
        DROP-then-saveAsTable had a missing-table window, and left NO
        serving table at all if the write failed — here the snapshot is
        fully written before any catalog statement runs).  Slow path
        (first publish / spec change): CREATE over the already-complete
        directory; the DROP+CREATE pair is two metadata ops, the only
        remaining window, and only on spec-changing publishes."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import _table_bucket_spec

        schema = spark.read.parquet(snap).schema
        if (
            spark.catalog.tableExists(table)
            and spark.table(table).schema == schema
            and _table_bucket_spec(spark, table) == (n_buckets, ["doc_id"])
        ):
            spark.sql(f"ALTER TABLE `{table}` SET LOCATION '{snap}'")
            spark.sql(f"REFRESH TABLE `{table}`")  # drop cached file listings
            return
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        spark.sql(
            f"CREATE TABLE `{table}` ({cols}) USING PARQUET "
            "CLUSTERED BY (doc_id) SORTED BY (doc_id, chunk_idx) "
            f"INTO {n_buckets} BUCKETS LOCATION '{snap}'"
        )

    @staticmethod
    def _serving_location(spark, table: str) -> str | None:
        """Filesystem path of the catalog table's current location, or
        None when the table doesn't exist / metadata can't be read."""
        try:
            if not spark.catalog.tableExists(table):
                return None
            rows = {
                r["col_name"]: r["data_type"]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED `{table}`").collect()
            }
            loc = rows.get("Location")
        except Exception:  # noqa: BLE001 — absent table, foreign catalog
            return None
        if not loc:
            return None
        for prefix in ("file://", "file:"):
            if loc.startswith(prefix):
                return loc[len(prefix):]
        return loc

    def publish_bucketed(
        self,
        spark,
        table: str = "curated_serving",
        n_buckets: int = 8,
        mode: str = "auto",
    ) -> str:
        """Publish the merged curated view as a doc_id-BUCKETED serving
        table: bucketBy(doc_id) + sortBy(doc_id, chunk_idx) through an
        external table — the same Cassandra-partition-key re-expression
        the gold tables use (materialize.py:60; reference
        src/consumer/spark_processor.py:98-115 is the serving-publish
        analogue).  A doc_id point lookup prunes to ONE bucket file
        (SelectedBucketsCount in the scan), and every per-doc
        aggregate/window/join clusters on a distribution the scan
        already satisfies — zero Exchange at read time (plan-pinned in
        tests/test_curation_pipeline.py).

        Positioning: the generational `curated/` layout stays the
        TRAINING-SCAN path (split-partition pruning, delta-cheap
        maintenance); this is the audit/serving companion for "show me
        this document's curated chunks".

        PUBLISH PROTOCOL (round-12 VERDICT tasks 2+3).  Snapshots live
        at `out_dir/serving/<table>/snap_K` (per-table paths — see
        _serving_root); each publish writes a COMPLETE new snapshot dir
        (staged under `_publish_inprog`, renamed into place), then
        swaps the catalog entry via metadata-only ALTER ... SET
        LOCATION.  The PREVIOUS snapshot dir is retained until the
        next publish supersedes it, so a reader that resolved the old
        location keeps a fully intact directory for the whole
        intervening window — concurrent point reads see old-or-new
        rows, never a missing table and never missing files
        (republish-under-reader test in tests/test_curation_pipeline.py).
        A crash mid-publish leaves either `_publish_inprog` debris or
        (between the snap rename and the catalog swap) an UNDECLARED
        snap_K dir; the next publish clears both — retention spares
        exactly the snapshot the catalog pointed at on entry, so
        debris can never displace the reader-visible previous
        snapshot.  The live table is untouched either way.

        Modes (mirrors finalize):
        - "full": rewrite every bucket from curated_view.
        - "delta": rebuild ONLY the buckets containing docs re-curated
          by generations committed AFTER the published snapshot
          (snapshot marker `_published_gens.json` vs the current commit
          markers; doc_id→bucket is Spark's own deterministic
          pmod(murmur3, n)).  Inputs are DELTA-sized end to end: the
          previous snapshot's affected-bucket FILES (minus the redo
          docs' stale rows) plus the new generations' own row dirs —
          the published majority is neither read, shuffled, nor
          rewritten, and untouched buckets' files are HARDLINKED from
          the previous snapshot (on an object store this is the
          manifest-reuse a snapshot table format performs; the
          hardlink is the local-FS analogue).  Correct because a
          bucket with no redo doc holds exactly its old rows.
          Requires the published marker's gens to all still exist (a
          generation FOLD renumbers them → falls back to full), and
          the same bucket spec.  DEFENSE (round-13 VERDICT task 2):
          the file→bucket mapping parses Spark's private bucketed
          file-name format, so if any previous-snapshot parquet file
          fails the format regex the publish warns and falls back to
          "full" (correct under any naming) instead of silently
          dropping unmapped files' rows.
        - "auto" (default): "delta" when eligible and the table is
          stale, no-op when already fresh, else "full"; an
          auto-resolved delta additionally falls back to "full" when
          the redo docs touch more than half the buckets (the delta's
          file-minus-join assembly would cost more than the straight
          rewrite it avoids)."""
        import json
        import re
        import shutil

        self._check_serving_ident(table)
        if mode not in ("auto", "full", "delta"):
            raise ValueError(f"publish mode must be auto/full/delta (got {mode!r})")
        mode_arg = mode  # the caller's request, before auto-resolution
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import (
            _BUCKET_SPEC_MARKER,
            _table_bucket_spec,
        )

        committed = self._committed_gens()
        root = self._serving_root(table)
        os.makedirs(root, exist_ok=True)
        snaps = sorted(
            int(d.split("_")[1])
            for d in os.listdir(root)
            if re.fullmatch(r"snap_\d+", d)
        )

        # ---- delta eligibility: published marker vs committed gens ----
        cur_loc = self._serving_location(spark, table)
        published: list[int] | None = None
        if (
            cur_loc
            and os.path.isdir(cur_loc)
            # the location must be one of THIS pipeline's snapshots — a
            # same-named table serving a different corpus would
            # otherwise donate its bucket files to the hardlink reuse
            and os.path.dirname(os.path.normpath(cur_loc)) == os.path.normpath(root)
            and _table_bucket_spec(spark, table) == (n_buckets, ["doc_id"])
            and os.path.isfile(os.path.join(cur_loc, _SERVING_GENS_MARKER))
        ):
            with open(os.path.join(cur_loc, _SERVING_GENS_MARKER)) as fh:
                published = json.load(fh)["gens"]
        new_gens = (
            [g for g in committed if g not in set(published)]
            if published is not None and set(published) <= set(committed)
            else None
        )
        if mode == "auto":
            if new_gens is not None and not new_gens:
                return table  # already reflects every committed generation
            mode = "delta" if new_gens else "full"
        if mode == "delta":
            if new_gens is None:
                raise ValueError(
                    "publish_bucketed(mode='delta') needs a previously "
                    "published snapshot whose generations all still exist "
                    f"(published={published}, committed={committed}) — "
                    "run a full publish first (or after a generation fold)"
                )
            if not new_gens:
                return table
            # Bucket-file-name guard (round-13 VERDICT task 2): the
            # delta path selects the previous snapshot's affected-bucket
            # files, and hardlinks the untouched ones, by parsing the
            # bucket id out of Spark's PRIVATE bucketed file-name format
            # (part-...-<uuid>_NNNNN.c....parquet).  If a Spark upgrade
            # changes that naming, the regex matches nothing and the
            # delta would silently DROP every previously published row —
            # so any non-conforming data file forces a full publish
            # (correct under any naming) instead.
            import warnings

            nonconforming = [
                f
                for f in os.listdir(cur_loc)
                if f.endswith(".parquet")
                and not re.search(r"_(\d{5})\.c.*\.parquet$", f)
            ]
            if nonconforming:
                warnings.warn(
                    "publish_bucketed: previous snapshot holds parquet "
                    "files that do not match Spark's bucketed file-name "
                    f"format (e.g. {nonconforming[0]!r}) — the delta "
                    "path cannot map files to buckets; falling back to "
                    "a full publish",
                    stacklevel=2,
                )
                mode = "full"

        redo = affected = None
        if mode == "delta":
            redo = _docs_lists(spark, self.out_dir, new_gens).distinct()
            bucket_of = F.pmod(F.hash("doc_id"), F.lit(n_buckets))
            affected = sorted(
                r["b"] for r in redo.select(bucket_of.alias("b")).distinct().collect()
            )
            # Affected-fraction fallback (round-13 VERDICT task 3): when
            # the redo set touches more than half the buckets, the delta
            # assembles nearly the whole table from the slower
            # file-minus-join path — a full rewrite is cheaper and
            # yields the same snapshot.  Only an auto-resolved delta
            # falls back; an EXPLICIT mode="delta" is honored as asked.
            if mode_arg == "auto" and len(affected) * 2 > n_buckets:
                mode = "full"

        inprog = os.path.join(root, "_publish_inprog")
        shutil.rmtree(inprog, ignore_errors=True)

        if mode == "full":
            self._write_serving_snapshot(
                spark, curated_view(spark, self.out_dir), table, n_buckets, inprog
            )
        else:
            # DELTA inputs only — no full-view read, no supersede join
            # over the published majority:
            #   redo docs + affected buckets  <- the new gens' docs lists
            #   old rows of affected buckets  <- the previous snapshot's
            #       affected-bucket FILES (a file read sized to the
            #       affected slice), minus the redo docs' stale rows
            #   fresh rows                    <- the new generations' own
            #       row dirs, latest-new-gen-per-doc (a doc re-curated
            #       twice since the publish takes its newest rows; a doc
            #       GATED OUT appears in the docs list with no rows and
            #       is correctly dropped)
            # (redo + affected were computed above, before the
            # affected-fraction fallback decision)
            kept = set(affected)
            prev_files = [
                os.path.join(cur_loc, f)
                for f in os.listdir(cur_loc)
                if (m := re.search(r"_(\d{5})\.c.*\.parquet$", f))
                and int(m.group(1)) in kept
            ]
            keep_old = (
                spark.read.parquet(*prev_files).join(redo, "doc_id", "left_anti")
                if prev_files
                else None
            )
            cur_dir = self.curated_dir()
            # a committed gen whose redo docs were ALL gated out (or
            # deduped away) has a marker but zero data files — parquet
            # schema inference would fail on it; its docs still count
            # as redo (their stale rows must leave keep_old)
            data_gens = [
                g
                for g in new_gens
                if any(
                    f.endswith(".parquet")
                    for _r, _d, fs in os.walk(os.path.join(cur_dir, f"gen={g}"))
                    for f in fs
                )
            ]
            fresh = None
            if data_gens:
                last = (
                    _docs_lists(spark, self.out_dir, new_gens, with_gen=True)
                    .groupBy("doc_id")
                    .agg(F.max("_lg").alias("_lg"))
                )
                fresh = (
                    spark.read.option("basePath", cur_dir)
                    .parquet(*[os.path.join(cur_dir, f"gen={g}") for g in data_gens])
                    .join(last, "doc_id")
                    .filter(F.col("gen") == F.col("_lg"))
                    .drop("gen", "_lg")
                )
            if keep_old is not None and fresh is not None:
                assembled = keep_old.unionByName(fresh)
            else:
                assembled = fresh if fresh is not None else keep_old
            tmpdir = os.path.join(root, "_publish_delta_tmp")
            shutil.rmtree(tmpdir, ignore_errors=True)
            if assembled is not None:
                self._write_serving_snapshot(spark, assembled, table, n_buckets, tmpdir)
            else:
                os.makedirs(tmpdir)  # affected buckets are legitimately empty
            os.makedirs(inprog)
            for f in os.listdir(cur_loc):  # untouched buckets: reuse files
                m = re.search(r"_(\d{5})\.c.*\.parquet$", f)
                if m and int(m.group(1)) not in kept:
                    try:
                        os.link(os.path.join(cur_loc, f), os.path.join(inprog, f))
                    except OSError:  # cross-device: fall back to copy
                        shutil.copy2(os.path.join(cur_loc, f), os.path.join(inprog, f))
            for f in os.listdir(tmpdir):  # rebuilt buckets: fresh files
                if f.endswith(".parquet"):
                    os.rename(os.path.join(tmpdir, f), os.path.join(inprog, f))
            shutil.rmtree(tmpdir)

        with open(os.path.join(inprog, _BUCKET_SPEC_MARKER), "w") as fh:
            json.dump({"n_buckets": n_buckets, "bucket_col": "doc_id"}, fh)
        with open(os.path.join(inprog, _SERVING_GENS_MARKER), "w") as fh:
            json.dump({"gens": committed}, fh)
        new_id = (snaps[-1] + 1) if snaps else 0
        snap = os.path.join(root, f"snap_{new_id}")
        os.rename(inprog, snap)
        self._declare_serving_table(spark, table, n_buckets, snap)
        # Retention: keep the snapshot the CATALOG pointed at on entry
        # (cur_loc) — that is the one in-flight readers resolved — and
        # drop every other pre-existing snap dir.  Keying on cur_loc
        # rather than snaps[-1] (round-13 ADVICE) matters after a crash
        # between os.rename and _declare_serving_table: that window
        # leaves an UNDECLARED snap_K with a higher id than the
        # reader-visible one, and a snaps[-1] rule would retain the
        # debris while deleting the snapshot readers still use.
        prev_id = None
        if cur_loc and os.path.dirname(os.path.normpath(cur_loc)) == os.path.normpath(
            root
        ):
            m = re.fullmatch(r"snap_(\d+)", os.path.basename(os.path.normpath(cur_loc)))
            if m:
                prev_id = int(m.group(1))
        for sid in snaps:
            if sid != prev_id:
                shutil.rmtree(os.path.join(root, f"snap_{sid}"), ignore_errors=True)
        return table

    def _committed_gens(self) -> list[int]:
        """Generations whose COMMIT marker (the finalize_state docs
        list, written last, with Spark's _SUCCESS) landed.  A crash
        anywhere earlier leaves partial gen dirs that readers ignore
        and the next finalize overwrites."""
        return _committed_generations(self.out_dir)

    def _check_corpus_spec(self) -> None:
        """Refuse a corpus of another format version (stored_span_k
        raises) or one whose span index was built with another k."""
        built_k = stored_span_k(self.out_dir)
        if built_k is not None and built_k != self.span_k:
            raise ValueError(
                f"finalize(span_k={self.span_k}) but the index at "
                f"{self.out_dir} was built with span_k={built_k} — "
                "fingerprints of different window sizes don't mix"
            )

    def _qualifying_spans(self, spark) -> DataFrame:
        """The current qualifying span set (fp, rep_id, rep_pos) served
        off the incremental index.  Excision needs exactly these three
        columns — deliberately NOT common_spans_view, whose span_text
        re-extraction joins the full corpus for a column the excision
        never reads.  The k and format contracts are still validated
        against the corpus spec."""
        self._check_corpus_spec()
        return span_stats_view(
            spark, self.out_dir, min_docs=self.span_min_docs
        ).select("fp", "rep_id", "rep_pos")

    def finalize(self, spark, mode: str = "auto") -> str:
        """Phase 2 (stream-stopped OPTIMIZE): materialize the curated
        chunk table and return its path.

        GENERATIONAL, INCREMENTALLY MAINTAINED (round-10 VERDICT task
        3).  `curated/` holds `gen=K` subdirectories; each finalize
        call writes ONE new generation containing only the docs whose
        curated rows could have changed, and `curated_view` resolves
        latest-generation-wins.  Modes:

        - "full": re-curate every corpus doc (the round-9 behavior) —
          always correct, linear in corpus size.  Used automatically
          for the first finalize (gen 0).
        - "delta": re-curate ONLY (a) docs ingested since the last
          committed finalize and (b) docs containing a span fingerprint
          whose excision-relevant state changed — newly crossed
          `span_min_docs`, or its (rep_id, rep_pos) representative
          moved (the min-struct can only move to a NEW doc, and the rep
          occurrence is what `keep_representative` protects, so a rep
          move changes the excision of every doc holding that fp).
          Affected docs come from one equi-join of the changed fps
          against the `index_spanpostings` inverted index — the corpus
          text is never re-fingerprinted.  Correct because the whole
          downstream of the span set — split excision, metrics, gate,
          redaction, hash split — is PER-DOC given the span set
          (`split_excise_common_spans` consumes only the doc's own
          windows + the global (fp, rep_id, rep_pos) rows), and spans
          never DE-qualify (doc_ids are insert-only, so n_docs and the
          min-struct representative are monotone).  Proven equal to a
          full recompute in tests/test_curation_pipeline.py.
        - "auto" (default): "delta" when a committed generation and the
          posting index exist, else "full".

        Cost of a delta cut: O(index merge) to diff the qualifying
        span set + one postings equi-join + full recuration of ONLY the
        redo docs — tracks the delta, not the corpus (SCALE.md table).

        Crash-safe commit protocol per generation K (all idempotent
        overwrites, ordered): curated/gen=K rows -> finalize_state/
        spans/gen=K snapshot -> finalize_state/docs/gen=K (the commit
        marker `_committed_gens` keys on) -> the reader manifest
        (curated/_committed.json, atomically replaced — what
        curated_view resolves its generation set from).  A crash
        between steps leaves gen K invisible (or, past the marker,
        visible to the writer and one manifest-refresh away from
        readers); the re-run recomputes the same delta against the
        last COMMITTED snapshot and overwrites the partial.
        When committed generations exceed `curated_max_gens`, they are
        folded into one (same bound-the-listing motivation as
        compact_every)."""
        if mode not in ("auto", "full", "delta"):
            raise ValueError(f"finalize mode must be auto/full/delta (got {mode!r})")
        # a corpus of another format version is refused before
        # recover() below touches anything
        self._check_corpus_spec()
        # staged-compaction crash recovery BEFORE any history read
        # (round-10 ADVICE): if the ingest stream died mid-compaction-
        # publish and finalize runs before the stream restarts, the
        # corpus/span views would otherwise see incomplete history
        # (folded snapshot still underscore-staged, source batch dirs
        # already deleted) and this cut would curate against it.
        # Mirrors IncrementalDedupJob.start(); no-op (one listdir per
        # table) when nothing crashed.
        self.job().recover(spark)
        committed = self._committed_gens()
        postings_exist = os.path.isdir(
            os.path.join(self.out_dir, "index_spanpostings")
        )
        if mode == "auto":
            mode = "delta" if committed and postings_exist else "full"
        if mode == "delta" and not committed:
            raise ValueError(
                "finalize(mode='delta') but no committed generation exists — "
                "run a full finalize first"
            )
        out_path = self.curated_dir()

        # grace sweep (round-12 VERDICT task 5): delete generation dirs
        # — rows, spans state, docs markers — whose gen is no longer
        # committed: crash debris, and generations folded away by a
        # PREVIOUS fold (tombstoned then, deleted now).  Deferring the
        # fold's deletion to here gives any reader holding a pre-fold
        # manifest a full finalize cycle to finish against intact files.
        self._sweep_stale_gens(committed)
        gen = (committed[-1] + 1) if committed else 0
        # one materialization serves the snapshot diff (delta mode),
        # the excision join, and the snapshot write — without it the
        # full index merge re-runs per consumer (round-10 review)
        spans_now = self._qualifying_spans(spark).localCheckpoint(eager=True)
        if mode == "full":
            frame = self.finalize_frame(spark, _spans=spans_now)
            gen_docs = corpus_view(spark, self.out_dir).select("doc_id")
        else:
            self._check_finalize_spec()
            # materialized once: consumed by the emptiness check, the
            # recuration leftsemi join, and the gen_docs commit write
            redo = self._redo_docs(spark, committed, spans_now).localCheckpoint(
                eager=True
            )
            if redo.isEmpty():
                # nothing changed since the last cut; refresh a manifest
                # left stale by a crash-before-manifest-write, so readers
                # catch up to the committed frontier even on no-op cuts
                _write_curated_manifest(self.out_dir, committed)
                if self.auto_publish:
                    # repair serving staleness a crash-between-commit-
                    # and-publish left behind; no-op when fresh
                    self.publish_bucketed(
                        spark,
                        table=self.serving_table,
                        n_buckets=self.serving_buckets,
                    )
                return out_path
            frame = self.finalize_frame(spark, doc_filter=redo, _spans=spans_now)
            gen_docs = redo
        # the rows write and the spans snapshot are independent
        # idempotent overwrites of distinct dirs, both BEFORE the
        # commit marker — gen K stays invisible until the docs marker
        # lands, so overlapping them on a thread pool (round-20
        # optimization pass) changes nothing about the crash protocol;
        # the docs marker write stays strictly after both.
        overlap(
            spark,
            [
                lambda: frame.write.mode("overwrite")
                .partitionBy("split")
                .parquet(os.path.join(out_path, f"gen={gen}")),
                lambda: spans_now.write.mode("overwrite").parquet(
                    self._state_dir("spans", f"gen={gen}")
                ),
            ],
        )
        gen_docs.write.mode("overwrite").parquet(
            self._state_dir("docs", f"gen={gen}")
        )
        if mode == "full":
            self._write_finalize_spec()
        _write_curated_manifest(self.out_dir, committed + [gen])
        if len(committed) + 1 > self.curated_max_gens:
            self._fold_gens(spark)
        # span-postings pruning (round-12 task 4): with the monotone-id
        # contract, every fp in the JUST-COMMITTED snapshot is settled
        # forever — record the set; the postings table's next
        # compaction drops its rows inside the rewrite it performs
        # anyway, so the inverted index keeps only the not-yet-settled
        # tail instead of full corpus history
        if self.monotone_ids and postings_exist and not spans_now.isEmpty():
            record_settled_fps(self.out_dir, spans_now)
        if self.auto_publish:
            # freshness hook (round-13 VERDICT task 3): the serving
            # table is never stale after a cut.  Runs AFTER the commit
            # marker + manifest (a publish crash leaves a committed
            # corpus with a stale-but-consistent serving table, repaired
            # by the next cut's publish) and after the fold/prune
            # housekeeping so the publish sees the final gen layout.
            self.publish_bucketed(
                spark, table=self.serving_table, n_buckets=self.serving_buckets
            )
        return out_path

    def _sweep_stale_gens(self, committed: list[int]) -> None:
        """Delete gen=K directories (curated rows, spans snapshots, docs
        markers) for every K not in `committed` — see finalize().  Runs
        stream-stopped under the single-writer contract, so nothing it
        removes can be mid-write.  Two protections for readers:
        (a) gens the CURRENT manifest still references are spared even
        when no longer committed — a crash between a fold's tombstones
        and its manifest write leaves the manifest one step stale, and
        readers follow it; (b) a TOMBSTONED (folded-away) gen is only
        deleted once its tombstone is older than `fold_retention_sec`,
        so a reader that resolved a pre-fold manifest keeps intact
        files for at least that long (Delta's file-retention semantics;
        only a snapshot-isolated table format removes the bound
        entirely).  Marker-less gen dirs are crash debris — deleted
        immediately; no reader can reference them."""
        import re
        import shutil
        import time

        live = set(committed) | set(_read_curated_manifest(self.out_dir) or [])
        expired: set[int] = set()
        for d in os.listdir(self._state_dir("docs")) if os.path.isdir(
            self._state_dir("docs")
        ) else []:
            m = re.fullmatch(r"gen=(\d+)", d)
            if m is None or int(m.group(1)) in live:
                continue
            tomb = os.path.join(self._state_dir("docs", d), _FOLDED_TOMBSTONE)
            try:
                age = time.time() - os.path.getmtime(tomb)
            except OSError:
                expired.add(int(m.group(1)))  # no tombstone: crash debris
                continue
            if age >= self.fold_retention_sec:
                expired.add(int(m.group(1)))
        for root in (
            self.curated_dir(),
            self._state_dir("spans"),
            self._state_dir("docs"),
        ):
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                m = re.fullmatch(r"gen=(\d+)", d)
                if m is None:
                    continue
                g = int(m.group(1))
                # rows/spans dirs without ANY docs marker are debris too
                has_marker = os.path.isdir(self._state_dir("docs", d))
                if g not in live and (g in expired or not has_marker):
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    def _redo_docs(self, spark, committed: list[int], spans_now: DataFrame) -> DataFrame:
        """doc_ids whose curated rows must be recomputed for this cut:
        new-since-last-finalize docs + docs holding a changed span fp
        (via the posting index).  See finalize() for the correctness
        argument."""
        processed = _docs_lists(spark, self.out_dir, committed)
        new_docs = (
            corpus_view(spark, self.out_dir)
            .select("doc_id")
            .join(processed, "doc_id", "left_anti")
        )
        if spans_now.isEmpty():
            # spans never DE-qualify (doc_ids are insert-only, so
            # n_docs is monotone): an empty current set implies the
            # prior snapshot was empty too — no span-driven redo, and
            # the prior-snapshot diff + postings join can be skipped
            return new_docs.distinct()
        prior = spark.read.parquet(
            self._state_dir("spans", f"gen={committed[-1]}")
        ).select(
            "fp",
            F.col("rep_id").alias("_orid"),
            F.col("rep_pos").alias("_orpos"),
        )
        changed = (
            spans_now.join(prior, "fp", "left")
            .filter(
                F.col("_orid").isNull()
                | (F.col("rep_id") != F.col("_orid"))
                | (F.col("rep_pos") != F.col("_orpos"))
            )
            .select("fp")
        )
        affected = (
            span_postings_view(spark, self.out_dir)
            .join(changed, "fp")
            .select("doc_id")
            .distinct()
        )
        return affected.unionByName(new_docs).distinct()

    def _fold_gens(self, spark) -> None:
        """Fold all committed generations into one (stream-stopped;
        round-12 VERDICT task 5 made it ATOMIC against concurrent
        readers).  Protocol: (1) write the fold generation's rows,
        spans snapshot, and docs commit marker — invisible to every
        reader until (3); (2) TOMBSTONE each older generation's docs
        marker (`_FOLDED` file) so the writer's committed-set drops
        them immediately (bounding the next cut's supersede join —
        the fold's purpose) while their marker parquet and row files
        STAY ON DISK; (3) atomically replace the reader manifest with
        [fold_gen].  A reader that grabbed the manifest before (3)
        resolves the old generations, whose every file still exists —
        the superseded data is only deleted by the NEXT finalize's
        grace sweep, one full cycle later.  A crash anywhere mid-fold
        leaves either the pre-fold committed set (fold marker absent)
        or a mix of fold gen + un-tombstoned older gens, which
        curated_view's latest-generation-wins resolves identically to
        the fold (the fold gen's docs list covers every doc)."""
        committed = self._committed_gens()
        if len(committed) <= 1:
            return
        fold_gen = committed[-1] + 1
        view = curated_view(spark, self.out_dir).localCheckpoint(eager=True)
        all_docs = _docs_lists(spark, self.out_dir, committed)
        # rows write + spans copy are independent pre-marker overwrites
        # (fold gen invisible until the docs marker + manifest land):
        # overlap them, docs marker strictly after — same round-20
        # pattern as finalize()'s gen writes.
        overlap(
            spark,
            [
                lambda: view.write.mode("overwrite")
                .partitionBy("split")
                .parquet(os.path.join(self.curated_dir(), f"gen={fold_gen}")),
                lambda: spark.read.parquet(
                    self._state_dir("spans", f"gen={committed[-1]}")
                )
                .write.mode("overwrite")
                .parquet(self._state_dir("spans", f"gen={fold_gen}")),
            ],
        )
        all_docs.distinct().write.mode("overwrite").parquet(
            self._state_dir("docs", f"gen={fold_gen}")
        )
        for g in committed:  # superseded: tombstone, grace-delete later
            with open(
                os.path.join(self._state_dir("docs", f"gen={g}"), _FOLDED_TOMBSTONE),
                "w",
            ):
                pass
        _write_curated_manifest(self.out_dir, [fold_gen])

    def finalize_frame(
        self, spark, doc_filter: DataFrame | None = None, _spans: DataFrame | None = None
    ) -> DataFrame:
        """The curated chunk table as a DataFrame (what `finalize`
        materializes): cross-doc span excision off the incremental
        index, quality/repetition gate, PII redaction, deterministic
        split.  With `doc_filter` (a doc_id frame) only those docs are
        curated — the delta-finalize form; `_spans` injects an already-
        built qualifying span frame so one finalize call evaluates the
        index merge once.

        Output schema: (doc_id, chunk_idx, token_start, text,
        chunk_tokens, excised_tokens, internal_excised_tokens,
        decontam_excised_tokens, n_tokens, quality, lang_guess,
        repetition, split).  Untouched docs keep their ORIGINAL ingest
        bytes (detected by token-count identity — a doc whose single
        chunk kept every token was not excised, so the token-normalized
        rebuild is discarded in favor of the stored corpus text).

        Plan shape (pinned in tests/test_curation_pipeline.py): every
        join is an equi-join (fp / doc_id) — no cartesian or
        nested-loop operator anywhere; the metric/gate/redact/split
        stages are pure column projections fused into the upstream
        stages.

        POSTING-PRUNED EXCISION (round-11 VERDICT task 1): the heavy
        half of this frame — the span_fingerprints re-sweep of corpus
        text, the per-doc covered aggregate, the chunk windows, and the
        chunks↔orig join — only matters for docs that HOLD at least
        one qualifying span fingerprint.  That doc set is exactly one
        equi-join of the qualifying fps against the
        `index_spanpostings` inverted index (the same pruning the
        delta finalize uses for redo detection); every other doc's
        curated row is definitionally its whole-document single chunk,
        emitted as a direct projection of the stored corpus bytes with
        no re-fingerprinting, no window agg, and no join.  At sf0.1
        this cut the full finalize from ~8.7 s to well under the 6.5 s
        target (SCALE.md), and at 100 TB it turns the finalize sweep
        from O(corpus tokens) into O(tokens of span-holding docs) — the
        boilerplate-bearing minority.  Without a postings index
        (span_postings=False corpora) the full-sweep path is kept."""
        from real_time_financial_market_data_pipeline_spark.operators.dedup import (
            _tokens,
            split_excise_common_spans,
        )

        corpus = corpus_view(spark, self.out_dir)
        # file-partition count of the RAW scan (before any join wraps
        # it): the under-parallelization gate below keys on this
        scan_parts = corpus.rdd.getNumPartitions()
        if doc_filter is not None:
            # delta cut: recurate only these docs.  Sound because every
            # stage below is per-doc given the span set — see finalize.
            corpus = corpus.join(doc_filter, "doc_id", "leftsemi")
        if _spans is None:
            # one evaluation of the index merge for every consumer
            # below (isEmpty gate, excision join) — finalize() passes
            # its own checkpoint in
            spans = self._qualifying_spans(spark).localCheckpoint(eager=True)
        else:
            spans = _spans

        provenance = [
            c
            for c in ("internal_excised_tokens", "decontam_excised_tokens")
            if c in corpus.columns
        ]
        untouched = None
        corpus_sweep = corpus
        if spans.isEmpty():
            # no qualifying span anywhere → by the monotone-qualify
            # contract NO doc needs the sweep: skip the fingerprint
            # sweep, the covered aggregate, the window pair, and the
            # chunks↔orig join outright (a corpus with no cross-doc
            # boilerplate — and every early corpus — hits this)
            untouched = corpus
            corpus_sweep = None
        elif os.path.isdir(os.path.join(self.out_dir, "index_spanpostings")) and (
            doc_filter is not None or not _postings_pruned_here(self.out_dir)
        ):
            # doc_ids holding any qualifying fp — small (the span-
            # bearing minority), materialized once for the semi/anti
            # pair below.  On a PRUNED corpus (monotone_ids pruning ran)
            # this split is only sound for DELTA cuts: a redo doc always
            # keeps at least one live posting row (new docs sit above
            # the recording's watermark; changed fps never settle), but
            # a FULL cut's old holders of settled fps are gone from the
            # index — full cuts there take the full-sweep branch
            # (corpus_sweep stays the whole corpus), trading refinalize
            # cost for the bounded index (see record_settled_fps).
            affected = (
                span_postings_view(spark, self.out_dir)
                .join(spans.select("fp"), "fp")
                .select("doc_id")
                .distinct()
                .localCheckpoint(eager=True)
            )
            untouched = corpus.join(affected, "doc_id", "left_anti")
            corpus_sweep = corpus.join(affected, "doc_id", "leftsemi")

        restored = None
        if corpus_sweep is not None:
            chunks = split_excise_common_spans(
                corpus_sweep.select("doc_id", "text"), spans, k=self.span_k
            )
            per_doc = Window.partitionBy("doc_id")
            orig = corpus_sweep.select(
                "doc_id",
                F.col("text").alias("_orig"),
                F.size(_tokens(F.col("text"))).alias("_orig_n"),
                *provenance,
            )
            restored = (
                chunks.withColumn("_n_chunks", F.count(F.lit(1)).over(per_doc))
                .withColumn("_kept_n", F.sum("n_tokens").over(per_doc))
                .join(orig, "doc_id")
                .select(
                    "doc_id",
                    "chunk_idx",
                    "token_start",
                    F.when(
                        (F.col("_n_chunks") == 1)
                        & (F.col("n_tokens") == F.col("_orig_n")),
                        F.col("_orig"),
                    )
                    .otherwise(F.col("text"))
                    .alias("text"),
                    F.col("n_tokens").alias("chunk_tokens"),
                    (F.col("_orig_n") - F.col("_kept_n")).alias("excised_tokens"),
                    *provenance,
                )
            )
        if untouched is not None:
            # The direct branch feeds the CPU-bound metric projection
            # with the SCAN's partitioning (its joins, if any,
            # broadcast at runtime).  A small compacted corpus is a
            # handful of parquet files — row-group granularity caps
            # the scan at that many partitions, so the regex-heavy
            # metrics would run near-single-threaded (measured: ~4.5 s
            # of the 8 s full cut at sf0.1 on 4 skewed
            # file-partitions).  Fan out to the cores ONLY when the
            # raw scan under-parallelizes (keyed on the scan's file-
            # partition count — a delta cut's semijoin and AQE's
            # byte-based coalescing would hide the real parallelism);
            # at cluster scale a corpus scan carries orders of
            # magnitude more splits than cores and this is a no-op
            # branch, so no extra shuffle is ever paid where it would
            # actually cost.
            cores = spark.sparkContext.defaultParallelism
            if scan_parts < cores:
                untouched = untouched.repartition(cores)
            # a doc with no qualifying fp is by definition untouched by
            # excision: one whole-document chunk, original bytes, zero
            # excised — the same row the sweep path's byte-restore
            # produces, minus the sweep.  Empty/null docs yield no rows
            # (the split-excise contract).
            n_toks = F.size(_tokens(F.col("text")))
            direct = (
                untouched.filter(F.col("text").isNotNull())
                .select(
                    "doc_id",
                    F.lit(0).cast("long").alias("chunk_idx"),
                    F.lit(1).cast("long").alias("token_start"),
                    "text",
                    n_toks.cast("long").alias("chunk_tokens"),
                    F.lit(0).cast("long").alias("excised_tokens"),
                    *provenance,
                )
                .filter(F.col("chunk_tokens") >= 1)
            )
            restored = direct if restored is None else restored.unionByName(direct)

        # PII redaction BEFORE the metric projection (round-10 ADVICE):
        # the published n_tokens/quality/lang/repetition must describe
        # the text a training job actually reads — redacting after the
        # metrics let e.g. an email→[EMAIL] rewrite change the token
        # count the row claims.  chunk_tokens/token_start stay in
        # ORIGINAL token space by design (positional provenance against
        # the corpus and the span reports, not a property of the
        # published bytes).
        if self.redact:
            restored = restored.withColumn("text", redact_pii(F.col("text")))
        # The `_pb` column is a predicate-pushdown BARRIER (round-11):
        # without it, Catalyst inlines the gate filter's quality /
        # repetition aliases and pushes the rewritten predicate below
        # this projection AND below the parallelism repartition — the
        # regex-heavy metric trees then evaluate TWICE, and the filter
        # copy runs at the under-parallelized scan partitioning
        # (measured +2 s of the sf0.1 cut).  A nondeterministic output
        # column makes the projection a pushdown fence, so the gate
        # reads the metrics as computed ATTRIBUTES — one evaluation,
        # after the fan-out.  The filter must REFERENCE _pb (as the
        # always-true `_pb >= 0` conjunct — monotonically_increasing_id
        # is nonnegative by construction) or column pruning removes the
        # barrier before the pushdown rule runs and the fence silently
        # dissolves.  At cluster scale the fence costs nothing: the
        # filter feeds the write directly, so there is no shuffle the
        # pushed-down copy could have slimmed.
        enriched = restored.select(
            "*",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            quality_score(F.col("text")).alias("quality"),
            detect_lang(F.col("text")).alias("lang_guess"),
            repetition_metrics(F.col("text")).alias("repetition"),
            F.monotonically_increasing_id().alias("_pb"),
        )
        gated = enriched.filter(
            (F.col("quality") >= self.quality_min)
            & (F.col("repetition.dup_line_ratio") <= self.max_dup_line_ratio)
            & (F.col("_pb") >= 0)
        ).drop("_pb")
        return train_val_test_split(
            gated, "doc_id", val_frac=self.val_frac, test_frac=self.test_frac
        )


def curated_view(spark, out_dir: str) -> DataFrame:
    """The finalized curated corpus (chunk rows, partition-pruned by
    split at the scan when filtered).

    Generation-aware (round-10): `finalize` appends `gen=K` directories
    (full or delta cuts); this view resolves LATEST-GENERATION-WINS per
    doc — rows of gen G are live unless the doc was re-finalized by a
    committed later generation (the finalize_state docs lists double as
    both commit markers and supersede sets; a doc GATED OUT by a later
    cut is correctly tombstoned because it appears in that cut's docs
    list while contributing no rows).  Uncommitted generations (crash
    debris) are filtered out by the same marker.  With a single
    committed generation — the common state after a fold or a first
    full finalize — the supersede join short-circuits away entirely."""
    path = os.path.join(out_dir, "curated")
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"{path} does not exist — run CuratedCorpusPipeline.start() "
            "to drain the ingest stream, then .finalize(spark)"
        )
    # readers take the manifest — ONE atomic file read, immune to the
    # fold race a marker-directory listing has (round-12 task 5); the
    # grace sweep guarantees everything a current manifest references
    # survives until the next finalize.  Pre-manifest corpora (or a
    # crash before the first manifest write) fall back to the listing.
    committed = _read_curated_manifest(out_dir) or _committed_generations(out_dir)
    if not committed:
        raise FileNotFoundError(
            f"{path} has generation directories but no committed "
            "generation — a finalize crashed before its commit marker; "
            "re-run CuratedCorpusPipeline.finalize(spark)"
        )
    rows = spark.read.parquet(path).filter(F.col("gen").isin(committed))
    if len(committed) == 1:
        return rows.drop("gen")
    last = (
        _docs_lists(spark, out_dir, committed, with_gen=True)
        .groupBy("doc_id")
        .agg(F.max("_lg").alias("_lg"))
    )
    return (
        rows.join(last, "doc_id")
        .filter(F.col("gen") == F.col("_lg"))
        .drop("gen", "_lg")
    )


def _committed_generations(out_dir: str) -> list[int]:
    """Generation numbers whose commit marker landed: the
    finalize_state docs list for gen=K exists with Spark's _SUCCESS and
    no fold tombstone.  The WRITER's source of truth (readers prefer
    the atomically-replaced manifest, falling back to this listing) —
    a missing finalize_state/docs directory (first finalize crashed
    before any commit) reads as 'nothing committed', not as an error."""
    import re

    docs_root = os.path.join(out_dir, "finalize_state", "docs")
    if not os.path.isdir(docs_root):
        return []
    return sorted(
        int(d.split("=")[1])
        for d in os.listdir(docs_root)
        if re.fullmatch(r"gen=\d+", d)
        and os.path.isfile(os.path.join(docs_root, d, "_SUCCESS"))
        and not os.path.exists(os.path.join(docs_root, d, _FOLDED_TOMBSTONE))
    )


def _write_curated_manifest(out_dir: str, gens: list[int]) -> None:
    """Atomically replace the reader manifest (write-tmp + rename).  A
    crash between a gen's commit marker and this write leaves the
    manifest one generation stale — readers keep seeing the PREVIOUS
    consistent state (never a partial one) until the next finalize
    rewrites it from the markers."""
    _dump_json_atomic(
        os.path.join(out_dir, "curated", _CURATED_MANIFEST), {"gens": sorted(gens)}
    )


def _read_curated_manifest(out_dir: str) -> list[int] | None:
    import json

    path = os.path.join(out_dir, "curated", _CURATED_MANIFEST)
    try:
        with open(path) as fh:
            gens = json.load(fh)["gens"]
    except (OSError, ValueError, KeyError):
        return None
    return sorted(int(g) for g in gens) or None


def _docs_lists(
    spark, out_dir: str, gens: list[int], with_gen: bool = False
) -> DataFrame:
    """Union of the given committed generations' docs lists (doc_id,
    plus the generation number as _lg when with_gen) — the supersede /
    processed-set frame shared by _redo_docs, _fold_gens, and
    curated_view."""
    docs_root = os.path.join(out_dir, "finalize_state", "docs")
    out = None
    for g in gens:
        part = spark.read.parquet(os.path.join(docs_root, f"gen={g}")).select(
            "doc_id"
        )
        if with_gen:
            part = part.withColumn("_lg", F.lit(g))
        out = part if out is None else out.unionByName(part)
    return out
