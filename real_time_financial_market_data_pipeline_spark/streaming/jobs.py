"""End-to-end streaming medallion job: one parsed trade stream fanned
out to bronze / silver / gold sinks.

Capability parity: reference `MarketDataProcessor.process`
(src/consumer/spark_processor.py:135-183) — watermark (ST1, default
10 minutes), tumbling OHLCV windows (ST2), bounded stateful dedup
(ST5 — dropDuplicatesWithinWatermark, the explicit form of the
reference's dropDuplicates-after-watermark), append mode for
bronze/silver and update mode for gold (ST7), per-layer checkpoints
(ST8), availableNow replay (ST9 backfill).

The transformation functions are the SAME ones the batch path uses
(pipeline.medallion / operators.ohlcv) — Structured Streaming's
unified DataFrame API is exactly why this engine needs no separate
streaming code path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_financial_market_data_pipeline_spark.operators.ohlcv import ohlcv
from real_time_financial_market_data_pipeline_spark.pipeline.medallion import silver_filter, to_bronze
from real_time_financial_market_data_pipeline_spark.pipeline.validate import (
    dead_letter_records,
    with_validation_errors,
)
from real_time_financial_market_data_pipeline_spark.streaming.sinks import (
    SinkManager,
    _manifest_add,
    overlap,
    parquet_file_sink,
    parquet_sink,
    read_update_sink,
)


@dataclass
class MedallionStreamJob:
    """Wire a trade stream to bronze/silver/gold parquet tables.

    out_dir/
      bronze/       raw + lineage (append, partitioned by trade_date)
      silver/       cleaned + deduped (append)
      gold_5m/      OHLCV bars (update-mode emissions, one batch_id=<n>
                    dir per micro-batch; read back through
                    sinks.latest_state_on_read)
      dead_letters/ invalid rows as {original json, errors,
                    dead_lettered_at} envelopes (append) — the streaming
                    form of the reference's dead-letter topic
                    (src/producer/pipeline.py:120-126,
                    scripts/create_topics.sh:53-54)

    Silver is built from the VALID branch of the validation split, so a
    row routed to dead_letters can never also reach silver (validation
    is a strict superset of the silver quality filter: it additionally
    rejects price > 1e6 and null fields).
    """

    out_dir: str
    watermark: str = "10 minutes"
    gold_window: str = "5 minutes"
    # second rollup granularity (reference gold_1h); None disables
    gold_window_slow: str | None = "1 hour"
    trigger: dict = field(default_factory=lambda: {"availableNow": True})
    # Streaming state partition count, pinned into the checkpoint at first
    # start. Per-partition state-store maintenance is paid EVERY micro-batch
    # (measured here: 32 partitions ≈ 3.3s/batch vs 8 ≈ 0.9s/batch on
    # identical data), so size to expected KEY cardinality — symbols are
    # few; a deployment with millions of keys should raise this.
    shuffle_partitions: int | None = 8
    # RocksDB state store: off-heap, spill-to-disk state — required when
    # per-executor state (dedup keys × watermark horizon) outgrows heap.
    # Default HDFS-backed in-memory store is faster for small state.
    use_rocksdb_state: bool = False
    # Route invalid rows to a dead_letters layer (reference F4). Silver
    # then only sees the valid branch.
    dead_letters: bool = True
    # Auto-compaction cadence for the update-mode gold sinks: every N-th
    # micro-batch folds prior batch_id emission dirs into one snapshot
    # (sinks.parquet_sink compact_every), bounding the dir count readers
    # list to N+1 no matter how long the stream runs (a 10 s trigger
    # otherwise accretes ~8.6k dirs/day).  availableNow drains also get
    # a final post-drain fold (compact_gold).  None disables.
    compact_every: int | None = 20

    GOLD_KEYS = ("symbol", "window_start", "window_end")

    def checkpoints(self) -> str:
        return os.path.join(self.out_dir, "_checkpoints")

    def _gold_commit_logs(self, layer: str) -> list[str]:
        """Checkpoint locations of the queries that can write `layer` —
        both topologies' names, since fan-out and chained runs share the
        sink directory but checkpoint under different query names."""
        return [
            os.path.join(self.checkpoints(), layer),
            os.path.join(self.checkpoints(), f"chained_{layer}"),
        ]

    def compact_gold(self, spark) -> int:
        """Fold each gold layer's accumulated update-mode emissions into
        one resolved snapshot directory (stream-stopped form; called
        automatically after sequential availableNow drains, callable any
        time the gold queries are stopped — INCLUDING stopped-by-crash:
        the checkpoint commit log bounds the fold so an uncommitted
        replayable tail batch keeps its own delta dir and the restart's
        replay can never clobber folded history, exactly like
        IncrementalDedupJob.compact)."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import (
            committed_fold_bound,
            compact_latest_state,
        )

        def _fold_layer(layer: str) -> int:
            path = os.path.join(self.out_dir, layer)
            if not os.path.isdir(path):
                return 0
            bound = committed_fold_bound(path, self._gold_commit_logs(layer))
            return compact_latest_state(
                spark,
                path,
                list(self.GOLD_KEYS),
                only_below=bound,
                # dashboard readers poll these layers: leave the
                # superseded dirs visible (per-key-latest resolves
                # them away) until the next compact's grace cleanup
                defer_retire=True,
            )

        # the two layers' folds are independent staged-publish
        # protocols confined to their own directories — overlap them
        # (round-20 optimization pass, same shape as
        # IncrementalDedupJob.compact)
        return sum(
            overlap(spark, [lambda: _fold_layer("gold_5m"), lambda: _fold_layer("gold_1h")])
        )

    def publish_gold_bucketed(
        self, spark, layer: str = "gold_5m", table: str | None = None, n_buckets: int = 8
    ) -> str:
        """Stream-stopped OPTIMIZE that publishes a gold layer's folded
        snapshot bucketed+sorted by symbol and registers it as external
        bucketed table `table` — streamed-then-compacted gold then
        serves Q5/Q6/Q7/day-over-day through the zero-Exchange
        *_from_bucketed readers exactly like batch-materialized gold
        (materialize.materialize_gold_bucketed).  Returns the table name."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import compact_gold_bucketed

        table = table or f"{layer}_serving"
        compact_gold_bucketed(
            spark,
            os.path.join(self.out_dir, layer),
            list(self.GOLD_KEYS),
            table,
            n_buckets=n_buckets,
            sort_cols=["symbol", "window_start"],
            commit_log_dirs=self._gold_commit_logs(layer),
        )
        return table

    def start(self, trades: DataFrame, chained: bool = True, await_timeout_s: float = 600) -> SinkManager:
        """Chained (single-source-scan) medallion by DEFAULT — silver
        reads the bronze table and gold reads silver, so the upstream
        source is scanned exactly once (see start_chained).  Pass
        `chained=False` for the fan-out topology (every layer re-scans
        the source; N sinks = N source passes — only sensible when the
        source is cheap to re-read and minimum per-layer latency beats
        scan cost)."""
        spark = trades.sparkSession
        old_parts = None
        if self.shuffle_partitions is not None:
            old_parts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(self.shuffle_partitions))
        provider_key = "spark.sql.streaming.stateStore.providerClass"
        old_provider = None
        if self.use_rocksdb_state:
            try:
                old_provider = spark.conf.get(provider_key)
            except Exception:
                old_provider = None
            spark.conf.set(
                provider_key,
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
        try:
            if chained:
                return self.start_chained(trades, await_timeout_s=await_timeout_s)
            return self._start(trades)
        finally:
            if old_parts is not None:
                spark.conf.set("spark.sql.shuffle.partitions", old_parts)
            if self.use_rocksdb_state:
                # restore so other jobs on the shared session keep their
                # own state-store choice
                if old_provider:
                    spark.conf.set(provider_key, old_provider)
                else:
                    spark.conf.unset(provider_key)

    def _start(self, trades: DataFrame) -> SinkManager:
        marked = trades.withWatermark("event_time", self.watermark)

        bronze = to_bronze(marked)
        mgr = SinkManager()
        if self.dead_letters:
            checked = with_validation_errors(marked)
            dead = dead_letter_records(checked.filter(F.size("errors") > 0))
            valid = checked.filter(F.size("errors") == 0).drop("errors")
            mgr.add(
                parquet_file_sink(
                    dead,
                    os.path.join(self.out_dir, "dead_letters"),
                    self.checkpoints(),
                    "dead_letters",
                    trigger=self.trigger,
                )
            )
        else:
            valid = marked.filter(silver_filter())
        silver = valid.dropDuplicatesWithinWatermark(["symbol", "timestamp"])
        gold = ohlcv(silver, self.gold_window)

        mgr.add(
            parquet_file_sink(
                bronze,
                os.path.join(self.out_dir, "bronze"),
                self.checkpoints(),
                "bronze",
                trigger=self.trigger,
                partition_by=["trade_date"],
            )
        )
        mgr.add(
            parquet_file_sink(
                silver,
                os.path.join(self.out_dir, "silver"),
                self.checkpoints(),
                "silver",
                trigger=self.trigger,
                partition_by=["trade_date"],
            )
        )
        mgr.add(
            parquet_sink(
                gold,
                os.path.join(self.out_dir, "gold_5m"),
                self.checkpoints(),
                "gold_5m",
                output_mode="update",
                trigger=self.trigger,
                compact_every=self.compact_every,
                compact_keys=list(self.GOLD_KEYS),
            )
        )
        if self.gold_window_slow:
            gold_slow = ohlcv(silver, self.gold_window_slow)
            mgr.add(
                parquet_sink(
                    gold_slow,
                    os.path.join(self.out_dir, "gold_1h"),
                    self.checkpoints(),
                    "gold_1h",
                    output_mode="update",
                    trigger=self.trigger,
                    compact_every=self.compact_every,
                    compact_keys=list(self.GOLD_KEYS),
                )
            )
        return mgr

    def start_chained(self, trades: DataFrame, await_timeout_s: float = 600) -> SinkManager:
        """True medallion chaining (SURVEY §7 risk 5): silver READS the
        bronze table and gold READS silver, so the upstream source is
        scanned exactly once instead of once per sink (the fan-out form
        re-reads the source 4x — at 100 TB the difference is 3 extra
        full passes over the ingest topic).

        With an availableNow trigger the layers drain SEQUENTIALLY
        (bronze fully lands, then silver streams bronze's files, then
        gold) — the backfill/replay shape.  With a processingTime
        trigger the three queries run concurrently and files flow down
        the chain with one trigger of added latency per layer — the
        continuous shape (pass await_timeout_s=0 to skip the drain wait
        and manage the returned queries yourself).

        Layer contracts match `_start` (same transformations, same
        idempotent batch_id sinks); checkpoints live under
        `_checkpoints/chained_*` so a job can switch modes without
        colliding with fan-out state.
        """
        spark = trades.sparkSession
        sequential = "availableNow" in self.trigger
        mgr = SinkManager()

        def _await_if_sequential(q):
            if sequential and await_timeout_s:
                # a layer that hasn't fully drained before the next one
                # starts silently loses the files it commits afterwards —
                # fail loudly instead of producing an incomplete table
                if not q.awaitTermination(await_timeout_s):
                    raise TimeoutError(
                        f"chained layer {q.name!r} did not drain within "
                        f"{await_timeout_s}s; downstream layers would miss "
                        "its late-committed files"
                    )

        bronze_dir = os.path.join(self.out_dir, "bronze")
        silver_dir = os.path.join(self.out_dir, "silver")
        # the file streaming source requires its input dir to exist at
        # stream start (concurrent processingTime mode starts all layers
        # at once, before bronze commits its first batch)
        os.makedirs(bronze_dir, exist_ok=True)
        os.makedirs(silver_dir, exist_ok=True)

        marked = trades.withWatermark("event_time", self.watermark)
        bronze = to_bronze(marked)
        q_bronze = mgr.add(
            parquet_file_sink(
                bronze,
                bronze_dir,
                self.checkpoints(),
                "chained_bronze",
                trigger=self.trigger,
                partition_by=["trade_date"],
            )
        )
        _await_if_sequential(q_bronze)

        # silver: stream the bronze TABLE (schema derived from the same
        # transformation applied to an empty frame — single source of truth)
        bronze_schema = to_bronze(spark.createDataFrame([], trades.schema)).schema
        bronze_stream = (
            spark.readStream.schema(bronze_schema)
            .option("basePath", bronze_dir)
            .parquet(bronze_dir)
            .drop("batch_id")  # sink-internal partition column, not table data
        )
        checked = with_validation_errors(
            bronze_stream.withWatermark("event_time", self.watermark)
        )
        q_dead = None
        if self.dead_letters:
            dead = dead_letter_records(checked.filter(F.size("errors") > 0))
            q_dead = mgr.add(
                parquet_file_sink(
                    dead,
                    os.path.join(self.out_dir, "dead_letters"),
                    self.checkpoints(),
                    "chained_dead_letters",
                    trigger=self.trigger,
                )
            )
        valid = checked.filter(F.size("errors") == 0).drop("errors")
        silver = valid.dropDuplicatesWithinWatermark(["symbol", "timestamp"])
        q_silver = mgr.add(
            parquet_file_sink(
                silver,
                silver_dir,
                self.checkpoints(),
                "chained_silver",
                trigger=self.trigger,
                partition_by=["trade_date"],
            )
        )
        _await_if_sequential(q_silver)
        if q_dead is not None:
            # the dead-letter layer reads bronze beside silver: awaiting it
            # surfaces its failure from start() and keeps it from
            # outliving the drain
            _await_if_sequential(q_dead)

        # gold: stream the silver TABLE.  Both rollup granularities read
        # silver (already reduced by validation+dedup), never the raw
        # source — the two gold queries are started together and awaited
        # together since neither depends on the other.
        silver_schema = silver.schema

        def _silver_stream() -> DataFrame:
            return (
                spark.readStream.schema(silver_schema)
                .option("basePath", silver_dir)
                .parquet(silver_dir)
                .drop("batch_id")
                .withWatermark("event_time", self.watermark)
            )

        gold_queries = [
            mgr.add(
                parquet_sink(
                    ohlcv(_silver_stream(), self.gold_window),
                    os.path.join(self.out_dir, "gold_5m"),
                    self.checkpoints(),
                    "chained_gold_5m",
                    output_mode="update",
                    trigger=self.trigger,
                    compact_every=self.compact_every,
                    compact_keys=list(self.GOLD_KEYS),
                )
            )
        ]
        if self.gold_window_slow:
            gold_queries.append(
                mgr.add(
                    parquet_sink(
                        ohlcv(_silver_stream(), self.gold_window_slow),
                        os.path.join(self.out_dir, "gold_1h"),
                        self.checkpoints(),
                        "chained_gold_1h",
                        output_mode="update",
                        trigger=self.trigger,
                        compact_every=self.compact_every,
                        compact_keys=list(self.GOLD_KEYS),
                    )
                )
            )
        for q in gold_queries:
            _await_if_sequential(q)
        if sequential and await_timeout_s and self.compact_every:
            # drained availableNow run: gold queries are stopped, fold
            # their emission dirs so serving reads list O(1) directories
            self.compact_gold(spark)
        return mgr


def observed_with_metrics(trades: DataFrame, name: str = "validation") -> DataFrame:
    """Attach streaming observability counters (reference F5 metrics +
    Q9 alert inputs) via df.observe — surfaced per micro-batch in
    StreamingQueryProgress.observedMetrics."""
    return trades.observe(
        name,
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("volume") <= 0, 1).otherwise(0)).alias("nonpositive_volume"),
        F.sum(F.when(F.col("price") <= 0, 1).otherwise(0)).alias("nonpositive_price"),
        F.max("event_time").alias("max_event_time"),
    )


def _resolve_best_quote(df: DataFrame) -> DataFrame:
    """Re-reduce stored best-quote PARTIALS to the global best per trade.

    The best-quote reduction (max_by over quote_time per trade key) is
    associative and commutative, so per-batch partial maxima re-reduced
    with the SAME aggregate give exactly the answer a single global
    aggregate would — the map-side-combine identity, applied at the
    storage layer."""
    from real_time_financial_market_data_pipeline_spark.streaming.joins import best_quote_per_trade

    return best_quote_per_trade(df.drop("batch_id"))


@dataclass
class QuoteEnrichJob:
    """Quote stream consumed end-to-end (round-2 VERDICT task 6): the
    reference declares the quotes topic and schema
    (schemas/avro/quote.avsc:1-40, scripts/create_topics.sh:47-48) but
    never consumes it — this job finishes that dataflow Spark-first.

    SINGLE-QUERY topology: one stream-stream interval join (both sides
    watermarked, state bounded by max_quote_age and bucket-keyed —
    streaming/joins.py::trades_with_quotes), whose foreachBatch writes
    BOTH layers from the one materialized micro-batch:

      enriched/    every (trade, in-window quote) pair, batch_id=N
                   idempotent-overwrite dirs
      best_quote/  the batch-LOCAL best quote per trade (a PARTIAL of
                   the associative max_by reduction); readers re-reduce
                   partials via best_quote_view, and compaction folds
                   them with the same reduction — exact because max is
                   associative/commutative (map-side combine at the
                   storage layer)

    Why not a second streaming query chained off enriched/ (the round-5
    shape): the rescan query re-parses every enriched file and runs a
    stateful streaming agg whose state holds EVERY open trade key —
    pure overhead when the reduction has an associative partial form.
    One query also means one checkpoint, one commit path, and per-batch
    cost that is join + two writes, nothing else.

    availableNow replayable, exactly-once by deterministic batch_id
    overwrite dirs (a replayed batch rewrites both its deltas).
    """

    out_dir: str
    watermark: str = "10 minutes"
    max_quote_age: str = "5 minutes"
    trigger: dict = field(default_factory=lambda: {"availableNow": True})
    # see MedallionStreamJob.shuffle_partitions — sized to key cardinality
    shuffle_partitions: int | None = 8
    # see MedallionStreamJob.compact_every — same dir-count bound for the
    # best_quote partials sink
    compact_every: int | None = 20
    # RocksDB state store for the join (off-heap, spill-to-disk): at
    # production scale the symmetric-hash-join state (both watermark
    # windows of an exchange-wide quote feed) exceeds executor heap —
    # flip this on there.  Local-measured (SCALE.md): parity on sf0.1
    # state sizes, so correctness coverage is what the toggle buys here.
    use_rocksdb_state: bool = False

    BEST_QUOTE_KEYS = ("symbol", "trade_time", "price", "volume")

    def checkpoints(self) -> str:
        return os.path.join(self.out_dir, "_checkpoints")

    def compact_best_quote(self, spark) -> int:
        """Stream-stopped fold of the best-quote partials (re-reduced,
        not per-key-latest).  Crash-safe for stopped-by-crash streams:
        the quotes_enriched commit log bounds the fold so an uncommitted
        replayable tail keeps its own delta dir (committed_fold_bound)."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import (
            committed_fold_bound,
            compact_latest_state,
        )

        path = os.path.join(self.out_dir, "best_quote")
        if not os.path.isdir(path):
            return 0
        bound = committed_fold_bound(
            path, os.path.join(self.checkpoints(), "quotes_enriched")
        )
        return compact_latest_state(
            spark,
            path,
            list(self.BEST_QUOTE_KEYS),
            only_below=bound,
            resolve=_resolve_best_quote,
            # max_by re-reduce is idempotent under re-inclusion of
            # superseded partials: grace-defer their deletion for
            # concurrent best_quote_view readers
            defer_retire=True,
        )

    def start(
        self,
        trades: DataFrame,
        quotes: DataFrame,
        await_timeout_s: float = 600,
    ) -> SinkManager:
        from real_time_financial_market_data_pipeline_spark.streaming.joins import (
            best_quote_per_trade,
            trades_with_quotes,
        )
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import compact_latest_state

        spark = trades.sparkSession
        old_parts = None
        if self.shuffle_partitions is not None:
            old_parts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(self.shuffle_partitions))
        provider_key = "spark.sql.streaming.stateStore.providerClass"
        old_provider = None
        if self.use_rocksdb_state:
            try:
                old_provider = spark.conf.get(provider_key)
            except Exception:
                old_provider = None
            spark.conf.set(
                provider_key,
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
        try:
            sequential = "availableNow" in self.trigger
            mgr = SinkManager()
            enriched_dir = os.path.join(self.out_dir, "enriched")
            best_dir = os.path.join(self.out_dir, "best_quote")
            compact_every = self.compact_every
            best_keys = list(self.BEST_QUOTE_KEYS)

            # finish any best-quote compaction publish a crash
            # interrupted BEFORE the stream launches (round-10 review):
            # without this, the restarted stream appends new batch dirs
            # above the underscore-staged snapshot, the next cadence
            # point classifies the stage as stale and discards it — but
            # the old dirs it folded were already deleted, so the folded
            # partials would be permanently lost.  Same recovery
            # IncrementalDedupJob.start and parquet_sink run, with this
            # sink's re-reduce resolve.
            from real_time_financial_market_data_pipeline_spark.streaming.sinks import (
                finish_staged_compaction,
            )

            finish_staged_compaction(
                spark,
                best_dir,
                best_keys,
                os.path.join(self.checkpoints(), "quotes_enriched"),
                resolve=_resolve_best_quote,
                # compact_best_quote defers retirement for concurrent
                # best_quote_view readers; a post-crash refold at stream
                # start must keep the same grace posture
                defer_retire=True,
            )

            joined = trades_with_quotes(
                trades, quotes, watermark=self.watermark, max_quote_age=self.max_quote_age
            )

            def process(batch_df: DataFrame, batch_id: int) -> None:
                # inline auto-compaction of the partials table, same
                # bound + replay contract as parquet_sink compact_every
                if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                    if os.path.isdir(best_dir):
                        compact_latest_state(
                            batch_df.sparkSession,
                            best_dir,
                            best_keys,
                            only_below=batch_id,
                            resolve=_resolve_best_quote,
                            # same deferral as parquet_sink's inline fold
                            # (round-14 ADVICE): a polling best_quote_view
                            # reader's manifest must never name a root dir
                            # this publish deletes mid-construction; the
                            # max_by re-reduce is idempotent, so deferral
                            # is sound
                            defer_retire=True,
                        )
                # one materialization feeds the empty-check and both
                # writes — without the persist, each action re-executes
                # the stateful join plan.  count() (not isEmpty) so the
                # materialization is provably COMPLETE before the pool:
                # the round-21 probe measured the join materialization
                # at 71% of batch time with the writes reading the
                # populated cache, so the two layer writes are
                # independent cache readers over distinct dirs and
                # overlap (sinks.overlap, the same shape as the
                # incremental job's pooled index writes).  Crash
                # contract unchanged: both writes are idempotent
                # batch_id=N overwrites, the
                # manifest lands only after BOTH succeed, and the
                # checkpoint commit only after process() returns — a
                # crash mid-pool leaves partial dirs a replay overwrites.
                batch_df.persist()
                try:
                    if batch_df.count() == 0:
                        return

                    def _write_enriched() -> None:
                        batch_df.write.mode("overwrite").parquet(
                            os.path.join(enriched_dir, f"batch_id={batch_id}")
                        )

                    def _write_best() -> None:
                        best_quote_per_trade(batch_df).write.mode(
                            "overwrite"
                        ).parquet(os.path.join(best_dir, f"batch_id={batch_id}"))

                    overlap(batch_df.sparkSession, [_write_enriched, _write_best])
                    # same manifest contract as parquet_sink.write_batch
                    # (best_quote_view routes reads through it)
                    _manifest_add(best_dir, f"batch_id={batch_id}")
                finally:
                    batch_df.unpersist()

            q = mgr.add(
                joined.writeStream.foreachBatch(process)
                .outputMode("append")
                .queryName("quotes_enriched")
                .option(
                    "checkpointLocation",
                    os.path.join(self.checkpoints(), "quotes_enriched"),
                )
                .trigger(**self.trigger)
                .start()
            )
            if sequential and await_timeout_s:
                # fail loudly on a drain timeout: compacting while the
                # stream is still writing would violate
                # compact_latest_state's stream-stopped contract (two
                # concurrent stage/rmtree/rename protocols on one dir)
                if not q.awaitTermination(await_timeout_s):
                    raise TimeoutError(
                        "quotes_enriched did not drain within "
                        f"{await_timeout_s}s; refusing to compact while "
                        "the stream is still running"
                    )
                if self.compact_every:
                    self.compact_best_quote(spark)
            return mgr
        finally:
            if old_parts is not None:
                spark.conf.set("spark.sql.shuffle.partitions", old_parts)
            if self.use_rocksdb_state:
                if old_provider:
                    spark.conf.set(provider_key, old_provider)
                else:
                    spark.conf.unset(provider_key)


def best_quote_view(spark, out_dir: str) -> DataFrame:
    """Serving view over QuoteEnrichJob's best_quote layer: per-batch
    partial maxima re-reduced to the global best quote per trade."""
    # polling-reader posture: manifest-routed construction
    # (read_update_sink) — one manifest read names the exact dir set,
    # and dirs leave the manifest before retirement with a full
    # compaction cadence of on-disk grace (compact_best_quote
    # defer_retire=True), so construction no longer races a retirement
    # rename (the pre-round-13 retry-construction caveat is gone) and
    # resolution is always a consistent prior-or-current state.
    return _resolve_best_quote(
        read_update_sink(spark, os.path.join(out_dir, "best_quote"))
    )


@dataclass
class LatestPricesStreamJob:
    """The reference's `latest_prices` serving table, finally populated:
    schemas/cassandra/keyspace.cql:132-141 declares the table and its
    upsert statement, but no reference code ever wrote a row to it.
    Here the cross-batch stateful operator
    (streaming/stateful.py::streaming_latest_prices — TWS default,
    applyInPandasWithState fallback, optional idle-symbol TTL) streams
    into an update-mode parquet sink with the same exactly-once +
    compaction mechanics as the gold layers:

      latest_prices/   one emission row per updated symbol per
                       micro-batch in batch_id=<n> dirs; readers
                       resolve per-symbol latest via latest_prices_view
                       (the parquet analogue of the Cassandra
                       primary-key upsert), inline compaction every
                       compact_every batches bounds reader listings.

    State is O(active symbols) (with ttl_ms) — see SCALE.md.
    """

    out_dir: str
    ttl_ms: int | None = None
    trigger: dict = field(default_factory=lambda: {"availableNow": True})
    # see MedallionStreamJob.shuffle_partitions
    shuffle_partitions: int | None = 8
    # see MedallionStreamJob.compact_every
    compact_every: int | None = 20

    KEYS = ("symbol",)

    def checkpoints(self) -> str:
        return os.path.join(self.out_dir, "_checkpoints")

    def table_dir(self) -> str:
        return os.path.join(self.out_dir, "latest_prices")

    def compact(self, spark) -> int:
        """Stream-stopped fold of the emission dirs into one snapshot
        (same two-phase protocol as the gold layers, same
        uncommitted-tail guard: an emission batch whose checkpoint
        commit is missing stays out of the fold so its replay can't
        clobber the snapshot)."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import (
            committed_fold_bound,
            compact_latest_state,
        )

        if not os.path.isdir(self.table_dir()):
            return 0
        bound = committed_fold_bound(
            self.table_dir(), os.path.join(self.checkpoints(), "latest_prices")
        )
        return compact_latest_state(
            spark,
            self.table_dir(),
            list(self.KEYS),
            only_below=bound,
            # Q8 dashboards poll this layer: grace-defer retirement
            defer_retire=True,
        )

    def publish_bucketed(
        self, spark, table: str = "latest_prices_serving", n_buckets: int = 8
    ) -> str:
        """Stream-stopped OPTIMIZE that folds the emission dirs and
        publishes the snapshot bucketed by symbol as external table
        `table` — the same compact_gold_bucketed machinery the gold
        layers use, unifying the two compaction flavors.  The snapshot
        is already RESOLVED (one row per symbol), so the Q8 dashboard
        scan is a plain zero-Exchange table read — no
        latest_state_on_read shuffle per read — and symbol-keyed
        joins/aggregations over it skip their exchange too.  Carries
        the uncommitted-tail guard via the latest_prices commit log."""
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import compact_gold_bucketed

        compact_gold_bucketed(
            spark,
            self.table_dir(),
            list(self.KEYS),
            table,
            n_buckets=n_buckets,
            sort_cols=["symbol"],
            commit_log_dirs=os.path.join(self.checkpoints(), "latest_prices"),
        )
        return table

    def start(self, trades: DataFrame, await_timeout_s: float = 600) -> SinkManager:
        from real_time_financial_market_data_pipeline_spark.streaming.sinks import parquet_sink
        from real_time_financial_market_data_pipeline_spark.streaming.stateful import streaming_latest_prices

        spark = trades.sparkSession
        old_parts = None
        if self.shuffle_partitions is not None:
            old_parts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(self.shuffle_partitions))
        try:
            latest = streaming_latest_prices(trades, ttl_ms=self.ttl_ms)
            mgr = SinkManager()
            q = mgr.add(
                parquet_sink(
                    latest,
                    self.table_dir(),
                    self.checkpoints(),
                    "latest_prices",
                    output_mode="update",
                    trigger=self.trigger,
                    compact_every=self.compact_every,
                    compact_keys=list(self.KEYS),
                )
            )
            if "availableNow" in self.trigger and await_timeout_s:
                if not q.awaitTermination(await_timeout_s):
                    raise TimeoutError(
                        "latest_prices did not drain within "
                        f"{await_timeout_s}s; refusing to compact while "
                        "the stream is still running"
                    )
                if self.compact_every:
                    self.compact(spark)
            return mgr
        finally:
            if old_parts is not None:
                spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def gold_view(spark, out_dir: str, layer: str = "gold_5m") -> DataFrame:
    """Resolved read of a streamed gold layer (one row per
    symbol/window: latest emission wins) — the polling counterpart of
    the bucketed serving table for dashboards that read between
    publishes.  Manifest-routed (read_update_sink): one manifest read
    names the exact batch-dir set, so the read is O(live dirs) not
    O(dirs-ever-written) and never races a compaction's retirement."""
    from real_time_financial_market_data_pipeline_spark.streaming.sinks import latest_state_on_read

    path = os.path.join(out_dir, layer)
    return latest_state_on_read(
        read_update_sink(spark, path), list(MedallionStreamJob.GOLD_KEYS)
    )


def latest_prices_view(spark, out_dir: str) -> DataFrame:
    """One row per symbol: the latest emission wins (max batch_id per
    symbol — the read side of the Cassandra upsert the reference
    declared).  Valid after at least one non-empty batch; empty frame
    with the operator's schema otherwise."""
    from real_time_financial_market_data_pipeline_spark.streaming.sinks import latest_state_on_read
    from real_time_financial_market_data_pipeline_spark.streaming.stateful import LATEST_OUTPUT_SCHEMA

    path = os.path.join(out_dir, "latest_prices")
    if not os.path.isdir(path):
        return spark.createDataFrame([], LATEST_OUTPUT_SCHEMA)
    # polling-reader posture (see best_quote_view): manifest-routed
    # construction, no retry caveat; superseded files a concurrent
    # deferred-retirement compaction removes mid-read are covered by
    # the snapshot this read retains
    return latest_state_on_read(read_update_sink(spark, path), ["symbol"])
