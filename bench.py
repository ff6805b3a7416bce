"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. The FINAL stdout line is the driver
contract JSON (round-20 VERDICT item 1 — the driver keeps only the last
~2000 chars of stdout and parses the last line):
{"metric": ..., "value": total_sec, "unit": "sec", ..., "queries": {...}, "sf": ...}
Two earlier lines carry the full payload (also persisted to
BENCH_local_r*.json) and the diagnostic digest.

Each query is timed over a full materialization (count of the result)
so the whole plan executes; the session is warmed up once first so JVM
startup isn't attributed to the first query.
"""

from __future__ import annotations

import json
import os
import time

from real_time_financial_market_data_pipeline_spark.serving.queries import QUERIES
from real_time_financial_market_data_pipeline_spark.session import get_spark

# Round each bench entry FIRST appeared in (round-8 VERDICT task 4):
# cross-round comparisons need the comparable subset — the sum over
# entries that already existed last round — computed IN the payload
# instead of by hand from old BENCH_r*.json files.  Unlisted entries
# default to CURRENT_ROUND (i.e. new, excluded from the comparable
# total).


def _derive_round() -> int:
    """The current round number, DERIVED rather than hand-bumped
    (round-12 VERDICT task 1: the hand-maintained constant silently
    stayed at 10 through round 11, mislabeling the digest, skipping the
    prev-round comparison, and clobbering the committed round-10 local
    payload).  Resolution order: the BENCH_ROUND env var if set, else
    max(N of committed BENCH_rNN.json) + 1 — the driver commits
    BENCH_r{N}.json at the END of round N, so during round N+1 the
    newest driver artifact is N."""
    env = os.environ.get("BENCH_ROUND", "")
    if env.isdigit():
        return int(env)
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


CURRENT_ROUND = _derive_round()
ENTRY_ROUNDS = {
    "asof_purchase_view": 1,
    "dedup_exact_docs": 1,
    "knn_bruteforce": 1,
    "latest_bars_per_symbol": 1,
    "latest_prices": 1,
    "minhash_near_dups": 1,
    "nation_revenue": 1,
    "ohlcv_1h": 1,
    "ohlcv_5m": 1,
    "pricing_summary": 1,
    "priority_count_returned": 1,
    "silver_trades": 1,
    "streaming_medallion_10batches": 1,
    "top_revenue_orders": 1,
    "volume_by_symbol_on_date": 1,
    "doc_profile": 2,
    "streaming_medallion_chained": 2,
    "knn_arrow_strategy": 3,
    "knn_jvm_strategy": 3,
    "latest_bars_bucketed_read": 3,
    "streaming_medallion_fanout": 3,
    "day_over_day_bucketed_read": 5,
    "day_over_day_volume": 5,
    "gold_read_120dirs_compacted": 5,
    "gold_read_120dirs_uncompacted": 5,
    "incremental_dedup_drain": 5,
    "incremental_dedup_first_batch": 5,
    "incremental_dedup_last_batch": 5,
    "streaming_quote_enrich": 5,
    "volume_by_symbol_bucketed_read": 5,
    "streamed_gold_bucketed_read": 6,
    "streamed_gold_publish_bucketed": 6,
    "latest_prices_bucketed_read": 7,
    "latest_prices_publish_bucketed": 7,
    "latest_prices_stream_drain": 7,
    "latest_prices_view_read": 7,
    "span_common": 7,
    "span_dedup_pairs": 7,
    "span_common_merged": 8,
    "span_excise_split": 8,
    "span_internal_excise": 8,
    "curated_pipeline_drain": 9,
    "curated_pipeline_finalize": 9,
    "curated_pipeline_delta_finalize": 10,
}

HEADLINE = [
    "silver_trades",
    "ohlcv_5m",
    "ohlcv_1h",
    "latest_prices",
    "latest_bars_per_symbol",
    "volume_by_symbol_on_date",
    "day_over_day_volume",  # recompute 'before' for day_over_day_bucketed_read
    "pricing_summary",
    "top_revenue_orders",
    "nation_revenue",
    "priority_count_returned",
    "asof_purchase_view",
    "doc_profile",  # superset of round-1's doc_stats (adds quality + langid columns)
    "dedup_exact_docs",
    "minhash_near_dups",
    "knn_bruteforce",
]


def bench_host_calibration(spark) -> float:
    """Host-speed calibration probe (round-14 VERDICT task 3): a FIXED
    synthetic shuffle+agg over generated data — no I/O, no repo code on
    the timed path — so round-over-round drift in this number measures
    the HOST (co-tenant load, CPU frequency, JVM luck), not the engine.
    Three consecutive rounds burned adjudication effort proving "host
    drift, not regression" by hand (r11-r13, each via same-box worktree
    A/B); the digest now carries this entry and a calibration-normalized
    delta so drift self-adjudicates.  8M rows -> 262k-key hash agg ->
    scalar re-agg, min of 3 after one untimed codegen warm run; ~0.8 s
    on an idle 32-thread host.  NOT part of any total."""
    from pyspark.sql import functions as F

    def run() -> None:
        (
            spark.range(0, 8_000_000, 1, 32)
            .select(
                (F.col("id") % 262_144).alias("k"),
                ((F.col("id") * 2654435761) % 1_000_033).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"), F.max("v").alias("m"))
            .agg(F.sum("s"), F.sum("c"), F.max("m"))
            .collect()
        )

    run()  # codegen/plan warm — untimed
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


_CAL_STREAM_WARMED = [False]


def bench_host_calibration_streaming(spark) -> float:
    """Streaming-flavored host-speed probe (round-16): a FIXED synthetic
    drain — 6 single-file json micro-batches through read_doc_stream →
    no-op foreachBatch, availableNow, fresh checkpoint — so it measures
    trigger dispatch, file listing, json parse, and checkpoint fsync
    overhead.  Round-16's interleaved worktree A/Bs PROVED the shuffle
    probe does not track this drift class: the box ran drains 15-20%
    slower than the r14/r15 committed-run conditions while the shuffle
    probe moved <5%, which pushed drift-regressed drains into the
    "robust" normalized list.  Streaming entries (names starting with
    `streaming_` or containing `drain`) are normalized against THIS
    probe once a prior round's sample exists (first active round: 17).
    Steady state ~1.4 s/drain on an idle 32-thread host, min of 2; the
    first call pays one extra discarded warm drain.  NOT part of any
    total."""
    import json as _json
    import shutil
    import tempfile

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream

    work = tempfile.mkdtemp(prefix="bench_calstream_")
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    try:
        for i in range(6):
            with open(os.path.join(feed, f"f{i}.json"), "w") as fh:
                for j in range(200):
                    fh.write(
                        _json.dumps(
                            {"doc_id": i * 200 + j,
                             "text": f"probe doc {i} {j} lorem ipsum"}
                        )
                        + "\n"
                    )
            time.sleep(0.02)  # distinct mtimes => deterministic order

        def drain(tag: str) -> float:
            t0 = time.perf_counter()
            q = (
                read_doc_stream(spark, feed, max_files_per_trigger=1)
                .writeStream.foreachBatch(lambda df, bid: df.count())
                .option("checkpointLocation", os.path.join(work, f"ck_{tag}"))
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(120):
                    raise TimeoutError(
                        "calibration drain did not finish in 120s"
                    )
            finally:
                # round-16 ADVICE: never leave a live query behind — the
                # outer finally rmtree's the source+checkpoint dirs, and
                # a still-running drain against deleted dirs sprays JVM
                # errors into subsequent probes/entries
                if q.isActive:
                    q.stop()
            return time.perf_counter() - t0

        if not _CAL_STREAM_WARMED[0]:
            drain("warm")  # codegen/source-init warm — discarded
            _CAL_STREAM_WARMED[0] = True
        return round(min(drain("a"), drain("b")), 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize_calibration(samples: list[float]) -> dict | None:
    """The payload shape both probes share: samples + median/min/max/
    spread (mean kept for pre-r16 digest compatibility)."""
    if not samples:
        return None
    s = sorted(samples)
    n = len(s)
    med = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    return {
        "samples": samples,
        "n_samples": n,
        "median_s": round(med, 3),
        "min_s": s[0],
        "max_s": s[-1],
        "spread_ratio": round(s[-1] / s[0], 3) if s[0] > 0 else None,
        "start_s": samples[0],
        "end_s": samples[-1],
        "mean_s": round(sum(s) / n, 3),
    }


# The driver captures only the LAST ~2000 chars of stdout (measured:
# the r20 BENCH record's tail field is exactly 2000 chars, which cut
# the full-payload line down to its final 221 chars and left the
# driver's PERF comparator with zero per-query data — r20 VERDICT
# item 1).  The FINAL printed line must therefore (a) carry the
# per-query timings map and (b) fit the tail window whole.
FINAL_LINE_BUDGET = 1990

# Scalars the final line carries besides the driver contract, in
# drop-first order under budget pressure (least critical first —
# everything here also appears in the penultimate diagnostic digest
# and in the durable BENCH_local payload, so a drop loses nothing).
_FINAL_OPTIONAL_KEYS = [
    "streaming_calibration_spread_ratio",
    "calibration_spread_ratio",
    "prev_streaming_calibration_s",
    "streaming_calibration_ratio",
    "streaming_calibration_s",
    "full_payload",
    "prev_calibration_s",
    "calibration_s",
    "total_normalized",
    "calibration_ratio",
    "n_errors",
    "n_entries",
    "prev_round",
    "prev_total",
    "comparable_total",
]


def build_final_line(
    timings: dict,
    sf_val,
    digest: dict,
    budget: int = FINAL_LINE_BUDGET,
) -> str:
    """Assemble the LAST stdout line: the driver bench contract
    (metric/value/unit/queries/sf) plus compact cross-round scalars,
    serialized with compact separators and guaranteed to fit `budget`.

    Under budget pressure (more entries in future rounds), optional
    scalars are dropped first (in _FINAL_OPTIONAL_KEYS order), then
    query timings are re-rounded to 2 decimals, then trailing `queries`
    entries are dropped into an `_elided` count until the line fits;
    `queries`, `sf` and the metric/value/unit trio are never dropped.
    The full-precision payload is always available in
    BENCH_local_r*.json."""
    line_obj = {
        "metric": "headline_queries_total",
        "value": digest.get("total"),
        "unit": "sec",
        "bench_digest": True,
        "bench_round": digest.get("bench_round"),
    }
    for k in reversed(_FINAL_OPTIONAL_KEYS):
        if k in digest:
            line_obj[k] = digest[k]
    line_obj["queries"] = timings
    line_obj["sf"] = sf_val
    dump = lambda o: json.dumps(o, separators=(",", ":"))  # noqa: E731
    line = dump(line_obj)
    for k in _FINAL_OPTIONAL_KEYS:
        if len(line) <= budget:
            break
        if k in line_obj:
            del line_obj[k]
            line = dump(line_obj)
    if len(line) > budget:
        rounded = [(n, round(t, 2)) for n, t in timings.items()]
        line_obj["queries"] = dict(rounded)
        line = dump(line_obj)
        while len(line) > budget and rounded:
            rounded.pop()
            line_obj["queries"] = dict(rounded)
            line_obj["_elided"] = len(timings) - len(rounded)
            line = dump(line_obj)
    return line


def is_streaming_entry(name: str) -> bool:
    """Entries normalized by the streaming probe: trigger-driven drains
    (micro-batch dispatch dominates their profile), not batch OPTIMIZE
    passes like the finalizes (those are join/write-bound and track the
    CPU probe better)."""
    return name.startswith("streaming_") or "drain" in name


def needs_third_rep(
    drain_samples: list[float],
    probe_samples: list[float] | None = None,
    disagree_ratio: float = 1.5,
    probe_burst_ratio: float = 2.0,
) -> str:
    """Adaptive third-rep trigger for drain-class min-of-2 entries
    (round-17 VERDICT task 3).  Round 16's driver run proved min-of-2
    is not burst-proof: a co-tenant burst spanning BOTH reps published
    24.57 s for streaming_medallion_10batches while four independent
    runs of the same HEAD measured 8-13 s.  A third rep fires when

    (a) the two drain samples disagree by >disagree_ratio — a burst
        landed on exactly one rep, so the min may still be inflated if
        the "clean" rep caught the burst's tail; or
    (b) the latest (adjacent) streaming-probe sample exceeds
        probe_burst_ratio x the SMALLEST probe sample of the run so
        far — the probe caught a burst in the same window the drains
        run in, so a burst long enough to span both reps (which would
        NOT trip (a): both samples agree, both inflated) is plausible.

    (b) baselines on the min of the samples so far, not their median:
    at drain time only 2 of the run's 3 streaming probes exist, and a
    two-sample median is itself contaminated when one sample IS the
    burst — the r16 driver run's probes were [1.311, 3.803]: min-based
    3.803 > 2x1.311 fires, median-based 3.803 > 2x2.557 would not.

    Bounded cost: worst case one extra drain per min-of-2 entry (~30-60
    s across the four drain entries) against the ~280 s headroom the
    r16 builder measured vs the driver's budget.

    Returns the trigger name ("disagree" / "probe_burst", recorded in
    the digest so the adjudicator knows WHY the rep fired) or "" when
    min-of-2 stands.  Unit-pinned in tests/test_bench_digest.py."""
    if len(drain_samples) >= 2:
        lo = min(drain_samples)
        if lo > 0 and max(drain_samples) / lo > disagree_ratio:
            return "disagree"
    if probe_samples and len(probe_samples) >= 2:
        base = min(probe_samples)
        if base > 0 and probe_samples[-1] > probe_burst_ratio * base:
            return "probe_burst"
    return ""


def needs_batch_third_rep(best: float, prev_val, threshold: float = 1.25) -> str:
    """Adaptive third-rep trigger for BATCH min-of-2 entries (round-18):
    the drain-class trigger (needs_third_rep) left the HEADLINE/batch
    entries unprotected, and the r18 canonical-run adjudication showed
    the failure mode live — five runs at byte-identical code each
    caught a burst spanning BOTH reps of a different min-of-2 entry
    (knn_bruteforce 1.378 vs 0.685-0.962 elsewhere; minhash_near_dups
    1.138 vs 0.683-0.870), each costing a round-boundary exoneration.
    When the min-of-2 result still exceeds the previous canonical
    payload's value by >threshold, ONE extra rep runs: a burst that
    inflated both reps gets a third chance to miss it, while a genuine
    code regression stays slow on all three and reports unchanged.
    Only fires with a same-sf prior value (pick_prev_payload), so a
    debugging run at another SF never triggers retries.  Bounded cost:
    one extra rep per regressed entry (~0.2-2.5 s each, only on the
    few entries a burst actually hit).  Returns the trigger name for
    the digest ("regressed_vs_prev") or "".  Non-numeric prior values
    (round-18 ADVICE: a hand-edited payload or a future nested record)
    must not raise inside _min_of_2 — they mean "no usable prior", the
    same as None.  bool is excluded explicitly: JSON true would
    otherwise compare as 1.0.  Unit-pinned in
    tests/test_bench_digest.py."""
    if (
        isinstance(prev_val, (int, float))
        and not isinstance(prev_val, bool)
        and prev_val > 0.05
        and best > prev_val * threshold
    ):
        return "regressed_vs_prev"
    return ""


def pick_prev_payload(paths: list, current_sf) -> dict:
    """Latest prior-round durable payload measured at the SAME scale
    factor (round-18): the digest's regression lists compare this run's
    timings against the previous payload, and a debugging run at a
    different SF (e.g. a quick sf0.01 smoke) left on disk would
    otherwise silently become the baseline — every entry would read as
    a 10x regression or win.  `paths` is sorted ascending by round;
    payloads that fail to load or carry a different `sf` are skipped.
    Unit-pinned in tests/test_bench_digest.py."""
    import json as _json

    for p in reversed(paths):
        try:
            with open(p) as fh:
                cand = _json.load(fh)
        except Exception:  # noqa: BLE001
            continue
        if cand.get("sf") == current_sf:
            return cand
    return {}


def drain_min_adaptive(
    name: str,
    run_once,
    probe_samples: list,
    third_reps: dict,
    refresh_probe,
    key=lambda r: r[0],
):
    """Min-of-2 with the adaptive third rep for drain-class entries
    (round-17, trigger rule in needs_third_rep), factored to module
    level in round-18 so the probe-refresh behavior is unit-pinnable.

    Round-18 ADVICE: the probe sample that fired condition (b)
    (probe_burst) is otherwise static for the rest of the run, so one
    burst would charge a third rep to EVERY later drain entry even
    after the burst ended.  After a probe_burst-triggered rep,
    refresh_probe() takes a fresh adjacent sample so later entries
    adjudicate the CURRENT window (~3 s, only paid when a
    burst-triggered rep already fired).  A "disagree"-triggered rep
    does NOT refresh — that trigger is about the drain samples
    themselves, not the probe window.  Unit-pinned in
    tests/test_bench_digest.py."""
    runs = [run_once(), run_once()]
    why = needs_third_rep([key(r) for r in runs], probe_samples)
    if why:
        third_reps[name] = why
        runs.append(run_once())
        if why == "probe_burst":
            refresh_probe()
    return min(runs, key=key)


def bench_bucketed_serving(spark, sf_dir: str) -> dict[str, float]:
    """Round-2/3 VERDICT before/after: the serving queries that cluster
    on symbol — Q5 (latest 50 bars), Q6/Q7 (volume/trade_count by
    symbol) and day-over-day volume — served off the bucketBy(symbol)/
    sortBy(window_start) gold layout, zero Exchange at read time
    (plan-asserted in tests/test_materialize.py).  The materialization
    itself is NOT timed (it is the write-once shuffle the layout
    amortizes); the 'before' for each is the corresponding headline
    entry, which recomputes gold and shuffles per query."""
    import shutil
    import tempfile

    from real_time_financial_market_data_pipeline_spark.pipeline.materialize import (
        day_over_day_from_bucketed,
        latest_bars_from_bucketed,
        materialize_gold_bucketed,
        volume_by_symbol_from_bucketed,
    )
    from real_time_financial_market_data_pipeline_spark.serving.queries import REF_DATE, _gold_5m

    work = tempfile.mkdtemp(prefix="bench_bucketed_")
    table = "bench_gold_5m_bucketed"
    out: dict[str, float] = {}
    try:
        materialize_gold_bucketed(
            spark, _gold_5m(spark, sf_dir), table, n_buckets=8,
            path=os.path.join(work, "gold"),
        )
        reads = {
            "latest_bars_bucketed_read": lambda: latest_bars_from_bucketed(spark, table),
            "volume_by_symbol_bucketed_read": lambda: volume_by_symbol_from_bucketed(
                spark, table, REF_DATE
            ),
            "day_over_day_bucketed_read": lambda: day_over_day_from_bucketed(spark, table),
        }
        for name, mk in reads.items():
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                mk().count()
                best = min(best, time.perf_counter() - t0)
            out[name] = round(best, 3)
        return out
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)


def _batch_durations_s(mgr) -> list[float]:
    """Per-micro-batch durations (seconds) across every query in the
    manager, data-carrying batches only.  BASELINE's envelope is
    per-batch (<10 s trigger), so the bench reports the distribution,
    not just the total drain — a total hides a straggler batch."""
    durs = []
    for q in mgr.queries.values():
        for p in q.recentProgress:
            ms = p.get("batchDuration")
            if ms is not None and p.get("numInputRows", 0) > 0:
                durs.append(ms / 1000.0)
    return durs


def bench_streaming_medallion(
    spark, sf_dir: str, chained: bool = True, batched: bool = True
) -> tuple[float, int, list[float]]:
    """End-to-end streaming envelope (BASELINE.md protocol): the events
    table replayed as a JSON trade feed through parse → validate → dedup
    → OHLCV 5m/1h → parquet sinks, the feed split into 10 files drained
    as 10 source micro-batches.  Returns (drain seconds, silver rows,
    per-batch durations).

    chained=True (the default topology) scans the source ONCE — silver
    streams the bronze table, gold streams silver.  chained=False is the
    fan-out comparison point: every sink re-reads the source (5 scans),
    the shape that dies first on a 100 TB topic."""
    import shutil
    import tempfile

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_trade_stream
    from real_time_financial_market_data_pipeline_spark.streaming.jobs import MedallionStreamJob
    from real_time_financial_market_data_pipeline_spark.tables import load_table, trades_from_events

    work = tempfile.mkdtemp(prefix="bench_stream_")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "out")
    try:
        # Feed prep (not timed): wire-format JSON in 10 EVENT-TIME-ORDERED
        # chunks, written oldest-first (the file source processes oldest
        # mod-time first) — the shape a real Kafka replay delivers
        # (per-partition append order ≈ event-time order).  A randomly
        # ordered feed would be silently DECIMATED: batch 0 advances the
        # watermark to ~max(event_time)-10min and the stateful dedup +
        # windowed aggs drop nearly every later batch's rows as late.
        trades = trades_from_events(load_table(spark, sf_dir, "events"))
        wire = trades.selectExpr(
            "symbol AS s", "price AS p", "volume AS v", "timestamp AS t"
        )
        cuts = wire.approxQuantile("t", [i / 10 for i in range(1, 10)], 0.001)
        lo = None
        for hi in [*cuts, None]:
            chunk = wire
            if lo is not None:
                chunk = chunk.filter(chunk.t >= lo)
            if hi is not None:
                chunk = chunk.filter(chunk.t < hi)
            chunk.coalesce(1).write.mode("append").json(feed)
            time.sleep(0.05)  # distinct mod-times => deterministic order
            lo = hi
        t0 = time.perf_counter()
        job = MedallionStreamJob(out_dir=out, trigger={"availableNow": True})
        stream = (
            read_trade_stream(spark, feed, max_files_per_trigger=1)
            if batched  # 10 micro-batches (steady-state simulation)
            else read_trade_stream(spark, feed)  # one-shot backfill drain
        )
        mgr = job.start(stream, chained=chained)
        mgr.await_all(timeout_s=600)
        drain = time.perf_counter() - t0
        durs = _batch_durations_s(mgr)
        n_silver = spark.read.parquet(os.path.join(out, "silver")).count()
        return round(drain, 3), n_silver, durs
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_streamed_gold_bucketed(spark, sf_dir: str) -> dict[str, float]:
    """Round-5 VERDICT task 4 evidence: gold built by the STREAMING
    medallion job, folded + published bucketed-by-symbol
    (MedallionStreamJob.publish_gold_bucketed), then Q5 served off the
    result — the same zero-Exchange read batch-materialized gold gets
    (bench_bucketed_serving), now available to streamed gold.  The drain
    itself is untimed here (streaming_medallion_* already bench it);
    timed are the one-off publish (fold + bucketed rewrite + table DDL)
    and the repeatable serving read it buys."""
    import shutil
    import tempfile

    from real_time_financial_market_data_pipeline_spark.pipeline.materialize import latest_bars_from_bucketed
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_trade_stream
    from real_time_financial_market_data_pipeline_spark.streaming.jobs import MedallionStreamJob
    from real_time_financial_market_data_pipeline_spark.tables import load_table, trades_from_events

    work = tempfile.mkdtemp(prefix="bench_sgold_")
    feed, out = os.path.join(work, "feed"), os.path.join(work, "out")
    table = "bench_streamed_gold_serving"
    try:
        trades = trades_from_events(load_table(spark, sf_dir, "events"))
        trades.selectExpr(
            "symbol AS s", "price AS p", "volume AS v", "timestamp AS t"
        ).coalesce(4).write.json(feed)
        job = MedallionStreamJob(out_dir=out, trigger={"availableNow": True})
        mgr = job.start(read_trade_stream(spark, feed))  # one-shot drain
        mgr.await_all(timeout_s=600)

        t0 = time.perf_counter()
        job.publish_gold_bucketed(spark, "gold_5m", table=table, n_buckets=8)
        publish_s = round(time.perf_counter() - t0, 3)

        served = latest_bars_from_bucketed(spark, table)
        plan = served._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise RuntimeError("streamed bucketed serving plan regressed: Exchange present")
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            latest_bars_from_bucketed(spark, table).count()
            best = min(best, time.perf_counter() - t0)
        return {
            "streamed_gold_publish_bucketed": publish_s,
            "streamed_gold_bucketed_read": round(best, 3),
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)


def bench_latest_prices_bucketed(spark, sf_dir: str) -> dict[str, float]:
    """Round-6 VERDICT task 6 evidence: the latest_prices serving table
    streamed end-to-end (LatestPricesStreamJob drain), then folded +
    published bucketed-by-symbol (publish_bucketed) — the Q8 dashboard
    scan becomes a plain zero-Exchange table read instead of a
    latest_state_on_read shuffle per read.  Timed: the drain, the
    one-off publish, and both read paths (resolve-on-read vs bucketed
    table) so the serving speedup is visible in one place.

    Round-18 (VERDICT task 3): the drain was the bench's ONLY
    single-shot drain measurement, and the r17 adjudication flagged
    its 2.24-3.66 s cross-run band as the round's widest unexplained
    spread.  The controlled repetition experiment
    (scripts/latest_prices_experiment.py, fresh JVM, interleaved flat
    probes) classified it as FIRST-TOUCH, not drift: rep 1 pays 2.25x
    steady state (3.81 vs 1.67-1.71 s) and rep 2 still 1.34x (2.24),
    because this job is the run's only applyInPandasWithState path —
    the Python worker pool + Arrow state serde spin-up lands entirely
    on it.  The drain now runs one UNTIMED warm rep then min-of-2
    timed reps (same protocol as every other drain entry), so the
    entry measures steady-state drain cost (~1.7 s at sf0.1).
    Methodology break vs r17's committed 2.724: do not credit the
    delta as a code win."""
    import shutil
    import tempfile

    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_trade_stream
    from real_time_financial_market_data_pipeline_spark.streaming.jobs import (
        LatestPricesStreamJob,
        latest_prices_view,
    )
    from real_time_financial_market_data_pipeline_spark.tables import load_table, trades_from_events

    work = tempfile.mkdtemp(prefix="bench_lprices_")
    feed = os.path.join(work, "feed")
    table = "bench_latest_prices_serving"
    try:
        trades = trades_from_events(load_table(spark, sf_dir, "events"))
        trades.selectExpr(
            "symbol AS s", "price AS p", "volume AS v", "timestamp AS t"
        ).coalesce(4).write.json(feed)
        drain_s = float("inf")
        for rep in range(3):  # rep 0 = untimed first-touch warm
            out = os.path.join(work, f"out{rep}")
            job = LatestPricesStreamJob(out_dir=out)
            t0 = time.perf_counter()
            mgr = job.start(read_trade_stream(spark, feed))
            mgr.await_all(timeout_s=600)
            if rep > 0:
                drain_s = min(drain_s, round(time.perf_counter() - t0, 3))
        # downstream serving measurements read the LAST rep's output
        # (all reps drain the identical feed, so the folded state is
        # identical)

        best_view = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            latest_prices_view(spark, out).count()
            best_view = min(best_view, time.perf_counter() - t0)

        t0 = time.perf_counter()
        job.publish_bucketed(spark, table=table)
        publish_s = round(time.perf_counter() - t0, 3)

        plan = spark.table(table)._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise RuntimeError("latest_prices bucketed serving plan regressed: Exchange present")
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spark.table(table).count()
            best = min(best, time.perf_counter() - t0)
        return {
            "latest_prices_stream_drain": drain_s,
            "latest_prices_view_read": round(best_view, 3),
            "latest_prices_publish_bucketed": publish_s,
            "latest_prices_bucketed_read": round(best, 3),
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)


def bench_compaction_read(spark, n_batches: int = 120) -> dict[str, float]:
    """Read-side win of gold auto-compaction (round-3/4 VERDICT task:
    'bench shows bounded read time').  Simulates an update-mode gold
    sink that ran n_batches micro-batches (one batch_id=<n> dir each —
    ~20 minutes of a 10 s trigger), times latest_state_on_read over the
    raw layout, compacts, re-times.  The uncompacted cost is dominated
    by file listing + per-dir footer reads and grows linearly with
    stream lifetime; compacted cost is O(1) in batches-ever-run."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from real_time_financial_market_data_pipeline_spark.streaming.sinks import (
        compact_latest_state,
        latest_state_on_read,
        read_update_sink,
    )

    work = tempfile.mkdtemp(prefix="bench_compact_")
    path = os.path.join(work, "gold")
    try:
        bars = spark.range(200).select(
            F.concat(F.lit("S"), (F.col("id") % 20).cast("string")).alias("symbol"),
            (F.col("id") * 300).cast("string").alias("window_start"),
            (F.col("id").cast("double") / 7).alias("close"),
        )
        for b in range(n_batches):
            bars.withColumn("close", F.col("close") + b).coalesce(1).write.parquet(
                os.path.join(path, f"batch_id={b}")
            )
        keys = ["symbol", "window_start"]

        def read_time() -> float:
            # the production read path (round 13): manifest-routed when a
            # compaction has written _reader_manifest.json (one GET names
            # the live dir set), plain listing fallback before that — so
            # the uncompacted number is the listing cost and the
            # compacted number includes the manifest routing.
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                latest_state_on_read(read_update_sink(spark, path), keys).count()
                best = min(best, time.perf_counter() - t0)
            return round(best, 3)

        uncompacted = read_time()
        compact_latest_state(spark, path, keys)
        return {
            f"gold_read_{n_batches}dirs_uncompacted": uncompacted,
            f"gold_read_{n_batches}dirs_compacted": read_time(),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_quote_enrich(spark, sf_dir: str) -> tuple[float, int, list[float]]:
    """QuoteEnrichJob end-to-end drain (round-3 VERDICT task 4): the
    events table split into a trade feed (odd event_ids) and a quote
    feed (even event_ids, bid/ask = value -/+ 0.05 — the same fixture
    the oracle-backed best_quote_per_trade batch twin uses), each
    written as 5 event-time-ordered chunks and drained availableNow
    through the interval join + best-quote layers.  Returns (drain
    seconds, best_quote resolved rows, per-batch durations)."""
    import shutil
    import tempfile

    from real_time_financial_market_data_pipeline_spark.sources.streaming import (
        read_quote_stream,
        read_trade_stream,
    )
    from real_time_financial_market_data_pipeline_spark.streaming.jobs import QuoteEnrichJob, best_quote_view
    from real_time_financial_market_data_pipeline_spark.tables import load_table
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="bench_quotes_")
    tfeed, qfeed = os.path.join(work, "trades"), os.path.join(work, "quotes")
    out = os.path.join(work, "out")
    try:
        ev = load_table(spark, sf_dir, "events")
        trades_wire = ev.filter(F.col("event_id") % 2 == 1).select(
            F.col("event_type").alias("s"),
            F.col("value").alias("p"),
            F.get_json_object("props", "$.k").cast("long").alias("v"),
            F.unix_millis("ts").alias("t"),
        )
        quotes_wire = ev.filter(F.col("event_id") % 2 == 0).select(
            F.col("event_type").alias("symbol"),
            (F.col("value") - 0.05).alias("bid_price"),
            F.lit(100).alias("bid_size"),
            (F.col("value") + 0.05).alias("ask_price"),
            F.lit(100).alias("ask_size"),
            F.unix_millis("ts").alias("timestamp"),
        )
        # event-time-ordered chunks, oldest first (see
        # bench_streaming_medallion for why order matters under watermarks)
        cuts = trades_wire.approxQuantile("t", [i / 5 for i in range(1, 5)], 0.001)
        for wire, feed, tcol in [(trades_wire, tfeed, "t"), (quotes_wire, qfeed, "timestamp")]:
            lo = None
            for hi in [*cuts, None]:
                chunk = wire
                if lo is not None:
                    chunk = chunk.filter(F.col(tcol) >= lo)
                if hi is not None:
                    chunk = chunk.filter(F.col(tcol) < hi)
                chunk.coalesce(1).write.mode("append").json(feed)
                time.sleep(0.05)
                lo = hi
        t0 = time.perf_counter()
        job = QuoteEnrichJob(out_dir=out, trigger={"availableNow": True})
        mgr = job.start(
            read_trade_stream(spark, tfeed, max_files_per_trigger=1),
            read_quote_stream(spark, qfeed, max_files_per_trigger=1),
        )
        mgr.await_all(timeout_s=600)
        drain = time.perf_counter() - t0
        durs = _batch_durations_s(mgr)
        n_best = best_quote_view(spark, out).count()
        return round(drain, 3), n_best, durs
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_incremental_dedup(spark, sf_dir: str, n_batches: int = 10) -> dict[str, float]:
    """Incremental corpus dedup drain: the documents table replayed as
    n_batches micro-batches through IncrementalDedupJob (exact +
    LSH-index near-dup against the ACCUMULATED corpus).  The claim under
    test is that per-batch cost stays flat as the corpus/index grows
    (band equi-joins against bounded buckets + column-pruned fingerprint
    scans — nothing linear-in-corpus inside a batch beyond the pruned
    scans); first vs last batch duration is the evidence."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import IncrementalDedupJob, corpus_view
    from real_time_financial_market_data_pipeline_spark.tables import load_table

    work = tempfile.mkdtemp(prefix="bench_incr_")
    feed, out = os.path.join(work, "feed"), os.path.join(work, "out")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        per = max(1, n_docs // n_batches)
        for i in range(n_batches):
            chunk = docs.filter(
                (F.col("doc_id") >= i * per)
                & (F.col("doc_id") < ((i + 1) * per if i < n_batches - 1 else n_docs))
            )
            chunk.coalesce(1).write.mode("append").json(feed)
            time.sleep(0.05)  # distinct mod-times => deterministic order
        t0 = time.perf_counter()
        job = IncrementalDedupJob(out_dir=out)
        q = job.start(read_doc_stream(spark, feed, max_files_per_trigger=1))
        if not q.awaitTermination(600):
            raise TimeoutError("incremental dedup drain did not finish in 600s")
        drain = round(time.perf_counter() - t0, 3)
        durs = [
            p["batchDuration"] / 1000.0
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        corpus_view(spark, out).count()  # sanity: corpus readable
        out_stats = {"incremental_dedup_drain": drain}
        if len(durs) >= 2:
            out_stats["incremental_dedup_first_batch"] = round(durs[0], 3)
            out_stats["incremental_dedup_last_batch"] = round(durs[-1], 3)
        return out_stats
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_curated_pipeline(spark, sf_dir: str, n_batches: int = 10) -> dict[str, float]:
    """The round-9 composed curation flow end-to-end: documents replayed
    as micro-batches through CuratedCorpusPipeline (within-doc repair →
    surgical benchmark decontam w/ splice verify → exact+near dedup vs
    the incremental index → span-fp index, compact_every=4), then the
    stream-stopped finalize (split-mode cross-doc excision off the
    index → quality gate → PII redact → split).  Two timings: the
    streaming drain and the finalize OPTIMIZE pass.  The benchmark set
    is the first 5 documents — their windows get excised at ingest, so
    the decontamination join does real work."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from real_time_financial_market_data_pipeline_spark.sources.streaming import read_doc_stream
    from real_time_financial_market_data_pipeline_spark.streaming.curation import CuratedCorpusPipeline, curated_view
    from real_time_financial_market_data_pipeline_spark.streaming.incremental import build_benchmark_span_index
    from real_time_financial_market_data_pipeline_spark.tables import load_table

    work = tempfile.mkdtemp(prefix="bench_cur_")
    feed, out = os.path.join(work, "feed"), os.path.join(work, "out")
    bench_dir = os.path.join(work, "bench_fp")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        build_benchmark_span_index(docs.filter(F.col("doc_id") < 5), bench_dir, k=13)
        n_docs = docs.count()
        per = max(1, n_docs // n_batches)
        for i in range(n_batches):
            chunk = docs.filter(
                (F.col("doc_id") >= i * per)
                & (F.col("doc_id") < ((i + 1) * per if i < n_batches - 1 else n_docs))
            )
            chunk.coalesce(1).write.mode("append").json(feed)
            time.sleep(0.05)
        pipe = CuratedCorpusPipeline(
            out_dir=out, benchmark_fp_dir=bench_dir, compact_every=4
        )
        t0 = time.perf_counter()
        q = pipe.start(read_doc_stream(spark, feed, max_files_per_trigger=1))
        # fail loudly on a drain timeout: finalize is a stream-stopped
        # pass — running it against a live stream would race the inline
        # compaction's stage/rmtree/rename protocol and time nonsense
        if not q.awaitTermination(600):
            raise TimeoutError("curated pipeline drain did not finish in 600s")
        drain = round(time.perf_counter() - t0, 3)
        t1 = time.perf_counter()
        pipe.finalize(spark)
        finalize = round(time.perf_counter() - t1, 3)
        curated_view(spark, out).count()  # sanity: output readable
        # round-10 incremental finalize: ingest a ~1-batch delta of
        # fresh docs, then time the DELTA cut (only the new docs and
        # any changed-span holders are re-curated; full-recompute
        # equality is test- and probe-certified elsewhere)
        docs.filter(F.col("doc_id") < per).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.concat(F.lit("deltadoc "), F.col("text")).alias("text"),
        ).coalesce(1).write.mode("append").json(feed)
        q = pipe.start(read_doc_stream(spark, feed, max_files_per_trigger=1))
        if not q.awaitTermination(600):
            raise TimeoutError("curated pipeline delta drain did not finish in 600s")
        t2 = time.perf_counter()
        pipe.finalize(spark)
        delta_finalize = round(time.perf_counter() - t2, 3)
        return {
            "curated_pipeline_drain": drain,
            "curated_pipeline_finalize": finalize,
            "curated_pipeline_delta_finalize": delta_finalize,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def classify_normalized(
    timings: dict[str, float],
    prev_q: dict[str, float],
    host_calibration: dict | None,
    prev_calibration: dict | None,
    threshold: float = 1.10,
    top: int = 5,
    streaming_calibration: dict | None = None,
    prev_streaming_calibration: dict | None = None,
    streaming=None,
) -> tuple[float | None, list | None, list[str]]:
    """Spread-aware calibration-normalized regression verdicts
    (round-14 VERDICT task 3, reworked per round-15 VERDICT task 2):
    divide this round's timings by the host-speed ratio vs the previous
    round's calibration before flagging regressions.  The ratio uses
    the MEDIAN of the interleaved probes, and a normalized regression
    is only reported when it is ROBUST across the whole observed probe
    range — i.e. the entry is still >threshold x prev even when
    normalized by the round's SLOWEST probe (the most charitable
    host-drift reading).  Entries whose verdict FLIPS across the probe
    range (regressed under the fastest probe, exonerated under the
    slowest) land in the third return value
    (normalized_verdict_unstable): the calibration cannot adjudicate
    them, which is precisely what round-15's two-end point ratio hid —
    it normalized the same code to 1.21x on one run and 0.93x on
    another because its own intra-day swing exceeded every delta it
    was asked to adjudicate.

    Per-class probes (round-16): when BOTH rounds carry a streaming
    calibration (`streaming_calibration` / `prev_streaming_calibration`,
    same payload shape), entries for which `streaming(name)` is true
    are normalized against the streaming probe's ratio range instead —
    the round-16 A/Bs proved drains drift ~15-20% while the shuffle
    probe moves <5%, so normalizing a drain by the shuffle probe
    produces exactly the false "robust regression" this function exists
    to prevent.  Entries fall back to the CPU probe when either side
    lacks the streaming sample (so round 16 itself, whose r15 baseline
    predates the probe, classifies exactly as before).

    Degenerate probes (round-16 ADVICE, low): a SINGLE-sample current
    probe has min==max==median, which would collapse the spread-aware
    check back to the round-15 point-ratio failure mode — a verdict
    that can never land in "unstable" no matter how drift-ambiguous
    the entry.  When the current-side payload has fewer than 2 samples
    the range is first widened to the PREVIOUS round's observed
    spread_ratio (the best available estimate of this host's
    intra-day swing) and classification proceeds normally — but only
    when that historical spread is itself meaningful (>= 1.05,
    round-18 ADVICE: a near-1.0 prior spread would collapse the
    widened range back to a point ratio); when the prior payload
    carries no usable spread, no robust verdict is
    emitted for that class at all and any entry regressed under
    EITHER the raw or the point-normalized reading routes to
    unstable.  A multi-sample probe whose samples happen to tie
    (min==max, n>=2) is NOT degenerate: that is an observed tight
    range from interleaved probes — the opposite of the one-probe
    blindness this guard exists for.

    Returns (cal_ratio, robust_regressions, unstable_names);
    (None, None, []) when either side lacks a calibration — with no
    prior probe, a normalized list would just duplicate the raw one
    while implying normalization happened (round-14 ADVICE, low).
    Unit-pinned in tests/test_bench_digest.py."""

    def _ratio_range(hc, prev_hc):
        prev_cal = (prev_hc or {}).get("median_s") or (prev_hc or {}).get(
            "mean_s"
        )
        cal_med = (hc or {}).get("median_s") or (hc or {}).get("mean_s")
        if not cal_med or not prev_cal or prev_cal <= 0:
            return None
        lo = (hc or {}).get("min_s") or cal_med
        hi = (hc or {}).get("max_s") or cal_med
        n = (hc or {}).get("n_samples")
        if n is None:
            n = len((hc or {}).get("samples") or []) or 1
        point_only = n < 2
        if point_only:
            # round-18 ADVICE: require a MEANINGFUL historical spread
            # before trusting the widened range — a near-1.0 prior
            # spread (e.g. 1.001) yields an essentially zero-width
            # synthetic range, which is the point-ratio failure mode
            # this widening exists to avoid.  Below the floor the entry
            # keeps unstable-only routing.
            hist = (prev_hc or {}).get("spread_ratio") or 0.0
            if hist >= 1.05:
                w = hist ** 0.5
                lo, hi = cal_med / w, cal_med * w
                point_only = False
        return (
            round(cal_med / prev_cal, 3),
            lo / prev_cal,
            hi / prev_cal,
            point_only,
        )

    cpu = _ratio_range(host_calibration, prev_calibration)
    if cpu is None:
        return None, None, []
    stream = _ratio_range(streaming_calibration, prev_streaming_calibration)
    streaming = streaming or is_streaming_entry
    robust, unstable = [], []
    for name, t in timings.items():
        if name not in prev_q or prev_q[name] <= 0.05:
            continue
        cal_ratio, ratio_lo, ratio_hi, point_only = (
            stream if (stream is not None and streaming(name)) else cpu
        )
        bar = prev_q[name] * threshold
        if point_only:
            # a point ratio cannot certify robustness: route anything
            # regressed under either reading to unstable
            if t > bar or t / cal_ratio > bar:
                unstable.append(name)
        elif t / ratio_hi > bar:  # regressed even at the slowest probe
            robust.append((name, prev_q[name], round(t / cal_ratio, 3)))
        elif t / ratio_lo > bar:  # verdict depends on probe choice
            unstable.append(name)
    robust = sorted(robust, key=lambda r: r[2] / r[1], reverse=True)[:top]
    return cpu[0], robust, unstable


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # Per-entry failure isolation (round-4 post-mortem: one broken query
    # aborted the whole run before a single timing was recorded, leaving
    # the round with zero perf signal).  Every timed section goes through
    # _guard: a failure records a one-line error under "errors" and the
    # run keeps going.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def _guard(name: str, fn) -> None:
        try:
            timings[name] = fn()
        except Exception as exc:  # noqa: BLE001 — bench must never abort
            errors[name] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
        # interleaved host-speed probe (defined below, resolved at call
        # time): fires after every ~10 recorded entries
        _maybe_probe()

    # previous canonical payload (same sf), loaded ONCE up front: the
    # batch third-rep trigger compares each min-of-2 result against it
    # at measure time, and the digest reuses it at the end
    repo_root = os.path.dirname(os.path.abspath(__file__))
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    try:
        import glob as _glob
        import re as _re

        _prior_paths = sorted(
            p
            for p in _glob.glob(os.path.join(repo_root, "BENCH_local_r*.json"))
            if (m := _re.search(r"BENCH_local_r(\d+)\.json$", p))
            and int(m.group(1)) < CURRENT_ROUND
        )
        prev_payload = pick_prev_payload(_prior_paths, sf_val)
    except Exception:  # noqa: BLE001 — bench must never abort
        prev_payload = {}
    prev_q_retry = prev_payload.get("queries", {})
    batch_third_reps: dict[str, dict] = {}

    def _min_of_2(fn, name: str | None = None) -> float:
        # two runs, min taken: first run pays plan compile/codegen, and
        # the min damps interference from co-tenant load on the host.
        # Round-18: when a name + same-sf prior value exist and the min
        # still reads >1.25x the prior, ONE extra rep fires
        # (needs_batch_third_rep) — a burst spanning both reps gets a
        # third chance to miss, a real regression stays slow on all 3.
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        if name:
            why = needs_batch_third_rep(best, prev_q_retry.get(name))
            if why:
                # round-18 ADVICE: record the pre-retry min alongside
                # the trigger so the adjudicator can see how much the
                # extra rep moved the entry (min-of-3 vs min-of-2 is a
                # small systematic downward bias on exactly the entries
                # that looked regressed — make it visible, not silent).
                # round-19 ADVICE: write the record BEFORE invoking the
                # retry — if the third rep raises, the entry lands in
                # errors via _guard but the fact a retry was attempted
                # stays visible here ("after" absent = retry died).
                rec = {"why": why, "before": round(best, 3)}
                batch_third_reps[name] = rec
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
                rec["after"] = round(best, 3)
        return round(best, 3)

    # warm up: JVM + parquet footer reads, not attributed to any query.
    # Round-17: also warm the trades/events path — a controlled
    # experiment (fresh JVM, flat CPU probes) showed the FIRST min-of-2
    # of ohlcv_5m runs ~1.7x its same-JVM steady state (1.807 vs
    # 0.98-1.10 s) because pricing_summary only touches lineitem, so
    # the first timed trades-path entries were paying first-touch
    # JIT/codegen/file-cache cost that read as an "early-window burst"
    # in 5 of round-17's 8 runs.  One untimed pass over the scan +
    # window-agg path (ohlcv_5m) and the parse/filter path
    # (silver_trades) makes the timed entries measure steady-state
    # query cost.  ~2.5 s extra untimed wall.
    for _warm in ("pricing_summary", "ohlcv_5m", "silver_trades"):
        try:
            QUERIES[_warm](spark, sf_dir).count()
        except Exception:
            pass

    # host-speed calibration, INTERLEAVED through the run (round-15
    # VERDICT task 2: the two-end mean's intra-day swing — 0.606-0.800 s
    # across round-15 runs, 1.32x — exceeded every delta it was asked to
    # adjudicate and normalized the same code to 1.21x on one run and
    # 0.93x on another).  A probe fires at the start, after every ~10
    # recorded entries, and at the end; the digest uses the MEDIAN and
    # carries the spread so a normalized verdict can be checked for
    # stability across the plausible calibration range.  NOT in
    # timings, so totals stay comparable with prior rounds.
    cal_samples: list[float] = []
    cal_stream_samples: list[float] = []
    _last_probe_at = [0]

    def _probe() -> None:
        try:
            cal_samples.append(bench_host_calibration(spark))
        except Exception as exc:  # noqa: BLE001
            errors.setdefault(
                "host_calibration",
                f"{type(exc).__name__}: {exc}".splitlines()[0][:500],
            )

    def _probe_stream() -> None:
        # streaming-flavored probe (round-16): 3 samples per run —
        # start, just before the streaming drains, end — each min-of-2
        # drains (~3 s); drains are normalized against THIS probe's
        # history, the shuffle probe provably does not track them
        try:
            cal_stream_samples.append(bench_host_calibration_streaming(spark))
        except Exception as exc:  # noqa: BLE001
            errors.setdefault(
                "host_calibration_streaming",
                f"{type(exc).__name__}: {exc}".splitlines()[0][:500],
            )

    def _maybe_probe() -> None:
        if len(timings) - _last_probe_at[0] >= 10:
            _last_probe_at[0] = len(timings)
            _probe()

    _probe()
    _probe_stream()

    for name in HEADLINE:
        _guard(name, lambda name=name: _min_of_2(
            lambda: QUERIES[name](spark, sf_dir).count(), name=name
        ))

    try:
        timings.update(bench_bucketed_serving(spark, sf_dir))
    except Exception as exc:  # noqa: BLE001
        errors["bucketed_serving"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
    _maybe_probe()

    # substring-span dedup (round 7): pair form capped + aggregate form
    from real_time_financial_market_data_pipeline_spark.operators.dedup import common_spans, repeated_span_pairs
    from real_time_financial_market_data_pipeline_spark.tables import load_table as _lt

    def _span_cold(fn):
        # MEASUREMENT FIX (round 21, disclosed in OPTIMIZATION_r21.md):
        # repeated_span_pairs now persists its fingerprint frame
        # internally; left to LRU, that cache would (a) make rep 2 of
        # its own min-of-2 a cache read and (b) leak into the LATER
        # span entries whose plans contain the same fingerprint subtree
        # (CacheManager substitution), breaking the family's mutual
        # independence.  Clearing at each rep start keeps every span
        # rep a cold operator measurement — the same basis every
        # pre-round-21 number was taken on (those operators cached
        # nothing, so their reps were cold by construction).
        spark.catalog.clearCache()
        return fn()

    _guard("span_dedup_pairs", lambda: _min_of_2(
        lambda: _span_cold(lambda: repeated_span_pairs(
            _lt(spark, sf_dir, "documents"), k=8, max_fp_docs=50
        ).count()), name="span_dedup_pairs"
    ))
    _guard("span_common", lambda: _min_of_2(
        lambda: _span_cold(lambda: common_spans(
            _lt(spark, sf_dir, "documents"), k=8, min_docs=2
        ).count()),
        name="span_common",
    ))
    # round 8: merged maximal blocks (same aggregate-only plan + one
    # run-merge) and the splice-safe split excision treatment end-to-end
    from real_time_financial_market_data_pipeline_spark.operators.dedup import (
        merged_common_spans,
        split_excise_common_spans,
    )

    _guard("span_common_merged", lambda: _min_of_2(
        lambda: _span_cold(lambda: merged_common_spans(
            _lt(spark, sf_dir, "documents"), k=8, min_docs=2
        ).count()), name="span_common_merged"
    ))
    _guard("span_excise_split", lambda: _min_of_2(
        lambda: _span_cold(lambda: split_excise_common_spans(
            _lt(spark, sf_dir, "documents").select("doc_id", "text"),
            common_spans(_lt(spark, sf_dir, "documents"), k=8, min_docs=2),
            k=8,
        ).count()), name="span_excise_split"
    ))
    from real_time_financial_market_data_pipeline_spark.operators.dedup import excise_internal_repeats

    _guard("span_internal_excise", lambda: _min_of_2(
        lambda: _span_cold(lambda: excise_internal_repeats(
            _lt(spark, sf_dir, "documents").select("doc_id", "text"), k=8
        ).agg({"excised_tokens": "sum"}).collect()), name="span_internal_excise"
    ))

    # per-strategy kNN split (round-2 VERDICT task 7): the knn_bruteforce
    # HEADLINE slot times BOTH strategies together (frozen for
    # round-over-round diffability); these secondary entries attribute
    # the time to the JVM expression form vs the Arrow/BLAS form
    from real_time_financial_market_data_pipeline_spark.operators.similarity import (
        brute_force_knn,
        brute_force_knn_arrow,
    )
    from real_time_financial_market_data_pipeline_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    knn_q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for label, fn in [("knn_jvm_strategy", brute_force_knn), ("knn_arrow_strategy", brute_force_knn_arrow)]:
        _guard(label, lambda fn=fn, label=label: _min_of_2(
            lambda: fn(emb, knn_q, k=10).count(), name=label
        ))

    # Drop persisted DataFrames left behind by the batch queries (the
    # minhash path persists its banded tables and leaves eviction to
    # LRU) so the streaming drains aren't measured under storage-memory
    # pressure from an unrelated query.
    spark.catalog.clearCache()
    _probe_stream()  # mid sample, adjacent to the drains it adjudicates

    # min-of-2 for the streaming drains too (fresh checkpoints each run) —
    # co-tenant load on this host can inflate a single drain 2-3x.
    # HEADLINE = chained (the default, single-source-scan topology);
    # fan-out kept as the secondary comparison entry.  Round-17: an
    # adaptive THIRD rep (needs_third_rep) fires when the two samples
    # disagree >1.5x or the adjacent streaming probe caught a burst —
    # r16's driver run showed a burst can span both reps of a min-of-2.
    third_reps: dict[str, str] = {}

    def _drain_min_adaptive(name: str, run_once, key=lambda r: r[0]):
        return drain_min_adaptive(
            name, run_once, cal_stream_samples, third_reps, _probe_stream,
            key=key,
        )

    best_chained = (None, 0, [])
    try:
        best_chained = _drain_min_adaptive(
            "streaming_medallion_10batches",
            lambda: bench_streaming_medallion(spark, sf_dir, chained=True),
        )
        timings["streaming_medallion_10batches"] = best_chained[0]
    except Exception as exc:  # noqa: BLE001
        errors["streaming_medallion_10batches"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
    _guard("streaming_medallion_fanout", lambda: _drain_min_adaptive(
        "streaming_medallion_fanout",
        lambda: bench_streaming_medallion(spark, sf_dir, chained=False),
    )[0])
    # one-shot backfill drain (no micro-batch splitting) — r02-comparable
    _guard("streaming_medallion_chained", lambda: _drain_min_adaptive(
        "streaming_medallion_chained",
        lambda: bench_streaming_medallion(spark, sf_dir, chained=True, batched=False),
    )[0])
    quote_batch_stats: dict = {"n": 0}
    try:
        best_quote_run = _drain_min_adaptive(
            "streaming_quote_enrich",
            lambda: bench_quote_enrich(spark, sf_dir),
        )
        timings["streaming_quote_enrich"] = best_quote_run[0]
        qdurs = sorted(best_quote_run[2])
        if qdurs:
            quote_batch_stats = {
                "n": len(qdurs),
                "min_s": round(qdurs[0], 3),
                "median_s": round(qdurs[len(qdurs) // 2], 3),
                "max_s": round(qdurs[-1], 3),
            }
    except Exception as exc:  # noqa: BLE001
        errors["streaming_quote_enrich"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
    _maybe_probe()
    try:
        timings.update(bench_compaction_read(spark))
    except Exception as exc:  # noqa: BLE001
        errors["compaction_read"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
    try:
        timings.update(bench_streamed_gold_bucketed(spark, sf_dir))
    except Exception as exc:  # noqa: BLE001
        errors["streamed_gold_bucketed"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
    try:
        timings.update(bench_latest_prices_bucketed(spark, sf_dir))
    except Exception as exc:  # noqa: BLE001
        errors["latest_prices_bucketed"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
    _maybe_probe()
    try:
        timings.update(bench_incremental_dedup(spark, sf_dir))
    except Exception as exc:  # noqa: BLE001
        errors["incremental_dedup"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
    _maybe_probe()
    try:
        timings.update(bench_curated_pipeline(spark, sf_dir))
    except Exception as exc:  # noqa: BLE001
        errors["curated_pipeline"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]

    _probe()  # closing probes, unconditional
    _probe_stream()
    # round-16: interleaved samples; MEDIAN is the calibration value
    # (robust to one co-tenant burst landing on a probe), min/max bound
    # the plausible range for the spread-aware normalized verdict.
    # mean_s kept for digest backward compatibility with r14/r15.
    host_calibration = summarize_calibration(cal_samples)
    host_calibration_streaming = summarize_calibration(cal_stream_samples)

    durs = sorted(best_chained[2])
    batch_stats = (
        {
            "n": len(durs),
            "min_s": round(durs[0], 3),
            "median_s": round(durs[len(durs) // 2], 3),
            "max_s": round(durs[-1], 3),
        }
        if durs
        else {"n": 0}
    )

    total = round(sum(timings.values()), 3)
    comparable = round(
        sum(
            t
            for name, t in timings.items()
            if ENTRY_ROUNDS.get(name, CURRENT_ROUND) < CURRENT_ROUND
        ),
        3,
    )
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # sum over entries that already existed before CURRENT_ROUND —
        # the number to diff against last round's comparable total
        # (new entries grow "value" by construction, not a regression)
        "headline_comparable_total": comparable,
        "bench_round": CURRENT_ROUND,
        "entry_rounds": {
            name: ENTRY_ROUNDS.get(name, CURRENT_ROUND) for name in timings
        },
        "queries": timings,
        "streaming_batches": batch_stats,
        "quote_enrich_batches": quote_batch_stats,
        # drain entries whose adaptive third rep fired (round-17):
        # non-empty means a burst was suspected during the min-of-2;
        # value = which trigger fired ("disagree" / "probe_burst")
        "drain_third_reps": dict(sorted(third_reps.items())),
        # batch min-of-2 entries whose retry-on-regression fired
        # (round-18, needs_batch_third_rep): the entry's first two reps
        # both read >1.25x the previous canonical value.
        # SCHEMA NOTE (r19): values changed from a bare trigger string
        # to {"why", "before", "after"} objects ("after" absent when
        # the retry rep raised); payloads from r18 and earlier carry
        # the string form — consumers must branch on value type.
        "batch_third_reps": dict(sorted(batch_third_reps.items())),
        "host_calibration": host_calibration,
        "host_calibration_streaming": host_calibration_streaming,
        "sf": sf_val,
    }
    if errors:
        payload["errors"] = errors
    print(json.dumps(payload))

    # Durable full payload (round-9 VERDICT task 1): the driver keeps
    # only the LAST 2000 chars of stdout, which truncated r9's 43-entry
    # payload mid-list.  Persist the complete payload beside the repo's
    # BENCH_r*.json records (committed each round) so every per-entry
    # timing survives regardless of capture windows.
    local_path = os.path.join(repo_root, f"BENCH_local_r{CURRENT_ROUND:02d}.json")
    try:
        with open(local_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError as exc:  # read-only checkout: digest still prints
        errors["bench_local_write"] = f"{type(exc).__name__}: {exc}"[:200]

    # Stop Spark BEFORE the digest line: JVM shutdown can spew stack
    # traces to stdout, and anything printed after the digest would push
    # it out of the driver's tail window.
    try:
        spark.stop()
    except Exception:  # noqa: BLE001
        pass

    # Final COMPACT digest line — small enough that ANY stdout tail
    # capture keeps it: totals, the worst regressions vs the previous
    # round's durable payload, this round's new entries, error count.
    # (prev_payload loaded once up front — same-sf guard via
    # pick_prev_payload — and shared with the batch third-rep trigger)
    prev = prev_payload
    prev_q = prev.get("queries", {})
    regressions = sorted(
        (
            (name, prev_q[name], t)
            for name, t in timings.items()
            if name in prev_q and prev_q[name] > 0.05 and t > prev_q[name] * 1.10
        ),
        key=lambda r: r[2] / r[1],
        reverse=True,
    )[:5]
    cal_ratio, regressions_norm, norm_unstable = classify_normalized(
        timings,
        prev_q,
        host_calibration,
        prev.get("host_calibration"),
        streaming_calibration=host_calibration_streaming,
        prev_streaming_calibration=prev.get("host_calibration_streaming"),
    )
    hc = host_calibration or {}
    shc = host_calibration_streaming or {}
    prev_shc = prev.get("host_calibration_streaming") or {}
    cal_mean = hc.get("median_s") or hc.get("mean_s")
    prev_cal = (prev.get("host_calibration") or {}).get("median_s") or (
        prev.get("host_calibration") or {}
    ).get("mean_s")
    stream_cal = shc.get("median_s")
    prev_stream_cal = prev_shc.get("median_s")
    digest = {
        "bench_digest": True,
        "bench_round": CURRENT_ROUND,
        "total": total,
        "comparable_total": comparable,
        "prev_total": prev.get("headline_comparable_total"),
        "prev_round": prev.get("bench_round"),
        "calibration_s": cal_mean,
        "prev_calibration_s": prev_cal,
        "calibration_ratio": cal_ratio,
        "calibration_n_samples": hc.get("n_samples"),
        "calibration_spread_ratio": hc.get("spread_ratio"),
        "streaming_calibration_s": stream_cal,
        "prev_streaming_calibration_s": prev_stream_cal,
        "streaming_calibration_ratio": (
            round(stream_cal / prev_stream_cal, 3)
            if stream_cal and prev_stream_cal
            else None
        ),
        "streaming_calibration_spread_ratio": shc.get("spread_ratio"),
        "total_normalized": round(total / cal_ratio, 3) if cal_ratio else None,
        "n_entries": len(timings),
        "n_errors": len(errors),
        "worst_regressions": [
            [n, p, c] for n, p, c in regressions
        ],
        "worst_regressions_normalized": (
            [[n, p, c] for n, p, c in regressions_norm]
            if regressions_norm is not None
            else None
        ),
        "normalized_verdict_unstable": (
            sorted(norm_unstable)[:8] if cal_ratio else None
        ),
        "drain_third_reps": dict(sorted(third_reps.items())),
        "batch_third_reps": dict(sorted(batch_third_reps.items())),
        "new_entries": {
            n: t
            for n, t in timings.items()
            if ENTRY_ROUNDS.get(n, CURRENT_ROUND) >= CURRENT_ROUND
        },
        "errors": sorted(errors)[:5],
        "full_payload": os.path.basename(local_path),
    }
    import sys

    sys.stdout.flush()
    print(json.dumps(digest))
    # FINAL line (round-20 VERDICT item 1): the driver's PERF comparator
    # reads the LAST JSON line of a ~2000-char stdout tail; it must carry
    # the per-query timings map and fit the window whole.  The diagnostic
    # digest above and the durable BENCH_local payload keep the fields
    # this compact line omits.
    print(build_final_line(timings, sf_val, digest))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
