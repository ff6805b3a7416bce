"""Streaming medallion tests: file-fed trade stream → bronze/silver/gold
parquet, golden OHLCV values (FIXTURES.md §4), exact-dup collapse, and
late-data drop past the watermark."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from real_time_financial_market_data_pipeline_spark.sources.streaming import read_trade_stream
from real_time_financial_market_data_pipeline_spark.streaming.jobs import MedallionStreamJob
from real_time_financial_market_data_pipeline_spark.streaming.sinks import latest_state_on_read

T0 = 1_700_000_100_000  # fixed epoch ms (2023-11-14 22:15:00 UTC)


def write_feed(dirpath: str, batches: list[list[dict]]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    for i, batch in enumerate(batches):
        with open(os.path.join(dirpath, f"batch_{i}.json"), "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")


@pytest.fixture()
def feed_and_out(tmp_path):
    return str(tmp_path / "feed"), str(tmp_path / "out")


def run_job(spark, feed_dir, out_dir, watermark="10 minutes"):
    trades = read_trade_stream(spark, feed_dir)
    job = MedallionStreamJob(out_dir=out_dir, watermark=watermark)
    mgr = job.start(trades)  # default topology = chained (one source scan)
    assert mgr.await_all(timeout_s=120)
    status = mgr.status()
    assert set(status) == {
        "chained_bronze",
        "chained_silver",
        "chained_gold_5m",
        "chained_gold_1h",
        "chained_dead_letters",
    }
    return job


def test_golden_ohlcv_and_dedup(spark, feed_and_out):
    feed_dir, out_dir = feed_and_out
    # FIXTURES.md §4 golden window: AAPL (150.25,100,T0) (150.30,50,T0+100)
    # (150.10,25,T0+200) → open=150.25 high=150.30 low=150.10 close=150.10
    # volume=175 trade_count=3 vwap≈150.242857
    write_feed(
        feed_dir,
        [
            [
                {"s": "AAPL", "p": 150.25, "v": 100, "t": T0, "c": ["1", "12"]},
                {"s": "AAPL", "p": 150.30, "v": 50, "t": T0 + 100, "c": ["1"]},
                {"s": "AAPL", "p": 150.10, "v": 25, "t": T0 + 200, "c": []},
                # exact duplicate (same symbol+timestamp) → must collapse
                {"s": "AAPL", "p": 150.10, "v": 25, "t": T0 + 200, "c": []},
                # invalid rows → silver-filtered
                {"s": "AAPL", "p": 0.0, "v": 10, "t": T0 + 300},
                {"s": "AAPL", "p": 150.0, "v": 0, "t": T0 + 400},
                # seconds-unit timestamp → normalized to ms (same instant
                # as T0+... integer seconds)
                {"s": "MSFT", "p": 380.0, "v": 200, "t": (T0 // 1000)},
            ]
        ],
    )
    run_job(spark, feed_dir, out_dir)

    bronze = spark.read.parquet(os.path.join(out_dir, "bronze"))
    assert bronze.count() == 7  # raw keeps everything
    assert {"processed_at", "processing_date", "source"} <= set(bronze.columns)

    silver = spark.read.parquet(os.path.join(out_dir, "silver"))
    rows = {(r["symbol"], r["timestamp"]) for r in silver.collect()}
    assert len(rows) == 4  # 3 AAPL distinct + 1 MSFT; dup + invalid gone
    msft = silver.filter(F.col("symbol") == "MSFT").collect()[0]
    assert msft["timestamp"] == (T0 // 1000) * 1000  # seconds→ms normalized

    gold_raw = spark.read.parquet(os.path.join(out_dir, "gold_5m"))
    gold = latest_state_on_read(gold_raw, ["symbol", "window_start"])
    aapl = {r["symbol"]: r for r in gold.collect()}["AAPL"]
    assert aapl["open"] == 150.25
    assert aapl["high"] == 150.30
    assert aapl["low"] == 150.10
    assert aapl["close"] == 150.10
    assert aapl["volume"] == 175
    assert aapl["trade_count"] == 3
    assert abs(aapl["vwap"] - (150.25 * 100 + 150.30 * 50 + 150.10 * 25) / 175) < 1e-9

    # the slow rollup aggregates the same rows at 1h granularity
    gold_1h = latest_state_on_read(
        spark.read.parquet(os.path.join(out_dir, "gold_1h")), ["symbol", "window_start"]
    )
    aapl_1h = {r["symbol"]: r for r in gold_1h.collect()}["AAPL"]
    assert aapl_1h["volume"] == 175 and aapl_1h["trade_count"] == 3


def test_crash_replay_is_idempotent(spark, feed_and_out):
    """Simulated crash-before-checkpoint: after the job completes, delete
    the newest commit marker from the silver checkpoint and restart —
    Structured Streaming re-runs that micro-batch, and the per-batch
    overwrite directory must absorb the replay without duplicating rows."""
    feed_dir, out_dir = feed_and_out
    write_feed(
        feed_dir,
        [[{"s": "AAPL", "p": 150.0, "v": 100, "t": T0 + i * 1000} for i in range(5)]],
    )
    run_job(spark, feed_dir, out_dir)
    silver_path = os.path.join(out_dir, "silver")
    before = spark.read.parquet(silver_path).count()
    assert before == 5

    commits_dir = os.path.join(out_dir, "_checkpoints", "chained_silver", "commits")
    commits = sorted(
        f for f in os.listdir(commits_dir) if not f.startswith(".")
    )
    os.remove(os.path.join(commits_dir, commits[-1]))  # crash before commit
    crc = os.path.join(commits_dir, f".{commits[-1]}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar
        os.remove(crc)

    run_job(spark, feed_dir, out_dir)  # restart → replays the batch
    after = spark.read.parquet(silver_path).count()
    assert after == before, f"replay duplicated rows: {before} -> {after}"


def test_exactly_once_across_mid_drain_crash_chained(spark, tmp_path):
    """Exactly-once for the FULL chained medallion across a forced
    mid-drain crash (round-2 VERDICT task 4): run the chained job over a
    prefix of the feed, tear off the newest commit marker from EVERY
    layer's checkpoint (crash after the batch's writes, before its
    commit — the worst replay point), add the rest of the feed, restart,
    and require bronze/silver/gold to equal an uninterrupted run
    bit-for-bit on their deterministic columns."""

    def feed_files():
        # three event-time-ordered chunks; values chosen so every 5m/1h
        # window boundary is crossed between chunks
        return [
            [
                {"s": "AAPL", "p": 150.0 + i, "v": 10 + i, "t": T0 + i * 60_000}
                for i in range(5)
            ],
            [
                {"s": "AAPL", "p": 161.0 + i, "v": 30 + i, "t": T0 + (5 + i) * 60_000}
                for i in range(5)
            ]
            + [{"s": "MSFT", "p": 380.5, "v": 7, "t": T0 + 9 * 60_000}],
            [
                {"s": "MSFT", "p": 381.0 + i, "v": 50 + i, "t": T0 + (10 + i) * 60_000}
                for i in range(5)
            ],
        ]

    def run_chained(feed_dir, out_dir):
        trades = read_trade_stream(spark, feed_dir, max_files_per_trigger=1)
        job = MedallionStreamJob(out_dir=out_dir)
        mgr = job.start(trades, chained=True)
        assert mgr.await_all(timeout_s=120)

    def table(out_dir, layer, keys=None):
        df = spark.read.parquet(os.path.join(out_dir, layer))
        if keys:  # update-mode gold layers resolve via upsert-on-read
            df = latest_state_on_read(df, keys)
        det = [
            c
            for c in df.columns
            if c not in {"processed_at", "processing_date", "batch_id", "source"}
        ]
        return sorted(tuple(r) for r in df.select(*sorted(det)).collect())

    # uninterrupted reference run over the full feed
    ref_feed, ref_out = str(tmp_path / "ref_feed"), str(tmp_path / "ref_out")
    write_feed(ref_feed, feed_files())
    run_chained(ref_feed, ref_out)

    # crash run: drain the 2-chunk prefix, tear every layer's newest
    # commit, then deliver the last chunk and restart
    feed_dir, out_dir = str(tmp_path / "crash_feed"), str(tmp_path / "crash_out")
    write_feed(feed_dir, feed_files()[:2])
    run_chained(feed_dir, out_dir)
    for layer in os.listdir(os.path.join(out_dir, "_checkpoints")):
        commits_dir = os.path.join(out_dir, "_checkpoints", layer, "commits")
        commits = sorted(f for f in os.listdir(commits_dir) if not f.startswith("."))
        os.remove(os.path.join(commits_dir, commits[-1]))
        crc = os.path.join(commits_dir, f".{commits[-1]}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    write_feed(feed_dir, feed_files())  # rewrites chunks 0/1, adds chunk 2
    run_chained(feed_dir, out_dir)

    for layer, keys in [
        ("bronze", None),
        ("silver", None),
        ("gold_5m", ["symbol", "window_start"]),
        ("gold_1h", ["symbol", "window_start"]),
    ]:
        assert table(out_dir, layer, keys) == table(ref_out, layer, keys), (
            f"{layer} diverged after mid-drain crash replay"
        )


def test_late_data_dropped_past_watermark(spark, feed_and_out):
    feed_dir, out_dir = feed_and_out
    # batch 0 advances the watermark to T0+30min-10min = T0+20min;
    # batch 1's row at T0 (30 min late) must be dropped from gold
    write_feed(
        feed_dir,
        [
            [{"s": "AAPL", "p": 150.0, "v": 100, "t": T0 + 30 * 60 * 1000}],
        ],
    )
    trades = read_trade_stream(spark, feed_dir, max_files_per_trigger=1)
    job = MedallionStreamJob(out_dir=out_dir, watermark="10 minutes",
                             trigger={"availableNow": True})
    mgr = job.start(trades)
    assert mgr.await_all(timeout_s=120)

    # second run: append a late file and restart from checkpoints —
    # watermark state persists across restarts
    write_feed(feed_dir, [[], [{"s": "AAPL", "p": 1.0, "v": 1, "t": T0}]])
    mgr2 = job.start(read_trade_stream(spark, feed_dir, max_files_per_trigger=1))
    assert mgr2.await_all(timeout_s=120)

    gold_raw = spark.read.parquet(os.path.join(out_dir, "gold_5m"))
    gold = latest_state_on_read(gold_raw, ["symbol", "window_start"])
    prices = {r["open"] for r in gold.collect()}
    assert 150.0 in prices
    assert 1.0 not in prices  # late row never produced a bar

    # ...but the late row still landed in bronze (raw layer keeps all)
    bronze = spark.read.parquet(os.path.join(out_dir, "bronze"))
    assert bronze.filter(F.col("price") == 1.0).count() == 1


def test_dead_letters_routed_not_silvered(spark, feed_and_out):
    """Invalid rows land in dead_letters with error labels and are
    absent from silver (streaming F4 — the reference's dead-letter topic
    fan-out, src/producer/pipeline.py:120-126)."""
    feed_dir, out_dir = feed_and_out
    write_feed(
        feed_dir,
        [
            [
                {"s": "AAPL", "p": 150.25, "v": 100, "t": T0},
                {"s": "AAPL", "p": 0.0, "v": 10, "t": T0 + 300},      # negative_price
                {"s": "MSFT", "p": 310.0, "v": 0, "t": T0 + 400},     # volume_zero
                {"s": "MSFT", "p": 311.0, "v": 20, "t": T0 + 500},
            ]
        ],
    )
    trades = read_trade_stream(spark, feed_dir)
    job = MedallionStreamJob(out_dir=out_dir)
    # fan-out mode explicitly — keeps the non-default topology covered
    mgr = job.start(trades, chained=False)
    assert mgr.await_all(timeout_s=120)
    assert set(mgr.status()) == {"bronze", "silver", "gold_5m", "gold_1h", "dead_letters"}

    dead = spark.read.parquet(os.path.join(out_dir, "dead_letters"))
    assert dead.count() == 2
    errs = {e for r in dead.select("errors").collect() for e in r["errors"]}
    assert errs == {"negative_price", "volume_zero"}
    # envelope carries the original row as JSON
    originals = [json.loads(r["original"]) for r in dead.select("original").collect()]
    assert {o["symbol"] for o in originals} == {"AAPL", "MSFT"}

    silver = spark.read.parquet(os.path.join(out_dir, "silver"))
    assert silver.count() == 2  # only the two valid trades
    assert silver.filter((F.col("price") <= 0) | (F.col("volume") <= 0)).count() == 0


def test_chained_drain_raises_when_dead_letter_layer_fails(spark, feed_and_out, monkeypatch):
    """A sequential chained drain awaits its dead-letter layer: a failure
    there is raised from start() instead of staying on the query handle."""
    from real_time_financial_market_data_pipeline_spark.streaming import jobs

    dead_letter_records = jobs.dead_letter_records
    monkeypatch.setattr(
        jobs,
        "dead_letter_records",
        lambda dead: dead_letter_records(dead).withColumn(
            "original", F.raise_error(F.lit("dead-letter layer failed")).cast("string")
        ),
    )
    feed_dir, out_dir = feed_and_out
    write_feed(
        feed_dir,
        [
            [
                {"s": "AAPL", "p": 150.25, "v": 100, "t": T0},
                {"s": "AAPL", "p": 0.0, "v": 10, "t": T0 + 300},  # invalid
            ]
        ],
    )
    try:
        with pytest.raises(Exception, match="dead-letter layer failed"):
            MedallionStreamJob(out_dir=out_dir).start(read_trade_stream(spark, feed_dir))
    finally:
        for q in spark.streams.active:
            q.stop()


def test_chained_medallion_single_source_read(spark, feed_and_out):
    """start_chained: silver reads the bronze TABLE and gold reads
    silver (one source scan total); layer contents match the fan-out
    contract — valid deduped silver, golden OHLCV bar values."""
    feed_dir, out_dir = feed_and_out
    write_feed(
        feed_dir,
        [
            [
                {"s": "AAPL", "p": 150.25, "v": 100, "t": T0},
                {"s": "AAPL", "p": 150.30, "v": 50, "t": T0 + 100},
                {"s": "AAPL", "p": 150.10, "v": 25, "t": T0 + 200},
                {"s": "AAPL", "p": 150.10, "v": 25, "t": T0 + 200},  # dup
                {"s": "AAPL", "p": 0.0, "v": 10, "t": T0 + 300},     # invalid
            ]
        ],
    )
    trades = read_trade_stream(spark, feed_dir)
    job = MedallionStreamJob(out_dir=out_dir)
    mgr = job.start(trades, chained=True)
    assert mgr.await_all(timeout_s=120)
    assert set(mgr.status()) == {
        "chained_bronze",
        "chained_silver",
        "chained_gold_5m",
        "chained_gold_1h",
        "chained_dead_letters",
    }

    assert spark.read.parquet(os.path.join(out_dir, "bronze")).count() == 5
    silver = spark.read.parquet(os.path.join(out_dir, "silver"))
    assert silver.count() == 3  # dup collapsed, invalid dead-lettered
    assert spark.read.parquet(os.path.join(out_dir, "dead_letters")).count() == 1

    gold = latest_state_on_read(
        spark.read.parquet(os.path.join(out_dir, "gold_5m")),
        ["symbol", "window_start"],
    )
    bar = gold.filter(F.col("symbol") == "AAPL").collect()[0]
    assert bar["open"] == 150.25 and bar["close"] == 150.10
    assert bar["high"] == 150.30 and bar["low"] == 150.10
    assert bar["volume"] == 175 and bar["trade_count"] == 3


def _batch_dirs(path: str) -> list[str]:
    import re

    return sorted(
        d for d in os.listdir(path) if re.fullmatch(r"batch_id=\d+", d)
    )


def test_availablenow_drain_autocompacts_gold(spark, feed_and_out):
    """Round-3/4 VERDICT task: compaction is wired into the job
    lifecycle, not just available as a utility.  A drained availableNow
    run must leave each gold layer folded to a single snapshot directory
    with values identical to resolve-on-read over the raw emissions."""
    feed_dir, out_dir = feed_and_out
    write_feed(
        feed_dir,
        [
            [{"s": "AAPL", "p": 150.0 + i, "v": 10, "t": T0 + i * 60_000}]
            for i in range(6)
        ],
    )
    trades = read_trade_stream(spark, feed_dir, max_files_per_trigger=1)
    job = MedallionStreamJob(out_dir=out_dir, compact_every=2)
    job.start(trades, chained=True)

    gold_dir = os.path.join(out_dir, "gold_5m")
    assert _batch_dirs(gold_dir) and len(_batch_dirs(gold_dir)) == 1
    gold = latest_state_on_read(
        spark.read.parquet(gold_dir), ["symbol", "window_start"]
    )
    # 6 trades, one per minute from T0 → spans two 5-minute windows; the
    # folded snapshot must hold the final bar state for both
    bars = {r["window_start"]: r for r in gold.collect()}
    assert len(bars) == 2
    assert sum(r["trade_count"] for r in bars.values()) == 6
    assert sum(r["volume"] for r in bars.values()) == 60


def test_inline_compaction_excludes_current_batch(spark, tmp_path):
    """compact_latest_state(only_below=N) — the inline foreachBatch form:
    dirs >= N are untouched (the current batch's replay contract), the
    fold is idempotent, and resolved values are unchanged."""
    from real_time_financial_market_data_pipeline_spark.streaming.sinks import compact_latest_state

    path = str(tmp_path / "gold")
    for b in range(5):
        spark.createDataFrame(
            [("AAPL", b, 100 + b)], "symbol string, seq int, close int"
        ).write.parquet(os.path.join(path, f"batch_id={b}"))

    folded = compact_latest_state(spark, path, ["symbol"], only_below=4)
    assert folded == 4
    assert _batch_dirs(path) == ["batch_id=3", "batch_id=4"]
    # replayed compaction (same bound) is a no-op: one dir below bound
    assert compact_latest_state(spark, path, ["symbol"], only_below=4) == 0
    resolved = latest_state_on_read(spark.read.parquet(path), ["symbol"])
    assert resolved.collect()[0]["close"] == 104  # latest batch wins


def test_checkpoint_restart_with_added_nullable_column(spark, feed_and_out):
    """Schema evolution across a checkpoint restart (round-3 VERDICT
    task 6): stop the chained medallion, upgrade the pipeline so the
    trade stream carries one extra nullable column, restart on the SAME
    checkpoints.  Expected (and asserted) behavior: clean continuation —
    the file source resumes from its offset log and processes only the
    new batch; the stateful dedup's state schema is key-only
    (symbol, timestamp) so the pass-through column doesn't touch it; the
    parquet file sink appends files with the wider schema; readers see
    the union schema with NULLs for pre-upgrade rows.  A column that
    changed a STATEFUL operator's state schema would instead fail
    loudly at restart with a state-schema-incompatibility error — that
    contract is Spark's, this test pins the benign-evolution half."""
    feed_dir, out_dir = feed_and_out
    write_feed(
        feed_dir,
        [[{"s": "AAPL", "p": 150.25, "v": 100, "t": T0}]],
    )
    run_job(spark, feed_dir, out_dir)  # v1 drain

    # upgrade: feed gains one batch; pipeline v2 stamps a feed version
    write_feed_at = os.path.join(feed_dir, "batch_late.json")
    with open(write_feed_at, "w") as f:
        f.write(json.dumps({"s": "AAPL", "p": 151.00, "v": 50, "t": T0 + 60_000}) + "\n")
    trades_v2 = read_trade_stream(spark, feed_dir).withColumn(
        "feed_version", F.lit("v2")
    )
    job = MedallionStreamJob(out_dir=out_dir)
    mgr = job.start(trades_v2)
    assert mgr.await_all(timeout_s=120)

    silver = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_dir, "silver")
    )
    assert "feed_version" in silver.columns
    rows = {r["timestamp"]: r["feed_version"] for r in silver.collect()}
    # only the new batch was reprocessed (offset log resumed), and only
    # it carries the new column — pre-upgrade rows read as NULL
    assert rows == {T0: None, T0 + 60_000: "v2"}


def test_inline_compaction_bounds_dirs_on_live_processing_time_stream(spark, feed_and_out):
    """Inline auto-compaction under a LIVE processingTime trigger (the
    24/7 deployment shape): with compact_every=4 over 12 micro-batches,
    the gold sink folds prior batch dirs mid-stream (no stop needed —
    foreachBatch serialization is the writer lock), so the directory
    count stays bounded well below batches-ever-run and resolve-on-read
    values are unaffected."""
    import re
    import time as _t

    feed_dir, out_dir = feed_and_out
    n_files = 12
    write_feed(
        feed_dir,
        [
            [{"s": "AAPL", "p": 150.0 + i, "v": 10, "t": T0 + i * 60_000}]
            for i in range(n_files)
        ],
    )
    # distinct ascending mod-times: the file source processes oldest
    # first; same-mtime files land in arbitrary order and the watermark
    # would drop the event-time-early ones as late
    base = _t.time() - n_files
    for i in range(n_files):
        p = os.path.join(feed_dir, f"batch_{i}.json")
        os.utime(p, (base + i, base + i))
    trades = read_trade_stream(spark, feed_dir, max_files_per_trigger=1)
    job = MedallionStreamJob(
        out_dir=out_dir,
        trigger={"processingTime": "1 second"},
        compact_every=4,
        gold_window_slow=None,
        dead_letters=False,
    )
    mgr = job.start(trades, chained=False)  # fan-out: gold consumes source directly
    try:
        gold_q = mgr.queries["gold_5m"]
        deadline = _t.monotonic() + 120
        while _t.monotonic() < deadline:
            progress = gold_q.recentProgress
            total_rows = sum(p["numInputRows"] for p in progress)
            # fully drained AND the newest trigger was idle — the last
            # data batch's foreachBatch write has committed before stop
            if total_rows >= n_files and progress and progress[-1]["numInputRows"] == 0:
                break
            _t.sleep(1)
    finally:
        mgr.stop_all()

    gold_dir = os.path.join(out_dir, "gold_5m")
    dirs = [d for d in os.listdir(gold_dir) if re.fullmatch(r"batch_id=\d+", d)]
    # 12 data batches ran; without inline folds there would be 12 dirs.
    # With compact_every=4 at most one folded snapshot + the batches
    # since the last fold (+1 in-flight) remain.
    assert 1 <= len(dirs) <= 6, sorted(dirs)
    gold = latest_state_on_read(
        spark.read.parquet(gold_dir), ["symbol", "window_start"]
    )
    bars = gold.collect()
    assert sum(r["trade_count"] for r in bars) == n_files
    assert sum(r["volume"] for r in bars) == n_files * 10
